"""Registration-free SQL for the md5-family MinHash pipeline: the
candidate CTE chain, the exact-verify stanza and the signature
agreement count (plus its Spark form). plans/dedup.py registers
queries at import time and several plan modules need this text, so
it lives here (the cross-module rule in plans/constants.py's
docstring applies to shared functions as it does to constants)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..dedup import minhash as mh
from .constants import (
    JACCARD_THRESHOLD,
    N_BANDS,
    N_PERM,
    ROWS_PER_BAND,
    SHINGLE_K,
)


def minhash_cand_ctes(
    src: str,
    downsample: int,
    lang: bool,
    prefix: str = "mh_",
    emit_cand: bool = True,
) -> str:
    """CTE chain restating the md5-family MinHash-LSH candidate
    generator over source relation ``src`` (doc_id[, lang], text):
    distinct shingles → md5-derived base hash (÷``downsample``
    winnowing) → 128 permutation mins → 16 concat_ws band keys →
    distinct a<b pairs sharing any (block, band, key) bucket.
    Bit-exact twin of ``minhash_signature_from_text`` +
    ``lsh_candidate_pairs`` with ``family='md5'`` (see
    ``dedup/minhash.py``: same u32-from-md5 base hash, same
    (a_i·h+b_i) mod P32 family, same decimal-joined band keys).
    Docs with no shingles are absent here but present (sentinel
    signature) in Spark — sentinel buckets contain only empty docs,
    whose pairs die at exact verification (0/0 Jaccard), so the
    verified output is engine-identical.

    ``prefix`` renames the CTEs (two chains can coexist in one
    oracle — the delta-probe query signatures a delta and a corpus
    side independently); ``emit_cand=False`` stops after
    ``{prefix}bands`` so the caller can write its own (possibly
    asymmetric) candidate join."""
    h = mh.md5_shingle_hash_sql("s")
    lang_sel = "lang, " if lang else ""
    lang_grp = ", lang" if lang else ""
    lang_join = "a.lang = b.lang AND " if lang else ""
    mins = ", ".join(f"{mh.perm_min_sql(i)} AS m{i}" for i in range(N_PERM))
    arms = []
    for b in range(N_BANDS):
        cols = ", ".join(f"m{b * ROWS_PER_BAND + j}" for j in range(ROWS_PER_BAND))
        arms.append(f"WHEN {b} THEN concat_ws(',', {cols})")
    band_key = "CASE b.band " + " ".join(arms) + " END"
    ds = f"WHERE h % {downsample} = 0" if downsample > 1 else ""
    p = prefix
    chain = f"""
    {p}sh AS (
        SELECT doc_id, {lang_sel}
               unnest(list_distinct([substring(text, x, {SHINGLE_K})
                      for x in generate_series(1, greatest(len(text) - {SHINGLE_K - 1}, 0))]))
               AS s
        FROM {src}
    ),
    {p}h AS (SELECT doc_id, {lang_sel} {h} AS h FROM {p}sh {ds}),
    {p}sigs AS (
        SELECT doc_id, {lang_sel} {mins} FROM {p}h GROUP BY doc_id{lang_grp}
    ),
    {p}bands AS (
        SELECT doc_id, {lang_sel} b.band, {band_key} AS band_key
        FROM {p}sigs, generate_series(0, {N_BANDS - 1}) AS b(band)
    )"""
    if not emit_cand:
        return chain
    return (
        chain
        + f""",
    {p}cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM {p}bands a JOIN {p}bands b
          ON {lang_join}a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )"""
    )


def verified_pairs_ctes(cand: str) -> str:
    """``fsh`` + ``pairs`` CTE pair: exact shingle-Jaccard
    verification (union>0 guard, 6dp round, >= JACCARD_THRESHOLD) of
    a (doc_a, doc_b) candidate CTE ``cand`` — the verify stanza
    shared by _clusters_walk_body and _dedup_cost_oracle so the
    formula cannot drift (the r9 _candidate_jaccard rule, SQL
    side)."""
    return f"""fsh AS (
        SELECT doc_id,
               list_distinct([substring(text, x, {SHINGLE_K})
                              for x in generate_series(1, greatest(len(text) - {SHINGLE_K - 1}, 0))])
               AS shingles
        FROM documents
    ),
    pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM {cand} c
        JOIN fsh a ON a.doc_id = c.doc_a
        JOIN fsh b ON b.doc_id = c.doc_b
        WHERE len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)) > 0
          AND round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                    / (len(a.shingles) + len(b.shingles)
                       - len(list_intersect(a.shingles, b.shingles))), 6)
              >= {JACCARD_THRESHOLD}
    )"""


def agreement_sql() -> str:
    """SQL count of the signature slots on which aliases ``sa`` and
    ``sb`` agree (columns m0..m{N_PERM-1}); ``agreement_col`` is the
    Spark form. Grouped in 8-term parenthesized chunks: a flat
    128-term ``+`` chain parses left-deep and trips DuckDB's 128-deep
    binder recursion limit; grouping caps the tree depth at ~24."""
    terms = [
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(N_PERM)
    ]
    return " + ".join(
        "(" + " + ".join(terms[g : g + 8]) + ")" for g in range(0, N_PERM, 8)
    )


def agreement_col() -> Column:
    """Count of equal slots between signature columns ``sig_a`` and
    ``sig_b``, as a ``zip_with``/``aggregate`` fold (interpreted, but
    it runs on candidate pairs only; a codegen'd 128-term sum measured
    2× slower, OPTIMIZATION_r13.md)."""
    return F.aggregate(
        F.zip_with(
            F.col("sig_a"), F.col("sig_b"), lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
