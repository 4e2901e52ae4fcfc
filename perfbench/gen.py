"""Seeded input generators for the benchmark.

Two table sets, one parquet file per table:

- ``warehouse_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that every registered query reads
  through ``sources.catalog`` (same column names and types as the
  engine's sf0.x test data), each in a ``<table>.parquet`` directory.
- ``shop_tables``: the reference's ``movie`` / ``review`` /
  ``order_info`` tables (CJK text, JSON ``information`` documents).

Everything is drawn from one ``numpy.random.Generator`` seeded by the
caller, so the same seed always writes byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the spark join hash row batch scan column customer filter small slow "
    "merge order vector line data table agg value key stream window part "
    "group big sort query fast"
).split()
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
COLORS = "blue red green black white small large tiny steel copper brass gold silver".split()
NOUNS = "anvil widget bolt ring gear spring valve".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_EPOCH = dt.datetime(1970, 1, 1)


def _us(day: dt.datetime) -> int:
    return int((day - _EPOCH).total_seconds()) * 1_000_000


def _days_us(rng, lo: dt.datetime, hi: dt.datetime, n: int) -> pa.Array:
    """Midnight timestamps drawn uniformly between ``lo`` and ``hi``."""
    days = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(_us(lo) + days * 86_400_000_000, pa.timestamp("us"))


def _write_dir(out_dir: str, name: str, columns: dict) -> None:
    """A ``<name>.parquet`` directory holding one part file, so
    file-stream sources read it in place."""
    path = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(columns), os.path.join(path, "part-00000.parquet"))


def _write_file(out_dir: str, name: str, columns: dict) -> None:
    """One parquet file plus the reference's load format (tab-delimited,
    no header, empty field for NULL)."""
    table = pa.table(columns)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    cols = [c.to_pylist() for c in table.columns]
    with open(os.path.join(out_dir, f"{name}.tsv"), "w", encoding="utf-8") as fh:
        for row in zip(*cols):
            fh.write("\t".join("" if v is None else str(v) for v in row) + "\n")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def warehouse_tables(out_dir: str, seed: int, sf: float = 0.01) -> None:
    """Write the ten catalog tables at scale ``sf`` (sf 0.01: 60k
    lineitem rows, 500 documents, 500 embeddings, 10k events)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(50_000 * sf)

    _write_dir(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write_dir(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write_dir(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write_dir(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    _write_dir(out_dir, "part", {
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(rng.choice(COLORS, n_part), " "),
                              rng.choice(NOUNS, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    _write_dir(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days_us(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    _write_dir(out_dir, "lineitem", {
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days_us(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_li)})

    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).cumsum()
    _write_dir(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(_us(dt.datetime(2024, 1, 1)) + gaps.astype(np.int64), pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})

    texts: list[str] = []
    for i in range(n_doc):
        # ~5% near-duplicates: an earlier document with " dup" appended
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    _write_dir(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write_dir(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


# CJK fragments for titles, reviews and summaries (the reference's data
# is predominantly Chinese; LIKE search must work on it).
CJK = list("电影故事人生希望爱情时间世界城市夜晚星空海洋山河朋友家庭战争和平英雄梦想自由青春记忆孤独旅行未来")
LATIN = "Hope River Night Star Ocean Dream Hero City Road Light".split()
GENRES = ["剧情", "喜剧", "动作", "爱情", "科幻", "犯罪", "悬疑", "动画"]
COUNTRIES = ["中国大陆", "美国", "日本", "法国", "英国"]


def _cjk(rng, n: int, lo: int, hi: int) -> list[str]:
    """``n`` CJK strings with lengths uniform in [lo, hi)."""
    lens = rng.integers(lo, hi, n)
    blob = "".join(np.array(CJK)[rng.integers(0, len(CJK), int(lens.sum()))])
    ends = np.cumsum(lens)
    return [blob[e - k:e] for e, k in zip(ends.tolist(), lens.tolist())]


def _information(rng, ids, names, price, ranking) -> list[str]:
    """One JSON ``information`` document per movie (FIXTURES.md §1)."""
    n = len(ids)
    year = rng.integers(1960, 2020, n).tolist()
    people = _cjk(rng, 2 * n, 2, 4)
    pid = rng.integers(1, 10**6, (n, 3)).tolist()
    country = rng.choice(COUNTRIES, n).tolist()
    genre = rng.integers(0, len(GENRES), (n, 2)).tolist()
    minutes = rng.integers(80, 180, n).tolist()
    summary = _cjk(rng, n, 40, 120)
    return [json.dumps({
        "_id": str(m), "title": t, "aka": [t + " 别名"],
        "casts": [{"id": str(pid[i][0]), "name": people[2 * i]}],
        "directors": [{"id": str(pid[i][1]), "name": people[2 * i + 1]}],
        "writers": [], "countries": [country[i]],
        "genres": sorted({GENRES[g] for g in genre[i]}),
        "languages": ["汉语普通话"], "duration": f"{minutes[i]}分钟",
        "episodes": "", "imdb": f"tt{m:07d}", "poster": "http://example.invalid/p.jpg",
        "price": p, "pubdate": json.dumps([f"{year[i]}-01-01"]),
        "rating": {"average": "" if r is None else str(r),
                   "rating_people": str(pid[i][2]), "stars": ["5", "4", "3", "2", "1"]},
        "season_count": "", "site": "", "summary": summary[i], "year": str(year[i]),
    }, ensure_ascii=False) for i, (m, t, p, r) in enumerate(zip(ids, names, price, ranking))]


def shop_tables(out_dir: str, seed: int, n_movie: int, n_review: int, n_order: int) -> None:
    """Write ``movie``, ``review`` and ``order_info`` in the reference
    schema (FIXTURES.md): non-contiguous movie ids, some NULL
    rankings, dense ascending order ids, create_time over 2015-2019."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    ids = np.sort(rng.choice(np.arange(1_000_000, 40_000_000), n_movie, replace=False))
    names = [f"{c} {w}" for c, w in zip(_cjk(rng, n_movie, 2, 6), rng.choice(LATIN, n_movie))]
    price = np.round(rng.uniform(60, 130, n_movie), 1).tolist()
    ranking = [None if null else round(r, 1) for null, r in
               zip((rng.random(n_movie) < 0.05).tolist(), rng.uniform(0, 10, n_movie).tolist())]
    _write_file(out_dir, "movie", {
        "movie_id": pa.array(ids, pa.int32()), "name": names,
        "price": price, "ranking": pa.array(ranking, pa.float64()),
        "information": _information(rng, ids.tolist(), names, price, ranking)})
    # skewed reviews per movie
    r_movie = ids[np.minimum(rng.zipf(1.3, n_review) - 1, n_movie - 1) % n_movie]
    _write_file(out_dir, "review", {
        "review_id": pa.array(np.arange(1, n_review + 1), pa.int32()),
        "movie_id": pa.array(r_movie, pa.int32()),
        "ranking": rng.integers(0, 11, n_review).astype(np.float64),
        "content": _cjk(rng, n_review, 5, 60)})
    pick = rng.integers(0, n_movie, n_order)
    num = rng.integers(1, 11, n_order)
    secs = rng.integers(0, int((dt.datetime(2020, 1, 1) - dt.datetime(2015, 1, 1)).total_seconds()), n_order)
    base = dt.datetime(2015, 1, 1)
    _write_file(out_dir, "order_info", {
        "order_id": pa.array(np.arange(1, n_order + 1), pa.int32()),
        "movie_id": pa.array(ids[pick], pa.int32()),
        "movie_name": [names[i] for i in pick],
        "movie_num": pa.array(num, pa.int32()),
        "price_sum": np.round(np.array(price)[pick] * num, 1),
        "create_time": np.char.replace(np.datetime_as_string(
            np.datetime64(base) + secs.astype("timedelta64[s]"), unit="s"), "T", " ")})
