"""Structure guards: storage-layout decisions stay in one place each.

``write_bucketed`` is the only writer that chooses a bucketed layout,
and ``operators/bucketed_index.py`` is the only module that knows the
tombstone table, so a second copy of either decision fails here. The
MinHash permutation coefficients are read only by the two signature
engines (the SQL slot text and the numpy stream signatures)."""

from __future__ import annotations

from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "hive_hdfs_practise_spark"


def _files_containing(needle: str) -> set[str]:
    files = [*PKG.rglob("*.py"), *(REPO / "tools").glob("*.py"), REPO / "bench.py"]
    return {
        str(p.relative_to(REPO)) for p in files if needle in p.read_text()
    }


def test_bucket_by_only_in_writers():
    assert _files_containing(".bucketBy(") == {
        "hive_hdfs_practise_spark/sources/writers.py"
    }


def test_tombstone_suffix_only_in_bucketed_index():
    assert _files_containing("_dels") == {
        "hive_hdfs_practise_spark/operators/bucketed_index.py"
    }


def test_minhash_coefficients_only_in_signature_engines():
    assert _files_containing("_COEFFS") == {
        "hive_hdfs_practise_spark/dedup/minhash.py",
        "hive_hdfs_practise_spark/streaming/minhash_stream.py",
    }
