"""Self-tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import os
import statistics
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import expect  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

canon = expect.check_oracle(ROOT).canon


def _digests(path):
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            out[os.path.relpath(p, path)] = hashlib.md5(open(p, "rb").read()).hexdigest()
    return out


def test_generators_are_seeded(tmp_path):
    for seed, sub in ((5, "a"), (5, "b"), (6, "c")):
        gen.warehouse_tables(str(tmp_path / sub), seed, sf=0.001)
        gen.shop_tables(str(tmp_path / sub), seed, n_movie=50, n_review=200, n_order=100)
    a, b, c = (_digests(tmp_path / s) for s in "abc")
    assert a == b
    assert len(a) == 16  # 10 warehouse tables, 3 shop tables as parquet + tsv
    assert all(a[f] != c[f] for f in a if not f.startswith(("region.", "nation.")))


def test_shop_tables_follow_fixture_rules(tmp_path):
    import pyarrow.parquet as pq

    gen.shop_tables(str(tmp_path), 1, n_movie=200, n_review=1000, n_order=500)
    orders = pq.read_table(tmp_path / "order_info.parquet").to_pydict()
    assert orders["order_id"] == list(range(1, 501))
    assert len({t[:4] for t in orders["create_time"]}) >= 3
    movie = pq.read_table(tmp_path / "movie.parquet").to_pydict()
    assert None in movie["ranking"]
    tsv = (tmp_path / "movie.tsv").read_text(encoding="utf-8").splitlines()
    assert len(tsv) == 200 and all(len(line.split("\t")) == 5 for line in tsv)


FRAMES = [
    pd.DataFrame({"b": [1.0, 2.5], "a": ["x", "y"]}),
    pd.DataFrame({"a": ["y", "x"], "b": [2.5, 1.0]}),          # same rows, other order
    pd.DataFrame({"a": ["x", "y"], "b": [1, 2.5]}),            # 1 == 1.0
    pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.5000000000001]}),  # below canon's rounding
    pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.6]}),
    pd.DataFrame({"a": ["x", "z"], "b": [1.0, 2.5]}),
    pd.DataFrame({"a": ["x", "y", "y"], "b": [1.0, 2.5, 2.5]}),
    pd.DataFrame({"a": ["x", None], "b": [1.0, float("nan")]}),
    pd.DataFrame({"a": ["x", None], "b": [1.0, None]}),
    pd.DataFrame({"t": [dt.datetime(2024, 1, 1, 0, 0), dt.datetime(2024, 1, 1, 5, 6, 7)]}),
    pd.DataFrame({"t": [pd.Timestamp("2024-01-01"), pd.Timestamp("2024-01-01 05:06:07")]}),
]


@pytest.mark.parametrize("i", range(len(FRAMES)))
@pytest.mark.parametrize("j", range(len(FRAMES)))
def test_fingerprint_agrees_with_check_oracle(i, j):
    a, b = FRAMES[i], FRAMES[j]
    same_canon = sorted(a.columns) == sorted(b.columns) and canon(a) == canon(b)
    same_fp = expect.fingerprint(a, canon) == expect.fingerprint(b, canon)
    assert same_fp == same_canon


def test_collected_rows_match_oracle_frame():
    """Spark ``collect()`` rows (Decimal, datetime, int) fingerprint like
    the DuckDB pandas frame of the same result."""
    rows = [(decimal.Decimal("1.50"), dt.datetime(2024, 1, 2, 3, 4, 5), 7, "a")]
    spark_side = expect.rows_frame(rows, ["p", "ts", "n", "s"])
    duck_side = pd.DataFrame({"s": ["a"], "n": [7.0], "p": [1.5],
                              "ts": [pd.Timestamp("2024-01-02 03:04:05")]})
    assert expect.fingerprint(spark_side, canon) == expect.fingerprint(duck_side, canon)


def _span(i, start, end, parent=None, name="x"):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "op": None}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, 0), _span(2, 3.0, 5.0, 0),   # overlap: union 1..5
        _span(3, 7.0, 8.0, 0),
        _span(4, 9.5, 12.0, 0),                          # clipped to the parent's end
        _span(5, 1.5, 2.0, 1),
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 1 - 0.5)
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[5] == pytest.approx(0.5)


def test_p90_needs_ten_samples_beyond_it():
    assert run.percentile_or_none(list(range(99)), 0.9) is None
    xs = [float(x) for x in range(100)]
    assert run.percentile_or_none(xs, 0.9) == pytest.approx(
        statistics.quantiles(xs, n=100, method="inclusive")[89])
    assert sum(1 for x in xs if x > run.percentile_or_none(xs, 0.9)) == 10


def test_wrappers_keep_results_and_are_removed():
    from hive_hdfs_practise_spark.operators import compaction

    original = compaction.bucket_id_of
    name = "part-00000-abc_00003.c000.snappy.parquet"
    tracer = tracing.Tracer(wrapped={"operators.compaction": ["bucket_id_of"]})
    tracer.install_wrappers()
    try:
        assert compaction.bucket_id_of is not original
        assert compaction.bucket_id_of(name) == original(name)
        assert [s["name"] for s in tracer.spans] == ["operators.compaction.bucket_id_of"]
    finally:
        tracer.uninstall_wrappers()
    assert compaction.bucket_id_of is original
    bound = [m for m in list(sys.modules.values())
             if getattr(m, "__name__", "").startswith(tracing.PKG)
             and any(getattr(v, "__wrapped_by_perfbench__", False) for v in vars(m).values())]
    assert bound == []


def test_warehouse_ratio_counts_only_files_written_since(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = tmp_path / "wh" / "db.db" / "t"
    t.mkdir(parents=True)
    pq.write_table(pa.table({"x": list(range(1000))}), t / "part-0.parquet")
    before = run.listing(str(tmp_path / "wh"))
    pq.write_table(pa.table({"x": [1, 2, 3]}), t / "part-1.parquet")
    (t / ".part-1.parquet.crc").write_bytes(b"12345678")
    ratio, disk, logical = run.stored_ratio(str(tmp_path / "wh"), before)
    assert logical == pq.read_table(t / "part-1.parquet").nbytes
    assert disk == os.path.getsize(t / "part-1.parquet") + 8
    assert ratio == pytest.approx(disk / logical)
    assert run.stored_ratio(str(tmp_path / "wh"), run.listing(str(tmp_path / "wh")))[1] == 0


def test_overhead_is_unresolved_within_untraced_spread():
    import report

    untraced = [10.0, 10.5, 11.0, 11.5, 12.0]
    assert "unresolved" in report.overhead_line(11.6, untraced)
    assert "; resolved" in report.overhead_line(14.0, untraced)
    assert "+3.000 s" in report.overhead_line(14.0, untraced)
    assert "unresolved" in report.overhead_line(14.0, [11.0])


def test_committed_fingerprints_match_oracle(tmp_path):
    """perfbench/fingerprints.json is what `python3 perfbench/expect.py`
    writes today: same generator output, same oracle answers."""
    import workloads

    names = workloads.WORKLOADS["curation"].expected_names()
    gen.warehouse_tables(str(tmp_path), 1, workloads.WAREHOUSE_SF)
    committed = expect.load_committed(1)
    assert expect.oracle_fingerprints(str(tmp_path), names, canon) == {n: committed[n] for n in names}
