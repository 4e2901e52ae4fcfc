"""The bucketed-index lifecycle shared by both index families.

A MinHash band index and an IVF index have the same storage shape:
one table written BUCKETED on the family's grouping key (the LSH
bucket, the inverted list), zero or more unbucketed side tables, and
an append-only ``_dels`` tombstone table naming deleted row ids.
This module owns everything about that shape; the family modules
(``dedup/minhash.py``, ``similarity/knn.py``) only compute the rows.

- **reset**: a write drops every table of the index and removes its
  files, tombstones included — a fresh session's catalog has no
  record of an earlier session's managed tables, but their files
  survive and ``saveAsTable`` refuses the dangling location.
- **append**: a bucketed append adds per-bucket files next to the
  existing ones and never rewrites them, so bucket pruning and the
  exchange-free bucketed groupBy survive any number of appends.
- **delete**: the LSM/tombstone pattern — ids append to ``_dels``;
  nothing else is read or rewritten.
- **probe**: ``live_rows`` broadcast-anti-joins the tombstones out of
  the bucketed table whenever ``_dels`` exists. The join is map-side,
  so the pruned, exchange-free probe plans survive it.
- **rewrite**: one per-bucket read → (anti-join) → ``coalesce(1)``
  write → ``publish_replacing`` swap, shared by compaction and vacuum.
- **vacuum**: rewrites only the buckets holding tombstoned rows,
  overwrites the id-keyed side tables, and drops ``_dels`` last.

Every operation after the write reads the bucket spec from the
catalog, never from a caller: a mismatched count would compute the
wrong affected buckets (leaving deleted rows live while ``_dels`` is
dropped) or re-bucket the table so the next append is refused.
"""

from __future__ import annotations

import os
import shutil
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.writers import write_bucketed
from .compaction import (
    bucket_id_of,
    publish_replacing,
    recover_inprogress,
    table_location,
)
from .confscope import build_with_conf

DELS = "_dels"
# bucket rewrites (compaction bins, vacuumed buckets) in flight at once
MAX_PARALLEL = 8


@dataclass(frozen=True)
class Layout:
    """One index family's tables, as suffixes of the index prefix."""

    bucketed: str  # the bucketed table; holds id_col
    id_col: str  # the row id tombstones name
    keyed: tuple[str, ...] = ()  # unbucketed tables holding id_col
    plain: tuple[str, ...] = ()  # tables without row ids


MINHASH = Layout("_bands", "doc_id", keyed=("_sigs",))
IVF = Layout("_assign", "vec_id", plain=("_centroids",))


def reset(spark: SparkSession, prefix: str, layout: Layout) -> None:
    """Drop every table of the index and remove its files."""
    for suffix in (layout.bucketed, *layout.keyed, *layout.plain, DELS):
        t = f"{prefix}{suffix}"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(table_location(spark, t), ignore_errors=True)


def bucket_spec(spark: SparkSession, table: str) -> tuple[list[str], int]:
    """(bucket columns, bucket count) the table was written with."""
    meta = {
        r.col_name.strip(): (r.data_type or "").strip()
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    }
    if "Num Buckets" not in meta:
        raise ValueError(f"{table} is not a bucketed table")
    cols = [c.strip(" `") for c in meta["Bucket Columns"].strip("[]").split(",")]
    return cols, int(meta["Num Buckets"])


def append(df: DataFrame, table: str) -> None:
    """Bucketed append under the table's own bucket spec."""
    cols, n = bucket_spec(df.sparkSession, table)
    write_bucketed(df, table, cols, n_buckets=n, mode="append")


def delete(ids: DataFrame, prefix: str, layout: Layout) -> None:
    """Tombstone ``ids`` (a frame with ``layout.id_col``): one tiny
    append, whatever the index size. ``reset`` drops the tombstones,
    so a rebuild never inherits a previous generation's deletes."""
    ids.select(layout.id_col).write.mode("append").format("parquet").saveAsTable(
        f"{prefix}{DELS}"
    )


def live_rows(spark: SparkSession, prefix: str, layout: Layout) -> DataFrame:
    """The bucketed table as a probe must see it: tombstoned ids
    anti-joined out whenever ``_dels`` exists."""
    rows = spark.table(f"{prefix}{layout.bucketed}")
    if spark.catalog.tableExists(f"{prefix}{DELS}"):
        dels = spark.table(f"{prefix}{DELS}").select(layout.id_col)
        rows = rows.join(F.broadcast(dels), layout.id_col, "left_anti")
    return rows


def bucketed_probe(spark: SparkSession, build: Callable[[], DataFrame]) -> DataFrame:
    """Build a probe plan with bucketed reads pinned on. Spark's
    auto-bucketed-scan heuristic drops the bucketed layout when no
    join or aggregate needs it, and with it bucket PRUNING; the pin
    is scoped to this plan (``build_with_conf``)."""
    return build_with_conf(
        spark, "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false", build
    )


def bucket_files(spark: SparkSession, table: str) -> dict[int, list[str]]:
    """Bucket id → the table's files in that bucket, after finishing
    any interrupted ``publish_replacing``."""
    path = table_location(spark, table)
    recover_inprogress(path)
    by_bucket: dict[int, list[str]] = {}
    for f in sorted(os.listdir(path)):
        b = bucket_id_of(f) if f.endswith(".parquet") else None
        if b is not None:
            by_bucket.setdefault(b, []).append(os.path.join(path, f))
    return by_bucket


def rewrite_buckets(
    spark: SparkSession,
    table: str,
    groups: list[tuple[int, list[str]]],
    dels: DataFrame | None = None,
    id_col: str | None = None,
) -> None:
    """Replace each (bucket, files) group with ONE file of the same
    bucket, minus the ``dels`` ids when given. Merging only within a
    bucket keeps every row in the bucket it hashes to, and the
    replacement carries the ``_<bucket id>`` name the bucketed reader
    parses. Groups are independent jobs on a bounded thread pool."""
    path = table_location(spark, table)
    tmp_root = path + ".rewrite.tmp"
    shutil.rmtree(tmp_root, ignore_errors=True)

    def _rewrite(job: tuple[int, tuple[int, list[str]]]) -> None:
        seq, (b, files) = job
        out_dir = os.path.join(tmp_root, f"b{b:05d}-{seq:05d}")
        df = spark.read.parquet(*files)
        if dels is not None:
            df = df.join(F.broadcast(dels), id_col, "left_anti")
        df.coalesce(1).write.mode("overwrite").parquet(out_dir)
        outs = [f for f in os.listdir(out_dir) if f.endswith(".parquet")]
        assert len(outs) == 1, outs
        publish_replacing(
            path,
            os.path.join(out_dir, outs[0]),
            files,
            f"part-{seq:05d}-{uuid.uuid4().hex}_{b:05d}.c000.snappy.parquet",
        )

    if groups:
        with ThreadPoolExecutor(max_workers=MAX_PARALLEL) as ex:
            list(ex.map(_rewrite, enumerate(groups)))
    shutil.rmtree(tmp_root, ignore_errors=True)
    spark.sql(f"REFRESH TABLE {table}")


def vacuum(spark: SparkSession, prefix: str, layout: Layout) -> int:
    """Fold the tombstones into the index; returns the number of
    distinct ids vacuumed (0, and nothing touched, without ``_dels``).

    Only buckets holding a tombstoned row are rewritten; every other
    bucket's files stay byte-identical. The affected ids are
    ``pmod(hash(*bucket_cols), n)`` — Spark's own bucket expression,
    evaluated engine-side on the stored column types.

    Crash order: bucket rewrites, then side tables, then the ``_dels``
    drop LAST. Every intermediate state keeps probes correct (they
    still anti-join the surviving tombstones), and re-running converges
    because anti-joining already-vacuumed rows is a no-op. A crash
    between a bucket rewrite and a side-table overwrite leaves side
    rows for vacuumed ids, which no probe can surface without a
    bucketed row."""
    dels_table = f"{prefix}{DELS}"
    if not spark.catalog.tableExists(dels_table):
        return 0
    id_col = layout.id_col
    dels = spark.table(dels_table).select(id_col).distinct().localCheckpoint(eager=True)
    n_dels = dels.count()
    if n_dels == 0:
        return 0
    table = f"{prefix}{layout.bucketed}"
    cols, n = bucket_spec(spark, table)
    by_bucket = bucket_files(spark, table)
    affected = {
        r.b
        for r in spark.table(table)
        .select(id_col, *cols)
        .join(F.broadcast(dels), id_col)
        .select(F.pmod(F.hash(*cols), F.lit(n)).alias("b"))
        .distinct()
        .collect()
    }
    rewrite_buckets(
        spark,
        table,
        [(b, by_bucket[b]) for b in sorted(affected) if b in by_bucket],
        dels,
        id_col,
    )
    for suffix in layout.keyed:
        t = f"{prefix}{suffix}"
        kept = (
            spark.table(t)
            .join(F.broadcast(dels), id_col, "left_anti")
            .localCheckpoint(eager=True)
        )
        kept.write.mode("overwrite").format("parquet").saveAsTable(t)
    spark.sql(f"DROP TABLE IF EXISTS {dels_table}")
    return n_dels
