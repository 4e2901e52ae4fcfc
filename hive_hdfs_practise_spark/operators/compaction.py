"""Small-file compaction — the table-maintenance operator every
100 TB parquet estate runs continuously (what OPTIMIZE does in table
formats): many small files destroy scan throughput (per-file open
cost, tiny row groups, starved vectorized readers) and bloat the
file listing the planner must process.

Design points that matter at scale:

- **Rewrite cost is proportional to SMALL-file bytes only.** Files
  already at/above the target are left untouched — the plan selects
  victims under ``small_threshold`` and bin-packs only those.
- **Bin packing is first-fit-decreasing** on file size into
  ``target_bytes`` bins: FFD is the classic 11/9-OPT guarantee and
  keeps every output file near the target instead of producing one
  giant merged file plus crumbs.
- **Execution is one Spark job per bin group** reading exactly that
  group's files (`spark.read.parquet(*files)` prunes the listing to
  the group) and writing ``coalesce(1)`` — each output file is one
  bin, so output sizes track the plan. Bins are independent; a
  production scheduler would run them as parallel jobs.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

# compaction target file size, and the fraction of it below which a
# file counts as small
TARGET_BYTES = 128 * 1024 * 1024
SMALL_THRESHOLD = 0.5


@dataclass
class CompactionPlan:
    bins: list = field(default_factory=list)      # list[list[path]]
    untouched: list = field(default_factory=list)  # list[path]
    small_bytes: int = 0
    total_bytes: int = 0


@dataclass
class BucketCompactionStats:
    """Before/after accounting for ``compact_bucketed_table`` — the
    numbers a maintenance scheduler alerts on."""

    n_files_before: int = 0
    n_files_after: int = 0
    n_buckets_touched: int = 0
    bytes_rewritten: int = 0
    total_bytes: int = 0


def plan_compaction_files(
    files: list,
    target_bytes: int = TARGET_BYTES,
    small_threshold: float = SMALL_THRESHOLD,
) -> CompactionPlan:
    """FFD bin-pack an explicit file list (the core shared by the
    directory planner and the per-bucket table compactor)."""
    sizes = {f: os.path.getsize(f) for f in files}
    plan = CompactionPlan(total_bytes=sum(sizes.values()))
    cutoff = small_threshold * target_bytes
    victims = sorted(
        (f for f in files if sizes[f] < cutoff),
        key=lambda f: (-sizes[f], f),
    )
    plan.untouched = [f for f in files if sizes[f] >= cutoff]
    plan.small_bytes = sum(sizes[f] for f in victims)
    bin_free: list = []  # parallel to plan.bins
    for f in victims:
        placed = False
        for i, free in enumerate(bin_free):
            if sizes[f] <= free:
                plan.bins[i].append(f)
                bin_free[i] -= sizes[f]
                placed = True
                break
        if not placed:
            plan.bins.append([f])
            bin_free.append(target_bytes - sizes[f])
    return plan


def plan_compaction(
    path: str,
    target_bytes: int = TARGET_BYTES,
    small_threshold: float = SMALL_THRESHOLD,
) -> CompactionPlan:
    """Bin-pack every parquet file under ``path`` smaller than
    ``small_threshold * target_bytes`` into ``target_bytes`` bins,
    first-fit-decreasing. Files at/above the threshold are listed as
    untouched."""
    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    return plan_compaction_files(files, target_bytes, small_threshold)


def compact_parquet(
    spark: SparkSession,
    path: str,
    out: str,
    target_bytes: int = TARGET_BYTES,
    small_threshold: float = SMALL_THRESHOLD,
) -> CompactionPlan:
    """Execute ``plan_compaction``: each bin becomes one output file
    under ``out``; untouched files are NOT rewritten (a production
    run would hard-link/move them — here they stay in place and the
    caller unions the two directories)."""
    plan = plan_compaction(path, target_bytes, small_threshold)
    for i, group in enumerate(plan.bins):
        (
            spark.read.parquet(*group)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"bin-{i:05d}"))
        )
    return plan


# Spark's BucketingUtils encodes the bucket id as the LAST _<digits>
# group of the file name (e.g. part-00000-<uuid>_00003.c000.snappy
# .parquet) — a compacted replacement file must carry the same
# encoding or the bucketed reader rejects it.
_BUCKET_ID_RE = re.compile(r"_(\d+)(?:\..*)?$")


def bucket_id_of(file_name: str) -> int | None:
    m = _BUCKET_ID_RE.search(file_name)
    return int(m.group(1)) if m else None


def table_location(spark: SparkSession, table: str) -> str:
    """Filesystem path of a managed table in the session warehouse."""
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    parts = table.lower().split(".")
    rel = parts[-1] if len(parts) == 1 else f"{parts[-2]}.db/{parts[-1]}"
    return os.path.join(wh, rel)


def publish_replacing(
    path: str, src: str, originals: list, dest_name: str
) -> None:
    """Crash-safe publish of a rewritten file that REPLACES a set of
    original files in the same directory (every per-bucket rewrite in
    ``bucketed_index`` goes through it). Multi-file
    swaps have no atomic rename, so the protocol writes a tiny
    MANIFEST first and every crash window is mechanically recoverable
    by ``recover_inprogress``:

    1. write ``.{dest}.inprogress.manifest`` (dest + original names)
    2. move ``src`` into the dir as ``.{dest}.inprogress`` — both
       dot-prefixed, so Spark's file index never sees them
    3. delete the originals
    4. same-dir atomic rename pending → live
    5. delete the manifest

    The key property: the pending file holds the FULL union of the
    originals' rows, so recovery after ANY crash is "delete whatever
    originals remain, finalize the pending file" — never a silent
    loss and never duplication. A crash before step 2 rolls back
    (originals intact, manifest dropped)."""
    pending = os.path.join(path, "." + dest_name + ".inprogress")
    manifest = pending + ".manifest"
    # manifest write is itself atomic (tmp + same-dir rename): a
    # crash mid-write must not leave truncated JSON that wedges every
    # later recover_inprogress (r12 review)
    with open(manifest + ".tmp", "w") as f:
        json.dump(
            {
                "dest": dest_name,
                "originals": [os.path.basename(g) for g in originals],
            },
            f,
        )
        f.flush()
        os.fsync(f.fileno())
    os.rename(manifest + ".tmp", manifest)
    # the pending file must only ever exist COMPLETE: a bare
    # shutil.move is atomic only same-filesystem — cross-fs it copies,
    # and a crash mid-copy would leave a partial pending file that
    # recovery would finalize (silent loss). Stage the copy under a
    # ".copying" name recovery ignores, then same-dir atomic rename.
    staging = pending + ".copying"
    shutil.copy2(src, staging)
    os.rename(staging, pending)
    os.remove(src)
    for g in originals:
        os.remove(g)
    os.rename(pending, os.path.join(path, dest_name))
    os.remove(manifest)


def recover_inprogress(path: str) -> int:
    """Finalize or roll back interrupted ``publish_replacing`` runs —
    called at the entry of every maintenance op over ``path`` (r11
    advice: an interrupted compaction must not silently drop rows on
    the next read). For each leftover manifest: if the pending file
    exists it holds the complete union, so any still-present
    originals are deleted and the pending file is renamed live
    (exact — no loss, no duplication); if the pending file is absent
    the crash preceded step 2 and the originals are intact, so the
    manifest is simply dropped. A dot-prefixed ``.inprogress`` file
    with NO manifest cannot be attributed and raises. Returns the
    number of manifests processed."""
    n = 0
    for name in sorted(os.listdir(path)):
        # interrupted manifest writes (".manifest.tmp") and staged
        # cross-fs copies (".inprogress.copying") are pre-publish
        # garbage by construction — never live, safe to drop
        if name.endswith(".manifest.tmp") or name.endswith(
            ".inprogress.copying"
        ):
            os.remove(os.path.join(path, name))
            continue
        if not name.endswith(".inprogress.manifest"):
            continue
        manifest = os.path.join(path, name)
        # pending name is derivable from the manifest FILE NAME, so
        # an unreadable manifest (legacy non-atomic write) can still
        # be classified: no pending file ⇒ pure rollback
        pending = manifest[: -len(".manifest")]
        try:
            with open(manifest) as f:
                meta = json.load(f)
        except (ValueError, OSError):
            if os.path.exists(pending):
                raise RuntimeError(
                    f"unreadable manifest {manifest} with a pending "
                    "file present — originals unknown; resolve manually"
                )
            os.remove(manifest)
            n += 1
            continue
        if os.path.exists(pending):
            for g in meta["originals"]:
                gp = os.path.join(path, g)
                if os.path.exists(gp):
                    os.remove(gp)
            os.rename(pending, os.path.join(path, meta["dest"]))
        os.remove(manifest)
        n += 1
    orphans = [
        f
        for f in os.listdir(path)
        if f.endswith(".inprogress") and f.startswith(".")
    ]
    if orphans:
        raise RuntimeError(
            f"unattributable in-progress files in {path}: {orphans} — "
            "no manifest survives for them, so whether their originals "
            "were deleted is unknown; inspect and resolve manually"
        )
    return n


def compact_bucketed_table(
    spark: SparkSession, table: str
) -> BucketCompactionStats:
    """Compact a BUCKETED managed table in place — the maintenance op
    that completes the index lifecycle (write → probe → append →
    COMPACT): every append leaves a fresh set of per-bucket small
    files next to the existing ones, and without compaction the file
    count grows linearly with appends forever.

    Each bucket's files are FFD-planned on their own; every bin of
    two or more files becomes one replacement file of that bucket
    through ``bucketed_index.rewrite_buckets``, so the exchange-free
    bucketed scan survives (pinned by the unchanged probe oracle and
    the no-exchange plan assertion in tests). Rewrite cost is
    proportional to small-file bytes, never table bytes; files
    at/above the threshold, or alone in their bin, are never read."""
    from .bucketed_index import bucket_files, rewrite_buckets

    by_bucket = bucket_files(spark, table)
    files = [f for fs in by_bucket.values() for f in fs]
    stats = BucketCompactionStats(
        n_files_before=len(files),
        total_bytes=sum(os.path.getsize(f) for f in files),
    )
    groups = []
    for b, fs in sorted(by_bucket.items()):
        plan = plan_compaction_files(fs, TARGET_BYTES, SMALL_THRESHOLD)
        bins = [g for g in plan.bins if len(g) >= 2]
        if bins:
            stats.n_buckets_touched += 1
        for group in bins:
            stats.bytes_rewritten += sum(os.path.getsize(g) for g in group)
            groups.append((b, group))
    rewrite_buckets(spark, table, groups)
    stats.n_files_after = sum(len(fs) for fs in bucket_files(spark, table).values())
    return stats
