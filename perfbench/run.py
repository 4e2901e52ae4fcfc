"""Benchmark: closed-loop workloads over the engine's public surfaces,
with a traced mode that splits each op into layers.

    python3 perfbench/run.py --workload serve|curation \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. A run

1. generates its inputs from ``--seed`` (perfbench/gen.py) and the
   expected outputs (perfbench/expect.py); neither counts as set-up;
2. sets up: ``get_spark``, workload state, then the untimed warm
   schedule, ``WARM_PASSES`` runs of the op list itself (it warms the
   JVM, codegen, Python workers and micro-batch engine the ops use);
   all of it is ``setup_s``;
3. repeats the workload's fixed op list until ``--seconds`` have
   passed (at least one pass);
4. checks every op's output and prints one JSON line last.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
the event log, installs the tracer (perfbench/tracing.py) for the
timed passes, reports per-layer metrics and writes the span file that
``perfbench/report.py`` summarises. Its timed passes sit at the same
place in the schedule as those of ``--trace 0``, so their wall time
against an untraced run's is the tracing overhead.

Each run owns a fresh directory under ``.perfbench_work/`` (warehouse,
Spark local dirs, temp files) and holds ``.perfbench_work/lock`` for
its whole life, so two runs never share a warehouse.
"""

from __future__ import annotations

import argparse
import contextlib
import fcntl
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Untimed passes before timing; perfbench/STEADY.md shows that the
# passes after them are steady.
WARM_PASSES = {"serve": 1, "curation": 1}
WORK = ".perfbench_work"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def host_env(root: str, run_dir: str) -> None:
    """Size the engine to this host and keep every file it writes
    inside the run directory. Must run before the JVM starts."""
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # a quarter of host RAM, capped: session.py's 24g default is
        # more than many hosts have
        "SPARK_DRIVER_MEM": f"{max(1, min(4, mem_kb // (4 << 20)))}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })
    time.tzset()
    tempfile.tempdir = None


def spark_conf(run_dir: str, event_log: str | None) -> dict:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    }
    if event_log:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


class Ctx:
    """What ops see: the session, the inputs and the tracer."""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self.tracer = None
        self.spark = None
        self.api = None
        self.n_inserted = 0
        self.last_df = None
        self.op_id = None

    def span(self, layer: str, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(f"{layer}:{name}", op_id=self.op_id)


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            return next(int(line.split()[1]) for line in fh if line.startswith("VmRSS"))
    except (OSError, StopIteration):
        return 0


class PeakRss:
    """Peak of (driver JVM + Python) resident memory, sampled."""

    def __init__(self, pids):
        self.pids, self.peak_kb = pids, 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(rss_kb(p) for p in self.pids))
            self._stop.wait(0.05)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


def listing(path: str) -> dict[str, tuple[int, int]]:
    """File path -> (size, mtime_ns) under ``path``."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


def stored_ratio(warehouse: str, before: dict) -> tuple[float, int, int]:
    """Files the run wrote into its warehouse since the ``before``
    listing and still holds: their on-disk bytes over the logical
    (Arrow in-memory) bytes of the rows in their parquet files."""
    import pyarrow.parquet as pq

    new = {p: st for p, st in listing(warehouse).items() if before.get(p) != st}
    disk = sum(size for size, _ in new.values())
    logical = sum(pq.read_table(p).nbytes for p in new if p.endswith(".parquet"))
    return (disk / logical if logical else float("nan")), disk, logical


def expected_outputs(wl, seed: int, data_dir: str, canon) -> dict:
    """Oracle fingerprints for the seed: committed, else computed."""
    import expect

    want = wl.expected_names()
    committed = expect.load_committed(seed) or {}
    if set(want) <= committed.keys():
        return committed
    return expect.oracle_fingerprints(data_dir, want, canon)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile_or_none(xs, q: float, beyond: int = 10):
    """The q-quantile, or None unless at least ``beyond`` samples lie
    above it (p90 needs 100 samples)."""
    if len(xs) * (1 - q) < beyond - 1e-9:
        return None
    return statistics.quantiles(xs, n=100, method="inclusive")[int(round(q * 100)) - 1]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    with contextlib.suppress(Exception):
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, root: str, run_dir: str) -> dict:
    import expect
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    data_dir = os.path.join(run_dir, "data")
    wl.generate(data_dir, args.seed)
    canon = expect.check_oracle(root).canon
    expected = None
    if args.workload != "serve":
        expected = expected_outputs(wl, args.seed, data_dir, canon)

    tracer = None
    event_log = None
    if args.trace:
        import tracing as tr

        tracer = tr.Tracer()
        event_log = os.path.join(run_dir, "eventlog")
        os.makedirs(event_log)
    ctx = Ctx(data_dir)
    ops = wl.ops(args.seed, data_dir)
    warehouse = os.path.join(run_dir, "warehouse")

    from hive_hdfs_practise_spark.session import get_spark

    t0 = time.perf_counter()
    ctx.spark = get_spark(f"perfbench-{args.workload}", extra_conf=spark_conf(run_dir, event_log))
    try:
        t1 = time.perf_counter()
        wl.setup_state(ctx)
        t2 = time.perf_counter()
        warm_pass_s = []
        for _ in range(WARM_PASSES[args.workload]):
            warm_pass_s += timed_passes(ctx, ops, 0)[1]
        setup_s = time.perf_counter() - t0

        spark = ctx.spark
        from pyspark import SparkContext

        pids = [os.getpid(), SparkContext._gateway.proc.pid]
        before = listing(warehouse)
        if tracer is not None:
            tracer.install(spark, warehouse)
            ctx.tracer = tracer
        try:
            with PeakRss(pids) as rss:
                records, pass_s = timed_passes(ctx, ops, args.seconds, tracer)
        finally:
            if tracer is not None:
                ctx.tracer = None
                tracer.uninstall(spark)
        ratio, disk, logical = stored_ratio(warehouse, before)

        # ---- checks (untimed)
        verdicts = [not isinstance(r[3], Exception) for r in records]
        if args.workload == "serve":
            verdicts = check_serve(spark, data_dir, records, verdicts)
        else:
            done = [(r[0], r[3]) for r, ok in zip(records, verdicts) if ok]
            it = iter(wl.check(done, expected, lambda pdf: expect.fingerprint(pdf, canon)))
            verdicts = [ok and next(it) for ok in verdicts]
    finally:
        stop_spark(ctx.spark)  # also flushes the event log

    reads = [r[2] for r in records if r[1] == "read"]
    writes = [r[2] for r in records if r[1] == "write"]
    failed = sum(1 for ok in verdicts if not ok)
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (median(pass_s), "s"),
        "read_p50_s": (median(reads), "s"),
        "write_p50_s": (median(writes), "s"),
        "stored_bytes_per_input_byte": (ratio, "ratio"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": len(pass_s), "pass_s": pass_s, "warm_pass_s": warm_pass_s,
        "setup_parts_s": {"get_spark_s": t1 - t0, "state_s": t2 - t1,
                          "warm_schedule_s": sum(warm_pass_s)},
        "n_read": len(reads), "n_write": len(writes),
        "op_s": {n: [r[2] for r in records if r[0] == n] for n in dict.fromkeys(r[0] for r in records)},
        "read_p90_s": percentile_or_none(reads, 0.9),
        "failed_ops": sorted({r[0] for r, ok in zip(records, verdicts) if not ok}),
        "errors": sorted({"".join(traceback.format_exception(r[3]))[-3000:]
                          for r in records if isinstance(r[3], Exception)}),
        "stored_disk_bytes": disk, "stored_logical_bytes": logical,
        "peak_rss_mb": rss.peak_kb / 1024,
        "e2e": {k: v[0] for k, v in e2e.items()},
    }
    result = {"correct": failed == 0, "attempted": len(records), "failed": failed}
    if tracer is None:
        metrics = e2e
    else:
        metrics = tracer.metrics(records, verdicts, detail, event_log, warehouse)
        detail["per_layer"] = {k: v[0] for k, v in metrics.items()}
        tracer.write(os.path.join(root, WORK, "traces", f"{args.workload}.json"), detail)
    bad = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
    if bad:
        raise RuntimeError(f"metrics without a finite value: {bad}")
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    result["detail"] = detail
    return result


def timed_passes(ctx, ops, seconds: float, tracer=None):
    """Repeat the op list until ``seconds`` have passed (one pass at
    least). Returns (name, kind, seconds, output or exception) per op
    and the wall time of each pass."""
    records, pass_s = [], []
    start = time.perf_counter()
    while True:
        p0 = time.perf_counter()
        for i, (name, kind, fn) in enumerate(ops):
            ctx.op_id = f"p{len(pass_s)}.{i}:{name}"
            a = time.perf_counter()
            try:
                out = fn(ctx) if tracer is None else tracer.op(ctx, name, kind, fn)
            except Exception as exc:  # noqa: BLE001 — counted as a failed op
                out = exc
            records.append((name, kind, time.perf_counter() - a, out))
        pass_s.append(time.perf_counter() - p0)
        if time.perf_counter() - start >= seconds:
            return records, pass_s


def check_serve(spark, data_dir, records, verdicts):
    """Replay every response against DuckDB over the generated tables
    plus the inserted rows, read back from the managed table."""
    import pyarrow.parquet as pq

    import expect

    base_max = max(pq.read_table(os.path.join(data_dir, "order_info.parquet"),
                                 columns=["order_id"]).column(0).to_pylist())
    rows = [r.asDict() for r in spark.table("movie_shop.order_info")
            .filter(f"order_id > {base_max}").orderBy("order_id").collect()]
    dense = [r["order_id"] for r in rows] == list(range(base_max + 1, base_max + 1 + len(rows)))
    oracle = expect.ShopOracle(data_dir, rows)
    out = []
    for (name, kind, _, res), ok in zip(records, verdicts):
        if ok:
            op, params, got, n_ins = res
            ok = oracle.check(op, params, got, n_ins)
            if op == "insert_order":
                item, row = params["item"], rows[n_ins - 1] if n_ins <= len(rows) else None
                ok = ok and dense and row is not None and all(
                    row[k] == item[k] for k in ("movie_id", "movie_name", "movie_num")) and \
                    abs(row["price_sum"] - item["price_sum"]) < 1e-9
        out.append(ok)
    return out


@contextlib.contextmanager
def run_dir_locked(root: str, workload: str):
    """Hold the benchmark lock and yield a fresh run directory."""
    work = os.path.join(root, WORK)
    os.makedirs(work, exist_ok=True)
    with open(os.path.join(work, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        run_dir = tempfile.mkdtemp(prefix=f"run-{workload}-", dir=work)
        try:
            yield run_dir
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    needed = [os.path.join(root, "hive_hdfs_practise_spark", "__init__.py"),
              os.path.join(root, "tools", "check_oracle.py")]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: run from a checkout root; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    with run_dir_locked(root, args.workload) as run_dir:
        host_env(root, run_dir)
        result = run(args, root, run_dir)
    detail = result.pop("detail")
    out = os.path.join(root, WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({**result, "detail": detail}, fh, indent=1, default=str)
    for k, m in result["metrics"].items():
        print(f"{k:44s} {m['value']:14.6g} {m['unit']}")
    p90 = detail["read_p90_s"]
    print(f"{'read_p90_s':44s} {'n/a' if p90 is None else f'{p90:14.6g}'} s"
          f"  ({detail['n_read']} reads; needs 100)")
    print(f"{'failed ops':44s} {result['failed']} of {result['attempted']}")
    if detail["failed_ops"]:
        print(f"failed ops: {detail['failed_ops']}")
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
