"""Traced runs: spans, wrappers and counters installed from outside
the engine, plus the event-log and listener readers that turn them
into per-layer metrics.

Everything is reached through public surfaces:

- spans around each op, its builder call and its final collect;
- wrappers around public functions of ``dedup``, ``similarity``,
  ``operators`` and ``sources`` (every module attribute bound to the
  function is swapped, and restored by ``uninstall``); the ``session``
  layer is timed around ``get_spark`` by run.py;
- a py4j command counter on the session's gateway client;
- a ``StreamingQueryListener``;
- the uncompressed Spark event log of the traced session.

A span is ``{id, name, start, end, parent, op}``; times are epoch
seconds so they line up with event-log timestamps. Self time is a
span's duration minus the union of its children's intervals.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import json
import os
import sys
import time

PKG = "hive_hdfs_practise_spark"
# module -> public functions wrapped in traced runs
WRAPPED = {
    "sources.catalog": ["table", "wide_table"],
    "dedup.minhash": ["minhash_signature_from_text"],
    "similarity.knn": ["write_ivf_index", "append_ivf_index"],
    "operators.compaction": ["compact_bucketed_table"],
    "operators.write": ["next_order_id"],
}
API_METHODS = ["query_movie_list", "query_movie", "query_order_list", "insert_order",
               "recommend_movie_list", "monthly_sales", "yearly_sales"]
CALL_CMDS = ("c", "r", "i")  # call, reflection, constructor
MB = float(1 << 20)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids = collections.defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur = 0.0, None
        for a, b in sorted(kids[s["id"]]):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class Tracer:
    def __init__(self, wrapped: dict | None = None):
        self.wrapped = WRAPPED if wrapped is None else wrapped
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.py4j = collections.Counter()
        self._patches: list[tuple[object, str, object]] = []
        self.progress: list[dict] = []
        self.extra = collections.Counter()
        self._listener = None
        self._client = None
        self._warehouse = None

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, op_id=None):
        s = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
             "parent": self._stack[-1]["id"] if self._stack else None,
             "op": op_id if op_id is not None else (self._stack[-1]["op"] if self._stack else None),
             "py4j": dict(self.py4j)}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            s["py4j"] = {k: v - s["py4j"].get(k, 0) for k, v in self.py4j.items()
                         if v - s["py4j"].get(k, 0)}

    # ------------------------------------------------------- install
    def _wrap(self, qualname: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if qualname.endswith("compact_bucketed_table"):
                return tracer._compaction(qualname, fn, args, kwargs)
            with tracer.span(qualname):
                return fn(*args, **kwargs)

        wrapper.__wrapped_by_perfbench__ = True
        return wrapper

    def _compaction(self, qualname, fn, args, kwargs):
        """compact_bucketed_table: also count files and bytes in/out."""
        from hive_hdfs_practise_spark.operators.compaction import table_location

        path = table_location(args[0], args[1])
        path = path[5:] if path.startswith("file:") else path
        before = _listing(path)
        with self.span(qualname):
            out = fn(*args, **kwargs)
        after = _listing(path)
        self.extra["compaction.files_in"] += len(before)
        self.extra["compaction.files_out"] += len(after)
        self.extra["compaction.bytes_rewritten"] += sum(
            size for p, size in after.items() if before.get(p) != size)
        return out

    def install_wrappers(self) -> None:
        import importlib

        originals = {}
        for mod, names in self.wrapped.items():
            m = importlib.import_module(f"{PKG}.{mod}")
            for n in names:
                originals[id(getattr(m, n))] = (getattr(m, n), self._wrap(f"{mod}.{n}", getattr(m, n)))
        # swap every module-level binding of a wrapped function
        for mname, m in list(sys.modules.items()):
            if not (mname == PKG or mname.startswith(PKG + ".")) or m is None:
                continue
            for attr, val in list(vars(m).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(m, attr, hit[1])
                    self._patches.append((m, attr, val))

    def install(self, spark, warehouse: str) -> None:
        self._warehouse = warehouse
        self.install_wrappers()
        # py4j: count commands by type (first protocol letter)
        client = spark.sparkContext._gateway._gateway_client
        orig_send = client.send_command
        counter = self.py4j

        def send_command(command, *a, **kw):
            counter[command[:1]] += 1
            return orig_send(command, *a, **kw)

        client.send_command = send_command
        self._client = client
        self._listener = _listener(self.progress)
        spark.streams.addListener(self._listener)
        # Catalyst phases of API queries: plan the frame the API
        # serializes, so its tracker holds the phase times
        from pyspark.sql.classic.dataframe import DataFrame

        orig_tojson = DataFrame.toJSON

        def toJSON(df, *a, **kw):
            _record_phases(self, df)
            return orig_tojson(df, *a, **kw)

        DataFrame.toJSON = toJSON
        self._patches.append((DataFrame, "toJSON", orig_tojson))

    def uninstall_wrappers(self) -> None:
        for owner, attr, val in reversed(self._patches):
            setattr(owner, attr, val)
        self._patches.clear()

    def uninstall(self, spark) -> None:
        self.uninstall_wrappers()
        if self._client is not None:
            del self._client.send_command
            self._client = None
        if self._listener is not None:
            # let the listener bus deliver the last progress events
            time.sleep(1.0)
            spark.streams.removeListener(self._listener)
            self._listener = None

    # ------------------------------------------------------------ ops
    def op(self, ctx, name: str, kind: str, fn):
        """Run one op under an ``op`` span; record Catalyst phases of
        the final collect, warehouse writes and result rows."""
        before = _listing(self._warehouse)
        ctx.last_df = None
        with self.span(f"op:{name}", op_id=ctx.op_id) as s:
            out = fn(ctx)
        if ctx.last_df is not None:
            _record_phases(self, ctx.last_df, span=s)
        after = _listing(self._warehouse)
        written = {p: n for p, n in after.items() if before.get(p) != n}
        s["kind"] = kind
        s["files_written"] = len(written)
        s["bytes_written"] = sum(written.values())
        s["rows"] = _result_rows(out)
        return out

    # -------------------------------------------------------- metrics
    def metrics(self, records, verdicts, detail, event_log: str, warehouse: str) -> dict:
        passes = max(1, detail["passes"])
        spans = self.spans
        jobs, tasks, py_rows_ids, py_bytes_ids = read_event_log(event_log)
        ops = [s for s in spans if s["name"].startswith("op:")]

        def total(pred):
            return sum(s["end"] - s["start"] for s in spans if pred(s["name"]))

        def py4j(pred, kinds):
            return sum(v for s in spans if pred(s["name"]) for k, v in s["py4j"].items() if k in kinds)

        layer_of_job = {}
        for j in jobs:
            layer_of_job[j["id"]] = _innermost(spans, j["submit"])
        build_jobs = [j for j in jobs if layer_of_job[j["id"]] == "build"]
        action_jobs = [j for j in jobs if layer_of_job[j["id"]] in ("action", "api")]
        act_stages = {sid for j in action_jobs for sid in j["stages"]}
        act_tasks = [t for t in tasks if t["stage"] in act_stages]
        traced_stages = act_stages | {sid for j in build_jobs for sid in j["stages"]}
        traced_tasks = [t for t in tasks if t["stage"] in traced_stages]
        input_bytes = sum(t["input"] for t in traced_tasks)
        py_rows = sum(v for t in traced_tasks for i, v in t["acc"] if i in py_rows_ids)
        py_bytes = sum(v for t in traced_tasks for i, v in t["acc"] if i in py_bytes_ids)
        job_s = (lambda js: sum(j["end"] - j["submit"] for j in js))
        build_s = total(lambda n: n.startswith("build:"))
        phases = collections.Counter()
        for s in spans:
            phases.update(s.get("phases", {}))
        streams = collections.defaultdict(list)
        for p in self.progress:
            streams[p["id"]].append(p)
        n_ops = len(records)
        m = {
            "session.get_spark_s": (detail["setup_parts_s"]["get_spark_s"], "s"),
            "session.warmup_s": (detail["setup_parts_s"]["warm_schedule_s"], "s"),
            "session.peak_rss_mb": (detail["peak_rss_mb"], "MB"),
            "sources.table_s": (_outer_total(spans, "sources.catalog.") / passes, "s"),
            "sources.table_calls": (sum(1 for s in spans if s["name"].startswith("sources.catalog.")) / passes, "count"),
            "sources.input_mb": (input_bytes / MB / passes, "MB"),
            "plans.build_s": (build_s / passes, "s"),
            "plans.py4j_calls": (py4j(lambda n: n.startswith("build:"), CALL_CMDS) / passes, "count"),
            "plans.py4j_mem_cmds": (py4j(lambda n: n.startswith("build:"), ("m",)) / passes, "count"),
            "plans.build_jobs": (len(build_jobs) / passes, "count"),
            "plans.build_job_s": (job_s(build_jobs) / passes, "s"),
            "plans.build_driver_s": ((build_s - job_s(build_jobs)) / passes, "s"),
            "action.analysis_ms": (phases["analysis"] / passes, "ms"),
            "action.optimization_ms": (phases["optimization"] / passes, "ms"),
            "action.planning_ms": (phases["planning"] / passes, "ms"),
            "action.jobs": (len(action_jobs) / passes, "count"),
            "action.stages": (len(act_stages) / passes, "count"),
            "action.tasks": (len(act_tasks) / passes, "count"),
            "action.job_s": (job_s(action_jobs) / passes, "s"),
            "action.task_cpu_s": (sum(t["cpu_ns"] for t in act_tasks) / 1e9 / passes, "s"),
            "action.shuffle_read_mb": (sum(t["shuffle_read"] for t in act_tasks) / MB / passes, "MB"),
            "action.shuffle_write_mb": (sum(t["shuffle_write"] for t in act_tasks) / MB / passes, "MB"),
            "action.spill_mb": (sum(t["spill"] for t in act_tasks) / MB / passes, "MB"),
            "action.gc_s": (sum(t["gc_ms"] for t in act_tasks) / 1e3 / passes, "s"),
            "action.collect_s": (total(lambda n: n.startswith(("action:", "api:"))) / passes, "s"),
            "action.result_rows": (sum(s.get("rows", 0) for s in ops) / passes, "count"),
            "functions.python_rows": (py_rows / passes, "count"),
            "functions.python_mb": (py_bytes / MB / passes, "MB"),
        }
        for meth in API_METHODS:
            m[f"api.{meth}_s"] = (total(lambda n, meth=meth: n == f"api:{meth}") / passes, "s")
        for mod, names in WRAPPED.items():
            for n in names:
                if mod != "sources.catalog" and n != "minhash_signature_from_text":
                    m[f"{mod}.{n}_s"] = (total(lambda x, q=f"{mod}.{n}": x == q) / passes, "s")
        m["dedup.minhash.signature_py4j_calls"] = (
            py4j(lambda n: n == "dedup.minhash.minhash_signature_from_text", CALL_CMDS) / passes, "count")
        m["operators.compaction.files_in"] = (self.extra["compaction.files_in"] / passes, "count")
        m["operators.compaction.files_out"] = (self.extra["compaction.files_out"] / passes, "count")
        m["operators.compaction.bytes_rewritten_mb"] = (self.extra["compaction.bytes_rewritten"] / MB / passes, "MB")
        last = [ps[-1] for ps in streams.values()]
        m.update({
            "streaming.triggers": (len(self.progress) / passes, "count"),
            "streaming.batch_s": (sum(p["batch_ms"] for p in self.progress) / 1e3 / passes, "s"),
            "streaming.input_rows": (sum(p["input_rows"] for p in self.progress) / passes, "count"),
            "streaming.state_rows": (max((p["state_rows"] for p in last), default=0), "count"),
            "streaming.state_mb": (max((p["state_bytes"] for p in last), default=0) / MB, "MB"),
        })
        live_files, live_bytes = len(_listing(warehouse)), sum(_listing(warehouse).values())
        m.update({
            "warehouse.files_written": (sum(s.get("files_written", 0) for s in ops) / passes, "count"),
            "warehouse.mb_written": (sum(s.get("bytes_written", 0) for s in ops) / MB / passes, "MB"),
            "warehouse.live_files": (live_files, "count"),
            "warehouse.live_mb": (live_bytes / MB, "MB"),
            "failed_frac": (sum(1 for v in verdicts if not v) / max(1, n_ops), "ratio"),
        })
        return m

    def write(self, path: str, detail: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        st = self_times(self.spans)
        spans = [{k: s[k] for k in ("id", "name", "start", "end", "parent", "op")}
                 | {"self": st[s["id"]]} for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"detail": detail, "spans": spans}, fh, default=str)


# ------------------------------------------------------------ helpers

def _listing(path: str | None) -> dict[str, int]:
    out = {}
    if path and os.path.isdir(path):
        for d, _, names in os.walk(path):
            for n in names:
                p = os.path.join(d, n)
                with contextlib.suppress(OSError):
                    out[p] = os.path.getsize(p)
    return out


def _result_rows(out) -> int:
    if isinstance(out, tuple) and len(out) == 2 and isinstance(out[0], list):
        return len(out[0])  # registered line: (rows, columns)
    if isinstance(out, tuple) and len(out) == 4:  # API call
        got = out[2]
        return len(got) if isinstance(got, list) else int(got is not None)
    return 0


def _record_phases(tracer: Tracer, df, span=None) -> None:
    """Catalyst phase times (ms) from the frame's QueryPlanningTracker."""
    try:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        got = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                got[name] = opt.get().durationMs()
    except Exception:  # noqa: BLE001 — a frame without a JVM plan
        return
    target = span if span is not None else (tracer._stack[-1] if tracer._stack else None)
    if target is not None:
        acc = target.setdefault("phases", {})
        for k, v in got.items():
            acc[k] = acc.get(k, 0) + v


def _innermost(spans, t: float) -> str | None:
    """Layer (build/action/api) of the deepest such span holding t."""
    best, depth = None, -1
    for s in spans:
        layer = s["name"].split(":", 1)[0]
        if layer in ("build", "action", "api") and s["start"] <= t <= (s["end"] or t):
            d = _depth(spans, s)
            if d > depth:
                best, depth = layer, d
    return best


def _depth(spans, s) -> int:
    d = 0
    while s["parent"] is not None:
        s = spans[s["parent"]]
        d += 1
    return d


def _outer_total(spans, prefix: str) -> float:
    """Total time of spans named ``prefix*`` not nested in another one."""
    out = 0.0
    for s in spans:
        if not s["name"].startswith(prefix):
            continue
        p, nested = s["parent"], False
        while p is not None:
            if spans[p]["name"].startswith(prefix):
                nested = True
                break
            p = spans[p]["parent"]
        if not nested:
            out += s["end"] - s["start"]
    return out


def _listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            sink.append({
                "id": str(p.id), "batch_ms": (p.durationMs or {}).get("triggerExecution", 0),
                "input_rows": p.numInputRows,
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_bytes": sum(o.memoryUsedBytes for o in ops),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


_PY_NODES = ("Python", "Pandas", "Arrow")


def read_event_log(event_log: str):
    """Jobs, tasks, and the accumulator ids of the Python-node SQL
    metrics (rows, bytes) in the session's uncompressed event log."""
    jobs, tasks = [], []
    py_rows_ids, py_bytes_ids = set(), set()
    job_by_id = {}
    files = sorted(os.listdir(event_log)) if os.path.isdir(event_log) else []
    for name in files[-1:]:
        with open(os.path.join(event_log, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    j = {"id": ev["Job ID"], "submit": ev["Submission Time"] / 1e3,
                         "end": ev["Submission Time"] / 1e3, "stages": ev.get("Stage IDs", [])}
                    job_by_id[j["id"]] = j
                    jobs.append(j)
                elif kind == "SparkListenerJobEnd":
                    j = job_by_id.get(ev["Job ID"])
                    if j is not None:
                        j["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    acc = []
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        with contextlib.suppress(ValueError, TypeError, KeyError):
                            acc.append((a["ID"], int(a["Update"])))
                    tasks.append({
                        "stage": ev["Stage ID"], "acc": acc,
                        "input": m.get("Input Metrics", {}).get("Bytes Read", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    })
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _python_metric_ids(ev.get("sparkPlanInfo") or {}, py_rows_ids, py_bytes_ids)
    return jobs, tasks, py_rows_ids, py_bytes_ids


def _python_metric_ids(node: dict, rows: set, size: set) -> None:
    if any(k in node.get("nodeName", "") for k in _PY_NODES) and "ToColumnar" not in node.get("nodeName", ""):
        for met in node.get("metrics", []):
            if met.get("name") == "number of output rows":
                rows.add(met["accumulatorId"])
            elif met.get("name") in ("data sent to Python workers", "data returned from Python workers"):
                size.add(met["accumulatorId"])
    for child in node.get("children", []):
        _python_metric_ids(child, rows, size)

