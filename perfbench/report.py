"""Trace report: per-workload layer table and tracing overhead from
the span files that traced runs write.

    python3 perfbench/report.py [span_file ...]

With no arguments it reads ``.perfbench_work/traces/*.json`` of the
current checkout. The tracing overhead is the traced run's ``wall_s``
minus the median ``wall_s`` of the ``--trace 0`` results of the same
workload found beside the span files (``.perfbench_work/results``);
it is reported as unresolved while it is within those results'
quartile spread. A layer is the first part of a span name: ``op``,
``build`` (builder call), ``action`` (final collect), ``api``
(MovieShopAPI method), or the engine package a wrapped function
belongs to (``sources``, ``dedup``, ``similarity``, ``operators``,
``session``). Self time excludes the time of child spans.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import statistics
import sys


def layer_of(name: str) -> str:
    head = name.split(":", 1)[0]
    return head.split(".", 1)[0]


def layer_table(spans: list[dict]) -> dict[str, tuple[float, int]]:
    """layer -> (self seconds, span count)."""
    out = collections.defaultdict(lambda: [0.0, 0])
    for s in spans:
        row = out[layer_of(s["name"])]
        row[0] += s["self"]
        row[1] += 1
    return {k: (v[0], v[1]) for k, v in out.items()}


def untraced_walls(results_dir: str, workload: str) -> list[float]:
    """wall_s of every ``--trace 0`` result of ``workload``."""
    out = []
    for p in sorted(glob.glob(os.path.join(results_dir, f"{workload}-seed*-trace0.json"))):
        with open(p) as fh:
            out.append(json.load(fh)["detail"]["e2e"]["wall_s"])
    return out


def overhead_line(traced: float, untraced: list[float]) -> str:
    """Traced wall_s against the untraced median; unresolved while
    the difference is within the untraced quartile spread."""
    if not untraced:
        return ("tracing overhead: no --trace 0 result of this workload; "
                "run some to compare against")
    base = statistics.median(untraced)
    over = traced - base
    head = (f"tracing overhead: traced wall_s {traced:.3f} s - median untraced wall_s "
            f"{base:.3f} s over {len(untraced)} --trace 0 runs = {over:+.3f} s ({over / base:+.1%})")
    if len(untraced) < 2:
        return head + "; unresolved (one untraced run gives no spread)"
    q1, _, q3 = statistics.quantiles(untraced, n=4)
    verdict = "resolved" if abs(over) > q3 - q1 else "unresolved"
    return head + f"; {verdict} against the untraced quartile spread {q3 - q1:.3f} s"


def report(path: str) -> str:
    with open(path) as fh:
        doc = json.load(fh)
    d = doc["detail"]
    results = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(path))), "results")
    untraced = untraced_walls(results, d["workload"])
    lines = [f"## {d['workload']} (seed {d['seed']}, traced passes: {d['passes']})", "",
             "| layer | self s | spans |", "|---|---:|---:|"]
    for layer, (self_s, n) in sorted(layer_table(doc["spans"]).items(), key=lambda kv: -kv[1][0]):
        lines.append(f"| {layer} | {self_s:.3f} | {n} |")
    lines += ["", overhead_line(d["e2e"]["wall_s"], untraced), "",
              "| per-layer metric | value |", "|---|---:|"]
    for k, v in d.get("per_layer", {}).items():
        lines.append(f"| {k} | {v:.6g} |")
    return "\n".join(lines) + "\n"


def main(argv=None) -> int:
    paths = (argv if argv is not None else sys.argv[1:]) or sorted(
        glob.glob(os.path.join(".perfbench_work", "traces", "*.json")))
    if not paths:
        print("no span files; run perfbench/run.py with --trace 1 first", file=sys.stderr)
        return 1
    print("\n".join(report(p) for p in paths))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
