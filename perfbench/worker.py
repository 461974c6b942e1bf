"""One benchmark run inside a fresh process: set up the program, warm
it, measure, and write the result for ``perfbench/run.py``.

Run by ``run.py`` as ``python3 -m perfbench.worker`` from the repository
root, with the run's private directories already in the environment.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import statistics
import time

from perfbench.common import Ctx, quantile, vm_hwm_mb
from perfbench.trace import Tracer

#: end-to-end metrics, reported by every workload (units)
E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "p50_s": "s", "p90_s": "s"}
#: per-layer metrics: median seconds per call of a layer's span
LAYER_SPANS = [
    "catalog.load_table", "api.build", "plans.optimize", "plans.cache_probe", "queries.build",
    "spark.plan", "spark.exec",
]
#: spans and samples only ``ingest`` has, reported by it alone
MOR_SPANS = ["operators.mor.merge_into", "operators.mor.lookup", "operators.mor.read",
             "operators.mor.compact"]
#: per-layer metrics: median py4j round trips per call, on the calling thread
PY4J_SPANS = {"api.py4j": "api.build", "plans.optimize_py4j": "plans.optimize",
              "queries.py4j": "queries.build"}
SPARK_COUNTERS = {"jobs": "count", "stages": "count", "tasks": "count", "input_bytes": "bytes",
                  "shuffle_write_bytes": "bytes", "executor_cpu_s": "s"}


def _workload(name: str, ctx: Ctx):
    if name == "lookup":
        from perfbench.lookup import Lookup as cls
    elif name == "batch":
        from perfbench.batch import Batch as cls
    else:
        from perfbench.ingest import Ingest as cls
    return cls(ctx)


def _median(xs: list, default: float = 0.0) -> float:
    return statistics.median(xs) if xs else default


def end_to_end(win, setup_s: float) -> dict:
    lat = win.latencies()
    m = {
        "setup_s": setup_s,
        "ops_per_s": len(win.ops) / win.wall_s,
        "p50_s": quantile(lat, 0.5),
        "p90_s": quantile(lat, 0.9),
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in m.items()}


def details(win, rss_mb: float) -> dict:
    """Figures printed beside the metrics, not gated: sample count,
    failures, peak memory, latency by op kind, and the splits only
    ``ingest`` can report."""
    out = {"ops": len(win.ops), "failed_frac": sum(not o.ok for o in win.ops) / len(win.ops),
           "peak_rss_mb": rss_mb}
    kinds = sorted({o.kind for o in win.ops})
    out["by_kind"] = {k: [len(win.latencies((k,))), quantile(win.latencies((k,)), 0.5)] for k in kinds}
    writes, reads = win.latencies(("merge",)), win.latencies(("lookup", "rollup"))
    if writes:
        out["write_p50_s"] = quantile(writes, 0.5)
        out["read_p50_s"] = quantile(reads, 0.5)
    if "space_amp" in win.extra:
        out["space_amp"] = _median(win.extra["space_amp"])
    return out


def _layer_unit(name: str) -> str:
    if name.split(".", 1)[1] in SPARK_COUNTERS:
        return SPARK_COUNTERS[name.split(".", 1)[1]]
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_ratio", "_frac", "write_amp")):
        return "ratio"
    return "bytes" if name.endswith("bytes_on_disk") else "count"


def per_layer(tr: Tracer, win, untraced_ops_per_s: float) -> dict:
    """Every per-layer metric; a layer the workload does not call reads 0."""
    by_name: dict[str, list] = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)

    def durations(name: str) -> list[float]:
        return [s.end - s.start for s in by_name.get(name, [])]

    def ratio(name: str, attr: str) -> float:
        spans = by_name.get(name, [])
        return sum(bool(s.attrs.get(attr)) for s in spans) / len(spans) if spans else 0.0

    m = {
        "session.get_spark_s": _median(durations("session.get_spark")),
        "plans.add_index_s": _median(durations("plans.add_index")),
    }
    for name in LAYER_SPANS:
        m[f"{name}_s"] = _median(durations(name))
    for metric, name in PY4J_SPANS.items():
        m[metric] = _median([s.py4j for s in by_name.get(name, [])])
    m["plans.rewrite_ratio"] = ratio("plans.optimize", "rewrote")
    m["plans.cache_hit_ratio"] = ratio("plans.cache_probe", "hit")
    ops = tr.op_stats
    for k in SPARK_COUNTERS:
        m[f"spark.{k}"] = sum(o[k] for o in ops) / len(ops) if ops else 0.0
    from perfbench.batch import FAMILIES, GATES

    passes = max(1, len(win.ops) // len(GATES))
    for fam in FAMILIES:
        m[f"{fam}.exec_s"] = sum(durations(f"{fam}.exec")) / passes
    if by_name.get(MOR_SPANS[0]):
        for name in MOR_SPANS:
            m[f"{name}_s"] = _median(durations(name))
        for k in ("write_amp", "live_versions", "bytes_on_disk"):
            m[f"operators.mor.{k}"] = _median(win.extra[k])
    traced_ops_per_s = len(win.ops) / win.wall_s
    m["trace.overhead_frac"] = 1.0 - traced_ops_per_s / untraced_ops_per_s
    return {k: {"value": v, "unit": _layer_unit(k)} for k, v in m.items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--trace-out", required=True)
    a = ap.parse_args()
    t_spawn = float(os.environ["PERFBENCH_T0"])  # parent's monotonic clock at spawn

    t = time.monotonic()
    with open(os.path.join(a.run_dir, "inputs.pkl"), "rb") as fh:
        inputs = pickle.load(fh)
    bench_s = time.monotonic() - t  # benchmark-side work, kept out of setup_s

    from linqonsteroids_spark.session import get_spark

    tr = Tracer(enabled=bool(a.trace))
    with tr.span("session.get_spark"):
        spark = get_spark(f"perfbench-{a.workload}")
    tr.attach(spark)
    ctx = Ctx(spark, tr, inputs, a.sf_dir)
    wl = _workload(a.workload, ctx)
    wl.setup()
    tr.enabled = False  # warm-up is neither measured nor traced
    warm = wl.warm()
    setup_s = time.monotonic() - t_spawn - bench_s

    win = wl.window(a.seconds, "run")
    attempted = len(warm.ops) + len(win.ops)
    failed = sum(not o.ok for o in warm.ops + win.ops)
    if a.trace:
        # untraced, traced, untraced: the program still speeds up from one
        # window to the next, and comparing the traced window with the mean
        # of its neighbours cancels a steady drift
        tr.enabled = True
        traced = wl.window(a.seconds, "traced")
        tr.enabled = False
        after = wl.window(a.seconds, "after")
        extra = traced.ops + after.ops
        attempted += len(extra)
        failed += sum(not o.ok for o in extra)
        untraced_ops_per_s = (len(win.ops) / win.wall_s + len(after.ops) / after.wall_s) / 2
        metrics = per_layer(tr, traced, untraced_ops_per_s)
    else:
        metrics = end_to_end(win, setup_s)
    rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
    result = {
        "attempted": attempted, "failed": failed, "metrics": metrics, "details": details(win, rss_mb),
    }
    tr.close()
    spark.stop()
    if a.trace:
        with open(a.trace_out, "w") as fh:
            json.dump(tr.dump(), fh)
    with open(os.path.join(a.run_dir, "result.json"), "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
