"""Benchmark entry point.

    python3 perfbench/run.py --workload {lookup,batch,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Makes the workload's inputs from the seed,
runs the program in a fresh worker process with its own scratch,
warehouse and Spark local directories (removed afterwards), checks every
op's output, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics of a
traced window and the tracing overhead, and writes the spans under
``.perfbench/out/``. Each run's record, stamped with the host's CPU
count, steal share and a single-core calibration loop, goes there too.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("lookup", "batch", "ingest")
DEADLINE_S = 175  # the whole run, inputs and clean-up included


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _calibrate() -> float:
    """Best of three timings of a fixed single-core Python loop."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        best = min(best, time.perf_counter() - t)
    return best


def _stop_group(pgid: int) -> None:
    """Stop every process left in the worker's process group (the JVM and
    its Python workers) and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> None:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "linqonsteroids_spark", "session.py")):
        _fail(f"the program (linqonsteroids_spark/) is not under {ROOT}")
    sys.path.insert(0, ROOT)
    # the read-only input tables: the program's own default location,
    # overridable with $SPARK_GRAFT_SF_DIR
    from linqonsteroids_spark.catalog import DEFAULT_SF_DIR as SF_DIR

    if not os.path.isfile(os.path.join(SF_DIR, "orders.parquet")):
        _fail(f"input tables not found under {SF_DIR}")
    if a.workload == "lookup":
        from perfbench.lookup import make_inputs
    elif a.workload == "batch":
        from perfbench.batch import make_inputs
    else:
        from perfbench.ingest import make_inputs

    out_dir = os.path.join(ROOT, ".perfbench", "out")
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{a.workload}-{a.seed}-{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("inputs", "scratch", "warehouse", "local", "tmp")}
    for d in (out_dir, *dirs.values()):
        os.makedirs(d, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    stat0, calib0 = _cpu_times(), _calibrate()
    proc = None
    try:
        with open(os.path.join(run_dir, "inputs.pkl"), "wb") as fh:
            pickle.dump(make_inputs(SF_DIR, a.seed, dirs["inputs"], a.seconds), fh)
        env = dict(
            os.environ,
            SPARK_GRAFT_SCRATCH=dirs["scratch"],
            SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
            SPARK_LOCAL_DIRS=dirs["local"],
            SPARK_GRAFT_CPUS=str(nproc),
            TMPDIR=dirs["tmp"],
            # JVM temp files in the run directory; no perf-data file in /tmp
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
            # the pandas-UDF gates' Python workers import the package
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            PERFBENCH_T0=repr(time.monotonic()),
        )
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        cmd = [
            sys.executable, "-m", "perfbench.worker", "--workload", a.workload,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--run-dir", run_dir, "--sf-dir", SF_DIR,
            "--trace-out", os.path.join(out_dir, f"trace-{tag}.json"),
        ]
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            _stop_group(proc.pid)
            proc.wait()
            _fail("the run did not finish in time")
        _stop_group(proc.pid)
        if code != 0:
            _fail(f"the worker exited with code {code}")
        with open(os.path.join(run_dir, "result.json")) as fh:
            res = json.load(fh)
    finally:
        if proc is not None and proc.poll() is None:
            _stop_group(proc.pid)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    stat1 = _cpu_times()
    delta = [b - c for b, c in zip(stat1, stat0)]
    host = {
        "nproc": nproc,
        "steal_share": delta[7] / max(1, sum(delta[:8])),
        "calibration_s": [calib0, _calibrate()],
        "wall_s": time.monotonic() - t_start,
    }
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "host": host, **res}
    with open(os.path.join(out_dir, f"record-{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(f"host: {json.dumps(host)}")
    print(f"details: {json.dumps(res['details'])}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }))


if __name__ == "__main__":
    main()
