"""Pieces shared by the workloads: the op log, closed-loop clients,
collection with plan/exec spans, and small measurement helpers."""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field


@dataclass
class OpRecord:
    kind: str
    latency_s: float
    ok: bool


@dataclass
class Window:
    """What one measured window produced."""

    ops: list[OpRecord] = field(default_factory=list)
    wall_s: float = 0.0
    extra: dict = field(default_factory=dict)

    def latencies(self, kinds: tuple[str, ...] | None = None) -> list[float]:
        return [o.latency_s for o in self.ops if kinds is None or o.kind in kinds]


class Ctx:
    """Everything a workload needs: the session, the tracer, the generated
    inputs and the input tables' directory."""

    def __init__(self, spark, tracer, inputs: dict, sf_dir: str):
        self.spark = spark
        self.tr = tracer
        self.inputs = inputs
        self.sf_dir = sf_dir


def collect(tr, df) -> list:
    """Collect ``df``. The traced run first forces the physical plan so
    that planning (``spark.plan``) and execution (``spark.exec``) are
    timed apart; the collect then reuses the planned query."""
    if tr.enabled:
        with tr.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
    with tr.span("spark.exec"):
        return df.collect()


def run_op(tr, op_id: str, kind: str, fn) -> OpRecord:
    """Time one op. ``fn`` returns True when its output checked out; an
    exception or a wrong output counts the op as failed."""
    t0 = time.monotonic()
    try:
        with tr.op(op_id, kind):
            ok = bool(fn())
    except Exception:  # noqa: BLE001 - a failing op is counted, not fatal
        print(f"op {op_id} ({kind}) raised:", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)
        ok = False
    rec = OpRecord(kind, time.monotonic() - t0, ok)
    if not ok:
        print(f"op {op_id} ({kind}) failed", file=sys.stderr)
    return rec


def closed_loop(tr, clients: int, next_op, tag: str, seconds: float = 0.0, count: int = 0) -> Window:
    """``clients`` threads, each sending its next op only after the
    previous one returned, until ``seconds`` have passed or, with
    ``count``, until each client sent ``count`` ops. ``next_op(c, i)``
    gives client ``c``'s ``i``-th op as ``(kind, fn)``."""
    win = Window()
    lock = threading.Lock()
    deadline = time.monotonic() + seconds
    errors: list[BaseException] = []

    def more(i: int) -> bool:
        return i < count if count else time.monotonic() < deadline

    def client(c: int) -> None:
        try:
            i = 0
            while more(i):
                kind, fn = next_op(c, i)
                rec = run_op(tr, f"{tag}-c{c}-{i}", kind, fn)
                with lock:
                    win.ops.append(rec)
                i += 1
        except BaseException as e:  # noqa: BLE001 - re-raised after join
            errors.append(e)

    t0 = time.monotonic()
    threads = [threading.Thread(target=client, args=(c,), name=f"client-{c}") for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    win.wall_s = time.monotonic() - t0
    if errors:
        raise errors[0]
    return win


def quantile(values: list[float], q: float) -> float:
    """Inclusive quantile ``q`` in (0, 1) of ``values``."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def canon_rows(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows sorted canonically, the
    order-insensitive form both sides of a check are compared in."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    key = lambda r: tuple((v is None, str(v)) for v in r)  # noqa: E731
    return [cols[i] for i in order], sorted((tuple(r[i] for i in order) for r in rows), key=key)
