"""Spans and counters recorded from the benchmark's side of each layer call.

A :class:`Tracer` wraps calls into the program's public functions. When
enabled it records one span per call (name, start, end, parent span, op
id) and the py4j round trips made *on the calling thread* during the
call. Counting per thread keeps the count of one op exact even when
other client threads talk to the JVM at the same time. When disabled,
``span`` is a shared no-op context, so the untraced run pays nothing but
an attribute lookup.

Spark-side counters (jobs, stages, tasks, input and shuffle-write bytes,
executor CPU) come from the application status store, read after each op
in the traced run only.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass, field

_NOOP = contextlib.nullcontext()


@dataclass
class Span:
    sid: int
    name: str
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0
    attrs: dict = field(default_factory=dict)


class Py4jCounter:
    """Counts py4j commands per thread by wrapping the gateway client's
    ``send_command`` (every JVM call made through the gateway, from any
    JavaObject, goes through that one client object)."""

    def __init__(self, spark):
        self._tl = threading.local()
        client = spark.sparkContext._gateway._gateway_client
        inner = client.send_command
        tl = self._tl

        def send_command(*args, **kwargs):
            tl.n = getattr(tl, "n", 0) + 1
            return inner(*args, **kwargs)

        client.send_command = send_command
        self._client, self._inner = client, inner

    def count(self) -> int:
        return getattr(self._tl, "n", 0)

    def close(self) -> None:
        self._client.send_command = self._inner


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op_stats: list[dict] = []
        self._tl = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.py4j: Py4jCounter | None = None
        self.status: StatusCounters | None = None

    def attach(self, spark) -> None:
        """Start counting py4j round trips and Spark jobs (traced run only)."""
        if self.enabled:
            self.py4j = Py4jCounter(spark)
            self.status = StatusCounters(spark)

    def close(self) -> None:
        if self.py4j is not None:
            self.py4j.close()

    # -- ops ------------------------------------------------------------------
    @contextlib.contextmanager
    def op(self, op_id: str, kind: str):
        """Group the spans of one op; in the traced run also tag its Spark
        jobs with a job group and read their counters afterwards."""
        if not self.enabled:
            yield
            return
        self._tl.op = op_id
        mark = self.status.begin(op_id)
        try:
            yield
        finally:
            self._tl.op = None
            stats = self.status.end(op_id, mark)
            stats.update(op=op_id, kind=kind)
            with self._lock:
                self.op_stats.append(stats)

    # -- spans ----------------------------------------------------------------
    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else _NOOP

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict):
        stack = getattr(self._tl, "stack", None)
        if stack is None:
            stack = self._tl.stack = []
        with self._lock:
            self._next += 1
            sid = self._next
        sp = Span(
            sid, name, getattr(self._tl, "op", None),
            stack[-1].sid if stack else None, time.monotonic(), attrs=attrs,
        )
        stack.append(sp)
        n0 = self.py4j.count() if self.py4j else 0
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            sp.py4j = (self.py4j.count() if self.py4j else 0) - n0
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    # -- summaries --------------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Total self time per layer: a span's duration minus the part of
        it covered by its child spans (children of one span run on its
        thread, one after another, so their durations do not overlap)."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child.get(s.sid, 0.0)
        return out

    def dump(self) -> dict:
        return {
            "spans": [
                {
                    "id": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, "py4j": s.py4j, **s.attrs,
                }
                for s in self.spans
            ],
            "ops": self.op_stats,
            "self_time_s": self.self_times(),
        }


class StatusCounters:
    """Per-op Spark counters from the status store.

    Each op runs under its own job group (a thread-local Spark property),
    so concurrent clients' jobs are told apart. After the op the listener
    bus is drained, then ``jobsList`` and ``stageList`` (both newest
    first) are read down to the watermark taken when the op began.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    def _newest_job(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def begin(self, op_id: str) -> int:
        self.sc.setJobGroup(op_id, op_id)
        return self._newest_job()

    def end(self, op_id: str, mark: int) -> dict:
        self._bus.waitUntilEmpty(30_000)
        self.sc._jsc.clearJobGroup()
        want = f"Some({op_id})"
        jobs = self._store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= mark:
                break
            if j.jobGroup().toString() == want:
                n_jobs += 1
                ids = j.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.size()))
        out = {
            "jobs": n_jobs, "stages": 0, "tasks": 0, "input_bytes": 0,
            "shuffle_write_bytes": 0, "executor_cpu_s": 0.0,
        }
        if not stage_ids:
            return out
        lowest = min(stage_ids)
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid < lowest:
                break
            if sid not in stage_ids or st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["input_bytes"] += st.inputBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        return out
