"""``ingest``: merges beside reads on a merge-on-read table of orders.

Closed loop, one client. Each cycle merges 200 seeded rows (updates,
inserts and deletes in a 120/40/40 split, so the table size stays put),
then reads back the keys just written with 4 ``MorTable.lookup`` calls
and rolls up ``table.read()`` by status through the result cache; every
write changes the snapshot, so that probe always misses. Every
``PERIOD`` cycles the table is compacted. All reads are checked against
the benchmark's own model of the rows it wrote.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time

from perfbench.common import Ctx, Window, collect, dir_bytes, run_op

PERIOD = 2  # cycles between compactions
PERIOD_S = 10.0  # nominal seconds per period on 4 cores
N_UPDATE, N_INSERT, N_DELETE = 120, 40, 40
LOOKUPS, KEYS_PER_LOOKUP = 4, 10
STATUSES = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DELETE = "D"  # status that marks a source row as a delete
COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
           "o_orderpriority"]


def periods(seconds: float) -> int:
    """Compaction periods in a window: as many as fit in ``seconds`` at the
    nominal period time, at least one."""
    return max(1, int(seconds // PERIOD_S))


def _count(agg: dict, row: tuple, sign: int) -> None:
    """Add (``sign`` 1) or remove (-1) ``row`` from the status rollup."""
    a = agg.setdefault(row[2], [0, 0])
    a[0] += sign
    a[1] += sign * round(row[3] * 100)


def make_inputs(sf_dir: str, seed: int, input_dir: str, seconds: float) -> dict:
    """Seeded merge batches, simulated against a model of the table so
    each cycle's expected lookups, rollup and merge counts are known.
    Each batch is written to ``input_dir`` as a parquet file, the form in
    which the program receives it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "orders.parquet"), columns=COLUMNS)
    model = {r[0]: r for r in zip(*(t[c].to_pylist() for c in COLUMNS))}
    agg: dict[str, list[int]] = {}
    for r in model.values():
        _count(agg, r, 1)
    live = list(model)
    next_key = max(live) + 1
    rng = random.Random(seed)
    cycles = []
    # the warm-up cycle, then at most three windows (a traced run's)
    for _ in range(1 + 3 * periods(seconds) * PERIOD):
        picked = rng.sample(range(len(live)), N_UPDATE + N_DELETE)
        upd_keys = [live[i] for i in picked[:N_UPDATE]]
        del_keys = [live[i] for i in picked[N_UPDATE:]]
        rows = []
        for k in upd_keys:
            old = model[k]
            rows.append((k, old[1], rng.choice(STATUSES), rng.randint(100_000, 50_000_000) / 100,
                         old[4], old[5]))
        for k in del_keys:
            rows.append(model[k][:2] + (DELETE,) + model[k][3:])
        for k in range(next_key, next_key + N_INSERT):
            rows.append((k, rng.randint(1, 15_000), rng.choice(STATUSES),
                         rng.randint(100_000, 50_000_000) / 100,
                         dt.datetime(1992, 1, 1) + dt.timedelta(days=rng.randint(0, 2400)),
                         rng.choice(PRIORITIES)))
        next_key += N_INSERT
        rng.shuffle(rows)
        for r in rows:
            if r[0] in model:
                _count(agg, model.pop(r[0]), -1)
            if r[2] != DELETE:
                model[r[0]] = r
                _count(agg, r, 1)
        for i in sorted(picked[N_UPDATE:], reverse=True):
            live[i] = live[-1]
            live.pop()
        live.extend(range(next_key - N_INSERT, next_key))
        written = [r[0] for r in rows]
        lookups = []
        for _ in range(LOOKUPS):
            keys = rng.sample(written, KEYS_PER_LOOKUP)
            lookups.append((keys, sorted(_state(model[k]) for k in keys if k in model)))
        path = os.path.join(input_dir, f"merge-{len(cycles):03d}.parquet")
        pq.write_table(pa.Table.from_pylist([dict(zip(COLUMNS, r)) for r in rows], schema=t.schema), path)
        cycles.append({
            "source": path,
            "counts": {"updated": N_UPDATE, "deleted": N_DELETE, "inserted": N_INSERT},
            "payload_bytes": sum(8 * 4 + len(r[2]) + len(r[5]) for r in rows),
            "lookups": lookups,
            "rollup": sorted((s, n, c) for s, (n, c) in agg.items() if n),
        })
    return {"cycles": cycles}


def _state(row) -> tuple:
    """What a read is checked on: key, status and price in cents."""
    return (row[0], row[2], round(row[3] * 100))


class Ingest:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.cycle = 0
        self.since_compact = 0

    def setup(self) -> None:
        from linqonsteroids_spark.catalog import load_table
        from linqonsteroids_spark.operators.mor import MorTable
        from linqonsteroids_spark.plans.result_cache import ResultCache

        c = self.ctx
        scratch = os.environ["SPARK_GRAFT_SCRATCH"]
        self.path = os.path.join(scratch, "orders_mor")
        self.table = MorTable(c.spark, self.path, "o_orderkey")
        self.table.write_base(load_table(c.spark, c.sf_dir, "orders").select(*COLUMNS))
        self.cache = ResultCache(c.spark, os.path.join(scratch, "result_cache"))

    # -- ops --------------------------------------------------------------------
    def _merge(self, cyc: dict) -> bool:
        tr = self.ctx.tr
        src = self.ctx.spark.read.parquet(cyc["source"])
        with tr.span("operators.mor.merge_into"):
            res = self.table.merge_into(
                source=src,
                clauses=[
                    ("matched", f"o_orderstatus = '{DELETE}'", "delete"),
                    ("matched", None, "update"),
                    ("not_matched", None, "insert"),
                ],
            )
        return all(res.get(k) == v for k, v in cyc["counts"].items())

    def _lookup(self, keys: list, want: list) -> bool:
        tr = self.ctx.tr
        with tr.span("operators.mor.lookup"):
            df = self.table.lookup(keys)
        got = sorted(
            (r.o_orderkey, r.o_orderstatus, round(r.o_totalprice * 100)) for r in collect(tr, df)
        )
        return got == want

    def _rollup(self, want: list) -> bool:
        from pyspark.sql import functions as F

        tr = self.ctx.tr
        with tr.span("operators.mor.read"):
            df = self.table.read()
        df = df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
        )
        with tr.span("plans.cache_probe") as sp:
            res, hit = self.cache.get_or_materialize(df)
            if sp is not None:
                sp.attrs["hit"] = hit
        return sorted((r.o_orderstatus, r.n, r.cents) for r in collect(tr, res)) == want

    def _compact(self) -> bool:
        with self.ctx.tr.span("operators.mor.compact"):
            self.table.compact()
        return True

    # -- loop -------------------------------------------------------------------
    def _run_cycle(self, tag: str, win: Window) -> None:
        cyc = self.ctx.inputs["cycles"][self.cycle]
        self.cycle += 1
        tr, st = self.ctx.tr, win.extra
        t = f"{tag}-{self.cycle}"
        before = dir_bytes(self.path) if tr.enabled else 0
        win.ops.append(run_op(tr, f"{t}-merge", "merge", lambda: self._merge(cyc)))
        if tr.enabled:
            added = dir_bytes(self.path) - before
            st.setdefault("write_amp", []).append(added / cyc["payload_bytes"])
            st.setdefault("live_versions", []).append(len(self.table.table_status()["versions"]))
        for j, (keys, want) in enumerate(cyc["lookups"]):
            win.ops.append(run_op(tr, f"{t}-lookup{j}", "lookup", lambda: self._lookup(keys, want)))
        win.ops.append(run_op(tr, f"{t}-rollup", "rollup", lambda: self._rollup(cyc["rollup"])))
        self.since_compact += 1
        if self.since_compact == PERIOD:
            # space amplification: bytes on disk just before the compaction
            # over the bytes of the same rows freshly compacted
            self.since_compact = 0
            st.setdefault("bytes_on_disk", []).append(dir_bytes(self.path))
            win.ops.append(run_op(tr, f"{t}-compact", "compact", self._compact))
            st.setdefault("space_amp", []).append(st["bytes_on_disk"][-1] / dir_bytes(self.path))

    def warm(self) -> Window:
        """One cycle; the window then starts a fresh compaction period."""
        win = Window()
        self._run_cycle("warm", win)
        self.since_compact = 0
        return win

    def window(self, seconds: float, tag: str) -> Window:
        """Whole compaction periods (see ``periods``), so every window holds
        the same mix of ops however fast the program is."""
        win = Window()
        t0 = time.monotonic()
        for _ in range(periods(seconds) * PERIOD):
            self._run_cycle(tag, win)
        win.wall_s = time.monotonic() - t0
        return win
