"""``lookup``: point, range and cached-rollup reads from concurrent clients.

Closed loop, ``CLIENTS`` clients sharing one driver. Set-up indexes
orders by ``o_custkey`` and by ``o_totalprice`` and opens an empty
result cache. Each client repeats shuffled blocks of 12 ``point``, 5
``range`` and 3 ``cached_rollup`` ops (60/25/15 %). Customer keys are
Zipf-skewed, so the cache hit ratio follows key skew.
"""

from __future__ import annotations

import os

import numpy as np

from perfbench.common import Ctx, closed_loop, collect

CLIENTS = 4
BLOCK = ["point"] * 12 + ["range"] * 5 + ["cached_rollup"] * 3
ZIPF_S = 1.5  # hot customers repeat, so cache hits dominate the rollups
RANGE_WIDTH = 100.0  # dollars; about 30 orders per band at sf0.1
OPS_PER_CLIENT = 400  # more than three windows of a minute can use
#: per-client warm-up ops, from a separate stream; the rollups fill the
#: cache with the hottest customers, as a long-running service would have
WARM = ["cached_rollup", "point", "cached_rollup", "range", "cached_rollup"]


def make_inputs(sf_dir: str, seed: int, input_dir: str, seconds: float) -> dict:
    """Seeded op streams and, for every op, the expected result computed
    from ``orders.parquet`` without Spark."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "orders.parquet"),
                      columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"])
    okey = t["o_orderkey"].to_numpy()
    cust = t["o_custkey"].to_numpy()
    status = t["o_orderstatus"].to_numpy(zero_copy_only=False)
    price = t["o_totalprice"].to_numpy()
    cents = np.round(price * 100).astype(np.int64)

    by_cust: dict[int, np.ndarray] = {}
    order = np.argsort(cust, kind="stable")
    bounds = np.flatnonzero(np.diff(cust[order])) + 1
    for grp in np.split(order, bounds):
        by_cust[int(cust[grp[0]])] = grp
    by_price = np.argsort(price, kind="stable")
    sorted_price = price[by_price]

    rng = np.random.default_rng(seed)
    custs = np.array(sorted(by_cust))
    hot = rng.permutation(custs)  # rank -> customer
    p = 1.0 / np.arange(1, len(hot) + 1) ** ZIPF_S
    p /= p.sum()
    lo_p, hi_p = float(sorted_price[0]), float(sorted_price[-1])

    def expect(kind: str, a, b):
        if kind == "point":
            g = by_cust[a]
            g = g[price[g] > b]
            return sorted(zip(okey[g].tolist(), price[g].tolist()))
        if kind == "range":
            i, j = np.searchsorted(sorted_price, [a, b], side="left")
            g = by_price[i:j]
            return sorted(zip(okey[g].tolist(), price[g].tolist()))
        g = by_cust[a]
        out = {}
        for s, c in zip(status[g].tolist(), cents[g].tolist()):
            n, tot = out.get(s, (0, 0))
            out[s] = (n + 1, tot + c)
        return sorted((s, n, tot) for s, (n, tot) in out.items())

    def stream(kinds: list[str]) -> list:
        keys = hot[rng.choice(len(hot), size=len(kinds), p=p)]
        ops = []
        for kind, k in zip(kinds, keys.tolist()):
            if kind == "point":
                a, b = int(k), round(float(rng.uniform(lo_p, hi_p / 2)), 2)
            elif kind == "range":
                a = round(float(rng.uniform(lo_p, hi_p - RANGE_WIDTH)), 2)
                b = a + RANGE_WIDTH
            else:
                a, b = int(k), None
            ops.append((kind, a, b, expect(kind, a, b)))
        return ops

    def blocks() -> list[str]:
        kinds: list[str] = []
        while len(kinds) < OPS_PER_CLIENT:
            kinds.extend(rng.permutation(BLOCK).tolist())
        return kinds[:OPS_PER_CLIENT]

    return {
        "warm": [stream(WARM) for _ in range(CLIENTS)],
        "ops": [stream(blocks()) for _ in range(CLIENTS)],
    }


class Lookup:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.repo = None
        self.cache = None

    def setup(self) -> None:
        from linqonsteroids_spark.api import lift
        from linqonsteroids_spark.catalog import load_table
        from linqonsteroids_spark.plans.registry import IndexRepository
        from linqonsteroids_spark.plans.result_cache import ResultCache

        c, tr = self.ctx, self.ctx.tr
        scratch = os.environ["SPARK_GRAFT_SCRATCH"]
        self.repo = IndexRepository(c.spark, os.path.join(scratch, "index"))
        orders = load_table(c.spark, c.sf_dir, "orders")
        for name, key in (("orders_by_cust", "o_custkey"), ("orders_by_price", "o_totalprice")):
            with tr.span("plans.add_index"):
                self.repo.add_index(
                    name, lift(orders, table="orders").index_by(lambda r, k=key: getattr(r, k))
                )
        self.cache = ResultCache(c.spark, os.path.join(scratch, "result_cache"))
        self.offset = [0] * CLIENTS

    def _next(self, stream: str, start: list[int], used: list[int]):
        """Client ``c``'s ops from ``start[c]`` on; ``used[c]`` counts them."""
        ops = self.ctx.inputs[stream]

        def next_op(c: int, i: int):
            kind, a, b, want = ops[c][start[c] + i]
            used[c] = i + 1
            return kind, lambda: self._do(kind, a, b) == want

        return next_op

    def warm(self):
        zero = [0] * CLIENTS
        return closed_loop(self.ctx.tr, CLIENTS, self._next("warm", zero, list(zero)),
                           "warm", count=len(WARM))

    def window(self, seconds: float, tag: str):
        """A second window continues each client's stream where the first
        stopped, so it does not replay keys the first one cached."""
        used = [0] * CLIENTS
        win = closed_loop(self.ctx.tr, CLIENTS, self._next("ops", self.offset, used),
                          tag, seconds=seconds)
        self.offset = [o + u for o, u in zip(self.offset, used)]
        return win

    # -- ops --------------------------------------------------------------------
    def _do(self, kind: str, a, b) -> list:
        from linqonsteroids_spark.api import lift
        from linqonsteroids_spark.catalog import load_table
        from pyspark.sql import functions as F

        c, tr = self.ctx, self.ctx.tr
        with tr.span("catalog.load_table"):
            orders = load_table(c.spark, c.sf_dir, "orders")
        if kind == "cached_rollup":
            df = (
                orders.where(F.col("o_custkey") == a)
                .groupBy("o_orderstatus")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
                )
            )
            with tr.span("plans.cache_probe") as sp:
                res, hit = self.cache.get_or_materialize(df)
                if sp is not None:
                    sp.attrs["hit"] = hit
            return sorted((r.o_orderstatus, r.n, r.cents) for r in collect(tr, res))
        with tr.span("api.build"):
            if kind == "point":
                q = lift(orders, table="orders").filter(
                    lambda r: (r.o_custkey == a) & (r.o_totalprice > b)
                )
            else:
                q = lift(orders, table="orders").filter(
                    lambda r: (r.o_totalprice >= a) & (r.o_totalprice < b)
                )
        with tr.span("plans.optimize") as sp:
            out = self.repo.optimize(q)
            if sp is not None:
                sp.attrs["rewrote"] = out is not q
        return sorted((r.o_orderkey, r.o_totalprice) for r in collect(tr, out.to_df()))
