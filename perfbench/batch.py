"""``batch``: seed-shuffled passes over 10 fixed registry gates.

Closed loop, one client. Each gate's DataFrame is collected and checked
against its DuckDB oracle from ``queries.ALL``, order-insensitively and
with ``tools/check_correctness.py``'s float tolerance. The index and the
result cache are never used.
"""

from __future__ import annotations

import math
import random
import sys

from perfbench.common import Ctx, Window, canon_rows, collect, run_op

#: gate -> family: two gates for each family of layers a pass exercises
GATES = {
    "flagship_order_records": "queries",
    "pricing_summary": "queries",
    "asof_purchase_click": "operators",
    "nation_transitive_closure": "operators",
    "dedup_exact": "dedup",
    "dedup_minhash_pairs": "dedup",
    "knn_bruteforce": "similarity",
    "knn_ivf_exact": "similarity",
    "token_frequencies": "functions",
    "udaf_weighted_price": "functions",
}
FAMILIES = sorted(set(GATES.values()))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings"
PASSES = 64  # more shuffled passes than any window can use
PASS_S = 12.0  # nominal seconds per warm pass on 4 cores


def _oracle(sf_dir: str) -> dict:
    import duckdb

    from linqonsteroids_spark.queries import ALL

    con = duckdb.connect()
    try:
        for t in TABLES.split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in GATES:
            res = con.execute(ALL[name][1])
            out[name] = canon_rows([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def make_inputs(sf_dir: str, seed: int, input_dir: str, seconds: float) -> dict:
    rng = random.Random(seed)
    passes = []
    for _ in range(PASSES):
        order = list(GATES)
        rng.shuffle(order)
        passes.append(order)
    return {"passes": passes, "oracle": _oracle(sf_dir)}


def same(got: tuple, want: tuple) -> bool:
    """``tools/check_correctness.py``'s rule: same column names, same row
    count, and cell by cell equal, floats within 1e-9."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc or len(gr) != len(wr):
        return False
    for a_row, b_row in zip(gr, wr):
        for a, b in zip(a_row, b_row):
            if a is None and b is None:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if a != b and not (
                    (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=0, abs_tol=1e-9)
                ):
                    return False
            elif a != b:
                return False
    return True


class Batch:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.pass_no = 0

    def setup(self) -> None:
        pass

    def _gate(self, name: str, sink: list):
        from linqonsteroids_spark.queries import ALL

        tr = self.ctx.tr
        with tr.span("queries.build", gate=name):
            df = ALL[name][0](self.ctx.spark, self.ctx.sf_dir)
        with tr.span(f"{GATES[name]}.exec", gate=name):
            rows = collect(tr, df)
        sink.append(canon_rows(list(df.columns), [tuple(r) for r in rows]))
        return True

    def _run_pass(self, order: list[str], tag: str, win: Window) -> None:
        got: list = []
        oracle = self.ctx.inputs["oracle"]
        for name in order:
            win.ops.append(run_op(self.ctx.tr, f"{tag}-{name}", name, lambda n=name: self._gate(n, got)))
        # outputs are checked after the pass so checking stays out of the timing
        done = iter(got)
        for rec in win.ops[-len(order):]:
            if rec.ok and not same(next(done), oracle[rec.kind]):
                print(f"op {tag}-{rec.kind} returned a wrong result", file=sys.stderr)
                rec.ok = False

    def warm(self) -> Window:
        """One pass in registry order, so class loading, code generation and
        Python-worker start-up are paid before the window."""
        win = Window()
        self._run_pass(list(GATES), "warm", win)
        return win

    def window(self, seconds: float, tag: str) -> Window:
        """Whole passes, as many as fit in ``seconds`` at the nominal pass
        time (at least one), so every window runs the same set of gates
        however fast the program is."""
        win = Window()
        for _ in range(max(1, int(seconds // PASS_S))):
            order = self.ctx.inputs["passes"][self.pass_no % PASSES]
            self.pass_no += 1
            self._run_pass(order, f"{tag}-p{self.pass_no}", win)
        # one client: the window is the ops' busy time, checks left out
        win.wall_s = sum(o.latency_s for o in win.ops)
        return win
