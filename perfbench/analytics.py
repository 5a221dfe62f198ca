"""``analytics``: a fixed pass over Catalyst-native relational queries.

One round runs each query of :data:`QUERIES` once on the 10x key-offset
replica of a generated fixture: the registered constructor followed by
``collect()``.  No Python UDF runs and construction is small, so this
workload should not move for driver-side construction, kernel or cache
changes; scan, shuffle and codegen do the work.
"""

from __future__ import annotations

import math
import os

import duckdb
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import Recorder, grid_points, kernel_times

QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_nation_revenue",
    "q9_product_type_profit", "q13_customer_distribution", "q18_large_orders",
    "w1_topk_per_group", "e1_tumbling_window", "e4_grouped_quantiles",
]
#: q1's additive columns: exactly 10x on the 10x replica
Q1_SUMS = ["sum_qty_cents", "sum_base_cents", "sum_disc_cents",
           "sum_charge_tenthcents", "count_order"]


def inputs(root: str, seed: int, repo: str) -> dict:
    return gen.analytics_inputs(root, seed, repo)


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def canonical(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Order-insensitive form: columns by name, floats to 9 places, rows
    sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return out


def duck(path: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in gen.ANALYTICS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/{t}.parquet')")
    return con


class Workload:
    def __init__(self, spark, files: dict, seed: int, rec: Recorder, work: str):
        from overturemaps_duckdb_spark.queries import ORACLES, QUERIES as REG, load_all

        load_all()
        self.spark, self.rec, self.files = spark, rec, files
        self.registry, self.oracles = REG, ORACLES
        self.log: list[dict] = []

    def _pass(self) -> dict:
        out = {}
        for name in QUERIES:
            with self.rec.call(name, repeat=True):
                with self.rec.phase("construct"):
                    df = self.registry[name](self.spark, self.files["x10"])
                rows = df.collect()
                self.rec.executed(df)
            out[name] = (list(df.columns), [tuple(r) for r in rows])
        return out

    def setup(self) -> None:
        """Untimed warm-up: one pass over the query set."""
        self._pass()

    def round(self) -> None:
        self.log.append(self._pass())

    def install_tracing(self, tracer) -> None:
        pass

    def kernels(self) -> dict:
        x10 = self.files["x10"]
        names = pq.read_table(os.path.join(x10, "part.parquet"), columns=["p_name"])
        tokens = [w for t in names.column("p_name").to_pylist() for w in t.split()]
        keys = pq.read_table(os.path.join(x10, "customer.parquet"),
                             columns=["c_custkey"]).column("c_custkey").to_numpy()
        return kernel_times(tokens, grid_points(keys),
                            [self.oracles[name] for name in QUERIES])

    def check(self) -> list[str]:
        errors = []
        con = duck(self.files["x10"])
        first = self.log[0]
        for name in QUERIES:
            cols, rows = first[name]
            try:
                cur = con.execute(self.oracles[name])
                want = canonical([c[0] for c in cur.description], cur.fetchall())
            except duckdb.Error as exc:
                errors.append(f"{name}: oracle failed: {exc}")
                continue
            got = canonical(cols, rows)
            if got != want:
                errors.append(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
            for later in self.log[1:]:
                if canonical(*later[name]) != got:
                    errors.append(f"{name}: a later pass returned other rows")
                    break
        # q1 on the replica is exactly 10x q1 on the base fixture
        base = duck(self.files["base"])
        cur = base.execute(self.oracles["q1_pricing_summary"])
        bcols = [c[0] for c in cur.description]
        brows = {(r[0], r[1]): dict(zip(bcols, r)) for r in cur.fetchall()}
        cols, rows = first["q1_pricing_summary"]
        for r in rows:
            d = dict(zip(cols, r))
            b = brows.get((d["l_returnflag"], d["l_linestatus"]))
            if b is None or any(d[c] != gen.REPLICAS * b[c] for c in Q1_SUMS):
                errors.append(f"q1 group {d['l_returnflag']}{d['l_linestatus']} is not 10x the base")
        if len(rows) != len(brows):
            errors.append("q1 groups differ from the base fixture's")
        return errors

