"""``tpch``: the analyst's relational queries — TPC-H entries of
``plans.QUERIES``, run as part of the ``analyze`` workload: an iteration
collects each query once, in a seeded order.

Read-only and dominated by joins, aggregates and shuffles: where
Catalyst/AQE, session shuffle settings and driver-side plan construction
show, and the "no change" check for write-path work.  Each collected
result is compared, outside the timed region, with the query's DuckDB
``ORACLE`` SQL over the same generated tables.
"""

from __future__ import annotations

import os

import numpy as np

import checks
import datagen
from harness import median

SF = 0.01
#: A fixed subset of the 21 TPC-H entries within a run's time budget:
#: a scan-aggregate, a 6-way join, an IN subquery over a large aggregate
#: and EXISTS / NOT EXISTS subqueries over a 4-way join.
QUERY_NAMES = [
    "q1_pricing_summary",
    "q5_regional_supplier_volume",
    "q18_large_volume_customers",
    "q21_sole_returned_supplier",
]


class Tpch:
    name = "tpch"

    def generate(self, rng: np.random.Generator, root: str) -> dict:
        src = os.path.join(root, "src")
        datagen.write_tables(datagen.star_tables(rng, SF), src)
        return {"src": src, "order": datagen.query_order(rng, QUERY_NAMES, 64)}

    def setup(self, ctx, state: dict) -> None:
        con = checks.connect({t: f"{state['src']}/{t}.parquet" for t in datagen.STAR_TABLES})
        state["expect"] = {}
        for name in QUERY_NAMES:
            cur = con.execute(ctx.eng.plans.ORACLE[name])
            cols = [d[0] for d in cur.description]
            state["expect"][name] = checks.result_signature(cols, cur.fetchall())
        con.close()

    def trace_targets(self, eng) -> tuple[list, set]:
        return [(eng.catalog, "load_table", "catalog.load_table")], set()

    def iteration(self, ctx, state: dict, i: int) -> dict:
        spark, queries, src = ctx.spark, ctx.eng.plans.QUERIES, state["src"]
        got = {}
        for name in state["order"][i % len(state["order"])]:
            def run(name=name):
                with ctx.tracer.span("plans.build"):
                    df = queries[name](spark, src)
                with ctx.tracer.span("plans.exec"):
                    return df.columns, [tuple(r) for r in df.collect()]
            got[name] = ctx.op("plans.query", run)
        return {"got": got}

    def check(self, ctx, state: dict, res: dict) -> list[str]:
        bad = []
        for name, out in res["got"].items():
            if out is None:  # the query failed, already counted
                continue
            sig, want = checks.result_signature(*out), state["expect"][name]
            if sig != want:
                bad.append(f"tpch: {name} (rows, columns, hash) = {sig} != oracle {want}")
        return bad

    def end_iteration(self, ctx, state: dict, res: dict) -> None:
        pass

    def layer_metrics(self, tr, state: dict, iters: list[tuple[int, dict]]) -> dict:
        m: dict[str, list[float]] = {}
        for i, _ in iters:
            execs = tr.named("plans.exec", i)
            inc = [tr.inclusive(s) for s in execs]
            for key, val in (
                ("plans.build_s", sum(s.duration for s in tr.named("plans.build", i))),
                ("plans.exec_s", sum(s.duration for s in execs)),
                ("plans.spark_jobs", sum(c["jobs"] for c in inc)),
                ("plans.tasks", sum(c["tasks"] for c in inc)),
                ("plans.input_bytes", sum(c["input_bytes"] for c in inc)),
                ("plans.shuffle_read_bytes", sum(c["shuffle_read_bytes"] for c in inc)),
                ("plans.shuffle_write_bytes", sum(c["shuffle_write_bytes"] for c in inc)),
                ("plans.slot_util", tr.slot_util(execs)),
                ("plans.gc_s", sum(c["gc_s"] for c in inc)),
                ("catalog.load_table_s", sum(s.duration for s in tr.named("catalog.load_table", i))),
                ("catalog.load_table_calls", len(tr.named("catalog.load_table", i))),
            ):
                m.setdefault(key, []).append(val)
        return {k: median(v) for k, v in m.items()}
