"""``migrate``: the reference's own job end to end — catalog → DDL → copy
of the eight star/events tables into a fresh parquet destination, a JDBC
leg through embedded Derby, a re-sync (diff + upsert) of a seeded change
set on ``orders``, and a ranged delete of more than SINGLE_DELETE_THRESHOLD
``lineitem`` keys.

Write-heavy, scan-bound, shuffle-light; the only workload that runs
``converter``, ``copy``, ``delete`` and the JDBC sink.  Every iteration
writes to an empty destination and a new in-memory Derby database, so
each one takes the same code path.  A run times the job's first
iteration in the process, as a user running the migration pays it.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import checks
import datagen
from harness import dir_bytes, median

SF = 0.01                  # ~60k lineitem rows, 15k orders
DOOMED_KEYS = 12_000       # > SINGLE_DELETE_THRESHOLD, so the ranged path runs
CHANGE_SHARE = 0.03        # inserts, updates and deletes: 3% of rows each
JDBC_TABLES = (("customer", "c_custkey"), ("orders", "o_orderkey"))
RESYNC = {"orders": (["o_orderkey"], "o_orderpriority")}
LINEITEM_PK = ["l_orderkey", "l_linenumber"]


class Migrate:
    name = "migrate"

    def generate(self, rng: np.random.Generator, root: str) -> dict:
        src, chg = os.path.join(root, "src"), os.path.join(root, "changes")
        tables = datagen.star_tables(rng, SF)
        src_bytes = datagen.write_tables(tables, src)
        changes = {t: datagen.change_set(rng, tables[t], pk[0], col, CHANGE_SHARE)
                   for t, (pk, col) in RESYNC.items()}
        datagen.write_tables({t: c.changed for t, c in changes.items()}, chg)
        doomed = datagen.doomed_keys(rng, tables["lineitem"], DOOMED_KEYS)
        pq.write_table(doomed, os.path.join(root, "doomed.parquet"))
        return {"root": root, "src": src, "changes": changes, "src_bytes": src_bytes,
                "rows": {t: tab.num_rows for t, tab in tables.items()}}

    def setup(self, ctx, state: dict) -> None:
        src, root = state["src"], state["root"]
        views = {f"src_{t}": f"{src}/{t}.parquet" for t in datagen.STAR_TABLES}
        views.update({f"chg_{t}": f"{root}/changes/{t}.parquet" for t in RESYNC})
        views["doomed"] = f"{root}/doomed.parquet"
        state["con"] = con = checks.connect(views)
        state["expect"] = {t: checks.count_and_hash(con, f"src_{t}") for t in datagen.STAR_TABLES}
        for t, (pk, _) in RESYNC.items():
            keys = ", ".join(pk)
            # upsert keeps destination rows whose key the source deleted
            state["expect"][f"{t}_resync"] = checks.count_and_hash(
                con, f"(SELECT * FROM chg_{t} UNION ALL "
                     f"SELECT * FROM src_{t} ANTI JOIN chg_{t} USING ({keys}))")
        state["expect"]["survivors"] = checks.count_and_hash(
            con, "(SELECT * FROM src_lineitem ANTI JOIN doomed USING (l_orderkey, l_linenumber))")

    def trace_targets(self, eng) -> tuple[list, set]:
        return [
            (eng.converter, "convert_table", "converter.convert_table"),
            (eng.catalog, "load_table", "catalog.load_table"),
            (eng.delete, "plan_delete_ranges", "delete.plan_ranges"),
        ], set()

    def iteration(self, ctx, state: dict, i: int) -> dict:
        eng, spark = ctx.eng, ctx.spark
        mode = eng.modes.ConvertMode.DROP_AND_RECREATE
        dest = os.path.join(ctx.work, "dest", str(i))
        res = {"dest": dest, "reports": [], "jdbc": {}, "diff": {}}
        for t in datagen.STAR_TABLES:
            reports = ctx.op("converter.convert_all", lambda t=t: eng.converter.convert_all(
                spark, state["src"], dest, [t], ddl_mode=mode, data_mode=mode,
                max_table_workers=1))
            res["reports"] += reports or []

        url = f"jdbc:derby:memory:pb{i};create=true"
        drv = eng.copy.DERBY_EMBEDDED_DRIVER
        for t, _ in JDBC_TABLES:
            ctx.op("copy.write_jdbc", lambda t=t: eng.copy.write_jdbc(
                eng.catalog.load_table(spark, state["src"], t), url, t.upper(), driver=drv))
        for t, key in JDBC_TABLES:
            res["jdbc"][t] = ctx.op("copy.read_jdbc", lambda t=t, key=key: eng.copy.read_jdbc(
                spark, url, t.upper(), partition_column=key, lower_bound=0,
                upper_bound=state["rows"][t], num_partitions=4, driver=drv).count())
        _drop_derby(spark, f"jdbc:derby:memory:pb{i};drop=true")

        for t, (pk, _) in RESYNC.items():
            def diff(t=t, pk=pk):
                src = spark.read.parquet(f"{state['root']}/changes/{t}.parquet")
                dst = spark.read.parquet(f"{dest}/{t}.parquet")
                return src, dst, eng.copy.incremental_diff(src, dst, pk, src.columns)

            res["diff"][t] = ctx.op("copy.incremental_diff", lambda diff=diff: {
                r["change_type"]: r["count"]
                for r in diff()[2].groupBy("change_type").count().collect()})

            def upsert(diff=diff, t=t, pk=pk):
                src, dst, changes = diff()
                updates = src.join(changes.filter("change_type != 'delete'").select(*pk), pk, "left_semi")
                eng.copy.merge_upsert(dst, updates, pk).write.mode("overwrite").parquet(
                    f"{dest}/{t}_resync.parquet")

            ctx.op("copy.merge_upsert", upsert)

        ctx.op("delete.pipeline", lambda: eng.delete.delete_pipeline(
            spark.read.parquet(f"{dest}/lineitem.parquet"), LINEITEM_PK,
            spark.read.parquet(f"{state['root']}/doomed.parquet"), num_workers=10,
        ).write.mode("overwrite").parquet(f"{dest}/lineitem_survivors.parquet"))
        return res

    def check(self, ctx, state: dict, res: dict) -> list[str]:
        con, expect, dest, bad = state["con"], state["expect"], res["dest"], []

        def written(name: str) -> tuple[int, int] | None:
            path = f"{dest}/{name}.parquet"
            if not os.path.isdir(path):
                return None
            return checks.count_and_hash(con, f"read_parquet('{path}/*.parquet')")

        for t in datagen.STAR_TABLES:
            if written(t) != expect[t]:
                bad.append(f"migrate: {t} destination differs from source (rows, hash)")
        for t, _ in JDBC_TABLES:
            if res["jdbc"].get(t) != state["rows"][t]:
                bad.append(f"migrate: JDBC read-back of {t} = {res['jdbc'].get(t)}, wrote {state['rows'][t]}")
        for t, c in state["changes"].items():
            want = {"insert": c.inserts, "update": c.updates, "delete": c.deletes}
            if res["diff"].get(t) != want:
                bad.append(f"migrate: diff of {t} = {res['diff'].get(t)}, seeded {want}")
            if written(f"{t}_resync") != expect[f"{t}_resync"]:
                bad.append(f"migrate: upsert of {t} differs from source + kept deletes")
        if written("lineitem_survivors") != expect["survivors"]:
            bad.append("migrate: delete survivors differ from source minus doomed keys")
        return bad

    def end_iteration(self, ctx, state: dict, res: dict) -> None:
        """Record what the next iteration would overwrite, then free the disk."""
        dest = res["dest"]
        sizes = [dir_bytes(f"{dest}/{t}.parquet") for t in datagen.STAR_TABLES]
        res["dest_bytes"] = sum(b for b, _ in sizes)
        res["dest_files"] = sum(f for _, f in sizes)
        res["survivors"] = state["con"].execute(
            f"SELECT count(*) FROM read_parquet('{dest}/lineitem_survivors.parquet/*.parquet')"
        ).fetchone()[0] if os.path.isdir(f"{dest}/lineitem_survivors.parquet") else 0
        res["ranges"] = sum(len(out) for _, out, _ in ctx.calls.get("delete.plan_ranges", []))
        shutil.rmtree(dest, ignore_errors=True)

    def layer_metrics(self, tr, state: dict, iters: list[tuple[int, dict]]) -> dict:
        m: dict[str, list[float]] = {}

        def add(name, v):
            m.setdefault(name, []).append(v)

        for i, res in iters:
            def total(span):
                return sum(s.duration for s in tr.named(span, i))

            conv = tr.named("converter.convert_all", i)
            add("converter.convert_all_s", total("converter.convert_all"))
            add("converter.convert_table_s", total("converter.convert_table"))
            add("converter.spark_jobs", sum(tr.inclusive(s)["jobs"] for s in conv))
            add("converter.slot_util", tr.slot_util(conv))
            add("catalog.load_table_s", total("catalog.load_table"))
            add("catalog.load_table_calls", len(tr.named("catalog.load_table", i)))
            add("copy.rows", sum(r.result.record_count for r in res["reports"]))
            add("copy.costed_bytes", sum(r.result.byte_count for r in res["reports"]))
            add("copy.dest_bytes", res["dest_bytes"])
            add("copy.dest_files", res["dest_files"])
            add("copy.write_amp", res["dest_bytes"] / state["src_bytes"])
            w = total("copy.write_jdbc")
            add("copy.write_jdbc_s", w)
            add("copy.read_jdbc_s", total("copy.read_jdbc"))
            add("copy.jdbc_rows_per_s", sum(state["rows"][t] for t, _ in JDBC_TABLES) / w if w else 0.0)
            add("copy.incremental_diff_s", total("copy.incremental_diff"))
            add("copy.diff_changes", sum(sum(d.values()) for d in res["diff"].values() if d))
            add("copy.merge_upsert_s", total("copy.merge_upsert"))
            add("copy.shuffle_write_bytes", sum(
                tr.inclusive(s)["shuffle_write_bytes"]
                for n in ("copy.write_jdbc", "copy.read_jdbc", "copy.incremental_diff", "copy.merge_upsert")
                for s in tr.named(n, i)))
            add("delete.pipeline_s", total("delete.pipeline"))
            add("delete.plan_ranges_s", total("delete.plan_ranges"))
            add("delete.rows_deleted", state["rows"]["lineitem"] - res["survivors"])
            add("delete.ranges", res["ranges"])
        return {k: median(v) for k, v in m.items()}


def _drop_derby(spark, url: str) -> None:
    """Drop an in-memory Derby database (Derby signals success by raising)."""
    try:
        spark.sparkContext._gateway.jvm.java.sql.DriverManager.getConnection(url)
    except Exception:  # noqa: BLE001 - SQLState 08006 is the success signal
        pass
