"""`rule_fixpoint`: registry entries bound by their driver loops.

One client runs the four entries in a closed loop, in a seeded order per
pass: the recursive rule (semi-naive fixpoint) with and without a bound
argument (magic-sets seeding), connected components and PageRank. Each
result is collected with `toPandas()` and, after the timed phase, compared
with the entry's DuckDB `oracle_sql()` twin, computed once per set-up over
the same generated parquet.
"""

from __future__ import annotations

import os
import random
import shutil
import time

ENTRIES = (
    "q09_rule_recursive",
    "r137_rule_bound_reach",
    "q31_connected_components",
    "q32_pagerank",
)
# customers in the generated tables (x10 orders, ~x40 lineitems)
CUSTOMERS = 1500
# nominal seconds of one pass on a 4-core host
PASS_S = 20
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def drop_caches(spark) -> None:
    """Release operator-internal persists and checkpoint blocks between
    operations, as a long-lived session serving one query after another
    would."""
    from unifydb_spark.resources import release_persisted

    release_persisted()
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd_id in list(jsc.getPersistentRDDs().keySet().toArray()):
        jsc.sc().unpersistRDD(rdd_id, False)


class Fixpoint:
    def __init__(self, ctx, data_dir: str):
        import duckdb

        import __spark_entry__ as entries
        from perfbench import datagen

        self.ctx = ctx
        self.data_dir = data_dir
        self.data_bytes = datagen.write_tables(data_dir, ctx.seed, CUSTOMERS)
        self.entries = entries.queries()
        oracles = entries.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
            self.expected = {n: con.execute(oracles[n]).df() for n in ENTRIES}
        finally:
            con.close()
        self.rng = random.Random(ctx.seed)

    def close(self) -> None:
        shutil.rmtree(self.data_dir, ignore_errors=True)

    def op(self, name: str, op_id: str, drop: bool = True) -> dict:
        from unifydb_spark import instrument

        spark = self.ctx.spark
        sc = spark.sparkContext
        instrument.reset()
        sc.setJobGroup(op_id, name)
        rec = {"op": op_id, "kind": "query", "name": name, "ok": False}
        t0 = time.time()
        try:
            with self.ctx.span("op", op=op_id):
                df = self.entries[name](spark, self.data_dir)
                with self.ctx.span("exec.collect"):
                    rec["result"] = df.toPandas()
                if self.ctx.tracer:
                    self.ctx.tracer.capture(df)
            rec["ok"] = True
        except Exception as exc:  # a failed op is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        rec["t0"], rec["t1"] = t0, time.time()
        sc.setJobGroup(None, None)
        rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(op_id))
        c = instrument.counters
        rec["rules_rounds"] = c.get("rule_fixpoint_rounds", 0) + c.get("rule_magic_rounds", 0)
        rec["rules_delta_rows"] = c.get("rule_fixpoint_delta_rows", 0)
        rec["cc_supersteps"] = c.get("cc_supersteps", 0)
        if drop:
            drop_caches(spark)
        return rec

    def warmup(self) -> list:
        """One pass with the entries side by side (the JIT warms the same
        code paths in a third of the time); caches are dropped once all
        have finished, as a drop mid-pass would free another entry's
        checkpoint blocks."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(len(ENTRIES)) as pool:
            futures = [pool.submit(self.op, n, f"fx-warm-{i}", False)
                       for i, n in enumerate(ENTRIES)]
            records = [f.result() for f in futures]
        drop_caches(self.ctx.spark)
        return records

    def run(self, seconds: float) -> list:
        """Whole passes, each in a seeded order; one pass per PASS_S of
        `seconds` (at least one), so every run of a given length does the
        same work."""
        records = []
        for _ in range(max(1, round(seconds / PASS_S))):
            order = list(ENTRIES)
            self.rng.shuffle(order)
            for name in order:
                records.append(self.op(name, f"fx-{len(records)}"))
        return records

    def verify(self, records: list, corrupt: bool = False) -> None:
        from scripts.oracle_check import compare

        for rec in records:
            if not rec["ok"]:
                continue
            want = self.expected[rec["name"]]
            if corrupt:
                want = want.iloc[1:]
                corrupt = False
            rows, schema, exact, detail = compare(rec.pop("result"), want)
            if not (rows and schema and exact):
                rec["ok"] = False
                rec["error"] = {"mismatch": detail}
