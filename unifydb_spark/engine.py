"""The Engine: the reference's /query + /transact service surface (SURVEY
§2.5 V1/V2) as a Python API.

`Engine.query(q, db=...)` is the reference's `do-query`
(src/unifydb/query.clj:488-503) — normalize, compile the clause tree to a
DataFrame plan, run the find pipeline — except evaluation is Catalyst's,
not a frame-at-a-time interpreter, and the message-queue hop
(src/unifydb/util.clj:39-57) disappears: the Spark driver is the
coordinator and executors are the reference's query-worker consumer group
(query.clj:519-528) with intra-query parallelism.
"""

from __future__ import annotations

import json
from typing import Any, Optional, Union

from pyspark.sql import DataFrame, SparkSession

from unifydb_spark.store import Db, FactStore, LATEST
from unifydb_spark.values import STRUCT_SLOT, Ref, decode_json_value, decode_value
from unifydb_spark.query.parse import parse_query
from unifydb_spark.query.compile import compile_where
from unifydb_spark.query.results import process_find
from unifydb_spark.query.rules import RulesEnv, MAX_ITERATIONS


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        store: Optional[FactStore] = None,
        max_rule_iterations: int = MAX_ITERATIONS,
    ):
        self.spark = spark
        self.store = store if store is not None else FactStore(spark)
        self.max_rule_iterations = max_rule_iterations

    # -- write path (V2; report shape src/unifydb/transact.clj:109-112) ----

    def transact(self, tx_data: list) -> dict:
        return self.store.transact(tx_data)

    def db(self, tx_id: Union[int, str] = LATEST, historical: bool = False) -> Db:
        return self.store.db(tx_id, historical)

    def register_table_fn(self, name: str, fn) -> None:
        """Register a RELATION-producing query function, callable from
        :where as a function binding `[(name ?key const ...) ?out]` —
        the composition point for extension operators (e.g. ANN search
        over a persisted IVF-PQ index) into the Datalog surface.

        `fn(db, keys_df, *params)` receives the distinct bound values of
        the key variable as a one-column DataFrame (`__tf_in`, in the
        relation's repr — a raw scalar or the tagged value struct) and
        must return `(DataFrame(__tf_in, __tf_out), in_repr, out_repr)`,
        where in_repr describes the repr of the RETURNED `__tf_in`
        (the compiler unifies it with the key column across reprs); each
        produced row binds the output variable once (1:N, unlike scalar
        fn-binds).
        The returned DataFrame joins into the query's single Catalyst
        plan. See unifydb_spark.operators.ann_fn.ann_topk_table_fn.

        A callable carrying a `relation_params` attribute (a set of
        indices into the arguments AFTER the key) declares those
        positions RELATION-valued (round-15): the clause argument must
        be a bound variable, and the function receives the distinct
        (key, value) pairs as a DataFrame (`__tf_in`, `__tf_set`;
        value-only for a literal key) — the correlated per-key set —
        instead of one scalar per call. Produced bindings join back on
        the key alone. See ann_fn.ann_topk_in_table_fn."""
        self.store.table_fns[name] = fn

    # -- read path (V1) -----------------------------------------------------

    def compile(self, q: dict, db: Optional[Db] = None):
        # one log version for every read of this query (Db.pinned)
        db = (db if db is not None else self.store.db()).pinned()
        parsed = parse_query(q)
        env = RulesEnv(parsed.rules, self.max_rule_iterations)
        rel = compile_where(db, parsed.where, env)
        if any(f.__class__.__name__ == "FindPull" for f in parsed.find):
            from unifydb_spark.query.pull import attach_pulls

            rel = attach_pulls(db, rel, parsed)
        return process_find(rel, parsed)

    def query(self, q: dict, db: Optional[Db] = None) -> DataFrame:
        """Compile and return the result DataFrame (columns in find order,
        named by variable/alias)."""
        df, _ = self.compile(q, db)
        return df

    def explain(self, q: dict, db: Optional[Db] = None, mode: str = "formatted") -> str:
        """The physical plan Catalyst chose for a query — the inspection
        surface for pushdown/broadcast/shuffle review (returns the string
        rather than printing, so it can be asserted on)."""
        df, _ = self.compile(q, db)
        return df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        )

    def query_rows(self, q: dict, db: Optional[Db] = None) -> list[tuple]:
        """Collect results decoded to Python values (Ref for entity ids,
        nested lists for JSON values) — the reference's :results shape."""
        return decode_rows(*self.compile(q, db))


def decode_rows(df: DataFrame, reprs: dict) -> list[tuple]:
    """Collect a compiled query's result DataFrame, decoding each column
    by its repr (the pair `Engine.compile` returns)."""
    cols = [(name, reprs.get(name, "")) for name in df.columns]
    return [tuple(_decode(row[name], r) for name, r in cols) for row in df.collect()]


def _decode(v: Any, repr_: str) -> Any:
    if v is None:
        return None
    if repr_ == "decimal":
        return float(v)
    if repr_ == "ref":
        return Ref(v)
    if repr_ == "json":
        return decode_json_value(json.loads(v))
    if repr_ == "struct":
        d = v.asDict() if hasattr(v, "asDict") else v
        return decode_json_value(decode_value(d["t"], d, STRUCT_SLOT))
    if repr_.startswith("array<"):
        inner = repr_[6:-1]
        return [_decode(x, inner) for x in v]
    return v
