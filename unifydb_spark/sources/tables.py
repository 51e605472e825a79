"""Relational tables as a *virtual* EAVT fact view.

FIXTURES.md §C prescribes encoding the driver's TPC-H-ish star schema into
the A-shaped facts table (row -> one fact per column, primary key -> entity
id, foreign key -> ref). Materializing that EAV table would multiply
storage by the column count and strip away every columnar-format advantage,
so this backend keeps facts **logical**: each attribute is a projection of
the original parquet scan, produced on demand.

Why this scales to 100 TB:
 - a pattern with a concrete attribute compiles to a scan of exactly one
   table reading exactly (pk, column) — predicate pushdown and column
   pruning reach the parquet reader untouched (the reference's AVET index
   selection, src/unifydb/storage.clj:31-46, becomes a no-op);
 - the compiler's entity-pivot optimization (compile.py) collapses
   multi-pattern entity access back into one wide scan, so Datalog queries
   cost the same as hand-written DataFrame pipelines;
 - entity ids are arithmetic (table base + primary key): no id-allocation
   shuffle, stable across runs, ref joins are long==long equi-joins.

The view is read-only and its pin is `clean` (single tx, no retractions),
so snapshots skip the dedup windows entirely.
"""

from __future__ import annotations

from collections.abc import Mapping
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unifydb_spark.store import FactStore
from unifydb_spark.txlog import Pin
from unifydb_spark.values import FACT_SCHEMA, fact_columns

# entity-id bases, 10^12 apart: composite lineitem keys at TPC-H sf100k
# (~600B rows, orderkey*8+linenumber < 10^12) still fit with headroom
_B = 10 ** 12
BASES = {
    "region": 1 * _B,
    "nation": 2 * _B,
    "customer": 3 * _B,
    "supplier": 4 * _B,
    "part": 5 * _B,
    "orders": 6 * _B,
    "lineitem": 7 * _B,
    "events": 8 * _B,
    "documents": 9 * _B,
    "embeddings": 10 * _B,
}

_SPARK_TO_VTYPE = {
    "bigint": "long",
    "int": "long",
    "smallint": "long",
    "double": "double",
    "float": "double",
    "string": "string",
    "boolean": "bool",
    "timestamp": "ts",
    "timestamp_ntz": "ts",
    # defensive: the driver's testdata has changed temporal encodings
    # between rounds (events.ts: int64-nanos -> timestamp[us]); accept a
    # date vintage of the order/ship dates too (cast to timestamp in
    # _src_col is midnight-exact)
    "date": "ts",
}


def _eid(table: str, pk_col):
    return (F.lit(BASES[table]) + pk_col.cast("long")).alias("e")


# (attr, source column, kind) — kind: None = typed value, or the referenced
# table name for FK ref attributes. 'pk' keys give the entity id expression.
TABLE_SPECS: dict[str, dict] = {
    "region": {
        "pk": lambda df: _eid("region", df.r_regionkey),
        "attrs": [
            ("region/regionkey", "r_regionkey", None),
            ("region/name", "r_name", None),
        ],
    },
    "nation": {
        "pk": lambda df: _eid("nation", df.n_nationkey),
        "attrs": [
            ("nation/nationkey", "n_nationkey", None),
            ("nation/name", "n_name", None),
            ("nation/regionkey", "n_regionkey", None),
            ("nation/region", "n_regionkey", "region"),
            # derived graph edge for recursive-rule coverage: nation k ->
            # nation k+5 (the next nation in the same round-robin region);
            # SQL-expressible as n_nationkey+5 <= max key
            ("nation/next", "n_nationkey", "!next_nation"),
        ],
    },
    "customer": {
        "pk": lambda df: _eid("customer", df.c_custkey),
        "attrs": [
            ("customer/custkey", "c_custkey", None),
            ("customer/name", "c_name", None),
            ("customer/nationkey", "c_nationkey", None),
            ("customer/nation", "c_nationkey", "nation"),
            ("customer/acctbal", "c_acctbal", None),
            ("customer/mktsegment", "c_mktsegment", None),
        ],
    },
    "supplier": {
        "pk": lambda df: _eid("supplier", df.s_suppkey),
        "attrs": [
            ("supplier/suppkey", "s_suppkey", None),
            ("supplier/name", "s_name", None),
            ("supplier/nationkey", "s_nationkey", None),
            ("supplier/nation", "s_nationkey", "nation"),
            ("supplier/acctbal", "s_acctbal", None),
        ],
    },
    "part": {
        "pk": lambda df: _eid("part", df.p_partkey),
        "attrs": [
            ("part/partkey", "p_partkey", None),
            ("part/name", "p_name", None),
            ("part/brand", "p_brand", None),
            ("part/type", "p_type", None),
            ("part/size", "p_size", None),
            ("part/retailprice", "p_retailprice", None),
        ],
    },
    "orders": {
        "pk": lambda df: _eid("orders", df.o_orderkey),
        "attrs": [
            ("order/orderkey", "o_orderkey", None),
            ("order/custkey", "o_custkey", None),
            ("order/customer", "o_custkey", "customer"),
            ("order/orderstatus", "o_orderstatus", None),
            ("order/totalprice", "o_totalprice", None),
            ("order/orderdate", "o_orderdate", None),
            ("order/orderpriority", "o_orderpriority", None),
        ],
    },
    "lineitem": {
        # composite key: orderkey*8 + linenumber (linenumber <= 7)
        "pk": lambda df: (
            F.lit(BASES["lineitem"])
            + df.l_orderkey.cast("long") * 8
            + df.l_linenumber.cast("long")
        ).alias("e"),
        "attrs": [
            ("lineitem/orderkey", "l_orderkey", None),
            ("lineitem/order", "l_orderkey", "orders"),
            ("lineitem/partkey", "l_partkey", None),
            ("lineitem/part", "l_partkey", "part"),
            ("lineitem/suppkey", "l_suppkey", None),
            ("lineitem/supplier", "l_suppkey", "supplier"),
            ("lineitem/linenumber", "l_linenumber", None),
            ("lineitem/quantity", "l_quantity", None),
            ("lineitem/extendedprice", "l_extendedprice", None),
            ("lineitem/discount", "l_discount", None),
            ("lineitem/tax", "l_tax", None),
            ("lineitem/returnflag", "l_returnflag", None),
            ("lineitem/linestatus", "l_linestatus", None),
            ("lineitem/shipdate", "l_shipdate", None),
        ],
    },
    "events": {
        "pk": lambda df: _eid("events", df.event_id),
        "attrs": [
            ("event/id", "event_id", None),
            # INT64 nanos or timestamp[us], testdata vintage-dependent
            # (_src_col branches on the read dtype); surfaced as a
            # microsecond timestamp
            ("event/ts", "ts", "!ts_nanos"),
            ("event/user", "user_id", None),
            ("event/type", "event_type", None),
            ("event/value", "value", None),
            ("event/props", "props", None),
        ],
    },
    "documents": {
        "pk": lambda df: _eid("documents", df.doc_id),
        "attrs": [
            ("doc/id", "doc_id", None),
            ("doc/text", "text", None),
            ("doc/lang", "lang", None),
            ("doc/source", "source", None),
            ("doc/nchars", "n_chars", None),
        ],
    },
    "embeddings": {
        "pk": lambda df: _eid("embeddings", df.vec_id),
        "attrs": [
            ("emb/id", "vec_id", None),
            ("emb/label", "label", None),
        ],
    },
}


class TableFactView:
    """A FactStore backend that *is* a set of parquet tables.

    Implements the backend protocol (facts_df / pin / ...) plus the two
    fast paths the compiler exploits:
     - `facts_for_attr(attr)`: one-table projection (virtual AVET index);
     - `pivot_df(attrs)`: entity-pivoted wide scan when all attrs come from
       one table (collapses N patterns -> 1 scan).
    """

    supports_pivot = True

    def __init__(self, spark: SparkSession, sf_dir: Optional[str] = None):
        self.spark = spark
        # the events table stores INT64(TIMESTAMP(NANOS)) which Spark's
        # parquet reader rejects by default
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        self.sf_dir = sf_dir.rstrip("/") if sf_dir else None
        self._tables: dict[str, DataFrame] = {}
        self._specs: dict[str, dict] = dict(TABLE_SPECS) if sf_dir else {}
        self._bases: dict[str, int] = dict(BASES)
        self._attr_index: dict[str, tuple] = {}
        self._types = _SchemaTypes(self)
        for tname, spec in self._specs.items():
            for attr, colname, ref in spec["attrs"]:
                self._attr_index[attr] = (tname, colname, ref)

    def register_table(
        self,
        name: str,
        df: DataFrame,
        pk_col: str,
        attrs: list,
        base: Optional[int] = None,
    ) -> "TableFactView":
        """Register ANY DataFrame as entities in the fact view.

        `attrs` is a list of (attribute, column, ref) where ref is None for
        a typed value or the referenced table's name for a foreign key.
        Entity ids are base + pk; `base` defaults to the next free 10^12
        slot. This is how a user brings their own tables into the Datalog
        surface — same pushdown/pivot fast paths as the built-ins."""
        if base is None:
            base = (max(self._bases.values()) if self._bases else 0) + _B
        self._bases[name] = base
        self._tables[name] = df
        spec = {
            "pk": lambda d, _b=base, _c=pk_col: (
                F.lit(_b) + d[_c].cast("long")
            ).alias("e"),
            "attrs": [(a, c, r) for a, c, r in attrs],
        }
        self._specs[name] = spec
        for attr, colname, ref in spec["attrs"]:
            self._attr_index[attr] = (name, colname, ref)
        self._types = _SchemaTypes(self)
        return self

    def base_of(self, table: str) -> int:
        return self._bases[table]

    def table(self, name: str) -> DataFrame:
        if name not in self._tables:
            if self.sf_dir is None:
                raise KeyError(f"table {name!r} is not registered")
            self._tables[name] = self.spark.read.parquet(
                f"{self.sf_dir}/{name}.parquet"
            )
        return self._tables[name]

    # -- value typing --------------------------------------------------------

    def _attr_vtype(self, attr: str) -> str:
        tname, colname, ref = self._attr_index[attr]
        if ref == "!ts_nanos":
            return "ts"
        if ref == "!next_nation":
            return "ref"
        if ref is not None:
            return "ref"
        dt = dict(self.table(tname).dtypes)[colname]
        if dt not in _SPARK_TO_VTYPE:
            raise ValueError(f"unmapped column type {dt} for {attr}")
        return _SPARK_TO_VTYPE[dt]

    def _src_col(self, attr: str):
        """Natural-typed source expression for one attribute (entity-id
        arithmetic applied to refs, nanos->timestamp for event/ts)."""
        tname, colname, ref = self._attr_index[attr]
        df = self.table(tname)
        src = df[colname]
        if ref == "!ts_nanos":
            if dict(df.dtypes)[colname] in ("bigint", "int"):
                # INT64-nanos vintage of the testdata: subtract-mod before
                # dividing so the quotient is an exact integer <= 2^53 and
                # the double division cannot round (a bare `/1000` drifts
                # 1us on large nano values)
                return F.timestamp_micros(
                    ((src - src % 1000) / 1000).cast("long")
                )
            # timestamp[us] vintage: already a timestamp (NTZ under UTC)
            return src.cast("timestamp")
        if ref == "!next_nation":
            return F.when(
                src.cast("long") + 5 <= 24,
                F.lit(self._bases["nation"]) + src.cast("long") + 5,
            )
        if ref is not None:
            return F.lit(self._bases[ref]) + src.cast("long")
        vtype = self._attr_vtype(attr)
        if vtype == "long":
            return src.cast("long")
        if vtype == "double":
            return src.cast("double")
        if vtype == "ts":
            return src.cast("timestamp")
        return src

    def pin(self) -> Pin:
        """Every fact is an assert of tx 1: the view is clean, and its
        attr types are its table schemas'."""
        max_id = max(self._bases.values()) + _B
        return Pin(None, True, False, 1, max_id, ((), self._types))

    # -- fact projections ----------------------------------------------------

    def facts_for_attr(self, attr: str) -> DataFrame:
        if attr not in self._attr_index:
            return self.spark.createDataFrame([], schema=FACT_SCHEMA)
        tname, colname, _ = self._attr_index[attr]
        spec = self._specs[tname]
        df = self.table(tname)
        return df.filter(df[colname].isNotNull()).select(
            spec["pk"](df),
            F.lit(attr).alias("a"),
            *fact_columns(self._attr_vtype(attr), self._src_col(attr)),
            F.lit(1).cast("long").alias("tx"),
            F.lit(True).alias("added"),
        )

    def facts_df(self) -> DataFrame:
        out = None
        for attr in self._attr_index:
            p = self.facts_for_attr(attr)
            out = p if out is None else out.unionByName(p)
        return out

    def pivot_df(self, attrs: list) -> Optional[tuple]:
        """If every attr lives in one table: (wide DataFrame [e, <attr>...],
        {attr: repr}). Ref attrs come back as entity-id longs."""
        tables = {self._attr_index[a][0] for a in attrs if a in self._attr_index}
        if len(tables) != 1 or any(a not in self._attr_index for a in attrs):
            return None
        tname = next(iter(tables))
        spec = self._specs[tname]
        df = self.table(tname)
        select = [spec["pk"](df)]
        reprs: dict[str, str] = {}
        for a in dict.fromkeys(attrs):
            select.append(self._src_col(a).alias(a))
            reprs[a] = self._attr_vtype(a)
        return df.select(*select), reprs

    def append(self, rows):
        raise NotImplementedError("TableFactView is read-only")


class _SchemaTypes(Mapping):
    """{attribute: {value type}} of a TableFactView, each read from its
    table's schema on first use (a table's first schema read can cost a
    Spark job)."""

    def __init__(self, view: TableFactView):
        self._view = view
        self._memo: dict[str, set] = {}

    def __getitem__(self, attr: str) -> set:
        if attr not in self._memo:
            if attr not in self._view._attr_index:
                raise KeyError(attr)
            self._memo[attr] = {self._view._attr_vtype(attr)}
        return self._memo[attr]

    def __iter__(self):
        return iter(self._view._attr_index)

    def __len__(self) -> int:
        return len(self._view._attr_index)


def table_fact_store(spark: SparkSession, sf_dir: str) -> FactStore:
    return FactStore(spark, backend=TableFactView(spark, sf_dir))
