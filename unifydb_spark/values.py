"""Typed-value codec for the facts table — the one module that knows how
a value is encoded.

The reference stores arbitrary EDN values in the fact's value position
(survey §1.1; reference src/unifydb/facts.clj:3-26). Spark has no
dynamically-typed column, so a value is a *union type*: a `v_type` tag plus
one non-null typed column. `CODEC` maps each tag to its fact column, its
slot in the value struct and its Spark type; the fact schema, the value
struct, the compiler's per-repr DDL, Python fact rows (`fact_row`) and
Spark fact frames (`fact_columns`) are all derived from it.

Nested vectors (reference test/unifydb/query_test.clj:19 —
``[:slumerville [:ridge :road] 10]``) are canonical-JSON encoded into
`v_json`; an entity reference inside one is written ``{"$ref": n}`` at any
depth. Top-level entity references get their own `v_ref` column so
ref-joins (VAET semantics, reference src/unifydb/storage.clj:23-27) stay
JVM-native long==long equi-joins.

Unification compares decoded values, never JSON text of two renderers:
values of different compile-time reprs meet as value structs
(`to_struct`), and a canonical-JSON binding from a sequence pattern is
decoded JVM-side into its typed slot (`json_to_struct`). JSON text is
compared only against JSON text written by `canonical_json` (or by its
JVM-side twin for string vectors, `json_strings`).

Design note (100 TB): the typed columns are all scalar parquet-native types,
so scans prune to exactly the columns a query touches and predicates push
down; only deep nested-pattern unification ever leaves the JVM.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
from typing import Any

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


class Ref(int):
    """An entity-id reference value (the reference's boxed ID type,
    src/unifydb/id.clj:3-26). Behaves as an int; the subclass tag routes
    encoding to the `v_ref` column so graph joins are long==long."""

    def __repr__(self) -> str:  # pragma: no cover
        return f"Ref({int(self)})"


# v_type tags
T_LONG = "long"
T_DOUBLE = "double"
T_STRING = "string"
T_BOOL = "bool"
T_REF = "ref"
T_TS = "ts"
T_JSON = "json"
T_NULL = "null"

# Cross-type total order (reference cc-cmp, src/unifydb/comparison.clj:91-129:
# class-name rank then within-type compare). Rank numbers are arbitrary but
# stable; numbers (long/double) share a rank so they compare numerically.
TYPE_RANK = {
    T_NULL: 0,
    T_BOOL: 1,
    T_LONG: 2,
    T_DOUBLE: 2,
    T_REF: 3,
    T_TS: 4,
    T_STRING: 5,
    T_JSON: 6,
}

# One row per value tag: (fact column, value-struct slot, Spark type).
CODEC = {
    T_LONG: ("v_long", "l", LongType()),
    T_DOUBLE: ("v_double", "d", DoubleType()),
    T_STRING: ("v_str", "s", StringType()),
    T_BOOL: ("v_bool", "b", BooleanType()),
    T_REF: ("v_ref", "r", LongType()),
    T_TS: ("v_ts", "ts", TimestampType()),
    T_JSON: ("v_json", "j", StringType()),
}

# Typed column / struct slot a value of each type lives in.
NATURAL_COL = {t: col for t, (col, _, _) in CODEC.items()}
STRUCT_SLOT = {t: slot for t, (_, slot, _) in CODEC.items()}
V_COLS = ["v_type", *NATURAL_COL.values()]

# Spark DDL of each compile-time repr: a tag's column type, or the value
# struct for variables whose type cannot be statically inferred.
REPR_DDL = {t: dt.simpleString() for t, (_, _, dt) in CODEC.items()}
STRUCT_DDL = "struct<t:string,%s>" % ",".join(
    f"{STRUCT_SLOT[t]}:{ddl}" for t, ddl in REPR_DDL.items()
)
REPR_DDL["struct"] = STRUCT_DDL

FACT_SCHEMA = StructType(
    [
        StructField("e", LongType(), False),
        StructField("a", StringType(), False),
        StructField("v_type", StringType(), False),
        *[StructField(col, dt, True) for col, _, dt in CODEC.values()],
        StructField("tx", LongType(), False),
        StructField("added", BooleanType(), False),
    ]
)

_EMPTY = dict.fromkeys(NATURAL_COL.values())


def canonical_json(v: Any) -> str:
    """Deterministic JSON for nested sequence values (sorted keys, no
    spaces); a `Ref` at any depth is written ``{"$ref": n}``."""
    return json.dumps(jsonable(v), sort_keys=True, separators=(",", ":"))


def jsonable(v: Any):
    """`v` as plain JSON data: a `Ref` at any depth becomes ``{"$ref": n}``
    (json writes int subclasses natively, so Refs are rewritten up front),
    a date or datetime its ISO string (`decode_json_value` reads the Refs
    back)."""
    if isinstance(v, Ref):
        return {"$ref": int(v)}
    if isinstance(v, (list, tuple)):
        return [jsonable(x) for x in v]
    if isinstance(v, dict):
        return {k: jsonable(x) for k, x in v.items()}
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (str, int, float)) or v is None:
        return v
    raise TypeError(f"not JSON-encodable: {v!r}")


def encode_value(v: Any) -> dict:
    """Python value -> {v_type, v_long, ...} column dict (exactly one typed
    column non-null, per FIXTURES.md §A)."""
    if v is None:
        tag, x = T_NULL, None
    elif isinstance(v, Ref):
        tag, x = T_REF, int(v)
    elif isinstance(v, bool):  # before int: bool subclasses int
        tag, x = T_BOOL, v
    elif isinstance(v, int):
        tag, x = T_LONG, v
    elif isinstance(v, float):
        if math.isnan(v):
            raise ValueError("NaN fact values are not supported")
        tag, x = T_DOUBLE, v
    elif isinstance(v, str):
        tag, x = T_STRING, v
    elif isinstance(v, _dt.datetime):
        tag, x = T_TS, v
    elif isinstance(v, (list, tuple)):
        tag, x = T_JSON, canonical_json(list(v))
    else:
        raise TypeError(f"unsupported fact value type: {type(v).__name__}")
    out = dict(_EMPTY, v_type=tag)
    if tag != T_NULL:
        out[NATURAL_COL[tag]] = x
    return out


def decode_value(v_type: str, row: Any, slots: dict = NATURAL_COL) -> Any:
    """Typed columns -> Python value (inverse of encode_value); `slots`
    names where each tag's value lives in `row` (fact columns, or
    STRUCT_SLOT for a value struct). JSON values come back parsed, with
    ``{"$ref": n}`` wrappers left for `decode_json_value`."""
    if v_type == T_NULL:
        return None
    if v_type not in slots:
        raise ValueError(f"unknown v_type {v_type!r}")
    x = row[slots[v_type]]
    if v_type == T_REF:
        return Ref(x)
    if v_type == T_JSON:
        return json.loads(x)
    return x


def decode_json_value(v: Any) -> Any:
    """Decode $ref wrappers out of a parsed v_json structure (recursing into
    objects too — pull results are nested entity maps)."""
    if isinstance(v, dict):
        if set(v) == {"$ref"}:
            return Ref(v["$ref"])
        return {k: decode_json_value(x) for k, x in v.items()}
    if isinstance(v, list):
        return [decode_json_value(x) for x in v]
    return v


def fact_row(e, a: str, v: Any, tx, added) -> tuple:
    """One FACT_SCHEMA row for the Python value `v`."""
    enc = encode_value(v)
    return (
        int(e), a, enc["v_type"], *[enc[c] for c in NATURAL_COL.values()],
        int(tx), bool(added),
    )


def fact_columns(v_type: str, value_col) -> list:
    """The FACT_SCHEMA value columns (`v_type` .. `v_json`) of a frame whose
    every value has tag `v_type` and is `value_col` (already of the tag's
    Spark type)."""
    return [F.lit(v_type).alias("v_type")] + [
        (value_col if t == v_type else F.lit(None).cast(REPR_DDL[t])).alias(col)
        for t, col in NATURAL_COL.items()
    ]


def value_struct_col():
    """All typed columns as one struct — the compiler's representation for
    variables whose type cannot be statically inferred. Struct equality
    gives correct unification across types; ordering uses type_rank first
    (cc-cmp total order)."""
    return F.struct(
        F.col("v_type").alias("t"),
        *[F.col(col).alias(slot) for col, slot, _ in CODEC.values()],
    )


def to_struct(c, repr_: str):
    """A column of compile-time repr `repr_` as the value struct: typed
    columns fill their tag's slot, JSON text is decoded (`json_to_struct`);
    repr `null` is nil, every slot empty (`c` unused)."""
    if repr_ == "struct":
        return c
    if repr_ == T_JSON:
        return json_to_struct(c)
    if repr_ not in CODEC and repr_ != T_NULL:  # an aggregate's repr
        raise ValueError(f"no value struct for repr {repr_!r}")
    return F.struct(
        F.lit(repr_).alias("t"),
        *[
            (c if t == repr_ else F.lit(None).cast(REPR_DDL[t])).alias(slot)
            for t, slot in STRUCT_SLOT.items()
        ],
    )


def encode_const(v: Any) -> tuple:
    """A query constant as (Column, repr), the one encoding every clause
    kind uses (fact pattern, rule call and head, axiom, predicate and
    function argument), so a constant unifies the same way wherever it
    appears: a `Ref` is repr `ref`, a scalar its tag (a datetime `ts`), a
    ground vector `json` (its `canonical_json` text), nil the value
    struct of tag `null` (repr `struct`). Anything else, a vector holding
    a variable included, is an `invalid-query`."""
    # parse imports the store, which imports this module
    from unifydb_spark.query.parse import QueryError, SeqPat

    if isinstance(v, SeqPat):
        if not v.is_ground():
            raise QueryError(
                "invalid-query", f"a vector constant must be ground: {v!r}"
            )
        v = v.value()
    try:
        enc = encode_value(v)
    except (TypeError, ValueError) as e:
        raise QueryError("invalid-query", f"unsupported constant {v!r}") from e
    tag = enc["v_type"]
    if tag == T_NULL:
        return to_struct(None, T_NULL), "struct"
    return F.lit(enc[NATURAL_COL[tag]]).cast(REPR_DDL[tag]), tag


def unify_condition(lc, lrepr: str, rc, rrepr: str):
    """Equality condition between two value columns of compile-time reprs
    `lrepr` and `rrepr`. Different reprs compare as decoded value structs;
    returns None when unification is statically impossible (strict
    typing: the reference's ID type and Clojure `=` are type-strict)."""
    if lrepr == rrepr:
        return lc == rc
    if "json" in (lrepr, rrepr) or "struct" in (lrepr, rrepr):
        return to_struct(lc, lrepr) == to_struct(rc, rrepr)
    return None


_REF_JSON = r'^\{"\$ref":(-?[0-9]+)\}$'


def json_to_struct(c):
    """Canonical-JSON text -> the value struct, decoded JVM-side: a scalar
    lands in its typed slot exactly as `encode_value` would put it (an
    integer literal is a long, any other number a double, ``{"$ref": n}``
    a ref), a container stays JSON text in `j`. Null text -> null. A
    timestamp inside a vector was written as an ISO string, so it decodes
    as a string (and never unifies with a `ts` fact).

    The tag is one CASE; each slot carries its own cheap guard, so the
    CASE is not repeated per slot inside join keys."""
    head = F.substring(c, 1, 1)
    ref = F.regexp_extract(c, _REF_JSON, 1)
    is_long = c.rlike("^-?[0-9]+$")
    is_text = head == '"'
    is_container = head.isin("[", "{") & (ref == "")
    is_bool = c.isin("true", "false")
    tag = (
        F.when(ref != "", F.lit(T_REF))
        .when(is_container, F.lit(T_JSON))
        .when(is_text, F.lit(T_STRING))
        .when(is_bool, F.lit(T_BOOL))
        .when(c == "null", F.lit(T_NULL))
        .when(is_long, F.lit(T_LONG))
        .otherwise(F.lit(T_DOUBLE))
    )
    value = {
        T_LONG: F.when(is_long, c.try_cast("bigint")),
        # quoted text, containers, true/false/null and refs never cast
        T_DOUBLE: F.when(~is_long, c.try_cast("double")),
        # JSON string unescaping by the JVM's own JSON reader
        T_STRING: F.when(is_text, F.from_json(
            F.concat(F.lit("["), c, F.lit("]")), "array<string>")[0]),
        T_BOOL: F.when(is_bool, c == "true"),
        T_REF: ref.try_cast("bigint"),  # '' (no ref) -> null
        T_JSON: F.when(is_container, c),
    }  # no T_TS: canonical_json writes a timestamp as an ISO string
    return F.when(c.isNotNull(), F.struct(
        tag.alias("t"),
        *[
            (value[t] if t in value else F.lit(None).cast(REPR_DDL[t])).alias(slot)
            for t, slot in STRUCT_SLOT.items()
        ],
    ))


# Python json.dumps' two-character escapes; every other character outside
# printable ASCII is written \uXXXX (ensure_ascii, lowercase hex).
_JSON_ESCAPES = {'"': '\\"', "\\": "\\\\", "\n": "\\n", "\r": "\\r",
                 "\t": "\\t", "\b": "\\b", "\f": "\\f"}


def json_strings(arr):
    """`canonical_json` of an array<string> column, JVM-side: each string
    escaped exactly as Python's json.dumps does, so the text compares
    equal to stored JSON of the same strings. Null array -> null."""

    def esc(ch):
        out = F.when(ch.rlike("^[ -~]$") & ~ch.isin(*_JSON_ESCAPES), ch)
        for raw, e in _JSON_ESCAPES.items():
            out = out.when(ch == raw, F.lit(e))
        return out.otherwise(
            # UTF-16 code units (a surrogate pair for astral characters)
            F.regexp_replace(F.lower(F.hex(F.encode(ch, "UTF-16BE"))),
                             "(.{4})", "\\\\u$1")
        )

    def text(s):
        chars = F.regexp_extract_all(s, F.lit("(?s)."), F.lit(0))
        return F.concat(
            F.lit('"'), F.array_join(F.transform(chars, esc), ""), F.lit('"')
        )

    return F.concat(F.lit("["), F.array_join(F.transform(arr, text), ","), F.lit("]"))


def json_sql(x: str) -> str:
    """SQL: JSON-encode the scalar expression `x` JVM-side — to_json of a
    one-field struct, minus its '{"v":' prefix and '}' suffix."""
    j = f"to_json(named_struct('v', {x}))"
    return f"substring({j}, 6, length({j}) - 6)"


# SQL: a fact's typed value as JSON text, for output only (pull documents):
# the JVM renders doubles and non-ASCII text differently from
# canonical_json, so this text is never compared with stored JSON.
VALUE_JSON_SQL = f"""CASE v_type
    WHEN 'long' THEN CAST(v_long AS STRING)
    WHEN 'double' THEN {json_sql("v_double")}
    WHEN 'string' THEN {json_sql("v_str")}
    WHEN 'bool' THEN IF(v_bool, 'true', 'false')
    WHEN 'ref' THEN concat('{{"$ref":', CAST(v_ref AS STRING), '}}')
    WHEN 'ts' THEN concat('"', date_format(v_ts, 'yyyy-MM-dd\\'T\\'HH:mm:ss.SSSSSS'), '"')
    WHEN 'json' THEN v_json
    ELSE 'null' END"""


def struct_sort_keys(col):
    """Sort keys implementing the reference's cross-type total order
    (cc-cmp, src/unifydb/comparison.clj:91-129) over a value struct column.

    cc-cmp orders values first by comparison-class NAME (alphabetical,
    comparison.clj:7-31): nil "" < collections (clojure.lang.*) <
    java.lang.Boolean < java.lang.Number < java.lang.String < timestamps
    (java.time/util.*). Entity ids are plain Numbers in the reference, so
    refs sort WITH longs/doubles, not as a separate class. Within
    sequences, comparison is element-wise typed (cmp-seq-lexi) — realized
    here by `cc_seq_sort_key`'s order-preserving byte encoding."""
    rank = (
        F.when(col["t"] == T_NULL, F.lit(0))
        .when(col["t"] == T_JSON, F.lit(1))
        .when(col["t"] == T_BOOL, F.lit(2))
        .when(col["t"].isin(T_LONG, T_DOUBLE, T_REF), F.lit(3))
        .when(col["t"] == T_STRING, F.lit(4))
        .otherwise(F.lit(5))  # timestamps
    )
    num = F.coalesce(col["l"].cast("double"), col["d"], col["r"].cast("double"))
    return [rank, cc_seq_sort_key(col["j"]), col["b"], num, col["s"], col["ts"]]


# -- cc-cmp order-preserving byte encoding for sequence values -------------
#
# cmp-seq-lexi / cmp-vec-lexi (comparison.clj:33-90) compare sequences
# element-wise with cc-cmp recursively, shorter-prefix-first. A bytewise
# comparison of these encodings yields exactly that order, so Spark can
# sort JSON sequence values with one binary sort key instead of a
# driver-side comparator.
#
# Element tags follow the alphabetical comparison-class order above;
# 0x00 is reserved as the end-of-sequence terminator, which sorts below
# every tag — that is precisely "shorter comes first".

_TAG_NULL, _TAG_MAP, _TAG_SEQ, _TAG_BOOL, _TAG_NUM, _TAG_STR = (
    b"\x01", b"\x02", b"\x03", b"\x04", b"\x05", b"\x06"
)


def _cc_key_bytes(v: Any) -> bytes:
    import struct as _struct

    if v is None:
        return _TAG_NULL
    if isinstance(v, bool):
        return _TAG_BOOL + (b"\x01" if v else b"\x00")
    if isinstance(v, dict):
        if set(v) == {"$ref"}:  # refs are Numbers in the reference
            return _cc_key_bytes(v["$ref"])
        # maps compare as sequences of [key val] pairs sorted by key
        items = sorted(v.items())
        return _TAG_MAP + b"".join(
            _cc_key_bytes([k, x]) for k, x in items
        ) + b"\x00"
    if isinstance(v, (list, tuple)):
        return _TAG_SEQ + b"".join(_cc_key_bytes(x) for x in v) + b"\x00"
    if isinstance(v, (int, float)):
        # IEEE-754 big-endian with the sign-flip transform: bytewise
        # order == numeric order (ints above 2^53 collapse to doubles —
        # the same loss Clojure's cross-type number compare tolerates)
        i = int.from_bytes(_struct.pack(">d", float(v)), "big")
        i = i ^ 0xFFFFFFFFFFFFFFFF if i & (1 << 63) else i | (1 << 63)
        return _TAG_NUM + i.to_bytes(8, "big")
    if isinstance(v, str):
        # UTF-8 is code-point order-preserving; escape 0x00/0x01 so the
        # 0x00 terminator keeps the prefix property
        raw = v.encode("utf-8").replace(b"\x01", b"\x01\x02").replace(
            b"\x00", b"\x01\x01"
        )
        return _TAG_STR + raw + b"\x00"
    raise ValueError(f"cc-cmp key: unsupported value {type(v).__name__}")


@F.pandas_udf(BinaryType())
def cc_seq_sort_key(s):
    """Binary sort key over a v_json column: bytewise order == cc-cmp
    element-wise order. Null JSON -> null key (Spark sorts nulls first,
    matching nil-first)."""
    return s.map(
        lambda vj: None if vj is None else _cc_key_bytes(json.loads(vj))
    )


def normalize_event_ts(df, col: str = "ts"):
    """Normalize the events table's `ts` column to TimestampType.

    The driver's testdata has shipped two encodings of event time across
    rounds: INT64 nanoseconds (surfaced as bigint under
    spark.sql.legacy.parquet.nanosAsLong) and parquet timestamp[us]
    (surfaced as TIMESTAMP_NTZ). Both must produce the same TimestampType
    column; the session timezone is UTC so the NTZ->LTZ cast preserves
    the wall clock DuckDB sees.
    """
    dt = dict(df.dtypes)[col]
    if dt in ("bigint", "long", "int"):
        # integer DIV, not double division: nano values exceed double's
        # exact-integer range, so `/ 1000` would drift 1us on some rows
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")))
    if dt in ("timestamp_ntz", "date"):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if dt != "timestamp":
        # fail FAST on an unknown vintage: a silent cast would produce
        # nulls and downstream queries would return empty instead of
        # erroring (exactly how the round-3 schema change manifested)
        raise ValueError(
            f"events.{col} has unsupported type {dt!r}; expected int64 "
            "nanos, timestamp[us]/ntz, or date — update normalize_event_ts"
        )
    return df
