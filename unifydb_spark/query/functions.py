"""Scalar function / predicate registry for Q5 (predicate filter) and Q6
(function binding).

The reference resolves any `clojure.core` symbol by name with `eval`
blacklisted (src/unifydb/query.clj:70-130, alias `!=` -> `not=` :92-100).
A dynamic namespace lookup cannot exist on Spark (and row-at-a-time Python
would be the slow path anyway), so the surface is an explicit registry over
JVM-side `pyspark.sql.functions` — strictly covering the reference's *tested*
surface (`<` `>` `<=` `>=` `=` `!=` `*` `+` `-` `/` variadic comparisons) plus
the standard string/math library. Unknown name -> structured
:unknown-function error, unbound variable -> :unbound-variable (parity with
query.clj:85-91, :120-128).

Documented divergences from Clojure semantics (SURVEY §7 "genuinely hard"):
`/` returns double (no Ratio type); numeric tower is long/double only.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from unifydb_spark.query.parse import QueryError
from unifydb_spark.values import encode_const, json_strings, unify_condition

# (Column, repr) pairs flow through; repr tags are the compiler's static
# types: long double string bool ref ts json struct


def as_col(arg) -> tuple:
    """arg is (Column, repr) or a query constant (`values.encode_const`)."""
    if isinstance(arg, tuple) and isinstance(arg[0], Column):
        return arg
    return encode_const(arg)


def num(arg) -> Column:
    c, r = as_col(arg)
    if r == "struct":
        return F.coalesce(c["l"].cast("double"), c["d"])
    return c


def _num_repr(args) -> str:
    reprs = [as_col(a)[1] for a in args]
    return "double" if any(r != "long" for r in reprs) else "long"


def _variadic_cmp(op: Callable) -> Callable:
    def f(*args):
        cols = [num(a) for a in args]
        cond = F.lit(True)
        for x, y in zip(cols, cols[1:]):
            cond = cond & op(x, y)
        return cond, "bool"

    return f


def _eq(*args):
    """`=`: a side holding a value struct or vector text compares by
    unification (`unify_condition`, type-strict); two typed scalars
    compare with Spark `=`, so `(= 1 1.0)` holds (unlike Clojure)."""
    sides = [as_col(a) for a in args]
    cond = F.lit(True)
    for (x, rx), (y, ry) in zip(sides, sides[1:]):
        if {rx, ry} & {"struct", "json"}:
            cond = cond & unify_condition(x, rx, y, ry)
        else:
            cond = cond & (x == y)
    return cond, "bool"


def _neq(*args):
    c, _ = _eq(*args)
    return ~c, "bool"


def _arith(op, repr_fn=_num_repr):
    def f(*args):
        cols = [num(a) for a in args]
        out = cols[0]
        for c in cols[1:]:
            out = op(out, c)
        return out, repr_fn(args)

    return f


def _div(*args):
    cols = [num(a).cast("double") for a in args]
    out = cols[0]
    for c in cols[1:]:
        out = out / c
    return out, "double"


def _str(*args):
    cols = [as_col(a)[0].cast("string") for a in args]
    return F.concat(*cols), "string"


def _count_fn(arg):
    c, r = as_col(arg)
    if r == "string":
        return F.length(c), "long"
    if r == "json":
        return F.json_array_length(c).cast("long"), "long"
    return F.length(c.cast("string")), "long"


REGISTRY: dict[str, Callable] = {
    "<": _variadic_cmp(lambda a, b: a < b),
    ">": _variadic_cmp(lambda a, b: a > b),
    "<=": _variadic_cmp(lambda a, b: a <= b),
    ">=": _variadic_cmp(lambda a, b: a >= b),
    "=": _eq,
    "!=": _neq,  # reference aliases != to not= (query.clj:92-100)
    "not=": _neq,
    "+": _arith(lambda a, b: a + b),
    "-": _arith(lambda a, b: a - b),
    "*": _arith(lambda a, b: a * b),
    "/": _div,
    "mod": _arith(lambda a, b: F.pmod(a, b)),
    "rem": _arith(lambda a, b: a % b),
    "quot": _arith(lambda a, b: (a / b).cast("long"), lambda a: "long"),
    "abs": lambda a: (F.abs(num(a)), as_col(a)[1]),
    "inc": lambda a: (num(a) + 1, _num_repr([a])),
    "dec": lambda a: (num(a) - 1, _num_repr([a])),
    "min": _arith(lambda a, b: F.least(a, b)),
    "max": _arith(lambda a, b: F.greatest(a, b)),
    "even?": lambda a: (num(a) % 2 == 0, "bool"),
    "odd?": lambda a: (num(a) % 2 != 0, "bool"),
    "zero?": lambda a: (num(a) == 0, "bool"),
    "pos?": lambda a: (num(a) > 0, "bool"),
    "neg?": lambda a: (num(a) < 0, "bool"),
    "not": lambda a: (~as_col(a)[0].cast("boolean"), "bool"),
    "str": _str,
    "lower-case": lambda a: (F.lower(as_col(a)[0]), "string"),
    "upper-case": lambda a: (F.upper(as_col(a)[0]), "string"),
    "capitalize": lambda a: (F.initcap(as_col(a)[0]), "string"),
    "trim": lambda a: (F.trim(as_col(a)[0]), "string"),
    "count": _count_fn,
    "subs": lambda s, start, *end: (
        F.substring(
            as_col(s)[0],
            num(start).cast("int") + 1,
            (num(end[0]) - num(start)).cast("int") if end else F.lit(2 ** 31 - 1),
        ),
        "string",
    ),
    "starts-with?": lambda s, p: (as_col(s)[0].startswith(as_col(p)[0]), "bool"),
    "ends-with?": lambda s, p: (as_col(s)[0].endswith(as_col(p)[0]), "bool"),
    "includes?": lambda s, p: (as_col(s)[0].contains(as_col(p)[0]), "bool"),
    "re-matches": lambda p, s: (as_col(s)[0].rlike(as_col(p)[0]), "bool"),
    "re-find": lambda p, s: (
        F.regexp_extract(as_col(s)[0], as_col(p)[0], 0),
        "string",
    ),
    "replace": lambda s, m, r: (
        F.replace(as_col(s)[0], as_col(m)[0], as_col(r)[0]),
        "string",
    ),
    "reverse": lambda s: (F.reverse(as_col(s)[0]), "string"),
    "blank?": lambda s: (
        as_col(s)[0].isNull() | (F.trim(as_col(s)[0]) == ""),
        "bool",
    ),
    # clojure.string/index-of returns nil when absent; locate is 1-based
    "index-of": lambda s, sub: (
        F.when(
            F.call_function("locate", as_col(sub)[0], as_col(s)[0]) > 0,
            (F.call_function("locate", as_col(sub)[0], as_col(s)[0]) - 1).cast(
                "bigint"
            ),
        ),
        "long",
    ),
    "split": lambda s, re_: (
        json_strings(F.split(as_col(s)[0], as_col(re_)[0])),
        "json",
    ),
    "join": lambda sep, coll: (
        F.call_function(
            "array_join",
            F.from_json(as_col(coll)[0], "array<string>"),
            as_col(sep)[0],
        ),
        "string",
    ),
    # EDN keyword accessors: 'employee/age' -> name 'age', namespace 'employee'
    "name": lambda k: (
        F.element_at(F.split(as_col(k)[0], "/", 2), -1),
        "string",
    ),
    "namespace": lambda k: (
        F.when(
            as_col(k)[0].contains("/"),
            F.element_at(F.split(as_col(k)[0], "/", 2), 1),
        ),
        "string",
    ),
    # casts (Clojure coercions; long/double tower only)
    "long": lambda a: (num(a).cast("bigint"), "long"),
    "int": lambda a: (num(a).cast("bigint"), "long"),
    "double": lambda a: (num(a).cast("double"), "double"),
    "boolean": lambda a: (as_col(a)[0].cast("boolean"), "bool"),
    # bit ops on longs (struct-typed numerics arrive as double -> cast)
    "bit-and": _arith(
        lambda a, b: a.cast("bigint").bitwiseAND(b.cast("bigint")), lambda a: "long"
    ),
    "bit-or": _arith(
        lambda a, b: a.cast("bigint").bitwiseOR(b.cast("bigint")), lambda a: "long"
    ),
    "bit-xor": _arith(
        lambda a, b: a.cast("bigint").bitwiseXOR(b.cast("bigint")), lambda a: "long"
    ),
    "bit-shift-left": lambda a, n: (
        F.call_function("shiftleft", num(a).cast("bigint"), num(n).cast("int")),
        "long",
    ),
    "bit-shift-right": lambda a, n: (
        F.call_function("shiftright", num(a).cast("bigint"), num(n).cast("int")),
        "long",
    ),
}


def _type_pred(want: set):
    """Type predicate over the compiler's repr tags; struct columns check
    their runtime tag, typed columns resolve statically (nulls are never
    of any type — matching Clojure where nil fails string?/number?...)."""

    def f(a):
        c, r = as_col(a)
        if r == "struct":
            cond = c["t"].isin(*sorted(want)) if want else F.lit(False)
            return cond & (c["t"] != "null"), "bool"
        return (F.lit(r in want) & c.isNotNull()), "bool"

    return f


REGISTRY.update(
    {
        "nil?": lambda a: (
            as_col(a)[0]["t"] == "null"
            if as_col(a)[1] == "struct"
            else as_col(a)[0].isNull(),
            "bool",
        ),
        "some?": lambda a: (
            as_col(a)[0]["t"] != "null"
            if as_col(a)[1] == "struct"
            else as_col(a)[0].isNotNull(),
            "bool",
        ),
        "string?": _type_pred({"string"}),
        "number?": _type_pred({"long", "double"}),
        "int?": _type_pred({"long"}),
        "integer?": _type_pred({"long"}),
        "double?": _type_pred({"double"}),
        "float?": _type_pred({"double"}),
        "boolean?": _type_pred({"bool"}),
        "vector?": _type_pred({"json"}),
        "coll?": _type_pred({"json"}),
        "true?": lambda a: (as_col(a)[0].cast("boolean") == True, "bool"),  # noqa: E712
        "false?": lambda a: (as_col(a)[0].cast("boolean") == False, "bool"),  # noqa: E712
    }
)

def _membership(coll, arg):
    """`[(some #{:computer} ?job)]` — membership of a set of scalars in a
    JSON-array value (reference delegates to clojure.core `some` with a set
    as predicate; test query_test.clj:222-248)."""
    c, r = as_col(arg)
    if isinstance(coll, (set, frozenset, list, tuple)):
        elems = list(coll)
    else:
        elems = [coll]
    elems = [e[1:] if isinstance(e, str) and e.startswith(":") else e for e in elems]
    if r == "struct":
        c, r = c["j"], "json"
    if r != "json":
        cond = F.lit(False)
        for e in elems:
            cond = cond | (c == F.lit(e))
        return cond, "bool"
    if all(isinstance(e, str) for e in elems):
        arr = F.from_json(c, "array<string>")
    elif all(isinstance(e, int) and not isinstance(e, bool) for e in elems):
        arr = F.from_json(c, "array<bigint>")
    else:
        arr = F.from_json(c, "array<string>")
        elems = [str(e) for e in elems]
    cond = F.lit(False)
    for e in elems:
        cond = cond | F.array_contains(arr, e)
    return cond, "bool"


REGISTRY["some"] = _membership
REGISTRY["contains?"] = lambda coll, a: _membership(coll, a)
REGISTRY["member?"] = _membership

# `eval` is blacklisted in the reference too (query.clj:70-75)
BLACKLIST = {"eval"}


def apply_call(fn: str, args: list, kind: str = "function"):
    """Resolve and apply a registered function. args: (Column, repr) | const.
    Returns (Column, repr). `kind` selects the structured error code —
    the reference reports :unknown-predicate vs :unknown-function
    (query.clj:77-130)."""
    name = fn.lstrip(":")
    if name in BLACKLIST or name not in REGISTRY:
        raise QueryError(
            f"unknown-{kind}",
            f"Unknown {kind} {name}",
            **{kind: name},
        )
    return REGISTRY[name](*args)
