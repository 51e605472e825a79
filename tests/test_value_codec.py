"""The typed-value codec end to end: values bound at different reprs (a
fact's typed column, an element matched inside a vector, an `or` branch)
unify by their decoded value, and refs survive inside vectors.

Each regression test below is a wrong answer the engine used to give when
two JSON renderers (Python's and Spark's) disagreed; the property tests
check the JVM-side decoder (`json_to_struct`) and string-vector encoder
(`json_strings`) against the Python codec on one Spark job per drawn
batch."""

import datetime
import itertools
import math

import pytest
from hypothesis import given, settings, strategies as st

from unifydb_spark import Engine, FactStore, Ref
from unifydb_spark.values import (
    CODEC,
    canonical_json,
    encode_value,
    json_strings,
    json_to_struct,
)

SEQ_JOIN = {
    "find": ["?e"],
    "where": [["?e", ":score", "?x"], ["?e", ":vec", ["?x", "_"]]],
}


def _seq_join_entities(spark, values, extra=()):
    """Entities 1..n hold value i in :score and [value, "tag"] in :vec;
    `extra` facts make :score mixed-type when given."""
    facts = []
    for i, v in enumerate(values, start=1):
        facts += [(i, ":score", v, 1, True), (i, ":vec", [v, "tag"], 1, True)]
    store = FactStore(spark).seed(facts + list(extra))
    return sorted(int(e) for (e,) in Engine(spark, store).query_rows(SEQ_JOIN))


MIXED = [(99, ":score", 7, 1, True), (99, ":vec", [8, "tag"], 1, True)]


def test_double_seq_join_matches_by_value(spark):
    doubles = [12345678.9, 1e-7, 1e20, 2.5]
    assert _seq_join_entities(spark, doubles) == [1, 2, 3, 4]
    assert _seq_join_entities(spark, doubles, MIXED) == [1, 2, 3, 4]


def test_non_ascii_string_seq_join_matches_by_value(spark):
    strings = ["café", "☃"]
    assert _seq_join_entities(spark, strings) == [1, 2]
    assert _seq_join_entities(spark, strings, MIXED) == [1, 2]


def test_or_of_double_and_seq_bound_value_is_one_value(spark):
    store = FactStore(spark).seed(
        [(1, ":score", 12345678.9, 1, True), (2, ":vec", [12345678.9], 1, True)]
    )
    q = {
        "find": [("count-distinct", "?x", "n"), ("distinct", "?x", "d")],
        "where": [
            ["or", ["?e", ":score", "?x"], ["?e", ":vec", ["?x"]]],
        ],
    }
    assert Engine(spark, store).query_rows(q) == [(1, [12345678.9])]


def test_ref_inside_a_vector_round_trips_and_joins(spark):
    eng = Engine(spark, FactStore(spark))
    eng.transact(
        [["add", 7, ":friend", Ref(5)], ["add", 7, ":pair", [Ref(5), 1]]]
    )
    [(pair,)] = eng.query_rows({"find": ["?p"], "where": [[7, ":pair", "?p"]]})
    assert pair == [5, 1] and type(pair[0]) is Ref and type(pair[1]) is int
    got = eng.query_rows(
        {
            "find": ["?e", "?f"],
            "where": [["?e", ":friend", "?f"], ["?e", ":pair", ["?f", "_"]]],
        }
    )
    assert got == [(Ref(7), Ref(5))]


def test_canonical_json_writes_refs_at_any_depth():
    assert canonical_json([Ref(5), 1]) == '[{"$ref":5},1]'
    assert canonical_json([[Ref(2)]]) == '[[{"$ref":2}]]'


def test_split_output_unifies_with_stored_strings(spark):
    store = FactStore(spark).seed(
        [(1, ":text", "café ☃", 1, True), (1, ":words", ["café", "☃"], 1, True)]
    )
    q = {
        "find": ["?e"],
        "where": [
            ["?e", ":text", "?s"],
            [("split", "?s", " "), "?w"],
            ["?e", ":words", "?w"],
        ],
    }
    assert Engine(spark, store).query_rows(q) == [(Ref(1),)]


def test_timestamp_inside_a_vector_is_a_string(spark):
    at = datetime.datetime(2020, 1, 2, 3, 4, 5, 678)
    store = FactStore(spark).seed(
        [
            (1, ":at", at, 1, True),
            (1, ":vec", [at, "x"], 1, True),
            (1, ":label", at.isoformat(), 1, True),
        ]
    )
    eng = Engine(spark, store)
    [(vec,)] = eng.query_rows({"find": ["?v"], "where": [[1, ":vec", "?v"]]})
    assert vec == ["2020-01-02T03:04:05.000678", "x"]

    def join(attr):
        return eng.query_rows(
            {"find": ["?e"], "where": [["?e", attr, "?t"], ["?e", ":vec", ["?t", "_"]]]}
        )

    assert join(":at") == []
    assert join(":label") == [(Ref(1),)]


# Each constant is held in :a by exactly one entity (11, 12, ...); entity
# 30 holds the double 1.0, which no constant below unifies with.
CONSTANTS = [Ref(1), 1, 1.5, "a", True, None, [1, 2], [Ref(1), "x"]]
HOLDER = {i: 11 + i for i in range(len(CONSTANTS))}


@pytest.fixture(scope="module")
def const_engine(spark):
    facts = [(HOLDER[i], ":a", c, 1, True) for i, c in enumerate(CONSTANTS)]
    facts += [(30, ":a", 1.0, 1, True), (31, ":link", Ref(30), 1, True)]
    return Engine(spark, FactStore(spark).seed(facts))


def _entities(eng, where, rules=()):
    q = {"find": ["?e"], "where": where, "rules": list(rules)}
    return sorted(int(e) for (e,) in eng.query_rows(q))


def _constant_forms(c) -> dict:
    """Five ways a query can demand that ?e's :a value unify with `c`."""
    rules = [
        [("r", "?e", "?v"), ["?e", ":a", "?v"]],
        [("hc", "?e", c), ["?e", ":a", "_"]],
        [("rr", "?e", "?v"), ["?e", ":a", "?v"]],
        [("rr", "?e", "?v"), ["?e", ":link", "?f"], ("rr", "?f", "?v")],
    ]
    return {
        "pattern": ([["?e", ":a", c]], rules),
        "rule call": ([("r", "?e", c)], rules),
        "rule-head constant": ([["?e", ":a", "?v"], ("hc", "?e", "?v")], rules),
        "predicate": ([["?e", ":a", "?v"], [("=", "?v", c)]], rules),
        "seeded recursive call": ([("rr", "?e", c)], rules),
    }


@pytest.mark.parametrize("i", range(len(CONSTANTS)), ids=[repr(c) for c in CONSTANTS])
def test_a_constant_unifies_alike_in_every_clause_kind(const_engine, i):
    want = [HOLDER[i]]
    for form, (where, rules) in _constant_forms(CONSTANTS[i]).items():
        assert _entities(const_engine, where, rules) == want, form


def test_one_one_point_zero_true_and_ref_one_never_unify(const_engine):
    for x, y in itertools.permutations([1, 1.0, True, Ref(1)], 2):
        rules = [[("hc", "?e", x), ["?e", ":a", "_"]], [("same", "?a", "?a")]]
        # a call constant against a rule-head constant
        assert _entities(const_engine, [("hc", "?e", y)], rules) == [], (x, y)
        # an axiom over two constants
        where = [("same", x, y), ["?e", ":a", "_"]]
        assert _entities(const_engine, where, rules) == [], (x, y)


_scalars = st.one_of(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.floats(allow_nan=False),  # subnormal, huge, +-0.0 and +-inf included
    st.text(max_size=12),
    st.booleans(),
    st.none(),
    st.builds(Ref, st.integers(min_value=0, max_value=2**62)),
)
_values = st.recursive(_scalars, lambda inner: st.lists(inner, max_size=3), max_leaves=8)

# pinned into every batch: the doubles and strings the renderers split on
_EDGES = [12345678.9, 1e-7, 1e20, 5e-324, 1.7976931348623157e308, -0.0, 0.0,
          "café", "☃", "\U0001f600", 'q"\\\n', Ref(5), [Ref(5), 1], None]


def _same(x, y) -> bool:
    if isinstance(x, float) and isinstance(y, float):
        return x == y and math.copysign(1, x) == math.copysign(1, y)
    return x == y and type(x) is type(y)


@settings(max_examples=8, deadline=None)
@given(st.lists(_values, max_size=40))
def test_json_to_struct_decodes_like_encode_value(spark, drawn):
    values = _EDGES + drawn
    df = spark.createDataFrame(
        [(i, canonical_json(v)) for i, v in enumerate(values)], "i long, j string"
    )
    rows = df.select("i", json_to_struct(df["j"]).alias("v")).orderBy("i").collect()
    for v, row in zip(values, rows):
        enc, got = encode_value(v), row["v"]
        assert got["t"] == enc["v_type"], (v, got)
        for col, slot, _ in CODEC.values():
            assert _same(got[slot], enc[col]), (v, slot, got)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.lists(st.text(max_size=8), max_size=4), max_size=20))
def test_json_strings_writes_canonical_json(spark, drawn):
    arrays = [["café", "☃", "\U0001f600", 'q"\\\n\t\x00\x1f\x7f', ""], []] + drawn
    df = spark.createDataFrame(list(enumerate(arrays)), "i long, a array<string>")
    rows = df.select("i", json_strings(df["a"]).alias("j")).orderBy("i").collect()
    assert [r["j"] for r in rows] == [canonical_json(a) for a in arrays]
