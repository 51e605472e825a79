"""Pull (R15) conformance: the reference's doc-store-queries goldens
(test/unifydb/query_test.clj:521-576) in the Python surface syntax.

Divergence (documented in pull.py): cardinality-many lists are sorted by
canonical JSON for determinism under parallel scan; the reference inherits
B-tree insertion order. Assertions normalize list order.
"""

import pytest

from unifydb_spark import Engine, FactStore, Ref

DOC_FACTS = [
    (2, ":name", "Alice", 1, True),
    (2, ":favorite-color", "red", 1, True),
    (2, ":friends", Ref(3), 1, True),
    (2, ":friends", Ref(4), 1, True),
    (3, ":name", "Bob", 1, True),
    (3, ":favorite-color", "green", 1, True),
    (4, ":name", "Carl", 1, True),
    (4, ":favorite-color", "yellow", 1, True),
    (5, ":unifydb/schema", "friends", 1, True),
    (5, ":unifydb/cardinality", "cardinality/many", 1, True),
    (2, ":status", Ref(6), 1, True),
    (6, ":text", "Feeling good", 1, True),
    (4, ":status", Ref(7), 1, True),
    (7, ":text", "Feeling bad", 1, True),
]


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, FactStore(spark).seed(DOC_FACTS))


def _norm(v):
    """Sort card-many lists by repr for order-insensitive comparison."""
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    if isinstance(v, list):
        return sorted((_norm(x) for x in v), key=repr)
    return v


def test_nested_pull(engine):
    # reference query_test.clj:543-557
    q = {
        "find": [
            (
                "pull",
                "?e",
                [
                    ":name",
                    ":favorite-color",
                    {":status": [":text"]},
                    {":friends": [":name", ":favorite-color", {":status": [":text"]}]},
                ],
            )
        ],
        "where": [["?e", ":name", "Alice"]],
    }
    rows = engine.query_rows(q)
    assert len(rows) == 1
    assert _norm(rows[0][0]) == _norm(
        {
            "name": "Alice",
            "favorite-color": "red",
            "status": {"text": "Feeling good"},
            "friends": [
                {"name": "Carl", "favorite-color": "yellow",
                 "status": {"text": "Feeling bad"}},
                {"name": "Bob", "favorite-color": "green"},
            ],
        }
    )


def test_pull_all_entities(engine):
    # reference query_test.clj:558-563
    q = {"find": [("pull", "?e", [":name"])], "where": [["?e", ":name", "_"]]}
    rows = sorted(engine.query_rows(q), key=repr)
    assert rows == [({"name": "Alice"},), ({"name": "Bob"},), ({"name": "Carl"},)]


def test_multi_pull(engine):
    # reference query_test.clj:564-570 (two pulls of the same entity)
    q = {
        "find": [
            ("pull", "?e", [":name"], "p1"),
            ("pull", "?e", [":favorite-color"], "p2"),
        ],
        "where": [["?e", "?a", "_"], [("=", "?e", Ref(2))]],
    }
    rows = set(map(repr, engine.query_rows(q)))
    assert rows == {repr(({"name": "Alice"}, {"favorite-color": "red"}))}


def test_pull_wildcard(engine):
    q = {"find": [("pull", "?e", ["*"])], "where": [["?e", ":name", "Bob"]]}
    rows = engine.query_rows(q)
    assert _norm(rows[0][0]) == {"favorite-color": "green", "name": "Bob"}


def test_pull_with_aggregate(engine):
    # pull + aggregate in one find: pull column groups with its entity var
    q = {
        "find": [("pull", "?e", [":name"]), ("count", "?f", "n_friends")],
        "where": [["?e", ":friends", "?f"]],
    }
    rows = engine.query_rows(q)
    assert rows == [({"name": "Alice"}, 2)]


def test_pull_missing_attr_entity_dropped(engine):
    # entity 6 has :text but no :name -> pulling [:name] yields {}
    q = {"find": ["?e", ("pull", "?e", [":name"], "p")],
         "where": [["?e", ":text", "Feeling good"]]}
    rows = engine.query_rows(q)
    assert rows == [(Ref(6), {})]


# ---- one slice per level, on the commit-log store's cached snapshot --------

NESTED = {
    "find": [
        ("pull", "?e", [":name", {":status": [":text"]},
                        {":friends": [":name", {":status": [":text"]}]}])
    ],
    "where": [["?e", ":name", "_"]],
}
WILDCARD = {"find": [("pull", "?e", ["*"])], "where": [["?e", ":name", "_"]]}
# a second tx (Dan joins, Bob's color changes) makes the log store non-clean,
# so its reads go through the cached collapsed snapshot
LATER_FACTS = [
    (8, ":name", "Dan", 2, True),
    (2, ":friends", Ref(8), 2, True),
    (3, ":favorite-color", "green", 2, False),
    (3, ":favorite-color", "blue", 2, True),
]


@pytest.fixture(scope="module")
def log_and_memory(spark, tmp_path_factory):
    from unifydb_spark.txlog import LogParquetBackend

    path = str(tmp_path_factory.mktemp("pull") / "facts")
    log = FactStore(spark, LogParquetBackend(spark, path))
    log.seed(DOC_FACTS).seed(LATER_FACTS)  # two log versions
    memory = FactStore(spark).seed(DOC_FACTS + LATER_FACTS)
    yield Engine(spark, log), Engine(spark, memory)
    log._snapshots.clear()


def _docs(engine, q):
    return sorted((_norm(r[0]) for r in engine.query_rows(q)), key=repr)


@pytest.mark.parametrize("q", [NESTED, WILDCARD], ids=["nested", "wildcard"])
def test_pull_log_store_matches_memory_store(log_and_memory, q):
    log, memory = log_and_memory
    assert _docs(log, q) == _docs(memory, q)


def test_pull_on_log_store_documents(log_and_memory):
    log, _ = log_and_memory
    docs = {d["name"]: d for d in _docs(log, NESTED)}
    # card-many friends, now three; nested status through a friend
    assert _norm(docs["Alice"]["friends"]) == _norm(
        [{"name": "Bob"}, {"name": "Carl", "status": {"text": "Feeling bad"}},
         {"name": "Dan"}]
    )
    assert docs["Alice"]["status"] == {"text": "Feeling good"}
    wild = {d["name"]: d for d in _docs(log, WILDCARD)}
    assert wild["Bob"] == {"name": "Bob", "favorite-color": "blue"}


def test_nested_pull_job_count_on_a_warm_snapshot(spark, log_and_memory):
    """A nested pull (three levels, one of them card-many) on a warm
    snapshot: each level filters the cached snapshot once to the spec's
    attributes, and neither pull semi-join deduplicates its ids first.
    The count is copied from a run (it was 33 when each level unioned
    one snapshot filter per attribute and deduplicated both id sets, and
    17 while the snapshot was hash-partitioned on (e, a) instead of e)."""
    log, _ = log_and_memory
    log.query_rows(NESTED)  # builds the snapshot of the head version
    sc = spark.sparkContext
    sc.setJobGroup("pull-warm", "pull-warm")
    try:
        log.query_rows(NESTED)
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup("pull-warm")) == 12
