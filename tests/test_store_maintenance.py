"""Fact-log compaction + Engine.explain surface."""

import pytest

from unifydb_spark import Engine, FactStore
from unifydb_spark.txlog import LogParquetBackend


def test_compact_preserves_facts_and_queries(spark, tmp_path):
    path = str(tmp_path / "facts")
    store = FactStore(spark, LogParquetBackend(spark, path))
    eng = Engine(spark, store)
    ids = {}
    for i in range(6):  # 6 txs -> >= 6 file groups
        r = eng.transact([["add", f"e{i}", ":name", f"N{i}"],
                          ["add", f"e{i}", ":rank", i]])
        ids[i] = r["tempids"][f"e{i}"]
    eng.transact([[":unifydb/retract", ids[0], ":name", "N0"]])
    before = sorted(map(tuple, store.backend.facts_df().collect()))
    n_files_before = len(store.backend._live_files())

    store.backend.checkpoint()

    after = sorted(map(tuple, store.backend.facts_df().collect()))
    assert before == after  # content identical, layout changed
    n_files_after = len(store.backend._live_files())
    assert n_files_after < n_files_before
    # snapshot semantics intact (retraction still collapses)
    assert eng.query_rows({"find": ["?n"], "where": [[ids[0], ":name", "?n"]]}) == []
    assert eng.query_rows({"find": ["?n"], "where": [[ids[3], ":name", "?n"]]}) == [("N3",)]


def test_explain_shows_pushdown(spark):
    from unifydb_spark.sources.tables import table_fact_store

    eng = Engine(spark, table_fact_store(spark, "/root/testdata/sf0.001"))
    plan = eng.explain({
        "find": ["?ck"],
        "where": [["?c", ":customer/mktsegment", "BUILDING"],
                  ["?c", ":customer/custkey", "?ck"]],
    })
    assert "PushedFilters" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan.replace(" ", "")


def test_tx_as_of_wallclock(spark):
    from unifydb_spark import Engine, FactStore

    eng = Engine(spark, FactStore(spark))
    store = eng.store
    t1 = store.transact([["add", "e", ":v", 1]], now_millis=1000)
    eid = t1["tempids"]["e"]
    t2 = store.transact([["add", eid, ":v", 2]], now_millis=2000)
    assert store.tx_as_of(1500) == t1["tempids"]["unifydb.tx"]
    assert store.tx_as_of(5000) == t2["tempids"]["unifydb.tx"]
    assert store.tx_as_of(10) == 0
    # wall-clock snapshot shows the old value
    db = eng.db(store.tx_as_of(1500))
    assert eng.query_rows({"find": ["?v"], "where": [[eid, ":v", "?v"]]}, db) == [(1,)]


def test_materialize_snapshot(spark, tmp_path):
    from unifydb_spark import Engine, FactStore

    store = FactStore(spark)
    eng = Engine(spark, store)
    r = eng.transact([["add", "e", ":color", "red"], ["add", "e", ":n", 1]])
    eid = r["tempids"]["e"]
    eng.transact([[":unifydb/retract", eid, ":color", "red"],
                  ["add", eid, ":color", "blue"]])
    snap = store.materialize_snapshot(str(tmp_path / "snap"))
    snap_tx = snap.pin().latest_tx
    assert snap.pin().clean  # no retractions survive materialization
    with pytest.raises(FileExistsError):  # an existing path is refused
        store.materialize_snapshot(str(tmp_path / "snap"))
    got = Engine(spark, snap).query_rows(
        {"find": ["?c"], "where": [[eid, ":color", "?c"]]}
    )
    assert got == [("blue",)]
    # the snapshot is a writable commit-log store
    r2 = snap.transact([["add", eid, ":n", 2]])
    assert r2["tempids"]["unifydb.tx"] > snap_tx
    assert Engine(spark, snap).query_rows(
        {"find": ["?n"], "where": [[eid, ":n", "?n"]]}
    ) == [(2,)]


def test_materialize_snapshot_bucketed_colocates_joins(spark):
    """Bucketed snapshot: entity-keyed self-joins over the materialized
    table plan WITHOUT a shuffle on either side (bucket spec supplies the
    partitioning), and the queryable facts are unchanged."""
    store = FactStore(spark)
    eng = Engine(store.spark, store)
    for i in range(20):
        eng.transact([["add", f"e{i}", ":name", f"N{i}"],
                      ["add", f"e{i}", ":rank", i]])
    name = "bucketed_snap_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        snap = store.materialize_snapshot_bucketed(name, n_buckets=4)
        # facts identical to the plain snapshot (modulo the stamped tx)
        a = sorted((r["e"], r["a"], r["v_str"], r["v_long"])
                   for r in store.snapshot().collect())
        b = sorted((r["e"], r["a"], r["v_str"], r["v_long"])
                   for r in snap.snapshot().collect())
        assert a == b
        # entity self-join on the bucketed table: no SHUFFLE in the plan
        # (disable broadcast so the planner must rely on the bucket spec;
        # with broadcast on, tiny sides take a BroadcastExchange instead,
        # which is equally shuffle-free)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            facts = snap.backend.facts_df()
            left = facts.filter("a = ':name'").select("e", "v_str")
            right = facts.filter("a = ':rank'").select("e", "v_long")
            plan = (left.join(right, "e")
                    ._jdf.queryExecution().executedPlan().toString())
            assert "Exchange hashpartitioning" not in plan, plan
            assert "SortMergeJoin" in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
