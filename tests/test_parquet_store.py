"""Cross-backend conformance: the golden semantics on the durable
commit-log parquet fact store (dedup windows + cardinality + historical +
pull exercise the non-clean read path that MemoryBackend tests may miss)."""

import pytest
from pyspark.sql import functions as F

from unifydb_spark import Engine, FactStore, Ref
from unifydb_spark.txlog import LogParquetBackend


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pq") / "facts")
    eng = Engine(spark, FactStore(spark, LogParquetBackend(spark, path)))
    # schema: :aliases is cardinality-many
    eng.transact([
        ["add", "s", ":unifydb/schema", ":aliases"],
        ["add", "s", ":unifydb/cardinality", ":cardinality/many"],
    ])
    r = eng.transact([
        ["add", "ben", ":name", "Ben"],
        ["add", "ben", ":aliases", "B"],
    ])
    eng.state = {"ben": r["tempids"]["ben"], "tx1": r["tempids"]["unifydb.tx"]}
    eng.transact([
        ["add", eng.state["ben"], ":aliases", "Benny"],
        ["add", eng.state["ben"], ":name", "Benjamin"],  # card-one rewrite
    ])
    return eng


def test_cardinality_many_accumulates(eng):
    rows = sorted(eng.query_rows(
        {"find": ["?a"], "where": [[eng.state["ben"], ":aliases", "?a"]]}
    ))
    assert rows == [("B",), ("Benny",)]


def test_cardinality_one_rewrites(eng):
    rows = eng.query_rows(
        {"find": ["?n"], "where": [[eng.state["ben"], ":name", "?n"]]}
    )
    assert rows == [("Benjamin",)]


def test_asof_sees_old_value(eng):
    rows = eng.query_rows(
        {"find": ["?n"], "where": [[eng.state["ben"], ":name", "?n"]]},
        eng.db(eng.state["tx1"]),
    )
    assert rows == [("Ben",)]


def test_historical_binds_tx_added(eng):
    rows = eng.query_rows(
        {"find": ["?n", "?added"],
         "where": [[eng.state["ben"], ":name", "?n", "?tx", "?added"]]},
        eng.db(historical=True),
    )
    assert sorted(rows) == [("Ben", True), ("Benjamin", True)]


def test_retraction_window_on_parquet(eng):
    r = eng.transact([["add", "x", ":tag", "keep"], ["add", "x", ":note", "gone"]])
    x = r["tempids"]["x"]
    eng.transact([[":unifydb/retract", x, ":note", "gone"]])
    rows = eng.query_rows({"find": ["?a", "?v"], "where": [[x, "?a", "?v"]]})
    assert rows == [("tag", "keep")]


def test_pull_on_parquet(eng):
    got = eng.query_rows(
        {"find": [("pull", "?e", [":name", ":aliases"])],
         "where": [["?e", ":name", "Benjamin"]]}
    )
    assert got[0][0] == {"name": "Benjamin", "aliases": ["B", "Benny"]}


def test_concurrent_transact_serializes(spark, tmp_path_factory):
    """Single-writer contract (reference transact.clj:116-137 — all
    writes serialize through one transactor thread; btree.clj:2-4): two
    threads calling transact() concurrently against the same parquet
    store must serialize — DISTINCT tx-ids, all entity ids unique, and
    every transaction's facts visible afterward."""
    import threading

    path = str(tmp_path_factory.mktemp("pqc") / "facts")
    store = FactStore(spark, LogParquetBackend(spark, path))
    eng = Engine(spark, store)
    eng.transact([["add", "seed", ":name", "name-seed"]])

    reports, errors = [], []
    barrier = threading.Barrier(2)

    def writer(tag):
        try:
            barrier.wait(timeout=30)
            for i in range(3):
                reports.append(
                    eng.transact(
                        [["add", f"{tag}{i}", ":name", f"name-{tag}{i}"]]
                    )
                )
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(t,)) for t in ("a", "b")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert errors == []
    assert len(reports) == 6
    tx_ids = [r["tempids"]["unifydb.tx"] for r in reports]
    assert len(set(tx_ids)) == 6, f"tx-ids collided: {sorted(tx_ids)}"
    ent_ids = [
        eid for r in reports for k, eid in r["tempids"].items()
        if k != "unifydb.tx"
    ]
    assert len(set(ent_ids)) == len(ent_ids), "entity ids collided"
    # every write visible in the final snapshot
    rows = eng.query_rows(
        {"find": ["?n"], "where": [["?e", ":name", "?n"]]}
    )
    names = sorted(n for (n,) in rows)
    assert names == sorted(
        ["name-seed"]
        + [f"name-{t}{i}" for t in ("a", "b") for i in range(3)]
    )
