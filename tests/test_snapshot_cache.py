"""The collapsed-snapshot cache of a commit-log store, and the pin every
backend answers.

A non-clean, non-historical read of a `LogParquetBackend` store filters
one persisted snapshot per (log version, tx); every other backend runs
the same `_collapse` windows inline per pattern. The differential tests
check both paths, and every backend's `pin()`, against an independent
pure-Python model over seeded small histories; the lifecycle tests
check the cache's bound, its single build per key, and that a request's
`persist_scope` leaves shared snapshots alone.
"""

import json
import random
import threading
import time

import pytest

from unifydb_spark.engine import Engine
from unifydb_spark.resources import persist_scope
from unifydb_spark.sources.jdbc import JdbcBackend
from unifydb_spark.store import (
    LATEST,
    SNAPSHOT_CACHE_SIZE,
    DataFrameBackend,
    FactStore,
)
from unifydb_spark.txlog import LogParquetBackend

SCHEMA = "unifydb/schema"
CARD = "unifydb/cardinality"
MANY = "cardinality/many"
ENTITIES = (11, 12, 13)
DOMAIN = {"name": ("ann", "bo", "cy"), "age": (1, 2, 3), "tag": ("x", "y", "z")}

ALL = {"find": ["?e", "?a", "?v"], "where": [["?e", "?a", "?v"]]}
TAGS = {"find": ["?e", "?v"], "where": [["?e", ":tag", "?v"]]}
HISTORY = {
    "find": ["?e", "?a", "?v", "?tx", "?added"],
    "where": [["?e", "?a", "?v", "?tx", "?added"]],
}


def history(seed: int, n_tx: int = 4) -> list:
    """Per tx, the [e a v tx added] facts of a seeded history: asserts
    and retracts (often of a value seen before) over a small domain, with
    `tag` declared cardinality-many at some tx and sometimes undeclared
    later. Within one tx an (e, a) asserts at most one value, so
    cardinality-one never has to break a tie inside a tx."""
    rng = random.Random(seed)
    decl = rng.randint(1, n_tx)
    undecl = rng.randint(decl, n_tx + 2)  # past n_tx: never undeclared
    txs = []
    for tx in range(1, n_tx + 1):
        facts = []
        if tx == decl:
            facts += [(1, SCHEMA, "tag", tx, True), (1, CARD, MANY, tx, True)]
        if tx == undecl:
            facts.append((1, CARD, MANY, tx, False))
        asserted = {}
        for _ in range(rng.randint(2, 5)):
            e, a = rng.choice(ENTITIES), rng.choice(sorted(DOMAIN))
            v = asserted.get((e, a)) or rng.choice(DOMAIN[a])
            added = rng.random() < 0.65
            if added:
                asserted[(e, a)] = v
            facts.append((e, a, v, tx, added))
        txs.append(facts)
    return txs


def _live(facts: list, tx) -> dict:
    """{(e, a, v): tx of its latest fact} of the values live as of `tx`."""
    last = {}
    for e, a, v, t, added in facts:
        if tx != LATEST and t > tx:
            continue
        k = (e, a, v)
        if k not in last or (t, not added) > (last[k][0], not last[k][1]):
            last[k] = (t, added)
    return {k: t for k, (t, added) in last.items() if added}


def _many(live: dict) -> set:
    """The attributes a live schema entity declares cardinality-many."""
    return {v for (e, a, v) in live if a == SCHEMA and (e, CARD, MANY) in live}


def model(facts: list, tx) -> set:
    """{(e, a, v)} visible as of `tx`: the latest fact per (e, a, v) must
    be an assert (a retract outranks an assert in the same tx); an
    attribute is cardinality-many while a live schema entity names it
    and carries a live cardinality/many; otherwise only the values of the
    latest live tx per (e, a) stay."""
    live = _live(facts, tx)
    many = _many(live)
    newest = {}
    for (e, a, v), t in live.items():
        newest[(e, a)] = max(newest.get((e, a), t), t)
    return {
        (e, a, v)
        for (e, a, v), t in live.items()
        if a in many or t == newest[(e, a)]
    }


def _stores(spark, path, txs):
    log = FactStore(spark, LogParquetBackend(spark, path))
    for facts in txs:
        log.seed(facts)  # one log version per tx
    inline = FactStore(spark, DataFrameBackend(spark, log.facts()))
    return log, inline


def _answers(engine, q, db) -> set:
    return set(engine.query_rows(q, db))


def _check(spark, path, txs):
    facts = [f for fs in txs for f in fs]
    log, inline = _stores(spark, path, txs)
    engines = [Engine(spark, log), Engine(spark, inline)]
    try:
        for tx in [LATEST] + list(range(len(txs) + 1)):
            want = model(facts, tx)
            for eng in engines:
                db = eng.store.db(tx)
                assert _answers(eng, ALL, db) == want, (tx, type(eng.store.backend))
        want_tags = {(e, v) for e, a, v in model(facts, LATEST) if a == "tag"}
        for tx in (LATEST, len(txs) // 2):
            hist = {f for f in facts if tx == LATEST or f[3] <= tx}
            for eng in engines:
                assert _answers(eng, TAGS, eng.store.db()) == want_tags
                assert _answers(eng, HISTORY, eng.store.db(tx, historical=True)) == hist
        # every non-historical read of the log store went through the cache
        assert 0 < len(log._snapshots) <= SNAPSHOT_CACHE_SIZE
    finally:
        log._snapshots.clear()


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5, 6])
def test_cached_and_inline_snapshots_match_model(spark, tmp_path, seed):
    _check(spark, str(tmp_path / "facts"), history(seed))


def test_cardinality_undeclared_in_its_own_tx_is_one(spark, tmp_path):
    """Pinned counterexample: the cardinality/many fact asserted and
    retracted in one tx is not live (a retract outranks an assert in the
    same tx, as for every other fact), so `tag` stays cardinality-one.
    The schema collapse used to let the assert win there."""
    txs = [
        [(11, "tag", "x", 1, True)],
        [
            (1, SCHEMA, "tag", 2, True),
            (1, CARD, MANY, 2, True),
            (1, CARD, MANY, 2, False),
            (11, "tag", "y", 2, True),
        ],
    ]
    _check(spark, str(tmp_path / "facts"), txs)


# ---- one pin from every backend ---------------------------------------


def model_pin(facts: list, n_tx: int) -> dict:
    """The read stats of `facts` by a pure-Python model: what every
    backend's pin, and the store's meta read through it, must answer
    (the cardinality-many set at every tx included)."""
    txs = {f[3] for f in facts}
    retr = any(not f[4] for f in facts)
    types = {}
    for _e, a, v, _t, _added in facts:
        types.setdefault(a, set()).add("string" if isinstance(v, str) else "long")
    return {
        "clean": not retr and len(txs) <= 1,
        "has_retractions": retr,
        "latest_tx": max(txs, default=0),
        "max_id": max([f[0] for f in facts] + list(txs), default=0),
        "schema_rows": sorted(f for f in facts if f[1] in (SCHEMA, CARD)),
        "attr_types": types,
        "many": {t: _many(_live(facts, t)) for t in [LATEST, *range(n_tx + 1)]},
    }


def store_pin(store, n_tx: int) -> dict:
    pin = store.pin()
    rows, types = store._meta(pin)
    return {
        "clean": pin.clean,
        "has_retractions": pin.has_retractions,
        "latest_tx": pin.latest_tx,
        "max_id": pin.max_id,
        "schema_rows": sorted(rows),
        "attr_types": {a: set(ts) for a, ts in types.items()},
        "many": {
            t: set(store.cardinality_many_attrs(t, pin=pin))
            for t in [LATEST, *range(n_tx + 1)]
        },
    }


def _strip_head_meta(backend, version):
    """Make a log head look written by code that predates head meta."""
    m = backend._read_manifest(version)
    del m["attr_types"], m["schema_rows"]
    with open(backend._manifest_path(version), "w") as f:
        json.dump(m, f)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_every_backend_pins_the_model_stats(spark, tmp_path, seed):
    txs = history(seed)
    n = len(txs)
    mem = FactStore(spark)
    log = FactStore(spark, LogParquetBackend(spark, str(tmp_path / "log")))
    legacy = FactStore(spark, LogParquetBackend(spark, str(tmp_path / "legacy")))
    jdbc = FactStore(
        spark,
        JdbcBackend(
            spark,
            f"jdbc:derby:{tmp_path / 'derby'};create=true",
            driver="org.apache.derby.jdbc.EmbeddedDriver",
        ),
    )
    facts = []
    for k in range(n + 1):
        if k:
            for store in (mem, log, legacy, jdbc):
                store.seed(txs[k - 1])  # one store version per tx
            facts += txs[k - 1]
            if k == 1:  # every later head folds from a head without meta
                _strip_head_meta(legacy.backend, 1)
        frame = FactStore(spark, DataFrameBackend(spark, mem.facts()))
        want = model_pin(facts, n)
        for store in (mem, log, legacy, frame, jdbc):
            assert store_pin(store, n) == want, (k, type(store.backend).__name__)
        assert log.pin().version == legacy.pin().version == k
        assert (legacy.pin().meta is None) == (k > 0)
        assert {mem.pin().version, frame.pin().version, jdbc.pin().version} == {None}


def test_unversioned_read_takes_stats_after_its_facts(spark):
    """A backend without log versions reads its current facts, so a value
    pinned before the store's first retraction must not decide the
    collapse of facts read after it."""
    store = FactStore(spark)
    eng = Engine(spark, store)
    e = eng.transact([["add", "x", ":tag", "a"]])["tempids"]["x"]
    db = store.db().pinned()
    assert db.pin.clean
    eng.transact([["retract", e, ":tag", "a"]])
    assert db.visible_facts(attr="tag").count() == 0


def _jobs(spark, group, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pin_job_counts(spark):
    """A store's stats read through its pin: no job on an in-memory
    store; one observed aggregate (one job), once, on a DataFrame store
    (job counts taken from a run)."""
    mem = FactStore(spark)

    def read(store):
        store.attr_types()
        store.cardinality_many_attrs()

    for i, facts in enumerate(history(7)):
        mem.seed(facts)
        assert _jobs(spark, f"pin-mem-{i}", lambda: read(mem)) == 0
    frame = FactStore(spark, DataFrameBackend(spark, mem.facts()))
    assert _jobs(spark, "pin-frame-first", lambda: read(frame)) == 1
    assert _jobs(spark, "pin-frame-again", lambda: read(frame)) == 0


# ---- lifecycle ---------------------------------------------------------


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _dirty_store(spark, path, n_tx):
    store = FactStore(spark, LogParquetBackend(spark, path))
    for tx in range(1, n_tx + 1):
        store.seed([(11, "age", tx, tx, True), (11, "age", tx - 1, tx, False)])
    return store


def test_cache_is_bounded_and_eviction_releases_blocks(spark, tmp_path):
    n = SNAPSHOT_CACHE_SIZE + 3
    store = _dirty_store(spark, str(tmp_path / "facts"), n)
    base = _persistent_rdds(spark)
    try:
        first = store.db(1).pinned().visible_facts()
        for tx in range(2, n + 1):  # n distinct (version, tx) keys
            assert store.db(tx).pinned().visible_facts().count() == 1
        assert len(store._snapshots) == SNAPSHOT_CACHE_SIZE
        assert _persistent_rdds(spark) - base == SNAPSHOT_CACHE_SIZE
        # an evicted snapshot a query still holds recomputes from lineage
        assert [r["v_long"] for r in first.collect()] == [1]
    finally:
        store._snapshots.clear()
    assert _persistent_rdds(spark) == base


def test_concurrent_misses_on_one_key_build_once(spark, tmp_path):
    store = _dirty_store(spark, str(tmp_path / "facts"), 3)
    build = store._build_snapshot
    builds = []

    def counted(*args):
        builds.append(args)
        time.sleep(0.5)  # keep the build open while the others miss
        return build(*args)

    store._build_snapshot = counted
    db = store.db().pinned()
    start = threading.Barrier(4)
    got = []

    def read():
        start.wait()
        got.append(db.visible_facts(attr="age"))

    threads = [threading.Thread(target=read) for _ in range(4)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(builds) == 1 and len(got) == 4
        assert [r["v_long"] for r in got[0].collect()] == [3]
    finally:
        store._snapshots.clear()


def test_persist_scope_exit_keeps_shared_snapshots(spark, tmp_path):
    store = _dirty_store(spark, str(tmp_path / "facts"), 3)
    eng = Engine(spark, store)
    q = {"find": ["?v"], "where": [[11, ":age", "?v"]]}
    base = _persistent_rdds(spark)
    try:
        with persist_scope():
            assert eng.query_rows(q) == [(3,)]
        assert len(store._snapshots) == 1
        assert _persistent_rdds(spark) == base + 1
        builds = []
        store._build_snapshot = lambda *a: builds.append(a)
        # another request at the same version reads the kept snapshot
        assert eng.query_rows(q) == [(3,)]
        assert builds == []
    finally:
        store._snapshots.clear()
    assert _persistent_rdds(spark) == base
