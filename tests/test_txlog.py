"""ACID commit-log backend (txlog.LogParquetBackend).

The reference serializes all writers through one transactor thread inside
one process (reference src/unifydb/transact.clj:116-137, btree.clj:2-4);
these tests prove the stronger cross-PROCESS contract the 100 TB write
path needs: two independent OS processes transacting against the same
store serialize via the optimistic commit log (distinct tx-ids, all facts
visible), a writer killed mid-append leaves the store readable and clean,
and every historical log version remains a consistent read.

The conflict/crash suite is parametrized over BOTH commit primitives —
PosixLinkProtocol (link(2) create-exclusive) and ConditionalPutProtocol
(simulated object-store conditional PUT, no filesystem atomic-create) —
so the protocol above the primitive provably never depends on POSIX-only
atomicity (VERDICT r9 ask #2).
"""

import json
import os
import subprocess
import sys
import textwrap

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from unifydb_spark.engine import Engine
from unifydb_spark.store import FactStore
from unifydb_spark.txlog import (
    CommitConflict,
    ConditionalPutProtocol,
    LogParquetBackend,
    PosixLinkProtocol,
)

PROTOCOLS = {
    "posix-link": PosixLinkProtocol,
    "s3-conditional-put": ConditionalPutProtocol,
}


@pytest.fixture(params=sorted(PROTOCOLS))
def protocol_name(request):
    return request.param


@pytest.fixture()
def log_store(spark, tmp_path, protocol_name):
    backend = LogParquetBackend(
        spark, str(tmp_path / "facts"), protocol=PROTOCOLS[protocol_name]()
    )
    return FactStore(spark, backend)


def test_transact_and_query_roundtrip(spark, log_store):
    eng = Engine(spark, log_store)
    r = eng.transact([["add", "b", ":name", "Ben"], ["add", "b", ":age", 40]])
    b = r["tempids"]["b"]
    rows = eng.query_rows(
        {"find": ["?v"], "where": [[b, ":age", "?v"]]}
    )
    assert rows == [(40,)]
    # commit log advanced exactly once for the one transaction
    assert log_store.backend.log_version() == 1


def test_retraction_and_time_travel_by_tx(spark, log_store):
    eng = Engine(spark, log_store)
    r1 = eng.transact([["add", "x", ":tag", "keep"], ["add", "x", ":note", "gone"]])
    x = r1["tempids"]["x"]
    tx1 = r1["tempids"]["unifydb.tx"]
    eng.transact([[":unifydb/retract", x, ":note", "gone"]])
    assert eng.query_rows({"find": ["?a", "?v"], "where": [[x, "?a", "?v"]]}) == [
        ("tag", "keep")
    ]
    # fact-level as-of still sees the retracted fact before the retraction
    old = eng.query_rows(
        {"find": ["?a", "?v"], "where": [[x, "?a", "?v"]]},
        db=log_store.db(tx1),
    )
    assert sorted(old) == [("note", "gone"), ("tag", "keep")]


def test_log_versioned_time_travel(spark, log_store):
    eng = Engine(spark, log_store)
    eng.transact([["add", "a", ":n", 1]])
    v1 = log_store.backend.log_version()
    eng.transact([["add", "b", ":n", 2]])
    eng.transact([["add", "c", ":n", 3]])
    assert log_store.backend.log_version() == 3
    # reading as of log version 1 sees only the first commit's facts
    df1 = log_store.backend.facts_df(as_of_version=v1)
    assert df1.filter(df1.a == "n").count() == 1
    df3 = log_store.backend.facts_df()
    assert df3.filter(df3.a == "n").count() == 3


def test_crash_mid_append_is_invisible(spark, tmp_path, protocol_name):
    """A writer that dies after writing parquet but BEFORE the manifest
    commit (protocol steps 1-3, txlog.py module docstring) must leave no
    trace for readers: orphan data files are invisible, vacuum reclaims
    them, and a torn tmp manifest is ignored."""
    path = str(tmp_path / "facts")
    store = FactStore(
        spark, LogParquetBackend(spark, path, protocol=PROTOCOLS[protocol_name]())
    )
    eng = Engine(spark, store)
    eng.transact([["add", "a", ":n", 1]])

    backend = store.backend
    # simulate the crash: data file written, no manifest
    rows = [(999, "n", "long", 42, None, None, None, None, None, None, 999, True)]
    backend._write_data_file(rows)
    # ...and a torn tmp manifest from a second crash point
    with open(os.path.join(backend.log_dir, ".tmp.dead"), "w") as f:
        f.write('{"files": [')  # truncated JSON

    assert backend.log_version() == 1
    df = backend.facts_df()
    assert df.count() == 2  # the one committed tx (fact + txInstant), nothing else
    assert df.filter(df.e == 999).count() == 0
    # default vacuum RETAINS the young orphan (it could be an in-flight
    # commit's data — the write-order race ADVICE r9 flagged)
    assert backend.vacuum() == []
    # with writers known quiescent, retention 0 reclaims exactly the orphan
    deleted = backend.vacuum(retention_seconds=0.0)
    assert len(deleted) == 1
    assert backend.facts_df().count() == 2


def test_lost_cas_leaves_no_orphan(spark, tmp_path, protocol_name):
    """commit_rows on a lost race must unlink its private data file —
    N contending writers no longer accumulate orphans (ADVICE r9)."""
    path = str(tmp_path / "facts")
    backend = LogParquetBackend(spark, path, protocol=PROTOCOLS[protocol_name]())
    rows = [(1, "n", "long", 1, None, None, None, None, None, None, 2, True)]
    assert backend.commit_rows(rows, 0)  # v1 committed
    n_data = len(os.listdir(backend.data_dir))
    # stale base: CAS on v1 loses because v1 exists
    assert not backend.commit_rows(rows, 0)
    assert len(os.listdir(backend.data_dir)) == n_data  # file reclaimed


def test_commit_conflict_retries_with_fresh_ids(spark, tmp_path, protocol_name):
    """Force one lost CAS race and verify transact re-bases: re-reads
    max_id, re-allocates ids, and the final state is serializable."""
    proto = PROTOCOLS[protocol_name]
    path = str(tmp_path / "facts")
    store = FactStore(spark, LogParquetBackend(spark, path, protocol=proto()))
    eng = Engine(spark, store)
    eng.transact([["add", "seed", ":n", 0]])

    backend = store.backend
    real_commit = backend.commit_rows
    state = {"interposed": False}

    def racing_commit(rows, based_on_version):
        if not state["interposed"]:
            state["interposed"] = True
            # another "process" commits first, consuming ids
            other = FactStore(
                spark, LogParquetBackend(spark, path, protocol=proto())
            )
            other.transact([["add", "intruder", ":n", 99]])
        return real_commit(rows, based_on_version)

    backend.commit_rows = racing_commit
    r = eng.transact([["add", "late", ":n", 1]])
    backend.commit_rows = real_commit

    assert state["interposed"]
    # all three transactions visible, all tx-ids distinct
    df = backend.facts_df()
    txs = sorted(r["tx"] for r in df.select("tx").distinct().collect())
    assert len(txs) == 3
    # entity ids never collide across the raced writers
    es = [r["e"] for r in df.groupBy("e", "a").count().filter("count > 1").collect()]
    assert es == []


def test_cross_process_writers_serialize(spark, tmp_path, protocol_name):
    """THE contract test: two independent OS processes (no shared locks,
    no Spark in the children — the txlog write path is pure Python)
    transact concurrently against the same store. Afterward every
    transaction is visible with a distinct tx-id and no entity-id
    collisions. Runs against both commit primitives."""
    path = str(tmp_path / "facts")
    n_per_writer = 8

    child = textwrap.dedent(
        """
        import sys, time
        sys.path.insert(0, sys.argv[4])
        from unifydb_spark.store import FactStore
        from unifydb_spark import txlog

        tag, path, proto_cls = sys.argv[1], sys.argv[2], sys.argv[3]
        backend = txlog.LogParquetBackend(
            None, path, protocol=getattr(txlog, proto_cls)()
        )
        store = FactStore(spark=None, backend=backend)
        for i in range(%d):
            store.transact([["add", f"{tag}{i}", ":name", f"name-{tag}{i}"]])
        print("done", tag)
        """
        % n_per_writer
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proto_cls = PROTOCOLS[protocol_name].__name__
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", child, tag, path, proto_cls, repo],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for tag in ("a", "b")
    ]
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err.decode()

    backend = LogParquetBackend(spark, path)
    assert backend.log_version() == 2 * n_per_writer
    df = backend.facts_df()
    # each transact writes the named fact + the txInstant metadata fact
    assert df.count() == 2 * 2 * n_per_writer
    txs = df.select("tx").distinct().count()
    assert txs == 2 * n_per_writer
    # every logical fact from both writers made it
    names = {
        r["v_str"]
        for r in df.filter(df.a == "name").select("v_str").collect()
    }
    assert names == {
        f"name-{t}{i}" for t in ("a", "b") for i in range(n_per_writer)
    }
    # no (e, a) pair written twice — id allocation never collided
    assert df.groupBy("e", "a").count().filter("count > 1").count() == 0


def test_bulk_append_df_atomic(spark, tmp_path):
    """Executor-written big appends become visible in ONE manifest
    commit; a staged-but-uncommitted write is invisible."""
    from unifydb_spark.values import FACT_SCHEMA

    path = str(tmp_path / "facts")
    backend = LogParquetBackend(spark, path)
    rows = [
        (i, "doc/len", "long", i * 10, None, None, None, None, None, None, 1, True)
        for i in range(1, 101)
    ]
    df = spark.createDataFrame(rows, schema=FACT_SCHEMA)
    assert backend.bulk_append_df(df)
    assert backend.log_version() == 1
    assert backend.facts_df().count() == 100
    assert backend.pin().max_id == 100
    assert backend.pin().clean  # single tx, no retractions -> snapshot fast path


def test_bulk_append_df_empty_input(spark, tmp_path):
    """Empty input must not IndexError (VERDICT r9 nit #1): with no
    stream epoch and an empty store it is a pure no-op; with an epoch it
    commits a zero-file manifest so the epoch is still recorded."""
    from unifydb_spark.values import FACT_SCHEMA

    path = str(tmp_path / "facts")
    backend = LogParquetBackend(spark, path)
    empty = spark.createDataFrame([], schema=FACT_SCHEMA)
    assert backend.bulk_append_df(empty) is False
    assert backend.log_version() == 0
    # an empty micro-batch with an epoch still records the epoch
    assert backend.bulk_append_df(empty, stream_epoch=("s1", 0)) is True
    assert backend.log_version() == 1
    assert backend.last_stream_epoch("s1") == 0
    assert backend.facts_df().count() == 0


@pytest.mark.parametrize("n_tx", [0, 1, 40])
def test_bulk_append_df_bounds_its_tx_stats(spark, tmp_path, n_tx):
    """The bulk-append manifest stats come from min(tx)/max(tx), so the
    driver never receives a tx per row: no rows keep the parent's
    tx_state, one tx keeps it exact, more collapse to "multi"."""
    from unifydb_spark.values import FACT_SCHEMA

    backend = LogParquetBackend(spark, str(tmp_path / "facts"))
    rows = [
        (i, "n", "long", i, None, None, None, None, None, None, tx, True)
        for tx in range(100, 100 + n_tx)
        for i in range(1, 4)
    ]
    df = spark.createDataFrame(rows, schema=FACT_SCHEMA)
    assert backend.bulk_append_df(df, stream_epoch=("s", 0))
    head = backend._read_manifest(1)
    want = {0: None, 1: 100}.get(n_tx, "multi")
    assert head["tx_state"] == want and head["rows"] == len(rows)
    pin = backend.pin()
    assert pin.clean == (n_tx <= 1) and not pin.has_retractions
    assert pin.latest_tx == (99 + n_tx if n_tx else 0)
    assert pin.max_id == (99 + n_tx if n_tx else 0)


def test_bulk_append_stream_epoch_idempotent(spark, tmp_path):
    """The exactly-once half of the streaming transactor: a replayed
    (stream, epoch) commit is a no-op — no duplicate facts, no version
    advance — while a NEW epoch commits normally."""
    from unifydb_spark.values import FACT_SCHEMA

    path = str(tmp_path / "facts")
    backend = LogParquetBackend(spark, path)
    rows = [
        (i, "n", "long", i, None, None, None, None, None, None, 1, True)
        for i in range(1, 11)
    ]
    df = spark.createDataFrame(rows, schema=FACT_SCHEMA)
    assert backend.bulk_append_df(df, stream_epoch=("ingest", 0))
    v1 = backend.log_version()
    # replay of epoch 0 (restart between txlog commit and Spark's
    # checkpoint commit): skipped, nothing duplicated
    assert backend.bulk_append_df(df, stream_epoch=("ingest", 0)) is False
    assert backend.log_version() == v1
    assert backend.facts_df().count() == 10
    # next epoch commits; the manifest's stream map advances
    assert backend.bulk_append_df(df, stream_epoch=("ingest", 1))
    assert backend.facts_df().count() == 20
    assert backend.last_stream_epoch("ingest") == 1
    # independent streams do not interfere
    assert backend.last_stream_epoch("other") == -1


def test_checkpoint_compacts_and_preserves_history(spark, tmp_path):
    path = str(tmp_path / "facts")
    store = FactStore(spark, LogParquetBackend(spark, path))
    eng = Engine(spark, store)
    for i in range(5):
        eng.transact([["add", f"e{i}", ":n", i]])
    backend = store.backend
    v_before = backend.log_version()
    ckpt_v = backend.checkpoint()
    assert ckpt_v == v_before + 1
    # reads at the head use only the checkpoint file set
    head_files = backend._live_files()
    assert all(
        f in {os.path.join(backend.data_dir, m["name"]) for m in backend._read_manifest(ckpt_v)["files"]}
        for f in head_files
    )
    assert backend.facts_df().count() == 10  # 5 facts + 5 txInstants
    # historical version still readable (files not deleted)
    assert backend.facts_df(as_of_version=2).select("tx").distinct().count() == 2
    # aggressive vacuum forfeits pre-checkpoint history but keeps the head
    backend.vacuum(retain_before_checkpoint=False, retention_seconds=0.0)
    assert backend.facts_df().count() == 10


def test_checkpoint_rebases_concurrent_commit(spark, tmp_path, protocol_name):
    """A commit that lands mid-rewrite is folded INTO the checkpoint
    (retry-with-rebase, VERDICT r9 ask #5) — compaction on a busy store
    no longer requires quiescence, and neither side loses data."""
    proto = PROTOCOLS[protocol_name]
    path = str(tmp_path / "facts")
    store = FactStore(spark, LogParquetBackend(spark, path, protocol=proto()))
    eng = Engine(spark, store)
    eng.transact([["add", "a", ":n", 1]])
    backend = store.backend

    real = backend._try_commit

    def interpose(manifest, version):
        if manifest.get("replaces_all") and not getattr(interpose, "hit", False):
            interpose.hit = True
            # an independent writer commits while the rewrite is staged
            other = FactStore(
                spark, LogParquetBackend(spark, path, protocol=proto())
            )
            Engine(spark, other).transact([["add", "b", ":n", 2]])
        return real(manifest, version)

    backend._try_commit = interpose
    ckpt_v = backend.checkpoint()
    backend._try_commit = real
    assert interpose.hit
    # checkpoint succeeded ON TOP of the concurrent commit
    assert ckpt_v == backend.log_version()
    head = backend._read_manifest(ckpt_v)
    assert head["replaces_all"]
    # both transactions visible at the head, which reads ONLY head files
    df = backend.facts_df()
    assert df.select("tx").distinct().count() == 2
    vals = sorted(
        r["v_long"] for r in df.filter(df.a == "n").select("v_long").collect()
    )
    assert vals == [1, 2]
    # cumulative stats adopted from the raced head: max_id covers writer b
    assert head["max_id"] == backend.pin().max_id >= 4
    # history intact: version 1 still reads exactly the first transaction
    assert backend.facts_df(as_of_version=1).select("tx").distinct().count() == 1


def test_manifest_stats_track_clean_flag(spark, tmp_path):
    path = str(tmp_path / "facts")
    store = FactStore(spark, LogParquetBackend(spark, path))
    eng = Engine(spark, store)
    r = eng.transact([["add", "x", ":n", 1]])
    # one transact = one tx: single tx, no retractions -> clean fast path
    head = store.backend._head()
    assert head["tx_state"] != "multi" and not head["any_retraction"]
    assert store.pin().clean
    eng.transact([[":unifydb/retract", r["tempids"]["x"], ":n", 1]])
    assert store.pin().has_retractions and not store.pin().clean


def test_last_checkpoint_pointer_bounds_manifest_reads(spark, tmp_path):
    """After a checkpoint, a head read parses only the manifests at/after
    the checkpoint version — O(commits since checkpoint), not O(all
    commits ever) — while pre-checkpoint time travel reads the versions
    below it correctly. Reads scan newest-first to the checkpoint, so a
    corrupt _last_checkpoint pointer (maintenance scheduling only) changes
    neither the answer nor the bound."""
    from unifydb_spark.values import FACT_SCHEMA

    path = str(tmp_path / "facts")
    backend = LogParquetBackend(spark, path)
    for i in range(1, 7):
        backend.append(
            [(i, "n", "long", i, None, None, None, None, None, None, i, True)]
        )
    ckpt_v = backend.checkpoint()
    assert ckpt_v == 7
    assert backend._read_last_checkpoint() == ckpt_v
    backend.append(
        [(9, "n", "long", 9, None, None, None, None, None, None, 9, True)]
    )

    reads = []
    real = backend._read_manifest

    def counting(v):
        reads.append(v)
        return real(v)

    backend._read_manifest = counting
    assert backend.facts_df().count() == 7
    # live scan from ckpt_v onward only
    assert min(reads) >= ckpt_v
    reads.clear()
    # pre-checkpoint time travel reads the versions below the checkpoint
    assert backend.facts_df(as_of_version=3).count() == 3
    assert min(reads) < ckpt_v
    reads.clear()

    # corrupt pointer: same answer, same bound
    with open(backend._lc_path, "w") as f:
        f.write("not json")
    assert backend._read_last_checkpoint() == 0
    assert backend.facts_df().count() == 7
    assert min(reads) >= ckpt_v
    backend._read_manifest = real


def test_vacuum_truncates_log_after_checkpoint(spark, tmp_path):
    """Aggressive vacuum (retain_before_checkpoint=False) reclaims the
    pre-checkpoint MANIFESTS along with their data files, so the log
    listing stops growing O(all commits); time travel below the
    truncation point raises instead of silently returning wrong data."""
    path = str(tmp_path / "facts")
    backend = LogParquetBackend(spark, path)
    for i in range(1, 5):
        backend.append(
            [(i, "n", "long", i, None, None, None, None, None, None, i, True)]
        )
    ckpt_v = backend.checkpoint()
    backend.append(
        [(8, "n", "long", 8, None, None, None, None, None, None, 8, True)]
    )
    backend.vacuum(retain_before_checkpoint=False, retention_seconds=0.0)
    versions = backend._list_versions()
    assert versions[0] == ckpt_v  # pre-checkpoint manifests truncated
    assert backend.log_version() == ckpt_v + 1
    assert backend.facts_df().count() == 5
    assert backend.facts_df(as_of_version=ckpt_v).count() == 4
    with pytest.raises(ValueError, match="truncated"):
        backend.facts_df(as_of_version=2)


def test_bulk_append_rejects_mismatched_schema(spark, tmp_path):
    """A frame that is not FACT_SCHEMA-shaped must fail the commit at
    write time — otherwise the files land and facts_df() silently
    null-coerces them on read (store corruption with no error)."""
    backend = LogParquetBackend(spark, str(tmp_path / "facts"))
    bad = spark.createDataFrame([(1, "x")], ["e", "a"])
    with pytest.raises(ValueError, match="FACT_SCHEMA"):
        backend.bulk_append_df(bad)
    assert backend.log_version() == 0


def test_restore_rolls_head_back_without_rewriting_history(spark, tmp_path):
    """Delta-RESTORE shape: restore(v) is a NEW commit whose file set is
    version v's live set — the head reads as v, every other version
    (including the rolled-back ones) stays readable, id/tx allocation
    stays monotone so post-restore transactions never collide with
    rolled-back facts, and a checkpoint/vacuum after restore keeps
    exactly the restored facts."""
    path = str(tmp_path / "facts")
    store = FactStore(spark, LogParquetBackend(spark, path))
    eng = Engine(spark, store)
    for val in (1, 2, 3):
        eng.transact([["add", f"e{val}", ":n", val]])
    backend = store.backend
    assert backend.log_version() == 3
    high_tx = backend.pin().latest_tx
    high_id = backend.pin().max_id

    rv = backend.restore(1)
    assert rv == 4
    # head now reads exactly version 1's facts
    assert backend.facts_df().filter("a = 'n'").count() == 1
    # rolled-back versions still time-travel readable
    assert backend.facts_df(as_of_version=3).filter("a = 'n'").count() == 3
    # allocation marks kept the head's high-water values
    assert backend.pin().max_id == high_id and backend.pin().latest_tx == high_tx
    # a new transaction lands above the rolled-back ids, no collision
    rep = eng.transact([["add", "e9", ":n", 9]])
    assert rep["tempids"]["e9"] > high_id
    vals = sorted(
        r["v_long"]
        for r in backend.facts_df().filter("a = 'n'").select("v_long").collect()
    )
    assert vals == [1, 9]
    # restore is checkpoint-shaped for readers: aggressive vacuum keeps
    # the restored head intact
    backend.vacuum(retain_before_checkpoint=False, retention_seconds=0.0)
    vals2 = sorted(
        r["v_long"]
        for r in backend.facts_df().filter("a = 'n'").select("v_long").collect()
    )
    assert vals2 == [1, 9]


def test_history_lists_operations_newest_first(spark, tmp_path):
    """history() = the DESCRIBE HISTORY surface: every commit with its
    operation kind, from manifests alone (no Spark job)."""
    path = str(tmp_path / "facts")
    backend = LogParquetBackend(spark, path)
    for i in (1, 2):
        backend.append(
            [(i, "n", "long", i, None, None, None, None, None, None, i, True)]
        )
    backend.checkpoint()
    backend.restore(1)
    h = backend.history()
    assert [e["version"] for e in h] == [4, 3, 2, 1]
    assert [e["operation"] for e in h] == [
        "restore", "checkpoint", "append", "append",
    ]
    assert h[0]["restored_from"] == 1
    assert h[0]["max_id"] == 2  # allocation high-water mark survives
    assert backend.history(limit=2)[-1]["version"] == 3


def test_restore_preserves_stream_epoch_marks(spark, tmp_path):
    """Stream epochs are allocation high-water marks like max_id: a
    restore must NOT roll them back, or a Spark-checkpoint replay of an
    already-committed micro-batch would double-append after the
    rollback."""
    from unifydb_spark.values import FACT_SCHEMA

    backend = LogParquetBackend(spark, str(tmp_path / "facts"))
    rows = [
        (i, "n", "long", i, None, None, None, None, None, None, 1, True)
        for i in range(1, 6)
    ]
    df = spark.createDataFrame(rows, schema=FACT_SCHEMA)
    assert backend.bulk_append_df(df, stream_epoch=("ingest", 0))
    backend.append(
        [(9, "x", "long", 9, None, None, None, None, None, None, 9, True)]
    )
    backend.restore(1)
    assert backend.last_stream_epoch("ingest") == 0
    # replayed epoch after restore: still recognized, still skipped
    assert backend.bulk_append_df(df, stream_epoch=("ingest", 0)) is False
    assert backend.facts_df().count() == 5


def _interpose_once(backend, action):
    """Fire `action` right before backend's next manifest CAS attempt,
    once — the mid-rewrite race harness the rebase test established."""
    real = backend._try_commit

    def hook(manifest, version):
        if manifest.get("replaces_all") and not getattr(hook, "hit", False):
            hook.hit = True
            action()
        return real(manifest, version)

    backend._try_commit = hook
    return hook


def test_checkpoint_superseded_by_concurrent_restore(spark, tmp_path):
    """A restore landing mid-rewrite must NOT be folded: appending the
    stale compacted prefix would resurrect the rolled-back facts. The
    checkpoint must redo its rewrite from the restored head."""
    path = str(tmp_path / "facts")
    backend = LogParquetBackend(spark, path)
    other = LogParquetBackend(spark, path)
    for i in (1, 2):
        backend.append(
            [(i, "n", "long", i, None, None, None, None, None, None, i, True)]
        )
    hook = _interpose_once(backend, lambda: other.restore(1))
    ckpt_v = backend.checkpoint()
    assert hook.hit
    # head reads EXACTLY version 1's facts — fact 2 stays rolled back
    vals = sorted(
        r["v_long"] for r in backend.facts_df().select("v_long").collect()
    )
    assert vals == [1], vals
    assert ckpt_v == backend.log_version()
    # the checkpoint manifest is a checkpoint, not a restore
    assert backend.history(limit=1)[0]["operation"] == "checkpoint"


def test_checkpoint_superseded_by_concurrent_checkpoint(spark, tmp_path):
    """Two racing checkpoints must not duplicate the corpus: folding
    the loser's compacted prefix in front of the winner's would UNION
    two copies of every fact. The loser redoes from the winner's head."""
    path = str(tmp_path / "facts")
    backend = LogParquetBackend(spark, path)
    other = LogParquetBackend(spark, path)
    for i in (1, 2, 3):
        backend.append(
            [(i, "n", "long", i, None, None, None, None, None, None, i, True)]
        )
    hook = _interpose_once(backend, lambda: other.checkpoint())
    backend.checkpoint()
    assert hook.hit
    vals = sorted(
        r["v_long"] for r in backend.facts_df().select("v_long").collect()
    )
    assert vals == [1, 2, 3], f"duplicated or lost facts: {vals}"


def test_restore_refuses_vacuumed_history(spark, tmp_path):
    """restore to a version whose data files vacuum reclaimed must
    raise cleanly (Delta RESTORE's missing-file contract), never commit
    a head referencing deleted files."""
    path = str(tmp_path / "facts")
    backend = LogParquetBackend(spark, path)
    for i in (1, 2):
        backend.append(
            [(i, "n", "long", i, None, None, None, None, None, None, i, True)]
        )
    backend.checkpoint()
    backend.vacuum(retain_before_checkpoint=False, retention_seconds=0.0)
    with pytest.raises(ValueError, match="truncated|reclaimed"):
        backend.restore(1)
    # the failed restore left no commit behind
    assert backend.history(limit=1)[0]["operation"] == "checkpoint"
    assert backend.facts_df().count() == 2


def test_threaded_writers_with_live_checkpoints(spark, tmp_path):
    """Maintenance under write load: 4 writer threads transact
    concurrently while a maintenance thread checkpoints the store three
    times mid-stream. Every transaction must survive with a distinct
    tx (the optimistic CAS serializes them; the checkpoint supersede /
    rebase logic must lose none and duplicate none)."""
    import threading
    import time as _time

    path = str(tmp_path / "facts")
    store = FactStore(spark, LogParquetBackend(spark, path))
    eng = Engine(spark, store)
    eng.transact([["add", "seed", ":n", 0]])

    N_WRITERS, N_TX = 4, 6
    errors = []

    def writer(wid):
        try:
            # each thread gets its own handle (hence its own CAS loop);
            # the SparkSession is shared but the write path is pure
            # Python so threads never contend on the JVM
            own = FactStore(spark, LogParquetBackend(spark, path))
            oeng = Engine(spark, own)
            for i in range(N_TX):
                oeng.transact([["add", f"w{wid}_{i}", ":n", wid * 100 + i]])
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    def maintenance():
        try:
            for _ in range(3):
                _time.sleep(0.15)
                store.backend.checkpoint()
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(N_WRITERS)
    ] + [threading.Thread(target=maintenance)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    df = store.backend.facts_df()
    n_tx = 1 + N_WRITERS * N_TX
    assert df.select("tx").distinct().count() == n_tx
    vals = sorted(
        r["v_long"]
        for r in df.filter("a = 'n'").select("v_long").collect()
    )
    want = sorted(
        [0] + [w * 100 + i for w in range(N_WRITERS) for i in range(N_TX)]
    )
    assert vals == want, "a checkpoint lost or duplicated a transaction"


def test_cross_process_writers_with_parent_checkpoints(spark, tmp_path):
    """The full reference-transactor story under real OS-process
    concurrency: two plain-Python writer processes transact against the
    store while the PARENT (which owns the JVM) checkpoints it
    mid-stream. Deterministic overlap via a barrier file: each child
    commits half its transactions, waits for the parent's checkpoint,
    then commits the rest — so commits provably land on BOTH sides of
    the compaction. No transaction may be lost or duplicated."""
    path = str(tmp_path / "facts")
    marker = str(tmp_path / "ckpt_done")
    n_per_writer = 8

    child = textwrap.dedent(
        """
        import os, sys, time
        sys.path.insert(0, sys.argv[4])
        from unifydb_spark.store import FactStore
        from unifydb_spark import txlog

        tag, path, marker = sys.argv[1], sys.argv[2], sys.argv[3]
        backend = txlog.LogParquetBackend(None, path)
        store = FactStore(spark=None, backend=backend)
        for i in range(%d):
            if i == %d:
                # barrier: wait for the parent's mid-stream checkpoint
                for _ in range(1200):
                    if os.path.exists(marker):
                        break
                    time.sleep(0.1)
            store.transact([["add", f"{tag}{i}", ":name", f"name-{tag}{i}"]])
        print("done", tag)
        """
        % (n_per_writer, n_per_writer // 2)
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", child, tag, path, marker, repo],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for tag in ("a", "b")
    ]
    backend = LogParquetBackend(spark, path)
    import time as _time

    # wait until both children have committed their first half
    for _ in range(1200):
        if backend.log_version() >= n_per_writer:
            break
        _time.sleep(0.1)
    ckpt_v = backend.checkpoint()
    assert ckpt_v >= n_per_writer + 1
    with open(marker, "w") as f:
        f.write("go")
    for p in procs:
        out, err = p.communicate(timeout=180)
        assert p.returncode == 0, err.decode()

    # overlap proof: commits exist strictly after the checkpoint
    assert backend.log_version() > ckpt_v
    assert backend._read_manifest(ckpt_v).get("replaces_all")

    df = backend.facts_df()
    assert df.select("tx").distinct().count() == 2 * n_per_writer
    names = sorted(
        r["v_str"]
        for r in df.filter(df.a == "name").select("v_str").collect()
    )
    assert names == sorted(
        f"name-{t}{i}" for t in ("a", "b") for i in range(n_per_writer)
    ), "the checkpoint lost or duplicated a cross-process transaction"


def test_manifest_rows_honest(spark, tmp_path):
    """The manifest-level `rows` field is the honest per-commit total
    (VERDICT r10 nit #1): single-file pyarrow appends carry real
    per-file counts, multi-file Spark bulk appends carry all-None
    per-file entries with the total at manifest level, and rewrite
    commits (checkpoint/restore) say None instead of inheriting the
    previous append's count."""
    from unifydb_spark.values import FACT_SCHEMA

    path = str(tmp_path / "facts")
    backend = LogParquetBackend(spark, path)
    backend.append(
        [(i, "n", "long", i, None, None, None, None, None, None, 1, True)
         for i in range(1, 8)]
    )
    m1 = backend._read_manifest(1)
    assert m1["rows"] == 7
    assert [f["rows"] for f in m1["files"]] == [7]  # all real

    rows = [
        (i, "n", "long", i, None, None, None, None, None, None, 2, True)
        for i in range(100, 400)
    ]
    df = spark.createDataFrame(rows, schema=FACT_SCHEMA).repartition(4)
    assert backend.bulk_append_df(df)
    m2 = backend._read_manifest(2)
    assert m2["rows"] == 300
    assert len(m2["files"]) > 1
    assert all(f["rows"] is None for f in m2["files"])  # all None

    ckpt_v = backend.checkpoint()
    assert backend._read_manifest(ckpt_v)["rows"] is None

    hist = {h["version"]: h["rows"] for h in backend.history()}
    assert hist[1] == 7 and hist[2] == 300 and hist[ckpt_v] is None


def test_bulk_append_empty_noop_on_nonempty_store(spark, tmp_path):
    """ADVICE r10: an empty frame with no stream epoch must be a pure
    no-op on a NON-empty store too — no zero-file manifest churn per
    no-op batch write."""
    from unifydb_spark.values import FACT_SCHEMA

    path = str(tmp_path / "facts")
    backend = LogParquetBackend(spark, path)
    backend.append(
        [(1, "n", "long", 1, None, None, None, None, None, None, 1, True)]
    )
    empty = spark.createDataFrame([], schema=FACT_SCHEMA)
    assert backend.bulk_append_df(empty) is False
    assert backend.log_version() == 1  # no version churn


def test_maintain_policy_bounds_log_and_datadir(spark, tmp_path):
    """The config-driven maintenance policy (VERDICT r10 ask #5): a
    long append sequence through FactStore.transact keeps the log
    listing and the data directory BOUNDED (auto checkpoint every N
    commits + vacuum), while the facts and time travel above the
    truncation point stay intact."""
    path = str(tmp_path / "facts")
    backend = LogParquetBackend(
        spark,
        path,
        maintain_every=5,
        vacuum_retention_seconds=0.0,
        truncate_log=True,
    )
    store = FactStore(spark, backend)
    for i in range(18):
        store.transact([["add", f"u{i}", ":name", f"user-{i}"]])
    # every 5 commits a checkpoint lands and pre-checkpoint manifests
    # truncate: the listing never grows past ~(maintain_every + a
    # checkpoint commit + the replaced tail), vs 18+ unmaintained
    assert len(backend._list_versions()) <= 8
    # data dir bounded too: compacted files + at most the last window's
    # appends (18 appends unmaintained would leave >= 18 files)
    data_files = [
        n for n in os.listdir(backend.data_dir) if n.endswith(".parquet")
    ]
    assert len(data_files) <= 10
    # nothing lost, history intact above the truncation point
    facts = backend.facts_df()
    assert facts.filter(facts.a == "name").count() == 18
    hist = backend.history()
    assert hist[0]["version"] == backend.log_version()
    assert any(h["operation"] == "checkpoint" for h in hist)
    # time travel to a pre-truncation version raises the documented error
    with pytest.raises(ValueError, match="truncated"):
        backend.facts_df(as_of_version=1)


def test_restore_rolls_forward_on_concurrent_vacuum_race(spark, tmp_path):
    """ADVICE r10 TOCTOU: if an aggressive concurrent vacuum reclaims
    the restore target's data files between restore's existence check
    and its CAS, the just-committed restore is detected, the head is
    ROLLED FORWARD to the pre-restore state, and the caller gets
    ValueError — never a silent head referencing deleted files."""
    path = str(tmp_path / "facts")
    backend = LogParquetBackend(spark, path)
    backend.append(
        [(1, "n", "long", 1, None, None, None, None, None, None, 1, True)]
    )  # v1 — the restore target; its file becomes unreferenced post-ckpt
    backend.append(
        [(2, "n", "long", 2, None, None, None, None, None, None, 2, True)]
    )  # v2
    backend.checkpoint()  # v3: compacted files; v1's file now orphanable
    target_files = [
        f["name"] for f in backend._live_entries(as_of_version=1)
    ]
    real_commit = backend._try_commit

    def racing_commit(manifest, version):
        # the concurrent vacuum lands AFTER restore's check, BEFORE its
        # publish becomes effective
        for name in target_files:
            try:
                os.unlink(os.path.join(backend.data_dir, name))
            except FileNotFoundError:
                pass
        return real_commit(manifest, version)

    backend._try_commit = racing_commit
    with pytest.raises(ValueError, match="rolled forward"):
        backend.restore(1)
    backend._try_commit = real_commit
    # the head is past the broken restore and reads cleanly: the full
    # pre-restore content, not the half-vacuumed target
    assert backend.facts_df().count() == 2
    head = backend.history(limit=1)[0]
    assert head["operation"] == "restore"  # the roll-forward commit
    assert backend.log_version() >= 5  # v4 broken restore + v5 roll-fwd


def test_roll_forward_failure_wording_reports_broken_head(spark, tmp_path):
    """ADVICE r11: when the TOCTOU recovery's own CAS is exhausted (or
    the pre-restore history is gone), restore() must NOT claim 'the head
    was rolled forward' — the message states the head is still broken."""
    path = str(tmp_path / "facts")
    backend = LogParquetBackend(spark, path)
    backend.append(
        [(1, "n", "long", 1, None, None, None, None, None, None, 1, True)]
    )
    backend.append(
        [(2, "n", "long", 2, None, None, None, None, None, None, 2, True)]
    )
    backend.checkpoint()
    target_files = [f["name"] for f in backend._live_entries(as_of_version=1)]
    real_commit = backend._try_commit

    def racing_commit(manifest, version):
        for name in target_files:
            try:
                os.unlink(os.path.join(backend.data_dir, name))
            except FileNotFoundError:
                pass
        return real_commit(manifest, version)

    backend._try_commit = racing_commit
    backend._roll_forward = lambda *a, **k: False  # recovery exhausted
    with pytest.raises(ValueError, match="roll-forward FAILED"):
        backend.restore(1)


def test_conditional_put_sidecar_harmless_to_maintenance(spark, tmp_path):
    """VERDICT r11 ask #8: the ConditionalPut `.svc.lock` sidecar (the
    simulated object-store serialization service) survives checkpoint,
    vacuum (including log truncation), restore and history untouched —
    no scanner trips on it, no maintenance path deletes it."""
    path = str(tmp_path / "facts")
    backend = LogParquetBackend(
        spark, path, protocol=ConditionalPutProtocol()
    )
    store = FactStore(spark, backend)
    for i in range(4):
        store.transact([["add", f"e{i}", ":n", i]])
    sidecar = os.path.join(backend.log_dir, ".svc.lock")
    assert os.path.exists(sidecar)
    backend.checkpoint()
    deleted = backend.vacuum(
        retain_before_checkpoint=False, retention_seconds=0.0
    )
    assert ".svc.lock" not in deleted
    assert os.path.exists(sidecar)
    v = backend.restore(backend.log_version())
    assert v == backend.log_version()
    assert backend.history(limit=3)  # scanners skip non-manifest names
    assert os.path.exists(sidecar)
    assert backend.facts_df().filter("a = 'n'").count() == 4


def test_post_commit_maintenance_failure_does_not_fail_transact(
    spark, tmp_path
):
    """ADVICE r11 (medium): maintenance runs AFTER the commit; a
    CommitConflict (lost checkpoint race) or OSError (concurrent vacuum)
    inside maybe_maintain must not make the committed transaction look
    failed — transact still returns its report and the next query sees
    the new facts."""
    path = str(tmp_path / "facts")
    backend = LogParquetBackend(spark, path, maintain_every=1)
    store = FactStore(spark, backend)

    def boom(*a, **k):
        raise CommitConflict("checkpoint superseded repeatedly")

    backend.maintain = boom
    report = store.transact([["add", "e1", ":n", 41]])
    assert report["tx_data"]
    eid = report["tempids"]["e1"]

    def boom_os(*a, **k):
        raise FileNotFoundError("manifest reclaimed by concurrent vacuum")

    backend.maintain = boom_os
    report2 = store.transact([["add", eid, ":n", 42]])
    assert report2["tx_data"]
    # both commits are durable and visible despite the failed maintenance
    vals = {
        r["v_long"]
        for r in backend.facts_df().filter("a = 'n'").collect()
    }
    assert {41, 42} <= vals


@pytest.mark.parametrize("writer", ["append", "bulk_append_df", "checkpoint"])
def test_writer_that_gives_up_reclaims_its_files(spark, tmp_path, writer):
    """A writer whose CAS retries run out raises CommitConflict and
    deletes the data files it wrote (no manifest names them), like
    commit_rows after a lost race — giving up leaves no orphans."""
    from unifydb_spark.values import FACT_SCHEMA

    backend = LogParquetBackend(spark, str(tmp_path / "facts"))
    row = (1, "n", "long", 1, None, None, None, None, None, None, 1, True)
    backend.append([row])
    before = set(os.listdir(backend.data_dir))
    backend._try_commit = lambda manifest, version: False  # always lose
    give_up = {
        "append": lambda: backend.append([row], max_retries=3),
        "bulk_append_df": lambda: backend.bulk_append_df(
            spark.createDataFrame([row], schema=FACT_SCHEMA), max_retries=3
        ),
        "checkpoint": lambda: backend.checkpoint(max_retries=3),
    }[writer]
    with pytest.raises(CommitConflict):
        give_up()
    assert set(os.listdir(backend.data_dir)) == before
    assert backend.log_version() == 1


@pytest.mark.parametrize("reader", ["_head", "_live_entries", "history", "vacuum"])
def test_manifest_scans_relist_when_a_manifest_vanishes(tmp_path, reader):
    """A listed manifest unlinked before it is parsed (a concurrent
    checkpoint + aggressive vacuum) makes every scanner re-list: one
    vanish is recovered with the same answer, and sustained vanishing
    surfaces as CommitConflict, never a raw FileNotFoundError."""
    backend = LogParquetBackend(None, str(tmp_path / "facts"))
    for i in (1, 2):
        backend.append(
            [(i, "n", "long", i, None, None, None, None, None, None, i, True)]
        )
    scan = getattr(backend, reader)
    expected = scan()
    real = backend._read_manifest

    def vanish_once(v):
        if not getattr(vanish_once, "hit", False):
            vanish_once.hit = True
            raise FileNotFoundError(backend._manifest_path(v))
        return real(v)

    backend._read_manifest = vanish_once
    assert scan() == expected
    assert vanish_once.hit

    def vanish_always(v):
        raise FileNotFoundError(backend._manifest_path(v))

    backend._read_manifest = vanish_always
    with pytest.raises(CommitConflict, match="kept vanishing"):
        scan()


def test_query_reads_one_log_version_while_a_writer_commits(spark, tmp_path):
    """A commit that lands between two pattern scans of one query must
    not be half-visible: the query's answer comes from one log version.
    The interposed `facts_df` commits right after the query's first fact
    scan has resolved its files; the commit swaps Alice for Bob, so a
    join of the name scan at one version with the age scan at the next
    finds nobody."""
    store = FactStore(spark, LogParquetBackend(spark, str(tmp_path / "facts")))
    eng = Engine(spark, store)
    eng.transact([["add", "c", ":city", "Oslo"]])  # two txs: not `clean`
    a = eng.transact([["add", "a", ":name", "Alice"], ["add", "a", ":age", 30]])[
        "tempids"
    ]["a"]
    q = {
        "find": ["?n", "?age"],
        "where": [["?p", ":name", "?n"], ["?p", ":age", "?age"]],
    }
    backend = store.backend
    before = backend.log_version()
    scan = backend.facts_df
    commits = []

    def facts_df(*args, **kwargs):
        df = scan(*args, **kwargs)
        if not commits:
            commits.append(
                eng.transact(
                    [
                        ["retract", a, ":name", "Alice"],
                        ["retract", a, ":age", 30],
                        ["add", "b", ":name", "Bob"],
                        ["add", "b", ":age", 40],
                    ]
                )
            )
        return df

    backend.facts_df = facts_df
    try:
        rows = eng.query_rows(q)
    finally:
        del backend.facts_df
    assert commits and backend.log_version() == before + 1
    assert rows == [("Alice", 30)]
    assert eng.query_rows(q) == [("Bob", 40)]


# ---- attr types and schema rows ride the head ------------------------------


def _norm_meta(meta):
    rows, types = meta
    return sorted(rows, key=repr), types


def _assert_head_meta_matches_scan(store):
    """The head's carried (schema rows, attr types) equal a fresh scan
    of the same version's facts."""
    pin = store.pin()
    assert pin.meta is not None, pin
    assert _norm_meta(pin.meta) == _norm_meta(store._log_meta(pin))


def _jobs_in_group(spark, group, fn):
    """Run fn under a job group and return how many Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_head_meta_matches_a_scan_after_every_writer(spark, tmp_path):
    from unifydb_spark.values import FACT_SCHEMA

    path = str(tmp_path / "facts")
    backend = LogParquetBackend(spark, path)
    store = FactStore(spark, backend)
    eng = Engine(spark, store)
    store.seed([(1, ":name", "ann", 1, True)])  # append
    _assert_head_meta_matches_scan(store)
    before_schema = backend.log_version()
    s = eng.transact(  # commit_rows
        [{"unifydb/id": "s", "unifydb/schema": "tag",
          "unifydb/cardinality": "cardinality/many"}]
    )["tempids"]["s"]
    eng.transact([["add", 1, ":tag", "x"], ["add", 1, ":tag", "y"]])
    _assert_head_meta_matches_scan(store)
    assert store.cardinality_many_attrs() == frozenset({"tag"})
    bulk = [
        (2, "score", "double", None, 1.5, None, None, None, None, None, 1000, True),
        (s, "unifydb/cardinality", "string", None, None, "cardinality/many",
         None, None, None, None, 1000, False),
    ]
    backend.bulk_append_df(spark.createDataFrame(bulk, FACT_SCHEMA))
    _assert_head_meta_matches_scan(store)
    assert store.cardinality_many_attrs() == frozenset()
    assert store.attr_types()["score"] == {"double"}
    # a commit landing mid-rewrite is carried into the checkpoint's head
    other = FactStore(spark, LogParquetBackend(spark, path))
    hook = _interpose_once(
        backend, lambda: Engine(spark, other).transact([["add", 1, ":flag", True]])
    )
    backend.checkpoint()
    assert hook.hit and backend._read_manifest(backend.log_version())["replaces_all"]
    _assert_head_meta_matches_scan(store)
    assert store.attr_types()["flag"] == {"bool"}
    # restore to a version before the schema declaration
    backend.restore(before_schema)
    _assert_head_meta_matches_scan(store)
    assert store.cardinality_many_attrs() == frozenset()
    assert set(store.attr_types()) == {"name"}


def test_head_without_meta_falls_back_to_the_scan(spark, tmp_path):
    """A log written before heads carried attr types and schema rows:
    commits, checkpoints and restores on it keep the fields absent, and
    reads answer from one scan of the version's facts instead."""
    backend = LogParquetBackend(spark, str(tmp_path / "facts"))
    store = FactStore(spark, backend)
    eng = Engine(spark, store)
    eng.transact(
        [{"unifydb/schema": "tag", "unifydb/cardinality": "cardinality/many"}]
    )
    legacy = backend._read_manifest(1)
    del legacy["attr_types"], legacy["schema_rows"]
    with open(backend._manifest_path(1), "w") as f:
        json.dump(legacy, f)
    eng.transact([["add", "p", ":tag", "x"], ["add", "p", ":tag", "y"]])
    backend.checkpoint()
    backend.restore(2)
    scanned = []
    scan = store._log_meta
    store._log_meta = lambda pin: scanned.append(pin.version) or scan(pin)
    for v in (2, 3, 4):
        assert "attr_types" not in backend._read_manifest(v)
    assert store.pin().meta is None
    q = {"find": ["?v"], "where": [["?e", ":tag", "?v"]]}
    assert sorted(eng.query_rows(q)) == [("x",), ("y",)]  # cardinality many
    assert store.attr_types()["tag"] == {"string"}
    assert scanned == [4]


def test_latest_read_after_transact_runs_no_metadata_job(spark, tmp_path):
    store = FactStore(spark, LogParquetBackend(spark, str(tmp_path / "facts")))
    eng = Engine(spark, store)
    eng.transact(
        [{"unifydb/schema": "tag", "unifydb/cardinality": "cardinality/many"}]
    )
    eng.transact([["add", "p", ":tag", "x"], ["add", "p", ":age", 7]])

    def no_scan(pin):
        raise AssertionError("the head carries the meta; no scan")

    store._log_meta = no_scan
    meta = []
    jobs = _jobs_in_group(
        spark,
        "meta-after-transact",
        lambda: meta.append((store.attr_types(), store.cardinality_many_attrs())),
    )
    assert jobs == 0
    assert meta == [
        (
            {"unifydb/schema": {"string"}, "unifydb/cardinality": {"string"},
             "unifydb/txInstant": {"long"}, "tag": {"string"}, "age": {"long"}},
            frozenset({"tag"}),
        )
    ]
    q = {"find": ["?v"], "where": [["?e", ":tag", "?v"]]}
    assert eng.query_rows(q) == [("x",)]
