"""Structured Streaming tests: fact ingestion exactly-once, watermarked
windows, stateful last-writer-wins — each checked against the equivalent
batch computation on the same data."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from unifydb_spark import Engine, FactStore
from unifydb_spark.streaming import (
    events_to_facts,
    read_event_stream,
    running_latest,
    stream_facts_to_txlog,
    txlog_stream_id,
    windowed_metrics,
)
from unifydb_spark.values import normalize_event_ts

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def tmpdirs(tmp_path):
    d = {
        "input": str(tmp_path / "input"),
        "store": str(tmp_path / "store"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["input"])
    return d


def _stage_events(spark, input_dir, n_files=3):
    """Split the events table into n parquet files (one per micro-batch)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{SF}/events.parquet")
    total = raw.count()
    per = total // n_files + 1
    rows = raw.orderBy("event_id").collect()
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
        if chunk:
            spark.createDataFrame(chunk, raw.schema).coalesce(1).write.mode(
                "append"
            ).parquet(input_dir)
    # batch-side comparison frame with a real timestamp column (the same
    # conversion read_event_stream applies)
    return normalize_event_ts(raw)


def test_stream_facts_to_txlog_time_travel(spark, tmpdirs):
    from unifydb_spark.txlog import LogParquetBackend

    ev = _stage_events(spark, tmpdirs["input"])
    stream = read_event_stream(spark, tmpdirs["input"])
    store = FactStore(spark, LogParquetBackend(spark, tmpdirs["store"]))
    q = stream_facts_to_txlog(
        events_to_facts(stream), store.backend, tmpdirs["ckpt"]
    )
    q.awaitTermination(120)
    assert store.backend.facts_df().count() == ev.count()
    # the streamed store answers time-travel queries like the batch one
    eng = Engine(spark, store)
    mid = ev.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    got = eng.query(
        {"find": ["?u", "?v"], "where": [["?u", ":user/value", "?v"]]},
        eng.db(int(mid)),
    )
    expect = (
        ev.filter(F.col("event_id") <= int(mid))
        .withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("user_id")
                .orderBy(F.col("event_id").desc())
            ),
        )
        .filter("rn = 1")
    )
    assert got.count() == expect.count()


def test_stream_to_txlog_restart(spark, tmpdirs):
    """The unified write path (VERDICT r9 ask #1): streaming ingest
    commits through the ACID log — one manifest per micro-batch — and
    restart gives exactly-once: (a) a restart with no new data appends
    nothing, (b) new data after restart appends exactly the delta,
    (c) a replayed epoch (the crash window between the txlog commit and
    Spark's own checkpoint commit) is recognized from the log head and
    skipped, and (d) a batch transact writer serializes against the
    stream on the SAME log."""
    from unifydb_spark.txlog import LogParquetBackend

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{SF}/events.parquet")
    rows = raw.orderBy("event_id").collect()
    per = len(rows) // 3 + 1

    def stage(i):
        chunk = rows[i * per : (i + 1) * per]
        spark.createDataFrame(chunk, raw.schema).coalesce(1).write.mode(
            "append"
        ).parquet(tmpdirs["input"])

    def run():
        q = stream_facts_to_txlog(
            events_to_facts(read_event_stream(spark, tmpdirs["input"])),
            backend,
            tmpdirs["ckpt"],
        )
        q.awaitTermination(120)

    stage(0)
    stage(1)
    backend = LogParquetBackend(spark, tmpdirs["store"])
    run()
    n_first = backend.facts_df().count()
    assert n_first == len(rows[: 2 * per])
    assert backend.log_version() >= 1  # manifest-visible, not file-sink
    # (a) restart, nothing new: no duplicates
    run()
    assert backend.facts_df().count() == n_first
    # (b) new data lands after restart: exactly the delta commits
    stage(2)
    run()
    assert backend.facts_df().count() == len(rows)
    # (c) replayed epoch is a no-op (simulates the crash window between
    # the txlog manifest commit and Spark's checkpoint commit)
    sid = txlog_stream_id(tmpdirs["ckpt"])
    last = backend.last_stream_epoch(sid)
    assert last >= 0
    replay = events_to_facts(normalize_event_ts(raw))
    assert backend.bulk_append_df(replay, stream_epoch=(sid, last)) is False
    assert backend.facts_df().count() == len(rows)
    # (d) a batch transactor writes through the SAME serialized log
    eng = Engine(spark, FactStore(spark, backend))
    r = eng.transact([["add", "m", ":ingest/marker", 1]])
    assert backend.facts_df().count() == len(rows) + 2  # fact + txInstant
    # streamed facts and the batch fact share one consistent store
    assert eng.query_rows(
        {"find": ["?v"], "where": [[r["tempids"]["m"], ":ingest/marker", "?v"]]}
    ) == [(1,)]


def test_windowed_metrics_match_batch(spark, tmpdirs):
    ev = _stage_events(spark, tmpdirs["input"])
    stream = read_event_stream(spark, tmpdirs["input"])
    agg = windowed_metrics(stream, window="1 day", watermark="0 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_metrics")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT window_start, user_id, n_events, sum_value, max_value "
        "FROM win_metrics"
    )
    batch = (
        ev.groupBy(F.window("ts", "1 day").alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,10)")).alias("sum_value"),
            F.max("value").alias("max_value"),
        )
        .select(F.col("win.start").alias("window_start"), "user_id",
                "n_events", "sum_value", "max_value")
    )
    # append mode emits only watermark-closed windows; every emitted row
    # must match the batch computation exactly, and most windows close
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g <= b
    assert len(g) >= len(b) - ev.select("user_id").distinct().count()


def test_running_latest_stateful(spark, tmpdirs):
    ev = _stage_events(spark, tmpdirs["input"])
    stream = read_event_stream(spark, tmpdirs["input"])
    q = (
        running_latest(stream)
        .writeStream.format("memory")
        .queryName("latest")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last update per user across micro-batches = the final snapshot
    from pyspark.sql.window import Window

    got = (
        spark.sql("SELECT * FROM latest")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
            ),
        )
        .filter("rn = 1")
        .select("user_id", "event_id", "value")
    )
    expect = (
        ev.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
            ),
        )
        .filter("rn = 1")
        .select("user_id", F.col("event_id"), "value")
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in expect.collect()}


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """Stream-static join decontamination: final streaming state equals
    the batch operator's overlap counts for contaminated docs."""
    from unifydb_spark.operators.dedup import decontaminate
    from unifydb_spark.streaming import read_document_stream, stream_decontaminate

    rows = [(0, "secret benchmark answer key here"),
            (1, "the secret benchmark answer leaked into training"),
            (2, "totally unrelated clean document text"),
            (3, "another clean document with different words")]
    docs = (spark.createDataFrame(rows, "doc_id bigint, text string")
            .withColumn("lang", F.lit("en")).withColumn("source", F.lit("s"))
            .withColumn("n_chars", F.length("text")))
    bench = docs.filter("doc_id = 0").select("doc_id", "text")
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    q = (
        stream_decontaminate(read_document_stream(spark, src), bench, n=3)
        .writeStream.format("memory").queryName("sdc_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sdc_ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r["n_overlap"]
           for r in spark.table("sdc_test").collect()}
    want = {r["doc_id"]: r["n_overlap"]
            for r in decontaminate(docs, bench, n=3).collect()
            if r["n_overlap"] > 0}
    assert got == want and got[1] == 1


def test_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join over a finite source == batch interval
    join (inner joins emit on arrival; availableNow drains everything)."""
    import datetime as dtm

    from unifydb_spark.streaming import interval_join, read_event_stream

    def ts(minute):
        return dtm.datetime(2024, 1, 1, 0, minute)

    rows = [
        (1, ts(0), 1, "click", 0.0, None),
        (2, ts(10), 1, "purchase", 0.0, None),   # matches click@0 (10m)
        (3, ts(50), 1, "purchase", 0.0, None),   # click@0 is 50m old -> no
        (4, ts(5), 2, "click", 0.0, None),
        (5, ts(5), 1, "click", 0.0, None),       # matches purchase@10 too
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    src = str(tmp_path / "src")
    # write with int64-us ts as nanos? read_event_stream expects nanosAsLong
    # bigint nanos; build the file the same way the testdata is laid out
    ev.select(
        "event_id",
        (F.unix_micros("ts") * 1000).alias("ts"),
        "user_id", "event_type", "value", "props",
    ).write.parquet(src)
    q = (
        interval_join(read_event_stream(spark, src), lookback_minutes=30)
        .writeStream.format("memory").queryName("ij_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r["purchase_id"], r["click_id"], r["lag_us"])
           for r in spark.table("ij_test").collect()}
    want = {(2, 1, 600_000_000), (2, 5, 300_000_000)}
    assert got == want


def test_normalize_event_ts_both_vintages(spark):
    """The testdata has shipped event time as INT64 nanos and as parquet
    timestamp[us] across rounds; normalize_event_ts must map both to the
    same TimestampType wall-clock values."""
    import datetime as dtm

    wall = [
        dtm.datetime(2024, 1, 1, 0, 0, 1, 123456),
        dtm.datetime(2024, 1, 30, 23, 59, 59, 999999),
    ]
    as_ts = spark.createDataFrame([(w,) for w in wall], "ts timestamp")
    as_ntz = spark.createDataFrame([(w,) for w in wall], "ts timestamp_ntz")
    as_nanos = spark.createDataFrame(
        [(int(w.replace(tzinfo=dtm.timezone.utc).timestamp() * 1_000_000) * 1000,)
         for w in wall],
        "ts bigint",
    )
    outs = []
    for df in (as_ts, as_ntz, as_nanos):
        out = normalize_event_ts(df)
        assert dict(out.dtypes)["ts"] == "timestamp"
        outs.append([r["ts"] for r in out.orderBy("ts").collect()])
    assert outs[0] == outs[1] == outs[2] == sorted(wall)


def test_user_stats_tws_matches_batch(spark, tmpdirs):
    """Spark 4 arbitrary-state API, end-to-end: final per-user update
    equals the batch aggregation (count / max / argmax by unique
    event_id). Runs WITHOUT the protobuf package: the vendored
    wire-compatible StateMessage_pb2 (unifydb_spark/vendor) carries the
    Python-worker <-> JVM state-server protocol. TWS requires the
    RocksDB state store (multiple column families; HDFSBacked raises
    UNSUPPORTED_FEATURE)."""
    from pyspark.sql.window import Window

    from unifydb_spark.streaming import user_stats_tws

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    ev = _stage_events(spark, tmpdirs["input"])
    try:
        q = (
            user_stats_tws(read_event_stream(spark, tmpdirs["input"]))
            .writeStream.format("memory")
            .queryName("tws_test")
            .outputMode("update")
            .option("checkpointLocation", tmpdirs["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if old_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old_provider)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    got = {
        r["user_id"]: (r["n_events"], r["max_value"], r["last_event_id"])
        for r in spark.table("tws_test")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    want = {
        r["user_id"]: (r["n"], r["mx"], r["last"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("value").alias("mx"),
            F.max("event_id").alias("last"),
        )
        .collect()
    }
    assert got == want


def test_user_type_counts_tws_list_map_state(spark, tmpdirs):
    """TWS ListState + MapState end-to-end over the vendored wire codec:
    exercises getListState/getMapState with string schemas
    (ParseStringSchema UtilsRequest), appendList, list iteration,
    updateValue/getValue, and the map iterator (KeyAndValuePair
    responses). Oracle: per user, n_values = n_events = count(*) and
    n_types = count(distinct event_type)."""
    from pyspark.sql.window import Window

    from unifydb_spark.streaming import user_type_counts_tws

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    ev = _stage_events(spark, tmpdirs["input"])
    try:
        q = (
            user_type_counts_tws(read_event_stream(spark, tmpdirs["input"]))
            .writeStream.format("memory")
            .queryName("tws_lm_test")
            .outputMode("update")
            .option("checkpointLocation", tmpdirs["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if old_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old_provider)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    got = {
        r["user_id"]: (r["n_values"], r["n_types"], r["n_events"])
        for r in spark.table("tws_lm_test")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    want = {
        r["user_id"]: (r["n"], r["nt"], r["n"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_type").alias("nt"),
        )
        .collect()
    }
    assert got == want


def test_vendored_pb2_wire_codec_roundtrip():
    """The vendored StateMessage_pb2 codec: encode/decode round-trips,
    proto3 default omission, empty-oneof-arm presence, negative int64,
    repeated scalar and message fields, unknown-field skip."""
    from unifydb_spark.vendor import state_message_pb2 as pb

    # empty oneof arm must serialize as tag + zero length (presence)
    req = pb.ImplicitGroupingKeyRequest(
        removeImplicitKey=pb.RemoveImplicitKey()
    )
    data = pb.StateRequest(implicitGroupingKeyRequest=req).SerializeToString()
    assert data == b"\x22\x02\x12\x00"  # field4 LEN(2) { field2 LEN(0) }

    # scalar default omission: version=0 is off the wire
    assert pb.StateRequest().SerializeToString() == b""

    # nested auto-vivification + string/int fields
    cmd = pb.StateCallCommand()
    cmd.stateName = "agg"
    cmd.schema = '{"type":"struct"}'
    cmd.ttl.durationMs = 1234
    body = pb.StateRequest(
        statefulProcessorCall=pb.StatefulProcessorCall(getValueState=cmd)
    ).SerializeToString()
    back = pb.StateRequest()
    back.ParseFromString(body)
    got = back.statefulProcessorCall.getValueState
    assert got.stateName == "agg"
    assert got.schema == '{"type":"struct"}'
    assert got.ttl.durationMs == 1234

    # negative int64 round-trip (two's complement varint)
    r = pb.StateResponseWithLongTypeVal(statusCode=2, value=-5)
    back2 = pb.StateResponseWithLongTypeVal()
    back2.ParseFromString(r.SerializeToString())
    assert back2.statusCode == 2 and back2.value == -5

    # repeated bytes + bool
    lp = pb.ListStatePut(value=[b"a", b"", b"cc"], fetchWithArrow=True)
    back3 = pb.ListStatePut()
    back3.ParseFromString(lp.SerializeToString())
    assert list(back3.value) == [b"a", b"", b"cc"]
    assert back3.fetchWithArrow is True

    # repeated message (KeyAndValuePair) + parse
    mi = pb.StateResponseWithMapIterator(
        kvPair=[
            pb.KeyAndValuePair(key=b"k1", value=b"v1"),
            pb.KeyAndValuePair(key=b"k2", value=b"v2"),
        ],
        requireNextFetch=True,
    )
    back4 = pb.StateResponseWithMapIterator()
    back4.ParseFromString(mi.SerializeToString())
    assert [(p.key, p.value) for p in back4.kvPair] == [
        (b"k1", b"v1"),
        (b"k2", b"v2"),
    ]
    assert back4.requireNextFetch is True

    # unknown fields are skipped: append an unknown field 15 varint
    extra = mi.SerializeToString() + b"\x78\x2a"
    back5 = pb.StateResponseWithMapIterator()
    back5.ParseFromString(extra)
    assert len(back5.kvPair) == 2


def test_user_stats_stateful_matches_batch(spark, tmpdirs):
    """The applyInPandasWithState twin (shares _user_stats_step with the
    TWS variant verbatim): final per-user update equals the batch
    aggregation, including last_value (argmax by unique event_id)."""
    from pyspark.sql.window import Window

    from unifydb_spark.streaming import user_stats_stateful

    ev = _stage_events(spark, tmpdirs["input"])
    q = (
        user_stats_stateful(read_event_stream(spark, tmpdirs["input"]))
        .writeStream.format("memory")
        .queryName("uss_test")
        .outputMode("update")
        .option("checkpointLocation", tmpdirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    got = {
        r["user_id"]: (
            r["n_events"], r["max_value"], r["last_event_id"], r["last_value"]
        )
        for r in spark.table("uss_test")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    want = {
        r["user_id"]: (r["n"], r["mx"], r["last"], r["lastv"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("value").alias("mx"),
            F.max("event_id").alias("last"),
            F.expr("max_by(value, event_id)").alias("lastv"),
        )
        .collect()
    }
    assert got == want


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema):
        return self.states.setdefault(name, _FakeValueState())


def test_user_stats_tws_processor_executes_under_fake_handle():
    """Direct execution of the TWS StatefulProcessor (init /
    handleInputRows across micro-batches / close) with a fake state
    handle — the update semantics run for real even though this
    container can't run the TWS wire path (worker needs protobuf)."""
    import pandas as pd

    from unifydb_spark.streaming.stream import make_user_stats_processor

    proc = make_user_stats_processor()()
    proc.init(_FakeHandle())
    b1 = pd.DataFrame(
        {"event_id": [3, 1], "value": [5.0, 9.0], "user_id": [7, 7]}
    )
    out1 = list(proc.handleInputRows((7,), iter([b1]), None))
    assert len(out1) == 1
    r = out1[0].iloc[0]
    assert (r["user_id"], r["n_events"], r["max_value"]) == (7, 2, 9.0)
    assert (r["last_event_id"], r["last_value"]) == (3, 5.0)  # argmax by id
    # second micro-batch: state carries over; lower ids don't regress last_*
    b2 = pd.DataFrame(
        {"event_id": [2, 10], "value": [1.0, 4.0], "user_id": [7, 7]}
    )
    r = list(proc.handleInputRows((7,), iter([b2]), None))[0].iloc[0]
    assert (r["n_events"], r["max_value"]) == (4, 9.0)
    assert (r["last_event_id"], r["last_value"]) == (10, 4.0)
    proc.close()


def test_stream_facts_exactly_once_across_restart(spark, tmpdirs):
    """The streaming transactor's exactly-once claim, exercised through a
    mid-stream kill: process one micro-batch (maxFilesPerTrigger=1), stop
    the query, restart from the same checkpoint, and the final fact log
    must contain every event exactly once — no loss, no duplicates."""
    import time

    ev = _stage_events(spark, tmpdirs["input"], n_files=3)
    total = ev.count()

    stream = read_event_stream(spark, tmpdirs["input"])
    q1 = (
        events_to_facts(stream)
        .writeStream.format("parquet")
        .option("path", tmpdirs["store"])
        .option("checkpointLocation", tmpdirs["ckpt"])
        .option("maxFilesPerTrigger", "1")
        .outputMode("append")
        .start()
    )
    # wait until at least one micro-batch has committed, then kill
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q1.lastProgress
        if p and p["numInputRows"] and p["numInputRows"] > 0:
            break
        time.sleep(0.5)
    q1.stop()
    q1.awaitTermination(60)
    partial = spark.read.parquet(tmpdirs["store"]).count()
    assert 0 < partial  # something committed before the kill

    # restart from the same checkpoint; availableNow drains the rest
    q2 = (
        events_to_facts(read_event_stream(spark, tmpdirs["input"]))
        .writeStream.format("parquet")
        .option("path", tmpdirs["store"])
        .option("checkpointLocation", tmpdirs["ckpt"])
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    facts = spark.read.parquet(tmpdirs["store"])
    assert facts.count() == total, "restart lost or duplicated rows"
    # per-event uniqueness: tx is the event id, exactly one fact each
    assert facts.select("tx").distinct().count() == total


def test_normalize_event_ts_rejects_unknown_encoding(spark):
    df = spark.createDataFrame([("2024-01-01",)], "ts string")
    with pytest.raises(ValueError, match="unsupported type"):
        normalize_event_ts(df)


def test_stream_hll_registers_equal_batch(spark, tmp_path):
    """Register max is merge-commutative: the streaming register table
    (micro-batched file source) must be IDENTICAL to a batch build over
    the same data — the property that makes the sketch streamable."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F
    from unifydb_spark.operators.sketch import hll_rank_cols
    from unifydb_spark.streaming import stream_hll_registers

    base = datetime(2026, 4, 1)
    rows = [
        (str(u % 37), base + timedelta(days=d, minutes=u))
        for d in range(3)
        for u in range(200)
    ]
    df = spark.createDataFrame(rows, "uid string, ts timestamp")
    src = str(tmp_path / "src")
    # several files -> several micro-batches under availableNow
    df.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("uid string, ts timestamp").parquet(src)
    )
    q = (
        stream_hll_registers(stream, "uid", window="1 day")
        .writeStream.format("memory").queryName("shll_t")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["bucket"]): r["max_rank"]
        for r in spark.table("shll_t").collect()
    }
    bucket, rank = hll_rank_cols("uid")
    want = {
        (r["ws"], r["bucket"]): r["max_rank"]
        for r in df.groupBy(
            F.window("ts", "1 day").getField("start").alias("ws"),
            bucket.alias("bucket"),
        )
        .agg(F.max(rank).alias("max_rank"))
        .collect()
    }
    assert got == want


def test_stream_transitions_equals_batch_lag(spark, tmp_path):
    """r114: summed per-batch transition counts equal the batch
    lag-window matrix, with state carrying the last event across
    batches."""
    import datetime

    import pandas as pd
    from pyspark.sql import functions as F

    rows = []
    eid = 0
    for u in range(6):
        for i, t in enumerate(["view", "click", "view", "purchase"]):
            rows.append((eid, u, datetime.datetime(2024, 5, 1, u, i), t))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp, event_type string"
    )
    src = str(tmp_path / "events.parquet")
    df.repartition(3).write.parquet(src)

    from unifydb_spark.streaming import stream_transitions

    stream = spark.readStream.schema(df.schema).parquet(src)
    name = "tr_test"
    q = (
        stream_transitions(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in spark.table(name)
        .groupBy("from_type", "to_type")
        .agg(F.sum("cnt").alias("n"))
        .collect()
    }
    assert got[("view", "click")] == 6
    assert got[("click", "view")] == 6
    assert got[("view", "purchase")] == 6
    assert sum(got.values()) == 18


def test_running_latest_tws_matches_batch(spark, tmpdirs):
    """running_latest's TWS twin (ValueState, shared _latest_step) end to
    end over the vendored wire codec: final per-user update equals the
    batch last-writer-wins snapshot. A/B'd at sf0.1 (median-of-3: TWS
    3.9s vs applyInPandasWithState 2.3s) — below parity, so the primary
    operator stays applyInPandasWithState (VERDICT r8 ask #4); this test
    keeps the successor API's evidence green."""
    from pyspark.sql.window import Window

    from unifydb_spark.streaming import running_latest_tws

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    ev = _stage_events(spark, tmpdirs["input"])
    try:
        q = (
            running_latest_tws(read_event_stream(spark, tmpdirs["input"]))
            .writeStream.format("memory")
            .queryName("latest_tws_test")
            .outputMode("update")
            .option("checkpointLocation", tmpdirs["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if old_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old_provider)
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    got = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in spark.table("latest_tws_test")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    want = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_id", "value")
        .collect()
    }
    assert got == want


def test_stream_transitions_multichunk_group(spark, tmpdirs):
    """Regression pin for the sf1-sweep find: a group whose batch rows
    span MULTIPLE arrow chunks must sort the whole group once —
    per-chunk sorting mis-orders transitions at chunk boundaries.
    Forces chunking with a 100-row arrow batch over 600 shuffled
    single-user events and asserts the summed matrix equals the batch
    lag-window computation."""
    import datetime as dt

    from unifydb_spark.streaming import stream_transitions

    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        base = dt.datetime(2024, 1, 1)
        rows = [
            (i, base + dt.timedelta(seconds=i), 7, ["a", "b", "c"][i % 3], 1.0, "{}")
            for i in range(600)
        ]
        # shuffle deterministically so arrow chunks are NOT time-ordered
        rows = sorted(rows, key=lambda r: (r[0] * 7919) % 600)
        df = spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        ).coalesce(1)
        # the file-source stream lists ONE level — stage a flat file
        import glob
        import shutil

        stage = f"{tmpdirs['input']}_stage"
        df.write.mode("overwrite").parquet(stage)
        for i, part in enumerate(sorted(glob.glob(f"{stage}/*.parquet"))):
            shutil.copy(part, f"{tmpdirs['input']}/events_{i}.parquet")
        q = (
            stream_transitions(read_event_stream(spark, tmpdirs["input"]))
            .writeStream.format("memory")
            .queryName("trans_chunk_test")
            .outputMode("append")
            .option("checkpointLocation", tmpdirs["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old_batch
        )
    got = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in spark.table("trans_chunk_test")
        .groupBy("from_type", "to_type")
        .agg(F.sum("cnt").alias("n"))
        .collect()
    }
    # time-ordered truth: a->b->c->a->... 599 transitions, ~200 each
    want = {("a", "b"): 200, ("b", "c"): 200, ("c", "a"): 199}
    assert got == want


def test_stream_embeddings_to_index_full_loop(spark, tmp_path):
    """The PRODUCTION ANN ingest loop end to end (VERDICT r12 ask #7):
    embedding micro-batches stream into all three planes — raw vectors
    to the corpus dir, codes appended to the persisted IVF-PQ index
    against frozen codebooks, id facts committed through the txlog with
    the stream epoch — and the maintenance policy REBUILDS the index
    when the appended fraction crosses the threshold. Pins: per-epoch
    maintenance reports (below-threshold no-op, then trigger), meta
    counter reset after the rebuild, streamed vectors searchable at
    rank-contract quality from the REBUILT index, and the metadata
    plane queryable through the standard engine snapshot."""
    from unifydb_spark.operators.similarity import (
        _read_index_meta,
        ivf_pq_index_write,
        ivf_pq_search,
    )
    from unifydb_spark.streaming import stream_embeddings_to_index
    from unifydb_spark.txlog import LogParquetBackend

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 250)
    corpus_path = str(tmp_path / "corpus")
    base.write.parquet(f"{corpus_path}/epoch=base")
    idx = ivf_pq_index_write(
        base, str(tmp_path / "idx"), n_centroids=8, m=8, k=8, iters=2,
        coarse="kmeans",
    )

    input_dir = str(tmp_path / "input")
    os.makedirs(input_dir)
    for lo, hi in [(250, 375), (375, 500)]:
        emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).coalesce(1).write.mode("append").parquet(input_dir)

    backend = LogParquetBackend(spark, str(tmp_path / "facts"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)  # one slice per micro-batch
        .parquet(input_dir)
    )
    # 125/375 = 0.33 after slice 1 (< 0.4 -> no-op); 250/500 = 0.5
    # after slice 2 (>= 0.4 -> rebuild)
    q, reports = stream_embeddings_to_index(
        stream, idx, corpus_path, str(tmp_path / "ckpt"),
        backend=backend, rebuild_threshold=0.4,
    )
    q.awaitTermination(300)

    assert [r["appended"] for r in reports] == [125, 125]
    assert [r["rebuilt"] for r in reports] == [False, True]
    assert abs(reports[0]["appended_fraction"] - 125 / 375) < 1e-9
    assert abs(reports[1]["appended_fraction"] - 0.5) < 1e-9
    meta = _read_index_meta(idx["path"])
    assert (meta["n_base"], meta["n_appended"]) == (500, 0)  # reset

    # streamed vectors are searchable from the REBUILT index: each finds
    # itself in its own top-5 (the quantized-self-recall contract)
    queries = emb.filter(F.col("vec_id").isin([260, 450, 499]))
    res = ivf_pq_search(queries, idx, nprobe=2, topk=5).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(by_q) == {260, 450, 499}
    for qid, nbrs in by_q.items():
        assert qid in nbrs

    # the metadata plane committed per-epoch through the txlog
    assert backend.facts_df().count() == 250
    assert backend.log_version() == 2  # one manifest CAS per micro-batch
