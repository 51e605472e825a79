"""The fact store: an append-only EAVT table + time-travel snapshot views.

Reference parity map (see SURVEY.md §1, §2.3, §2.4):
 - facts are 5-tuples [e a v tx added?] (reference src/unifydb/facts.clj:3-26)
   stored here as one DataFrame in FACT_SCHEMA (typed-value union, values.py);
 - the reference keeps three covering B-tree sort orders EAVT/AVET/VAET
   (src/unifydb/storage.clj:57-68) and picks one per pattern
   (src/unifydb/storage.clj:31-46). On Spark the indexes are *virtual*:
   `facts(attr=...)` narrows to an attribute slice at plan-construction time
   and Catalyst pushes e/v predicates into the parquet scan — index selection
   becomes predicate pushdown + column pruning;
 - a "database value" is `{tx-id, historical}` (src/unifydb/server.clj:23);
   `Db.visible_facts()` is the reference's post-scan visibility filter +
   retraction collapse + cardinality resolution
   (src/unifydb/storage.clj:46, src/unifydb/query.clj:132-204) expressed as
   window functions (`_collapse`). A `Db` pins one `txlog.Pin` per query;
   on a commit-log store that is one log version, and the collapsed
   snapshot is built once per (version, tx) and shared by every pattern
   and query that reads it; other backends run the windows inline;
 - the transactor (src/unifydb/transact.clj:98-137) is `FactStore.transact`:
   map-form expansion, tempid allocation, tx metadata, transforms/filters,
   single atomic append.

Backend protocol (the reference's storage protocol,
src/unifydb/kvstore.clj:25-127): `append(rows)`, `facts_df()` and `pin()`;
optionally `facts_for_attr`/`pivot_df` (the table fact store),
`commit_rows` (optimistic commits) and `maybe_maintain`. `pin()` is the
only way the store reads a backend's stats (`clean`, retractions,
`latest_tx`, `max_id`, attr types, schema rows), all shaped like a commit
manifest's cumulative fields: folded in Python on append
(`txlog.rows_stats` + `txlog.fold_stats`, no job) or measured by one
aggregate (`txlog.stats_columns`).

Scale notes (100 TB): the snapshot dedup windows shuffle on (e, a) — they
only run when the store actually contains retractions / multi-tx
re-asserts (`clean` fast path otherwise, like Delta's no-deletes read path).
Bulk-ingested analytics tables take the clean path and never shuffle.
"""

from __future__ import annotations

import datetime as _dt
import functools
import itertools
import threading
import time
import weakref
from collections import OrderedDict
from concurrent.futures import Future
from dataclasses import dataclass, replace
from typing import Any, Callable, Iterable, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from unifydb_spark.txlog import (
    META_ATTRS,
    Pin,
    aggregate_stats,
    fold_stats,
    rows_stats,
)
from unifydb_spark.values import FACT_SCHEMA, Ref, V_COLS, fact_row

LATEST = "latest"

TX_TEMPID = "unifydb.tx"
TX_INSTANT_ATTR = "unifydb/txInstant"
SCHEMA_ATTR, CARDINALITY_ATTR = META_ATTRS
CARDINALITY_MANY = "cardinality/many"

# Collapsed snapshots a commit-log store keeps materialized, per FactStore.
SNAPSHOT_CACHE_SIZE = 4
# Store versions whose schema rows and attr types a FactStore keeps.
META_CACHE_SIZE = 8


def norm_attr(a: str) -> str:
    """Attributes are EDN keywords in the reference (':employee/age'); we
    store them colon-stripped."""
    if not isinstance(a, str) or not a:
        raise TypeError(f"attribute must be a non-empty string, got {a!r}")
    return a[1:] if a.startswith(":") else a


def _norm_value(v: Any) -> Any:
    """EDN keyword values (':foo') normalize to colon-stripped strings —
    matching how query constants parse — and, being explicitly keywords,
    they can never collide with a tempid string (the reference separates
    the two by type; the Python surface separates them by the ':')."""
    if isinstance(v, str) and v.startswith(":"):
        return v[1:]
    return v


class MemoryBackend:
    """Driver-side fact log (the reference's in-memory KV store,
    src/unifydb/kvstore/memory.clj:5-25). Facts live as Python rows and are
    shipped to the cluster as one cached DataFrame per version; each
    append folds its rows' stats into the log's (no job)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.rows: list[tuple] = []
        self._df: Optional[DataFrame] = None
        self._version = 0
        self._df_version = -1
        self._stats: Optional[dict] = None

    def append(self, rows: Iterable[tuple]) -> None:
        rows = list(rows)
        self.rows.extend(rows)
        self._stats = fold_stats(self._stats, rows_stats(rows))
        self._version += 1

    def facts_df(self) -> DataFrame:
        if self._df is None or self._df_version != self._version:
            self._df = self.spark.createDataFrame(self.rows, schema=FACT_SCHEMA)
            self._df_version = self._version
        return self._df

    def pin(self) -> Pin:
        return Pin.of(None, self._stats)


class DataFrameBackend:
    """A read-only fact log defined by an arbitrary DataFrame in
    FACT_SCHEMA — the scalable way to derive a versioned fact store from an
    existing event log (e.g. the events table: tx = event id) without
    materializing anything. Its read stats come from one aggregate,
    computed on the first pin."""

    def __init__(self, spark: SparkSession, df: DataFrame):
        self.spark = spark
        self._df = df
        self._pin: Optional[Pin] = None

    def facts_df(self) -> DataFrame:
        return self._df

    def append(self, rows):
        raise NotImplementedError("DataFrameBackend is read-only")

    def pin(self) -> Pin:
        if self._pin is None:
            self._pin = Pin.of(None, aggregate_stats(self._df))
        return self._pin


@dataclass(frozen=True)
class Db:
    """A database value: the facts visible as of `tx_id` (reference
    src/unifydb/server.clj:23, src/unifydb/query.clj:216-229).

    `pin` fixes the store version and its read stats (txlog.Pin), so
    every read through this value sees one version while writers
    commit; `pinned()` takes the backend's current pin. Without a pin
    each read takes the backend's pin itself."""

    store: "FactStore"
    tx_id: Union[int, str] = LATEST
    historical: bool = False
    pin: Optional[Pin] = None

    def as_of(self, tx_id: int) -> "Db":
        return replace(self, tx_id=tx_id)

    def history(self) -> "Db":
        return replace(self, historical=True)

    def pinned(self) -> "Db":
        return self if self.pin is not None else replace(self, pin=self.store.pin())

    def visible_facts(
        self, attr: Optional[str] = None, attrs: Optional[Sequence[str]] = None
    ) -> DataFrame:
        """The visible facts of one attribute, of the attributes `attrs`
        (one slice), or of all attributes."""
        if attr is not None:
            attrs = [attr]
        return self.store.snapshot(self.tx_id, self.historical, attrs=attrs, pin=self.pin)

    def cardinality_many_attrs(self) -> frozenset:
        return self.store.cardinality_many_attrs(self.tx_id, pin=self.pin)

    def attr_types(self) -> dict[str, set]:
        return self.store.attr_types(pin=self.pin)


class _BuildOnce:
    """A small LRU of values built once per key: concurrent misses on a
    key wait for its one build (a failed build is not kept), and a value
    evicted past `size` entries is handed to `release`."""

    def __init__(self, size: int, release: Callable[[Any], Any] = lambda v: None):
        self._size = size
        self._release = release
        self._lock = threading.Lock()
        self._slots: "OrderedDict[Any, Future]" = OrderedDict()

    def get(self, key, build: Callable[[], Any]) -> Any:
        with self._lock:
            slot = self._slots.get(key)
            owner = slot is None
            if owner:
                slot = self._slots[key] = Future()
            self._slots.move_to_end(key)
        if owner:
            try:
                slot.set_result(build())
            except BaseException as exc:
                with self._lock:
                    if self._slots.get(key) is slot:
                        del self._slots[key]
                slot.set_exception(exc)
                raise
            self._drop(len(self._slots) - self._size)
        return slot.result()

    def __len__(self) -> int:
        return len(self._slots)

    def clear(self) -> None:
        self._drop(len(self._slots))

    def _drop(self, n: int) -> None:
        """Release the `n` least recently used built values (builds in
        flight stay)."""
        with self._lock:
            done = [k for k, f in self._slots.items() if f.done()][: max(n, 0)]
            gone = [self._slots.pop(k).result() for k in done]
        for v in gone:
            self._release(v)


def _unpersist(df: DataFrame) -> None:
    """Release a snapshot's blocks. A query still holding the frame
    recomputes it from its lineage (the pinned log version's files)."""
    try:
        df.unpersist()
    except Exception:  # the session is gone: nothing left to release
        pass


def _collapse(df: DataFrame, has_retractions: bool, many: frozenset) -> DataFrame:
    """The visible values of a fact slice, as window functions: a value
    is live iff its latest fact per (e, a, value) is an assert (a retract
    outranks an assert in the same tx), and cardinality-one attributes
    keep only the latest live value per (e, a). The only copy of both
    windows: inline per pattern on backends without log versions, once
    per cached (version, tx) snapshot on a commit-log store."""
    if has_retractions:
        # hash(e) satisfies both windows' clustering, so they share one
        # shuffle (also where the optimizer folds a constant `a` out of
        # their partitioning)
        df = df.repartition("e")
        w = Window.partitionBy("e", "a", *V_COLS).orderBy(
            F.col("tx").desc(), F.col("added").asc()
        )
        df = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & F.col("added"))
            .drop("_rn")
        )
    w1 = Window.partitionBy("e", "a").orderBy(F.col("tx").desc())
    keep_many = F.col("a").isin(*sorted(many)) if many else F.lit(False)
    return (
        df.withColumn("_rn1", F.row_number().over(w1))
        .filter(keep_many | (F.col("_rn1") == 1))
        .drop("_rn1")
    )


class FactStore:
    """Append-only EAVT store with a time-traveling snapshot view."""

    def __init__(self, spark: SparkSession, backend=None):
        self.spark = spark
        self.backend = backend if backend is not None else MemoryBackend(spark)
        # Pluggable tx pipeline hooks (reference transact/transforms.clj,
        # transact/filters.clj): transforms rewrite statements pre-commit,
        # filters redact the outgoing tx report. The reference installs its
        # auth hooks unconditionally — mirror that default.
        from unifydb_spark.auth import filter_auth_facts, new_user_transform

        self.transforms: list[Callable[[list], list]] = [new_user_transform]
        self.report_filters: list[Callable[[dict], dict]] = [filter_auth_facts]
        # per log version whose head lacks them: schema rows and attr
        # types (`_log_meta`); per (version, tx): the persisted collapsed
        # snapshot, released on eviction and when this store is
        # garbage-collected
        self._metas = _BuildOnce(META_CACHE_SIZE)
        self._snapshots = _BuildOnce(SNAPSHOT_CACHE_SIZE, _unpersist)
        weakref.finalize(self, self._snapshots.clear).atexit = False
        # Relation-producing query functions (compile._apply_table_fn):
        # name -> callable(db, keys_df, *params) returning
        # (DataFrame(__tf_in, __tf_out), out_repr). Registered through
        # Engine.register_table_fn; empty by default.
        self.table_fns: dict[str, Callable] = {}
        # The reference serializes ALL writes through one transactor
        # thread (src/unifydb/transact.clj:116-137; the B-trees say
        # "NOT THREAD SAFE, only write in the single-threaded
        # transactor", btree.clj:2-4). Mirror that contract in-process:
        # transact() holds this lock across id allocation + append, so
        # concurrent callers serialize — distinct tx-ids, both visible.
        # Cross-PROCESS writers serialize through the optimistic commit
        # log when the backend provides one (txlog.LogParquetBackend:
        # CAS-on-next-log-version with id re-allocation on conflict);
        # MemoryBackend and JdbcBackend remain single-process.
        self._tx_lock = threading.Lock()

    # ---- reads -----------------------------------------------------------

    def db(self, tx_id: Union[int, str] = LATEST, historical: bool = False) -> Db:
        return Db(self, tx_id, historical)

    def pin(self) -> Pin:
        """The backend's current version and read stats (txlog.Pin)."""
        return self.backend.pin()

    def facts(
        self,
        attr: Optional[str] = None,
        pin: Optional[Pin] = None,
        attrs: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """Raw fact tuples, optionally narrowed to one attribute or to the
        attributes `attrs` (the reference's index selection,
        src/unifydb/storage.clj:31-46 — here either the union of
        backend-provided single-attribute projections or one pushed-down
        `a IN (...)` filter); `pin` reads that log version."""
        if attr is not None:
            attrs = [attr]
        if attrs is not None and hasattr(self.backend, "facts_for_attr"):
            # a table fact store projects each attribute from its own
            # table; its whole-schema facts_df() unions every table
            return functools.reduce(
                DataFrame.unionByName, map(self.backend.facts_for_attr, attrs)
            )
        if pin is None or pin.version is None:
            df = self.backend.facts_df()
        else:
            df = self.backend.facts_df(as_of_version=pin.version)
        if attrs is not None:
            df = df.filter(F.col("a").isin(*attrs))
        return df

    def snapshot(
        self,
        tx_id: Union[int, str] = LATEST,
        historical: bool = False,
        attrs: Optional[Sequence[str]] = None,
        pin: Optional[Pin] = None,
    ) -> DataFrame:
        """The visible-facts view: tx visibility filter + retraction collapse
        + cardinality resolution (reference src/unifydb/query.clj:132-204 and
        src/unifydb/storage.clj:43-46), as window functions (`_collapse`).

        The read stats come from `pin` (else the backend's pin now). A
        commit-log store is read at the pin's log version; a non-clean,
        non-historical read there filters the collapsed snapshot of
        (version, tx) to the attributes `attrs`: the snapshot is built
        once, persisted on the executors and kept in a small LRU, and
        every tx at or past the version's newest tx shares the LATEST
        one. A backend without versions is read as it is now, with the
        stats it has after that read, and runs the windows inline on
        the slice (`facts`): both windows partition by attribute, so one
        collapse of an `attrs` slice equals the union of per-attribute
        collapses.

        Semantics notes vs the reference:
         - a value is live iff the most recent fact for (e,a,value) is an
           assert, with a retract outranking an assert in the same tx
           (cmp-fact-versions src/unifydb/query.clj:132-150). The reference's
           multiset pairing (a dangling retract can cancel an unrelated add)
           is treated as set semantics here.
         - cardinality-one picks the live value of the *latest tx*
           (last-writer-wins); the reference's sort makes the max value win
           when two live values coexist without retraction — an artifact its
           tests never exercise (documented divergence).
        """
        pin = pin if pin is not None else self.pin()
        if pin.version is not None and not (historical or pin.clean):
            if tx_id != LATEST and int(tx_id) < pin.latest_tx:
                tx_id = int(tx_id)
            else:
                tx_id = LATEST
            df = self._snapshots.get(
                (pin.version, tx_id), lambda: self._build_snapshot(tx_id, pin)
            )
            return df if attrs is None else df.filter(F.col("a").isin(*attrs))
        df = self.facts(pin=pin, attrs=attrs)
        if pin.version is None:
            # no version to read at: stats taken after the facts cover
            # them, where an older pin could skip windows a commit that
            # landed since needs
            pin = self.pin()
        if tx_id != LATEST:
            df = df.filter(F.col("tx") <= F.lit(int(tx_id)))
        if historical or pin.clean:
            return df
        return _collapse(
            df, pin.has_retractions, self.cardinality_many_attrs(tx_id, pin=pin)
        )

    def _build_snapshot(self, tx_id: Union[int, str], pin: Pin) -> DataFrame:
        """The collapsed snapshot of log version `pin` as of `tx_id`,
        persisted and materialized on the executors (never collected)."""
        df = self.facts(pin=pin)
        if tx_id != LATEST:
            df = df.filter(F.col("tx") <= F.lit(int(tx_id)))
        many = self.cardinality_many_attrs(tx_id, pin=pin)
        snap = _collapse(df, pin.has_retractions, many).persist()
        # a JVM-side row count of the cached plan fills every cached
        # partition without an aggregate (and its job) on top
        snap._jdf.queryExecution().toRdd().count()
        return snap

    def tx_as_of(self, instant: Union[int, _dt.datetime]) -> int:
        """The newest transaction whose txInstant <= instant (epoch millis
        or datetime) — wall-clock time travel: db(store.tx_as_of(t)).
        The reference notes tx-ids 'should really be timestamps'
        (src/unifydb/transact.clj:73-74); the txInstant metadata fact (T4)
        provides exactly this mapping."""
        if isinstance(instant, _dt.datetime):
            instant = int(instant.timestamp() * 1000)
        row = (
            self.facts(TX_INSTANT_ATTR)
            .filter(F.col("v_long") <= int(instant))
            .agg(F.max("tx").alias("tx"))
            .collect()[0]
        )
        return int(row["tx"] or 0)

    def materialize_snapshot(
        self,
        path: str,
        tx_id: Union[int, str] = LATEST,
        partition_by_attr: bool = True,
    ) -> "FactStore":
        """Write the collapsed snapshot view (visibility + retraction +
        cardinality resolution already applied) as a new commit-log fact
        store at `path` (one manifest, txlog.LogParquetBackend) and return
        a FactStore over it. An existing `path` is refused.

        Scale rationale: a dirty log pays the dedup windows on every
        pattern scan; analyses that hammer one as-of point should pay
        them once. The result is `clean` by construction (single tx, no
        retractions), so every later query takes the no-window fast path;
        `partition_by_attr` lays files out attribute-first (AVET order) so
        attribute patterns prune to their own files."""
        import os

        from unifydb_spark.txlog import LogParquetBackend

        if os.path.exists(path):
            raise FileExistsError(f"materialize_snapshot: {path} already exists")
        # a single-tx assert-only log: the `clean` fast path applies and
        # later reads never pay the dedup windows again
        df = self._stamped_snapshot(tx_id)
        if partition_by_attr:
            df = df.sortWithinPartitions("a", "e")
        backend = LogParquetBackend(self.spark, path)
        backend.bulk_append_df(df)
        return FactStore(self.spark, backend)

    def materialize_snapshot_bucketed(
        self,
        table_name: str,
        tx_id: Union[int, str] = LATEST,
        bucket_by: str = "e",
        n_buckets: int = 32,
    ) -> "FactStore":
        """Write the collapsed snapshot as a BUCKETED managed table
        (bucketBy + sortBy on `bucket_by`, Hive-style layout) and return a
        FactStore over it.

        Scale rationale: every multi-pattern query joins fact slices on
        the entity id; with both sides read from the same bucketed table,
        Spark plans those joins and aggregations with NO shuffle on the
        bucketed side (outputPartitioning is known from the bucket spec).
        This is the persistent co-location that `repartition` can only
        provide within one job — the parquet analog of the reference's
        EAVT clustering (src/unifydb/storage.clj:23-27), except the
        cluster key survives restarts and is shared by every reader."""
        df = self._stamped_snapshot(tx_id)
        (
            df.write.mode("errorifexists")
            .format("parquet")
            .bucketBy(n_buckets, bucket_by)
            .sortBy(bucket_by)
            .saveAsTable(table_name)
        )
        backend = DataFrameBackend(self.spark, self.spark.table(table_name))
        return FactStore(self.spark, backend=backend)

    def _stamped_snapshot(self, tx_id: Union[int, str]) -> DataFrame:
        """The collapsed snapshot as of `tx_id` (one log version) with
        every surviving fact stamped as an assert of the snapshot tx."""
        db = self.db(tx_id).pinned()
        snap_tx = db.pin.latest_tx if tx_id == LATEST else int(tx_id)
        return (
            db.visible_facts()
            .withColumn("tx", F.lit(snap_tx).cast("long"))
            .withColumn("added", F.lit(True))
        )

    def cardinality_many_attrs(
        self, tx_id: Union[int, str] = LATEST, pin: Optional[Pin] = None
    ) -> frozenset:
        """Attributes declared :cardinality/many via schema facts (reference
        src/unifydb/schema.clj:5-15). The schema rows are collected once per
        store version — fixing the reference's re-query-per-pattern TODO
        (schema.clj:17) — and the tx bound is resolved on the Spark driver."""
        rows = self._meta(pin if pin is not None else self.pin())[0]
        if tx_id != LATEST:
            rows = [r for r in rows if r[3] <= int(tx_id)]
        # collapse add/retract per (e, a, v) on the Spark driver: schema facts are
        # few; the latest tx wins, a retract outranking an assert within one
        state: dict = {}
        for e, a, v, _tx, added in sorted(rows, key=lambda r: (r[3], not r[4])):
            state[(e, a, v)] = added
        schema_attr_of: dict = {}
        card_of: dict = {}
        for (e, a, v), live in state.items():
            if not live:
                continue
            if a == SCHEMA_ATTR:
                schema_attr_of[e] = v
            elif a == CARDINALITY_ATTR:
                card_of[e] = v
        return frozenset(
            norm_attr(schema_attr_of[e])
            for e, c in card_of.items()
            if c in (CARDINALITY_MANY, ":" + CARDINALITY_MANY) and e in schema_attr_of
        )

    def attr_types(self, pin: Optional[Pin] = None) -> dict[str, set]:
        """attr -> set of v_type tags seen; drives the compiler's static
        type inference for value-position variables."""
        return self._meta(pin if pin is not None else self.pin())[1]

    def _meta(self, pin: Pin) -> tuple:
        """(schema rows as (e, a, v_str, tx, added) tuples, attr types) of
        a pinned version: the pin carries them, except for a log head
        whose lineage predates them, which `_log_meta` scans once per
        version (kept in a small LRU)."""
        if pin.meta is not None:
            return pin.meta
        return self._metas.get(pin.version, lambda: self._log_meta(pin))

    def _log_meta(self, pin: Pin) -> tuple:
        """The meta of a log version whose head does not carry it, by one
        aggregate over its facts."""
        return Pin.of(pin.version, aggregate_stats(self.facts(pin=pin))).meta

    # ---- writes ----------------------------------------------------------

    def seed(self, facts: Iterable[Sequence]) -> "FactStore":
        """Load raw [e a v tx added] tuples (the reference tests seed storage
        directly, test/unifydb/query_test.clj:12-22). e/tx may be ints or
        Ref."""
        rows = [
            fact_row(e, norm_attr(a), _norm_value(v), tx, added)
            for e, a, v, tx, added in facts
        ]
        self.backend.append(rows)
        return self

    def transact(self, tx_data: list, now_millis: Optional[int] = None) -> dict:
        """Run one transaction (reference do-transaction,
        src/unifydb/transact.clj:98-114): tx-metadata statement, map-form
        expansion, transforms, tempid allocation, atomic append.

        Statements: ``["add"|"retract"|":unifydb/add"|":unifydb/retract",
        e, a, v]`` or a map form (dict). String entity ids are tempids,
        resolved consistently across the tx (also in value position) —
        src/unifydb/transact.clj:70-96.

        Returns the tx-report ``{"db_after": Db, "tx_data": [facts],
        "tempids": {str: int}}`` (shape: src/unifydb/transact.clj:109-112).

        Concurrency: serialized per store via `_tx_lock` — the in-process
        equivalent of the reference's single transactor thread
        (transact.clj:116-137). Two threads transacting concurrently get
        distinct tx-ids and both transactions are visible.
        """
        with self._tx_lock:
            return self._transact_serialized(tx_data, now_millis)

    def _transact_serialized(
        self, tx_data: list, now_millis: Optional[int] = None
    ) -> dict:
        if now_millis is None:
            now_millis = int(time.time() * 1000)
        stmts = list(tx_data) + [["add", TX_TEMPID, TX_INSTANT_ATTR, now_millis]]
        stmts = _expand_map_forms(stmts)
        for t in self.transforms:
            stmts = t(stmts)
        raw = []
        for s in stmts:
            op = norm_attr(str(s[0])).split("/")[-1]
            if op == "add":
                raw.append((s[1], norm_attr(s[2]), s[3], True))
            elif op == "retract":
                raw.append((s[1], norm_attr(s[2]), s[3], False))
            else:
                raise ValueError(f"unknown tx operation {s[0]!r}")
        # tempid allocation in first-appearance order (transact.clj:70-96).
        # Backends with a versioned commit log (txlog.LogParquetBackend)
        # support optimistic concurrency across PROCESSES: ids are
        # allocated above the committed max_id, and the commit is a CAS on
        # the next log version — a lost race re-reads max_id and
        # re-allocates, so two independent writer processes serialize with
        # distinct tx-ids, the cross-process analog of the reference's
        # single transactor thread (transact.clj:116-137).
        supports_occ = hasattr(self.backend, "commit_rows")
        for _attempt in range(64):
            base = self.backend.pin()
            next_id = base.max_id + 1
            tempids = {}
            for e, _a, _v, _add in raw:
                if isinstance(e, str) and e not in tempids:
                    tempids[e] = next_id
                    next_id += 1
            tx_id = tempids[TX_TEMPID]
            rows, facts_out = [], []
            for e, a, v, add in raw:
                eid = tempids.get(e, e) if isinstance(e, str) else int(e)
                if isinstance(e, str) and e not in tempids:
                    raise ValueError(f"unresolvable entity id {e!r}")
                if isinstance(v, str):
                    if v.startswith(":"):  # explicit keyword — never a tempid
                        v = v[1:]
                    elif v in tempids:
                        v = Ref(tempids[v])
                rows.append(fact_row(eid, a, v, tx_id, add))
                facts_out.append([eid, a, v, tx_id, add])
            if supports_occ:
                if self.backend.commit_rows(rows, base.version):
                    break
                # lost the CAS: linear backoff scaled by the attempt and
                # a per-process phase offset so N contending writers
                # de-synchronize instead of re-colliding in lockstep
                import os as _os

                time.sleep(0.002 * (_attempt + 1) * (1 + (_os.getpid() % 7)))
            else:
                self.backend.append(rows)
                break
        else:
            raise RuntimeError("transact: lost the optimistic-commit race 64 times")
        # The transaction IS committed at this point; everything below is
        # post-commit bookkeeping and must not make it look failed.
        # backend-configured maintenance policy (txlog maintain_every):
        # cheap no-op check when idle, checkpoint+vacuum when due.
        # Best-effort: checkpoint can lose its CAS race and vacuum's
        # manifest scan can keep losing to a concurrent truncation (both
        # CommitConflict), and either can hit an I/O error (OSError)
        # — maintenance failure is a deferral, not a transaction failure.
        if hasattr(self.backend, "maybe_maintain"):
            from unifydb_spark.txlog import CommitConflict

            try:
                self.backend.maybe_maintain()
            except (CommitConflict, OSError) as exc:
                import logging

                logging.getLogger(__name__).warning(
                    "post-commit maintenance deferred: %s", exc
                )
        report = {
            "db_after": self.db(tx_id),
            "tx_data": facts_out,
            "tempids": tempids,
        }
        for flt in self.report_filters:
            report = flt(report)
        return report


def _expand_map_forms(tx_data: list) -> list:
    """Map-form (document) statements -> add statements with generated
    tempids (reference map-form->add-forms, src/unifydb/transact.clj:23-55).
    Tempids are deterministic ('unifydb.map/N') rather than random UUIDs."""
    counter = itertools.count()
    out = []

    def expand(form: dict) -> str:
        mid = form.get("unifydb/id") or form.get(":unifydb/id")
        if mid is None:
            mid = f"unifydb.map/{next(counter)}"
        for k, v in form.items():
            if norm_attr(str(k)) == "unifydb/id":
                continue
            if isinstance(v, dict):
                child = expand(v)
                out.append(["add", mid, k, child])
            elif isinstance(v, (list, tuple)) and v and all(
                isinstance(x, dict) for x in v
            ):
                for childform in v:
                    child = expand(childform)
                    out.append(["add", mid, k, child])
            else:
                out.append(["add", mid, k, v])
        return mid

    for stmt in tx_data:
        if isinstance(stmt, dict):
            expand(stmt)
        else:
            out.append(stmt)
    return out
