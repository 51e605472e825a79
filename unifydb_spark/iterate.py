"""Frontier materialization for driver-side iteration: the semi-naive
rounds of recursive rules (query/rules.py) and the graph supersteps and
peels (operators/graph.py).

Each round materializes a frontier and needs its size (or another
aggregate of it) to decide whether to stop. `checkpoint` returns both from
ONE action: the metric is observed (`DataFrame.observe` + `Observation`)
on the checkpoint's own eager job, so no count job runs. When the frontier
is tiny (r137's demand chain is 6 rows), planning the round's
distinct/anti-join/aggregate at the session's shuffle width (32 on the
bench) schedules thousands of empty tasks: the wall clock is per-task
scheduler overhead, not plan growth. `checkpoint` therefore plans a round
at a width derived from rows the caller ALREADY knows (no extra
jobs); a frontier past SESSION_ROWS, or an unknown size, keeps the session
width, so real data is never squeezed. AQE stays on: checkpointed tiny
deltas broadcast against EDB sides regardless.

The narrowing is isolated by construction: the plan is re-bound to a
PRIVATE thread-local `spark.newSession()` clone (shared SparkContext, own
SQLConf), checkpointed there, and the materialized LogicalRDD is re-bound
to the calling session. The caller's conf is never touched, so a user
running other queries (or a second fixpoint) concurrently on ONE
SparkSession is never planned at another loop's width (pinned by
tests/test_scale_proofs.py::test_concurrent_fixpoints_shared_session).
The observation is attached AFTER that re-bind: the private session's
listener delivers the metric, so an `Observation` attached to the
caller's frame would wait forever.
"""

from __future__ import annotations

import threading
from typing import Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

ROWS_PER_PARTITION = 2_000
SESSION_ROWS = 100_000

_PRIVATE_SESSIONS = threading.local()  # thread-local: concurrent loops
# get distinct private sessions, so no conf race without any lock


def _parts(session: int, rows: Optional[int]) -> int:
    if rows is None or rows > SESSION_ROWS:
        return session
    return max(1, min(session, -(-int(rows) // ROWS_PER_PARTITION)))


def width(spark, rows: Optional[int]) -> int:
    """Shuffle width for plans whose every shuffle input is bounded by
    `rows` counted rows: the session width past SESSION_ROWS (or when
    unknown), else one partition per ROWS_PER_PARTITION rows."""
    return _parts(int(spark.conf.get("spark.sql.shuffle.partitions")), rows)


def _private_session(spark):
    """The calling thread's private planning session for `spark`'s
    context — created once per (thread, base session), conf re-set per
    narrowed checkpoint. Holds a strong ref to the base so the id() key
    can never be reused while the clone lives."""
    cache = getattr(_PRIVATE_SESSIONS, "by_base", None)
    if cache is None:
        cache = _PRIVATE_SESSIONS.by_base = {}
    ent = cache.get(id(spark))
    if ent is None or ent[0] is not spark:
        ent = cache[id(spark)] = (spark, spark.newSession())
    return ent[1]


def _rebind(df, session):
    """Re-bind a DataFrame's logical plan to another session of the same
    SparkContext (Dataset.ofRows) — planning/execution then read THAT
    session's SQLConf."""
    jdf = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, session)


def checkpoint(df, rows: Optional[int] = None, metric=None):
    """localCheckpoint(eager) `df`; return (checkpointed df, n), n being
    `metric` (an aggregate Column; default: the row count) observed on the
    checkpoint's own job, after any re-bind. `rows` bounds every shuffle
    input in its plan (known rows; None when unknown): at or below
    SESSION_ROWS the plan runs on the thread's private session at `width`
    partitions, otherwise at the session width."""
    spark = df.sparkSession
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    want = _parts(session, rows)
    if want < session:
        priv = _private_session(spark)
        priv.conf.set("spark.sql.shuffle.partitions", str(want))
        df = _rebind(df, priv)
    obs = Observation()
    metric = F.count(F.lit(1)) if metric is None else metric
    out = df.observe(obs, metric.alias("n")).localCheckpoint(eager=True)
    return (out if want >= session else _rebind(out, spark)), obs.get["n"]
