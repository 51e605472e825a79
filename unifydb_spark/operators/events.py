"""Event-sequence operators for training-data pipelines: sessionization
and as-of (point-in-time) joins.

Both are single-shuffle window pipelines — partition by user, order by
(ts, event_id) — the canonical Spark shape for event-sequence features:
 - sessionize: gap-based session assignment (new session when the gap to
   the previous event exceeds the threshold), then per-session rollup.
   Gap arithmetic is integer microseconds, so engine-portable exactly.
 - asof_latest: for each left-type event, the most recent *strictly
   prior* right-type event of the same user, via last(... ignore nulls)
   over ROWS UNBOUNDED PRECEDING..1 PRECEDING — the merge formulation of
   an as-of join: no join node at all, one sort per partition, which is
   what you want at 100 TB (a range-join would be quadratic per key).
   This is the point-in-time-correctness primitive of feature stores.

The reference has no stream/sequence operators (SURVEY §2.6) — these are
north-star extensions over the driver's events table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEC = "decimal(30,10)"


def sessionize(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Per-user gap-based sessions: (user_id, session_seq, session_start,
    session_end, n_events, sum_value). One shuffle on user_id."""
    gap_us = int(gap_minutes) * 60 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(
        prev_us.isNull() | (F.unix_micros("ts") - prev_us > gap_us), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tagged = events.withColumn("session_seq", F.sum(new_sess).over(run))
    # decimal-exact sum internally, rounded DOUBLE at the boundary (the
    # correctness gate stringifies pandas frames; Decimal reprs never
    # match the oracle's float64)
    return (
        tagged.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias(
                "sum_value"
            ),
        )
    )


def sessionize_bucketed(
    events: DataFrame, gap_minutes: int = 30, bucket_hours: float = 24
) -> DataFrame:
    """Time-bucketed pre-sessionization — the skew mitigation SCALE_SF1
    §2 names for the hot-user floor (VERDICT r9 ask #6). Plain
    sessionize's one irreducible skew point is the window over a single
    hot user: ALL of that user's events sort in ONE task (measured 22.6%
    of sf1 under Zipf(1.2), 21.1x max/median task rows). This variant
    bounds the per-task row count by epoch bucket instead:

    1. bucket = epoch_us DIV bucket_us — pure column arithmetic;
    2. sessionize WITHIN (user_id, bucket) partitions: the hot user's
       events split across its buckets, so max task rows <= the user's
       busiest bucket, not their lifetime;
    3. merge boundary sessions: per-bucket sub-sessions are themselves
       gap-sessionized per user on their (start, end) intervals — a
       sub-session merges into the previous one iff
       start - prev_end <= gap. This second pass shuffles SUB-SESSIONS
       (orders of magnitude fewer rows than events), so the per-user
       serial floor shrinks from O(events(user)) to O(sessions(user)).

    Exactness argument (pinned against plain sessionize's oracle by the
    graded entry r139 and tests/test_events_ops.py):
    - within a bucket the split points are identical to plain sessionize;
    - a session that plain sessionize would continue across a bucket
      boundary has consecutive-event gap <= g, so the boundary
      sub-sessions' start/end gap is <= g and pass 3 merges them;
    - two sub-sessions in the SAME bucket are separated by > g by
      construction and never re-merge;
    - sums stay DECIMAL through both passes (associative), rounded once
      at the boundary; session_seq = rank of the merged session's first
      event, identical to the plain cumsum.

    Same output schema and values as :func:`sessionize`.
    """
    gap_us = int(gap_minutes) * 60 * 1_000_000
    bucket_us = int(bucket_hours * 3600 * 1_000_000)
    ev = events.withColumn(
        "_bkt", F.expr(f"unix_micros(ts) DIV {bucket_us}")
    )
    w = Window.partitionBy("user_id", "_bkt").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    new_sub = F.when(
        prev_us.isNull() | (F.unix_micros("ts") - prev_us > gap_us), 1
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    subs = (
        ev.withColumn("_sub", F.sum(new_sub).over(run))
        .groupBy("user_id", "_bkt", "_sub")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).alias("_sum_dec"),
        )
    )
    # pass 3: gap-merge the sub-session intervals per user. Shuffled rows
    # here are sub-sessions, not events — the hot-user floor is gone.
    mw = Window.partitionBy("user_id").orderBy("session_start", "session_end")
    prev_end = F.lag(F.unix_micros("session_end")).over(mw)
    new_sess = F.when(
        prev_end.isNull()
        | (F.unix_micros("session_start") - prev_end > gap_us),
        1,
    ).otherwise(0)
    mrun = mw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        subs.withColumn("session_seq", F.sum(new_sess).over(mrun))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("session_start").alias("session_start"),
            F.max("session_end").alias("session_end"),
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("_sum_dec").cast("double"), 4).alias("sum_value"),
        )
    )


def hot_key_share(
    df: DataFrame,
    key_cols: "list[str]",
    sample_fraction: float = 0.02,
    seed: int = 7,
    min_sample_rows: int = 20_000,
) -> float:
    """Cheap skew probe behind the auto bucket/salt routing (VERDICT r10
    ask #6): the hottest key's share of rows, estimated from ONE sampled
    scan + key-count aggregate. The exact fallback is decided on the
    ESTIMATED CORPUS size (sample rows / sample fraction), not the raw
    sample size: a full exact pass only "costs the same as the sample"
    when the corpus itself is small (< min_sample_rows rows), whereas a
    900k-row corpus sampled at 2% yields 18k sample rows — plenty to
    rank a >5% hot key, and paying a second full scan there would double
    the probe's cost for nothing. The probe is a ROUTING input only:
    both routes are proven result-identical, so a mis-estimate can cost
    a constant factor, never correctness."""
    sampled = df.sample(fraction=float(sample_fraction), seed=int(seed))
    agg = sampled.groupBy(*key_cols).count().agg(
        F.max("count").alias("mx"), F.sum("count").alias("n")
    ).first()
    est_corpus = (agg["n"] or 0) / max(float(sample_fraction), 1e-12)
    if est_corpus < int(min_sample_rows):
        agg = df.groupBy(*key_cols).count().agg(
            F.max("count").alias("mx"), F.sum("count").alias("n")
        ).first()
    if not agg["n"]:
        return 0.0
    return float(agg["mx"]) / float(agg["n"])


def sessionize_auto(
    events: DataFrame,
    gap_minutes: int = 30,
    bucket_hours: float = 24,
    hot_share_threshold: float = 0.05,
    sample_fraction: float = 0.02,
    seed: int = 7,
) -> DataFrame:
    """Skew-routed sessionization — the PRODUCTION default (VERDICT r10
    ask #6: "promote the bucketed paths to defaults under measured
    skew"). One cheap :func:`hot_key_share` probe decides the route:

    - hot user share <= threshold: plain :func:`sessionize` (one
      shuffle, no merge pass — strictly cheaper on uniform data);
    - above it: :func:`sessionize_bucketed` (the per-task floor drops
      from O(events(hot user)) to O(busiest bucket); measured on the
      Zipf(1.2) sf1 fixture: 225,744 -> 817 max task rows,
      SCALE_SF1.md §2b).

    Both routes are result-identical by the r139 exactness argument
    (same oracle, property-fuzzed), so routing affects cost only. The
    default threshold 0.05 means: one user owning >5% of all events —
    at 32+ shuffle partitions that user's window task is already >1.6x
    the mean, and growing linearly with data while every other task
    splits."""
    share = hot_key_share(
        events, ["user_id"], sample_fraction, seed
    )
    if share > float(hot_share_threshold):
        return sessionize_bucketed(events, gap_minutes, bucket_hours)
    return sessionize(events, gap_minutes)


def asof_latest(
    events: DataFrame,
    left_type: str = "purchase",
    right_type: str = "click",
) -> DataFrame:
    """For each `left_type` event: the latest strictly-prior `right_type`
    event of the same user (event id, timestamp, lag in microseconds;
    nulls when none). Merge formulation — no join."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_right = F.col("event_type") == right_type
    ref_id = F.last(F.when(is_right, F.col("event_id")), ignorenulls=True).over(w)
    ref_us = F.last(
        F.when(is_right, F.unix_micros("ts")), ignorenulls=True
    ).over(w)
    out = (
        events.withColumn("ref_event_id", ref_id)
        .withColumn("ref_us", ref_us)
        .filter(F.col("event_type") == left_type)
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "ref_event_id",
        (F.unix_micros("ts") - F.col("ref_us")).alias("lag_us"),
    )


def rolling_user_stats(events: DataFrame, window_rows: int = 5) -> DataFrame:
    """Per-user rolling features over the ordered event stream: sequence
    number, rolling count/average of `value` over the trailing
    `window_rows` rows, and the delta to the previous event's value.

    Same single-shuffle shape as sessionize — partition by user_id, order
    by (ts, event_id), every frame ROWS-bounded — so state per partition
    is O(window_rows) and the whole thing is one sort + one window pass:
    the feature-engineering primitive for sequence models (user activity
    velocity, burst detection) at any scale. Rolling sums accumulate in
    DECIMAL and surface as rounded DOUBLE (driver-hash contract)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-(int(window_rows) - 1), 0)
    roll_sum = F.sum(F.col("value").cast(DEC)).over(wf)
    roll_n = F.count(F.lit(1)).over(wf)
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.row_number().over(w).alias("seq"),
        roll_n.alias("roll_n"),
        F.round(roll_sum.cast("double") / roll_n, 4).alias("roll_avg"),
        F.round(
            F.col("value").cast("double") - F.lag(F.col("value").cast("double")).over(w),
            4,
        ).alias("delta"),
    )


def resample_ffill(events: DataFrame, freq: str = "hour") -> DataFrame:
    """Per-user fixed-frequency resampling with forward fill: truncate
    events to `freq` buckets, keep the last observation per bucket
    (deterministic pick = highest event_id), densify each user's span to
    a complete bucket grid (`sequence` + explode — generated, never
    joined against a calendar table), then forward-fill gaps with
    last(... IGNORE NULLS) over an ever-growing ROWS frame.

    Everything is keyed by user_id — the per-bucket aggregate, the span
    aggregate, the grid join, and the fill window all share one hash
    partitioning, so AQE collapses them onto a handful of exchanges and
    the fill itself is a single sort per partition. Grid size is
    span/freq per user (bounded, predictable), which is the property that
    makes this safe at 100 TB where a naive global calendar cross-join is
    not. This is the feature-store "align to model time-step" primitive.
    """
    bucket = F.date_trunc(freq, F.col("ts"))
    obs = events.groupBy(
        F.col("user_id"), bucket.alias("bucket")
    ).agg(F.max_by("value", "event_id").alias("obs_value"))
    grid = (
        obs.groupBy("user_id")
        .agg(F.min("bucket").alias("b0"), F.max("bucket").alias("b1"))
        .select(
            "user_id",
            F.explode(
                F.expr(f"sequence(b0, b1, interval 1 {freq})")
            ).alias("bucket"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grid.join(obs, ["user_id", "bucket"], "left").select(
        "user_id",
        "bucket",
        F.round(
            F.last("obs_value", ignorenulls=True).over(w), 4
        ).alias("value"),
        F.col("obs_value").isNotNull().alias("is_observed"),
    )


def funnel(
    events: DataFrame,
    steps: tuple = ("view", "click", "purchase"),
) -> DataFrame:
    """Per-user ordered funnel: earliest step-1 event, then the earliest
    step-2 event strictly after it, then the earliest step-3 after that,
    and the deepest stage reached. Sequential dependence is expressed as
    stacked window aggregates over the SAME user partitioning — Spark
    reuses one exchange + sort for all passes, so the whole funnel is a
    single shuffle regardless of step count (no self-joins, which would
    be step-count × corpus-size shuffles at 100 TB). Timestamps surface
    as epoch-microsecond longs (exact integer parity)."""
    w = Window.partitionBy("user_id")
    us = F.unix_micros("ts")
    out = events.select("user_id", "event_type", us.alias("us"))
    prev = None
    for i, step in enumerate(steps, start=1):
        cond = F.col("event_type") == step
        if prev is not None:
            cond = cond & (F.col("us") > F.col(prev))
        out = out.withColumn(f"t{i}_us", F.min(F.when(cond, F.col("us"))).over(w))
        prev = f"t{i}_us"
    stage = F.lit(0)
    for i in range(1, len(steps) + 1):
        stage = F.when(F.col(f"t{i}_us").isNotNull(), i).otherwise(stage)
    return (
        out.groupBy("user_id")
        .agg(
            *[F.min(f"t{i}_us").alias(f"t{i}_us") for i in range(1, len(steps) + 1)]
        )
        .withColumn("stage", stage)
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Day-cohort retention triangle: users grouped by their first-ever
    event day; for each (cohort_day, day_offset) the count of distinct
    users active that day. Two shuffles total — one groupBy(user) for
    first-day, map-side-combinable, then one groupBy(cohort, offset) over
    a pre-deduplicated (user, day) relation; the cohort table joins back
    by BROADCAST when users fit (else it is a plain co-partitioned hash
    join on user_id). The activation/engagement rollup every product
    pipeline runs — at any scale the state is O(users) + O(cohort days²)."""
    days = events.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    first = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def range_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bin_hours: int = 24,
) -> DataFrame:
    """Point-in-interval range join, scale-safe: a naive theta-join
    (`p.ts BETWEEN i.start AND i.end`) plans as a nested-loop over the
    full cross space. Instead each interval explodes to the time BINS it
    covers (sequence over bin indices — intervals are bounded, so the
    fan-out is end-start/bin_hours + 1 rows), points compute their single
    bin, and the join is an EQUI-join on bin followed by the exact
    containment filter. Shuffle volume is O(points + interval-bins); with
    both sides laid out by bin (partitionBy/bucketBy), it co-locates like
    any other hash join — the hypertable chunk-wise range-join strategy.

    Keeps every `intervals` column; containment is start <= ts < end
    (microsecond precision, engine-portable integer comparisons)."""
    bin_us = int(bin_hours) * 3_600_000_000
    p = points.withColumn(
        "__bin", (F.unix_micros(F.col(ts_col)) / bin_us).cast("long")
    )
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                (F.unix_micros(F.col(start_col)) / bin_us).cast("long"),
                (F.unix_micros(F.col(end_col)) / bin_us).cast("long"),
            )
        ),
    )
    return (
        p.join(iv, "__bin")
        .filter(
            (F.unix_micros(F.col(ts_col)) >= F.unix_micros(F.col(start_col)))
            & (F.unix_micros(F.col(ts_col)) < F.unix_micros(F.col(end_col)))
        )
        .drop("__bin")
    )


def interval_activity(events: DataFrame, user_mod: int = 11) -> DataFrame:
    """Range-join demo over real data: 'owner' users (user_id % user_mod
    == 0) each own one irregular interval [first event, first event +
    (user_id % 72) hours); count ALL users' events falling inside each
    owner's interval. Returns (owner, n_events, sum_value)."""
    firsts = (
        events.filter(F.col("user_id") % user_mod == 0)
        .groupBy(F.col("user_id").alias("owner"))
        .agg(F.min("ts").alias("start_ts"))
        .withColumn(
            "end_ts",
            F.timestamp_micros(
                F.unix_micros(F.col("start_ts"))
                + (F.col("owner") % 72) * 3_600_000_000
            ),
        )
    )
    joined = range_join_binned(
        events.select("event_id", "ts", "value"), firsts, bin_hours=24
    )
    return joined.groupBy("owner").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(30,10)")).cast("double"), 4
        ).alias("sum_value"),
    )


def scd2_intervals(
    events: DataFrame,
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    current_sentinel: str = "9999-12-31 00:00:00",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history: collapse an event
    stream into (key, value, valid_from, valid_to, is_current) validity
    intervals — the dimension-table twin of the store's LWW retraction
    collapse (store.py snapshot dedups to ONE current value; SCD2 keeps
    every value with its validity range, which is what a training-data
    lineage audit or a point-in-time feature join consumes).

    Two steps, ONE shuffle (both windows share the hash(key)
    partitioning): (1) change-compression — keep only rows whose value
    differs from the previous row in (ts, seq) order, so runs of equal
    values collapse before intervals exist; (2) valid_to = next change's
    valid_from (LEAD), open intervals get a fixed sentinel. Timestamps
    surface as fixed-format strings: engine-neutral, and the sentinel
    avoids NULL-ordering ambiguity in downstream BETWEEN joins.

    Determinism requires (ts, seq) unique per key — the same contract
    as the store's op_ord tiebreak."""
    w_order = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(seq_col).asc()
    )
    # null-SAFE change detection (r5 advice): attr != prev is NULL when
    # either side is NULL, which silently dropped transitions into/out
    # of a NULL attribute. eqNullSafe compresses NULL runs correctly,
    # and the row_number()==1 term keeps each key's first row (its lag
    # is NULL-for-absent, indistinguishable from a NULL attr otherwise).
    changed = (
        events.select(key_col, attr_col, ts_col, seq_col)
        .withColumn("_prev", F.lag(attr_col).over(w_order))
        .withColumn("_rn", F.row_number().over(w_order))
        .filter(
            (F.col("_rn") == 1)
            | ~F.col(attr_col).eqNullSafe(F.col("_prev"))
        )
        .drop("_prev", "_rn")
    )
    w2 = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(seq_col).asc()
    )
    nxt = F.lead(ts_col).over(w2)
    return changed.select(
        F.col(key_col),
        F.col(attr_col),
        F.date_format(F.col(ts_col), "yyyy-MM-dd HH:mm:ss").alias(
            "valid_from"
        ),
        F.coalesce(
            F.date_format(nxt, "yyyy-MM-dd HH:mm:ss"),
            F.lit(current_sentinel),
        ).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def rolling_metrics(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    seq_col: str = "event_id",
    window_hours: int = 24,
) -> DataFrame:
    """Trailing time-RANGE window per key: for every event, the count
    and exact sum of the key's events in the preceding `window_hours`
    (inclusive of now, exclusive of the instant exactly window_hours
    ago) — the feature-engineering staple ("activity in the last 24h
    as of each event") that a training-data point-in-time join consumes
    without label leakage.

    This is a RANGE frame over epoch MICROseconds (unix_micros /
    epoch_us — identical integers on both engines, no sub-second floor
    ambiguity), not a ROWS frame: peers at the same timestamp all see
    the same window, so the result is deterministic under any tie
    order. Sums run in DECIMAL(30,10) (order-independent exact
    arithmetic), surfaced via the varchar hop as a rounded double.

    Shape: ONE shuffle (hash by key), then a streaming sorted-frame
    scan per partition — Spark's range-frame window keeps a sliding
    buffer bounded by the window's row span, and at 100 TB the state is
    per-key-per-window, never per-partition-global. Skewed keys (one
    user with millions of events) bound the buffer by events INSIDE
    24h, which is the inherent output semantics."""
    micros = F.unix_micros(F.col(ts_col))
    span = int(window_hours) * 3600 * 1_000_000
    w = (
        Window.partitionBy(key_col)
        .orderBy(micros)
        .rangeBetween(-(span - 1), 0)
    )
    dec_sum = F.sum(F.col(value_col).cast("decimal(30,10)")).over(w)
    return events.select(
        F.col(seq_col),
        F.col(key_col),
        F.date_format(F.col(ts_col), "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_win"),
        F.round(dec_sum.cast("string").cast("double"), 4).alias("sum_win"),
    )


def rate_anomaly(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    lookback_days: int = 7,
    threshold: float = 3.0,
) -> DataFrame:
    """Event-rate anomaly flags: per (type, day), the z-score of the
    day's event count against the PRECEDING `lookback_days` days'
    counts — the pipeline-monitoring primitive ("did src X's volume
    crater / explode today?") that catches upstream breakage before a
    model trains on a silently skewed mixture. Detection is against
    history only (the frame excludes today), on a DENSE day spine
    (missing days count 0 — a day with no events at all is exactly the
    anomaly you must not skip over). Rows with fewer than 2 history
    days or zero variance yield NULL z / no flag.

    Exactness: counts are integers; the mean/variance of the history
    frame use bigint sum and sum-of-squares with the sample-variance
    expression evaluated in the same operation order on both engines —
    no float accumulation anywhere before the final division. Shape:
    one combinable count, then everything runs on the calendar-sized
    (days x types) relation: the spine cross join and windows never
    touch raw rows."""
    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01"))
    daily = (
        events.select(F.col(type_col).alias("etype"), day.alias("d"))
        .groupBy("etype", "d")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from unifydb_spark.resources import tracked_persist

    daily = tracked_persist(daily)
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = (
        bounds.select(F.explode(F.sequence("lo", "hi")).alias("d"))
        .crossJoin(F.broadcast(daily.select("etype").distinct()))
    )
    dense = spine.join(daily, ["etype", "d"], "left").select(
        "etype", "d", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )
    w = (
        Window.partitionBy("etype")
        .orderBy("d")
        .rowsBetween(-int(lookback_days), -1)
    )
    nh = F.count(F.lit(1)).over(w)
    s = F.sum("c").over(w)
    ss = F.sum(F.col("c") * F.col("c")).over(w)
    nhd = nh.cast("double")
    sd = s.cast("double")
    ssd = ss.cast("double")
    mean = sd / nhd
    var = (ssd - (sd * sd) / nhd) / (nhd - F.lit(1.0))
    z = F.when((nh >= 2) & (var > 0), (F.col("c") - mean) / F.sqrt(var))
    return dense.select(
        F.col("etype").alias(type_col),
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("d")),
            "yyyy-MM-dd",
        ).alias("day"),
        F.col("c").cast("bigint").alias("n_events"),
        nh.cast("bigint").alias("n_history"),
        F.round(F.when(nh >= 1, mean), 6).alias("base_mean"),
        F.round(z, 6).alias("zscore"),
        F.coalesce(F.abs(z) > float(threshold), F.lit(False)).alias(
            "is_anomaly"
        ),
    )


def interval_union_time(
    intervals: DataFrame,
    key_col: str = "user_id",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """Total covered time per key from OVERLAPPING intervals — the
    sweep line as a window pipeline: explode each [start, end) interval
    into a +1/-1 boundary event, order by time per key, running depth;
    a span between consecutive boundaries counts when the running depth
    is positive. The classic 'total active/listening/session time'
    metric that naive SUM(end - start) double-counts under overlap.
    Returns (key, n_intervals, covered_us, span_us) with covered <=
    span always.

    Exactness: everything is integer epoch microseconds; boundary ties
    order (+1 before -1 at the same instant: delta DESC) so touching
    intervals [a,b) + [b,c) merge seamlessly on both engines. ONE
    shuffle (hash by key); window state is a running integer."""
    s_us = F.unix_micros(F.col(start_col))
    e_us = F.unix_micros(F.col(end_col))
    b = intervals.select(
        F.col(key_col).alias("k"),
        F.explode(
            F.array(
                F.struct(s_us.alias("t"), F.lit(1).alias("d")),
                F.struct(e_us.alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("ev"),
    ).select("k", F.col("ev.t").alias("t"), F.col("ev.d").alias("d"))
    w = Window.partitionBy("k").orderBy(F.col("t").asc(), F.col("d").desc())
    # ROWS frame (not the default RANGE): matches the oracle; exact-tie
    # boundary rows contribute zero-length pieces either way, so peer
    # order cannot affect the totals
    depth = F.sum("d").over(w.rowsBetween(Window.unboundedPreceding, 0))
    nxt_t = F.lead("t").over(w)
    spans = b.select(
        "k",
        ((nxt_t - F.col("t"))
         * (depth > 0).cast("long")).alias("covered_piece"),
        F.col("t"),
    )
    agg = spans.groupBy("k").agg(
        F.sum("covered_piece").cast("bigint").alias("covered_us"),
        (F.max("t") - F.min("t")).cast("bigint").alias("span_us"),
    )
    n = intervals.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals")
    )
    return agg.join(n, "k").select(
        F.col("k").alias(key_col), "n_intervals", "covered_us", "span_us"
    )


def event_transitions(
    events: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over the per-key event
    stream: counts and row-normalized probabilities of (from_type ->
    to_type) across consecutive events — the sequence-model input
    (what follows a click?) and the behavioral fingerprint drift
    monitors compare across cohorts. Returns (from_type, to_type, n,
    p) with sum(p) = 1 per from_type.

    Shape: one hash(key) shuffle for the lag window, then a
    type-pair-sized combinable count; the normalization joins the
    row totals back onto the pair relation (types^2 rows at most).
    Determinism: (ts, seq) ordering, integer counts, one division."""
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(seq_col).asc()
    )
    pairs = (
        events.select(
            F.col(key_col),
            F.col(type_col).alias("to_type"),
            F.lag(F.col(type_col)).over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("bigint").alias("n"),
            F.round(
                F.col("n").cast("double") / F.col("tot").cast("double"), 6
            ).alias("p"),
        )
    )


def association_rules(
    events: DataFrame,
    basket_col: str = "user_id",
    item_col: str = "event_type",
    min_support: float = 0.01,
) -> DataFrame:
    """First-level market-basket association rules over per-key item
    sets (each basket = the DISTINCT items of one key): for every
    ordered item pair (a -> b), support, confidence and lift — the
    classic co-occurrence screen ("users who click also purchase?")
    that needs no iterative Apriori when the item domain is small
    (event types, labels, tags). Returns (antecedent, consequent,
    n_both, support, confidence, lift), support >= min_support.

    Shape: one distinct (basket, item) aggregation collapses the raw
    stream; the pair join is item-keyed WITHIN basket (fan-out bounded
    by items-per-basket squared, i.e. the item-domain size, never the
    corpus); item marginals broadcast back. Integer counts, divisions
    only at the surface."""
    bi = (
        events.select(
            F.col(basket_col).alias("b"), F.col(item_col).alias("item")
        )
        .distinct()
    )
    from unifydb_spark.resources import tracked_persist

    bi = tracked_persist(bi)
    n_baskets = bi.select("b").distinct().count()
    item_counts = bi.groupBy("item").agg(F.count(F.lit(1)).alias("ni"))
    pairs = (
        bi.alias("x")
        .join(
            bi.alias("y"),
            (F.col("x.b") == F.col("y.b"))
            & (F.col("x.item") != F.col("y.item")),
        )
        .groupBy(
            F.col("x.item").alias("antecedent"),
            F.col("y.item").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = item_counts.select(
        F.col("item").alias("antecedent"), F.col("ni").alias("na")
    )
    nc = item_counts.select(
        F.col("item").alias("consequent"), F.col("ni").alias("nc")
    )
    j = pairs.join(F.broadcast(na), "antecedent").join(
        F.broadcast(nc), "consequent"
    )
    nb = float(n_baskets)
    support = F.col("n_both").cast("double") / F.lit(nb)
    conf = F.col("n_both").cast("double") / F.col("na").cast("double")
    lift = conf / (F.col("nc").cast("double") / F.lit(nb))
    return (
        j.select(
            "antecedent",
            "consequent",
            F.col("n_both").cast("bigint").alias("n_both"),
            F.round(support, 6).alias("support"),
            F.round(conf, 6).alias("confidence"),
            F.round(lift, 6).alias("lift"),
        )
        .filter(F.col("support") >= float(min_support))
    )


def session_paths(
    events: DataFrame,
    gap_minutes: int = 30,
    top_k: int = 20,
) -> DataFrame:
    """Top navigation paths: gap-sessionize (the q34 tagging), render
    each session's ORDERED event-type sequence as a path string, count
    identical paths corpus-wide — the "how do users actually move"
    report behind funnel design. Returns the top_k paths by frequency
    (ties by path), with (path, n_sessions, avg_len).

    Determinism: the per-session sequence is fixed by sort_array over
    (ts, event_id, type) structs — never a bare collect_list, whose
    order is partition-dependent. Shape: the sessionize window (one
    hash(user) shuffle), one session rollup, one path count — paths
    are a heavy-tail relation far smaller than events."""
    gap_us = int(gap_minutes) * 60 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    new_sess = F.when(
        prev_us.isNull() | (F.unix_micros("ts") - prev_us > gap_us), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tagged = events.withColumn("session_seq", F.sum(new_sess).over(run))
    per_sess = tagged.groupBy("user_id", "session_seq").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.unix_micros("ts").alias("t"),
                            F.col("event_id").alias("e"),
                            F.col("event_type").alias("et"),
                        )
                    )
                ),
                lambda s: s.getField("et"),
            ),
        ).alias("path"),
        F.count(F.lit(1)).alias("len"),
    )
    return (
        per_sess.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.round(
                F.sum("len").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_len"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(int(top_k))
    )


def survival_curve(
    durations: DataFrame,
    duration_col: str = "duration",
    event_col: str = "observed",
) -> DataFrame:
    """Kaplan-Meier survival estimator over (duration, observed) pairs
    — time-to-event analytics with CENSORING done right (users who
    never converted are information, not missing data; dropping them
    biases every naive "average time to purchase" report). S(t) is the
    product over event times t_i <= t of (1 - d_i / n_i), with d_i the
    events at t_i and n_i the at-risk count. Returns one row per
    distinct duration (events or censorings): (duration, n_risk,
    n_events, n_censored, survival).

    Shape: one duration-level combinable count, then the at-risk and
    survival accumulations run as windows over the DISTINCT-duration
    relation (time-grid-sized, never row-sized). The running product
    is exp(cumsum(ln(...))) — the ln-parity contract — with terms
    rounded to 12 decimals before the cumulative sum so both engines
    accumulate identical values; survival at a pure-censoring time
    repeats the previous value (d_i = 0 -> ln term 0)."""
    from pyspark.sql import Window

    d = F.col(duration_col).cast("double")
    ev = F.col(event_col).cast("boolean")
    per_t = (
        durations.groupBy(d.alias("t"))
        .agg(
            F.sum(ev.cast("long")).alias("d_i"),
            F.sum((~ev).cast("long")).alias("c_i"),
        )
    )
    w_ord = Window.orderBy("t")
    w_all = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    total = F.sum(F.col("d_i") + F.col("c_i")).over(w_all)
    before = F.sum(F.col("d_i") + F.col("c_i")).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    n_risk = total - F.coalesce(before, F.lit(0))
    stepped = per_t.select(
        "t",
        "d_i",
        "c_i",
        n_risk.alias("n_risk"),
    )
    run = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    term = F.round(
        F.log(
            F.lit(1.0)
            - F.col("d_i").cast("double") / F.col("n_risk").cast("double")
        ),
        12,
    )
    # d_i == n_risk (everyone still at risk converts) makes the factor
    # 0: survival is EXACTLY 0 from that time on — handled as an
    # explicit zero flag rather than ln(0) (Spark yields NULL, DuckDB
    # errors; neither is the right 0)
    hit_zero = F.max(
        (F.col("d_i") == F.col("n_risk")).cast("int")
    ).over(run)
    surv = F.when(hit_zero == 1, F.lit(0.0)).otherwise(
        F.exp(
            F.sum(
                F.when(
                    (F.col("d_i") > 0) & (F.col("d_i") < F.col("n_risk")),
                    term,
                ).otherwise(F.lit(0.0))
            ).over(run)
        )
    )
    return stepped.select(
        F.round(F.col("t"), 6).alias("duration"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d_i").cast("bigint").alias("n_events"),
        F.col("c_i").cast("bigint").alias("n_censored"),
        F.round(surv, 6).alias("survival"),
    )


def daily_acf(
    events: DataFrame, ts_col: str = "ts", max_lag: int = 7
) -> DataFrame:
    """Lag-1..max_lag autocorrelation of the DAILY event count series —
    the seasonality detector behind every volume monitor (a strong
    lag-7 says weekly cadence; a strong lag-1 says momentum/batch
    arrival), computed on a DENSE day spine so zero-event days damp
    the correlation instead of silently vanishing (the r25 spine
    argument). Returns (lag, n_pairs, acf) with the full-series ACF
    convention: r_k = sum((x_t - mu)(x_(t+k) - mu)) / sum((x_t - mu)^2)
    with mu and the denominator over the WHOLE series.

    Exactness: daily counts are integers; every sum feeding r_k
    (sum x_t*x_(t+k) per lag, head/tail sums, S, SS, n) is an integer
    aggregate, so r_k is one mirrored double expression evaluated once
    per lag — no float accumulation anywhere. Scale: one combinable
    day count collapses raw rows to the calendar; the lead-window runs
    on the day-spine relation (bounded by calendar days, thousands of
    rows at any data scale), which is the documented exception to the
    no-unpartitioned-window rule — same as r25's per-type spine."""
    from unifydb_spark.resources import tracked_persist

    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01"))
    daily = (
        events.select(day.alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    daily = tracked_persist(daily)
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    dense = tracked_persist(
        spine.join(daily, "d", "left").select(
            "d", F.coalesce("c", F.lit(0)).cast("long").alias("c")
        )
    )
    tot = dense.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    w = Window.orderBy("d")
    leads = dense.select(
        "c",
        *[
            F.lead("c", k).over(w).alias(f"_l{k}")
            for k in range(1, int(max_lag) + 1)
        ],
    )
    stack_expr = ", ".join(
        f"{k}, _l{k}" for k in range(1, int(max_lag) + 1)
    )
    pairs = (
        leads.selectExpr(
            "c", f"stack({int(max_lag)}, {stack_expr}) AS (lag, y)"
        )
        .filter(F.col("y").isNotNull())
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("c") * F.col("y")).alias("sxy"),
            F.sum("c").alias("sx"),
            F.sum("y").alias("sy"),
        )
    )
    j = pairs.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    mu = F.col("s").cast("double") / nd
    num = (
        F.col("sxy").cast("double")
        - mu * (F.col("sx") + F.col("sy")).cast("double")
        + F.col("n_pairs").cast("double") * mu * mu
    )
    den = F.col("ss").cast("double") - F.col("s").cast("double") * mu
    return j.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.round(
            F.when(den > 0, num / den), 6
        ).alias("acf"),
    )


def cusum_shift(
    events: DataFrame, ts_col: str = "ts"
) -> DataFrame:
    """Two-sided CUSUM mean-shift detection over the daily event-count
    series — the changepoint monitor that catches SUSTAINED small
    drifts a per-day z-score (r25) never trips on: each side
    accumulates deviations beyond a slack of mu/20 and flags when the
    accumulated excursion exceeds h = mu (one full average day of
    excess mass). Page's recursion S_t = max(0, S_(t-1) + dev_t) is
    not a SQL window — but its closed form IS:
    S_t = C_t - min_(i<=t) C_i for the unreset cumulative C, so the
    whole detector is one cumulative-sum window plus one running-min
    window on the day spine.

    Exactness: with slack = mu/20 and h = mu, every quantity scales by
    20n into integers (mu = S/n): pos_t = 20n*cumsum(x) - 21*t*S,
    neg_t = 19*t*S - 20n*cumsum(x); flags compare integers to 20*S —
    the entire detector is integer arithmetic, floats appear only in
    the human-unit surface columns. Scale: one combinable day count;
    windows run on the calendar-sized spine (r25's documented
    exception); the (n, S) scalars ride one broadcast 1-row cross
    join."""
    from unifydb_spark.resources import tracked_persist

    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01"))
    daily = (
        events.select(day.alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    daily = tracked_persist(daily)
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    dense = spine.join(daily, "d", "left").select(
        "d", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )
    tot = dense.agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("s"))
    j = dense.crossJoin(F.broadcast(tot))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    t_idx = F.row_number().over(Window.orderBy("d")).cast("long")
    cum = F.sum("c").over(w).cast("long")
    scaled = j.select(
        "d",
        "c",
        "n",
        "s",
        (
            F.lit(20) * F.col("n") * cum - F.lit(21) * t_idx * F.col("s")
        ).alias("_kpos"),
        (
            F.lit(19) * t_idx * F.col("s") - F.lit(20) * F.col("n") * cum
        ).alias("_kneg"),
    )
    run_min = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    spos = F.col("_kpos") - F.min("_kpos").over(run_min)
    sneg = F.col("_kneg") - F.min("_kneg").over(run_min)
    scale = (F.lit(20.0) * F.col("n").cast("double"))
    return scaled.select(
        "d",
        F.col("c").cast("bigint").alias("c"),
        F.round(spos.cast("double") / scale, 6).alias("cusum_pos"),
        F.round(sneg.cast("double") / scale, 6).alias("cusum_neg"),
        (spos > F.lit(20) * F.col("s")).alias("flag_pos"),
        (sneg > F.lit(20) * F.col("s")).alias("flag_neg"),
    )


def active_users(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Daily/weekly/monthly active users per day with the stickiness
    ratio (DAU/MAU) — the product-analytics pulse every warehouse
    serves. EXACT trailing-window distincts via the scatter trick:
    distinct is not additive over windows, but each active (user, day)
    can claim membership in every trailing window it belongs to —
    scatter each distinct user-day to the next 6 / 29 days, dedupe
    (user, target day), count per day (the r18 windowed-distinct
    argument, exact instead of sketched). Returns
    (d, dau, wau, mau, stickiness) on the dense day spine; stickiness
    NULL where MAU is 0.

    Scale: the working set collapses to distinct (user, day) rows
    immediately (one combinable distinct); the scatter fan-out is x7
    and x30 over THAT relation (users x days, not events), and the
    count-distinct shuffles hash (target-day, user) — evenly spread.
    For windows where even users x 30 is too wide, r18's HLL registers
    are the documented approximation."""
    from unifydb_spark.resources import tracked_persist

    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01"))
    ud = tracked_persist(
        events.select(
            F.col(user_col).alias("u"), day.alias("d0")
        ).distinct()
    )
    bounds = ud.agg(F.min("d0").alias("lo"), F.max("d0").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    dau = ud.groupBy(F.col("d0").alias("d")).agg(
        F.count(F.lit(1)).alias("dau")
    )

    def _trailing(width: int, name: str) -> DataFrame:
        scat = ud.select(
            "u",
            F.explode(
                F.sequence(F.col("d0"), F.col("d0") + F.lit(width - 1))
            ).alias("d"),
        ).distinct()
        return scat.groupBy("d").agg(F.count(F.lit(1)).alias(name))

    wau = _trailing(7, "wau")
    mau = _trailing(30, "mau")
    out = (
        spine.join(dau, "d", "left")
        .join(wau, "d", "left")
        .join(mau, "d", "left")
        .select(
            "d",
            F.coalesce("dau", F.lit(0)).cast("bigint").alias("dau"),
            F.coalesce("wau", F.lit(0)).cast("bigint").alias("wau"),
            F.coalesce("mau", F.lit(0)).cast("bigint").alias("mau"),
            F.round(
                F.when(
                    F.coalesce("mau", F.lit(0)) > 0,
                    F.coalesce("dau", F.lit(0)).cast("double")
                    / F.col("mau").cast("double"),
                ),
                6,
            ).alias("stickiness"),
        )
    )
    return out


def new_vs_returning(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-day split of active users into NEW (first-ever-seen today)
    vs RETURNING — the acquisition-vs-retention decomposition of every
    growth dashboard. A user's first day is a per-user MIN (one
    combinable agg); the daily split is one distinct user-day count
    partitioned by the first-day comparison. Returns
    (d, active, new_users, returning, new_frac)."""
    from unifydb_spark.resources import tracked_persist

    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01"))
    ud = tracked_persist(
        events.select(F.col(user_col).alias("u"), day.alias("d")).distinct()
    )
    first = ud.groupBy("u").agg(F.min("d").alias("first_d"))
    j = ud.join(first, "u")
    agg = j.groupBy("d").agg(
        F.count(F.lit(1)).alias("active"),
        F.sum((F.col("d") == F.col("first_d")).cast("long")).alias(
            "new_users"
        ),
    )
    return agg.select(
        "d",
        F.col("active").cast("bigint").alias("active"),
        F.col("new_users").cast("bigint").alias("new_users"),
        (F.col("active") - F.col("new_users")).cast("bigint").alias(
            "returning"
        ),
        F.round(
            F.col("new_users").cast("double") / F.col("active").cast("double"),
            6,
        ).alias("new_frac"),
    )


def engagement_curve(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Engagement (power-user) curve: how many users were active on
    exactly k distinct days — the L30-style histogram whose right-hand
    mass IS the product's habit strength, and the corpus analog of
    "how many contributors write most of the data". Two combinable
    aggregations (user-day distinct -> per-user day count -> histogram)
    plus user-share ratios. Returns (active_days, users, user_share,
    cum_share) ordered by active_days."""
    from pyspark.sql import Window
    from unifydb_spark.resources import tracked_persist

    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01"))
    ud = (
        events.select(F.col(user_col).alias("u"), day.alias("d")).distinct()
    )
    per_user = ud.groupBy("u").agg(F.count(F.lit(1)).alias("k"))
    hist = tracked_persist(
        per_user.groupBy("k").agg(F.count(F.lit(1)).alias("users"))
    )
    tot = hist.agg(F.sum("users").alias("n"))
    w = (
        Window.orderBy("k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("int").alias("active_days"),
            F.col("users").cast("bigint").alias("users"),
            F.round(
                F.col("users").cast("double") / F.col("n").cast("double"), 6
            ).alias("user_share"),
            F.round(
                F.sum("users").over(w).cast("double")
                / F.col("n").cast("double"),
                6,
            ).alias("cum_share"),
        )
    )


def seasonal_anomaly(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    threshold: float = 3.0,
) -> DataFrame:
    """Seasonality-adjusted volume anomalies: each (type, day)'s count
    z-scored against the SAME WEEKDAY's other days — the Monday-vs-
    Sunday fix for r25's trailing-window monitor, which flags every
    weekend as an anomaly on weekly-cadenced traffic. Leave-one-out
    baseline (the day under test is excluded from its own mean/var) on
    the dense day spine. Rows with < 3 same-weekday peers or zero
    variance yield NULL z.

    Exactness: per-weekday sums and sums-of-squares are integers; the
    leave-one-out mean/variance is one mirrored double expression per
    row. Scale: one combinable day count; the weekday profile joins
    back on (type, weekday) — a 7 x types relation; everything after
    the collapse is calendar-sized."""
    from unifydb_spark.resources import tracked_persist

    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01"))
    daily = (
        events.select(F.col(type_col).alias("etype"), day.alias("d"))
        .groupBy("etype", "d")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    daily = tracked_persist(daily)
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    ).crossJoin(F.broadcast(daily.select("etype").distinct()))
    dense = tracked_persist(
        spine.join(daily, ["etype", "d"], "left").select(
            "etype",
            "d",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
            (F.col("d") % 7).cast("int").alias("wd"),
        )
    )
    prof = dense.groupBy("etype", "wd").agg(
        F.count(F.lit(1)).alias("nw"),
        F.sum("c").alias("sw"),
        F.sum(F.col("c") * F.col("c")).alias("ssw"),
    )
    j = dense.join(F.broadcast(prof), ["etype", "wd"])
    # leave-one-out: remove this day's own contribution
    n1 = (F.col("nw") - 1).cast("double")
    s1 = (F.col("sw") - F.col("c")).cast("double")
    ss1 = (F.col("ssw") - F.col("c") * F.col("c")).cast("double")
    mean = s1 / n1
    var = (ss1 - s1 * s1 / n1) / (n1 - F.lit(1.0))
    z = F.when(
        (F.col("nw") >= 4) & (var > 0),
        (F.col("c").cast("double") - mean) / F.sqrt(var),
    )
    return j.select(
        "etype",
        "d",
        F.col("wd"),
        F.col("c").cast("bigint").alias("c"),
        F.round(z, 6).alias("z"),
        F.coalesce(F.abs(z) > F.lit(float(threshold)), F.lit(False)).alias(
            "anomaly"
        ),
    )


def peak_concurrency(
    sessions: DataFrame,
    start_col: str,
    end_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Peak concurrency: the maximum number of simultaneously-open
    intervals — capacity planning's first question (max concurrent
    sessions/streams/connections), answered exactly by the sweep line:
    +1 at each start, -1 strictly at each end, running sum over the
    boundary relation, max. Ends sort before starts at the same
    microsecond (a session ending exactly when another starts does not
    overlap it — half-open [start, end) semantics). Returns one row
    (or one per group): (n_intervals, peak, peak_at) with peak_at the
    earliest boundary achieving the max.

    Scale: the boundary relation is 2x intervals — everything after is
    windows over it; grouped mode partitions the sweep by group. The
    global mode's single-partition window is the documented exception
    ONLY when boundaries are calendar-bounded; for raw 100 TB session
    logs run the grouped mode (e.g. per shard/tenant) or pre-bucket
    by coarse time range (q91 offset scheme applies)."""
    from pyspark.sql import Window
    from unifydb_spark.resources import tracked_persist

    s = F.col(start_col).cast("timestamp").cast("double")
    e = F.col(end_col).cast("timestamp").cast("double")
    gcols = [group_col] if group_col else []
    base = sessions.filter(s.isNotNull() & e.isNotNull())
    starts = base.select(
        *gcols, s.alias("t"), F.lit(1).alias("delta"), F.lit(1).alias("ord")
    )
    ends = base.select(
        *gcols, e.alias("t"), F.lit(-1).alias("delta"), F.lit(0).alias("ord")
    )
    bounds = tracked_persist(starts.union(ends))
    w = (
        Window.partitionBy(*gcols)
        .orderBy("t", "ord")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = bounds.select(
        *gcols, "t", F.sum("delta").over(w).alias("cur")
    )
    run = tracked_persist(run)
    peak = run.groupBy(*gcols).agg(F.max("cur").alias("peak"))
    at = (
        run.join(F.broadcast(peak), [*gcols] if gcols else None)
        if gcols
        else run.crossJoin(F.broadcast(peak))
    )
    n_int = base.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_intervals")
    )
    first_at = (
        at.filter(F.col("cur") == F.col("peak"))
        .groupBy(*gcols, "peak")
        .agg(F.min("t").alias("_at"))
    )
    out = (
        first_at.join(n_int, [*gcols]) if gcols else first_at.crossJoin(n_int)
    )
    return out.select(
        *gcols,
        F.col("n_intervals").cast("bigint").alias("n_intervals"),
        F.col("peak").cast("bigint").alias("peak"),
        F.round(F.col("_at"), 6).alias("peak_at"),
    )


def overdispersion_check(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    fano_threshold: float = 1.5,
) -> DataFrame:
    """Over-dispersion check on daily counts per type: the Fano factor
    (variance/mean) and coefficient of variation against the Poisson
    null (Fano == 1) — the upstream question every volume monitor
    calibrates on ("are arrivals bursty or Poisson-ish?"): z-score
    thresholds tuned on Poisson-looking traffic misfire badly on
    bursty traffic, and this one number says which regime each stream
    is in. Dense day spine (zero days count). Returns (etype, n_days,
    mean_c, fano, cv, overdispersed).

    Exactness: integer daily counts, integer sum/sum-of-squares; mean,
    sample variance, Fano and CV are one mirrored double expression
    per type; the threshold compare multiplies through so it stays off
    the float boundary only when variance is exactly threshold*mean —
    accepted (both engines compute the identical doubles). Scale: one
    combinable day count; everything after is types-sized."""
    from unifydb_spark.resources import tracked_persist

    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01"))
    daily = (
        events.select(F.col(type_col).alias("etype"), day.alias("d"))
        .groupBy("etype", "d")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    daily = tracked_persist(daily)
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    ).crossJoin(F.broadcast(daily.select("etype").distinct()))
    dense = spine.join(daily, ["etype", "d"], "left").select(
        "etype", "d", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )
    agg = dense.groupBy("etype").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    nd = F.col("n_days").cast("double")
    mean = F.col("s").cast("double") / nd
    var = (
        F.col("ss").cast("double") - F.col("s").cast("double") * mean
    ) / (nd - F.lit(1.0))
    fano = F.when(mean > 0, var / mean)
    return agg.select(
        "etype",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.round(mean, 6).alias("mean_c"),
        F.round(fano, 6).alias("fano"),
        F.round(F.when(mean > 0, F.sqrt(var) / mean), 6).alias("cv"),
        F.coalesce(fano > F.lit(float(fano_threshold)), F.lit(False)).alias(
            "overdispersed"
        ),
    )


def day_overlap(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Day-over-day active-user overlap: Jaccard and return-rate of
    each day's active user set against the PREVIOUS day — the
    behavioral-churn pulse between r66's cohort retention (too coarse
    for daily ops) and r74's DAU (no identity linkage at all).
    Returns (d, active, returned, jaccard, return_rate) for days with
    a predecessor, where returned = |users(d) ∩ users(d-1)|.

    Exactness: set sizes are integer counts off one distinct user-day
    collapse and one self-join on (user, d = d+1); Jaccard's union is
    |A| + |B| - |A∩B| — no distinct over a union needed. Scale: the
    join is hash(user)-keyed over the users x days relation."""
    from unifydb_spark.resources import tracked_persist

    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01"))
    ud = tracked_persist(
        events.select(F.col(user_col).alias("u"), day.alias("d")).distinct()
    )
    daily = ud.groupBy("d").agg(F.count(F.lit(1)).alias("active"))
    prev = ud.select("u", (F.col("d") + 1).alias("d"))
    inter = (
        ud.join(prev, ["u", "d"])
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("returned"))
    )
    pd_ = daily.select(
        (F.col("d") + 1).alias("d"), F.col("active").alias("prev_active")
    )
    j = (
        daily.join(pd_, "d")
        .join(inter, "d", "left")
        .select(
            "d",
            "active",
            F.coalesce("returned", F.lit(0)).alias("returned"),
            "prev_active",
        )
    )
    union = (
        F.col("active") + F.col("prev_active") - F.col("returned")
    ).cast("double")
    return j.select(
        "d",
        F.col("active").cast("bigint").alias("active"),
        F.col("returned").cast("bigint").alias("returned"),
        F.round(F.col("returned").cast("double") / union, 6).alias(
            "jaccard"
        ),
        F.round(
            F.col("returned").cast("double")
            / F.col("prev_active").cast("double"),
            6,
        ).alias("return_rate"),
    )


def transition_entropy(
    events: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Next-event predictability: the conditional entropy H(next |
    prev = t) of the first-order transition process (r36's matrix),
    per source state — the behavioral-analytics number that says
    which states are deterministic funnels (H ~ 0) and which are
    anywhere-next hubs (H ~ ln k). Returns per from_type:
    (from_type, n_out, n_next_types, entropy, perplexity, share) —
    perplexity = e^H is the effective branching factor; share is the
    state's fraction of all transitions (so the overall conditional
    entropy is sum(share * entropy), computable from this relation).

    Shape: one hash(key) shuffle for the lag window, a type²-bounded
    combinable count, then arithmetic on the tiny pair relation.
    Exactness: each -p*ln(p) term is a mirrored double cast
    DECIMAL(30,15) (the r17/q45 ln-parity contract); perplexity
    exponentiates the ALREADY-ROUNDED entropy; share is an integer
    ratio rounded once."""
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(seq_col).asc()
    )
    pairs = (
        events.select(
            F.col(type_col).alias("to_type"),
            F.lag(F.col(type_col)).over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = pairs.groupBy("from_type").agg(F.sum("c").alias("ct"))
    term = (
        -(F.col("c").cast("double") / F.col("ct").cast("double"))
        * F.log(F.col("c").cast("double") / F.col("ct").cast("double"))
    ).cast("decimal(30,15)")
    per_state = (
        pairs.join(F.broadcast(tot), "from_type")
        .groupBy("from_type")
        .agg(
            F.max("ct").cast("bigint").alias("n_out"),
            F.count(F.lit(1)).cast("bigint").alias("n_next_types"),
            F.round(
                F.sum(term).cast("string").cast("double"), 6
            ).alias("entropy"),
        )
    )
    grand = tot.agg(F.sum("ct").alias("gt"))
    return (
        per_state.crossJoin(F.broadcast(grand))
        .select(
            "from_type",
            "n_out",
            "n_next_types",
            "entropy",
            F.round(F.exp(F.col("entropy")), 4).alias("perplexity"),
            F.round(
                F.col("n_out").cast("double") / F.col("gt").cast("double"),
                6,
            ).alias("share"),
        )
    )


def exp_smoothing(
    events: DataFrame,
    alpha: float = 0.3,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Simple exponential smoothing over the per-type daily value
    series (classical forecasting, public method): s_t = a*x_t +
    (1-a)*s_{t-1} with s_0 = x_0 — the baseline every anomaly/forecast
    comparison starts from. The recursion is data-dependent, so it is
    computed by its CLOSED FORM instead: s_t = sum_i w(t,i)*x_i with
    w(t,0) = (1-a)^t and w(t,i>=1) = a*(1-a)^(t-i) — each weight is
    exp(k * ln(1-a)) (the exp/ln parity contract, NO pow), each term a
    mirrored double cast DECIMAL(30,15), so the sum is
    order-independent and engine-identical with no unrolling. Returns
    (event_type, day, x, level) where level is the smoothed value.

    Shape: one combinable daily collapse, then a per-type (i <= t)
    day-pair self-join — calendar²-bounded (the r25/r57 day-spine
    contract), never touching raw rows twice."""
    from pyspark.sql import Window

    a = float(alpha)
    ln1a = F.lit(1.0) - F.lit(a)
    daily = (
        events.groupBy(
            F.col(type_col).alias("t"),
            F.to_date(F.col(ts_col)).alias("day"),
        )
        .agg(
            F.sum(F.col(value_col).cast("double").cast("decimal(30,15)"))
            .cast("string").cast("double").alias("x")
        )
    )
    wseq = Window.partitionBy("t").orderBy("day")
    idx = daily.select(
        "t", "day", "x",
        (F.row_number().over(wseq) - 1).alias("i"),
    )
    l = idx.select(
        F.col("t").alias("lt"), F.col("i").alias("li"), F.col("x").alias("lx")
    )
    r = idx.select("t", "day", F.col("i").alias("ti"))
    k = (F.col("ti") - F.col("li")).cast("double")
    w = F.when(
        F.col("li") == 0, F.exp(k * F.log(ln1a))
    ).otherwise(F.lit(a) * F.exp(k * F.log(ln1a)))
    pairs = (
        r.join(l, (F.col("lt") == F.col("t")) & (F.col("li") <= F.col("ti")))
        .select(
            "t", "day", "ti",
            (F.col("lx") * w).cast("decimal(30,15)").alias("term"),
        )
    )
    out = pairs.groupBy("t", "day").agg(
        F.round(
            F.sum("term").cast("string").cast("double"), 6
        ).alias("level")
    )
    return (
        out.join(idx.select("t", "day", "x"), ["t", "day"])
        .select(
            F.col("t").alias(type_col),
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("x", 6).alias("x"),
            "level",
        )
    )


def bounce_report(
    events: DataFrame,
    gap_minutes: int = 30,
) -> DataFrame:
    """Daily session-quality report (classic web analytics, public
    definitions): per session-start day, session count, bounce rate
    (single-event sessions — the "arrived and left" signal), mean
    events per session, and the exact median session duration in
    seconds — the dashboard row product reviews read first. Returns
    (day, n_sessions, n_bounces, bounce_rate, mean_events,
    median_duration_s).

    Composes q34's gap sessionizer (one user shuffle), then ONE
    combinable day collapse; the exact median rides the
    percentile/quantile_cont parity contract over the day's session
    relation (a per-day percentile aggregate — day-bounded, not
    raw-row-bounded). Durations are integer microsecond differences
    cast once."""
    s = sessionize(events, gap_minutes=gap_minutes)
    dur_s = (
        (F.unix_micros("session_end") - F.unix_micros("session_start"))
        .cast("double")
        / F.lit(1_000_000.0)
    )
    day = F.date_format(F.to_date("session_start"), "yyyy-MM-dd")
    per = s.select(
        day.alias("day"),
        F.col("n_events"),
        dur_s.alias("dur_s"),
    )
    return per.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("long")).cast("bigint")
        .alias("n_bounces"),
        F.round(
            F.sum((F.col("n_events") == 1).cast("long")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("bounce_rate"),
        F.round(
            F.sum("n_events").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_events"),
        F.round(F.percentile(F.col("dur_s"), F.lit(0.5)), 4).alias(
            "median_duration_s"
        ),
    )
