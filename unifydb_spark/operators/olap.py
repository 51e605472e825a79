"""Multi-level OLAP aggregation operators: grouping sets (rollup/cube),
single-shuffle windowed time-series analytics, and per-group top-k.

The reference's implicit group-by (SURVEY §2 R0; /root/reference/src/
unifydb/query.clj find-spec handling) computes ONE grouping level per
query — a dashboard needing region, region×status, and grand totals runs
three scans. Grouping sets compute every level in one pass: Spark
expands `ROLLUP(a, b)` into an Expand node (one input row fans out to
d+1 grouping-set rows BEFORE the exchange) followed by a single
partial-aggregated hash aggregation, so the data is read and shuffled
once no matter how many levels are requested. At 100 TB the fan-out
factor (d+1 for rollup, 2^d for cube) multiplies shuffle volume, but
partial (map-side) aggregation collapses it back to
O(cardinality of each grouping set) before the wire — which is why the
dims here must be low-cardinality dimensions, never raw keys; the
operator docstring is the contract.

`windowed_share` is the canonical "daily value, running total, delta,
share-of-total per user" query. Written naively it costs three
shuffles: hash(user, day) for the daily aggregate, hash(user) for the
running window, hash(user) for the per-user total. We repartition ONCE
on user_id up front: HashPartitioning(user) satisfies the clustered
distribution required by BOTH the (user, day) aggregation and every
user-partitioned window, so Catalyst inserts no further exchange — one
shuffle total, verified by plan-shape test (tests/test_olap.py).
Running sums accumulate in DECIMAL(30,10) (exact, order-independent)
and surface as rounded DOUBLE, the driver-hash contract every events
operator in this repo follows.

`topk_per_group` keeps the k best rows per group without a global sort:
rank within a group-partitioned window, so each task sorts only its own
groups. This is the distributed replacement for the reference's
sort+limit (query.clj find-spec :limit) whenever the limit is per-key
rather than global.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEC = "decimal(30,10)"


def grouping_set_metrics(
    df: DataFrame,
    dims: Sequence[str],
    measure: str,
    mode: str = "rollup",
    all_label: str = "(all)",
) -> DataFrame:
    """All rollup (or cube) levels of `dims` in one scan + one shuffle.

    Returns one row per grouping-set cell: the dims (rolled-up positions
    replaced by `all_label` — distinguished from genuine NULL data via
    GROUPING(), not COALESCE), the grouping-set id `gid` (Spark and
    DuckDB share the bit convention: leftmost dim = most significant
    bit), `cnt`, and the measure summed exactly in DECIMAL(30,10) then
    rounded to DOUBLE, plus the same-shaped mean.

    dims must be low-cardinality dimension columns: cube fans each input
    row out 2^d ways before the (map-side combined) aggregation.
    """
    grouped = df.cube(*dims) if mode == "cube" else df.rollup(*dims)
    sum_dec = F.sum(F.col(measure).cast(DEC))
    cnt = F.count(F.lit(1))
    # grouping() must be evaluated IN the agg (it reads the expanded
    # grouping-set id); the agg output already carries the raw dim
    # columns, so the '(all)' relabeling happens in a post-select.
    agged = grouped.agg(
        *[F.grouping(d).cast("int").alias(f"_g_{d}") for d in dims],
        F.grouping_id().cast("bigint").alias("gid"),
        cnt.alias("cnt"),
        F.round(sum_dec.cast("double"), 4).alias(f"sum_{measure}"),
        F.round(sum_dec.cast("double") / cnt, 4).alias(f"avg_{measure}"),
    )
    return agged.select(
        *[
            F.when(F.col(f"_g_{d}") == 1, F.lit(all_label))
            .otherwise(F.col(d).cast("string"))
            .alias(d)
            for d in dims
        ],
        "gid",
        "cnt",
        f"sum_{measure}",
        f"avg_{measure}",
    )


def windowed_share(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per (user, day): exact daily sum, running cumulative sum,
    day-over-day delta, and the day's share of the user's total — with
    ONE shuffle.

    The up-front repartition on `user_col` satisfies the distribution
    requirement of the (user, day) aggregation AND of all three
    user-partitioned windows, so the plan contains a single Exchange
    (asserted in tests/test_olap.py). All running arithmetic happens in
    DECIMAL(30,10) — exact and order-independent, so the cumulative sum
    is identical under any task scheduling; floats appear only at the
    rounded output boundary.
    """
    n = events.sparkSession.sparkContext.defaultParallelism
    # day as 'yyyy-MM-dd' STRING, not DateType: Spark collects DateType
    # as datetime.date ('2026-01-01') but DuckDB hands DATE to pandas as
    # datetime64 ('2026-01-01 00:00:00') — the stringified frames would
    # never hash-match. A fixed-format string is identical on any engine.
    day = F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day")
    daily = (
        events.repartition(n, F.col(user_col))
        .groupBy(F.col(user_col), day)
        .agg(F.sum(F.col(value_col).cast(DEC)).alias("_daily"))
    )
    w_run = (
        Window.partitionBy(user_col)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lag = Window.partitionBy(user_col).orderBy("day")
    w_all = Window.partitionBy(user_col)
    dbl = lambda c: F.round(c.cast("double"), 4)  # noqa: E731
    return daily.select(
        F.col(user_col),
        "day",
        dbl(F.col("_daily")).alias("daily_value"),
        dbl(F.sum("_daily").over(w_run)).alias("running_value"),
        dbl(
            F.col("_daily")
            - F.coalesce(F.lag("_daily").over(w_lag), F.lit(0).cast(DEC))
        ).alias("day_delta"),
        F.round(
            F.col("_daily").cast("double")
            / F.sum("_daily").over(w_all).cast("double"),
            6,
        ).alias("share_of_user"),
    )


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    tiebreak_col: str,
    k: int,
    descending: bool = True,
) -> DataFrame:
    """The k best rows per group. Window ranks within
    hash(group)-partitioned tasks — each task sorts only its own groups,
    so there is no global sort and the output is the SAME rows a global
    `ORDER BY ... LIMIT k` per group would pick. `tiebreak_col` must
    make (order_col, tiebreak) unique within a group — ROW_NUMBER's own
    determinism requirement."""
    oc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = Window.partitionBy(*group_cols).orderBy(oc, F.col(tiebreak_col).asc())
    return (
        df.withColumn("rank_in_group", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank_in_group") <= k)
    )


def aggregate_state(
    df: DataFrame, key_cols: Sequence[str], measure: str
) -> DataFrame:
    """Mergeable aggregate state per key: (keys, cnt, sum as
    DECIMAL(30,10)). This is the STORED form an incrementally-maintained
    rollup keeps — decimal sums are exact and order-independent, so
    merging states in any order reproduces the full recompute bit for
    bit (float sums would drift and the incremental path would diverge
    from the batch path)."""
    return df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col(measure).cast(DEC)).alias("sum_state"),
    )


def merge_aggregate_state(
    base_state: DataFrame,
    delta: DataFrame,
    key_cols: Sequence[str],
    measure: str,
) -> DataFrame:
    """Incremental view maintenance: fold a delta batch into a stored
    aggregate state WITHOUT rescanning the base data. delta is
    aggregated to its own state (map-side combined, shuffle sized by
    the delta's key set), then full-outer merged with the base state —
    additive measures (count, decimal sum) combine exactly, so the
    result is IDENTICAL to re-aggregating base ∪ delta from scratch
    (that full recompute is the oracle).

    At 100 TB this is the difference between touching yesterday's
    appends and touching the corpus: the base state is key-sized, and
    when it is stored bucketed by the keys (sources/tables bucketed
    write, the q77 LSH-index pattern) the merge join plans with no
    exchange on the base side. Deletions arrive as negative-count
    deltas — the same merge handles retraction streams (store.py's
    added=false tombstones) by weighting cnt with -1."""
    d = aggregate_state(delta, key_cols, measure).withColumnRenamed(
        "cnt", "_dc"
    ).withColumnRenamed("sum_state", "_ds")
    b = base_state.withColumnRenamed("cnt", "_bc").withColumnRenamed(
        "sum_state", "_bs"
    )
    zero = F.lit(0).cast("bigint")
    zdec = F.lit(0).cast(DEC)
    return (
        b.join(d, list(key_cols), "full_outer")
        .select(
            *key_cols,
            (F.coalesce("_bc", zero) + F.coalesce("_dc", zero)).alias("cnt"),
            (F.coalesce("_bs", zdec) + F.coalesce("_ds", zdec)).alias(
                "sum_state"
            ),
        )
    )


def finalize_aggregate_state(
    state: DataFrame, measure: str
) -> DataFrame:
    """Serve a stored state: rounded-DOUBLE sum and mean at the query
    boundary (the driver-hash contract), keys untouched."""
    return state.select(
        *[c for c in state.columns if c not in ("cnt", "sum_state")],
        "cnt",
        F.round(F.col("sum_state").cast("double"), 4).alias(
            f"sum_{measure}"
        ),
        F.round(
            F.col("sum_state").cast("double") / F.col("cnt"), 4
        ).alias(f"avg_{measure}"),
    )


def pivot_metrics(
    df: DataFrame,
    row_col: str,
    pivot_col: str,
    pivot_values: Sequence[str],
    measure: str,
) -> DataFrame:
    """Wide-format pivot: one output row per `row_col`, one measure
    column per EXPLICIT pivot value (decimal-exact sum, rounded DOUBLE,
    0.0 for empty cells — the spreadsheet-shaped report surface).

    `pivot_values` is required, not inferred: Spark's value-less
    `pivot()` first runs a DISTINCT job over the pivot column — a full
    extra scan at 100 TB, and a nondeterministic column order. With
    explicit values the pivot compiles to ONE pass of conditional
    aggregates (`sum(CASE WHEN pivot = v THEN x END)` per value) — one
    scan, one map-side-combined shuffle, fixed schema. The same
    conditional-aggregate form IS the oracle SQL, so the reshape is
    engine-exact. Pivot values must be a small fixed dimension: each
    value adds an aggregate buffer column."""
    sums = [
        F.round(
            F.sum(
                F.when(
                    F.col(pivot_col) == v, F.col(measure).cast(DEC)
                ).otherwise(F.lit(None))
            ).cast("double"),
            4,
        ).alias(f"{v}_{measure}")
        for v in pivot_values
    ]
    cnt = F.count(F.lit(1)).alias("cnt")
    out = df.groupBy(row_col).agg(cnt, *sums)
    return out.select(
        row_col,
        "cnt",
        *[
            F.coalesce(F.col(f"{v}_{measure}"), F.lit(0.0)).alias(
                f"{v}_{measure}"
            )
            for v in pivot_values
        ],
    )


def topk_with_others(
    df: DataFrame,
    group_col: str,
    category_col: str,
    value_col: str,
    k: int = 5,
) -> DataFrame:
    """The dashboard staple done in one pass: per group, the top-k
    categories by exact value sum plus ONE aggregated `(other)` row
    covering everything else — so the report is complete (rows sum to
    the group total) without a second scan for the tail. Returns
    (group_col, category, rank, n, sum_value); `(other)` carries
    rank k+1, NULL-safe even when a group has <= k categories (no
    `(other)` row then).

    Shape: one combinable (group, category) aggregation collapses the
    raw rows to category cardinality; the rank window and the
    re-aggregation of the tail run on that collapsed relation —
    category-sized, never row-sized. Deterministic: ties break by
    category name; sums in DECIMAL via the varchar hop."""
    from pyspark.sql import Window

    base = df.groupBy(
        F.col(group_col), F.col(category_col).alias("category")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_col).cast("decimal(30,10)")).alias("s"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("s").desc(), F.col("category").asc()
    )
    ranked = base.withColumn("rnk", F.row_number().over(w))
    labeled = ranked.select(
        F.col(group_col),
        F.when(F.col("rnk") <= k, F.col("category"))
        .otherwise(F.lit("(other)"))
        .alias("category"),
        F.when(F.col("rnk") <= k, F.col("rnk"))
        .otherwise(F.lit(k + 1))
        .alias("rank"),
        "n",
        "s",
    )
    return (
        labeled.groupBy(group_col, "category", "rank")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.round(
                F.sum("s").cast("string").cast("double"), 4
            ).alias("sum_value"),
        )
        .select(group_col, "category", F.col("rank").cast("bigint").alias("rank"), "n", "sum_value")
    )


def json_props_metrics(
    events: DataFrame,
    group_col: str = "event_type",
    props_col: str = "props",
    field: str = "k",
) -> DataFrame:
    """Semi-structured column handling the Spark-first way: parse a
    JSON string column ONCE with an EXPLICIT schema (from_json — JVM
    Jackson, codegen-adjacent, no Python) and aggregate the typed
    field; malformed or field-missing rows are counted, not dropped
    (the ingest-quarantine philosophy applied to a column). Returns
    (group_col, n, n_bad, sum_field, avg_field).

    Explicit schema, never schema_of_json inference: inference is an
    extra scan and drifts between loads — same argument as
    sources/ingest.py. One combinable aggregation; DECIMAL sums."""
    parsed = F.from_json(F.col(props_col), f"{field} BIGINT")
    v = parsed.getField(field)
    return (
        events.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(v.isNull().cast("long")).cast("bigint").alias("n_bad"),
            F.sum(v).cast("bigint").alias("sum_field"),
            F.round(
                F.sum(v).cast("double") / F.count(v), 6
            ).alias("avg_field"),
        )
    )


def rank_features(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    n_tiles: int = 10,
) -> DataFrame:
    """Per-row rank-based feature transforms within a group: decile
    (ntile), percent_rank, and cume_dist over the value ordering — the
    distribution-free normalizations a feature pipeline applies when
    winsorize/z-score's parametric assumptions don't hold. Ties broken
    by id for engine-identical ntile boundaries (ntile splits PEERS
    across tiles by position, so an undefined tie order would be
    nondeterministic — the other two are tie-safe by definition but get
    the same total order for consistency... note cume_dist/percent_rank
    are computed on the VALUE ordering alone, per SQL semantics).
    Returns (group_col, id_col, value, tile, pct_rank, cume).

    One hash(group) shuffle; all three functions share one sort."""
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    w_id = Window.partitionBy(group_col).orderBy(v.asc(), F.col(id_col).asc())
    w_v = Window.partitionBy(group_col).orderBy(v.asc())
    return df.select(
        F.col(group_col),
        F.col(id_col),
        F.round(v, 6).alias("value"),
        F.ntile(int(n_tiles)).over(w_id).cast("bigint").alias("tile"),
        F.round(F.percent_rank().over(w_v), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w_v), 6).alias("cume"),
    )


def melt_profile(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
) -> DataFrame:
    """Wide-to-long reshape (melt/unpivot) + per-metric profile: the
    warehouse reshaping primitive every feature pipeline needs when a
    row of N metric columns must become N rows of (metric, value) — a
    schema change, so the reference's EAV fact model (SURVEY §2 T-rows;
    attributes ARE rows) gets it for free while columnar tables need
    the explicit operator. Profiles each metric in the same pass:
    (metric, n, n_null, min_val, max_val, avg_val, stddev_val).

    Unpivot is an Expand node — each input row fans out to
    len(value_cols) rows BEFORE the exchange, and partial aggregation
    collapses them map-side, so the shuffle carries len(value_cols)
    partial states per task, not data. Exactness: sums and
    sums-of-squares accumulate as DECIMAL (order-independent); the
    variance combine and sqrt are one mirrored double expression."""
    long = df.unpivot(
        [F.col(c) for c in id_cols],
        [F.col(c) for c in value_cols],
        "metric",
        "value",
    )
    v = F.col("value").cast("double")
    vd = v.cast("decimal(38,12)")
    v2 = (v * v).cast("decimal(38,12)")
    agg = long.groupBy("metric").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.isnull(v).cast("long")).cast("bigint").alias("n_null"),
        F.round(F.min(v), 6).alias("min_val"),
        F.round(F.max(v), 6).alias("max_val"),
        F.sum(vd).cast("string").cast("double").alias("_s"),
        F.sum(v2).cast("string").cast("double").alias("_ss"),
        F.count(v).alias("_nv"),
    )
    nv = F.col("_nv").cast("double")
    mean = F.col("_s") / nv
    var = (F.col("_ss") - F.col("_s") * mean) / (nv - F.lit(1.0))
    return agg.select(
        "metric",
        "n",
        "n_null",
        "min_val",
        "max_val",
        F.round(mean, 6).alias("avg_val"),
        F.round(
            F.when(F.col("_nv") > 1, F.sqrt(F.greatest(var, F.lit(0.0)))),
            6,
        ).alias("stddev_val"),
    )


def hist2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_x: int = 12,
    n_y: int = 10,
) -> DataFrame:
    """Two-dimensional density histogram: equi-width bins over the
    global [min, max] of both axes, with each cell's count and share —
    the joint-distribution profile behind correlation eyeballing and
    2-D drift monitors (a 1-D histogram per axis can look identical
    while the joint structure moves). Returns occupied cells only:
    (bx, by, x_lo, y_lo, n, share).

    Exactness: bin ids are one mirrored floor((v-lo)/width) double op
    off integer-exact bounds; counts are integers; share = n/total is
    one final division. Scale: pass 1 is a 4-scalar bounds aggregate,
    pass 2 one combinable (bx, by) count — bounded by n_x*n_y cells on
    the wire after map-side combine."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.filter(x.isNotNull() & y.isNotNull()).select(
        x.alias("x"), y.alias("y")
    )
    bounds = base.agg(
        F.min("x").alias("xlo"),
        F.max("x").alias("xhi"),
        F.min("y").alias("ylo"),
        F.max("y").alias("yhi"),
    )
    bx_n = F.lit(int(n_x))
    by_n = F.lit(int(n_y))
    j = base.crossJoin(F.broadcast(bounds))
    wx = (F.col("xhi") - F.col("xlo")) / bx_n.cast("double")
    wy = (F.col("yhi") - F.col("ylo")) / by_n.cast("double")
    # Degenerate axis (max == min): width 0 → NaN bin, least() skips the
    # null and buckets at n-1 while DuckDB diverges — force bin 0 on
    # both engines (ADVICE r7, same fix as psi_report).
    bx = F.when(F.col("xhi") == F.col("xlo"), F.lit(0)).otherwise(
        F.least(bx_n - 1, F.floor((F.col("x") - F.col("xlo")) / wx).cast("int"))
    )
    by = F.when(F.col("yhi") == F.col("ylo"), F.lit(0)).otherwise(
        F.least(by_n - 1, F.floor((F.col("y") - F.col("ylo")) / wy).cast("int"))
    )
    cells = j.groupBy(
        bx.alias("bx"),
        by.alias("by"),
        F.col("xlo"),
        F.col("ylo"),
        wx.alias("_wx"),
        wy.alias("_wy"),
    ).agg(F.count(F.lit(1)).alias("n"))
    from unifydb_spark.resources import tracked_persist

    cells = tracked_persist(cells)
    tot = cells.agg(F.sum("n").alias("total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "bx",
        "by",
        F.round(F.col("xlo") + F.col("bx") * F.col("_wx"), 6).alias("x_lo"),
        F.round(F.col("ylo") + F.col("by") * F.col("_wy"), 6).alias("y_lo"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n").cast("double") / F.col("total").cast("double"), 6)
        .alias("share"),
    )


def growth_accounting(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """Monthly growth accounting: revenue decomposed into the three
    levers every operating review reads — active customers x orders
    per customer x average order value — with month-over-month growth
    on each. Returns (month, revenue, customers, orders, aov,
    orders_per_cust, revenue_mom) ordered by month.

    Exactness: revenue accumulates as DECIMAL (order-independent);
    counts are integers; the ratios and MoM growth are single mirrored
    divisions; month keys are 'yyyy-MM' strings (engine-identical
    rendering, the round-5 date-output rule). Scale: one combinable
    (month, customer) pass collapses to customer-month, a second to
    months; the lag window runs on the month relation (calendar-
    sized)."""
    month = F.date_format(F.col(date_col), "yyyy-MM")
    cm = (
        orders.groupBy(
            month.alias("month"), F.col(cust_col).alias("c")
        )
        .agg(
            F.count(F.lit(1)).alias("n_ord"),
            F.sum(F.col(amount_col).cast("decimal(38,12)")).alias("rev"),
        )
    )
    m = cm.groupBy("month").agg(
        F.count(F.lit(1)).alias("customers"),
        F.sum("n_ord").alias("orders"),
        F.sum("rev").cast("string").cast("double").alias("revenue"),
    )
    w = Window.orderBy("month")
    prev_rev = F.lag("revenue").over(w)
    return m.select(
        "month",
        F.round(F.col("revenue"), 4).alias("revenue"),
        F.col("customers").cast("bigint").alias("customers"),
        F.col("orders").cast("bigint").alias("orders"),
        F.round(
            F.col("revenue") / F.col("orders").cast("double"), 6
        ).alias("aov"),
        F.round(
            F.col("orders").cast("double") / F.col("customers").cast("double"),
            6,
        ).alias("orders_per_cust"),
        F.round(
            F.when(
                prev_rev > 0,
                (F.col("revenue") - prev_rev) / prev_rev,
            ),
            6,
        ).alias("revenue_mom"),
    )


def rfm_segments(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_tiles: int = 5,
) -> DataFrame:
    """RFM segmentation: customers scored 1..n_tiles on Recency (days
    since last order, lower is better), Frequency (order count) and
    Monetary (total spend), via exact quantile THRESHOLDS rather than
    a rank window — the threshold compare is combinable and avoids
    sorting the customer relation (the q91-vs-ntile tradeoff decided
    the other way: segment EDGES matter here, not stable per-row
    ranks). Scores: 1 + number of quintile edges strictly below the
    customer's value (recency inverted). Returns per-segment rollup
    (r_score, f_score, m_score, customers, total_monetary).

    Exactness: per-customer aggregates are integer/DECIMAL; the
    quantile edges are interpolated doubles computed identically on
    both engines (the module-docstring percentile parity) and the
    strict < compare is mirrored; the final rollup is combinable."""
    ref = orders.agg(
        F.max(F.to_date(F.col(date_col))).alias("_ref")
    )
    per_cust = (
        orders.crossJoin(F.broadcast(ref))
        .groupBy(F.col(cust_col).alias("c"))
        .agg(
            F.min(
                F.datediff(F.col("_ref"), F.to_date(F.col(date_col)))
            ).cast("double").alias("rec"),
            F.count(F.lit(1)).cast("double").alias("freq"),
            # mon_dec stays DECIMAL end-to-end for the rollup (a
            # double->decimal recast rounds differently per engine at
            # the 12th digit and can flip a ROUND boundary); mon is the
            # double view the quantile edges need
            F.sum(F.col(amount_col).cast("decimal(38,12)")).alias("mon_dec"),
        )
    ).withColumn("mon", F.col("mon_dec").cast("string").cast("double"))
    from unifydb_spark.resources import tracked_persist

    per_cust = tracked_persist(per_cust)
    t = int(n_tiles)
    qs = [i / t for i in range(1, t)]
    edges = per_cust.agg(
        *[
            F.percentile(F.col(c), F.lit(q)).alias(f"_{c}{i}")
            for c in ("rec", "freq", "mon")
            for i, q in enumerate(qs)
        ]
    )
    j = per_cust.crossJoin(F.broadcast(edges))

    def score(c: str, invert: bool):
        acc = F.lit(1)
        for i in range(len(qs)):
            acc = acc + (F.col(c) > F.col(f"_{c}{i}")).cast("int")
        return (F.lit(t + 1) - acc) if invert else acc

    seg = j.select(
        score("rec", True).alias("r_score"),
        score("freq", False).alias("f_score"),
        score("mon", False).alias("m_score"),
        "mon_dec",
    )
    # total, not average: the source prices carry two decimals, so the
    # DECIMAL total rounds exactly on both engines, while an average is
    # a repeating decimal whose ROUND boundary the engines disagree on
    # (Spark rounds the double's exact binary expansion; DuckDB rounds
    # after a 10^k multiply)
    return seg.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("customers"),
        F.round(
            F.sum("mon_dec").cast("string").cast("double"), 2
        ).alias("total_monetary"),
    )


def cohort_ltv(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    max_age: int = 12,
) -> DataFrame:
    """Cohort LTV triangle: customers grouped by first-purchase month,
    revenue accumulated by months-since-acquisition — the
    lifetime-value view that q66's retention counts can't give
    (retained users who spend nothing look identical to whales there).
    Returns (cohort, age, cohort_size, revenue, cum_ltv_per_customer)
    for age 0..max_age.

    Exactness: month arithmetic is integer (year*12 + month); revenue
    accumulates as DECIMAL and the cumulative window sums the ALREADY
    DECIMAL-exact per-cell revenue, so the running LTV is
    order-independent; one division per row at the surface. Scale: a
    per-customer MIN (combinable), one (cohort, age) collapse, windows
    over the cohorts x ages triangle."""
    mi = (F.year(F.col(date_col)) * 12 + F.month(F.col(date_col))).cast(
        "long"
    )
    base = orders.select(
        F.col(cust_col).alias("c"),
        mi.alias("m"),
        F.col(amount_col).cast("decimal(38,12)").alias("amt"),
    )
    from unifydb_spark.resources import tracked_persist

    base = tracked_persist(base)
    first = base.groupBy("c").agg(F.min("m").alias("m0"))
    sizes = first.groupBy("m0").agg(F.count(F.lit(1)).alias("cohort_size"))
    j = base.join(first, "c").withColumn("age", (F.col("m") - F.col("m0")).cast("int"))
    cells = (
        j.filter(F.col("age") <= int(max_age))
        .groupBy("m0", "age")
        .agg(F.sum("amt").alias("rev"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("m0")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = cells.join(F.broadcast(sizes), "m0").select(
        F.format_string(
            "%04d-%02d",
            F.expr("(m0 - 1) DIV 12").cast("int"),
            (((F.col("m0") - 1) % 12) + 1).cast("int"),
        ).alias("cohort"),
        F.col("age"),
        F.col("cohort_size").cast("bigint").alias("cohort_size"),
        F.round(F.col("rev").cast("string").cast("double"), 4).alias(
            "revenue"
        ),
        F.round(
            F.sum("rev").over(w).cast("string").cast("double")
            / F.col("cohort_size").cast("double"),
            6,
        ).alias("cum_ltv_per_customer"),
    )
    return out


def join_fanout_report(
    left: "DataFrame",
    right: "DataFrame",
    left_key: str,
    right_key: str,
) -> "DataFrame":
    """Exact join-cardinality advisory (the check a pipeline runs
    BEFORE an equi-join it cannot afford to get wrong — the exact
    complement of the r33 count-min estimate): per-key count
    histograms on both sides give the exact output size sum_k
    cL(k)*cR(k), the worst single-key fanout, and the amplification
    ratio vs the larger input. Returns ONE row: (n_left, n_right,
    n_keys_both, rows_out, max_key_out, amplification).

    Shape: one combinable groupBy per side (key-cardinality-sized),
    an equi-join of the two count relations, integer arithmetic
    everywhere; amplification is the only division, rounded once.
    Never executes the candidate join itself."""
    cl = left.groupBy(F.col(left_key).alias("k")).agg(
        F.count(F.lit(1)).alias("cl")
    )
    cr = right.groupBy(F.col(right_key).alias("k")).agg(
        F.count(F.lit(1)).alias("cr")
    )
    j = cl.join(cr, "k")
    tot_l = left.count()
    tot_r = right.count()
    base = float(max(tot_l, tot_r, 1))
    return j.agg(
        F.lit(int(tot_l)).cast("bigint").alias("n_left"),
        F.lit(int(tot_r)).cast("bigint").alias("n_right"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys_both"),
        F.sum(F.col("cl") * F.col("cr")).cast("bigint").alias("rows_out"),
        F.max(F.col("cl") * F.col("cr")).cast("bigint").alias("max_key_out"),
        F.round(
            F.sum(F.col("cl") * F.col("cr")).cast("double") / F.lit(base),
            4,
        ).alias("amplification"),
    )


def skyline_2d(
    df: "DataFrame",
    x_col: str,
    y_col: str,
    id_col: str,
) -> DataFrame:
    """2-D skyline (Pareto front, maximize both axes — Börzsönyi et
    al. 2001's SKYLINE OF operator, which Spark lacks): rows not
    strictly dominated by any other row. The multi-objective
    selection primitive (best customers by spend AND frequency; best
    documents by quality AND length) a curation pipeline otherwise
    fakes with arbitrary weighted sums.

    Scalable single-pass design (the q91 range-partition prefix
    trick — NO single-partition sort): range-partition by (x desc,
    y desc, id), compute each partition's running y-max in order,
    collect only the P partition maxima (a bounded driver artifact),
    turn them into a prefix-max literal map, and keep a row iff its y
    exceeds both the prefix max of earlier partitions and the running
    max of earlier rows in its own partition. Deterministic: equal
    (x, y) duplicates keep the lowest id. Returns the input columns
    of the skyline rows.

    The persisted range frame is required for correctness: the count
    and filter jobs must see the SAME sampled range boundaries."""
    from unifydb_spark.resources import tracked_persist

    n = df.sparkSession.sparkContext.defaultParallelism
    order = [F.col(x_col).desc(), F.col(y_col).desc(), F.col(id_col).asc()]
    ranged = tracked_persist(
        df.repartitionByRange(n, *order).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    pmax = {
        r["_pid"]: r["m"]
        for r in ranged.groupBy("_pid")
        .agg(F.max(F.col(y_col).cast("double")).alias("m"))
        .collect()
    }
    prefix, acc = {}, float("-inf")
    for pid in sorted(pmax):
        prefix[pid] = acc
        acc = max(acc, pmax[pid])
    pmap = F.create_map(
        *[F.lit(v) for pid in prefix for v in (pid, prefix[pid])]
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runprev = F.max(F.col(y_col).cast("double")).over(w)
    best_before = F.greatest(
        F.element_at(pmap, F.col("_pid")),
        F.coalesce(runprev, F.lit(float("-inf"))),
    )
    return (
        ranged.withColumn("_keep", F.col(y_col).cast("double") > best_before)
        .filter("_keep")
        .drop("_pid", "_keep")
    )


def group_skyline_2d(
    df: "DataFrame",
    group_col: str,
    x_col: str,
    y_col: str,
    id_col: str,
) -> DataFrame:
    """Per-group 2-D skyline: r126's Pareto dominance scoped within
    each group (the per-language best-documents / per-segment
    best-customers form). Unlike the global skyline, grouping makes
    the scalable shape FREE: the running y-max window partitions by
    the group, so Spark distributes groups across tasks with no
    range-partition bookkeeping — the grouped-mode counterpart the
    global r126 trick exists to avoid needing. Same dominance rule:
    keep a row iff its y exceeds the running max over strictly
    preceding rows in (x desc, y desc, id) order; equal points keep
    the lowest id."""
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(x_col).desc(), F.col(y_col).desc(),
                 F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prevmax = F.max(F.col(y_col).cast("double")).over(w)
    return (
        df.withColumn("_pm", prevmax)
        .filter(
            F.col("_pm").isNull()
            | (F.col(y_col).cast("double") > F.col("_pm"))
        )
        .drop("_pm")
    )
