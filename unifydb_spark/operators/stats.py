"""Distribution-statistics operators: grouped exact/approximate quantiles.

Exact quantiles (`group_quantiles`) use Spark's `percentile` aggregate —
it buffers the group's values, so it is the CORRECTNESS formulation: right
for per-group cardinalities up to ~10^7 (per-source document lengths,
per-label score distributions). At 100 TB with billions of values per
group, switch to `group_quantiles_approx` (KLL-sketch `percentile_approx`,
bounded memory, mergeable partials) — same shape, rank error <= 1/accuracy;
its output is not bit-reproducible across partitionings, so the exact
variant remains the oracle-checked one.

Interpolation parity: Spark `percentile` and DuckDB `quantile_cont` both
compute the linear-interpolated value at rank p*(n-1) — verified identical
to the last ulp, rounded at the boundary anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_PROBS = (0.25, 0.5, 0.9, 0.99)


def _pname(p: float) -> str:
    return ("p%g" % (p * 100)).replace(".", "_")


def group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: tuple = DEFAULT_PROBS,
) -> DataFrame:
    """Per-group count/min/max + exact interpolated quantiles (rounded
    DOUBLE). One shuffle on group_col; partials are per-group value
    buffers (see module docstring for the scale boundary)."""
    v = F.col(value_col).cast("double")
    aggs = [
        F.count(v).alias("n"),
        F.round(F.min(v), 4).alias("v_min"),
        F.round(F.max(v), 4).alias("v_max"),
    ] + [F.round(F.percentile(v, F.lit(p)), 4).alias(_pname(p)) for p in probs]
    return df.groupBy(group_col).agg(*aggs)


def robust_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    threshold: float = 3.0,
) -> DataFrame:
    """Per-group robust outlier flags: z = (v - median) / IQR, flagged
    when |z| > threshold. Median/quartiles are the exact interpolated
    `percentile` aggregates (DuckDB `quantile_cont` parity is
    ulp-identical, see module docstring), so the z-score is a
    deterministic double on both engines — no mean/stddev streaming-order
    drift, and robust statistics are what you actually want for anomaly
    flags on heavy-tailed telemetry.

    Shape: one shuffle for the per-group quantiles (tiny result — one row
    per group), broadcast back onto the events; at 100 TB swap the exact
    percentile for the mergeable `percentile_approx` sketch and the plan
    is unchanged. Groups with IQR = 0 yield NULL z / no flag."""
    v = F.col(value_col).cast("double")
    stats = df.groupBy(group_col).agg(
        F.percentile(v, F.lit(0.5)).alias("_med"),
        F.percentile(v, F.lit(0.25)).alias("_q1"),
        F.percentile(v, F.lit(0.75)).alias("_q3"),
    )
    iqr = F.col("_q3") - F.col("_q1")
    z = F.when(iqr != 0.0, (v - F.col("_med")) / iqr)
    return (
        df.join(F.broadcast(stats), group_col)
        # + 0.0 folds -0.0 to 0.0: a tiny negative z rounding to zero is
        # -0.0 on one engine and 0.0 on the other (r28 precedent; first
        # actually hit by the sf1 full sweep on this operator)
        .withColumn("robust_z", F.round(z, 4) + F.lit(0.0))
        .withColumn(
            "is_outlier",
            F.coalesce(F.abs(z) > float(threshold), F.lit(False)),
        )
        .drop("_med", "_q1", "_q3")
    )


def group_quantiles_approx(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: tuple = DEFAULT_PROBS,
    accuracy: int = 10_000,
) -> DataFrame:
    """The 100 TB formulation: mergeable `percentile_approx` sketches,
    O(accuracy) state per group regardless of group size. Not
    bit-reproducible across partitionings -> pytest-checked against the
    exact quantiles with a rank-error bound, not oracle-hashed."""
    v = F.col(value_col).cast("double")
    aggs = [F.count(v).alias("n")] + [
        F.percentile_approx(v, F.lit(p), F.lit(accuracy)).alias(_pname(p))
        for p in probs
    ]
    return df.groupBy(group_col).agg(*aggs)


# ---------------------------------------------------------------------------
# Exact global quantiles WITHOUT a global sort (iterative histogram
# narrowing) — the 100 TB path where group_quantiles' per-group value
# buffer no longer fits

def _order_stat_pair(vals: DataFrame, k: int, lo: float, hi: float,
                     buckets: int, exact_threshold: int,
                     n_cand: "int | None" = None):
    """Resolve the 0-based order statistics (k, k+1) of the `v` column
    by iterative histogram narrowing: each round is ONE combinable
    aggregation returning <= `buckets` rows of (count, min, max) to the
    driver (a bounded artifact, like the bloom bitmap), shrinking the
    candidate interval until few enough values remain to sort exactly.

    Two properties make this exact despite float bucket math:
    - bucket(v) = floor((v - lo) / width) is MONOTONE in v under IEEE
      rounding (subtraction, positive division, floor all preserve
      order), so each bucket's rows are a contiguous value range;
    - the next interval snaps to the chosen bucket's ACTUAL min/max
      (from the same aggregation), so the range filter [bmin, bmax]
      selects exactly the bucket's rows and `n_lt_lo` (the count of
      values before the interval) stays exact. bmin == bmax means every
      remaining candidate is one double — duplicates-heavy data resolves
      in that round instead of stalling.

    Rounds are O(log_buckets(n / exact_threshold)): 3 aggregations
    narrow 10^12 rows to a 10^5 sliver at buckets=4096."""
    from unifydb_spark import instrument

    v = F.col("v")
    n_lt_lo = 0
    while True:
        instrument.bump("quantile_narrow_rounds")
        cand = vals.filter((v >= lo) & (v <= hi))
        if lo == hi:
            return lo, lo
        if n_cand is None:
            # only the first round of an uncounted interval pays a count
            # job; every later round inherits the chosen bucket's exact c
            # from the previous histogram (the [bmin, bmax] snap selects
            # exactly that bucket's rows)
            n_cand = cand.count()
        if n_cand <= exact_threshold:
            ordered = [r["v"] for r in cand.orderBy("v").collect()]
            v0 = ordered[k - n_lt_lo]
            # the adjacent order statistic k+1 is almost always in the
            # same sliver; when k is the sliver's last element, it is
            # the minimum beyond the interval (one more tiny job)
            if k + 1 - n_lt_lo < len(ordered):
                v1 = ordered[k + 1 - n_lt_lo]
            else:
                nxt = vals.filter(v > hi).agg(F.min("v")).collect()
                v1 = nxt[0][0] if nxt[0][0] is not None else v0
            return v0, v1
        width = (hi - lo) / buckets
        bexpr = F.greatest(
            F.lit(0),
            F.least(F.floor((v - lo) / width).cast("int"), F.lit(buckets - 1)),
        )
        hist = {
            r["b"]: (r["c"], r["bmin"], r["bmax"])
            for r in cand.groupBy(bexpr.alias("b"))
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.min("v").alias("bmin"),
                F.max("v").alias("bmax"),
            )
            .collect()
        }
        acc = n_lt_lo
        for b in sorted(hist):
            c, bmin, bmax = hist[b]
            if acc + c > k:
                if bmin == bmax:
                    # duplicate run bigger than the sliver threshold:
                    # rank k is inside the run, but k+1 may be the first
                    # value BEYOND it (k at the run's end with frac>0) —
                    # returning (bmin, bmin) there interpolates against
                    # the wrong partner
                    if k + 1 < acc + c:
                        return bmin, bmin
                    nxt = (
                        vals.filter(v > bmax).agg(F.min("v")).collect()[0][0]
                    )
                    return bmin, nxt if nxt is not None else bmin
                lo, hi, n_lt_lo = bmin, bmax, acc
                n_cand = c
                break
            acc += c


def exact_quantiles_scalable(
    df: DataFrame,
    value_col: str,
    probs: tuple = DEFAULT_PROBS,
    buckets: int = 4096,
    exact_threshold: int = 100_000,
) -> DataFrame:
    """Exact linear-interpolated quantiles of a column with NO global
    sort and NO per-executor value buffer: min/max + iterative histogram
    narrowing resolve the two order statistics around each target rank,
    then interpolate exactly as `percentile`/`quantile_cont` do
    (rank r = p*(n-1); value = (1-frac)*x[floor(r)] + frac*x[floor(r)+1]).

    Every cluster-side step is a combinable aggregation; everything the
    driver ever holds is <= `buckets` histogram rows or the final
    <= `exact_threshold` sliver. Compare: Spark's own `percentile` is
    exact but buffers ALL values per group; `percentile_approx` is
    bounded-memory but approximate and partitioning-dependent. This is
    the third point of the triangle — exact AND bounded — at the cost of
    O(log_buckets(n)) extra scans of a single column projection (each
    narrower than the last after predicate pushdown on v).

    Returns one row per prob: (quantile, value) — value rounded to 4
    decimals like group_quantiles."""
    from unifydb_spark.resources import tracked_persist

    # one narrow column, scanned by every narrowing round — persist it
    # (released by the caller's resource scope, like every operator)
    vals = tracked_persist(
        df.select(F.col(value_col).cast("double").alias("v")).filter(
            F.col("v").isNotNull()
        )
    )
    first = vals.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    ).collect()[0]
    n, lo, hi = first["n"], first["lo"], first["hi"]
    spark = df.sparkSession
    if n == 0:
        return spark.createDataFrame([], "quantile string, value double")
    targets = []
    pairs: dict[int, tuple] = {}
    for p in probs:
        r = p * (n - 1)
        k0 = int(r)
        frac = r - k0
        targets.append((p, k0, frac))
        pairs[k0] = None
    open_ks = []
    for k0 in pairs:
        if k0 >= n - 1:
            # top rank: both stats are the max
            pairs[k0] = (hi, hi)
        else:
            open_ks.append(k0)
    if len(open_ks) > 1:
        # each target's narrowing is an independent chain of bounded
        # aggregations — resolve them concurrently so one target's
        # driver turnaround back-fills cores another left idle (guide
        # §2.6); values are scheduling-invariant, and the inherited
        # thread target keeps the caller's job group on every job
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        resolve = inheritable_thread_target(spark)(
            lambda k0: _order_stat_pair(
                vals, k0, lo, hi, buckets, exact_threshold, n_cand=n
            )
        )
        with ThreadPoolExecutor(
            max_workers=min(4, len(open_ks))
        ) as pool:
            for k0, pair in zip(open_ks, pool.map(resolve, open_ks)):
                pairs[k0] = pair
    else:
        for k0 in open_ks:
            pairs[k0] = _order_stat_pair(
                vals, k0, lo, hi, buckets, exact_threshold, n_cand=n
            )
    rows = [
        (
            _pname(p),
            float(
                round(
                    (1.0 - frac) * pairs[k0][0] + frac * pairs[k0][1], 4
                )
            ),
        )
        for (p, k0, frac) in targets
    ]
    return spark.createDataFrame(rows, "quantile string, value double")


def table_profile(df: "DataFrame", cols: "Sequence[str]") -> "DataFrame":
    """ANALYZE-style column statistics in ONE pass: per column, the
    non-null count, null count, exact distinct count, and min/max
    (ordered on the NATIVE column type, then stringified into the
    engine-neutral output row; round doubles before profiling them so
    the string forms match across engines). This is the table-statistics input
    a cost-based planner (or a human sizing a join) reads: ndv drives
    join-order and broadcast decisions, null fraction flags unusable
    keys, min/max bound partition pruning.

    Plan shape: one aggregation; Spark rewrites the multi-column
    DISTINCT aggregate into an Expand (one input row -> one row per
    distinct-column) + a single partially-aggregated shuffle — the
    exact same machinery as grouping sets, so cost is c x scan volume
    pre-combine but only O(ndv) on the wire, never a second table
    scan per column. The wide 1-row result is then unpivoted with
    stack() — driver-free."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("_total")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__n"),
            F.countDistinct(c).alias(f"{c}__ndv"),
            # min/max on the NATIVE type, stringified afterwards: casting
            # first would rank lexicographically (max of 1..500 = '99'),
            # which cannot bound partition pruning (r5 advice)
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__ndv, {c}__min, {c}__max" for c in cols
    )
    return wide.selectExpr(
        "_total",
        f"stack({len(cols)}, {stack_args}) AS "
        "(col_name, n_nonnull, ndv, min_val, max_val)",
    ).select(
        "col_name",
        F.col("n_nonnull").cast("bigint").alias("n_nonnull"),
        (F.col("_total") - F.col("n_nonnull")).cast("bigint").alias("n_null"),
        F.col("ndv").cast("bigint").alias("ndv"),
        "min_val",
        "max_val",
    )


def exact_group_quantiles_scalable(
    df: "DataFrame",
    group_col: str,
    value_col: str,
    probs: tuple = DEFAULT_PROBS,
    buckets: int = 1024,
    exact_threshold: int = 5000,
    max_rounds: int = 60,
) -> "DataFrame":
    """Exact linear-interpolated quantiles PER GROUP with no global
    sort and no per-executor value buffer — the grouped twin of
    exact_quantiles_scalable. Spark's own per-group `percentile` is
    exact but buffers every value OF EVERY GROUP in executor memory
    (the aggregation buffer is a value list); `percentile_approx` is
    bounded but approximate. This resolves every (group, rank) target
    by iterative histogram narrowing in SHARED rounds: one combinable
    aggregation per round covers all still-unresolved targets at once
    (a broadcast bounds table fans each row into the targets whose
    candidate interval contains it — fan-out starts at |probs| and
    dies off geometrically as intervals shrink), returning <=
    targets * buckets histogram rows to the driver. Driver state is
    O(groups * probs) — the low-cardinality-dimension contract, same
    as grouping sets.

    Returns (group_col, quantile, value): value interpolated exactly
    like percentile/quantile_cont and rounded to 4 decimals."""
    from unifydb_spark.resources import tracked_persist

    spark = df.sparkSession
    out_schema = f"{group_col} string, quantile string, value double"
    vals = tracked_persist(
        df.select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(value_col).cast("double").alias("v"),
        ).filter(F.col("v").isNotNull())
    )
    base = vals.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    ).collect()
    if not base:
        return spark.createDataFrame([], out_schema)

    # driver state per (group, k0) order-statistic pair target
    tasks: dict = {}
    want: list = []  # (grp, prob, k0, frac)
    for r0 in base:
        g, n, glo, ghi = r0["grp"], r0["n"], r0["lo"], r0["hi"]
        for p in probs:
            r = p * (n - 1)
            k0 = int(r)
            want.append((g, p, k0, r - k0))
            tid = (g, k0)
            if tid in tasks:
                continue
            if k0 >= n - 1 or glo == ghi:
                tasks[tid] = {"pair": (ghi, ghi)}
            else:
                tasks[tid] = {
                    "pair": None, "lo": glo, "hi": ghi, "n_lt_lo": 0,
                    "sliver": False,
                }

    def unresolved():
        return {t: s for t, s in tasks.items()
                if s["pair"] is None and not s["sliver"]}

    def bounds_frame(items):
        rows = [
            (g, f"{g}\x00{k}", float(s["lo"]), float(s["hi"]))
            for (g, k), s in items
        ]
        return spark.createDataFrame(
            rows, "grp string, tid string, blo double, bhi double"
        )

    rounds = 0
    while unresolved():
        rounds += 1
        if rounds > max_rounds:
            raise RuntimeError("quantile narrowing did not converge")
        items = list(unresolved().items())
        b = bounds_frame(items)
        width = (F.col("bhi") - F.col("blo")) / buckets
        bexpr = F.greatest(
            F.lit(0),
            F.least(
                F.floor((F.col("v") - F.col("blo")) / width).cast("int"),
                F.lit(buckets - 1),
            ),
        )
        hist_rows = (
            vals.join(F.broadcast(b), "grp")
            .filter((F.col("v") >= F.col("blo")) & (F.col("v") <= F.col("bhi")))
            .groupBy("tid", bexpr.alias("b"))
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.min("v").alias("bmin"),
                F.max("v").alias("bmax"),
            )
            .collect()
        )
        per_tid: dict = {}
        for r1 in hist_rows:
            g, k = r1["tid"].split("\x00")
            per_tid.setdefault((g, int(k)), {})[r1["b"]] = (
                r1["c"], r1["bmin"], r1["bmax"],
            )
        for (tid, s) in items:
            hist = per_tid[tid]
            k = tid[1]
            total = sum(c for c, _, _ in hist.values())
            if total <= exact_threshold:
                s["sliver"] = True
                continue
            acc = s["n_lt_lo"]
            for bi in sorted(hist):
                c, bmin, bmax = hist[bi]
                if acc + c > k:
                    if bmin == bmax:
                        # oversized duplicate run: ranks acc..acc+c-1
                        # all equal bmin, so k resolves WITHOUT ever
                        # collecting the run (its size is unbounded —
                        # that's why this branch exists; r5 advice).
                        # Only k+1 falling past the run's end needs a
                        # value we don't have: the first value beyond
                        # bmin, fetched by the batched min-beyond job.
                        if acc + c > k + 1:
                            s["pair"] = (bmin, bmin)
                        else:
                            s["lo"] = s["hi"] = bmin
                            s["_v0"] = bmin
                            s["sliver"] = True
                    else:
                        s["lo"], s["hi"], s["n_lt_lo"] = bmin, bmax, acc
                        if c <= exact_threshold:
                            # the narrowed interval [bmin, bmax] holds
                            # exactly this bucket's c rows (bucketing is
                            # monotone, so no other bucket's values land
                            # inside it) — the next round's histogram
                            # would only rediscover total == c and mark
                            # the task a sliver; skip that round's full
                            # scan and go straight to the batched sliver
                            # collect (one round instead of two on any
                            # group whose first narrowing already fits)
                            s["sliver"] = True
                    break
                acc += c

    from unifydb_spark import instrument

    instrument.note("group_quantile_narrow_rounds", rounds)

    # resolve every sliver task in ONE collect (bounded by
    # tasks * exact_threshold), then one batched min-beyond job for
    # targets whose k+1 falls past their sliver/run
    # duplicate-run tasks (_v0 already known) skip the row collect
    # entirely — they only need the min-beyond job
    need_beyond = [
        (t, s)
        for t, s in tasks.items()
        if s["pair"] is None and "_v0" in s
    ]
    sliver_items = [
        (t, s)
        for t, s in tasks.items()
        if s["pair"] is None and "_v0" not in s
    ]
    if sliver_items:
        b = bounds_frame(sliver_items)
        got: dict = {}
        for r2 in (
            vals.join(F.broadcast(b), "grp")
            .filter((F.col("v") >= F.col("blo")) & (F.col("v") <= F.col("bhi")))
            .select("tid", "v")
            .collect()
        ):
            g, k = r2["tid"].split("\x00")
            got.setdefault((g, int(k)), []).append(r2["v"])
        for (tid, s) in sliver_items:
            vs = sorted(got[tid])
            k = tid[1]
            i0 = k - s["n_lt_lo"]
            v0 = vs[i0]
            if i0 + 1 < len(vs):
                s["pair"] = (v0, vs[i0 + 1])
            else:
                s["_v0"] = v0
                need_beyond.append((tid, s))
    if need_beyond:
        nb = spark.createDataFrame(
            [
                (g, f"{g}\x00{k}", float(s["hi"]))
                for (g, k), s in need_beyond
            ],
            "grp string, tid string, bhi double",
        )
        nxt = {
            tuple(r3["tid"].split("\x00")): r3["m"]
            for r3 in vals.join(F.broadcast(nb), "grp")
            .filter(F.col("v") > F.col("bhi"))
            .groupBy("tid")
            .agg(F.min("v").alias("m"))
            .collect()
        }
        for (tid, s) in need_beyond:
            m = nxt.get((tid[0], str(tid[1])))
            s["pair"] = (s["_v0"], m if m is not None else s["_v0"])

    rows_out = [
        (
            g,
            _pname(p),
            float(
                round(
                    (1.0 - frac) * tasks[(g, k0)]["pair"][0]
                    + frac * tasks[(g, k0)]["pair"][1],
                    4,
                )
            ),
        )
        for (g, p, k0, frac) in want
    ]
    return spark.createDataFrame(rows_out, out_schema)


def length_histogram(
    docs: "DataFrame",
    length_expr,
    bin_width: int = 16,
) -> "DataFrame":
    """Sequence-length histogram with cumulative corpus share — the
    planning input for sequence packing and context-length selection
    (what fraction of documents/tokens fit in 2k? 8k? — the question a
    pretraining batch planner asks before choosing pack_sequences'
    target length). `length_expr` is any integer Column (token count,
    char count). Returns one row per occupied bin: (bin_lo, n_docs,
    n_tokens, cum_doc_share, cum_token_share), ordered by bin_lo.

    Shape: one combinable groupBy over `length DIV bin_width` (map-side
    partial sums; the wire carries one row per occupied bin), then the
    cumulative window runs over the BIN relation — thousands of rows at
    most, regardless of corpus size, so the single-partition window is
    bounded by construction (same argument as the stats histograms
    above). Shares are computed from window totals, not a second scan."""
    from pyspark.sql import Window

    length = length_expr.cast("bigint")
    bins = (
        docs.select(length.alias("_len"))
        .filter(F.col("_len").isNotNull())
        .groupBy(
            (F.expr(f"_len DIV {int(bin_width)}") * bin_width).alias("bin_lo")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_len").alias("n_tokens"),
        )
    )
    w = Window.orderBy("bin_lo").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.orderBy("bin_lo").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return bins.select(
        F.col("bin_lo").cast("bigint").alias("bin_lo"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(
            F.sum("n_docs").over(w).cast("double")
            / F.sum("n_docs").over(wt),
            6,
        ).alias("cum_doc_share"),
        F.round(
            F.sum("n_tokens").over(w).cast("double")
            / F.sum("n_tokens").over(wt),
            6,
        ).alias("cum_token_share"),
    )


def join_skew_report(
    left: "DataFrame",
    right: "DataFrame",
    left_key: str,
    right_key: str,
    broadcast_rows: int = 1_000_000,
    skew_share: float = 0.01,
) -> "DataFrame":
    """Pre-join skew/strategy report: row counts, exact key NDV, and
    each side's hottest-key share, folded into the strategy decision a
    planner (or the engineer reading this report) makes before a 100 TB
    join — `broadcast` when a side fits executor memory, `salt` when a
    hot key would pin one reducer (the q47 salted-join medicine), else
    plain shuffle. This is the measured version of the decision: AQE's
    skew handling only kicks in at runtime after the skewed task
    exists; the report sees it coming from one aggregation pass per
    side.

    Shape: per side, one combinable groupBy(key) + a max over the
    count relation (ndv-sized, never the raw rows); outputs ONE row.
    Returns (left_rows, right_rows, left_ndv, right_ndv,
    left_top_share, right_top_share, strategy)."""
    def side_stats(df, key):
        counts = df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias("c")
        )
        return counts.agg(
            F.sum("c").cast("bigint").alias("rows"),
            F.count(F.lit(1)).cast("bigint").alias("ndv"),
            F.max("c").cast("bigint").alias("top_c"),
        )

    l = side_stats(left, left_key).select(
        F.col("rows").alias("left_rows"),
        F.col("ndv").alias("left_ndv"),
        F.col("top_c").alias("l_top"),
    )
    r = side_stats(right, right_key).select(
        F.col("rows").alias("right_rows"),
        F.col("ndv").alias("right_ndv"),
        F.col("top_c").alias("r_top"),
    )
    j = l.crossJoin(F.broadcast(r))
    lshare = F.col("l_top").cast("double") / F.col("left_rows")
    rshare = F.col("r_top").cast("double") / F.col("right_rows")
    strategy = (
        F.when(F.col("right_rows") <= broadcast_rows, F.lit("broadcast_right"))
        .when(F.col("left_rows") <= broadcast_rows, F.lit("broadcast_left"))
        .when(
            (lshare > skew_share) | (rshare > skew_share),
            F.lit("salt_hot_keys"),
        )
        .otherwise(F.lit("shuffle_hash"))
    )
    return j.select(
        "left_rows",
        "right_rows",
        "left_ndv",
        "right_ndv",
        F.round(lshare, 6).alias("left_top_share"),
        F.round(rshare, 6).alias("right_top_share"),
        strategy.alias("strategy"),
    )


def winsorize_scale(
    df: "DataFrame",
    group_col: str,
    value_col: str,
    id_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
) -> "DataFrame":
    """Per-group feature scaling for training data: winsorize (clamp to
    the group's [p_lo, p_hi] exact quantiles — heavy-tail damage
    control that deletes nothing) then z-score against the CLAMPED
    distribution's mean/std. The standard numeric-feature prep before a
    model consumes telemetry: outliers stop dominating the scale, and
    every group lands on a comparable unit.

    Exactness: quantiles are the interpolated exact `percentile`
    (quantile_cont parity); mean and the std's sum-of-squares
    accumulate in DECIMAL(38,12) so they are order-independent, with
    the sample-std formula sqrt((ss - s^2/n)/(n-1)) evaluated in the
    same operation order on both engines. Zero-variance groups yield
    NULL z.

    Shape: one groupBy for quantiles (tiny result, broadcast back),
    one groupBy for clamped moments (same), one final projection —
    three small shuffles, rows never leave the executors."""
    v = F.col(value_col).cast("double")
    q = df.groupBy(group_col).agg(
        F.percentile(v, F.lit(float(p_lo))).alias("_qlo"),
        F.percentile(v, F.lit(float(p_hi))).alias("_qhi"),
    )
    clamped = (
        df.join(F.broadcast(q), group_col)
        .withColumn(
            "_cl", F.least(F.greatest(v, F.col("_qlo")), F.col("_qhi"))
        )
    )
    m = clamped.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_cl").cast("decimal(38,12)")).alias("_s"),
        F.sum(
            (F.col("_cl") * F.col("_cl")).cast("decimal(38,12)")
        ).alias("_ss"),
    )
    withm = clamped.join(F.broadcast(m), group_col)
    n = F.col("_n").cast("double")
    s = F.col("_s").cast("string").cast("double")
    ss = F.col("_ss").cast("string").cast("double")
    mean = s / n
    var = (ss - (s * s) / n) / (n - F.lit(1.0))
    z = F.when(var > 0, (F.col("_cl") - mean) / F.sqrt(var))
    return withm.select(
        F.col(id_col),
        F.col(group_col),
        F.round(v, 6).alias("value"),
        F.round(F.col("_cl"), 6).alias("clamped"),
        F.round(z, 6).alias("zscore"),
    )


def regression_metrics(
    df: "DataFrame",
    group_col: str,
    label_col: str,
    pred_col: str,
) -> "DataFrame":
    """Per-group regression eval metrics: n, RMSE, MAE, bias (mean
    error), and R^2 — the scoreboard a model-quality gate reads after a
    batch scoring job. Returns (group_col, n, rmse, mae, bias, r2).

    Exactness: every accumulated quantity (error, |error|, error^2,
    label, label^2) is cast to DECIMAL(38,12) per row before the sum,
    so the distributed aggregation is order-independent; the final
    expressions (divisions, sqrt, 1 - ss_res/ss_tot) evaluate in the
    identical operation order on both engines. Zero-variance label
    groups yield NULL r2. One combinable aggregation — a single
    map-side-combined shuffle regardless of scale."""
    y = F.col(label_col).cast("double")
    p = F.col(pred_col).cast("double")
    e = p - y
    dec = "decimal(38,12)"
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(e.cast(dec)).alias("_se"),
        F.sum(F.abs(e).cast(dec)).alias("_sae"),
        F.sum((e * e).cast(dec)).alias("_sse"),
        F.sum(y.cast(dec)).alias("_sy"),
        F.sum((y * y).cast(dec)).alias("_syy"),
    )
    n = F.col("_n").cast("double")
    se = F.col("_se").cast("string").cast("double")
    sae = F.col("_sae").cast("string").cast("double")
    sse = F.col("_sse").cast("string").cast("double")
    sy = F.col("_sy").cast("string").cast("double")
    syy = F.col("_syy").cast("string").cast("double")
    ss_tot = syy - (sy * sy) / n
    r2 = F.when(ss_tot > 0, F.lit(1.0) - sse / ss_tot)
    return agg.select(
        F.col(group_col),
        F.col("_n").cast("bigint").alias("n"),
        F.round(F.sqrt(sse / n), 6).alias("rmse"),
        F.round(sae / n, 6).alias("mae"),
        # + 0.0 normalizes IEEE negative zero (a tiny negative mean
        # error rounds to -0.0 on one engine and 0.0 on the other)
        (F.round(se / n, 6) + F.lit(0.0)).alias("bias"),
        (F.round(r2, 6) + F.lit(0.0)).alias("r2"),
    )


def classification_metrics(
    df: "DataFrame",
    group_col: str,
    label_col: str,
    pred_col: str,
) -> "DataFrame":
    """Per-group binary classification report: tp/fp/fn/tn and
    precision/recall/F1/accuracy — pure integer confusion counts from
    ONE combinable aggregation, divisions only at the surface
    (engine-identical), NULL where undefined (no positive predictions
    -> no precision). Returns (group_col, tp, fp, fn, tn, precision,
    recall, f1, accuracy)."""
    y = F.col(label_col).cast("boolean")
    p = F.col(pred_col).cast("boolean")
    agg = df.groupBy(group_col).agg(
        F.sum((y & p).cast("long")).alias("tp"),
        F.sum((~y & p).cast("long")).alias("fp"),
        F.sum((y & ~p).cast("long")).alias("fn"),
        F.sum((~y & ~p).cast("long")).alias("tn"),
    )
    tp, fp, fn, tn = [F.col(c).cast("double") for c in ("tp", "fp", "fn", "tn")]
    prec = F.when(tp + fp > 0, tp / (tp + fp))
    rec = F.when(tp + fn > 0, tp / (tp + fn))
    f1 = F.when(
        (tp + fp > 0) & (tp + fn > 0) & (prec + rec > 0),
        2.0 * prec * rec / (prec + rec),
    )
    acc = (tp + tn) / (tp + fp + fn + tn)
    return agg.select(
        F.col(group_col),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.col("tn").cast("bigint").alias("tn"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
        F.round(acc, 6).alias("accuracy"),
    )


def binary_auc(
    df: "DataFrame",
    group_col: str,
    label_col: str,
    score_col: str,
) -> "DataFrame":
    """Per-group exact ROC AUC via the Mann-Whitney rank-sum identity:
    AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg), with
    tie-AVERAGED ranks. This is THE scalable AUC: the naive definition
    compares every positive with every negative (quadratic); the
    rank-sum needs one sort-shuffle and one aggregation, and ties are
    handled exactly with integer arithmetic — doubled ranks
    (2*rank + tie_count - 1) keep everything integral until the single
    final division. Returns (group_col, n_pos, n_neg, auc); groups
    lacking a class yield NULL auc."""
    from pyspark.sql import Window

    y = F.col(label_col).cast("boolean")
    s = F.col(score_col).cast("double")
    w_rank = Window.partitionBy(group_col).orderBy(s)
    w_tie = Window.partitionBy(group_col, s)
    # doubled tie-averaged rank: 2*avg_rank = 2*rank + (ties - 1)
    r2 = (
        2 * F.rank().over(w_rank)
        + F.count(F.lit(1)).over(w_tie)
        - F.lit(1)
    ).cast("long")
    ranked = df.select(
        F.col(group_col), y.alias("_y"), r2.alias("_r2")
    )
    agg = ranked.groupBy(group_col).agg(
        F.sum(F.when(F.col("_y"), F.col("_r2"))).alias("_rpos2"),
        F.sum(F.col("_y").cast("long")).alias("n_pos"),
        F.sum((~F.col("_y")).cast("long")).alias("n_neg"),
    )
    npos = F.col("n_pos").cast("double")
    nneg = F.col("n_neg").cast("double")
    # AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos*n_neg); with doubled
    # ranks: (rpos2 - n_pos*(n_pos+1)) / (2*n_pos*n_neg)
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        (
            F.col("_rpos2").cast("double")
            - npos * (npos + F.lit(1.0))
        )
        / (F.lit(2.0) * npos * nneg),
    )
    return agg.select(
        F.col(group_col),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
    )


def calibration_curve(
    df: "DataFrame",
    group_col: str,
    label_col: str,
    score_col: str,
    n_bins: int = 10,
) -> "DataFrame":
    """Per-group reliability diagram: scores min-max normalized within
    the group, bucketed into n_bins equal-width bins; per bin the count,
    mean normalized score (DECIMAL-exact sum), and observed positive
    rate. AUC (binary_auc) measures discrimination; this measures
    CALIBRATION — together they are the standard eval pair. Returns
    (group_col, bin, n, mean_score, pos_rate).

    Shape: one tiny min/max aggregation broadcast back, then one
    combinable groupBy — two small shuffles, output n_bins rows per
    group. Degenerate groups (min == max) collapse into bin 0."""
    y = F.col(label_col).cast("boolean")
    s = F.col(score_col).cast("double")
    mm = df.groupBy(group_col).agg(
        F.min(s).alias("_lo"), F.max(s).alias("_hi")
    )
    j = df.join(F.broadcast(mm), group_col)
    norm = F.when(
        F.col("_hi") > F.col("_lo"),
        (s - F.col("_lo")) / (F.col("_hi") - F.col("_lo")),
    ).otherwise(F.lit(0.0))
    b = F.least(
        F.floor(norm * n_bins).cast("int"), F.lit(int(n_bins) - 1)
    )
    agg = j.groupBy(F.col(group_col), b.alias("bin")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(norm.cast("decimal(38,12)")).alias("_ss"),
        F.sum(y.cast("long")).alias("_np"),
    )
    return agg.select(
        F.col(group_col),
        F.col("bin").cast("bigint").alias("bin"),
        F.col("_n").cast("bigint").alias("n"),
        F.round(
            F.col("_ss").cast("string").cast("double") / F.col("_n"), 6
        ).alias("mean_score"),
        F.round(
            F.col("_np").cast("double") / F.col("_n"), 6
        ).alias("pos_rate"),
    )


def mutual_information(
    df: "DataFrame",
    x_col: str,
    y_col: str,
) -> "DataFrame":
    """Mutual information between two categorical columns — the
    feature-relevance screen ("does source predict language? does
    event_type carry user information?") run before any model sees the
    data. MI = sum_xy p_xy * ln(p_xy / (p_x * p_y)), plus both marginal
    entropies and the normalized MI / min(Hx, Hy). Nulls excluded
    (standard contingency-table semantics). Returns one row
    (n, nx, ny, h_x, h_y, mi, nmi).

    Exactness: the r17 contract — each cell's term is a double (ln
    parity) cast to DECIMAL(30,15) before the sum, so the distributed
    aggregation is order-independent. Shape: one (x,y) combinable
    count; marginals derive from the cell relation (no second scan);
    everything after is contingency-table-sized."""
    from unifydb_spark.resources import tracked_persist

    cells = tracked_persist(
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(
            F.col(x_col).cast("string").alias("x"),
            F.col(y_col).cast("string").alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mx = cells.groupBy("x").agg(F.sum("c").alias("cx"))
    my = cells.groupBy("y").agg(F.sum("c").alias("cy"))
    tot = cells.agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    j = (
        cells.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot.select("n")))
    )
    nd = F.col("n").cast("double")
    pxy = F.col("c").cast("double") / nd
    px = F.col("cx").cast("double") / nd
    py = F.col("cy").cast("double") / nd
    mi_term = (pxy * F.log(pxy / (px * py))).cast("decimal(30,15)")
    mi = j.agg(
        F.max("n").cast("bigint").alias("n"),
        F.count_distinct("x").cast("bigint").alias("nx"),
        F.count_distinct("y").cast("bigint").alias("ny"),
        F.sum(mi_term).cast("string").cast("double").alias("_mi"),
    )
    hx = mx.crossJoin(F.broadcast(tot.select("n"))).agg(
        F.sum(
            (
                -(F.col("cx").cast("double") / F.col("n").cast("double"))
                * F.log(F.col("cx").cast("double") / F.col("n").cast("double"))
            ).cast("decimal(30,15)")
        )
        .cast("string")
        .cast("double")
        .alias("h_x")
    )
    hy = my.crossJoin(F.broadcast(tot.select("n"))).agg(
        F.sum(
            (
                -(F.col("cy").cast("double") / F.col("n").cast("double"))
                * F.log(F.col("cy").cast("double") / F.col("n").cast("double"))
            ).cast("decimal(30,15)")
        )
        .cast("string")
        .cast("double")
        .alias("h_y")
    )
    out = mi.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
    hmin = F.least("h_x", "h_y")
    return out.select(
        "n",
        "nx",
        "ny",
        F.round("h_x", 6).alias("h_x"),
        F.round("h_y", 6).alias("h_y"),
        (F.round("_mi", 6) + F.lit(0.0)).alias("mi"),
        (
            F.round(
                F.when(hmin > 0, F.col("_mi") / hmin), 6
            )
            + F.lit(0.0)
        ).alias("nmi"),
    )


def group_trend(
    df: "DataFrame",
    group_col: str,
    x_col,
    y_col: str,
) -> "DataFrame":
    """Per-group simple linear regression (exact OLS) in ONE combinable
    aggregation — the trend detector that complements rate-anomaly's
    level shifts: slope/intercept of y over x plus Pearson r^2, from
    the five classic sums (x, y, xy, x^2, y^2), each accumulated in
    DECIMAL(38,12) so the distributed reduction is order-independent.
    Final expressions evaluate in identical operation order on both
    engines; degenerate groups (no x or y variance) yield NULLs.
    Returns (group_col, n, slope, intercept, r2)."""
    x = (F.col(x_col) if isinstance(x_col, str) else x_col).cast("double")
    y = F.col(y_col).cast("double")
    dec = "decimal(38,12)"
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x.cast(dec)).alias("_sx"),
        F.sum(y.cast(dec)).alias("_sy"),
        F.sum((x * y).cast(dec)).alias("_sxy"),
        F.sum((x * x).cast(dec)).alias("_sxx"),
        F.sum((y * y).cast(dec)).alias("_syy"),
    )
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("string").cast("double")
    sy = F.col("_sy").cast("string").cast("double")
    sxy = F.col("_sxy").cast("string").cast("double")
    sxx = F.col("_sxx").cast("string").cast("double")
    syy = F.col("_syy").cast("string").cast("double")
    cov = sxy - (sx * sy) / n
    varx = sxx - (sx * sx) / n
    vary = syy - (sy * sy) / n
    slope = F.when(varx > 0, cov / varx)
    intercept = F.when(varx > 0, (sy - (cov / varx) * sx) / n)
    r2 = F.when(
        (varx > 0) & (vary > 0), (cov * cov) / (varx * vary)
    )
    return agg.select(
        F.col(group_col),
        F.col("_n").cast("bigint").alias("n"),
        (F.round(slope, 6) + F.lit(0.0)).alias("slope"),
        (F.round(intercept, 6) + F.lit(0.0)).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def trimmed_mean(
    df: "DataFrame",
    group_col: str,
    value_col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
) -> "DataFrame":
    """Per-group trimmed mean: the mean over values inside the group's
    exact [p_lo, p_hi] quantile band — the robust central-tendency
    summary between the median (discards almost everything) and the
    mean (one outlier owns it); unlike winsorize_scale it DROPS the
    tails rather than clamping them, which is the right call when tail
    values are corrupt rather than extreme. Returns (group_col, n,
    n_used, trimmed_mean, raw_mean).

    Shape: one quantile aggregation broadcast back + one combinable
    DECIMAL-sum pass — both group-sized results; the band filter is a
    pure Column predicate."""
    v = F.col(value_col).cast("double")
    q = df.groupBy(group_col).agg(
        F.percentile(v, F.lit(float(p_lo))).alias("_qlo"),
        F.percentile(v, F.lit(float(p_hi))).alias("_qhi"),
    )
    j = df.join(F.broadcast(q), group_col)
    inband = (v >= F.col("_qlo")) & (v <= F.col("_qhi"))
    return j.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(inband.cast("long")).cast("bigint").alias("n_used"),
        F.round(
            F.sum(F.when(inband, v).otherwise(F.lit(0.0)).cast("decimal(38,12)"))
            .cast("string")
            .cast("double")
            / F.sum(inband.cast("long")),
            6,
        ).alias("trimmed_mean"),
        F.round(
            F.sum(v.cast("decimal(38,12)")).cast("string").cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("raw_mean"),
    )


def gini_coefficient(
    df: "DataFrame",
    group_col: str,
    value_col: str,
    id_col: str,
) -> "DataFrame":
    """Per-group Gini concentration index over non-negative values —
    the inequality summary a mixture designer reads next to the share
    report ("is this source's token mass owned by a handful of
    documents?"). Exact rank formulation G = 2*sum(i*x_(i)) /
    (n*sum(x)) - (n+1)/n over ascending positional ranks; tied values
    contribute identically under any tie order (the positional sum over
    a tie block is permutation-invariant), with (value, id) ordering
    pinning determinism anyway. Negative values are excluded (Gini is
    defined over non-negative support). Returns (group_col, n,
    total, gini).

    Shape: one hash(group) shuffle, one ranking window, one combinable
    DECIMAL-sum aggregation — rank products accumulate exactly."""
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    base = df.filter(v >= 0)
    w = Window.partitionBy(group_col).orderBy(v.asc(), F.col(id_col).asc())
    ranked = base.select(
        F.col(group_col),
        v.alias("_v"),
        F.row_number().over(w).alias("_i"),
    )
    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_v").cast("decimal(38,12)")).alias("_s"),
        F.sum(
            (F.col("_i") * F.col("_v")).cast("decimal(38,12)")
        ).alias("_is"),
    )
    n = F.col("_n").cast("double")
    s = F.col("_s").cast("string").cast("double")
    ixs = F.col("_is").cast("string").cast("double")
    gini = F.when(
        s > 0, (F.lit(2.0) * ixs) / (n * s) - (n + F.lit(1.0)) / n
    )
    return agg.select(
        F.col(group_col),
        F.col("_n").cast("bigint").alias("n"),
        F.round(s, 4).alias("total"),
        (F.round(gini, 6) + F.lit(0.0)).alias("gini"),
    )


def lorenz_points(
    df: "DataFrame",
    group_col: str,
    value_col: str,
    id_col: str,
    n_points: int = 10,
) -> "DataFrame":
    """Lorenz curve sample points per group — the curve behind the Gini
    scalar (gini_coefficient): at each of n_points population-share
    cuts, the cumulative share of total value owned by the bottom
    fraction. The '20% of documents hold 80% of tokens' readout.
    Returns (group_col, point, pop_share, value_share) at the row
    positions ceil(k*n/n_points). Negative values excluded (same
    domain as Gini).

    Shape: one ranking window over (value, id) asc, cumulative DECIMAL
    sums, then a positional filter keeps n_points rows per group —
    output is points x groups regardless of scale."""
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    base = df.filter(v >= 0)
    w = Window.partitionBy(group_col).orderBy(v.asc(), F.col(id_col).asc())
    wa = Window.partitionBy(group_col).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = base.select(
        F.col(group_col),
        v.alias("_v"),
        F.row_number().over(w).alias("_i"),
    ).select(
        F.col(group_col),
        "_i",
        F.sum(
            F.col("_v").cast("decimal(38,12)")
        ).over(
            Window.partitionBy(group_col)
            .orderBy("_i")
            .rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_cum"),
        F.count(F.lit(1)).over(wa).alias("_n"),
        F.sum(F.col("_v").cast("decimal(38,12)")).over(wa).alias("_tot"),
    )
    k = int(n_points)
    # keep the LAST index of each population decile: floor(i*k/n)
    # increments exactly when i crosses a p*n/k boundary from below,
    # so each kept row is the bottom-p/k population's top member
    is_point = F.expr(f"floor(_i * {k} / _n) > floor((_i - 1) * {k} / _n)")
    pt = F.expr(f"cast(floor(_i * {k} / _n) as bigint)")
    return ranked.filter(is_point).select(
        F.col(group_col),
        pt.alias("point"),
        F.round(F.col("_i").cast("double") / F.col("_n"), 6).alias(
            "pop_share"
        ),
        F.round(
            F.when(
                F.col("_tot").cast("string").cast("double") > 0,
                F.col("_cum").cast("string").cast("double")
                / F.col("_tot").cast("string").cast("double"),
            ),
            6,
        ).alias("value_share"),
    )


def ks_test(
    df: "DataFrame",
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    num_partitions: int | None = None,
) -> "DataFrame":
    """Exact two-sample Kolmogorov-Smirnov statistic between the value
    distributions of two groups: D = max over x of |F_a(x) - F_b(x)| —
    the standard nonparametric drift gate ("did this source's length /
    score distribution move between snapshots?") whose exactness PSI
    (binned) and mean/stddev z-tests (parametric) both trade away.
    Returns one row (n_a, n_b, ks_d, ks_at) where ks_at is the smallest
    value achieving the supremum.

    Exactness: the ECDF difference at each distinct value is the
    integer |C_a*n_b - C_b*n_a| (cross-multiplied cumulative counts),
    so the argmax and the tie-break are integer comparisons; the single
    division happens once at the surface. Ties across groups are
    handled exactly because the ECDFs are evaluated after ALL rows of
    each distinct value.

    Scale shape (the q91 global_row_number scheme, layout.py:46): the
    raw rows collapse to one row per DISTINCT value (combinable
    groupBy); the cumulative counts over that relation use
    range-partition on value + per-partition subtotal offsets (an
    O(n_partitions) driver artifact, never a data collect) + windows
    partitioned BY the range-partition id — no Exchange
    SinglePartition anywhere. The reference computes no two-sample
    tests (SURVEY §2 R-rows end at stddev); this is the distributed
    drift-gate extension."""
    from unifydb_spark.resources import tracked_persist

    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    per_val = (
        df.filter(g.isin([group_a, group_b]) & v.isNotNull())
        .groupBy(v.alias("v"))
        .agg(
            F.sum((g == F.lit(group_a)).cast("long")).alias("ca"),
            F.sum((g == F.lit(group_b)).cast("long")).alias("cb"),
        )
    )
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = tracked_persist(
        per_val.repartitionByRange(n, F.col("v")).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    subtotals = {
        r["_pid"]: (r["sa"], r["sb"])
        for r in ranged.groupBy("_pid")
        .agg(F.sum("ca").alias("sa"), F.sum("cb").alias("sb"))
        .collect()
    }
    off_a, off_b, acc_a, acc_b = {}, {}, 0, 0
    for pid in sorted(subtotals):
        off_a[pid], off_b[pid] = acc_a, acc_b
        acc_a += subtotals[pid][0]
        acc_b += subtotals[pid][1]
    n_a, n_b = acc_a, acc_b
    map_a = F.create_map(*[F.lit(x) for p in off_a for x in (p, off_a[p])])
    map_b = F.create_map(*[F.lit(x) for p in off_b for x in (p, off_b[p])])
    from pyspark.sql import Window

    w = (
        Window.partitionBy("_pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = ranged.select(
        "v",
        (F.element_at(map_a, F.col("_pid")) + F.sum("ca").over(w)).alias("cum_a"),
        (F.element_at(map_b, F.col("_pid")) + F.sum("cb").over(w)).alias("cum_b"),
    ).select(
        "v",
        F.abs(
            F.col("cum_a") * F.lit(n_b) - F.col("cum_b") * F.lit(n_a)
        ).cast("long").alias("dnum"),
    )
    cum = tracked_persist(cum)
    dmax = cum.agg(F.max("dnum").alias("dmax"))
    return (
        cum.join(F.broadcast(dmax), F.col("dnum") == F.col("dmax"))
        .agg(F.min("v").alias("ks_at"), F.max("dnum").alias("_d"))
        .select(
            F.lit(n_a).cast("bigint").alias("n_a"),
            F.lit(n_b).cast("bigint").alias("n_b"),
            F.round(
                F.col("_d").cast("double")
                / (F.lit(float(n_a)) * F.lit(float(n_b))),
                6,
            ).alias("ks_d"),
            F.round(F.col("ks_at"), 6).alias("ks_at"),
        )
    )


def chi_square_independence(
    df: "DataFrame", x_col: str, y_col: str
) -> "DataFrame":
    """Pearson chi-square test of independence between two categorical
    columns, plus Cramer's V — the significance-flavored companion to
    r35 mutual_information (MI says how MUCH the columns co-vary; the
    chi-square statistic against its dof says whether the association
    exceeds sampling noise). Returns one row
    (n, n_x, n_y, dof, chi2, cramers_v).

    Exactness: observed counts and marginals are integers; each cell's
    (o-e)^2/e term is one mirrored double expression (e = rx*cy/N) cast
    to DECIMAL(30,15) so the cross-cell SUM is order-independent (the
    r17 ln-parity contract); rounding happens once at the surface.

    Scale: one combinable (x,y) count collapses raw rows to the
    contingency table; marginals derive from it (no second scan) and
    join back as broadcasts; everything after the first groupBy is
    cardinality-sized. Cells with zero observed count contribute
    e (not 0) to the statistic; summing o-free terms via the marginal
    identity chi2 = sum(o^2/e) - N avoids materializing empty cells
    entirely."""
    from unifydb_spark.resources import tracked_persist

    x = F.col(x_col).cast("string")
    y = F.col(y_col).cast("string")
    cells = tracked_persist(
        df.filter(x.isNotNull() & y.isNotNull())
        .groupBy(x.alias("x"), y.alias("y"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rx = cells.groupBy("x").agg(F.sum("o").alias("rx"))
    cy = cells.groupBy("y").agg(F.sum("o").alias("cy"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.count_distinct("x").alias("n_x"),
        F.count_distinct("y").alias("n_y"),
    )
    j = (
        cells.join(F.broadcast(rx), "x")
        .join(F.broadcast(cy), "y")
        .crossJoin(F.broadcast(tot))
    )
    # chi2 = sum over OBSERVED cells of o^2/(rx*cy/N)  -  N
    term = (
        F.col("o").cast("double")
        * F.col("o").cast("double")
        / (
            F.col("rx").cast("double")
            * F.col("cy").cast("double")
            / F.col("n").cast("double")
        )
    ).cast("decimal(30,15)")
    agg = j.groupBy("n", "n_x", "n_y").agg(
        F.sum(term).cast("string").cast("double").alias("_s")
    )
    chi2 = F.col("_s") - F.col("n").cast("double")
    kmin = F.least(F.col("n_x"), F.col("n_y")).cast("double") - F.lit(1.0)
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("n_x").cast("bigint").alias("n_x"),
        F.col("n_y").cast("bigint").alias("n_y"),
        ((F.col("n_x") - 1) * (F.col("n_y") - 1)).cast("bigint").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.sqrt(chi2 / (F.col("n").cast("double") * kmin)), 6
        ).alias("cramers_v"),
    )


def cohens_kappa(
    df: "DataFrame", rater_a: "Column", rater_b: "Column"
) -> "DataFrame":
    """Cohen's kappa inter-rater agreement between two boolean
    classifiers evaluated on the same rows — the eval-harness primitive
    for "do my two quality heuristics / annotators / judge prompts
    actually agree beyond chance?" (po alone is inflated whenever both
    raters mostly say the same class). Returns one row
    (n, n00, n01, n10, n11, po, pe, kappa).

    Exactness: the 2x2 confusion cells are one combinable integer
    aggregation; po, pe, kappa are mirrored double expressions over
    those integers (single division order, no accumulation), rounded
    once at the surface. Scale: one map-side-combinable pass, output is
    one row."""
    a = rater_a.cast("boolean")
    b = rater_b.cast("boolean")
    agg = df.filter(a.isNotNull() & b.isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((~a & ~b).cast("long")).alias("n00"),
        F.sum((~a & b).cast("long")).alias("n01"),
        F.sum((a & ~b).cast("long")).alias("n10"),
        F.sum((a & b).cast("long")).alias("n11"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n00") + F.col("n11")).cast("double") / nd
    pe = (
        (F.col("n11") + F.col("n10")).cast("double")
        * (F.col("n11") + F.col("n01")).cast("double")
        + (F.col("n00") + F.col("n01")).cast("double")
        * (F.col("n00") + F.col("n10")).cast("double")
    ) / (nd * nd)
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("n00").cast("bigint").alias("n00"),
        F.col("n01").cast("bigint").alias("n01"),
        F.col("n10").cast("bigint").alias("n10"),
        F.col("n11").cast("bigint").alias("n11"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


def psi_report(
    df: "DataFrame",
    value_col: str,
    split_col: str,
    n_bins: int = 10,
) -> "DataFrame":
    """Population Stability Index between a reference and a current
    population of a numeric metric — THE production drift monitor
    (PSI < 0.1 stable, 0.1-0.25 shifting, > 0.25 act), here between the
    earlier and later half of the data split at the midpoint of
    `split_col` (epoch-microsecond midpoint — integer arithmetic, no
    order statistics). Bins are EQUI-WIDTH over the global [min, max]:
    quantile-edge PSI needs an exact order statistic per edge (that is
    q97's histogram-narrowing machinery); equi-width keeps the whole
    operator two combinable passes and the bin id one mirrored
    floor((v-lo)/width) expression — the standard variant when the
    binning must be reproducible across engines and snapshots. Returns
    per-bin rows (bin, lo, hi, n_ref, n_cur, term, psi) with the total
    repeated per row.

    Exactness: bin ids and counts are integers off one mirrored double
    floor; Laplace-smoothed shares p=(c+0.5)/(n+B/2) keep empty bins
    finite; each (p-q)*ln(p/q) term is cast DECIMAL(30,15) before the
    sum (r17 ln-parity contract); one surface rounding. Scale: pass 1
    computes 4 scalars (min/max/split bounds), pass 2 is one combinable
    (half, bin) count — the output relation is n_bins rows."""
    from unifydb_spark.resources import tracked_persist

    v = F.col(value_col).cast("double")
    t = F.col(split_col).cast("timestamp").cast("double")
    base = df.filter(v.isNotNull() & t.isNotNull()).select(
        v.alias("v"), t.alias("t")
    )
    bounds = base.agg(
        F.min("v").alias("vlo"),
        F.max("v").alias("vhi"),
        F.min("t").alias("tlo"),
        F.max("t").alias("thi"),
    )
    b = F.lit(int(n_bins))
    j = base.crossJoin(F.broadcast(bounds))
    width = (F.col("vhi") - F.col("vlo")) / b.cast("double")
    # Degenerate domain (max == min): width 0 makes (v-lo)/width NaN and
    # least() skips the null, silently bucketing at bin n_bins-1 while
    # DuckDB diverges — force bin 0 identically on both engines
    # (ADVICE r7). Mirrored in oracle/stats.py psi_report_sql.
    binc = F.when(F.col("vhi") == F.col("vlo"), F.lit(0)).otherwise(
        F.least(
            b - 1,
            F.floor((F.col("v") - F.col("vlo")) / width).cast("int"),
        )
    )
    is_ref = F.col("t") * F.lit(2.0) <= F.col("tlo") + F.col("thi")
    occupied = (
        j.groupBy(
            binc.alias("bin"),
            F.col("vlo"),
            ((F.col("vhi") - F.col("vlo")) / b.cast("double")).alias("_w"),
        )
        .agg(
            F.sum(is_ref.cast("long")).alias("n_ref"),
            F.sum((~is_ref).cast("long")).alias("n_cur"),
        )
    )
    # dense bin spine: a bin empty in BOTH halves still carries a
    # (smoothed) term and must appear in the report
    spine = bounds.select(
        F.explode(F.sequence(F.lit(0), b - 1)).alias("bin"),
        F.col("vlo"),
        ((F.col("vhi") - F.col("vlo")) / b.cast("double")).alias("_w"),
    )
    cells = spine.join(occupied, ["bin", "vlo", "_w"], "left").select(
        "bin",
        "vlo",
        "_w",
        F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
        F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
    )
    cells = tracked_persist(cells)
    tot = cells.agg(
        F.sum("n_ref").alias("tref"), F.sum("n_cur").alias("tcur")
    )
    half_b = float(n_bins) / 2.0
    jt = cells.crossJoin(F.broadcast(tot))
    p = (F.col("n_ref").cast("double") + F.lit(0.5)) / (
        F.col("tref").cast("double") + F.lit(half_b)
    )
    q = (F.col("n_cur").cast("double") + F.lit(0.5)) / (
        F.col("tcur").cast("double") + F.lit(half_b)
    )
    term = ((p - q) * F.log(p / q)).cast("decimal(30,15)")
    terms = jt.select(
        "bin",
        F.round(F.col("vlo") + F.col("bin") * F.col("_w"), 6).alias("lo"),
        F.round(F.col("vlo") + (F.col("bin") + 1) * F.col("_w"), 6).alias(
            "hi"
        ),
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        term.alias("_term"),
    )
    terms = tracked_persist(terms)
    psi = terms.agg(
        F.round(F.sum("_term").cast("string").cast("double"), 6).alias("psi")
    )
    return terms.crossJoin(F.broadcast(psi)).select(
        "bin",
        "lo",
        "hi",
        "n_ref",
        "n_cur",
        F.round(F.col("_term").cast("string").cast("double"), 6).alias("term"),
        "psi",
    )


def theil_decomposition(
    df: "DataFrame", group_col: str, value_col: str
) -> "DataFrame":
    """Theil-T inequality with its exact between/within decomposition —
    the property Gini (r46) famously lacks: T = T_between + T_within
    splits corpus concentration into "sources differ in mean" vs
    "inequality inside each source", which is the number a mixture
    designer actually acts on (re-weight sources vs re-sample within
    one). Positive values only (Theil is defined over positive
    support). Returns per-group rows (group, n_g, mean_g, theil_g,
    contrib_within, contrib_between); the corpus T is the sum of the
    two contrib columns over all rows.

    Exactness: each (x/mu_g) ln(x/mu_g) term is one mirrored double
    cast DECIMAL(30,15) before the per-group SUM (r17 contract); group
    means are single divisions of DECIMAL-exact sums; the global mean
    rides a broadcast 1-row cross join. Scale: one combinable
    per-group (sum, count), one equi-join of rows against group-sized
    stats for the within terms, then everything is group-sized."""
    from unifydb_spark.resources import tracked_persist

    v = F.col(value_col).cast("double")
    base = tracked_persist(
        df.filter(v > 0).select(F.col(group_col).alias("grp"), v.alias("x"))
    )
    gstats = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum(F.col("x").cast("decimal(38,12)"))
        .cast("string")
        .cast("double")
        .alias("s_g"),
    )
    tot = gstats.agg(
        F.sum("n_g").alias("n"),
        F.round(F.sum(F.col("s_g").cast("decimal(38,12)")), 12)
        .cast("string")
        .cast("double")
        .alias("s"),
    )
    mu_g = F.col("s_g") / F.col("n_g").cast("double")
    jr = base.join(F.broadcast(gstats), "grp")
    ratio = F.col("x") / (F.col("s_g") / F.col("n_g").cast("double"))
    term = (ratio * F.log(ratio)).cast("decimal(30,15)")
    within = jr.groupBy("grp").agg(
        F.sum(term).cast("string").cast("double").alias("_tw")
    )
    g = (
        gstats.join(within, "grp")
        .crossJoin(F.broadcast(tot))
    )
    mu = F.col("s") / F.col("n").cast("double")
    theil_g = F.col("_tw") / F.col("n_g").cast("double")
    w_g = (
        F.col("n_g").cast("double")
        / F.col("n").cast("double")
        * (mu_g / mu)
    )
    return g.select(
        F.col("grp").alias(group_col),
        F.col("n_g").cast("bigint").alias("n_g"),
        F.round(mu_g, 6).alias("mean_g"),
        F.round(theil_g, 6).alias("theil_g"),
        F.round(w_g * theil_g, 6).alias("contrib_within"),
        F.round(w_g * F.log(mu_g / mu), 6).alias("contrib_between"),
    )


def wilson_rates(
    df: "DataFrame",
    group_col: str,
    success: "Column",
    z: float = 1.96,
) -> "DataFrame":
    """Per-group success rate with its Wilson score interval — the
    correct small-n confidence band for proportions (the normal
    approximation p ± z*sqrt(pq/n) collapses at p near 0/1 and small n,
    exactly where pipeline gates operate). Returns (group, n, k, rate,
    ci_lo, ci_hi). All inputs to the interval are the two integers
    (n, k); the interval is one mirrored double expression; clamped to
    [0, 1] structurally by the formula. One combinable pass."""
    s = success.cast("boolean")
    agg = df.filter(s.isNotNull()).groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"), F.sum(s.cast("long")).alias("k")
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    z2 = F.lit(float(z) * float(z))
    denom = F.lit(1.0) + z2 / nd
    center = (p + z2 / (F.lit(2.0) * nd)) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(
            p * (F.lit(1.0) - p) / nd
            + z2 / (F.lit(4.0) * nd * nd)
        )
        / denom
    )
    return agg.select(
        F.col(group_col),
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        F.round(p, 6).alias("rate"),
        F.round(center - half, 6).alias("ci_lo"),
        F.round(center + half, 6).alias("ci_hi"),
    )


def hill_tail(
    df: "DataFrame",
    value_col: str,
    id_col: str,
    k: int = 200,
) -> "DataFrame":
    """Hill estimator of the power-law tail exponent over the top-k
    order statistics: H = (1/k) * sum ln(x_(i) / x_(k+1)), alpha = 1/H
    — the quantitative "how heavy is the document-length / degree /
    value tail" behind every skew decision (salting thresholds, packing
    bin sizes, hub cutoffs in q32/q36 are all tail-exponent calls).
    Returns one row (k, x_kplus1, hill_h, alpha).

    The top-(k+1) selection orders by (value desc, id) so boundary ties
    resolve identically on both engines; it compiles to
    TakeOrderedAndProject (per-partition top-k, merge on the driver —
    never a global sort). The ln terms over the k-row relation are
    DECIMAL-summed; x_(k+1) joins back as a broadcast 1-row min."""
    from unifydb_spark.resources import tracked_persist

    v = F.col(value_col).cast("double")
    top = tracked_persist(
        df.filter(v > 0)
        .select(v.alias("x"), F.col(id_col).alias("_id"))
        .orderBy(F.col("x").desc(), F.col("_id").asc())
        .limit(int(k) + 1)
    )
    xmin = top.agg(
        F.min("x").alias("x_k1"), F.count(F.lit(1)).alias("_ntop")
    )
    terms = (
        top.crossJoin(F.broadcast(xmin))
        .filter(F.col("x") > F.col("x_k1"))
        .select(
            F.log(F.col("x") / F.col("x_k1")).cast("decimal(30,15)").alias(
                "t"
            ),
            "x_k1",
            "_ntop",
        )
    )
    agg = terms.groupBy("x_k1", "_ntop").agg(
        F.sum("t").cast("string").cast("double").alias("_s"),
    )
    # Divide by the number of top-order statistics actually observed,
    # min(k, n_pos - 1) = ntop - 1: with fewer than k+1 positive values
    # the constant-k divisor silently underestimates H (ADVICE r7).
    # NOT the strictly-greater term count — boundary ties contribute
    # ln(1)=0 but still count among the k. Mirrored in oracle/stats.py
    # hill_tail_sql.
    h = F.col("_s") / (F.col("_ntop") - 1).cast("double")
    return agg.select(
        F.lit(int(k)).cast("int").alias("k"),
        F.round(F.col("x_k1"), 6).alias("x_kplus1"),
        F.round(h, 6).alias("hill_h"),
        F.round(F.lit(1.0) / h, 6).alias("alpha"),
    )


def psi_between_windows(
    counts: "DataFrame",
    day_col: str = "day",
    bin_col: str = "bin",
    n_col: str = "n",
    n_bins: int = 12,
) -> "DataFrame":
    """PSI of each window's metric histogram against the PREVIOUS
    window — the fold half of the streaming drift monitor (pair of
    stream_binned_counts): consecutive-window PSI is the "did today's
    traffic change shape vs yesterday" alarm, computed entirely on the
    (windows x bins)-sized count relation the stream emits. Day keys
    are 'yyyy-MM-dd' strings; the previous day is resolved by date
    arithmetic, so a fully missing window simply yields no row (its
    successor compares against the gap — by design: an empty day IS
    maximal drift and r25 already alarms on volume). Returns
    (day, n_day, psi_vs_prev) for every day with a predecessor.

    Exactness: bins densify over a (days x n_bins) spine so both
    sides see identical zero cells; Laplace-smoothed shares and
    DECIMAL-summed (p-q)ln(p/q) terms (the r56 formulation). Scale:
    everything runs on the calendar x bins relation."""
    from unifydb_spark.resources import tracked_persist

    days = counts.select(F.col(day_col).alias("day")).distinct()
    spine = days.crossJoin(
        F.broadcast(
            counts.sparkSession.range(int(n_bins)).select(
                F.col("id").cast("int").alias("bin")
            )
        )
    )
    dense = tracked_persist(
        spine.join(
            counts.select(
                F.col(day_col).alias("day"),
                F.col(bin_col).cast("int").alias("bin"),
                F.col(n_col).cast("long").alias("n"),
            ),
            ["day", "bin"],
            "left",
        ).select("day", "bin", F.coalesce("n", F.lit(0)).alias("n"))
    )
    tots = dense.groupBy("day").agg(F.sum("n").alias("tot"))
    cur = (
        dense.join(F.broadcast(tots), "day")
        .select(
            "day",
            "bin",
            F.col("n").alias("n_cur"),
            F.col("tot").alias("t_cur"),
            F.date_format(
                F.date_sub(F.to_date("day"), 1), "yyyy-MM-dd"
            ).alias("prev_day"),
        )
    )
    prev = dense.join(F.broadcast(tots), "day").select(
        F.col("day").alias("prev_day"),
        "bin",
        F.col("n").alias("n_prev"),
        F.col("tot").alias("t_prev"),
    )
    j = cur.join(prev, ["prev_day", "bin"])
    half_b = float(n_bins) / 2.0
    p = (F.col("n_prev").cast("double") + F.lit(0.5)) / (
        F.col("t_prev").cast("double") + F.lit(half_b)
    )
    q = (F.col("n_cur").cast("double") + F.lit(0.5)) / (
        F.col("t_cur").cast("double") + F.lit(half_b)
    )
    term = ((p - q) * F.log(p / q)).cast("decimal(30,15)")
    return j.groupBy("day").agg(
        F.max("t_cur").cast("bigint").alias("n_day"),
        F.round(F.sum(term).cast("string").cast("double"), 6).alias(
            "psi_vs_prev"
        ),
    )


def lift_curve(
    df: "DataFrame",
    score_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> "DataFrame":
    """Cumulative gains / lift table: rank rows by model score
    descending, cut into `n_buckets` equal buckets, and report each
    bucket's response rate, cumulative capture (share of all positives
    reached so far) and cumulative lift vs the base rate — the
    campaign-targeting / triage-ordering eval that AUC (r30) summarizes
    away ("how much of the value do the top 2 deciles hold?").
    Returns (bucket, n, n_pos, rate, cum_capture, cum_lift).

    Ranking uses the q91 scalable numbering on (score desc, id) — a
    unique composite, no single-partition sort; the bucket id is
    integer ((rn-1)*B div n). Counts are integers; every rate is a
    single mirrored division off a cumulative window over the
    B-row bucket relation."""
    from pyspark.sql import Window
    from unifydb_spark.operators.layout import global_row_number

    s = F.col(score_col).cast("double")
    lbl = label_col if not isinstance(label_col, str) else F.col(label_col)
    y = lbl.cast("boolean")
    base = df.select(
        (-s).alias("_neg_s"), F.col(id_col).alias("_id"), y.alias("_y")
    )
    n = base.count()
    numbered = global_row_number(base, ["_neg_s", "_id"], out_col="_gix")
    B = int(n_buckets)
    buckets = (
        numbered.select(
            F.expr(f"((_gix - 1) * {B}) DIV {n}").alias("bucket"), "_y"
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_y").cast("long")).alias("n_pos"),
        )
    )
    w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy()
    cum_pos = F.sum("n_pos").over(w)
    cum_n = F.sum("n").over(w)
    all_pos = F.sum("n_pos").over(tot)
    all_n = F.sum("n").over(tot)
    base_rate = all_pos.cast("double") / all_n.cast("double")
    return buckets.select(
        F.col("bucket").cast("int").alias("bucket"),
        F.col("n").cast("bigint").alias("n"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.round(F.col("n_pos").cast("double") / F.col("n").cast("double"), 6)
        .alias("rate"),
        F.round(
            F.when(
                all_pos > 0, cum_pos.cast("double") / all_pos.cast("double")
            ),
            6,
        ).alias("cum_capture"),
        F.round(
            F.when(
                all_pos > 0,
                (cum_pos.cast("double") / cum_n.cast("double")) / base_rate,
            ),
            6,
        ).alias("cum_lift"),
    )


def weighted_quantiles(
    df: "DataFrame",
    group_col: str,
    value_col: str,
    weight_col: str,
    probs: tuple = (0.25, 0.5, 0.75),
) -> "DataFrame":
    """Per-group WEIGHTED quantiles (lower weighted order statistic):
    the value at which cumulative weight first reaches p * total
    weight — the mixture-design quantile ("the median document BY
    TOKEN MASS, not by document count"), which unweighted quantiles
    (r09/q97) get wrong whenever size and count diverge (always, for
    corpora). Integer-exact: weights are summed as integers and the
    threshold compare is cross-multiplied (cumw * 1 >= p_num * W /
    p_den), so no float edge decides a quantile. Returns
    (group, p, value, w_total).

    Scale: one combinable (group, value) weight collapse, then a
    group-partitioned cumulative window over the distinct-value
    relation and one first-hit MIN per (group, p) — the same
    distinct-collapse shape as r53's KS."""
    from pyspark.sql import Window
    from unifydb_spark.resources import tracked_persist

    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("long")
    per_val = (
        df.filter(v.isNotNull() & w.isNotNull() & (w > 0))
        .groupBy(F.col(group_col).alias("grp"), v.alias("v"))
        .agg(F.sum(w).alias("wv"))
    )
    win = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("grp")
    cum = tracked_persist(
        per_val.select(
            "grp",
            "v",
            F.sum("wv").over(win).alias("cumw"),
            F.sum("wv").over(tot).alias("wtot"),
        )
    )
    import math

    rows = []
    for p in probs:
        frac = float(p)
        num = int(round(frac * 1_000_000))
        # Reduce p to lowest terms and compare in DECIMAL(38,0):
        # cumw * 1e6 overflows BIGINT once a group's weight mass passes
        # ~9.2e12 (token counts at 100 TB scale) — ADVICE r7. Mirrored
        # in oracle/stats.py weighted_quantiles_sql.
        g = math.gcd(num, 1_000_000) or 1
        num_r, den_r = num // g, 1_000_000 // g
        hit = (
            cum.filter(
                F.col("cumw").cast("decimal(38,0)") * F.lit(den_r)
                >= F.lit(num_r) * F.col("wtot").cast("decimal(38,0)")
            )
            .groupBy("grp")
            .agg(F.min("v").alias("value"), F.max("wtot").alias("wtot"))
        )
        rows.append(
            hit.select(
                F.col("grp").alias(group_col),
                F.lit(frac).alias("p"),
                F.round(F.col("value"), 6).alias("value"),
                F.col("wtot").cast("bigint").alias("w_total"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def mad_outliers(
    df: "DataFrame",
    group_col: str,
    value_col: str,
    k: float = 3.0,
) -> "DataFrame":
    """Robust per-group outlier report via the Median Absolute
    Deviation: median, MAD = median(|x - median|), and the count of
    values beyond k * 1.4826 * MAD (1.4826 scales MAD to sigma under
    normality) — the outlier detector that, unlike z-scores (r22), is
    not itself dragged by the outliers it hunts. Returns (group, n,
    median, mad, n_outliers) ordered by group.

    Exactness: both medians come from the exact histogram-narrowing
    grouped quantiler (r09 machinery — no per-executor value buffers),
    ROUNDED to 4 decimals before the deviation/threshold arithmetic on
    BOTH engines, so every downstream comparison sees identical
    doubles. Scale: two narrowing passes (shared rounds across groups)
    + one combinable count — the entire driver state is
    O(groups) quantile targets."""
    from unifydb_spark.resources import tracked_persist

    base = tracked_persist(
        df.select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(value_col).cast("double").alias("v"),
        ).filter(F.col("v").isNotNull())
    )
    med = exact_group_quantiles_scalable(
        base, "grp", "v", probs=(0.5,)
    ).select(F.col("grp"), F.col("value").alias("med"))
    dev = tracked_persist(
        base.join(F.broadcast(med), "grp").select(
            "grp", "v", "med", F.abs(F.col("v") - F.col("med")).alias("d")
        )
    )
    mad = exact_group_quantiles_scalable(
        dev, "grp", "d", probs=(0.5,)
    ).select(F.col("grp"), F.col("value").alias("mad"))
    thresh = F.lit(float(k)) * F.lit(1.4826) * F.col("mad")
    return (
        dev.join(F.broadcast(mad), "grp")
        .groupBy("grp", "med", "mad")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("d") > thresh, 1).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n",
            F.col("med").alias("median"),
            "mad",
            "n_outliers",
        )
        .orderBy(group_col)
    )


# Cumulative Poisson(1) probabilities c_k = e^-1 * sum_{i<=k} 1/i!,
# shared verbatim by the DataFrame op and the SQL oracle so the
# hash -> weight mapping is bit-identical in both engines.
_POIS1_CUM = (
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253,
)


def bootstrap_ci(
    df: "DataFrame",
    value_col: str,
    key_col: str,
    n_replicates: int = 32,
    salt: str = "boot",
    lo_p: float = 0.025,
    hi_p: float = 0.975,
) -> "DataFrame":
    """Poisson-bootstrap confidence interval for the mean (the
    streaming/scale bootstrap of Chamandy et al. 2012, public method):
    classical bootstrap resampling needs n draws per replicate from one
    coordinated sampler — impossible to distribute — but Binomial(n,
    1/n) -> Poisson(1), so each ROW independently draws its own weight
    per replicate and every replicate mean is one combinable
    aggregation. Weights are DETERMINISTIC: u = md5(salt:key:replicate)
    first-8-hex / 16^8, inverse-CDF'd through the shared _POIS1_CUM
    thresholds (truncated at 8, P(>8) ~ 1e-5) — reproducible across
    engines, partitionings and reruns, like every sampler in this repo.

    Returns ONE row: (n bigint, mean, ci_lo, ci_hi, n_replicates) —
    mean is the full-data DECIMAL-exact mean; ci_lo/ci_hi are the
    lo_p/hi_p quantiles of the replicate means (percentile /
    quantile_cont parity contract over an n_replicates-sized
    relation).

    Scale: one explode to rows x R, one combinable groupBy(replicate)
    (R partial sums per task), then all remaining relations are
    R-sized. No collect, no sort over raw rows."""
    R = int(n_replicates)
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{salt}:"),
                        F.col("__k").cast("string"),
                        F.lit(":"),
                        F.col("__r").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(16 ** 8))
    )
    w = F.lit(len(_POIS1_CUM))
    for k in range(len(_POIS1_CUM) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS1_CUM[k]), F.lit(k)).otherwise(w)
    ex = df.select(
        F.col(key_col).alias("__k"),
        F.col(value_col).cast("double").alias("__x"),
        F.explode(F.sequence(F.lit(1), F.lit(R))).alias("__r"),
    ).select("__r", "__x", w.alias("__w"))
    reps = ex.groupBy("__r").agg(
        (
            F.sum((F.col("__w").cast("double") * F.col("__x"))
                  .cast("decimal(30,15)"))
            .cast("string").cast("double")
            / F.sum("__w").cast("double")
        ).alias("rmean")
    )
    base = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum(F.col(value_col).cast("double").cast("decimal(30,15)"))
            .cast("string").cast("double")
            / F.count(F.lit(1))
        ).alias("mean"),
    )
    ci = reps.agg(
        F.round(
            F.percentile(F.col("rmean"), F.lit(float(lo_p))), 6
        ).alias("ci_lo"),
        F.round(
            F.percentile(F.col("rmean"), F.lit(float(hi_p))), 6
        ).alias("ci_hi"),
    )
    return base.crossJoin(F.broadcast(ci)).select(
        "n",
        F.round("mean", 6).alias("mean"),
        "ci_lo",
        "ci_hi",
        F.lit(R).cast("int").alias("n_replicates"),
    )


def target_encoding(
    df: "DataFrame",
    cat_col: str,
    target_col: str,
    key_col: str,
    n_folds: int = 5,
    salt: str = "fold",
) -> "DataFrame":
    """Leakage-free out-of-fold target encoding (the standard
    mean-encoding recipe for categorical features, public method —
    cf. Micci-Barreca 2001 + the K-fold variant every gradient-boosting
    pipeline uses): the encoding a row sees must exclude its OWN
    fold's rows, or the feature leaks the label. Folds are
    deterministic (md5(salt:key) mod n_folds — append-stable, the
    holdout-split contract); the out-of-fold mean is computed by the
    total-minus-own-fold identity, so the whole operator is ONE
    combinable groupBy(category, fold) followed by
    category-cardinality-sized arithmetic — no per-fold rescan of the
    raw rows, no window over raw rows.

    Returns (cat, fold, n_in_fold, n_oof, enc_oof): enc_oof =
    (sum_cat - sum_cat_fold) / (n_cat - n_cat_fold), NULL when the
    category appears only in that fold (no out-of-fold rows).
    DECIMAL(30,15) partial sums keep the subtraction exact; one
    surface rounding."""
    fold = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"),
                               F.col(key_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(int(n_folds)),
    )
    cell = (
        df.select(
            F.col(cat_col).alias("cat"),
            fold.alias("fold"),
            F.col(target_col).cast("double").alias("y"),
        )
        .groupBy("cat", "fold")
        .agg(
            F.count(F.lit(1)).alias("nf"),
            F.sum(F.col("y").cast("decimal(30,15)")).alias("sf"),
        )
    )
    tot = cell.groupBy(F.col("cat").alias("tcat")).agg(
        F.sum("nf").alias("nc"), F.sum("sf").alias("sc")
    )
    j = cell.join(F.broadcast(tot), F.col("cat") == F.col("tcat"))
    oof_n = (F.col("nc") - F.col("nf")).cast("bigint")
    oof_sum = (F.col("sc") - F.col("sf")).cast("string").cast("double")
    return j.select(
        "cat",
        F.col("fold").cast("int").alias("fold"),
        F.col("nf").cast("bigint").alias("n_in_fold"),
        oof_n.alias("n_oof"),
        F.when(
            oof_n > 0, F.round(oof_sum / oof_n.cast("double"), 6)
        ).alias("enc_oof"),
    )


def cuped_lift(
    df: "DataFrame",
    unit_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    salt: str = "arm",
) -> "DataFrame":
    """CUPED variance-reduced A/B lift (Deng et al. 2013, public
    method): the pre-period covariate X absorbs between-user variance
    from the experiment metric Y — Y' = Y - theta * X with theta =
    cov(X, Y) / var(X) — typically halving the sample needed for the
    same power. Here the calendar midpoint splits each unit's activity
    into pre (X = value sum, day <= mid) and post (Y, day > mid), and
    the arm is a deterministic md5 coin (md5(salt:unit) mod 2 — the
    hash_sample contract, so assignment is reproducible and
    append-stable). Returns ONE row: (n_units, theta, var_y, var_yadj,
    var_reduction_pct, lift_raw, lift_cuped).

    Shape: one pass to per-unit (arm, x, y) — a combinable groupBy
    with the day bounds riding a 1-row broadcast cross join — then a
    2-row per-arm moment relation (n, Sx, Sy, Sxy, Sxx, Syy as
    DECIMAL(30,15) sums); every downstream formula (pooled theta,
    variances via the closed form var(Y - tX) = var_y - 2t*cov +
    t^2*var_x, lifts) is identically-ordered double arithmetic over
    those exact sums — no second pass over raw rows, no collect.

    theta is 0 when var(X) is 0 (identical CASE in both engines)."""
    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01"))
    bounds = df.agg(
        F.min(day).alias("mn"), F.max(day).alias("mx")
    )
    arm = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"),
                               F.col(unit_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(2),
    )
    mid = F.expr("(mn + mx) DIV 2")
    per_unit = (
        df.select(
            F.col(unit_col).alias("u"),
            day.alias("d"),
            F.col(value_col).cast("double").alias("v"),
            arm.alias("arm"),
        )
        .crossJoin(F.broadcast(bounds))
        .groupBy("u", "arm")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("d") <= mid, F.col("v"))
                    .cast("decimal(30,15)")
                ).cast("string").cast("double"),
                F.lit(0.0),
            ).alias("x"),
            F.coalesce(
                F.sum(
                    F.when(F.col("d") > mid, F.col("v"))
                    .cast("decimal(30,15)")
                ).cast("string").cast("double"),
                F.lit(0.0),
            ).alias("y"),
        )
    )
    dec = "decimal(30,15)"
    arms = per_unit.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).cast("string").cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("string").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec))
        .cast("string").cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec))
        .cast("string").cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec))
        .cast("string").cast("double").alias("syy"),
    )
    pooled = arms.agg(
        F.sum("n").cast("double").alias("n"),
        F.sum(F.col("sx").cast(dec)).cast("string").cast("double").alias("sx"),
        F.sum(F.col("sy").cast(dec)).cast("string").cast("double").alias("sy"),
        F.sum(F.col("sxy").cast(dec)).cast("string").cast("double")
        .alias("sxy"),
        F.sum(F.col("sxx").cast(dec)).cast("string").cast("double")
        .alias("sxx"),
        F.sum(F.col("syy").cast(dec)).cast("string").cast("double")
        .alias("syy"),
    )
    n = F.col("n")
    mean_x = F.col("sx") / n
    mean_y = F.col("sy") / n
    var_x = F.col("sxx") / n - mean_x * mean_x
    var_y = F.col("syy") / n - mean_y * mean_y
    cov = F.col("sxy") / n - mean_x * mean_y
    theta = F.when(var_x > F.lit(0.0), cov / var_x).otherwise(F.lit(0.0))
    var_adj = var_y - F.lit(2.0) * theta * cov + theta * theta * var_x
    g = pooled.select(
        n.cast("bigint").alias("n_units"),
        theta.alias("th"),
        var_y.alias("vy"),
        var_adj.alias("va"),
    )
    a0 = arms.filter(F.col("arm") == 0).select(
        (F.col("sy") / F.col("n")).alias("my0"),
        (F.col("sx") / F.col("n")).alias("mx0"),
    )
    a1 = arms.filter(F.col("arm") == 1).select(
        (F.col("sy") / F.col("n")).alias("my1"),
        (F.col("sx") / F.col("n")).alias("mx1"),
    )
    return (
        g.crossJoin(F.broadcast(a0))
        .crossJoin(F.broadcast(a1))
        .select(
            "n_units",
            F.round("th", 6).alias("theta"),
            F.round("vy", 4).alias("var_y"),
            F.round("va", 4).alias("var_yadj"),
            F.round(
                F.when(
                    F.col("vy") > F.lit(0.0),
                    F.lit(100.0)
                    * (F.lit(1.0) - F.col("va") / F.col("vy")),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("var_reduction_pct"),
            F.round(F.col("my1") - F.col("my0"), 6).alias("lift_raw"),
            F.round(
                (F.col("my1") - F.col("my0"))
                - F.col("th") * (F.col("mx1") - F.col("mx0")),
                6,
            ).alias("lift_cuped"),
        )
    )


# z_{alpha/2} for alpha=0.05 and z_beta for 80% power — the standard
# power-analysis constants, shared verbatim by both engines.
_Z_ALPHA2 = 1.959963984540054
_Z_BETA = 0.8416212335729143


def ab_health(
    df: "DataFrame",
    unit_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    salt: str = "arm",
) -> "DataFrame":
    """A/B experiment health readout (public methods: the SRM check of
    Fabijan et al. 2019 + classical power analysis + CUPED): the three
    numbers an experimentation platform shows before anyone reads a
    lift. Returns ONE row:
      - n_arm0/n_arm1 and srm_z = (n1 - n0)/sqrt(n0 + n1), srm_flag
        (|z| > 3 — a sample-ratio mismatch means the assignment or
        logging is broken and every downstream readout is invalid);
      - mde_raw: the minimum detectable effect at alpha=.05 / 80%
        power, (z_a/2 + z_b) * sqrt(2 * var_y / n_min);
      - mde_cuped: same with CUPED's adjusted variance (r107's closed
        form) — the "how much sooner can we ship" number.

    Arms and the pre/post covariate reuse the r107 machinery (same
    md5 coin, same calendar-midpoint split), so srm/power/lift
    readouts all describe the SAME experiment. One pass to per-unit
    rows, 2-row moments, scalar arithmetic after."""
    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01"))
    bounds = df.agg(F.min(day).alias("mn"), F.max(day).alias("mx"))
    arm = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"),
                               F.col(unit_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(2),
    )
    mid = F.expr("(mn + mx) DIV 2")
    dec = "decimal(30,15)"
    per_unit = (
        df.select(
            F.col(unit_col).alias("u"),
            day.alias("d"),
            F.col(value_col).cast("double").alias("v"),
            arm.alias("arm"),
        )
        .crossJoin(F.broadcast(bounds))
        .groupBy("u", "arm")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("d") <= mid, F.col("v")).cast(dec))
                .cast("string").cast("double"),
                F.lit(0.0),
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("d") > mid, F.col("v")).cast(dec))
                .cast("string").cast("double"),
                F.lit(0.0),
            ).alias("y"),
        )
    )
    arms = per_unit.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).cast("string").cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("string").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec))
        .cast("string").cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec))
        .cast("string").cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec))
        .cast("string").cast("double").alias("syy"),
    )
    pooled = arms.agg(
        F.sum("n").cast("double").alias("n"),
        F.sum(F.col("sx").cast(dec)).cast("string").cast("double").alias("sx"),
        F.sum(F.col("sy").cast(dec)).cast("string").cast("double").alias("sy"),
        F.sum(F.col("sxy").cast(dec)).cast("string").cast("double")
        .alias("sxy"),
        F.sum(F.col("sxx").cast(dec)).cast("string").cast("double")
        .alias("sxx"),
        F.sum(F.col("syy").cast(dec)).cast("string").cast("double")
        .alias("syy"),
    )
    n = F.col("n")
    mean_x, mean_y = F.col("sx") / n, F.col("sy") / n
    var_x = F.col("sxx") / n - mean_x * mean_x
    var_y = F.col("syy") / n - mean_y * mean_y
    cov = F.col("sxy") / n - mean_x * mean_y
    theta = F.when(var_x > F.lit(0.0), cov / var_x).otherwise(F.lit(0.0))
    var_adj = var_y - F.lit(2.0) * theta * cov + theta * theta * var_x
    g = pooled.select(var_y.alias("vy"), var_adj.alias("va"))
    n0 = arms.filter(F.col("arm") == 0).select(
        F.col("n").alias("n0")
    )
    n1 = arms.filter(F.col("arm") == 1).select(
        F.col("n").alias("n1")
    )
    zc = F.lit(_Z_ALPHA2 + _Z_BETA)
    nmin = F.least(F.col("n0"), F.col("n1")).cast("double")
    srm_z = (
        (F.col("n1") - F.col("n0")).cast("double")
        / F.sqrt((F.col("n0") + F.col("n1")).cast("double"))
    )
    return (
        g.crossJoin(F.broadcast(n0)).crossJoin(F.broadcast(n1))
        .select(
            F.col("n0").cast("bigint").alias("n_arm0"),
            F.col("n1").cast("bigint").alias("n_arm1"),
            F.round(srm_z, 6).alias("srm_z"),
            (F.abs(srm_z) > F.lit(3.0)).alias("srm_flag"),
            F.round(zc * F.sqrt(F.lit(2.0) * F.col("vy") / nmin), 6)
            .alias("mde_raw"),
            F.round(zc * F.sqrt(F.lit(2.0) * F.col("va") / nmin), 6)
            .alias("mde_cuped"),
        )
    )


def ratio_metric_ci(
    df: "DataFrame",
    unit_col: str,
    num_expr,
    den_expr,
    z: float = 1.959963984540054,
) -> "DataFrame":
    """Delta-method CI for a ratio-of-sums metric (the standard
    experimentation-platform treatment of CTR-like metrics, public
    method — Deng, Knoblich & Lu 2018): R = sum(num)/sum(den) over
    per-unit totals is NOT a mean of independent values (units
    contribute unequal denominators), so the naive SE is wrong; the
    delta method gives var(R) ~= (v_n - 2R*cov + R^2*v_d) /
    (n * mean_den^2) from per-unit (num, den) moments. Returns ONE
    row: (n_units, ratio, se, ci_lo, ci_hi).

    num_expr / den_expr are per-ROW Columns (e.g. a value for one
    event type, a count indicator); the per-unit totals are one
    combinable groupBy, the moments a second (DECIMAL(30,15) sums),
    and everything after is scalar double arithmetic identical in
    both engines. Sample (n-1) variance/covariance; se is NULL when
    n < 2 or mean_den == 0 (identical CASE on both sides)."""
    dec = "decimal(30,15)"
    per_unit = (
        df.groupBy(F.col(unit_col).alias("u"))
        .agg(
            F.coalesce(
                F.sum(num_expr.cast("double").cast(dec))
                .cast("string").cast("double"),
                F.lit(0.0),
            ).alias("nu"),
            F.coalesce(
                F.sum(den_expr.cast("double").cast(dec))
                .cast("string").cast("double"),
                F.lit(0.0),
            ).alias("de"),
        )
    )
    m = per_unit.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("nu").cast(dec)).cast("string").cast("double")
        .alias("sn"),
        F.sum(F.col("de").cast(dec)).cast("string").cast("double")
        .alias("sd"),
        F.sum((F.col("nu") * F.col("nu")).cast(dec))
        .cast("string").cast("double").alias("snn"),
        F.sum((F.col("de") * F.col("de")).cast(dec))
        .cast("string").cast("double").alias("sdd"),
        F.sum((F.col("nu") * F.col("de")).cast(dec))
        .cast("string").cast("double").alias("snd"),
    )
    n = F.col("n")
    mn, md = F.col("sn") / n, F.col("sd") / n
    vn = (F.col("snn") - n * mn * mn) / (n - F.lit(1.0))
    vd = (F.col("sdd") - n * md * md) / (n - F.lit(1.0))
    cov = (F.col("snd") - n * mn * md) / (n - F.lit(1.0))
    ratio = F.col("sn") / F.col("sd")
    var_r = (vn - F.lit(2.0) * ratio * cov + ratio * ratio * vd) / (
        n * md * md
    )
    se = F.when(
        (n > F.lit(1.0)) & (md != F.lit(0.0)), F.sqrt(var_r)
    )
    return m.select(
        n.cast("bigint").alias("n_units"),
        F.round(ratio, 6).alias("ratio"),
        F.round(se, 6).alias("se"),
        F.round(ratio - F.lit(float(z)) * se, 6).alias("ci_lo"),
        F.round(ratio + F.lit(float(z)) * se, 6).alias("ci_hi"),
    )


def icc_design_effect(
    df: "DataFrame",
    group_col: str,
    value_col: str,
) -> "DataFrame":
    """Intraclass correlation + design effect (classical one-way ANOVA
    estimator, public method; the experiment-design readout for
    cluster-randomized metrics): ICC = (MSB - MSW) / (MSB + (m_bar -
    1) * MSW) with m_bar the average cluster size, and DEFF = 1 +
    (m_bar - 1) * ICC — how many times more units a cluster-randomized
    experiment needs than an independent-unit one. Returns ONE row:
    (n_groups, n_rows, m_bar, msb, msw, icc, deff).

    Shape: one combinable groupBy(group) for per-cluster (n, sum,
    sumsq) DECIMAL partials, then group-cardinality-sized sums and
    scalar double arithmetic mirrored across engines. ICC clamps at 0
    when MSB < MSW (identical CASE both sides); NULL when fewer than
    2 groups or no within-group df."""
    dec = "decimal(30,15)"
    g = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(value_col).cast("double").alias("v"),
        )
        .filter(F.col("v").isNotNull())
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum(F.col("v").cast(dec)).alias("s"),
            F.sum((F.col("v") * F.col("v")).cast(dec)).alias("ss"),
        )
    )
    m = g.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("m").cast("double").alias("n"),
        F.sum(F.col("s").cast(dec)).cast("string").cast("double")
        .alias("st"),
        F.sum(F.col("ss").cast(dec)).cast("string").cast("double")
        .alias("sst"),
        F.sum(
            (
                (F.col("s").cast("string").cast("double")
                 * F.col("s").cast("string").cast("double"))
                / F.col("m").cast("double")
            ).cast(dec)
        ).cast("string").cast("double").alias("sb"),
    )
    k, n = F.col("k"), F.col("n")
    # SSB = sum(s_g^2/m_g) - st^2/n ; SSW = sst - sum(s_g^2/m_g)
    ssb = F.col("sb") - (F.col("st") * F.col("st")) / n
    ssw = F.col("sst") - F.col("sb")
    msb = ssb / (k - F.lit(1.0))
    msw = ssw / (n - k)
    mbar = n / k
    icc_raw = (msb - msw) / (msb + (mbar - F.lit(1.0)) * msw)
    icc = F.when(
        (k > F.lit(1.0)) & (n > k),
        F.when(icc_raw > F.lit(0.0), icc_raw).otherwise(F.lit(0.0)),
    )
    return m.select(
        k.cast("bigint").alias("n_groups"),
        n.cast("bigint").alias("n_rows"),
        F.round(mbar, 4).alias("m_bar"),
        F.round(msb, 6).alias("msb"),
        F.round(msw, 6).alias("msw"),
        F.round(icc, 6).alias("icc"),
        F.round(F.lit(1.0) + (mbar - F.lit(1.0)) * icc, 4).alias("deff"),
    )


def threshold_tuning(
    df: "DataFrame",
    score_col: str,
    label_col,
) -> "DataFrame":
    """Decision-threshold tuning curve (the step after training any
    scorer, e.g. r103's quality classifier — public method): for every
    DISTINCT observed score s, the confusion counts and P/R/F1 of the
    rule `predict positive iff score >= s`. Reading the table top-down
    is the precision/recall trade; argmax F1 is the deployed
    threshold. Returns per threshold: (threshold, tp, fp, fn,
    precision, recall, f1) ordered by threshold descending.

    Shape: one combinable groupBy(score) with per-score positive/total
    counts (score-cardinality-sized — the histogram contract), then
    cumulative sums ordered by score DESC over that bounded relation
    and two broadcast 1-row totals. Integer counts; the three ratios
    are mirrored single divisions, NULL when undefined (no predicted
    positives / no true positives) identically in both engines."""
    per_score = (
        df.select(
            F.col(score_col).cast("double").alias("s"),
            F.when(label_col, 1).otherwise(0).alias("y"),
        )
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("pos"),
        )
    )
    from pyspark.sql import Window

    w = (
        Window.orderBy(F.col("s").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = per_score.agg(
        F.sum("pos").alias("tot_pos")
    )
    cum = per_score.select(
        "s",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cp"),
    ).crossJoin(F.broadcast(tot))
    tp = F.col("cp")
    fp = F.col("cn") - F.col("cp")
    fn = F.col("tot_pos") - F.col("cp")
    prec = F.when(
        F.col("cn") > 0, tp.cast("double") / F.col("cn").cast("double")
    )
    rec = F.when(
        F.col("tot_pos") > 0,
        tp.cast("double") / F.col("tot_pos").cast("double"),
    )
    f1 = F.when(
        (F.lit(2) * tp + fp + fn) > 0,
        (F.lit(2) * tp).cast("double")
        / (F.lit(2) * tp + fp + fn).cast("double"),
    )
    return cum.select(
        F.col("s").alias("threshold"),
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def gini_split(
    df: "DataFrame",
    feature_col: str,
    label_col,
) -> "DataFrame":
    """Best single-threshold split by Gini impurity (the CART stump
    primitive, Breiman et al. 1984 — public method): for every
    distinct observed feature value t, the weighted Gini of the split
    `left = feature <= t` vs right, and a best-split flag (lowest
    impurity, ties to the smallest threshold) — step one of any tree
    learner, and on its own the 'most informative cutpoint' report.
    Returns per threshold: (threshold, n_left, pos_left, n_right,
    pos_right, gini_split, is_best), thresholds ascending; the max
    feature value (empty right side) is excluded as a non-split.

    Shape: ONE combinable groupBy(feature) over raw rows; cumulative
    sums and the best-flag window run over the feature-cardinality-
    bounded histogram relation (the r127 contract); totals ride a
    1-row broadcast. Gini terms are mirrored double divisions from
    integer counts."""
    from pyspark.sql import Window

    per = (
        df.select(
            F.col(feature_col).cast("double").alias("v"),
            F.when(label_col, 1).otherwise(0).alias("y"),
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    tot = per.agg(
        F.sum("n").alias("tn"), F.sum("pos").alias("tp")
    )
    cum = per.select(
        "v",
        F.sum("n").over(w).alias("nl"),
        F.sum("pos").over(w).alias("pl"),
    ).crossJoin(F.broadcast(tot)).filter(F.col("nl") < F.col("tn"))
    nl = F.col("nl").cast("double")
    nr = (F.col("tn") - F.col("nl")).cast("double")
    pl = F.col("pl").cast("double") / nl
    pr = (F.col("tp") - F.col("pl")).cast("double") / nr
    gl = F.lit(1.0) - pl * pl - (F.lit(1.0) - pl) * (F.lit(1.0) - pl)
    gr = F.lit(1.0) - pr * pr - (F.lit(1.0) - pr) * (F.lit(1.0) - pr)
    tn = F.col("tn").cast("double")
    gsplit = (nl / tn) * gl + (nr / tn) * gr
    scored = cum.select(
        F.col("v").alias("threshold"),
        F.col("nl").cast("bigint").alias("n_left"),
        F.col("pl").cast("bigint").alias("pos_left"),
        (F.col("tn") - F.col("nl")).cast("bigint").alias("n_right"),
        (F.col("tp") - F.col("pl")).cast("bigint").alias("pos_right"),
        F.round(gsplit, 6).alias("gini_split"),
        gsplit.alias("__g"),
    )
    wb = Window.orderBy(F.col("__g").asc(), F.col("threshold").asc())
    return (
        scored.withColumn("rn", F.row_number().over(wb))
        .select(
            "threshold", "n_left", "pos_left", "n_right", "pos_right",
            "gini_split",
            (F.col("rn") == 1).alias("is_best"),
        )
    )


def srm_by_segment(
    df: "DataFrame",
    segment_col: str,
    unit_col: str = "user_id",
    salt: str = "arm",
    z_crit: float = 3.0,
) -> "DataFrame":
    """Segment-sliced sample-ratio-mismatch check (the follow-up to
    r108's global SRM, per Fabijan et al.: a global 50/50 can hide a
    broken segment — e.g. one platform's logging drops an arm): per
    segment, the DISTINCT units in each md5 arm, the z-score of the
    observed split vs 50/50, and a |z| >= z_crit flag. Returns
    (segment, n_arm0, n_arm1, srm_z, flagged).

    Shape: one combinable distinct (segment, unit) collapse (a unit
    may appear in many segments — each segment judges its own
    population), then a segment-cardinality-sized arithmetic pass.
    The arm is the same md5 coin as r107/r108, so this slices the
    SAME experiment."""
    arm = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"),
                               F.col("u").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(2),
    )
    per = (
        df.select(F.col(segment_col).alias("segment"),
                  F.col(unit_col).alias("u"))
        .distinct()
        .select("segment", "u", arm.alias("a"))
        .groupBy("segment")
        .agg(
            F.sum(F.when(F.col("a") == 0, 1).otherwise(0)).alias("n0"),
            F.sum(F.when(F.col("a") == 1, 1).otherwise(0)).alias("n1"),
        )
    )
    z = (
        (F.col("n1") - F.col("n0")).cast("double")
        / F.sqrt((F.col("n0") + F.col("n1")).cast("double"))
    )
    return per.select(
        "segment",
        F.col("n0").cast("bigint").alias("n_arm0"),
        F.col("n1").cast("bigint").alias("n_arm1"),
        F.round(z, 6).alias("srm_z"),
        (F.abs(z) >= F.lit(float(z_crit))).alias("flagged"),
    )


def feature_split_ranking(
    df: "DataFrame",
    feature_cols: "list[str]",
    label_col,
) -> "DataFrame":
    """Univariate feature ranking by Gini split gain (the standard
    first-cut feature-selection report; the multi-feature form of
    gini_split/r131): for each candidate feature, the best single
    threshold, its weighted impurity, the gain vs the unsplit base
    impurity, and the rank by gain (ties to feature name). Returns
    one row per feature: (feature, best_threshold, gini_split, gain,
    rank). A feature with a single distinct value admits no split
    (gini_split excludes the max value as a non-split) and is
    omitted — identical in both engines.

    Shape: one bounded gini_split pipeline per feature (each is one
    combinable groupBy + histogram-sized arithmetic, the r127
    contract) unioned into a features-sized relation; the base
    impurity is a 1-row broadcast; the rank window runs over
    len(feature_cols) rows.

    The input is persisted for the report's lifetime (round-15, guide
    §1.2/§5): each per-feature gini_split evaluates its own `per` AND
    `tot` subtree and the base impurity adds one more — 2 * features + 1
    independent scans of `df` in ONE plan (Catalyst does not share
    common subtrees across union branches), so an expensive upstream
    (e.g. the r133 gopher_rules join) would otherwise be recomputed
    9x for 4 features. Round-16 (ADVICE): what is cached is a NARROW
    projection — the feature columns plus the label expression
    evaluated once — not the caller's full frame, so the cache holds
    only the bytes the report reads, and persisting a fresh derived
    frame can never collide with a caller's own persist level on `df`.
    Callers scope the cache via persist_scope / release_persisted (the
    tracked_persist contract)."""
    from functools import reduce

    from pyspark.sql import Window

    from unifydb_spark.resources import tracked_persist

    label = F.when(label_col, True).otherwise(False).alias("__fsr_label")
    df = tracked_persist(df.select(*feature_cols, label))
    label_col = F.col("__fsr_label")
    best = None
    parts = []
    for fcol in feature_cols:
        b = (
            gini_split(df, fcol, label_col)
            .filter(F.col("is_best"))
            .select(
                F.lit(fcol).alias("feature"),
                F.col("threshold").alias("best_threshold"),
                "gini_split",
            )
        )
        parts.append(b)
    best = reduce(lambda a, b: a.unionAll(b), parts)
    tot = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(label_col, 1).otherwise(0)).alias("pos"),
    )
    p = F.col("pos").cast("double") / F.col("n").cast("double")
    g0 = (
        F.lit(1.0) - p * p - (F.lit(1.0) - p) * (F.lit(1.0) - p)
    )
    j = best.crossJoin(F.broadcast(tot.select(g0.alias("g0"))))
    w = Window.orderBy(
        (F.col("g0") - F.col("gini_split")).desc(), F.col("feature").asc()
    )
    return j.select(
        "feature",
        "best_threshold",
        "gini_split",
        F.round(F.col("g0") - F.col("gini_split"), 6).alias("gain"),
        F.row_number().over(w).cast("int").alias("rank"),
    )
