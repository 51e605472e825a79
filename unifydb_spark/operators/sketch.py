"""Count-min sketch: sub-linear frequency estimation for heavy-hitter
queries over unbounded key domains.

At 100 TB an exact per-key count of a high-cardinality column (terms,
URLs, user agents) is a full shuffle of the key domain; a count-min
sketch is a fixed d x w integer table built with ONE aggregation whose
group count is bounded by d*w (map-side combinable, broadcast-sized
result, mergeable across partitions/days by elementwise addition — the
property that makes it a streaming/rollup primitive). Estimates
overcount only (est >= true), by at most ||f||_1 * e/w with probability
1 - e^-d.

Hashing is md5-seeded (row i hashes md5("i:key")), the same primitive
every other operator in this repo uses, so a SQL oracle reproduces the
sketch — and therefore the estimates — bit-for-bit.

The reference has no sketches (SURVEY §2.6); this extends the R9
approx-count-distinct family (HLL) with the frequency-estimation twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _slot(col, i: int, width: int):
    """Row-i hash slot: md5("i:key") taken as a 60-bit int, mod width.
    conv() of 15 hex chars stays within long range (16^15 = 2^60)."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{i}:"), col)), 1, 15), 16, 10)
        .cast("long")
        % width
    )


def count_min_build(
    keys: DataFrame, key_col: str, width: int = 256, depth: int = 4
) -> DataFrame:
    """Build the sketch from a relation of key occurrences (one row per
    occurrence). Returns (row, slot, c) — at most depth*width rows. One
    explode (depth entries per occurrence) + one groupBy; partial
    aggregation collapses to d*w counters per map task before the
    shuffle, so shuffle volume is O(d*w * n_partitions), not O(rows)."""
    w, d = int(width), int(depth)
    entries = keys.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _slot(F.col(key_col), i, w).alias("slot"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("e")
    ).select("e.row", "e.slot")
    return entries.groupBy("row", "slot").agg(F.count(F.lit(1)).alias("c"))


def count_min_estimate(
    sketch: DataFrame, queries: DataFrame, key_col: str, width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Estimate each query key's count: min over the d rows of the
    counter at that key's slot (missing slot = 0). The sketch side is
    d*w rows — broadcast; per-key cost is d lookups, no scan of the
    original data. Returns (key_col, cms_est)."""
    w, d = int(width), int(depth)
    probes = queries.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _slot(F.col(key_col), i, w).alias("slot"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("e"),
    ).select(key_col, "e.row", "e.slot")
    return (
        probes.join(F.broadcast(sketch), ["row", "slot"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("cms_est"))
    )


def term_frequency_cms(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 50,
    width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Heavy-hitter demo over document terms: sketch all term
    occurrences, then compare the CMS estimate against the exact count
    for the top_k most frequent terms (ties broken by term). Returns
    (term, true_count, cms_est) — est >= true always; equality when the
    term's slots are collision-free."""
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
        ).alias("term")
    )
    sketch = count_min_build(toks, "term", width, depth)
    true_counts = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), "term")
        .limit(int(top_k))
    )
    return (
        count_min_estimate(sketch, true_counts.select("term"), "term", width, depth)
        .join(true_counts, "term")
        .select("term", "true_count", "cms_est")
    )


# ---------------------------------------------------------------------------
# HyperLogLog with engine-portable registers


def hll_registers(
    keys: DataFrame, key_col: str, p: int = 9
) -> DataFrame:
    """HyperLogLog register table: md5(key) -> 60-bit int; low p bits
    pick the bucket, the remaining w = h >> p contributes rank =
    (60 - p) - bit_length(w) + 1 (leading zeros + 1; w = 0 -> 60 - p + 1).
    bit_length comes from LENGTH(BIN(w)) — integer-exact on both engines,
    so the registers (and therefore the estimate) are bit-identical to
    the SQL oracle, unlike a floor(log2()) formulation whose libm
    rounding may differ. One groupBy with max partials: 2^p rows out,
    mergeable by elementwise max — the distinct-count twin of the
    count-min table."""
    m = 1 << int(p)
    wbits = 60 - int(p)
    h = (
        F.conv(F.substring(F.md5(F.col(key_col)), 1, 15), 16, 10)
        .cast("long")
    )
    # subtract-mod before dividing: h reaches 2^60, where bare double
    # division loses low bits; (h - h%m)/m is an exact integer <= 2^51
    w = ((h - h % m) / m).cast("long")
    rank = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits) - F.length(F.bin(w)) + 1
    )
    return (
        keys.select((h % m).alias("bucket"), rank.alias("r"))
        .groupBy("bucket")
        .agg(F.max("r").alias("max_rank"))
    )


def hll_distinct(
    keys: DataFrame, key_col: str, group_col: str, p: int = 9
) -> DataFrame:
    """Per-group HLL distinct estimate: registers per group, harmonic
    mean, linear-counting small-range correction.

    The harmonic sum Σ 2^-max_rank is computed as an exact integer —
    Σ 2^(R - max_rank) with R = wbits+1 (the max possible rank), summed
    as BIGINT and divided by 2^R once at the end. Per-register terms are
    ≤ 2^(R-1) and there are ≤ 2^p of them, so the sum stays ≤ 2^60:
    in-range, overflow-free, and independent of Spark's partition-
    dependent addition order — the double-sum formulation could in
    principle differ from the oracle on a half-way rounding boundary."""
    m = 1 << int(p)
    wbits = 60 - int(p)
    h = (
        F.conv(F.substring(F.md5(F.col(key_col)), 1, 15), 16, 10)
        .cast("long")
    )
    w = ((h - h % m) / m).cast("long")
    rank = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits) - F.length(F.bin(w)) + 1
    )
    regs = (
        keys.select(
            F.col(group_col).alias("grp"),
            (h % m).alias("bucket"),
            rank.alias("r"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("r").alias("max_rank"))
    )
    alpha = 0.7213 / (1.0 + 1.079 / m)
    shift = wbits + 1  # max possible rank; 2^(shift - rank) is an exact long
    agg = regs.groupBy("grp").agg(
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {shift} - max_rank)")
        ).alias("si"),
        F.count(F.lit(1)).alias("nonzero"),
    )
    agg = agg.withColumn(
        "s", F.col("si").cast("double") / F.lit(float(1 << shift))
    )
    zeros = F.lit(m) - F.col("nonzero")
    raw = F.lit(alpha * m * m) / (zeros + F.col("s"))
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(
        F.col("grp").alias(group_col),
        F.round(est, 4).alias("hll_est"),
    )


# ---------------------------------------------------------------------------
# Heavy hitters: Misra-Gries candidate pruning + exact verification

def _mg_candidates(keys: "DataFrame", key_col: str, k: int) -> "DataFrame":
    """Per-partition Misra-Gries summaries (<= k candidate keys per
    partition). Arrow-batched: each batch is pre-aggregated with
    value_counts (vectorized), then merged into the k-counter summary
    with the standard offset reduction — when the merged dict exceeds k
    keys, subtract the (k+1)-th largest count from every counter and
    drop the non-positive ones (each subtraction is a batch of valid MG
    decrements, so the guarantee survives: any key whose count within
    the partition exceeds n_p/(k+1) is retained).

    Output is candidate keys only — at most k rows per partition,
    regardless of input size. This is the shuffle-collapse step: the
    exact pass that follows touches only candidates."""
    import pandas as pd

    def summarize(batches):
        counters: dict = {}
        for pdf in batches:
            vc = pdf[key_col].value_counts()
            for key, cnt in vc.items():
                counters[key] = counters.get(key, 0) + int(cnt)
            if len(counters) > k:
                kth = sorted(counters.values(), reverse=True)[k]
                counters = {
                    key: c - kth for key, c in counters.items() if c > kth
                }
        if counters:
            yield pd.DataFrame({key_col: list(counters.keys())})

    return keys.select(key_col).mapInPandas(
        summarize, schema=f"{key_col} string"
    )


def heavy_hitters(
    keys: "DataFrame",
    key_col: str,
    phi_num: int = 1,
    phi_den: int = 200,
) -> "DataFrame":
    """EXACT phi-heavy-hitters (keys with count * phi_den > phi_num * N)
    at sub-cardinality shuffle cost.

    Why not plain groupBy().count(): at 100 TB the key domain (terms,
    URLs, user agents) is billions — the exact count shuffles the whole
    domain to answer a question about the top handful. Misra-Gries fixes
    the asymptotics: each partition forwards <= ceil(phi_den/phi_num)
    CANDIDATES (any globally phi-heavy key must be locally phi-heavy in
    at least one partition — if count_p(x) <= phi*n_p everywhere, the sum
    is <= phi*N — and MG retains every key heavier than n_p/(k+1) <=
    phi*n_p), then ONE exact aggregation restricted to the candidate set
    (broadcast semi-join, no domain-wide shuffle) recounts and applies
    the threshold. Result: identical to the exact query, which is
    exactly what the SQL oracle asserts.

    phi is a rational (phi_num/phi_den) so the threshold compare is
    integer arithmetic — bit-identical on any engine. Returns
    (key_col, cnt), the exact count of each heavy hitter."""
    k = -(-phi_den // phi_num)  # ceil(1/phi)
    cands = _mg_candidates(keys, key_col, k).distinct()
    total = keys.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        keys.join(F.broadcast(cands), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(F.broadcast(total))
        .filter(F.col("cnt") * phi_den > phi_num * F.col("n_total"))
        .select(key_col, "cnt")
    )


# ---------------------------------------------------------------------------
# K-minimum-values: mergeable distinct sketches that also support set
# INTERSECTION — the operation HyperLogLog registers cannot express.

TWO60 = float(1 << 60)  # exactly representable in a double


def _kmv_hash(key_col: str):
    """60-bit md5 rank of the (string) key — the same engine-portable
    primitive as hll_registers: conv(15 hex chars) == DuckDB
    ('0x'||substr(md5(k),1,15))::BIGINT, bit-identical everywhere."""
    return (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
    )


def _kmv_candidates(hashed: DataFrame, k: int) -> DataFrame:
    """Per-partition bottom-k DISTINCT hashes per group (<= k rows per
    group per partition) — the same shuffle-collapse move as the
    Misra-Gries heavy-hitter pass: the global bottom-k of a group is a
    subset of the union of per-partition bottom-ks, so the exact window
    that follows touches only this candidate sliver, never the raw
    stream. Input columns: (grp string, hval long)."""
    import numpy as np
    import pandas as pd

    def summarize(batches):
        best: dict = {}
        for pdf in batches:
            for g, sub in pdf.groupby("grp"):
                arr = np.unique(sub["hval"].to_numpy())
                prev = best.get(g)
                if prev is not None:
                    arr = np.unique(np.concatenate([prev, arr]))
                best[g] = arr[:k]
        for g, arr in best.items():
            yield pd.DataFrame({"grp": g, "hval": arr})

    return hashed.mapInPandas(summarize, schema="grp string, hval bigint")


def kmv_sketch(
    keys: DataFrame, key_col: str, group_col: str, k: int = 128
) -> DataFrame:
    """Per-group KMV sketch: the k smallest distinct 60-bit hash values,
    with their rank `pos` (1-based). Shuffle volume is O(k * partitions
    * groups) candidate rows — never O(rows) and never O(distinct):
    dedup and bottom-k both happen per-partition first (mapInPandas,
    Arrow-batched), and only candidates reach the exact window.

    The sketch is mergeable (union = bottom-k of concatenated sketches)
    and supports intersection via the inclusion rule |A∩B| ≈ (|K(A∪B) ∩
    A ∩ B| / k) * |A∪B| — see kmv_jaccard. Deterministic: a pure
    function of the key set, so the SQL oracle rebuilds it exactly."""
    from pyspark.sql import Window

    hashed = keys.select(
        F.col(group_col).cast("string").alias("grp"),
        _kmv_hash(key_col).alias("hval"),
    ).filter(F.col("hval").isNotNull())
    # null keys are excluded (md5(NULL) = NULL has no rank): Spark's
    # nulls-first asc window and DuckDB's nulls-last ROW_NUMBER would
    # otherwise place the null hash at OPPOSITE ends of the sketch —
    # the oracle CTE applies the identical hval IS NOT NULL filter
    cands = _kmv_candidates(hashed, k).distinct()
    w = Window.partitionBy("grp").orderBy("hval")
    return (
        cands.withColumn("pos", F.row_number().over(w).cast("bigint"))
        .filter(F.col("pos") <= k)
    )


def kmv_distinct(
    keys: DataFrame, key_col: str, group_col: str, k: int = 128
) -> DataFrame:
    """Per-group distinct estimate from the KMV sketch, next to the
    exact count for calibration. With fewer than k distinct keys the
    sketch IS the key set (estimate exact); otherwise est =
    (k-1) / (kth_min / 2^60) — the classic unbiased KMV estimator. The
    arithmetic shape ((k-1) / (kth / 2^60), one rounding at the end) is
    mirrored verbatim in the oracle so IEEE evaluation is identical."""
    sk = kmv_sketch(keys, key_col, group_col, k)
    per_group = sk.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_reg"),
        F.max("hval").alias("kth"),
    )
    truth = keys.groupBy(F.col(group_col).cast("string").alias("grp")).agg(
        F.countDistinct(key_col).alias("true_distinct")
    )
    est = F.when(F.col("n_reg") < k, F.col("n_reg").cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.col("kth").cast("double") / F.lit(TWO60))
    )
    return (
        per_group.join(truth, "grp")
        .select(
            F.col("grp").alias(group_col),
            "true_distinct",
            F.round(est, 4).alias("kmv_est"),
        )
    )


def kmv_jaccard(
    keys: DataFrame, key_col: str, group_col: str, k: int = 128
) -> DataFrame:
    """Pairwise Jaccard / intersection estimates between every pair of
    groups, computed ONLY from the per-group KMV sketches (k rows per
    group — broadcast-sized regardless of input scale; this is the
    whole point: cross-source overlap questions at 100 TB reduce to an
    algebra over tiny sketches).

    For groups a < b: K(A∪B) = bottom-k of the merged sketch hashes;
    overlap = |{h in K(A∪B): h in sketch(A) and h in sketch(B)}|;
    jaccard_est = overlap / |K(A∪B)|, and est_intersection scales the
    union estimate by it. When the merged sketch has fewer than k
    hashes both sketches were complete, so union/overlap are exact."""
    from pyspark.sql import Window

    sk = kmv_sketch(keys, key_col, group_col, k).select("grp", "hval")
    groups = sk.select("grp").distinct()
    pairs = (
        groups.withColumnRenamed("grp", "grp_a")
        .join(
            F.broadcast(groups.withColumnRenamed("grp", "grp_b")),
            F.col("grp_a") < F.col("grp_b"),
        )
    )
    side_a = pairs.join(
        sk.withColumnRenamed("grp", "grp_a"), "grp_a"
    ).select("grp_a", "grp_b", "hval", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    side_b = pairs.join(
        sk.withColumnRenamed("grp", "grp_b"), "grp_b"
    ).select("grp_a", "grp_b", "hval", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    merged = (
        side_a.unionByName(side_b)
        .groupBy("grp_a", "grp_b", "hval")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("grp_a", "grp_b").orderBy("hval")
    unionk = merged.withColumn(
        "pos", F.row_number().over(w)
    ).filter(F.col("pos") <= k)
    agg = unionk.groupBy("grp_a", "grp_b").agg(
        F.count(F.lit(1)).alias("union_k"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("overlap"),
        F.max("hval").alias("kth"),
    )
    est_union = F.when(
        F.col("union_k") < k, F.col("union_k").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) / (F.col("kth").cast("double") / F.lit(TWO60))
    )
    jacc = F.col("overlap").cast("double") / F.col("union_k").cast("double")
    return agg.select(
        "grp_a",
        "grp_b",
        "union_k",
        "overlap",
        F.round(jacc, 6).alias("jaccard_est"),
        F.round(est_union * jacc, 4).alias("est_intersection"),
    )


# ---------------------------------------------------------------------------
# Windowed distinct: HLL registers merged over trailing time windows —
# the query exact distinct cannot answer incrementally (distinct is not
# additive across days; register-max IS)


def hll_windowed_distinct(
    events: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    window_days: int = 7,
    p: int = 9,
) -> DataFrame:
    """Per day: the estimated distinct `key_col` over the TRAILING
    `window_days` (rolling 7-day active users, rolling distinct
    documents ingested, ...). Exact distinct over sliding windows
    re-scans every window at full width because distinct is not
    additive; HLL registers merge by elementwise max, so one pass
    builds per-day registers (days x 2^p tiny rows) and each day's
    window merge is an integer max over at most `window_days`
    register vintages — the raw data is read ONCE regardless of the
    window count.

    The register scatter (each day's registers contribute to the
    following `window_days` target days) costs days x m x window_days
    rows — a calendar-sized relation, independent of data volume.
    Estimates are bit-identical to the oracle: same 60-bit md5
    registers, integer-exact harmonic sum (see hll_distinct), linear
    counting below 2.5m. Returns (day, hll_est), days that appear in
    the data only."""
    m = 1 << int(p)
    wbits = 60 - int(p)
    shift = wbits + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    h = (
        F.conv(F.substring(F.md5(F.col(key_col)), 1, 15), 16, 10)
        .cast("long")
    )
    w = ((h - h % m) / m).cast("long")
    rank = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits) - F.length(F.bin(w)) + 1
    )
    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01"))
    regs = (
        events.select(day.alias("d"), (h % m).alias("bucket"), rank.alias("r"))
        .groupBy("d", "bucket")
        .agg(F.max("r").alias("mr"))
    )
    from unifydb_spark.resources import tracked_persist

    regs = tracked_persist(regs)
    contrib = regs.select(
        F.explode(
            F.sequence(F.col("d"), F.col("d") + (int(window_days) - 1))
        ).alias("td"),
        "bucket",
        "mr",
    )
    days = regs.select(F.col("d").alias("td")).distinct()
    merged = (
        contrib.join(days, "td")
        .groupBy("td", "bucket")
        .agg(F.max("mr").alias("max_rank"))
    )
    agg = merged.groupBy("td").agg(
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {shift} - max_rank)")
        ).alias("si"),
        F.count(F.lit(1)).alias("nonzero"),
    )
    agg = agg.withColumn(
        "s", F.col("si").cast("double") / F.lit(float(1 << shift))
    )
    zeros = F.lit(m) - F.col("nonzero")
    raw = F.lit(alpha * m * m) / (zeros + F.col("s"))
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("td")),
            "yyyy-MM-dd",
        ).alias("day"),
        F.round(est, 4).alias("hll_est"),
    )


def hll_rank_cols(key_col: str, p: int = 9):
    """(bucket, rank) Column pair for the engine-portable HLL register
    build — the shared primitive of hll_distinct / hll_windowed_distinct
    and the streaming register aggregation (streaming/stream.py): low p
    bits of the 60-bit md5 pick the bucket, LENGTH(BIN(w)) gives the
    integer-exact rank."""
    m = 1 << int(p)
    wbits = 60 - int(p)
    h = (
        F.conv(F.substring(F.md5(F.col(key_col)), 1, 15), 16, 10)
        .cast("long")
    )
    w = ((h - h % m) / m).cast("long")
    rank = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits) - F.length(F.bin(w)) + 1
    )
    return (h % m), rank


def hll_estimate_registers(
    regs: DataFrame, group_cols: "list[str]", p: int = 9
) -> DataFrame:
    """Fold a register relation (group_cols..., max_rank) into per-group
    estimates — the integer-exact harmonic sum + linear counting of
    hll_distinct, factored so batch, windowed, and streaming register
    builders share one estimator. Returns (group_cols..., hll_est)."""
    m = 1 << int(p)
    wbits = 60 - int(p)
    shift = wbits + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = regs.groupBy(*group_cols).agg(
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {shift} - max_rank)")
        ).alias("si"),
        F.count(F.lit(1)).alias("nonzero"),
    )
    agg = agg.withColumn(
        "s", F.col("si").cast("double") / F.lit(float(1 << shift))
    )
    zeros = F.lit(m) - F.col("nonzero")
    raw = F.lit(alpha * m * m) / (zeros + F.col("s"))
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(*group_cols, F.round(est, 4).alias("hll_est"))


def cms_join_size(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Equi-join cardinality estimate WITHOUT running the join: the
    count-min inner product. True join size = sum_k cL(k)*cR(k); the
    row-i sketches give sum_slot CL[i,s]*CR[i,s] >= true (hash
    collisions only ADD), so min over the d rows is the classic
    one-sided estimate (Cormode-Muthukrishnan) — the planner input
    r21's skew report cannot provide (it sees per-side shape, not the
    cross-side key overlap). Both sketches are d x w integer tables
    built with one combinable aggregation per side; the inner product
    joins two broadcast-sized relations. Exact integer arithmetic end
    to end. Returns one row (est_join_rows, rows upper-bounded)."""
    skl = count_min_build(
        left.select(F.col(left_key).cast("string").alias("k")), "k",
        width, depth,
    )
    skr = count_min_build(
        right.select(F.col(right_key).cast("string").alias("k")), "k",
        width, depth,
    )
    prods = (
        skl.alias("a")
        .join(
            skr.alias("b"),
            (F.col("a.row") == F.col("b.row"))
            & (F.col("a.slot") == F.col("b.slot")),
        )
        .groupBy(F.col("a.row").alias("row"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("ip"))
    )
    return prods.agg(
        F.min("ip").cast("bigint").alias("est_join_rows")
    )


def ddsketch_quantiles(
    df: "DataFrame",
    group_col: str,
    value_col: str,
    rel_err: float = 0.01,
    probs: tuple = (0.5, 0.9, 0.99),
) -> "DataFrame":
    """Relative-error quantile sketch (the DDSketch bucket scheme,
    Masson et al. VLDB 2019 — public method): values bucket at
    ceil(log_gamma(x)) with gamma = (1+a)/(1-a), so any quantile
    answered from bucket counts is within relative error `a` of the
    true value — the guarantee KLL/percentile_approx cannot give
    (their error is in RANK; a p99 latency can come back 40% off in
    VALUE). Buckets are a pure deterministic function of the value, so
    unlike KLL the sketch is bit-reproducible under any partitioning
    AND oracle-checkable exactly. Positive values only (log domain).
    Returns (group, p, est, n_buckets, n) per requested quantile.

    Scale: one combinable (group, bucket) count — the sketch IS the
    count relation, bounded by ~log_gamma(max/min) buckets per group
    (a few hundred at 1% for any realistic range); merge = count sum,
    so partial aggregation does all the work map-side. The quantile
    fold runs on the bucket relation with one cumulative window per
    group. Estimate = 2*gamma^b/(gamma+1), the bucket's midpoint in
    log space.

    Exactness contract: the bucket index ceil(ln(x)/ln(gamma)) is one
    mirrored double expression (ln parity, r17 contract); near-exact
    powers can land on either side of an integer only when BOTH
    engines' ln results differ — not observed; the index and counts
    are integers thereafter, and gamma^b folds through pow on both
    engines."""
    from pyspark.sql import Window

    a = float(rel_err)
    gamma = (1.0 + a) / (1.0 - a)
    v = F.col(value_col).cast("double")
    buckets = (
        df.filter(v > 0)
        .groupBy(
            F.col(group_col).alias("grp"),
            F.ceil(F.log(v) / F.lit(__import__("math").log(gamma)))
            .cast("long")
            .alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from unifydb_spark.resources import tracked_persist

    buckets = tracked_persist(buckets)
    w = (
        Window.partitionBy("grp")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("grp")
    cum = buckets.select(
        "grp",
        "b",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wt).alias("n"),
        F.count(F.lit(1)).over(wt).alias("n_buckets"),
    )
    rows = []
    for p in probs:
        pf = float(p)
        # target rank ceil(p*n) with a floor of 1
        target = F.greatest(
            F.lit(1), F.ceil(F.lit(pf) * F.col("n")).cast("long")
        )
        first_hit = cum.filter(F.col("cum") >= target).groupBy(
            "grp"
        ).agg(
            F.min("b").alias("b"),
            F.max("n").alias("n"),
            F.max("n_buckets").alias("n_buckets"),
        )
        est = (
            F.lit(2.0)
            * F.pow(F.lit(gamma), F.col("b").cast("double"))
            / F.lit(gamma + 1.0)
        )
        rows.append(
            first_hit.select(
                F.col("grp").alias(group_col),
                F.lit(pf).alias("p"),
                F.round(est, 6).alias("est"),
                F.col("n_buckets").cast("bigint").alias("n_buckets"),
                F.col("n").cast("bigint").alias("n"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def cms_estimate_windows(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    window_col: str = "day",
    width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Per-window point estimates from a windowed CMS (stream_cms's
    emitted counters): for every (window, key) in windows x keys,
    min over the depth rows of the counter at the key's slot (absent
    slot = 0). Probe relation = windows x keys x depth — all
    dimension-sized; the sketch side is windows x d x w counters.
    Returns (window_col, key_col, cms_est)."""
    w, d = int(width), int(depth)
    probes = keys.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _slot(F.col(key_col), i, w).alias("slot"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("e"),
    ).select(key_col, "e.row", "e.slot")
    windows = sketch.select(window_col).distinct()
    grid = windows.crossJoin(F.broadcast(probes))
    return (
        grid.join(F.broadcast(sketch), [window_col, "row", "slot"], "left")
        .groupBy(window_col, key_col)
        .agg(
            F.min(F.coalesce("c", F.lit(0))).cast("bigint").alias("cms_est")
        )
    )
