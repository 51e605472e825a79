"""Data-layout operators: scalable global ordering and multi-dimensional
clustering keys.

Two problems every 100 TB pipeline hits that single-node engines never
see:

1. **Global row numbering / stable ID assignment.** The naive
   ``ROW_NUMBER() OVER (ORDER BY ...)`` compiles to an Exchange
   SinglePartition in Spark — one task sorts the entire dataset, which
   is exactly the plan that dies at scale. `global_row_number` gets the
   identical answer with NO single-partition stage: range-partition on
   the order key, count rows per partition (an O(n_partitions) driver
   artifact, not a data collect), broadcast the cumulative offsets back
   as a literal map, and window only WITHIN each partition. Both
   shuffles (range + pid-hash for the window) are evenly spread.

2. **Multi-dimensional data layout.** Parquet min/max pruning works on
   ONE sort dimension; filtering on a second column scans everything.
   A Z-order (Morton) key interleaves the bits of two dimensions so
   that range-partitioning on the single key co-locates rows that are
   close in BOTH — each file then has tight min/max ranges on both
   columns and a 2-D predicate prunes most files. `zorder_key_col` is a
   pure integer expression (shift/mask/sum — codegen'd, zero shuffle,
   bit-for-bit reproducible in any engine), `write_zordered` is the
   layout writer.

The reference is a single-node engine and has neither concern
(SURVEY §2 S-rows: its b-tree IS its layout; /root/reference/src/unifydb/
storage.clj keeps one sorted index per covering order). These operators
are the distributed analogs: global_row_number replaces "the index is
the row order", zorder replaces "add another covering index" without a
second copy of the data.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from unifydb_spark.resources import tracked_persist


def global_row_number(
    df: DataFrame,
    order_cols: Sequence[str],
    out_col: str = "row_num",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 1-based global row numbers in (order_cols) order without a
    single-partition sort.

    Plan: repartitionByRange(order_cols) -> per-partition counts
    (collects n_partitions longs — a driver artifact like the bloom
    bitmap, never data) -> offsets as a literal map -> row_number over a
    window PARTITIONED BY the range-partition id (each window task sorts
    only its own slice). The range partitioner places all rows equal on
    the boundary key in one partition, so numbering is a correct total
    order whenever order_cols are a unique composite (pass a tiebreaker
    column, same requirement ROW_NUMBER itself has for determinism).

    The frame is persisted so the count job and the numbering job see
    the SAME sampled range boundaries (repartitionByRange samples; two
    independent evaluations could legally pick different splits).
    """
    cols = [F.col(c) for c in order_cols]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = tracked_persist(
        df.repartitionByRange(n, *cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    sizes = {
        r["_pid"]: r["cnt"]
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    omap = F.create_map(
        *[F.lit(v) for pid in offsets for v in (pid, offsets[pid])]
    )
    # internal temp names must not shadow the caller's out_col (this
    # bit twice: out_col="_rn" was silently dropped)
    assert out_col not in ("__gn_rn", "_pid"), out_col
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        ranged.withColumn("__gn_rn", F.row_number().over(w))
        .withColumn(
            out_col,
            (F.element_at(omap, F.col("_pid")) + F.col("__gn_rn")).cast(
                "bigint"
            ),
        )
        .drop("_pid", "__gn_rn")
    )


def zorder_key_col(x: Column, y: Column, bits: int = 10) -> Column:
    """Morton (Z-order) key of two non-negative ints, each truncated to
    `bits` bits: bit i of x lands at position 2i, bit i of y at 2i+1.
    Pure shift/mask/sum expression — whole-stage codegen, no shuffle,
    and integer-exact so any engine reproduces it bit-for-bit."""
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftright(x, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
        )
        terms.append(
            F.shiftright(y, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
        )
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc.cast("bigint")


def zorder_block_profile(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 10,
    block_shift: int = 8,
) -> DataFrame:
    """Layout-quality profile: assign each row its z-key, group into
    blocks of 2^block_shift consecutive z-values (the proxy for "one
    parquet row group after a range-partitioned write"), and report per
    block the row count and the min/max of BOTH dimensions. Tight
    per-block ranges on both axes are exactly what makes 2-D min/max
    pruning work; compare with a single-column sort where the second
    axis spans its full range in every block.

    One combinable groupBy on the derived block id — the same shape as
    any rollup; nothing here is driver-side."""
    zk = zorder_key_col(F.col(x_col), F.col(y_col), bits)
    return (
        df.select(
            F.shiftright(zk, block_shift).alias("zblock"),
            F.col(x_col).alias("x"),
            F.col(y_col).alias("y"),
        )
        .groupBy("zblock")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    bits: int = 10,
    num_files: int = 8,
) -> None:
    """Write parquet clustered by z-order: range-partition on the z-key
    (so each output file owns a contiguous z-range — a 2-D tile) and
    sort within partitions so row groups inside a file are tiles too.
    Readers filtering on either dimension then skip most files on
    footer min/max alone. The z-key is dropped from the output — it is
    layout, not data."""
    zk = zorder_key_col(F.col(x_col), F.col(y_col), bits)
    (
        df.withColumn("_zk", zk)
        .repartitionByRange(num_files, "_zk")
        .sortWithinPartitions("_zk")
        .drop("_zk")
        .write.mode("overwrite")
        .parquet(path)
    )


def curriculum_buckets(
    df: DataFrame,
    score_col: str,
    tiebreak_col: str,
    n_buckets: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign every row to one of `n_buckets` equal-size curriculum
    buckets in (score, tiebreak) order — the length/quality-ordered
    training schedule primitive. bucket = floor((rank-1) * k / N): the
    same integer arithmetic any engine reproduces, and the same split
    points NTILE would pick up to its tie rule.

    The rank comes from global_row_number (range-partition + offset
    broadcast — NO Exchange SinglePartition, unlike a bare ROW_NUMBER
    or NTILE over the whole table, which is exactly the one-task sort
    that dies at 100 TB). N joins in as a broadcast one-row cross join —
    a plan-audit-allowlisted bounded shape, never a driver collect of
    data."""
    ranked = global_row_number(
        df, [score_col, tiebreak_col], out_col="_rank",
        num_partitions=num_partitions,
    )
    total = ranked.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.join(F.broadcast(total))
        # integer DIV, not `/`: Spark's `/` is DOUBLE division, whose
        # truncation can mis-bucket once (rank * k) crosses 2^53 —
        # DIV matches DuckDB's `//` exactly at any scale
        .withColumn(
            "bucket",
            F.expr(f"CAST(((_rank - 1) * {n_buckets}) DIV _n AS BIGINT)"),
        )
        .drop("_rank", "_n")
    )


def curriculum_profile(
    df: DataFrame,
    score_col: str,
    tiebreak_col: str,
    n_buckets: int,
) -> DataFrame:
    """Per-bucket manifest (count, score span) — the table a training
    run logs before consuming a curriculum. One map-side-combinable
    aggregation over the bucket assignment."""
    b = curriculum_buckets(df, score_col, tiebreak_col, n_buckets)
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(score_col).alias(f"min_{score_col}"),
        F.max(score_col).alias(f"max_{score_col}"),
    )


def _map_layouts(spark, fn, layouts):
    """Build each candidate layout's report, overlapping the per-layout
    eager work (global_row_number's range persist + offsets collect is
    one driver-sequenced job per layout) on a small thread pool (guide
    §2.6): one layout's numbering back-fills the cores another's collect
    barrier left idle. Order-preserved (pool.map), so the unioned report
    is unchanged; inheritable_thread_target keeps the caller's
    job-group/description on jobs submitted by workers (the bench's
    per-entry job metric counts by group)."""
    layouts = list(layouts)
    if len(layouts) <= 1:
        return [fn(la) for la in layouts]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=min(4, len(layouts))) as pool:
        return list(pool.map(inheritable_thread_target(spark)(fn), layouts))


def zonemap_prune_profile(
    df: DataFrame,
    pred_col: str,
    layouts: Sequence[tuple],
    n_blocks: int = 64,
    pred_lo_off: int = 180,
    pred_hi_off: int = 209,
) -> DataFrame:
    """Layout advisor: how many parquet-file-sized blocks a range
    predicate on `pred_col` could SKIP under each candidate row order —
    the offline measurement behind "should we OPTIMIZE/ZORDER this
    table". For each (label, order_cols) layout, rows are assigned to
    `n_blocks` equal blocks in that order (block = (rn-1)*B div n via
    the scalable q91 row numbering — no single-partition sort), each
    block's [min, max] zone map of pred_col is computed, and a fixed
    range predicate [data_min + lo_off, data_min + hi_off] is tested
    against the zone maps exactly the way a reader prunes row groups:
    skip iff block_max < lo or block_min > hi. Returns one row per
    layout: (layout, n_blocks, blocks_scanned, rows_scanned,
    scan_frac) — insertion order typically scans everything; an order
    clustered on pred_col scans ~the predicate's selectivity.

    Everything is integer arithmetic (block ids, zone bounds, counts)
    except the one scan_frac division. Scale: per layout, one
    range-partitioned numbering + one combinable block rollup; the
    final report is n_layouts rows. Zone maps ARE the distributed
    replacement for the reference's B-tree covering orders
    (/root/reference/src/unifydb/storage.clj — one sorted index per
    order): at 100 TB you don't keep a second sorted copy, you measure
    which single layout buys the most pruning."""
    from pyspark.sql import functions as F

    p = F.col(pred_col).cast("long")
    bounds = df.agg(
        F.min(p).alias("dmin"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    dmin, n = int(bounds["dmin"]), int(bounds["n"])
    lo = dmin + int(pred_lo_off)
    hi = dmin + int(pred_hi_off)
    B = int(n_blocks)

    def _layout_report(layout):
        label, order_cols = layout
        numbered = global_row_number(
            df.select(p.alias("_p"), *[F.col(c) for c in order_cols]),
            list(order_cols),
            out_col="_gix",
        )
        blocks = (
            numbered.select(
                F.expr(f"((_gix - 1) * {B}) DIV {n}").alias("blk"), "_p"
            )
            .groupBy("blk")
            .agg(
                F.min("_p").alias("bmin"),
                F.max("_p").alias("bmax"),
                F.count(F.lit(1)).alias("rows"),
            )
        )
        scanned = ~((F.col("bmax") < F.lit(lo)) | (F.col("bmin") > F.lit(hi)))
        return blocks.agg(
            F.lit(label).alias("layout"),
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum(scanned.cast("long")).cast("bigint").alias(
                "blocks_scanned"
            ),
            F.sum(
                F.when(scanned, F.col("rows")).otherwise(F.lit(0))
            ).cast("bigint").alias("rows_scanned"),
            F.round(
                F.sum(F.when(scanned, F.col("rows")).otherwise(F.lit(0)))
                .cast("double")
                / F.lit(float(n)),
                6,
            ).alias("scan_frac"),
        )

    reports = _map_layouts(df.sparkSession, _layout_report, layouts)
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def zonemap_eq_prune_profile(
    df: DataFrame,
    pred_col: str,
    values: Sequence,
    layouts: Sequence[tuple],
    n_blocks: int = 64,
) -> DataFrame:
    """Equality-predicate companion to zonemap_prune_profile (VERDICT r9
    ask #8): how many blocks `pred_col = v` must scan under each
    candidate row order, averaged over a workload of predicate values.
    This is the measurement behind the FACTS table's physical layout —
    pattern clauses (`[?e :attr ?v]`) are attribute-equality scans, so
    the candidate orders are the classic covering orders (EAVT/AVET,
    reference src/unifydb/storage.clj:57-68) re-expressed as single
    sort keys, and the advisor reports which one actually prunes.

    Model: per layout, rows get the scalable global numbering in that
    order, split into `n_blocks` equal blocks, each block keeps a
    [min, max] zone map of pred_col; predicate value v scans a block iff
    bmin <= v <= bmax — exactly parquet row-group pruning on a sorted
    string/long column. Returns one row per (layout, value):
    (layout, value, blocks_scanned, rows_scanned) plus the per-layout
    mean scan fraction is trivial to aggregate on top. The per-layout
    cost is one range numbering + a 64-row zone-map rollup; the value
    probe is a broadcast join against n_blocks rows — nothing scales
    with data volume except the numbering."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    n = df.count()
    B = int(n_blocks)
    vals = spark.createDataFrame(
        [(v,) for v in values], f"value {df.schema[pred_col].dataType.simpleString()}"
    )

    def _layout_report(layout):
        label, order_cols = layout
        numbered = global_row_number(
            df.select(F.col(pred_col).alias("_p"), *order_cols),
            list(order_cols),
            out_col="_gix",
        )
        blocks = (
            numbered.select(
                F.expr(f"((_gix - 1) * {B}) DIV {n}").alias("blk"), "_p"
            )
            .groupBy("blk")
            .agg(
                F.min("_p").alias("bmin"),
                F.max("_p").alias("bmax"),
                F.count(F.lit(1)).alias("rows"),
            )
        )
        hit = (F.col("value") >= F.col("bmin")) & (
            F.col("value") <= F.col("bmax")
        )
        return (
            blocks.crossJoin(F.broadcast(vals))
            .groupBy("value")
            .agg(
                F.lit(label).alias("layout"),
                F.sum(hit.cast("long")).cast("bigint").alias("blocks_scanned"),
                F.sum(F.when(hit, F.col("rows")).otherwise(F.lit(0)))
                .cast("bigint")
                .alias("rows_scanned"),
            )
            .select("layout", "value", "blocks_scanned", "rows_scanned")
        )

    reports = _map_layouts(spark, _layout_report, layouts)
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out
