"""Record linkage (entity resolution): blocking + edit-distance matching.

The classic dedup-across-sources problem: a "dirty" feed of records that
are near-copies of a clean registry (typos, truncations), to be linked
back by fuzzy name match. All-pairs levenshtein is O(n·m) comparisons —
never viable — so candidate generation uses *blocking*: records only
compare within a cheap equality block (here the first `block_len`
characters of the normalized name; swap in phonetic keys or MinHash
bands per `operators/dedup.py` without changing the shape). The block
join is an ordinary equi-join — co-partitioned, broadcastable when the
clean registry is small, AQE-skew-splittable when one block is hot —
and the expensive `levenshtein` only runs inside blocks.

Match selection: per dirty record keep the lowest-distance candidate
(tie-break: lowest clean id) via one row_number window — deterministic,
so the whole pipeline is oracle-checkable. At 100 TB the plan is: one
shuffle for the block join (or none, broadcast), one window keyed by the
dirty id.

The reference has no fuzzy-match operator (SURVEY §2.6); this is a
training-data-pipeline extension (source-of-truth reconciliation before
dedup/mixing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def block_link(
    clean: DataFrame,
    dirty: DataFrame,
    block_len: int = 6,
    max_dist: int = 2,
) -> DataFrame:
    """Link each record of `dirty(id, name)` to its best fuzzy match in
    `clean(id, name)`. Candidates share the first `block_len` chars;
    matches need levenshtein <= max_dist; best = (min dist, min clean
    id). Returns (dirty_id, clean_id, dist)."""
    c = clean.select(
        F.col("id").alias("clean_id"),
        F.col("name").alias("clean_name"),
        F.substring("name", 1, block_len).alias("block"),
    )
    d = dirty.select(
        F.col("id").alias("dirty_id"),
        F.col("name").alias("dirty_name"),
        F.substring("name", 1, block_len).alias("block"),
    # repartition by block with an EXPLICIT partition count: the rows are
    # byte-small but each carries O(len^2) levenshtein work downstream,
    # which AQE's size-based coalescing cannot see — without the explicit
    # count it merges the exchange to one task and serializes every
    # comparison (measured 4.4s -> 1.1s at sf0.1). A user-specified
    # numPartitions is exempt from AQE coalescing by contract.
    ).repartition(
        int(dirty.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        "block",
    )
    cand = d.join(c, "block").withColumn(
        "dist", F.levenshtein("dirty_name", "clean_name")
    ).filter(F.col("dist") <= int(max_dist))
    best = Window.partitionBy("dirty_id").orderBy("dist", "clean_id")
    return (
        cand.withColumn("_rk", F.row_number().over(best))
        .filter(F.col("_rk") == 1)
        .select("dirty_id", "clean_id", "dist")
    )
