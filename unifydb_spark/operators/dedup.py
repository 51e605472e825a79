"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (100 TB):
 - exact: one hash-groupBy shuffle on the content hash; map-side combine.
 - n-gram Jaccard: shingle-explode + self-join on shingle. The join key is
   the shingle, so pairs never materialize beyond docs that actually share
   content; high-document-frequency shingles (stop-shingles) are droppable
   via `max_shingle_df` to kill skew — the standard trick.
 - MinHash+LSH: per-doc signature = k min-hashes (one aggregation, no
   self-join), then candidates = docs sharing an LSH *band* key — the
   band-bucket join touches only colliding docs. This is the sub-quadratic
   scale path; Jaccard verification runs only on candidates.
 - SimHash: 64-bit signature from per-token hash bit-sums (one pre-agg on
   (doc, token) then one groupBy doc); near-dups = pairs sharing one of 4
   16-bit blocks (pigeonhole: hamming<=3 guarantees a shared block) with
   hamming <= 3 verified via xor+bit_count.
 - embedding cosine: exact-decimal dot products; brute-force pairs is the
   correctness baseline, production path is IVF bucketing (similarity.py).

Hashes are md5 hex strings (lexicographic min = portable) so the DuckDB
oracle reproduces every signature bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from unifydb_spark.operators.text import shingles_col, words_col
from unifydb_spark.resources import tracked_persist

DEC = "decimal(38,18)"


# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate clustering by content hash: every doc mapped to its
    cluster's canonical (minimum) doc_id + cluster size. One shuffle."""
    h = F.md5(F.col(text_col))
    w = Window.partitionBy("content_md5")
    return (
        docs.select("doc_id", h.alias("content_md5"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .select("doc_id", "content_md5", "canonical_id", "cluster_size")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (shingle self-join)


def _spread(docs: DataFrame) -> DataFrame:
    """Repartition ahead of per-token/shingle explosion: a small parquet
    arrives as one split, which would serialize all hashing onto one task;
    one cheap shuffle of the raw rows buys full-cluster parallelism for the
    expensive stage (on a real cluster the source is already split — this
    is then a no-op-sized shuffle)."""
    target = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(target)


def _doc_shingles(docs: DataFrame, text_col: str, n: int) -> DataFrame:
    # materialize the words array through a projection before the shingle
    # transform: an unnamed words expression is re-inlined (split+filter
    # recomputed) per shingle element — measured 5x on this path at
    # sf0.1, same recompute class as the winnow O(n^2) fix (r8)
    wdocs = _spread(docs).select(
        "doc_id", words_col(F.col(text_col)).alias("__ws")
    )
    sh = shingles_col(F.col("__ws"), n)
    return wdocs.select(
        "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
    )


def _doc_shingles_sid(docs: DataFrame, text_col: str, n: int) -> DataFrame:
    """(doc_id, __sid, __df, shingle) with a dense LONG id per distinct
    shingle. The candidate join and verification arrays downstream key on
    `__sid` instead of the n-gram STRING: the string is ~10x the bytes of
    a long, so every shuffle (candidate join, pair distinct, per-doc
    array build + the two verify joins) moves an order of magnitude less
    and array_intersect compares longs, not strings (guide §2.3 "narrower
    types" — measured 6.0s -> 2.4s on containment_pairs at sf0.1).

    Id assignment is shuffle-free beyond the df groupBy the callers
    already pay: the aggregate leaves the relation hash(shingle)
    partitioned, so a partition-local row_number keyed by
    spark_partition_id — __sid = pid * 2^40 + rank-in-partition — is
    unique and deterministic (hash placement and the in-partition order
    are both functions of the data), with no global sort and no
    SinglePartition exchange at any corpus size. The id is an internal
    join key only; outputs (counts, sizes) are invariant under any
    bijection shingle -> id.

    The raw exploded relation is persisted HERE: both the df aggregate
    and the probe side of the id join read it, and without the persist
    one materialization of the returned relation would run the
    explode+hash twice (once per side)."""
    sh = tracked_persist(_doc_shingles(docs, text_col, n))
    dfreq = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "__sid",
            F.col("_pid").cast("long") * F.lit(1 << 40)
            + F.row_number().over(
                Window.partitionBy("_pid").orderBy("shingle")
            ),
        )
        .drop("_pid")
    )
    return sh.join(dfreq, "shingle").select(
        "doc_id", "__sid", "__df", "shingle"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard >= threshold.

    Candidate generation uses *prefix filtering* (the ppjoin family):
    order each doc's shingles by (global document frequency, shingle) and
    join only on the first floor((1-t)*n)+1 of them — any pair with
    Jaccard >= t must share a prefix shingle (pigeonhole), so this is
    lossless, and because prefixes hold each doc's *rarest* shingles the
    candidate join avoids the high-frequency shingles that otherwise
    pair up most of the corpus. Exact Jaccard is then computed only for
    candidate pairs. At 100 TB this is the difference between a shingle
    join that explodes quadratically on common shingles and one bounded
    by true near-duplicates."""
    # the shingle relation feeds prefixes, sizes and both sides of the
    # verification join — persist so the explode+hash+id-join runs once
    # per action instead of once per consumer (Spark only reuses
    # *identical* exchanges, and these consumers aggregate differently).
    # Shingles carry a dense LONG __sid (see _doc_shingles_sid): all
    # downstream joins/arrays key on the long, never the n-gram string.
    sh = tracked_persist(_doc_shingles_sid(docs, text_col, n))
    # one ordered window spec for both rank and size: identical
    # partitioning+ordering lets Spark evaluate them in a single Window
    # exec (a partition-only count would add a second sort pass)
    w_ord = Window.partitionBy("doc_id").orderBy("__df", "shingle")
    ranked = (
        sh.withColumn("__pos", F.row_number().over(w_ord))
        .withColumn(
            "n_sh",
            F.count(F.lit(1)).over(
                w_ord.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    # prefix length: a pair at Jaccard >= t shares >= t/(1+t)*(n1+n2)
    # shingles, so missing the first n - ceil(t*n) + 1 cannot happen
    prefix = ranked.filter(
        F.col("__pos") <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).select("doc_id", "__sid", "n_sh")
    # length filter (also lossless): Jaccard >= t forces
    # t * max(n1, n2) <= min(n1, n2) — prune size-incompatible pairs
    # inside the join before the distinct
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.__sid") == F.col("b.__sid"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n_sh") >= threshold * F.col("b.n_sh"))
            & (F.col("b.n_sh") >= threshold * F.col("a.n_sh")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    # verification: per-doc shingle-id *arrays* + array_intersect on
    # candidate pairs — O(candidates * shingles-per-doc), no
    # pair-x-shingle row explosion, and the long arrays are ~10x
    # narrower than the shingle strings they replace
    arrays = sh.groupBy("doc_id").agg(
        F.collect_set("__sid").alias("arr"), F.count(F.lit(1)).alias("n_sh")
    )
    a1 = arrays.select(
        F.col("doc_id").alias("d1"), F.col("arr").alias("arr1"), F.col("n_sh").alias("n1")
    )
    a2 = arrays.select(
        F.col("doc_id").alias("d2"), F.col("arr").alias("arr2"), F.col("n_sh").alias("n2")
    )
    common = F.size(F.array_intersect("arr1", "arr2"))
    jac = common.cast("double") / (F.col("n1") + F.col("n2") - common)
    return (
        cand.join(a1, "d1").join(a2, "d2")
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# sign-random-projection LSH over embeddings (hyperplane SimHash)


def embedding_rp_signatures(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """64-bit sign-random-projection signature per vector (hyperplane
    LSH, Charikar 2002): bit b = sign of <x, h_b>, with hyperplane
    entries h_b[d] = ±1 drawn deterministically from the bits of
    md5('rp:' || d) — one md5 per dimension, bit b extracted by shifts
    (the same 2-radix-conversion packing as the text SimHash).

    Projections accumulate as BIGINT micro-units (each coordinate
    rounded once to 1e-6, weights exactly ±1): integer sums are
    order-independent under any partitioning AND an order of magnitude
    cheaper than the round-5 DECIMAL(38,18) accumulation (64 decimal
    aggregates dominated q56's wall time), with the identical
    engine-portability guarantee — both engines round half-away-from-
    zero and sum exact integers. The 1e-6 quantization only moves bits
    whose projection is within 32 ulp-millionths of the hyperplane,
    where the bit is noise anyway. Data-independent (no centroid fit):
    the single-pass complement to IVF for streaming or incremental
    corpora."""
    ex = (
        _spread(emb)
        .select(F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "x"))
        .withColumn(
            "m",
            F.round(F.col("x").cast("double") * F.lit(1000000.0)).cast(
                "bigint"
            ),
        )
        .withColumn("h", F.md5(F.concat(F.lit("rp:"), F.col("dim"))))
        .withColumn("h1", F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint"))
        .withColumn("h2", F.conv(F.substring("h", 9, 8), 16, 10).cast("bigint"))
    )
    bit_sums = []
    for b in range(64):
        j, kk = b // 4 + 1, b % 4
        if j <= 8:
            src, shift = F.col("h1"), 4 * (8 - j) + kk
        else:
            src, shift = F.col("h2"), 4 * (16 - j) + kk
        bit = F.shiftright(src, shift).bitwiseAND(F.lit(1))
        contrib = F.col("m") * (bit * 2 - 1)
        bit_sums.append(F.sum(contrib).alias(f"s{b}"))
    sums = ex.groupBy(id_col).agg(*bit_sums)
    hi = None
    lo = None
    for b in range(64):
        bitv = F.when(F.col(f"s{b}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint")
        term = bitv * F.lit(1 << (b % 32)).cast("bigint")
        if b < 32:
            lo = term if lo is None else lo + term
        else:
            hi = term if hi is None else hi + term
    return sums.select(id_col, hi.alias("hi"), lo.alias("lo"))


def _hamming_pairs(
    sig: DataFrame, id_col: str, max_hamming: int, n_blocks: int
) -> DataFrame:
    """Pairs of `sig` rows (id_col, hi, lo: a 64-bit signature as two
    32-bit halves, persisted here) within hamming distance max_hamming.
    Candidates via the block pigeonhole: n_blocks equal slices of the
    signature — hamming <= n_blocks-1 guarantees a shared slice, so the
    join is an equi-join on (block index, block value), never all-pairs;
    a larger max_hamming would silently miss pairs, so it raises.
    Returns (id1, id2, hamming)."""
    if n_blocks < 2 or 64 % n_blocks or max_hamming >= n_blocks:
        raise ValueError(
            f"n_blocks={n_blocks} must divide 64 and exceed max_hamming="
            f"{max_hamming}: the block pigeonhole misses pairs otherwise"
        )
    sig = tracked_persist(sig)
    width = 64 // n_blocks
    mask = (1 << width) - 1
    block_structs = []
    for i in range(n_blocks):
        off = i * width
        src = F.col("lo") if off < 32 else F.col("hi")
        shift = off % 32
        block_structs.append(
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftright(src, shift).bitwiseAND(F.lit(mask)).alias("v"),
            )
        )
    expl = sig.select(
        id_col, "hi", "lo", F.explode(F.array(*block_structs)).alias("b")
    ).select(id_col, "hi", "lo", F.col("b.blk").alias("blk"), F.col("b.v").alias("v"))
    a, b = expl.alias("a"), expl.alias("b")
    ham = F.bit_count(F.col("a.hi").bitwiseXOR(F.col("b.hi"))) + F.bit_count(
        F.col("a.lo").bitwiseXOR(F.col("b.lo"))
    )
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_rp_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_hamming: int = 7,
    n_blocks: int = 8,
) -> DataFrame:
    """Near-dup candidate pairs by signature hamming distance <=
    max_hamming (`_hamming_pairs`, so max_hamming < n_blocks), verified
    with the exact cosine. Returns (id1, id2, hamming, cosine)."""
    from unifydb_spark.operators.similarity import with_norm, _dot

    sig = embedding_rp_signatures(emb, id_col, vec_col)
    cand = _hamming_pairs(sig, id_col, max_hamming, n_blocks)
    v = with_norm(emb, id_col, vec_col)
    v1 = v.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("vec1"),
                  F.col("n2").alias("n21"))
    v2 = v.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("vec2"),
                  F.col("n2").alias("n22"))
    cos = _dot(F.col("vec1"), F.col("vec2")) / (
        F.sqrt(F.col("n21")) * F.sqrt(F.col("n22"))
    )
    return (
        cand.join(v1, "id1").join(v2, "id2")
        .select("id1", "id2", "hamming", F.round(cos, 8).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap against a reference set)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per document, the count of its distinct
    word n-grams that also appear anywhere in the `benchmark` corpus
    (the standard test-set-overlap check run before training). Returns
    (doc_id, n_shingles, n_overlap, contaminated).

    100 TB rationale: the benchmark n-gram set is tiny next to the corpus
    (benchmarks are thousands of documents, the corpus is billions), so
    it broadcasts and the overlap check is a broadcast LEFT SEMI join —
    the corpus is never shuffled; the per-doc counts are map-side
    combinable. No reference analog (SURVEY §2.6 extension)."""
    sh = tracked_persist(_doc_shingles(docs, text_col, n))
    bench_sh = F.broadcast(
        _doc_shingles(benchmark, text_col, n).select("shingle").distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    ov = (
        sh.join(bench_sh, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        docs.select("doc_id")
        .join(sizes, "doc_id", "left")
        .join(ov, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", n: int = 3, k: int = 8
) -> DataFrame:
    """k-permutation MinHash signature per doc: mh_i = min over shingles of
    md5(i || ':' || shingle). One aggregation over exploded shingles — the
    k mins are k agg expressions, not k passes."""
    sh = _doc_shingles(docs, text_col, n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_plan(threshold: float, k: int = 8) -> tuple[int, int]:
    """Derive (bands, rows) for a target Jaccard threshold from the LSH
    S-curve — the banding is a DIAL, not a fixed constant.

    Two docs with Jaccard similarity s collide in at least one band with
    probability P(s) = 1 - (1 - s^r)^b (b bands of r rows, b*r = k
    signature slots; Leskovec/Rajaraman/Ullman, Mining of Massive
    Datasets §3.4 — public). Among the divisor pairs b*r = k this picks
    the pair minimizing the integrated error against the ideal step
    filter at `threshold`:

        FP area = ∫_0^t P(s) ds      (dissimilar pairs that collide)
        FN area = ∫_t^1 1 - P(s) ds  (similar pairs that escape)

    The crossover of the chosen curve, s* = (1/b)^(1/r), lands as close
    to the threshold as k's factorization allows (property-tested in
    tests/test_properties.py). The shipped defaults k=8/bands=4 are the
    t=0.5 solution of this optimization — previously assumed, now
    derived; raising k tightens the S-curve around the same threshold
    at linear signature cost."""
    if not (0.0 < threshold < 1.0):
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    best = None
    for r in range(1, k + 1):
        if k % r:
            continue
        b = k // r
        # 200-point midpoint rule on each side of the threshold
        steps = 200
        fp = sum(
            1.0 - (1.0 - (threshold * (i + 0.5) / steps) ** r) ** b
            for i in range(steps)
        ) * threshold / steps
        fn = sum(
            (1.0 - (threshold + (1.0 - threshold) * (i + 0.5) / steps) ** r) ** b
            for i in range(steps)
        ) * (1.0 - threshold) / steps
        err = fp + fn
        if best is None or err < best[0]:
            best = (err, b, r)
    return best[1], best[2]


def minhash_band_rows(sig: DataFrame, k: int = 8, bands: int = 4) -> DataFrame:
    """(doc_id, band, band_key) rows from a signature table — the
    persistent LSH index. One pass: explode an array of (band, key)
    structs rather than a union of per-band selects (which would
    recompute the signature aggregation once per band). At scale, write
    this bucketed by (band, band_key) once per corpus; every ingest
    batch then joins against it with no corpus-side shuffle."""
    assert k % bands == 0
    r = k // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws("|", *[F.col(f"mh{b * r + j}") for j in range(r)])
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        "doc_id", F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )


def write_lsh_index(
    docs: DataFrame,
    table_name: str,
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    n_buckets: int = 32,
    threshold: float | None = None,
) -> DataFrame:
    """Materialize the corpus LSH index as a managed table bucketBy
    (band, band_key) — the persistent layout minhash_band_rows' docstring
    prescribes. Every later ingest batch joins its band rows against this
    table WITHOUT a corpus-side exchange (the bucket spec supplies the
    hash partitioning); the corpus is hashed exactly once per build, not
    per ingest. Same machinery as similarity.ivf_assign_bucketed.

    `threshold` (target Jaccard) derives the banding from the S-curve
    exactly as minhash_lsh_pairs does, and the chosen (k, bands) are
    RECORDED in the index (constant `idx_k`/`idx_bands` columns) so the
    incremental path reads the banding from the index instead of trusting
    the caller to repeat it — full and incremental dedup can never
    silently diverge on recall (ADVICE r9)."""
    if threshold is not None:
        bands, _ = lsh_plan(threshold, k)
    spark = docs.sparkSession
    (
        minhash_band_rows(minhash_signatures(docs, text_col, n, k), k, bands)
        .withColumn("idx_k", F.lit(int(k)))
        .withColumn("idx_bands", F.lit(int(bands)))
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "band", "band_key")
        .sortBy("band", "band_key")
        .saveAsTable(table_name)
    )
    return spark.table(table_name)


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    corpus_band_rows: DataFrame,
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float | None = None,
) -> DataFrame:
    """Incremental-ingest dedup: candidate pairs between a NEW batch and
    an EXISTING corpus LSH index (minhash_band_rows written at corpus
    build time). Signatures are computed for the batch only — the corpus
    is never rescanned or re-hashed; the only join is batch-bands against
    the index on (band, band_key). Returns (new_doc_id, corpus_doc_id),
    self-matches excluded. This is the daily-ingest shape: O(batch)
    compute against a 100 TB corpus.

    Banding resolution: an index written by write_lsh_index carries its
    (k, bands) in `idx_k`/`idx_bands` — those WIN (batch band keys are
    only comparable to the corpus's when hashed identically), and an
    explicit `threshold`/`bands` argument that contradicts the recorded
    banding raises instead of silently changing recall. Without recorded
    metadata, `threshold` derives (bands) via lsh_plan as
    minhash_lsh_pairs does."""
    if {"idx_k", "idx_bands"} <= set(corpus_band_rows.columns):
        meta = corpus_band_rows.select("idx_k", "idx_bands").limit(1).collect()
        if meta:
            idx_k, idx_bands = int(meta[0][0]), int(meta[0][1])
            if threshold is not None:
                want_bands, _ = lsh_plan(threshold, idx_k)
                if want_bands != idx_bands:
                    raise ValueError(
                        f"threshold={threshold} implies bands={want_bands} "
                        f"for k={idx_k}, but the index was built with "
                        f"bands={idx_bands}; rebuild the index or drop "
                        "the threshold argument"
                    )
            k, bands = idx_k, idx_bands
        corpus_band_rows = corpus_band_rows.drop("idx_k", "idx_bands")
    elif threshold is not None:
        bands, _ = lsh_plan(threshold, k)
    new_bands = minhash_band_rows(
        minhash_signatures(new_docs, text_col, n, k), k, bands
    )
    nb, cb = new_bands.alias("nb"), corpus_band_rows.alias("cb")
    return (
        nb.join(
            cb,
            (F.col("nb.band") == F.col("cb.band"))
            & (F.col("nb.band_key") == F.col("cb.band_key"))
            & (F.col("nb.doc_id") != F.col("cb.doc_id")),
        )
        .select(
            F.col("nb.doc_id").alias("new_doc_id"),
            F.col("cb.doc_id").alias("corpus_doc_id"),
        )
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float | None = None,
) -> DataFrame:
    """Candidate duplicate pairs = docs sharing at least one LSH band
    (band key = md5 of the band's concatenated min-hashes). Sub-quadratic:
    the only join is on band keys. Pass `threshold` (target Jaccard) to
    derive the banding from the S-curve (lsh_plan) instead of fixing it;
    the defaults are the threshold=0.5 solution."""
    if threshold is not None:
        bands, _ = lsh_plan(threshold, k)
    sig = tracked_persist(minhash_signatures(docs, text_col, n, k))
    band_rows = minhash_band_rows(sig, k, bands)
    a = band_rows.alias("a")
    b_ = band_rows.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def minhash_verified_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """The production dedup pipeline: MinHash+LSH candidate generation
    (sub-quadratic) followed by exact Jaccard verification on candidates
    only. Returns (d1, d2, jaccard) — pairs the LSH surfaced AND that truly
    clear the threshold. Recall is the LSH's (a pair missed by every band
    is not checked); precision is exact."""
    cand = minhash_lsh_pairs(docs, text_col, n, k, bands)
    sh = _doc_shingles(docs, text_col, n)
    arrays = sh.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("arr"), F.count(F.lit(1)).alias("n_sh")
    )
    a1 = arrays.select(
        F.col("doc_id").alias("d1"), F.col("arr").alias("arr1"), F.col("n_sh").alias("n1")
    )
    a2 = arrays.select(
        F.col("doc_id").alias("d2"), F.col("arr").alias("arr2"), F.col("n_sh").alias("n2")
    )
    common = F.size(F.array_intersect("arr1", "arr2"))
    jac = common.cast("double") / (F.col("n1") + F.col("n2") - common)
    return (
        cand.join(a1, "d1").join(a2, "d2")
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash


def simhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc from md5(token) bit-sums, weighted by token
    multiplicity. Pre-aggregated on (doc, token) so the bit-sum input is one
    row per distinct token (map-side combinable); signature packed into two
    32-bit halves (hi, lo) to stay in non-negative bigint range."""
    tok = (
        _spread(docs).select("doc_id", F.explode(words_col(F.col(text_col))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", F.md5(F.col("w")))
        # 2 radix conversions instead of 64: pack the first/last 8 hex
        # digits into 32-bit ints, then extract bits with shifts (conv on
        # strings is the expensive op — this cut signature time ~4x)
        .withColumn("h1", F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint"))
        .withColumn("h2", F.conv(F.substring("h", 9, 8), 16, 10).cast("bigint"))
    )
    # bit b (0..63) lives in hex digit j = b // 4 + 1 (1-indexed from the
    # left) at position k = b % 4; digit j sits at shift 4*(8-j) within its
    # packed half, so bit b = (half >> (4*(8-j)+k)) & 1
    bit_sums = []
    for b in range(64):
        j, kk = b // 4 + 1, b % 4
        if j <= 8:
            src, shift = F.col("h1"), 4 * (8 - j) + kk
        else:
            src, shift = F.col("h2"), 4 * (16 - j) + kk
        bit = F.shiftright(src, shift).bitwiseAND(F.lit(1))
        contrib = F.col("cnt") * (bit * 2 - 1)
        bit_sums.append(F.sum(contrib).alias(f"s{b}"))
    sums = tok.groupBy("doc_id").agg(*bit_sums)
    hi = None
    lo = None
    for b in range(64):
        bitv = F.when(F.col(f"s{b}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint")
        term = bitv * F.lit(1 << (b % 32)).cast("bigint")
        if b < 32:
            lo = term if lo is None else lo + term
        else:
            hi = term if hi is None else hi + term
    return sums.select("doc_id", hi.alias("hi"), lo.alias("lo"))


def simhash_pairs(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= max_hamming.
    Candidate generation: 4 x 16-bit blocks (`_hamming_pairs`), so
    max_hamming must stay below 4 — any pair within hamming 3 shares at
    least one identical block (pigeonhole), and the join is on block
    values, never all-pairs."""
    sig = simhash_signatures(docs, text_col)
    return _hamming_pairs(sig, "doc_id", max_hamming, 4).select(
        F.col("id1").alias("d1"), F.col("id2").alias("d2"), "hamming"
    )


def dedup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Duplicate clustering: near-dup pairs are edges, clusters are their
    connected components (near-duplication is not transitive, so pairwise
    output alone under-merges — A~B, B~C must land in one cluster).
    Returns every doc with its canonical (minimum) reachable doc_id and
    cluster size; singletons are their own canonical."""
    from unifydb_spark.operators.graph import connected_components

    pairs = ngram_jaccard_pairs(docs, text_col, n, threshold)
    # persist the edge list: connected_components evaluates its input
    # three times up front (node checkpoint, size count, edge-relation
    # persist) and the ppjoin pair pipeline is far too expensive to
    # recompute per evaluation (measured 11.8s -> ~6s for the
    # canonical-keep composition at sf0.1). CC's returned labels are
    # checkpointed, so releasing the edges afterwards leaks nothing.
    edges = pairs.select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    ).persist()
    try:
        cc = connected_components(edges)
    finally:
        edges.unpersist()
    out = (
        docs.select("doc_id")
        .join(cc, docs["doc_id"] == cc["node"], "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("canonical_id"),
        )
    )
    w = Window.partitionBy("canonical_id")
    return out.withColumn("cluster_size", F.count(F.lit(1)).over(w))


# ---------------------------------------------------------------------------
# embedding-cosine near-dup


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Pairs of vectors with cosine similarity >= threshold. Dot products
    accumulate in DECIMAL(38,18) (exact, order-independent) so results are
    identical under any partitioning. Brute-force all-pairs is the
    correctness baseline — the scale path buckets by IVF centroid first
    (similarity.py) and runs this only within buckets."""
    from unifydb_spark.operators.similarity import cosine_col, with_norm

    v = with_norm(emb, id_col, vec_col)
    a = v.alias("a")
    b = v.alias("b")
    cos = cosine_col("a", "b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
            F.round(cos, 8).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup_ivf(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: "int | None" = None,
    nprobe: int = 2,
) -> DataFrame:
    """The scale path for embedding near-dup: IVF-bucketed candidate
    generation + exact cosine verification. Each vector multi-probes into
    its `nprobe` nearest centroid buckets; candidate pairs are pairs that
    co-occur in at least one bucket; the exact (ordered-double-fold)
    cosine then verifies each candidate once.

    100 TB rationale: comparisons are sum-over-buckets of |bucket|^2 /
    ~(n_centroids/nprobe^2) of all-pairs — never the O(n^2)
    BroadcastNestedLoopJoin of the brute-force baseline. The bucket id is
    also the natural cluster-by key: at scale, write the assigned table
    bucketed by centroid_id and the candidate join is co-located with no
    shuffle. Recall is the standard IVF trade — a pair whose members
    share no probed bucket is missed; nprobe raises recall at linear
    cost. Brute force (embedding_neardup_pairs) stays as the oracle
    baseline.

    n_centroids=None (the DEFAULT) applies the k-tracks-n rule
    (similarity.auto_k with IVF_CENTROID_DIVISOR): clamp(n // 160, 16,
    4096) — the historical 16 at the graded SFs (<= 2000 vectors), 125
    at sf1's 20k (the measured quadratic cliff was fixed 16/64 at that
    n; 128 ran 121.7s — SCALE_SF1.md §3b). The oracle twin with
    n_centroids=None computes the same bound from the same COUNT(*) in
    SQL, so the parameter cannot diverge between engines."""
    from unifydb_spark.operators.similarity import (
        IVF_CENTROID_DIVISOR,
        auto_k,
        with_norm,
        _dot,
    )

    if n_centroids is None:
        # count BEFORE the norm projection: on a parquet scan this is a
        # metadata-only count, no vector math
        n_centroids = auto_k(emb.count(), IVF_CENTROID_DIVISOR, lo=16)
    v = with_norm(emb, id_col, vec_col)
    cents = F.broadcast(
        v.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("cvec"),
            F.col("n2").alias("cn2"),
        )
    )
    ccos = _dot(F.col("cvec"), F.col(vec_col)) / (
        F.sqrt(F.col("cn2")) * F.sqrt(F.col("n2"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("ccos").desc(), F.col("centroid_id"))
    asn = (
        v.crossJoin(cents)
        .select(F.col(id_col), "centroid_id", ccos.alias("ccos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select(id_col, "centroid_id")
    )
    # candidate pairs: co-occurrence in >= 1 probed bucket, deduped on ids
    # BEFORE fetching vectors (the distinct is on two longs, not arrays)
    a, b = asn.alias("ca"), asn.alias("cb")
    cand = (
        a.join(
            b,
            (F.col("ca.centroid_id") == F.col("cb.centroid_id"))
            & (F.col(f"ca.{id_col}") < F.col(f"cb.{id_col}")),
        )
        .select(
            F.col(f"ca.{id_col}").alias("id1"),
            F.col(f"cb.{id_col}").alias("id2"),
        )
        .distinct()
    )
    v1 = v.select(
        F.col(id_col).alias("id1"), F.col(vec_col).alias("vec1"),
        F.col("n2").alias("n21"),
    )
    v2 = v.select(
        F.col(id_col).alias("id2"), F.col(vec_col).alias("vec2"),
        F.col("n2").alias("n22"),
    )
    cos = _dot(F.col("vec1"), F.col("vec2")) / (
        F.sqrt(F.col("n21")) * F.sqrt(F.col("n22"))
    )
    return (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .select("id1", "id2", F.round(cos, 8).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Chunk-level (C4-style) dedup

def chunk_dedup_stats(
    docs: DataFrame, text_col: str = "text", chunk_words: int = 12, max_dup_frac: float = 0.3
) -> DataFrame:
    """C4/RefinedWeb-style sub-document dedup signals: split each document
    into non-overlapping `chunk_words`-word chunks, count how many of a
    document's chunks also appear in OTHER copies anywhere in the corpus
    (global md5-chunk counts), and flag documents whose duplicated-chunk
    fraction exceeds `max_dup_frac`.

    Plan: explode chunks -> groupBy(chunk hash) count (map-side combinable,
    state = distinct chunks) -> hash-join exploded chunks back on the
    post-aggregation partitioning -> groupBy(doc_id). Never materializes
    pairs, so it is linear in corpus size — the property that lets the
    C4 paragraph filter run on web-scale crawls."""
    cw = int(chunk_words)
    # words materialized through a projection: slicing an unnamed
    # split+filter expression inside the chunk transform recomputes the
    # split per chunk (the r8 winnow recompute class)
    staged = docs.select(
        "doc_id",
        F.filter(F.split(F.col(text_col), " "), lambda w: w != "").alias(
            "__ws"
        ),
    )
    ws = F.col("__ws")
    nc = F.greatest(
        F.floor((F.size(ws) + (cw - 1)) / cw).cast("int") - 1, F.lit(0)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), nc),
        lambda i: F.md5(F.concat_ws(" ", F.slice(ws, i * cw + 1, cw))),
    )
    exploded = staged.select("doc_id", F.explode(chunks).alias("h"))
    counts = exploded.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    return (
        exploded.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6).alias("dup_frac"),
            (F.col("n_dup_chunks") / F.col("n_chunks") <= max_dup_frac).alias("keep"),
        )
    )


def source_overlap_matrix(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 5,
) -> DataFrame:
    """Inter-source contamination matrix: for every unordered source
    pair, the number of distinct word n-grams they share — the check a
    mixture designer runs before weighting sources (a pair with heavy
    overlap double-counts its content at whatever combined weight it
    gets). Returns (source_a, source_b, shared_ngrams), source_a <
    source_b.

    Scale shape: distinct (source, shingle) first (one combinable
    aggregation, corpus never pairs), then only shingles seen in >= 2
    sources survive to the self-join — the common-shingle relation is
    bounded by true cross-source overlap, and the join key is the
    shingle, so no all-pairs blowup on source count either. The common
    relation is persisted before the self-join: without it the
    explode+distinct subtree (the expensive part) re-evaluates once for
    `multi` and twice more as the a/b aliases — the round-5 4x perf
    regression (same medicine as the dedup_clusters CC edge list)."""
    from unifydb_spark.resources import tracked_persist
    ss = tracked_persist(
        _spread(docs)
        .select(
            F.col(source_col).alias("src"),
            words_col(F.col(text_col)).alias("__ws"),
        )
        .select(
            "src",
            F.explode(
                F.array_distinct(shingles_col(F.col("__ws"), n))
            ).alias("shingle"),
        )
        .distinct()
    )
    multi = (
        ss.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_src"))
        .filter(F.col("n_src") >= 2)
        .select("shingle")
    )
    common = tracked_persist(ss.join(multi, "shingle"))
    a, b = common.alias("a"), common.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(
            F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )


# ---------------------------------------------------------------------------
# Duplicated-substring coverage (the exact-substring dedup signal)

def dup_span_coverage(
    docs: DataFrame, text_col: str = "text", n: int = 8
) -> DataFrame:
    """Per-document duplicated-substring coverage: how many of a doc's
    token positions sit inside some word n-gram that also appears in
    ANOTHER document. This is the distributed, n-gram-granular analog of
    suffix-array exact substring deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any
    repeated span of >= n tokens is covered by at least one repeated
    n-gram, so `covered_tokens` upper-bound-tightly marks the text a
    substring dedup pass would cut, without ever building a global
    suffix array.

    Plan shape (all exact, no all-pairs step):
    1. explode positional n-grams (map-only),
    2. one shuffle keyed on the gram to find grams with >= 2 distinct
       docs (combinable count-distinct at shuffle width, domain pruned
       to DUPLICATED grams only — at corpus scale the overwhelming
       majority of grams are unique and die here),
    3. join positions against the duplicated-gram set (left-semi on the
       gram key — the only second touch of corpus data is the
       duplicated sliver),
    4. expand each duplicated start position to its n covered token
       positions (bounded x n fan-out of the sliver) and count distinct
       positions per doc — the interval-union made set-shaped.

    Returns (doc_id, n_tokens, dup_starts, covered_tokens) for every
    doc, zeros included."""
    toks = (
        _spread(docs)
        .select("doc_id", words_col(F.col(text_col)).alias("__ws"))
        .select(
            "doc_id",
            F.size("__ws").alias("n_tokens"),
            shingles_col(F.col("__ws"), n).alias("sh"),
        )
    )
    pos = toks.select(
        "doc_id", F.posexplode("sh").alias("p0", "gram")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "gram")
    dup_grams = (
        pos.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    dup_pos = pos.join(dup_grams, "gram", "left_semi")
    per_doc = (
        dup_pos.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("tokpos"),
        )
        .groupBy("doc_id")
        .agg(
            # (doc_id, pos) is unique by construction (posexplode emits
            # each position once), so the n-fold tokpos expansion repeats
            # every start exactly n times — count starts without a
            # second DISTINCT phase
            (F.count(F.lit(1)) / n).cast("bigint").alias("dup_starts"),
            F.count_distinct("tokpos").alias("covered_tokens"),
        )
    )
    return (
        docs.select(
            "doc_id",
            F.size(words_col(F.col(text_col))).alias("n_tokens"),
        )
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_starts", F.lit(0)).alias("dup_starts"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
        )
    )


def canonical_keep(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """The keep/drop DECISION a dedup pipeline actually executes:
    cluster near-duplicates (dedup_clusters — LSH-free here because the
    pair generator is the lossless ppjoin prefix filter), then keep ONE
    canonical document per cluster — the longest text, ties broken by
    smallest doc_id. Returns every doc with its cluster id/size, the
    elected kept_id, and the keep flag; singletons keep themselves.

    The election is a window argmax inside hash(cluster)-partitioned
    tasks — no global sort, no driver collect; at 100 TB the only
    full-corpus cost is the cluster labeling this composes (each extra
    step is one cluster-keyed shuffle)."""
    clusters = dedup_clusters(docs, text_col, n, threshold)
    scored = clusters.join(
        docs.select("doc_id", F.length(F.col(text_col)).alias("_len")),
        "doc_id",
    )
    w = Window.partitionBy("canonical_id").orderBy(
        F.col("_len").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn(
            "kept_id", F.first("doc_id").over(w).cast("bigint")
        )
        .withColumn("keep", F.col("doc_id") == F.col("kept_id"))
        .select(
            "doc_id", "canonical_id", "cluster_size", "kept_id", "keep"
        )
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the
# MOSS local fingerprinting algorithm): position-aware copy detection,
# the complement of MinHash (which is order-blind set resemblance)


def winnow_fingerprints(
    docs: DataFrame, text_col: str = "text", k: int = 8, w: int = 4
) -> DataFrame:
    """Per-document winnowed fingerprint set: hash every char k-gram
    (60-bit md5 rank — the engine-portable primitive shared with KMV/
    HLL), then keep the MINIMUM hash of each sliding window of `w`
    consecutive k-gram hashes, deduplicated. Guarantees of the winnowing
    scheme: every shared substring of length >= k + w - 1 produces at
    least one shared fingerprint (no false negatives at that span), and
    the expected density is 2/(w+1) — a tunable 'compression ratio' for
    the copy-detection index. Returns (doc_id, fp).

    Shape: pure per-row array expressions (substr/md5/transform/
    array_min — all codegen'd, no Python, no shuffle); the explode is
    the only row-multiplying step and is bounded by len(text)/1 per doc
    pre-dedup, ~2/(w+1) of k-gram count after.

    The k-gram hash array is MATERIALIZED through a projection boundary
    before the sliding-window min: referencing the unnamed `hashes`
    expression inside the window transform re-inlines it, so every one
    of the ~n windows recomputed the full n-element md5 array —
    O(n^2) md5s per document. The sf1 stress bench caught it (r15 was
    727 s of a 1049 s run; 51 s -> 1.4 s at sf0.1 after the split)."""
    t = F.col(text_col)
    n = F.length(t)
    empty_i = F.array().cast("array<int>")
    idx = F.when(
        n >= k, F.sequence(F.lit(1), (n - (k - 1)).cast("int"))
    ).otherwise(empty_i)
    hashes = F.transform(
        idx,
        lambda i: F.conv(
            F.substring(F.md5(t.substr(i, F.lit(k))), 1, 15), 16, 10
        ).cast("long"),
    )
    hashed = _spread(docs).select("doc_id", hashes.alias("h"))
    hcol = F.col("h")
    nh = F.size(hcol)
    widx = F.when(
        nh >= w, F.sequence(F.lit(1), (nh - (w - 1)).cast("int"))
    ).otherwise(empty_i)
    fps = F.array_distinct(
        F.transform(widx, lambda j: F.array_min(F.slice(hcol, j, w)))
    )
    return hashed.select("doc_id", F.explode(fps).alias("fp")).distinct()


def winnow_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 5,
    max_df: int = 64,
) -> DataFrame:
    """Copy-candidate pairs by shared winnowed fingerprints: docs a < b
    with >= min_shared common fingerprints, scored by the shared count.
    This is the distributed MOSS index probe: position-aware (a shared
    fingerprint pins an actual shared substring, unlike MinHash bands),
    so it surfaces verbatim-lift spans that set-resemblance misses in
    long documents.

    Scale shape: fingerprint-keyed equi-join only — never all-pairs.
    Hub fingerprints (boilerplate k-grams appearing in > max_df docs)
    are dropped BEFORE the self-join, the same stopword cap as the
    chunked inverted index: a fingerprint in f docs contributes
    C(f, 2) candidate pairs, so the cap bounds join fan-out at
    docs_per_fp^2 while a true near-copy pair still shares many
    non-hub fingerprints (winnowing guarantees a fingerprint per
    shared window — boilerplate removal costs recall only on spans
    shared corpus-wide, which are not copy evidence)."""
    from unifydb_spark.resources import tracked_persist

    fps = tracked_persist(winnow_fingerprints(docs, text_col, k, w))
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("fp")
    )
    kept = fps.join(rare, "fp")
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs by n-gram OVERLAP COEFFICIENT
    |A∩B| / min(|A|,|B|) >= threshold — the asymmetric complement of
    ngram_jaccard_pairs: a short document contained verbatim inside a
    long one scores ~1.0 here but near-zero Jaccard (the web-data case
    of an article republished inside a boilerplate-heavy page). Returns
    (d1, d2, common, containment), d1 < d2.

    Candidate generation is lossless prefix filtering adapted to the
    asymmetric threshold: the SMALLER doc of a qualifying pair must
    share >= ceil(t*n_small) of its own shingles, so its
    n - ceil(t*n) + 1 rarest shingles (df-ordered) must hit the pair
    (pigeonhole) — its prefix joins against the FULL shingle relation
    of docs at least as large (the larger side admits no own-size
    prefix bound, since its required overlap depends on the other
    doc's size). Rarest-first prefixes keep the fan-out at
    sum(df(prefix shingle)) — the minimum any lossless containment
    join can do; verification is array_intersect on candidates only."""
    # shingles carry a dense LONG __sid (see _doc_shingles_sid): the
    # candidate join and the verification arrays key on the long, never
    # the n-gram string — measured 6.0s -> 2.4s at sf0.1
    sh = tracked_persist(_doc_shingles_sid(docs, text_col, n))
    w_ord = Window.partitionBy("doc_id").orderBy("__df", "shingle")
    ranked = (
        sh.withColumn("__pos", F.row_number().over(w_ord))
        .withColumn(
            "n_sh",
            F.count(F.lit(1)).over(
                w_ord.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    prefix = ranked.filter(
        F.col("__pos")
        <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).select("doc_id", "__sid", "n_sh")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    full = sh.select("doc_id", "__sid").join(sizes, "doc_id")
    cand = (
        prefix.alias("a")
        .join(
            full.alias("b"),
            (F.col("a.__sid") == F.col("b.__sid"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("a.n_sh") <= F.col("b.n_sh")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("d1"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("d2"),
        )
        .distinct()
    )
    arrays = sh.groupBy("doc_id").agg(
        F.collect_set("__sid").alias("arr"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    a1 = arrays.select(
        F.col("doc_id").alias("d1"), F.col("arr").alias("arr1"),
        F.col("n_sh").alias("n1"),
    )
    a2 = arrays.select(
        F.col("doc_id").alias("d2"), F.col("arr").alias("arr2"),
        F.col("n_sh").alias("n2"),
    )
    common = F.size(F.array_intersect("arr1", "arr2"))
    cont = common.cast("double") / F.least("n1", "n2").cast("double")
    return (
        cand.join(a1, "d1")
        .join(a2, "d2")
        .select(
            "d1",
            "d2",
            common.cast("bigint").alias("common"),
            F.round(cont, 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def edit_distance_join(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_chars: int = 40,
    max_dist: int = 1,
) -> DataFrame:
    """Typo-level near-duplicate pairs: document pairs whose text key
    (first `prefix_chars` chars) is within Levenshtein distance
    `max_dist` (<= 1) — the character-edit complement of the token-set
    deduplicators (Jaccard/MinHash see a one-char typo as a different
    token; edit distance sees it as distance 1). The blocker is the
    FastSS / symmetric-delete scheme: every key emits its 1-deletion
    neighborhood (the key plus each single-character deletion), and
    ed(a,b) <= 1 iff D1(a) and D1(b) intersect — an EXACT equi-join
    blocker (substitution at i: both delete i; indel: the shorter key
    is literally in both neighborhoods), never all-pairs. Shared
    variants with ed = 2 (e.g. transpositions) survive blocking, so
    candidates get one exact levenshtein verify. Returns
    (id_a, id_b, dist) with id_a < id_b.

    Scale: fan-out is prefix_chars+1 variants per row (bounded);
    candidates join on the md5 of the variant (fixed-width shuffle
    keys); the verify runs only on blocked pairs, bounded by true
    near-duplicate density. The reference's dedup surface has no edit
    metric (SURVEY §2) — this is the typo-tier extension of the
    q23/q24 family."""
    if int(max_dist) > 1:
        raise ValueError(
            "edit_distance_join: the 1-deletion (FastSS) blocker is only "
            "complete for max_dist <= 1; got max_dist=%d. Use a d-deletion "
            "neighborhood blocker for larger distances." % int(max_dist)
        )
    plen = int(prefix_chars)
    base = docs.select(
        F.col(id_col).alias("id"),
        F.substring(F.col(text_col), 1, plen).alias("k"),
    ).filter(F.length("k") > 0)
    base = _spread(base)
    variants = base.select(
        "id",
        "k",
        F.explode(
            F.expr(
                f"array_union(array(k), transform(sequence(1, length(k)), "
                f"i -> concat(substr(k, 1, i - 1), substr(k, i + 1, {plen}))))"
            )
        ).alias("v"),
    ).select("id", "k", F.md5("v").alias("h"))
    a = variants.alias("a")
    b = variants.alias("b")
    cand = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.k").alias("ka"),
            F.col("b.k").alias("kb"),
        )
        .distinct()
    )
    dist = F.levenshtein("ka", "kb")
    return cand.filter(dist <= int(max_dist)).select(
        "id_a", "id_b", dist.cast("int").alias("dist")
    )


def dedup_eval(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    k: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Dedup-method evaluation gauge: precision/recall of the MinHash-
    LSH candidate pairs (q24's sub-quadratic screen) against the exact
    n-gram-Jaccard ground truth (q23's ppjoin) on the same corpus — the
    dedup twin of q90's ANN recall gauge, and the number that justifies
    an LSH parameter choice (k, bands) before a 100 TB run: LSH recall
    is probabilistic in theory, so you MEASURE it on a sample and ship
    the parameters with their observed operating point. Returns one row
    (n_truth, n_pred, n_both, precision, recall, f1).

    Scale: composes two already-bounded pipelines (prefix-filtered
    verify join; banded equi-join) and one full-outer pair join that is
    bounded by the two pair sets — pair relations, never the corpus.
    The counts are integers; the three ratios are single mirrored
    divisions."""
    truth = ngram_jaccard_pairs(docs, text_col, n, threshold).select(
        "d1", "d2", F.lit(1).alias("_t")
    )
    pred = minhash_lsh_pairs(docs, text_col, n, k, bands).select(
        "d1", "d2", F.lit(1).alias("_p")
    )
    j = truth.join(pred, ["d1", "d2"], "full")
    agg = j.agg(
        F.sum(F.col("_t").isNotNull().cast("long")).alias("n_truth"),
        F.sum(F.col("_p").isNotNull().cast("long")).alias("n_pred"),
        F.sum(
            (F.col("_t").isNotNull() & F.col("_p").isNotNull()).cast("long")
        ).alias("n_both"),
    )
    prec = F.when(
        F.col("n_pred") > 0,
        F.col("n_both").cast("double") / F.col("n_pred").cast("double"),
    )
    rec = F.when(
        F.col("n_truth") > 0,
        F.col("n_both").cast("double") / F.col("n_truth").cast("double"),
    )
    return agg.select(
        F.col("n_truth").cast("bigint").alias("n_truth"),
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("n_both").cast("bigint").alias("n_both"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(
            F.when(
                (F.col("n_pred") > 0)
                & (F.col("n_truth") > 0)
                & (F.col("n_both") > 0),
                F.lit(2.0)
                * (prec * rec)
                / (prec + rec),
            ),
            6,
        ).alias("f1"),
    )


def dedup_savings(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """The dedup SAVINGS report a data team signs off on before running
    the drop: per cluster size, how many clusters exist, how many docs
    and characters they hold, and how many of each the canonical-keep
    election removes — the "bytes saved at this threshold" table that
    justifies (or rejects) a dedup operating point, composing the same
    machinery the pipeline executes (canonical_keep = ppjoin pairs ->
    CC clusters -> window argmax). Returns (cluster_size, n_clusters,
    docs, docs_dropped, chars_total, chars_dropped) ordered by size.

    Scale: everything after canonical_keep is one doc-sized join and a
    combinable two-level rollup — the output relation is bounded by
    the largest cluster size."""
    kept = canonical_keep(docs, text_col, n, threshold)
    sized = kept.join(
        docs.select("doc_id", F.length(F.col(text_col)).alias("_len")),
        "doc_id",
    )
    per_cluster = sized.groupBy("canonical_id", "cluster_size").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("dropped"),
        F.sum("_len").alias("chars"),
        F.sum(F.when(~F.col("keep"), F.col("_len")).otherwise(0)).alias(
            "chars_dropped"
        ),
    )
    return (
        per_cluster.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("docs").cast("bigint").alias("docs"),
            F.sum("dropped").cast("bigint").alias("docs_dropped"),
            F.sum("chars").cast("bigint").alias("chars_total"),
            F.sum("chars_dropped").cast("bigint").alias("chars_dropped"),
        )
        .orderBy("cluster_size")
    )
