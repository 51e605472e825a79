"""Full-text search primitives: inverted index construction and BM25
ranked retrieval.

A training-data platform is also a retrieval platform — "find the
documents about X" (for curation audits, decontamination forensics,
eval-set mining) needs an inverted index over the corpus, and BM25 is
the canonical ranking function over it (Robertson/Sparck Jones; the
Lucene-style +1 idf smoothing keeps every term's weight positive).

Scale shape:
- Index build is ONE shuffle keyed on term (groupBy term), map-side
  combinable. The classic killer is posting-list skew — a stopword's
  posting list is the corpus — so postings are CHUNKED: the group key is
  (term, doc_id div chunk), bounding every output row to `chunk`
  entries. Hot terms become many bounded rows instead of one unbounded
  collect_list; readers reassemble by concatenating chunks in order.
- BM25 never scans the corpus per query: query terms are a literal
  filter pushed into the token explosion (only matching postings
  survive the map stage), df/N/avgdl are broadcast-sized joins, and the
  final top-k is TakeOrderedAndProject (per-partition heaps + driver
  merge of k rows), not a global sort.
- Scores are summed as exact integer micro-units so the result is
  independent of partition/addition order — the same trick the HLL
  estimate uses, and the reason the oracle can assert value-hash
  equality on a floating-point ranking function.

The reference has no text retrieval (SURVEY §2 — its strings are opaque
values); this is net-new pipeline capability like dedup/similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unifydb_spark.operators.text import words_col

def inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    min_df: int = 2,
    chunk: int = 64,
) -> DataFrame:
    """Build a chunked inverted index: one row per (term, chunk) with the
    chunk's posting list as "docid:tf" pairs in doc_id order, plus the
    term's corpus-wide df and total tf on every chunk row (denormalized
    so a reader scores from a single row group).

    Returns (term, chunk_id, df, tf_total, n_postings, postings)."""
    toks = docs.select(
        "doc_id", F.explode(words_col(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    chunks = (
        tf.groupBy(
            "term", F.expr(f"doc_id div {chunk}").alias("chunk_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            F.sum("tf").alias("tf_chunk"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "tf"))
                    ),
                    lambda s: F.concat_ws(
                        ":",
                        s["doc_id"].cast("string"),
                        s["tf"].cast("string"),
                    ),
                ),
                ",",
            ).alias("postings"),
        )
    )
    # corpus-wide term stats as a WINDOW over term rather than a
    # vocab-sized aggregate + self-join: one shuffle on term computes
    # both the chunk rows' final layout and the denormalized df/tf_total
    # (the window state per task is one term's chunk rows — bounded by
    # corpus_size/chunk, and in practice by the hottest term's chunk
    # count, not the vocabulary)
    from pyspark.sql import Window

    w = Window.partitionBy("term")
    return (
        chunks.withColumn("df", F.sum("n_postings").over(w))
        .withColumn("tf_total", F.sum("tf_chunk").over(w))
        .filter(F.col("df") >= min_df)
        .select("term", "chunk_id", "df", "tf_total", "n_postings", "postings")
    )


def bm25_topk(
    docs: DataFrame,
    query: str,
    text_col: str = "text",
    k: int = 10,
    k1_micro: int = 1_200_000,
    b_micro: int = 750_000,
) -> DataFrame:
    """BM25 top-k documents for a bag-of-words query.

    score(d) = sum over query terms t of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl)),
    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))  (always positive).

    Each per-term score is rounded to integer MICRO-units before the
    per-doc sum, so the aggregate is exact bigint arithmetic — the
    ranking is reproducible bit-for-bit regardless of partitioning.
    k1/b are passed as micro-units for the same reason.

    Plan: the term filter is a literal isin() pushed below the explode
    (only query-term postings are materialized), df is a query-terms-
    sized aggregate, N and avgdl ride one broadcast single-row cross
    join, and the top-k is orderBy+limit = TakeOrderedAndProject.
    Returns (doc_id, score_micros, n_terms_hit, dl)."""
    terms = sorted({w for w in query.split(" ") if w})
    k1 = k1_micro / 1e6
    b = b_micro / 1e6
    base = docs.select(
        "doc_id", words_col(F.col(text_col)).alias("ws")
    )
    dl = base.select("doc_id", F.size("ws").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        base.select("doc_id", F.explode("ws").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl") / F.col("avgdl")
    )
    term_score = F.round(
        F.lit(1e6) * idf * F.col("tf") * (k1 + 1.0) / denom
    ).cast("bigint")
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(corpus))
        .select("doc_id", "dl", term_score.alias("s_micro"))
    )
    return (
        scored.groupBy("doc_id", "dl")
        .agg(
            F.sum("s_micro").alias("score_micros"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .select("doc_id", "score_micros", "n_terms_hit", "dl")
        .orderBy(F.desc("score_micros"), F.asc("doc_id"))
        .limit(k)
    )
