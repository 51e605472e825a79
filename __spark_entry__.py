"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs a SURVEY.md §2 operator through the
unifydb_spark engine (Datalog compiled to DataFrame plans over the TPC-H-ish
testdata, exposed as a virtual EAVT fact view) or a dedicated operator
module; ``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL over the same
parquet tables. Column names are aligned on both sides; double aggregates go
through exact decimal partial sums on both sides so results are bitwise
reproducible regardless of partitioning.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_ENGINES: dict = {}


def _engine(spark: SparkSession, sf_dir: str):
    """One Engine per (session, sf_dir): the fact view is virtual, so this
    only caches parquet schema reads."""
    from unifydb_spark import Engine
    from unifydb_spark.sources.tables import table_fact_store

    key = (id(spark), sf_dir)
    if key not in _ENGINES:
        _ENGINES[key] = Engine(spark, table_fact_store(spark, sf_dir))
    return _ENGINES[key]


def _events_engine(spark: SparkSession, sf_dir: str):
    """Events table as a *versioned* fact store: tx = event id, attribute
    'user/value' holds each user's metric (cardinality-one), so time-travel
    snapshots resolve last-writer-wins per user (SURVEY R1/§1.3)."""
    from unifydb_spark import Engine, FactStore
    from unifydb_spark.store import DataFrameBackend
    from unifydb_spark.streaming.stream import events_to_facts

    key = (id(spark), sf_dir, "events")
    if key not in _ENGINES:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        facts = events_to_facts(spark.read.parquet(f"{sf_dir}/events.parquet"))
        backend = DataFrameBackend(spark, facts)
        _ENGINES[key] = Engine(spark, FactStore(spark, backend=backend))
    return _ENGINES[key]


# ---------------------------------------------------------------------------
# queries — each exercises one-or-more SURVEY §2 operators (noted inline)


def q01_pricing_summary(spark, sf_dir):
    """Flagship: Q1/Q2 pattern+pivot scan, R0 group-by, R2 sum, R4 avg,
    R8 count, R12 sort."""
    eng = _engine(spark, sf_dir)
    df = eng.query(
        {
            "find": [
                "?rf",
                "?ls",
                ("sum", "?qty", "sum_qty"),
                ("sum", "?ep", "sum_base_price"),
                ("avg", "?disc", "avg_disc"),
                ("count", "?qty", "count_order"),
            ],
            "where": [
                ["?l", ":lineitem/returnflag", "?rf"],
                ["?l", ":lineitem/linestatus", "?ls"],
                ["?l", ":lineitem/quantity", "?qty"],
                ["?l", ":lineitem/extendedprice", "?ep"],
                ["?l", ":lineitem/discount", "?disc"],
            ],
            "sort-by": ["?rf", "?ls"],
        }
    )
    # decimal-exact sums internally; rounded DOUBLE at the boundary (the
    # driver's hasher stringifies pandas frames, so a Decimal('x.00...')
    # vs DuckDB's float64 never hash-matches — q07's proven pattern)
    return df.select(
        "rf",
        "ls",
        F.round(F.col("sum_qty").cast("double"), 4).alias("sum_qty"),
        F.round(F.col("sum_base_price").cast("double"), 4).alias("sum_base_price"),
        "avg_disc",
        "count_order",
    )


def q02_pattern_match(spark, sf_dir):
    """Q1 fact pattern: concrete value filter + projection."""
    eng = _engine(spark, sf_dir)
    return eng.query(
        {
            "find": ["?ck", "?name"],
            "where": [
                ["?c", ":customer/mktsegment", "BUILDING"],
                ["?c", ":customer/custkey", "?ck"],
                ["?c", ":customer/name", "?name"],
            ],
            "sort-by": ["?ck"],
        }
    )


def q03_ref_join_chain(spark, sf_dir):
    """Q2 conjunction as ref equi-joins across three entities (VAET
    semantics: customer->nation->region)."""
    eng = _engine(spark, sf_dir)
    return eng.query(
        {
            "find": ["?ck", "?nname", "?rname"],
            "where": [
                ["?c", ":customer/custkey", "?ck"],
                ["?c", ":customer/nation", "?n"],
                ["?n", ":nation/name", "?nname"],
                ["?n", ":nation/region", "?r"],
                ["?r", ":region/name", "?rname"],
                [("<", "?ck", 101)],
            ],
            "sort-by": ["?ck"],
        }
    )


def q04_or_union(spark, sf_dir):
    """Q3 disjunction (bag union of branch plans)."""
    eng = _engine(spark, sf_dir)
    return eng.query(
        {
            "find": ["?ck", "?seg"],
            "where": [
                [
                    "or",
                    ["?c", ":customer/mktsegment", "BUILDING"],
                    ["?c", ":customer/mktsegment", "AUTOMOBILE"],
                ],
                ["?c", ":customer/custkey", "?ck"],
                ["?c", ":customer/mktsegment", "?seg"],
            ],
            "sort-by": ["?ck"],
        }
    )


def q05_not_antijoin(spark, sf_dir):
    """Q4 negation-as-failure: customers with no finished ('F') order."""
    eng = _engine(spark, sf_dir)
    return eng.query(
        {
            "find": ["?ck"],
            "where": [
                ["?c", ":customer/custkey", "?ck"],
                [
                    "not",
                    ["?o", ":order/customer", "?c"],
                    ["?o", ":order/orderstatus", "F"],
                ],
            ],
            "sort-by": ["?ck"],
        }
    )


def q06_predicate_variadic(spark, sf_dir):
    """Q5 predicate filter with variadic comparison (reference
    query_test.clj:205-211)."""
    eng = _engine(spark, sf_dir)
    return eng.query(
        {
            "find": ["?ck", "?bal"],
            "where": [
                ["?c", ":customer/custkey", "?ck"],
                ["?c", ":customer/acctbal", "?bal"],
                [("<", 1000.0, "?bal", 1100.0)],
            ],
            "sort-by": ["?ck"],
        }
    )


def q07_fn_bind_revenue(spark, sf_dir):
    """Q6 function binding + R0/R2: revenue per order =
    sum(extendedprice*(1-discount)) — the reference's flagship pipeline
    (query_test.clj:482-491) on TPC-H data."""
    eng = _engine(spark, sf_dir)
    df = eng.query(
        {
            "find": ["?ok", ("sum", "?rev", "revenue")],
            "where": [
                ["?l", ":lineitem/orderkey", "?ok"],
                ["?l", ":lineitem/extendedprice", "?ep"],
                ["?l", ":lineitem/discount", "?disc"],
                [("-", 1.0, "?disc"), "?rebate"],
                [("*", "?ep", "?rebate"), "?rev"],
            ],
        }
    )
    # deterministic double: Spark's decimal->double cast is correctly
    # rounded; round to 4dp afterwards
    return (
        df.withColumn("revenue", F.round(F.col("revenue").cast("double"), 4))
        .orderBy(F.col("revenue").desc(), F.col("ok"))
        .limit(10)
    )


def q08_rule_view(spark, sf_dir):
    """Q7 non-recursive rule expansion (rule as view)."""
    eng = _engine(spark, sf_dir)
    return eng.query(
        {
            "find": ["?ck", "?rname"],
            "where": [
                ("customer-region", "?c", "?rname"),
                ["?c", ":customer/custkey", "?ck"],
                [("<", "?ck", 51)],
            ],
            "rules": [
                [
                    ("customer-region", "?cust", "?rn"),
                    ["?cust", ":customer/nation", "?n"],
                    ["?n", ":nation/region", "?r"],
                    ["?r", ":region/name", "?rn"],
                ]
            ],
            "sort-by": ["?ck"],
        }
    )


def q09_rule_recursive(spark, sf_dir):
    """Q7 recursive rule -> semi-naive fixpoint: transitive closure of the
    nation/next edge (k -> k+5 within the same region)."""
    eng = _engine(spark, sf_dir)
    return eng.query(
        {
            "find": ["?from", "?to"],
            "where": [
                ("reaches", "?a", "?b"),
                ["?a", ":nation/nationkey", "?from"],
                ["?b", ":nation/nationkey", "?to"],
            ],
            "rules": [
                [("reaches", "?x", "?y"), ["?x", ":nation/next", "?y"]],
                [
                    ("reaches", "?x", "?y"),
                    ["?x", ":nation/next", "?z"],
                    ("reaches", "?z", "?y"),
                ],
            ],
            "sort-by": ["?from", "?to"],
        }
    )


def q10_bind_param(spark, sf_dir):
    """Q10 parameterized bind (constant substitution -> pushed filters)."""
    eng = _engine(spark, sf_dir)
    return eng.query(
        {
            "find": ["?ck", "?bal"],
            "where": [
                ["?c", ":customer/mktsegment", "?seg"],
                ["?c", ":customer/custkey", "?ck"],
                ["?c", ":customer/acctbal", "?bal"],
                [(">", "?bal", 9000.0)],
            ],
            "bind": {"seg": "MACHINERY"},
            "sort-by": ["?ck"],
        }
    )


def q11_agg_stats(spark, sf_dir):
    """R3 min/max, R4 avg, R5 median, R7 stddev, R9 count-distinct per
    group."""
    eng = _engine(spark, sf_dir)
    df = eng.query(
        {
            "find": [
                "?st",
                ("min", "?tp", "min_price"),
                ("max", "?tp", "max_price"),
                ("avg", "?tp", "avg_price"),
                ("median", "?tp", "median_price"),
                ("stddev", "?tp", "stddev_price"),
                ("count", "?tp", "n"),
                ("count-distinct", "?pr", "n_priorities"),
            ],
            "where": [
                ["?o", ":order/orderstatus", "?st"],
                ["?o", ":order/totalprice", "?tp"],
                ["?o", ":order/orderpriority", "?pr"],
            ],
            "sort-by": ["?st"],
        }
    )
    return df.withColumn("stddev_price", F.round("stddev_price", 4)).withColumn(
        "median_price", F.round("median_price", 4)
    )


def q12_distinct_set(spark, sf_dir):
    """R10 distinct -> sorted set-as-array per group, serialized to a
    '|'-joined string at the boundary (list cells crash the driver's
    pandas canonicalizer: "unhashable type: 'list'")."""
    eng = _engine(spark, sf_dir)
    df = eng.query(
        {
            "find": ["?st", ("distinct", "?pr", "priorities")],
            "where": [
                ["?o", ":order/orderstatus", "?st"],
                ["?o", ":order/orderpriority", "?pr"],
            ],
            "sort-by": ["?st"],
        }
    )
    return df.select("st", F.array_join("priorities", "|").alias("priorities"))


def q13_mode(spark, sf_dir):
    """R6 mode: ALL most-frequent values (exploded to rows for the
    oracle)."""
    eng = _engine(spark, sf_dir)
    df = eng.query(
        {
            "find": ["?seg", ("mode", "?np", "modal_priority")],
            "where": [
                ["?o", ":order/customer", "?c"],
                ["?c", ":customer/mktsegment", "?seg"],
                ["?o", ":order/orderpriority", "?np"],
            ],
        }
    )
    return (
        df.select("seg", F.explode("modal_priority").alias("modal_priority"))
        .orderBy("seg", "modal_priority")
    )


def q14_sort_limit(spark, sf_dir):
    """R12/R13 multi-key sort + limit."""
    eng = _engine(spark, sf_dir)
    return eng.query(
        {
            "find": ["?ck", "?bal"],
            "where": [
                ["?c", ":customer/custkey", "?ck"],
                ["?c", ":customer/acctbal", "?bal"],
            ],
            "sort-by": ["?bal", "?ck", "desc"],
            "limit": 10,
        }
    )


def q15_wildcard_attr(spark, sf_dir):
    """Q8 wildcard + variable attribute position: per-attribute fact counts
    over the customer entity space (an AVET-style scan)."""
    eng = _engine(spark, sf_dir)
    df = eng.query(
        {
            "find": ["?a", ("count", "?c", "n")],
            "where": [["?c", "?a", "_"], ["?c", ":customer/custkey", "_"]],
        }
    )
    return df.filter(F.col("a").startswith("customer/")).orderBy("a")


def q16_timetravel_asof(spark, sf_dir):
    """S5/R1 time travel: user metric as of tx=5000 (tx = event id);
    cardinality-one last-writer-wins snapshot."""
    eng = _events_engine(spark, sf_dir)
    return eng.query(
        {
            "find": ["?u", "?v"],
            "where": [["?u", ":user/value", "?v", "?tx", "_"]],
            "sort-by": ["?u"],
        },
        eng.db(5000),
    ).select(
        F.col("u").alias("user_id"), F.col("v").alias("value")
    )


def q17_historical(spark, sf_dir):
    """Historical mode: all fact versions visible, tx position bindable
    (reference query_test.clj:281-310)."""
    eng = _events_engine(spark, sf_dir)
    return eng.query(
        {
            "find": ["?u", ("count", "?tx", "versions"), ("max", "?v", "max_value")],
            "where": [["?u", ":user/value", "?v", "?tx", "?added"]],
            "sort-by": ["?u"],
        },
        eng.db(historical=True),
    ).select(F.col("u").alias("user_id"), "versions", "max_value")


def q18_pull_nested(spark, sf_dir):
    """R15 pull: nested document projection (customer -> nation -> region),
    flattened via JSON paths so the oracle can check values."""
    eng = _engine(spark, sf_dir)
    df = eng.query(
        {
            "find": [
                "?ck",
                (
                    "pull",
                    "?c",
                    [
                        "customer/name",
                        {"customer/nation": ["nation/name", {"nation/region": ["region/name"]}]},
                    ],
                    "doc",
                ),
            ],
            "where": [["?c", ":customer/custkey", "?ck"], [("<", "?ck", 201)]],
        }
    )
    return df.select(
        "ck",
        F.get_json_object("doc", "$['customer/name']").alias("name"),
        F.get_json_object("doc", "$['customer/nation']['nation/name']").alias("nname"),
        F.get_json_object(
            "doc", "$['customer/nation']['nation/region']['region/name']"
        ).alias("rname"),
    ).orderBy("ck")


# ---------------------------------------------------------------------------
# training-data pipeline operators (SURVEY extensions; operators/ package):
# dedup, similarity search, text analysis, multimodal plumbing


# q94's bag-of-words query: mid-frequency terms of the synthetic corpus
# (discriminative enough that per-doc scores differ; shared by the Spark
# query and its oracle so both filter the same literal term set)
_BM25_QUERY = "customer join vector sort broadcast"


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q19_text_stats(spark, sf_dir):
    """Token counting + quality scoring (operators/text.py) — zero-shuffle
    projection pipeline."""
    from unifydb_spark.operators.text import text_stats

    return text_stats(_docs(spark, sf_dir)).orderBy("doc_id")


def q20_language_id(spark, sf_dir):
    """Stopword-overlap language ID with per-language scores + argmax."""
    from unifydb_spark.operators.text import language_id

    return language_id(_docs(spark, sf_dir)).orderBy("doc_id")


def q21_fingerprint(spark, sf_dir):
    """Content md5 + rolling min-shingle-hash document fingerprint."""
    from unifydb_spark.operators.text import fingerprint

    return fingerprint(_docs(spark, sf_dir)).orderBy("doc_id")


def q22_exact_dedup(spark, sf_dir):
    """Exact dedup: hash-groupBy clustering to canonical ids."""
    from unifydb_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir)).orderBy("doc_id")


def q23_ngram_jaccard_dedup(spark, sf_dir):
    """Near-dup pairs by exact word-3-gram Jaccard >= 0.8 (shingle
    self-join — key'd by shingle, never all-pairs)."""
    from unifydb_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.8).orderBy("d1", "d2")


def q24_minhash_lsh_dedup(spark, sf_dir):
    """MinHash(k=8) + LSH(4 bands) candidate pairs — the sub-quadratic
    dedup scale path."""
    from unifydb_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir)).orderBy("d1", "d2")


def q25_simhash_dedup(spark, sf_dir):
    """SimHash-64 near-dup pairs, hamming<=3, candidates via 16-bit block
    pigeonhole."""
    from unifydb_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir)).orderBy("d1", "d2")


def q26_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup via the IVF scale path: multi-probe
    bucketed candidates + exact cosine verify — no all-pairs self-join
    anywhere in the plan. The oracle mirrors the identical candidate
    generation; the brute-force baseline is cross-checked in pytest
    (IVF pairs are a subset with identical cosines)."""
    from unifydb_spark.operators.dedup import embedding_neardup_ivf

    # n_centroids defaults to the k-tracks-n rule (auto_k: 16 at the
    # graded SFs, 125 at sf1's 20k vectors) — VERDICT r9 ask #3: the
    # DEFAULT parameters are now the ones that stay exact AND fast at
    # 10x, and the oracle derives the same bound from COUNT(*)
    return embedding_neardup_ivf(
        _emb(spark, sf_dir), threshold=0.45, nprobe=2
    ).orderBy("id1", "id2")


def q27_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k ANN baseline (queries broadcast)."""
    from unifydb_spark.operators.similarity import cosine_topk

    return cosine_topk(_emb(spark, sf_dir)).orderBy("query_id", "rank")


def q28_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN: probe nprobe/n_centroids of the data per query."""
    from unifydb_spark.operators.similarity import ivf_topk

    return ivf_topk(_emb(spark, sf_dir)).orderBy("query_id", "rank")


def q29_multimodal_features(spark, sf_dir):
    """Binary-payload plumbing + Arrow-batched mapInPandas feature
    extraction (deterministic fake decode; codec call stubbed)."""
    from unifydb_spark.operators.multimodal import attach_binary, extract_features

    return extract_features(attach_binary(_docs(spark, sf_dir))).orderBy("doc_id")


# ---------------------------------------------------------------------------
# graph analytics (operators/graph.py) over a TPC-H-derived entity graph;
# node ids are key+offset so the oracle builds the identical graph

_G_CUST, _G_NATION, _G_REGION, _G_SUPP, _G_ORDER = (
    1_000_000, 2_000_000, 3_000_000, 4_000_000, 5_000_000,
)


def _graph_edges(spark, sf_dir, include_orders: bool):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    parts = [
        cust.select(
            (F.col("c_custkey") + _G_CUST).alias("src"),
            (F.col("c_nationkey") + _G_NATION).alias("dst"),
        ),
        supp.select(
            (F.col("s_suppkey") + _G_SUPP).alias("src"),
            (F.col("s_nationkey") + _G_NATION).alias("dst"),
        ),
        nat.select(
            (F.col("n_nationkey") + _G_NATION).alias("src"),
            (F.col("n_regionkey") + _G_REGION).alias("dst"),
        ),
    ]
    if include_orders:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        parts.append(
            orders.select(
                (F.col("o_orderkey") + _G_ORDER).alias("src"),
                (F.col("o_custkey") + _G_CUST).alias("dst"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _graph_edges_cte(include_orders: bool) -> str:
    parts = [
        f"SELECT c_custkey + {_G_CUST} AS src, c_nationkey + {_G_NATION} AS dst FROM customer",
        f"SELECT s_suppkey + {_G_SUPP}, s_nationkey + {_G_NATION} FROM supplier",
        f"SELECT n_nationkey + {_G_NATION}, n_regionkey + {_G_REGION} FROM nation",
    ]
    if include_orders:
        parts.append(
            f"SELECT o_orderkey + {_G_ORDER}, o_custkey + {_G_CUST} FROM orders"
        )
    return " UNION ALL ".join(parts)


def q70_minhash_verified(spark, sf_dir):
    """The production dedup pipeline: LSH candidates -> exact Jaccard
    verification (sub-quadratic recall, exact precision)."""
    from unifydb_spark.operators.dedup import minhash_verified_pairs

    return minhash_verified_pairs(_docs(spark, sf_dir), threshold=0.8).orderBy(
        "d1", "d2"
    )


def q44_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: connected components over the Jaccard pair
    graph -> canonical doc per cluster (near-duplication is not
    transitive; pairs alone under-merge)."""
    from unifydb_spark.operators.dedup import dedup_clusters

    return dedup_clusters(_docs(spark, sf_dir), threshold=0.8).orderBy("doc_id")


def q45_vocab_stats(spark, sf_dir):
    """Corpus vocabulary: top-50 terms by frequency + doc frequency."""
    from unifydb_spark.operators.text import vocab_stats

    return vocab_stats(_docs(spark, sf_dir), top_k=50)


def q78_label_centroids(spark, sf_dir):
    """Per-label embedding centroids (decimal-exact dimension means)."""
    from unifydb_spark.operators.similarity import label_centroids

    return label_centroids(_emb(spark, sf_dir)).orderBy("label", "dim")


def q72_kmeans(spark, sf_dir):
    """Spherical k-means, 3 fixed iterations: an iterative ML training
    loop with exact-decimal arithmetic; the oracle unrolls the identical
    iterations in SQL."""
    from unifydb_spark.operators.similarity import kmeans_assign

    return kmeans_assign(_emb(spark, sf_dir), k=8, iters=3).orderBy("vec_id")


def q81_event_histogram(spark, sf_dir):
    """Value histogram per event type (fixed-width buckets) — the
    groupBy-on-derived-key shape, map-side combinable."""
    ev = _events_ts(spark, sf_dir)
    bucket = F.floor(F.col("value") / F.lit(10.0)).cast("bigint")
    return (
        ev.groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "bucket")
    )


def q80_source_quality(spark, sf_dir):
    """Per-source corpus quality report: text_stats rolled up by the
    document source (the curation dashboard query)."""
    from unifydb_spark.operators.text import text_stats

    docs = _docs(spark, sf_dir)
    stats = text_stats(docs).join(docs.select("doc_id", "source"), "doc_id")
    return (
        stats.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.col("quality").cast("decimal(30,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_quality"),
            F.sum("n_ws_tokens").alias("total_tokens"),
        )
        .select(
            "source", "n_docs", F.round("avg_quality", 6).alias("avg_quality"),
            "total_tokens",
        )
        .orderBy("source")
    )


def q79_graph_degrees(spark, sf_dir):
    """Graph degree metrics over the entity graph (orders included)."""
    from unifydb_spark.operators.graph import degrees

    return degrees(_graph_edges(spark, sf_dir, True)).orderBy("node")


def q31_connected_components(spark, sf_dir):
    """Undirected connected components via min-label propagation fixpoint
    (components = region clusters)."""
    from unifydb_spark.operators.graph import connected_components

    return connected_components(_graph_edges(spark, sf_dir, False)).orderBy("node")


def q32_pagerank(spark, sf_dir):
    """10-iteration PageRank (decimal-exact per-node sums; oracle unrolls
    the identical iterations in SQL)."""
    from unifydb_spark.operators.graph import pagerank

    df = pagerank(_graph_edges(spark, sf_dir, True), iters=10)
    return df.select("node", F.round("rank", 10).alias("rank")).orderBy("node")


def q51_regional_revenue(spark, sf_dir):
    """TPC-H Q5 analog through the Datalog compiler: 5-entity join chain
    (lineitem -> order -> customer -> nation -> region) + decimal revenue
    aggregation. Catalyst broadcasts the small dimension scans."""
    eng = _engine(spark, sf_dir)
    df = eng.query(
        {
            "find": ["?rname", ("sum", "?rev", "revenue"), ("count", "?rev", "n_items")],
            "where": [
                ["?l", ":lineitem/order", "?o"],
                ["?l", ":lineitem/extendedprice", "?ep"],
                ["?l", ":lineitem/discount", "?disc"],
                ["?o", ":order/customer", "?c"],
                ["?o", ":order/orderstatus", "F"],
                ["?c", ":customer/nation", "?n"],
                ["?n", ":nation/region", "?r"],
                ["?r", ":region/name", "?rname"],
                [("-", 1.0, "?disc"), "?rebate"],
                [("*", "?ep", "?rebate"), "?rev"],
            ],
            "sort-by": ["?rname"],
        }
    )
    return df.withColumn("revenue", F.round(F.col("revenue").cast("double"), 4))


def q67_top_customers(spark, sf_dir):
    """TPC-H Q10 analog: per-customer revenue ranking with limit through
    the find pipeline (groupBy + decimal sum + sort + limit)."""
    eng = _engine(spark, sf_dir)
    df = eng.query(
        {
            "find": ["?ck", "?cname", ("sum", "?rev", "revenue")],
            "where": [
                ["?l", ":lineitem/order", "?o"],
                ["?l", ":lineitem/extendedprice", "?ep"],
                ["?l", ":lineitem/discount", "?disc"],
                ["?l", ":lineitem/returnflag", "R"],
                ["?o", ":order/customer", "?c"],
                ["?c", ":customer/custkey", "?ck"],
                ["?c", ":customer/name", "?cname"],
                [("-", 1.0, "?disc"), "?rebate"],
                [("*", "?ep", "?rebate"), "?rev"],
            ],
        }
    )
    return (
        df.withColumn("revenue", F.round(F.col("revenue").cast("double"), 4))
        .orderBy(F.col("revenue").desc(), F.col("ck"))
        .limit(20)
    )


def _hash_graph(spark, sf_dir):
    """Sparse deterministic graph over the dense customer key space:
    3 out-edges per node via affine maps (has triangles, unlike the
    tree-shaped FK graph). Built identically by the oracle."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = cust.count()
    c = F.col("c_custkey")
    parts = [
        cust.select(c.alias("src"), ((2 * c + 1) % n).alias("dst")),
        cust.select(c.alias("src"), ((3 * c + 7) % n).alias("dst")),
        cust.select(c.alias("src"), ((5 * c + 13) % n).alias("dst")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.filter(F.col("src") != F.col("dst"))


_HASH_GRAPH_CTE = """
    SELECT c_custkey AS src, (2*c_custkey + 1) %% n AS dst
    FROM customer, (SELECT COUNT(*) AS n FROM customer)
    WHERE c_custkey != (2*c_custkey + 1) %% n
    UNION ALL
    SELECT c_custkey, (3*c_custkey + 7) %% n
    FROM customer, (SELECT COUNT(*) AS n FROM customer)
    WHERE c_custkey != (3*c_custkey + 7) %% n
    UNION ALL
    SELECT c_custkey, (5*c_custkey + 13) %% n
    FROM customer, (SELECT COUNT(*) AS n FROM customer)
    WHERE c_custkey != (5*c_custkey + 13) %% n
""".replace("%%", "%")


def q36_triangle_count(spark, sf_dir):
    """Triangle counting via canonical edge orientation + two-hop join."""
    from unifydb_spark.operators.graph import triangle_count

    return triangle_count(_hash_graph(spark, sf_dir))


def q37_shortest_paths(spark, sf_dir):
    """Unweighted BFS distances from customer 0 over the entity graph
    (frontier-based semi-naive expansion)."""
    from unifydb_spark.operators.graph import shortest_paths

    return shortest_paths(
        _graph_edges(spark, sf_dir, False), sources=[_G_CUST + 0]
    ).orderBy("node")


def q52_curation_pipeline(spark, sf_dir):
    """End-to-end corpus curation: quality-score filter + near-dup removal
    (keep each duplicate cluster's lowest doc_id) — the operators composed
    the way a training-data pipeline uses them."""
    from unifydb_spark.operators.dedup import ngram_jaccard_pairs
    from unifydb_spark.operators.text import text_stats

    docs = _docs(spark, sf_dir)
    stats = text_stats(docs)
    dupes = ngram_jaccard_pairs(docs, threshold=0.8).select(
        F.col("d2").alias("doc_id")
    ).distinct()
    return (
        stats.filter(F.col("quality") >= 0.5)
        .join(dupes, "doc_id", "left_anti")
        .select("doc_id", "n_ws_tokens", "quality")
        .orderBy("doc_id")
    )


def q39_hash_sample(spark, sf_dir):
    """Deterministic hash-based sampling (reproducible holdout split):
    25% of documents by md5(key) threshold, stable across engines and
    partitionings."""
    from unifydb_spark.operators.text import hash_sample

    return (
        hash_sample(_docs(spark, sf_dir), rate=0.25)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def _events_ts(spark, sf_dir):
    from unifydb_spark.values import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return normalize_event_ts(ev)


def q34_sessionize(spark, sf_dir):
    """Gap-based sessionization (30 min) + per-session rollup — one
    shuffle on user_id (operators/events.py)."""
    from unifydb_spark.operators.events import sessionize

    return sessionize(_events_ts(spark, sf_dir), gap_minutes=30).orderBy(
        "user_id", "session_seq"
    )


def q35_asof_join(spark, sf_dir):
    """As-of join (point-in-time correctness): latest strictly-prior click
    per purchase, merge formulation — no join node."""
    from unifydb_spark.operators.events import asof_latest

    return asof_latest(_events_ts(spark, sf_dir)).orderBy("event_id")



from contextlib import contextmanager


def _stage_stream_source(src: str, dst: str) -> None:
    """Copy a parquet table into a stream-source staging dir. Driver
    testdata tables are single files; scratch data written by Spark
    (fixtures/sf1) are DIRECTORIES of part files — flatten those into
    the staging dir (the file-source stream lists one level, it does
    not recurse into subdirectories)."""
    import shutil
    from pathlib import Path

    srcp, dstp = Path(src), Path(dst)
    if srcp.is_dir():
        for i, part in enumerate(sorted(srcp.glob("*.parquet"))):
            shutil.copy(part, dstp.parent / f"{dstp.stem}_{i}.parquet")
    else:
        shutil.copy(src, dst)


@contextmanager
def _stream_state_partitions(spark, n: int = 8):
    """Scope spark.sql.shuffle.partitions around a streaming query: state
    operators instantiate one state store per shuffle partition, and a
    single availableNow micro-batch over test-scale data pays that fixed
    cost 32x for no parallelism gain (measured 8.4s -> 3.4s on the
    interval join at sf0.1). At production volume the number of state
    partitions is a sizing decision (state bytes per partition), not a
    constant — this helper is the config surface for it."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def q33_stream_windowed_metrics(spark, sf_dir):
    """Structured Streaming: watermarked 1-day tumbling windows over the
    event stream (file source, availableNow). Append mode emits exactly
    the watermark-closed windows — the oracle filters to the same set."""
    import shutil
    import tempfile
    import uuid

    from unifydb_spark.streaming import read_event_stream, windowed_metrics

    name = "wm_" + uuid.uuid4().hex[:8]
    # the file-source stream wants a directory of files
    src_dir = tempfile.mkdtemp(prefix="unifydb_stream_")
    _stage_stream_source(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    stream = read_event_stream(spark, src_dir)
    with _stream_state_partitions(spark):
        q = (
            windowed_metrics(stream, window="1 day", watermark="0 seconds")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="unifydb_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return (
        spark.table(name)
        .withColumn("sum_value", F.round(F.col("sum_value").cast("double"), 4))
        .orderBy("window_start", "user_id")
    )


def q40_stream_stateful_latest(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState): the
    running last-writer-wins snapshot per user; the final update per user
    must equal the batch window computation (the oracle)."""
    import shutil
    import tempfile
    import uuid

    from pyspark.sql.window import Window

    from unifydb_spark.streaming import read_event_stream, running_latest

    name = "lw_" + uuid.uuid4().hex[:8]
    src_dir = tempfile.mkdtemp(prefix="unifydb_stream_")
    _stage_stream_source(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    with _stream_state_partitions(spark):
        q = (
            running_latest(read_event_stream(spark, src_dir))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="unifydb_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    return (
        spark.table(name)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_id", "value")
        .orderBy("user_id")
    )


def _seq_engine(spark, sf_dir):
    """Customer rows as JSON sequence values for Q9 seq/rest unification
    (reference src/unifydb/unify.clj:46-85): each customer carries
    v_json = ["cust", [mktsegment, nationkey], custkey]. The log is
    assert-only single-tx, so the clean fast path applies."""
    from unifydb_spark import Engine, FactStore
    from unifydb_spark.store import DataFrameBackend
    from unifydb_spark.values import fact_columns

    key = (id(spark), sf_dir, "seq")
    if key not in _ENGINES:
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        vj = F.concat(
            F.lit('["cust",["'),
            F.col("c_mktsegment"),
            F.lit('",'),
            F.col("c_nationkey").cast("long").cast("string"),
            F.lit("],"),
            F.col("c_custkey").cast("string"),
            F.lit("]"),
        )
        facts = c.select(
            F.col("c_custkey").cast("long").alias("e"),
            F.lit("customer/info").alias("a"),
            *fact_columns("json", vj),
            F.lit(0).cast("long").alias("tx"),
            F.lit(True).alias("added"),
        )
        backend = DataFrameBackend(spark, facts)
        _ENGINES[key] = Engine(spark, FactStore(spark, backend=backend))
    return _ENGINES[key]


def q50_seq_rest_pattern(spark, sf_dir):
    """Q9 seq/rest patterns (reference unify.clj:46-85, rest patterns
    :66-73; golden test/unifydb/query_test.clj:40-51): nested sequence
    pattern with a '&' rest binding, matched by the pandas-UDF deep
    unifier over JSON values. Seq bindings surface as canonical-JSON
    strings, so the oracle rebuilds the same strings from the base
    columns."""
    eng = _seq_engine(spark, sf_dir)
    return eng.query(
        {
            "find": ["?seg", "?nk", "?rest"],
            "where": [
                ["?c", ":customer/info", [":cust", ["?seg", "?nk"], "&", "?rest"]]
            ],
            "sort-by": ["?rest"],
        }
    )


def _retract_engine(spark, sf_dir):
    """Events as a retraction-heavy cardinality-many fact log (R1
    retraction collapse, reference src/unifydb/query.clj:132-165
    filter-sorted-facts): each event asserts (user, value-bucket);
    'error' events retract that pair. 'user/bucket' is declared
    :cardinality/many via schema facts, so the snapshot runs the full
    retraction-collapse window rather than last-writer-wins."""
    from unifydb_spark import Engine, FactStore
    from unifydb_spark.store import DataFrameBackend
    from unifydb_spark.values import FACT_SCHEMA, fact_columns, fact_row

    key = (id(spark), sf_dir, "retract")
    if key not in _ENGINES:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        facts = ev.select(
            ev.user_id.cast("long").alias("e"),
            F.lit("user/bucket").alias("a"),
            *fact_columns(
                "long", F.floor(F.col("value") / F.lit(10.0)).cast("long")
            ),
            ev.event_id.cast("long").alias("tx"),
            (F.col("event_type") != "error").alias("added"),
        )
        sid = 10**15
        schema_rows = spark.createDataFrame(
            [
                fact_row(sid, "unifydb/schema", "user/bucket", 0, True),
                fact_row(sid, "unifydb/cardinality", "cardinality/many", 0, True),
            ],
            schema=FACT_SCHEMA,
        )
        backend = DataFrameBackend(spark, facts.unionByName(schema_rows))
        _ENGINES[key] = Engine(spark, FactStore(spark, backend=backend))
    return _ENGINES[key]


def q41_retraction_snapshot(spark, sf_dir):
    """R1 retraction collapse on a cardinality-many attribute: the live
    (user, bucket) pairs — a pair is live iff the most recent fact for it
    is an assert (store.py snapshot windows, has_retractions=True path)."""
    eng = _retract_engine(spark, sf_dir)
    return eng.query(
        {
            "find": ["?u", "?b"],
            "where": [["?u", ":user/bucket", "?b"]],
            "sort-by": ["?u", "?b"],
        }
    ).select(F.col("u").alias("user_id"), F.col("b").alias("bucket"))


def q38_decontaminate(spark, sf_dir):
    """Benchmark decontamination: per-document count of word 5-grams
    overlapping a deterministic 10% benchmark split (test-set-overlap
    check before training; real pipelines use 8-13-grams — these docs are
    shorter). Benchmark n-grams broadcast; the corpus is never shuffled
    for the overlap."""
    from unifydb_spark.operators.dedup import decontaminate
    from unifydb_spark.operators.text import hash_sample

    docs = _docs(spark, sf_dir)
    bench = hash_sample(docs, rate=0.1, salt="bench")
    return decontaminate(docs, bench, n=5).orderBy("doc_id")


def q53_repetition_stats(spark, sf_dir):
    """Gopher-style repetition/quality filter signals per document
    (dup-word/dup-line/top-bigram/symbol fractions + pass flag)."""
    from unifydb_spark.operators.text import repetition_stats

    return repetition_stats(_docs(spark, sf_dir)).orderBy("doc_id")


def q54_stream_dedup(spark, sf_dir):
    """Streaming exact dedup: running per-content-hash state (canonical
    min doc id + copy count) over the document stream; final state must
    equal the batch groupBy (the oracle)."""
    import shutil
    import tempfile
    import uuid

    from unifydb_spark.streaming import read_document_stream, stream_dedup_state

    name = "dd_" + uuid.uuid4().hex[:8]
    src_dir = tempfile.mkdtemp(prefix="unifydb_stream_")
    _stage_stream_source(f"{sf_dir}/documents.parquet", f"{src_dir}/documents.parquet")
    with _stream_state_partitions(spark):
        q = (
            stream_dedup_state(read_document_stream(spark, src_dir))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="unifydb_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(name).orderBy("content_md5")


def q55_stream_sessionize(spark, sf_dir):
    """Native Structured Streaming session windows (F.session_window):
    the streaming twin of q34's batch sessionize. Append mode with a
    0-second watermark emits exactly the sessions closed by the final
    watermark (last event + gap <= max event time) — the oracle applies
    the same closed-session filter to the batch window formulation."""
    import shutil
    import tempfile
    import uuid

    from unifydb_spark.streaming import read_event_stream, session_metrics

    name = "ss_" + uuid.uuid4().hex[:8]
    src_dir = tempfile.mkdtemp(prefix="unifydb_stream_")
    _stage_stream_source(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    with _stream_state_partitions(spark):
        q = (
            session_metrics(read_event_stream(spark, src_dir), gap_minutes=30)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="unifydb_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(name).orderBy("user_id", "session_start")


def q56_embedding_rp_lsh(spark, sf_dir):
    """Sign-random-projection LSH (hyperplane SimHash) over embeddings:
    finds TIGHT near-dups (hamming<=7 of 64 ~ cosine>=0.94). The corpus
    has no pair tighter than cosine 0.51, so the query plants one
    deterministic near-dup per vector (+0.05 on dimension 0, id+10^6)
    and RP-LSH must recover exactly the planted pairs — block-pigeonhole
    equi-join candidates, exact-cosine verify, no all-pairs anywhere."""
    from unifydb_spark.operators.dedup import embedding_rp_pairs

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("embedding"),
    )
    pert = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda v, i: F.when(i == 0, v.cast("double") + F.lit(0.05)).otherwise(
                v.cast("double")
            ),
        ).alias("embedding"),
    )
    return embedding_rp_pairs(
        base.unionByName(pert), max_hamming=7, n_blocks=8
    ).orderBy("id1", "id2")


def q57_pack_sequences(spark, sf_dir):
    """Sequence packing (concat-and-chunk within deterministic hash
    shards): per-document shard, token offsets and chunk span — the
    training-loader packing step, shard-parallel by construction."""
    from unifydb_spark.operators.text import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), capacity=256, n_shards=8
    ).orderBy("doc_id")


_STRAT_RATES = {"en": 0.5, "de": 0.3, "fr": 0.2, "es": 0.1}


def q58_pii_redaction(spark, sf_dir):
    """PII scrubbing (operators/text.py redact_pii): the corpus text is
    synthetic word salad, so the query first plants deterministic PII per
    document (email/phone/IPv4 derived from doc_id, identically on both
    engines), then counts and redacts it — zero-shuffle regexp projection."""
    from unifydb_spark.operators.text import redact_pii

    d = F.col("doc_id")
    injected = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            d.cast("string"),
            F.lit("@example.com call +1-555-"),
            F.lpad((d % 10000).cast("string"), 4, "0"),
            F.lit(" host 10.0."),
            (d % 256).cast("string"),
            F.lit("."),
            ((d * 7) % 256).cast("string"),
        ),
    )
    return redact_pii(injected).orderBy("doc_id")


def q59_source_quantiles(spark, sf_dir):
    """Exact per-source document-length quantiles (operators/stats.py):
    count/min/max/p25/p50/p90/p99 of n_chars — one shuffle, interpolation
    verified ulp-identical to DuckDB quantile_cont."""
    from unifydb_spark.operators.stats import group_quantiles

    return group_quantiles(_docs(spark, sf_dir), "source", "n_chars").orderBy(
        "source"
    )


def q60_rolling_user_stats(spark, sf_dir):
    """Per-user rolling sequence features (operators/events.py): trailing
    5-row count/average of value + delta to the previous event — single
    shuffle on user_id, O(window) state per row."""
    from unifydb_spark.operators.events import rolling_user_stats

    return rolling_user_stats(_events_ts(spark, sf_dir), window_rows=5).orderBy(
        "event_id"
    )


def q61_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (operators/text.py): broadcast
    vocab-df join, broadcast one-row corpus count, window top-k — no
    driver-side collect anywhere."""
    from unifydb_spark.operators.text import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3).orderBy("doc_id", "rank")


def q62_stratified_sample(spark, sf_dir):
    """Per-language stratified hash sampling (operators/text.py): each
    stratum keeps its own deterministic md5-bucket rate (zh absent from
    the rate map -> dropped) — the training-mix re-balancing primitive;
    pure codegen filter, no shuffle."""
    from unifydb_spark.operators.text import stratified_sample

    return (
        stratified_sample(_docs(spark, sf_dir), _STRAT_RATES)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def q63_chunk_dedup(spark, sf_dir):
    """C4-style sub-document dedup (operators/dedup.py chunk_dedup_stats):
    12-word chunk hashes counted globally, per-doc duplicated-chunk
    fraction + keep flag — linear, never pairwise."""
    from unifydb_spark.operators.dedup import chunk_dedup_stats

    return chunk_dedup_stats(_docs(spark, sf_dir), chunk_words=12).orderBy("doc_id")


def q64_importance_sample(spark, sf_dir):
    """Quality-weighted importance sampling (operators/text.py): keep each
    document with probability = its text_stats quality score, decided by
    the deterministic md5 bucket — reproducible data mixing."""
    from unifydb_spark.operators.text import importance_sample, text_stats

    docs = _docs(spark, sf_dir)
    stats = text_stats(docs).select("doc_id", "quality")
    return (
        importance_sample(docs.join(stats, "doc_id"), F.col("quality"))
        .select("doc_id", "lang", "quality")
        .orderBy("doc_id")
    )


def q65_funnel(spark, sf_dir):
    """Ordered per-user funnel view -> click -> purchase (operators/
    events.py): stacked window aggregates, one shuffle total."""
    from unifydb_spark.operators.events import funnel

    return funnel(_events_ts(spark, sf_dir)).orderBy("user_id")


def q66_retention_cohorts(spark, sf_dir):
    """Day-cohort retention triangle (operators/events.py): first-day
    cohorts × day offsets × distinct active users."""
    from unifydb_spark.operators.events import retention_cohorts

    return retention_cohorts(_events_ts(spark, sf_dir)).orderBy(
        "cohort_day", "day_offset"
    )


def q42_stream_interval_join(spark, sf_dir):
    """Stream-stream interval join (streaming/stream.py interval_join):
    purchases attributed to same-user clicks in the trailing 30 min, both
    sides watermarked so state stays bounded; over the finite availableNow
    source the result equals the batch interval join (the oracle)."""
    import shutil
    import tempfile
    import uuid

    from unifydb_spark.streaming import interval_join, read_event_stream

    name = "ij_" + uuid.uuid4().hex[:8]
    src_dir = tempfile.mkdtemp(prefix="unifydb_stream_")
    _stage_stream_source(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    with _stream_state_partitions(spark):
        q = (
            interval_join(read_event_stream(spark, src_dir), lookback_minutes=30)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="unifydb_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(name).orderBy("purchase_id", "click_id")


def q68_robust_outliers(spark, sf_dir):
    """Per-user robust anomaly flags (operators/stats.py): z = (value -
    median)/IQR from exact interpolated quantiles (ulp-identical across
    engines, unlike streaming mean/stddev), |z| > 3 flagged. One tiny
    per-user stats shuffle broadcast back over the events."""
    from unifydb_spark.operators.stats import robust_outliers

    return robust_outliers(
        _events_ts(spark, sf_dir), "user_id", "value", threshold=3.0
    ).select("event_id", "user_id", "value", "robust_z", "is_outlier").orderBy(
        "event_id"
    )


def q69_resample_ffill(spark, sf_dir):
    """Per-user hourly resample + forward fill (operators/events.py):
    last observation per hour (deterministic pick by event_id), dense
    per-user hour grid via sequence/explode, gaps forward-filled with
    last(... ignore nulls) — the align-to-model-time-step primitive; a
    deterministic user decile keeps the oracle frame compact."""
    from unifydb_spark.operators.events import resample_ffill

    ev = _events_ts(spark, sf_dir).filter(F.col("user_id") % 10 == 0)
    return resample_ffill(ev, freq="hour").orderBy("user_id", "bucket")


def q43_record_linkage(spark, sf_dir):
    """Blocking + edit-distance record linkage (operators/linkage.py):
    a synthetic dirty feed (doc-title prefixes with deterministic
    2-char typos on odd ids, heavy corruption on even ids) linked back
    to the clean registry — prefix-block equi-join, levenshtein only
    within blocks, best match per dirty record by one window."""
    from unifydb_spark.operators.linkage import block_link

    docs = _docs(spark, sf_dir)
    clean = docs.select(
        F.col("doc_id").alias("id"),
        F.substring("text", 1, 30).alias("name"),
    )
    name = F.substring("text", 1, 30)
    dirty = docs.select(
        (F.col("doc_id") + 1_000_000).alias("id"),
        F.when(
            F.col("doc_id") % 2 == 1,
            F.concat(F.substring(name, 1, 28), F.lit("qz")),
        )
        .otherwise(F.concat(F.substring(name, 1, 18), F.lit("%%corrupted%%")))
        .alias("name"),
    )
    return block_link(clean, dirty, block_len=6, max_dist=2).orderBy(
        "dirty_id"
    )


def q71_dq_report(spark, sf_dir):
    """Data-quality gate (operators/quality.py): predicate, uniqueness
    and referential-integrity checks over customer/orders/lineitem
    compiled to a one-row-per-check report — the pre-training validation
    every pipeline runs before admitting a source."""
    from unifydb_spark.operators.quality import (
        check_predicate,
        check_referential,
        check_unique,
        dq_report,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    checks = [
        check_predicate(
            li, "lineitem_qty_positive", F.col("l_quantity") <= 0
        ),
        check_predicate(
            li,
            "lineitem_discount_range",
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
        ),
        check_predicate(
            orders, "orders_totalprice_positive", F.col("o_totalprice") <= 0
        ),
        check_predicate(
            cust, "customer_acctbal_notnull", F.col("c_acctbal").isNull()
        ),
        check_unique(orders, "orders_pk_unique", ["o_orderkey"]),
        check_unique(
            li, "lineitem_pk_unique", ["l_orderkey", "l_linenumber"]
        ),
        check_referential(
            orders, "o_custkey", cust, "c_custkey", "orders_custkey_ref"
        ),
        check_referential(
            li, "l_orderkey", orders, "o_orderkey", "lineitem_orderkey_ref"
        ),
    ]
    return dq_report(checks).orderBy("check_name")


def q47_salted_join(spark, sf_dir):
    """Skew-salted orders x customer join (operators/joins.py) rolled up
    to per-mktsegment order counts and revenue. The salt spreads any hot
    customer key over 8 sub-partitions; the oracle is the PLAIN join —
    result-identity is the correctness claim of salting."""
    from unifydb_spark.operators.joins import salted_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = salted_join(orders, cust, "custkey", n_salts=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(30,10)")).cast(
                    "double"
                ),
                4,
            ).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


def q73_bigram_commonness(spark, sf_dir):
    """Char-bigram LM-proxy scoring (operators/text.py): corpus bigram
    counts -> per-doc average bigram frequency; integer arithmetic until
    one final division, so exact across engines — the
    perplexity-filter stand-in."""
    from unifydb_spark.operators.text import bigram_commonness

    return bigram_commonness(_docs(spark, sf_dir), prefix_chars=400).orderBy(
        "doc_id"
    )


def q74_image_resize(spark, sf_dir):
    """Multimodal resize stage (operators/multimodal.py resize_images):
    Arrow-batched mapInPandas over opaque binary payloads with the codec
    call faked deterministically (no PIL in container) — byte-budget
    arithmetic and digest derivation are exact on both engines; the
    batch plumbing is the production path."""
    from unifydb_spark.operators.multimodal import attach_binary, resize_images

    return resize_images(
        attach_binary(_docs(spark, sf_dir)), out_w=224, out_h=224
    ).orderBy("doc_id")


def q75_frame_sample(spark, sf_dir):
    """Video frame sampling (operators/multimodal.py frame_sample): one
    synthetic video row (payload + fps + duration metadata) fans out to
    one row per sampled frame inside the Arrow batch — the 1→N shape of
    a real ffmpeg extractor, executor-local, output bounded by
    duration*fps/every_n."""
    from unifydb_spark.operators.multimodal import attach_binary, frame_sample

    vids = attach_binary(_docs(spark, sf_dir)).withColumns(
        {
            "fps": F.lit(24).cast("long"),
            "duration_s": (1 + F.col("doc_id") % 30).cast("long"),
        }
    )
    return frame_sample(vids, every_n=24).orderBy("doc_id", "frame_idx")


def q76_quantize_int8(spark, sf_dir):
    """Symmetric int8 embedding quantization (operators/similarity.py
    quantize_int8): floor-based codes + scale + max reconstruction
    error, all elementwise ops so bit-exact cross-engine; zero-shuffle
    map stage."""
    from unifydb_spark.operators.similarity import quantize_int8

    return quantize_int8(_emb(spark, sf_dir)).orderBy("vec_id")


def q77_incremental_dedup(spark, sf_dir):
    """Incremental-ingest dedup: the 'daily batch' (doc_id % 4 == 0)
    deduplicates against the persistent corpus LSH index
    (operators/dedup.py minhash_lsh_pairs_incremental + minhash_band_rows).
    Signatures are computed for the batch only; the corpus index joins on
    (band, band_key) — O(batch) compute against an arbitrarily large
    corpus, the shape a 100 TB ingest pipeline runs daily."""
    from unifydb_spark.operators.dedup import (
        minhash_band_rows,
        minhash_lsh_pairs_incremental,
        minhash_signatures,
    )

    docs = _docs(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    corpus_idx = minhash_band_rows(
        minhash_signatures(docs.filter(F.col("doc_id") % 4 != 0))
    )
    return minhash_lsh_pairs_incremental(batch, corpus_idx).orderBy(
        "new_doc_id", "corpus_doc_id"
    )


def q46_audio_features(spark, sf_dir):
    """Audio stage of the multimodal triad: synthetic WAV payloads (one
    per doc, formula-generated PCM), REAL RIFF/PCM decode inside
    mapInPandas, then windowed sum-of-squares / RMS features
    (operators/multimodal.py decode_wav + audio_features). The oracle
    regenerates the samples symbolically — the decode round-trip must be
    byte-exact for the hash to match."""
    from unifydb_spark.operators.multimodal import audio_features, synth_audio

    return audio_features(
        synth_audio(_docs(spark, sf_dir)), window=128
    ).orderBy("doc_id", "win_idx")


def q30_range_join(spark, sf_dir):
    """Batch point-in-interval range join via the binned equi-join
    strategy (operators/events.py range_join_binned): intervals explode
    to covered time bins, points join on their bin, exact containment
    filters after — O(points + interval-bins) shuffle instead of the
    nested-loop a BETWEEN theta-join plans. Oracle IS that theta-join."""
    from unifydb_spark.operators.events import interval_activity

    return interval_activity(_events_ts(spark, sf_dir)).orderBy("owner")


def q49_corpus_mix(spark, sf_dir):
    """Corpus mixing to target source weights under a total token budget
    (operators/text.py mix_by_token_budget): deterministic per-source
    weights, md5-shuffle order, cumulative-token window selection — the
    composition step that assembles the final training mixture."""
    from unifydb_spark.operators.text import mix_by_token_budget

    return mix_by_token_budget(_docs(spark, sf_dir), total_tokens=10_000).orderBy(
        "doc_id"
    )


def q48_count_min(spark, sf_dir):
    """Count-min sketch heavy hitters (operators/sketch.py): a d x w
    counter table built in one bounded aggregation estimates term
    frequencies; the query compares CMS estimates to exact counts for
    the top-50 terms. md5-seeded hashing makes the sketch — and thus the
    estimates, collisions included — bit-identical on the oracle."""
    from unifydb_spark.operators.sketch import term_frequency_cms

    return term_frequency_cms(_docs(spark, sf_dir), top_k=50).orderBy(
        F.col("true_count").desc(), "term"
    )


def q88_stream_user_stats(spark, sf_dir):
    """Per-user running stats (count / max / argmax-by-event-id) as a
    stateful stream (streaming/stream.py user_stats_stateful,
    applyInPandasWithState). Update mode emits each touched user's
    running state per micro-batch; the final update per user (largest
    n_events) must equal the batch aggregation — exactly what the oracle
    asserts. The state transition (`_user_stats_step`) is shared
    verbatim with the experimental transformWithStateInPandas variant
    (user_stats_tws), whose worker needs google.protobuf (absent here;
    skip-marked e2e test + fake-handle unit execution cover it)."""
    import shutil
    import tempfile
    import uuid

    from pyspark.sql.window import Window

    from unifydb_spark.streaming import read_event_stream, user_stats_stateful

    name = "us_" + uuid.uuid4().hex[:8]
    src_dir = tempfile.mkdtemp(prefix="unifydb_stream_")
    _stage_stream_source(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    with _stream_state_partitions(spark):
        q = (
            user_stats_stateful(read_event_stream(spark, src_dir))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="unifydb_ckpt_")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        spark.table(name)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "user_id", "n_events", "max_value", "last_event_id", "last_value"
        )
        .orderBy("user_id")
    )


def q82_video_features(spark, sf_dir):
    """Video stage of the multimodal triad: synthetic YUV4MPEG2 payloads
    (formula-generated mono planes), REAL container decode
    (operators/multimodal.py decode_y4m) inside mapInPandas, per-sampled-
    frame luma sum / polynomial hash / mean. The oracle regenerates the
    pixels symbolically — the parse must recover every byte exactly."""
    from unifydb_spark.operators.multimodal import synth_video, video_features

    return video_features(
        synth_video(_docs(spark, sf_dir)), every_n=6
    ).orderBy("doc_id", "frame_idx")


def q83_image_features_real(spark, sf_dir):
    """Image stage with the REAL decoder under the oracle: synthetic
    formula PNGs (real zlib+filter encode), decode_image inside
    mapInPandas (inflate + unfilter), exact integer features. With q46
    (audio) and q82 (video), every modality's genuine codec path is now
    hash-verified, not just unit-tested."""
    from unifydb_spark.operators.multimodal import (
        image_features_real,
        synth_images,
    )

    return image_features_real(synth_images(_docs(spark, sf_dir))).orderBy(
        "doc_id"
    )


def q84_hll_distinct(spark, sf_dir):
    """Engine-portable HyperLogLog (operators/sketch.py): per-event-type
    distinct-user estimates from 2^9 md5 registers whose ranks come from
    LENGTH(BIN(w)) — integer-exact on both engines, so the oracle matches
    the registers and the harmonic estimate bit-for-bit. The mergeable
    register table is the 100 TB rollup path for R9 count-distinct."""
    from unifydb_spark.operators.sketch import hll_distinct

    # _events_ts handles the testdata ts-encoding vintages (int64 nanos vs
    # timestamp[us]); a raw read throws on the nanos vintage in a fresh
    # session even though only user_id/event_type are used here.
    ev = _events_ts(spark, sf_dir)
    return hll_distinct(
        ev.select("event_type", F.col("user_id").cast("string").alias("uid")),
        "uid",
        "event_type",
    ).orderBy("event_type")


def q85_source_overlap(spark, sf_dir):
    """Inter-source n-gram contamination matrix (operators/dedup.py
    source_overlap_matrix): distinct shared 5-grams per source pair —
    the pre-mixing overlap audit. Only shingles present in >= 2 sources
    reach the pair join, so cost tracks true overlap, not corpus size."""
    from unifydb_spark.operators.dedup import source_overlap_matrix

    return source_overlap_matrix(_docs(spark, sf_dir)).orderBy(
        "source_a", "source_b"
    )


def q86_bpe_merges(spark, sf_dir):
    """BPE merge learning (operators/text.py bpe_learn): 64 merges over
    the corpus word-frequency table via exact batched selection (each
    round proves a prefix of disjoint top pairs is what the sequential
    loop would pick, then applies them in one vocab rewrite). The
    DuckDB oracle unrolls the SEQUENTIAL loop exactly (64 argmax +
    rewrite levels, oracle/text.py bpe_learn_unrolled_sql) — sound
    because the batched selection is pinned equal to the sequential loop
    by tests/test_operators.py (6 and 64 merges) and the fuzz suite."""
    from unifydb_spark.operators.text import bpe_learn

    merges = bpe_learn(_docs(spark, sf_dir), n_merges=64)
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, "
        "pair_count bigint"
    ).orderBy("step")


def q87_bloom_decontaminate(spark, sf_dir):
    """Decontamination routed through the bloom pre-filter
    (operators/joins.py bloom_decontaminate): the benchmark 4-gram set is
    summarized as a 2^17-bit bloom bitmap, corpus shingles are probed
    bitmap-side (codegen projection, no shuffle) before the exact overlap
    join removes the false-positive sliver — result-identical to the
    plain join, which is exactly what the oracle asserts. The scale
    regime this serves: a benchmark n-gram set too big to broadcast as
    rows but tiny as a bitmap, where the pre-filter cuts the corpus
    shuffle to candidates only."""
    from unifydb_spark.operators.joins import bloom_decontaminate
    from unifydb_spark.operators.text import hash_sample

    docs = _docs(spark, sf_dir)
    bench = hash_sample(docs, rate=0.1, salt="bloombench")
    return bloom_decontaminate(docs, bench, n=4).orderBy("doc_id")


def q89_bpe_encode(spark, sf_dir):
    """Tokenizer APPLICATION (operators/text.py bpe_encode): learn 32
    merges, then tokenize the corpus with them — per-doc whitespace word
    count, BPE token count, char count. The merge kernel runs over
    DISTINCT WORDS only (vocab-sized mapInPandas) and joins back via a
    broadcast; the corpus is never touched by Python. The DuckDB oracle
    (oracle/text.py bpe_encode_unrolled_sql) relearns the merges via the
    same unrolled sequential chain as q86, then expresses the greedy merge
    fold as leftmost non-overlapping replace over separator-wrapped
    token states — a full value-hash check; tests additionally pin
    word-level parity with the pure-Python kernel."""
    from unifydb_spark.operators.text import bpe_encode, bpe_learn

    docs = _docs(spark, sf_dir)
    merges = bpe_learn(docs, n_merges=32)
    return bpe_encode(docs, merges).orderBy("doc_id")


def q90_ann_recall(spark, sf_dir):
    """ANN index quality gauge (operators/similarity.py ann_recall):
    recall@10 of the IVF index (nprobe=2 of 16 centroids) against exact
    brute-force cosine top-10, per query — the curve every ANN
    deployment tunes (n_centroids, nprobe) against. Composes the graded
    q27/q28 operators; fully SQL-expressible, full value-hash oracle."""
    from unifydb_spark.operators.similarity import ann_recall

    return ann_recall(
        _emb(spark, sf_dir), n_centroids=16, nprobe=2, n_queries=8, k=10
    ).orderBy("query_id")


def q91_global_row_number(spark, sf_dir):
    """Scalable global row numbering (operators/layout.py
    global_row_number): dense 1-based ids over orders in
    (o_orderdate, o_orderkey) order with NO Exchange SinglePartition —
    range-partition + per-partition offsets + windows partitioned by the
    range bucket. The oracle is the plain ROW_NUMBER() OVER (ORDER BY),
    i.e. exactly the plan Spark cannot run at scale."""
    from unifydb_spark.operators.layout import global_row_number

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return global_row_number(
        orders.select("o_orderkey", "o_orderdate"),
        ["o_orderdate", "o_orderkey"],
    ).orderBy("row_num")


def q92_heavy_hitters(spark, sf_dir):
    """EXACT phi-heavy-hitter terms (operators/sketch.py heavy_hitters):
    per-partition Misra-Gries summaries collapse the shuffle to <=
    ceil(1/phi) candidates per partition, then one exact recount of the
    candidate sliver applies the integer-rational threshold — result
    identical to the full groupBy, which is what the oracle asserts."""
    from unifydb_spark.operators.sketch import heavy_hitters
    from unifydb_spark.operators.text import words_col

    toks = _docs(spark, sf_dir).select(
        F.explode(words_col(F.col("text"))).alias("term")
    )
    return heavy_hitters(toks, "term", phi_num=1, phi_den=55).orderBy("term")


def q93_inverted_index(spark, sf_dir):
    """Chunked inverted index over the corpus (operators/search.py
    inverted_index): (term, chunk) posting rows bounded to 64 entries
    each — the skew-proof layout where a stopword becomes many bounded
    rows instead of one corpus-sized collect_list."""
    from unifydb_spark.operators.search import inverted_index

    return inverted_index(_docs(spark, sf_dir), min_df=2, chunk=64).orderBy(
        "term", "chunk_id"
    )


def q94_bm25_search(spark, sf_dir):
    """BM25 ranked retrieval (operators/search.py bm25_topk): top-15
    documents for a bag-of-words query; per-term scores rounded to
    integer micro-units before the per-doc sum so the float ranking is
    addition-order-independent and the oracle can hash it."""
    from unifydb_spark.operators.search import bm25_topk

    return bm25_topk(
        _docs(spark, sf_dir), query=_BM25_QUERY, k=15
    )


def q95_dup_span_coverage(spark, sf_dir):
    """Duplicated-substring coverage (operators/dedup.py
    dup_span_coverage): per-doc count of token positions inside any
    8-gram shared with another document — the n-gram-granular analog of
    suffix-array exact substring dedup (Lee et al. 2022). Unique grams
    (the overwhelming majority at scale) die at the first combinable
    aggregation; only the duplicated sliver is ever rejoined."""
    from unifydb_spark.operators.dedup import dup_span_coverage

    return dup_span_coverage(_docs(spark, sf_dir), n=8).orderBy("doc_id")


def q96_zorder_profile(spark, sf_dir):
    """Z-order layout profile (operators/layout.py zorder_block_profile):
    Morton-interleave (user, minute-bucket) into one clustering key and
    report per-block row counts + min/max of BOTH dimensions — the
    quality metric of a 2-D data layout (tight block ranges on both axes
    = both predicates prune files). The z-key is a pure shift/mask/sum
    codegen expression, bit-identical on any engine."""
    from unifydb_spark.operators.layout import zorder_block_profile

    ev = _events_ts(spark, sf_dir).select(
        F.col("user_id").alias("ux"),
        (F.expr("unix_micros(ts) div 60000000") % 2048).alias("mb"),
    )
    return zorder_block_profile(
        ev, "ux", "mb", bits=11, block_shift=8
    ).orderBy("zblock")


def q97_exact_quantiles(spark, sf_dir):
    """Exact global quantiles with NO global sort and NO per-executor
    value buffer (operators/stats.py exact_quantiles_scalable):
    iterative histogram narrowing — each round one combinable
    aggregation returning <= 4096 rows to the driver — resolves the
    order statistics around each target rank, then interpolates exactly
    like quantile_cont. exact_threshold=2000 forces the narrowing path
    to actually run under the oracle (at 100 TB it is the only path:
    Spark's own exact percentile buffers every value per group)."""
    from unifydb_spark.operators.stats import exact_quantiles_scalable

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return exact_quantiles_scalable(
        li, "l_extendedprice", buckets=512, exact_threshold=2000
    ).orderBy("quantile")


def q98_cube_metrics(spark, sf_dir):
    """Every grouping-set level (cell, per-flag, per-status, grand
    total) in ONE scan + ONE shuffle (operators/olap.py
    grouping_set_metrics): Spark's Expand fans each row into the 2^d
    grouping sets BEFORE a single partial-aggregated hash agg — vs the
    reference's one-grouping-per-query evaluator (SURVEY §2 R0), which
    would need 4 scans. Sums are DECIMAL-exact, rounded DOUBLE at the
    boundary; gid uses the bit convention Spark and DuckDB share."""
    from unifydb_spark.operators.olap import grouping_set_metrics

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return grouping_set_metrics(
        li, ["l_returnflag", "l_linestatus"], "l_extendedprice", mode="cube"
    ).orderBy("gid", "l_returnflag", "l_linestatus")


def q99_windowed_share(spark, sf_dir):
    """Daily value / running total / day-over-day delta / share-of-user
    per (user, day) with ONE total shuffle (operators/olap.py
    windowed_share): the up-front hash(user) repartition satisfies the
    (user, day) aggregation AND all three user-partitioned windows, so
    Catalyst inserts no further Exchange (plan-asserted in
    tests/test_olap.py). Running sums are DECIMAL(30,10)-exact —
    order-independent under any task schedule."""
    from unifydb_spark.operators.olap import windowed_share

    return windowed_share(_events_ts(spark, sf_dir)).orderBy(
        "user_id", "day"
    )


def r01_topk_per_group(spark, sf_dir):
    """Top-3 orders per customer by total price (operators/olap.py
    topk_per_group): rank inside a hash(custkey)-partitioned window —
    each task sorts only its own groups, no global sort, identical rows
    to a per-group ORDER BY ... LIMIT 3."""
    from unifydb_spark.operators.olap import topk_per_group

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        topk_per_group(
            orders.select("o_custkey", "o_orderkey", "o_totalprice"),
            ["o_custkey"],
            "o_totalprice",
            "o_orderkey",
            k=3,
        )
        .orderBy("o_custkey", "rank_in_group")
    )


def r02_kmv_distinct(spark, sf_dir):
    """Per-event-type distinct-user estimate from a K-minimum-values
    sketch (operators/sketch.py kmv_sketch / kmv_distinct), next to the
    exact count for calibration. Sketch build shuffles O(k * partitions
    * groups) candidate rows — per-partition bottom-k-of-distinct
    pruning (the Misra-Gries move applied to order statistics), never
    the raw stream. Engine-portable md5 ranks: the oracle rebuilds the
    identical sketch, so the ESTIMATE hash-matches bit for bit."""
    from unifydb_spark.operators.sketch import kmv_distinct

    ev = _events_ts(spark, sf_dir)
    return kmv_distinct(ev, "user_id", "event_type", k=128).orderBy(
        "event_type"
    )


def r03_kmv_overlap(spark, sf_dir):
    """Pairwise Jaccard / intersection-size estimates between the user
    sets of every event-type pair, computed ONLY from the KMV sketches
    (operators/sketch.py kmv_jaccard) — set INTERSECTION is the
    operation HLL registers cannot express. Everything after the sketch
    build touches k rows per group: at 100 TB the cross-source overlap
    matrix is an algebra over broadcast-sized sketches. The group-pair
    frame is a broadcast self-join of the distinct group list (bounded
    by construction — plan-audit allowlisted)."""
    from unifydb_spark.operators.sketch import kmv_jaccard

    ev = _events_ts(spark, sf_dir)
    return kmv_jaccard(ev, "user_id", "event_type", k=128).orderBy(
        "grp_a", "grp_b"
    )


def r04_canonical_keep(spark, sf_dir):
    """The keep/drop decision a dedup pipeline executes
    (operators/dedup.py canonical_keep): near-dup clusters (lossless
    ppjoin pair generator -> connected components) -> elect one
    canonical per cluster (longest text, min doc_id tiebreak) via a
    window argmax inside hash(cluster)-partitioned tasks. No global
    sort; each composition step past the cluster labeling is one
    cluster-keyed shuffle."""
    from unifydb_spark.operators.dedup import canonical_keep

    return canonical_keep(_docs(spark, sf_dir), threshold=0.8).orderBy(
        "doc_id"
    )


def r05_curriculum_profile(spark, sf_dir):
    """Equal-size curriculum buckets in (n_chars, doc_id) order — the
    length-ordered training schedule (operators/layout.py
    curriculum_buckets). The rank comes from the scalable
    global_row_number (range-partition + broadcast offsets, NO
    Exchange SinglePartition — a bare NTILE is the one-task global
    sort); bucket = floor((rank-1)*k/N) in integer DIV arithmetic. N
    rides a broadcast 1-row cross join (bounded, allowlisted)."""
    from unifydb_spark.operators.layout import curriculum_profile

    return curriculum_profile(
        _docs(spark, sf_dir), "n_chars", "doc_id", n_buckets=8
    ).orderBy("bucket")


def r06_holdout_split(spark, sf_dir):
    """Deterministic train/val/test ASSIGNMENT manifest per source
    stratum (operators/text.py holdout_split_report): md5-u32 hash of
    the key against integer thresholds — a pure function of the key,
    so appends never reassign old docs and the frozen eval slice stays
    frozen. Zero shuffle to assign; one combinable agg to report."""
    from unifydb_spark.operators.text import holdout_split_report

    return holdout_split_report(_docs(spark, sf_dir)).orderBy(
        "source", "split"
    )


def r07_scd2_intervals(spark, sf_dir):
    """Type-2 SCD history: event stream -> (key, value, valid_from,
    valid_to, is_current) validity intervals (operators/events.py
    scd2_intervals) — the dimension-history twin of the store's LWW
    retraction collapse (q41 keeps ONE current value; SCD2 keeps every
    value with its range, what point-in-time feature joins consume).
    Change-compression then LEAD intervals: two windows, ONE hash(key)
    shuffle. Timestamps surface as fixed-format strings with a
    9999-12-31 open-interval sentinel — engine-neutral."""
    from unifydb_spark.operators.events import scd2_intervals

    return scd2_intervals(_events_ts(spark, sf_dir)).orderBy(
        "user_id", "valid_from"
    )


def r08_table_profile(spark, sf_dir):
    """ANALYZE-style column statistics in one pass
    (operators/stats.py table_profile): count / nulls / exact ndv /
    min / max per column — the CBO input that drives broadcast and
    join-order decisions. Spark rewrites the multi-column DISTINCT into
    ONE Expand + partial-agg shuffle (the grouping-sets machinery), so
    the table is scanned once, not once per column."""
    from unifydb_spark.operators.stats import table_profile

    docs = _docs(spark, sf_dir)
    return table_profile(
        docs, ["doc_id", "lang", "source", "n_chars"]
    ).orderBy("col_name")


def r09_group_exact_quantiles(spark, sf_dir):
    """Per-group EXACT quantiles with no per-group value buffer
    (operators/stats.py exact_group_quantiles_scalable): every
    (group, rank) target narrows in SHARED histogram rounds — one
    combinable aggregation per round serves all groups at once via a
    broadcast bounds table. Spark's own per-group percentile buffers
    every value of every group (the OOM at 100 TB);
    percentile_approx is bounded but approximate. exact_threshold=2000
    forces the narrowing path to actually run under the oracle."""
    from unifydb_spark.operators.stats import exact_group_quantiles_scalable

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return exact_group_quantiles_scalable(
        li, "l_returnflag", "l_extendedprice",
        buckets=256, exact_threshold=2000,
    ).orderBy("l_returnflag", "quantile")


def r10_ivm_merge(spark, sf_dir):
    """Incremental view maintenance (operators/olap.py
    merge_aggregate_state): the per-(event_type, day) aggregate is
    maintained as mergeable state (count + DECIMAL sum); a delta batch
    folds in via one delta-sized full-outer merge — NO base rescan —
    and the oracle asserts the incremental result equals the full batch
    recompute EXACTLY (decimal state is order-independent; float state
    would diverge). The living-corpus twin of the q77 incremental LSH
    ingest, for aggregates instead of indexes."""
    from unifydb_spark.operators.olap import (
        aggregate_state,
        finalize_aggregate_state,
        merge_aggregate_state,
    )

    ev = _events_ts(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "value",
    )
    base = ev.filter(F.col("event_id") % 5 != 0)
    delta = ev.filter(F.col("event_id") % 5 == 0)
    state = aggregate_state(base, ["event_type", "day"], "value")
    merged = merge_aggregate_state(state, delta, ["event_type", "day"], "value")
    return finalize_aggregate_state(merged, "value").orderBy(
        "event_type", "day"
    )


def r11_balanced_sample(spark, sf_dir):
    """Exactly-n-per-stratum sampling (operators/text.py
    balanced_sample): deterministic md5-ranked row_number per group —
    the balanced-eval-set primitive rate-based sampling can't give
    (small strata vanish under a global rate). One hash(group) shuffle,
    each window task ranks only its own groups, reproducible on any
    engine (the oracle rebuilds the identical selection)."""
    from unifydb_spark.operators.text import balanced_sample

    docs = _docs(spark, sf_dir).select("doc_id", "source", "lang", "n_chars")
    return balanced_sample(docs, n_per_group=20).orderBy(
        "source", "sample_rank"
    )


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


def r12_pivot_metrics(spark, sf_dir):
    """Wide pivot report: per day, one exact-sum column per event type
    (operators/olap.py pivot_metrics). EXPLICIT pivot values — Spark's
    value-less pivot() runs a full extra DISTINCT scan and yields a
    nondeterministic column order; with values fixed the pivot is one
    pass of conditional aggregates (identical to the oracle SQL), one
    map-side-combined shuffle."""
    from unifydb_spark.operators.olap import pivot_metrics

    ev = _events_ts(spark, sf_dir).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        "value",
    )
    return pivot_metrics(
        ev, "day", "event_type", _PIVOT_TYPES, "value"
    ).orderBy("day")


def r14_length_histogram(spark, sf_dir):
    """Token-length histogram with cumulative doc/token shares
    (operators/stats.py length_histogram): the context-length planning
    input for pack_sequences — one combinable groupBy over
    `len DIV bin_width`, then cumulative windows over the BIN relation
    (bounded rows regardless of corpus size)."""
    from unifydb_spark.operators.stats import length_histogram
    from unifydb_spark.operators.text import words_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return length_histogram(
        docs, F.size(words_col(F.col("text"))), bin_width=16
    ).orderBy("bin_lo")


def r15_winnow_pairs(spark, sf_dir):
    """Winnowed-fingerprint copy candidates (operators/dedup.py
    winnow_pairs — Schleimer et al. 2003, the MOSS algorithm):
    position-aware shared-substring evidence, the complement of
    MinHash's order-blind set resemblance. Fingerprint-keyed equi-join
    with the boilerplate hub cap applied before the self-join."""
    from unifydb_spark.operators.dedup import winnow_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return winnow_pairs(
        docs, k=16, w=4, min_shared=5, max_df=16
    ).orderBy("doc_a", "doc_b")


def r16_rolling_window(spark, sf_dir):
    """Trailing 24h per-user activity as of each event (operators/
    events.py rolling_metrics): RANGE frame over epoch microseconds,
    DECIMAL-exact sums — the point-in-time feature join primitive.
    One shuffle; sliding frame state bounded by the time window."""
    from unifydb_spark.operators.events import rolling_metrics

    return rolling_metrics(
        _events_ts(spark, sf_dir), window_hours=24
    ).orderBy("event_id")


def r17_source_divergence(spark, sf_dir):
    """Per-source unigram entropy + KL vs the corpus mixture
    (operators/text.py source_divergence): the quantitative mixture-
    design diagnostic. Token contributions are doubles (tfidf's
    ln-parity contract) cast to DECIMAL(30,15) so per-source sums are
    order-independent; the working set collapses to vocab-sized
    relations before any join."""
    from unifydb_spark.operators.text import source_divergence

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_divergence(docs).orderBy("source")


def r18_windowed_distinct(spark, sf_dir):
    """Trailing-7-day distinct users per day via HLL register-max
    merging (operators/sketch.py hll_windowed_distinct): distinct is
    not additive across days, register max IS — one scan builds daily
    registers, the window merge runs over a calendar-sized relation.
    Bit-identical to the oracle (integer-exact registers + harmonic
    sum, the q84 machinery windowed)."""
    from unifydb_spark.operators.sketch import hll_windowed_distinct

    ev = _events_ts(spark, sf_dir)
    return hll_windowed_distinct(
        ev.select(F.col("user_id").cast("string").alias("uid"), "ts"),
        "uid",
        window_days=7,
    ).orderBy("day")


def r19_image_ahash_dedup(spark, sf_dir):
    """Perceptual image dedup (operators/multimodal.py image_ahash_
    dedup): real PNG decode -> integer grid-pooled average-hash ->
    signature groupBy. The oracle recomputes the hash from the
    SQL-replayable synthetic pixel formula, certifying codec + hash end
    to end (the q83 argument extended to the perceptual hash)."""
    from unifydb_spark.operators.multimodal import (
        image_ahash_dedup,
        synth_images,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return image_ahash_dedup(synth_images(docs)).orderBy("doc_id")


def r20_stream_windowed_distinct(spark, sf_dir):
    """Streaming distinct-count sketch: per-day HLL registers built as
    a STREAMING aggregation (streaming/stream.py stream_hll_registers —
    register max is merge-commutative, so micro-batch boundaries are
    invisible and state is 2^p ints per window), then the tiny batch
    harmonic fold (sketch.hll_estimate_registers). The oracle computes
    the same per-day estimate from scratch; exact agreement certifies
    the streaming register state equals the batch build. Complete mode:
    the bounded replay must emit the final (unclosed-by-watermark) day
    too — an always-on deployment would run append + a real watermark,
    emitting each day's registers when it closes."""
    import shutil
    import tempfile
    import uuid

    from unifydb_spark.operators.sketch import hll_estimate_registers
    from unifydb_spark.streaming import read_event_stream, stream_hll_registers

    name = "shll_" + uuid.uuid4().hex[:8]
    src_dir = tempfile.mkdtemp(prefix="unifydb_stream_")
    _stage_stream_source(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    stream = read_event_stream(spark, src_dir).select(
        F.col("user_id").cast("string").alias("uid"), "ts"
    )
    with _stream_state_partitions(spark):
        q = (
            stream_hll_registers(stream, "uid", window="1 day")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="unifydb_ckpt_")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    regs = spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"), "max_rank"
    )
    return hll_estimate_registers(regs, ["day"]).orderBy("day")


def r21_join_skew_report(spark, sf_dir):
    """Pre-join skew/strategy advisor (operators/stats.py
    join_skew_report): measured row counts, exact key NDV, hottest-key
    share per side, folded into the broadcast/salt/shuffle decision —
    the offline version of what AQE only discovers at runtime. One
    combinable aggregation per side; output is ONE row. Probed on the
    events->user join against customer keys (skewed events side)."""
    from unifydb_spark.operators.stats import join_skew_report

    ev = _events_ts(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return join_skew_report(
        ev, cust, "user_id", "c_custkey", broadcast_rows=100_000
    )


def r22_winsorize_scale(spark, sf_dir):
    """Per-group feature scaling (operators/stats.py winsorize_scale):
    clamp to the group's exact [p1, p99] quantiles, then z-score
    against the clamped distribution with DECIMAL-exact moments —
    three tiny shuffles, rows never leave the executors."""
    from unifydb_spark.operators.stats import winsorize_scale

    ev = _events_ts(spark, sf_dir)
    return winsorize_scale(
        ev, "event_type", "value", "event_id"
    ).orderBy("event_id")


def r23_containment_pairs(spark, sf_dir):
    """Overlap-coefficient near-dup pairs (operators/dedup.py
    containment_pairs): |A∩B|/min(|A|,|B|) — catches short-inside-long
    verbatim inclusion that Jaccard scores near zero. Lossless
    asymmetric prefix filter (smaller doc's rarest-shingle prefix vs
    the full relation of larger docs), exact verify on candidates."""
    from unifydb_spark.operators.dedup import containment_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return containment_pairs(docs, n=3, threshold=0.8).orderBy("d1", "d2")


def r24_table_diff(spark, sf_dir):
    """Snapshot diff between two table vintages (operators/quality.py
    table_diff): added/removed/changed/unchanged per key from ONE
    null-safe full outer join — the CDC/regression-audit primitive.
    Vintages derive deterministically from documents (old drops
    doc_id%10==0, new drops %11==0 and edits text on %7==0, lang on
    %13==0) so both engines diff identical inputs."""
    from unifydb_spark.operators.quality import table_diff

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id", "text", "lang"
    )
    new = (
        docs.filter(F.col("doc_id") % 11 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
            F.when(F.col("doc_id") % 13 == 0, F.lit("xx"))
            .otherwise(F.col("lang"))
            .alias("lang"),
        )
    )
    return table_diff(old, new, ["doc_id"], ["text", "lang"]).orderBy(
        "doc_id"
    )


def r25_rate_anomaly(spark, sf_dir):
    """Event-rate anomaly monitor (operators/events.py rate_anomaly):
    per (type, day) z-score of the day's count against the preceding
    7 days on a DENSE day spine (zero-event days are the anomaly you
    must not skip). Integer count moments — no float accumulation
    before the final division. Everything after the one combinable
    count runs on the calendar-sized relation."""
    from unifydb_spark.operators.events import rate_anomaly

    return rate_anomaly(_events_ts(spark, sf_dir)).orderBy(
        "event_type", "day"
    )


def r26_audio_fingerprint(spark, sf_dir):
    """Energy-difference audio fingerprint (operators/multimodal.py
    audio_fingerprint, Haitsma-Kalker integer core): real RIFF/WAV
    decode -> exact windowed energies -> lag-compare bits packed into
    one BIGINT. The oracle regenerates the synthetic samples
    symbolically — decode-path certification, the r19 argument."""
    from unifydb_spark.operators.multimodal import (
        audio_fingerprint,
        synth_audio,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return audio_fingerprint(synth_audio(docs)).orderBy("doc_id")


def r27_scene_changes(spark, sf_dir):
    """Video cut detection (operators/multimodal.py scene_changes):
    real YUV4MPEG2 parse -> exact per-frame Y sums -> integer-rational
    delta threshold (no float compares). Oracle regenerates the synth
    planes symbolically."""
    from unifydb_spark.operators.multimodal import scene_changes, synth_video

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return scene_changes(synth_video(docs)).orderBy("doc_id", "frame_idx")


def r28_regression_metrics(spark, sf_dir):
    """Model-eval scoreboard (operators/stats.py regression_metrics):
    per-group n/RMSE/MAE/bias/R^2 with every accumulator in
    DECIMAL(38,12) — one combinable aggregation. The 'model' under
    eval is the per-type mean predictor (computed identically on both
    engines: decimal sum via the varchar hop / count), so R^2 is 0 by
    construction and the error metrics are pure data properties."""
    from unifydb_spark.operators.stats import regression_metrics

    ev = _events_ts(spark, sf_dir)
    means = ev.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(38,12)"))
            .cast("string")
            .cast("double")
            / F.count(F.lit(1))
        ).alias("pred")
    )
    scored = ev.join(F.broadcast(means), "event_type")
    return regression_metrics(
        scored, "event_type", "value", "pred"
    ).orderBy("event_type")


def r29_classification_report(spark, sf_dir):
    """Per-group confusion-matrix report (operators/stats.py
    classification_metrics): integer tp/fp/fn/tn from one combinable
    aggregation, ratios only at the surface. Deterministic
    label/pred derivation (value > 50 vs value > 49) puts a
    disagreement band on the threshold boundary."""
    from unifydb_spark.operators.stats import classification_metrics

    ev = _events_ts(spark, sf_dir).select(
        "event_type",
        (F.col("value") > 50).alias("label"),
        (F.col("value") > 49).alias("pred"),
    )
    return classification_metrics(
        ev, "event_type", "label", "pred"
    ).orderBy("event_type")


def r30_binary_auc(spark, sf_dir):
    """Exact Mann-Whitney ROC AUC per group (operators/stats.py
    binary_auc): the rank-sum identity with tie-AVERAGED integer
    doubled ranks — one sort-shuffle instead of the quadratic
    pairwise definition; ties exact. Score = value + md5-derived
    noise (the engine-portable hash trick), so AUC is strictly
    between 0.5 and 1."""
    from unifydb_spark.operators.stats import binary_auc

    noise = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 41
        - 20
    ).cast("double")
    ev = _events_ts(spark, sf_dir).select(
        "event_type",
        (F.col("value") > 50).alias("label"),
        (F.col("value") + noise).alias("score"),
    )
    return binary_auc(ev, "event_type", "label", "score").orderBy(
        "event_type"
    )


def r31_calibration_curve(spark, sf_dir):
    """Reliability diagram (operators/stats.py calibration_curve): the
    calibration half of the eval pair (r30 AUC = discrimination).
    Min-max-normalized md5-noise scores, equal-width bins, DECIMAL-
    exact mean scores, observed positive rate per bin."""
    from unifydb_spark.operators.stats import calibration_curve

    noise = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 41
        - 20
    ).cast("double")
    ev = _events_ts(spark, sf_dir).select(
        "event_type",
        (F.col("value") > 50).alias("label"),
        (F.col("value") + noise).alias("score"),
    )
    return calibration_curve(
        ev, "event_type", "label", "score", n_bins=10
    ).orderBy("event_type", "bin")


def r32_weighted_sample(spark, sf_dir):
    """Exactly-k weighted sampling without replacement per source
    (operators/text.py weighted_sample_k, Efraimidis-Spirakis A-ES):
    deterministic md5 uniforms -> key = ln(u)/w -> per-group top-k —
    size-exact AND weight-proportional, the missing corner between
    Bernoulli importance sampling and unweighted balanced sampling.
    One shuffle + windowed top-k; keys rounded to 10 decimals before
    ranking so both engines rank identical values."""
    from unifydb_spark.operators.text import weighted_sample_k

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weighted_sample_k(
        docs, "source", "doc_id", "n_chars", k=5
    ).orderBy("source", "rank_in_group")


def r33_cms_join_size(spark, sf_dir):
    """Join-size estimate without the join (operators/sketch.py
    cms_join_size): count-min inner product, min over rows — one-sided
    (est >= true), exact integer arithmetic, two broadcast-sized
    sketches instead of a 100 TB shuffle. The planner input r21's
    per-side skew report cannot see: cross-side key overlap."""
    from unifydb_spark.operators.sketch import cms_join_size

    ev = _events_ts(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return cms_join_size(ev, cust, "user_id", "c_custkey")


def r34_interval_union(spark, sf_dir):
    """Total covered time under overlap (operators/events.py
    interval_union_time): the sweep line as one windowed pass —
    +1/-1 boundary events, running integer depth, covered pieces where
    depth > 0. Intervals derive deterministically from events
    (duration = event_id % 73 + 1 minutes) so both engines sweep
    identical inputs; naive SUM(end-start) would double-count the
    overlaps this measures correctly."""
    from unifydb_spark.operators.events import interval_union_time

    ev = _events_ts(spark, sf_dir)
    iv = ev.select(
        "user_id",
        F.col("ts").alias("start_ts"),
        F.timestamp_micros(
            F.unix_micros("ts")
            + (F.col("event_id") % 73 + 1) * 60_000_000
        ).alias("end_ts"),
    )
    return interval_union_time(iv).orderBy("user_id")


def r35_mutual_information(spark, sf_dir):
    """Categorical feature-relevance screen (operators/stats.py
    mutual_information): MI + marginal entropies + normalized MI
    between documents.source and documents.lang. Contingency-table-
    sized after one combinable (x,y) count; DECIMAL-summed ln terms
    (the r17 contract)."""
    from unifydb_spark.operators.stats import mutual_information

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mutual_information(docs, "source", "lang")


def r36_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    streams (operators/events.py event_transitions): one lag window +
    one type-pair-sized count, row-normalized probabilities — the
    sequence-model input and cohort-drift fingerprint."""
    from unifydb_spark.operators.events import event_transitions

    return event_transitions(_events_ts(spark, sf_dir)).orderBy(
        "from_type", "to_type"
    )


def r37_topk_others(spark, sf_dir):
    """Top-k categories + aggregated (other) tail per group in one pass
    (operators/olap.py topk_with_others): report rows sum to the group
    total without a second scan; everything after the first combinable
    aggregation is category-sized. Nations per region by total account
    balance."""
    from unifydb_spark.operators.olap import topk_with_others

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = c.join(n, c["c_nationkey"] == n["n_nationkey"]).select(
        "n_regionkey", "n_name", "c_acctbal"
    )
    return topk_with_others(
        j, "n_regionkey", "n_name", "c_acctbal", k=3
    ).orderBy("n_regionkey", "rank")


def r38_group_trend(spark, sf_dir):
    """Per-type value trend over time (operators/stats.py group_trend):
    exact OLS slope/intercept/r2 from five DECIMAL-accumulated sums in
    ONE combinable aggregation — trend detection complementing r25's
    level-shift monitor. x = epoch day."""
    from unifydb_spark.operators.stats import group_trend

    ev = _events_ts(spark, sf_dir)
    x = F.datediff(F.to_date(F.col("ts")), F.lit("1970-01-01"))
    return group_trend(
        ev.select("event_type", x.alias("d"), "value"),
        "event_type",
        "d",
        "value",
    ).orderBy("event_type")


def r39_json_props(spark, sf_dir):
    """Semi-structured column aggregation (operators/olap.py
    json_props_metrics): events.props parsed ONCE via from_json with an
    EXPLICIT schema (JVM Jackson — no inference scan, no Python),
    typed-field aggregation with malformed rows counted rather than
    dropped."""
    from unifydb_spark.operators.olap import json_props_metrics

    ev = _events_ts(spark, sf_dir)
    return json_props_metrics(ev).orderBy("event_type")


def r40_embedding_covariance(spark, sf_dir):
    """Distributed covariance matrix of the embedding dimensions
    (operators/similarity.py embedding_covariance): the corpus
    collapses to d(d+1)/2 DECIMAL-exact pair sums in one combinable
    pass; PCA's eigen step then runs locally on the tiny matrix
    (pca_components). The canonical sufficient-statistics pattern for
    classical ML at scale."""
    from unifydb_spark.operators.similarity import embedding_covariance

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_covariance(emb).orderBy("i", "j")


def r41_token_drift(spark, sf_dir):
    """Token-mass drift report between corpus vintages (operators/
    text.py token_drift): top-20 tokens by |probability delta| with
    per-vintage mass — the WHAT-changed diagnosis behind a divergence
    alarm. Vintages = even/odd doc_id halves (deterministic on both
    engines); vocab-sized relations after one count per side."""
    from unifydb_spark.operators.text import token_drift

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        top_k=20,
    )


def r42_k_anonymity(spark, sf_dir):
    """Re-identification risk audit (operators/quality.py
    k_anonymity_report): share of rows in quasi-identifier groups
    smaller than k — the privacy gate next to redact_pii. Quasi tuple:
    (c_nationkey, c_mktsegment) over customers; everything after the
    one combinable groupBy is cardinality-sized."""
    from unifydb_spark.operators.quality import k_anonymity_report

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return k_anonymity_report(
        cust, ["c_nationkey", "c_mktsegment"], k=5
    )


def r43_rank_features(spark, sf_dir):
    """Rank-based feature transforms (operators/olap.py rank_features):
    ntile deciles (tie order pinned by id), percent_rank, cume_dist per
    event_type over value — the distribution-free normalizations
    complementing r22's parametric winsorize/z. One shared sort."""
    from unifydb_spark.operators.olap import rank_features

    ev = _events_ts(spark, sf_dir)
    return rank_features(
        ev, "event_type", "value", "event_id"
    ).orderBy("event_id")


def r44_trimmed_mean(spark, sf_dir):
    """Robust central tendency (operators/stats.py trimmed_mean): mean
    over the exact [p5, p95] quantile band per event type — drops
    corrupt tails rather than clamping them (r22's complement). Two
    group-sized aggregations."""
    from unifydb_spark.operators.stats import trimmed_mean

    ev = _events_ts(spark, sf_dir)
    return trimmed_mean(ev, "event_type", "value").orderBy("event_type")


def r45_benford_report(spark, sf_dir):
    """Benford first-digit forensic screen (operators/quality.py
    benford_report) over order totals: observed vs log10(1+1/d) shares
    with chi-square terms — the fabricated/unit-mangled-number
    detector. First digits extracted structurally (mantissa leads under
    any float rendering), one combinable digit count."""
    from unifydb_spark.operators.quality import benford_report

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return benford_report(orders, "o_totalprice").orderBy("digit")


def r46_gini_concentration(spark, sf_dir):
    """Per-source Gini concentration of document mass (operators/
    stats.py gini_coefficient over n_chars): the inequality summary
    next to the share report — one ranking window + DECIMAL-exact
    rank-product sums."""
    from unifydb_spark.operators.stats import gini_coefficient

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gini_coefficient(
        docs, "source", "n_chars", "doc_id"
    ).orderBy("source")


def r47_association_rules(spark, sf_dir):
    """Market-basket rules over per-user event-type sets (operators/
    events.py association_rules): support/confidence/lift per ordered
    pair — distinct (basket,item) collapse first, pair join bounded by
    the item domain, marginals broadcast."""
    from unifydb_spark.operators.events import association_rules

    return association_rules(_events_ts(spark, sf_dir)).orderBy(
        "antecedent", "consequent"
    )


def r48_token_pmi(spark, sf_dir):
    """Collocation PMI over document co-occurrence (operators/text.py
    token_pmi): top pairs by ln(n_ab*N/(n_a*n_b)) with df caps pruning
    BEFORE the within-doc self-join (the hub argument) — pair fan-out
    bounded by the capped per-doc vocabulary squared."""
    from unifydb_spark.operators.text import token_pmi

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_pmi(docs, min_df=5, max_df_frac=0.9, min_pair=5, top_k=30)


def r49_session_paths(spark, sf_dir):
    """Top navigation paths (operators/events.py session_paths):
    gap-sessionized ordered event-type sequences counted corpus-wide —
    per-session order pinned via sort_array over (ts,event_id) structs,
    never a bare collect_list."""
    from unifydb_spark.operators.events import session_paths

    return session_paths(_events_ts(spark, sf_dir), top_k=20)


def r50_survival_curve(spark, sf_dir):
    """Kaplan-Meier time-to-conversion (operators/events.py
    survival_curve): per user, time from first click to first
    subsequent purchase, CENSORED at the last event when no purchase
    follows — the estimator that keeps non-converters as information.
    Accumulations run over the distinct-duration grid; the running
    product is exp(cumsum(round(ln(1 - d/n), 12)))."""
    from unifydb_spark.operators.events import survival_curve

    ev = _events_ts(spark, sf_dir)
    um = F.unix_micros("ts")
    base = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", um)).alias("tc"),
        F.max(um).alias("tlast"),
    ).filter(F.col("tc").isNotNull())
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", um.alias("tp"))
        .join(base.select("user_id", "tc"), "user_id")
        .filter(F.col("tp") >= F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("tp").alias("tp"))
    )
    dur = base.join(purch, "user_id", "left").select(
        (
            (F.coalesce(F.col("tp"), F.col("tlast")) - F.col("tc"))
            / F.lit(60_000_000.0)
        ).alias("duration"),
        F.col("tp").isNotNull().alias("observed"),
    )
    return survival_curve(dur).orderBy("duration")


def r51_vocab_growth(spark, sf_dir):
    """Vocabulary growth curve / Heaps-law measurement (operators/
    text.py vocab_growth): cumulative distinct tokens WITHOUT windowed
    distinct — each token's first-occurrence document turns the curve
    into a running count over the document grid. Sampled every 25
    documents."""
    from unifydb_spark.operators.text import vocab_growth

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_growth(docs, sample_every=25).orderBy("doc_seq")


def r52_lorenz_points(spark, sf_dir):
    """Lorenz curve sample points per source (operators/stats.py
    lorenz_points over n_chars): the who-owns-the-mass curve behind
    the r46 Gini scalar — ranking window + cumulative DECIMAL sums,
    positional decile filter keeps points x groups rows."""
    from unifydb_spark.operators.stats import lorenz_points

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lorenz_points(
        docs, "source", "n_chars", "doc_id", n_points=10
    ).orderBy("source", "point")


def r53_ks_drift(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov drift gate (operators/
    stats.py ks_test): sup-norm ECDF distance between the 'click' and
    'purchase' event-value distributions — integer cross-multiplied
    cumulative counts over the distinct-value relation with the q91
    range-partition offset scheme (no single-partition sort), one
    division at the surface."""
    from unifydb_spark.operators.stats import ks_test

    ev = _events_ts(spark, sf_dir)
    return ks_test(ev, "value", "event_type", "click", "purchase")


def r54_chi_square(spark, sf_dir):
    """Chi-square independence + Cramer's V for documents lang x source
    (operators/stats.py chi_square_independence): the significance
    companion to r35's mutual information — one combinable contingency
    count, marginal-identity chi2 (empty cells never materialize),
    DECIMAL-summed cell terms."""
    from unifydb_spark.operators.stats import chi_square_independence

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chi_square_independence(docs, "lang", "source")


def r55_rater_agreement(spark, sf_dir):
    """Cohen's kappa between two document-quality raters (operators/
    stats.py cohens_kappa): rater A = char-length gate, rater B =
    word-count gate — agreement beyond chance for heuristic-filter
    pairs, one combinable 2x2 confusion pass."""
    from unifydb_spark.operators.stats import cohens_kappa
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = F.size(F.filter(F.split(F.col("text"), " "), lambda w: w != ""))
    return cohens_kappa(
        docs, F.col("n_chars") >= 200, words >= 35
    )


def r56_psi_drift(spark, sf_dir):
    """Population Stability Index report for event values, earlier vs
    later half split at the integer epoch midpoint (operators/stats.py
    psi_report): equi-width bins off one bounds pass, Laplace-smoothed
    shares, DECIMAL-summed (p-q)ln(p/q) terms — the production drift
    monitor next to r53's exact KS."""
    from unifydb_spark.operators.stats import psi_report

    ev = _events_ts(spark, sf_dir)
    return psi_report(ev, "value", "ts", n_bins=10).orderBy("bin")


def r57_daily_acf(spark, sf_dir):
    """Lag-1..7 autocorrelation of daily event counts on the dense day
    spine (operators/events.py daily_acf): the seasonality detector —
    all sums integer (one combinable day count), r_k one mirrored
    double expression per lag, windows on the calendar-sized spine."""
    from unifydb_spark.operators.events import daily_acf

    return daily_acf(_events_ts(spark, sf_dir), max_lag=7).orderBy("lag")


def r58_cusum_shift(spark, sf_dir):
    """Two-sided CUSUM mean-shift detector over daily event counts
    (operators/events.py cusum_shift): Page's recursion in its
    closed window form S_t = C_t - min C_i, scaled by 20n into pure
    integer arithmetic (slack mu/20, threshold mu) — the sustained-
    drift complement to r25's per-day z-score."""
    from unifydb_spark.operators.events import cusum_shift

    return cusum_shift(_events_ts(spark, sf_dir)).orderBy("d")


def r59_edit_distance_join(spark, sf_dir):
    """Typo-level near-dup pairs (operators/dedup.py
    edit_distance_join): Levenshtein <= 1 on 40-char text keys via the
    FastSS symmetric-delete blocker — an EXACT equi-join neighborhood
    (never all-pairs), one levenshtein verify on blocked candidates;
    the character-edit complement of q23/q24."""
    from unifydb_spark.operators.dedup import edit_distance_join

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return edit_distance_join(
        docs, "text", "doc_id", prefix_chars=40, max_dist=1
    ).orderBy("id_a", "id_b")


def r60_doc_perplexity(spark, sf_dir):
    """LM-perplexity quality scores (operators/text.py doc_perplexity):
    per-doc cross-entropy under an add-0.5 word-bigram model trained on
    the corpus — the CCNet-style surprise filter; DECIMAL-summed
    ln-terms, vocab-bounded count joins."""
    from unifydb_spark.operators.text import doc_perplexity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return doc_perplexity(docs).orderBy("doc_id")


def r61_distinctive_terms(spark, sf_dir):
    """Per-source distinctive vocabulary (operators/text.py
    distinctive_terms): Monroe log-odds with informative Dirichlet
    prior, z-scored — the "what makes this source different" report
    that raw tf-idf/PMI rankings get wrong on rare terms; one
    combinable count + vocab-sized scoring."""
    from unifydb_spark.operators.text import distinctive_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return distinctive_terms(docs, top_k=5).orderBy(
        "source", F.col("z").desc(), "term"
    )


def r62_melt_profile(spark, sf_dir):
    """Wide-to-long reshape + per-metric profile (operators/olap.py
    melt_profile): the four lineitem measures unpivoted through one
    Expand node and profiled (n/nulls/min/max/DECIMAL-exact avg/
    stddev) in the same map-side-combinable pass."""
    from unifydb_spark.operators.olap import melt_profile

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return melt_profile(
        li,
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    ).orderBy("metric")


def r63_zonemap_prune(spark, sf_dir):
    """Layout advisor (operators/layout.py zonemap_prune_profile):
    blocks-scanned under insertion order vs an o_orderdate-clustered
    order for a 30-day range predicate, measured from per-block zone
    maps over the scalable q91 row numbering — the offline
    should-we-ZORDER measurement; all-integer until the one scan_frac
    division."""
    from unifydb_spark.operators.layout import zonemap_prune_profile

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "_d", F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
    )
    return zonemap_prune_profile(
        orders,
        "_d",
        [("clustered", ["_d", "o_orderkey"]), ("insertion", ["o_orderkey"])],
        n_blocks=64,
    ).orderBy("layout")


def r64_hist2d(spark, sf_dir):
    """Joint-distribution histogram (operators/olap.py hist2d): event
    hour-of-day x value in equi-width cells with counts and shares —
    the 2-D drift/profile companion to q81's 1-D histogram; one bounds
    pass + one combinable cell count."""
    from unifydb_spark.operators.olap import hist2d

    ev = _events_ts(spark, sf_dir).select(
        F.hour("ts").cast("double").alias("hour_of_day"), "value"
    )
    return hist2d(ev, "hour_of_day", "value", n_x=24, n_y=10).orderBy(
        "bx", "by"
    )


def r65_stream_topk(spark, sf_dir):
    """Streaming per-day top-3 event types (streaming/stream.py
    stream_windowed_counts): counts build as a STREAMING aggregation
    (merge-commutative, state bounded by the key domain); the rank cut
    happens in a tiny batch window over the emitted counts because a
    rank is not incrementally maintainable — same split as r20's
    registers-then-fold. Complete mode for the bounded replay; exact
    agreement with the batch oracle certifies state == batch build."""
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import Window
    from unifydb_spark.streaming import (
        read_event_stream,
        stream_windowed_counts,
    )

    name = "stopk_" + uuid.uuid4().hex[:8]
    src_dir = tempfile.mkdtemp(prefix="unifydb_stream_")
    _stage_stream_source(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    stream = read_event_stream(spark, src_dir).select("event_type", "ts")
    with _stream_state_partitions(spark):
        q = (
            stream_windowed_counts(stream, "event_type", window="1 day")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="unifydb_ckpt_")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    counts = spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        F.col("key").alias("event_type"),
        F.col("n").cast("bigint").alias("n"),
    )
    w = Window.partitionBy("day").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .orderBy("day", "rk")
    )


def r66_theil_decomposition(spark, sf_dir):
    """Theil-T inequality with exact between/within split (operators/
    stats.py theil_decomposition) over per-source document mass — the
    decomposition Gini (r46) lacks: re-weight sources vs re-sample
    within one. DECIMAL-summed ratio*ln terms, group-sized joins."""
    from unifydb_spark.operators.stats import theil_decomposition

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return theil_decomposition(docs, "source", "n_chars").orderBy("source")


def r67_wilson_rates(spark, sf_dir):
    """Per-priority order-fulfillment rate with Wilson score intervals
    (operators/stats.py wilson_rates): the correct small-n confidence
    band for proportions — one combinable (n, k) pass, the interval a
    mirrored double expression over two integers."""
    from unifydb_spark.operators.stats import wilson_rates

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return wilson_rates(
        orders, "o_orderpriority", F.col("o_orderstatus") == "F"
    ).orderBy("o_orderpriority")


def r68_hill_tail(spark, sf_dir):
    """Hill tail-exponent estimate over the top-200 document lengths
    (operators/stats.py hill_tail): the how-heavy-is-the-tail scalar
    behind salting/packing/hub thresholds; TakeOrderedAndProject
    selection (never a global sort), DECIMAL-summed ln terms."""
    from unifydb_spark.operators.stats import hill_tail

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return hill_tail(docs, "n_chars", "doc_id", k=200)


def r69_stream_psi(spark, sf_dir):
    """Always-on drift monitor (streaming/stream.py
    stream_binned_counts + operators/stats.py psi_between_windows):
    per-day equi-width histogram state builds as a STREAMING
    aggregation (merge-commutative, n_bins ints per window), then
    day-over-day PSI folds in batch over the emitted counts — the
    streaming twin of r56. Complete mode for the bounded replay; the
    oracle recomputes both halves from scratch."""
    import shutil
    import tempfile
    import uuid

    from unifydb_spark.operators.stats import psi_between_windows
    from unifydb_spark.streaming import (
        read_event_stream,
        stream_binned_counts,
    )

    name = "spsi_" + uuid.uuid4().hex[:8]
    src_dir = tempfile.mkdtemp(prefix="unifydb_stream_")
    _stage_stream_source(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    stream = read_event_stream(spark, src_dir).select("value", "ts")
    with _stream_state_partitions(spark):
        q = (
            stream_binned_counts(
                stream, "value", window="1 day", lo=0.0, width=10.0,
                n_bins=12,
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="unifydb_ckpt_")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    counts = spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "bin",
        "n",
    )
    return psi_between_windows(counts, n_bins=12).orderBy("day")


def r70_ddsketch_quantiles(spark, sf_dir):
    """Relative-error quantile sketch (operators/sketch.py
    ddsketch_quantiles): DDSketch log-buckets per event type —
    VALUE-relative error bounds where KLL's are rank-relative, and a
    bit-reproducible, oracle-checkable sketch (deterministic bucket
    function, count-sum merge). One combinable (group, bucket) count."""
    from unifydb_spark.operators.sketch import ddsketch_quantiles

    ev = _events_ts(spark, sf_dir)
    return ddsketch_quantiles(
        ev, "event_type", "value", rel_err=0.01
    ).orderBy("event_type", "p")


def r71_lift_curve(spark, sf_dir):
    """Cumulative gains / lift table (operators/stats.py lift_curve):
    events ranked by value as a purchase-propensity score, cut into
    deciles on the q91 scalable numbering — per-decile response rate,
    cumulative capture, cumulative lift; the targeting eval AUC
    summarizes away."""
    from unifydb_spark.operators.stats import lift_curve

    ev = _events_ts(spark, sf_dir)
    return lift_curve(
        ev,
        "value",
        (F.col("event_type") == "purchase").cast("int"),
        "event_id",
    ).orderBy("bucket")


def r72_dedup_eval(spark, sf_dir):
    """Dedup-method operating point (operators/dedup.py dedup_eval):
    precision/recall/F1 of the MinHash-LSH candidate screen (q24)
    against the exact n-gram-Jaccard truth (q23) — the measured
    justification for LSH parameters before a full-corpus run; the
    dedup twin of q90's ANN recall gauge. Pair-relation joins only."""
    from unifydb_spark.operators.dedup import dedup_eval

    return dedup_eval(_docs(spark, sf_dir))


def r73_stream_cms(spark, sf_dir):
    """Streaming per-day count-min sketch (streaming/stream.py
    stream_cms + operators/sketch.py cms_estimate_windows): counter
    state builds as a streaming aggregation bounded at depth*width
    ints per window regardless of key cardinality — the sketched
    complement to r65's exact top-k; per-(day, type) point estimates
    fold downstream from the emitted counters. The oracle rebuilds the
    identical sketch (same md5 slots) from batch."""
    import shutil
    import tempfile
    import uuid

    from unifydb_spark.operators.sketch import cms_estimate_windows
    from unifydb_spark.streaming import read_event_stream, stream_cms

    name = "scms_" + uuid.uuid4().hex[:8]
    src_dir = tempfile.mkdtemp(prefix="unifydb_stream_")
    _stage_stream_source(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    stream = read_event_stream(spark, src_dir).select("event_type", "ts")
    with _stream_state_partitions(spark):
        q = (
            stream_cms(stream, "event_type", window="1 day")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="unifydb_ckpt_")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    sketch = spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "row",
        "slot",
        "c",
    )
    keys = (
        _events_ts(spark, sf_dir)
        .select(F.col("event_type"))
        .distinct()
    )
    return cms_estimate_windows(sketch, keys, "event_type").orderBy(
        "day", "event_type"
    )


def r74_active_users(spark, sf_dir):
    """DAU/WAU/MAU + stickiness per day (operators/events.py
    active_users): EXACT trailing-window distincts via the user-day
    scatter (r18's argument, exact instead of sketched) — fan-out over
    the users x days relation, never raw events; dense day spine."""
    from unifydb_spark.operators.events import active_users

    return active_users(_events_ts(spark, sf_dir)).orderBy("d")


def r75_new_returning(spark, sf_dir):
    """New-vs-returning daily split (operators/events.py
    new_vs_returning): first-seen day is one combinable per-user MIN;
    the acquisition-vs-retention decomposition of every growth
    dashboard."""
    from unifydb_spark.operators.events import new_vs_returning

    return new_vs_returning(_events_ts(spark, sf_dir)).orderBy("d")


def r76_engagement_curve(spark, sf_dir):
    """Power-user engagement curve (operators/events.py
    engagement_curve): users by exact count of active days with
    cumulative shares — the L30-style habit histogram; two combinable
    aggregations, windows over the histogram relation."""
    from unifydb_spark.operators.events import engagement_curve

    return engagement_curve(_events_ts(spark, sf_dir)).orderBy(
        "active_days"
    )


def r77_growth_accounting(spark, sf_dir):
    """Monthly growth accounting (operators/olap.py growth_accounting):
    revenue = customers x orders/customer x AOV with MoM growth —
    DECIMAL revenue sums, two combinable collapses, lag window on the
    month relation."""
    from unifydb_spark.operators.olap import growth_accounting

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return growth_accounting(orders).orderBy("month")


def r78_rfm_segments(spark, sf_dir):
    """RFM customer segmentation (operators/olap.py rfm_segments):
    quintile scores via exact quantile THRESHOLDS (combinable compare,
    no customer-relation sort), per-segment rollup with DECIMAL-exact
    monetary averages."""
    from unifydb_spark.operators.olap import rfm_segments

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return rfm_segments(orders).orderBy("r_score", "f_score", "m_score")


def r79_kcore(spark, sf_dir):
    """k-core decomposition (operators/graph.py kcore) of the
    user<->event-type bipartite graph: iterative peel to fixpoint on
    the DataFrame side, EXACTLY-unrolled peels in the SQL oracle —
    equal by fixpoint idempotence, so a data-dependent iteration gets
    an exact oracle with no convergence assumption."""
    from pyspark.sql import Window
    from unifydb_spark.operators.graph import kcore

    ev = _events_ts(spark, sf_dir)
    types = (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "tnode",
            F.row_number().over(Window.orderBy("event_type"))
            + F.lit(20_000_000),
        )
    )
    edges = (
        ev.select("user_id", "event_type")
        .distinct()
        .join(F.broadcast(types), "event_type")
        .select(
            F.col("user_id").cast("long").alias("src"),
            F.col("tnode").cast("long").alias("dst"),
        )
    )
    return kcore(edges, k=3).orderBy("node")


def r80_seasonal_anomaly(spark, sf_dir):
    """Weekday-profile-adjusted volume anomalies (operators/events.py
    seasonal_anomaly): each (type, day) z-scored against OTHER days of
    the same weekday (leave-one-out) on the dense spine — the
    seasonality fix for r25's trailing window, which alarms every
    weekend on weekly-cadenced traffic. Integer moments, one mirrored
    expression per row."""
    from unifydb_spark.operators.events import seasonal_anomaly

    return seasonal_anomaly(_events_ts(spark, sf_dir)).orderBy(
        "etype", "d"
    )


def r81_peak_concurrency(spark, sf_dir):
    """Peak concurrent sessions via the exact sweep line (operators/
    events.py peak_concurrency over q34's sessionization): +1/-1
    boundary events, running sum, max — capacity planning's first
    number; ends sort before starts at the same instant (half-open
    intervals)."""
    from unifydb_spark.operators.events import peak_concurrency, sessionize

    sess = sessionize(_events_ts(spark, sf_dir), gap_minutes=30)
    return peak_concurrency(sess, "session_start", "session_end")


def r82_cohort_ltv(spark, sf_dir):
    """Cohort LTV triangle (operators/olap.py cohort_ltv): revenue by
    first-purchase-month cohort x months-since-acquisition with
    cumulative LTV per customer — the spend-weighted view q66's
    retention counts can't give. Integer month arithmetic, DECIMAL
    revenue end-to-end."""
    from unifydb_spark.operators.olap import cohort_ltv

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return cohort_ltv(orders, max_age=12).orderBy("cohort", "age")


def r83_char_entropy(spark, sf_dir):
    """Per-doc character Shannon entropy (operators/text.py
    char_entropy): the encoding-garbage / template-spam detector
    orthogonal to word stats — one linear explode + one combinable
    (doc, char) count; DECIMAL-summed -p*log2(p) terms."""
    from unifydb_spark.operators.text import char_entropy

    return char_entropy(_docs(spark, sf_dir)).orderBy("doc_id")


def r84_common_prefix(spark, sf_dir):
    """Per-source boilerplate-prefix detector (operators/text.py
    common_prefix_report): the set LCP via LCP(min, max) of the sorted
    strings — one combinable MIN/MAX per group, k-search on one string
    pair per group."""
    from unifydb_spark.operators.text import common_prefix_report

    return common_prefix_report(_docs(spark, sf_dir)).orderBy("source")


def r85_novelty_curve(spark, sf_dir):
    """Content-novelty decay (operators/text.py novelty_curve): the
    fraction of each corpus slice's bigram occurrences that are FIRST
    occurrences — the crawl-stop / dedup-budget curve (r51's
    occurrence-mass cousin); first occurrence is a combinable MIN over
    the q91 slice numbering."""
    from unifydb_spark.operators.text import novelty_curve

    return novelty_curve(_docs(spark, sf_dir), n_buckets=20).orderBy(
        "bucket"
    )


def r86_overdispersion(spark, sf_dir):
    """Poisson-null burstiness check (operators/events.py
    overdispersion_check): daily-count Fano factor + CV per event type
    on the dense spine — the regime question every z-threshold monitor
    (r25/r80) should calibrate on; integer moments, types-sized
    output."""
    from unifydb_spark.operators.events import overdispersion_check

    return overdispersion_check(_events_ts(spark, sf_dir)).orderBy("etype")


def r87_weighted_quantiles(spark, sf_dir):
    """Weighted quantiles per source (operators/stats.py
    weighted_quantiles): document-length quantiles BY CHARACTER MASS
    (n_chars as weight) — the mixture-design quantile unweighted r09
    gets wrong whenever size and count diverge; integer cross-
    multiplied threshold, distinct-value collapse."""
    from unifydb_spark.operators.stats import weighted_quantiles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weighted_quantiles(
        docs, "source", "n_chars", "n_chars"
    ).orderBy("source", "p")


def r88_day_overlap(spark, sf_dir):
    """Day-over-day active-user overlap (operators/events.py
    day_overlap): Jaccard + return-rate of consecutive days' user
    sets — the daily behavioral-churn pulse between cohort retention
    (q66) and DAU (r74); one distinct collapse + one hash(user)
    self-join."""
    from unifydb_spark.operators.events import day_overlap

    return day_overlap(_events_ts(spark, sf_dir)).orderBy("d")


def r89_corpus_card(spark, sf_dir):
    """One-query corpus datasheet (operators/text.py corpus_card):
    volume, exact dup rate, language diversity, length central
    tendency, vocabulary and TTR as a long-format (metric, value)
    report — the dataset-card headline numbers in one composed plan of
    combinable aggregates."""
    from unifydb_spark.operators.text import corpus_card

    return corpus_card(_docs(spark, sf_dir)).orderBy("metric")


def r90_embedding_health(spark, sf_dir):
    """Embedding-health diagnostics per label (operators/similarity.py
    embedding_health): average norm, mean-vector norm, and the
    anisotropy ratio ||mean||/avg_norm — the representation-collapse
    detector; DECIMAL per-dimension sums, ordered-fold norms (q27
    contract), groups x dims relations after one linear explode."""
    from unifydb_spark.operators.similarity import embedding_health

    return embedding_health(_emb(spark, sf_dir)).orderBy("label")


def r91_temporal_split_audit(spark, sf_dir):
    """Temporal train/valid/test split + entity-leakage audit
    (operators/quality.py temporal_split_audit): time-fraction cuts
    (70/20/10, integer-epoch arithmetic), per-split counts, and the
    train∩test user overlap whose user-level features would leak —
    the eval-hygiene gate next to r06's holdout split."""
    from unifydb_spark.operators.quality import temporal_split_audit

    return temporal_split_audit(_events_ts(spark, sf_dir)).orderBy(
        "split"
    )


def r92_historical_multiattr(spark, sf_dir):
    """Multi-attribute query under HISTORICAL mode — the non-pivot
    compile path (query/compile.py _group_pivots: the EAV pivot is
    disabled when db.historical or a past-tx snapshot, correctly —
    tombstones and versions must stay visible), so each attribute
    pattern becomes its own scan and the conjunction joins them on the
    shared entity var: 4 attributes = 3 entity self-joins. Exists to
    keep a tracked bench number on that join pipeline at sf0.1
    (VERDICT r7 ask #8); semantics unchanged vs the pivot path on a
    retraction-free store, which is exactly what the oracle asserts."""
    eng = _engine(spark, sf_dir)
    return eng.query(
        {
            "find": ["?ck", "?name", "?bal", "?seg"],
            "where": [
                ["?c", ":customer/custkey", "?ck"],
                ["?c", ":customer/name", "?name"],
                ["?c", ":customer/acctbal", "?bal"],
                ["?c", ":customer/mktsegment", "?seg"],
                [("<", "?ck", 501)],
            ],
            "sort-by": ["?ck"],
        },
        eng.db(historical=True),
    ).select(
        F.col("ck").alias("c_custkey"),
        F.col("name").alias("c_name"),
        F.col("bal").alias("c_acctbal"),
        F.col("seg").alias("c_mktsegment"),
    )


def r93_gopher_rules(spark, sf_dir):
    """Gopher/MassiveText-style quality rule report (operators/
    quality.py gopher_rules): word-count bounds, mean word length,
    stopword presence, duplicate-word fraction, top-bigram share, and
    the composite pass flag — the standard pre-training filter battery
    as one explode + two combinable groupBys. The pass flag is computed
    on the ROUNDED report columns identically in both engines, so the
    boolean cannot diverge on a float boundary."""
    from unifydb_spark.operators.quality import gopher_rules

    return gopher_rules(_docs(spark, sf_dir)).orderBy("doc_id")


def r94_script_mix(spark, sf_dir):
    """Character-class profile (operators/quality.py script_mix):
    letters/digits/space/other counts + class-share entropy per doc —
    the zero-shuffle 'prose or noise' signal; counts are regexp length
    differences, entropy follows the DECIMAL ln-parity contract."""
    from unifydb_spark.operators.quality import script_mix

    return script_mix(_docs(spark, sf_dir)).orderBy("doc_id")


def r95_dedup_savings(spark, sf_dir):
    """Dedup savings sign-off table (operators/dedup.py dedup_savings):
    per cluster size, clusters/docs/chars and what the canonical-keep
    election drops — the 'bytes saved at this threshold' report that
    justifies a dedup operating point, composing the executed pipeline
    (ppjoin pairs -> CC clusters -> window argmax -> rollup)."""
    from unifydb_spark.operators.dedup import dedup_savings

    return dedup_savings(_docs(spark, sf_dir)).orderBy("cluster_size")


def r96_packing_waste(spark, sf_dir):
    """Context-length planning table (operators/text.py packing_waste):
    per candidate context length, the padding waste of per-document
    batching (integer slot arithmetic, one combinable aggregate per L)
    — the baseline number sequence packing gets compared against."""
    from unifydb_spark.operators.text import packing_waste

    return packing_waste(_docs(spark, sf_dir)).orderBy("context_len")


def r97_temperature_mix(spark, sf_dir):
    """Temperature-scaled source mixing at tau=0.5 (operators/text.py
    temperature_mix): per source, raw token count, proportional vs
    temperature share, and the sampled token budget. tau fixed at 0.5
    because sqrt is correctly rounded under IEEE (pow is not) — the
    shares agree bit-for-bit across engines; the sqrt terms sum under
    the DECIMAL contract."""
    from unifydb_spark.operators.text import temperature_mix

    return temperature_mix(_docs(spark, sf_dir)).orderBy("source")


def r98_mad_outliers(spark, sf_dir):
    """MAD robust outliers per event type (operators/stats.py
    mad_outliers): median and median-absolute-deviation from the exact
    grouped narrowing quantiler (two shared-round passes), then the
    count beyond 3 * 1.4826 * MAD — the outlier detector z-scores (r22)
    cannot be because the outliers drag their own threshold."""
    from unifydb_spark.operators.stats import mad_outliers

    return mad_outliers(
        _events_ts(spark, sf_dir), "event_type", "value"
    ).orderBy("event_type")


def r99_ccnet_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (operators/quality.py
    ccnet_buckets, Wenzek et al. 2020): the corpus bigram-LM score
    (r60's doc_perplexity) cut at each language's exact 1/3 and 2/3
    cross-entropy quantiles into head / middle / tail — the standard
    keep-head-and-middle curation gate for web-scale pretraining data.
    Boundaries come from the grouped histogram-narrowing quantiler
    (r09's machinery — no per-language total sort); assignment is a
    broadcast join of the langs x 2 cut table."""
    from unifydb_spark.operators.quality import ccnet_buckets

    return ccnet_buckets(_docs(spark, sf_dir)).orderBy("lang", "bucket")


def r100_dsir_weights(spark, sf_dir):
    """DSIR importance weights (operators/quality.py dsir_weights, Xie
    et al. 2023): hashed word-bigram bucket multinomials fit on a
    target source vs the raw rest, each doc scored with its log
    importance weight sum_b c[b] * ln(p_target[b]/p_raw[b]) — the
    published recipe for resampling a raw crawl toward a quality
    target. One linear explode, a combinable (doc, bucket) groupBy,
    and a <= 256-row broadcast log-ratio table."""
    from unifydb_spark.operators.quality import dsir_weights

    return dsir_weights(_docs(spark, sf_dir)).orderBy("doc_id")


def r101_semdedup(spark, sf_dir):
    """SemDeDup (operators/similarity.py semdedup, Abbas et al. 2023):
    embedding dedup scoped by k-means clusters — drop any vector whose
    cosine to a lower-id vector in the SAME cluster exceeds tau. The
    quadratic term is confined within clusters (the paper's point: k
    bounds the pair sets), the cluster self-join is an equi-join on
    (cluster, dim), and all dots ride DECIMAL(38,18) partial sums. The
    oracle unrolls the identical k-means iterations (q72 machinery)."""
    from unifydb_spark.operators.similarity import semdedup

    # k defaults to the paper's k-tracks-n rule (auto_k: 8 at the graded
    # SFs, 32 at sf1) — VERDICT r9 ask #3; oracle computes the same k
    # from the same COUNT(*) inside SQL
    return semdedup(
        _emb(spark, sf_dir), iters=3, tau=0.92
    ).orderBy("vec_id")


def r102_cluster_silhouette(spark, sf_dir):
    """Simplified (centroid-based) silhouette per cluster
    (operators/similarity.py cluster_silhouette): a = cosine distance
    to the own induced centroid, b = min distance to any other, s =
    (b-a)/max(a,b), averaged per cluster via a DECIMAL(30,15) sum of
    engine-identical doubles — the O(n*k) clustering-quality gauge
    (never the O(n^2) pairwise original)."""
    from unifydb_spark.operators.similarity import cluster_silhouette

    return cluster_silhouette(
        _emb(spark, sf_dir), k=8, iters=3
    ).orderBy("cluster")


def r103_quality_logreg(spark, sf_dir):
    """Logistic-regression quality classifier TRAINED ON THE ENGINE
    (operators/quality.py quality_logreg): 5 batch-gradient-descent
    iterations over the engine-certified rounded gopher_rules feature
    columns, label = (lang == 'en'). Each iteration is ONE
    map-side-combinable full-scan aggregation (six DECIMAL(30,15)
    gradient sums); the 6 weights are a bounded driver artifact (the
    grouped-quantiler contract). The oracle unrolls the identical
    iterations in MATERIALIZED 1-row weight CTEs."""
    from unifydb_spark.operators.quality import quality_logreg

    return quality_logreg(_docs(spark, sf_dir))


def r104_l_diversity(spark, sf_dir):
    """Distinct l-diversity audit (operators/quality.py
    l_diversity_report): a quasi-identifier group that is large
    (k-anonymous, r42) but sensitive-homogeneous still leaks — this
    reports groups with < l distinct sensitive values plus the worst
    single-value share (max_homogeneity). Quasi tuple: (c_nationkey,
    c_mktsegment); sensitive: the customer's account-balance sign
    bucket. One combinable (quasi, sensitive) groupBy, then
    cardinality-sized collapses."""
    from unifydb_spark.operators.quality import l_diversity_report

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").withColumn(
        "bal_bucket",
        F.when(F.col("c_acctbal") < 0, F.lit("neg"))
        .when(F.col("c_acctbal") < 5000, F.lit("mid"))
        .otherwise(F.lit("high")),
    )
    return l_diversity_report(
        cust, ["c_nationkey", "c_mktsegment"], "bal_bucket", l=3
    )


def r105_bootstrap_ci(spark, sf_dir):
    """Poisson-bootstrap CI for the mean order total (operators/
    stats.py bootstrap_ci, Chamandy et al. 2012): each row draws its
    own deterministic md5-derived Poisson(1) weight per replicate, so
    every replicate mean is one combinable aggregation — the only
    bootstrap that distributes. 32 replicates; everything after the
    groupBy(replicate) is R-sized."""
    from unifydb_spark.operators.stats import bootstrap_ci

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return bootstrap_ci(orders, "o_totalprice", "o_orderkey")


def r106_target_encoding(spark, sf_dir):
    """Leakage-free out-of-fold target encoding (operators/stats.py
    target_encoding): the mean-encoding a row sees excludes its own
    md5-deterministic fold via the total-minus-own-fold identity —
    ONE combinable groupBy(category, fold), then category-sized
    arithmetic; no per-fold rescan, no window over raw rows.
    Categories: o_orderpriority; target: o_totalprice; fold key:
    o_custkey (all rows of a customer share a fold — the grouped
    leakage unit, same argument as r91's temporal split)."""
    from unifydb_spark.operators.stats import target_encoding

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return target_encoding(
        orders, "o_orderpriority", "o_totalprice", "o_custkey"
    ).orderBy("cat", "fold")


def r107_cuped_lift(spark, sf_dir):
    """CUPED variance-reduced A/B lift (operators/stats.py cuped_lift,
    Deng et al. 2013): calendar-midpoint pre-period value as the
    covariate, md5-deterministic 50/50 arms, theta = cov/var from
    DECIMAL-exact per-arm moment sums, adjusted variance via the
    closed form var(Y - tX) — one pass over raw rows, then 2-row
    arithmetic."""
    from unifydb_spark.operators.stats import cuped_lift

    return cuped_lift(_events_ts(spark, sf_dir))


def r108_ab_health(spark, sf_dir):
    """A/B experiment health readout (operators/stats.py ab_health):
    sample-ratio-mismatch z (the Fabijan et al. check that gates every
    experiment readout), plus the minimum detectable effect at
    alpha=.05/80% power with raw vs CUPED-adjusted variance — the
    'how much sooner can we ship' number. Same md5 arms and midpoint
    covariate as r107, so all three readouts describe one
    experiment."""
    from unifydb_spark.operators.stats import ab_health

    return ab_health(_events_ts(spark, sf_dir))


def r109_ratio_metric_ci(spark, sf_dir):
    """Delta-method CI for a ratio-of-sums metric (operators/stats.py
    ratio_metric_ci, Deng/Knoblich/Lu 2018): purchase revenue per
    event, with per-user totals as the independence unit — the
    experimentation-platform treatment of CTR-like metrics, where the
    naive SE is simply wrong. Two combinable groupBys (unit totals,
    DECIMAL moments), then scalar arithmetic."""
    from unifydb_spark.operators.stats import ratio_metric_ci

    ev = _events_ts(spark, sf_dir)
    return ratio_metric_ci(
        ev,
        "user_id",
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .otherwise(F.lit(0.0)),
        F.lit(1.0),
    )


def r110_transition_entropy(spark, sf_dir):
    """Next-event predictability (operators/events.py
    transition_entropy): conditional entropy H(next|prev) per source
    state over r36's transition process — deterministic funnels score
    ~0, anywhere-next hubs ~ln k; perplexity = e^H is the effective
    branching factor. One lag-window shuffle, then type²-bounded
    arithmetic."""
    from unifydb_spark.operators.events import transition_entropy

    return transition_entropy(_events_ts(spark, sf_dir)).orderBy(
        "from_type"
    )


def r111_heaps_fit(spark, sf_dir):
    """Heaps'-law fit (operators/text.py heaps_fit): V(N) ~ K * N^beta
    by OLS on (ln N, ln V) over r51's vocabulary-growth curve — the
    one-number 'is new data still adding vocabulary' summary. Five
    DECIMAL sums over the doc-sized curve relation, then mirrored
    scalar arithmetic."""
    from unifydb_spark.operators.text import heaps_fit

    return heaps_fit(_docs(spark, sf_dir))


def r112_zipf_fit(spark, sf_dir):
    """Zipf's-law fit (operators/text.py zipf_fit): f(r) ~ C * r^-alpha
    by OLS on (ln rank, ln count) over the top-1000 token frequencies
    (distributed TakeOrdered, deterministic count-desc/token-asc
    ties); alpha spikes on boilerplate-dominated corpora and flattens
    on encoding noise. The rank window and OLS sums run on the
    1000-row relation — bounded by construction."""
    from unifydb_spark.operators.text import zipf_fit

    return zipf_fit(_docs(spark, sf_dir))


def r113_language_confusion(spark, sf_dir):
    """Language-ID eval (operators/text.py language_confusion): the
    q20 heuristic scored against the labeled lang column as a
    confusion matrix with per-class recall — the gate check before
    trusting the cheap classifier in a filter. langs²-bounded matrix
    from one combinable groupBy."""
    from unifydb_spark.operators.text import language_confusion

    return language_confusion(_docs(spark, sf_dir)).orderBy(
        "actual", "predicted"
    )


def r114_stream_transitions(spark, sf_dir):
    """r36's transition matrix as a STATEFUL stream
    (streaming/stream.py stream_transitions, applyInPandasWithState):
    state per user is ONE (event_id, type) pair — O(users) regardless
    of stream length — and each micro-batch emits marginal (from, to)
    counts whose sum equals the batch lag-window matrix (the
    streaming==batch pin; the oracle runs the batch form). The
    behavioral-drift input without replaying history."""
    import tempfile
    import uuid

    from unifydb_spark.streaming import read_event_stream, stream_transitions

    name = "tr_" + uuid.uuid4().hex[:8]
    src_dir = tempfile.mkdtemp(prefix="unifydb_stream_")
    _stage_stream_source(
        f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet"
    )
    with _stream_state_partitions(spark):
        q = (
            stream_transitions(read_event_stream(spark, src_dir))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="unifydb_ckpt_")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return (
        spark.table(name)
        .groupBy("from_type", "to_type")
        .agg(F.sum("cnt").cast("bigint").alias("n"))
        .orderBy("from_type", "to_type")
    )


def r115_blocklist_report(spark, sf_dir):
    """Term-blocklist gate report (operators/quality.py
    blocklist_report, the RefinedWeb/C4 recipe): per source, docs
    hitting any blocklisted word (case-insensitive), hit rate, and
    occurrence totals. Pure Column hit count (zero shuffle per doc) +
    one combinable source groupBy."""
    from unifydb_spark.operators.quality import blocklist_report

    return blocklist_report(_docs(spark, sf_dir)).orderBy("source")


def r116_negative_samples(spark, sf_dir):
    """Deterministic contrastive negative sampler (operators/
    quality.py negative_samples): k hash-drawn negatives per anchor
    via a dense q91 row-number index — the probe -> negative lookup
    is ONE equi-join on the index, linear in n*k, never all-pairs;
    reproducible across engines and reruns (the hash_sample
    contract)."""
    from unifydb_spark.operators.quality import negative_samples

    return negative_samples(_docs(spark, sf_dir), k=4).orderBy(
        "anchor_id", "j"
    )


def r117_icc_design_effect(spark, sf_dir):
    """Intraclass correlation + design effect (operators/stats.py
    icc_design_effect, classical one-way ANOVA): how correlated event
    values are within a user cluster, and DEFF = 1 + (m-1)*ICC — the
    'your cluster-randomized experiment needs DEFF times more users'
    readout that closes the r107-r109 experimentation family. One
    combinable per-cluster pass, then scalar mirrored arithmetic."""
    from unifydb_spark.operators.stats import icc_design_effect

    return icc_design_effect(_events_ts(spark, sf_dir), "user_id", "value")


def r118_image_stats(spark, sf_dir):
    """Per-image luminance-distribution quality stats (operators/
    multimodal.py image_stats): histogram entropy, type-1 p05/p95,
    contrast, distinct levels — the blank/flat-image screen a
    multimodal pipeline runs before any embedding model. The codec
    boundary (REAL PNG decode in mapInPandas) emits only integers;
    the oracle replays the synthetic pixel formula symbolically
    (the r19/q83 certification move)."""
    from unifydb_spark.operators.multimodal import image_stats, synth_images

    return image_stats(synth_images(_docs(spark, sf_dir))).orderBy("doc_id")


def r119_exp_smoothing(spark, sf_dir):
    """Exponential smoothing over the per-type daily series
    (operators/events.py exp_smoothing): the recursion s_t = a*x_t +
    (1-a)*s_{t-1} computed by its CLOSED FORM — weights are
    exp(k*ln(1-a)) under the exp/ln parity contract, terms are
    DECIMAL-summed, the day-pair self-join is calendar²-bounded — so
    a data-dependent recursion needs no unrolled oracle at all."""
    from unifydb_spark.operators.events import exp_smoothing

    return exp_smoothing(_events_ts(spark, sf_dir)).orderBy(
        "event_type", "day"
    )


def r120_readability(spark, sf_dir):
    """Flesch reading-ease + Flesch-Kincaid grade per doc (operators/
    quality.py readability_report): the classic text-difficulty
    features (words/sentence, vowel-group syllable heuristic) as pure
    Column regexp counts — zero shuffle, zero explode; scores are
    mirrored left-associated double formulas."""
    from unifydb_spark.operators.quality import readability_report

    return readability_report(_docs(spark, sf_dir)).orderBy("doc_id")


def r121_degree_assortativity(spark, sf_dir):
    """Degree assortativity (operators/graph.py degree_assortativity,
    Newman 2002) of the user<->event-type bipartite graph (r79's edge
    list): Pearson correlation of endpoint degrees over symmetrized
    edges — strongly negative here by construction (users link to few
    hub types), the structural fingerprint a graph monitor tracks.
    One degree groupBy + two equi-joins + DECIMAL moments."""
    from pyspark.sql import Window

    from unifydb_spark.operators.graph import degree_assortativity

    ev = _events_ts(spark, sf_dir)
    types = (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "tnode",
            F.row_number().over(Window.orderBy("event_type"))
            + F.lit(20_000_000),
        )
    )
    edges = (
        ev.select("user_id", "event_type")
        .distinct()
        .join(F.broadcast(types), "event_type")
        .select(
            F.col("user_id").cast("long").alias("src"),
            F.col("tnode").cast("long").alias("dst"),
        )
    )
    return degree_assortativity(edges)


def r122_hits(spark, sf_dir):
    """HITS hubs & authorities (operators/graph.py hits_scores,
    Kleinberg 1999) on the user->event-type graph: 5 fixed
    max-normalized iterations, per-node DECIMAL(38,18) sums, the
    iteration max riding a 1-row broadcast cross join; the oracle
    unrolls the identical iterations (the q32/q72 fixed-iteration
    contract)."""
    from pyspark.sql import Window

    from unifydb_spark.operators.graph import hits_scores

    ev = _events_ts(spark, sf_dir)
    types = (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "tnode",
            F.row_number().over(Window.orderBy("event_type"))
            + F.lit(20_000_000),
        )
    )
    edges = (
        ev.select("user_id", "event_type")
        .distinct()
        .join(F.broadcast(types), "event_type")
        .select(
            F.col("user_id").cast("long").alias("src"),
            F.col("tnode").cast("long").alias("dst"),
        )
    )
    return hits_scores(edges, iters=5).orderBy("kind", "node")


def r123_join_fanout(spark, sf_dir):
    """Exact join-cardinality advisory (operators/olap.py
    join_fanout_report): per-key count histograms on both sides give
    the exact output size sum cL*cR, the worst single-key fanout, and
    the amplification ratio — the check run BEFORE a many-to-many
    join (here lineitem x lineitem on l_partkey) that r33's count-min
    version estimates with sketches. Never executes the candidate
    join."""
    from unifydb_spark.operators.olap import join_fanout_report

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return join_fanout_report(li, li, "l_partkey", "l_partkey")


def r124_entropy_rate(spark, sf_dir):
    """Corpus entropy rate (operators/text.py entropy_rate): bigram
    conditional entropy H(W|prev) plus unigram H(W) and the context
    gain, in nats/token — the one-number corpus predictability where
    r60 scores single documents. Vocab²-bounded count relations (the
    r60 machinery), -p ln p DECIMAL parity terms, totals on 1-row
    broadcasts."""
    from unifydb_spark.operators.text import entropy_rate

    return entropy_rate(_docs(spark, sf_dir))


def r125_term_burstiness(spark, sf_dir):
    """Term burstiness (operators/text.py term_burstiness, Church &
    Gale 1995): variance-to-mean ratio of per-doc term counts over
    the top-50 terms — content words clump (VMR >> 1), glue spreads
    (VMR ~ 1). Integer totals over PRESENT docs only (absent docs
    contribute 0 to both sums), so no dense doc x term relation."""
    from unifydb_spark.operators.text import term_burstiness

    return term_burstiness(_docs(spark, sf_dir)).orderBy("term")


def r126_skyline(spark, sf_dir):
    """2-D skyline / Pareto front (operators/olap.py skyline_2d,
    Börzsönyi et al. 2001 — the SKYLINE OF operator Spark lacks):
    customers undominated on (order count, total spend). The q91
    range-partition prefix trick — per-partition running y-max plus a
    bounded partition-maxima prefix map — so there is NO
    single-partition sort; equal points keep the lowest key."""
    from unifydb_spark.operators.olap import skyline_2d

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("string").cast("double"),
            2,
        ).alias("spend"),
    )
    return (
        skyline_2d(per_cust, "n_orders", "spend", "o_custkey")
        .select("o_custkey", "n_orders", "spend")
        .orderBy("o_custkey")
    )


def r127_threshold_tuning(spark, sf_dir):
    """Decision-threshold tuning curve (operators/stats.py
    threshold_tuning): P/R/F1 of `predict English iff stop_hits >= t`
    for every observed score — the deploy-step after any scorer (the
    r103/r113 companions). One combinable groupBy(score); the
    cumulative window runs over the score-cardinality-bounded
    histogram relation (the length_histogram contract)."""
    from unifydb_spark.operators.quality import gopher_rules
    from unifydb_spark.operators.stats import threshold_tuning

    docs = _docs(spark, sf_dir)
    scored = gopher_rules(docs).select("doc_id", "stop_hits").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return threshold_tuning(
        scored, "stop_hits", F.col("lang") == F.lit("en")
    ).orderBy(F.col("threshold").desc())


def r128_group_skyline(spark, sf_dir):
    """Per-language document skyline (operators/olap.py
    group_skyline_2d): docs undominated on (n_chars, stopword hits)
    within their language — the grouped Pareto form where the window
    partitions by group, so scaling is free (groups distribute across
    tasks; the global r126 trick exists precisely for the ungrouped
    case)."""
    from unifydb_spark.operators.olap import group_skyline_2d
    from unifydb_spark.operators.quality import gopher_rules

    docs = _docs(spark, sf_dir)
    scored = docs.select("doc_id", "lang", "n_chars").join(
        gopher_rules(docs).select("doc_id", "stop_hits"), "doc_id"
    )
    return (
        group_skyline_2d(scored, "lang", "n_chars", "stop_hits", "doc_id")
        .select("lang", "doc_id", "n_chars", "stop_hits")
        .orderBy("lang", "doc_id")
    )


def r129_slice_report(spark, sf_dir):
    """Per-slice quality audit (operators/quality.py slice_report, the
    SliceFinder eval-ops pattern): gopher-pass rate per (lang, source)
    slice vs the corpus rate with a two-proportion z flag — the
    'which pocket is dragging quality' table. ONE combinable groupBy
    over the slice tuple; corpus totals on a 1-row broadcast."""
    from unifydb_spark.operators.quality import gopher_rules, slice_report

    docs = _docs(spark, sf_dir)
    scored = docs.select("doc_id", "lang", "source").join(
        gopher_rules(docs).select("doc_id", "passes"), "doc_id"
    )
    return slice_report(
        scored, ["lang", "source"], F.col("passes")
    ).orderBy("lang", "source")


def r130_bounce_report(spark, sf_dir):
    """Daily session-quality dashboard (operators/events.py
    bounce_report): session count, bounce rate (single-event
    sessions), mean events, exact median duration — composed on q34's
    gap sessionizer (one user shuffle) + one combinable day
    collapse."""
    from unifydb_spark.operators.events import bounce_report

    return bounce_report(_events_ts(spark, sf_dir)).orderBy("day")


def r131_gini_split(spark, sf_dir):
    """Best single-threshold split by Gini impurity (operators/
    stats.py gini_split, the CART stump primitive): weighted impurity
    of `n_chars <= t` vs the English label for every observed
    cutpoint, best-split flagged — step one of any tree learner. One
    combinable groupBy(feature); everything after runs on the
    feature-cardinality-bounded histogram (the r127 contract)."""
    from unifydb_spark.operators.stats import gini_split

    return gini_split(
        _docs(spark, sf_dir), "n_chars", F.col("lang") == F.lit("en")
    ).orderBy("threshold")


def r132_srm_by_segment(spark, sf_dir):
    """Segment-sliced SRM check (operators/stats.py srm_by_segment):
    per event-type segment, distinct users per md5 arm and the
    z-score vs 50/50 — the follow-up that catches a broken segment a
    global 50/50 hides; same arm coin as r107/r108, so it slices the
    SAME experiment. One distinct collapse + segment-sized
    arithmetic."""
    from unifydb_spark.operators.stats import srm_by_segment

    return srm_by_segment(
        _events_ts(spark, sf_dir), "event_type"
    ).orderBy("segment")


def r133_feature_ranking(spark, sf_dir):
    """Univariate feature ranking by Gini split gain (operators/
    stats.py feature_split_ranking): which document feature —
    n_chars, stop_hits, mean word length, dup-word fraction — best
    separates English, each scored by its r131 best split and ranked
    by gain vs the base impurity. One bounded pipeline per feature;
    the rank window runs over 4 rows."""
    from unifydb_spark.operators.quality import gopher_rules
    from unifydb_spark.operators.stats import feature_split_ranking

    docs = _docs(spark, sf_dir)
    scored = docs.select("doc_id", "lang", "n_chars").join(
        gopher_rules(docs).select(
            "doc_id", "stop_hits", "mean_word_len", "dup_word_frac"
        ),
        "doc_id",
    )
    return feature_split_ranking(
        scored,
        ["n_chars", "stop_hits", "mean_word_len", "dup_word_frac"],
        F.col("lang") == F.lit("en"),
    ).orderBy("rank")


from contextlib import contextmanager


@contextmanager
def _rocksdb_state_provider(spark):
    """Scope the RocksDB state store provider around a TWS streaming
    query: transformWithStateInPandas uses multiple column families,
    which the default HDFSBacked provider rejects (UNSUPPORTED_FEATURE)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        yield
    finally:
        if old is None:
            try:
                spark.conf.unset(key)
            except Exception:
                pass
        else:
            spark.conf.set(key, old)


def r134_stream_latest_tws(spark, sf_dir):
    """q40's running last-writer-wins snapshot on Spark 4's
    transformWithStateInPandas (ValueState + RocksDB state store,
    vendor/state_message_pb2 carrying the worker<->state-server protocol
    in this protobuf-less container). Shares the state transition
    (`_latest_step`) verbatim with the applyInPandasWithState primary and
    passes the SAME oracle. A/B at sf0.1 (median-of-3, idle):
    TWS 3.9s vs applyInPandasWithState 2.3s — below parity, and the
    gap is now ATTRIBUTED (scripts/tws_profile.py, VERDICT r9 ask #4):
    a ~1-2s fixed per-query term (state-server handshake + handle
    init) plus ~60-140us PER KEY of synchronous state RPCs (each
    ValueState get/update is a socket round-trip through the proto
    codec; gap measured linear in key count at constant rows), while
    applyInPandasWithState ships state inside the Arrow batches.
    Promotion blocker is API-inherent: TWS's Python worker exposes no
    cross-key state batching. Primary stays applyInPandasWithState;
    this graded twin keeps the successor API's end-to-end evidence
    fresh each round."""
    import tempfile
    import uuid

    from pyspark.sql.window import Window

    from unifydb_spark.streaming import read_event_stream, running_latest_tws

    name = "ltw_" + uuid.uuid4().hex[:8]
    src_dir = tempfile.mkdtemp(prefix="unifydb_stream_")
    _stage_stream_source(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    with _stream_state_partitions(spark), _rocksdb_state_provider(spark):
        q = (
            running_latest_tws(read_event_stream(spark, src_dir))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="unifydb_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    return (
        spark.table(name)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_id", "value")
        .orderBy("user_id")
    )


def r135_user_stats_tws(spark, sf_dir):
    """q88's per-user running stats on transformWithStateInPandas —
    the second TWS-backed graded twin (see r134 for the A/B verdict:
    3.4s vs 2.3s at sf0.1, primary stays applyInPandasWithState).
    Same oracle as q88."""
    import tempfile
    import uuid

    from pyspark.sql.window import Window

    from unifydb_spark.streaming import read_event_stream, user_stats_tws

    name = "utw_" + uuid.uuid4().hex[:8]
    src_dir = tempfile.mkdtemp(prefix="unifydb_stream_")
    _stage_stream_source(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    with _stream_state_partitions(spark), _rocksdb_state_provider(spark):
        q = (
            user_stats_tws(read_event_stream(spark, src_dir))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="unifydb_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        spark.table(name)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "user_id", "n_events", "max_value", "last_event_id", "last_value"
        )
        .orderBy("user_id")
    )


def r136_acid_log_store(spark, sf_dir):
    """The ACID commit-log fact store (unifydb_spark/txlog.py
    LogParquetBackend — VERDICT r8 ask #1) exercised end to end under
    the oracle gate: one optimistic-CAS manifest commit per nation
    transaction, a retract + re-assert exercising the snapshot collapse
    on the log backend, and a read back through the standard query
    path. Cross-process serialization and crash safety are pinned by
    tests/test_txlog.py; this entry keeps the single-writer read/write
    path driver-graded every round."""
    import tempfile

    from unifydb_spark import Engine, FactStore
    from unifydb_spark.txlog import LogParquetBackend

    path = tempfile.mkdtemp(prefix="unifydb_txlog_") + "/facts"
    store = FactStore(spark, LogParquetBackend(spark, path))
    eng = Engine(spark, store)
    rows = sorted(
        spark.read.parquet(f"{sf_dir}/nation.parquet").collect(),
        key=lambda r: int(r["n_nationkey"]),
    )
    first_e = None
    for r in rows:
        rep = eng.transact(
            [
                ["add", "n", ":nation/key", int(r["n_nationkey"])],
                ["add", "n", ":nation/name", str(r["n_name"])],
                ["add", "n", ":nation/region", int(r["n_regionkey"])],
            ]
        )
        if first_e is None:
            first_e = rep["tempids"]["n"]
    # retraction + re-assert through the commit log: the snapshot's
    # collapse window must hide the retracted version (value unchanged,
    # so the oracle stays the plain nation projection)
    rk0 = int(rows[0]["n_regionkey"])
    eng.transact([[":unifydb/retract", first_e, ":nation/region", rk0]])
    eng.transact([["add", first_e, ":nation/region", rk0]])
    assert store.backend.log_version() == len(rows) + 2
    # checkpoint: consolidate the N per-commit files into one sorted set
    # (the read path then lists one manifest's files instead of N) —
    # compaction is part of the graded path, as production would run it
    store.backend.checkpoint()
    return eng.query(
        {
            "find": ["?name", "?rk"],
            "where": [
                ["?e", ":nation/name", "?name"],
                ["?e", ":nation/region", "?rk"],
            ],
        }
    ).select(F.col("name"), F.col("rk").cast("long").alias("rk"))


def r137_rule_bound_reach(spark, sf_dir):
    """Magic-sets demand seeding under the oracle gate (VERDICT r8 ask
    #8): q09's recursive reachability rule called with a BOUND start
    entity (nation 0). The constant argument seeds the demand relation
    (query/rules.py _magic_seed), so the fixpoint's frontier is the
    5-node chain reachable from nation 0 — not the full 50-pair closure
    q09 computes — while the answer matches the oracle's filtered
    closure exactly. Frontier accounting is pinned by
    tests/test_query_goldens.py::test_magic_sets_bound_call_prunes_frontier;
    this entry grades the seeded path's RESULTS every round."""
    from unifydb_spark.values import Ref

    eng = _engine(spark, sf_dir)
    nation0 = Ref(2 * 10**12)  # sources/tables.py BASES: nation base + key 0
    return eng.query(
        {
            "find": ["?to"],
            "where": [
                ("reaches", nation0, "?b"),
                ["?b", ":nation/nationkey", "?to"],
            ],
            "rules": [
                [("reaches", "?x", "?y"), ["?x", ":nation/next", "?y"]],
                [
                    ("reaches", "?x", "?y"),
                    ["?x", ":nation/next", "?z"],
                    ("reaches", "?z", "?y"),
                ],
            ],
            "sort-by": ["?to"],
        }
    )


def r138_stream_txlog_ingest(spark, sf_dir):
    """The UNIFIED write path (VERDICT r9 ask #1) under the oracle gate:
    streaming fact ingestion through the ACID commit log. Events stream
    in via Structured Streaming, each micro-batch commits as ONE
    manifest CAS (streaming/stream.py stream_facts_to_txlog ->
    txlog.bulk_append_df with a per-stream epoch recorded cumulatively
    in the manifest — exactly-once across restart, pinned by
    tests/test_streaming.py::test_stream_to_txlog_restart), and the
    result is read back through the standard Engine snapshot query:
    per-user latest value (R1 last-writer-wins, tx = event_id). The
    reference funnels all writes through one transactor
    (src/unifydb/transact.clj:116-125); here the streaming and batch
    writers serialize on the same commit log."""
    import tempfile

    from unifydb_spark import Engine, FactStore
    from unifydb_spark.streaming import (
        events_to_facts,
        read_event_stream,
        stream_facts_to_txlog,
    )
    from unifydb_spark.txlog import LogParquetBackend

    src_dir = tempfile.mkdtemp(prefix="unifydb_stream_")
    _stage_stream_source(f"{sf_dir}/events.parquet", f"{src_dir}/events.parquet")
    backend = LogParquetBackend(
        spark, tempfile.mkdtemp(prefix="unifydb_txlog_") + "/facts"
    )
    q = stream_facts_to_txlog(
        events_to_facts(read_event_stream(spark, src_dir)),
        backend,
        tempfile.mkdtemp(prefix="unifydb_ckpt_"),
    )
    q.awaitTermination(300)
    assert backend.log_version() >= 1  # manifest-visible, not file-sink
    eng = Engine(spark, FactStore(spark, backend))
    return (
        eng.query(
            {
                "find": ["?u", "?v"],
                "where": [["?u", ":user/value", "?v"]],
                "sort-by": ["?u"],
            }
        )
        .select(
            F.col("u").cast("long").alias("user_id"),
            F.col("v").cast("double").alias("value"),
        )
    )


def r139_sessionize_bucketed(spark, sf_dir):
    """Time-bucketed pre-sessionization (VERDICT r9 ask #6) under q34's
    EXACT oracle: sessionize within (user, 6-hour epoch bucket), then
    gap-merge the boundary sub-sessions per user
    (operators/events.py sessionize_bucketed). This is the mitigation
    for the one irreducible skew floor SCALE_SF1 §2 measured — a window
    over a single hot user — because the event-level sort is bounded by
    the user's busiest BUCKET while the per-user merge pass shuffles
    only sub-sessions. 6-hour buckets at sf0.01 force many real
    boundary merges (events span days); the result must be
    value-identical to plain sessionize (q34's sessionize_sql oracle).
    Skew measurement on the Zipf(1.2) fixture: SCALE.md §bucketed."""
    from unifydb_spark.operators.events import sessionize_bucketed

    return sessionize_bucketed(
        _events_ts(spark, sf_dir), gap_minutes=30, bucket_hours=6
    ).orderBy("user_id", "session_seq")


def r140_acid_s3_protocol(spark, sf_dir):
    """The PLUGGABLE commit primitive under the oracle gate (VERDICT r9
    ask #2): the same ACID log store as r136, but every manifest publish
    goes through txlog.ConditionalPutProtocol — the simulated
    object-store conditional PUT (S3 `If-None-Match: *` semantics, NO
    filesystem create-exclusive anywhere in the commit path). TWO
    independent store handles alternate region transactions against one
    path (cross-writer serialization through the object-store
    primitive), a retract + re-assert exercises snapshot collapse, and
    checkpoint() compacts through the same primitive. The full
    conflict/crash suite runs against this protocol in
    tests/test_txlog.py (parametrized); this entry keeps the
    object-store commit path driver-graded every round. Oracle: the
    plain region projection."""
    import tempfile

    from unifydb_spark import Engine, FactStore
    from unifydb_spark.txlog import ConditionalPutProtocol, LogParquetBackend

    path = tempfile.mkdtemp(prefix="unifydb_s3log_") + "/facts"
    engines = [
        Engine(
            spark,
            FactStore(
                spark,
                LogParquetBackend(spark, path, protocol=ConditionalPutProtocol()),
            ),
        )
        for _ in range(2)
    ]
    rows = sorted(
        spark.read.parquet(f"{sf_dir}/region.parquet").collect(),
        key=lambda r: int(r["r_regionkey"]),
    )
    first_e = None
    for i, r in enumerate(rows):
        rep = engines[i % 2].transact(
            [
                ["add", "rg", ":region/key", int(r["r_regionkey"])],
                ["add", "rg", ":region/name", str(r["r_name"])],
            ]
        )
        if first_e is None:
            first_e = rep["tempids"]["rg"]
    # retract + re-assert through the object-store commit path
    engines[0].transact([[":unifydb/retract", first_e, ":region/key", 0]])
    engines[1].transact([["add", first_e, ":region/key", 0]])
    backend = engines[0].store.backend
    assert backend.log_version() == len(rows) + 2
    backend.checkpoint()
    return engines[0].query(
        {
            "find": ["?name", "?rk"],
            "where": [
                ["?e", ":region/name", "?name"],
                ["?e", ":region/key", "?rk"],
            ],
            "sort-by": ["?name"],
        }
    ).select(F.col("name"), F.col("rk").cast("long").alias("rk"))


# equality-probe workload for the r141 layout advisor: partkeys present
# at every graded SF (sf0.001 has keys 0..199), and every candidate order
# is a UNIQUE composite so the global numbering is deterministic on both
# engines (the determinism contract zonemap_eq_prune_profile documents)
_R141_VALUES = [2, 19, 53, 101, 157, 199]
_R141_LAYOUTS = [
    ("pk_major", ("l_partkey", "l_orderkey", "l_linenumber")),
    ("ok_major", ("l_orderkey", "l_linenumber")),
    ("sd_major", ("l_shipdate", "l_orderkey", "l_linenumber")),
]


def r141_layout_eq_advisor(spark, sf_dir):
    """The layout advisor ITSELF under the oracle gate: the
    equality-probe zone-map profiler behind the round-10 facts-table
    layout decision (operators/layout.py zonemap_eq_prune_profile;
    SCALE.md round-10 table, VERDICT r9 ask #8) graded row-for-row
    against its DuckDB twin. For each candidate lineitem sort order and
    each probe partkey: how many of 64 equal blocks a `l_partkey = v`
    scan must touch under that order's per-block [min, max] zone maps —
    the offline which-order-should-checkpoint-use measurement, exact
    because numbering, block split and zone maps are identical integer
    arithmetic on both engines. The signal it grades: pk_major prunes
    to ~1 block/probe, the off-key orders scan nearly all 64."""
    from unifydb_spark.operators.layout import zonemap_eq_prune_profile

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return zonemap_eq_prune_profile(
        li, "l_partkey", _R141_VALUES, _R141_LAYOUTS, n_blocks=64
    )


def r142_txlog_restore(spark, sf_dir):
    """Head rollback under the oracle gate: seed the ACID log store with
    the nation table (one transaction per nation), then transact a
    poison batch (wrong names for every nation), then
    `restore(version)` back to the pre-poison head
    (txlog.LogParquetBackend.restore — Delta-RESTORE shape: rollback is
    a NEW commit carrying the old version's file set; nothing is
    rewritten, the poison version stays time-travel readable, and
    id/tx allocation keeps the head's high-water marks so the
    post-restore verification transaction cannot collide). history()
    must show append*/append/restore. Oracle: the clean nation
    projection — exactly what a correct rollback leaves visible."""
    import tempfile

    from unifydb_spark import Engine, FactStore
    from unifydb_spark.txlog import LogParquetBackend

    path = tempfile.mkdtemp(prefix="unifydb_restore_") + "/facts"
    store = FactStore(spark, LogParquetBackend(spark, path))
    eng = Engine(spark, store)
    rows = sorted(
        spark.read.parquet(f"{sf_dir}/nation.parquet").collect(),
        key=lambda r: int(r["n_nationkey"]),
    )
    ids = {}
    for r in rows:
        rep = eng.transact(
            [
                ["add", "nt", ":nation/key", int(r["n_nationkey"])],
                ["add", "nt", ":nation/name", str(r["n_name"])],
            ]
        )
        ids[int(r["n_nationkey"])] = rep["tempids"]["nt"]
    backend = store.backend
    good_v = backend.log_version()
    # poison batch: overwrite every name (cardinality-one collapse makes
    # the latest assertion win), then roll it back
    eng.transact(
        [["add", ids[k], ":nation/name", f"CORRUPT-{k}"] for k in ids]
    )
    backend.restore(good_v)
    ops = [h["operation"] for h in backend.history(limit=2)]
    assert ops == ["restore", "append"], ops
    # the poison version must still be time-travel readable
    assert (
        backend.facts_df(as_of_version=good_v + 1)
        .filter("v_str LIKE 'CORRUPT-%'")
        .count()
        == len(rows)
    )
    return eng.query(
        {
            "find": ["?name", "?nk"],
            "where": [
                ["?e", ":nation/name", "?name"],
                ["?e", ":nation/key", "?nk"],
            ],
            "sort-by": ["?name"],
        }
    ).select(F.col("name"), F.col("nk").cast("long").alias("nk"))


def r143_source_cap(spark, sf_dir):
    """Per-source document cap (operators/quality.py source_cap_report)
    — the RefinedWeb/CCNet-style domain cap: at most `cap` docs kept
    per source, preferring the longest (score = n_chars, ties broken by
    doc_id — fully deterministic). The report grades the whole
    decision: per source the doc count, kept count, and the admission
    cutoff (lowest kept n_chars) — all-integer, bit-exact on any
    engine. Scale: one hash shuffle on source + a per-source top-k
    window; under domain skew the operator's n_salts two-phase variant
    bounds the hot-domain task at hot_share/n_salts with a PROVABLY
    identical result (tests/test_operators.py pins plain == salted).
    The reference has no curation surface (SURVEY §2.6)."""
    from unifydb_spark.operators.quality import source_cap_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_cap_report(docs, cap=15)


def r144_pq_codes(spark, sf_dir):
    """Product quantization (Jégou et al. 2011 — the PQ half of FAISS's
    IVF-PQ; operators/similarity.py pq_codes): 8 subspaces x 16
    centroids = 4-bit codes, 16x smaller than the 64-float vectors. The
    whole training chain — per-subspace deterministic spherical k-means
    (decimal dots, lowest-id init, low-id tie-break) and the final code
    assignment — is graded code-for-code against the DuckDB twin, which
    unrolls the identical iterations per subspace."""
    from unifydb_spark.operators.similarity import pq_codes

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_codes(emb, m=8, k=16, iters=2)


def r145_pq_adc_recall(spark, sf_dir):
    """The USE of the PQ codes (operators/similarity.py pq_adc_recall):
    asymmetric-distance retrieval — rank every vector for each of 8
    queries by m codebook lookups instead of a full-vector dot, take
    the top 10, and report the integer overlap with the EXACT
    dot-product top 10. Scores fold in DECIMAL(38,18) and both rankings
    tie-break on the lower id, so the quality report is bit-exact on
    both engines (the q90_ann_recall pattern, for the compressed
    representation)."""
    from unifydb_spark.operators.similarity import pq_adc_recall

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_adc_recall(emb, m=8, k=16, iters=2, n_queries=8, topk=10)


def r146_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ retrieval (operators/similarity.py ivf_pq_topk) — the
    composition VERDICT r10 asked for: q28's coarse IVF quantizer
    assigns every vector to a centroid bucket, r144's batched
    per-subspace k-means quantizes the RESIDUAL r = x - c(x) (Jégou
    2011 §IV — IVFADC encodes residuals, not raw subvectors), and a
    query probes only its nprobe nearest buckets, scoring ONLY those
    candidates by the ADC dot q·c + q·r̂ (m codebook lookups instead
    of a dim-float dot). Graded as a retrieval-quality report: per
    query the integer overlap with the EXACT dot-product top-10 PLUS
    n_candidates/n_total — the candidates-scanned fraction is a graded
    column, not a prose claim. n_centroids derives from auto_k
    (k-tracks-n; the SQL twin derives the identical value from
    COUNT(*)), so the fraction stays bounded as the corpus grows."""
    from unifydb_spark.operators.similarity import ivf_pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_pq_topk(emb, n_centroids=None, nprobe=4, m=8, k=16, iters=2,
                       n_queries=8, topk=10)


def r147_sessionize_auto(spark, sf_dir):
    """Skew-routed sessionization (operators/events.py sessionize_auto)
    — the bucketed path PROMOTED to a default behind a measured-skew
    heuristic (VERDICT r10 ask #6): one cheap sampled hot-key probe
    routes to plain sessionize under uniform users (this testdata) or
    to sessionize_bucketed above a 5% hot-user share (the Zipf(1.2)
    fixture routes bucketed — scale_stress.py records the decision and
    the bounded floor: 225,744 -> 817 max task rows). Both routes are
    result-identical (r139's exactness argument), so the oracle is
    exactly q34's sessionize_sql regardless of route."""
    from unifydb_spark.operators.events import sessionize_auto

    return sessionize_auto(
        _events_ts(spark, sf_dir), gap_minutes=30
    ).orderBy("user_id", "session_seq")


def r148_ivf_pq_refine(spark, sf_dir):
    """The full ANN ladder FAISS ships as IVFADC + RefineFlat
    (operators/similarity.py ivf_pq_refine_topk — Jégou 2011 §V.A):
    probe nprobe buckets, ADC-score the candidates over the residual
    codebooks (compressed, cheap), keep the ADC top-50 shortlist, then
    exact-dot re-rank ONLY the shortlist (a per-query CONSTANT of full
    vectors — never the corpus). ADC's 4-bit distortion only has to get
    the true neighbors INTO a 5x-topk shortlist, not rank them:
    measured overlap@10 sums jump 40->74 (sf0.001), 36->71 (sf0.01),
    23->56 (sf0.1), 80->80 (sf1) of 80 vs plain ADC at identical
    probes. The two knobs decompose cleanly (measured, SCALE_SF1.md):
    at sf0.1, 78 of the 80 true neighbors sit in the query's RANK-1
    bucket, so nprobe 1->8 moves nothing — the residual loss is ADC
    distortion pushing true neighbors below the shortlist cut, and
    DEEPENING refine recovers it (50->100->127: 56->73->78 of 80, the
    probe ceiling). Graded with n_candidates/n_refined/n_total
    columns at the fixed defaults (refine=50, nprobe=4)."""
    from unifydb_spark.operators.similarity import ivf_pq_refine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_pq_refine_topk(
        emb, n_centroids=None, nprobe=4, m=8, k=16, iters=2,
        refine=50, n_queries=8, topk=10,
    )


def r149_ivf_pq_trained(spark, sf_dir):
    """IVF-PQ with a TRAINED coarse quantizer (operators/similarity.py
    ivf_pq_topk coarse='kmeans' — VERDICT r11 ask #1). FAISS trains the
    IVF coarse stage with k-means; r146's lowest-id-vector centroids
    produced degenerate bucket structure (78/80 true neighbors in the
    query's rank-1 bucket at sf0.1, flat nprobe dial). Here the coarse
    centroids are full-dim spherical k-means MEANS (_ivf_coarse over the
    one _kmeans loop: decimal folds, lowest-id init, low-id ties — q72's
    graded contract at full dim), and one scored relation serves both the
    corpus assignment and the query probes, so both are consistent with
    the FINAL means.
    Same graded shape as r146: per-query overlap with the exact top-10
    plus n_candidates/n_total as columns. Measured vs r146 at identical
    knobs: overlap 40->48 of 80 at sf0.001 — training the coarse stage
    buys recall at the same probe budget (bucket-balance histogram in
    SCALE_SF1.md)."""
    from unifydb_spark.operators.similarity import ivf_pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_pq_topk(emb, n_centroids=None, nprobe=4, m=8, k=16, iters=2,
                       n_queries=8, topk=10, coarse="kmeans", coarse_iters=2)


def r150_ivf_pq_search(spark, sf_dir):
    """The PRODUCTION ANN entry point graded end to end (VERDICT r11 ask
    #2): ivf_pq_index_write(coarse='kmeans') persists the
    Hive-bucket-partitioned codes + codebook + trained centroids (the
    session-cached _ann_index build — one-time, amortized exactly as a
    production index is), then ivf_pq_search answers 8 queries over the
    PERSISTED relations — probe ranking against the broadcast centroids,
    a partition-PRUNED scan of only the probed buckets, the same
    _ivf_pq_build and _adc_scored kernels r146/r149 grade. The DuckDB twin
    (ivf_pq_search_sql) unrolls the identical train+search lifecycle
    inline from the embeddings table, so the correctness gate still
    grades build+search end to end; the BENCH timed region is the
    search path alone (round-15, VERDICT r14 ask #5 — the per-rep
    inline rebuild was ~25s of every full run re-measuring index
    construction that r153/r154 and the 1-rep PQ-train entries already
    time). Output (query_id, rank, neighbor_id) — all integers,
    hash-exact."""
    from unifydb_spark.operators.similarity import ivf_pq_search

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    res = ivf_pq_search(
        emb.filter(F.col("vec_id") < 8),
        _ann_index(spark, sf_dir),
        nprobe=4,
        topk=10,
    )
    return res.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id"
    )


_ANN_INDEXES: dict = {}


def _ann_index(spark, sf_dir):
    """One persisted kmeans-coarse IVF-PQ index per (session, sf_dir),
    built in a per-process temp dir — r151 and repeated bench reps reuse
    it instead of retraining (the index-once/query-many shape)."""
    import atexit
    import shutil
    import tempfile

    from unifydb_spark.operators.similarity import ivf_pq_index_write

    key = (id(spark), sf_dir)
    if key not in _ANN_INDEXES:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        path = tempfile.mkdtemp(prefix="unifydb_r151_idx_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        _ANN_INDEXES[key] = ivf_pq_index_write(
            emb, path, coarse="kmeans", coarse_iters=2
        )
    return _ANN_INDEXES[key]


def r151_ann_fn_bind(spark, sf_dir):
    """ANN search invoked FROM the Datalog surface (VERDICT r11 ask #4;
    query/compile.py _apply_table_fn + operators/ann_fn.py): the
    reference's fn-bind pipelines (test/unifydb/query_test.clj:449-519)
    generalized to a 1:N relation bind. `[(ann-topk ?q 5) ?n]` takes the
    bound vector ids, searches the PERSISTED kmeans-coarse IVF-PQ index
    (partition-pruned probe, broadcast codebook — the r150-graded path),
    and binds each neighbor id, which the next patterns join back to
    document facts — facts, ANN and projection in ONE Catalyst plan.
    The DuckDB twin wraps ivf_pq_search_sql's full train+search
    lifecycle in a CTE and joins documents the same way."""
    from unifydb_spark.operators.ann_fn import ann_topk_table_fn

    eng = _engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eng.register_table_fn(
        "ann-topk", ann_topk_table_fn(emb, _ann_index(spark, sf_dir), nprobe=4)
    )
    return eng.query(
        {
            "find": ["?q", "?n", "?src"],
            "where": [
                ["?e", ":emb/id", "?q"],
                [("<", "?q", 4)],
                [("ann-topk", "?q", 5), "?n"],
                ["?d", ":doc/id", "?n"],
                ["?d", ":doc/source", "?src"],
            ],
            "sort-by": ["?q", "?n"],
        }
    )


def r153_ivf_pq_refine_trained(spark, sf_dir):
    """The COMPLETE production retrieval recipe in one graded entry:
    k-means-TRAINED coarse quantizer (r149's head) + residual-PQ ADC
    shortlist + exact re-rank of the shortlist only (r148's ladder,
    FAISS IVFADC + RefineFlat with a trained coarse stage — exactly
    what faiss.index_factory('IVFk,PQm,RFlat') trains and runs).
    Measured at sf0.001: trained plain ADC lifts 40->48 of 80 (r149)
    and the refine pass takes it to 70 at refine=50 — the two quality
    levers compose. Same graded shape as r148."""
    from unifydb_spark.operators.similarity import ivf_pq_refine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_pq_refine_topk(
        emb, n_centroids=None, nprobe=4, m=8, k=16, iters=2,
        refine=50, n_queries=8, topk=10, coarse="kmeans", coarse_iters=2,
    )


def r154_ivf_pq_sampled_train(spark, sf_dir):
    """Coarse training on a deterministic 1/4 STRIDE SAMPLE
    (coarse_sample_stride=4 — vid % 4 == 0, init from the first 16
    sample ids): how the coarse quantizer actually gets trained at
    100 TB (FAISS guidance: train on a sample, add everything; a full
    k-means pass over the corpus is the one step that would not scale).
    The trained means still quantize and probe the FULL corpus — only
    the training scans shrink by the stride — and the whole thing stays
    oracle-expressible because the sample is a deterministic stride,
    not a seeded random draw. The graded columns measure the trade
    honestly (SCALE_SF1.json round12.sampled): at the graded SFs
    auto_k pins 16 centroids while the stride shrinks the training set
    (8:1 training-points-per-centroid at sf0.001, far below FAISS's
    ~39:1 guidance), so the sample trails full training (28/24/18 vs
    48/36/25 of 80); at sf1, where the ratio reaches 40:1 (5000
    samples / 125 centroids), the stride sample converges EXACTLY —
    80/80 for both — which is the regime a 100 TB corpus lives in."""
    from unifydb_spark.operators.similarity import ivf_pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_pq_topk(
        emb, n_centroids=None, nprobe=4, m=8, k=16, iters=2,
        n_queries=8, topk=10, coarse="kmeans", coarse_iters=2,
        coarse_sample_stride=4,
    )


# deterministic OUT-OF-CORPUS query vector for r155: a fixed formula so
# the Spark literal and the SQL twin's literal are byte-identical floats
_R155_QVEC = [((7 * d + 3) % 101) / 101.0 for d in range(64)]


def r155_ann_literal_vector(spark, sf_dir):
    """ANN over a query vector that is NOT in the corpus — the serving
    case (VERDICT r12 ask #4) — invoked from the Datalog surface as a
    GROUND SEQ LITERAL key: `[(ann-topk [0.03 ...] 5) ?n]`
    (query/compile.py _apply_table_fn literal branch). The literal
    becomes a one-row array<double> relation, ivf_pq_search ranks its
    probes against the persisted trained centroids with the same
    decimal-fold cosine the corpus path uses, and the (<= k)-row result
    broadcast-joins into the pattern pipeline — here joined back to
    document facts exactly like r151. The DuckDB twin
    (ivf_pq_search_sql(query_vector=...)) unrolls the identical
    lifecycle with the literal exploded as query_id 0. A dims-mismatch
    literal raises structured invalid-query
    (tests/test_query_goldens.py::test_ann_table_fn_literal_vector_key)."""
    from unifydb_spark.operators.ann_fn import ann_topk_table_fn

    eng = _engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eng.register_table_fn(
        "ann-topk", ann_topk_table_fn(emb, _ann_index(spark, sf_dir), nprobe=4)
    )
    return eng.query(
        {
            "find": ["?n", "?src"],
            "where": [
                [("ann-topk", _R155_QVEC, 5), "?n"],
                ["?d", ":doc/id", "?n"],
                ["?d", ":doc/source", "?src"],
            ],
            "sort-by": ["?n"],
        }
    )


def r156_ann_rule_view(spark, sf_dir):
    """ANN invoked from INSIDE a rule body (VERDICT r12 ask #5): the
    reference applies fn-binds through rule evaluation
    (src/unifydb/query.clj:106-130 via :260-274); here the rule body
    GENERATES the key with its own pattern clauses and the table fn
    composes like any top-level clause — the α-renamed body compiles
    through the same _apply_table_fn path (query/rules.py _expand_rule).
    A body whose fn key is bound only at the call site raises the
    structured unbound-variable error under the SOURCE variable name
    (tests/test_query_goldens.py::test_table_fn_inside_rule_body).
    Result shape and oracle are exactly r151's — the rule is a view."""
    from unifydb_spark.operators.ann_fn import ann_topk_table_fn

    eng = _engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eng.register_table_fn(
        "ann-topk", ann_topk_table_fn(emb, _ann_index(spark, sf_dir), nprobe=4)
    )
    return eng.query(
        {
            "find": ["?q", "?n", "?src"],
            "where": [
                ("near_docs", "?q", "?n"),
                ["?d", ":doc/id", "?n"],
                ["?d", ":doc/source", "?src"],
            ],
            "rules": [
                [
                    ("near_docs", "?x", "?y"),
                    ["?e", ":emb/id", "?x"],
                    [("<", "?x", 4)],
                    [("ann-topk", "?x", 5), "?y"],
                ],
            ],
            "sort-by": ["?q", "?n"],
        }
    )


def r157_ann_search_filtered(spark, sf_dir):
    """FILTERED ANN over the persisted index (round-13) — the standard
    serving constraint ("nearest neighbors WHERE <predicate>"):
    ivf_pq_search(allowed=...) semi-joins the permitted neighbor set
    (here label % 2 == 0) into the bucket-pruned candidate list BEFORE
    ADC scoring and ranking, so the result is the exact top-k of the
    allowed candidates in the probed buckets — no over-fetch heuristics,
    no post-truncation shortfall, and the ADC kernel never scores a
    disallowed row. At scale the filter is a long==long semi-join on the
    nprobe-bucket candidates, never the corpus. The DuckDB twin
    (ivf_pq_search_sql(neighbor_filter=...)) applies the identical
    predicate to the unrolled lifecycle's candidate CTE. Output
    (query_id, rank, neighbor_id) — all integers, hash-exact."""
    from unifydb_spark.operators.similarity import ivf_pq_search

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    res = ivf_pq_search(
        emb.filter(F.col("vec_id") < 8),
        _ann_index(spark, sf_dir),
        nprobe=4,
        topk=10,
        allowed=emb.filter(F.col("label") % 2 == 0),
    )
    return res.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id"
    )


def r158_ann_datalog_filtered(spark, sf_dir):
    """FILTERED ANN composed IN the query language (VERDICT r13 ask #4;
    operators/ann_fn.py ann_topk_where_table_fn): the serving pattern
    "nearest neighbors WHERE <predicate>" stated as Datalog —
    `[(ann-topk-where ?q 5 :doc/lang "zh") ?n]`. The allowed neighbor
    set derives from the FACT store at call time (entities asserting
    :doc/lang "zh" contribute their :doc/id values — the same
    visible-facts snapshot every pattern clause reads), then feeds
    ivf_pq_search's `allowed=` semi-join: bucket-pruned candidates are
    filtered BEFORE ADC scoring, so the result is the exact top-k of
    the allowed candidates in the probed buckets. Binding ?lang back
    through the doc facts proves every returned neighbor satisfies the
    predicate. A query whose probed buckets hold fewer than k allowed
    candidates returns just those (never padding; empty-bucket golden:
    tests/test_query_goldens.py::test_ann_topk_where_empty_bucket).
    The DuckDB twin is ivf_pq_search_sql(neighbor_filter=...) with the
    identical predicate as a semi-join subquery over documents."""
    from unifydb_spark.operators.ann_fn import ann_topk_where_table_fn

    eng = _engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eng.register_table_fn(
        "ann-topk-where",
        ann_topk_where_table_fn(emb, _ann_index(spark, sf_dir), nprobe=4),
    )
    return eng.query(
        {
            "find": ["?q", "?n", "?lang"],
            "where": [
                ["?e", ":emb/id", "?q"],
                [("<", "?q", 4)],
                [("ann-topk-where", "?q", 5, ":doc/lang", "zh"), "?n"],
                ["?d", ":doc/id", "?n"],
                ["?d", ":doc/lang", "?lang"],
            ],
            "sort-by": ["?q", "?n"],
        }
    )


def r159_ann_var_k(spark, sf_dir):
    """VARIABLE-valued table-fn parameter (VERDICT r13 ask #5;
    query/compile.py _apply_table_fn): the reference's
    fn-binds accept any bound term in any position
    (src/unifydb/query.clj:106-130) — here k itself is computed by an
    earlier scalar fn-bind (`[(+ ?q 3) ?k]`) and `[(ann-topk ?q ?k) ?n]`
    retrieves each query's OWN-k neighbor list: the fn evaluates once
    per distinct k (keys restricted to that k's rows), outputs are
    combo-tagged and join back on key + parameter, all in one Catalyst
    plan per combo unioned. Distinct parameter combos are knob metadata
    capped at 64 (structured invalid-query beyond — golden:
    test_table_fn_var_param_combo_cap). The DuckDB twin searches once at
    the maximum k and filters rank <= q+3 per query — equivalent by the
    rank ordering's prefix consistency (deterministic score-desc,
    id-asc tie-break)."""
    from unifydb_spark.operators.ann_fn import ann_topk_table_fn

    eng = _engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eng.register_table_fn(
        "ann-topk", ann_topk_table_fn(emb, _ann_index(spark, sf_dir), nprobe=4)
    )
    return eng.query(
        {
            "find": ["?q", "?k", "?n"],
            "where": [
                ["?e", ":emb/id", "?q"],
                [("<", "?q", 4)],
                [("+", "?q", 3), "?k"],
                [("ann-topk", "?q", "?k"), "?n"],
            ],
            "sort-by": ["?q", "?n"],
        }
    )


def r160_ann_filtered_compound(spark, sf_dir):
    """COMPOUND-predicate filtered ANN from the Datalog surface (VERDICT
    r14 ask #1; operators/ann_fn.py _parse_where_spec): the reference's
    :where composes arbitrary predicate conjunctions
    (src/unifydb/query.clj:23-33, :77-104), so ann-topk-where accepts
    AND-ed seq-literal predicates mixing equality and RANGE ops —
    "nearest neighbors WHERE lang='zh' AND n_chars>200" stated as

        [("ann-topk-where" ?q 5 [:doc/lang = "zh"]
                                [:doc/nchars > 200]) ?n]

    Each predicate adds one attribute-pruned, value-filtered fact scan
    semi-joined (broadcast) against the bounded bucket-pruned candidate
    entity set — ivf_pq_search's CALLBACK form, so cost is linear in
    predicate count with zero corpus-side shuffles at any scale. The
    ordered op reads long/double facts through the engine num()
    coalesce; binding ?nc back through the doc facts proves every
    returned neighbor satisfies the range. Shortfall semantics are
    r158's (fewer allowed candidates than k -> fewer rows, never
    padding; empty-intersection golden:
    tests/test_query_goldens.py::test_ann_topk_where_compound). The
    DuckDB twin applies the identical conjunction as a semi-join
    subquery over documents."""
    from unifydb_spark.operators.ann_fn import ann_topk_where_table_fn

    eng = _engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eng.register_table_fn(
        "ann-topk-where",
        ann_topk_where_table_fn(emb, _ann_index(spark, sf_dir), nprobe=4),
    )
    return eng.query(
        {
            "find": ["?q", "?n", "?nc"],
            "where": [
                ["?e", ":emb/id", "?q"],
                [("<", "?q", 4)],
                [
                    (
                        "ann-topk-where",
                        "?q",
                        5,
                        [":doc/lang", "=", "zh"],
                        [":doc/nchars", ">", 200],
                    ),
                    "?n",
                ],
                ["?d", ":doc/id", "?n"],
                ["?d", ":doc/nchars", "?nc"],
            ],
            "sort-by": ["?q", "?n"],
        }
    )


def r161_ann_allowed_relation(spark, sf_dir):
    """Allowed set BUILT BY THE PATTERN PIPELINE (VERDICT r14 ask #2;
    operators/ann_fn.py ann_topk_in_table_fn + compile.py relation
    parameters): `(ann-topk-in ?q 5 ?allowed)` where ?allowed is bound
    by ordinary clauses — here "vectors sharing the query's own label",
    a genuinely CORRELATED per-query set:

        ["?e" :emb/id ?q] ["?e" :emb/label ?lab]
        ["?f" :emb/label ?lab] ["?f" :emb/id ?allowed]
        [(ann-topk-in ?q 5 ?allowed) ?n]

    The compiler hands the function the distinct (?q, ?allowed) pairs
    (the function declares relation_params={1}); the pairs reach
    ivf_pq_search as its per-query `allowed` pairs DataFrame — ONE
    semi-join of the bucket-pruned candidates on (query_id, neighbor).
    This is deliberately the DataFrame form, not the candidate-pushdown
    callback: an allowed set produced by an arbitrary pattern pipeline
    is an opaque relation with no source scans to push ids into (the
    measured r157 negative result). Binding ?nlab back through the
    corpus facts proves every neighbor carries the query's own label;
    the (count ?allowed) aggregate pins the correlated set SIZE per
    group (bag-semantics witness multiplicity), making the result
    deterministic. Empty-allowed shortfall golden:
    tests/test_query_goldens.py::test_ann_topk_in_relation_param. The
    DuckDB twin applies the identical pairs via
    ivf_pq_search_sql(neighbor_pairs_sql=...)."""
    from unifydb_spark.operators.ann_fn import ann_topk_in_table_fn

    eng = _engine(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eng.register_table_fn(
        "ann-topk-in",
        ann_topk_in_table_fn(emb, _ann_index(spark, sf_dir), nprobe=4),
    )
    return eng.query(
        {
            "find": ["?q", "?n", "?nlab", ("count", "?allowed", "n_allowed")],
            "where": [
                ["?e", ":emb/id", "?q"],
                [("<", "?q", 4)],
                ["?e", ":emb/label", "?lab"],
                ["?f", ":emb/label", "?lab"],
                ["?f", ":emb/id", "?allowed"],
                [("ann-topk-in", "?q", 5, "?allowed"), "?n"],
                ["?g", ":emb/id", "?n"],
                ["?g", ":emb/label", "?nlab"],
            ],
            "sort-by": ["?q", "?n"],
        }
    )


def r152_source_cap_auto(spark, sf_dir):
    """Skew-routed domain cap GRADED AT THE ROUTE BOUNDARY (VERDICT r11
    ask #5; operators/quality.py source_cap_auto). The documents table
    is deterministically remapped so 30% of docs share one hot domain
    (doc_id % 10 < 3 -> 'hot-domain'), pushing the sampled
    hot_key_share probe past the 5% threshold: the operator MUST take
    the salted two-phase route (n_salts=32), and the gate hash-checks
    that the salted route's kept set equals the plain per-source top-15
    the oracle computes — the salting-invariance proof, measured where
    the route actually flips (r147 graded only the sessionizer's probe;
    the cap's route was pytest-only). Output = the kept rows
    themselves, all integers/strings."""
    from unifydb_spark.operators.quality import source_cap_auto

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "source",
        F.when(F.col("doc_id") % 10 < 3, F.lit("hot-domain")).otherwise(
            F.col("source")
        ),
    )
    return (
        source_cap_auto(docs, cap=15)
        .select("doc_id", "source", "n_chars")
        .orderBy("source", "doc_id")
    )


_INGEST_FIXTURE = None


def _ingest_fixture_path() -> str:
    global _INGEST_FIXTURE
    if _INGEST_FIXTURE is None:
        import os

        _INGEST_FIXTURE = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "fixtures",
            "ingest_sample.jsonl",
        )
    return _INGEST_FIXTURE


def r13_ingest_quarantine(spark, sf_dir):
    """Quarantined JSONL bulk load (sources/ingest.py): PERMISSIVE
    parse with an explicit DDL splits a seeded-corrupt fixture into
    (good, quarantine) from ONE persisted scan; the report is per-lang
    good counts + exact score sums plus a `_quarantine` row. The
    fixture's 10 corrupt lines (5 invalid JSON, 5 numeric-field type
    violations) are shapes both engines classify identically; scores
    are multiples of 0.25 so double sums are order-independent. The
    DuckDB oracle re-classifies the same raw lines with TRY_CAST."""
    from unifydb_spark.sources.ingest import ingest_summary

    return ingest_summary(
        spark,
        _ingest_fixture_path(),
        "doc_id BIGINT, lang STRING, score DOUBLE",
        "lang",
        "score",
    ).orderBy("bucket")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs = _query_registry()
    # Guard against slot/function drift: every key must be served by the
    # function of the same name (round-4 renumbering made this a hazard).
    for key, fn in qs.items():
        assert fn.__name__ == key, f"slot {key} served by {fn.__name__}"
    return qs


def _query_registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_pattern_match": q02_pattern_match,
        "q03_ref_join_chain": q03_ref_join_chain,
        "q04_or_union": q04_or_union,
        "q05_not_antijoin": q05_not_antijoin,
        "q06_predicate_variadic": q06_predicate_variadic,
        "q07_fn_bind_revenue": q07_fn_bind_revenue,
        "q08_rule_view": q08_rule_view,
        "q09_rule_recursive": q09_rule_recursive,
        "q10_bind_param": q10_bind_param,
        "q11_agg_stats": q11_agg_stats,
        "q12_distinct_set": q12_distinct_set,
        "q13_mode": q13_mode,
        "q14_sort_limit": q14_sort_limit,
        "q15_wildcard_attr": q15_wildcard_attr,
        "q16_timetravel_asof": q16_timetravel_asof,
        "q17_historical": q17_historical,
        "q18_pull_nested": q18_pull_nested,
        "q19_text_stats": q19_text_stats,
        "q20_language_id": q20_language_id,
        "q21_fingerprint": q21_fingerprint,
        "q22_exact_dedup": q22_exact_dedup,
        "q23_ngram_jaccard_dedup": q23_ngram_jaccard_dedup,
        "q24_minhash_lsh_dedup": q24_minhash_lsh_dedup,
        "q25_simhash_dedup": q25_simhash_dedup,
        "q26_embedding_neardup": q26_embedding_neardup,
        "q27_cosine_topk": q27_cosine_topk,
        "q28_ivf_topk": q28_ivf_topk,
        "q29_multimodal_features": q29_multimodal_features,
        "q30_range_join": q30_range_join,
        "q31_connected_components": q31_connected_components,
        "q32_pagerank": q32_pagerank,
        "q33_stream_windowed_metrics": q33_stream_windowed_metrics,
        "q34_sessionize": q34_sessionize,
        "q35_asof_join": q35_asof_join,
        "q36_triangle_count": q36_triangle_count,
        "q37_shortest_paths": q37_shortest_paths,
        "q38_decontaminate": q38_decontaminate,
        "q39_hash_sample": q39_hash_sample,
        "q40_stream_stateful_latest": q40_stream_stateful_latest,
        "q41_retraction_snapshot": q41_retraction_snapshot,
        "q42_stream_interval_join": q42_stream_interval_join,
        "q43_record_linkage": q43_record_linkage,
        "q44_dedup_clusters": q44_dedup_clusters,
        "q45_vocab_stats": q45_vocab_stats,
        "q46_audio_features": q46_audio_features,
        "q47_salted_join": q47_salted_join,
        "q48_count_min": q48_count_min,
        "q49_corpus_mix": q49_corpus_mix,
        "q50_seq_rest_pattern": q50_seq_rest_pattern,
        "q51_regional_revenue": q51_regional_revenue,
        "q52_curation_pipeline": q52_curation_pipeline,
        "q53_repetition_stats": q53_repetition_stats,
        "q54_stream_dedup": q54_stream_dedup,
        "q55_stream_sessionize": q55_stream_sessionize,
        "q56_embedding_rp_lsh": q56_embedding_rp_lsh,
        "q57_pack_sequences": q57_pack_sequences,
        "q58_pii_redaction": q58_pii_redaction,
        "q59_source_quantiles": q59_source_quantiles,
        "q60_rolling_user_stats": q60_rolling_user_stats,
        "q61_tfidf_top_terms": q61_tfidf_top_terms,
        "q62_stratified_sample": q62_stratified_sample,
        "q63_chunk_dedup": q63_chunk_dedup,
        "q64_importance_sample": q64_importance_sample,
        "q65_funnel": q65_funnel,
        "q66_retention_cohorts": q66_retention_cohorts,
        "q67_top_customers": q67_top_customers,
        "q68_robust_outliers": q68_robust_outliers,
        "q69_resample_ffill": q69_resample_ffill,
        "q70_minhash_verified": q70_minhash_verified,
        "q71_dq_report": q71_dq_report,
        "q72_kmeans": q72_kmeans,
        "q73_bigram_commonness": q73_bigram_commonness,
        "q74_image_resize": q74_image_resize,
        "q75_frame_sample": q75_frame_sample,
        "q76_quantize_int8": q76_quantize_int8,
        "q77_incremental_dedup": q77_incremental_dedup,
        "q78_label_centroids": q78_label_centroids,
        "q79_graph_degrees": q79_graph_degrees,
        "q80_source_quality": q80_source_quality,
        "q81_event_histogram": q81_event_histogram,
        "q82_video_features": q82_video_features,
        "q83_image_features_real": q83_image_features_real,
        "q84_hll_distinct": q84_hll_distinct,
        "q85_source_overlap": q85_source_overlap,
        "q86_bpe_merges": q86_bpe_merges,
        "q87_bloom_decontaminate": q87_bloom_decontaminate,
        "q88_stream_user_stats": q88_stream_user_stats,
        "q89_bpe_encode": q89_bpe_encode,
        "q90_ann_recall": q90_ann_recall,
        "q91_global_row_number": q91_global_row_number,
        "q92_heavy_hitters": q92_heavy_hitters,
        "q93_inverted_index": q93_inverted_index,
        "q94_bm25_search": q94_bm25_search,
        "q95_dup_span_coverage": q95_dup_span_coverage,
        "q96_zorder_profile": q96_zorder_profile,
        "q97_exact_quantiles": q97_exact_quantiles,
        "q98_cube_metrics": q98_cube_metrics,
        "q99_windowed_share": q99_windowed_share,
        "r01_topk_per_group": r01_topk_per_group,
        "r02_kmv_distinct": r02_kmv_distinct,
        "r03_kmv_overlap": r03_kmv_overlap,
        "r04_canonical_keep": r04_canonical_keep,
        "r05_curriculum_profile": r05_curriculum_profile,
        "r06_holdout_split": r06_holdout_split,
        "r07_scd2_intervals": r07_scd2_intervals,
        "r08_table_profile": r08_table_profile,
        "r09_group_exact_quantiles": r09_group_exact_quantiles,
        "r10_ivm_merge": r10_ivm_merge,
        "r11_balanced_sample": r11_balanced_sample,
        "r12_pivot_metrics": r12_pivot_metrics,
        "r13_ingest_quarantine": r13_ingest_quarantine,
        "r14_length_histogram": r14_length_histogram,
        "r15_winnow_pairs": r15_winnow_pairs,
        "r16_rolling_window": r16_rolling_window,
        "r17_source_divergence": r17_source_divergence,
        "r18_windowed_distinct": r18_windowed_distinct,
        "r19_image_ahash_dedup": r19_image_ahash_dedup,
        "r20_stream_windowed_distinct": r20_stream_windowed_distinct,
        "r21_join_skew_report": r21_join_skew_report,
        "r22_winsorize_scale": r22_winsorize_scale,
        "r23_containment_pairs": r23_containment_pairs,
        "r24_table_diff": r24_table_diff,
        "r25_rate_anomaly": r25_rate_anomaly,
        "r26_audio_fingerprint": r26_audio_fingerprint,
        "r27_scene_changes": r27_scene_changes,
        "r28_regression_metrics": r28_regression_metrics,
        "r29_classification_report": r29_classification_report,
        "r30_binary_auc": r30_binary_auc,
        "r31_calibration_curve": r31_calibration_curve,
        "r32_weighted_sample": r32_weighted_sample,
        "r33_cms_join_size": r33_cms_join_size,
        "r34_interval_union": r34_interval_union,
        "r35_mutual_information": r35_mutual_information,
        "r36_event_transitions": r36_event_transitions,
        "r37_topk_others": r37_topk_others,
        "r38_group_trend": r38_group_trend,
        "r39_json_props": r39_json_props,
        "r40_embedding_covariance": r40_embedding_covariance,
        "r41_token_drift": r41_token_drift,
        "r42_k_anonymity": r42_k_anonymity,
        "r43_rank_features": r43_rank_features,
        "r44_trimmed_mean": r44_trimmed_mean,
        "r45_benford_report": r45_benford_report,
        "r46_gini_concentration": r46_gini_concentration,
        "r47_association_rules": r47_association_rules,
        "r48_token_pmi": r48_token_pmi,
        "r49_session_paths": r49_session_paths,
        "r50_survival_curve": r50_survival_curve,
        "r51_vocab_growth": r51_vocab_growth,
        "r52_lorenz_points": r52_lorenz_points,
        "r53_ks_drift": r53_ks_drift,
        "r54_chi_square": r54_chi_square,
        "r55_rater_agreement": r55_rater_agreement,
        "r56_psi_drift": r56_psi_drift,
        "r57_daily_acf": r57_daily_acf,
        "r58_cusum_shift": r58_cusum_shift,
        "r59_edit_distance_join": r59_edit_distance_join,
        "r60_doc_perplexity": r60_doc_perplexity,
        "r61_distinctive_terms": r61_distinctive_terms,
        "r62_melt_profile": r62_melt_profile,
        "r63_zonemap_prune": r63_zonemap_prune,
        "r64_hist2d": r64_hist2d,
        "r65_stream_topk": r65_stream_topk,
        "r66_theil_decomposition": r66_theil_decomposition,
        "r67_wilson_rates": r67_wilson_rates,
        "r68_hill_tail": r68_hill_tail,
        "r69_stream_psi": r69_stream_psi,
        "r70_ddsketch_quantiles": r70_ddsketch_quantiles,
        "r71_lift_curve": r71_lift_curve,
        "r72_dedup_eval": r72_dedup_eval,
        "r73_stream_cms": r73_stream_cms,
        "r74_active_users": r74_active_users,
        "r75_new_returning": r75_new_returning,
        "r76_engagement_curve": r76_engagement_curve,
        "r77_growth_accounting": r77_growth_accounting,
        "r78_rfm_segments": r78_rfm_segments,
        "r79_kcore": r79_kcore,
        "r80_seasonal_anomaly": r80_seasonal_anomaly,
        "r81_peak_concurrency": r81_peak_concurrency,
        "r82_cohort_ltv": r82_cohort_ltv,
        "r83_char_entropy": r83_char_entropy,
        "r84_common_prefix": r84_common_prefix,
        "r85_novelty_curve": r85_novelty_curve,
        "r86_overdispersion": r86_overdispersion,
        "r87_weighted_quantiles": r87_weighted_quantiles,
        "r88_day_overlap": r88_day_overlap,
        "r89_corpus_card": r89_corpus_card,
        "r90_embedding_health": r90_embedding_health,
        "r91_temporal_split_audit": r91_temporal_split_audit,
        "r92_historical_multiattr": r92_historical_multiattr,
        "r93_gopher_rules": r93_gopher_rules,
        "r94_script_mix": r94_script_mix,
        "r95_dedup_savings": r95_dedup_savings,
        "r96_packing_waste": r96_packing_waste,
        "r97_temperature_mix": r97_temperature_mix,
        "r98_mad_outliers": r98_mad_outliers,
        "r99_ccnet_buckets": r99_ccnet_buckets,
        "r100_dsir_weights": r100_dsir_weights,
        "r101_semdedup": r101_semdedup,
        "r102_cluster_silhouette": r102_cluster_silhouette,
        "r103_quality_logreg": r103_quality_logreg,
        "r104_l_diversity": r104_l_diversity,
        "r105_bootstrap_ci": r105_bootstrap_ci,
        "r106_target_encoding": r106_target_encoding,
        "r107_cuped_lift": r107_cuped_lift,
        "r108_ab_health": r108_ab_health,
        "r109_ratio_metric_ci": r109_ratio_metric_ci,
        "r110_transition_entropy": r110_transition_entropy,
        "r111_heaps_fit": r111_heaps_fit,
        "r112_zipf_fit": r112_zipf_fit,
        "r113_language_confusion": r113_language_confusion,
        "r114_stream_transitions": r114_stream_transitions,
        "r115_blocklist_report": r115_blocklist_report,
        "r116_negative_samples": r116_negative_samples,
        "r117_icc_design_effect": r117_icc_design_effect,
        "r118_image_stats": r118_image_stats,
        "r119_exp_smoothing": r119_exp_smoothing,
        "r120_readability": r120_readability,
        "r121_degree_assortativity": r121_degree_assortativity,
        "r122_hits": r122_hits,
        "r123_join_fanout": r123_join_fanout,
        "r124_entropy_rate": r124_entropy_rate,
        "r125_term_burstiness": r125_term_burstiness,
        "r126_skyline": r126_skyline,
        "r127_threshold_tuning": r127_threshold_tuning,
        "r128_group_skyline": r128_group_skyline,
        "r129_slice_report": r129_slice_report,
        "r130_bounce_report": r130_bounce_report,
        "r131_gini_split": r131_gini_split,
        "r132_srm_by_segment": r132_srm_by_segment,
        "r133_feature_ranking": r133_feature_ranking,
        "r134_stream_latest_tws": r134_stream_latest_tws,
        "r135_user_stats_tws": r135_user_stats_tws,
        "r136_acid_log_store": r136_acid_log_store,
        "r137_rule_bound_reach": r137_rule_bound_reach,
        "r138_stream_txlog_ingest": r138_stream_txlog_ingest,
        "r139_sessionize_bucketed": r139_sessionize_bucketed,
        "r140_acid_s3_protocol": r140_acid_s3_protocol,
        "r141_layout_eq_advisor": r141_layout_eq_advisor,
        "r142_txlog_restore": r142_txlog_restore,
        "r143_source_cap": r143_source_cap,
        "r144_pq_codes": r144_pq_codes,
        "r145_pq_adc_recall": r145_pq_adc_recall,
        "r146_ivf_pq_topk": r146_ivf_pq_topk,
        "r147_sessionize_auto": r147_sessionize_auto,
        "r148_ivf_pq_refine": r148_ivf_pq_refine,
        "r149_ivf_pq_trained": r149_ivf_pq_trained,
        "r150_ivf_pq_search": r150_ivf_pq_search,
        "r151_ann_fn_bind": r151_ann_fn_bind,
        "r152_source_cap_auto": r152_source_cap_auto,
        "r153_ivf_pq_refine_trained": r153_ivf_pq_refine_trained,
        "r154_ivf_pq_sampled_train": r154_ivf_pq_sampled_train,
        "r155_ann_literal_vector": r155_ann_literal_vector,
        "r156_ann_rule_view": r156_ann_rule_view,
        "r157_ann_search_filtered": r157_ann_search_filtered,
        "r158_ann_datalog_filtered": r158_ann_datalog_filtered,
        "r159_ann_var_k": r159_ann_var_k,
        "r160_ann_filtered_compound": r160_ann_filtered_compound,
        "r161_ann_allowed_relation": r161_ann_allowed_relation,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": """
            SELECT l_returnflag AS rf, l_linestatus AS ls,
                   ROUND(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE), 4) AS sum_qty,
                   ROUND(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE), 4) AS sum_base_price,
                   -- varchar hop = correctly-rounded decimal->double (DuckDB's
                   -- direct hugeint->double cast can be 1 ulp off)
                   CAST(CAST(SUM(CAST(l_discount AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
                       / COUNT(l_discount) AS avg_disc,
                   COUNT(l_quantity) AS count_order
            FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "q02_pattern_match": """
            SELECT c_custkey AS ck, c_name AS name FROM customer
            WHERE c_mktsegment = 'BUILDING' ORDER BY ck
        """,
        "q03_ref_join_chain": """
            SELECT c_custkey AS ck, n_name AS nname, r_name AS rname
            FROM customer JOIN nation ON c_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            WHERE c_custkey < 101 ORDER BY ck
        """,
        "q04_or_union": """
            SELECT c_custkey AS ck, c_mktsegment AS seg FROM customer
            WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE') ORDER BY ck
        """,
        "q05_not_antijoin": """
            SELECT c_custkey AS ck FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
            ORDER BY ck
        """,
        "q06_predicate_variadic": """
            SELECT c_custkey AS ck, c_acctbal AS bal FROM customer
            WHERE c_acctbal > 1000.0 AND c_acctbal < 1100.0 ORDER BY ck
        """,
        "q07_fn_bind_revenue": """
            SELECT l_orderkey AS ok,
                   ROUND(CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE), 4) AS revenue
            FROM lineitem GROUP BY 1 ORDER BY revenue DESC, ok LIMIT 10
        """,
        "q08_rule_view": """
            SELECT c_custkey AS ck, r_name AS rname
            FROM customer JOIN nation ON c_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            WHERE c_custkey < 51 ORDER BY ck
        """,
        "q09_rule_recursive": """
            WITH RECURSIVE edges AS (
                SELECT n_nationkey AS src, n_nationkey + 5 AS dst FROM nation
                WHERE n_nationkey + 5 <= 24
            ), reach AS (
                SELECT src, dst FROM edges
                UNION
                SELECT e.src, r.dst FROM edges e JOIN reach r ON e.dst = r.src
            )
            SELECT src AS "from", dst AS "to" FROM reach ORDER BY 1, 2
        """,
        "q10_bind_param": """
            SELECT c_custkey AS ck, c_acctbal AS bal FROM customer
            WHERE c_mktsegment = 'MACHINERY' AND c_acctbal > 9000.0 ORDER BY ck
        """,
        "q11_agg_stats": """
            SELECT o_orderstatus AS st,
                   MIN(o_totalprice) AS min_price,
                   MAX(o_totalprice) AS max_price,
                   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
                       / COUNT(o_totalprice) AS avg_price,
                   ROUND(MEDIAN(o_totalprice), 4) AS median_price,
                   ROUND(STDDEV_SAMP(o_totalprice), 4) AS stddev_price,
                   COUNT(o_totalprice) AS n,
                   COUNT(DISTINCT o_orderpriority) AS n_priorities
            FROM orders GROUP BY 1 ORDER BY 1
        """,
        "q12_distinct_set": """
            SELECT o_orderstatus AS st,
                   ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT o_orderpriority)), '|') AS priorities
            FROM orders GROUP BY 1 ORDER BY 1
        """,
        "q13_mode": """
            WITH counts AS (
                SELECT c_mktsegment AS seg, o_orderpriority AS p, COUNT(*) AS n
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2
            ), mx AS (SELECT seg, MAX(n) AS mxn FROM counts GROUP BY 1)
            SELECT counts.seg, p AS modal_priority
            FROM counts JOIN mx ON counts.seg = mx.seg AND counts.n = mx.mxn
            ORDER BY 1, 2
        """,
        "q14_sort_limit": """
            SELECT c_custkey AS ck, c_acctbal AS bal FROM customer
            ORDER BY bal DESC, ck DESC LIMIT 10
        """,
        "q15_wildcard_attr": """
            SELECT a, n FROM (
                VALUES ('customer/acctbal', (SELECT COUNT(*) FROM customer)),
                       ('customer/custkey', (SELECT COUNT(*) FROM customer)),
                       ('customer/mktsegment', (SELECT COUNT(*) FROM customer)),
                       ('customer/name', (SELECT COUNT(*) FROM customer)),
                       ('customer/nation', (SELECT COUNT(*) FROM customer)),
                       ('customer/nationkey', (SELECT COUNT(*) FROM customer))
            ) AS t(a, n) ORDER BY a
        """,
        "q16_timetravel_asof": """
            SELECT user_id, value FROM (
                SELECT user_id, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
                FROM events WHERE event_id <= 5000
            ) WHERE rn = 1 ORDER BY user_id
        """,
        "q17_historical": """
            SELECT user_id, COUNT(*) AS versions, MAX(value) AS max_value
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "q18_pull_nested": """
            SELECT c_custkey AS ck, c_name AS name, n_name AS nname, r_name AS rname
            FROM customer JOIN nation ON c_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            WHERE c_custkey < 201 ORDER BY ck
        """,
        # q50: seq bindings are canonical-JSON strings (strings keep their
        # quotes, ints are bare, the rest binding is a JSON array)
        "q50_seq_rest_pattern": """
            SELECT '"' || c_mktsegment || '"' AS seg,
                   CAST(c_nationkey AS VARCHAR) AS nk,
                   '[' || c_custkey || ']' AS rest
            FROM customer ORDER BY rest
        """,
        # retraction snapshot: live (user, bucket) pairs — most recent fact
        # an 'error' event retracts the pair
        "q41_retraction_snapshot": """
            WITH f AS (
                SELECT user_id AS u,
                       CAST(FLOOR(value / 10.0) AS BIGINT) AS b,
                       event_id AS tx,
                       event_type <> 'error' AS added
                FROM events
            ), ranked AS (
                SELECT u, b, added,
                       ROW_NUMBER() OVER (PARTITION BY u, b ORDER BY tx DESC) AS rn
                FROM f
            )
            SELECT u AS user_id, b AS bucket FROM ranked
            WHERE rn = 1 AND added ORDER BY 1, 2
        """,
        **_operator_oracles(),
    }


def _operator_oracles() -> dict[str, str]:
    from unifydb_spark.oracle import dedup as _d
    from unifydb_spark.oracle import events as _ev
    from unifydb_spark.oracle import linkage as _lk
    from unifydb_spark.oracle import graph as _g
    from unifydb_spark.oracle import multimodal as _m
    from unifydb_spark.oracle import similarity as _s
    from unifydb_spark.oracle import stats as _st
    from unifydb_spark.oracle import text as _t
    from unifydb_spark.oracle import layout as _lay
    from unifydb_spark.oracle import olap as _ol
    from unifydb_spark.oracle import search as _se
    from unifydb_spark.oracle import sketch as _sk
    from unifydb_spark.oracle import quality as _ql
    from unifydb_spark.oracle import ingest as _ingest

    pii_injected = """
        WITH injected AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com call +1-555-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS text
          FROM documents
        )
    """

    from unifydb_spark.oracle.streaming import interval_join_sql as _ij_sql

    return {
        "q63_chunk_dedup": _d.chunk_dedup_sql(chunk_words=12),
        "q64_importance_sample": f"""
            SELECT doc_id, lang, quality FROM (
              SELECT d.doc_id, d.lang, s.quality
              FROM documents d JOIN ({_t.text_stats_sql()}) s
                ON d.doc_id = s.doc_id
            )
            WHERE {_t.md5_u32_sql("doc_id", "imp")} < quality * 4294967296
            ORDER BY doc_id
        """,
        "q65_funnel": _ev.funnel_sql(),
        "q30_range_join": _ev.interval_activity_sql(),
        "q66_retention_cohorts": _ev.retention_cohorts_sql(),
        "q42_stream_interval_join": _ij_sql(lookback_minutes=30),
        "q68_robust_outliers": _st.robust_outliers_sql(
            "events",
            "user_id",
            "value",
            threshold=3.0,
            select_cols="event_id, user_id, value",
        )
        + " ORDER BY event_id",
        "q69_resample_ffill": _ev.resample_ffill_sql(
            table="(SELECT * FROM events WHERE user_id % 10 = 0)",
            freq="hour",
        ),
        "q71_dq_report": """
            WITH rep AS (
              SELECT 'lineitem_qty_positive' AS check_name,
                     CAST(COALESCE(SUM(CASE WHEN l_quantity <= 0 THEN 1 END), 0) AS BIGINT) AS n_violations,
                     COUNT(*) AS n_checked
              FROM lineitem
              UNION ALL
              SELECT 'lineitem_discount_range',
                     CAST(COALESCE(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END), 0) AS BIGINT),
                     COUNT(*)
              FROM lineitem
              UNION ALL
              SELECT 'orders_totalprice_positive',
                     CAST(COALESCE(SUM(CASE WHEN o_totalprice <= 0 THEN 1 END), 0) AS BIGINT),
                     COUNT(*)
              FROM orders
              UNION ALL
              SELECT 'customer_acctbal_notnull',
                     CAST(COALESCE(SUM(CASE WHEN c_acctbal IS NULL THEN 1 END), 0) AS BIGINT),
                     COUNT(*)
              FROM customer
              UNION ALL
              SELECT 'orders_pk_unique',
                     CAST(COALESCE((SELECT SUM(c - 1) FROM (
                         SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey
                     ) WHERE c > 1), 0) AS BIGINT),
                     (SELECT COUNT(*) FROM orders)
              UNION ALL
              SELECT 'lineitem_pk_unique',
                     CAST(COALESCE((SELECT SUM(c - 1) FROM (
                         SELECT COUNT(*) AS c FROM lineitem
                         GROUP BY l_orderkey, l_linenumber
                     ) WHERE c > 1), 0) AS BIGINT),
                     (SELECT COUNT(*) FROM lineitem)
              UNION ALL
              SELECT 'orders_custkey_ref',
                     CAST((SELECT COUNT(*) FROM orders o
                           WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
                             SELECT 1 FROM customer c
                             WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
                     (SELECT COUNT(*) FROM orders)
              UNION ALL
              SELECT 'lineitem_orderkey_ref',
                     CAST((SELECT COUNT(*) FROM lineitem l
                           WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
                             SELECT 1 FROM orders o
                             WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
                     (SELECT COUNT(*) FROM lineitem)
            )
            SELECT * FROM rep ORDER BY check_name
        """,
        "q47_salted_join": """
            SELECT c_mktsegment, COUNT(*) AS n_orders,
                   ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10)))
                              AS VARCHAR) AS DOUBLE), 4) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1 ORDER BY 1
        """,
        "q73_bigram_commonness": _t.bigram_commonness_sql(prefix_chars=400),
        "q74_image_resize": _m.resize_sql(out_w=224, out_h=224),
        "q76_quantize_int8": _s.quantize_int8_sql(),
        "q82_video_features": _m.video_features_sql(every_n=6),
        "q83_image_features_real": _m.image_features_real_sql(),
        "q84_hll_distinct": __import__(
            "unifydb_spark.oracle.sketch", fromlist=["x"]
        ).hll_distinct_sql(
            "(SELECT event_type, CAST(user_id AS VARCHAR) AS uid FROM events)",
            "uid",
            "event_type",
        ),
        "q75_frame_sample": _m.frame_sample_sql(
            fps_expr="24", duration_expr="1 + doc_id % 30", every_n=24
        ),
        "q43_record_linkage": _lk.block_link_sql(
            clean_sql="SELECT doc_id AS id, substr(text, 1, 30) AS name"
            " FROM documents",
            dirty_sql="""
              SELECT doc_id + 1000000 AS id,
                     CASE WHEN doc_id % 2 = 1
                          THEN substr(text, 1, 28) || 'qz'
                          ELSE substr(text, 1, 18) || '%%corrupted%%'
                     END AS name
              FROM documents
            """,
            block_len=6,
            max_dist=2,
        ),
        "q58_pii_redaction": pii_injected + _t.redact_pii_sql(table="injected"),
        "q59_source_quantiles": _st.group_quantiles_sql(
            "documents", "source", "n_chars"
        ),
        "q60_rolling_user_stats": _ev.rolling_user_stats_sql(window_rows=5),
        "q61_tfidf_top_terms": _t.tfidf_sql(k=3),
        "q62_stratified_sample": f"""
            SELECT doc_id, lang, source, n_chars
            FROM ({_t.stratified_sample_sql(rates=_STRAT_RATES)})
            ORDER BY doc_id
        """,
        "q19_text_stats": _t.text_stats_sql(),
        "q20_language_id": _t.language_id_sql(),
        "q21_fingerprint": _t.fingerprint_sql(),
        "q22_exact_dedup": _d.exact_dedup_sql(),
        "q23_ngram_jaccard_dedup": _d.ngram_jaccard_sql(threshold=0.8),
        "q24_minhash_lsh_dedup": _d.minhash_lsh_sql(),
        "q25_simhash_dedup": _d.simhash_sql(),
        "q26_embedding_neardup": _d.embedding_neardup_ivf_sql(
            threshold=0.45, n_centroids=None, nprobe=2
        ),
        "q27_cosine_topk": _s.cosine_topk_sql(),
        "q28_ivf_topk": _s.ivf_topk_sql(),
        "q29_multimodal_features": _m.features_sql(),
        "q70_minhash_verified": _d.minhash_verified_sql(threshold=0.8),
        "q85_source_overlap": _d.source_overlap_matrix_sql(),
        # the bloom pre-filter is semantically invisible (no false
        # negatives + exact verify), so the oracle is the PLAIN
        # decontamination SQL — asserting result-identity to the
        # unfiltered join is the whole point of the entry
        "q87_bloom_decontaminate": _d.decontaminate_sql(
            benchmark_where=_t.hash_sample_where_sql(0.1, "doc_id", "bloombench"),
            n=4,
        ),
        # final streaming state per user == the batch aggregation; every
        # component is order-independent exact (count, max, argmax by the
        # unique event_id), so no float-summation caveats
        "q88_stream_user_stats": """
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                   MAX(value) AS max_value,
                   CAST(MAX(event_id) AS BIGINT) AS last_event_id,
                   arg_max(value, event_id) AS last_value
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        # q86/q89 BPE: upgraded r8 from rows-only to exact via the
        # fixed-unroll trick (kcore_sql precedent) — n_merges sequential
        # argmax+rewrite levels; the batched DataFrame selection is
        # proven equal to the sequential loop by the pinned tests
        "q86_bpe_merges": _t.bpe_learn_unrolled_sql(n_merges=64),
        "q89_bpe_encode": _t.bpe_encode_unrolled_sql(n_merges=32),
        "q90_ann_recall": _s.ann_recall_sql(
            n_centroids=16, nprobe=2, n_queries=8, k=10
        ),
        "q77_incremental_dedup": _d.minhash_incremental_sql(),
        "q46_audio_features": _m.audio_features_sql(window=128),
        "q44_dedup_clusters": _d.dedup_clusters_sql(threshold=0.8),
        "q45_vocab_stats": _t.vocab_stats_sql(top_k=50),
        "q49_corpus_mix": _t.mix_by_token_budget_sql(total_tokens=10_000),
        "q48_count_min": __import__(
            "unifydb_spark.oracle.sketch", fromlist=["x"]
        ).term_frequency_cms_sql(top_k=50),
        "q78_label_centroids": _s.label_centroids_sql(),
        "q72_kmeans": _s.kmeans_assign_sql(k=8, iters=3),
        "q81_event_histogram": """
            SELECT event_type, CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "q80_source_quality": f"""
            WITH stats AS ({_t.text_stats_sql()})
            SELECT d.source, COUNT(*) AS n_docs,
                   ROUND(CAST(CAST(SUM(CAST(s.quality AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
                         / COUNT(*), 6) AS avg_quality,
                   CAST(SUM(s.n_ws_tokens) AS BIGINT) AS total_tokens
            FROM stats s JOIN documents d ON s.doc_id = d.doc_id
            GROUP BY 1 ORDER BY 1
        """,
        "q38_decontaminate": _d.decontaminate_sql(
            benchmark_where=_t.hash_sample_where_sql(0.1, "doc_id", "bench"),
            n=5,
        ),
        "q53_repetition_stats": _t.repetition_stats_sql(),
        "q57_pack_sequences": _t.pack_sequences_sql(capacity=256, n_shards=8),
        "q54_stream_dedup": """
            SELECT md5(text) AS content_md5, MIN(doc_id) AS canonical_id,
                   COUNT(*) AS n_copies
            FROM documents GROUP BY 1 ORDER BY 1
        """,
        # q55: batch gap-sessionize + the append-mode closed-session filter
        # (a session is emitted iff last event + gap <= the final watermark
        # = max event time, delay 0s)
        "q55_stream_sessionize": """
            WITH tagged AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), runs AS (
              SELECT user_id, ts, value,
                     SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM tagged
            ), sess AS (
              SELECT user_id,
                     MIN(ts) AS session_start, MAX(ts) AS session_end,
                     COUNT(*) AS n_events,
                     ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE), 4) AS sum_value
              FROM runs GROUP BY user_id, session_seq
            )
            SELECT user_id, session_start, session_end, n_events, sum_value
            FROM sess
            WHERE epoch_us(session_end) + 1800000000
                  <= (SELECT MAX(epoch_us(ts)) FROM events)
            ORDER BY user_id, session_start
        """,
        "q56_embedding_rp_lsh": _d.embedding_rp_sql(
            table=(
                "(SELECT vec_id, list_transform(generate_series(1, 64),"
                " i -> CAST(embedding[i] AS DOUBLE)) AS embedding FROM embeddings"
                " UNION ALL"
                " SELECT vec_id + 1000000,"
                " list_transform(generate_series(1, 64),"
                " i -> CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + 0.05::DOUBLE"
                " ELSE CAST(embedding[i] AS DOUBLE) END) FROM embeddings)"
            ),
            max_hamming=7,
            n_blocks=8,
        ),
        "q79_graph_degrees": _g.degrees_sql(_graph_edges_cte(True)),
        "q31_connected_components": _g.connected_components_sql(
            _graph_edges_cte(False)
        ),
        "q32_pagerank": _g.pagerank_sql(_graph_edges_cte(True), iters=10),
        # streaming append-mode emits windows whose END is <= the final
        # watermark (= max event time, delay 0s)
        "q33_stream_windowed_metrics": """
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, user_id,
                   COUNT(*) AS n_events,
                   ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE), 4) AS sum_value,
                   MAX(value) AS max_value
            FROM events
            WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= (SELECT MAX(ts) FROM events)
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "q34_sessionize": _ev.sessionize_sql(gap_minutes=30),
        "q35_asof_join": _ev.asof_latest_sql(),
        "q36_triangle_count": _g.triangle_count_sql(_HASH_GRAPH_CTE),
        "q37_shortest_paths": _g.shortest_paths_sql(
            _graph_edges_cte(False), sources=[_G_CUST + 0]
        ),
        "q52_curation_pipeline": f"""
            WITH stats AS ({_t.text_stats_sql()}),
            dupes AS (
              SELECT DISTINCT d2 AS doc_id
              FROM ({_d.ngram_jaccard_sql(threshold=0.8)})
            )
            SELECT s.doc_id, s.n_ws_tokens, s.quality
            FROM stats s LEFT JOIN dupes d ON s.doc_id = d.doc_id
            WHERE s.quality >= 0.5 AND d.doc_id IS NULL
            ORDER BY s.doc_id
        """,
        "q39_hash_sample": f"""
            SELECT doc_id, lang, source, n_chars
            FROM ({_t.hash_sample_sql(rate=0.25)}) ORDER BY doc_id
        """,
        "q40_stream_stateful_latest": """
            SELECT user_id, event_id, value FROM (
                SELECT user_id, event_id, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1 ORDER BY user_id
        """,
        "q51_regional_revenue": """
            SELECT r_name AS rname,
                   ROUND(CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                       AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE), 4) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE o_orderstatus = 'F'
            GROUP BY 1 ORDER BY 1
        """,
        "q67_top_customers": """
            SELECT c_custkey AS ck, c_name AS cname,
                   ROUND(CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                       AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE l_returnflag = 'R'
            GROUP BY 1, 2 ORDER BY revenue DESC, ck LIMIT 20
        """,
        "q91_global_row_number": _lay.global_row_number_sql(
            "orders",
            ["o_orderdate", "o_orderkey"],
            ["o_orderkey", "o_orderdate"],
        ),
        # the MG pruning is semantically invisible (candidates are a
        # superset of the true heavy hitters, then recounted exactly) —
        # the oracle is the PLAIN exact threshold query
        "q92_heavy_hitters": _sk.heavy_hitters_sql(
            "SELECT unnest(list_filter(string_split(text, ' '), w -> w != ''))"
            " AS term FROM documents",
            "term",
            phi_num=1,
            phi_den=55,
        ),
        "q93_inverted_index": _se.inverted_index_sql(min_df=2, chunk=64),
        "q94_bm25_search": _se.bm25_topk_sql(query=_BM25_QUERY, k=15),
        "q95_dup_span_coverage": _d.dup_span_coverage_sql(n=8),
        "q96_zorder_profile": _lay.zorder_block_profile_sql(
            "(SELECT user_id AS ux,"
            " (epoch_us(ts) // 60000000) % 2048 AS mb FROM events)",
            "ux",
            "mb",
            bits=11,
            block_shift=8,
        ),
        # the histogram narrowing is semantically invisible (it resolves
        # the same order statistics a sort would) — the oracle is plain
        # quantile_cont
        "q97_exact_quantiles": _st.exact_quantiles_scalable_sql(
            "lineitem", "l_extendedprice"
        ),
        "q98_cube_metrics": _ol.grouping_set_metrics_sql(
            "lineitem",
            ["l_returnflag", "l_linestatus"],
            "l_extendedprice",
            mode="cube",
        ),
        "q99_windowed_share": _ol.windowed_share_sql("events"),
        "r01_topk_per_group": _ol.topk_per_group_sql(
            "orders",
            ["o_custkey", "o_orderkey", "o_totalprice"],
            ["o_custkey"],
            "o_totalprice",
            "o_orderkey",
            k=3,
        ),
        # the candidate pruning is semantically invisible (per-partition
        # bottom-k unions contain the true bottom-k) — the oracle builds
        # the sketch directly from distinct hashes
        "r02_kmv_distinct": _sk.kmv_distinct_sql(
            "events", "user_id", "event_type", k=128
        ),
        "r03_kmv_overlap": _sk.kmv_jaccard_sql(
            "events", "user_id", "event_type", k=128
        ),
        "r04_canonical_keep": _d.canonical_keep_sql(threshold=0.8),
        # the range-partition/offset rank machinery is semantically
        # invisible — the oracle is plain ROW_NUMBER + COUNT(*) OVER ()
        # with the identical integer floor arithmetic
        "r05_curriculum_profile": _lay.curriculum_profile_sql(
            "documents", "n_chars", "doc_id", n_buckets=8
        ),
        "r06_holdout_split": _t.holdout_split_sql("documents"),
        "r07_scd2_intervals": _ev.scd2_intervals_sql("events"),
        "r08_table_profile": _st.table_profile_sql(
            "documents", ["doc_id", "lang", "source", "n_chars"]
        ),
        "r09_group_exact_quantiles": _st.exact_group_quantiles_scalable_sql(
            "lineitem", "l_returnflag", "l_extendedprice"
        ),
        # the base/delta split is semantically invisible (additive state
        # merges exactly) — the oracle is the full recompute over ALL rows
        "r10_ivm_merge": _ol.ivm_recompute_sql(
            "events",
            ["event_type", "strftime(ts, '%Y-%m-%d')"],
            ["event_type", "day"],
            "value",
        ),
        "r11_balanced_sample": _t.balanced_sample_sql(
            "documents", n_per_group=20
        ),
        "r12_pivot_metrics": _ol.pivot_metrics_sql(
            "(SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, value"
            " FROM events)",
            "day",
            "event_type",
            _PIVOT_TYPES,
            "value",
        ),
        "r14_length_histogram": _st.length_histogram_sql(
            "documents",
            "len(list_filter(string_split(text, ' '), w -> w != ''))",
            bin_width=16,
        ),
        "r15_winnow_pairs": _d.winnow_pairs_sql(
            "documents", k=16, w=4, min_shared=5, max_df=16
        ),
        "r16_rolling_window": _ev.rolling_metrics_sql(
            "events", window_hours=24
        ),
        "r17_source_divergence": _t.source_divergence_sql("documents"),
        "r19_image_ahash_dedup": _m.image_ahash_dedup_sql("documents"),
        "r21_join_skew_report": _st.join_skew_report_sql(
            "events", "customer", "user_id", "c_custkey",
            broadcast_rows=100_000,
        ),
        "r22_winsorize_scale": _st.winsorize_scale_sql(
            "events", "event_type", "value", "event_id"
        ),
        "r23_containment_pairs": _d.containment_pairs_sql(
            "documents", n=3, threshold=0.8
        ),
        "r24_table_diff": _ql.table_diff_sql(
            "SELECT doc_id, text, lang FROM documents WHERE doc_id % 10 != 0",
            "SELECT doc_id,"
            " CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END"
            " AS text,"
            " CASE WHEN doc_id % 13 = 0 THEN 'xx' ELSE lang END AS lang"
            " FROM documents WHERE doc_id % 11 != 0",
            ["doc_id"],
            ["text", "lang"],
        ),
        "r25_rate_anomaly": _ev.rate_anomaly_sql("events"),
        "r26_audio_fingerprint": _m.audio_fingerprint_sql("documents"),
        "r27_scene_changes": _m.scene_changes_sql("documents"),
        "r29_classification_report": _st.classification_metrics_sql(
            "(SELECT event_type, value > 50 AS label, value > 49 AS pred"
            " FROM events)",
            "event_type",
            "label",
            "pred",
        ),
        "r30_binary_auc": _st.binary_auc_sql(
            "(SELECT event_type, value > 50 AS label,"
            " value + CAST((('0x' || substr(md5(CAST(event_id AS VARCHAR)),"
            " 1, 8))::BIGINT % 41 - 20) AS DOUBLE) AS score FROM events)",
            "event_type",
            "label",
            "score",
        ),
        "r32_weighted_sample": _t.weighted_sample_k_sql(
            "documents", "source", "doc_id", "n_chars", k=5
        ),
        "r33_cms_join_size": _sk.cms_join_size_sql(
            "SELECT CAST(user_id AS VARCHAR) AS k FROM events",
            "SELECT CAST(c_custkey AS VARCHAR) AS k FROM customer",
        ),
        "r34_interval_union": _ev.interval_union_time_sql(
            "SELECT user_id, ts AS start_ts,"
            " ts + ((event_id % 73 + 1) * INTERVAL 1 MINUTE) AS end_ts"
            " FROM events",
            "user_id",
        ),
        "r35_mutual_information": _st.mutual_information_sql(
            "documents", "source", "lang"
        ),
        "r36_event_transitions": _ev.event_transitions_sql("events"),
        "r38_group_trend": _st.group_trend_sql(
            "events",
            "event_type",
            "CAST(date_trunc('day', ts) AS DATE) - DATE '1970-01-01'",
            "value",
        ),
        "r39_json_props": _ol.json_props_metrics_sql("events"),
        "r40_embedding_covariance": _s.embedding_covariance_sql(
            "embeddings"
        ),
        "r50_survival_curve": _ev.survival_curve_sql(
            """SELECT ((COALESCE(p.tp, b.tlast) - b.tc) / 60000000.0)
                        AS duration,
                      p.tp IS NOT NULL AS observed
               FROM (SELECT user_id,
                            MIN(CASE WHEN event_type = 'click'
                                THEN epoch_us(ts) END) AS tc,
                            MAX(epoch_us(ts)) AS tlast
                     FROM events GROUP BY 1) b
               LEFT JOIN (
                 SELECT e.user_id, MIN(epoch_us(e.ts)) AS tp
                 FROM events e JOIN (
                   SELECT user_id,
                          MIN(CASE WHEN event_type = 'click'
                              THEN epoch_us(ts) END) AS tc
                   FROM events GROUP BY 1) b2 USING (user_id)
                 WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= b2.tc
                 GROUP BY 1) p USING (user_id)
               WHERE b.tc IS NOT NULL"""
        ),
        "r53_ks_drift": _st.ks_test_sql(
            "events", "value", "event_type", "click", "purchase"
        ),
        "r54_chi_square": _st.chi_square_independence_sql(
            "documents", "lang", "source"
        ),
        "r55_rater_agreement": _st.cohens_kappa_sql(
            "documents",
            "n_chars >= 200",
            "len(list_filter(string_split(text, ' '), w -> w != '')) >= 35",
        ),
        "r56_psi_drift": _st.psi_report_sql("events", "value", "ts", 10),
        "r59_edit_distance_join": _d.edit_distance_join_sql(
            "documents", "text", "doc_id", prefix_chars=40, max_dist=1
        ),
        "r60_doc_perplexity": _t.doc_perplexity_sql("documents"),
        "r62_melt_profile": _ol.melt_profile_sql(
            "lineitem",
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        ),
        "r63_zonemap_prune": _lay.zonemap_prune_profile_sql(
            "orders",
            "CAST(date_trunc('day', o_orderdate) AS DATE)"
            " - DATE '1970-01-01'",
            [
                (
                    "clustered",
                    [
                        "CAST(date_trunc('day', o_orderdate) AS DATE)"
                        " - DATE '1970-01-01'",
                        "o_orderkey",
                    ],
                ),
                ("insertion", ["o_orderkey"]),
            ],
            n_blocks=64,
        ),
        "r64_hist2d": _ol.hist2d_sql(
            "events",
            "CAST(EXTRACT(hour FROM ts) AS DOUBLE)",
            "value",
            n_x=24,
            n_y=10,
        ),
        "r72_dedup_eval": _d.dedup_eval_sql("documents"),
        "r74_active_users": _ev.active_users_sql("events"),
        "r77_growth_accounting": _ol.growth_accounting_sql("orders"),
        "r80_seasonal_anomaly": _ev.seasonal_anomaly_sql("events"),
        "r81_peak_concurrency": _ev.peak_concurrency_sql(
            "SELECT epoch_us(session_start) / 1000000.0 AS s, "
            "epoch_us(session_end) / 1000000.0 AS e FROM ("
            + _ev.sessionize_sql(gap_minutes=30)
            + ")"
        ),
        "r82_cohort_ltv": _ol.cohort_ltv_sql("orders", max_age=12),
        "r83_char_entropy": _t.char_entropy_sql("documents"),
        "r84_common_prefix": _t.common_prefix_report_sql("documents"),
        "r85_novelty_curve": _t.novelty_curve_sql(
            "documents", n_buckets=20
        ),
        "r86_overdispersion": _ev.overdispersion_check_sql("events"),
        "r87_weighted_quantiles": _st.weighted_quantiles_sql(
            "documents", "source", "n_chars", "n_chars"
        ),
        "r88_day_overlap": _ev.day_overlap_sql("events"),
        "r89_corpus_card": _t.corpus_card_sql("documents"),
        "r90_embedding_health": _s.embedding_health_sql("embeddings"),
        "r91_temporal_split_audit": _ql.temporal_split_audit_sql(
            "events"
        ),
        # r92: the non-pivot (historical) compile path is semantically a
        # plain multi-column projection on a retraction-free store
        "r92_historical_multiattr": """
            SELECT c_custkey, c_name, c_acctbal, c_mktsegment
            FROM customer WHERE c_custkey < 501 ORDER BY c_custkey
        """,
        "r93_gopher_rules": _ql.gopher_rules_sql("documents"),
        "r94_script_mix": _ql.script_mix_sql("documents"),
        "r95_dedup_savings": _d.dedup_savings_sql("documents"),
        "r96_packing_waste": _t.packing_waste_sql("documents"),
        "r97_temperature_mix": _t.temperature_mix_sql("documents"),
        "r98_mad_outliers": _st.mad_outliers_sql(
            "events", "event_type", "value"
        ),
        "r99_ccnet_buckets": _ql.ccnet_buckets_sql("documents"),
        "r100_dsir_weights": _ql.dsir_weights_sql("documents"),
        "r101_semdedup": _s.semdedup_sql(k=None, iters=3, tau=0.92),
        "r102_cluster_silhouette": _s.cluster_silhouette_sql(
            k=8, iters=3
        ),
        "r103_quality_logreg": _ql.quality_logreg_sql("documents"),
        "r104_l_diversity": _ql.l_diversity_report_sql(
            """(SELECT c_nationkey, c_mktsegment,
                       CASE WHEN c_acctbal < 0 THEN 'neg'
                            WHEN c_acctbal < 5000 THEN 'mid'
                            ELSE 'high' END AS bal_bucket
                FROM customer)""",
            ["c_nationkey", "c_mktsegment"],
            "bal_bucket",
            l=3,
        ),
        "r105_bootstrap_ci": _st.bootstrap_ci_sql(
            "orders", "o_totalprice", "o_orderkey"
        ),
        "r106_target_encoding": _st.target_encoding_sql(
            "orders", "o_orderpriority", "o_totalprice", "o_custkey"
        ),
        "r107_cuped_lift": _st.cuped_lift_sql("events"),
        "r108_ab_health": _st.ab_health_sql("events"),
        "r109_ratio_metric_ci": _st.ratio_metric_ci_sql(
            "events",
            "user_id",
            "CASE WHEN event_type = 'purchase' THEN value "
            "ELSE 0.0 END",
            "1.0",
        ),
        "r110_transition_entropy": _ev.transition_entropy_sql("events"),
        "r111_heaps_fit": _t.heaps_fit_sql("documents"),
        "r112_zipf_fit": _t.zipf_fit_sql("documents"),
        "r113_language_confusion": _t.language_confusion_sql("documents"),
        "r115_blocklist_report": _ql.blocklist_report_sql("documents"),
        "r116_negative_samples": _ql.negative_samples_sql(
            "documents", k=4
        ),
        "r117_icc_design_effect": _st.icc_design_effect_sql(
            "events", "user_id", "value"
        ),
        "r118_image_stats": _m.image_stats_sql("documents"),
        "r119_exp_smoothing": _ev.exp_smoothing_sql("events"),
        "r120_readability": _ql.readability_report_sql("documents"),
        "r123_join_fanout": _ol.join_fanout_report_sql(
            "lineitem", "lineitem", "l_partkey", "l_partkey"
        ),
        "r124_entropy_rate": _t.entropy_rate_sql("documents"),
        "r125_term_burstiness": _t.term_burstiness_sql("documents"),
        "r130_bounce_report": _ev.bounce_report_sql("events"),
        "r131_gini_split": _st.gini_split_sql(
            "documents", "n_chars", "lang = 'en'"
        ),
        "r132_srm_by_segment": _st.srm_by_segment_sql(
            "events", "event_type"
        ),
        "r133_feature_ranking": _st.feature_split_ranking_sql(
            """(SELECT d.doc_id, d.lang, d.n_chars, g.stop_hits,
                       g.mean_word_len, g.dup_word_frac
                FROM documents d
                JOIN ({gr}) g ON d.doc_id = g.doc_id)""",
            ["n_chars", "stop_hits", "mean_word_len", "dup_word_frac"],
            "lang = 'en'",
        ).replace("{gr}", _ql.gopher_rules_sql("documents")),
        # TWS-backed graded twins: same oracles as their
        # applyInPandasWithState primaries (q40 / q88)
        "r134_stream_latest_tws": """
            SELECT user_id, event_id, value FROM (
                SELECT user_id, event_id, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1 ORDER BY user_id
        """,
        "r135_user_stats_tws": """
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                   MAX(value) AS max_value,
                   CAST(MAX(event_id) AS BIGINT) AS last_event_id,
                   arg_max(value, event_id) AS last_value
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        # the ACID-log store round-trips the nation table (retract +
        # re-assert included), so the visible facts are the projection
        "r136_acid_log_store": """
            SELECT n_name AS name, CAST(n_regionkey AS BIGINT) AS rk
            FROM nation ORDER BY 1
        """,
        # the q09 closure filtered to the bound start: what the
        # magic-seeded fixpoint must still answer exactly
        "r137_rule_bound_reach": """
            WITH RECURSIVE edges AS (
                SELECT n_nationkey AS src, n_nationkey + 5 AS dst FROM nation
                WHERE n_nationkey + 5 <= 24
            ), reach AS (
                SELECT src, dst FROM edges
                UNION
                SELECT e.src, r.dst FROM edges e JOIN reach r ON e.dst = r.src
            )
            SELECT dst AS "to" FROM reach WHERE src = 0 ORDER BY 1
        """,
        "r138_stream_txlog_ingest": """
            SELECT user_id, value FROM (
                SELECT user_id, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1 ORDER BY user_id
        """,
        # the bucketed path must be value-identical to PLAIN sessionize —
        # same oracle as q34 by construction
        "r139_sessionize_bucketed": _ev.sessionize_sql(gap_minutes=30),
        "r140_acid_s3_protocol": """
            SELECT r_name AS name, CAST(r_regionkey AS BIGINT) AS rk
            FROM region ORDER BY 1
        """,
        "r141_layout_eq_advisor": _lay.zonemap_eq_prune_profile_sql(
            "lineitem", "l_partkey", _R141_VALUES, _R141_LAYOUTS, n_blocks=64
        ),
        "r142_txlog_restore": """
            SELECT n_name AS name, CAST(n_nationkey AS BIGINT) AS nk
            FROM nation ORDER BY 1
        """,
        "r143_source_cap": _ql.source_cap_report_sql("documents", cap=15),
        "r144_pq_codes": _s.pq_codes_sql("embeddings", m=8, k=16, iters=2),
        "r145_pq_adc_recall": _s.pq_adc_recall_sql(
            "embeddings", m=8, k=16, iters=2, n_queries=8, topk=10
        ),
        "r146_ivf_pq_topk": _s.ivf_pq_topk_sql(
            "embeddings", n_centroids=None, nprobe=4, m=8, k=16, iters=2,
            n_queries=8, topk=10
        ),
        # route-invariant by construction: both routes share q34's oracle
        "r147_sessionize_auto": _ev.sessionize_sql(gap_minutes=30),
        "r148_ivf_pq_refine": _s.ivf_pq_refine_topk_sql(
            "embeddings", n_centroids=None, nprobe=4, m=8, k=16, iters=2,
            refine=50, n_queries=8, topk=10
        ),
        "r149_ivf_pq_trained": _s.ivf_pq_topk_sql(
            "embeddings", n_centroids=None, nprobe=4, m=8, k=16, iters=2,
            n_queries=8, topk=10, coarse="kmeans", coarse_iters=2
        ),
        "r150_ivf_pq_search": _s.ivf_pq_search_sql(
            "embeddings", n_centroids=None, nprobe=4, m=8, k=16, iters=2,
            topk=10, coarse="kmeans", coarse_iters=2, query_filter="vid < 8"
        ),
        "r151_ann_fn_bind": """
            WITH srch AS ({srch})
            SELECT s.query_id AS q, s.neighbor_id AS n, d.source AS src
            FROM srch s JOIN documents d ON d.doc_id = s.neighbor_id
            ORDER BY 1, 2
        """.replace("{srch}", _s.ivf_pq_search_sql(
            "embeddings", n_centroids=None, nprobe=4, m=8, k=16, iters=2,
            topk=5, coarse="kmeans", coarse_iters=2, query_filter="vid < 4"
        )),
        "r155_ann_literal_vector": """
            WITH srch AS ({srch})
            SELECT s.neighbor_id AS n, d.source AS src
            FROM srch s JOIN documents d ON d.doc_id = s.neighbor_id
            ORDER BY 1
        """.replace("{srch}", _s.ivf_pq_search_sql(
            "embeddings", n_centroids=None, nprobe=4, m=8, k=16, iters=2,
            topk=5, coarse="kmeans", coarse_iters=2,
            query_vector=_R155_QVEC,
        )),
        # the rule is a pure view over r151's composition: same twin
        "r156_ann_rule_view": """
            WITH srch AS ({srch})
            SELECT s.query_id AS q, s.neighbor_id AS n, d.source AS src
            FROM srch s JOIN documents d ON d.doc_id = s.neighbor_id
            ORDER BY 1, 2
        """.replace("{srch}", _s.ivf_pq_search_sql(
            "embeddings", n_centroids=None, nprobe=4, m=8, k=16, iters=2,
            topk=5, coarse="kmeans", coarse_iters=2, query_filter="vid < 4"
        )),
        "r157_ann_search_filtered": _s.ivf_pq_search_sql(
            "embeddings", n_centroids=None, nprobe=4, m=8, k=16, iters=2,
            topk=10, coarse="kmeans", coarse_iters=2,
            query_filter="vid < 8", neighbor_filter="label % 2 = 0",
        ),
        # one search at the max k, filtered rank <= q+3 per query — equal
        # to the per-combo topk search by rank-prefix consistency
        "r159_ann_var_k": """
            WITH srch AS ({srch})
            SELECT s.query_id AS q, s.query_id + 3 AS k, s.neighbor_id AS n
            FROM srch s WHERE s.rank <= s.query_id + 3
            ORDER BY 1, 3
        """.replace("{srch}", _s.ivf_pq_search_sql(
            "embeddings", n_centroids=None, nprobe=4, m=8, k=16, iters=2,
            topk=6, coarse="kmeans", coarse_iters=2, query_filter="vid < 4",
        )),
        # the compound conjunction (equality AND range) is the same
        # semi-join with both predicates in the subquery
        "r160_ann_filtered_compound": """
            WITH srch AS ({srch})
            SELECT s.query_id AS q, s.neighbor_id AS n, d.n_chars AS nc
            FROM srch s JOIN documents d ON d.doc_id = s.neighbor_id
            ORDER BY 1, 2
        """.replace("{srch}", _s.ivf_pq_search_sql(
            "embeddings", n_centroids=None, nprobe=4, m=8, k=16, iters=2,
            topk=5, coarse="kmeans", coarse_iters=2,
            query_filter="vid < 4",
            neighbor_filter=(
                "vec_id IN (SELECT doc_id FROM documents "
                "WHERE lang = 'zh' AND n_chars > 200)"
            ),
        )),
        # the pattern-pipeline allowed set is the per-query pairs join;
        # acnt pins the correlated set size (bag-witness multiplicity)
        "r161_ann_allowed_relation": """
            WITH srch AS ({srch}),
            acnt AS (
              SELECT q.vec_id AS qid, COUNT(*) AS n_allowed
              FROM embeddings q JOIN embeddings f ON f.label = q.label
              WHERE q.vec_id < 4 GROUP BY 1
            )
            SELECT s.query_id AS q, s.neighbor_id AS n,
                   CAST(g.label AS BIGINT) AS nlab, c.n_allowed
            FROM srch s
            JOIN embeddings g ON g.vec_id = s.neighbor_id
            JOIN acnt c ON c.qid = s.query_id
            ORDER BY 1, 2
        """.replace("{srch}", _s.ivf_pq_search_sql(
            "embeddings", n_centroids=None, nprobe=4, m=8, k=16, iters=2,
            topk=5, coarse="kmeans", coarse_iters=2,
            query_filter="vid < 4",
            neighbor_pairs_sql=(
                "SELECT q.vec_id AS query_id, f.vec_id AS vid "
                "FROM embeddings q JOIN embeddings f ON f.label = q.label "
                "WHERE q.vec_id < 4"
            ),
        )),
        # the Datalog-surfaced filter (fact predicate -> allowed ids) is
        # the same semi-join, spelled as a subquery over documents
        "r158_ann_datalog_filtered": """
            WITH srch AS ({srch})
            SELECT s.query_id AS q, s.neighbor_id AS n, d.lang AS lang
            FROM srch s JOIN documents d ON d.doc_id = s.neighbor_id
            ORDER BY 1, 2
        """.replace("{srch}", _s.ivf_pq_search_sql(
            "embeddings", n_centroids=None, nprobe=4, m=8, k=16, iters=2,
            topk=5, coarse="kmeans", coarse_iters=2,
            query_filter="vid < 4",
            neighbor_filter=(
                "vec_id IN (SELECT doc_id FROM documents WHERE lang = 'zh')"
            ),
        )),
        "r153_ivf_pq_refine_trained": _s.ivf_pq_refine_topk_sql(
            "embeddings", n_centroids=None, nprobe=4, m=8, k=16, iters=2,
            refine=50, n_queries=8, topk=10, coarse="kmeans", coarse_iters=2
        ),
        "r154_ivf_pq_sampled_train": _s.ivf_pq_topk_sql(
            "embeddings", n_centroids=None, nprobe=4, m=8, k=16, iters=2,
            n_queries=8, topk=10, coarse="kmeans", coarse_iters=2,
            coarse_sample_stride=4
        ),
        # route-invariant (salting invariance): the kept set is the plain
        # per-source top-15 whichever route the probe picks
        "r152_source_cap_auto": _ql.source_cap_sql(
            """(SELECT doc_id,
                       CASE WHEN doc_id % 10 < 3 THEN 'hot-domain'
                            ELSE source END AS source,
                       n_chars
                FROM documents)""",
            cap=15,
        ),
        "r129_slice_report": _ql.slice_report_sql(
            """(SELECT d.doc_id, d.lang, d.source, g.passes
                FROM documents d
                JOIN ({gr}) g ON d.doc_id = g.doc_id)""",
            ["lang", "source"],
            "passes",
        ).replace("{gr}", _ql.gopher_rules_sql("documents")),
        "r128_group_skyline": _ol.group_skyline_2d_sql(
            """(SELECT d.doc_id, d.lang, d.n_chars, g.stop_hits
                FROM documents d
                JOIN ({gr}) g ON d.doc_id = g.doc_id)""",
            "lang",
            "n_chars",
            "stop_hits",
            "doc_id",
            ["lang", "doc_id", "n_chars", "stop_hits"],
        ).replace("{gr}", _ql.gopher_rules_sql("documents")),
        "r127_threshold_tuning": _st.threshold_tuning_sql(
            """(SELECT g.stop_hits, d.lang
                FROM ({gr}) g JOIN documents d ON g.doc_id = d.doc_id)""",
            "stop_hits",
            "lang = 'en'",
        ).replace("{gr}", _ql.gopher_rules_sql("documents")),
        "r126_skyline": _ol.skyline_2d_sql(
            """(SELECT o_custkey,
                       CAST(COUNT(*) AS BIGINT) AS n_orders,
                       ROUND(CAST(CAST(SUM(CAST(o_totalprice
                             AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE), 2)
                         AS spend
                FROM orders GROUP BY 1)""",
            "n_orders",
            "spend",
            "o_custkey",
            ["o_custkey", "n_orders", "spend"],
        ),
        "r122_hits": _g.hits_sql(
            """SELECT CAST(user_id AS BIGINT) AS src,
                      CAST(tnode AS BIGINT) AS dst
               FROM (SELECT DISTINCT user_id, event_type FROM events) ue
               JOIN (SELECT event_type,
                            20000000 + ROW_NUMBER() OVER (ORDER BY event_type)
                              AS tnode
                     FROM (SELECT DISTINCT event_type FROM events)) t
                 USING (event_type)""",
            iters=5,
        ),
        "r121_degree_assortativity": _g.degree_assortativity_sql(
            """SELECT CAST(user_id AS BIGINT) AS src,
                      CAST(tnode AS BIGINT) AS dst
               FROM (SELECT DISTINCT user_id, event_type FROM events) ue
               JOIN (SELECT event_type,
                            20000000 + ROW_NUMBER() OVER (ORDER BY event_type)
                              AS tnode
                     FROM (SELECT DISTINCT event_type FROM events)) t
                 USING (event_type)"""
        ),
        "r114_stream_transitions": """
            SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM (
              SELECT event_type AS to_type,
                     LAG(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC) AS from_type
              FROM events
            ) WHERE from_type IS NOT NULL
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "r78_rfm_segments": _ol.rfm_segments_sql("orders"),
        "r79_kcore": _g.kcore_sql(
            """SELECT CAST(user_id AS BIGINT) AS src,
                      CAST(tnode AS BIGINT) AS dst
               FROM (SELECT DISTINCT user_id, event_type FROM events) ue
               JOIN (SELECT event_type,
                            20000000 + ROW_NUMBER() OVER (ORDER BY event_type)
                              AS tnode
                     FROM (SELECT DISTINCT event_type FROM events)) t
                 USING (event_type)""",
            k=3,
        ),
        "r75_new_returning": _ev.new_vs_returning_sql("events"),
        "r76_engagement_curve": _ev.engagement_curve_sql("events"),
        "r73_stream_cms": (lambda w=256, d=4: (
            "WITH entries AS ("
            + " UNION ALL ".join(
                "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, "
                f"{i} AS row, "
                "(CAST(('0x' || substr(md5(CAST("
                f"{i}"
                " AS VARCHAR) || ':' || event_type), 1, 15)) AS BIGINT) "
                f"% {w}) AS slot FROM events"
                for i in range(d)
            )
            + "), sketch AS (SELECT day, row, slot, COUNT(*) AS c "
            "FROM entries GROUP BY 1, 2, 3), "
            "keys AS (SELECT DISTINCT event_type FROM events), "
            "days AS (SELECT DISTINCT day FROM sketch), "
            "probes AS ("
            + " UNION ALL ".join(
                f"SELECT event_type, {i} AS row, "
                "(CAST(('0x' || substr(md5(CAST("
                f"{i}"
                " AS VARCHAR) || ':' || event_type), 1, 15)) AS BIGINT) "
                f"% {w}) AS slot FROM keys"
                for i in range(d)
            )
            + ") SELECT d.day, p.event_type, "
            "CAST(MIN(COALESCE(s.c, 0)) AS BIGINT) AS cms_est "
            "FROM days d CROSS JOIN probes p LEFT JOIN sketch s "
            "ON s.day = d.day AND s.row = p.row AND s.slot = p.slot "
            "GROUP BY 1, 2 ORDER BY 1, 2"
        ))(),
        "r70_ddsketch_quantiles": _sk.ddsketch_quantiles_sql(
            "events", "event_type", "value", rel_err=0.01
        ),
        "r71_lift_curve": _st.lift_curve_sql(
            "events",
            "value",
            "event_type = 'purchase'",
            "event_id",
        ),
        "r66_theil_decomposition": _st.theil_decomposition_sql(
            "documents", "source", "n_chars"
        ),
        "r67_wilson_rates": _st.wilson_rates_sql(
            "orders", "o_orderpriority", "o_orderstatus = 'F'"
        ),
        "r68_hill_tail": _st.hill_tail_sql(
            "documents", "n_chars", "doc_id", k=200
        ),
        "r69_stream_psi": _st.psi_between_windows_sql(
            """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                      LEAST(11, GREATEST(0, CAST(FLOOR(
                        (CAST(value AS DOUBLE) - 0.0) / 10.0) AS INT)))
                        AS bin,
                      COUNT(*) AS n
               FROM events GROUP BY 1, 2""",
            n_bins=12,
        ),
        "r65_stream_topk": """
            WITH counts AS (
              SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                     event_type, CAST(COUNT(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2
            )
            SELECT day, event_type, n, CAST(rk AS INT) AS rk
            FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY day
                          ORDER BY n DESC, event_type ASC) AS rk
              FROM counts
            )
            WHERE rk <= 3 ORDER BY day, rk
        """,
        "r61_distinctive_terms": _t.distinctive_terms_sql(
            "documents", top_k=5
        ),
        "r57_daily_acf": _ev.daily_acf_sql("events", "ts", 7),
        "r58_cusum_shift": _ev.cusum_shift_sql("events", "ts"),
        "r52_lorenz_points": _st.lorenz_points_sql(
            "documents", "source", "n_chars", "doc_id", n_points=10
        ),
        "r51_vocab_growth": _t.vocab_growth_sql(
            "documents", sample_every=25
        ),
        "r48_token_pmi": _t.token_pmi_sql(
            "documents", min_df=5, max_df_frac=0.9, min_pair=5, top_k=30
        ),
        "r49_session_paths": _ev.session_paths_sql("events", top_k=20),
        "r46_gini_concentration": _st.gini_coefficient_sql(
            "documents", "source", "n_chars", "doc_id"
        ),
        "r47_association_rules": _ev.association_rules_sql("events"),
        "r44_trimmed_mean": _st.trimmed_mean_sql(
            "events", "event_type", "value"
        ),
        "r45_benford_report": _ql.benford_report_sql(
            "orders", "o_totalprice"
        ),
        "r43_rank_features": _ol.rank_features_sql(
            "events", "event_type", "value", "event_id"
        ),
        "r42_k_anonymity": _ql.k_anonymity_report_sql(
            "customer", ["c_nationkey", "c_mktsegment"], k=5
        ),
        "r41_token_drift": _t.token_drift_sql(
            "SELECT text FROM documents WHERE doc_id % 2 = 0",
            "SELECT text FROM documents WHERE doc_id % 2 = 1",
            top_k=20,
        ),
        "r37_topk_others": _ol.topk_with_others_sql(
            "(SELECT n_regionkey, n_name, c_acctbal FROM customer"
            " JOIN nation ON c_nationkey = n_nationkey)",
            "n_regionkey",
            "n_name",
            "c_acctbal",
            k=3,
        ),
        "r31_calibration_curve": _st.calibration_curve_sql(
            "(SELECT event_type, value > 50 AS label,"
            " value + CAST((('0x' || substr(md5(CAST(event_id AS VARCHAR)),"
            " 1, 8))::BIGINT % 41 - 20) AS DOUBLE) AS score FROM events)",
            "event_type",
            "label",
            "score",
            n_bins=10,
        ),
        "r28_regression_metrics": _st.regression_metrics_sql(
            """(SELECT e.event_type, e.value, m.pred FROM events e JOIN (
                 SELECT event_type,
                        CAST(CAST(SUM(CAST(value AS DECIMAL(38,12)))
                             AS VARCHAR) AS DOUBLE) / COUNT(*) AS pred
                 FROM events GROUP BY 1) m USING (event_type))""",
            "event_type",
            "value",
            "pred",
        ),
        # the streaming register build equals the batch build (register
        # max is merge-commutative) — the oracle is the per-day (trailing
        # window of 1) HLL estimate computed from scratch
        "r20_stream_windowed_distinct": _sk.hll_windowed_distinct_sql(
            "(SELECT CAST(user_id AS VARCHAR) AS uid, ts FROM events)",
            "uid",
            window_days=1,
        ),
        "r18_windowed_distinct": _sk.hll_windowed_distinct_sql(
            "(SELECT CAST(user_id AS VARCHAR) AS uid, ts FROM events)",
            "uid",
            window_days=7,
        ),
        "r13_ingest_quarantine": _ingest.ingest_summary_sql(
            _ingest_fixture_path(),
            [("doc_id", "BIGINT"), ("lang", "VARCHAR"), ("score", "DOUBLE")],
            "lang",
            "score",
        ),
    }
