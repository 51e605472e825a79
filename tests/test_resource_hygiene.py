"""Operator calls must not leak CacheManager entries: iterative operators
unpersist their loop intermediates inline (try/finally) or checkpoint
them (kcore's peels); single-plan operators route persists through
`resources.tracked_persist` and callers release them with
`resources.release_persisted()` after materializing.

The assertion surface is Spark's CacheManager (DataFrame persists are
registered there and are NEVER auto-released — the leak the bench's
clearCache papered over). localCheckpoint blocks are excluded: the
ContextCleaner garbage-collects those once the frame is unreachable.
"""

from pyspark.sql import functions as F

from unifydb_spark.resources import release_persisted


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _edges(spark):
    rows = [(i, i + 1) for i in range(20)] + [(0, 2), (5, 15), (30, 31)]
    return spark.createDataFrame(rows, "src bigint, dst bigint")


def test_graph_fixpoints_self_release(spark):
    from unifydb_spark.operators.graph import (
        connected_components,
        kcore,
        shortest_paths,
        triangle_count,
    )

    spark.catalog.clearCache()
    assert _cache_empty(spark)
    connected_components(_edges(spark)).count()
    assert _cache_empty(spark), "connected_components leaked its edge cache"
    shortest_paths(_edges(spark), sources=[0]).count()
    assert _cache_empty(spark), "shortest_paths leaked its edge cache"
    assert triangle_count(_edges(spark)).collect()[0][0] >= 1
    assert _cache_empty(spark), "triangle_count leaked canon/oriented caches"
    kcore(_edges(spark), k=2).count()
    assert _cache_empty(spark), "kcore leaked its peel caches"


def test_kmeans_self_release(spark):
    from unifydb_spark.operators.similarity import kmeans_assign

    emb = spark.range(12).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 3 + 1).cast("float"),
            (F.col("id") % 5 + 1).cast("float"),
        ).alias("embedding"),
    )
    kmeans_assign(emb, k=2, iters=2).count()
    assert _cache_empty(spark), "kmeans_assign leaked exploded-matrix caches"


def test_dedup_text_release_on_demand(spark):
    from unifydb_spark.operators.dedup import minhash_lsh_pairs
    from unifydb_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(i, "the quick brown fox " * (1 + i % 3)) for i in range(10)],
        "doc_id bigint, text string",
    )
    minhash_lsh_pairs(docs).count()
    tfidf_top_terms(docs, k=3).count()
    assert not _cache_empty(spark), (
        "expected tracked caches to be live right after materialization"
    )
    released = release_persisted()
    assert released >= 2
    assert _cache_empty(spark), "release_persisted left CacheManager entries"
    # idempotent
    assert release_persisted() == 0


def test_persist_scope_isolated_from_global_release(spark):
    """The server wraps each request in persist_scope(): a global
    release_persisted() (another request finishing, bench between
    queries) must NOT evict a scope's still-in-use caches, and scope
    exit must release exactly its own."""
    from unifydb_spark.operators.dedup import minhash_lsh_pairs
    from unifydb_spark.resources import persist_scope

    docs = spark.createDataFrame(
        [(i, "the quick brown fox " * (1 + i % 3)) for i in range(10)],
        "doc_id bigint, text string",
    )
    spark.catalog.clearCache()
    with persist_scope() as scope:
        minhash_lsh_pairs(docs).count()
        assert len(scope) >= 1, "tracked_persist did not land in the scope"
        assert not _cache_empty(spark)
        # a concurrent global drain sees nothing to release
        assert release_persisted() == 0
        assert not _cache_empty(spark), "global release evicted scoped caches"
    assert _cache_empty(spark), "persist_scope exit left CacheManager entries"


def test_persist_scope_thread_isolation(spark):
    """Two handler threads: thread A's scope exit must not drop thread
    B's live caches (the pre-fix bug: one request finishing drained the
    global list under every in-flight request)."""
    import threading

    from unifydb_spark.operators.dedup import minhash_lsh_pairs
    from unifydb_spark.resources import persist_scope

    docs = spark.createDataFrame(
        [(i, "lazy dogs jump high " * (1 + i % 3)) for i in range(10)],
        "doc_id bigint, text string",
    )
    spark.catalog.clearCache()
    a_done = threading.Event()
    b_persisted = threading.Event()
    state = {}

    def thread_b():
        with persist_scope():
            minhash_lsh_pairs(docs).count()
            b_persisted.set()
            a_done.wait(timeout=60)
            # A finished and exited its scope; B's cache must survive
            state["b_cache_alive_after_a"] = not _cache_empty(spark)

    def thread_a():
        b_persisted.wait(timeout=60)
        with persist_scope():
            pass  # enters and exits a scope of its own
        a_done.set()

    tb = threading.Thread(target=thread_b)
    ta = threading.Thread(target=thread_a)
    tb.start(); ta.start()
    tb.join(timeout=120); ta.join(timeout=120)
    assert state.get("b_cache_alive_after_a") is True
    assert _cache_empty(spark), "scope exit in B left entries behind"
