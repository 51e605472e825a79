"""Graph analytics tests: temporal edge view over the fact store,
connected components and PageRank on known graphs."""

import pytest
from pyspark.sql import functions as F

from unifydb_spark import Engine, FactStore, Ref
from unifydb_spark.operators.graph import (
    connected_components,
    degrees,
    pagerank,
    ref_edges,
    shortest_paths,
    triangle_count,
)

# friendship graph over two txs: tx=1 creates 1-2, 2-3 and 10-11;
# tx=2 bridges 3-10 (merging the components)
GRAPH_FACTS = [
    (1, ":knows", Ref(2), 1, True),
    (2, ":knows", Ref(3), 1, True),
    (10, ":knows", Ref(11), 1, True),
    (3, ":knows", Ref(10), 2, True),
]


@pytest.fixture(scope="module")
def store(spark):
    return FactStore(spark).seed(GRAPH_FACTS)


def test_ref_edges_temporal(store):
    asof1 = ref_edges(store.db(1), attrs=["knows"])
    assert asof1.count() == 3
    latest = ref_edges(store.db(), attrs=["knows"])
    assert latest.count() == 4


def test_connected_components_temporal(store):
    # as of tx=1: two components {1,2,3} and {10,11}
    cc1 = {
        r["node"]: r["component"]
        for r in connected_components(ref_edges(store.db(1))).collect()
    }
    assert cc1 == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # as of latest: the bridge merges them into one
    cc2 = {
        r["node"]: r["component"]
        for r in connected_components(ref_edges(store.db())).collect()
    }
    assert set(cc2.values()) == {1}


def test_degrees(store):
    d = {r["node"]: (r["out_degree"], r["in_degree"])
         for r in degrees(ref_edges(store.db())).collect()}
    assert d[3] == (1, 1)
    assert d[1] == (1, 0)
    assert d[11] == (0, 1)


def test_pagerank_chain(spark):
    # star graph: everyone points at node 0 -> node 0 has max rank
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src bigint, dst bigint"
    )
    pr = {r["node"]: r["rank"] for r in pagerank(edges, iters=5).collect()}
    assert max(pr, key=pr.get) == 0
    # leaky formulation: total mass <= 1
    assert sum(pr.values()) <= 1.0 + 1e-9


def test_pagerank_partition_invariant(spark):
    import random

    rnd = random.Random(7)
    rows = [(rnd.randrange(50), rnd.randrange(50)) for _ in range(300)]
    edges = spark.createDataFrame(rows, "src bigint, dst bigint")
    p1 = {r["node"]: r["rank"] for r in pagerank(edges, iters=6).collect()}
    p2 = {
        r["node"]: r["rank"]
        for r in pagerank(edges.repartition(13), iters=6).collect()
    }
    assert p1 == p2  # bitwise identical under different partitioning


def test_triangle_count_hub_graph(spark):
    """Degree orientation on a star-plus-rim graph: the hub has degree n
    but oriented out-degree 0, so the two-hop join never fans out from
    it. Count stays exact: each rim edge closes one triangle with the
    hub."""
    n = 30
    star = [(0, i) for i in range(1, n + 1)]
    rim = [(i, i + 1) for i in range(1, n)]  # n-1 triangles {0,i,i+1}
    edges = spark.createDataFrame(star + rim, "src bigint, dst bigint")
    assert triangle_count(edges).collect()[0]["n_triangles"] == n - 1


def test_triangle_count_k4_and_direction_invariance(spark):
    """K4 has exactly 4 triangles; reversing raw edge direction (the
    graph is undirected) must not change the count."""
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(k4, "src bigint, dst bigint")
    assert triangle_count(edges).collect()[0]["n_triangles"] == 4
    rev = spark.createDataFrame([(b, a) for a, b in k4], "src bigint, dst bigint")
    assert triangle_count(rev).collect()[0]["n_triangles"] == 4


def test_fixpoint_broadcast_path_matches_shuffle_path(spark):
    """The broadcast physical strategy (dst-partitioned edges + broadcast
    node table, zero edge shuffles per iteration) must produce bit-equal
    results to the shuffle strategy — the DECIMAL accumulators make the
    arithmetic partitioning-independent."""
    import random

    from unifydb_spark.operators.graph import connected_components, pagerank

    rng = random.Random(7)
    edges = spark.createDataFrame(
        [(rng.randrange(40), rng.randrange(40)) for _ in range(400)],
        "src bigint, dst bigint",
    ).filter("src != dst")
    pr_b = {r["node"]: r["rank"] for r in pagerank(edges, 5, broadcast_ranks=True).collect()}
    pr_s = {r["node"]: r["rank"] for r in pagerank(edges, 5, broadcast_ranks=False).collect()}
    assert pr_b == pr_s
    cc_b = {r["node"]: r["component"]
            for r in connected_components(edges, broadcast_labels=True).collect()}
    cc_s = {r["node"]: r["component"]
            for r in connected_components(edges, broadcast_labels=False).collect()}
    assert cc_b == cc_s


def test_embedding_covariance_and_pca(spark):
    """Covariance matches numpy on small data; PCA's top component of a
    planted 1-D subspace captures ~all variance."""
    import numpy as np

    from unifydb_spark.operators.similarity import (
        embedding_covariance,
        pca_components,
    )

    rng = np.random.RandomState(9)
    # points on a line in 4-D + tiny noise
    t = rng.randn(120)
    direction = np.array([0.5, -0.5, 0.5, 0.5])
    X = np.outer(t, direction) + rng.randn(120, 4) * 0.01
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(120)],
        "vec_id bigint, embedding array<float>",
    )
    rows = embedding_covariance(emb, dims=4).collect()
    got = np.zeros((4, 4))
    for r in rows:
        got[r["i"] - 1, r["j"] - 1] = r["cov"]
        got[r["j"] - 1, r["i"] - 1] = r["cov"]
    want = np.cov(X.astype(np.float32).astype(np.float64), rowvar=False)
    assert np.abs(got - want).max() < 1e-6
    comps, ratio = pca_components(emb, dims=4, k=2)
    assert ratio[0] > 0.99             # the planted line dominates
    cosine = abs(float(comps[0] @ direction) / np.linalg.norm(direction))
    assert cosine > 0.999              # first component aligns with it


def test_kcore_hand_graph(spark):
    from unifydb_spark.operators.graph import kcore

    # triangle {1,2,3} + pendant chain 3-4-5: 2-core is exactly the
    # triangle (4 and 5 peel: 5 has degree 1, then 4 drops to 1)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["src", "dst"]
    )
    out = {r["node"]: r["core_deg"] for r in kcore(edges, k=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_cascading_peel(spark):
    from unifydb_spark import instrument
    from unifydb_spark.operators.graph import kcore

    # a path graph has an empty 2-core (peeling cascades end to end)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], ["src", "dst"]
    )
    instrument.reset()
    assert kcore(edges, k=2).count() == 0
    # both path ends peel each round: 4 shrinking peels, then one that
    # finds the edge set unchanged (scripts/scale_stress.py reads this)
    assert instrument.counters["kcore_peel_rounds"] == 5


def test_kcore_every_member_has_k_neighbors_in_core(spark):
    from unifydb_spark.operators.graph import kcore

    # two triangles joined by one bridge edge: 2-core = both triangles;
    # the bridge endpoints keep degree 3 (2 triangle + 1 bridge)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        ["src", "dst"],
    )
    rows = kcore(edges, k=2).collect()
    assert {r["node"] for r in rows} == {1, 2, 3, 4, 5, 6}
    assert all(r["core_deg"] >= 2 for r in rows)


def test_connected_components_long_chain_converges_logarithmically(spark):
    """Scale regression (sf1 stress finding): a path graph of length
    1000 has diameter 1000 — plain min-label propagation would need
    1000 supersteps and silently stall at max_iter; pointer jumping
    must converge in O(log diameter) supersteps with the correct
    single component."""
    from unifydb_spark import instrument
    from unifydb_spark.operators.graph import connected_components

    n = 1000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["src", "dst"]
    )
    instrument.reset()
    cc = connected_components(edges, max_iter=25)
    rows = cc.collect()
    assert len(rows) == n + 1
    assert {r["component"] for r in rows} == {0}
    steps = instrument.counters.get("cc_supersteps", 99)
    assert steps <= 15, f"chain of {n} took {steps} supersteps"


def test_shortest_paths_chain_and_zero_supersteps(spark):
    """BFS distances on an undirected chain 0-1-2-3 plus an unreachable
    pair 7-8; max_iter=0 runs no superstep and returns the sources at
    distance 0."""
    from unifydb_spark import instrument

    edges = spark.createDataFrame(
        [(0, 1), (2, 1), (2, 3), (7, 8)], "src bigint, dst bigint"
    )
    for max_iter, want, steps in (
        (20, {0: 0, 1: 1, 2: 2, 3: 3}, 4),
        (2, {0: 0, 1: 1, 2: 2}, 2),
        (0, {0: 0}, 0),
    ):
        instrument.reset()
        got = shortest_paths(edges, [0], max_iter=max_iter).collect()
        assert {r["node"]: r["dist"] for r in got} == want
        assert instrument.counters["bfs_supersteps"] == steps


def test_degree_assortativity_star_vs_clique(spark):
    """r121: a star is maximally disassortative (r = -1); a clique is
    regular (zero variance -> NULL r)."""
    from unifydb_spark.operators.graph import degree_assortativity

    star = [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(star, "src bigint, dst bigint")
    r = degree_assortativity(df).collect()[0].asDict()
    assert r["n_edges"] == 5 and r["r"] == -1.0

    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    df2 = spark.createDataFrame(clique, "src bigint, dst bigint")
    r2 = degree_assortativity(df2).collect()[0].asDict()
    assert r2["n_edges"] == 6 and r2["r"] is None


def test_hits_star_authority(spark):
    """r122: items pointed at by many hubs win authority; in a pure
    star (all users -> one item), that item's authority is 1 and all
    hubs tie at 1."""
    from unifydb_spark.operators.graph import hits_scores

    edges = [(u, 100) for u in range(5)] + [(0, 200)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = {(r["kind"], r["node"]): r["score"]
           for r in hits_scores(df, iters=3).collect()}
    assert out[("authority", 100)] == 1.0
    assert out[("authority", 200)] < 1.0
    assert out[("hub", 0)] == 1.0  # points at both
    for u in range(1, 5):
        assert out[("hub", u)] < 1.0


def _jobs_in_group(spark, group, fn):
    """Run fn under a job group and return how many Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_edge_stats_probe_once(spark):
    """VERDICT r8 ask #7: strategy selection runs ZERO Spark jobs with
    attached catalog stats, probes at most once per edge relation
    otherwise (memoized — composed pipelines running pagerank + CC over
    one relation share a single probe), and the probe results are exact."""
    from unifydb_spark import instrument
    from unifydb_spark.operators.graph import _edge_stats, attach_edge_stats

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "src bigint, dst bigint"
    ).localCheckpoint()  # truncate lineage so the probe job count is pure

    instrument.reset()
    assert _edge_stats(edges) == (51, 50)
    assert instrument.counters.get("edge_stats_probe_jobs") == 1
    # second call on the same relation: memoized, zero jobs
    n_jobs = _jobs_in_group(
        spark, "edge-stats-memo", lambda: _edge_stats(edges)
    )
    assert n_jobs == 0
    assert instrument.counters.get("edge_stats_cache_hits") == 1

    # attached stats: zero jobs from the very first call
    fresh = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "src bigint, dst bigint"
    )
    tagged = attach_edge_stats(fresh, n_nodes=51, n_edges=50)
    instrument.reset()
    got = {}
    n_jobs = _jobs_in_group(
        spark, "edge-stats-cached", lambda: got.update(zip("nm", _edge_stats(tagged)))
    )
    assert n_jobs == 0
    assert (got["n"], got["m"]) == (51, 50)
    assert instrument.counters.get("edge_stats_cache_hits") == 1
    assert "edge_stats_probe_jobs" not in instrument.counters


def test_pagerank_second_call_skips_probes(spark):
    """Running pagerank twice over the same edge relation probes stats
    only once — the second run's strategy selection is free."""
    from unifydb_spark import instrument

    edges = spark.createDataFrame(
        [(i, (i * 7) % 40) for i in range(200)], "src bigint, dst bigint"
    ).filter("src != dst").localCheckpoint()
    instrument.reset()
    r1 = {r["node"]: r["rank"] for r in pagerank(edges, 3).collect()}
    assert instrument.counters.get("edge_stats_probe_jobs") == 1
    r2 = {r["node"]: r["rank"] for r in pagerank(edges, 3).collect()}
    assert instrument.counters.get("edge_stats_cache_hits") == 1
    assert instrument.counters.get("edge_stats_probe_jobs") == 1
    assert r1 == r2


def test_strategy_decisions_unchanged_by_stats_rework(spark):
    """The combined/attached stats must choose the same physical strategy
    the old probe pair chose on both sides of the thresholds, and
    pagerank's restart term must stay exact (sums to ~1 pre-leak)."""
    from unifydb_spark.operators.graph import attach_edge_stats

    # dense small graph: n=11 <= 50k, m=110 >= 5n -> broadcast on both ops
    dense = spark.createDataFrame(
        [(i, j) for i in range(11) for j in range(11) if i != j],
        "src bigint, dst bigint",
    )
    # sparse chain: m = n-1 < 5n -> shuffle path
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src bigint, dst bigint"
    )
    for edges in (dense, chain):
        pr_auto = {r["node"]: r["rank"] for r in pagerank(edges, 3).collect()}
        pr_tagged = {
            r["node"]: r["rank"]
            for r in pagerank(
                attach_edge_stats(
                    edges,
                    n_nodes=len(
                        set(r.src for r in edges.collect())
                        | set(r.dst for r in edges.collect())
                    ),
                    n_edges=edges.count(),
                ),
                3,
            ).collect()
        }
        assert pr_auto == pr_tagged
        cc_auto = {
            r["node"]: r["component"] for r in connected_components(edges).collect()
        }
        cc_tagged = {
            r["node"]: r["component"]
            for r in connected_components(
                attach_edge_stats(edges, n_nodes=len(cc_auto), n_edges=edges.count())
            ).collect()
        }
        assert cc_auto == cc_tagged
