"""Temporal graph analytics over the fact store's reference edges.

The reference's VAET index (src/unifydb/storage.clj:23-27) is exactly an
edge list: every fact whose value is an entity id is an edge e --attr--> v.
`ref_edges(db)` exposes that as a DataFrame — and because it is built on a
time-traveling snapshot (`db.as_of(tx)`), every algorithm here is
automatically *temporal*: run it on the graph as of any transaction.

Algorithms are driver-coordinated DataFrame fixpoints (the BSP pattern —
what GraphX/Pregel does under the hood, expressed in joins so Catalyst/AQE
plan each superstep):
 - connected_components: min-label propagation to fixpoint, one
   join+min-aggregate per superstep, localCheckpoint to truncate lineage.
 - pagerank: fixed-iteration power method; per-edge contributions are
   IEEE double ops and the per-node sum accumulates in DECIMAL(38,18), so
   ranks are exact-reproducible under any partitioning — the oracle unrolls
   the same iterations in SQL and matches bit-for-bit (to the output
   rounding).

Scale notes (100 TB): each superstep shuffles on dst — partition edges by
dst once (`repartition(dst)`) and every iteration reuses that layout; the
rank/label table is node-sized, broadcastable when nodes << edges. Skewed
hubs (celebrity nodes) are the classic hazard; AQE skew-join handles the
join side, and the min/sum aggregates are map-side combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unifydb_spark import instrument, iterate

DEC = "decimal(38,18)"


def ref_edges(db, attrs: list[str] | None = None) -> DataFrame:
    """Edge view of the fact store: (src, attr, dst, tx) for every
    reference-valued fact visible in this snapshot (the VAET index as a
    relation). Pass db.as_of(tx) for the graph as of a past transaction."""
    facts = db.visible_facts(attrs=attrs or None)
    return facts.filter(F.col("v_type") == "ref").select(
        F.col("e").alias("src"),
        F.col("a").alias("attr"),
        F.col("v_ref").alias("dst"),
        F.col("tx"),
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node out/in degree (nodes = src ∪ dst)."""
    out_d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def _nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def attach_edge_stats(edges: DataFrame, n_nodes: int, n_edges: int) -> DataFrame:
    """Attach known (n_nodes, n_edges) statistics to an edge relation so
    pagerank/connected_components pick their physical strategy with ZERO
    probe jobs — the catalog-statistics analog for ad-hoc relations
    (at 100 TB the two probe scans the strategies used to run per call
    are two extra full passes; an ingest pipeline knows these counts
    already). n_nodes must be exact where the caller uses pagerank
    (the restart term divides by it); n_edges only gates a threshold."""
    stats = {"n_nodes": int(n_nodes), "n_edges": int(n_edges)}
    edges._unifydb_edge_stats = stats  # DataFrames are immutable; tag the instance
    return edges


def _edge_stats(edges: DataFrame, nodes: DataFrame | None = None) -> tuple[int, int]:
    """(n_nodes, n_edges) for strategy selection. Resolution order:

    1. stats the caller attached via :func:`attach_edge_stats` — ZERO jobs
       (the 100 TB path: ingest already knows the counts);
    2. stats memoized on this relation instance by a previous call —
       ZERO jobs (composed pipelines run pagerank + CC + k-core over one
       edge relation; they now share one probe instead of re-scanning);
    3. a one-time probe (node count over the caller's already-checkpointed
       node frame + one edge count), memoized for the next call.

    The counters let harnesses assert the job accounting
    (tests/test_graph.py::test_edge_stats_probe_once)."""
    cached = getattr(edges, "_unifydb_edge_stats", None)
    if cached is not None:
        instrument.bump("edge_stats_cache_hits")
        return cached["n_nodes"], cached["n_edges"]
    instrument.bump("edge_stats_probe_jobs")
    n = (nodes if nodes is not None else _nodes(edges)).count()
    m = edges.count()
    edges._unifydb_edge_stats = {"n_nodes": n, "n_edges": m}
    return n, m


def _cc_superstep(
    und: DataFrame, labels: DataFrame, broadcast_labels: bool
) -> DataFrame:
    """One min-label-propagation superstep: join labels onto the (static,
    pre-partitioned) undirected edge relation, take the per-dst min
    neighbor label (map-side-combinable — on a hub-skewed graph the hot
    reducer receives per-map partials, not raw hub edges), and fold it
    into (node, old_component, component). Named so the plan-shape tests
    can audit the exact superstep connected_components runs."""
    lab = F.broadcast(labels) if broadcast_labels else labels
    prop = (
        und.join(lab, und["src"] == lab["node"])
        .groupBy(F.col("dst").alias("node"))
        .agg(F.min("component").alias("nbr_min"))
    )
    return labels.join(prop, "node", "left").select(
        "node",
        F.col("component").alias("old_component"),
        F.least(
            F.col("component"), F.coalesce("nbr_min", F.col("component"))
        ).alias("component"),
    )


def connected_components(
    edges: DataFrame, max_iter: int = 25, broadcast_labels: bool | None = None
) -> DataFrame:
    """Undirected connected components by min-label propagation WITH
    pointer jumping: component id = minimum node id in the component.
    Each superstep propagates the min neighbor label (one join + one
    min-aggregate) and then SHORTCUTS component <- label(component) (one
    node-sized self-join), so convergence is O(log diameter) supersteps
    — not O(diameter). The sf1 stress run caught plain propagation
    silently stalling at max_iter on a 1M-edge chain graph with
    diameter ~990 (user event chains grow with history length, exactly
    the 100 TB shape); with jumping the same graph converges in ~11
    supersteps, and non-convergence now raises instead of returning
    wrong labels. Returns (node, component).

    Physical strategy mirrors pagerank: with a broadcastable label table
    (<= 10M nodes) and edges >= 5x nodes, the edge relation is
    dst-partitioned once, labels broadcast into the src join, and the
    min-aggregate runs with no exchange — zero edge-sized shuffles per
    superstep. Otherwise the edges stay src-partitioned and only the
    node-sized label table exchanges per superstep (verified: the SMJ
    side over this relation plans with no Exchange, just a Sort). The
    shortcut join is node-sized on both sides."""
    labels = _nodes(edges).withColumn("component", F.col("node")).localCheckpoint()
    # attached/memoized stats make this free; first unattached call
    # probes once (node count over the checkpointed label frame +
    # edge count) and memoizes on the relation
    n, m = _edge_stats(edges, nodes=labels)
    if broadcast_labels is None:
        broadcast_labels = n <= 10_000_000 and m >= 5 * n
    # frontier-width the supersteps (the rules.py fixpoint pattern): on a
    # small graph every per-superstep shuffle input is node/edge-sized,
    # and session-width exchanges are pure scheduler overhead (measured
    # ~1s/superstep on a 477-node pair graph at 32 partitions). The row
    # bound covers EVERY shuffle input in the superstep plans (labels n,
    # prop <= n, undirected edges <= 2m), so a big graph keeps the session
    # width — and the exchange-reuse layout — untouched.
    hint = n + 2 * m
    # hash-partition the (static) edge relation on the per-superstep
    # aggregate/join key ONCE, at the superstep width so the layout is
    # reused (a width mismatch would re-exchange the edges every round)
    key = "dst" if broadcast_labels else "src"
    und = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .repartition(iterate.width(edges.sparkSession, hint), key)
        .persist()
    )
    # the edge cache feeds only the loop; the returned labels derive from a
    # checkpointed frame, so the finally-unpersist leaks nothing to callers
    try:
        supersteps = 0
        converged = False
        for _ in range(max_iter):
            # carry old + new labels in one checkpointed frame: the change
            # count is then observed on the checkpoint's own job
            merged = _cc_superstep(und, labels, broadcast_labels)
            # pointer jumping: component <- label(component). Labels are
            # node ids, so looking the label up in the same table chases
            # one link of the label chain; propagate + jump halves chain
            # length per superstep => O(log diameter) total.
            lab2 = merged.select(
                F.col("node").alias("_jn"), F.col("component").alias("_jc")
            )
            merged, changed = iterate.checkpoint(
                merged.join(
                    lab2, merged["component"] == lab2["_jn"], "left"
                )
                .select(
                    "node",
                    "old_component",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("_jc"), F.col("component")),
                    ).alias("component"),
                ),
                hint,
                metric=F.count_if(F.col("component") != F.col("old_component")),
            )
            supersteps += 1
            labels = merged.select("node", "component")
            if changed == 0:
                converged = True
                break
        instrument.note("cc_supersteps", supersteps)
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "supersteps — with pointer jumping this bounds component "
                f"diameter by 2^{max_iter}; raise max_iter"
            )
        return labels
    finally:
        und.unpersist()


def pagerank(
    edges: DataFrame, iters: int = 10, damping: float = 0.85,
    broadcast_ranks: bool | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank (no dangling-mass redistribution — the
    classic 'leaky' formulation, chosen because it is exactly expressible
    in unrolled SQL for the oracle). Contributions are double ops; per-node
    sums accumulate in DECIMAL(38,18) then cast back — reproducible under
    any partitioning. Returns (node, rank).

    Physical strategy: when the node table fits in a broadcast (<= 10M)
    AND edges meaningfully outnumber nodes (>= 5x), the edge relation is
    hash-partitioned by dst ONCE and the node-sized ranks broadcast into
    the src join — a broadcast join preserves the streamed side's
    partitioning, so the per-node sum aggregates with NO exchange at all:
    zero edge-sized shuffles per iteration (the win on web-graph-shaped
    data). When edges ~ nodes the per-iteration shuffle is already
    node-sized, so broadcasting buys nothing and costs a driver collect
    per iteration — fall back to src-partitioned edges (node-sized ranks
    exchange + an equally node-sized groupBy shuffle; A/B-measured at
    sf0.1, ratio 1: broadcast is never faster there)."""
    nodes = _nodes(edges).localCheckpoint()
    # attached/memoized stats make this free (n must then be EXACT — the
    # restart term divides by it, attach_edge_stats documents this);
    # first unattached call probes once and memoizes on the relation
    n, m = _edge_stats(edges, nodes=nodes)
    if broadcast_ranks is None:
        # broadcast requires collecting the full rank table through the
        # driver EVERY iteration; A/B at sf0.1 (166k nodes, 1.6M edges):
        # shuffle 5.5s vs broadcast 6.9s warm — with the edge relation
        # pre-partitioned, the shuffle path only exchanges the node-sized
        # ranks anyway, so broadcasting pays off only while the driver
        # round-trip is trivial (small node tables)
        broadcast_ranks = n <= 50_000 and m >= 5 * n
    # outdeg is static: join it into the edge list ONCE outside the loop
    # (otherwise every iteration repeats the same edges-outdeg join)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ej = (
        edges.select("src", "dst")
        .join(outdeg, "src")
        .repartition("dst" if broadcast_ranks else "src")
        .localCheckpoint()
    )
    restart = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint()
    for it in range(iters):
        r = F.broadcast(ranks) if broadcast_ranks else ranks
        contribs = (
            ej.join(r, ej["src"] == r["node"])
            .select(
                F.col("dst"),
                (F.col("rank") / F.col("outdeg")).cast(DEC).alias("c"),
            )
        )
        sums = contribs.groupBy(F.col("dst").alias("node")).agg(
            F.sum("c").alias("s")
        )
        ranks = nodes.join(sums, "node", "left").select(
            "node",
            (
                F.lit(restart)
                + F.lit(damping)
                * F.coalesce(F.col("s").cast("double"), F.lit(0.0))
            ).alias("rank"),
        )
        # checkpoint every other iteration (and the last): lineage depth
        # stays <= 2 while halving the materialization jobs
        if it % 2 == 1 or it == iters - 1:
            ranks = ranks.localCheckpoint()
    return ranks


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over the undirected graph, with DEGREE
    orientation: each undirected edge points from its (degree, id)-smaller
    to its (degree, id)-larger endpoint, so every node's out-degree in the
    oriented graph is O(sqrt(edges)) and the two-hop join never explodes
    on hubs (the standard power-law mitigation; count is unchanged because
    each triangle is counted exactly once under any total order).
    Returns a single row (n_triangles)."""
    canon = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") < F.col("dst"))
        .distinct()
        .persist()
    )
    deg = (
        canon.select(F.col("src").alias("node"))
        .unionByName(canon.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        canon.join(deg.select(F.col("node").alias("src"), F.col("deg").alias("dsrc")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("deg").alias("ddst")), "dst")
    )
    src_first = (F.col("dsrc") < F.col("ddst")) | (
        (F.col("dsrc") == F.col("ddst")) & (F.col("src") < F.col("dst"))
    )
    # persist: the oriented relation feeds all three join aliases below —
    # without it the degree computation and orientation joins run 3x
    oriented = with_deg.select(
        F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    ).persist()
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    e3 = oriented.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src")) & (F.col("e3.dst") == F.col("e2.dst")),
        )
    )
    # materialize the 1-row aggregate eagerly so both caches can be
    # released before returning (the caller's frame no longer needs them)
    try:
        return tri.agg(F.count(F.lit(1)).alias("n_triangles")).localCheckpoint(
            eager=True
        )
    finally:
        oriented.unpersist()
        canon.unpersist()


def shortest_paths(edges: DataFrame, sources: list[int], max_iter: int = 20) -> DataFrame:
    """Unweighted BFS distance from a source set over the undirected
    graph: (node, dist). Frontier-based — each superstep expands only the
    newly-reached frontier (the semi-naive pattern again)."""
    spark = edges.sparkSession
    und = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().repartition("src").persist()
    dist = spark.createDataFrame(
        [(int(s), 0) for s in sources], "node bigint, dist int"
    ).localCheckpoint()
    frontier = dist
    # edge cache feeds only the loop; dist is checkpointed every superstep
    try:
        d = 0  # max_iter=0: the sources alone, no superstep
        for d in range(1, max_iter + 1):
            nxt, n = iterate.checkpoint(
                und.join(frontier, und["src"] == frontier["node"])
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(dist, "node", "left_anti")
                .withColumn("dist", F.lit(d))
            )
            if n == 0:
                break
            # lazy union: every frontier is checkpointed above, so the
            # accumulated distance set is a scan of materialized blocks —
            # re-checkpointing it would rewrite all rows every superstep
            dist = dist.unionByName(nxt)
            frontier = nxt
        instrument.note("bfs_supersteps", d)
        return dist
    finally:
        und.unpersist()


def kcore(edges: DataFrame, k: int = 2, max_rounds: int = 20) -> DataFrame:
    """k-core decomposition membership: the maximal subgraph where every
    node keeps >= k neighbors INSIDE the subgraph — the standard
    "dense-community scaffold vs peripheral fringe" cut (spam rings and
    co-citation cores survive; one-off edges peel away), which raw
    degree (q79) cannot see because degree counts peripheral neighbors
    too. Peels iteratively: drop nodes with in-subgraph degree < k,
    recompute, repeat to fixpoint (bounded by `max_rounds`). Returns
    surviving (node, core_deg).

    The SQL oracle unrolls EXACTLY max_rounds peels; the DataFrame side
    stops early at the fixpoint — equal regardless, because peeling is
    idempotent at the fixpoint (extra unrolled rounds change nothing).
    That turns a data-dependent iteration into an exactly-checkable
    operator without a convergence assumption; tests assert real
    convergence margins.

    Scale: each round is one combinable degree count + two semi-joins
    hash-partitioned on the edge endpoints; the edge relation shrinks
    monotonically. Rounds needed in practice ~ graph diameter of the
    peeled fringe (single digits). Like connected_components, every peel
    is an `iterate.checkpoint` that observes its own edge count (no count
    job, no cache left behind), planned at the width of the previous
    peel's edge count, which bounds every shuffle input of the next."""
    core, prev_edges = iterate.checkpoint(
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    peels = 0
    for _ in range(int(max_rounds)):
        peels += 1
        keep = (
            core.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= int(k))
            .select(F.col("src").alias("node"))
        )
        core, n_edges = iterate.checkpoint(
            core.join(
                keep.select(F.col("node").alias("src")), "src", "left_semi"
            ).join(
                keep.select(F.col("node").alias("dst")), "dst", "left_semi"
            ),
            prev_edges,
        )
        if n_edges == prev_edges:
            break
        prev_edges = n_edges
    instrument.note("kcore_peel_rounds", peels)
    return (
        core.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_deg"))
        .filter(F.col("core_deg") >= int(k))
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, public method):
    the Pearson correlation of endpoint degrees over edges — positive
    when hubs link to hubs (social cores), negative when hubs link to
    leaves (star/bipartite shapes). The one-number structural
    fingerprint monitors track next to the degree distribution.
    Input: undirected edge list (src, dst), one row per edge. Returns
    ONE row: (n_edges, mean_deg_end, r).

    Closed form over edge-endpoint degrees (each edge counted in both
    directions, the standard symmetrization): with j,k the endpoint
    degrees over directed edge copies, r = [S_jk/M - (S_j/M)^2] /
    [S_jj/M - (S_j/M)^2]. Shape: one degree groupBy, two equi-joins
    of degrees onto edges, DECIMAL(30,15) moment sums, scalar double
    arithmetic mirrored across engines. NULL when the variance is 0
    (regular graph), identical CASE both sides."""
    dec = "decimal(30,15)"
    und = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    j = (
        und.join(deg.select(F.col("node").alias("src"),
                            F.col("d").alias("dj")), "src")
        .join(deg.select(F.col("node").alias("dst"),
                         F.col("d").alias("dk")), "dst")
    )
    m = j.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum(F.col("dj").cast(dec)).cast("string").cast("double")
        .alias("sj"),
        F.sum((F.col("dj") * F.col("dk")).cast(dec))
        .cast("string").cast("double").alias("sjk"),
        F.sum((F.col("dj") * F.col("dj")).cast(dec))
        .cast("string").cast("double").alias("sjj"),
    )
    mm = F.col("m")
    mu = F.col("sj") / mm
    num = F.col("sjk") / mm - mu * mu
    den = F.col("sjj") / mm - mu * mu
    return m.select(
        (mm / F.lit(2.0)).cast("bigint").alias("n_edges"),
        F.round(mu, 6).alias("mean_deg_end"),
        F.round(
            F.when(den > F.lit(0.0), num / den), 6
        ).alias("r"),
    )


def hits_scores(edges: DataFrame, iters: int = 5) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999, public method), fixed
    iterations with max-normalization each half-step — the second
    spectral fixpoint beside PageRank (q32): on a user->item graph,
    authorities rank the items pointed at by good hubs and hubs the
    users pointing at good authorities. Returns (node, kind, score)
    with kind in ('hub', 'authority'), scores max-normalized to 1.

    Determinism: per-node sums accumulate in DECIMAL(38,18) and
    re-enter doubles through the VARCHAR round-trip; each
    normalization divides by the iteration max (a 1-row broadcast
    cross join — the q61/r17 corpus-constant shape), so every double
    op is mirrored in the unrolled SQL oracle. localCheckpoint per
    iteration keeps the lineage flat (the q32/q72 fixpoint
    contract).

    Shape per iteration: two equi-joins of node-sized score relations
    onto the (pre-checkpointed) edge list + two combinable groupBys —
    the same node-sized-exchange argument as PageRank's shuffle
    path."""
    dec = "decimal(38,18)"
    ej = edges.select("src", "dst").localCheckpoint()
    hub = (
        ej.select("src").distinct()
        .withColumn("h", F.lit(1.0))
        .localCheckpoint()
    )
    auth = None
    for _ in range(int(iters)):
        a0 = (
            ej.join(hub, "src")
            .groupBy("dst")
            .agg(
                F.sum(F.col("h").cast(dec))
                .cast("string").cast("double").alias("a")
            )
        )
        amax = a0.agg(F.max("a").alias("am"))
        auth = (
            a0.crossJoin(F.broadcast(amax))
            .select("dst", (F.col("a") / F.col("am")).alias("a"))
            .localCheckpoint()
        )
        h0 = (
            ej.join(auth, "dst")
            .groupBy("src")
            .agg(
                F.sum(F.col("a").cast(dec))
                .cast("string").cast("double").alias("h")
            )
        )
        hmax = h0.agg(F.max("h").alias("hm"))
        hub = (
            h0.crossJoin(F.broadcast(hmax))
            .select("src", (F.col("h") / F.col("hm")).alias("h"))
            .localCheckpoint()
        )
    return hub.select(
        F.col("src").alias("node"),
        F.lit("hub").alias("kind"),
        F.round("h", 6).alias("score"),
    ).unionAll(
        auth.select(
            F.col("dst").alias("node"),
            F.lit("authority").alias("kind"),
            F.round("a", 6).alias("score"),
        )
    )
