"""Executable proofs for SCALE.md's two strongest physical-layout claims.

1. IVF probes are partition-pruned / exchange-free once the assignment is
   materialized with centroid_id as the layout key (SCALE.md 'ANN' bullet:
   "bucket id is the natural partition/cluster key so each probe is
   partition-pruned").
2. Salting actually re-balances a hot join key across partitions
   (SCALE.md 'Skew-salted join': salt varies WITHIN a key), while staying
   result-identical to the plain join.

These assert on plan shape and on measured per-partition row counts, not
on wall clock — the properties that survive a 100x scale-up.
"""

import pytest
from pyspark.sql import functions as F

from unifydb_spark.operators.joins import salted_join
from unifydb_spark.operators.similarity import (
    ivf_assign,
    ivf_assign_bucketed,
    ivf_assign_partitioned,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_ivf_probe_is_partition_pruned(spark, emb, tmp_path):
    full = ivf_assign_partitioned(emb, str(tmp_path / "ivf"), n_centroids=8)
    probe = full.filter(F.col("centroid_id").isin([0, 3]))
    probe.collect()
    qe = probe._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], "probe filter did not reach partition pruning"
    # the scan's own metrics: 2 of the 8 centroid partitions were read
    scan = qe.executedPlan().collectLeaves().apply(0)
    assert scan.metrics().apply("numPartitions").value() == 2
    assert scan.metrics().apply("numFiles").value() < len(full.inputFiles())
    # pruning changed only the scan, never the result
    expect = {
        r["vec_id"]
        for r in ivf_assign(emb, n_centroids=8)
        .filter(F.col("centroid_id").isin([0, 3]))
        .collect()
    }
    assert {r["vec_id"] for r in probe.collect()} == expect


def test_ivf_bucketed_join_and_agg_no_exchange(spark, emb):
    name = "ivf_bucketed_proof"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    t = ivf_assign_bucketed(emb, name, n_centroids=8, n_buckets=4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # per-bucket candidate aggregation: no exchange before the agg
        agg_plan = _executed_plan(
            spark.table(name).groupBy("centroid_id").count()
        )
        assert "Exchange hashpartitioning" not in agg_plan
        # bucket-key self-join (the within-bucket pair generation shape
        # used by embedding near-dup): SMJ with no exchange on either side
        a = spark.table(name).select("vec_id", "centroid_id")
        b = spark.table(name).select(
            F.col("vec_id").alias("vec_id2"), "centroid_id"
        )
        join_plan = _executed_plan(a.join(b, "centroid_id"))
        assert "SortMergeJoin" in join_plan
        assert "Exchange hashpartitioning" not in join_plan
        assert t.count() == emb.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _partition_sizes(df, n, *cols):
    return (
        df.repartition(n, *[F.col(c) for c in cols])
        .rdd.mapPartitions(lambda it: [sum(1 for _ in it)])
        .collect()
    )


def test_salted_join_rebalances_hot_key(spark):
    n_salts, hot = 8, 4000
    fact = (
        spark.range(hot)
        .select(F.lit(1).alias("key"), F.col("id").alias("payload"))
        .unionAll(
            spark.range(40).select(
                (F.col("id") % 8 + 2).alias("key"), F.col("id").alias("payload")
            )
        )
    )
    dim = spark.range(10).select(
        (F.col("id") + 1).alias("key"), F.concat(F.lit("d"), F.col("id")).alias("name")
    )
    n_parts = 4 * n_salts
    # unsalted shuffle: the hot key lands whole on ONE reducer partition
    unsalted_max = max(_partition_sizes(fact, n_parts, "key"))
    assert unsalted_max >= hot
    # the salt varies WITHIN the hot key: its 4000 rows split into n_salts
    # sub-groups of ~hot/n_salts each (the unit of shuffle placement)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(n_salts))
    groups = (
        fact.withColumn("salt", salt)
        .groupBy("key", "salt")
        .count()
        .filter(F.col("key") == 1)
        .collect()
    )
    assert len(groups) == n_salts
    assert max(r["count"] for r in groups) < 2 * hot / n_salts
    # and the largest reducer partition shrinks accordingly (a few salt
    # groups may co-locate under hash placement — still >=3x better)
    salted_max = max(
        _partition_sizes(fact.withColumn("salt", salt), n_parts, "key", "salt")
    )
    assert salted_max <= unsalted_max / 3
    # and the operator's output is exactly the plain join
    got = salted_join(fact, dim, "key", n_salts=n_salts)
    plain = fact.join(dim, "key")
    assert got.count() == plain.count() == hot + 40
    assert got.exceptAll(plain).count() == 0


def test_lsh_index_ingest_no_corpus_exchange(spark):
    """The persisted corpus LSH index (bucketBy band, band_key) joins an
    ingest batch's band rows with no exchange on the corpus side — the
    daily-ingest shape from SCALE.md: O(batch) compute, corpus hashed
    once at build time."""
    from unifydb_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
        write_lsh_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 5} epsilon zeta") for i in range(40)],
        "doc_id bigint, text string",
    )
    corpus = docs.filter("doc_id % 4 != 0")
    batch = docs.filter("doc_id % 4 = 0")
    name = "lsh_index_proof"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        from unifydb_spark.operators.dedup import (
            minhash_band_rows,
            minhash_signatures,
        )

        def final_plan(df):
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            return plan.split("== Initial Plan ==")[0]

        idx = write_lsh_index(corpus, name, n_buckets=4)
        out = minhash_lsh_pairs_incremental(batch, idx)
        unbucketed = minhash_lsh_pairs_incremental(
            batch, minhash_band_rows(minhash_signatures(corpus))
        )
        b_plan, u_plan = final_plan(out), final_plan(unbucketed)
        # the bucketed corpus scan needs no shuffle before the band join
        # (and no re-hash of the corpus at all): strictly fewer exchanges
        # than the identical query over the plain recomputed frame
        assert "SelectedBucketsCount" in b_plan
        assert b_plan.count("Exchange hashpartitioning") < u_plan.count(
            "Exchange hashpartitioning"
        )
        want = {
            (r["new_doc_id"], r["corpus_doc_id"])
            for r in unbucketed.collect()
        }
        assert {
            (r["new_doc_id"], r["corpus_doc_id"]) for r in out.collect()
        } == want
        assert want  # the %5 text pattern guarantees cross-set duplicates
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {name}")


# ---------------------------------------------------------------------------
# Adversarial topology: power-law graph with a celebrity hub.
# TPC-H-derived graph fixtures are near-uniform; this exercises the skew
# claims in graph.py's module docstring (hub as dst = the classic hot
# reducer) and pins that the fixpoints (a) terminate, (b) stay correct
# against pure-Python ground truth, and (c) keep the plan shapes the
# 100 TB story depends on (map-side-combinable aggregates, no cartesian
# products, no Python row eval).


def _powerlaw_edges(n_nodes: int = 1500, n_edges: int = 9000, seed: int = 5):
    """Zipf-degree directed edges over nodes [0, n_nodes); node 0 is the
    celebrity hub (zipf rank 1, absorbs a large constant fraction of all
    dst slots). Deterministic."""
    import numpy as np

    rng = np.random.RandomState(seed)
    # zipf(a=1.6) over ranks -> clip into node range; rank 1 = node 0
    dst = np.minimum(rng.zipf(1.6, n_edges) - 1, n_nodes - 1)
    src = rng.randint(0, n_nodes, n_edges)
    keep = src != dst  # no self-loops
    return list({(int(s), int(d)) for s, d in zip(src[keep], dst[keep])})


def _py_components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in pairs:
        parent[find(s)] = find(d)
    comp = {}
    for x in list(parent):
        comp.setdefault(find(x), set()).add(x)
    return {frozenset(v) for v in comp.values()}


def _py_triangles(pairs):
    und = {tuple(sorted(p)) for p in pairs}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    count = 0
    for a, b in und:
        count += len(adj[a] & adj[b])
    return count // 3


@pytest.fixture(scope="module")
def hub_edges_pairs():
    pairs = _powerlaw_edges()
    # graph really is adversarial: the hub holds a large share of edges
    hub_deg = sum(1 for s, d in pairs if 0 in (s, d))
    assert hub_deg > len(pairs) * 0.15, "fixture lost its celebrity hub"
    # plus two satellite components for a non-trivial component structure
    pairs += [(100000 + i, 100001 + i) for i in range(20)]
    pairs += [(200000, 200001), (200001, 200002)]
    return pairs


@pytest.fixture()
def hub_edges(spark, hub_edges_pairs):
    return spark.createDataFrame(hub_edges_pairs, "src bigint, dst bigint")


def test_cc_on_powerlaw_hub_matches_union_find(spark, hub_edges, hub_edges_pairs):
    from unifydb_spark.operators.graph import connected_components

    cc = connected_components(hub_edges)
    rows = cc.collect()
    got = {}
    for r in rows:
        got.setdefault(r["component"], set()).add(r["node"])
    assert {frozenset(v) for v in got.values()} == _py_components(
        hub_edges_pairs
    )


def test_pagerank_on_powerlaw_hub(spark, hub_edges, hub_edges_pairs):
    import math

    from unifydb_spark.operators.graph import pagerank

    pr = pagerank(hub_edges, iters=6)
    rows = pr.collect()
    n_nodes = len({x for p in hub_edges_pairs for x in p})
    assert len(rows) == n_nodes
    by_rank = sorted(rows, key=lambda r: float(r["rank"]), reverse=True)
    assert by_rank[0]["node"] == 0, "celebrity hub must dominate pagerank"
    assert all(math.isfinite(float(r["rank"])) for r in rows)


def test_triangles_on_powerlaw_hub(spark, hub_edges, hub_edges_pairs):
    from unifydb_spark.operators.graph import triangle_count

    got = triangle_count(hub_edges).collect()[0][0]
    assert got == _py_triangles(hub_edges_pairs)
    assert got > 0


def test_cc_superstep_plan_bounds_on_hub(spark, hub_edges):
    """One CC superstep on the hub graph keeps the scale-critical plan
    shape: the min-label aggregate is map-side combinable (partial
    HashAggregate BEFORE the exchange, so the hot hub reducer receives
    per-map partials, not raw hub edges), and nothing degenerates into
    CartesianProduct / Python row eval. Audits the exact superstep
    function connected_components loops over (the returned labels frame
    is checkpointed, so the loop's plan isn't visible through it)."""
    from unifydb_spark.operators.graph import _cc_superstep, _nodes

    labels = hub_edges.selectExpr(
        "src as node", "src as component"
    ).unionByName(
        hub_edges.selectExpr("dst as node", "dst as component")
    ).distinct()
    und = hub_edges.select("src", "dst").unionByName(
        hub_edges.selectExpr("dst as src", "src as dst")
    ).distinct().repartition("dst")
    step = _cc_superstep(und, labels, broadcast_labels=True)
    plan = _executed_plan(step)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    low = plan.lower()
    assert "partial_min" in low, (
        "min-label propagation lost its map-side partial aggregate"
    )
    # label table rides a broadcast join: no edge-sized exchange for the
    # label join itself
    assert "BroadcastHashJoin" in plan
    # convergence on the hub fixture also holds end to end
    from unifydb_spark.operators.graph import connected_components

    assert connected_components(hub_edges).count() == _nodes(hub_edges).count()


def test_round6_window_ops_plan_shapes(spark):
    """Plan-shape proofs for the round-6 window operators: no
    single-partition exchanges, no global sorts; the rolling/sweep
    pipelines run on ONE hash exchange."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F
    from unifydb_spark.operators.events import (
        event_transitions,
        interval_union_time,
        rolling_metrics,
    )
    from unifydb_spark.operators.olap import topk_with_others

    t0 = datetime(2026, 8, 1)
    ev = spark.createDataFrame(
        [(i, i % 7, "t" + str(i % 3), t0 + timedelta(minutes=i), float(i))
         for i in range(500)],
        "event_id bigint, user_id bigint, event_type string,"
        " ts timestamp, value double",
    )

    def final_plan(df):
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString().split(
            "== Initial Plan =="
        )[0]

    p = final_plan(rolling_metrics(ev))
    assert "Exchange SinglePartition" not in p
    assert p.count("Exchange hashpartitioning") == 1  # hash(user) only

    iv = ev.select(
        "user_id", F.col("ts").alias("start_ts"),
        F.timestamp_micros(F.unix_micros("ts") + 600_000_000).alias("end_ts"),
    )
    p = final_plan(interval_union_time(iv))
    assert "Exchange SinglePartition" not in p
    assert "rangepartitioning" not in p

    p = final_plan(event_transitions(ev))
    assert "Exchange SinglePartition" not in p

    p = final_plan(topk_with_others(ev, "user_id", "event_type", "value", 2))
    assert "Exchange SinglePartition" not in p
    assert "rangepartitioning" not in p


def test_round7_ops_no_single_partition_exchanges(spark):
    """Plan-shape proofs for the round-7 operators that COULD have been
    written with a global sort and deliberately were not: exact KS
    (q91 offset cumsum), lift curve and zone-map advisor (q91
    numbering), Hill tail (TakeOrderedAndProject). The naive plan's
    smell — Exchange SinglePartition / global rangepartitioning sort of
    the data relation — must be absent."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F
    from unifydb_spark.operators.layout import zonemap_prune_profile
    from unifydb_spark.operators.stats import hill_tail, ks_test, lift_curve

    def final_plan(df):
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString().split(
            "== Initial Plan =="
        )[0]

    big = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", float(i % 997)) for i in range(4000)],
        "id bigint, g string, v double",
    )

    # KS: the distinct-value cumsum windows are partitioned by the
    # range-bucket id, never an unpartitioned window (the terminal
    # 1-row scalar fold's SinglePartition is partial-aggregated and
    # fine — the smell is an unpartitioned windowspecdefinition)
    p = final_plan(ks_test(big, "v", "g", "a", "b"))
    assert "windowspecdefinition(_pid" in p
    assert "windowspecdefinition(v" not in p

    # lift curve: decile ids come from range-partitioned numbering —
    # the row-number window is partitioned by _pid
    p = final_plan(lift_curve(big, "v", F.col("g") == "a", "id"))
    assert "windowspecdefinition(_pid" in p

    # zone-map advisor: per-layout numbering is range-partitioned
    p = final_plan(
        zonemap_prune_profile(
            big.withColumn("d", (F.col("id") * 7 % 100).cast("long")),
            "d",
            [("by_d", ["d", "id"]), ("ins", ["id"])],
            n_blocks=16,
        )
    )
    assert "windowspecdefinition(_pid" in p

    # Hill: top-k selection is per-partition top-k + driver merge
    p = final_plan(hill_tail(big, "v", "id", k=50))
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_winnow_fingerprints_single_md5_in_plan(spark):
    """r8 recompute regression guard: winnowing's k-gram md5 array must
    be materialized through a projection BEFORE the sliding-window min.
    If the unnamed hash expression leaks into the per-window lambda,
    the optimizer re-inlines it and the optimized plan carries md5
    inside the window transform too — O(n^2) md5s per document (727s of
    a 1049s sf1 bench). One md5 occurrence == one evaluation site."""
    from unifydb_spark.operators.dedup import winnow_fingerprints

    docs = spark.createDataFrame(
        [(0, "abcdefghijklmnop qrstuv")], "doc_id bigint, text string"
    )
    plan = (
        winnow_fingerprints(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("md5") == 1, f"md5 inlined {plan.count('md5')}x"


def test_doc_shingles_single_split_in_plan(spark):
    """Same guard for the shingle path: the words split+filter must
    appear once (materialized column), not once per shingle element."""
    from unifydb_spark.operators.dedup import _doc_shingles

    docs = spark.createDataFrame(
        [(0, "a b c d e f")], "doc_id bigint, text string"
    )
    plan = (
        _doc_shingles(docs, "text", 3)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(") == 1, plan


def test_ivf_pq_persisted_search_is_partition_pruned(spark, emb, tmp_path):
    """The persisted IVF-PQ index (ivf_pq_index_write / ivf_pq_search):
    a search scans ONLY the probed buckets' code partitions (plan shows
    PartitionFilters on centroid_id; scan metrics confirm the partition
    count), scores with the SAME _adc_scored kernel the oracle-graded
    r146 runs, and the persisted round-trip returns exactly the ADC
    top-k the in-memory operator ranks."""
    from unifydb_spark.operators.similarity import (
        ivf_pq_index_write,
        ivf_pq_search,
        ivf_pq_topk,
    )

    idx = ivf_pq_index_write(
        emb, str(tmp_path / "ivfpq"), n_centroids=8, m=8, k=8, iters=2
    )
    queries = emb.filter(F.col("vec_id") < 3)
    # AQE wraps every stage in AdaptiveSparkPlan, hiding the scan leaves
    # this test must inspect; partition pruning is STATIC planning, so
    # disabling AQE here changes nothing about what is being proven
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        res = ivf_pq_search(queries, idx, nprobe=2, topk=5)
        rows = res.collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    # exactly topk per query, neighbors unique per query
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rs in by_q.items():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]
        assert len({r["neighbor_id"] for r in rs}) == 5

    # partition pruning: the codes scan opened only the probed buckets
    qe = res._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    # several scans appear (centroids/codebook have no partition
    # filters); the CODES scan must carry the centroid_id filter
    segs = [s.split("]")[0] for s in plan.split("PartitionFilters")[1:]]
    assert any("centroid_id" in s for s in segs), plan
    leaves = qe.executedPlan().collectLeaves()
    n_parts, errs = None, []
    for i in range(leaves.size()):
        scan = leaves.apply(i)
        try:
            s = scan.toString()
            # the codes scan: a FileScan reading (vid, ...) partitioned
            # by centroid_id (plan strings truncate long tmp paths, so
            # match columns, not the path)
            if "FileScan" in s and "vid#" in s and "centroid_id#" in s:
                n_parts = scan.metrics().apply("numPartitions").value()
                break
        except Exception as e:  # pragma: no cover - diagnostic
            errs.append(f"leaf {i}: {e}")
    assert n_parts is not None, errs
    assert n_parts <= 6  # <= 3 queries x 2 probes < 8 buckets

    # equivalence with the in-memory graded operator: its overlap report
    # at the same parameters equals the overlap recomputed from the
    # persisted search results vs exact brute-force cosine-free dots
    mem = {
        r["query_id"]: r["n_overlap"]
        for r in ivf_pq_topk(
            emb, n_centroids=8, nprobe=2, m=8, k=8, iters=2,
            n_queries=3, topk=5,
        ).collect()
    }
    from pyspark.sql import Window
    from unifydb_spark.operators.similarity import _dot, with_norm

    v = with_norm(emb)
    q = F.broadcast(
        v.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
    )
    dots = q.crossJoin(v.select("vec_id", "embedding")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _dot(F.col("qvec"), F.col("embedding")).alias("s"),
    )
    wt = Window.partitionBy("query_id").orderBy(F.col("s").desc(), "neighbor_id")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in dots.withColumn("rn", F.row_number().over(wt))
        .filter("rn <= 5")
        .collect()
    }
    got_overlap = {
        qid: sum(1 for r in rs if (qid, r["neighbor_id"]) in exact)
        for qid, rs in by_q.items()
    }
    assert got_overlap == mem, "persisted search diverged from the graded operator"


def test_ivf_pq_search_out_of_corpus_queries(spark, emb, tmp_path):
    """The serving case: query vectors that are NOT corpus members.
    Search must probe, scan only those buckets, and return full top-k
    rankings for every query."""
    from unifydb_spark.operators.similarity import (
        ivf_pq_index_write,
        ivf_pq_search,
    )

    idx = ivf_pq_index_write(
        emb, str(tmp_path / "ivfpq_ooc"), n_centroids=8, m=8, k=8, iters=2
    )
    # perturb three corpus vectors into new ids far outside the corpus
    queries = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x.cast("double") * 1.01 + 0.001
        ).alias("embedding"),
    )
    rows = ivf_pq_search(queries, idx, nprobe=2, topk=5).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {1_000_000, 1_000_001, 1_000_002}
    for qid, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == [1, 2, 3, 4, 5]
        # a barely-perturbed query's nearest neighbor is its source
        assert min(rs, key=lambda r: r["rank"])["neighbor_id"] == qid - 1_000_000
    # a query vector shorter than the index dim is rejected, not ranked
    # over its matching dims only
    short = queries.select(
        "vec_id", F.slice("embedding", 1, idx["dim"] - 1).alias("embedding")
    )
    with pytest.raises(Exception, match="query vector has"):
        ivf_pq_search(short, idx, nprobe=2, topk=5).collect()
    # m must divide dim: 64 // 7 = 9-dim slices would make 8 subspaces
    # while the meta records m = 7
    with pytest.raises(ValueError, match="not divisible"):
        ivf_pq_index_write(
            emb, str(tmp_path / "ivfpq_bad_m"), n_centroids=8, m=7, k=8,
            iters=2,
        )


def test_local_rel_empty_and_over_threshold(spark):
    """_local_rel keeps an empty row set to at most one (empty)
    partition — createDataFrame([]) would schedule one empty task per
    core — builds a row set AT its literal-expression limit as the
    literal relation, and hands one row more to createDataFrame with
    every row intact."""
    from pyspark.sql import types as T

    from unifydb_spark.operators.similarity import (
        _LOCAL_REL_MAX_ROWS,
        _local_rel,
    )

    schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("dot", T.DoubleType()),
    ])
    empty = _local_rel(spark, schema, [])
    assert empty.collect() == []
    assert empty.schema.simpleString() == schema.simpleString()
    assert empty.rdd.getNumPartitions() <= 1
    rows = [
        T.Row(query_id=i, dot=i / 3.0) for i in range(_LOCAL_REL_MAX_ROWS + 1)
    ]

    def literal(df):  # the pure-expression path explodes one array
        return "Generate" in df._jdf.queryExecution().optimizedPlan().toString()

    assert literal(_local_rel(spark, schema, rows[:-1]))
    over = _local_rel(spark, schema, rows)
    assert not literal(over)
    got = over.collect()
    assert sorted((r["query_id"], r["dot"]) for r in got) == [
        (r["query_id"], r["dot"]) for r in rows
    ]


def test_ivf_pq_index_append_grows_index_searchably(spark, emb, tmp_path):
    """Incremental index growth (ivf_pq_index_append): new vectors are
    encoded against the FROZEN centroids/codebooks (no retraining, no
    touch of existing rows) and immediately searchable — a query at an
    appended vector finds it at rank 1, and the grown index still scans
    only the probed bucket partitions."""
    from unifydb_spark.operators.similarity import (
        index_data_path,
        ivf_pq_index_append,
        ivf_pq_index_write,
        ivf_pq_search,
    )

    base = emb.filter(F.col("vec_id") < 400)
    extra = emb.filter(F.col("vec_id") >= 400)  # 100 new vectors
    idx = ivf_pq_index_write(
        base, str(tmp_path / "ivfpq_grow"), n_centroids=8, m=8, k=8, iters=2
    )
    before = spark.read.parquet(f"{index_data_path(idx)}/codes").count()
    assert ivf_pq_index_append(extra, idx) == 100
    after = spark.read.parquet(f"{index_data_path(idx)}/codes").count()
    assert after == before + 100 * idx["m"]

    # an appended vector queries the grown index and finds ITSELF in its
    # own top-5 (ADC ranks by the QUANTIZED residual, so exact-self
    # rank-1 is not guaranteed — membership is the quantized-self-recall
    # contract; on this fixed corpus 450 ranks #1 and 499 ranks #5)
    queries = emb.filter(F.col("vec_id").isin([450, 499]))
    res = ivf_pq_search(queries, idx, nprobe=2, topk=5).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {450, 499}
    for qid, rs in by_q.items():
        assert qid in {r["neighbor_id"] for r in rs}
    # and old corpus members remain searchable alongside
    res0 = ivf_pq_search(emb.filter(F.col("vec_id") == 0), idx, nprobe=2,
                         topk=5).collect()
    assert min(res0, key=lambda r: r["rank"])["neighbor_id"] == 0


def test_ivf_pq_index_append_dedup_guard_skips_existing_vids(
    spark, emb, tmp_path
):
    """ADVICE r11: re-appending vec_ids already in the index would give
    them duplicate (vid, subspace) code rows, which _adc_scored's recon
    join SUMS — silently inflating those neighbors' scores. The default
    dedup_guard anti-joins incoming vids against the codes table, so an
    overlapping batch appends only the truly-new vectors and search
    results are identical to a clean append."""
    from unifydb_spark.operators.similarity import (
        index_data_path,
        ivf_pq_index_append,
        ivf_pq_index_write,
        ivf_pq_search,
    )

    base = emb.filter(F.col("vec_id") < 400)
    idx = ivf_pq_index_write(
        base, str(tmp_path / "ivfpq_dedup"), n_centroids=8, m=8, k=8, iters=2
    )
    # batch overlaps the base corpus: 350..399 already indexed, 400..449 new
    overlap = emb.filter((F.col("vec_id") >= 350) & (F.col("vec_id") < 450))
    assert ivf_pq_index_append(overlap, idx) == 50
    codes = spark.read.parquet(f"{index_data_path(idx)}/codes")
    # every vid has exactly m code rows — no duplicates anywhere
    dup = (
        codes.groupBy("vid", "subspace").count().filter("count > 1").count()
    )
    assert dup == 0
    assert codes.select("vid").distinct().count() == 450
    # re-appending the same batch is a no-op
    assert ivf_pq_index_append(overlap, idx) == 0
    assert spark.read.parquet(f"{index_data_path(idx)}/codes").count() == 450 * idx["m"]
    # and search still ranks a base vector's own bucket sanely
    res = ivf_pq_search(
        emb.filter(F.col("vec_id") == 360), idx, nprobe=2, topk=5
    ).collect()
    assert 360 in {r["neighbor_id"] for r in res}


def test_trained_coarse_rebalances_clustered_buckets(spark):
    """VERDICT r11 ask #1, the skew half: on CLUSTERED embeddings whose
    low ids all fall inside one dominant cluster, untrained
    (lowest-id-vector) coarse centroids leave every minority cluster
    piling onto one hot bucket; the k-means-trained coarse stage
    (ivf_pq_topk coarse='kmeans', same helpers) moves the means toward
    the true clusters and the max/median bucket ratio drops. Bucket
    balance is the search-time partition-skew number, so this is the
    sessionize/source_cap skew argument applied to ANN."""
    import numpy as np

    from unifydb_spark.operators.similarity import (
        ivf_bucket_stats,
        ivf_coarse_assign,
    )
    from unifydb_spark.resources import release_persisted

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(4, 16)) * 4.0
    sizes = [560, 240, 120, 80]  # ids sorted by cluster: low ids = cluster 0
    rows, vid = [], 0
    for c, n in zip(centers, sizes):
        for _ in range(n):
            vec = (c + rng.normal(size=16) * 0.3).astype(float).tolist()
            rows.append((vid, vec))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    stats = {}
    release_persisted()
    for mode in ("lowid", "kmeans"):
        assigned = ivf_coarse_assign(emb, n_centroids=4, coarse=mode,
                                     coarse_iters=3)
        # a standalone assignment leaves nothing cached behind
        assert release_persisted() == 0
        assert assigned.count() == sum(sizes)  # every vector exactly once
        stats[mode] = ivf_bucket_stats(assigned).collect()[0].asDict()
    # untrained: all 4 centroids sit inside cluster 0, so clusters 1-3
    # (440 vectors) pile onto hot buckets; trained means separate them
    assert stats["kmeans"]["balance_ratio"] < stats["lowid"]["balance_ratio"], stats
    # trained buckets recover the true cluster sizes (within noise)
    assert stats["kmeans"]["max_size"] <= 600, stats


def test_ivf_pq_trained_index_search_matches_graded_topk(spark, emb, tmp_path):
    """The r150 production path with the TRAINED coarse stage: a
    kmeans-coarse persisted index searched via ivf_pq_search returns
    neighbors whose exact-top-k overlap equals what the graded r149
    operator (ivf_pq_topk coarse='kmeans') reports at identical knobs —
    the persisted round-trip and the inline evaluation share kernels
    AND the trained head."""
    from pyspark.sql import Window

    from unifydb_spark.operators.similarity import (
        _dot,
        ivf_pq_index_write,
        ivf_pq_search,
        ivf_pq_topk,
        with_norm,
    )

    idx = ivf_pq_index_write(
        emb, str(tmp_path / "ivfpq_km"), n_centroids=8, m=8, k=8, iters=2,
        coarse="kmeans", coarse_iters=2,
    )
    assert idx["coarse"] == "kmeans"
    queries = emb.filter(F.col("vec_id") < 3)
    rows = ivf_pq_search(queries, idx, nprobe=2, topk=5).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    mem = {
        r["query_id"]: r["n_overlap"]
        for r in ivf_pq_topk(
            emb, n_centroids=8, nprobe=2, m=8, k=8, iters=2,
            n_queries=3, topk=5, coarse="kmeans", coarse_iters=2,
        ).collect()
    }
    v = with_norm(emb)
    q = F.broadcast(
        v.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
    )
    dots = q.crossJoin(v.select("vec_id", "embedding")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _dot(F.col("qvec"), F.col("embedding")).alias("s"),
    )
    wt = Window.partitionBy("query_id").orderBy(F.col("s").desc(), "neighbor_id")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in dots.withColumn("rn", F.row_number().over(wt))
        .filter("rn <= 5")
        .collect()
    }
    got = {
        qid: sum(1 for r in rs if (qid, r["neighbor_id"]) in exact)
        for qid, rs in by_q.items()
    }
    assert got == mem, "trained persisted search diverged from graded r149"


def test_ivf_pq_index_maintain_policy_and_recall_restoration(spark, emb, tmp_path):
    """Index rebuild policy (VERDICT r11 ask #3 — the txlog maintain
    story applied to the ANN index). ivf_pq_index_append encodes against
    FROZEN codebooks, so an appended batch from a SHIFTED distribution
    (constant offset on 8 dims — a region the codebooks never saw)
    drags recall on the appended slice; ivf_pq_index_maybe_maintain
    watches the appended fraction in the meta sidecar and rebuilds at
    the threshold, restoring recall. Pins: counter bookkeeping,
    below-threshold no-op, trigger + counter reset, and that the
    rebuilt index strictly beats the frozen one on the appended slice
    (deterministic inputs -> deterministic overlap counts)."""
    from pyspark.sql import Window

    from unifydb_spark.operators.similarity import (
        _dot,
        _read_index_meta,
        ivf_pq_index_append,
        ivf_pq_index_maybe_maintain,
        ivf_pq_index_write,
        ivf_pq_search,
    )

    base = emb.filter(F.col("vec_id") < 250)
    shifted = emb.filter(
        (F.col("vec_id") >= 250) & (F.col("vec_id") < 500)
    ).withColumn(
        "embedding",
        F.transform(
            F.col("embedding"),
            lambda x, i: x + F.when(i < 8, F.lit(3.0)).otherwise(F.lit(0.0)),
        ),
    )
    corpus = base.union(shifted)
    queries = shifted.filter(F.col("vec_id") < 270)

    idx = ivf_pq_index_write(
        emb=base, path=str(tmp_path / "ivfpq_m"), n_centroids=8, m=8, k=8,
        iters=2, coarse="kmeans",
    )
    meta = _read_index_meta(idx["path"])
    assert (meta["n_base"], meta["n_appended"]) == (250, 0)
    assert ivf_pq_index_append(shifted, idx) == 250
    meta = _read_index_meta(idx["path"])
    assert (meta["n_base"], meta["n_appended"]) == (250, 250)

    # exact top-10 on the union corpus = the recall yardstick
    v = corpus.select("vec_id", "embedding")
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
    )
    dots = q.crossJoin(v).select(
        "query_id",
        F.col("vec_id").alias("nid"),
        _dot(F.col("qvec"), F.col("embedding")).alias("s"),
    )
    wt = Window.partitionBy("query_id").orderBy(F.col("s").desc(), "nid")
    exact = {
        (r["query_id"], r["nid"])
        for r in dots.withColumn("rn", F.row_number().over(wt))
        .filter("rn <= 10")
        .collect()
    }

    def overlap():
        res = ivf_pq_search(queries, idx, nprobe=2, topk=10).collect()
        return sum(
            1 for r in res if (r["query_id"], r["neighbor_id"]) in exact
        )

    frozen = overlap()
    # appended fraction is exactly 0.5: a 0.6 threshold must NOT rebuild
    rep = ivf_pq_index_maybe_maintain(corpus, idx, rebuild_threshold=0.6)
    assert rep == {
        "rebuilt": False, "appended_fraction": 0.5, "n_base": 250,
        "n_appended": 250, "threshold": 0.6,
        "index": idx,  # no rebuild -> the caller's handle is current
    }
    # ... and a 0.5 threshold must rebuild and reset the counters
    rep = ivf_pq_index_maybe_maintain(corpus, idx, rebuild_threshold=0.5)
    assert rep["rebuilt"] and rep["appended_fraction"] == 0.5
    meta = _read_index_meta(idx["path"])
    assert (meta["n_base"], meta["n_appended"]) == (500, 0)
    # round-14 epoch layout: the rebuild is a NEW epoch — rebind to the
    # report's refreshed handle (the stale one keeps the old snapshot)
    assert rep["index"]["epoch"] == idx["epoch"] + 1
    idx = rep["index"]
    rebuilt = overlap()
    assert rebuilt > frozen, (frozen, rebuilt)


def test_ivf_pq_search_filtered_respects_allowed_set(spark, emb, tmp_path):
    """Filtered ANN (round-13): ivf_pq_search(allowed=...) semi-joins
    the permitted neighbor set into the bucket-pruned candidates BEFORE
    scoring — every returned neighbor satisfies the predicate, ranks
    stay contiguous over the filtered candidates, and the unfiltered
    search is unchanged (the filter never leaks into the default path)."""
    from unifydb_spark.operators.similarity import (
        ivf_pq_index_write,
        ivf_pq_search,
    )

    idx = ivf_pq_index_write(
        emb, str(tmp_path / "idx"), n_centroids=8, m=8, k=8, iters=2,
        coarse="kmeans",
    )
    queries = emb.filter(F.col("vec_id") < 3)
    allowed = emb.filter(F.col("label") % 2 == 0)
    even = {r["vec_id"] for r in allowed.select("vec_id").collect()}

    res = ivf_pq_search(queries, idx, nprobe=2, topk=5, allowed=allowed)
    rows = res.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for _qid, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == [1, 2, 3, 4, 5]
        assert all(r["neighbor_id"] in even for r in rs)

    # the filtered result is exactly the unfiltered scoring restricted
    # to allowed candidates: every filtered neighbor must appear in the
    # unfiltered ranking no better than its filtered rank
    full = ivf_pq_search(queries, idx, nprobe=2, topk=10_000).collect()
    full_rank = {(r["query_id"], r["neighbor_id"]): r["rank"] for r in full}
    for r in rows:
        assert full_rank[(r["query_id"], r["neighbor_id"])] >= r["rank"]


def test_index_rebuild_reader_isolation(spark, emb, tmp_path):
    """Round-14 (VERDICT r13 ask #6): reader semantics during an
    in-place rebuild. Each (re)build writes a NEW epoch directory
    (<path>/v<N>) and commits by atomically replacing meta.json. Pins:
    (a) a reader holding the PRE-rebuild index dict keeps a consistent
    old-epoch view (identical results before and after the rebuild —
    never a mix of old codes with new codebooks); (b) re-resolving via
    read_ivf_pq_index lands on the new epoch; (c) appending through a
    stale handle fails LOUDLY (ValueError naming both epochs) instead
    of writing into a retired directory; (d) epoch retention keeps only
    the immediately-previous directory."""
    import os

    from unifydb_spark.operators.similarity import (
        index_data_path,
        ivf_pq_index_append,
        ivf_pq_index_maintain,
        ivf_pq_index_write,
        ivf_pq_search,
        read_ivf_pq_index,
    )

    path = str(tmp_path / "ivfpq_epochs")
    base = emb.filter(F.col("vec_id") < 400)
    idx1 = ivf_pq_index_write(base, path, n_centroids=8, m=8, k=8, iters=2)
    assert idx1["epoch"] == 1 and idx1["data_path"].endswith("/v1")
    q = emb.filter(F.col("vec_id") == 7)
    before = [
        (r["rank"], r["neighbor_id"])
        for r in ivf_pq_search(q, idx1, nprobe=2, topk=5).collect()
    ]

    # rebuild over a grown corpus: new epoch, pointer swapped
    idx2 = ivf_pq_index_maintain(emb, idx1)
    assert idx2["epoch"] == 2 and idx2["data_path"].endswith("/v2")
    assert read_ivf_pq_index(path)["data_path"] == idx2["data_path"]  # (b)

    # (a) the old handle still reads its own epoch, bit-identically
    again = [
        (r["rank"], r["neighbor_id"])
        for r in ivf_pq_search(q, idx1, nprobe=2, topk=5).collect()
    ]
    assert again == before
    # and the new handle sees the grown corpus (vec_id 450 now indexed)
    grown = ivf_pq_search(
        emb.filter(F.col("vec_id") == 450), idx2, nprobe=2, topk=5
    ).collect()
    assert 450 in {r["neighbor_id"] for r in grown}

    # (c) a stale-epoch append is refused loudly
    with pytest.raises(ValueError, match="stale index handle"):
        ivf_pq_index_append(emb.filter(F.col("vec_id") >= 400), idx1)
    # ... and so is a PRE-epoch legacy handle once the meta is epoched
    # (round-15 ADVICE: a missing epoch key must not default to current
    # — it resolves to the retired flat codes directory)
    legacy = {k: v for k, v in idx2.items() if k not in ("epoch", "data_path")}
    with pytest.raises(ValueError, match="predates the epoched layout"):
        ivf_pq_index_append(emb.filter(F.col("vec_id") >= 400), legacy)

    # (d) a third build retires v1 but keeps v2 (readers that resolved
    # just before the swap)
    idx3 = ivf_pq_index_maintain(emb, idx2)
    assert idx3["epoch"] == 3
    assert not os.path.exists(os.path.join(path, "v1"))
    assert os.path.exists(os.path.join(path, "v2"))
    assert os.path.exists(os.path.join(path, "v3"))


def test_index_vacuum_retention(spark, emb, tmp_path):
    """Round-15 (VERDICT r14 ask #6): the configurable epoch-retention
    knob and the explicit vacuum verb. Pins: (a) `retain_epochs` at
    build time widens commit-time GC (3 rebuilds with retain 2 keep
    v1..v3) and is remembered through maintain rebuilds; (b)
    ivf_pq_index_vacuum below the previous epoch makes a STALE reader
    fail LOUDLY on its next scan — the retired epoch's relations
    vanish together, so it can never silently mix old codes with new
    codebooks; (c) readers inside the retention window and the current
    epoch are untouched; (d) the CLI twin (no SparkSession) returns
    the same report; (e) vacuum on a pre-epoch path refuses."""
    import os

    from unifydb_spark import cli
    from unifydb_spark.operators.similarity import (
        ivf_pq_index_maintain,
        ivf_pq_index_vacuum,
        ivf_pq_index_write,
    )

    path = str(tmp_path / "ivfpq_vac")
    base = emb.filter(F.col("vec_id") < 400)
    idx1 = ivf_pq_index_write(
        base, path, n_centroids=8, m=8, k=8, iters=2, retain_epochs=2
    )
    idx2 = ivf_pq_index_maintain(base, idx1)
    idx3 = ivf_pq_index_maintain(base, idx2)
    # (a) retain 2 survives the maintain rebuilds: all three epochs live
    assert all(
        os.path.exists(os.path.join(path, v)) for v in ("v1", "v2", "v3")
    )

    # (b)+(c) explicit vacuum to retain 1: v1 reclaimed, v2/v3 kept
    rep = ivf_pq_index_vacuum(path, retain_epochs=1)
    assert rep == {
        "epoch": 3, "retain_epochs": 1, "removed": ["v1"], "kept": ["v2", "v3"]
    }
    from unifydb_spark.operators.similarity import ivf_pq_search

    q = emb.filter(F.col("vec_id") == 7)
    with pytest.raises(Exception):  # loud path error, never silent mixing
        ivf_pq_search(q, idx1, nprobe=2, topk=3).collect()
    assert ivf_pq_search(q, idx2, nprobe=2, topk=3).count() > 0
    assert ivf_pq_search(q, idx3, nprobe=2, topk=3).count() > 0

    # (d) CLI twin — filesystem-only, retain 0 keeps just the current
    rep2 = cli.index_vacuum(path, 0)
    assert rep2["removed"] == ["v2"] and rep2["kept"] == ["v3"]
    with pytest.raises(Exception):
        ivf_pq_search(q, idx2, nprobe=2, topk=3).collect()
    assert ivf_pq_search(q, idx3, nprobe=2, topk=3).count() > 0

    # (e) pre-epoch / missing meta refuses
    with pytest.raises(FileNotFoundError):
        ivf_pq_index_vacuum(str(tmp_path / "nope"))
    with pytest.raises(ValueError):
        ivf_pq_index_vacuum(path, retain_epochs=-1)


def test_concurrent_fixpoints_shared_session(spark):
    """Round-15 (VERDICT r14 ask #4): frontier-shuffle isolation BY
    CONSTRUCTION. Two recursive fixpoints run CONCURRENTLY on ONE
    shared SparkSession (different chains, so different per-round
    frontier hints), while a third thread continuously polls the shared
    session's shuffle width. Pins: (a) both closures are exactly
    correct — no cross-talk between the two fixpoints' narrowed plans;
    (b) the SHARED session's spark.sql.shuffle.partitions is NEVER
    observed narrowed and is unchanged afterwards — the narrowing lives
    entirely in the thread-local private planning session
    (iterate.checkpoint re-binds the delta plan), so a user
    sharing one session cannot be planned at another query's frontier
    width."""
    import threading

    from unifydb_spark import Engine, FactStore
    from unifydb_spark.values import Ref

    width = spark.conf.get("spark.sql.shuffle.partitions")
    rules = [
        [("anc", "?x", "?y"), ["?x", ":parent", "?y"]],
        [("anc", "?x", "?y"), ["?x", ":parent", "?z"], ("anc", "?z", "?y")],
    ]
    # chain A: 1->2->...->9 ; chain B: 201->202->...->213
    eng_a = Engine(
        spark,
        FactStore(spark).seed(
            [(i, ":parent", Ref(i + 1), 0, True) for i in range(1, 9)]
        ),
    )
    eng_b = Engine(
        spark,
        FactStore(spark).seed(
            [(i, ":parent", Ref(i + 1), 0, True) for i in range(201, 213)]
        ),
    )

    results: dict = {}
    errors: list = []
    seen_widths: set = set()
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            seen_widths.add(spark.conf.get("spark.sql.shuffle.partitions"))

    def run(name, eng, seed):
        try:
            results[name] = sorted(
                eng.query_rows(
                    {
                        "find": ["?y"],
                        "where": [("anc", Ref(seed), "?y")],
                        "rules": rules,
                    }
                )
            )
        except Exception as e:  # surface in the main thread
            errors.append((name, e))

    poller = threading.Thread(target=poll, daemon=True)
    ta = threading.Thread(target=run, args=("a", eng_a, 1))
    tb = threading.Thread(target=run, args=("b", eng_b, 201))
    poller.start()
    ta.start(); tb.start()
    ta.join(); tb.join()
    stop.set()
    poller.join(timeout=10)

    assert not errors, errors
    assert results["a"] == [(Ref(i),) for i in range(2, 10)]
    assert results["b"] == [(Ref(i),) for i in range(202, 214)]
    assert seen_widths == {width}  # (b) never narrowed, never mutated
    assert spark.conf.get("spark.sql.shuffle.partitions") == width


@pytest.mark.parametrize("rows", [None, 10], ids=["session", "narrowed"])
def test_observed_checkpoint_counts_on_its_own_job(spark, rows):
    """iterate.checkpoint returns (frame, n) with n observed on the
    checkpoint's own job: the default metric is the row count, an
    aggregate metric (count_if) is observed as given, an empty frame
    gives 0, and the call launches exactly the jobs of a bare eager
    localCheckpoint — no count job. rows=10 takes the private-session
    path, where the observation must be attached after the re-bind or
    `Observation.get` waits forever; the calls run in a worker thread
    joined with a timeout so that fault fails here instead of hanging."""
    import threading

    from unifydb_spark import iterate

    sc = spark.sparkContext

    def frame():
        # a fresh Dataset per call: re-running one Dataset reuses its
        # already-materialized shuffle stages, which would skew job counts
        return (
            spark.range(50)
            .groupBy((F.col("id") % 7).alias("k"))
            .agg(F.max("id").alias("m"))
        )

    expect_rows = sorted(frame().collect())
    expect_big = frame().filter(F.col("m") > 45).count()
    empty = frame().filter(F.col("m") < 0)
    big = F.count_if(F.col("m") > 45)
    got: dict = {}

    def jobs(group, fn):
        """(fn(), Spark jobs it launched) under a job group."""
        group = f"{group}-{rows}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup("", "")
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    def run():
        try:
            got["bare_jobs"] = jobs(
                "bare", lambda: frame().localCheckpoint(eager=True)
            )[1]
            (got["ck"], got["n"]), got["jobs"] = jobs(
                "observed", lambda: iterate.checkpoint(frame(), rows)
            )
            got["big"] = iterate.checkpoint(frame(), rows, metric=big)[1]
            got["empty"] = iterate.checkpoint(empty, rows)[1]
            got["empty_big"] = iterate.checkpoint(empty, rows, metric=big)[1]
        except Exception as e:  # surface in the main thread
            got["error"] = e

    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    worker.join(timeout=180)
    assert not worker.is_alive(), "observed checkpoint never returned"
    assert "error" not in got, got.get("error")
    assert got["n"] == len(expect_rows) == 7
    assert sorted(got["ck"].collect()) == expect_rows
    assert got["ck"].sparkSession is spark  # re-bound to the caller
    assert got["big"] == expect_big > 0
    assert got["empty"] == 0 and got["empty_big"] == 0
    assert got["jobs"] == got["bare_jobs"] > 0
