"""DuckDB oracle twins of the operators in `unifydb_spark.operators.similarity`."""

from unifydb_spark.operators.similarity import IVF_CENTROID_DIVISOR, SEMDEDUP_K_DIVISOR


def label_centroids_sql(
    table: str = "embeddings", id_col: str = "vec_id",
    vec_col: str = "embedding", label_col: str = "label", dim: int = 64,
) -> str:
    return f"""
        WITH ex AS (
          SELECT {label_col} AS label, i - 1 AS dim,
                 CAST({vec_col}[i] AS DOUBLE) AS x
          FROM {table}, generate_series(1, {dim}) AS t(i)
        )
        SELECT label, dim,
               ROUND(CAST(CAST(SUM(CAST(x AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)
                     / COUNT(x), 8) AS mean
        FROM ex GROUP BY 1, 2 ORDER BY 1, 2
    """


def auto_k_sql(table: str, divisor: int, lo: int = 8, hi: int = 4096) -> str:
    """The same rule as a DuckDB scalar subquery, so a k=None oracle
    derives the identical k from the identical row count at ANY SF —
    the entry and its oracle can never disagree on the parameter."""
    return (
        f"(SELECT GREATEST({lo}, LEAST({hi}, COUNT(*) // {divisor})) "
        f"FROM {table})"
    )


def _kmeans_ctes(
    table: str = "embeddings", k: "int | str" = 8, iters: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int = 64,
) -> "tuple[list[str], str]":
    """The unrolled spherical-k-means CTE chain (ex / vnorm / centN /
    aN), shared by kmeans_assign_sql and the SemDeDup / silhouette
    oracles. Returns (ctes, final_assign_cte_name); the chain also
    leaves `ex`, `vnorm` and `cent{iters}` available to the caller.
    `k` may be an int or a SQL scalar expression (auto_k_sql) — it only
    ever appears as the initial-centroid bound `vid < k`."""
    ctes = [
        f"""ex AS MATERIALIZED (
          SELECT {id_col} AS vid, i - 1 AS dim, CAST({vec_col}[i] AS DOUBLE) AS x
          FROM {table}, generate_series(1, {dim}) AS t(i)
        )""",
        """vnorm AS MATERIALIZED (
          SELECT vid, CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS vn2
          FROM ex GROUP BY vid
        )""",
        f"""cent0 AS MATERIALIZED (
          SELECT vid AS cluster, dim, x AS m FROM ex WHERE vid < {k}
        )""",
    ]
    prev = "cent0"
    assign = None
    for i in range(1, iters + 1):
        ctes.append(
            f"""cnorm{i} AS MATERIALIZED (
              SELECT cluster, CAST(CAST(SUM(CAST(m * m AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS cn2
              FROM {prev} GROUP BY cluster
            )"""
        )
        ctes.append(
            f"""dots{i} AS MATERIALIZED (
              SELECT e.vid, c.cluster,
                     CAST(CAST(SUM(CAST(e.x * c.m AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS dot
              FROM ex e JOIN {prev} c ON e.dim = c.dim
              GROUP BY 1, 2
            )"""
        )
        assign = f"a{i}"
        ctes.append(
            f"""a{i} AS MATERIALIZED (
              SELECT vid, cluster FROM (
                SELECT d.vid, d.cluster,
                       ROW_NUMBER() OVER (
                         PARTITION BY d.vid
                         ORDER BY d.dot / (sqrt(v.vn2) * sqrt(n.cn2)) DESC,
                                  d.cluster) AS rn
                FROM dots{i} d JOIN cnorm{i} n ON d.cluster = n.cluster
                               JOIN vnorm v ON d.vid = v.vid
              ) WHERE rn = 1
            )"""
        )
        prev = f"cent{i}"
        ctes.append(
            f"""cent{i} AS MATERIALIZED (
              SELECT a.cluster, e.dim,
                     CAST(CAST(SUM(CAST(e.x AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)
                       / COUNT(e.x) AS m
              FROM ex e JOIN a{i} a ON e.vid = a.vid
              GROUP BY 1, 2
            )"""
        )
    return ctes, assign


def kmeans_assign_sql(
    table: str = "embeddings", k: int = 8, iters: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int = 64,
) -> str:
    ctes, assign = _kmeans_ctes(table, k, iters, id_col, vec_col, dim)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vid AS {id_col}, cluster FROM {assign} ORDER BY 1"
    )


# ---------------------------------------------------------------------------
# SQL oracle builders (DuckDB) — the same ordered double folds


def dot_sql(a_vec: str, b_vec: str, dim: int) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(generate_series(1, {dim}), "
        f"i -> CAST({a_vec}[i] AS DOUBLE) * CAST({b_vec}[i] AS DOUBLE))), "
        f"(x, y) -> x + y)"
    )


def cosine_topk_sql(
    table: str = "embeddings", id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int = 64, n_queries: int = 5, k: int = 5,
) -> str:
    n2 = dot_sql(vec_col, vec_col, dim)
    dot = dot_sql("q.qvec", f"v.{vec_col}", dim)
    return f"""
        WITH v AS (
          SELECT {id_col}, {vec_col}, {n2} AS n2 FROM {table}
        ), q AS (
          SELECT {id_col} AS query_id, {vec_col} AS qvec, n2 AS qn2
          FROM v WHERE {id_col} < {n_queries}
        ), scored AS (
          SELECT q.query_id, v.{id_col} AS neighbor_id,
                 {dot} / (sqrt(q.qn2) * sqrt(v.n2)) AS cosine
          FROM q CROSS JOIN v
        ), ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored
        )
        SELECT query_id, rank, neighbor_id, ROUND(cosine, 8) AS cosine
        FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
    """


def ivf_topk_sql(
    table: str = "embeddings", id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int = 64,
    n_centroids: int = 16, nprobe: int = 4, n_queries: int = 5, k: int = 5,
) -> str:
    n2 = dot_sql(vec_col, vec_col, dim)
    cdot = dot_sql("c.cvec", f"v.{vec_col}", dim)
    qcdot = dot_sql("c.cvec", "q.qvec", dim)
    dot = dot_sql("p.qvec", f"asn.{vec_col}", dim)
    return f"""
        WITH v AS (
          SELECT {id_col}, {vec_col}, {n2} AS n2 FROM {table}
        ), c AS (
          SELECT {id_col} AS centroid_id, {vec_col} AS cvec, n2 AS cn2
          FROM v WHERE {id_col} < {n_centroids}
        ), assigned AS (
          SELECT {id_col}, {vec_col}, n2, centroid_id FROM (
            SELECT v.{id_col}, v.{vec_col}, v.n2, c.centroid_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY v.{id_col}
                     ORDER BY {cdot} / (sqrt(c.cn2) * sqrt(v.n2)) DESC,
                              c.centroid_id) AS rn
            FROM v CROSS JOIN c
          ) WHERE rn = 1
        ), q AS (
          SELECT {id_col} AS query_id, {vec_col} AS qvec, n2 AS qn2
          FROM v WHERE {id_col} < {n_queries}
        ), probes AS (
          SELECT query_id, qvec, qn2, centroid_id FROM (
            SELECT q.query_id, q.qvec, q.qn2, c.centroid_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY q.query_id
                     ORDER BY {qcdot} / (sqrt(c.cn2) * sqrt(q.qn2)) DESC,
                              c.centroid_id) AS rn
            FROM q CROSS JOIN c
          ) WHERE rn <= {nprobe}
        ), scored AS (
          SELECT p.query_id, asn.{id_col} AS neighbor_id,
                 {dot} / (sqrt(p.qn2) * sqrt(asn.n2)) AS cosine
          FROM probes p JOIN assigned asn ON p.centroid_id = asn.centroid_id
        ), ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored
        )
        SELECT query_id, rank, neighbor_id, ROUND(cosine, 8) AS cosine
        FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
    """


def quantize_int8_sql(
    table: str = "embeddings", id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    return f"""
        WITH v AS (
          SELECT {id_col},
                 list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v
          FROM {table}
        ), m AS (
          SELECT {id_col}, v,
                 list_aggregate(list_transform(v, x -> abs(x)), 'max')
                   AS max_abs
          FROM v
        )
        SELECT {id_col},
               CASE WHEN max_abs <> 0 THEN
                 ROUND(CAST(127 AS DOUBLE) / max_abs, 6) END AS scale,
               CASE WHEN max_abs <> 0 THEN
                 array_to_string(list_transform(v, x ->
                   CAST(CAST(floor(x * (CAST(127 AS DOUBLE) / max_abs))
                        AS BIGINT) AS VARCHAR)), ',') END AS q,
               CASE WHEN max_abs <> 0 THEN
                 ROUND(list_aggregate(list_transform(v, x ->
                   abs(x - floor(x * (CAST(127 AS DOUBLE) / max_abs))
                           / (CAST(127 AS DOUBLE) / max_abs))), 'max'), 6)
               END AS max_abs_err
        FROM m ORDER BY {id_col}
    """


def ann_recall_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_queries: int = 5,
    k: int = 5,
) -> str:
    exact = cosine_topk_sql(table, id_col, vec_col, dim, n_queries, k)
    approx = ivf_topk_sql(
        table, id_col, vec_col, dim, n_centroids, nprobe, n_queries, k
    )
    return f"""
        WITH exact AS ({exact}), approx AS ({approx}),
        hits AS (
          SELECT e.query_id, COUNT(*) AS n_hits
          FROM exact e JOIN approx a
            ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
          GROUP BY 1
        ), denom AS (
          SELECT query_id, COUNT(*) AS n_exact FROM exact GROUP BY 1
        )
        SELECT d.query_id,
               CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / d.n_exact, 4)
                   AS recall
        FROM denom d LEFT JOIN hits h ON d.query_id = h.query_id
        ORDER BY d.query_id
    """


def embedding_covariance_sql(
    table: str = "embeddings", vec_col: str = "embedding", dims: int = 64
) -> str:
    d = int(dims)
    return f"""
        WITH pairs AS MATERIALIZED (
          SELECT CAST(ii.i AS INT) AS i, CAST(jj.j AS INT) AS j
          FROM (SELECT unnest(range(1, {d + 1})) AS i) ii,
               (SELECT unnest(range(1, {d + 1})) AS j) jj
          WHERE ii.i <= jj.j
        ), ps AS (
          SELECT p.i, p.j,
                 CAST(CAST(SUM(CAST(
                   CAST(e.{vec_col}[p.i] AS DOUBLE)
                   * CAST(e.{vec_col}[p.j] AS DOUBLE)
                 AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxy,
                 COUNT(*) AS n
          FROM {table} e, pairs p GROUP BY 1, 2
        ), ds AS (
          SELECT CAST(dd.i AS INT) AS i,
                 CAST(CAST(SUM(CAST(CAST(e.{vec_col}[CAST(dd.i AS INT)]
                      AS DOUBLE) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                   AS sx
          FROM {table} e, (SELECT unnest(range(1, {d + 1})) AS i) dd
          GROUP BY 1
        )
        SELECT CAST(ps.i AS BIGINT) AS i, CAST(ps.j AS BIGINT) AS j,
               ROUND((sxy - (si.sx * sj.sx) / n) / (n - 1.0), 8) + 0.0
                 AS cov
        FROM ps JOIN ds si ON si.i = ps.i JOIN ds sj ON sj.i = ps.j
        ORDER BY i, j
    """


def embedding_health_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    dim: int = 64,
) -> str:
    from unifydb_spark.oracle.similarity import dot_sql

    n2 = dot_sql(vec_col, vec_col, dim)
    return f"""
        WITH base AS (
          SELECT {group_col} AS grp, {vec_col} AS v,
                 SQRT({n2}) AS nrm
          FROM {table}
        ), norms AS (
          SELECT grp, COUNT(*) AS n,
                 CAST(CAST(SUM(CAST(nrm AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) AS snorm
          FROM base GROUP BY 1
        ), dims AS (
          SELECT grp, i AS dim,
                 CAST(CAST(SUM(CAST(CAST(v[i] AS DOUBLE)
                      AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sx
          FROM base, generate_series(1, {int(dim)}) AS t(i)
          GROUP BY 1, 2
        ), mn AS (
          SELECT d.grp,
                 CAST(CAST(SUM(CAST(
                   (d.sx / CAST(n.n AS DOUBLE))
                   * (d.sx / CAST(n.n AS DOUBLE))
                 AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS mn2
          FROM dims d JOIN norms n USING (grp)
          GROUP BY 1
        )
        SELECT grp AS {group_col},
               CAST(n AS BIGINT) AS n,
               ROUND(snorm / CAST(n AS DOUBLE), 6) AS avg_norm,
               ROUND(SQRT(mn2), 6) AS mean_norm,
               ROUND(SQRT(mn2) / (snorm / CAST(n AS DOUBLE)), 6)
                 AS anisotropy
        FROM norms JOIN mn USING (grp)
        ORDER BY 1
    """


def semdedup_sql(
    table: str = "embeddings", k: "int | None" = None, iters: int = 3,
    tau: float = 0.92, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int = 64,
) -> str:
    """k=None derives k from the table's row count inside SQL via the
    same clamp rule the operator default applies (auto_k/auto_k_sql) —
    one oracle string stays exact at every SF."""
    k_expr = auto_k_sql(table, SEMDEDUP_K_DIVISOR) if k is None else k
    ctes, assign = _kmeans_ctes(table, k_expr, iters, id_col, vec_col, dim)
    ctes.append(
        f"""pairs AS MATERIALIZED (
          SELECT a1.cluster, e1.vid AS va, e2.vid AS vb,
                 CAST(CAST(SUM(CAST(e1.x * e2.x AS DECIMAL(38,18)))
                   AS VARCHAR) AS DOUBLE) AS dot
          FROM ex e1
          JOIN {assign} a1 ON e1.vid = a1.vid
          JOIN {assign} a2 ON a2.cluster = a1.cluster AND a2.vid > a1.vid
          JOIN ex e2 ON e2.vid = a2.vid AND e2.dim = e1.dim
          GROUP BY 1, 2, 3
        )"""
    )
    ctes.append(
        f"""dups AS MATERIALIZED (
          SELECT DISTINCT p.vb AS vid
          FROM pairs p
          JOIN vnorm v1 ON p.va = v1.vid
          JOIN vnorm v2 ON p.vb = v2.vid
          WHERE p.dot / (sqrt(v1.vn2) * sqrt(v2.vn2)) > {float(tau)!r}
        )"""
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT a.vid AS {id_col}, a.cluster,
               (d.vid IS NULL) AS kept
        FROM {assign} a LEFT JOIN dups d ON a.vid = d.vid
        ORDER BY 1
    """
    )


def cluster_silhouette_sql(
    table: str = "embeddings", k: int = 8, iters: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int = 64,
) -> str:
    ctes, assign = _kmeans_ctes(table, k, iters, id_col, vec_col, dim)
    ctes.append(
        f"""fcent AS (
          SELECT a.cluster AS ccl, e.dim,
                 CAST(CAST(SUM(CAST(e.x AS DECIMAL(38,18))) AS VARCHAR)
                   AS DOUBLE) / COUNT(e.x) AS m
          FROM ex e JOIN {assign} a ON e.vid = a.vid
          GROUP BY 1, 2
        )"""
    )
    ctes.append(
        """fcnorm AS (
          SELECT ccl, CAST(CAST(SUM(CAST(m * m AS DECIMAL(38,18)))
            AS VARCHAR) AS DOUBLE) AS cn2
          FROM fcent GROUP BY 1
        )"""
    )
    ctes.append(
        f"""fdots AS (
          SELECT e.vid, a.cluster, c.ccl,
                 CAST(CAST(SUM(CAST(e.x * c.m AS DECIMAL(38,18)))
                   AS VARCHAR) AS DOUBLE) AS dot
          FROM ex e JOIN {assign} a ON e.vid = a.vid
                    JOIN fcent c ON c.dim = e.dim
          GROUP BY 1, 2, 3
        )"""
    )
    ctes.append(
        """fd AS (
          SELECT d.vid, d.cluster, d.ccl,
                 1.0::DOUBLE - d.dot / (sqrt(v.vn2) * sqrt(n.cn2)) AS dist
          FROM fdots d JOIN fcnorm n ON d.ccl = n.ccl
                       JOIN vnorm v ON d.vid = v.vid
        )"""
    )
    ctes.append(
        """fab AS (
          SELECT vid, cluster,
                 MIN(CASE WHEN ccl = cluster THEN dist END) AS a,
                 MIN(CASE WHEN ccl != cluster THEN dist END) AS b
          FROM fd GROUP BY 1, 2
        )"""
    )
    return (
        "WITH " + ",\n".join(ctes)
        + """
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(CAST(CAST(SUM(CAST(
                 CASE WHEN GREATEST(a, b) <= 0.0 THEN 0.0::DOUBLE
                      ELSE (b - a) / GREATEST(a, b) END
                 AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*), 6) AS mean_silhouette
        FROM fab GROUP BY 1 ORDER BY 1
    """
    )


def pq_codes_sql(
    table: str = "embeddings",
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`pq_codes`: one k-means CTE chain per
    subspace (namespaced by nesting each chain in its own
    WITH-in-subquery), over the same 1-based inclusive list slice."""
    sub = dim // m
    arms = []
    for j in range(m):
        sliced = (
            f"(SELECT {id_col}, "
            f"{vec_col}[{j * sub + 1}:{(j + 1) * sub}] AS subv "
            f"FROM {table})"
        )
        ctes, assign = _kmeans_ctes(
            sliced, k, iters, id_col, "subv", sub
        )
        inner = "WITH " + ",\n".join(ctes) + f" SELECT vid, cluster FROM {assign}"
        arms.append(
            f"SELECT vid AS {id_col}, {j} AS subspace, "
            f"CAST(cluster AS BIGINT) AS code FROM ({inner})"
        )
    return " UNION ALL ".join(arms)


def ivf_pq_refine_topk_sql(
    table: str = "embeddings",
    n_centroids: "int | None" = None,
    nprobe: int = 4,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    refine: int = 50,
    n_queries: int = 8,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    coarse: str = "lowid",
    coarse_iters: int = 2,
) -> str:
    """DuckDB twin of :func:`ivf_pq_refine_topk` — r146's CTE chain
    (or r149's trained-coarse chain when coarse='kmeans') plus the
    shortlist + exact-re-rank levels."""
    base = ivf_pq_topk_sql(
        table, n_centroids, nprobe, m, k, iters, n_queries, topk,
        True, id_col, vec_col, dim, coarse, coarse_iters,
    )
    # splice: reuse everything up to adc_top, but rank the shortlist at
    # `refine` depth, exact-re-rank it, and emit the refine report
    head, _tail = base.split("adc_top AS MATERIALIZED", 1)
    return (
        head
        + f"""shortlist AS MATERIALIZED (
          SELECT query_id, nid FROM (
            SELECT query_id, nid,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, nid) AS rn
            FROM scored
          ) WHERE rn <= {refine}
        ),
        nref AS (
          SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_refined
          FROM shortlist GROUP BY 1
        ),
        refined AS MATERIALIZED (
          SELECT s.query_id, s.nid,
                 CAST(CAST(SUM(CAST(q.qx * e.x AS DECIMAL(38,18)))
                   AS VARCHAR) AS DOUBLE) AS score
          FROM shortlist s
          JOIN ex e ON e.vid = s.nid
          JOIN qex q ON q.query_id = s.query_id AND q.d = e.d
          GROUP BY 1, 2
        ),
        refined_top AS MATERIALIZED (
          SELECT query_id, nid FROM (
            SELECT query_id, nid,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, nid) AS rn
            FROM refined
          ) WHERE rn <= {topk}
        ),
        exact AS MATERIALIZED (
          SELECT q.query_id, e.vid AS nid,
                 CAST(CAST(SUM(CAST(q.qx * e.x AS DECIMAL(38,18)))
                   AS VARCHAR) AS DOUBLE) AS score
          FROM qex q JOIN ex e ON q.d = e.d
          GROUP BY 1, 2
        ),
        exact_top AS MATERIALIZED (
          SELECT query_id, nid FROM (
            SELECT query_id, nid,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, nid) AS rn
            FROM exact
          ) WHERE rn <= {topk}
        )
        SELECT r.query_id,
               CAST(COUNT(e.nid) AS BIGINT) AS n_overlap,
               CAST({topk} AS BIGINT) AS topk,
               ANY_VALUE(nc.n_candidates) AS n_candidates,
               ANY_VALUE(nr.n_refined) AS n_refined,
               CAST((SELECT COUNT(*) FROM {table}) AS BIGINT) AS n_total
        FROM refined_top r
        LEFT JOIN exact_top e ON r.query_id = e.query_id AND r.nid = e.nid
        JOIN ncand nc ON r.query_id = nc.query_id
        JOIN nref nr ON r.query_id = nr.query_id
        GROUP BY r.query_id
    """
    )


def _ivf_coarse_head_ctes(
    table: str,
    nc: str,
    nprobe: int,
    sub: int,
    dim: int,
    id_col: str,
    vec_col: str,
    coarse: str,
    coarse_iters: int,
    query_filter: str,
    sample_stride: int = 1,
    emit_probes: bool = True,
) -> "list[str]":
    """The coarse-quantizer head of the IVF-PQ SQL twins: CTEs ending in
    `ex` (vid, d, x, subspace, sd), `cex` (centroid_id, d, cx),
    `assigned` (vid, centroid_id) and `probes` (query_id, centroid_id).
    coarse='lowid' is the r146 baseline (q28's ordered list_reduce
    folds); coarse='kmeans' unrolls :func:`_ivf_coarse`'s training (the
    :func:`_kmeans` loop with means) — the full-dim spherical k-means
    chain (decimal folds, lowest-id init, low-id ties) followed by ONE
    consistent assignment/probe ranking against the FINAL means. `query_filter` is a SQL boolean over `vid`
    selecting the query vectors (e.g. 'vid < 8')."""
    dec = "CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)"
    ctes = [
        f"""ex AS MATERIALIZED (
          SELECT {id_col} AS vid, i - 1 AS d,
                 CAST({vec_col}[i] AS DOUBLE) AS x,
                 (i - 1) // {sub} AS subspace,
                 (i - 1) % {sub} AS sd
          FROM {table}, generate_series(1, {dim}) AS t(i)
        )""",
    ]
    if coarse == "kmeans":
        # sample_stride > 1: train on the deterministic stride sample
        # (kex), init from the first nc SAMPLE ids; the final
        # assignment/probe ranking below always runs over the FULL ex
        train = "ex" if sample_stride <= 1 else "kex"
        init_bound = nc if sample_stride <= 1 else f"({nc}) * {sample_stride}"
        if sample_stride > 1:
            ctes.append(
                f"""kex AS MATERIALIZED (
                  SELECT * FROM ex WHERE vid % {sample_stride} = 0
                )"""
            )
        ctes.append(
            f"""vnk AS MATERIALIZED (
              SELECT vid, {dec.format(expr='x * x')} AS vn2
              FROM {train} GROUP BY vid
            )"""
        )
        ctes.append(
            f"""kc0 AS MATERIALIZED (
              SELECT vid AS centroid_id, d, x AS cx FROM {train}
              WHERE vid < {init_bound}
            )"""
        )
        prev = "kc0"
        for i in range(1, coarse_iters + 1):
            ctes.append(
                f"""kcn{i} AS MATERIALIZED (
                  SELECT centroid_id, {dec.format(expr='cx * cx')} AS cn2
                  FROM {prev} GROUP BY 1
                )"""
            )
            ctes.append(
                f"""kdots{i} AS MATERIALIZED (
                  SELECT e.vid, c.centroid_id,
                         {dec.format(expr='e.x * c.cx')} AS dot
                  FROM {train} e JOIN {prev} c ON e.d = c.d
                  GROUP BY 1, 2
                )"""
            )
            ctes.append(
                f"""ka{i} AS MATERIALIZED (
                  SELECT vid, centroid_id FROM (
                    SELECT d.vid, d.centroid_id,
                           ROW_NUMBER() OVER (
                             PARTITION BY d.vid
                             ORDER BY d.dot / (sqrt(v.vn2) * sqrt(n.cn2)) DESC,
                                      d.centroid_id) AS rn
                    FROM kdots{i} d
                    JOIN kcn{i} n ON d.centroid_id = n.centroid_id
                    JOIN vnk v ON d.vid = v.vid
                  ) WHERE rn = 1
                )"""
            )
            prev = f"kc{i}"
            ctes.append(
                f"""kc{i} AS MATERIALIZED (
                  SELECT a.centroid_id, e.d,
                         {dec.format(expr='e.x')} / COUNT(e.x) AS cx
                  FROM {train} e JOIN ka{i} a ON e.vid = a.vid
                  GROUP BY 1, 2
                )"""
            )
        if sample_stride > 1:
            # full-corpus norms for the final assignment (vnk covers
            # only the training sample)
            ctes.append(
                f"""vnf AS MATERIALIZED (
                  SELECT vid, {dec.format(expr='x * x')} AS vn2
                  FROM ex GROUP BY vid
                )"""
            )
        ctes.append(
            f"""cex AS MATERIALIZED (
              SELECT centroid_id, d, cx FROM {prev}
            )"""
        )
        ctes.append(
            f"""fcn AS MATERIALIZED (
              SELECT centroid_id, {dec.format(expr='cx * cx')} AS cn2
              FROM cex GROUP BY 1
            )"""
        )
        ctes.append(
            f"""fdots AS MATERIALIZED (
              SELECT e.vid, c.centroid_id,
                     {dec.format(expr='e.x * c.cx')} AS dot
              FROM ex e JOIN cex c ON e.d = c.d
              GROUP BY 1, 2
            )"""
        )
        final_norm = "vnk" if sample_stride <= 1 else "vnf"
        ctes.append(
            f"""franked AS MATERIALIZED (
              SELECT d.vid, d.centroid_id,
                     ROW_NUMBER() OVER (
                       PARTITION BY d.vid
                       ORDER BY d.dot / (sqrt(v.vn2) * sqrt(n.cn2)) DESC,
                                d.centroid_id) AS rn
              FROM fdots d
              JOIN fcn n ON d.centroid_id = n.centroid_id
              JOIN {final_norm} v ON d.vid = v.vid
            )"""
        )
        ctes.append(
            """assigned AS MATERIALIZED (
              SELECT vid, centroid_id FROM franked WHERE rn = 1
            )"""
        )
        if emit_probes:
            ctes.append(
                f"""probes AS MATERIALIZED (
                  SELECT vid AS query_id, centroid_id
                  FROM franked WHERE ({query_filter}) AND rn <= {nprobe}
                )"""
            )
        # emit_probes=False: the caller defines `probes` itself (the
        # out-of-corpus literal query twin ranks ITS vector vs cex)
        return ctes
    n2 = dot_sql(vec_col, vec_col, dim)
    cdot = dot_sql("c.cvec", f"v.{vec_col}", dim)
    qcdot = dot_sql("c.cvec", "q.qvec", dim)
    qfilter = query_filter.replace("vid", id_col)
    ctes = [
        f"""v AS MATERIALIZED (
          SELECT {id_col}, {vec_col}, {n2} AS n2 FROM {table}
        )""",
        f"""c AS MATERIALIZED (
          SELECT {id_col} AS centroid_id, {vec_col} AS cvec, n2 AS cn2
          FROM v WHERE {id_col} < {nc}
        )""",
        f"""assigned AS MATERIALIZED (
          SELECT vid, centroid_id FROM (
            SELECT v.{id_col} AS vid, c.centroid_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY v.{id_col}
                     ORDER BY {cdot} / (sqrt(c.cn2) * sqrt(v.n2)) DESC,
                              c.centroid_id) AS rn
            FROM v CROSS JOIN c
          ) WHERE rn = 1
        )""",
        f"""q AS (
          SELECT {id_col} AS query_id, {vec_col} AS qvec, n2 AS qn2
          FROM v WHERE {qfilter}
        )""",
        f"""probes AS MATERIALIZED (
          SELECT query_id, centroid_id FROM (
            SELECT q.query_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY q.query_id
                     ORDER BY {qcdot} / (sqrt(c.cn2) * sqrt(q.qn2)) DESC,
                              c.centroid_id) AS rn
            FROM q CROSS JOIN c
          ) WHERE rn <= {nprobe}
        )""",
    ] + ctes + [
        f"""cex AS MATERIALIZED (
          SELECT vid AS centroid_id, d, x AS cx FROM ex WHERE vid < {nc}
        )""",
    ]
    return ctes


def _pq_train_ctes(
    nc: str, k: int, iters: int, residual: bool
) -> "tuple[list[str], str]":
    """The residual-PQ training chain of the IVF-PQ SQL twins (the SQL
    mirror of :func:`_ivf_pq_build`'s residual-PQ :func:`_kmeans`):
    CTEs rex -> cent0 -> per-iteration (cn2_i, dots_i, a_i, cent_i) ->
    cb, consuming the head CTEs `ex` /
    `cex` / `assigned`. Returns (ctes, final_codes_cte_name)."""
    dec = "CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)"
    rx = "e.x - ce.cx" if residual else "e.x"
    ctes = [
        f"""rex AS MATERIALIZED (
          SELECT e.vid, a.centroid_id, e.d, e.subspace, e.sd,
                 {rx} AS rx
          FROM ex e JOIN assigned a ON e.vid = a.vid
                    JOIN cex ce ON ce.centroid_id = a.centroid_id
                              AND ce.d = e.d
        )""",
        f"""cent0 AS MATERIALIZED (
          SELECT subspace, vid - {nc} AS cluster, sd, rx AS cm
          FROM rex WHERE vid >= {nc} AND vid < ({nc}) + {k}
        )""",
    ]
    prev = "cent0"
    codes = None
    for i in range(1, iters + 1):
        ctes.append(
            f"""cn2_{i} AS MATERIALIZED (
              SELECT subspace, cluster,
                     {dec.format(expr='cm * cm')} AS cn2
              FROM {prev} GROUP BY 1, 2
            )"""
        )
        ctes.append(
            f"""dots_{i} AS MATERIALIZED (
              SELECT r.vid, r.subspace, c.cluster,
                     {dec.format(expr='r.rx * c.cm')} AS dot
              FROM rex r JOIN {prev} c
                ON r.subspace = c.subspace AND r.sd = c.sd
              GROUP BY 1, 2, 3
            )"""
        )
        codes = f"a_{i}"
        ctes.append(
            f"""a_{i} AS MATERIALIZED (
              SELECT vid, subspace, cluster AS code FROM (
                SELECT d.vid, d.subspace, d.cluster,
                       ROW_NUMBER() OVER (
                         PARTITION BY d.vid, d.subspace
                         ORDER BY n.cn2 - 2.0 * d.dot ASC, d.cluster) AS rn
                FROM dots_{i} d JOIN cn2_{i} n
                  ON d.subspace = n.subspace AND d.cluster = n.cluster
              ) WHERE rn = 1
            )"""
        )
        if i < iters:
            prev = f"cent_{i}"
            ctes.append(
                f"""cent_{i} AS MATERIALIZED (
                  SELECT r.subspace, a.code AS cluster, r.sd,
                         {dec.format(expr='r.rx')} / COUNT(r.rx) AS cm
                  FROM rex r JOIN a_{i} a
                    ON r.vid = a.vid AND r.subspace = a.subspace
                  GROUP BY 1, 2, 3
                )"""
            )
    ctes.append(
        f"""cb AS MATERIALIZED (
          SELECT r.subspace, a.code, r.d,
                 {dec.format(expr='r.rx')} / COUNT(r.rx) AS mval
          FROM rex r JOIN {codes} a
            ON r.vid = a.vid AND r.subspace = a.subspace
          GROUP BY 1, 2, 3
        )"""
    )
    return ctes, codes


def ivf_pq_topk_sql(
    table: str = "embeddings",
    n_centroids: "int | None" = None,
    nprobe: int = 4,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    n_queries: int = 8,
    topk: int = 10,
    residual: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    coarse: str = "lowid",
    coarse_iters: int = 2,
    coarse_sample_stride: int = 1,
) -> str:
    """DuckDB twin of :func:`ivf_pq_topk` — the coarse/probe head CTEs
    (lowid: q28's ordered list_reduce folds; kmeans: the trained-means
    chain, optionally stride-sample-trained), then the residual k-means
    unrolled with `subspace` as a key exactly like the Spark batching,
    then the same ADC scoring with DECIMAL folds and lower-id
    tie-breaks."""
    sub = dim // m
    nc = (
        auto_k_sql(table, IVF_CENTROID_DIVISOR, lo=16)
        if n_centroids is None
        else str(int(n_centroids))
    )
    dec = "CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)"
    ctes = _ivf_coarse_head_ctes(
        table, nc, nprobe, sub, dim, id_col, vec_col,
        coarse, coarse_iters, f"vid < {n_queries}", coarse_sample_stride,
    )
    tail, codes = _pq_train_ctes(nc, k, iters, residual)
    ctes += tail
    ctes.append(
        f"""qex AS MATERIALIZED (
          SELECT vid AS query_id, d, x AS qx FROM ex WHERE vid < {n_queries}
        )"""
    )
    ctes.append(
        """cand AS MATERIALIZED (
          SELECT p.query_id, p.centroid_id, a.vid AS nid
          FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
        )"""
    )
    ctes.append(
        """ncand AS (
          SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
          FROM cand GROUP BY 1
        )"""
    )
    ctes.append(
        """recon AS MATERIALIZED (
          SELECT a.vid AS nid, cb.d, cb.mval
          FROM {codes} a JOIN cb
            ON a.subspace = cb.subspace AND a.code = cb.code
        )""".replace("{codes}", codes)
    )
    ctes.append(
        f"""rdot AS MATERIALIZED (
          SELECT cd.query_id, cd.nid, cd.centroid_id,
                 {dec.format(expr='q.qx * r.mval')} AS rdot
          FROM cand cd JOIN recon r ON cd.nid = r.nid
                       JOIN qex q ON q.query_id = cd.query_id AND q.d = r.d
          GROUP BY 1, 2, 3
        )"""
    )
    if residual:
        ctes.append(
            f"""qc AS MATERIALIZED (
              SELECT q.query_id, ce.centroid_id,
                     {dec.format(expr='q.qx * ce.cx')} AS qcdot
              FROM qex q JOIN cex ce ON q.d = ce.d
              GROUP BY 1, 2
            )"""
        )
        ctes.append(
            """scored AS (
              SELECT r.query_id, r.nid, qc.qcdot + r.rdot AS score
              FROM rdot r JOIN qc ON r.query_id = qc.query_id
                                 AND r.centroid_id = qc.centroid_id
            )"""
        )
    else:
        ctes.append(
            """scored AS (
              SELECT query_id, nid, rdot AS score FROM rdot
            )"""
        )
    ctes.append(
        f"""adc_top AS MATERIALIZED (
          SELECT query_id, nid FROM (
            SELECT query_id, nid,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, nid) AS rn
            FROM scored
          ) WHERE rn <= {topk}
        )"""
    )
    ctes.append(
        f"""exact AS MATERIALIZED (
          SELECT q.query_id, e.vid AS nid,
                 {dec.format(expr='q.qx * e.x')} AS score
          FROM qex q JOIN ex e ON q.d = e.d
          GROUP BY 1, 2
        )"""
    )
    ctes.append(
        f"""exact_top AS MATERIALIZED (
          SELECT query_id, nid FROM (
            SELECT query_id, nid,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, nid) AS rn
            FROM exact
          ) WHERE rn <= {topk}
        )"""
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT a.query_id,
               CAST(COUNT(e.nid) AS BIGINT) AS n_overlap,
               CAST({topk} AS BIGINT) AS topk,
               ANY_VALUE(nc.n_candidates) AS n_candidates,
               CAST((SELECT COUNT(*) FROM {table}) AS BIGINT) AS n_total
        FROM adc_top a
        LEFT JOIN exact_top e ON a.query_id = e.query_id AND a.nid = e.nid
        JOIN ncand nc ON a.query_id = nc.query_id
        GROUP BY a.query_id
    """
    )


def ivf_pq_search_sql(
    table: str = "embeddings",
    n_centroids: "int | None" = None,
    nprobe: int = 4,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    topk: int = 10,
    residual: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    coarse: str = "kmeans",
    coarse_iters: int = 2,
    query_filter: str = "vid < 8",
    query_vector: "list[float] | None" = None,
    neighbor_filter: "str | None" = None,
    neighbor_pairs_sql: "str | None" = None,
) -> str:
    """DuckDB twin of ivf_pq_index_write(coarse='kmeans') followed by
    :func:`ivf_pq_search` — the PRODUCTION search path graded end to end
    (VERDICT r11 ask #2: the persisted path's correctness was
    transitively argued, not gate-measured). The twin unrolls the whole
    lifecycle inline from the base table: trained coarse means, residual
    PQ codebooks, probe ranking against the FINAL means, candidates from
    the probed buckets only, ADC scoring, rank <= topk. Output
    (query_id, rank, neighbor_id) — all BIGINT, hash-exact.

    `query_vector` (round-13, VERDICT r12 ask #4): an OUT-OF-CORPUS
    literal query — `query_filter` is ignored, the literal is exploded
    as query_id 0 and its probes are ranked against the trained means
    with the same decimal-fold cosine the Spark path computes (the
    corpus-query twin reuses `franked`; a literal has no corpus rank
    row, so its ranking is spelled out here — identical arithmetic).

    `neighbor_filter` (round-13): FILTERED ANN — a SQL boolean over the
    base table's columns selecting the permitted neighbor set; the
    candidate list semi-joins it before ADC scoring, mirroring
    :func:`ivf_pq_search`'s `allowed` DataFrame.

    `neighbor_pairs_sql` (round-15): PER-QUERY allowed pairs — SQL text
    of a relation with columns (query_id, vid); the candidate list
    joins it on BOTH keys before ADC scoring, mirroring the pairs form
    of :func:`ivf_pq_search`'s `allowed`. Mutually exclusive with
    `neighbor_filter`.

    Requires coarse='kmeans': the persisted search path ranks probes
    with DECIMAL folds (it reads exploded centroids, there is no array
    to fold in order), which is the trained head's arithmetic; the
    untrained lowid head ranks with ordered array folds and would not
    be the same IEEE operation sequence."""
    if coarse != "kmeans":
        raise ValueError("ivf_pq_search_sql requires coarse='kmeans'")
    sub = dim // m
    nc = (
        auto_k_sql(table, IVF_CENTROID_DIVISOR, lo=16)
        if n_centroids is None
        else str(int(n_centroids))
    )
    dec = "CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE)"
    ctes = _ivf_coarse_head_ctes(
        table, nc, nprobe, sub, dim, id_col, vec_col,
        coarse, coarse_iters, query_filter,
        emit_probes=query_vector is None,
    )
    tail, codes = _pq_train_ctes(nc, k, iters, residual)
    ctes += tail
    if query_vector is not None:
        if len(query_vector) != dim:
            raise ValueError(
                f"query_vector has {len(query_vector)} dims; table dim {dim}"
            )
        vals = ", ".join(repr(float(x)) for x in query_vector)
        ctes.append(
            f"""qex AS MATERIALIZED (
              SELECT CAST(0 AS BIGINT) AS query_id, i - 1 AS d,
                     CAST(qv[i] AS DOUBLE) AS qx
              FROM (SELECT [{vals}] AS qv), generate_series(1, {dim}) AS t(i)
            )"""
        )
        ctes.append(
            f"""lqn AS MATERIALIZED (
              SELECT query_id, {dec.format(expr='qx * qx')} AS qn2
              FROM qex GROUP BY 1
            )"""
        )
        ctes.append(
            f"""lqdots AS MATERIALIZED (
              SELECT q.query_id, c.centroid_id,
                     {dec.format(expr='q.qx * c.cx')} AS dot
              FROM qex q JOIN cex c ON q.d = c.d
              GROUP BY 1, 2
            )"""
        )
        ctes.append(
            f"""probes AS MATERIALIZED (
              SELECT query_id, centroid_id FROM (
                SELECT d.query_id, d.centroid_id,
                       ROW_NUMBER() OVER (
                         PARTITION BY d.query_id
                         ORDER BY d.dot / (sqrt(n.qn2) * sqrt(c2.cn2)) DESC,
                                  d.centroid_id) AS rn
                FROM lqdots d
                JOIN fcn c2 ON d.centroid_id = c2.centroid_id
                JOIN lqn n ON d.query_id = n.query_id
              ) WHERE rn <= {nprobe}
            )"""
        )
    else:
        ctes.append(
            f"""qex AS MATERIALIZED (
              SELECT vid AS query_id, d, x AS qx FROM ex WHERE {query_filter}
            )"""
        )
    if neighbor_filter is not None and neighbor_pairs_sql is not None:
        raise ValueError(
            "neighbor_filter and neighbor_pairs_sql are mutually exclusive"
        )
    if neighbor_pairs_sql is not None:
        ctes.append(
            f"""allowp AS MATERIALIZED (
              SELECT DISTINCT query_id, vid FROM ({neighbor_pairs_sql})
            )"""
        )
        ctes.append(
            """cand AS MATERIALIZED (
              SELECT p.query_id, p.centroid_id, a.vid AS nid
              FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
              JOIN allowp w ON w.vid = a.vid AND w.query_id = p.query_id
            )"""
        )
    elif neighbor_filter is not None:
        ctes.append(
            f"""allow AS MATERIALIZED (
              SELECT {id_col} AS vid FROM {table} WHERE {neighbor_filter}
            )"""
        )
        ctes.append(
            """cand AS MATERIALIZED (
              SELECT p.query_id, p.centroid_id, a.vid AS nid
              FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
              JOIN allow w ON w.vid = a.vid
            )"""
        )
    else:
        ctes.append(
            """cand AS MATERIALIZED (
              SELECT p.query_id, p.centroid_id, a.vid AS nid
              FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
            )"""
        )
    ctes.append(
        """recon AS MATERIALIZED (
          SELECT a.vid AS nid, cb.d, cb.mval
          FROM {codes} a JOIN cb
            ON a.subspace = cb.subspace AND a.code = cb.code
        )""".replace("{codes}", codes)
    )
    ctes.append(
        f"""rdot AS MATERIALIZED (
          SELECT cd.query_id, cd.nid, cd.centroid_id,
                 {dec.format(expr='q.qx * r.mval')} AS rdot
          FROM cand cd JOIN recon r ON cd.nid = r.nid
                       JOIN qex q ON q.query_id = cd.query_id AND q.d = r.d
          GROUP BY 1, 2, 3
        )"""
    )
    if residual:
        ctes.append(
            f"""qc AS MATERIALIZED (
              SELECT q.query_id, ce.centroid_id,
                     {dec.format(expr='q.qx * ce.cx')} AS qcdot
              FROM qex q JOIN cex ce ON q.d = ce.d
              GROUP BY 1, 2
            )"""
        )
        ctes.append(
            """scored AS (
              SELECT r.query_id, r.nid, qc.qcdot + r.rdot AS score
              FROM rdot r JOIN qc ON r.query_id = qc.query_id
                                 AND r.centroid_id = qc.centroid_id
            )"""
        )
    else:
        ctes.append(
            """scored AS (
              SELECT query_id, nid, rdot AS score FROM rdot
            )"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT query_id, CAST(rank AS BIGINT) AS rank,
               nid AS neighbor_id
        FROM (
          SELECT query_id, nid,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, nid) AS rank
          FROM scored
        ) WHERE rank <= {topk}
    """
    )


def pq_adc_recall_sql(
    table: str = "embeddings",
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    n_queries: int = 8,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`pq_adc_recall` — same codes, same mean
    codebook, same DECIMAL score folds, same tie-breaks."""
    sub = dim // m
    codes = pq_codes_sql(table, m, k, iters, id_col, vec_col, dim)
    return f"""
        WITH codes AS MATERIALIZED ({codes}),
        ex AS MATERIALIZED (
          SELECT {id_col} AS vid, i - 1 AS d,
                 CAST({vec_col}[i] AS DOUBLE) AS x,
                 (i - 1) // {sub} AS subspace
          FROM {table}, generate_series(1, {dim}) AS t(i)
        ),
        codebook AS MATERIALIZED (
          SELECT ex.subspace, codes.code, ex.d,
                 CAST(SUM(CAST(ex.x AS DECIMAL(38,18))) AS DOUBLE)
                   / COUNT(ex.x) AS mval
          FROM ex JOIN codes
            ON ex.vid = codes.{id_col} AND ex.subspace = codes.subspace
          GROUP BY 1, 2, 3
        ),
        qex AS MATERIALIZED (
          SELECT vid AS query_id, d, x AS qx FROM ex WHERE vid < {n_queries}
        ),
        recon AS MATERIALIZED (
          SELECT codes.{id_col} AS nid, cb.d, cb.mval
          FROM codes JOIN codebook cb
            ON codes.subspace = cb.subspace AND codes.code = cb.code
        ),
        adc AS MATERIALIZED (
          SELECT q.query_id, r.nid,
                 CAST(SUM(CAST(q.qx * r.mval AS DECIMAL(38,18))) AS DOUBLE)
                   AS score
          FROM qex q JOIN recon r ON q.d = r.d
          GROUP BY 1, 2
        ),
        adc_top AS MATERIALIZED (
          SELECT query_id, nid FROM (
            SELECT query_id, nid,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, nid) AS rn
            FROM adc
          ) WHERE rn <= {topk}
        ),
        exact AS MATERIALIZED (
          SELECT q.query_id, e.vid AS nid,
                 CAST(SUM(CAST(q.qx * e.x AS DECIMAL(38,18))) AS DOUBLE)
                   AS score
          FROM qex q JOIN ex e ON q.d = e.d
          GROUP BY 1, 2
        ),
        exact_top AS MATERIALIZED (
          SELECT query_id, nid FROM (
            SELECT query_id, nid,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, nid) AS rn
            FROM exact
          ) WHERE rn <= {topk}
        )
        SELECT a.query_id,
               CAST(COUNT(e.nid) AS BIGINT) AS n_overlap,
               CAST({topk} AS BIGINT) AS topk
        FROM adc_top a LEFT JOIN exact_top e
          ON a.query_id = e.query_id AND a.nid = e.nid
        GROUP BY a.query_id
    """
