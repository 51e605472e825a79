"""DuckDB oracle twins of the operators in `unifydb_spark.operators.sketch`."""

from unifydb_spark.operators.sketch import TWO60


def term_frequency_cms_sql(
    table: str = "documents",
    text_col: str = "text",
    top_k: int = 50,
    width: int = 256,
    depth: int = 4,
) -> str:
    w, d = int(width), int(depth)
    # DuckDB lacks conv(); hex->int via the 0x-prefixed VARCHAR cast
    # (15 hex chars = 60 bits, in-range for BIGINT on both engines)
    slot = (
        "(CAST(('0x' || substr(md5(CAST({i} AS VARCHAR) || ':' || term), 1, 15))"
        " AS BIGINT) % {w})"
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT term, {i} AS row, {slot.format(i=i, w=w)} AS slot FROM toks"
        for i in range(d)
    )
    top_probe_rows = " UNION ALL ".join(
        f"SELECT term, {i} AS row, {slot.format(i=i, w=w)} AS slot FROM top"
        for i in range(d)
    )
    return f"""
        WITH toks AS (
          SELECT unnest(list_filter(string_split({text_col}, ' '), x -> x != ''))
                 AS term
          FROM {table}
        ), entries AS ({probe_rows}),
        sketch AS (
          SELECT row, slot, COUNT(*) AS c FROM entries GROUP BY 1, 2
        ), top AS (
          SELECT term, COUNT(*) AS true_count FROM toks GROUP BY 1
          ORDER BY true_count DESC, term LIMIT {int(top_k)}
        ), probes AS ({top_probe_rows}),
        est AS (
          SELECT term, MIN(COALESCE(c, 0)) AS cms_est
          FROM probes LEFT JOIN sketch USING (row, slot)
          GROUP BY 1
        )
        SELECT term, true_count, CAST(cms_est AS BIGINT) AS cms_est
        FROM est JOIN top USING (term)
        ORDER BY true_count DESC, term
    """


def hll_distinct_sql(
    table: str, key_col: str, group_col: str, p: int = 9
) -> str:
    m = 1 << int(p)
    wbits = 60 - int(p)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    shift = wbits + 1
    h = f"(('0x' || substr(md5({key_col}), 1, 15))::BIGINT)"
    w = f"(({h} - {h} % {m}) // {m})"  # DuckDB integer division, exact
    rank = (
        f"CASE WHEN {w} = 0 THEN {wbits + 1} "
        f"ELSE {wbits} - LENGTH(BIN({w})) + 1 END"
    )
    # integer-exact harmonic sum (mirrors hll_distinct): BIGINT hop before
    # DOUBLE because DuckDB's direct HUGEINT->DOUBLE cast can be 1 ulp off
    return f"""
        WITH regs AS (
          SELECT {group_col} AS grp, {h} % {m} AS bucket,
                 MAX({rank}) AS max_rank
          FROM {table} GROUP BY 1, 2
        ), agg AS (
          SELECT grp,
                 CAST(CAST(SUM(CAST(1 AS BIGINT) << ({shift} - max_rank))
                      AS BIGINT) AS DOUBLE) / {float(1 << shift)!r} AS s,
                 COUNT(*) AS nonzero
          FROM regs GROUP BY 1
        )
        SELECT grp AS {group_col},
               ROUND(CASE WHEN (CAST({alpha} AS DOUBLE) * {m} * {m} / (({m} - nonzero) + s))
                               <= 2.5 * {m}
                          AND ({m} - nonzero) > 0
                     THEN CAST({m} AS DOUBLE)
                          * LN(CAST({m} AS DOUBLE) / ({m} - nonzero))
                     ELSE CAST({alpha} AS DOUBLE) * {m} * {m} / (({m} - nonzero) + s)
                     END, 4) AS hll_est
        FROM agg ORDER BY 1
    """


def heavy_hitters_sql(
    keys_expr: str, key_col: str, phi_num: int = 1, phi_den: int = 200
) -> str:
    """Oracle: the plain exact query — heavy_hitters must equal it."""
    return f"""
        WITH keys AS ({keys_expr}),
        counts AS (
          SELECT {key_col}, COUNT(*) AS cnt FROM keys GROUP BY 1
        ), total AS (
          SELECT COUNT(*) AS n_total FROM keys
        )
        SELECT {key_col}, cnt FROM counts CROSS JOIN total
        WHERE cnt * {phi_den} > {phi_num} * n_total
        ORDER BY 1
    """


def _kmv_sketch_cte(
    table: str, key_col: str, group_col: str, k: int
) -> str:
    """Shared oracle CTE: the same bottom-k-of-distinct-hashes sketch.
    The mapInPandas candidate pruning is semantically invisible (the
    candidate union contains the true bottom-k), so the oracle builds
    the sketch the direct way."""
    h = f"(('0x' || substr(md5(CAST({key_col} AS VARCHAR)), 1, 15))::BIGINT)"
    return f"""
        hashes AS (
          SELECT DISTINCT CAST({group_col} AS VARCHAR) AS grp,
                 {h} AS hval
          FROM {table}
          WHERE {h} IS NOT NULL
        ),
        sk AS (
          SELECT grp, hval,
                 ROW_NUMBER() OVER (PARTITION BY grp ORDER BY hval) AS pos
          FROM hashes QUALIFY pos <= {k}
        )
    """


def kmv_distinct_sql(
    table: str, key_col: str, group_col: str, k: int = 128
) -> str:
    return f"""
        WITH {_kmv_sketch_cte(table, key_col, group_col, k)},
        per_group AS (
          SELECT grp, COUNT(*) AS n_reg, MAX(hval) AS kth FROM sk GROUP BY 1
        ),
        truth AS (
          SELECT CAST({group_col} AS VARCHAR) AS grp,
                 COUNT(DISTINCT {key_col}) AS true_distinct
          FROM {table} GROUP BY 1
        )
        SELECT p.grp AS {group_col}, t.true_distinct,
               ROUND(CASE WHEN p.n_reg < {k} THEN CAST(p.n_reg AS DOUBLE)
                     ELSE CAST({k - 1} AS DOUBLE)
                          / (CAST(p.kth AS DOUBLE) / {TWO60!r})
                     END, 4) AS kmv_est
        FROM per_group p JOIN truth t USING (grp)
        ORDER BY 1
    """


def kmv_jaccard_sql(
    table: str, key_col: str, group_col: str, k: int = 128
) -> str:
    return f"""
        WITH {_kmv_sketch_cte(table, key_col, group_col, k)},
        pairs AS (
          SELECT a.grp AS grp_a, b.grp AS grp_b
          FROM (SELECT DISTINCT grp FROM sk) a
          JOIN (SELECT DISTINCT grp FROM sk) b ON a.grp < b.grp
        ),
        merged AS (
          SELECT grp_a, grp_b, hval,
                 MAX(in_a) AS in_a, MAX(in_b) AS in_b
          FROM (
            SELECT p.grp_a, p.grp_b, s.hval, 1 AS in_a, 0 AS in_b
            FROM pairs p JOIN sk s ON s.grp = p.grp_a
            UNION ALL
            SELECT p.grp_a, p.grp_b, s.hval, 0, 1
            FROM pairs p JOIN sk s ON s.grp = p.grp_b
          ) GROUP BY 1, 2, 3
        ),
        unionk AS (
          SELECT grp_a, grp_b, hval, in_a, in_b,
                 ROW_NUMBER() OVER (PARTITION BY grp_a, grp_b
                                    ORDER BY hval) AS pos
          FROM merged QUALIFY pos <= {k}
        ),
        agg AS (
          SELECT grp_a, grp_b, COUNT(*) AS union_k,
                 CAST(SUM(in_a * in_b) AS BIGINT) AS overlap,
                 MAX(hval) AS kth
          FROM unionk GROUP BY 1, 2
        )
        SELECT grp_a, grp_b, union_k, overlap,
               ROUND(CAST(overlap AS DOUBLE) / CAST(union_k AS DOUBLE), 6)
                   AS jaccard_est,
               ROUND((CASE WHEN union_k < {k} THEN CAST(union_k AS DOUBLE)
                      ELSE CAST({k - 1} AS DOUBLE)
                           / (CAST(kth AS DOUBLE) / {TWO60!r})
                      END)
                     * (CAST(overlap AS DOUBLE) / CAST(union_k AS DOUBLE)),
                     4) AS est_intersection
        FROM agg ORDER BY 1, 2
    """


def hll_windowed_distinct_sql(
    table: str,
    key_col: str,
    ts_col: str = "ts",
    window_days: int = 7,
    p: int = 9,
) -> str:
    m = 1 << int(p)
    wbits = 60 - int(p)
    shift = wbits + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    h = f"(('0x' || substr(md5({key_col}), 1, 15))::BIGINT)"
    w = f"(({h} - {h} % {m}) // {m})"
    rank = (
        f"CASE WHEN {w} = 0 THEN {wbits + 1} "
        f"ELSE {wbits} - LENGTH(BIN({w})) + 1 END"
    )
    return f"""
        WITH regs AS (
          SELECT CAST(date_trunc('day', {ts_col}) AS DATE)
                   - DATE '1970-01-01' AS d,
                 {h} % {m} AS bucket,
                 MAX({rank}) AS mr
          FROM {table} GROUP BY 1, 2
        ), contrib AS (
          SELECT CAST(u.td AS BIGINT) AS td, bucket, mr
          FROM regs, unnest(generate_series(d, d + {int(window_days) - 1}))
            AS u(td)
        ), days AS (
          SELECT DISTINCT CAST(d AS BIGINT) AS td FROM regs
        ), merged AS (
          SELECT td, bucket, MAX(mr) AS max_rank
          FROM contrib JOIN days USING (td) GROUP BY 1, 2
        ), agg AS (
          SELECT td,
                 CAST(CAST(SUM(CAST(1 AS BIGINT) << ({shift} - max_rank))
                      AS BIGINT) AS DOUBLE) / {float(1 << shift)!r} AS s,
                 COUNT(*) AS nonzero
          FROM merged GROUP BY 1
        )
        SELECT strftime(DATE '1970-01-01' + CAST(td AS INT), '%Y-%m-%d')
                 AS day,
               ROUND(CASE WHEN (CAST({alpha} AS DOUBLE) * {m} * {m}
                                / (({m} - nonzero) + s)) <= 2.5 * {m}
                          AND ({m} - nonzero) > 0
                     THEN CAST({m} AS DOUBLE)
                          * LN(CAST({m} AS DOUBLE) / ({m} - nonzero))
                     ELSE CAST({alpha} AS DOUBLE) * {m} * {m}
                          / (({m} - nonzero) + s)
                     END, 4) AS hll_est
        FROM agg ORDER BY day
    """


def cms_join_size_sql(
    left_sql: str,
    right_sql: str,
    width: int = 256,
    depth: int = 4,
) -> str:
    """Oracle twin: same md5 row-slots, same integer inner product.
    `left_sql`/`right_sql` each select one column named k."""
    w, d = int(width), int(depth)
    slot = (
        "(CAST(('0x' || substr(md5(CAST({i} AS VARCHAR) || ':' || k), 1, 15))"
        " AS BIGINT) % {w})"
    )

    def entries(src):
        return " UNION ALL ".join(
            f"SELECT {i} AS row, {slot.format(i=i, w=w)} AS slot"
            f" FROM {src}"
            for i in range(d)
        )

    return f"""
        WITH lsrc AS ({left_sql}), rsrc AS ({right_sql}),
        le AS ({entries('lsrc')}),
        re AS ({entries('rsrc')}),
        ls AS (SELECT row, slot, COUNT(*) AS c FROM le GROUP BY 1, 2),
        rs AS (SELECT row, slot, COUNT(*) AS c FROM re GROUP BY 1, 2),
        ip AS (
          SELECT ls.row, SUM(ls.c * rs.c) AS ip
          FROM ls JOIN rs ON ls.row = rs.row AND ls.slot = rs.slot
          GROUP BY 1
        )
        SELECT CAST(MIN(ip) AS BIGINT) AS est_join_rows FROM ip
    """


def ddsketch_quantiles_sql(
    table: str,
    group_col: str,
    value_col: str,
    rel_err: float = 0.01,
    probs: tuple = (0.5, 0.9, 0.99),
) -> str:
    import math as _m

    a = float(rel_err)
    gamma = (1.0 + a) / (1.0 - a)
    lng = _m.log(gamma)
    arms = []
    for p in probs:
        pf = float(p)
        arms.append(f"""
          SELECT grp AS {group_col}, {pf!r} AS p,
                 ROUND(2.0 * POW({gamma!r}, CAST(b AS DOUBLE))
                       / {gamma + 1.0!r}, 6) AS est,
                 CAST(n_buckets AS BIGINT) AS n_buckets,
                 CAST(n AS BIGINT) AS n
          FROM (
            SELECT grp, MIN(b) AS b, MAX(n) AS n,
                   MAX(n_buckets) AS n_buckets
            FROM cum
            WHERE cum >= GREATEST(1, CAST(CEIL({pf!r} * n) AS BIGINT))
            GROUP BY grp
          )""")
    union = " UNION ALL ".join(arms)
    return f"""
        WITH buckets AS (
          SELECT {group_col} AS grp,
                 CAST(CEIL(LN(CAST({value_col} AS DOUBLE)) / {lng!r})
                      AS BIGINT) AS b,
                 COUNT(*) AS c
          FROM {table}
          WHERE CAST({value_col} AS DOUBLE) > 0
          GROUP BY 1, 2
        ), cum AS (
          SELECT grp, b,
                 SUM(c) OVER (PARTITION BY grp ORDER BY b
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(c) OVER (PARTITION BY grp) AS n,
                 COUNT(*) OVER (PARTITION BY grp) AS n_buckets
          FROM buckets
        )
        SELECT * FROM ({union}) ORDER BY {group_col}, p
    """
