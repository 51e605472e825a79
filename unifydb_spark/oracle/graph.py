"""DuckDB oracle twins of the operators in `unifydb_spark.operators.graph`."""


# ---------------------------------------------------------------------------
# SQL oracle builders — `edges_cte` must define edges(src, dst)


def degrees_sql(edges_cte: str) -> str:
    return f"""
        WITH edges AS ({edges_cte}),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)
        SELECT n.node,
               COALESCE(o.c, 0) AS out_degree,
               COALESCE(i.c, 0) AS in_degree
        FROM nodes n
        LEFT JOIN (SELECT src, COUNT(*) AS c FROM edges GROUP BY 1) o ON n.node = o.src
        LEFT JOIN (SELECT dst, COUNT(*) AS c FROM edges GROUP BY 1) i ON n.node = i.dst
        ORDER BY n.node
    """


def connected_components_sql(edges_cte: str, rounds: int = 16) -> str:
    """Unrolled min-label propagation + pointer jumping (the kcore_sql
    fixed-unroll trick): `rounds` levels, each one neighbor-min
    propagation and one label(label) shortcut, handling diameter up to
    2^rounds; idempotent at the fixpoint, so extra levels change
    nothing and equality with the DataFrame fixpoint needs no
    convergence assumption (the DF side raises if IT doesn't converge).

    Replaces the original `WITH RECURSIVE reach(node, lbl)` transitive-
    closure oracle, which materializes node x component-size label
    pairs — ~5 BILLION rows on the sf1 graph whose components are
    region-sized (the sf1 stress run timed it out). Every CTE is
    MATERIALIZED (DuckDB inlines by default; each level is referenced
    twice)."""
    parts = [
        f"""edges AS MATERIALIZED ({edges_cte}),
        und AS MATERIALIZED (
          SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
        ),
        l0 AS MATERIALIZED (
          SELECT node, node AS lbl FROM
            (SELECT src AS node FROM und UNION SELECT dst FROM und)
        )"""
    ]
    for i in range(1, int(rounds) + 1):
        parts.append(f"""p{i} AS MATERIALIZED (
          SELECT n.node, LEAST(n.lbl, COALESCE(p.m, n.lbl)) AS lbl
          FROM l{i - 1} n LEFT JOIN (
            SELECT u.dst AS node, MIN(x.lbl) AS m
            FROM und u JOIN l{i - 1} x ON u.src = x.node GROUP BY u.dst
          ) p ON n.node = p.node
        ), l{i} AS MATERIALIZED (
          SELECT a.node, LEAST(a.lbl, COALESCE(b.lbl, a.lbl)) AS lbl
          FROM p{i} a LEFT JOIN p{i} b ON a.lbl = b.node
        )""")
    body = ",\n".join(parts)
    return f"""
        WITH {body}
        SELECT node, lbl AS component FROM l{int(rounds)} ORDER BY node
    """


def triangle_count_sql(edges_cte: str) -> str:
    return f"""
        WITH edges0 AS ({edges_cte}),
        und AS (
          SELECT src, dst FROM (
            SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0
          ) WHERE src < dst
        )
        SELECT COUNT(*) AS n_triangles
        FROM und e1 JOIN und e2 ON e1.dst = e2.src
                    JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst
    """


def shortest_paths_sql(edges_cte: str, sources: list[int]) -> str:
    src_rows = ", ".join(f"({int(s)})" for s in sources)
    return f"""
        WITH RECURSIVE edges0 AS ({edges_cte}),
        und AS (
          SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0
        ),
        walk(node, dist) AS (
          SELECT node, 0 FROM (VALUES {src_rows}) AS s(node)
          UNION
          SELECT u.dst, w.dist + 1 FROM und u JOIN walk w ON u.src = w.node
          WHERE w.dist < 20
        )
        SELECT node, MIN(dist) AS dist FROM walk GROUP BY node ORDER BY node
    """


def pagerank_sql(edges_cte: str, iters: int = 10, damping: float = 0.85) -> str:
    """Unrolled power iterations (aggregates are not allowed in a recursive
    CTE term, so the oracle unrolls) — numerically identical to pagerank()."""
    prev = "pr0"
    ctes = [
        f"edges AS ({edges_cte})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1)",
        # ::DOUBLE casts everywhere: bare 1.0/0.85 are DECIMAL literals in
        # DuckDB, whose decimal division would diverge from Spark's doubles
        "pr0 AS (SELECT node, 1.0::DOUBLE / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""pr{i} AS (
              SELECT n.node,
                     (1.0::DOUBLE - {damping}::DOUBLE) / (SELECT n FROM nn)
                     + {damping}::DOUBLE * COALESCE(
                         CAST(CAST(s.s AS VARCHAR) AS DOUBLE), 0.0) AS rank
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS node,
                       SUM(CAST(p.rank / o.outdeg AS DECIMAL(38,18))) AS s
                FROM edges e
                JOIN {prev} p ON e.src = p.node
                JOIN outdeg o ON e.src = o.src
                GROUP BY e.dst
              ) s ON n.node = s.node
            )"""
        )
        prev = f"pr{i}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, ROUND(rank, 10) AS rank FROM {prev} ORDER BY node"
    )


def kcore_sql(edges_cte: str, k: int = 2, max_rounds: int = 20) -> str:
    """Unrolled-peel oracle: exactly max_rounds rounds (see kcore's
    fixpoint-idempotence argument for why this equals early stopping)."""
    kk = int(k)
    ctes = [
        f"e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM ("
        f"SELECT src, dst FROM ({edges_cte}) "
        f"UNION ALL SELECT dst AS src, src AS dst FROM ({edges_cte})))"
    ]
    for i in range(int(max_rounds)):
        ctes.append(
            f"n{i + 1} AS MATERIALIZED (SELECT src AS node FROM e{i} "
            f"GROUP BY 1 HAVING COUNT(*) >= {kk})"
        )
        ctes.append(
            f"e{i + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e{i} e "
            f"JOIN n{i + 1} a ON e.src = a.node "
            f"JOIN n{i + 1} b ON e.dst = b.node)"
        )
    last = f"e{int(max_rounds)}"
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg"
        f" FROM {last} GROUP BY 1 HAVING COUNT(*) >= {kk} ORDER BY 1"
    )


def degree_assortativity_sql(edges_cte: str) -> str:
    dec = "DECIMAL(30,15)"
    return f"""
        WITH e AS ({edges_cte}),
        und AS (
          SELECT src, dst FROM e
          UNION ALL SELECT dst AS src, src AS dst FROM e
        ), deg AS (
          SELECT src AS node, COUNT(*) AS d FROM und GROUP BY 1
        ), j AS (
          SELECT u.src, u.dst, a.d AS dj, b.d AS dk
          FROM und u JOIN deg a ON u.src = a.node
                     JOIN deg b ON u.dst = b.node
        ), m AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS m,
                 CAST(CAST(SUM(CAST(dj AS {dec})) AS VARCHAR) AS DOUBLE)
                   AS sj,
                 CAST(CAST(SUM(CAST(dj * dk AS {dec})) AS VARCHAR)
                   AS DOUBLE) AS sjk,
                 CAST(CAST(SUM(CAST(dj * dj AS {dec})) AS VARCHAR)
                   AS DOUBLE) AS sjj
          FROM j
        )
        SELECT CAST(m / 2.0::DOUBLE AS BIGINT) AS n_edges,
               ROUND(sj / m, 6) AS mean_deg_end,
               ROUND(CASE WHEN sjj / m - (sj / m) * (sj / m) > 0.0::DOUBLE
                          THEN (sjk / m - (sj / m) * (sj / m))
                               / (sjj / m - (sj / m) * (sj / m))
                     END, 6) AS r
        FROM m
    """


def hits_sql(edges_cte: str, iters: int = 5) -> str:
    dec = "DECIMAL(38,18)"
    ctes = [
        f"e AS MATERIALIZED ({edges_cte})",
        "h0 AS MATERIALIZED (SELECT DISTINCT src, 1.0::DOUBLE AS h FROM e)",
    ]
    prev_h = "h0"
    prev_a = None
    for i in range(1, int(iters) + 1):
        ctes.append(
            f"""a{i}raw AS MATERIALIZED (
              SELECT e.dst,
                     CAST(CAST(SUM(CAST(p.h AS {dec})) AS VARCHAR)
                       AS DOUBLE) AS a
              FROM e JOIN {prev_h} p ON e.src = p.src
              GROUP BY 1
            )"""
        )
        ctes.append(
            f"""a{i} AS MATERIALIZED (
              SELECT dst, a / (SELECT MAX(a) FROM a{i}raw) AS a
              FROM a{i}raw
            )"""
        )
        ctes.append(
            f"""h{i}raw AS MATERIALIZED (
              SELECT e.src,
                     CAST(CAST(SUM(CAST(p.a AS {dec})) AS VARCHAR)
                       AS DOUBLE) AS h
              FROM e JOIN a{i} p ON e.dst = p.dst
              GROUP BY 1
            )"""
        )
        ctes.append(
            f"""h{i} AS MATERIALIZED (
              SELECT src, h / (SELECT MAX(h) FROM h{i}raw) AS h
              FROM h{i}raw
            )"""
        )
        prev_h, prev_a = f"h{i}", f"a{i}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT src AS node, 'hub' AS kind, ROUND(h, 6) AS score
        FROM {prev_h}
        UNION ALL
        SELECT dst AS node, 'authority' AS kind, ROUND(a, 6) AS score
        FROM {prev_a}
        ORDER BY kind, node
    """
    )
