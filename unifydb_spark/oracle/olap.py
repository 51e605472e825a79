"""DuckDB oracle twins of the operators in `unifydb_spark.operators.olap`."""

from typing import Sequence


def grouping_set_metrics_sql(
    table: str,
    dims: Sequence[str],
    measure: str,
    mode: str = "rollup",
    all_label: str = "(all)",
) -> str:
    dim_list = ", ".join(dims)
    out_dims = ",\n               ".join(
        f"CASE WHEN GROUPING({d}) = 1 THEN '{all_label}' "
        f"ELSE CAST({d} AS VARCHAR) END AS {d}"
        for d in dims
    )
    sum_dec = f"SUM(CAST({measure} AS DECIMAL(30,10)))"
    sum_dbl = f"CAST(CAST({sum_dec} AS VARCHAR) AS DOUBLE)"
    kw = "CUBE" if mode == "cube" else "ROLLUP"
    return f"""
        SELECT {out_dims},
               CAST(GROUPING_ID({dim_list}) AS BIGINT) AS gid,
               COUNT(*) AS cnt,
               ROUND({sum_dbl}, 4) AS sum_{measure},
               ROUND({sum_dbl} / COUNT(*), 4) AS avg_{measure}
        FROM {table}
        GROUP BY {kw} ({dim_list})
        ORDER BY gid, {dim_list}
    """


def windowed_share_sql(
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    return f"""
        WITH daily AS (
          SELECT {user_col},
                 strftime({ts_col}, '%Y-%m-%d') AS day,
                 SUM(CAST({value_col} AS DECIMAL(30,10))) AS d
          FROM {table} GROUP BY 1, 2
        )
        SELECT {user_col}, day,
               ROUND(CAST(CAST(d AS VARCHAR) AS DOUBLE), 4) AS daily_value,
               ROUND(CAST(CAST(SUM(d) OVER (PARTITION BY {user_col} ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS VARCHAR) AS DOUBLE), 4) AS running_value,
               ROUND(CAST(CAST(d - COALESCE(LAG(d) OVER (PARTITION BY {user_col}
                     ORDER BY day), CAST(0 AS DECIMAL(30,10)))
                     AS VARCHAR) AS DOUBLE), 4) AS day_delta,
               ROUND(CAST(CAST(d AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(SUM(d) OVER (PARTITION BY {user_col})
                            AS VARCHAR) AS DOUBLE), 6) AS share_of_user
        FROM daily ORDER BY {user_col}, day
    """


def topk_per_group_sql(
    table: str,
    select_cols: Sequence[str],
    group_cols: Sequence[str],
    order_col: str,
    tiebreak_col: str,
    k: int,
    descending: bool = True,
) -> str:
    part = ", ".join(group_cols)
    sel = ", ".join(select_cols)
    direction = "DESC" if descending else "ASC"
    return f"""
        SELECT {sel}, rank_in_group FROM (
          SELECT {sel},
                 CAST(ROW_NUMBER() OVER (PARTITION BY {part}
                      ORDER BY {order_col} {direction}, {tiebreak_col} ASC)
                      AS BIGINT) AS rank_in_group
          FROM {table}
        ) WHERE rank_in_group <= {k}
        ORDER BY {part}, rank_in_group
    """


def ivm_recompute_sql(
    table: str,
    key_exprs: Sequence[str],
    key_names: Sequence[str],
    measure: str,
) -> str:
    """Oracle for the incremental path: the full batch recompute over
    the ENTIRE input — merge_aggregate_state must equal it exactly."""
    keys_sel = ", ".join(
        f"{e} AS {n}" for e, n in zip(key_exprs, key_names)
    )
    keys_grp = ", ".join(key_names)
    sum_dec = f"SUM(CAST({measure} AS DECIMAL(30,10)))"
    sum_dbl = f"CAST(CAST({sum_dec} AS VARCHAR) AS DOUBLE)"
    return f"""
        SELECT {keys_sel}, COUNT(*) AS cnt,
               ROUND({sum_dbl}, 4) AS sum_{measure},
               ROUND({sum_dbl} / COUNT(*), 4) AS avg_{measure}
        FROM {table}
        GROUP BY {keys_grp}
        ORDER BY {keys_grp}
    """


def pivot_metrics_sql(
    table: str,
    row_col: str,
    pivot_col: str,
    pivot_values: Sequence[str],
    measure: str,
) -> str:
    cells = ",\n               ".join(
        f"COALESCE(ROUND(CAST(CAST(SUM(CASE WHEN {pivot_col} = '{v}'"
        f" THEN CAST({measure} AS DECIMAL(30,10)) END) AS VARCHAR)"
        f" AS DOUBLE), 4), 0.0) AS {v}_{measure}"
        for v in pivot_values
    )
    return f"""
        SELECT {row_col}, COUNT(*) AS cnt,
               {cells}
        FROM {table}
        GROUP BY {row_col} ORDER BY {row_col}
    """


def topk_with_others_sql(
    table: str,
    group_col: str,
    category_col: str,
    value_col: str,
    k: int = 5,
) -> str:
    return f"""
        WITH base AS (
          SELECT {group_col}, {category_col} AS category,
                 COUNT(*) AS n,
                 SUM(CAST({value_col} AS DECIMAL(30,10))) AS s
          FROM {table} GROUP BY 1, 2
        ), ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY {group_col}
                    ORDER BY s DESC, category ASC) AS rnk
          FROM base
        ), labeled AS (
          SELECT {group_col},
                 CASE WHEN rnk <= {int(k)} THEN category
                      ELSE '(other)' END AS category,
                 CASE WHEN rnk <= {int(k)} THEN rnk
                      ELSE {int(k) + 1} END AS rank,
                 n, s
          FROM ranked
        )
        SELECT {group_col}, category, CAST(rank AS BIGINT) AS rank,
               CAST(SUM(n) AS BIGINT) AS n,
               ROUND(CAST(CAST(SUM(s) AS VARCHAR) AS DOUBLE), 4)
                 AS sum_value
        FROM labeled GROUP BY 1, 2, 3
        ORDER BY {group_col}, rank
    """


def json_props_metrics_sql(
    table: str = "events",
    group_col: str = "event_type",
    props_col: str = "props",
    field: str = "k",
) -> str:
    v = (
        f"TRY_CAST(TRY_CAST({props_col} AS JSON)->>'$.{field}' AS BIGINT)"
    )
    return f"""
        SELECT {group_col},
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN {v} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bad,
               CAST(SUM({v}) AS BIGINT) AS sum_field,
               ROUND(CAST(SUM({v}) AS DOUBLE) / COUNT({v}), 6) AS avg_field
        FROM {table} GROUP BY 1 ORDER BY 1
    """


def rank_features_sql(
    table: str,
    group_col: str,
    value_col: str,
    id_col: str,
    n_tiles: int = 10,
) -> str:
    v = f"CAST({value_col} AS DOUBLE)"
    return f"""
        SELECT {group_col}, {id_col}, ROUND({v}, 6) AS value,
               CAST(NTILE({int(n_tiles)}) OVER (PARTITION BY {group_col}
                    ORDER BY {v}, {id_col}) AS BIGINT) AS tile,
               ROUND(PERCENT_RANK() OVER (PARTITION BY {group_col}
                     ORDER BY {v}), 6) AS pct_rank,
               ROUND(CUME_DIST() OVER (PARTITION BY {group_col}
                     ORDER BY {v}), 6) AS cume
        FROM {table} ORDER BY {id_col}
    """


def melt_profile_sql(
    table: str, id_cols: Sequence[str], value_cols: Sequence[str]
) -> str:
    arms = " UNION ALL ".join(
        f"SELECT '{c}' AS metric, CAST({c} AS DOUBLE) AS value FROM {table}"
        for c in value_cols
    )
    return f"""
        WITH long AS ({arms}),
        agg AS (
          SELECT metric,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_null,
                 ROUND(MIN(value), 6) AS min_val,
                 ROUND(MAX(value), 6) AS max_val,
                 CAST(CAST(SUM(CAST(value AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) AS s,
                 CAST(CAST(SUM(CAST(value * value AS DECIMAL(38,12)))
                      AS VARCHAR) AS DOUBLE) AS ss,
                 COUNT(value) AS nv
          FROM long GROUP BY 1
        )
        SELECT metric, n, n_null, min_val, max_val,
               ROUND(s / CAST(nv AS DOUBLE), 6) AS avg_val,
               ROUND(CASE WHEN nv > 1 THEN SQRT(GREATEST(
                     (ss - s * (s / CAST(nv AS DOUBLE)))
                     / (CAST(nv AS DOUBLE) - 1.0), 0.0)) END, 6)
                 AS stddev_val
        FROM agg ORDER BY metric
    """


def hist2d_sql(
    table: str, x_col: str, y_col: str, n_x: int = 12, n_y: int = 10
) -> str:
    nx, ny = int(n_x), int(n_y)
    return f"""
        WITH base AS (
          SELECT CAST({x_col} AS DOUBLE) AS x, CAST({y_col} AS DOUBLE) AS y
          FROM {table}
          WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
        ), bounds AS (
          SELECT MIN(x) AS xlo, MAX(x) AS xhi,
                 MIN(y) AS ylo, MAX(y) AS yhi FROM base
        ), cells AS (
          SELECT CASE WHEN xhi = xlo THEN 0
                 ELSE LEAST({nx} - 1, CAST(FLOOR((x - xlo)
                   / ((xhi - xlo) / CAST({nx} AS DOUBLE))) AS INT)) END AS bx,
                 CASE WHEN yhi = ylo THEN 0
                 ELSE LEAST({ny} - 1, CAST(FLOOR((y - ylo)
                   / ((yhi - ylo) / CAST({ny} AS DOUBLE))) AS INT)) END AS by,
                 xlo, ylo,
                 (xhi - xlo) / CAST({nx} AS DOUBLE) AS wx,
                 (yhi - ylo) / CAST({ny} AS DOUBLE) AS wy,
                 COUNT(*) AS n
          FROM base, bounds
          GROUP BY 1, 2, 3, 4, 5, 6
        ), tot AS (SELECT SUM(n) AS total FROM cells)
        SELECT bx, by,
               ROUND(xlo + bx * wx, 6) AS x_lo,
               ROUND(ylo + by * wy, 6) AS y_lo,
               CAST(n AS BIGINT) AS n,
               ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
        FROM cells, tot ORDER BY bx, by
    """


def growth_accounting_sql(
    table: str = "orders",
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> str:
    return f"""
        WITH cm AS (
          SELECT strftime({date_col}, '%Y-%m') AS month, {cust_col} AS c,
                 COUNT(*) AS n_ord,
                 SUM(CAST({amount_col} AS DECIMAL(38,12))) AS rev
          FROM {table} GROUP BY 1, 2
        ), m AS (
          SELECT month, COUNT(*) AS customers, SUM(n_ord) AS orders,
                 CAST(CAST(SUM(rev) AS VARCHAR) AS DOUBLE) AS revenue
          FROM cm GROUP BY 1
        )
        SELECT month,
               ROUND(revenue, 4) AS revenue,
               CAST(customers AS BIGINT) AS customers,
               CAST(orders AS BIGINT) AS orders,
               ROUND(revenue / CAST(orders AS DOUBLE), 6) AS aov,
               ROUND(CAST(orders AS DOUBLE) / CAST(customers AS DOUBLE), 6)
                 AS orders_per_cust,
               ROUND(CASE WHEN LAG(revenue) OVER (ORDER BY month) > 0 THEN
                 (revenue - LAG(revenue) OVER (ORDER BY month))
                 / LAG(revenue) OVER (ORDER BY month) END, 6) AS revenue_mom
        FROM m ORDER BY month
    """


def rfm_segments_sql(
    table: str = "orders",
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_tiles: int = 5,
) -> str:
    t = int(n_tiles)
    qs = [i / t for i in range(1, t)]
    edge_sel = ", ".join(
        f"quantile_cont({c}, {q!r}) AS {c}{i}"
        for c in ("rec", "freq", "mon")
        for i, q in enumerate(qs)
    )

    def score(c: str, invert: bool) -> str:
        acc = " + ".join(
            f"(CASE WHEN {c} > {c}{i} THEN 1 ELSE 0 END)"
            for i in range(len(qs))
        )
        base = f"(1 + {acc})"
        return f"({t + 1} - {base})" if invert else base

    return f"""
        WITH ref AS (
          SELECT MAX(CAST(date_trunc('day', {date_col}) AS DATE)) AS refd
          FROM {table}
        ), per_cust AS (
          SELECT {cust_col} AS c,
                 CAST(MIN(refd - CAST(date_trunc('day', {date_col}) AS DATE))
                      AS DOUBLE) AS rec,
                 CAST(COUNT(*) AS DOUBLE) AS freq,
                 SUM(CAST({amount_col} AS DECIMAL(38,12))) AS mon_dec,
                 CAST(CAST(SUM(CAST({amount_col} AS DECIMAL(38,12)))
                      AS VARCHAR) AS DOUBLE) AS mon
          FROM {table}, ref GROUP BY 1
        ), edges AS (SELECT {edge_sel} FROM per_cust),
        seg AS (
          SELECT {score('rec', True)} AS r_score,
                 {score('freq', False)} AS f_score,
                 {score('mon', False)} AS m_score,
                 mon_dec
          FROM per_cust, edges
        )
        SELECT r_score, f_score, m_score,
               CAST(COUNT(*) AS BIGINT) AS customers,
               ROUND(CAST(CAST(SUM(mon_dec) AS VARCHAR) AS DOUBLE), 2)
                 AS total_monetary
        FROM seg GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """


def cohort_ltv_sql(
    table: str = "orders",
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    max_age: int = 12,
) -> str:
    return f"""
        WITH base AS (
          SELECT {cust_col} AS c,
                 CAST(EXTRACT(year FROM {date_col}) * 12
                      + EXTRACT(month FROM {date_col}) AS BIGINT) AS m,
                 CAST({amount_col} AS DECIMAL(38,12)) AS amt
          FROM {table}
        ), first AS (SELECT c, MIN(m) AS m0 FROM base GROUP BY 1),
        sizes AS (SELECT m0, COUNT(*) AS cohort_size FROM first GROUP BY 1),
        cells AS (
          SELECT m0, CAST(m - m0 AS INT) AS age, SUM(amt) AS rev
          FROM base JOIN first USING (c)
          WHERE m - m0 <= {int(max_age)}
          GROUP BY 1, 2
        )
        SELECT printf('%04d-%02d', CAST((m0 - 1) // 12 AS INT),
                      CAST((m0 - 1) % 12 + 1 AS INT)) AS cohort,
               age,
               CAST(cohort_size AS BIGINT) AS cohort_size,
               ROUND(CAST(CAST(rev AS VARCHAR) AS DOUBLE), 4) AS revenue,
               ROUND(CAST(CAST(SUM(rev) OVER (PARTITION BY m0 ORDER BY age
                       ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE)
                     / CAST(cohort_size AS DOUBLE), 6)
                 AS cum_ltv_per_customer
        FROM cells JOIN sizes USING (m0)
        ORDER BY cohort, age
    """


def join_fanout_report_sql(
    left_table: str, right_table: str, left_key: str, right_key: str
) -> str:
    return f"""
        WITH cl AS (
          SELECT {left_key} AS k, COUNT(*) AS cl
          FROM {left_table} GROUP BY 1
        ), cr AS (
          SELECT {right_key} AS k, COUNT(*) AS cr
          FROM {right_table} GROUP BY 1
        ), tl AS (SELECT COUNT(*) AS n_left FROM {left_table}),
        tr AS (SELECT COUNT(*) AS n_right FROM {right_table}),
        j AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_keys_both,
                 CAST(SUM(cl * cr) AS BIGINT) AS rows_out,
                 CAST(MAX(cl * cr) AS BIGINT) AS max_key_out
          FROM cl JOIN cr USING (k)
        )
        SELECT CAST(n_left AS BIGINT) AS n_left,
               CAST(n_right AS BIGINT) AS n_right,
               n_keys_both, rows_out, max_key_out,
               ROUND(CAST(rows_out AS DOUBLE)
                     / CAST(GREATEST(n_left, n_right, 1) AS DOUBLE), 4)
                 AS amplification
        FROM j, tl, tr
    """


def skyline_2d_sql(
    table: str, x_col: str, y_col: str, id_col: str,
    select_cols: "Sequence[str]",
) -> str:
    """Oracle: single-node window form — kept iff y exceeds the
    running max over all strictly-preceding rows in (x desc, y desc,
    id) order."""
    cols = ", ".join(select_cols)
    return f"""
        WITH o AS (
          SELECT *,
                 MAX(CAST({y_col} AS DOUBLE)) OVER (
                   ORDER BY {x_col} DESC, {y_col} DESC, {id_col} ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prevmax
          FROM {table}
        )
        SELECT {cols} FROM o
        WHERE prevmax IS NULL OR CAST({y_col} AS DOUBLE) > prevmax
        ORDER BY {id_col}
    """


def group_skyline_2d_sql(
    table: str, group_col: str, x_col: str, y_col: str, id_col: str,
    select_cols: "Sequence[str]",
) -> str:
    cols = ", ".join(select_cols)
    return f"""
        WITH o AS (
          SELECT *,
                 MAX(CAST({y_col} AS DOUBLE)) OVER (
                   PARTITION BY {group_col}
                   ORDER BY {x_col} DESC, {y_col} DESC, {id_col} ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prevmax
          FROM {table}
        )
        SELECT {cols} FROM o
        WHERE prevmax IS NULL OR CAST({y_col} AS DOUBLE) > prevmax
        ORDER BY {group_col}, {id_col}
    """
