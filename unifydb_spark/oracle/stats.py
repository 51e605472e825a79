"""DuckDB oracle twins of the operators in `unifydb_spark.operators.stats`."""

from unifydb_spark.operators.stats import (
    DEFAULT_PROBS,
    _POIS1_CUM,
    _Z_ALPHA2,
    _Z_BETA,
    _pname,
)


def group_quantiles_sql(
    table: str,
    group_col: str,
    value_col: str,
    probs: tuple = DEFAULT_PROBS,
) -> str:
    v = f"CAST({value_col} AS DOUBLE)"
    qs = ",\n               ".join(
        f"ROUND(quantile_cont({v}, {p}), 4) AS {_pname(p)}" for p in probs
    )
    return f"""
        SELECT {group_col}, COUNT({v}) AS n,
               ROUND(MIN({v}), 4) AS v_min, ROUND(MAX({v}), 4) AS v_max,
               {qs}
        FROM {table} GROUP BY {group_col} ORDER BY {group_col}
    """


def robust_outliers_sql(
    table: str,
    group_col: str,
    value_col: str,
    threshold: float = 3.0,
    select_cols: str = "*",
) -> str:
    v = f"CAST({value_col} AS DOUBLE)"
    return f"""
        WITH s AS (
          SELECT {group_col},
                 quantile_cont({v}, 0.5) AS med,
                 quantile_cont({v}, 0.25) AS q1,
                 quantile_cont({v}, 0.75) AS q3
          FROM {table} GROUP BY 1
        )
        SELECT {select_cols},
               ROUND(CASE WHEN q3 - q1 <> 0
                          THEN ({v} - med) / (q3 - q1) END, 4) + 0.0 AS robust_z,
               COALESCE(CASE WHEN q3 - q1 <> 0
                             THEN abs(({v} - med) / (q3 - q1)) > {threshold}
                        END, FALSE) AS is_outlier
        FROM {table} JOIN s USING ({group_col})
    """


def exact_quantiles_scalable_sql(
    table: str, value_col: str, probs: tuple = DEFAULT_PROBS
) -> str:
    v = f"CAST({value_col} AS DOUBLE)"
    selects = " UNION ALL ".join(
        f"SELECT '{_pname(p)}' AS quantile,"
        f" ROUND(quantile_cont({v}, {p}), 4) AS value FROM {table}"
        for p in probs
    )
    return f"SELECT * FROM ({selects}) ORDER BY quantile"


def table_profile_sql(table: str, cols: "Sequence[str]") -> str:
    parts = [
        f"""
        SELECT '{c}' AS col_name,
               CAST(COUNT({c}) AS BIGINT) AS n_nonnull,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv,
               CAST(MIN({c}) AS VARCHAR) AS min_val,
               CAST(MAX({c}) AS VARCHAR) AS max_val
        FROM {table}
        """
        for c in cols
    ]
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


def exact_group_quantiles_scalable_sql(
    table: str, group_col: str, value_col: str,
    probs: tuple = DEFAULT_PROBS,
) -> str:
    """Oracle: the narrowing machinery is semantically invisible —
    plain per-group quantile_cont."""
    v = f"CAST({value_col} AS DOUBLE)"
    selects = " UNION ALL ".join(
        f"SELECT CAST({group_col} AS VARCHAR) AS {group_col},"
        f" '{_pname(p)}' AS quantile,"
        f" ROUND(quantile_cont({v}, {p}), 4) AS value"
        f" FROM {table} GROUP BY 1"
        for p in probs
    )
    return f"SELECT * FROM ({selects}) ORDER BY {group_col}, quantile"


def length_histogram_sql(
    table: str, length_sql: str, bin_width: int = 16
) -> str:
    """DuckDB twin: identical binning (integer DIV), identical
    cumulative-share arithmetic (bigint sums, one double division,
    round 6)."""
    return f"""
        WITH bins AS (
          SELECT (({length_sql}) // {int(bin_width)}) * {int(bin_width)}
                   AS bin_lo,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM({length_sql}) AS BIGINT) AS n_tokens
          FROM {table}
          WHERE ({length_sql}) IS NOT NULL
          GROUP BY 1
        )
        SELECT bin_lo, n_docs, n_tokens,
               ROUND(CAST(SUM(n_docs) OVER (ORDER BY bin_lo) AS DOUBLE)
                     / SUM(n_docs) OVER (), 6) AS cum_doc_share,
               ROUND(CAST(SUM(n_tokens) OVER (ORDER BY bin_lo) AS DOUBLE)
                     / SUM(n_tokens) OVER (), 6) AS cum_token_share
        FROM bins ORDER BY bin_lo
    """


def join_skew_report_sql(
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str,
    broadcast_rows: int = 1_000_000,
    skew_share: float = 0.01,
) -> str:
    return f"""
        WITH lc AS (
          SELECT {left_key} AS k, COUNT(*) AS c FROM {left_table} GROUP BY 1
        ), rc AS (
          SELECT {right_key} AS k, COUNT(*) AS c FROM {right_table} GROUP BY 1
        ), ls AS (
          SELECT CAST(SUM(c) AS BIGINT) AS left_rows,
                 CAST(COUNT(*) AS BIGINT) AS left_ndv,
                 CAST(MAX(c) AS BIGINT) AS l_top
          FROM lc
        ), rs AS (
          SELECT CAST(SUM(c) AS BIGINT) AS right_rows,
                 CAST(COUNT(*) AS BIGINT) AS right_ndv,
                 CAST(MAX(c) AS BIGINT) AS r_top
          FROM rc
        )
        SELECT left_rows, right_rows, left_ndv, right_ndv,
               ROUND(CAST(l_top AS DOUBLE) / left_rows, 6) AS left_top_share,
               ROUND(CAST(r_top AS DOUBLE) / right_rows, 6) AS right_top_share,
               CASE
                 WHEN right_rows <= {int(broadcast_rows)} THEN 'broadcast_right'
                 WHEN left_rows <= {int(broadcast_rows)} THEN 'broadcast_left'
                 WHEN CAST(l_top AS DOUBLE) / left_rows > {float(skew_share)!r}
                      OR CAST(r_top AS DOUBLE) / right_rows > {float(skew_share)!r}
                   THEN 'salt_hot_keys'
                 ELSE 'shuffle_hash'
               END AS strategy
        FROM ls, rs
    """


def winsorize_scale_sql(
    table: str,
    group_col: str,
    value_col: str,
    id_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
) -> str:
    v = f"CAST({value_col} AS DOUBLE)"
    return f"""
        WITH q AS (
          SELECT {group_col},
                 quantile_cont({v}, {float(p_lo)!r}) AS qlo,
                 quantile_cont({v}, {float(p_hi)!r}) AS qhi
          FROM {table} GROUP BY 1
        ), cl AS (
          SELECT t.{id_col}, t.{group_col}, {v} AS value,
                 LEAST(GREATEST({v}, q.qlo), q.qhi) AS c
          FROM {table} t JOIN q USING ({group_col})
        ), m AS (
          SELECT {group_col}, COUNT(*) AS n,
                 CAST(CAST(SUM(CAST(c AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) AS s,
                 CAST(CAST(SUM(CAST(c * c AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) AS ss
          FROM cl GROUP BY 1
        )
        SELECT cl.{id_col}, cl.{group_col},
               ROUND(cl.value, 6) AS value,
               ROUND(cl.c, 6) AS clamped,
               ROUND(CASE WHEN (ss - (s * s) / n) / (n - 1.0) > 0
                     THEN (cl.c - s / n)
                          / sqrt((ss - (s * s) / n) / (n - 1.0))
                     END, 6) AS zscore
        FROM cl JOIN m USING ({group_col})
        ORDER BY {id_col}
    """


def regression_metrics_sql(
    table: str,
    group_col: str,
    label_col: str,
    pred_col: str,
) -> str:
    y = f"CAST({label_col} AS DOUBLE)"
    p = f"CAST({pred_col} AS DOUBLE)"
    e = f"({p} - {y})"
    def dsum(expr):
        return (
            f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,12))) AS VARCHAR)"
            " AS DOUBLE)"
        )
    return f"""
        WITH agg AS (
          SELECT {group_col}, COUNT(*) AS n,
                 {dsum(e)} AS se,
                 {dsum(f'ABS{e}')} AS sae,
                 {dsum(f'({e} * {e})')} AS sse,
                 {dsum(y)} AS sy,
                 {dsum(f'({y} * {y})')} AS syy
          FROM {table} GROUP BY 1
        )
        SELECT {group_col}, CAST(n AS BIGINT) AS n,
               ROUND(sqrt(sse / n), 6) AS rmse,
               ROUND(sae / n, 6) AS mae,
               ROUND(se / n, 6) + 0.0 AS bias,
               ROUND(CASE WHEN syy - (sy * sy) / n > 0
                     THEN 1.0 - sse / (syy - (sy * sy) / n) END, 6) + 0.0
                 AS r2
        FROM agg ORDER BY {group_col}
    """


def classification_metrics_sql(
    table: str, group_col: str, label_col: str, pred_col: str
) -> str:
    y = f"CAST({label_col} AS BOOLEAN)"
    p = f"CAST({pred_col} AS BOOLEAN)"
    return f"""
        WITH agg AS (
          SELECT {group_col},
                 CAST(SUM(CASE WHEN {y} AND {p} THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                 CAST(SUM(CASE WHEN NOT {y} AND {p} THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                 CAST(SUM(CASE WHEN {y} AND NOT {p} THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                 CAST(SUM(CASE WHEN NOT {y} AND NOT {p} THEN 1 ELSE 0 END) AS BIGINT) AS tn
          FROM {table} GROUP BY 1
        )
        SELECT {group_col}, tp, fp, fn, tn,
               ROUND(CASE WHEN tp + fp > 0
                     THEN CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + fp) END, 6)
                 AS precision,
               ROUND(CASE WHEN tp + fn > 0
                     THEN CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + fn) END, 6)
                 AS recall,
               ROUND(CASE WHEN tp + fp > 0 AND tp + fn > 0
                          AND (CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + fp))
                            + (CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + fn)) > 0
                     THEN 2.0 * (CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + fp))
                          * (CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + fn))
                          / ((CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + fp))
                             + (CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + fn)))
                     END, 6) AS f1,
               ROUND((CAST(tp AS DOUBLE) + tn)
                     / (CAST(tp AS DOUBLE) + fp + fn + tn), 6) AS accuracy
        FROM agg ORDER BY {group_col}
    """


def binary_auc_sql(
    table: str, group_col: str, label_col: str, score_col: str
) -> str:
    y = f"CAST({label_col} AS BOOLEAN)"
    s = f"CAST({score_col} AS DOUBLE)"
    return f"""
        WITH ranked AS (
          SELECT {group_col}, {y} AS y,
                 CAST(2 * RANK() OVER (PARTITION BY {group_col}
                                       ORDER BY {s})
                      + COUNT(*) OVER (PARTITION BY {group_col}, {s})
                      - 1 AS BIGINT) AS r2
          FROM {table}
        ), agg AS (
          SELECT {group_col},
                 SUM(CASE WHEN y THEN r2 END) AS rpos2,
                 CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                 CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
          FROM ranked GROUP BY 1
        )
        SELECT {group_col}, n_pos, n_neg,
               ROUND(CASE WHEN n_pos > 0 AND n_neg > 0
                     THEN (CAST(rpos2 AS DOUBLE)
                           - CAST(n_pos AS DOUBLE) * (n_pos + 1.0))
                          / (2.0 * CAST(n_pos AS DOUBLE) * n_neg)
                     END, 6) AS auc
        FROM agg ORDER BY {group_col}
    """


def calibration_curve_sql(
    table: str,
    group_col: str,
    label_col: str,
    score_col: str,
    n_bins: int = 10,
) -> str:
    y = f"CAST({label_col} AS BOOLEAN)"
    s = f"CAST({score_col} AS DOUBLE)"
    nb = int(n_bins)
    return f"""
        WITH mm AS (
          SELECT {group_col}, MIN({s}) AS lo, MAX({s}) AS hi
          FROM {table} GROUP BY 1
        ), nrm AS (
          SELECT t.{group_col}, {y} AS y,
                 CASE WHEN hi > lo THEN ({s} - lo) / (hi - lo)
                      ELSE 0.0 END AS norm
          FROM {table} t JOIN mm USING ({group_col})
        ), agg AS (
          SELECT {group_col},
                 LEAST(CAST(FLOOR(norm * {nb}) AS INT), {nb - 1}) AS bin,
                 COUNT(*) AS n,
                 SUM(CAST(norm AS DECIMAL(38,12))) AS ss,
                 SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np
          FROM nrm GROUP BY 1, 2
        )
        SELECT {group_col}, CAST(bin AS BIGINT) AS bin,
               CAST(n AS BIGINT) AS n,
               ROUND(CAST(CAST(ss AS VARCHAR) AS DOUBLE) / n, 6)
                 AS mean_score,
               ROUND(CAST(np AS DOUBLE) / n, 6) AS pos_rate
        FROM agg ORDER BY {group_col}, bin
    """


def mutual_information_sql(table: str, x_col: str, y_col: str) -> str:
    return f"""
        WITH cells AS (
          SELECT CAST({x_col} AS VARCHAR) AS x,
                 CAST({y_col} AS VARCHAR) AS y, COUNT(*) AS c
          FROM {table}
          WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
          GROUP BY 1, 2
        ), mx AS (SELECT x, SUM(c) AS cx FROM cells GROUP BY 1),
        my AS (SELECT y, SUM(c) AS cy FROM cells GROUP BY 1),
        tot AS (SELECT SUM(c) AS n FROM cells),
        mi AS (
          SELECT CAST(MAX(n) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT x) AS BIGINT) AS nx,
                 CAST(COUNT(DISTINCT y) AS BIGINT) AS ny,
                 CAST(CAST(SUM(CAST(
                   (CAST(c AS DOUBLE) / n)
                   * ln((CAST(c AS DOUBLE) / n)
                        / ((CAST(cx AS DOUBLE) / n) * (CAST(cy AS DOUBLE) / n)))
                   AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE) AS _mi
          FROM cells JOIN mx USING (x) JOIN my USING (y), tot
        ), hx AS (
          SELECT CAST(CAST(SUM(CAST(
                   -(CAST(cx AS DOUBLE) / n) * ln(CAST(cx AS DOUBLE) / n)
                 AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE) AS h_x
          FROM mx, tot
        ), hy AS (
          SELECT CAST(CAST(SUM(CAST(
                   -(CAST(cy AS DOUBLE) / n) * ln(CAST(cy AS DOUBLE) / n)
                 AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE) AS h_y
          FROM my, tot
        )
        SELECT n, nx, ny,
               ROUND(h_x, 6) AS h_x, ROUND(h_y, 6) AS h_y,
               ROUND(_mi, 6) + 0.0 AS mi,
               ROUND(CASE WHEN LEAST(h_x, h_y) > 0
                     THEN _mi / LEAST(h_x, h_y) END, 6) + 0.0 AS nmi
        FROM mi, hx, hy
    """


def group_trend_sql(
    table: str, group_col: str, x_sql: str, y_col: str
) -> str:
    x = f"CAST({x_sql} AS DOUBLE)"
    y = f"CAST({y_col} AS DOUBLE)"

    def dsum(expr):
        return (
            f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,12))) AS VARCHAR)"
            " AS DOUBLE)"
        )

    return f"""
        WITH agg AS (
          SELECT {group_col}, COUNT(*) AS n,
                 {dsum(x)} AS sx, {dsum(y)} AS sy,
                 {dsum(f'({x} * {y})')} AS sxy,
                 {dsum(f'({x} * {x})')} AS sxx,
                 {dsum(f'({y} * {y})')} AS syy
          FROM {table} GROUP BY 1
        )
        SELECT {group_col}, CAST(n AS BIGINT) AS n,
               ROUND(CASE WHEN sxx - (sx * sx) / n > 0
                     THEN (sxy - (sx * sy) / n) / (sxx - (sx * sx) / n)
                     END, 6) + 0.0 AS slope,
               ROUND(CASE WHEN sxx - (sx * sx) / n > 0
                     THEN (sy - ((sxy - (sx * sy) / n)
                                 / (sxx - (sx * sx) / n)) * sx) / n
                     END, 6) + 0.0 AS intercept,
               ROUND(CASE WHEN sxx - (sx * sx) / n > 0
                          AND syy - (sy * sy) / n > 0
                     THEN ((sxy - (sx * sy) / n) * (sxy - (sx * sy) / n))
                          / ((sxx - (sx * sx) / n) * (syy - (sy * sy) / n))
                     END, 6) AS r2
        FROM agg ORDER BY {group_col}
    """


def trimmed_mean_sql(
    table: str,
    group_col: str,
    value_col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
) -> str:
    v = f"CAST({value_col} AS DOUBLE)"
    return f"""
        WITH q AS (
          SELECT {group_col},
                 quantile_cont({v}, {float(p_lo)!r}) AS qlo,
                 quantile_cont({v}, {float(p_hi)!r}) AS qhi
          FROM {table} GROUP BY 1
        )
        SELECT t.{group_col},
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN {v} >= qlo AND {v} <= qhi
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_used,
               ROUND(CAST(CAST(SUM(CAST(CASE WHEN {v} >= qlo AND {v} <= qhi
                          THEN {v} ELSE 0.0 END AS DECIMAL(38,12)))
                     AS VARCHAR) AS DOUBLE)
                     / SUM(CASE WHEN {v} >= qlo AND {v} <= qhi
                           THEN 1 ELSE 0 END), 6) AS trimmed_mean,
               ROUND(CAST(CAST(SUM(CAST({v} AS DECIMAL(38,12))) AS VARCHAR)
                     AS DOUBLE) / COUNT(*), 6) AS raw_mean
        FROM {table} t JOIN q USING ({group_col})
        GROUP BY 1 ORDER BY 1
    """


def gini_coefficient_sql(
    table: str, group_col: str, value_col: str, id_col: str
) -> str:
    v = f"CAST({value_col} AS DOUBLE)"
    return f"""
        WITH ranked AS (
          SELECT {group_col}, {v} AS v,
                 ROW_NUMBER() OVER (PARTITION BY {group_col}
                      ORDER BY {v}, {id_col}) AS i
          FROM {table} WHERE {v} >= 0
        ), agg AS (
          SELECT {group_col}, COUNT(*) AS n,
                 CAST(CAST(SUM(CAST(v AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) AS s,
                 CAST(CAST(SUM(CAST(i * v AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) AS ixs
          FROM ranked GROUP BY 1
        )
        SELECT {group_col}, CAST(n AS BIGINT) AS n,
               ROUND(s, 4) AS total,
               ROUND(CASE WHEN s > 0
                     THEN (2.0 * ixs) / (n * s) - (n + 1.0) / n END, 6)
                 + 0.0 AS gini
        FROM agg ORDER BY {group_col}
    """


def lorenz_points_sql(
    table: str,
    group_col: str,
    value_col: str,
    id_col: str,
    n_points: int = 10,
) -> str:
    v = f"CAST({value_col} AS DOUBLE)"
    k = int(n_points)
    return f"""
        WITH ranked AS (
          SELECT {group_col}, {v} AS v,
                 ROW_NUMBER() OVER (PARTITION BY {group_col}
                     ORDER BY {v}, {id_col}) AS i
          FROM {table} WHERE {v} >= 0
        ), acc AS (
          SELECT {group_col}, i,
                 SUM(CAST(v AS DECIMAL(38,12))) OVER (
                   PARTITION BY {group_col} ORDER BY i
                   ROWS UNBOUNDED PRECEDING) AS cum,
                 COUNT(*) OVER (PARTITION BY {group_col}) AS n,
                 SUM(CAST(v AS DECIMAL(38,12))) OVER (
                   PARTITION BY {group_col}) AS tot
          FROM ranked
        )
        SELECT {group_col},
               CAST(FLOOR(i * {k} / CAST(n AS DOUBLE)) AS BIGINT) AS point,
               ROUND(CAST(i AS DOUBLE) / n, 6) AS pop_share,
               ROUND(CASE WHEN CAST(CAST(tot AS VARCHAR) AS DOUBLE) > 0
                     THEN CAST(CAST(cum AS VARCHAR) AS DOUBLE)
                          / CAST(CAST(tot AS VARCHAR) AS DOUBLE) END, 6)
                 AS value_share
        FROM acc
        WHERE FLOOR(i * {k} / CAST(n AS DOUBLE))
              > FLOOR((i - 1) * {k} / CAST(n AS DOUBLE))
        ORDER BY {group_col}, point
    """


def ks_test_sql(
    table: str, value_col: str, group_col: str, group_a, group_b
) -> str:
    qa = f"'{group_a}'" if isinstance(group_a, str) else repr(group_a)
    qb = f"'{group_b}'" if isinstance(group_b, str) else repr(group_b)
    return f"""
        WITH per_val AS (
          SELECT CAST({value_col} AS DOUBLE) AS v,
                 SUM(CASE WHEN {group_col} = {qa} THEN 1 ELSE 0 END) AS ca,
                 SUM(CASE WHEN {group_col} = {qb} THEN 1 ELSE 0 END) AS cb
          FROM {table}
          WHERE {group_col} IN ({qa}, {qb}) AND {value_col} IS NOT NULL
          GROUP BY 1
        ), cum AS (
          SELECT v,
                 SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
                 SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b,
                 SUM(ca) OVER () AS n_a, SUM(cb) OVER () AS n_b
          FROM per_val
        ), d AS (
          SELECT v, n_a, n_b,
                 CAST(ABS(cum_a * n_b - cum_b * n_a) AS BIGINT) AS dnum
          FROM cum
        )
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               ROUND(CAST(dnum AS DOUBLE)
                     / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
                 AS ks_d,
               ROUND(v, 6) AS ks_at
        FROM d
        WHERE dnum = (SELECT MAX(dnum) FROM d)
        ORDER BY v LIMIT 1
    """


def chi_square_independence_sql(table: str, x_col: str, y_col: str) -> str:
    return f"""
        WITH cells AS (
          SELECT CAST({x_col} AS VARCHAR) AS x,
                 CAST({y_col} AS VARCHAR) AS y, COUNT(*) AS o
          FROM {table}
          WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
          GROUP BY 1, 2
        ), rx AS (SELECT x, SUM(o) AS rx FROM cells GROUP BY 1),
        cy AS (SELECT y, SUM(o) AS cy FROM cells GROUP BY 1),
        tot AS (SELECT SUM(o) AS n, COUNT(DISTINCT x) AS n_x,
                       COUNT(DISTINCT y) AS n_y FROM cells),
        agg AS (
          SELECT n, n_x, n_y,
                 CAST(CAST(SUM(CAST(
                   CAST(o AS DOUBLE) * CAST(o AS DOUBLE)
                   / (CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE)
                      / CAST(n AS DOUBLE))
                 AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE) AS s
          FROM cells JOIN rx USING (x) JOIN cy USING (y), tot
          GROUP BY 1, 2, 3
        )
        SELECT CAST(n AS BIGINT) AS n, CAST(n_x AS BIGINT) AS n_x,
               CAST(n_y AS BIGINT) AS n_y,
               CAST((n_x - 1) * (n_y - 1) AS BIGINT) AS dof,
               ROUND(s - CAST(n AS DOUBLE), 6) AS chi2,
               ROUND(SQRT((s - CAST(n AS DOUBLE))
                     / (CAST(n AS DOUBLE)
                        * (CAST(LEAST(n_x, n_y) AS DOUBLE) - 1.0))), 6)
                 AS cramers_v
        FROM agg
    """


def cohens_kappa_sql(table: str, rater_a_sql: str, rater_b_sql: str) -> str:
    return f"""
        WITH agg AS (
          SELECT COUNT(*) AS n,
                 SUM(CASE WHEN NOT ({rater_a_sql}) AND NOT ({rater_b_sql})
                     THEN 1 ELSE 0 END) AS n00,
                 SUM(CASE WHEN NOT ({rater_a_sql}) AND ({rater_b_sql})
                     THEN 1 ELSE 0 END) AS n01,
                 SUM(CASE WHEN ({rater_a_sql}) AND NOT ({rater_b_sql})
                     THEN 1 ELSE 0 END) AS n10,
                 SUM(CASE WHEN ({rater_a_sql}) AND ({rater_b_sql})
                     THEN 1 ELSE 0 END) AS n11
          FROM {table}
          WHERE ({rater_a_sql}) IS NOT NULL AND ({rater_b_sql}) IS NOT NULL
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(n00 AS BIGINT) AS n00, CAST(n01 AS BIGINT) AS n01,
               CAST(n10 AS BIGINT) AS n10, CAST(n11 AS BIGINT) AS n11,
               ROUND(CAST(n00 + n11 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
               ROUND((CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                      + CAST(n00 + n01 AS DOUBLE) * CAST(n00 + n10 AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
               ROUND((CAST(n00 + n11 AS DOUBLE) / CAST(n AS DOUBLE)
                      - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                         + CAST(n00 + n01 AS DOUBLE)
                           * CAST(n00 + n10 AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                     / (1.0
                        - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                           + CAST(n00 + n01 AS DOUBLE)
                             * CAST(n00 + n10 AS DOUBLE))
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
                 AS kappa
        FROM agg
    """


def psi_report_sql(
    table: str, value_col: str, split_col: str, n_bins: int = 10
) -> str:
    b = int(n_bins)
    return f"""
        WITH base AS (
          SELECT CAST({value_col} AS DOUBLE) AS v,
                 CAST(epoch_us(CAST({split_col} AS TIMESTAMP)) AS DOUBLE)
                   / 1000000.0 AS t
          FROM {table}
          WHERE {value_col} IS NOT NULL AND {split_col} IS NOT NULL
        ), bounds AS (
          SELECT MIN(v) AS vlo, MAX(v) AS vhi,
                 MIN(t) AS tlo, MAX(t) AS thi
          FROM base
        ), occupied AS (
          SELECT CASE WHEN vhi = vlo THEN 0
                 ELSE LEAST({b} - 1,
                   CAST(FLOOR((v - vlo) / ((vhi - vlo) / CAST({b} AS DOUBLE)))
                        AS INT)) END AS bin,
                 vlo, (vhi - vlo) / CAST({b} AS DOUBLE) AS w,
                 SUM(CASE WHEN t * 2.0 <= tlo + thi THEN 1 ELSE 0 END)
                   AS n_ref,
                 SUM(CASE WHEN t * 2.0 <= tlo + thi THEN 0 ELSE 1 END)
                   AS n_cur
          FROM base, bounds
          GROUP BY 1, 2, 3
        ), cells AS (
          SELECT s.bin, s.vlo, s.w,
                 CAST(COALESCE(o.n_ref, 0) AS BIGINT) AS n_ref,
                 CAST(COALESCE(o.n_cur, 0) AS BIGINT) AS n_cur
          FROM (SELECT unnest(range(0, {b})) AS bin, vlo,
                       (vhi - vlo) / CAST({b} AS DOUBLE) AS w
                FROM bounds) s
          LEFT JOIN occupied o
            ON o.bin = s.bin AND o.vlo = s.vlo AND o.w = s.w
        ), tot AS (
          SELECT SUM(n_ref) AS tref, SUM(n_cur) AS tcur FROM cells
        ), terms AS (
          SELECT bin,
                 ROUND(vlo + bin * w, 6) AS lo,
                 ROUND(vlo + (bin + 1) * w, 6) AS hi,
                 CAST(n_ref AS BIGINT) AS n_ref,
                 CAST(n_cur AS BIGINT) AS n_cur,
                 CAST(((CAST(n_ref AS DOUBLE) + 0.5)
                       / (CAST(tref AS DOUBLE) + {float(b) / 2.0!r})
                       - (CAST(n_cur AS DOUBLE) + 0.5)
                         / (CAST(tcur AS DOUBLE) + {float(b) / 2.0!r}))
                      * LN(((CAST(n_ref AS DOUBLE) + 0.5)
                            / (CAST(tref AS DOUBLE) + {float(b) / 2.0!r}))
                           / ((CAST(n_cur AS DOUBLE) + 0.5)
                              / (CAST(tcur AS DOUBLE) + {float(b) / 2.0!r})))
                   AS DECIMAL(30,15)) AS term
          FROM cells, tot
        )
        SELECT bin, lo, hi, n_ref, n_cur,
               ROUND(CAST(CAST(term AS VARCHAR) AS DOUBLE), 6) AS term,
               (SELECT ROUND(CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE), 6)
                FROM terms) AS psi
        FROM terms ORDER BY bin
    """


def theil_decomposition_sql(
    table: str, group_col: str, value_col: str
) -> str:
    v = f"CAST({value_col} AS DOUBLE)"
    return f"""
        WITH base AS (
          SELECT {group_col} AS grp, {v} AS x FROM {table} WHERE {v} > 0
        ), gstats AS (
          SELECT grp, COUNT(*) AS n_g,
                 CAST(CAST(SUM(CAST(x AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) AS s_g,
                 CAST(CAST(SUM(CAST(x AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) AS s_g2
          FROM base GROUP BY 1
        ), tot AS (
          SELECT SUM(n_g) AS n,
                 CAST(CAST(SUM(CAST(s_g2 AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) AS s
          FROM gstats
        ), within AS (
          SELECT grp,
                 CAST(CAST(SUM(CAST(
                   (x / (s_g / CAST(n_g AS DOUBLE)))
                   * LN(x / (s_g / CAST(n_g AS DOUBLE)))
                 AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE) AS tw
          FROM base JOIN gstats USING (grp) GROUP BY 1
        )
        SELECT grp AS {group_col},
               CAST(n_g AS BIGINT) AS n_g,
               ROUND(s_g / CAST(n_g AS DOUBLE), 6) AS mean_g,
               ROUND(tw / CAST(n_g AS DOUBLE), 6) AS theil_g,
               ROUND((CAST(n_g AS DOUBLE) / CAST(n AS DOUBLE))
                     * ((s_g / CAST(n_g AS DOUBLE))
                        / (s / CAST(n AS DOUBLE)))
                     * (tw / CAST(n_g AS DOUBLE)), 6) AS contrib_within,
               ROUND((CAST(n_g AS DOUBLE) / CAST(n AS DOUBLE))
                     * ((s_g / CAST(n_g AS DOUBLE))
                        / (s / CAST(n AS DOUBLE)))
                     * LN((s_g / CAST(n_g AS DOUBLE))
                          / (s / CAST(n AS DOUBLE))), 6) AS contrib_between
        FROM gstats JOIN within USING (grp), tot
        ORDER BY 1
    """


def wilson_rates_sql(
    table: str, group_col: str, success_sql: str, z: float = 1.96
) -> str:
    zf = float(z)
    z2 = zf * zf
    return f"""
        WITH agg AS (
          SELECT {group_col}, COUNT(*) AS n,
                 SUM(CASE WHEN {success_sql} THEN 1 ELSE 0 END) AS k
          FROM {table}
          WHERE ({success_sql}) IS NOT NULL
          GROUP BY 1
        )
        SELECT {group_col},
               CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
               ROUND(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
               ROUND(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                      + {z2!r} / (2.0 * CAST(n AS DOUBLE)))
                     / (1.0 + {z2!r} / CAST(n AS DOUBLE))
                     - {zf!r} * SQRT(
                         (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                         * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                         / CAST(n AS DOUBLE)
                         + {z2!r} / (4.0 * CAST(n AS DOUBLE)
                                     * CAST(n AS DOUBLE)))
                       / (1.0 + {z2!r} / CAST(n AS DOUBLE)), 6) AS ci_lo,
               ROUND(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                      + {z2!r} / (2.0 * CAST(n AS DOUBLE)))
                     / (1.0 + {z2!r} / CAST(n AS DOUBLE))
                     + {zf!r} * SQRT(
                         (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                         * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                         / CAST(n AS DOUBLE)
                         + {z2!r} / (4.0 * CAST(n AS DOUBLE)
                                     * CAST(n AS DOUBLE)))
                       / (1.0 + {z2!r} / CAST(n AS DOUBLE)), 6) AS ci_hi
        FROM agg ORDER BY 1
    """


def hill_tail_sql(
    table: str, value_col: str, id_col: str, k: int = 200
) -> str:
    kk = int(k)
    v = f"CAST({value_col} AS DOUBLE)"
    return f"""
        WITH top AS (
          SELECT {v} AS x FROM {table} WHERE {v} > 0
          ORDER BY {v} DESC, {id_col} ASC LIMIT {kk + 1}
        ), xmin AS (SELECT MIN(x) AS x_k1, COUNT(*) AS ntop FROM top),
        agg AS (
          SELECT x_k1, ntop,
                 CAST(CAST(SUM(CAST(LN(x / x_k1) AS DECIMAL(30,15)))
                      AS VARCHAR) AS DOUBLE) AS s
          FROM top, xmin WHERE x > x_k1 GROUP BY 1, 2
        )
        SELECT CAST({kk} AS INT) AS k,
               ROUND(x_k1, 6) AS x_kplus1,
               ROUND(s / CAST(ntop - 1 AS DOUBLE), 6) AS hill_h,
               ROUND(1.0 / (s / CAST(ntop - 1 AS DOUBLE)), 6) AS alpha
        FROM agg
    """


def psi_between_windows_sql(
    counts_cte: str, n_bins: int = 12
) -> str:
    """Oracle over a `counts` CTE with columns (day, bin, n)."""
    b = int(n_bins)
    return f"""
        WITH counts AS ({counts_cte}),
        days AS (SELECT DISTINCT day FROM counts),
        spine AS (
          SELECT day, CAST(u.b AS INT) AS bin
          FROM days, unnest(range(0, {b})) AS u(b)
        ), dense AS (
          SELECT s.day, s.bin, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
          FROM spine s LEFT JOIN counts c
            ON c.day = s.day AND CAST(c.bin AS INT) = s.bin
        ), tots AS (SELECT day, SUM(n) AS tot FROM dense GROUP BY 1),
        cur AS (
          SELECT d.day, d.bin, d.n AS n_cur, t.tot AS t_cur,
                 strftime(CAST(d.day AS DATE) - INTERVAL 1 DAY,
                          '%Y-%m-%d') AS prev_day
          FROM dense d JOIN tots t USING (day)
        ), prev AS (
          SELECT d.day AS prev_day, d.bin, d.n AS n_prev, t.tot AS t_prev
          FROM dense d JOIN tots t USING (day)
        )
        SELECT c.day,
               CAST(MAX(c.t_cur) AS BIGINT) AS n_day,
               ROUND(CAST(CAST(SUM(CAST(
                 ((CAST(n_prev AS DOUBLE) + 0.5)
                  / (CAST(t_prev AS DOUBLE) + {float(b) / 2.0!r})
                  - (CAST(n_cur AS DOUBLE) + 0.5)
                    / (CAST(t_cur AS DOUBLE) + {float(b) / 2.0!r}))
                 * LN(((CAST(n_prev AS DOUBLE) + 0.5)
                       / (CAST(t_prev AS DOUBLE) + {float(b) / 2.0!r}))
                      / ((CAST(n_cur AS DOUBLE) + 0.5)
                         / (CAST(t_cur AS DOUBLE) + {float(b) / 2.0!r})))
               AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE), 6)
                 AS psi_vs_prev
        FROM cur c JOIN prev p
          ON p.prev_day = c.prev_day AND p.bin = c.bin
        GROUP BY 1 ORDER BY 1
    """


def lift_curve_sql(
    table: str,
    score_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> str:
    B = int(n_buckets)
    return f"""
        WITH numbered AS (
          SELECT CAST({label_col} AS BOOLEAN) AS y,
                 ROW_NUMBER() OVER (
                   ORDER BY CAST({score_col} AS DOUBLE) DESC, {id_col} ASC
                 ) AS rn,
                 COUNT(*) OVER () AS n
          FROM {table}
        ), buckets AS (
          SELECT ((rn - 1) * {B}) // n AS bucket,
                 COUNT(*) AS n,
                 SUM(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos
          FROM numbered GROUP BY 1
        )
        SELECT CAST(bucket AS INT) AS bucket,
               CAST(n AS BIGINT) AS n,
               CAST(n_pos AS BIGINT) AS n_pos,
               ROUND(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
               ROUND(CASE WHEN SUM(n_pos) OVER () > 0 THEN
                 CAST(SUM(n_pos) OVER (ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / CAST(SUM(n_pos) OVER () AS DOUBLE) END, 6)
                 AS cum_capture,
               ROUND(CASE WHEN SUM(n_pos) OVER () > 0 THEN
                 (CAST(SUM(n_pos) OVER (ORDER BY bucket
                       ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                  / CAST(SUM(n) OVER (ORDER BY bucket
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE))
                 / (CAST(SUM(n_pos) OVER () AS DOUBLE)
                    / CAST(SUM(n) OVER () AS DOUBLE)) END, 6) AS cum_lift
        FROM buckets ORDER BY bucket
    """


def weighted_quantiles_sql(
    table: str,
    group_col: str,
    value_col: str,
    weight_col: str,
    probs: tuple = (0.25, 0.5, 0.75),
) -> str:
    import math

    arms = []
    for p in probs:
        frac = float(p)
        num = int(round(frac * 1_000_000))
        g = math.gcd(num, 1_000_000) or 1
        num_r, den_r = num // g, 1_000_000 // g
        arms.append(f"""
          SELECT grp AS {group_col}, {frac!r} AS p,
                 ROUND(MIN(v), 6) AS value,
                 CAST(MAX(wtot) AS BIGINT) AS w_total
          FROM cum
          WHERE CAST(cumw AS DECIMAL(38,0)) * {den_r}
                >= {num_r} * CAST(wtot AS DECIMAL(38,0))
          GROUP BY grp""")
    union = " UNION ALL ".join(arms)
    return f"""
        WITH per_val AS (
          SELECT {group_col} AS grp, CAST({value_col} AS DOUBLE) AS v,
                 SUM(CAST({weight_col} AS BIGINT)) AS wv
          FROM {table}
          WHERE {value_col} IS NOT NULL AND {weight_col} IS NOT NULL
            AND CAST({weight_col} AS BIGINT) > 0
          GROUP BY 1, 2
        ), cum AS (
          SELECT grp, v,
                 SUM(wv) OVER (PARTITION BY grp ORDER BY v
                               ROWS UNBOUNDED PRECEDING) AS cumw,
                 SUM(wv) OVER (PARTITION BY grp) AS wtot
          FROM per_val
        )
        SELECT * FROM ({union}) ORDER BY {group_col}, p
    """


def mad_outliers_sql(
    table: str, group_col: str, value_col: str, k: float = 3.0
) -> str:
    return f"""
        WITH base AS MATERIALIZED (
          SELECT CAST({group_col} AS VARCHAR) AS grp,
                 CAST({value_col} AS DOUBLE) AS v
          FROM {table} WHERE {value_col} IS NOT NULL
        ), med AS MATERIALIZED (
          SELECT grp, ROUND(CAST(median(v) AS DOUBLE), 4) AS med
          FROM base GROUP BY grp
        ), dev AS MATERIALIZED (
          SELECT b.grp, b.v, m.med, ABS(b.v - m.med) AS d
          FROM base b JOIN med m USING (grp)
        ), mad AS MATERIALIZED (
          SELECT grp, ROUND(CAST(median(d) AS DOUBLE), 4) AS mad
          FROM dev GROUP BY grp
        )
        SELECT d.grp AS {group_col},
               CAST(COUNT(*) AS BIGINT) AS n,
               d.med AS median, m.mad AS mad,
               CAST(SUM(CASE WHEN d.d > {float(k)!r} * 1.4826 * m.mad
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev d JOIN mad m USING (grp)
        GROUP BY d.grp, d.med, m.mad ORDER BY d.grp
    """


def bootstrap_ci_sql(
    table: str,
    value_col: str,
    key_col: str,
    n_replicates: int = 32,
    salt: str = "boot",
    lo_p: float = 0.025,
    hi_p: float = 0.975,
) -> str:
    from unifydb_spark.oracle.text import md5_u32_sql

    R = int(n_replicates)
    u32 = md5_u32_sql(
        f"CAST({key_col} AS VARCHAR) || ':' || CAST(__r AS VARCHAR)", salt
    )
    u = f"(CAST({u32} AS DOUBLE) / {float(16 ** 8)!r})"
    w = str(len(_POIS1_CUM))
    for k in range(len(_POIS1_CUM) - 1, -1, -1):
        w = f"CASE WHEN {u} < {_POIS1_CUM[k]!r} THEN {k} ELSE {w} END"
    return f"""
        WITH ex AS MATERIALIZED (
          SELECT __r, CAST({value_col} AS DOUBLE) AS __x, {w} AS __w
          FROM {table}, unnest(range(1, {R} + 1)) AS t(__r)
        ), reps AS (
          SELECT __r,
                 CAST(CAST(SUM(CAST(CAST(__w AS DOUBLE) * __x
                       AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE)
                   / CAST(SUM(__w) AS DOUBLE) AS rmean
          FROM ex GROUP BY 1
        ), base AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(CAST(SUM(CAST(CAST({value_col} AS DOUBLE)
                       AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE)
                   / COUNT(*) AS mean
          FROM {table}
        ), ci AS (
          SELECT ROUND(quantile_cont(rmean, {float(lo_p)!r}), 6) AS ci_lo,
                 ROUND(quantile_cont(rmean, {float(hi_p)!r}), 6) AS ci_hi
          FROM reps
        )
        SELECT n, ROUND(mean, 6) AS mean, ci_lo, ci_hi,
               CAST({R} AS INT) AS n_replicates
        FROM base, ci
    """


def target_encoding_sql(
    table: str,
    cat_col: str,
    target_col: str,
    key_col: str,
    n_folds: int = 5,
    salt: str = "fold",
) -> str:
    from unifydb_spark.oracle.text import md5_u32_sql

    u32 = md5_u32_sql(key_col, salt)
    return f"""
        WITH cell AS (
          SELECT {cat_col} AS cat, {u32} % {int(n_folds)} AS fold,
                 COUNT(*) AS nf,
                 SUM(CAST(CAST({target_col} AS DOUBLE)
                     AS DECIMAL(30,15))) AS sf
          FROM {table} GROUP BY 1, 2
        ), tot AS (
          SELECT cat, SUM(nf) AS nc, SUM(sf) AS sc FROM cell GROUP BY 1
        )
        SELECT c.cat, CAST(c.fold AS INT) AS fold,
               CAST(c.nf AS BIGINT) AS n_in_fold,
               CAST(t.nc - c.nf AS BIGINT) AS n_oof,
               CASE WHEN t.nc - c.nf > 0 THEN
                 ROUND(CAST(CAST(t.sc - c.sf AS VARCHAR) AS DOUBLE)
                       / CAST(t.nc - c.nf AS DOUBLE), 6)
               END AS enc_oof
        FROM cell c JOIN tot t USING (cat)
        ORDER BY c.cat, c.fold
    """


def cuped_lift_sql(
    table: str,
    unit_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    salt: str = "arm",
) -> str:
    from unifydb_spark.oracle.text import md5_u32_sql

    u32 = md5_u32_sql(unit_col, salt)
    d2d = "CAST(CAST(SUM(CAST({e} AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE)"
    return f"""
        WITH bounds AS (
          SELECT MIN(date_diff('day', DATE '1970-01-01',
                               CAST({ts_col} AS DATE))) AS mn,
                 MAX(date_diff('day', DATE '1970-01-01',
                               CAST({ts_col} AS DATE))) AS mx
          FROM {table}
        ), per_unit AS (
          SELECT {unit_col} AS u, {u32} % 2 AS arm,
                 COALESCE({d2d.format(e=f'''CASE WHEN
                   date_diff('day', DATE '1970-01-01',
                             CAST({ts_col} AS DATE)) <= (mn + mx) // 2
                   THEN CAST({value_col} AS DOUBLE) END''')}, 0.0)
                   AS x,
                 COALESCE({d2d.format(e=f'''CASE WHEN
                   date_diff('day', DATE '1970-01-01',
                             CAST({ts_col} AS DATE)) > (mn + mx) // 2
                   THEN CAST({value_col} AS DOUBLE) END''')}, 0.0)
                   AS y
          FROM {table}, bounds GROUP BY 1, 2
        ), arms AS (
          SELECT arm, COUNT(*) AS n,
                 {d2d.format(e='x')} AS sx,
                 {d2d.format(e='y')} AS sy,
                 {d2d.format(e='x * y')} AS sxy,
                 {d2d.format(e='x * x')} AS sxx,
                 {d2d.format(e='y * y')} AS syy
          FROM per_unit GROUP BY 1
        ), pooled AS (
          SELECT CAST(SUM(n) AS DOUBLE) AS n,
                 {d2d.format(e='sx')} AS sx,
                 {d2d.format(e='sy')} AS sy,
                 {d2d.format(e='sxy')} AS sxy,
                 {d2d.format(e='sxx')} AS sxx,
                 {d2d.format(e='syy')} AS syy
          FROM arms
        ), g AS (
          SELECT CAST(n AS BIGINT) AS n_units,
                 CASE WHEN sxx / n - (sx / n) * (sx / n) > 0.0::DOUBLE
                      THEN (sxy / n - (sx / n) * (sy / n))
                           / (sxx / n - (sx / n) * (sx / n))
                      ELSE 0.0::DOUBLE END AS th,
                 syy / n - (sy / n) * (sy / n) AS vy,
                 sxy / n - (sx / n) * (sy / n) AS cv,
                 sxx / n - (sx / n) * (sx / n) AS vx
          FROM pooled
        ), a0 AS (
          SELECT sy / n AS my0, sx / n AS mx0 FROM arms WHERE arm = 0
        ), a1 AS (
          SELECT sy / n AS my1, sx / n AS mx1 FROM arms WHERE arm = 1
        )
        SELECT n_units, ROUND(th, 6) AS theta, ROUND(vy, 4) AS var_y,
               ROUND(vy - 2.0::DOUBLE * th * cv + th * th * vx, 4)
                 AS var_yadj,
               ROUND(CASE WHEN vy > 0.0::DOUBLE THEN
                       100.0::DOUBLE
                       * (1.0::DOUBLE
                          - (vy - 2.0::DOUBLE * th * cv + th * th * vx)
                            / vy)
                     ELSE 0.0::DOUBLE END, 4) AS var_reduction_pct,
               ROUND(my1 - my0, 6) AS lift_raw,
               ROUND((my1 - my0) - th * (mx1 - mx0), 6) AS lift_cuped
        FROM g, a0, a1
    """


def ab_health_sql(
    table: str,
    unit_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    salt: str = "arm",
) -> str:
    from unifydb_spark.oracle.text import md5_u32_sql

    u32 = md5_u32_sql(unit_col, salt)
    d2d = "CAST(CAST(SUM(CAST({e} AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE)"
    zc = repr(_Z_ALPHA2 + _Z_BETA)
    return f"""
        WITH bounds AS (
          SELECT MIN(date_diff('day', DATE '1970-01-01',
                               CAST({ts_col} AS DATE))) AS mn,
                 MAX(date_diff('day', DATE '1970-01-01',
                               CAST({ts_col} AS DATE))) AS mx
          FROM {table}
        ), per_unit AS (
          SELECT {unit_col} AS u, {u32} % 2 AS arm,
                 COALESCE({d2d.format(e=f'''CASE WHEN
                   date_diff('day', DATE '1970-01-01',
                             CAST({ts_col} AS DATE)) <= (mn + mx) // 2
                   THEN CAST({value_col} AS DOUBLE) END''')}, 0.0)
                   AS x,
                 COALESCE({d2d.format(e=f'''CASE WHEN
                   date_diff('day', DATE '1970-01-01',
                             CAST({ts_col} AS DATE)) > (mn + mx) // 2
                   THEN CAST({value_col} AS DOUBLE) END''')}, 0.0)
                   AS y
          FROM {table}, bounds GROUP BY 1, 2
        ), arms AS (
          SELECT arm, COUNT(*) AS n,
                 {d2d.format(e='x')} AS sx,
                 {d2d.format(e='y')} AS sy,
                 {d2d.format(e='x * y')} AS sxy,
                 {d2d.format(e='x * x')} AS sxx,
                 {d2d.format(e='y * y')} AS syy
          FROM per_unit GROUP BY 1
        ), pooled AS (
          SELECT CAST(SUM(n) AS DOUBLE) AS n,
                 {d2d.format(e='sx')} AS sx, {d2d.format(e='sy')} AS sy,
                 {d2d.format(e='sxy')} AS sxy, {d2d.format(e='sxx')} AS sxx,
                 {d2d.format(e='syy')} AS syy
          FROM arms
        ), g AS (
          SELECT syy / n - (sy / n) * (sy / n) AS vy,
                 (syy / n - (sy / n) * (sy / n))
                 - 2.0::DOUBLE
                   * (CASE WHEN sxx / n - (sx / n) * (sx / n) > 0.0::DOUBLE
                           THEN (sxy / n - (sx / n) * (sy / n))
                                / (sxx / n - (sx / n) * (sx / n))
                           ELSE 0.0::DOUBLE END)
                   * (sxy / n - (sx / n) * (sy / n))
                 + (CASE WHEN sxx / n - (sx / n) * (sx / n) > 0.0::DOUBLE
                         THEN (sxy / n - (sx / n) * (sy / n))
                              / (sxx / n - (sx / n) * (sx / n))
                         ELSE 0.0::DOUBLE END)
                   * (CASE WHEN sxx / n - (sx / n) * (sx / n) > 0.0::DOUBLE
                           THEN (sxy / n - (sx / n) * (sy / n))
                                / (sxx / n - (sx / n) * (sx / n))
                           ELSE 0.0::DOUBLE END)
                   * (sxx / n - (sx / n) * (sx / n)) AS va
          FROM pooled
        ), n0 AS (SELECT n AS n0 FROM arms WHERE arm = 0),
        n1 AS (SELECT n AS n1 FROM arms WHERE arm = 1)
        SELECT CAST(n0 AS BIGINT) AS n_arm0, CAST(n1 AS BIGINT) AS n_arm1,
               ROUND(CAST(n1 - n0 AS DOUBLE)
                     / sqrt(CAST(n0 + n1 AS DOUBLE)), 6) AS srm_z,
               (ABS(CAST(n1 - n0 AS DOUBLE)
                    / sqrt(CAST(n0 + n1 AS DOUBLE))) > 3.0::DOUBLE)
                 AS srm_flag,
               ROUND({zc}::DOUBLE
                     * sqrt(2.0::DOUBLE * vy
                            / CAST(LEAST(n0, n1) AS DOUBLE)), 6)
                 AS mde_raw,
               ROUND({zc}::DOUBLE
                     * sqrt(2.0::DOUBLE * va
                            / CAST(LEAST(n0, n1) AS DOUBLE)), 6)
                 AS mde_cuped
        FROM g, n0, n1
    """


def ratio_metric_ci_sql(
    table: str,
    unit_col: str,
    num_sql: str,
    den_sql: str,
    z: float = 1.959963984540054,
) -> str:
    d2d = "CAST(CAST(SUM(CAST({e} AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE)"
    return f"""
        WITH per_unit AS (
          SELECT {unit_col} AS u,
                 COALESCE({d2d.format(e=f"CAST({num_sql} AS DOUBLE)")}, 0.0)
                   AS nu,
                 COALESCE({d2d.format(e=f"CAST({den_sql} AS DOUBLE)")}, 0.0)
                   AS de
          FROM {table} GROUP BY 1
        ), m AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 {d2d.format(e='nu')} AS sn,
                 {d2d.format(e='de')} AS sd,
                 {d2d.format(e='nu * nu')} AS snn,
                 {d2d.format(e='de * de')} AS sdd,
                 {d2d.format(e='nu * de')} AS snd
          FROM per_unit
        ), g AS (
          SELECT CAST(n AS BIGINT) AS n_units,
                 sn / sd AS ratio,
                 CASE WHEN n > 1.0::DOUBLE AND sd / n != 0.0::DOUBLE THEN
                   sqrt(
                     ((snn - n * (sn / n) * (sn / n)) / (n - 1.0::DOUBLE)
                      - 2.0::DOUBLE * (sn / sd)
                        * ((snd - n * (sn / n) * (sd / n))
                           / (n - 1.0::DOUBLE))
                      + (sn / sd) * (sn / sd)
                        * ((sdd - n * (sd / n) * (sd / n))
                           / (n - 1.0::DOUBLE)))
                     / (n * (sd / n) * (sd / n)))
                 END AS se
          FROM m
        )
        SELECT n_units, ROUND(ratio, 6) AS ratio, ROUND(se, 6) AS se,
               ROUND(ratio - {float(z)!r} * se, 6) AS ci_lo,
               ROUND(ratio + {float(z)!r} * se, 6) AS ci_hi
        FROM g
    """


def icc_design_effect_sql(
    table: str, group_col: str, value_col: str
) -> str:
    dec = "DECIMAL(30,15)"
    d2d = f"CAST(CAST(SUM(CAST({{e}} AS {dec})) AS VARCHAR) AS DOUBLE)"
    return f"""
        WITH g AS (
          SELECT {group_col} AS g, COUNT(*) AS m,
                 SUM(CAST(CAST({value_col} AS DOUBLE) AS {dec})) AS s,
                 SUM(CAST(CAST({value_col} AS DOUBLE)
                          * CAST({value_col} AS DOUBLE) AS {dec})) AS ss
          FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1
        ), m AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS k,
                 CAST(SUM(m) AS DOUBLE) AS n,
                 {d2d.format(e='s')} AS st,
                 {d2d.format(e='ss')} AS sst,
                 {d2d.format(e=('(CAST(CAST(s AS VARCHAR) AS DOUBLE)'
                                ' * CAST(CAST(s AS VARCHAR) AS DOUBLE))'
                                ' / CAST(m AS DOUBLE)'))} AS sb
          FROM g
        ), f AS (
          SELECT k, n, n / k AS mbar,
                 (sb - (st * st) / n) / (k - 1.0::DOUBLE) AS msb,
                 (sst - sb) / (n - k) AS msw
          FROM m
        ), r AS (
          SELECT k, n, mbar, msb, msw,
                 CASE WHEN k > 1.0::DOUBLE AND n > k THEN
                   CASE WHEN (msb - msw)
                             / (msb + (mbar - 1.0::DOUBLE) * msw)
                             > 0.0::DOUBLE
                        THEN (msb - msw)
                             / (msb + (mbar - 1.0::DOUBLE) * msw)
                        ELSE 0.0::DOUBLE END
                 END AS icc
          FROM f
        )
        SELECT CAST(k AS BIGINT) AS n_groups, CAST(n AS BIGINT) AS n_rows,
               ROUND(mbar, 4) AS m_bar, ROUND(msb, 6) AS msb,
               ROUND(msw, 6) AS msw, ROUND(icc, 6) AS icc,
               ROUND(1.0::DOUBLE + (mbar - 1.0::DOUBLE) * icc, 4) AS deff
        FROM r
    """


def threshold_tuning_sql(
    table: str,
    score_col: str,
    label_sql: str,
) -> str:
    return f"""
        WITH per_score AS (
          SELECT CAST({score_col} AS DOUBLE) AS s, COUNT(*) AS n,
                 SUM(CASE WHEN {label_sql} THEN 1 ELSE 0 END) AS pos
          FROM {table} GROUP BY 1
        ), tot AS (SELECT SUM(pos) AS tot_pos FROM per_score),
        cum AS (
          SELECT s,
                 SUM(n) OVER (ORDER BY s DESC
                              ROWS UNBOUNDED PRECEDING) AS cn,
                 SUM(pos) OVER (ORDER BY s DESC
                                ROWS UNBOUNDED PRECEDING) AS cp,
                 tot_pos
          FROM per_score, tot
        )
        SELECT s AS threshold,
               CAST(cp AS BIGINT) AS tp,
               CAST(cn - cp AS BIGINT) AS fp,
               CAST(tot_pos - cp AS BIGINT) AS fn,
               ROUND(CASE WHEN cn > 0
                          THEN CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE)
                     END, 6) AS precision,
               ROUND(CASE WHEN tot_pos > 0
                          THEN CAST(cp AS DOUBLE) / CAST(tot_pos AS DOUBLE)
                     END, 6) AS recall,
               ROUND(CASE WHEN 2 * cp + (cn - cp) + (tot_pos - cp) > 0
                          THEN CAST(2 * cp AS DOUBLE)
                               / CAST(2 * cp + (cn - cp) + (tot_pos - cp)
                                 AS DOUBLE)
                     END, 6) AS f1
        FROM cum ORDER BY threshold DESC
    """


def gini_split_sql(
    table: str,
    feature_col: str,
    label_sql: str,
) -> str:
    return f"""
        WITH per AS (
          SELECT CAST({feature_col} AS DOUBLE) AS v, COUNT(*) AS n,
                 SUM(CASE WHEN {label_sql} THEN 1 ELSE 0 END) AS pos
          FROM {table} GROUP BY 1
        ), tot AS (SELECT SUM(n) AS tn, SUM(pos) AS tp FROM per),
        cum AS (
          SELECT v,
                 SUM(n) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS nl,
                 SUM(pos) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS pl,
                 tn, tp
          FROM per, tot
        ), scored AS (
          SELECT v AS threshold,
                 CAST(nl AS BIGINT) AS n_left,
                 CAST(pl AS BIGINT) AS pos_left,
                 CAST(tn - nl AS BIGINT) AS n_right,
                 CAST(tp - pl AS BIGINT) AS pos_right,
                 (CAST(nl AS DOUBLE) / CAST(tn AS DOUBLE))
                 * (1.0::DOUBLE
                    - (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
                      * (CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
                    - (1.0::DOUBLE
                       - CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
                      * (1.0::DOUBLE
                         - CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE)))
                 + (CAST(tn - nl AS DOUBLE) / CAST(tn AS DOUBLE))
                 * (1.0::DOUBLE
                    - (CAST(tp - pl AS DOUBLE) / CAST(tn - nl AS DOUBLE))
                      * (CAST(tp - pl AS DOUBLE) / CAST(tn - nl AS DOUBLE))
                    - (1.0::DOUBLE
                       - CAST(tp - pl AS DOUBLE) / CAST(tn - nl AS DOUBLE))
                      * (1.0::DOUBLE
                         - CAST(tp - pl AS DOUBLE)
                           / CAST(tn - nl AS DOUBLE))) AS g
          FROM cum WHERE nl < tn
        )
        SELECT threshold, n_left, pos_left, n_right, pos_right,
               ROUND(g, 6) AS gini_split,
               (ROW_NUMBER() OVER (ORDER BY g ASC, threshold ASC) = 1)
                 AS is_best
        FROM scored ORDER BY threshold
    """


def srm_by_segment_sql(
    table: str,
    segment_col: str,
    unit_col: str = "user_id",
    salt: str = "arm",
    z_crit: float = 3.0,
) -> str:
    from unifydb_spark.oracle.text import md5_u32_sql

    u32 = md5_u32_sql("u", salt)
    return f"""
        WITH per AS (
          SELECT segment,
                 SUM(CASE WHEN {u32} % 2 = 0 THEN 1 ELSE 0 END) AS n0,
                 SUM(CASE WHEN {u32} % 2 = 1 THEN 1 ELSE 0 END) AS n1
          FROM (SELECT DISTINCT {segment_col} AS segment,
                       {unit_col} AS u
                FROM {table})
          GROUP BY 1
        )
        SELECT segment, CAST(n0 AS BIGINT) AS n_arm0,
               CAST(n1 AS BIGINT) AS n_arm1,
               ROUND(CAST(n1 - n0 AS DOUBLE)
                     / sqrt(CAST(n0 + n1 AS DOUBLE)), 6) AS srm_z,
               (ABS(CAST(n1 - n0 AS DOUBLE)
                    / sqrt(CAST(n0 + n1 AS DOUBLE)))
                  >= {float(z_crit)!r}) AS flagged
        FROM per ORDER BY segment
    """


def feature_split_ranking_sql(
    table: str,
    feature_cols: "list[str]",
    label_sql: str,
) -> str:
    parts = []
    for fcol in feature_cols:
        inner = gini_split_sql(table, fcol, label_sql)
        parts.append(
            f"""SELECT '{fcol}' AS feature,
                       threshold AS best_threshold, gini_split
                FROM ({inner}) WHERE is_best"""
        )
    union = "\nUNION ALL\n".join(parts)
    return f"""
        WITH best AS ({union}),
        tot AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CASE WHEN {label_sql} THEN 1 ELSE 0 END)
                   AS DOUBLE) AS pos
          FROM {table}
        ), g AS (
          SELECT 1.0::DOUBLE - (pos / n) * (pos / n)
                 - (1.0::DOUBLE - pos / n) * (1.0::DOUBLE - pos / n)
                   AS g0
          FROM tot
        )
        SELECT feature, best_threshold, gini_split,
               ROUND(g0 - gini_split, 6) AS gain,
               CAST(ROW_NUMBER() OVER (
                 ORDER BY g0 - gini_split DESC, feature ASC) AS INT)
                 AS rank
        FROM best, g ORDER BY rank
    """
