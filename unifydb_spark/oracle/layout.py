"""DuckDB oracle twins of the operators in `unifydb_spark.operators.layout`."""

from typing import Sequence


def global_row_number_sql(
    table: str,
    order_cols: Sequence[str],
    select_cols: Sequence[str],
    out_col: str = "row_num",
) -> str:
    order = ", ".join(order_cols)
    sel = ", ".join(select_cols)
    return f"""
        SELECT {sel},
               CAST(ROW_NUMBER() OVER (ORDER BY {order}) AS BIGINT) AS {out_col}
        FROM {table} ORDER BY {order}
    """


def zorder_key_sql_expr(x: str, y: str, bits: int = 10) -> str:
    """DuckDB twin of zorder_key_col (same shift/mask/sum arithmetic)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({y} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def zorder_block_profile_sql(
    table_expr: str,
    x: str,
    y: str,
    bits: int = 10,
    block_shift: int = 8,
) -> str:
    zk = zorder_key_sql_expr(x, y, bits)
    return f"""
        WITH keyed AS (
          SELECT ({zk} >> {block_shift}) AS zblock, {x} AS x, {y} AS y
          FROM {table_expr}
        )
        SELECT zblock, COUNT(*) AS n_rows,
               MIN(x) AS x_min, MAX(x) AS x_max,
               MIN(y) AS y_min, MAX(y) AS y_max
        FROM keyed GROUP BY 1 ORDER BY zblock
    """


def curriculum_profile_sql(
    table: str,
    score_col: str,
    tiebreak_col: str,
    n_buckets: int,
) -> str:
    """Oracle: the scalable rank/offset machinery is semantically
    invisible — plain ROW_NUMBER + COUNT(*) OVER () with the identical
    floor arithmetic."""
    return f"""
        WITH ranked AS (
          SELECT {score_col},
                 CAST(((ROW_NUMBER() OVER (ORDER BY {score_col}, {tiebreak_col})
                        - 1) * {n_buckets})
                      // (COUNT(*) OVER ()) AS BIGINT) AS bucket
          FROM {table}
        )
        SELECT bucket, COUNT(*) AS n_rows,
               MIN({score_col}) AS min_{score_col},
               MAX({score_col}) AS max_{score_col}
        FROM ranked GROUP BY 1 ORDER BY 1
    """


def zonemap_eq_prune_profile_sql(
    table: str,
    pred_sql: str,
    values: Sequence,
    layouts: Sequence[tuple],
    n_blocks: int = 64,
) -> str:
    """DuckDB twin of :func:`zonemap_eq_prune_profile` — the oracle that
    grades the layout advisor itself: same global numbering per layout
    order, same equal-block split, same [min, max] zone maps, same
    equality-probe hit rule. Requires each layout's order_cols to be a
    unique composite (the same determinism contract the DataFrame side
    documents), so both engines produce the identical numbering.

    Value typing follows the PROBE VALUES (the DataFrame side types its
    value column from pred_col itself): all-string values emit properly
    escaped VARCHAR literals and no cast on either side of the BETWEEN;
    anything else keeps the integer profile's BIGINT casts."""
    B = int(n_blocks)
    str_vals = all(isinstance(v, str) for v in values)

    def lit(v):
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    vals = ", ".join(f"({lit(v)})" for v in values)
    vcast = "v.value" if str_vals else "CAST(v.value AS BIGINT)"
    pcast = pred_sql if str_vals else f"CAST({pred_sql} AS BIGINT)"
    arms = []
    for label, order_cols in layouts:
        order = ", ".join(order_cols)
        arms.append(f"""
          SELECT '{label}' AS layout, {vcast} AS value,
                 CAST(SUM(CASE WHEN v.value BETWEEN b.bmin AND b.bmax
                          THEN 1 ELSE 0 END) AS BIGINT) AS blocks_scanned,
                 CAST(SUM(CASE WHEN v.value BETWEEN b.bmin AND b.bmax
                          THEN b.nrows ELSE 0 END) AS BIGINT) AS rows_scanned
          FROM (
            WITH numbered AS (
              SELECT {pcast} AS p,
                     ROW_NUMBER() OVER (ORDER BY {order}) AS rn,
                     COUNT(*) OVER () AS n
              FROM {table}
            )
            SELECT ((rn - 1) * {B}) // n AS blk,
                   MIN(p) AS bmin, MAX(p) AS bmax, COUNT(*) AS nrows
            FROM numbered GROUP BY 1
          ) b CROSS JOIN (VALUES {vals}) v(value)
          GROUP BY v.value""")
    union = " UNION ALL ".join(arms)
    return f"SELECT * FROM ({union})"


def zonemap_prune_profile_sql(
    table: str,
    pred_sql: str,
    layouts: Sequence[tuple],
    n_blocks: int = 64,
    pred_lo_off: int = 180,
    pred_hi_off: int = 209,
) -> str:
    B = int(n_blocks)
    arms = []
    for label, order_cols in layouts:
        order = ", ".join(order_cols)
        arms.append(f"""
          SELECT '{label}' AS layout, n_blocks, blocks_scanned,
                 rows_scanned, scan_frac FROM (
            WITH numbered AS (
              SELECT CAST({pred_sql} AS BIGINT) AS p,
                     ROW_NUMBER() OVER (ORDER BY {order}) AS rn,
                     COUNT(*) OVER () AS n,
                     MIN(CAST({pred_sql} AS BIGINT)) OVER () AS dmin
              FROM {table}
            ), blocks AS (
              SELECT ((rn - 1) * {B}) // n AS blk,
                     MIN(p) AS bmin, MAX(p) AS bmax, COUNT(*) AS nrows,
                     MAX(n) AS n, MAX(dmin) AS dmin
              FROM numbered GROUP BY 1
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
                   CAST(SUM(CASE WHEN bmax < dmin + {int(pred_lo_off)}
                            OR bmin > dmin + {int(pred_hi_off)}
                            THEN 0 ELSE 1 END) AS BIGINT) AS blocks_scanned,
                   CAST(SUM(CASE WHEN bmax < dmin + {int(pred_lo_off)}
                            OR bmin > dmin + {int(pred_hi_off)}
                            THEN 0 ELSE nrows END) AS BIGINT) AS rows_scanned,
                   ROUND(CAST(SUM(CASE WHEN bmax < dmin + {int(pred_lo_off)}
                              OR bmin > dmin + {int(pred_hi_off)}
                              THEN 0 ELSE nrows END) AS DOUBLE)
                         / CAST(MAX(n) AS DOUBLE), 6) AS scan_frac
            FROM blocks
          )""")
    union = " UNION ALL ".join(arms)
    return f"SELECT * FROM ({union}) ORDER BY layout"
