"""DuckDB oracle twins of the operators in `unifydb_spark.sources.ingest`."""


def ingest_summary_sql(
    path: str,
    fields: "list[tuple[str, str]]",
    group_col: str,
    value_col: str,
) -> str:
    """DuckDB twin of ingest_summary: read every raw line (read_csv
    with a delimiter/quote that never matches), classify with
    TRY_CAST(line AS JSON) + per-field TRY_CAST checks (a present field
    that fails its numeric cast marks the line corrupt — PERMISSIVE
    parity for the fixture's corrupt shapes), then the same per-group
    aggregate + quarantine-count union. `fields` is [(name, DUCKDB
    type), ...] in schema order."""
    checks = " AND ".join(
        f"NOT (j->>'$.{n}' IS NOT NULL"
        f" AND TRY_CAST(j->>'$.{n}' AS {t}) IS NULL)"
        for n, t in fields
        if t.upper() != "VARCHAR"
    )
    typed = ", ".join(
        f"TRY_CAST(j->>'$.{n}' AS {t}) AS {n}" for n, t in fields
    )
    return f"""
        WITH lines AS (
          SELECT raw_line FROM read_csv('{path}',
            columns={{'raw_line': 'VARCHAR'}}, header=false,
            delim='\t', quote='')
        ), parsed AS (
          SELECT raw_line, TRY_CAST(raw_line AS JSON) AS j FROM lines
        ), cls AS (
          SELECT raw_line, {typed},
                 (j IS NOT NULL AND {checks}) AS ok
          FROM parsed
        )
        SELECT {group_col} AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM({value_col}), 4) AS sum_value
        FROM cls WHERE ok GROUP BY 1
        UNION ALL
        SELECT '_quarantine', CAST(COUNT(*) AS BIGINT),
               CAST(NULL AS DOUBLE)
        FROM cls WHERE NOT ok
        ORDER BY bucket
    """
