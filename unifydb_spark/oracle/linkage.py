"""DuckDB oracle twins of the operators in `unifydb_spark.operators.linkage`."""


def block_link_sql(
    clean_sql: str,
    dirty_sql: str,
    block_len: int = 6,
    max_dist: int = 2,
) -> str:
    """DuckDB twin; `clean_sql` / `dirty_sql` are subqueries yielding
    (id, name)."""
    return f"""
        WITH c AS (
          SELECT id AS clean_id, name AS clean_name,
                 substr(name, 1, {block_len}) AS block
          FROM ({clean_sql})
        ), d AS (
          SELECT id AS dirty_id, name AS dirty_name,
                 substr(name, 1, {block_len}) AS block
          FROM ({dirty_sql})
        ), cand AS (
          SELECT dirty_id, clean_id,
                 levenshtein(dirty_name, clean_name) AS dist
          FROM d JOIN c USING (block)
        )
        SELECT dirty_id, clean_id, CAST(dist AS BIGINT) AS dist
        FROM cand WHERE dist <= {max_dist}
        QUALIFY row_number() OVER (PARTITION BY dirty_id
                                   ORDER BY dist, clean_id) = 1
        ORDER BY dirty_id
    """
