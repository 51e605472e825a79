"""DuckDB oracle twins of the operators in `unifydb_spark.streaming.stream`."""


def interval_join_sql(
    table: str = "events",
    left_type: str = "purchase",
    right_type: str = "click",
    lookback_minutes: int = 30,
) -> str:
    lb_us = int(lookback_minutes) * 60 * 1_000_000
    return f"""
        SELECT p.event_id AS purchase_id, p.user_id AS user_id,
               c.event_id AS click_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
        FROM {table} p JOIN {table} c
          ON p.user_id = c.user_id
         AND c.ts <= p.ts
         AND epoch_us(p.ts) - epoch_us(c.ts) <= {lb_us}
        WHERE p.event_type = '{left_type}' AND c.event_type = '{right_type}'
        ORDER BY purchase_id, click_id
    """
