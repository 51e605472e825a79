"""DuckDB oracle twins of the operators in `unifydb_spark.operators.events`."""

from __future__ import annotations


def sessionize_sql(table: str = "events", gap_minutes: int = 30) -> str:
    gap_us = int(gap_minutes) * 60 * 1_000_000
    return f"""
        WITH tagged AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {gap_us}
                      THEN 1 ELSE 0 END AS new_sess
          FROM {table}
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), runs AS (
          SELECT user_id, ts, value,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_seq
          FROM tagged
        )
        SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events,
               ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE), 4) AS sum_value
        FROM runs GROUP BY 1, 2 ORDER BY 1, 2
    """


def asof_latest_sql(
    table: str = "events",
    left_type: str = "purchase",
    right_type: str = "click",
) -> str:
    return f"""
        WITH marked AS (
          SELECT event_id, user_id, ts, event_type,
                 last_value(CASE WHEN event_type = '{right_type}'
                                 THEN event_id END IGNORE NULLS)
                   OVER w AS ref_event_id,
                 last_value(CASE WHEN event_type = '{right_type}'
                                 THEN epoch_us(ts) END IGNORE NULLS)
                   OVER w AS ref_us
          FROM {table}
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id, user_id, ts, ref_event_id,
               epoch_us(ts) - ref_us AS lag_us
        FROM marked WHERE event_type = '{left_type}'
        ORDER BY event_id
    """


def rolling_user_stats_sql(table: str = "events", window_rows: int = 5) -> str:
    lo = int(window_rows) - 1
    return f"""
        SELECT event_id, user_id, ts,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS seq,
               COUNT(*) OVER wf AS roll_n,
               ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) OVER wf AS VARCHAR)
                          AS DOUBLE) / (COUNT(*) OVER wf), 4) AS roll_avg,
               ROUND(CAST(value AS DOUBLE)
                     - lag(CAST(value AS DOUBLE)) OVER w, 4) AS delta
        FROM {table}
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
               wf AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN {lo} PRECEDING AND CURRENT ROW)
        ORDER BY event_id
    """


def resample_ffill_sql(table: str = "events", freq: str = "hour") -> str:
    return f"""
        WITH obs AS (
          SELECT user_id, date_trunc('{freq}', ts) AS bucket,
                 arg_max(value, event_id) AS obs_value
          FROM {table} GROUP BY 1, 2
        ), grid AS (
          SELECT user_id,
                 unnest(generate_series(b0, b1, INTERVAL 1 {freq})) AS bucket
          FROM (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
                FROM obs GROUP BY 1)
        )
        SELECT g.user_id, g.bucket,
               ROUND(last_value(o.obs_value IGNORE NULLS)
                     OVER (PARTITION BY g.user_id ORDER BY g.bucket
                           ROWS UNBOUNDED PRECEDING), 4) AS value,
               o.obs_value IS NOT NULL AS is_observed
        FROM grid g LEFT JOIN obs o
          ON g.user_id = o.user_id AND g.bucket = o.bucket
        ORDER BY 1, 2
    """


def funnel_sql(
    table: str = "events",
    steps: tuple = ("view", "click", "purchase"),
) -> str:
    # window aliases can't reference each other inside one SELECT — stack
    # one subquery per step (same partitioning each time, mirroring the
    # stacked Window passes on the Spark side)
    sql = f"SELECT user_id, epoch_us(ts) AS us, event_type FROM {table}"
    prev = None
    for i, step in enumerate(steps, start=1):
        cond = f"event_type = '{step}'"
        if prev is not None:
            cond += f" AND us > {prev}"
        sql = (
            f"SELECT *, MIN(CASE WHEN {cond} THEN us END)"
            f" OVER (PARTITION BY user_id) AS t{i}_us FROM ({sql})"
        )
        prev = f"t{i}_us"
    ts_cols = ", ".join(
        f"MIN(t{i}_us) AS t{i}_us" for i in range(1, len(steps) + 1)
    )
    stage = "CASE " + " ".join(
        f"WHEN MIN(t{i}_us) IS NOT NULL THEN {i}"
        for i in range(len(steps), 0, -1)
    ) + " ELSE 0 END"
    return f"""
        SELECT user_id, {ts_cols}, CAST({stage} AS INT) AS stage
        FROM ({sql}) GROUP BY user_id ORDER BY user_id
    """


def retention_cohorts_sql(table: str = "events") -> str:
    return f"""
        WITH days AS (
          SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
          FROM {table}
        ), first AS (
          SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY 1
        )
        SELECT cohort_day,
               CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
               COUNT(*) AS n_users
        FROM days JOIN first USING (user_id)
        GROUP BY 1, 2 ORDER BY 1, 2
    """


def interval_activity_sql(table: str = "events", user_mod: int = 11) -> str:
    """DuckDB oracle: the same containment as a plain BETWEEN theta-join
    (the binned equi-join must reproduce it exactly)."""
    return f"""
        WITH firsts AS (
          SELECT user_id AS owner, MIN(ts) AS start_ts
          FROM {table} WHERE user_id % {user_mod} = 0 GROUP BY 1
        ), iv AS (
          SELECT owner, start_ts,
                 start_ts + to_hours(owner % 72) AS end_ts
          FROM firsts
        )
        SELECT owner, COUNT(*) AS n_events,
               ROUND(CAST(CAST(SUM(CAST(e.value AS DECIMAL(30,10)))
                     AS VARCHAR) AS DOUBLE), 4) AS sum_value
        FROM iv JOIN {table} e
          ON epoch_us(e.ts) >= epoch_us(iv.start_ts)
         AND epoch_us(e.ts) < epoch_us(iv.end_ts)
        GROUP BY 1 ORDER BY 1
    """


def scd2_intervals_sql(
    table: str = "events",
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
    current_sentinel: str = "9999-12-31 00:00:00",
) -> str:
    return f"""
        WITH changed AS (
          SELECT {key_col}, {attr_col}, {ts_col}, {seq_col}
          FROM (
            SELECT {key_col}, {attr_col}, {ts_col}, {seq_col},
                   LAG({attr_col}) OVER (PARTITION BY {key_col}
                        ORDER BY {ts_col}, {seq_col}) AS prev,
                   ROW_NUMBER() OVER (PARTITION BY {key_col}
                        ORDER BY {ts_col}, {seq_col}) AS rn
            FROM {table}
          ) WHERE rn = 1 OR {attr_col} IS DISTINCT FROM prev
        )
        SELECT {key_col}, {attr_col},
               strftime({ts_col}, '%Y-%m-%d %H:%M:%S') AS valid_from,
               COALESCE(strftime(LEAD({ts_col}) OVER (PARTITION BY {key_col}
                        ORDER BY {ts_col}, {seq_col}), '%Y-%m-%d %H:%M:%S'),
                        '{current_sentinel}') AS valid_to,
               LEAD({ts_col}) OVER (PARTITION BY {key_col}
                    ORDER BY {ts_col}, {seq_col}) IS NULL AS is_current
        FROM changed ORDER BY {key_col}, valid_from
    """


def rolling_metrics_sql(
    table: str = "events",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    seq_col: str = "event_id",
    window_hours: int = 24,
) -> str:
    span = int(window_hours) * 3600 * 1_000_000
    return f"""
        SELECT {seq_col}, {key_col},
               strftime({ts_col}, '%Y-%m-%d %H:%M:%S') AS ts_s,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_win,
               ROUND(CAST(CAST(SUM(CAST({value_col} AS DECIMAL(30,10)))
                     OVER w AS VARCHAR) AS DOUBLE), 4) AS sum_win
        FROM {table}
        WINDOW w AS (PARTITION BY {key_col} ORDER BY epoch_us({ts_col})
                     RANGE BETWEEN {span - 1} PRECEDING AND CURRENT ROW)
        ORDER BY {seq_col}
    """


def rate_anomaly_sql(
    table: str = "events",
    type_col: str = "event_type",
    ts_col: str = "ts",
    lookback_days: int = 7,
    threshold: float = 3.0,
) -> str:
    lb = int(lookback_days)
    return f"""
        WITH daily AS (
          SELECT {type_col} AS etype,
                 CAST(date_trunc('day', {ts_col}) AS DATE)
                   - DATE '1970-01-01' AS d,
                 COUNT(*) AS c
          FROM {table} GROUP BY 1, 2
        ), bounds AS (
          SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily
        ), spine AS (
          SELECT t.etype, CAST(u.d AS BIGINT) AS d
          FROM (SELECT DISTINCT etype FROM daily) t,
               bounds, unnest(generate_series(bounds.lo, bounds.hi)) AS u(d)
        ), dense AS (
          SELECT s.etype, s.d, CAST(COALESCE(daily.c, 0) AS BIGINT) AS c
          FROM spine s LEFT JOIN daily USING (etype, d)
        ), win AS (
          SELECT etype, d, c,
                 COUNT(*) OVER w AS nh,
                 SUM(c) OVER w AS s,
                 SUM(c * c) OVER w AS ss
          FROM dense
          WINDOW w AS (PARTITION BY etype ORDER BY d
                       ROWS BETWEEN {lb} PRECEDING AND 1 PRECEDING)
        )
        SELECT etype AS {type_col},
               strftime(DATE '1970-01-01' + CAST(d AS INT), '%Y-%m-%d')
                 AS day,
               c AS n_events,
               CAST(nh AS BIGINT) AS n_history,
               ROUND(CASE WHEN nh >= 1
                     THEN CAST(s AS DOUBLE) / CAST(nh AS DOUBLE) END, 6)
                 AS base_mean,
               ROUND(CASE WHEN nh >= 2
                          AND (CAST(ss AS DOUBLE)
                               - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                                 / CAST(nh AS DOUBLE))
                              / (CAST(nh AS DOUBLE) - 1.0) > 0
                     THEN (c - CAST(s AS DOUBLE) / CAST(nh AS DOUBLE))
                          / sqrt((CAST(ss AS DOUBLE)
                                  - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                                    / CAST(nh AS DOUBLE))
                                 / (CAST(nh AS DOUBLE) - 1.0))
                     END, 6) AS zscore,
               COALESCE(ABS(
                 CASE WHEN nh >= 2
                          AND (CAST(ss AS DOUBLE)
                               - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                                 / CAST(nh AS DOUBLE))
                              / (CAST(nh AS DOUBLE) - 1.0) > 0
                 THEN (c - CAST(s AS DOUBLE) / CAST(nh AS DOUBLE))
                      / sqrt((CAST(ss AS DOUBLE)
                              - (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                                / CAST(nh AS DOUBLE))
                             / (CAST(nh AS DOUBLE) - 1.0))
                 END) > {float(threshold)!r}, FALSE) AS is_anomaly
        FROM win ORDER BY {type_col}, day
    """


def interval_union_time_sql(
    intervals_sql: str,
    key_col: str = "user_id",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> str:
    """Oracle twin: identical boundary explosion (+1 before -1 on
    ties), running depth, covered-piece sum. `intervals_sql` selects
    (key_col, start_col, end_col)."""
    return f"""
        WITH iv AS ({intervals_sql}),
        b AS (
          SELECT {key_col} AS k, epoch_us({start_col}) AS t, 1 AS d FROM iv
          UNION ALL
          SELECT {key_col}, epoch_us({end_col}), -1 FROM iv
        ), runs AS (
          SELECT k, t, d,
                 SUM(d) OVER (PARTITION BY k ORDER BY t ASC, d DESC
                              ROWS UNBOUNDED PRECEDING) AS depth,
                 LEAD(t) OVER (PARTITION BY k ORDER BY t ASC, d DESC)
                   AS nxt_t
          FROM b
        ), agg AS (
          SELECT k,
                 CAST(SUM(CASE WHEN depth > 0 THEN nxt_t - t ELSE 0 END)
                      AS BIGINT) AS covered_us,
                 CAST(MAX(t) - MIN(t) AS BIGINT) AS span_us
          FROM runs GROUP BY 1
        ), n AS (
          SELECT {key_col} AS k, CAST(COUNT(*) AS BIGINT) AS n_intervals
          FROM iv GROUP BY 1
        )
        SELECT k AS {key_col}, n_intervals, covered_us, span_us
        FROM agg JOIN n USING (k) ORDER BY {key_col}
    """


def event_transitions_sql(
    table: str = "events",
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> str:
    return f"""
        WITH lagged AS (
          SELECT {type_col} AS to_type,
                 LAG({type_col}) OVER (PARTITION BY {key_col}
                      ORDER BY {ts_col}, {seq_col}) AS from_type
          FROM {table}
        ), pairs AS (
          SELECT from_type, to_type, COUNT(*) AS n
          FROM lagged WHERE from_type IS NOT NULL GROUP BY 1, 2
        ), totals AS (
          SELECT from_type, SUM(n) AS tot FROM pairs GROUP BY 1
        )
        SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
               ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS p
        FROM pairs JOIN totals USING (from_type)
        ORDER BY from_type, to_type
    """


def association_rules_sql(
    table: str = "events",
    basket_col: str = "user_id",
    item_col: str = "event_type",
    min_support: float = 0.01,
) -> str:
    return f"""
        WITH bi AS (
          SELECT DISTINCT {basket_col} AS b, {item_col} AS item
          FROM {table}
        ), nb AS (SELECT COUNT(DISTINCT b) AS n FROM bi),
        ic AS (SELECT item, COUNT(*) AS ni FROM bi GROUP BY 1),
        pairs AS (
          SELECT x.item AS antecedent, y.item AS consequent,
                 COUNT(*) AS n_both
          FROM bi x JOIN bi y ON x.b = y.b AND x.item != y.item
          GROUP BY 1, 2
        )
        SELECT antecedent, consequent,
               CAST(n_both AS BIGINT) AS n_both,
               ROUND(CAST(n_both AS DOUBLE) / nb.n, 6) AS support,
               ROUND(CAST(n_both AS DOUBLE) / na.ni, 6) AS confidence,
               ROUND((CAST(n_both AS DOUBLE) / na.ni)
                     / (CAST(nc.ni AS DOUBLE) / nb.n), 6) AS lift
        FROM pairs
        JOIN ic na ON na.item = pairs.antecedent
        JOIN ic nc ON nc.item = pairs.consequent, nb
        WHERE CAST(n_both AS DOUBLE) / nb.n >= {float(min_support)!r}
        ORDER BY antecedent, consequent
    """


def session_paths_sql(
    table: str = "events",
    gap_minutes: int = 30,
    top_k: int = 20,
) -> str:
    gap_us = int(gap_minutes) * 60 * 1_000_000
    return f"""
        WITH tagged AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {gap_us}
                      THEN 1 ELSE 0 END AS new_sess
          FROM {table}
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), runs AS (
          SELECT user_id, ts, event_id, event_type,
                 SUM(new_sess) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                   AS session_seq
          FROM tagged
        ), per_sess AS (
          SELECT user_id, session_seq,
                 array_to_string(list(event_type ORDER BY ts, event_id),
                                 '>') AS path,
                 COUNT(*) AS len
          FROM runs GROUP BY 1, 2
        )
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
               ROUND(CAST(SUM(len) AS DOUBLE) / COUNT(*), 4) AS avg_len
        FROM per_sess GROUP BY 1
        ORDER BY n_sessions DESC, path LIMIT {int(top_k)}
    """


def survival_curve_sql(
    durations_sql: str,
    duration_col: str = "duration",
    event_col: str = "observed",
) -> str:
    return f"""
        WITH src AS ({durations_sql}),
        per_t AS (
          SELECT CAST({duration_col} AS DOUBLE) AS t,
                 SUM(CASE WHEN {event_col} THEN 1 ELSE 0 END) AS d_i,
                 SUM(CASE WHEN {event_col} THEN 0 ELSE 1 END) AS c_i
          FROM src GROUP BY 1
        ), stepped AS (
          SELECT t, d_i, c_i,
                 SUM(d_i + c_i) OVER ()
                   - COALESCE(SUM(d_i + c_i) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS n_risk
          FROM per_t
        )
        SELECT ROUND(t, 6) AS duration,
               CAST(n_risk AS BIGINT) AS n_risk,
               CAST(d_i AS BIGINT) AS n_events,
               CAST(c_i AS BIGINT) AS n_censored,
               ROUND(CASE WHEN MAX(CASE WHEN d_i = n_risk THEN 1 ELSE 0 END)
                          OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 1
                     THEN 0.0
                     ELSE EXP(SUM(CASE WHEN d_i > 0 AND d_i < n_risk
                          THEN ROUND(ln(1.0 - CAST(d_i AS DOUBLE) / n_risk),
                                     12)
                          ELSE 0.0 END) OVER (ORDER BY t
                            ROWS UNBOUNDED PRECEDING))
                     END, 6) AS survival
        FROM stepped ORDER BY duration
    """


def daily_acf_sql(
    table: str = "events", ts_col: str = "ts", max_lag: int = 7
) -> str:
    lags = ", ".join(str(k) for k in range(1, int(max_lag) + 1))
    return f"""
        WITH daily AS (
          SELECT CAST(date_trunc('day', {ts_col}) AS DATE)
                   - DATE '1970-01-01' AS d, COUNT(*) AS c
          FROM {table} GROUP BY 1
        ), bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
        spine AS (
          SELECT unnest(range(lo, hi + 1)) AS d FROM bounds
        ), dense AS (
          SELECT s.d, CAST(COALESCE(daily.c, 0) AS BIGINT) AS c
          FROM spine s LEFT JOIN daily USING (d)
        ), tot AS (
          SELECT COUNT(*) AS n, SUM(c) AS s, SUM(c * c) AS ss FROM dense
        ), pairs AS (
          SELECT l.lag,
                 COUNT(*) AS n_pairs,
                 SUM(a.c * b.c) AS sxy,
                 SUM(a.c) AS sx, SUM(b.c) AS sy
          FROM dense a
          JOIN (SELECT unnest([{lags}]) AS lag) l ON TRUE
          JOIN dense b ON b.d = a.d + l.lag
          GROUP BY 1
        )
        SELECT CAST(lag AS INT) AS lag,
               CAST(n_pairs AS BIGINT) AS n_pairs,
               ROUND(CASE WHEN CAST(ss AS DOUBLE)
                          - CAST(s AS DOUBLE)
                            * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) > 0
                     THEN (CAST(sxy AS DOUBLE)
                           - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                             * CAST(sx + sy AS DOUBLE)
                           + CAST(n_pairs AS DOUBLE)
                             * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                             * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                          / (CAST(ss AS DOUBLE)
                             - CAST(s AS DOUBLE)
                               * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                     END, 6) AS acf
        FROM pairs, tot ORDER BY lag
    """


def cusum_shift_sql(table: str = "events", ts_col: str = "ts") -> str:
    return f"""
        WITH daily AS (
          SELECT CAST(date_trunc('day', {ts_col}) AS DATE)
                   - DATE '1970-01-01' AS d, COUNT(*) AS c
          FROM {table} GROUP BY 1
        ), bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
        spine AS (SELECT unnest(range(lo, hi + 1)) AS d FROM bounds),
        dense AS (
          SELECT s.d, CAST(COALESCE(daily.c, 0) AS BIGINT) AS c
          FROM spine s LEFT JOIN daily USING (d)
        ), tot AS (SELECT COUNT(*) AS n, SUM(c) AS s FROM dense),
        scaled AS (
          SELECT d, c, n, s,
                 20 * n * SUM(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                   - 21 * ROW_NUMBER() OVER (ORDER BY d) * s AS kpos,
                 19 * ROW_NUMBER() OVER (ORDER BY d) * s
                   - 20 * n * SUM(c) OVER (ORDER BY d ROWS UNBOUNDED
                                           PRECEDING) AS kneg
          FROM dense, tot
        )
        SELECT d, c,
               ROUND(CAST(kpos - MIN(kpos) OVER (ORDER BY d
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                     / (20.0 * CAST(n AS DOUBLE)), 6) AS cusum_pos,
               ROUND(CAST(kneg - MIN(kneg) OVER (ORDER BY d
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                     / (20.0 * CAST(n AS DOUBLE)), 6) AS cusum_neg,
               kpos - MIN(kpos) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                 > 20 * s AS flag_pos,
               kneg - MIN(kneg) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                 > 20 * s AS flag_neg
        FROM scaled ORDER BY d
    """


def active_users_sql(
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> str:
    return f"""
        WITH ud AS (
          SELECT DISTINCT {user_col} AS u,
                 CAST(date_trunc('day', {ts_col}) AS DATE)
                   - DATE '1970-01-01' AS d0
          FROM {table}
        ), bounds AS (SELECT MIN(d0) AS lo, MAX(d0) AS hi FROM ud),
        spine AS (SELECT unnest(range(lo, hi + 1)) AS d FROM bounds),
        dau AS (SELECT d0 AS d, COUNT(*) AS dau FROM ud GROUP BY 1),
        wau AS (
          SELECT d, COUNT(*) AS wau FROM (
            SELECT DISTINCT u, d0 + s.x AS d
            FROM ud, (SELECT unnest(range(0, 7)) AS x) s
          ) GROUP BY 1
        ), mau AS (
          SELECT d, COUNT(*) AS mau FROM (
            SELECT DISTINCT u, d0 + s.x AS d
            FROM ud, (SELECT unnest(range(0, 30)) AS x) s
          ) GROUP BY 1
        )
        SELECT s.d,
               CAST(COALESCE(dau.dau, 0) AS BIGINT) AS dau,
               CAST(COALESCE(wau.wau, 0) AS BIGINT) AS wau,
               CAST(COALESCE(mau.mau, 0) AS BIGINT) AS mau,
               ROUND(CASE WHEN COALESCE(mau.mau, 0) > 0 THEN
                 CAST(COALESCE(dau.dau, 0) AS DOUBLE)
                 / CAST(mau.mau AS DOUBLE) END, 6) AS stickiness
        FROM spine s
        LEFT JOIN dau ON dau.d = s.d
        LEFT JOIN wau ON wau.d = s.d
        LEFT JOIN mau ON mau.d = s.d
        ORDER BY s.d
    """


def new_vs_returning_sql(
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> str:
    return f"""
        WITH ud AS (
          SELECT DISTINCT {user_col} AS u,
                 CAST(date_trunc('day', {ts_col}) AS DATE)
                   - DATE '1970-01-01' AS d
          FROM {table}
        ), first AS (SELECT u, MIN(d) AS first_d FROM ud GROUP BY 1),
        agg AS (
          SELECT d, COUNT(*) AS active,
                 SUM(CASE WHEN d = first_d THEN 1 ELSE 0 END) AS new_users
          FROM ud JOIN first USING (u) GROUP BY 1
        )
        SELECT d, CAST(active AS BIGINT) AS active,
               CAST(new_users AS BIGINT) AS new_users,
               CAST(active - new_users AS BIGINT) AS returning,
               ROUND(CAST(new_users AS DOUBLE) / CAST(active AS DOUBLE), 6)
                 AS new_frac
        FROM agg ORDER BY d
    """


def engagement_curve_sql(
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> str:
    return f"""
        WITH ud AS (
          SELECT DISTINCT {user_col} AS u,
                 CAST(date_trunc('day', {ts_col}) AS DATE)
                   - DATE '1970-01-01' AS d
          FROM {table}
        ), per_user AS (SELECT u, COUNT(*) AS k FROM ud GROUP BY 1),
        hist AS (SELECT k, COUNT(*) AS users FROM per_user GROUP BY 1),
        tot AS (SELECT SUM(users) AS n FROM hist)
        SELECT CAST(k AS INT) AS active_days,
               CAST(users AS BIGINT) AS users,
               ROUND(CAST(users AS DOUBLE) / CAST(n AS DOUBLE), 6)
                 AS user_share,
               ROUND(CAST(SUM(users) OVER (ORDER BY k
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                     / CAST(n AS DOUBLE), 6) AS cum_share
        FROM hist, tot ORDER BY active_days
    """


def seasonal_anomaly_sql(
    table: str = "events",
    type_col: str = "event_type",
    ts_col: str = "ts",
    threshold: float = 3.0,
) -> str:
    return f"""
        WITH daily AS (
          SELECT {type_col} AS etype,
                 CAST(date_trunc('day', {ts_col}) AS DATE)
                   - DATE '1970-01-01' AS d,
                 COUNT(*) AS c
          FROM {table} GROUP BY 1, 2
        ), bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
        spine AS (
          SELECT t.etype, s.d
          FROM (SELECT unnest(range(lo, hi + 1)) AS d FROM bounds) s,
               (SELECT DISTINCT etype FROM daily) t
        ), dense AS (
          SELECT s.etype, s.d,
                 CAST(COALESCE(daily.c, 0) AS BIGINT) AS c,
                 CAST(s.d % 7 AS INT) AS wd
          FROM spine s LEFT JOIN daily
            ON daily.etype = s.etype AND daily.d = s.d
        ), prof AS (
          SELECT etype, wd, COUNT(*) AS nw, SUM(c) AS sw,
                 SUM(c * c) AS ssw
          FROM dense GROUP BY 1, 2
        )
        SELECT d.etype, d.d, d.wd, d.c,
               ROUND(CASE WHEN nw >= 4
                     AND (CAST(ssw - d.c * d.c AS DOUBLE)
                          - CAST(sw - d.c AS DOUBLE)
                            * (CAST(sw - d.c AS DOUBLE)
                               / CAST(nw - 1 AS DOUBLE)))
                         / (CAST(nw - 1 AS DOUBLE) - 1.0) > 0
                     THEN (CAST(d.c AS DOUBLE)
                           - CAST(sw - d.c AS DOUBLE)
                             / CAST(nw - 1 AS DOUBLE))
                          / SQRT((CAST(ssw - d.c * d.c AS DOUBLE)
                                  - CAST(sw - d.c AS DOUBLE)
                                    * (CAST(sw - d.c AS DOUBLE)
                                       / CAST(nw - 1 AS DOUBLE)))
                                 / (CAST(nw - 1 AS DOUBLE) - 1.0))
                     END, 6) AS z,
               COALESCE(ABS(CASE WHEN nw >= 4
                     AND (CAST(ssw - d.c * d.c AS DOUBLE)
                          - CAST(sw - d.c AS DOUBLE)
                            * (CAST(sw - d.c AS DOUBLE)
                               / CAST(nw - 1 AS DOUBLE)))
                         / (CAST(nw - 1 AS DOUBLE) - 1.0) > 0
                     THEN (CAST(d.c AS DOUBLE)
                           - CAST(sw - d.c AS DOUBLE)
                             / CAST(nw - 1 AS DOUBLE))
                          / SQRT((CAST(ssw - d.c * d.c AS DOUBLE)
                                  - CAST(sw - d.c AS DOUBLE)
                                    * (CAST(sw - d.c AS DOUBLE)
                                       / CAST(nw - 1 AS DOUBLE)))
                                 / (CAST(nw - 1 AS DOUBLE) - 1.0))
                     END) > {float(threshold)!r}, FALSE) AS anomaly
        FROM dense d JOIN prof USING (etype, wd)
        ORDER BY etype, d
    """


def peak_concurrency_sql(
    intervals_cte: str, group_col: str | None = None
) -> str:
    """Oracle over an `iv` CTE with columns (s, e) as epoch-second
    doubles (+ group_col if grouped)."""
    g = f"{group_col}, " if group_col else ""
    part = f"PARTITION BY {group_col} " if group_col else ""
    gb = f"GROUP BY {group_col}" if group_col else ""
    return f"""
        WITH iv AS ({intervals_cte}),
        bounds AS (
          SELECT {g}s AS t, 1 AS delta, 1 AS ord FROM iv
          UNION ALL
          SELECT {g}e AS t, -1 AS delta, 0 AS ord FROM iv
        ), run AS (
          SELECT {g}t,
                 SUM(delta) OVER ({part}ORDER BY t, ord
                   ROWS UNBOUNDED PRECEDING) AS cur
          FROM bounds
        ), peak AS (
          SELECT {g}MAX(cur) AS peak FROM run {gb}
        ), n AS (
          SELECT {g}COUNT(*) AS n_intervals FROM iv {gb}
        )
        SELECT {('n.' + group_col + ', ') if group_col else ''}
               CAST(n.n_intervals AS BIGINT) AS n_intervals,
               CAST(p.peak AS BIGINT) AS peak,
               ROUND(MIN(r.t), 6) AS peak_at
        FROM run r
        JOIN peak p ON r.cur = p.peak
          {('AND r.' + group_col + ' = p.' + group_col) if group_col else ''}
        JOIN n ON TRUE
          {('AND n.' + group_col + ' = p.' + group_col) if group_col else ''}
        GROUP BY {('n.' + group_col + ', ') if group_col else ''}
                 n.n_intervals, p.peak
    """


def overdispersion_check_sql(
    table: str = "events",
    type_col: str = "event_type",
    ts_col: str = "ts",
    fano_threshold: float = 1.5,
) -> str:
    mean = "CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)"
    var = (
        f"(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * ({mean}))"
        f" / (CAST(n_days AS DOUBLE) - 1.0)"
    )
    fano = f"CASE WHEN {mean} > 0 THEN ({var}) / ({mean}) END"
    return f"""
        WITH daily AS (
          SELECT {type_col} AS etype,
                 CAST(date_trunc('day', {ts_col}) AS DATE)
                   - DATE '1970-01-01' AS d,
                 COUNT(*) AS c
          FROM {table} GROUP BY 1, 2
        ), bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
        spine AS (
          SELECT t.etype, s.d
          FROM (SELECT unnest(range(lo, hi + 1)) AS d FROM bounds) s,
               (SELECT DISTINCT etype FROM daily) t
        ), dense AS (
          SELECT s.etype, s.d, CAST(COALESCE(daily.c, 0) AS BIGINT) AS c
          FROM spine s LEFT JOIN daily
            ON daily.etype = s.etype AND daily.d = s.d
        ), agg AS (
          SELECT etype, COUNT(*) AS n_days, SUM(c) AS s,
                 SUM(c * c) AS ss
          FROM dense GROUP BY 1
        )
        SELECT etype, CAST(n_days AS BIGINT) AS n_days,
               ROUND({mean}, 6) AS mean_c,
               ROUND({fano}, 6) AS fano,
               ROUND(CASE WHEN {mean} > 0
                     THEN SQRT({var}) / ({mean}) END, 6) AS cv,
               COALESCE(({fano}) > {float(fano_threshold)!r}, FALSE)
                 AS overdispersed
        FROM agg ORDER BY etype
    """


def day_overlap_sql(
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> str:
    return f"""
        WITH ud AS (
          SELECT DISTINCT {user_col} AS u,
                 CAST(date_trunc('day', {ts_col}) AS DATE)
                   - DATE '1970-01-01' AS d
          FROM {table}
        ), daily AS (SELECT d, COUNT(*) AS active FROM ud GROUP BY 1),
        inter AS (
          SELECT a.d, COUNT(*) AS returned
          FROM ud a JOIN ud b ON a.u = b.u AND b.d = a.d - 1
          GROUP BY 1
        )
        SELECT c.d,
               CAST(c.active AS BIGINT) AS active,
               CAST(COALESCE(i.returned, 0) AS BIGINT) AS returned,
               ROUND(CAST(COALESCE(i.returned, 0) AS DOUBLE)
                     / CAST(c.active + p.active
                            - COALESCE(i.returned, 0) AS DOUBLE), 6)
                 AS jaccard,
               ROUND(CAST(COALESCE(i.returned, 0) AS DOUBLE)
                     / CAST(p.active AS DOUBLE), 6) AS return_rate
        FROM daily c
        JOIN daily p ON p.d = c.d - 1
        LEFT JOIN inter i ON i.d = c.d
        ORDER BY c.d
    """


def transition_entropy_sql(
    table: str = "events",
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> str:
    return f"""
        WITH pairs AS (
          SELECT from_type, to_type, COUNT(*) AS c FROM (
            SELECT {type_col} AS to_type,
                   LAG({type_col}) OVER (
                     PARTITION BY {key_col}
                     ORDER BY {ts_col} ASC, {seq_col} ASC) AS from_type
            FROM {table}
          ) WHERE from_type IS NOT NULL GROUP BY 1, 2
        ), tot AS (
          SELECT from_type, SUM(c) AS ct FROM pairs GROUP BY 1
        ), per_state AS (
          SELECT p.from_type,
                 CAST(MAX(t.ct) AS BIGINT) AS n_out,
                 CAST(COUNT(*) AS BIGINT) AS n_next_types,
                 ROUND(CAST(CAST(SUM(CAST(
                   -(CAST(p.c AS DOUBLE) / CAST(t.ct AS DOUBLE))
                   * LN(CAST(p.c AS DOUBLE) / CAST(t.ct AS DOUBLE))
                   AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE), 6)
                   AS entropy
          FROM pairs p JOIN tot t USING (from_type)
          GROUP BY 1
        ), grand AS (SELECT SUM(ct) AS gt FROM tot)
        SELECT from_type, n_out, n_next_types, entropy,
               ROUND(EXP(entropy), 4) AS perplexity,
               ROUND(CAST(n_out AS DOUBLE) / CAST(gt AS DOUBLE), 6)
                 AS share
        FROM per_state, grand ORDER BY from_type
    """


def exp_smoothing_sql(
    table: str = "events",
    alpha: float = 0.3,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    a = float(alpha)
    return f"""
        WITH daily AS (
          SELECT {type_col} AS t, CAST({ts_col} AS DATE) AS day,
                 CAST(CAST(SUM(CAST(CAST({value_col} AS DOUBLE)
                       AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE) AS x
          FROM {table} GROUP BY 1, 2
        ), idx AS (
          SELECT t, day, x,
                 ROW_NUMBER() OVER (PARTITION BY t ORDER BY day) - 1 AS i
          FROM daily
        ), pairs AS (
          SELECT r.t, r.day, r.i AS ti,
                 CAST(l.x * (CASE WHEN l.i = 0
                   THEN EXP(CAST(r.i - l.i AS DOUBLE)
                            * LN(1.0::DOUBLE - {a!r}))
                   ELSE {a!r} * EXP(CAST(r.i - l.i AS DOUBLE)
                                    * LN(1.0::DOUBLE - {a!r})) END)
                   AS DECIMAL(30,15)) AS term
          FROM idx r JOIN idx l ON l.t = r.t AND l.i <= r.i
        ), lvl AS (
          SELECT t, day,
                 ROUND(CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE), 6)
                   AS level
          FROM pairs GROUP BY 1, 2
        )
        SELECT i.t AS {type_col}, strftime(i.day, '%Y-%m-%d') AS day,
               ROUND(i.x, 6) AS x, lvl.level
        FROM idx i JOIN lvl ON lvl.t = i.t AND lvl.day = i.day
        ORDER BY 1, 2
    """


def bounce_report_sql(
    table: str = "events", gap_minutes: int = 30
) -> str:
    inner = sessionize_sql(table, gap_minutes)
    return f"""
        WITH s AS MATERIALIZED (SELECT * FROM ({inner})),
        per AS (
          SELECT strftime(CAST(session_start AS DATE), '%Y-%m-%d') AS day,
                 n_events,
                 CAST(epoch_us(session_end) - epoch_us(session_start)
                   AS DOUBLE) / 1000000.0 AS dur_s
          FROM s
        )
        SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_bounces,
               ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                     AS DOUBLE) / COUNT(*), 6) AS bounce_rate,
               ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6)
                 AS mean_events,
               ROUND(quantile_cont(dur_s, 0.5), 4) AS median_duration_s
        FROM per GROUP BY 1 ORDER BY 1
    """
