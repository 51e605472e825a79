"""DuckDB oracle twins of the operators in `unifydb_spark.operators.multimodal`."""


def resize_sql(
    table: str = "documents",
    text_col: str = "text",
    out_w: int = 224,
    out_h: int = 224,
) -> str:
    w, h = int(out_w), int(out_h)
    return f"""
        SELECT doc_id, octet_length(encode({text_col})) AS n_bytes,
               {w} AS out_w, {h} AS out_h,
               least(octet_length(encode({text_col})), {w * h * 3}) AS out_bytes,
               md5(md5({text_col}) || '|{w}x{h}') AS resized_md5
        FROM {table} ORDER BY doc_id
    """


def frame_sample_sql(
    table: str = "documents",
    text_col: str = "text",
    fps_expr: str = "24",
    duration_expr: str = "1 + doc_id % 30",
    every_n: int = 24,
) -> str:
    step = int(every_n)
    return f"""
        WITH v AS (
          SELECT doc_id, md5({text_col}) AS digest,
                 CAST({fps_expr} AS BIGINT) AS fps,
                 CAST({duration_expr} AS BIGINT) AS duration_s
          FROM {table}
        )
        SELECT doc_id, frame_idx, frame_idx * 1000 // fps AS ts_ms,
               md5(digest || '#' || CAST(frame_idx AS VARCHAR)) AS frame_md5
        FROM (
          SELECT doc_id, digest, fps,
                 unnest(range(0, fps * duration_s, {step})) AS frame_idx
          FROM v
        )
        ORDER BY doc_id, frame_idx
    """


def features_sql(table: str = "documents", text_col: str = "text") -> str:
    """DuckDB oracle for the fake decode (md5 over the same utf-8 bytes)."""
    return f"""
        SELECT doc_id,
               octet_length(encode({text_col})) AS n_bytes,
               md5({text_col}) AS content_md5,
               (64 + strpos('0123456789abcdef', substr(md5({text_col}), 1, 1)) - 1)::INT AS pseudo_width,
               (64 + strpos('0123456789abcdef', substr(md5({text_col}), 2, 1)) - 1)::INT AS pseudo_height
        FROM {table} ORDER BY doc_id
    """


def audio_features_sql(table: str = "documents", window: int = 128) -> str:
    """DuckDB oracle: regenerate the synthetic samples symbolically and
    aggregate the identical integer sum-of-squares / RMS per window."""
    w = int(window)
    return f"""
        WITH s AS (
          SELECT doc_id, i // {w} AS win_idx,
                 ((doc_id * 31 + i * 17) % 65536) - 32768 AS smp
          FROM (
            SELECT doc_id,
                   unnest(range(0, 256 + (doc_id % 7) * 128)) AS i
            FROM {table}
          )
        )
        SELECT doc_id, CAST(win_idx AS INT) AS win_idx,
               CAST(COUNT(*) AS INT) AS n_samples,
               CAST(SUM(CAST(smp * smp AS BIGINT)) AS BIGINT) AS sum_sq,
               ROUND(SQRT(CAST(SUM(CAST(smp * smp AS BIGINT)) AS DOUBLE)
                          / COUNT(*)), 6) AS rms
        FROM s GROUP BY 1, 2 ORDER BY 1, 2
    """


def video_features_sql(
    table: str = "documents", width: int = 8, height: int = 8,
    every_n: int = 6,
) -> str:
    n_px, step = int(width) * int(height), int(every_n)
    return f"""
        WITH px AS (
          SELECT doc_id, frame_idx, i,
                 (doc_id * 7 + frame_idx * 13 + i * 3) % 256 AS y
          FROM (
            SELECT doc_id,
                   unnest(range(0, 5 + doc_id % 25, {step})) AS frame_idx
            FROM {table}
          ), (SELECT unnest(range(0, {n_px})) AS i)
        )
        SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
               CAST(SUM(y) AS BIGINT) AS sum_luma,
               CAST(SUM(y * (i + 1)) AS BIGINT) AS poly_hash,
               ROUND(CAST(SUM(y) AS DOUBLE) / {n_px}, 6) AS mean_luma
        FROM px GROUP BY 1, 2 ORDER BY 1, 2
    """


def image_features_real_sql(
    table: str = "documents", width: int = 8, height: int = 6
) -> str:
    n_b = int(width) * int(height) * 3
    return f"""
        WITH px AS (
          SELECT doc_id, i, (doc_id * 5 + i * 11) % 256 AS v
          FROM {table}, (SELECT unnest(range(0, {n_b})) AS i)
        )
        SELECT doc_id, {int(width)} AS width, {int(height)} AS height,
               CAST(SUM(v) AS BIGINT) AS sum_rgb,
               CAST(SUM(v * (i + 1)) AS BIGINT) AS poly_hash,
               ROUND(CAST(SUM(v) AS DOUBLE) / {n_b}, 6) AS mean_rgb
        FROM px GROUP BY 1 ORDER BY 1
    """


def image_ahash_dedup_sql(
    table: str = "documents", width: int = 8, height: int = 6, grid: int = 8
) -> str:
    """DuckDB oracle for image_ahash_dedup over synth_images: the
    synthetic pixel formula ((doc_id*5 + i*11) % 256) is SQL-replayable,
    so the oracle computes the SAME integer ahash from first principles
    — per-pixel grayscale sums, grid cells via the closed-form block
    bounds (yi*h)//grid <= y < ((yi+1)*h)//grid, the cross-multiplied
    integer mean compare, bit packing — while the Spark side goes
    through the real PNG encode->decode->pool path. Exact agreement
    therefore certifies codec + hash end to end (the q83 argument,
    extended to the perceptual hash). Empty cells (upsampling: grid >
    image dim) yield bit = 1 on both engines (0 >= 0)."""
    w, h, g = int(width), int(height), int(grid)
    n_b = w * h * 3
    ta = w * h
    return f"""
        WITH px AS (
          SELECT doc_id, i // 3 AS pidx,
                 SUM((doc_id * 5 + i * 11) % 256) AS gray
          FROM {table}, (SELECT unnest(range(0, {n_b})) AS i)
          GROUP BY 1, 2
        ), pos AS (
          SELECT doc_id, pidx // {w} AS y, pidx % {w} AS x, gray FROM px
        ), grid AS (
          SELECT yi.v AS yi, xi.v AS xi
          FROM (SELECT unnest(range(0, {g})) AS v) yi,
               (SELECT unnest(range(0, {g})) AS v) xi
        ), cells AS (
          SELECT d.doc_id, c.yi, c.xi,
                 COALESCE(SUM(p.gray), 0) AS cs,
                 COUNT(p.gray) AS ca
          FROM (SELECT DISTINCT doc_id FROM pos) d
          CROSS JOIN grid c
          LEFT JOIN pos p
            ON p.doc_id = d.doc_id
           AND p.y >= (c.yi * {h}) // {g} AND p.y < ((c.yi + 1) * {h}) // {g}
           AND p.x >= (c.xi * {w}) // {g} AND p.x < ((c.xi + 1) * {w}) // {g}
          GROUP BY 1, 2, 3
        ), tot AS (
          SELECT doc_id, SUM(gray) AS ts FROM pos GROUP BY 1
        ), bits AS (
          SELECT c.doc_id, c.yi * {g} + c.xi AS bitidx,
                 CASE WHEN c.cs * {ta} >= t.ts * c.ca THEN 1 ELSE 0 END AS bit
          FROM cells c JOIN tot t USING (doc_id)
        ), sig AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN bitidx >= 32
                          THEN bit * (CAST(1 AS BIGINT) << (bitidx - 32))
                          ELSE 0 END) AS BIGINT) AS ahash_hi,
                 CAST(SUM(CASE WHEN bitidx < 32
                          THEN bit * (CAST(1 AS BIGINT) << bitidx)
                          ELSE 0 END) AS BIGINT) AS ahash_lo
          FROM bits GROUP BY 1
        )
        SELECT doc_id, ahash_hi, ahash_lo,
               MIN(doc_id) OVER (PARTITION BY ahash_hi, ahash_lo)
                 AS canonical_id,
               CAST(COUNT(*) OVER (PARTITION BY ahash_hi, ahash_lo)
                    AS BIGINT) AS cluster_size
        FROM sig ORDER BY doc_id
    """


def audio_fingerprint_sql(
    table: str = "documents", window: int = 64
) -> str:
    """Oracle: regenerate the synth_audio samples symbolically
    (s_i = ((doc_id*31 + i*17) % 65536) - 32768 over
    n = 256 + (doc_id % 7)*128), window the exact energies, lag-compare,
    pack — same integers the real decode path must produce."""
    w = int(window)
    return f"""
        WITH doc AS (
          SELECT doc_id, 256 + (doc_id % 7) * 128 AS n FROM {table}
        ), px AS (
          SELECT doc_id, CAST(u.i AS BIGINT) AS i,
                 ((doc_id * 31 + u.i * 17) % 65536) - 32768 AS s
          FROM doc, unnest(generate_series(0, n - 1)) AS u(i)
        ), en AS (
          SELECT doc_id, i // {w} AS win, SUM(s * s) AS e
          FROM px GROUP BY 1, 2
        ), bits AS (
          SELECT doc_id, win,
                 CASE WHEN e > lag(e) OVER (PARTITION BY doc_id
                                            ORDER BY win)
                      THEN 1 ELSE 0 END AS bit
          FROM en
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(COALESCE(SUM(CASE WHEN win >= 1
                        THEN bit * (CAST(1 AS BIGINT) << CAST(win - 1 AS INT))
                        ELSE 0 END), 0) AS BIGINT) AS fingerprint
        FROM bits GROUP BY 1 ORDER BY 1
    """


def scene_changes_sql(
    table: str = "documents",
    width: int = 8,
    height: int = 8,
    threshold_num: int = 1,
    threshold_den: int = 8,
) -> str:
    """Oracle: regenerate synth_video's Y planes symbolically
    (Y[f][i] = (doc_id*7 + f*13 + i*3) % 256, n = 5 + doc_id % 25
    frames), frame sums + lag deltas + the same integer-rational cut
    compare."""
    n_px = int(width) * int(height)
    full = 255 * n_px
    return f"""
        WITH doc AS (
          SELECT doc_id, 5 + doc_id % 25 AS n_frames FROM {table}
        ), fr AS (
          SELECT doc_id, CAST(uf.f AS BIGINT) AS frame_idx
          FROM doc, unnest(generate_series(0, n_frames - 1)) AS uf(f)
        ), px AS (
          SELECT f.doc_id, f.frame_idx,
                 SUM((f.doc_id * 7 + f.frame_idx * 13 + u.i * 3) % 256)
                   AS luma_sum
          FROM fr f, unnest(generate_series(0, {n_px - 1})) AS u(i)
          GROUP BY 1, 2
        ), d AS (
          SELECT doc_id, frame_idx, CAST(luma_sum AS BIGINT) AS luma_sum,
                 CAST(COALESCE(ABS(luma_sum - lag(luma_sum)
                      OVER (PARTITION BY doc_id ORDER BY frame_idx)), 0)
                      AS BIGINT) AS delta,
                 lag(luma_sum) OVER (PARTITION BY doc_id
                                     ORDER BY frame_idx) IS NOT NULL
                   AS has_prev
          FROM px
        )
        SELECT doc_id, frame_idx, luma_sum, delta,
               has_prev AND delta * {int(threshold_den)}
                 > {full} * {int(threshold_num)} AS is_cut
        FROM d ORDER BY doc_id, frame_idx
    """


def image_stats_sql(
    table: str = "documents", width: int = 8, height: int = 6
) -> str:
    """Oracle: replay synth_images' pixel formula symbolically —
    gray(p) = sum_c (doc_id*5 + (3p + c)*11) % 256 — then the same
    histogram/window/entropy arithmetic."""
    npix = width * height
    g = (
        "((doc_id * 5 + (3 * p) * 11) % 256"
        " + (doc_id * 5 + (3 * p + 1) * 11) % 256"
        " + (doc_id * 5 + (3 * p + 2) * 11) % 256)"
    )
    return f"""
        WITH px AS (
          SELECT doc_id, {g} AS gray
          FROM (SELECT doc_id FROM {table}),
               range(0, {npix}) AS t(p)
        ), hist AS (
          SELECT doc_id, CAST(gray AS INT) AS gray, COUNT(*) AS cnt
          FROM px GROUP BY 1, 2
        ), h AS (
          SELECT doc_id, gray, cnt,
                 SUM(cnt) OVER (PARTITION BY doc_id ORDER BY gray
                                ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(cnt) OVER (PARTITION BY doc_id) AS n
          FROM hist
        )
        SELECT doc_id,
               CAST(MAX(n) AS BIGINT) AS n_pixels,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(MIN(CASE WHEN cum >= CEIL(n * 5 / 100)
                             THEN gray END) AS INT) AS p05,
               CAST(MIN(CASE WHEN cum >= CEIL(n * 95 / 100)
                             THEN gray END) AS INT) AS p95,
               CAST(MIN(CASE WHEN cum >= CEIL(n * 95 / 100) THEN gray END)
                    - MIN(CASE WHEN cum >= CEIL(n * 5 / 100) THEN gray END)
                 AS INT) AS contrast,
               ROUND(CAST(CAST(SUM(CAST(
                 -(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
                 * LN(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
                 AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE), 6) AS entropy
        FROM h GROUP BY doc_id ORDER BY doc_id
    """
