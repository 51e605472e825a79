"""DuckDB oracle twins of the operators in `unifydb_spark.operators.dedup`."""

from unifydb_spark.oracle.text import shingles_sql_expr


def exact_dedup_sql(table: str = "documents", text_col: str = "text") -> str:
    return f"""
        SELECT doc_id, md5({text_col}) AS content_md5,
               MIN(doc_id) OVER (PARTITION BY md5({text_col})) AS canonical_id,
               COUNT(*) OVER (PARTITION BY md5({text_col})) AS cluster_size
        FROM {table} ORDER BY doc_id
    """


def ngram_jaccard_sql(
    table: str = "documents", text_col: str = "text", n: int = 3,
    threshold: float = 0.8,
) -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split({text_col}, ' '), w -> w != '') AS ws
          FROM {table}
        ), sh AS (
          SELECT DISTINCT doc_id, unnest({shingles_sql_expr(n)}) AS shingle FROM toks
        ), sizes AS (
          SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
        ), pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT d1, d2,
               ROUND(common::DOUBLE / (s1.n_sh + s2.n_sh - common), 6) AS jaccard
        FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        WHERE common::DOUBLE / (s1.n_sh + s2.n_sh - common) >= {threshold}
        ORDER BY d1, d2
    """


def embedding_rp_sql(
    table: str = "embeddings", id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int = 64,
    max_hamming: int = 7, n_blocks: int = 8,
) -> str:
    """DuckDB mirror of embedding_rp_pairs (same hash bits, same decimal
    projections, same blocks)."""
    from unifydb_spark.oracle.similarity import dot_sql

    width = 64 // n_blocks
    mask = (1 << width) - 1
    sum_exprs = []
    for b in range(64):
        j, kk = b // 4 + 1, b % 4
        nib = f"(strpos('0123456789abcdef', substr(h, {j}, 1)) - 1)"
        bit = f"((({nib}) >> {kk}) & 1)"
        sum_exprs.append(f"SUM(m * ({bit} * 2 - 1)) AS s{b}")
    lo = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN 1 ELSE 0 END)::BIGINT * {1 << (b % 32)}"
        for b in range(32)
    )
    hi = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN 1 ELSE 0 END)::BIGINT * {1 << (b % 32)}"
        for b in range(32, 64)
    )
    blocks = ", ".join(
        "{'blk': %d, 'v': (%s >> %d) & %d}"
        % (i, "lo" if i * width < 32 else "hi", (i * width) % 32, mask)
        for i in range(n_blocks)
    )
    n2 = dot_sql(vec_col, vec_col, dim)
    dotv = dot_sql("v1.vec", "v2.vec", dim)
    return f"""
        WITH ex AS (
          SELECT {id_col} AS vid, i - 1 AS dimn,
                 CAST(ROUND(CAST({vec_col}[i] AS DOUBLE) * 1000000.0)
                      AS BIGINT) AS m,
                 md5('rp:' || CAST(i - 1 AS VARCHAR)) AS h
          FROM {table}, generate_series(1, {dim}) AS t(i)
        ), sums AS (
          SELECT vid, {', '.join(sum_exprs)} FROM ex GROUP BY vid
        ), sig AS (
          SELECT vid, ({hi}) AS hi, ({lo}) AS lo FROM sums
        ), blocks AS (
          SELECT vid, hi, lo, unnest([{blocks}], recursive := true) FROM sig
        ), cand AS (
          SELECT DISTINCT a.vid AS id1, b.vid AS id2,
                 (bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))) AS hamming
          FROM blocks a JOIN blocks b
            ON a.blk = b.blk AND a.v = b.v AND a.vid < b.vid
          WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= {max_hamming}
        ), v AS (
          SELECT {id_col} AS vid, {vec_col} AS vec, {n2} AS n2 FROM {table}
        )
        SELECT c.id1, c.id2, c.hamming,
               ROUND({dotv} / (sqrt(v1.n2) * sqrt(v2.n2)), 8) AS cosine
        FROM cand c JOIN v v1 ON c.id1 = v1.vid JOIN v v2 ON c.id2 = v2.vid
        ORDER BY id1, id2
    """


def decontaminate_sql(
    table: str = "documents",
    benchmark_where: str = "TRUE",
    text_col: str = "text",
    n: int = 3,
) -> str:
    """DuckDB mirror: `benchmark_where` selects the benchmark rows out of
    the same table (the tests sample it deterministically)."""
    return f"""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split({text_col}, ' '), w -> w != '') AS ws
          FROM {table}
        ), sh AS (
          SELECT DISTINCT doc_id, unnest({shingles_sql_expr(n)}) AS shingle FROM toks
        ), bench AS (
          SELECT DISTINCT shingle FROM sh
          WHERE doc_id IN (SELECT doc_id FROM {table} WHERE {benchmark_where})
        ), sizes AS (
          SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY 1
        ), ov AS (
          SELECT doc_id, COUNT(*) AS n_overlap FROM sh
          WHERE shingle IN (SELECT shingle FROM bench) GROUP BY 1
        )
        SELECT d.doc_id,
               COALESCE(s.n_shingles, 0) AS n_shingles,
               COALESCE(o.n_overlap, 0) AS n_overlap,
               COALESCE(o.n_overlap, 0) > 0 AS contaminated
        FROM {table} d
        LEFT JOIN sizes s ON d.doc_id = s.doc_id
        LEFT JOIN ov o ON d.doc_id = o.doc_id
        ORDER BY d.doc_id
    """


def minhash_lsh_sql(
    table: str = "documents", text_col: str = "text", n: int = 3,
    k: int = 8, bands: int = 4,
) -> str:
    r = k // bands
    mh_exprs = ", ".join(
        f"MIN(md5('{i}:' || shingle)) AS mh{i}" for i in range(k)
    )
    band_selects = []
    for b in range(bands):
        cols = " || '|' || ".join(f"mh{b * r + j}" for j in range(r))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS band_key FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_selects)
    return f"""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split({text_col}, ' '), w -> w != '') AS ws
          FROM {table}
        ), sh AS (
          SELECT DISTINCT doc_id, unnest({shingles_sql_expr(n)}) AS shingle FROM toks
        ), sig AS (
          SELECT doc_id, {mh_exprs} FROM sh GROUP BY doc_id
        ), band_rows AS ({bands_sql})
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM band_rows a JOIN band_rows b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        ORDER BY d1, d2
    """


def minhash_incremental_sql(
    table: str = "documents",
    text_col: str = "text",
    batch_where: str = "doc_id % 4 = 0",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
) -> str:
    """DuckDB oracle for minhash_lsh_pairs_incremental: band rows over the
    whole table, pairs restricted to (batch, corpus) — identical band-key
    math, so the incremental path must reproduce this exactly."""
    r = k // bands
    mh_exprs = ", ".join(
        f"MIN(md5('{i}:' || shingle)) AS mh{i}" for i in range(k)
    )
    band_selects = []
    for b in range(bands):
        cols = " || '|' || ".join(f"mh{b * r + j}" for j in range(r))
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS band_key FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_selects)
    return f"""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split({text_col}, ' '), w -> w != '') AS ws
          FROM {table}
        ), sh AS (
          SELECT DISTINCT doc_id, unnest({shingles_sql_expr(n)}) AS shingle FROM toks
        ), sig AS (
          SELECT doc_id, {mh_exprs} FROM sh GROUP BY doc_id
        ), band_rows AS ({bands_sql})
        SELECT DISTINCT nb.doc_id AS new_doc_id, cb.doc_id AS corpus_doc_id
        FROM band_rows nb JOIN band_rows cb
          ON nb.band = cb.band AND nb.band_key = cb.band_key
         AND nb.doc_id != cb.doc_id
        WHERE nb.doc_id IN (SELECT doc_id FROM {table} WHERE {batch_where})
          AND cb.doc_id NOT IN (SELECT doc_id FROM {table} WHERE {batch_where})
        ORDER BY new_doc_id, corpus_doc_id
    """


def minhash_verified_sql(
    table: str = "documents", text_col: str = "text", n: int = 3,
    k: int = 8, bands: int = 4, threshold: float = 0.8,
) -> str:
    cand_sql = minhash_lsh_sql(table, text_col, n, k, bands)
    return f"""
        WITH cand AS ({cand_sql}),
        toks AS (
          SELECT doc_id, list_filter(string_split({text_col}, ' '), w -> w != '') AS ws
          FROM {table}
        ), sh AS (
          SELECT DISTINCT doc_id, unnest({shingles_sql_expr(n)}) AS shingle FROM toks
        ), sizes AS (
          SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
        ), common AS (
          SELECT c.d1, c.d2, COUNT(*) AS cm
          FROM cand c
          JOIN sh s1 ON s1.doc_id = c.d1
          JOIN sh s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
          GROUP BY 1, 2
        )
        SELECT c.d1, c.d2,
               ROUND(cm::DOUBLE / (z1.n_sh + z2.n_sh - cm), 6) AS jaccard
        FROM common c JOIN sizes z1 ON c.d1 = z1.doc_id
                      JOIN sizes z2 ON c.d2 = z2.doc_id
        WHERE cm::DOUBLE / (z1.n_sh + z2.n_sh - cm) >= {threshold}
        ORDER BY d1, d2
    """


def simhash_sql(
    table: str = "documents", text_col: str = "text", max_hamming: int = 3
) -> str:
    sum_exprs = []
    for b in range(64):
        j, kk = b // 4 + 1, b % 4
        nib = f"(strpos('0123456789abcdef', substr(h, {j}, 1)) - 1)"
        bit = f"((({nib}) >> {kk}) & 1)"
        sum_exprs.append(f"SUM(cnt * ({bit} * 2 - 1)) AS s{b}")
    lo = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN 1 ELSE 0 END)::BIGINT * {1 << (b % 32)}"
        for b in range(32)
    )
    hi = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN 1 ELSE 0 END)::BIGINT * {1 << (b % 32)}"
        for b in range(32, 64)
    )
    return f"""
        WITH tok AS (
          SELECT doc_id, unnest(list_filter(string_split({text_col}, ' '), w -> w != '')) AS w
          FROM {table}
        ), tc AS (
          SELECT doc_id, w, COUNT(*) AS cnt, md5(w) AS h FROM tok GROUP BY 1, 2, 4
        ), sums AS (
          SELECT doc_id, {', '.join(sum_exprs)} FROM tc GROUP BY doc_id
        ), sig AS (
          SELECT doc_id, ({hi}) AS hi, ({lo}) AS lo FROM sums
        ), blocks AS (
          SELECT doc_id, hi, lo, unnest([
            {{'blk': 0, 'v': lo & 65535}},
            {{'blk': 1, 'v': (lo >> 16) & 65535}},
            {{'blk': 2, 'v': hi & 65535}},
            {{'blk': 3, 'v': (hi >> 16) & 65535}}
          ], recursive := true) FROM sig
        )
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
               (bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))) AS hamming
        FROM blocks a JOIN blocks b
          ON a.blk = b.blk AND a.v = b.v AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= {max_hamming}
        ORDER BY d1, d2
    """


def dedup_clusters_sql(
    table: str = "documents", text_col: str = "text", n: int = 3,
    threshold: float = 0.8,
) -> str:
    pairs_sql = ngram_jaccard_sql(table, text_col, n, threshold)
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        und AS (
          SELECT d1 AS src, d2 AS dst FROM pairs
          UNION SELECT d2, d1 FROM pairs
        ),
        pnodes AS (SELECT src AS node FROM und UNION SELECT dst FROM und),
        reach(node, lbl) AS (
          SELECT node, node FROM pnodes
          UNION
          SELECT u.dst, r.lbl FROM und u JOIN reach r ON u.src = r.node
        ),
        cc AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
        labeled AS (
          SELECT d.doc_id, COALESCE(cc.component, d.doc_id) AS canonical_id
          FROM {table} d LEFT JOIN cc ON d.doc_id = cc.node
        )
        SELECT doc_id, canonical_id,
               COUNT(*) OVER (PARTITION BY canonical_id) AS cluster_size
        FROM labeled ORDER BY doc_id
    """


def embedding_neardup_ivf_sql(
    table: str = "embeddings", id_col: str = "vec_id",
    vec_col: str = "embedding", dim: int = 64, threshold: float = 0.95,
    n_centroids: "int | None" = None, nprobe: int = 2,
) -> str:
    """DuckDB mirror of embedding_neardup_ivf: same multi-probe
    assignment (same fold, same tie-break), same candidate set, same
    rounded-cosine threshold. n_centroids=None derives the k-tracks-n
    bound from COUNT(*) in SQL (similarity.auto_k_sql), matching the
    operator's default at every SF."""
    from unifydb_spark.operators.similarity import IVF_CENTROID_DIVISOR
    from unifydb_spark.oracle.similarity import auto_k_sql, dot_sql

    if n_centroids is None:
        n_centroids = auto_k_sql(table, IVF_CENTROID_DIVISOR, lo=16)
    n2 = dot_sql(vec_col, vec_col, dim)
    dot = dot_sql("v1.vec", "v2.vec", dim)
    return f"""
        WITH v AS (
          SELECT {id_col} AS vid, {vec_col} AS vec, {n2} AS n2 FROM {table}
        ), c AS (
          SELECT vid AS centroid_id, vec AS cvec, n2 AS cn2
          FROM v WHERE vid < {n_centroids}
        ), asn AS (
          SELECT vid, centroid_id FROM (
            SELECT v.vid, c.centroid_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY v.vid
                     ORDER BY {dot_sql("c.cvec", "v.vec", dim)}
                              / (sqrt(c.cn2) * sqrt(v.n2)) DESC,
                              c.centroid_id) AS rn
            FROM v CROSS JOIN c
          ) WHERE rn <= {nprobe}
        ), cand AS (
          SELECT DISTINCT a.vid AS id1, b.vid AS id2
          FROM asn a JOIN asn b
            ON a.centroid_id = b.centroid_id AND a.vid < b.vid
        )
        SELECT id1, id2,
               ROUND({dot} / (sqrt(v1.n2) * sqrt(v2.n2)), 8) AS cosine
        FROM cand JOIN v v1 ON cand.id1 = v1.vid
                  JOIN v v2 ON cand.id2 = v2.vid
        WHERE ROUND({dot} / (sqrt(v1.n2) * sqrt(v2.n2)), 8) >= {threshold}
        ORDER BY id1, id2
    """


def chunk_dedup_sql(
    table: str = "documents", text_col: str = "text", chunk_words: int = 12, max_dup_frac: float = 0.3
) -> str:
    cw = int(chunk_words)
    return f"""
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split({text_col}, ' '), w -> w != '') AS ws
          FROM {table}
        ), chunks AS (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(0, GREATEST(CAST((len(ws) + {cw - 1}) // {cw} AS INT) - 1, 0)),
                   i -> md5(array_to_string(ws[i*{cw}+1 : i*{cw}+{cw}], ' ')))) AS h
          FROM base
        ), counts AS (
          SELECT h, COUNT(*) AS c FROM chunks GROUP BY 1
        ), per_doc AS (
          SELECT doc_id, COUNT(*) AS n_chunks,
                 CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
          FROM chunks JOIN counts USING (h) GROUP BY 1
        )
        SELECT doc_id, n_chunks, n_dup_chunks,
               ROUND(n_dup_chunks / n_chunks, 6) AS dup_frac,
               n_dup_chunks / n_chunks <= {max_dup_frac}::DOUBLE AS keep
        FROM per_doc ORDER BY doc_id
    """


def source_overlap_matrix_sql(
    table: str = "documents",
    text_col: str = "text",
    source_col: str = "source",
    n: int = 5,
) -> str:
    return f"""
        WITH toks AS (
          SELECT {source_col} AS src,
                 list_filter(string_split({text_col}, ' '), w -> w != '') AS ws
          FROM {table}
        ), ss AS (
          SELECT DISTINCT src, unnest({shingles_sql_expr(n)}) AS shingle
          FROM toks
        ), multi AS (
          SELECT shingle FROM ss GROUP BY 1 HAVING COUNT(*) >= 2
        ), common AS (
          SELECT ss.src, ss.shingle FROM ss JOIN multi USING (shingle)
        )
        SELECT a.src AS source_a, b.src AS source_b,
               COUNT(*) AS shared_ngrams
        FROM common a JOIN common b
          ON a.shingle = b.shingle AND a.src < b.src
        GROUP BY 1, 2 ORDER BY 1, 2
    """


def dup_span_coverage_sql(
    table: str = "documents", text_col: str = "text", n: int = 8
) -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split({text_col}, ' '), w -> w != '') AS ws
          FROM {table}
        ), pos AS (
          SELECT doc_id, i AS pos, sh[i] AS gram
          FROM (SELECT doc_id, {shingles_sql_expr(n)} AS sh FROM toks),
               UNNEST(generate_series(1, len(sh))) AS t(i)
        ), dup_grams AS (
          SELECT gram FROM pos GROUP BY 1
          HAVING COUNT(DISTINCT doc_id) >= 2
        ), dup_pos AS (
          SELECT doc_id, pos FROM pos SEMI JOIN dup_grams USING (gram)
        ), per_doc AS (
          SELECT doc_id, COUNT(DISTINCT pos) AS dup_starts,
                 COUNT(DISTINCT tokpos) AS covered_tokens
          FROM (SELECT doc_id, pos, pos + j AS tokpos
                FROM dup_pos, UNNEST(generate_series(0, {n - 1})) AS g(j))
          GROUP BY 1
        )
        SELECT t.doc_id, len(t.ws) AS n_tokens,
               COALESCE(p.dup_starts, 0) AS dup_starts,
               COALESCE(p.covered_tokens, 0) AS covered_tokens
        FROM toks t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
        ORDER BY t.doc_id
    """


def canonical_keep_sql(
    table: str = "documents",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> str:
    clusters = dedup_clusters_sql(table, text_col, n, threshold)
    return f"""
        WITH scored AS (
          SELECT c.doc_id, c.canonical_id, c.cluster_size,
                 LENGTH(d.{text_col}) AS len
          FROM ({clusters}) c JOIN {table} d USING (doc_id)
        )
        SELECT doc_id, canonical_id, cluster_size,
               CAST(FIRST_VALUE(doc_id) OVER (PARTITION BY canonical_id
                    ORDER BY len DESC, doc_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                    AS BIGINT) AS kept_id,
               doc_id = FIRST_VALUE(doc_id) OVER (PARTITION BY canonical_id
                    ORDER BY len DESC, doc_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                    AS keep
        FROM scored ORDER BY doc_id
    """


def winnow_pairs_sql(
    table: str = "documents",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 5,
    max_df: int = 64,
) -> str:
    """DuckDB twin: identical k-gram hashing (md5 60-bit via the
    '0x'||hex cast), identical window minima (1-based inclusive list
    slice), identical hub cap and pair aggregation."""
    h = (
        f"(('0x' || substr(md5(substr({text_col}, CAST(i AS INT), {k})),"
        f" 1, 15))::BIGINT)"
    )
    return f"""
        WITH h AS (
          SELECT doc_id,
                 list_transform(
                   range(1, greatest(strlen({text_col}) - {k} + 2, 1)),
                   i -> {h}) AS hs
          FROM {table}
        ), f AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(hs) - {w} + 2, 1)),
                   j -> list_min(hs[CAST(j AS INT):CAST(j + {w} - 1 AS INT)])
                 )) AS fps
          FROM h
        ), fps AS (
          SELECT DISTINCT doc_id, u.fp
          FROM f, unnest(f.fps) AS u(fp)
        ), rare AS (
          SELECT fp FROM fps GROUP BY 1 HAVING COUNT(*) <= {max_df}
        ), kept AS (
          SELECT doc_id, fp FROM fps JOIN rare USING (fp)
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS shared_fps
        FROM kept a JOIN kept b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}
        ORDER BY 1, 2
    """


def containment_pairs_sql(
    table: str = "documents",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split({text_col}, ' '), w -> w != '') AS ws
          FROM {table}
        ), sh AS (
          SELECT DISTINCT doc_id, unnest({shingles_sql_expr(n)}) AS shingle
          FROM toks
        ), dfreq AS (
          SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1
        ), ranked AS (
          SELECT sh.doc_id, sh.shingle,
                 ROW_NUMBER() OVER (PARTITION BY sh.doc_id
                                    ORDER BY df, sh.shingle) AS pos,
                 COUNT(*) OVER (PARTITION BY sh.doc_id) AS n_sh
          FROM sh JOIN dfreq USING (shingle)
        ), prefix AS (
          SELECT doc_id, shingle, n_sh FROM ranked
          WHERE pos <= n_sh - CEIL({threshold} * n_sh) + 1
        ), sizes AS (
          SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
        ), cand AS (
          SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS d1,
                          GREATEST(a.doc_id, b.doc_id) AS d2
          FROM prefix a
          JOIN (SELECT sh.doc_id, sh.shingle, s.n_sh
                FROM sh JOIN sizes s USING (doc_id)) b
            ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
           AND a.n_sh <= b.n_sh
        ), arrays AS (
          SELECT doc_id, list(shingle) AS arr, COUNT(*) AS n_sh
          FROM sh GROUP BY 1
        )
        SELECT c.d1, c.d2,
               CAST(len(list_intersect(x.arr, y.arr)) AS BIGINT) AS common,
               ROUND(CAST(len(list_intersect(x.arr, y.arr)) AS DOUBLE)
                     / LEAST(x.n_sh, y.n_sh), 6) AS containment
        FROM cand c
        JOIN arrays x ON x.doc_id = c.d1
        JOIN arrays y ON y.doc_id = c.d2
        WHERE CAST(len(list_intersect(x.arr, y.arr)) AS DOUBLE)
              / LEAST(x.n_sh, y.n_sh) >= {threshold}
        ORDER BY d1, d2
    """


def edit_distance_join_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_chars: int = 40,
    max_dist: int = 1,
) -> str:
    """Oracle with FastSS 1-deletion blocking + EXACT levenshtein verify.

    The original brute-force form (all id-ordered pairs under a length
    band, no equi-key) is quadratic — 1.25B levenshtein(40) calls at the
    sf1 sweep's 50k docs, a 300s-budget timeout. Completeness of the
    blocking is the FastSS theorem (Bocek et al. 2007, public): two
    strings at distance <= 1 share a member of {self} ∪ {1-deletions}
    (substitution: same-position deletions coincide; insert/delete: one
    string equals the other's deletion; equal strings: self). The
    equi-join on the shared variant replaces the cross product; the
    final `levenshtein(ka, kb) <= max_dist` keeps the VERIFY exact and
    engine-independent, so false candidates cannot leak. `range(...)`
    sits in the FROM clause (table function — the r116 binder-gotcha
    form)."""
    plen = int(prefix_chars)
    if int(max_dist) != 1:
        raise ValueError("oracle blocking is specialized to max_dist=1, "
                         "matching edit_distance_join's contract")
    return f"""
        WITH k AS MATERIALIZED (
          SELECT {id_col} AS id, substr({text_col}, 1, {plen}) AS k
          FROM {table} WHERE length(substr({text_col}, 1, {plen})) > 0
        ), v AS MATERIALIZED (
          SELECT id, k,
                 CASE WHEN i = 0 THEN k
                      ELSE substr(k, 1, CAST(i - 1 AS INT))
                           || substr(k, CAST(i + 1 AS INT)) END AS var
          FROM k, range(0, {plen} + 1) t(i)
          WHERE i <= length(k)
        ), cand AS (
          SELECT DISTINCT a.id AS id_a, a.k AS ka, b.id AS id_b, b.k AS kb
          FROM v a JOIN v b ON a.var = b.var AND a.id < b.id
          WHERE abs(length(a.k) - length(b.k)) <= 1
        )
        SELECT id_a, id_b, CAST(levenshtein(ka, kb) AS INT) AS dist
        FROM cand WHERE levenshtein(ka, kb) <= 1
        ORDER BY id_a, id_b
    """


def dedup_eval_sql(
    table: str = "documents",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    k: int = 8,
    bands: int = 4,
) -> str:
    return f"""
        WITH truth AS ({ngram_jaccard_sql(table, text_col, n, threshold)}),
        pred AS ({minhash_lsh_sql(table, text_col, n, k, bands)}),
        j AS (
          SELECT COALESCE(t.d1, p.d1) AS d1, COALESCE(t.d2, p.d2) AS d2,
                 t.d1 IS NOT NULL AS in_t, p.d1 IS NOT NULL AS in_p
          FROM truth t FULL OUTER JOIN pred p
            ON t.d1 = p.d1 AND t.d2 = p.d2
        ), agg AS (
          SELECT SUM(CASE WHEN in_t THEN 1 ELSE 0 END) AS n_truth,
                 SUM(CASE WHEN in_p THEN 1 ELSE 0 END) AS n_pred,
                 SUM(CASE WHEN in_t AND in_p THEN 1 ELSE 0 END) AS n_both
          FROM j
        )
        SELECT CAST(n_truth AS BIGINT) AS n_truth,
               CAST(n_pred AS BIGINT) AS n_pred,
               CAST(n_both AS BIGINT) AS n_both,
               ROUND(CASE WHEN n_pred > 0 THEN
                 CAST(n_both AS DOUBLE) / CAST(n_pred AS DOUBLE) END, 6)
                 AS precision,
               ROUND(CASE WHEN n_truth > 0 THEN
                 CAST(n_both AS DOUBLE) / CAST(n_truth AS DOUBLE) END, 6)
                 AS recall,
               ROUND(CASE WHEN n_pred > 0 AND n_truth > 0 AND n_both > 0
                 THEN 2.0 * ((CAST(n_both AS DOUBLE) / CAST(n_pred AS DOUBLE))
                      * (CAST(n_both AS DOUBLE) / CAST(n_truth AS DOUBLE)))
                      / ((CAST(n_both AS DOUBLE) / CAST(n_pred AS DOUBLE))
                         + (CAST(n_both AS DOUBLE)
                            / CAST(n_truth AS DOUBLE))) END, 6) AS f1
        FROM agg
    """


def dedup_savings_sql(
    table: str = "documents",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> str:
    kept = canonical_keep_sql(table, text_col, n, threshold)
    return f"""
        WITH kept AS MATERIALIZED ({kept}),
        sized AS (
          SELECT k.*, LENGTH(d.{text_col}) AS len
          FROM kept k JOIN {table} d USING (doc_id)
        ), per_cluster AS (
          SELECT canonical_id, cluster_size,
                 COUNT(*) AS docs,
                 SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS dropped,
                 SUM(len) AS chars,
                 SUM(CASE WHEN NOT keep THEN len ELSE 0 END)
                   AS chars_dropped
          FROM sized GROUP BY 1, 2
        )
        SELECT cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(docs) AS BIGINT) AS docs,
               CAST(SUM(dropped) AS BIGINT) AS docs_dropped,
               CAST(SUM(chars) AS BIGINT) AS chars_total,
               CAST(SUM(chars_dropped) AS BIGINT) AS chars_dropped
        FROM per_cluster GROUP BY cluster_size ORDER BY cluster_size
    """
