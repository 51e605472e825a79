"""DuckDB oracle twins of the operators in `unifydb_spark.operators.quality`."""

from unifydb_spark.operators.quality import BLOCKLIST_DEFAULT


def table_diff_sql(
    old_sql: str,
    new_sql: str,
    key_cols: "list[str]",
    compare_cols: "list[str]",
) -> str:
    keys = ", ".join(key_cols)
    ocols = ", ".join(f"o.{c} AS o_{c}" for c in compare_cols)
    ncols = ", ".join(f"n.{c} AS n_{c}" for c in compare_cols)
    n_changed = " + ".join(
        f"CASE WHEN o_{c} IS DISTINCT FROM n_{c} THEN 1 ELSE 0 END"
        for c in compare_cols
    )
    kcoal = ", ".join(
        f"COALESCE(o.{k}, n.{k}) AS {k}" for k in key_cols
    )
    on = " AND ".join(f"o.{k} = n.{k}" for k in key_cols)
    return f"""
        WITH o AS ({old_sql}), n AS ({new_sql}),
        j AS (
          SELECT {kcoal}, {ocols}, {ncols},
                 o.{key_cols[0]} IS NOT NULL AS in_o,
                 n.{key_cols[0]} IS NOT NULL AS in_n
          FROM o FULL OUTER JOIN n ON {on}
        )
        SELECT {keys},
               CASE WHEN NOT in_o THEN 'added'
                    WHEN NOT in_n THEN 'removed'
                    WHEN {n_changed} > 0 THEN 'changed'
                    ELSE 'unchanged' END AS status,
               CAST(CASE WHEN in_o AND in_n THEN {n_changed}
                         ELSE 0 END AS BIGINT) AS n_changed_cols
        FROM j ORDER BY {keys}
    """


def k_anonymity_report_sql(
    table: str, quasi_cols: "list[str]", k: int = 5
) -> str:
    cols = ", ".join(quasi_cols)
    return f"""
        WITH grp AS (
          SELECT {cols}, COUNT(*) AS gsz FROM {table} GROUP BY {cols}
        )
        SELECT CAST(SUM(gsz) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN gsz = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_unique_rows,
               CAST(SUM(CASE WHEN gsz < {int(k)} THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_below_k,
               CAST(SUM(CASE WHEN gsz < {int(k)} THEN gsz ELSE 0 END)
                    AS BIGINT) AS rows_at_risk,
               ROUND(CAST(SUM(CASE WHEN gsz < {int(k)} THEN gsz ELSE 0 END)
                     AS DOUBLE) / SUM(gsz), 6) AS risk_share,
               CAST(MIN(gsz) AS BIGINT) AS min_group,
               ROUND(quantile_cont(CAST(gsz AS DOUBLE), 0.5), 4)
                 AS median_group
        FROM grp
    """


def benford_report_sql(table: str, value_col: str) -> str:
    import math

    arr = ", ".join(repr(math.log10(1 + 1 / d)) for d in range(1, 10))
    v = f"CAST({value_col} AS DOUBLE)"
    return f"""
        WITH base AS (
          SELECT CAST(substr(regexp_replace(CAST(ABS({v}) AS VARCHAR),
                      '[^1-9]*', '', 'g'), 1, 1) AS INT) AS digit,
                 COUNT(*) AS n
          FROM {table}
          WHERE {v} > 0
            AND substr(regexp_replace(CAST(ABS({v}) AS VARCHAR),
                '[^1-9]*', '', 'g'), 1, 1) != ''
          GROUP BY 1
        ), tot AS (SELECT SUM(n) AS t FROM base)
        SELECT CAST(digit AS BIGINT) AS digit, CAST(n AS BIGINT) AS n,
               ROUND(CAST(n AS DOUBLE) / t, 6) AS obs_share,
               ROUND(([{arr}])[digit], 6) AS benford_share,
               ROUND((CAST(n AS DOUBLE) - ([{arr}])[digit] * t)
                     * (CAST(n AS DOUBLE) - ([{arr}])[digit] * t)
                     / (([{arr}])[digit] * t), 6) AS chi2_term
        FROM base, tot ORDER BY digit
    """


def temporal_split_audit_sql(
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
    train_frac_num: int = 7,
    valid_frac_num: int = 2,
    denom: int = 10,
) -> str:
    tn, vn, dn = int(train_frac_num), int(valid_frac_num), int(denom)
    return f"""
        WITH base AS (
          SELECT {user_col} AS u, epoch_us({ts_col}) AS t FROM {table}
        ), bounds AS (SELECT MIN(t) AS lo, MAX(t) AS hi FROM base),
        tagged AS (
          SELECT u, t,
                 CASE WHEN CAST(t AS DOUBLE)
                           <= lo + ((hi - lo) * {tn}) / {dn} THEN 'train'
                      WHEN CAST(t AS DOUBLE)
                           <= lo + ((hi - lo) * {tn + vn}) / {dn}
                        THEN 'valid'
                      ELSE 'test' END AS split
          FROM base, bounds
        ), per_split AS (
          SELECT split, CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(COUNT(DISTINCT u) AS BIGINT) AS users,
                 CAST(MIN(t) AS BIGINT) AS t_lo,
                 CAST(MAX(t) AS BIGINT) AS t_hi
          FROM tagged GROUP BY 1
        ), leak AS (
          SELECT '_leakage' AS split,
                 CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(COUNT(DISTINCT u) AS BIGINT) AS users,
                 CAST(MIN(t) AS BIGINT) AS t_lo,
                 CAST(MAX(t) AS BIGINT) AS t_hi
          FROM tagged te
          WHERE te.split = 'test'
            AND te.u IN (SELECT u FROM tagged WHERE split = 'train')
        )
        SELECT * FROM per_split UNION ALL SELECT * FROM leak
        ORDER BY split
    """


def gopher_rules_sql(table: str = "documents", text_col: str = "text") -> str:
    stops = "', '".join(
        sorted(__import__(
            "unifydb_spark.operators.text", fromlist=["STOPWORDS"]
        ).STOPWORDS["en"])
    )
    return f"""
        WITH base AS MATERIALIZED (
          SELECT doc_id,
                 list_filter(string_split({text_col}, ' '), w -> w <> '')
                   AS ws
          FROM {table}
        ), toks AS MATERIALIZED (
          SELECT doc_id, i AS pos, ws[i] AS w
          FROM base, unnest(generate_series(1, len(ws))) AS u(i)
        ), wordstats AS (
          SELECT doc_id, COUNT(*) AS n_words, SUM(LENGTH(w)) AS sum_len,
                 COUNT(DISTINCT w) AS n_distinct,
                 COUNT(DISTINCT CASE WHEN w IN ('{stops}') THEN w END)
                   AS stop_hits
          FROM toks GROUP BY doc_id
        ), grams AS (
          SELECT t.doc_id, t.w || ' ' || n.w AS g
          FROM toks t JOIN toks n
            ON n.doc_id = t.doc_id AND n.pos = t.pos + 1
        ), gstats AS (
          SELECT doc_id, MAX(c) AS top_g, SUM(c) AS n_g FROM (
            SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2
          ) GROUP BY doc_id
        ), rep AS (
          SELECT d.doc_id,
                 CAST(COALESCE(ws.n_words, 0) AS BIGINT) AS n_words,
                 ROUND(CAST(ws.sum_len AS DOUBLE)
                       / CAST(ws.n_words AS DOUBLE), 4) AS mean_word_len,
                 CAST(COALESCE(ws.stop_hits, 0) AS INT) AS stop_hits,
                 COALESCE(ROUND(1.0 - CAST(ws.n_distinct AS DOUBLE)
                       / CAST(ws.n_words AS DOUBLE), 6), 0.0)
                   AS dup_word_frac,
                 COALESCE(ROUND(CAST(g.top_g AS DOUBLE)
                       / CAST(g.n_g AS DOUBLE), 6), 0.0) AS top_2gram_share
          FROM {table} d
          LEFT JOIN wordstats ws ON d.doc_id = ws.doc_id
          LEFT JOIN gstats g ON d.doc_id = g.doc_id
        )
        SELECT doc_id, n_words, mean_word_len, stop_hits, dup_word_frac,
               top_2gram_share,
               COALESCE(n_words >= 50 AND n_words <= 100000
                        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                        AND stop_hits >= 2 AND dup_word_frac <= 0.6
                        AND top_2gram_share <= 0.2, FALSE) AS passes
        FROM rep ORDER BY doc_id
    """


def script_mix_sql(table: str = "documents", text_col: str = "text") -> str:
    def cnt(pat):
        return (
            f"LENGTH({text_col}) - LENGTH(regexp_replace("
            f"{text_col}, '{pat}', '', 'g'))"
        )

    letters, digits, space = cnt("[A-Za-z]"), cnt("[0-9]"), cnt("[ ]")
    return f"""
        WITH c AS (
          SELECT doc_id, LENGTH({text_col}) AS n,
                 {letters} AS letters, {digits} AS digits,
                 {space} AS space
          FROM {table}
        ), k AS (
          SELECT doc_id, n, letters, digits, space,
                 n - letters - digits - space AS other
          FROM c
        )
        SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
               CAST(letters AS BIGINT) AS n_letters,
               CAST(digits AS BIGINT) AS n_digits,
               CAST(space AS BIGINT) AS n_space,
               CAST(other AS BIGINT) AS n_other,
               CASE WHEN n > 0 THEN ROUND(CAST(CAST(
                 CAST(CAST(CAST(
                   CASE WHEN letters > 0 THEN CAST(
                     -(CAST(letters AS DOUBLE)/n) * LN(CAST(letters AS DOUBLE)/n)
                     AS DECIMAL(30,15)) ELSE CAST(0 AS DECIMAL(30,15)) END
                   + CASE WHEN digits > 0 THEN CAST(
                     -(CAST(digits AS DOUBLE)/n) * LN(CAST(digits AS DOUBLE)/n)
                     AS DECIMAL(30,15)) ELSE CAST(0 AS DECIMAL(30,15)) END
                   AS DECIMAL(30,15))
                   + CASE WHEN space > 0 THEN CAST(
                     -(CAST(space AS DOUBLE)/n) * LN(CAST(space AS DOUBLE)/n)
                     AS DECIMAL(30,15)) ELSE CAST(0 AS DECIMAL(30,15)) END
                   AS DECIMAL(30,15))
                   + CASE WHEN other > 0 THEN CAST(
                     -(CAST(other AS DOUBLE)/n) * LN(CAST(other AS DOUBLE)/n)
                     AS DECIMAL(30,15)) ELSE CAST(0 AS DECIMAL(30,15)) END
                   AS DECIMAL(30,15))
                 AS VARCHAR) AS DOUBLE), 6)
               ELSE 0.0 END AS class_entropy
        FROM k ORDER BY doc_id
    """


def ccnet_buckets_sql(
    table: str = "documents",
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> str:
    from unifydb_spark.oracle.text import doc_perplexity_sql

    p1, p2 = 1 / 3, 2 / 3
    ppl = doc_perplexity_sql(table, text_col=text_col, id_col=id_col)
    return f"""
        WITH ppl AS (SELECT * FROM ({ppl})),
        scored AS (
          SELECT d.{lang_col} AS lang, p.doc_id, p.cross_entropy
          FROM {table} d JOIN ppl p ON d.{id_col} = p.doc_id
        ), cuts AS (
          SELECT lang,
                 ROUND(quantile_cont(cross_entropy, {p1!r}), 4) AS head_cut,
                 ROUND(quantile_cont(cross_entropy, {p2!r}), 4) AS tail_cut
          FROM scored GROUP BY 1
        ), labeled AS (
          SELECT s.lang,
                 CASE WHEN s.cross_entropy <= c.head_cut THEN 'head'
                      WHEN s.cross_entropy <= c.tail_cut THEN 'middle'
                      ELSE 'tail' END AS bucket,
                 s.cross_entropy AS ce, c.head_cut, c.tail_cut
          FROM scored s JOIN cuts c USING (lang)
        )
        SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(CAST(CAST(SUM(CAST(ce AS DECIMAL(30,15))) AS VARCHAR)
                     AS DOUBLE) / COUNT(*), 6) AS mean_ce,
               MAX(head_cut) AS head_cut, MAX(tail_cut) AS tail_cut
        FROM labeled GROUP BY 1, 2 ORDER BY 1, 2
    """


def dsir_weights_sql(
    table: str = "documents",
    target_source: str = "src7",
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> str:
    from unifydb_spark.oracle.text import md5_u32_sql

    B = int(n_buckets)
    bucket = md5_u32_sql("g", "dsir")
    return f"""
        WITH base AS (
          SELECT {id_col} AS doc_id,
                 ({source_col} = '{target_source}') AS tgt,
                 list_filter(string_split({text_col}, ' '), w -> w != '')
                   AS ws
          FROM {table}
        ), grams AS (
          SELECT doc_id, tgt,
                 ws[CAST(i - 1 AS INT)] || ' ' || ws[CAST(i AS INT)] AS g
          FROM (SELECT doc_id, tgt, ws,
                       unnest(range(2, len(ws) + 1)) AS i
                FROM base WHERE len(ws) >= 2)
        ), feats AS (
          SELECT doc_id, tgt, {bucket} % {B} AS b FROM grams
        ), dcounts AS (
          SELECT doc_id, tgt, b, COUNT(*) AS c
          FROM feats GROUP BY 1, 2, 3
        ), sides AS (
          SELECT b,
                 SUM(CASE WHEN tgt THEN c ELSE 0 END) AS ct,
                 SUM(CASE WHEN NOT tgt THEN c ELSE 0 END) AS cr
          FROM dcounts GROUP BY 1
        ), totals AS (
          SELECT SUM(CASE WHEN tgt THEN c ELSE 0 END) AS nt,
                 SUM(CASE WHEN NOT tgt THEN c ELSE 0 END) AS nr
          FROM dcounts
        ), lr AS (
          SELECT b,
                 CAST(LN((CAST(ct AS DOUBLE) + 1.0)
                         / (CAST(nt AS DOUBLE) + {float(B)!r}))
                   AS DECIMAL(30,15))
                 - CAST(LN((CAST(cr AS DOUBLE) + 1.0)
                           / (CAST(nr AS DOUBLE) + {float(B)!r}))
                   AS DECIMAL(30,15)) AS lr
          FROM sides, totals
        )
        SELECT doc_id, tgt AS is_target,
               CAST(SUM(c) AS BIGINT) AS n_feats,
               ROUND(CAST(CAST(SUM(CAST(
                 CAST(c AS DOUBLE) * CAST(CAST(lr AS VARCHAR) AS DOUBLE)
                 AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE), 6)
                 AS log_weight
        FROM dcounts JOIN lr USING (b)
        GROUP BY 1, 2 ORDER BY doc_id
    """


def quality_logreg_sql(
    table: str = "documents",
    text_col: str = "text",
    lang_col: str = "lang",
    pos_lang: str = "en",
    iters: int = 5,
    lr: float = 0.1,
) -> str:
    g = gopher_rules_sql(table, text_col)
    xs = ["x1", "x2", "x3", "x4", "x5"]
    ctes = [
        f"""feats AS MATERIALIZED (
          SELECT g.doc_id,
                 LN(1.0::DOUBLE + CAST(g.n_words AS DOUBLE)) AS x1,
                 g.mean_word_len AS x2,
                 g.dup_word_frac AS x3,
                 g.top_2gram_share AS x4,
                 CAST(g.stop_hits AS DOUBLE) AS x5,
                 CASE WHEN d.{lang_col} = '{pos_lang}'
                      THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS y
          FROM ({g}) g JOIN {table} d ON g.doc_id = d.doc_id
          WHERE g.n_words > 0
        )""",
        """w0 AS MATERIALIZED (
          SELECT 0.0::DOUBLE AS b, 0.0::DOUBLE AS w1, 0.0::DOUBLE AS w2,
                 0.0::DOUBLE AS w3, 0.0::DOUBLE AS w4, 0.0::DOUBLE AS w5
        )""",
    ]
    z = "(w.b + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 + w.w4*f.x4 + w.w5*f.x5)"
    sig = f"(1.0::DOUBLE / (1.0::DOUBLE + EXP(-{z})))"
    dec = "DECIMAL(30,15)"
    for t in range(1, int(iters) + 1):
        gsums = [
            f"CAST(CAST(SUM(CAST(({sig} - f.y) AS {dec})) AS VARCHAR)"
            f" AS DOUBLE) / COUNT(*) AS g0"
        ]
        for j, c in enumerate(xs):
            gsums.append(
                f"CAST(CAST(SUM(CAST(({sig} - f.y) * f.{c} AS {dec}))"
                f" AS VARCHAR) AS DOUBLE) / COUNT(*) AS g{j + 1}"
            )
        ctes.append(
            f"""grad{t} AS MATERIALIZED (
              SELECT {', '.join(gsums)}
              FROM feats f, w{t - 1} w
            )"""
        )
        ctes.append(
            f"""w{t} AS MATERIALIZED (
              SELECT w.b - {lr!r}::DOUBLE * g.g0 AS b,
                     w.w1 - {lr!r}::DOUBLE * g.g1 AS w1,
                     w.w2 - {lr!r}::DOUBLE * g.g2 AS w2,
                     w.w3 - {lr!r}::DOUBLE * g.g3 AS w3,
                     w.w4 - {lr!r}::DOUBLE * g.g4 AS w4,
                     w.w5 - {lr!r}::DOUBLE * g.g5 AS w5
              FROM w{t - 1} w, grad{t} g
            )"""
        )
    wN = f"w{int(iters)}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(MAX(w.b), 6) AS w_bias,
               ROUND(MAX(w.w1), 6) AS w_logn,
               ROUND(MAX(w.w2), 6) AS w_mwl,
               ROUND(MAX(w.w3), 6) AS w_dup,
               ROUND(MAX(w.w4), 6) AS w_top2,
               ROUND(MAX(w.w5), 6) AS w_stop,
               ROUND(CAST(CAST(SUM(CAST(
                 -(f.y * LN({sig})
                   + (1.0::DOUBLE - f.y) * LN(1.0::DOUBLE - {sig}))
                 AS {dec})) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
                 AS train_logloss,
               CAST(SUM(CASE WHEN ({z} >= 0.0::DOUBLE)
                                  = (f.y >= 0.5::DOUBLE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        FROM feats f, {wN} w
    """
    )


def l_diversity_report_sql(
    table: str, quasi_cols: "list[str]", sensitive_col: str, l: int = 3
) -> str:
    cols = ", ".join(quasi_cols)
    return f"""
        WITH cell AS (
          SELECT {cols}, {sensitive_col} AS __s, COUNT(*) AS c
          FROM {table} GROUP BY {cols}, {sensitive_col}
        ), grp AS (
          SELECT {cols}, SUM(c) AS gsz, COUNT(*) AS lv, MAX(c) AS topc
          FROM cell GROUP BY {cols}
        )
        SELECT CAST(SUM(gsz) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN lv < {int(l)} THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_below_l,
               CAST(SUM(CASE WHEN lv < {int(l)} THEN gsz ELSE 0 END)
                    AS BIGINT) AS rows_at_risk,
               ROUND(CAST(SUM(CASE WHEN lv < {int(l)} THEN gsz ELSE 0 END)
                     AS DOUBLE) / SUM(gsz), 6) AS risk_share,
               CAST(MIN(lv) AS BIGINT) AS min_l,
               ROUND(quantile_cont(CAST(lv AS DOUBLE), 0.5), 4) AS median_l,
               ROUND(MAX(CAST(topc AS DOUBLE) / CAST(gsz AS DOUBLE)), 6)
                 AS max_homogeneity
        FROM grp
    """


def blocklist_report_sql(
    table: str = "documents",
    terms: "tuple[str, ...]" = BLOCKLIST_DEFAULT,
    text_col: str = "text",
    source_col: str = "source",
) -> str:
    tl = ", ".join(f"'{t.lower()}'" for t in terms)
    hits = (
        f"len(list_filter(string_split(lower({text_col}), ' '), "
        f"w -> w IN ({tl})))"
    )
    return f"""
        WITH per_doc AS (
          SELECT {source_col} AS source, {hits} AS h FROM {table}
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_flagged,
               ROUND(CAST(SUM(CASE WHEN h > 0 THEN 1 ELSE 0 END)
                     AS DOUBLE) / COUNT(*), 6) AS flag_rate,
               CAST(SUM(h) AS BIGINT) AS total_hits
        FROM per_doc GROUP BY 1 ORDER BY 1
    """


def negative_samples_sql(
    table: str = "documents",
    k: int = 4,
    id_col: str = "doc_id",
    salt: str = "neg",
) -> str:
    from unifydb_spark.oracle.text import md5_u32_sql

    u32 = md5_u32_sql(
        f"CAST(anchor_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)", salt
    )
    return f"""
        WITH idx AS (
          SELECT {id_col},
                 ROW_NUMBER() OVER (ORDER BY {id_col}) AS ridx
          FROM {table}
        ), n_row AS (SELECT COUNT(*) AS nn FROM idx),
        probes0 AS (
          SELECT i.{id_col} AS anchor_id, i.ridx AS a_idx,
                 n_row.nn AS nn, t.j AS j
          FROM idx i, n_row, range(1, {int(k)} + 1) AS t(j)
        ),
        probes AS (
          SELECT anchor_id, j, ({u32} % nn) + 1 AS t_idx, a_idx
          FROM probes0
        )
        SELECT p.anchor_id, CAST(p.j AS INT) AS j,
               i.{id_col} AS negative_id
        FROM probes p JOIN idx i ON p.t_idx = i.ridx
        WHERE p.t_idx != p.a_idx
        ORDER BY p.anchor_id, p.j
    """


def readability_report_sql(
    table: str = "documents",
    text_col: str = "text",
) -> str:
    t = f"lower({text_col})"
    words = f"list_filter(string_split({t}, ' '), w -> w != '')"
    return f"""
        WITH c AS (
          SELECT doc_id,
                 GREATEST(1, CAST(len(regexp_extract_all({t}, '[.!?]+'))
                               AS BIGINT)) AS n_sentences,
                 CAST(len({words}) AS BIGINT) AS n_words,
                 CAST(len(regexp_extract_all({t}, '[aeiouy]+')) AS BIGINT)
                 + CAST(len(list_filter({words},
                     w -> NOT regexp_matches(w, '[aeiouy]')))
                   AS BIGINT) AS n_syllables
          FROM {table}
        )
        SELECT doc_id, n_sentences, n_words, n_syllables,
               CASE WHEN n_words > 0 THEN
                 ROUND(206.835::DOUBLE
                       - 1.015::DOUBLE * (CAST(n_words AS DOUBLE)
                                          / CAST(n_sentences AS DOUBLE))
                       - 84.6::DOUBLE * (CAST(n_syllables AS DOUBLE)
                                         / CAST(n_words AS DOUBLE)), 4)
               END AS fre,
               CASE WHEN n_words > 0 THEN
                 ROUND(0.39::DOUBLE * (CAST(n_words AS DOUBLE)
                                       / CAST(n_sentences AS DOUBLE))
                       + 11.8::DOUBLE * (CAST(n_syllables AS DOUBLE)
                                         / CAST(n_words AS DOUBLE))
                       - 15.59::DOUBLE, 4)
               END AS fk_grade
        FROM c ORDER BY doc_id
    """


def slice_report_sql(
    table: str,
    slice_cols: "list[str]",
    flag_sql: str,
    z_crit: float = 3.0,
) -> str:
    cols = ", ".join(slice_cols)
    return f"""
        WITH cell AS (
          SELECT {cols}, COUNT(*) AS n,
                 SUM(CASE WHEN {flag_sql} THEN 1 ELSE 0 END) AS n_pass
          FROM {table} GROUP BY {cols}
        ), tot AS (
          SELECT SUM(n) AS tn, SUM(n_pass) AS tp FROM cell
        )
        SELECT {cols}, CAST(n AS BIGINT) AS n,
               CAST(n_pass AS BIGINT) AS n_pass,
               ROUND(CAST(n_pass AS DOUBLE) / CAST(n AS DOUBLE), 6)
                 AS rate,
               ROUND(CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE), 6)
                 AS corpus_rate,
               ROUND(CASE WHEN CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)
                               > 0.0::DOUBLE
                           AND CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)
                               < 1.0::DOUBLE THEN
                 (CAST(n_pass AS DOUBLE) / CAST(n AS DOUBLE)
                  - CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE))
                 / sqrt((CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE))
                        * (1.0::DOUBLE
                           - CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE))
                        / CAST(n AS DOUBLE))
               END, 4) AS z,
               COALESCE(ABS(CASE WHEN CAST(tp AS DOUBLE)
                                      / CAST(tn AS DOUBLE) > 0.0::DOUBLE
                                  AND CAST(tp AS DOUBLE)
                                      / CAST(tn AS DOUBLE) < 1.0::DOUBLE
                                 THEN
                   (CAST(n_pass AS DOUBLE) / CAST(n AS DOUBLE)
                    - CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE))
                   / sqrt((CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE))
                          * (1.0::DOUBLE
                             - CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE))
                          / CAST(n AS DOUBLE))
                 END) >= {float(z_crit)!r}, FALSE) AS flagged
        FROM cell, tot
        ORDER BY {cols}
    """


def source_cap_sql(
    table: str = "documents",
    cap: int = 15,
    source_col: str = "source",
    score_col: str = "n_chars",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`source_cap` / :func:`source_cap_auto` —
    the KEPT ROWS themselves (id, source, score). Route-invariant by
    the salting-invariance argument in source_cap (a row in the true
    per-source top-cap is in its salt shard's top-cap), so one oracle
    grades the plain, salted, and auto-routed paths identically —
    the r147 pattern applied to the domain cap (VERDICT r11 ask #5)."""
    return f"""
        SELECT {id_col}, {source_col}, {score_col} FROM (
          SELECT {id_col}, {source_col}, {score_col},
                 ROW_NUMBER() OVER (
                   PARTITION BY {source_col}
                   ORDER BY {score_col} DESC, {id_col} ASC
                 ) AS rk
          FROM {table}
        ) WHERE rk <= {int(cap)}
    """


def source_cap_report_sql(
    table: str = "documents",
    cap: int = 15,
    source_col: str = "source",
    score_col: str = "n_chars",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of source_cap_report — same rank, same cutoff."""
    return f"""
        WITH ranked AS (
          SELECT {source_col}, {score_col},
                 ROW_NUMBER() OVER (
                   PARTITION BY {source_col}
                   ORDER BY {score_col} DESC, {id_col} ASC
                 ) AS rk
          FROM {table}
        )
        SELECT {source_col},
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN rk <= {int(cap)} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(MIN(CASE WHEN rk <= {int(cap)} THEN {score_col} END)
                    AS BIGINT) AS cutoff_score
        FROM ranked GROUP BY {source_col}
    """
