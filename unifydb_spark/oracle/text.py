"""DuckDB oracle twins of the operators in `unifydb_spark.operators.text`."""

from unifydb_spark.operators.text import PII_PATTERNS, STOPWORDS, TOKEN_RE


def repetition_stats_sql(table: str = "documents", text_col: str = "text") -> str:
    """DuckDB oracle for repetition_stats — identical tokenization and
    the same IEEE division order."""
    return f"""
        WITH base AS (
          SELECT doc_id, {text_col} AS t,
                 list_filter(string_split({text_col}, ' '), w -> w != '') AS ws,
                 string_split({text_col}, chr(10)) AS lines
          FROM {table}
        ), bg AS (
          SELECT doc_id, unnest({shingles_sql_expr(2)}) AS g FROM base
        ), bgc AS (
          SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2
        ), bga AS (
          SELECT doc_id, MAX(c) AS top_c, SUM(c) AS tot_c FROM bgc GROUP BY 1
        ), stats AS (
          SELECT b.doc_id,
                 len(ws) AS n_words,
                 CASE WHEN len(ws) = 0 THEN 0.0::DOUBLE
                      ELSE 1.0::DOUBLE - len(list_distinct(ws))::DOUBLE / len(ws)
                 END AS dup_word_frac,
                 CASE WHEN len(lines) = 0 THEN 0.0::DOUBLE
                      ELSE 1.0::DOUBLE - len(list_distinct(lines))::DOUBLE / len(lines)
                 END AS dup_line_frac,
                 CASE WHEN length(t) = 0 THEN 0.0::DOUBLE
                      ELSE length(regexp_replace(t, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
                           / length(t)
                 END AS symbol_frac,
                 COALESCE(a.top_c::DOUBLE / a.tot_c, 0.0::DOUBLE) AS top_bigram_frac
          FROM base b LEFT JOIN bga a ON b.doc_id = a.doc_id
        )
        SELECT doc_id, n_words, dup_word_frac, dup_line_frac, symbol_frac,
               top_bigram_frac,
               (n_words >= 10 AND dup_word_frac < 0.5
                AND top_bigram_frac < 0.2 AND symbol_frac < 0.1) AS gopher_pass
        FROM stats ORDER BY doc_id
    """


def hash_sample_where_sql(
    rate: float, key_col: str = "doc_id", salt: str = "sample"
) -> str:
    """The hash-sample membership predicate alone (DuckDB), for embedding
    in other oracles (e.g. a deterministic benchmark split)."""
    threshold = int(rate * (16 ** 8))
    return f"{md5_u32_sql(key_col, salt)} < {threshold}"


def hash_sample_sql(
    table: str = "documents",
    rate: float = 0.25,
    key_col: str = "doc_id",
    salt: str = "sample",
) -> str:
    return f"""
        SELECT * FROM {table}
        WHERE {hash_sample_where_sql(rate, key_col, salt)}
    """


def md5_u32_sql(key_expr: str, salt: str) -> str:
    """DuckDB expression: the first 8 md5 hex digits of (salt:key) as an
    integer — the shared deterministic-hash primitive (DuckDB has no
    base-conversion function, so nibbles are summed positionally)."""
    h = f"md5('{salt}:' || CAST({key_expr} AS VARCHAR))"
    nib = f"strpos('0123456789abcdef', substr({h}, {{i}}, 1)) - 1"
    return "(" + " + ".join(
        f"({nib.format(i=i)}) * {16 ** (8 - i)}" for i in range(1, 9)
    ) + ")"


def pack_sequences_sql(
    table: str = "documents",
    capacity: int = 512,
    n_shards: int = 8,
    text_col: str = "text",
) -> str:
    u32 = md5_u32_sql("doc_id", "pack")
    return f"""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split({text_col}, ' '), w -> w != '')) AS BIGINT) AS n,
                 {u32} % {n_shards} AS shard
          FROM {table}
        ), c AS (
          SELECT doc_id, shard, n,
                 SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
          FROM t
        )
        SELECT doc_id, CAST(shard AS BIGINT) AS shard, n AS n_tokens,
               CAST(cum - n AS BIGINT) AS start_offset,
               CAST((cum - n) // {capacity} AS BIGINT) AS first_chunk,
               CAST(CASE WHEN n = 0 THEN (cum - n) // {capacity}
                         ELSE (cum - 1) // {capacity} END AS BIGINT) AS last_chunk
        FROM c ORDER BY doc_id
    """


def vocab_stats_sql(table: str = "documents", text_col: str = "text", top_k: int = 50) -> str:
    return f"""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split({text_col}, ' '), w -> w != '')) AS w
          FROM {table}
        )
        SELECT w, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        FROM tok GROUP BY w ORDER BY tf DESC, w LIMIT {top_k}
    """


def text_stats_sql(table: str = "documents", text_col: str = "text") -> str:
    """DuckDB oracle for text_stats — same tokenization and arithmetic."""
    all_stops = sorted({w for lst in STOPWORDS.values() for w in lst})
    stops = ", ".join(f"'{w}'" for w in all_stops)
    return f"""
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split({text_col}, ' '), w -> w != '') AS ws,
                 regexp_extract_all({text_col}, '{TOKEN_RE}') AS bpe
          FROM {table}
        ), m AS (
          SELECT doc_id,
                 len(ws) AS n_ws_tokens,
                 len(bpe) AS n_bpe_tokens,
                 len(list_filter(bpe, x -> regexp_matches(x, '^[^a-z0-9]+$'))) AS n_punct,
                 list_reduce(list_prepend(0::BIGINT, list_transform(ws, w -> strlen(w)::BIGINT)), (a, b) -> a + b) AS sum_len,
                 len(list_filter(ws, w -> list_contains([{stops}], w))) AS n_stop
          FROM base
        )
        SELECT doc_id, n_ws_tokens, n_bpe_tokens, n_punct,
               ROUND(sum_len::DOUBLE / n_ws_tokens, 6) AS avg_token_len,
               ROUND(n_stop::DOUBLE / n_ws_tokens, 6) AS stopword_ratio,
               ROUND(n_punct::DOUBLE / n_bpe_tokens, 6) AS punct_ratio,
               ROUND(LEAST(1.0, n_ws_tokens::DOUBLE / 100.0) * 0.5
                     + (n_stop::DOUBLE / n_ws_tokens) * 0.3
                     + LEAST(1.0, (sum_len::DOUBLE / n_ws_tokens) / 8.0) * 0.2, 6) AS quality
        FROM m ORDER BY doc_id
    """


def language_id_sql(table: str = "documents", text_col: str = "text") -> str:
    langs = sorted(STOPWORDS)
    score_exprs = []
    for lang in langs:
        stops = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        score_exprs.append(
            f"len(list_filter(ws, w -> list_contains([{stops}], w))) AS score_{lang}"
        )
    best = f"GREATEST({', '.join('score_' + l for l in langs)})"
    pred = "CASE " + " ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in langs
    ) + " END"
    return f"""
        WITH base AS (
          SELECT doc_id, list_filter(string_split({text_col}, ' '), w -> w != '') AS ws
          FROM {table}
        ), s AS (
          SELECT doc_id, {', '.join(score_exprs)} FROM base
        )
        SELECT doc_id, {', '.join('score_' + l for l in langs)},
               {pred} AS predicted_lang
        FROM s ORDER BY doc_id
    """


def shingles_sql_expr(n: int = 3) -> str:
    """DuckDB expression producing the same word n-gram shingle list as
    shingles_col, given a list column `ws`."""
    parts = " || ' ' || ".join(f"ws[i+{j}]" for j in range(n))
    return (
        f"list_transform(generate_series(1, GREATEST(len(ws) - {n - 1}, 0)), "
        f"i -> {parts})"
    )


def fingerprint_sql(table: str = "documents", text_col: str = "text", n: int = 3) -> str:
    return f"""
        WITH base AS (
          SELECT doc_id, {text_col} AS t,
                 list_filter(string_split({text_col}, ' '), w -> w != '') AS ws
          FROM {table}
        )
        SELECT doc_id, md5(t) AS content_md5,
               list_min(list_transform({shingles_sql_expr(n)}, s -> md5(s))) AS shingle_fp
        FROM base ORDER BY doc_id
    """


def redact_pii_sql(table: str = "documents", text_col: str = "text") -> str:
    counts = ",\n               ".join(
        f"CAST(len(regexp_extract_all({text_col}, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    red = text_col
    for _, pat, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""
        SELECT doc_id,
               {counts},
               {red} AS redacted
        FROM {table} ORDER BY doc_id
    """


def tfidf_sql(table: str = "documents", text_col: str = "text", k: int = 3) -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(string_split({text_col}, ' '), w -> w != '')) AS term
          FROM {table}
        ), tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ), df AS (
          SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        ), n AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM {table}
        ), scored AS (
          SELECT doc_id, term, tf,
                 ROUND(tf * ln(n_docs / df), 6) AS tfidf
          FROM tf JOIN df USING (term) CROSS JOIN n
        ), ranked AS (
          SELECT doc_id, term, tf, tfidf,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term ASC) AS rank
          FROM scored
        )
        SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, tfidf
        FROM ranked WHERE rank <= {k} ORDER BY doc_id, rank
    """


def stratified_sample_sql(
    table: str = "documents",
    rates: dict | None = None,
    group_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "strat",
) -> str:
    rates = rates or {}
    whens = " ".join(
        f"WHEN '{g}' THEN {int(rate * (16 ** 8))}" for g, rate in sorted(rates.items())
    )
    return f"""
        SELECT * FROM {table}
        WHERE {md5_u32_sql(key_col, salt)}
              < (CASE {group_col} {whens} ELSE -1 END)
    """


def bigram_commonness_sql(
    table: str = "documents", text_col: str = "text", prefix_chars: int = 400
) -> str:
    return f"""
        WITH t AS (
          SELECT doc_id, substr({text_col}, 1, {prefix_chars}) AS t
          FROM {table} WHERE length(substr({text_col}, 1, {prefix_chars})) >= 2
        ), bg AS (
          SELECT doc_id, substr(t, CAST(i AS INT), 2) AS bg
          FROM (SELECT doc_id, unnest(range(1, length(t))) AS i, t FROM t)
        ), counts AS (
          SELECT bg, COUNT(*) AS c FROM bg GROUP BY 1
        )
        SELECT doc_id, COUNT(*) AS n_bigrams,
               CAST(SUM(c) AS BIGINT) AS freq_sum,
               ROUND(CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) / COUNT(*), 4)
                 AS commonness
        FROM bg JOIN counts USING (bg)
        GROUP BY doc_id ORDER BY doc_id
    """


def mix_by_token_budget_sql(
    table: str = "documents",
    total_tokens: int = 100_000,
    text_col: str = "text",
    source_col: str = "source",
) -> str:
    return f"""
        WITH w AS (
          SELECT {source_col} AS source,
                 (strpos('0123456789abcdef', substr(md5({source_col}), 1, 1)) - 1)
                   % 3 + 1 AS wt
          FROM (SELECT DISTINCT {source_col} FROM {table})
        ), tot AS (SELECT SUM(wt) AS tw FROM w),
        budget AS (
          SELECT source, FLOOR({int(total_tokens)} * wt / tw) AS b FROM w, tot
        ), d AS (
          SELECT doc_id, {source_col} AS source,
                 len(list_filter(string_split({text_col}, ' '), x -> x != ''))
                   AS n_tok,
                 md5(CAST(doc_id AS VARCHAR)) AS rk
          FROM {table}
        ), c AS (
          SELECT d.*, SUM(n_tok) OVER (
            PARTITION BY source ORDER BY rk, doc_id) AS cum
          FROM d
        )
        SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok
        FROM c JOIN budget USING (source)
        WHERE cum - n_tok < b
        ORDER BY doc_id
    """


def holdout_split_sql(
    table: str = "documents",
    strata_col: str = "source",
    fracs: tuple = (0.8, 0.1, 0.1),
    key_col: str = "doc_id",
    salt: str = "holdout",
) -> str:
    t1 = int(fracs[0] * (16 ** 8))
    t2 = int((fracs[0] + fracs[1]) * (16 ** 8))
    b = md5_u32_sql(key_col, salt)
    return f"""
        WITH assigned AS (
          SELECT {strata_col}, n_chars,
                 CASE WHEN {b} < {t1} THEN 'train'
                      WHEN {b} < {t2} THEN 'val'
                      ELSE 'test' END AS split
          FROM {table}
        )
        SELECT {strata_col}, split, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars
        FROM assigned GROUP BY 1, 2 ORDER BY 1, 2
    """


def balanced_sample_sql(
    table: str = "documents",
    n_per_group: int = 20,
    group_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "balanced",
    select_cols: str = "doc_id, source, lang, n_chars",
) -> str:
    b = md5_u32_sql(key_col, salt)
    return f"""
        SELECT {select_cols}, sample_rank FROM (
          SELECT {select_cols},
                 CAST(ROW_NUMBER() OVER (PARTITION BY {group_col}
                      ORDER BY {b} ASC, {key_col} ASC) AS BIGINT)
                      AS sample_rank
          FROM {table}
        ) WHERE sample_rank <= {n_per_group}
        ORDER BY {group_col}, sample_rank
    """


def source_divergence_sql(
    table: str = "documents",
    text_col: str = "text",
    source_col: str = "source",
) -> str:
    return f"""
        WITH tok AS (
          SELECT {source_col} AS source, u.tok, COUNT(*) AS c_s
          FROM (
            SELECT {source_col},
                   list_filter(string_split({text_col}, ' '), w -> w != '') AS ws
            FROM {table}
          ), unnest(ws) AS u(tok)
          GROUP BY 1, 2
        ), corpus AS (
          SELECT tok, SUM(c_s) AS c_c FROM tok GROUP BY 1
        ), src_tot AS (
          SELECT source, SUM(c_s) AS n_s FROM tok GROUP BY 1
        ), corp_tot AS (
          SELECT SUM(c_c) AS n_c FROM corpus
        ), terms AS (
          SELECT t.source, s.n_s,
                 CAST(-(CAST(t.c_s AS DOUBLE) / s.n_s)
                      * ln(CAST(t.c_s AS DOUBLE) / s.n_s)
                      AS DECIMAL(30,15)) AS ent_term,
                 CAST((CAST(t.c_s AS DOUBLE) / s.n_s)
                      * ln((CAST(t.c_s AS DOUBLE) / s.n_s)
                           / (CAST(c.c_c AS DOUBLE) / ct.n_c))
                      AS DECIMAL(30,15)) AS kl_term
          FROM tok t JOIN corpus c USING (tok)
               JOIN src_tot s USING (source), corp_tot ct
        )
        SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS vocab_size,
               ROUND(CAST(CAST(SUM(ent_term) AS VARCHAR) AS DOUBLE), 6)
                 AS entropy,
               ROUND(CAST(CAST(SUM(kl_term) AS VARCHAR) AS DOUBLE), 6)
                 AS kl_vs_corpus
        FROM terms GROUP BY 1 ORDER BY 1
    """


def weighted_sample_k_sql(
    table: str,
    group_col: str,
    id_col: str,
    weight_sql: str,
    k: int = 10,
) -> str:
    u32 = (
        f"(('0x' || substr(md5('es:' || CAST({id_col} AS VARCHAR)), 1, 8))"
        "::BIGINT)"
    )
    u = f"((CAST({u32} AS DOUBLE) + 1.0) / {float(1 << 32)!r})"
    key = f"(ln({u}) / CAST({weight_sql} AS DOUBLE))"
    return f"""
        WITH keyed AS (
          SELECT {group_col}, {id_col},
                 ROUND(CAST({weight_sql} AS DOUBLE), 6) AS weight,
                 ROUND({key}, 10) AS es_key
          FROM {table}
          WHERE CAST({weight_sql} AS DOUBLE) > 0
        ), ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY {group_col}
                    ORDER BY es_key DESC, {id_col}) AS rank_in_group
          FROM keyed
        )
        SELECT {group_col}, {id_col}, weight, es_key,
               CAST(rank_in_group AS BIGINT) AS rank_in_group
        FROM ranked WHERE rank_in_group <= {int(k)}
        ORDER BY {group_col}, rank_in_group
    """


def token_drift_sql(
    old_sql: str,
    new_sql: str,
    text_col: str = "text",
    top_k: int = 20,
) -> str:
    def dist(src, name):
        return f"""
          SELECT u.tok,
                 CAST(COUNT(*) AS DOUBLE)
                   / SUM(COUNT(*)) OVER () AS {name}
          FROM ({src}),
               unnest(list_filter(string_split({text_col}, ' '),
                                  w -> w != '')) AS u(tok)
          GROUP BY 1
        """

    return f"""
        WITH po AS ({dist(old_sql, 'po')}),
        pn AS ({dist(new_sql, 'pn')}),
        j AS (
          SELECT COALESCE(po.tok, pn.tok) AS tok,
                 COALESCE(po, 0.0) AS po, COALESCE(pn, 0.0) AS pn
          FROM po FULL OUTER JOIN pn USING (tok)
        )
        SELECT tok, ROUND(po, 8) AS p_old, ROUND(pn, 8) AS p_new,
               ROUND(pn - po, 8) + 0.0 AS delta
        FROM j ORDER BY ABS(ROUND(pn - po, 8) + 0.0) DESC, tok
        LIMIT {int(top_k)}
    """


def token_pmi_sql(
    table: str = "documents",
    text_col: str = "text",
    min_df: int = 5,
    max_df_frac: float = 0.5,
    min_pair: int = 5,
    top_k: int = 30,
) -> str:
    return f"""
        WITH dt AS (
          SELECT DISTINCT doc_id, u.tok
          FROM {table},
               unnest(list_filter(string_split({text_col}, ' '),
                                  w -> w != '')) AS u(tok)
        ), nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM dt),
        dfq AS (SELECT tok, COUNT(*) AS nt FROM dt GROUP BY 1),
        kept_t AS (
          SELECT tok, nt FROM dfq, nd
          WHERE nt >= {int(min_df)} AND nt <= {float(max_df_frac)!r} * nd.n
        ), kept AS (
          SELECT dt.doc_id, dt.tok, kept_t.nt
          FROM dt JOIN kept_t USING (tok)
        ), pairs AS (
          SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_ab
          FROM kept a JOIN kept b
            ON a.doc_id = b.doc_id AND a.tok < b.tok
          GROUP BY 1, 2 HAVING COUNT(*) >= {int(min_pair)}
        )
        SELECT tok_a, tok_b,
               CAST(na.nt AS BIGINT) AS n_a, CAST(nb.nt AS BIGINT) AS n_b,
               CAST(n_ab AS BIGINT) AS n_ab,
               ROUND(ln(CAST(n_ab AS DOUBLE) * nd.n
                        / (CAST(na.nt AS DOUBLE) * nb.nt)), 6) AS pmi
        FROM pairs
        JOIN kept_t na ON na.tok = pairs.tok_a
        JOIN kept_t nb ON nb.tok = pairs.tok_b, nd
        ORDER BY pmi DESC, tok_a, tok_b LIMIT {int(top_k)}
    """


def vocab_growth_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_every: int = 1,
) -> str:
    cond = (
        f"WHERE doc_seq % {int(sample_every)} = 0 OR doc_seq = 1"
        if int(sample_every) > 1
        else ""
    )
    return f"""
        WITH tok AS (
          SELECT {id_col} AS d, u.tok
          FROM {table},
               unnest(list_filter(string_split({text_col}, ' '),
                                  w -> w != '')) AS u(tok)
        ), per_doc AS (
          SELECT d, COUNT(*) AS n_tok FROM tok GROUP BY 1
        ), firsts AS (
          SELECT d, COUNT(*) AS new_tokens
          FROM (SELECT tok, MIN(d) AS d FROM tok GROUP BY 1) GROUP BY 1
        ), grid AS (
          SELECT p.d, p.n_tok, COALESCE(f.new_tokens, 0) AS new_tokens
          FROM per_doc p LEFT JOIN firsts f USING (d)
        ), curve AS (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS doc_seq,
                 CAST(d AS BIGINT) AS {id_col},
                 CAST(SUM(n_tok) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum_tokens,
                 CAST(SUM(new_tokens) OVER (ORDER BY d
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab,
                 CAST(new_tokens AS BIGINT) AS new_tokens
          FROM grid
        )
        SELECT * FROM curve {cond} ORDER BY doc_seq
    """


def doc_perplexity_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
) -> str:
    k = float(add_k)
    return f"""
        WITH base AS (
          SELECT {id_col} AS doc_id,
                 list_filter(string_split({text_col}, ' '), w -> w != '')
                   AS ws
          FROM {table}
        ), toks AS (
          SELECT doc_id,
                 CASE WHEN i = 1 THEN '<s>' ELSE ws[CAST(i - 1 AS INT)] END
                   AS prev,
                 ws[CAST(i AS INT)] AS w
          FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
                FROM base WHERE len(ws) > 0)
        ), cb AS (
          SELECT prev, w, COUNT(*) AS c FROM toks GROUP BY 1, 2
        ), cu AS (
          SELECT prev, SUM(c) AS cp FROM cb GROUP BY 1
        ), vocab AS (SELECT COUNT(DISTINCT w) AS v FROM cb),
        scored AS (
          SELECT doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 ROUND(-CAST(CAST(SUM(CAST(LN(
                       (CAST(c AS DOUBLE) + {k!r})
                       / (CAST(cp AS DOUBLE) + {k!r} * CAST(v AS DOUBLE)))
                     AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE)
                   / COUNT(*), 6) AS cross_entropy
          FROM toks JOIN cb USING (prev, w) JOIN cu USING (prev), vocab
          GROUP BY 1
        )
        SELECT doc_id, n_tokens, cross_entropy,
               ROUND(EXP(cross_entropy), 4) AS ppl
        FROM scored ORDER BY doc_id
    """


def distinctive_terms_sql(
    table: str = "documents",
    text_col: str = "text",
    group_col: str = "source",
    top_k: int = 5,
    prior_strength: float = 10.0,
) -> str:
    a0 = float(prior_strength)
    return f"""
        WITH tok AS (
          SELECT {group_col} AS grp, u.term, COUNT(*) AS c_in
          FROM (
            SELECT {group_col},
                   list_filter(string_split({text_col}, ' '), w -> w != '')
                     AS ws
            FROM {table}
          ), unnest(ws) AS u(term)
          GROUP BY 1, 2
        ), corpus AS (SELECT term, SUM(c_in) AS c_all FROM tok GROUP BY 1),
        grp_tot AS (SELECT grp, SUM(c_in) AS n_g FROM tok GROUP BY 1),
        corp_tot AS (SELECT SUM(c_all) AS n FROM corpus),
        scored AS (
          SELECT grp, term, c_in,
                 ROUND((LN((CAST(c_in AS DOUBLE)
                            + {a0!r} * CAST(c_all AS DOUBLE)
                              / CAST(n AS DOUBLE))
                           / (CAST(n_g AS DOUBLE) + {a0!r}
                              - CAST(c_in AS DOUBLE)
                              - {a0!r} * CAST(c_all AS DOUBLE)
                                / CAST(n AS DOUBLE)))
                        - LN((CAST(c_all - c_in AS DOUBLE)
                              + {a0!r} * CAST(c_all AS DOUBLE)
                                / CAST(n AS DOUBLE))
                             / (CAST(n - n_g AS DOUBLE) + {a0!r}
                                - CAST(c_all - c_in AS DOUBLE)
                                - {a0!r} * CAST(c_all AS DOUBLE)
                                  / CAST(n AS DOUBLE))))
                       / SQRT(1.0 / (CAST(c_in AS DOUBLE)
                                     + {a0!r} * CAST(c_all AS DOUBLE)
                                       / CAST(n AS DOUBLE))
                              + 1.0 / (CAST(c_all - c_in AS DOUBLE)
                                       + {a0!r} * CAST(c_all AS DOUBLE)
                                         / CAST(n AS DOUBLE))), 6) AS z
          FROM tok JOIN corpus USING (term) JOIN grp_tot USING (grp),
               corp_tot
        )
        SELECT grp AS {group_col}, term, CAST(c_in AS BIGINT) AS c_in, z
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
                      ORDER BY z DESC, term ASC) AS rk
          FROM scored
        )
        WHERE rk <= {int(top_k)}
        ORDER BY {group_col}, z DESC, term
    """


def char_entropy_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    return f"""
        WITH chars AS (
          SELECT {id_col} AS doc_id, u.ch, COUNT(*) AS c
          FROM (
            SELECT {id_col}, string_split_regex({text_col}, '') AS cs
            FROM {table}
          ), unnest(cs) AS u(ch)
          WHERE u.ch != ''
          GROUP BY 1, 2
        ), tot AS (SELECT doc_id, SUM(c) AS n FROM chars GROUP BY 1)
        SELECT doc_id,
               CAST(MAX(n) AS BIGINT) AS n_chars,
               CAST(COUNT(*) AS BIGINT) AS distinct_chars,
               ROUND(CAST(CAST(SUM(CAST(
                 -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                 * LOG2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE), 6)
                 AS entropy_bits
        FROM chars JOIN tot USING (doc_id)
        GROUP BY 1 ORDER BY 1
    """


def common_prefix_report_sql(
    table: str = "documents",
    text_col: str = "text",
    group_col: str = "source",
    max_check: int = 200,
) -> str:
    cap = int(max_check)
    return f"""
        WITH mm AS (
          SELECT {group_col} AS grp, COUNT(*) AS n_docs,
                 MIN({text_col}) AS lo, MAX({text_col}) AS hi
          FROM {table} GROUP BY 1
        ), ks AS (
          SELECT grp, n_docs, lo,
                 MAX(u.k) AS lcp_len
          FROM mm, unnest(range(0, LEAST(length(lo), length(hi), {cap})
                                + 1)) AS u(k)
          WHERE substr(lo, 1, CAST(u.k AS INT))
                = substr(hi, 1, CAST(u.k AS INT))
          GROUP BY 1, 2, 3
        )
        SELECT grp AS {group_col},
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(lcp_len AS INT) AS lcp_len,
               substr(lo, 1, CAST(lcp_len AS INT)) AS lcp
        FROM ks ORDER BY 1
    """


def novelty_curve_sql(
    table: str = "documents",
    text_col: str = "text",
    order_col: str = "doc_id",
    n_buckets: int = 20,
    ngram: int = 2,
) -> str:
    B = int(n_buckets)
    return f"""
        WITH ids AS (
          SELECT {order_col} AS oid,
                 ((ROW_NUMBER() OVER (ORDER BY {order_col}) - 1) * {B})
                   // COUNT(*) OVER () AS bucket
          FROM (SELECT DISTINCT {order_col} FROM {table})
        ), toks AS (
          SELECT {order_col} AS oid,
                 list_filter(string_split({text_col}, ' '), w -> w != '')
                   AS ws
          FROM {table}
        ), grams AS (
          SELECT i.bucket, u.gm
          FROM toks t JOIN ids i ON t.oid = i.oid,
               unnest({shingles_sql_expr(int(ngram))}) AS u(gm)
        ), firsts AS (
          SELECT gm, MIN(bucket) AS first_b FROM grams GROUP BY 1
        )
        SELECT g.bucket,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN g.bucket = f.first_b THEN 1 ELSE 0 END)
                    AS BIGINT) AS novel_grams,
               ROUND(CAST(SUM(CASE WHEN g.bucket = f.first_b
                          THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS novelty_rate
        FROM grams g JOIN firsts f USING (gm)
        GROUP BY 1 ORDER BY 1
    """


def corpus_card_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    source_col: str = "source",
) -> str:
    return f"""
        WITH per_doc AS (
          SELECT {id_col} AS id, {text_col} AS t,
                 {lang_col} AS lang, {source_col} AS src,
                 len(list_filter(string_split({text_col}, ' '),
                     w -> w != '')) AS ntok,
                 length({text_col}) AS nch
          FROM {table}
        ), base AS (
          SELECT COUNT(*) AS n_docs, SUM(ntok) AS n_tokens,
                 SUM(nch) AS n_chars,
                 COUNT(DISTINCT t) AS n_distinct_texts,
                 COUNT(DISTINCT lang) AS n_langs,
                 COUNT(DISTINCT src) AS n_sources,
                 quantile_cont(CAST(nch AS DOUBLE), 0.5) AS med_len
          FROM per_doc
        ), top_lang AS (
          SELECT MAX(c) AS top_lang_docs FROM (
            SELECT lang, COUNT(*) AS c FROM per_doc GROUP BY 1)
        ), vocab AS (
          SELECT COUNT(DISTINCT u.w) AS vocab
          FROM (SELECT list_filter(string_split({text_col}, ' '),
                       w -> w != '') AS ws FROM {table}),
               unnest(ws) AS u(w)
        )
        SELECT metric, value FROM (
          SELECT 'n_docs' AS metric,
                 ROUND(CAST(n_docs AS DOUBLE), 6) AS value
          FROM base, top_lang, vocab
          UNION ALL SELECT 'n_tokens', ROUND(CAST(n_tokens AS DOUBLE), 6)
            FROM base, top_lang, vocab
          UNION ALL SELECT 'n_chars', ROUND(CAST(n_chars AS DOUBLE), 6)
            FROM base, top_lang, vocab
          UNION ALL SELECT 'exact_dup_rate',
            ROUND(CAST(n_docs - n_distinct_texts AS DOUBLE)
                  / CAST(n_docs AS DOUBLE), 6)
            FROM base, top_lang, vocab
          UNION ALL SELECT 'n_langs', ROUND(CAST(n_langs AS DOUBLE), 6)
            FROM base, top_lang, vocab
          UNION ALL SELECT 'n_sources', ROUND(CAST(n_sources AS DOUBLE), 6)
            FROM base, top_lang, vocab
          UNION ALL SELECT 'top_lang_share',
            ROUND(CAST(top_lang_docs AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
            FROM base, top_lang, vocab
          UNION ALL SELECT 'mean_doc_tokens',
            ROUND(CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
            FROM base, top_lang, vocab
          UNION ALL SELECT 'median_doc_chars', ROUND(med_len, 6)
            FROM base, top_lang, vocab
          UNION ALL SELECT 'vocab_size', ROUND(CAST(vocab AS DOUBLE), 6)
            FROM base, top_lang, vocab
          UNION ALL SELECT 'type_token_ratio',
            ROUND(CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
            FROM base, top_lang, vocab
        ) ORDER BY metric
    """


def _bpe_unrolled_levels(n_merges: int) -> str:
    """Shared CTE chain for the BPE oracles: `n_merges` unrolled
    sequential merge levels over the word-frequency table — the
    fixed-unroll trick that certified k-core (graph.kcore_sql): the
    DataFrame side's batched selection is PROVEN equal to the
    one-merge-at-a-time loop (tests pin it), and the sequential loop is
    exactly expressible as one argmax + one rewrite per level.

    Token-state representation: each token wrapped in its own chr(31)
    separators ('\\x1fa\\x1f\\x1fb\\x1f'), so applying merge (l, r) is a
    plain leftmost-non-overlapping replace() — which IS the greedy
    merge fold (bpe_word_tokens): matches never share characters, and
    scanning resumes after each replacement exactly like the
    out[-1]-check loop. Every CTE is MATERIALIZED (round-7 gotcha:
    DuckDB inlines CTEs, and a twice-referenced chain would expand
    exponentially)."""
    s = "chr(31)"
    parts = [
        f"""words AS MATERIALIZED (
          SELECT w, COUNT(*) AS cnt
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          WHERE w <> '' GROUP BY w
        ), s0 AS MATERIALIZED (
          SELECT w, cnt,
                 regexp_replace(w, '(.)', {s} || '\\1' || {s}, 'g') AS state
          FROM words
        )"""
    ]
    for i in range(1, int(n_merges) + 1):
        parts.append(f"""pc{i} AS MATERIALIZED (
          SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pc FROM (
            SELECT cnt, trim(t[i], {s}) AS l, trim(t[i+1], {s}) AS r
            FROM (SELECT cnt, string_split(state, {s} || {s}) AS t
                  FROM s{i - 1}),
                 unnest(generate_series(1, len(t) - 1)) AS u(i)
          ) GROUP BY l, r
        ), m{i} AS MATERIALIZED (
          SELECT {i - 1} AS step, l, r, l || r AS merged, pc
          FROM pc{i} ORDER BY pc DESC, l, r LIMIT 1
        ), s{i} AS MATERIALIZED (
          SELECT w, cnt,
                 CASE WHEN m.l IS NULL THEN state
                 ELSE replace(state, {s}||m.l||{s}||{s}||m.r||{s},
                              {s}||m.l||m.r||{s}) END AS state
          FROM s{i - 1} LEFT JOIN m{i} m ON TRUE
        )""")
    return ",\n".join(parts)


def bpe_learn_unrolled_sql(n_merges: int = 64) -> str:
    """DuckDB oracle for bpe_learn: the merge table from `n_merges`
    unrolled sequential levels (see _bpe_unrolled_levels). Upgrades
    q86 from rows-only to a full value-hash check."""
    union = " UNION ALL ".join(
        f"SELECT * FROM m{i}" for i in range(1, int(n_merges) + 1)
    )
    return f"""
        WITH {_bpe_unrolled_levels(n_merges)}
        SELECT CAST(step AS INT) AS step, l AS "left", r AS "right",
               merged, CAST(pc AS BIGINT) AS pair_count
        FROM ({union}) ORDER BY step
    """


def bpe_encode_unrolled_sql(n_merges: int = 32) -> str:
    """DuckDB oracle for bpe_encode over merges learned by the same
    unrolled chain: per-doc word/token/char counts, token count = the
    final state's token-list length per distinct word joined back onto
    per-doc word occurrences (mirroring the vocab-sized kernel +
    broadcast join). Upgrades q89 from rows-only to a full value-hash
    check."""
    s = "chr(31)"
    n = int(n_merges)
    return f"""
        WITH {_bpe_unrolled_levels(n)},
        docw AS MATERIALIZED (
          SELECT doc_id, w, COUNT(*) AS cnt
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents)
          WHERE w <> '' GROUP BY doc_id, w
        ),
        wtok AS MATERIALIZED (
          SELECT w, len(string_split(state, {s} || {s})) AS n_word_tokens
          FROM s{n}
        )
        SELECT d.doc_id,
               CAST(COALESCE(SUM(dw.cnt), 0) AS BIGINT) AS n_words,
               CAST(COALESCE(SUM(dw.cnt * wt.n_word_tokens), 0) AS BIGINT)
                 AS n_tokens,
               CAST(LENGTH(d.text) AS INT) AS n_chars
        FROM documents d
        LEFT JOIN docw dw ON d.doc_id = dw.doc_id
        LEFT JOIN wtok wt ON dw.w = wt.w
        GROUP BY d.doc_id, d.text ORDER BY d.doc_id
    """


def packing_waste_sql(
    table: str = "documents",
    text_col: str = "text",
    context_lengths: tuple = (128, 512, 2048),
) -> str:
    arms = []
    for L in context_lengths:
        li = int(L)
        arms.append(f"""
          SELECT CAST({li} AS INT) AS context_len,
                 CAST(COUNT(*) AS BIGINT) AS docs,
                 CAST(SUM(n_tok) AS BIGINT) AS tokens,
                 CAST(SUM(slots) AS BIGINT) AS slots,
                 CAST(SUM(slots) * {li} - SUM(n_tok) AS BIGINT)
                   AS padded_tokens,
                 ROUND(CAST(SUM(slots) * {li} - SUM(n_tok) AS DOUBLE)
                       / CAST(SUM(slots) * {li} AS DOUBLE), 6) AS waste_frac
          FROM counts_{li}""")
    ctes = ", ".join(
        f"""counts_{int(L)} AS (
          SELECT n_tok,
                 CAST(ceil(n_tok / CAST({int(L)} AS DOUBLE)) AS BIGINT)
                   AS slots
          FROM base)"""
        for L in context_lengths
    )
    union = " UNION ALL ".join(arms)
    return f"""
        WITH base AS MATERIALIZED (
          SELECT CAST(len(list_filter(string_split({text_col}, ' '),
                                      w -> w <> '')) AS BIGINT) AS n_tok
          FROM {table}
        ), {ctes}
        {union} ORDER BY context_len
    """


def temperature_mix_sql(
    table: str = "documents",
    source_col: str = "source",
    text_col: str = "text",
    total_budget: int = 1_000_000,
) -> str:
    return f"""
        WITH counts AS MATERIALIZED (
          SELECT {source_col} AS source,
                 SUM(CAST(len(list_filter(string_split({text_col}, ' '),
                                          w -> w <> '')) AS BIGINT))
                   AS n_tokens
          FROM {table} GROUP BY 1
        ), tot AS (
          SELECT SUM(n_tokens) AS _tot,
                 CAST(CAST(SUM(CAST(SQRT(CAST(n_tokens AS DOUBLE))
                       AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE) AS _tsum
          FROM counts
        )
        SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
               ROUND(CAST(n_tokens AS DOUBLE) / CAST(_tot AS DOUBLE), 6)
                 AS prop_share,
               ROUND(SQRT(CAST(n_tokens AS DOUBLE)) / _tsum, 6)
                 AS temp_share,
               ROUND({float(total_budget)!r}
                     * SQRT(CAST(n_tokens AS DOUBLE)) / _tsum, 2)
                 AS token_budget
        FROM counts, tot ORDER BY source
    """


def heaps_fit_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    vg = vocab_growth_sql(table, text_col=text_col, id_col=id_col)
    d2d = "CAST(CAST(SUM(CAST({e} AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE)"
    return f"""
        WITH vg AS MATERIALIZED (SELECT * FROM ({vg})),
        pts AS (
          SELECT LN(CAST(cum_tokens AS DOUBLE)) AS x,
                 LN(CAST(cum_vocab AS DOUBLE)) AS y
          FROM vg WHERE cum_tokens > 0 AND cum_vocab > 0
        ), m AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 {d2d.format(e='x')} AS sx, {d2d.format(e='y')} AS sy,
                 {d2d.format(e='x * y')} AS sxy,
                 {d2d.format(e='x * x')} AS sxx,
                 {d2d.format(e='y * y')} AS syy
          FROM pts
        )
        SELECT CAST(n AS BIGINT) AS n_points,
               ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
               ROUND(EXP((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx)
                                * sx) / n), 6) AS k,
               ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
                 AS r2
        FROM m
    """


def zipf_fit_sql(
    table: str = "documents",
    text_col: str = "text",
    top_n: int = 1000,
) -> str:
    d2d = "CAST(CAST(SUM(CAST({e} AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE)"
    return f"""
        WITH counts AS (
          SELECT tok, COUNT(*) AS c FROM (
            SELECT unnest(list_filter(string_split({text_col}, ' '),
                                      w -> w != '')) AS tok
            FROM {table}
          ) GROUP BY 1 ORDER BY c DESC, tok ASC LIMIT {int(top_n)}
        ), pts AS (
          SELECT LN(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC)
                         AS DOUBLE)) AS x,
                 LN(CAST(c AS DOUBLE)) AS y
          FROM counts
        ), m AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                 {d2d.format(e='x')} AS sx, {d2d.format(e='y')} AS sy,
                 {d2d.format(e='x * y')} AS sxy,
                 {d2d.format(e='x * x')} AS sxx,
                 {d2d.format(e='y * y')} AS syy
          FROM pts
        )
        SELECT CAST(n AS BIGINT) AS n_points,
               ROUND(-((n * sxy - sx * sy) / (n * sxx - sx * sx)), 6)
                 AS alpha,
               ROUND(EXP((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx)
                                * sx) / n), 6) AS c,
               ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
                 AS r2
        FROM m
    """


def language_confusion_sql(
    table: str = "documents",
    text_col: str = "text",
    lang_col: str = "lang",
) -> str:
    inner = language_id_sql(table, text_col)
    return f"""
        WITH pred AS MATERIALIZED (SELECT * FROM ({inner})),
        cm AS (
          SELECT d.{lang_col} AS actual, p.predicted_lang AS predicted,
                 COUNT(*) AS n
          FROM {table} d JOIN pred p ON d.doc_id = p.doc_id
          GROUP BY 1, 2
        ), tot AS (
          SELECT actual, SUM(n) AS na FROM cm GROUP BY 1
        )
        SELECT c.actual, c.predicted, CAST(c.n AS BIGINT) AS n,
               ROUND(CAST(c.n AS DOUBLE) / CAST(t.na AS DOUBLE), 6)
                 AS recall
        FROM cm c JOIN tot t USING (actual)
        ORDER BY c.actual, c.predicted
    """


def entropy_rate_sql(
    table: str = "documents",
    text_col: str = "text",
) -> str:
    return f"""
        WITH base AS (
          SELECT list_filter(string_split({text_col}, ' '), w -> w != '')
                   AS ws
          FROM {table}
        ), toks AS MATERIALIZED (
          SELECT CASE WHEN i = 1 THEN '<s>'
                      ELSE ws[CAST(i - 1 AS INT)] END AS prev,
                 ws[CAST(i AS INT)] AS w
          FROM (SELECT ws, unnest(range(1, len(ws) + 1)) AS i
                FROM base WHERE len(ws) > 0)
        ), n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nl FROM toks),
        cb AS (
          SELECT prev, w, COUNT(*) AS c FROM toks GROUP BY 1, 2
        ), cu AS (
          SELECT prev, SUM(c) AS cp FROM cb GROUP BY 1
        ), hr AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                 CAST(CAST(SUM(CAST(
                   -(CAST(c AS DOUBLE) / nl)
                   * LN(CAST(c AS DOUBLE) / CAST(cp AS DOUBLE))
                   AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE) AS hr
          FROM cb JOIN cu USING (prev), n
        ), hu AS (
          SELECT CAST(CAST(SUM(CAST(
                   -(CAST(c AS DOUBLE) / nl)
                   * LN(CAST(c AS DOUBLE) / nl)
                   AS DECIMAL(30,15))) AS VARCHAR) AS DOUBLE) AS hu
          FROM (SELECT w, COUNT(*) AS c FROM toks GROUP BY 1), n
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM toks) AS n_tokens,
               n_bigrams, ROUND(hu, 6) AS h_unigram,
               ROUND(hr, 6) AS h_rate, ROUND(hu - hr, 6) AS h_gain
        FROM hr, hu
    """


def term_burstiness_sql(
    table: str = "documents",
    text_col: str = "text",
    top_n: int = 50,
) -> str:
    return f"""
        WITH tok AS (
          SELECT doc_id AS d,
                 unnest(list_filter(string_split({text_col}, ' '),
                                    w -> w != '')) AS term
          FROM {table}
        ), td AS (
          SELECT term, d, COUNT(*) AS c FROM tok GROUP BY 1, 2
        ), stats AS (
          SELECT term, SUM(c) AS total, COUNT(*) AS df,
                 SUM(c * c) AS s2
          FROM td GROUP BY 1
        ), top AS (
          SELECT term FROM stats
          ORDER BY total DESC, term ASC LIMIT {int(top_n)}
        ), nd AS (SELECT COUNT(*) AS nd FROM {table})
        SELECT s.term, CAST(s.total AS BIGINT) AS total,
               CAST(s.df AS BIGINT) AS df,
               ROUND(CAST(s.total AS DOUBLE) / CAST(nd AS DOUBLE), 6)
                 AS mean_pdoc,
               ROUND(CASE WHEN CAST(s.total AS DOUBLE) / CAST(nd AS DOUBLE)
                               > 0.0::DOUBLE THEN
                 ((CAST(s.s2 AS DOUBLE)
                   - (CAST(s.total AS DOUBLE) * CAST(s.total AS DOUBLE))
                     / CAST(nd AS DOUBLE)) / CAST(nd AS DOUBLE))
                 / (CAST(s.total AS DOUBLE) / CAST(nd AS DOUBLE))
               END, 6) AS vmr
        FROM stats s JOIN top USING (term), nd
        ORDER BY s.term
    """
