"""DuckDB oracle twins of the operators in `unifydb_spark.operators.search`."""


def inverted_index_sql(
    table: str = "documents",
    text_col: str = "text",
    min_df: int = 2,
    chunk: int = 64,
) -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(string_split({text_col}, ' '), w -> w != '')) AS term
          FROM {table}
        ), tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ), chunks AS (
          SELECT term, CAST(doc_id // {chunk} AS BIGINT) AS chunk_id,
                 COUNT(*) AS n_postings, SUM(tf) AS tf_chunk,
                 string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
          FROM tf GROUP BY 1, 2
        ), stats AS (
          SELECT term, SUM(n_postings) AS df, SUM(tf_chunk) AS tf_total
          FROM chunks GROUP BY 1
        )
        SELECT term, chunk_id, CAST(df AS BIGINT) AS df,
               CAST(tf_total AS BIGINT) AS tf_total, n_postings, postings
        FROM chunks JOIN stats USING (term)
        WHERE df >= {min_df}
        ORDER BY term, chunk_id
    """


def bm25_topk_sql(
    query: str,
    table: str = "documents",
    text_col: str = "text",
    k: int = 10,
    k1_micro: int = 1_200_000,
    b_micro: int = 750_000,
) -> str:
    terms = sorted({w for w in query.split(" ") if w})
    term_list = ", ".join(f"'{t}'" for t in terms)
    k1 = k1_micro / 1e6
    b = b_micro / 1e6
    return f"""
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split({text_col}, ' '), w -> w != '') AS ws
          FROM {table}
        ), dl AS (
          SELECT doc_id, len(ws) AS dl FROM base
        ), corpus AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl
        ), tf AS (
          SELECT doc_id, term, COUNT(*) AS tf
          FROM (SELECT doc_id, unnest(ws) AS term FROM base)
          WHERE term IN ({term_list})
          GROUP BY 1, 2
        ), df AS (
          SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        ), scored AS (
          SELECT tf.doc_id, dl.dl,
                 CAST(ROUND(1e6
                     * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                     * tf * ({k1!r} + 1.0)
                     / (tf + {k1!r} * (1.0 - {b!r} + {b!r} * dl / avgdl))
                   ) AS BIGINT) AS s_micro
          FROM tf JOIN df USING (term)
               JOIN dl ON tf.doc_id = dl.doc_id
               CROSS JOIN corpus
        )
        SELECT doc_id, CAST(SUM(s_micro) AS BIGINT) AS score_micros,
               COUNT(*) AS n_terms_hit, dl
        FROM scored GROUP BY doc_id, dl
        ORDER BY score_micros DESC, doc_id ASC LIMIT {k}
    """
