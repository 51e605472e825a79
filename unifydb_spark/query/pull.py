"""Pull — nested document projection (SURVEY R15).

Reference: src/unifydb/query/pull.clj. Its strategy (comment pull.clj:23-34)
is one batched subquery per pull expression over all matched entity ids,
then row re-nesting into maps/lists by attribute cardinality
(parse-pull-rows pull.clj:121-181). Nesting depth is static (it comes from
the spec), so the whole pull is a fixed join pipeline — no recursion at
execution time.

Spark-first shape: one pull *level* = ONE slice of the snapshot holding
the spec's attributes (``Db.visible_facts(attrs=...)``: a single
``a IN (...)`` filter of a commit-log store's cached snapshot, the
per-attribute table projections of the table fact store) semi-joined to
the entity-id set, each value rendered to JSON JVM-side
(``values.VALUE_JSON_SQL``, an output-only rendering), ref-attributes
with sub-specs left-joined to the recursively assembled sub-entity
JSON, then one groupBy builds the
``{"attr": value}`` object per entity (collect_list + array_sort +
array_join — all whole-stage-codegen builtins, no Python UDF anywhere).
The value codec and the object assembly are each one SQL expression
(``F.expr``): under PySpark's call-site capture every ``F.*`` call costs
several py4j round trips, and a level is compiled on every pull query.

Scale notes: each level is one shuffle on `e` (the assembly groupBy); the
id-set semi-join prunes the fact scan to exactly the pulled entities, and
attribute filters push down to the parquet scan. Depth-N pull = N such
stages, independent of row count.

Cardinality (reference fix-cardinalities pull.clj:148-169): card-many
attributes render as JSON arrays (sorted for determinism — the reference
inherits insertion order, which is not defined under parallel scan);
card-one as the bare value. Missing sub-entities render as ``{}``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unifydb_spark.query.parse import QueryError, FindPull
from unifydb_spark.store import Db, norm_attr
from unifydb_spark.values import VALUE_JSON_SQL, json_sql


def _sql_str(s: str) -> str:
    """A Spark SQL string literal of `s`."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _object_sql(many: list[str]) -> str:
    """SQL: one entity's JSON object from its collected (a, vj) structs
    ``__avs``, grouped and sorted INSIDE the row with higher-order
    functions (the attr list is spec-sized, so the O(attrs^2) row-local
    work is constant): keys sorted, a card-many attribute's values as a
    sorted JSON array, any other's as its single (smallest) value."""
    vjs = "array_sort(transform(filter(__avs, x -> x.a = k), x -> x.vj))"
    val = f"element_at({vjs}, 1)"
    if many:
        lits = ", ".join(map(_sql_str, many))
        val = f"IF(array_contains(array({lits}), k), concat('[', array_join({vjs}, ','), ']'), {val})"
    keys = "array_sort(array_distinct(transform(__avs, x -> x.a)))"
    kv = f"concat({json_sql('k')}, ':', {val})"
    return f"concat('{{', array_join(transform({keys}, k -> {kv}), ','), '}}')"


def _parse_spec(spec) -> tuple[list, dict, bool]:
    """Normalize a pull spec: [':attr', {'ref-attr': [subspec]}, '*'] ->
    (plain attrs, {ref attr: subspec}, wildcard?)."""
    plain: list[str] = []
    refs: dict[str, tuple] = {}
    wildcard = False
    for el in spec:
        if isinstance(el, str):
            if el == "*":
                wildcard = True
            else:
                plain.append(norm_attr(el))
        elif isinstance(el, dict):
            for k, sub in el.items():
                refs[norm_attr(str(k))] = tuple(sub)
        else:
            raise QueryError("invalid-pull", f"cannot parse pull spec element {el!r}")
    return plain, refs, wildcard


def pull_level(db: Db, ids_df: DataFrame, spec) -> DataFrame:
    """One pull level: (``__pe`` entity-id) -> (``__pe``, ``__pjson`` JSON
    object string). `ids_df` must have a single long column ``__pe``
    (duplicates are fine: it is only the right side of a semi-join)."""
    plain, refs, wildcard = _parse_spec(spec)
    if wildcard:
        facts = db.visible_facts()
    else:
        attrs = plain + list(refs)
        if not attrs:
            raise QueryError("invalid-pull", "empty pull spec")
        # the spec's attributes only, NOT the whole fact view: the table
        # fact store serves each attribute as a narrow column projection
        # of one source table, so the scan (and the logical plan) stays
        # proportional to the spec, not the schema
        facts = db.visible_facts(attrs=attrs)
    base = facts.join(ids_df, F.expr("e = __pe"), "left_semi").withColumn(
        "__vj", F.expr(VALUE_JSON_SQL)
    )
    for attr, subspec in refs.items():
        is_ref = f"a = {_sql_str(attr)} AND v_type = 'ref'"
        sub_ids = base.filter(F.expr(is_ref)).select(F.col("v_ref").alias("__pe"))
        sub = pull_level(db, sub_ids, subspec).toDF("__se", "__sj")
        base = (
            base.join(sub, F.expr(f"a = {_sql_str(attr)} AND v_ref = __se"), "left")
            .withColumn("__vj", F.expr(f"IF({is_ref}, coalesce(__sj, '{{}}'), __vj)"))
            .drop("__se", "__sj")
        )
    # SINGLE groupBy per level: collect (attr, value-json) structs per
    # entity once and assemble the object inside the row — one shuffle
    # per level, not two nearly-identical ones on (e,a) then (e)
    many = sorted(db.cardinality_many_attrs())
    return (
        base.groupBy("e")
        .agg(F.expr("collect_list(named_struct('a', a, 'vj', __vj))").alias("__avs"))
        .selectExpr("e AS __pe", f"{_object_sql(many)} AS __pjson")
    )


def attach_pulls(db: Db, rel, parsed):
    """Join one assembled-JSON column per (pull ?e [spec]) find element into
    the compiled relation (reference do-pull, src/unifydb/query.clj:409-439 —
    there a recursive sub-query per pull; here a left join per pull)."""
    from unifydb_spark.query.compile import Rel, bt

    for f in parsed.find:
        if not isinstance(f, FindPull):
            continue
        if f.var.name not in rel.vars:
            raise QueryError(
                "unbound-variable",
                f"pull variable ?{f.var.name} is not bound",
                variables=[f.var.name],
            )
        if rel.vars[f.var.name] != "ref":
            raise QueryError(
                "invalid-pull", f"pull variable ?{f.var.name} must bind entity ids"
            )
        ids = rel.df.select(bt(f.var.name).alias("__pe"))
        pulled = pull_level(db, ids, f.spec)
        joined = rel.df.join(
            pulled, bt(f.var.name) == pulled["__pe"], "left"
        ).withColumn(f.alias, F.coalesce(F.col("__pjson"), F.lit("{}")))
        rel = Rel(joined.drop("__pe", "__pjson"), {**rel.vars, f.alias: "json"})
    return rel
