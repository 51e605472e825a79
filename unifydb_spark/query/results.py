"""The :find result pipeline: implicit group-by -> aggregates -> sort ->
limit -> projection (reference process-frames, src/unifydb/query.clj:441-467;
SURVEY §2.2 R0-R14).

Aggregate parity (query.clj:353-391, statistics.clj):
 - sum/min/max/avg/median/stddev/count/count-distinct map to Spark builtins;
   `count` counts non-nil instantiated values (matches the reference's
   `filter some?`), stddev is the sample (n-1) definition;
 - double sums/averages go through decimal(30,10) partial aggregation then
   cast back to double — exact and order-independent across any number of
   partitions (a plain double sum is run-order dependent, which would break
   oracle hash-comparison at scale);
 - `mode` returns the sorted vector of *all* most-frequent values (reference
   statistics.clj:25-32 — `F.mode` returns one value, so this is a
   count+max window composition);
 - `distinct` returns the sorted set-as-array (reference returns a Clojure
   set; arrays are its deterministic Spark encoding);
 - `avg` returns double where Clojure returns an exact Ratio (documented
   divergence, SURVEY §7).

Sort uses the reference's cross-type total order for dynamically-typed
columns (cc-cmp, src/unifydb/comparison.clj:91-129) via type-rank sort keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from unifydb_spark.query.compile import Rel, bt
from unifydb_spark.query.functions import num
from unifydb_spark.query.parse import (
    FindAgg,
    FindPull,
    FindVar,
    ParsedQuery,
    QueryError,
    Var,
)
from unifydb_spark.values import cc_seq_sort_key, struct_sort_keys

DEC = "decimal(30,10)"


def _agg_expr(fn: str, col: Column, repr_: str, alias: str):
    """Returns (agg Column, output repr)."""
    if fn == "sum":
        if repr_ == "long":
            return F.sum(col).alias(alias), "long"
        # exact decimal partial sums: order- and partition-count-independent
        # (a double sum is run-order dependent — fatal for reproducibility
        # at scale); stays DECIMAL(38,10) in the output
        return F.sum(num((col, repr_)).cast(DEC)).alias(alias), "decimal"
    if fn in ("min", "max"):
        f = F.min if fn == "min" else F.max
        return f(num((col, repr_)) if repr_ == "struct" else col).alias(alias), (
            "double" if repr_ == "struct" else repr_
        )
    if fn in ("mean", "avg"):
        if repr_ == "long":
            return F.avg(col).alias(alias), "double"
        # exact decimal sum -> double, THEN double division: deterministic
        # and bit-identical to the oracle's same expression (a decimal
        # division would round at an engine-specific scale instead)
        dec = num((col, repr_)).cast(DEC)
        return (F.sum(dec).cast("double") / F.count(dec)).alias(alias), "double"
    if fn == "median":
        return F.median(num((col, repr_))).alias(alias), "double"
    if fn == "stddev":
        return F.stddev_samp(num((col, repr_))).alias(alias), "double"
    if fn == "count":
        return F.count(col).alias(alias), "long"
    if fn == "count-distinct":
        return F.count_distinct(col).alias(alias), "long"
    if fn == "approx-count-distinct":
        # the R9 scale path: HLL sketch, one pass, no exact-distinct
        # shuffle — for cardinalities where exact materialization is
        # unaffordable (SURVEY §2.2 R9)
        return F.approx_count_distinct(col).alias(alias), "long"
    if fn == "distinct":
        return F.sort_array(F.collect_set(col)).alias(alias), f"array<{repr_}>"
    raise QueryError("unknown-aggregation", f"Unknown aggregation {fn}", aggregation=fn)


def process_find(rel: Rel, parsed: ParsedQuery) -> tuple[DataFrame, dict]:
    """Apply the find pipeline to a compiled relation. Returns
    (DataFrame, {output column -> repr})."""
    find = list(parsed.find)
    pulls = [f for f in find if isinstance(f, FindPull)]
    aggs = [f for f in find if isinstance(f, FindAgg)]
    plain = [f for f in find if isinstance(f, FindVar)]

    for f in plain:
        if f.var.name not in rel.vars:
            raise QueryError(
                "unbound-variable",
                f"find variable ?{f.var.name} is not bound",
                variables=[f.var.name],
            )

    # sort elements may reference extra vars/aggregates (reference groups by
    # them too, query.clj:447-459)
    sort_elems = list(parsed.sort_by)
    extra_sort_aggs = [
        s for s in sort_elems
        if isinstance(s, FindAgg) and s.alias not in {a.alias for a in aggs}
    ]
    sort_plain = [s for s in sort_elems if isinstance(s, FindVar)]

    key_names: list[str] = []
    # pull columns group alongside their entity var (they are functionally
    # dependent on it) so they survive an aggregating find
    pull_keys = [FindVar(p.var, p.var.name) for p in pulls] + [
        FindVar(Var(p.alias), p.alias) for p in pulls
    ]
    for f in plain + sort_plain + pull_keys:
        if f.var.name not in key_names and f.var.name in rel.vars:
            key_names.append(f.var.name)

    out_reprs: dict[str, str] = {}
    df = rel.df

    if aggs or extra_sort_aggs:
        all_aggs = aggs + extra_sort_aggs
        mode_aggs = [a for a in all_aggs if a.fn == "mode"]
        std_aggs = [a for a in all_aggs if a.fn != "mode"]
        exprs, agg_reprs = [], {}
        for a in std_aggs:
            if a.var is None or not hasattr(a.var, "name"):
                raise QueryError("invalid-find", f"aggregate needs a variable: {a}")
            if a.var.name not in rel.vars:
                raise QueryError(
                    "unbound-variable",
                    f"aggregate variable ?{a.var.name} is not bound",
                    variables=[a.var.name],
                )
            e, r = _agg_expr(a.fn, bt(a.var.name), rel.vars[a.var.name], a.alias)
            exprs.append(e)
            agg_reprs[a.alias] = r
        keys = [bt(k) for k in key_names]
        if exprs:
            grouped = df.groupBy(*keys).agg(*exprs)
        else:
            grouped = df.select(*key_names).distinct() if key_names else None
        for m in mode_aggs:
            modal = _mode_df(df, key_names, m)
            agg_reprs[m.alias] = f"array<{rel.vars[m.var.name]}>"
            if grouped is None:
                grouped = modal
            elif key_names:
                grouped = grouped.join(modal, on=key_names, how="left")
            else:
                grouped = grouped.crossJoin(modal)
        df = grouped
        out_reprs.update(agg_reprs)

    for k in key_names:
        out_reprs[k] = rel.vars[k]

    # sort (R12) — cross-type total order for struct columns
    if sort_elems:
        sort_cols: list[Column] = []
        for s in sort_elems:
            if isinstance(s, FindVar):
                name, repr_ = s.var.name, rel.vars.get(s.var.name, "string")
            else:
                name, repr_ = s.alias, out_reprs.get(s.alias, "double")
            if repr_ == "struct":
                sort_cols.extend(struct_sort_keys(bt(name)))
            elif repr_ == "json":
                # sequence values sort element-wise typed (cc-cmp), not
                # by their canonical-JSON string (which would put [10]
                # before [2])
                sort_cols.append(cc_seq_sort_key(bt(name)))
            else:
                sort_cols.append(bt(name))
        if parsed.sort_desc:
            sort_cols = [c.desc() for c in sort_cols]
        df = df.orderBy(*sort_cols)

    if parsed.limit is not None:
        df = df.limit(int(parsed.limit))

    # projection in find order (R14, realize-find query.clj:393-396)
    select_cols, final_reprs = [], {}
    for f in find:
        if isinstance(f, FindVar):
            select_cols.append(bt(f.var.name).alias(f.alias))
            final_reprs[f.alias] = rel.vars[f.var.name]
        elif isinstance(f, FindAgg):
            select_cols.append(bt(f.alias))
            final_reprs[f.alias] = out_reprs[f.alias]
        elif isinstance(f, FindPull):
            select_cols.append(bt(f.alias))
            final_reprs[f.alias] = "json"
    return df.select(*select_cols), final_reprs


def _mode_df(df: DataFrame, key_names: list[str], agg: FindAgg) -> DataFrame:
    """`mode` = the sorted vector of all most-frequent values (reference
    statistics.clj:25-32; test expects [[32]] for a tie-less case,
    query_test.clj:428-431)."""
    v = agg.var.name
    keys = [bt(k) for k in key_names]
    counts = df.groupBy(*keys, bt(v)).agg(F.count(F.lit(1)).alias("__n"))
    w = (
        Window.partitionBy(*[bt(k) for k in key_names])
        if key_names
        else Window.partitionBy(F.lit(1))
    )
    ranked = counts.withColumn("__mx", F.max("__n").over(w))
    modal = ranked.filter(F.col("__n") == F.col("__mx"))
    if key_names:
        return modal.groupBy(*[bt(k) for k in key_names]).agg(
            F.sort_array(F.collect_list(bt(v))).alias(agg.alias)
        )
    return modal.groupBy().agg(
        F.sort_array(F.collect_list(bt(v))).alias(agg.alias)
    )
