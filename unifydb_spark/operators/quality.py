"""Data-quality validation: declarative constraint checks compiled to a
one-row-per-check report (check_name, n_violations, n_checked).

The pre-training gate every pipeline needs before mixing a new source:
null/range predicates, key uniqueness, referential integrity. Each check
is a full-scan aggregate — map-side-combinable, no wide rows, no
collect — and independent checks on the same table share the scan when
Spark caches it. At 100 TB each check is one pass; uniqueness and
referential checks add one shuffle each (groupBy on the key / left-anti
join, broadcastable when the parent's key set is small). The report
itself is O(checks) rows.

The reference has no validation operators (SURVEY §2.6) — pipeline
extension.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _report_row(name: str, viol: DataFrame, checked: DataFrame) -> DataFrame:
    """Shape (1-row violations frame) x (1-row count frame) into the
    report schema."""
    return (
        viol.crossJoin(checked)
        .select(
            F.lit(name).alias("check_name"),
            F.col("n_violations").cast("long").alias("n_violations"),
            F.col("n_checked").cast("long").alias("n_checked"),
        )
    )


def check_predicate(df: DataFrame, name: str, violation: Column) -> DataFrame:
    """Rows where `violation` is true are defects."""
    agg = df.agg(
        F.coalesce(F.sum(F.when(violation, 1)), F.lit(0)).alias(
            "n_violations"
        ),
        F.count(F.lit(1)).alias("n_checked"),
    )
    return agg.select(
        F.lit(name).alias("check_name"),
        F.col("n_violations").cast("long"),
        F.col("n_checked").cast("long"),
    )


def check_unique(df: DataFrame, name: str, cols: list) -> DataFrame:
    """n_violations = surplus rows beyond the first per duplicated key
    (so 0 means the key is unique)."""
    dup = (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
    )
    viol = dup.agg(
        F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("n_violations")
    )
    checked = df.agg(F.count(F.lit(1)).alias("n_checked"))
    return _report_row(name, viol, checked)


def check_referential(
    child: DataFrame, fk: str, parent: DataFrame, pk: str, name: str
) -> DataFrame:
    """Non-null child fk values with no parent pk — left-anti join,
    broadcast when the parent key set is small."""
    orphans = child.filter(F.col(fk).isNotNull()).join(
        parent.select(F.col(pk).alias(fk)).distinct(), fk, "left_anti"
    )
    viol = orphans.agg(F.count(F.lit(1)).alias("n_violations"))
    checked = child.agg(F.count(F.lit(1)).alias("n_checked"))
    return _report_row(name, viol, checked)


def dq_report(checks: list) -> DataFrame:
    """Union the per-check one-row frames into the report."""
    return reduce(DataFrame.unionByName, checks)


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: "list[str]",
    compare_cols: "list[str]",
) -> DataFrame:
    """Snapshot diff between two table vintages: per key, `added` /
    `removed` / `changed` / `unchanged` — the "what did this pipeline
    run actually do" primitive behind CDC audits, slowly-changing-dim
    loads, and regression-checking a rewritten job against its
    predecessor (the batch complement of the store's tx-level history).
    Null-safe per-column comparison (a NULL->value transition IS a
    change). Returns (key_cols..., status, n_changed_cols).

    Shape: ONE full outer join hash-partitioned on the key, pure
    Column comparisons — no collect, no window; at 100 TB this is the
    canonical co-partitionable join (bucket both vintages by key and
    the exchange disappears)."""
    o = old.select(
        *[F.col(k).alias(f"__k_{k}") for k in key_cols],
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
        F.lit(1).alias("__in_o"),
    )
    nw = new.select(
        *[F.col(k).alias(f"__k_{k}") for k in key_cols],
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
        F.lit(1).alias("__in_n"),
    )
    j = o.join(nw, [f"__k_{k}" for k in key_cols], "full_outer")
    n_changed = None
    for c in compare_cols:
        d = (~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))).cast("int")
        n_changed = d if n_changed is None else n_changed + d
    status = (
        F.when(F.col("__in_o").isNull(), F.lit("added"))
        .when(F.col("__in_n").isNull(), F.lit("removed"))
        .when(n_changed > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        *[F.col(f"__k_{k}").alias(k) for k in key_cols],
        status.alias("status"),
        F.when(
            F.col("__in_o").isNotNull() & F.col("__in_n").isNotNull(),
            n_changed,
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_changed_cols"),
    )


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: "list[str]",
    k: int = 5,
) -> DataFrame:
    """Re-identification risk audit over a quasi-identifier combination
    (the privacy gate next to redact_pii's direct-identifier scrub): a
    row is k-anonymous when at least k rows share its full
    quasi-identifier tuple. Returns ONE row: (n_rows, n_groups,
    n_unique_rows, n_below_k, rows_at_risk, risk_share, min_group,
    median_group) — the numbers a release review reads before shipping
    a dataset keyed on (zip, age, ...)-like combinations.

    Shape: one combinable groupBy over the quasi tuple, then the
    report aggregates the GROUP-SIZE relation — everything after the
    first pass is cardinality-sized. Exact median of group sizes via
    the percentile/quantile_cont parity contract."""
    grp = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count(F.lit(1)).alias("gsz")
    )
    return grp.agg(
        F.sum("gsz").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum((F.col("gsz") == 1).cast("long")).cast("bigint").alias(
            "n_unique_rows"
        ),
        F.sum((F.col("gsz") < k).cast("long")).cast("bigint").alias(
            "n_below_k"
        ),
        F.sum(F.when(F.col("gsz") < k, F.col("gsz")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("rows_at_risk"),
        F.round(
            F.sum(
                F.when(F.col("gsz") < k, F.col("gsz")).otherwise(F.lit(0))
            ).cast("double")
            / F.sum("gsz"),
            6,
        ).alias("risk_share"),
        F.min("gsz").cast("bigint").alias("min_group"),
        F.round(
            F.percentile(F.col("gsz").cast("double"), F.lit(0.5)), 4
        ).alias("median_group"),
    )


def benford_report(
    df: DataFrame,
    value_col: str,
    group_col: "str | None" = None,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    forensic data-quality screen for fabricated or unit-mangled numeric
    columns (real-world multiplicative data follows log10(1 + 1/d);
    synthetic/uniform data flatly does not, which is exactly the
    signal). Per digit 1-9: observed count, observed share, Benford
    share, and the chi-square contribution; rows with value <= 0 are
    excluded. Returns (digit, n, obs_share, benford_share, chi2_term).

    First digit extracted STRUCTURALLY (first char of the non-zero
    number rendered via format_number-free string math — substring of
    CAST(value) after stripping sign/zeros/dot) — no log10 float
    boundary hazards at powers of ten. One combinable digit count."""
    v = F.col(value_col).cast("double")
    # strip every char outside 1-9 (sign, zeros, dot, exponent marks):
    # the first SIGNIFICANT digit leads the mantissa under any float
    # rendering, so '0.00421' -> '421' and '1.2E-4' -> '124' agree
    first = F.substring(
        F.regexp_replace(F.abs(v).cast("string"), "[^1-9]*", ""), 1, 1
    )
    base = (
        df.filter(v > 0)
        .select(first.cast("int").alias("digit"))
        .filter(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = base.agg(F.sum("n").alias("t"))
    import math

    benford = F.element_at(
        F.array(*[F.lit(math.log10(1 + 1 / d)) for d in range(1, 10)]),
        F.col("digit"),
    )
    j = base.crossJoin(F.broadcast(tot))
    obs = F.col("n").cast("double") / F.col("t").cast("double")
    exp = benford * F.col("t").cast("double")
    chi = (F.col("n").cast("double") - exp) * (
        F.col("n").cast("double") - exp
    ) / exp
    return j.select(
        F.col("digit").cast("bigint").alias("digit"),
        F.col("n").cast("bigint").alias("n"),
        F.round(obs, 6).alias("obs_share"),
        F.round(benford, 6).alias("benford_share"),
        F.round(chi, 6).alias("chi2_term"),
    )


def temporal_split_audit(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    train_frac_num: int = 7,
    valid_frac_num: int = 2,
    denom: int = 10,
) -> DataFrame:
    """Temporal train/valid/test split + entity-leakage audit: cut the
    timeline at integer-epoch fractions of [min, max] (train 70% /
    valid 20% / test 10% by TIME, not by rows — the only split that
    respects causality), report per-split row (n_rows) and user counts, and —
    the part everyone forgets — count the users that appear on BOTH
    sides of the train/test cut: any user-level feature computed over
    train leaks those users' test behavior. Returns one row per split
    (split, rows, users, t_lo, t_hi) plus a '_leakage' row whose
    `users` is the train∩test user count and `n_rows` is the test rows
    belonging to leaking users.

    Exactness: cut points are integer microsecond arithmetic
    (min + frac*(max-min) with integer num/denom); all outputs are
    integer counts. Scale: one bounds pass, one combinable
    (split, user) collapse; the leakage intersection is a hash(user)
    semi-join of user sets."""
    from pyspark.sql import functions as F
    from unifydb_spark.resources import tracked_persist

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = events.select(F.col(user_col).alias("u"), us.alias("t"))
    bounds = base.agg(F.min("t").alias("lo"), F.max("t").alias("hi"))
    j = base.crossJoin(F.broadcast(bounds))
    span = F.col("hi") - F.col("lo")
    c1 = F.col("lo") + (span * F.lit(int(train_frac_num))) / F.lit(
        int(denom)
    )
    c2 = F.col("lo") + (
        span * F.lit(int(train_frac_num) + int(valid_frac_num))
    ) / F.lit(int(denom))
    split = (
        F.when(F.col("t").cast("double") <= c1, F.lit("train"))
        .when(F.col("t").cast("double") <= c2, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    tagged = tracked_persist(j.select("u", "t", split.alias("split")))
    per_split = tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_distinct("u").cast("bigint").alias("users"),
        F.min("t").cast("bigint").alias("t_lo"),
        F.max("t").cast("bigint").alias("t_hi"),
    )
    train_u = tagged.filter(F.col("split") == "train").select("u").distinct()
    test_rows = tagged.filter(F.col("split") == "test")
    leak_rows = test_rows.join(train_u, "u", "left_semi")
    leak = leak_rows.agg(
        F.lit("_leakage").alias("split"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_distinct("u").cast("bigint").alias("users"),
        F.min("t").cast("bigint").alias("t_lo"),
        F.max("t").cast("bigint").alias("t_hi"),
    )
    return per_split.unionByName(leak)


def gopher_rules(docs: "DataFrame", text_col: str = "text") -> "DataFrame":
    """Gopher/MassiveText-style per-document quality rule report — the
    standard pre-training text filter battery (word-count bounds, mean
    word length, stopword presence, repetition signals) as one
    DataFrame pass. Adapted to word-granularity for single-line corpora:
    the repetition signals are the duplicate-word fraction and the top
    bigram share (the classic "most frequent 2-gram occupies too much of
    the document" rule). Returns per doc: (doc_id, n_words,
    mean_word_len, stop_hits, dup_word_frac, top_2gram_share, passes).

    passes = 50 <= n_words <= 100000 AND 3 <= mean_word_len <= 10 AND
    stop_hits >= 2 AND dup_word_frac <= 0.6 AND top_2gram_share <= 0.2
    — evaluated on the ROUNDED report columns, identically in the SQL
    twin, so the boolean can never diverge on a float boundary.

    Scale: one explode -> two combinable groupBys (words; bigrams via a
    per-doc lead window) joined back doc-sized; no pairs, no collects.
    The reference has no quality surface (SURVEY §2.6) — this extends
    the LLM-pipeline battery next to text_stats (q19) and the
    winsorize/outlier reports."""
    from pyspark.sql import Window

    from unifydb_spark.operators.text import STOPWORDS, words_col

    stops = sorted(STOPWORDS["en"])
    toks = (
        docs.select("doc_id", words_col(F.col(text_col)).alias("__ws"))
        .select("doc_id", F.posexplode("__ws").alias("pos", "w"))
    )
    wordstats = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("w")).alias("sum_len"),
        F.count_distinct("w").alias("n_distinct"),
        F.count_distinct(
            F.when(F.col("w").isin(stops), F.col("w"))
        ).alias("stop_hits"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.withColumn("nxt", F.lead("w").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w", "nxt").alias("g"))
    )
    gstats = (
        grams.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_g"), F.sum("c").alias("n_g"))
    )
    rep = (
        docs.select("doc_id")
        .join(wordstats, "doc_id", "left")
        .join(gstats, "doc_id", "left")
    )
    n_words = F.coalesce("n_words", F.lit(0)).cast("bigint")
    mean_len = F.round(
        F.col("sum_len").cast("double") / F.col("n_words").cast("double"), 4
    )
    dup_frac = F.round(
        F.lit(1.0)
        - F.col("n_distinct").cast("double") / F.col("n_words").cast("double"),
        6,
    )
    top_share = F.round(
        F.col("top_g").cast("double") / F.col("n_g").cast("double"), 6
    )
    out = rep.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        F.coalesce("stop_hits", F.lit(0)).cast("int").alias("stop_hits"),
        F.coalesce(dup_frac, F.lit(0.0)).alias("dup_word_frac"),
        F.coalesce(top_share, F.lit(0.0)).alias("top_2gram_share"),
    )
    passes = (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("stop_hits") >= 2)
        & (F.col("dup_word_frac") <= 0.6)
        & (F.col("top_2gram_share") <= 0.2)
    )
    return out.select("*", F.coalesce(passes, F.lit(False)).alias("passes"))


def script_mix(docs: "DataFrame", text_col: str = "text") -> "DataFrame":
    """Per-document character-class profile: letters / digits /
    whitespace / other counts plus the class-share entropy — the
    cheap 'is this prose, a table dump, or base64 noise' signal every
    multilingual/column-soup filter starts from (a script histogram at
    character-class granularity; full Unicode script tables are the
    same shape with more classes). Zero-shuffle codegen projection.

    Exactness: counts are length-differences of regexp_replace (both
    engines, identical patterns); each -p*ln(p) term is cast
    DECIMAL(30,15) before the sum (r17 ln-parity contract), zero-count
    classes contribute nothing (ln(0) guarded on both engines)."""
    t = F.col(text_col)
    n = F.length(t)
    letters = n - F.length(F.regexp_replace(t, "[A-Za-z]", ""))
    digits = n - F.length(F.regexp_replace(t, "[0-9]", ""))
    space = n - F.length(F.regexp_replace(t, "[ ]", ""))
    other = n - letters - digits - space
    counts = [letters, digits, space, other]

    def term(c):
        p = c.cast("double") / n.cast("double")
        return F.when(
            c > 0, (-p * F.log(p)).cast("decimal(30,15)")
        ).otherwise(F.lit(0).cast("decimal(30,15)"))

    total = term(counts[0])
    for c in counts[1:]:
        total = (total + term(c)).cast("decimal(30,15)")
    ent = F.round(total.cast("string").cast("double"), 6)
    return docs.select(
        "doc_id",
        n.cast("bigint").alias("n_chars"),
        letters.cast("bigint").alias("n_letters"),
        digits.cast("bigint").alias("n_digits"),
        space.cast("bigint").alias("n_space"),
        other.cast("bigint").alias("n_other"),
        F.when(n > 0, ent).otherwise(F.lit(0.0)).alias("class_entropy"),
    )


def ccnet_buckets(
    docs: "DataFrame",
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> "DataFrame":
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, public
    method): score every document with the corpus bigram LM
    (doc_perplexity), cut each language at its exact 1/3 and 2/3
    cross-entropy quantiles, and label docs head / middle / tail —
    the standard "keep head+middle, drop tail" curation gate for
    web-scale pretraining data. Returns one row per (lang, bucket):
    (lang, bucket, n_docs, mean_ce, head_cut, tail_cut).

    Scale: the tercile boundaries come from the grouped
    histogram-narrowing quantiler (exact_group_quantiles_scalable,
    r09) — NO per-language total sort, driver state O(langs * 2) —
    then bucket assignment is a broadcast join of the langs x 2
    boundary table. Compare-on-rounded: cross_entropy is rounded to 6
    decimals by doc_perplexity and the cuts to 4 by the quantiler, so
    the <= comparisons see identical doubles in both engines; mean_ce
    is a DECIMAL(30,15) order-independent sum divided once.

    Docs with no tokens carry no LM score and are excluded in both
    engines (the inner join on the scored relation)."""
    from unifydb_spark.operators.stats import exact_group_quantiles_scalable
    from unifydb_spark.operators.text import doc_perplexity
    from unifydb_spark.resources import tracked_persist

    ppl = doc_perplexity(docs, text_col=text_col, id_col=id_col)
    scored = tracked_persist(
        docs.select(F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang"))
        .join(ppl.select("doc_id", "cross_entropy"), "doc_id")
    )
    bounds = exact_group_quantiles_scalable(
        scored, "lang", "cross_entropy", probs=(1 / 3, 2 / 3)
    )
    bmap = bounds.groupBy("lang").agg(
        F.min("value").alias("head_cut"), F.max("value").alias("tail_cut")
    )
    ce = F.col("cross_entropy")
    bucket = (
        F.when(ce <= F.col("head_cut"), F.lit("head"))
        .when(ce <= F.col("tail_cut"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(bmap), "lang")
        .select("lang", bucket.alias("bucket"), ce.alias("ce"),
                "head_cut", "tail_cut")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.col("ce").cast("decimal(30,15)"))
                .cast("string").cast("double") / F.count(F.lit(1)),
                6,
            ).alias("mean_ce"),
            F.max("head_cut").alias("head_cut"),
            F.max("tail_cut").alias("tail_cut"),
        )
    )


def dsir_weights(
    docs: "DataFrame",
    target_source: str = "src7",
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> "DataFrame":
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — public method):
    featurize every document into hashed word-bigram buckets, fit
    add-1-smoothed bucket multinomials on the TARGET slice (docs from
    `target_source`) and on the RAW slice (everything else), and score
    each doc with its log importance weight
    sum_b c_doc[b] * ln(p_target[b] / p_raw[b]) — the standard recipe
    for resampling a raw crawl toward a high-quality target
    distribution. Returns (doc_id, is_target, n_feats, log_weight),
    docs with >= 2 words only (a bigram needs two).

    Scale: one linear bigram explode -> a (doc, bucket) combinable
    groupBy -> the bucket log-ratio table is <= n_buckets rows and
    rides a broadcast join; totals ride a 1-row broadcast cross join.
    Two shuffles over the feature relation, everything else bounded.

    Exactness: each bucket's log-ratio is ln(double)-cast-DECIMAL(30,15)
    twice (target minus raw, exact decimal subtraction); each doc term
    re-enters doubles through the VARCHAR round-trip, multiplies by the
    integer count (IEEE-identical in both engines), and re-casts to
    DECIMAL(30,15) so the per-doc sum is order-independent; one surface
    rounding. Bucket = first 8 md5 hex digits of 'dsir:<bigram>' mod
    n_buckets — the md5_u32 cross-engine hash primitive."""
    from unifydb_spark.operators.text import words_col
    from unifydb_spark.resources import tracked_persist

    B = int(n_buckets)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.col(source_col) == F.lit(target_source)).alias("tgt"),
        words_col(F.col(text_col)).alias("ws"),
    ).filter(F.size("ws") >= 2)
    feats = base.select(
        "doc_id",
        "tgt",
        F.explode(
            F.expr(
                "transform(sequence(2, size(ws)), i -> "
                "concat(element_at(ws, i - 1), ' ', element_at(ws, i)))"
            )
        ).alias("g"),
    ).select(
        "doc_id",
        "tgt",
        F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("g"))), 1, 8),
                16,
                10,
            ).cast("bigint"),
            F.lit(B),
        ).alias("b"),
    )
    dcounts = tracked_persist(
        feats.groupBy("doc_id", "tgt", "b").agg(
            F.count(F.lit(1)).alias("c")
        )
    )
    sides = dcounts.groupBy("b").agg(
        F.sum(F.when(F.col("tgt"), F.col("c")).otherwise(F.lit(0))).alias("ct"),
        F.sum(F.when(~F.col("tgt"), F.col("c")).otherwise(F.lit(0))).alias("cr"),
    )
    totals = dcounts.groupBy().agg(
        F.sum(F.when(F.col("tgt"), F.col("c")).otherwise(F.lit(0))).alias("nt"),
        F.sum(F.when(~F.col("tgt"), F.col("c")).otherwise(F.lit(0))).alias("nr"),
    )
    lr = (
        sides.crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                F.log(
                    (F.col("ct").cast("double") + F.lit(1.0))
                    / (F.col("nt").cast("double") + F.lit(float(B)))
                ).cast("decimal(30,15)")
                - F.log(
                    (F.col("cr").cast("double") + F.lit(1.0))
                    / (F.col("nr").cast("double") + F.lit(float(B)))
                ).cast("decimal(30,15)")
            ).alias("lr"),
        )
    )
    term = (
        F.col("c").cast("double")
        * F.col("lr").cast("string").cast("double")
    ).cast("decimal(30,15)")
    return (
        dcounts.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "tgt")
        .agg(
            F.sum("c").cast("bigint").alias("n_feats"),
            F.round(
                F.sum(term).cast("string").cast("double"), 6
            ).alias("log_weight"),
        )
        .select(
            "doc_id",
            F.col("tgt").alias("is_target"),
            "n_feats",
            "log_weight",
        )
    )


def quality_logreg(
    docs: "DataFrame",
    text_col: str = "text",
    lang_col: str = "lang",
    pos_lang: str = "en",
    iters: int = 5,
    lr: float = 0.1,
) -> "DataFrame":
    """Train a logistic-regression quality classifier ON THE ENGINE:
    batch gradient descent, fixed iterations, deterministic end to end
    — the lightweight fastText-style quality-filter trainer every
    curation pipeline keeps (public method; cf. the CCNet/LLaMA
    "quality classifier" filters). Features are the ENGINE-CERTIFIED
    rounded gopher_rules report columns (ln(1+n_words), mean word
    length, dup-word fraction, top-bigram share, stopword hits) with
    label y = (lang == pos_lang); docs with no words carry no features
    and are excluded in both engines.

    Returns ONE row: (n bigint, w_bias..w_stop rounded 6,
    train_logloss rounded 6, n_correct bigint).

    Shape per iteration: ONE full-scan combinable aggregation (six
    DECIMAL(30,15) gradient sums + a count); the 6 weights are a
    bounded driver artifact (the grouped-quantiler contract — O(1)
    scalars per round, never data rows). At 100 TB each GD step is one
    map-side-combinable pass; iterations are the only serial axis.

    Exactness: z = b + w1*x1 + ... + w5*x5 is the same left-associated
    chain of identical doubles in both engines; p = 1/(1+exp(-z));
    each gradient/logloss term re-casts to DECIMAL(30,15) so sums are
    order-independent; weights update as w - lr * (decimal-sum /
    count) in plain IEEE doubles (Python mirrors SQL's ::DOUBLE
    arithmetic). The oracle unrolls the identical iterations in
    MATERIALIZED 1-row weight CTEs."""
    from unifydb_spark.resources import tracked_persist

    base = gopher_rules(docs, text_col=text_col).filter(F.col("n_words") > 0)
    feats = tracked_persist(
        base.join(
            docs.select("doc_id", F.col(lang_col).alias("__lang")), "doc_id"
        ).select(
            "doc_id",
            F.log(F.lit(1.0) + F.col("n_words").cast("double")).alias("x1"),
            F.col("mean_word_len").alias("x2"),
            F.col("dup_word_frac").alias("x3"),
            F.col("top_2gram_share").alias("x4"),
            F.col("stop_hits").cast("double").alias("x5"),
            F.when(F.col("__lang") == F.lit(pos_lang), F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("y"),
        )
    )
    xs = ["x1", "x2", "x3", "x4", "x5"]
    w = [0.0] * 6  # bias + 5 feature weights

    def zcol(wv):
        z = F.lit(float(wv[0]))
        for j, c in enumerate(xs):
            z = z + F.lit(float(wv[j + 1])) * F.col(c)
        return z

    lrf = float(lr)
    for _ in range(int(iters)):
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-zcol(w)))
        aggs = [F.count(F.lit(1)).alias("n")]
        aggs.append(
            F.sum((p - F.col("y")).cast("decimal(30,15)"))
            .cast("string").cast("double").alias("g0")
        )
        for j, c in enumerate(xs):
            aggs.append(
                F.sum(((p - F.col("y")) * F.col(c)).cast("decimal(30,15)"))
                .cast("string").cast("double").alias(f"g{j + 1}")
            )
        row = feats.agg(*aggs).collect()[0]
        n = row["n"]
        w = [w[j] - lrf * (row[f"g{j}"] / n) for j in range(6)]

    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-zcol(w)))
    ll = -(
        F.col("y") * F.log(p)
        + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - p)
    ).cast("decimal(30,15)")
    correct = F.when(
        (zcol(w) >= F.lit(0.0)) == (F.col("y") >= F.lit(0.5)), 1
    ).otherwise(0)
    out = feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(ll).cast("string").cast("double") / F.count(F.lit(1)), 6
        ).alias("train_logloss"),
        F.sum(correct).cast("bigint").alias("n_correct"),
    )
    for j, name in enumerate(
        ["w_bias", "w_logn", "w_mwl", "w_dup", "w_top2", "w_stop"]
    ):
        out = out.withColumn(name, F.round(F.lit(float(w[j])), 6))
    return out.select(
        "n", "w_bias", "w_logn", "w_mwl", "w_dup", "w_top2", "w_stop",
        "train_logloss", "n_correct",
    )


def l_diversity_report(
    df: DataFrame,
    quasi_cols: "list[str]",
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """Distinct l-diversity audit (Machanavajjhala et al. 2007, public
    method) — the companion gate to k_anonymity_report: a
    quasi-identifier group is l-diverse when it contains at least l
    DISTINCT values of the sensitive attribute; a group that is large
    (k-anonymous) but sensitive-homogeneous still leaks. Returns ONE
    row: (n_rows, n_groups, n_below_l, rows_at_risk, risk_share,
    min_l, median_l, max_homogeneity) — max_homogeneity is the worst
    single-value share within any group (1.0 = some group is fully
    homogeneous), the headline a release review checks first.

    Shape: one combinable groupBy over (quasi, sensitive) — the only
    pass over raw rows — then two cardinality-sized collapses; the
    exact median rides the percentile/quantile_cont parity contract."""
    cell = df.groupBy(
        *[F.col(c) for c in quasi_cols], F.col(sensitive_col).alias("__s")
    ).agg(F.count(F.lit(1)).alias("c"))
    grp = cell.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.sum("c").alias("gsz"),
        F.count(F.lit(1)).alias("lv"),
        F.max("c").alias("topc"),
    )
    return grp.agg(
        F.sum("gsz").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum((F.col("lv") < l).cast("long")).cast("bigint").alias(
            "n_below_l"
        ),
        F.sum(F.when(F.col("lv") < l, F.col("gsz")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("rows_at_risk"),
        F.round(
            F.sum(
                F.when(F.col("lv") < l, F.col("gsz")).otherwise(F.lit(0))
            ).cast("double")
            / F.sum("gsz"),
            6,
        ).alias("risk_share"),
        F.min("lv").cast("bigint").alias("min_l"),
        F.round(
            F.percentile(F.col("lv").cast("double"), F.lit(0.5)), 4
        ).alias("median_l"),
        F.round(
            F.max(F.col("topc").cast("double") / F.col("gsz").cast("double")),
            6,
        ).alias("max_homogeneity"),
    )


BLOCKLIST_DEFAULT = (
    "casino", "viagra", "lottery", "jackpot", "porn",
)


def blocklist_report(
    docs: "DataFrame",
    terms: "tuple[str, ...]" = BLOCKLIST_DEFAULT,
    text_col: str = "text",
    source_col: str = "source",
) -> "DataFrame":
    """Blocklist filtering report (the standard term-blocklist gate of
    RefinedWeb/C4 — public method): per source, how many documents hit
    any blocklisted term (word-boundary, case-insensitive), the hit
    rate, and total term occurrences — the number a curation review
    reads before deciding whether a source needs the expensive
    classifier pass. Returns (source, n_docs, n_flagged, flag_rate,
    total_hits).

    Shape: the hit count is a pure Column expression (lowercase split
    + list filter — zero shuffle per doc), then ONE combinable groupBy
    over the source dimension. Integer counts; one surface rounding."""
    words = F.split(F.lower(F.col(text_col)), " ")
    hits = F.size(
        F.filter(words, lambda w: w.isin([t.lower() for t in terms]))
    )
    per_doc = docs.select(
        F.col(source_col).alias("source"), hits.alias("h")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("h") > 0).cast("long")).cast("bigint")
            .alias("n_flagged"),
            F.round(
                F.sum((F.col("h") > 0).cast("long")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("flag_rate"),
            F.sum("h").cast("bigint").alias("total_hits"),
        )
    )


def negative_samples(
    docs: "DataFrame",
    k: int = 4,
    id_col: str = "doc_id",
    salt: str = "neg",
) -> "DataFrame":
    """Deterministic in-batch negative sampling for contrastive
    training (the standard recipe behind CLIP/DPR-style training data
    — public method): for each anchor document, k pseudo-random
    negatives drawn by hashing (anchor, j) into a dense 1..N index —
    reproducible across engines, partitionings and reruns (the
    hash_sample contract), with self-draws dropped. Returns
    (anchor_id, j, negative_id).

    Shape: the dense index is q91's global row number (range-partition
    offsets — no single-partition sort); N rides a 1-row broadcast
    cross join; each anchor explodes to k probe rows and the probe ->
    negative lookup is ONE equi-join on the index. Linear in n*k —
    never an all-pairs."""
    from unifydb_spark.operators.layout import global_row_number

    idx = global_row_number(
        docs.select(F.col(id_col)), [id_col], out_col="ridx"
    )
    n_row = idx.agg(F.count(F.lit(1)).alias("nn"))
    probes = (
        idx.select(F.col(id_col).alias("anchor_id"),
                   F.col("ridx").alias("a_idx"))
        .crossJoin(F.broadcast(n_row))
        .select(
            "anchor_id",
            "a_idx",
            "nn",
            F.explode(F.sequence(F.lit(1), F.lit(int(k)))).alias("j"),
        )
        .select(
            "anchor_id",
            "j",
            (
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.lit(f"{salt}:"),
                                    F.col("anchor_id").cast("string"),
                                    F.lit(":"),
                                    F.col("j").cast("string"),
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("bigint"),
                    F.col("nn"),
                )
                + F.lit(1)
            ).alias("t_idx"),
            "a_idx",
        )
        .filter(F.col("t_idx") != F.col("a_idx"))
    )
    return (
        probes.join(
            idx.select(F.col(id_col).alias("negative_id"),
                       F.col("ridx").alias("t_idx")),
            "t_idx",
        )
        .select("anchor_id", F.col("j").cast("int").alias("j"),
                "negative_id")
    )


def readability_report(
    docs: "DataFrame",
    text_col: str = "text",
) -> "DataFrame":
    """Flesch readability battery (public formulas, Flesch 1948 /
    Kincaid 1975) — the classic text-difficulty features quality
    classifiers lean on: words per sentence, syllables per word
    (approximated by vowel-group counting — the standard heuristic),
    Flesch reading-ease 206.835 - 1.015*(W/S) - 84.6*(Sy/W) and the
    Flesch-Kincaid grade 0.39*(W/S) + 11.8*(Sy/W) - 15.59. Returns
    per doc: (doc_id, n_sentences, n_words, n_syllables, fre, fk_grade)
    — NULL scores for wordless docs (identical CASE both engines).

    Shape: every count is a pure Column expression (regexp counts and
    length differences — zero shuffle, zero explode); the two scores
    are the same left-associated double formulas in both engines with
    one surface rounding. Sentences = periods/!/? runs + 1 clamp;
    syllable groups = runs of [aeiouy], min 1 per word."""
    t = F.lower(F.col(text_col))
    n_words = F.size(
        F.filter(F.split(t, " "), lambda w: w != F.lit(""))
    ).cast("bigint")
    n_sent = F.greatest(
        F.lit(1).cast("bigint"),
        F.regexp_count(t, F.lit(r"[.!?]+")).cast("bigint"),
    )
    # vowel-group count per doc; every word contributes >= 1 syllable:
    # syllables = max(vowel_groups, 1) per word ~ vowel groups overall
    # + the number of vowel-less words
    vgroups = F.regexp_count(t, F.lit(r"[aeiouy]+")).cast("bigint")
    novowel = F.size(
        F.filter(
            F.split(t, " "),
            lambda w: (w != F.lit("")) & ~w.rlike("[aeiouy]"),
        )
    ).cast("bigint")
    n_syll = vgroups + novowel
    wps = n_words.cast("double") / n_sent.cast("double")
    spw = n_syll.cast("double") / n_words.cast("double")
    fre = (
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    )
    fk = (
        F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    )
    has = n_words > 0
    return docs.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        n_syll.alias("n_syllables"),
        F.when(has, F.round(fre, 4)).alias("fre"),
        F.when(has, F.round(fk, 4)).alias("fk_grade"),
    )


def slice_report(
    docs: "DataFrame",
    slice_cols: "list[str]",
    flag_col,
    z_crit: float = 3.0,
) -> "DataFrame":
    """Per-slice quality audit (the slice-finding eval-ops pattern,
    public method — cf. SliceFinder, Chung et al. 2019): for every
    value combination of the slice columns, the pass rate of a boolean
    quality flag vs the corpus rate, with a two-proportion z-score
    against the corpus baseline and a |z| >= z_crit flag — the "which
    language x source pocket is dragging quality" table a curation
    review reads first. Returns per slice: (slice cols..., n, n_pass,
    rate, corpus_rate, z, flagged).

    Shape: ONE combinable groupBy over the slice tuple (the only pass
    over raw rows); the corpus totals ride a 1-row broadcast cross
    join; z = (p_s - p_c) / sqrt(p_c * (1 - p_c) / n_s) is mirrored
    double arithmetic, NULL when the baseline is degenerate (p_c in
    {0, 1}) identically in both engines."""
    cell = (
        docs.select(
            *[F.col(c) for c in slice_cols],
            F.when(flag_col, 1).otherwise(0).alias("__y"),
        )
        .groupBy(*[F.col(c) for c in slice_cols])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__y").alias("n_pass"),
        )
    )
    tot = cell.agg(
        F.sum("n").alias("tn"), F.sum("n_pass").alias("tp")
    )
    pc = F.col("tp").cast("double") / F.col("tn").cast("double")
    ps = F.col("n_pass").cast("double") / F.col("n").cast("double")
    z = F.when(
        (pc > F.lit(0.0)) & (pc < F.lit(1.0)),
        (ps - pc)
        / F.sqrt(pc * (F.lit(1.0) - pc) / F.col("n").cast("double")),
    )
    return cell.crossJoin(F.broadcast(tot)).select(
        *[F.col(c) for c in slice_cols],
        F.col("n").cast("bigint").alias("n"),
        F.col("n_pass").cast("bigint").alias("n_pass"),
        F.round(ps, 6).alias("rate"),
        F.round(pc, 6).alias("corpus_rate"),
        F.round(z, 4).alias("z"),
        F.coalesce(
            F.abs(z) >= F.lit(float(z_crit)), F.lit(False)
        ).alias("flagged"),
    )


def source_cap(
    docs: DataFrame,
    cap: int,
    source_col: str = "source",
    score_col: str = "n_chars",
    id_col: str = "doc_id",
    n_salts: int = 1,
) -> DataFrame:
    """Per-source document cap — the RefinedWeb/CCNet-style domain cap:
    keep at most `cap` documents per source, preferring the highest
    `score_col` (ties, and equal scores, broken by `id_col` ascending,
    so the kept set is deterministic on any engine). The standard
    curation guard against a single crawl domain dominating the mix —
    the reference has no curation surface (SURVEY §2.6); this sits next
    to gopher_rules / ccnet_buckets in the battery.

    Scale shape: one hash shuffle on source + a per-source top-k
    window. Under domain skew (one host = 20% of the crawl — the same
    hot-key floor SCALE_SF1 §2 measured for sessionize), pass
    `n_salts>1` for the two-phase bounded top-k: phase 1 takes the
    per-(source, salt) top-`cap` — each task sorts only its salt shard,
    bounding the floor at hot_share/n_salts — and phase 2 re-ranks the
    <= n_salts*cap survivors per source, a relation whose size no
    longer depends on the data volume. The salt is md5(id)-derived, so
    the result is IDENTICAL for any n_salts (phase 1 can never evict a
    global top-cap row: a row in the true top-cap is in its shard's
    top-cap)."""
    from pyspark.sql import Window

    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    if int(n_salts) > 1:
        salt = F.pmod(
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
            .cast("long"),
            F.lit(int(n_salts)),
        )
        w1 = Window.partitionBy(F.col(source_col), salt).orderBy(*order)
        docs = (
            docs.withColumn("__rk1", F.row_number().over(w1))
            .filter(F.col("__rk1") <= int(cap))
            .drop("__rk1")
        )
    w = Window.partitionBy(source_col).orderBy(*order)
    return (
        docs.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= int(cap))
        .drop("__rk")
    )


def source_cap_auto(
    docs: DataFrame,
    cap: int,
    source_col: str = "source",
    score_col: str = "n_chars",
    id_col: str = "doc_id",
    hot_share_threshold: float = 0.05,
    n_salts: int = 32,
    sample_fraction: float = 0.02,
    seed: int = 7,
) -> DataFrame:
    """Skew-routed :func:`source_cap` — the production default (VERDICT
    r10 ask #6). One cheap hot-key probe (events.hot_key_share on the
    source column) picks the route: plain per-source top-k under uniform
    domains, the salted two-phase top-k (result-identical by the
    invariance argument in :func:`source_cap`, property-fuzzed) when one
    domain exceeds `hot_share_threshold` of the corpus. n_salts=32
    follows the measured oversampling rule (SCALE_SF1 §2: salts must
    oversample ~4x beyond hot_share * n_partitions or the shards
    re-collide under the reducer hash)."""
    from unifydb_spark.operators.events import hot_key_share

    share = hot_key_share(docs, [source_col], sample_fraction, seed)
    chosen = int(n_salts) if share > float(hot_share_threshold) else 1
    return source_cap(docs, cap, source_col, score_col, id_col, chosen)


def source_cap_report(
    docs: DataFrame,
    cap: int,
    source_col: str = "source",
    score_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Retention report for :func:`source_cap`: per source the document
    count, how many the cap keeps, and the admission cutoff (lowest
    kept score). All-integer output — bit-exact on any engine. One
    shuffle: the same per-source window, then a combinable rollup."""
    from pyspark.sql import Window

    w = Window.partitionBy(source_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    ranked = docs.withColumn("__rk", F.row_number().over(w))
    kept = F.col("__rk") <= int(cap)
    return (
        ranked.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(kept.cast("long")).cast("bigint").alias("n_kept"),
            F.min(F.when(kept, F.col(score_col)))
            .cast("bigint")
            .alias("cutoff_score"),
        )
    )
