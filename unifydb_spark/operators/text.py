"""Text-analysis operators for training-data pipelines: tokenization,
language identification, quality scoring, document fingerprinting.

All operators are pure JVM expression pipelines (split / filter / transform /
aggregate) — no Python UDFs — so they whole-stage-codegen and scale linearly
with input splits: per-document work only, no shuffle except the final
aggregations, which are map-side combinable.

Determinism contract: every score is either integer arithmetic, a single
double division (exactly rounded, IEEE-reproducible), or an md5 hex string,
so a SQL oracle reproduces values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from unifydb_spark.resources import tracked_persist

# BPE-ish word/number/symbol token pattern (token *counting*, not a real BPE)
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Overlaps (de/fr 'la', en/fr 'on'...) are fine — argmax decides.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "on", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "auf", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "dans", "est", "pour"],
    "es": ["el", "la", "los", "y", "de", "un", "una", "en", "es", "por"],
}


def words_col(text: Column) -> Column:
    """Whitespace tokens, empties dropped (split+filter — codegen'd)."""
    return F.filter(F.split(text, " "), lambda w: w != "")


def shingles_col(ws: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings (1-indexed element_at matches the
    SQL oracle's list indexing). Docs shorter than n tokens yield an
    EMPTY list — Spark's sequence(1, 0) counts DOWN ([1, 0]), unlike
    DuckDB's generate_series(1, 0) = [], so the short-doc case needs an
    explicit guard to match the SQL twin."""
    cnt = F.greatest(F.size(ws) - (n - 1), F.lit(0))
    idx = F.when(cnt > 0, F.sequence(F.lit(1), cnt)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(ws, (i + j).cast("int")) for j in range(n)]
        ),
    )


def text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token counting + quality scoring: whitespace tokens,
    BPE-ish regex tokens, punctuation count, stopword ratio, and a composite
    quality score in [0,1]. One narrow projection — no shuffle at all."""
    t = F.col(text_col)
    ws = words_col(t)
    bpe = F.regexp_extract_all(t, F.lit(TOKEN_RE), 0)
    n_ws = F.size(ws)
    n_bpe = F.size(bpe)
    n_punct = F.size(F.filter(bpe, lambda x: x.rlike("^[^a-z0-9]+$")))
    all_stops = sorted({w for lst in STOPWORDS.values() for w in lst})
    n_stop = F.size(F.filter(ws, lambda w: w.isin(all_stops)))
    sum_len = F.aggregate(
        ws, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
    )
    avg_len = sum_len.cast("double") / n_ws
    stop_ratio = n_stop.cast("double") / n_ws
    punct_ratio = n_punct.cast("double") / n_bpe
    quality = F.round(
        F.least(F.lit(1.0), n_ws.cast("double") / F.lit(100.0)) * 0.5
        + stop_ratio * 0.3
        + F.least(F.lit(1.0), avg_len / F.lit(8.0)) * 0.2,
        6,
    )
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        n_punct.alias("n_punct"),
        F.round(avg_len, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        quality.alias("quality"),
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition / quality-filter signals per document:
    duplicate-word fraction, duplicate-line fraction, most-frequent-bigram
    mass fraction, symbol fraction, and the composite `gopher_pass` flag
    (the repetition-filter family of Rae et al. 2021, 'Scaling Language
    Models' §A1.1 — public method, thresholds tuned to this corpus).

    Shape: one narrow projection for the array-local signals (codegen, no
    shuffle) + one doc_id-partitioned aggregate for the bigram mode —
    both linear and map-side combinable at 100 TB."""
    from unifydb_spark.operators.dedup import _spread

    t = F.col(text_col)
    base = _spread(docs).select(
        "doc_id",
        t.alias("__t"),
        words_col(t).alias("__ws"),
        F.split(t, "\n").alias("__lines"),
    )
    bigrams = base.select(
        "doc_id", F.explode(shingles_col(F.col("__ws"), 2)).alias("g")
    )
    bga = (
        bigrams.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("__top_c"), F.sum("c").alias("__tot_c"))
    )
    nw = F.size(F.col("__ws"))
    nl = F.size(F.col("__lines"))
    nchars = F.length(F.col("__t"))
    dup_word = F.when(nw == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(F.col("__ws"))).cast("double") / nw
    )
    dup_line = F.when(nl == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(F.col("__lines"))).cast("double") / nl
    )
    symbol = F.when(nchars == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(F.col("__t"), "[a-zA-Z0-9 ]", "")).cast("double")
        / nchars
    )
    stats = base.select(
        "doc_id",
        nw.alias("n_words"),
        dup_word.alias("dup_word_frac"),
        dup_line.alias("dup_line_frac"),
        symbol.alias("symbol_frac"),
    )
    out = stats.join(bga, "doc_id", "left").withColumn(
        "top_bigram_frac",
        F.coalesce(
            F.col("__top_c").cast("double") / F.col("__tot_c"), F.lit(0.0)
        ),
    )
    gopher = (
        (F.col("n_words") >= 10)
        & (F.col("dup_word_frac") < 0.5)
        & (F.col("top_bigram_frac") < 0.2)
        & (F.col("symbol_frac") < 0.1)
    )
    return out.select(
        "doc_id", "n_words", "dup_word_frac", "dup_line_frac",
        "symbol_frac", "top_bigram_frac", gopher.alias("gopher_pass"),
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-overlap language ID: per language, count tokens (with
    multiplicity) that appear in its stopword list; predict the argmax
    (ties broken by language code order). A real pipeline would use
    char-n-gram models; the shape — per-doc scores + argmax, zero shuffle —
    is identical."""
    ws = words_col(F.col(text_col))
    langs = sorted(STOPWORDS)
    scores = {
        lang: F.size(F.filter(ws, lambda w: w.isin(STOPWORDS[lang])))
        for lang in langs
    }
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.lit(None).cast("string")
    for lang in reversed(langs):  # earlier lang wins ties -> apply last
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return docs.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
        pred.alias("predicted_lang"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Document fingerprinting: exact content hash (md5) + a rolling-window
    fingerprint = min over md5(word n-gram shingle) — i.e. a k=1 MinHash,
    stable under small edits away from the minimal shingle. Lexicographic
    min over hex strings is engine-portable."""
    t = F.col(text_col)
    # shingles materialized through a projection: nesting the unnamed
    # shingle expression inside the md5 transform re-inlines it per
    # element (the r8 winnow O(n^2) recompute class)
    staged = docs.select(
        "doc_id",
        F.md5(t).alias("content_md5"),
        words_col(t).alias("__ws"),
    ).select(
        "doc_id",
        "content_md5",
        shingles_col(F.col("__ws"), n).alias("__sh"),
    )
    minshingle = F.array_min(F.transform(F.col("__sh"), lambda s: F.md5(s)))
    return staged.select(
        "doc_id", "content_md5", minshingle.alias("shingle_fp")
    )


def hash_sample(
    docs: DataFrame,
    rate: float,
    key_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic hash sampling: keep rows where the first 8 md5 hex
    digits of (salt:key) fall under rate * 16^8. Unlike `df.sample`, the
    selection is a pure function of the key — reproducible across engines,
    partitionings and reruns, and stable under re-ingestion (the property
    a training pipeline needs for holdout splits)."""
    threshold = int(rate * (16 ** 8))
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return docs.filter(bucket < threshold)


def pack_sequences(
    docs: DataFrame,
    capacity: int = 512,
    n_shards: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing (the training-data 'packing' step): documents are
    concatenated in a deterministic order within hash shards and split
    into fixed-`capacity` token windows (concat-and-chunk — documents may
    straddle chunk boundaries, as training loaders do). Returns per doc:
    (doc_id, shard, n_tokens, start_offset, first_chunk, last_chunk),
    chunk ids local to the shard.

    Scale rationale: a single global concatenation order would serialize
    the running offset into one task; shard-local packing (deterministic
    md5 shard per doc) keeps every window partition-parallel, and a
    training loader consumes shards independently anyway."""
    ws = words_col(F.col(text_col))
    n = F.size(ws).cast("bigint")
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint") % n_shards
    )
    from pyspark.sql import Window

    base = docs.select("doc_id", n.alias("n_tokens"), shard.alias("shard"))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            F.expr("cum - n_tokens").alias("start_offset"),
            F.expr(f"(cum - n_tokens) DIV {capacity}").alias("first_chunk"),
            F.when(
                F.col("n_tokens") == 0,
                F.expr(f"(cum - n_tokens) DIV {capacity}"),
            ).otherwise(F.expr(f"(cum - 1) DIV {capacity}")).alias("last_chunk"),
        )
    )


def vocab_stats(docs: DataFrame, text_col: str = "text", top_k: int = 50) -> DataFrame:
    """Corpus vocabulary: term frequency + document frequency, top-k terms
    by (tf desc, term). One explode + one groupBy — map-side combinable;
    at 100 TB this is the canonical word-count shape."""
    from unifydb_spark.operators.dedup import _spread

    tok = _spread(docs).select(
        "doc_id", F.explode(words_col(F.col(text_col))).alias("w")
    )
    return (
        tok.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.col("tf").desc(), F.col("w"))
        .limit(top_k)
    )


# ---------------------------------------------------------------------------
# PII redaction

# (name, regex, replacement) — patterns kept to the RE2 ∩ Java-regex common
# subset so the Spark plan and the DuckDB oracle compile the same automaton.
PII_PATTERNS = [
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "[EMAIL]"),
    ("phone", r"\+\d{1,2}-\d{3}-\d{3,4}(-\d{1,4})?", "[PHONE]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
]


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII scrubbing: count and replace emails, phone numbers
    and IPv4 addresses with typed placeholders. Pure regexp projection —
    whole-stage codegen'd, zero shuffle, linear in input splits; exactly the
    shape a 100 TB pre-training scrub pass needs (no aggregation at all).

    Counts are taken on the raw text; replacements are applied in
    PII_PATTERNS order (email before ip so 'user@10.0.0.1' style strings
    redact deterministically on both engines)."""
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(pat)).alias(f"n_{name}") for name, pat, _ in PII_PATTERNS
    ]
    red = t
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    return docs.select("doc_id", *counts, red.alias("redacted"))


# ---------------------------------------------------------------------------
# TF-IDF

def tfidf_top_terms(docs: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document: tf = term count within the doc,
    idf = ln(N / df) over the corpus, ties broken by term asc.

    Plan shape (the scale story): explode -> groupBy(doc_id, term) with
    map-side combine (one shuffle on (doc_id, term)); df is a vocab-sized
    aggregate joined back by BROADCAST (vocabulary << corpus); N is a
    broadcast one-row cross join (never a driver-side collect); final top-k
    is a window over doc_id (second shuffle). No step holds more than
    vocab-size state per executor."""
    ws = words_col(F.col(text_col))
    toks = docs.select("doc_id", F.explode(ws).alias("term"))
    # persist the post-shuffle tf relation: it feeds both the scored join
    # and the vocab df aggregate — without it Catalyst re-scans and
    # re-explodes the corpus (the expensive step at scale) a second time
    tf = tracked_persist(toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(n))
        .withColumn(
            "tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "tfidf")
    )


# ---------------------------------------------------------------------------
# Stratified sampling

def stratified_sample(
    docs: DataFrame,
    rates: dict,
    group_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """Per-stratum deterministic hash sampling: each group keeps its own
    rate (groups absent from `rates` are dropped). Same engine-portable
    md5 bucket as hash_sample, so the selected set is a pure function of
    (salt, key, rates) — the language/source re-balancing primitive of a
    training-data mix. Zero shuffle: the rate lookup is a literal CASE
    expression, the filter fully codegen'd and pushed at the scan."""
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    thr = F.lit(None).cast("bigint")
    expr = None
    for g, rate in sorted(rates.items()):
        t = int(rate * (16 ** 8))
        cond = F.col(group_col) == g
        expr = F.when(cond, t) if expr is None else expr.when(cond, t)
    thr = expr.otherwise(F.lit(-1))
    return docs.filter(bucket < thr)


def importance_sample(
    docs: DataFrame,
    score: Column,
    key_col: str = "doc_id",
    salt: str = "imp",
) -> DataFrame:
    """Quality-weighted (importance) sampling: keep each row with
    probability `score` (a [0,1] column), decided by the same deterministic
    md5 bucket as hash_sample — bucket < score * 16^8. Selection is a pure
    function of (salt, key, score): reproducible across engines, reruns
    and partitionings, unlike `df.sample`. The data-mixing primitive for
    quality-weighted corpus construction (e.g. keep high-quality documents
    with higher probability). Zero shuffle."""
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    return docs.filter(bucket < score * (16 ** 8))


def bigram_commonness(
    docs: DataFrame, text_col: str = "text", prefix_chars: int = 400
) -> DataFrame:
    """Character-bigram language-model proxy: how "ordinary" each
    document's character sequence is for this corpus. Train = corpus
    bigram counts; score = average corpus frequency of the document's
    bigrams. Low scores mark encoding garbage / exotic text the way a
    real LM-perplexity filter would, with arithmetic that stays exact:
    counts are integers end-to-end and the only float op is one final
    division (engine-portable bit-for-bit, unlike summed log-probs whose
    libm/ordering drift differs per engine).

    Shape: explode to (doc, position) — linear, capped at prefix_chars
    per doc; one count shuffle over the bigram vocab (charset² keys, so
    tiny and safe to broadcast back); one per-doc sum. At 100 TB the
    vocab stays charset²; only the linear explode grows."""
    t = docs.select(
        "doc_id", F.substring(text_col, 1, int(prefix_chars)).alias("t")
    ).filter(F.length("t") >= 2)
    bg = t.select(
        "doc_id",
        F.explode(F.expr("sequence(1, length(t) - 1)")).alias("i"),
        "t",
    ).select("doc_id", F.expr("substring(t, i, 2)").alias("bg"))
    counts = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    return (
        bg.join(F.broadcast(counts), "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("c").alias("freq_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "freq_sum",
            F.round(
                F.col("freq_sum").cast("double") / F.col("n_bigrams"), 4
            ).alias("commonness"),
        )
    )


def mix_by_token_budget(
    docs: DataFrame,
    total_tokens: int,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Corpus mixing: fill a total token budget from each source in
    proportion to deterministic per-source weights — the final
    composition step of a training-data pipeline (given target mixture
    weights, select documents until each source's token budget is full).

    Deterministic end to end: the per-source weight derives from the
    source name (md5 first hex digit % 3 + 1 — a stand-in for configured
    mixture weights, chosen so the SQL oracle can recompute it), the
    within-source order is the md5 shuffle of doc_id, and a document is
    selected iff it STARTS inside its source's budget (cumulative token
    window). Returns (doc_id, source, n_tok).

    Scale: one window per source partition — a single shuffle on source;
    the budget computation is a broadcast-sized per-source aggregate. At
    100 TB the md5-rank order also makes the selection stable under
    re-partitioning and incremental re-runs."""
    t = F.col(text_col)
    n_tok = F.size(F.filter(F.split(t, " "), lambda x: x != ""))
    wt = (
        F.conv(F.substring(F.md5(F.col(source_col)), 1, 1), 16, 10).cast("long")
        % 3 + 1
    )
    d = docs.select(
        "doc_id",
        F.col(source_col).alias("source"),
        n_tok.alias("n_tok"),
        wt.alias("wt"),
        F.md5(F.col("doc_id").cast("string")).alias("rk"),
    )
    weights = d.select("source", "wt").distinct()
    total_wt = weights.agg(F.sum("wt").alias("tw"))
    budgets = F.broadcast(
        weights.crossJoin(total_wt).select(
            "source",
            F.floor(F.lit(int(total_tokens)) * F.col("wt") / F.col("tw")).alias(
                "budget"
            ),
        )
    )
    w = Window.partitionBy("source").orderBy("rk", "doc_id")
    return (
        d.withColumn("cum", F.sum("n_tok").over(w))
        .join(budgets, "source")
        .filter(F.col("cum") - F.col("n_tok") < F.col("budget"))
        .select("doc_id", "source", "n_tok")
    )


def _bpe_merge_fold(symbols, left, right):
    """Greedy left-to-right application of one BPE merge to a symbol
    array, as a single F.aggregate fold: append each symbol unless the
    accumulator's last element is `left` and the symbol is `right`, in
    which case replace the last element with the merged token. Because
    merged != left always (right is non-empty), a fresh merge can never
    cascade into the next element — exactly the non-overlapping greedy
    scan reference BPE uses."""
    empty = F.array().cast("array<string>")

    def step(acc, e):
        last = F.element_at(acc, -1)
        can = (F.size(acc) > 0) & (last == left) & (e == right)
        return F.when(
            can,
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(last, e)),
            ),
        ).otherwise(F.concat(acc, F.array(e)))

    return F.aggregate(symbols, empty, step)


def _select_exact_merge_batch(cands, exhausted: bool, max_batch: int):
    """Maximal prefix of the (pc desc, l, r)-sorted candidate pairs that a
    SEQUENTIAL Sennrich loop is guaranteed to pick in this exact order.

    Why it is exact: applying merge (l, r) -> lr only creates new pairs
    (x, lr) / (lr, y), whose counts are bounded by the PRE-merge counts of
    (x, l) / (r, y) — pairs that share a symbol with the merge. In the
    sorted scan, the first candidate that shares a symbol with an already-
    accepted merge is therefore the tightest available bound B on every
    new pair any accepted merge can create. A disjoint accepted merge with
    pc > B can never be outranked by those new pairs (even on ties, which
    break lexicographically and could otherwise reorder equal counts), and
    disjoint merges do not change each other's counts or applications —
    so the sequential loop picks exactly this prefix, in this order.
    Candidates past the collected window are handled by treating the last
    collected pc as B when the window wasn't exhaustive. Worst case the
    filter empties (B equals the top count) and we fall back to the top
    pair alone — the plain argmax, always exact.

    Self-pair exception (l == r): greedy application of (x, x) -> xx to
    a run like [x, x, x] leaves [xx, x], creating the pair (xx, x) whose
    only pre-merge bound is the count of (r, y) = (x, x) — the merge's
    OWN count, which the conflict scan never sees (the merge is accepted
    before its symbols enter `used`). Every later candidate has
    pc' <= pc, so none can be proven to precede that created pair
    (a tie loses/wins on lexicographic order we can't predict without
    knowing the created pair). The provable prefix therefore stops
    ACCEPTING at a self-pair — but the scan continues, because a later
    conflicting candidate still bounds the pairs created by the
    earlier-accepted merges and may evict them via the pc > B filter.
    (Counterexample that forced this: words=['ba','ababab'] — merge
    (ab,ab) creates ('abab','ab') which tie-beats the disjoint ('b','a')
    lexicographically; pinned in tests/test_properties.py.)"""
    accepted, used = [], set()
    bound = None
    accepting = True
    for l, r, pc in cands:
        if l in used or r in used:
            bound = pc
            break
        if accepting and len(accepted) < max_batch:
            accepted.append((l, r, pc))
            used.add(l)
            used.add(r)
            if l == r:
                accepting = False
    if bound is None:
        bound = -1 if exhausted else cands[-1][2]
    safe = [m for m in accepted if m[2] > bound]
    return safe if safe else accepted[:1]


def bpe_learn(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    batch_candidates: int = 64,
    max_batch: int = 16,
) -> "list[tuple]":
    """Learn byte-pair-encoding merges from the corpus (Sennrich-style,
    over the word-frequency table): start from characters, repeatedly
    count adjacent symbol pairs weighted by word frequency, merge the
    most frequent pair (ties -> lexicographically smallest), apply the
    merge greedily to every word. Returns [(step, left, right, merged,
    pair_count), ...] — the learned merge table, the artifact a
    tokenizer trainer ships. Bit-identical to the one-merge-at-a-time
    loop (pinned by tests), but batched: each round counts pairs ONCE,
    collects the top `batch_candidates` rows, and accepts every merge
    that `_select_exact_merge_batch` proves the sequential loop would
    pick next — so a round applies up to `max_batch` merges with one
    pair-count job and one vocab rewrite instead of one of each per
    merge.

    Scale shape: the working set is DISTINCT WORDS (with counts), not
    the corpus — one aggregation reduces 100 TB of text to a vocab-sized
    relation, and each round is one explode + one weighted groupBy over
    that relation plus a codegen'd fold chain to apply the batch. The
    per-round driver step fetches `batch_candidates` rows (the argmax
    window), so a 50k-merge tokenizer train is ~50k/avg_batch Spark
    jobs, not 50k. `max_batch` caps the nested-fold expression depth per
    rewrite (codegen-safe). Iterative + argmax semantics make this
    non-SQL-expressible for the oracle harness; tests/test_operators.py
    pins it against a pure-Python sequential reference instead."""
    from unifydb_spark.operators.dedup import _spread

    words = (
        _spread(docs)
        .select(F.explode(words_col(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "symbols",
            F.split(F.col("w"), "").cast("array<string>"),
        )
        .select("cnt", "symbols")
    )
    # symbols: split('', word) yields chars; drop any empty trailing slot
    words = words.withColumn(
        "symbols", F.filter(F.col("symbols"), lambda x: x != "")
    ).localCheckpoint()
    merges: list[tuple] = []
    k = max(int(batch_candidates), 2)
    while len(merges) < int(n_merges):
        pairs = (
            words.select(
                "cnt",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("symbols"), 1, F.size("symbols") - 1),
                        F.slice(F.col("symbols"), 2, F.size("symbols") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("pc"))
        )
        cands = (
            pairs.orderBy(F.col("pc").desc(), F.col("l"), F.col("r"))
            .limit(k)
            .collect()
        )
        if not cands:
            break
        batch = _select_exact_merge_batch(
            [(row["l"], row["r"], int(row["pc"])) for row in cands],
            exhausted=len(cands) < k,
            max_batch=int(max_batch),
        )[: int(n_merges) - len(merges)]
        col = F.col("symbols")
        for left, right, pc in batch:
            merges.append((len(merges), left, right, left + right, pc))
            col = _bpe_merge_fold(col, F.lit(left), F.lit(right))
        words = words.withColumn("symbols", col).localCheckpoint()
    return merges


def bpe_word_tokens(word: str, merge_pairs) -> "list[str]":
    """Pure-Python application of a learned merge table to one word,
    identical to the training fold (_bpe_merge_fold): merges in learned
    order, each applied greedy leftmost-first non-overlapping. This is
    the per-word kernel bpe_encode runs over the DISTINCT-word relation;
    it is also the test oracle's reference. O(n_merges * len(word)) — at
    tokenizer-scale merge counts (30-50k) swap in a rank-dict encoder
    (repeatedly merge the lowest-rank adjacent pair); for the merge
    tables bpe_learn produces here the linear scan is faster in practice."""
    syms = list(word)
    for left, right in merge_pairs:
        out = []
        for e in syms:
            if out and out[-1] == left and e == right:
                out[-1] = left + right
            else:
                out.append(e)
        syms = out
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: "list[tuple]",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize the corpus with a learned BPE merge table (the artifact
    bpe_learn returns): per document, the whitespace word count, the BPE
    token count, and character count. Returns (doc_id, n_words,
    n_tokens, n_chars).

    Scale shape — the merge application NEVER touches the corpus: the
    Python kernel runs over DISTINCT WORDS only (one Arrow-batched
    mapInPandas over a vocab-sized relation), producing a broadcast-
    sized (word, n_word_tokens) table that joins back onto the per-doc
    word counts; per-doc totals are then one map-side-combinable sum.
    100 TB of text with a 1M-word vocabulary costs 1M kernel calls, not
    10^11. Iterative merge semantics are not SQL-expressible, so like
    q86 this is rows-only under the driver harness; parity is pinned
    against bpe_word_tokens (and through it the training fold) in
    tests/test_operators.py."""
    merge_pairs = [(m[1], m[2]) for m in sorted(merges, key=lambda m: m[0])]

    words = docs.select(
        "doc_id", F.explode(words_col(F.col(text_col))).alias("w")
    )
    per_doc_word = words.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("cnt")
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "n_word_tokens": [
                        len(bpe_word_tokens(w, merge_pairs)) for w in pdf["w"]
                    ],
                }
            )

    vocab_tokens = per_doc_word.select("w").distinct().mapInPandas(
        encode, schema="w string, n_word_tokens int"
    )
    per_doc = (
        per_doc_word.join(F.broadcast(vocab_tokens), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_word_tokens")).alias("n_tokens"),
        )
    )
    return (
        docs.select("doc_id", F.length(F.col(text_col)).alias("n_chars"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.col("n_chars"),
        )
    )


def holdout_split(
    docs: DataFrame,
    fracs: tuple = (0.8, 0.1, 0.1),
    key_col: str = "doc_id",
    salt: str = "holdout",
) -> DataFrame:
    """Deterministic train/val/test ASSIGNMENT (every row gets exactly
    one split — the complement of hash_sample's keep/drop): the md5-u32
    bucket of (salt:key) lands in [0, 0.8), [0.8, 0.9) or [0.9, 1) of
    the hash space, with integer thresholds so the boundary compare is
    exact on any engine. A pure function of the key: stable under
    re-ingestion, re-partitioning and incremental appends — adding new
    documents never reassigns an old one (the property that keeps a
    frozen eval set frozen). Zero shuffle: one codegen'd CASE over a
    projected hash."""
    t1 = int(fracs[0] * (16 ** 8))
    t2 = int((fracs[0] + fracs[1]) * (16 ** 8))
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    return docs.withColumn(
        "split",
        F.when(bucket < t1, F.lit("train"))
        .when(bucket < t2, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def holdout_split_report(
    docs: DataFrame,
    strata_col: str = "source",
    fracs: tuple = (0.8, 0.1, 0.1),
    key_col: str = "doc_id",
    salt: str = "holdout",
) -> DataFrame:
    """Per (stratum, split) manifest: doc count, exact char sum, mean
    length — the sanity table a pipeline checks before training (is the
    test slice ~10% inside EVERY stratum, not just overall?). One
    map-side-combinable aggregation."""
    s = holdout_split(docs, fracs, key_col, salt)
    return s.groupBy(F.col(strata_col), F.col("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.round(
            F.sum("n_chars").cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_chars"),
    )


def balanced_sample(
    docs: DataFrame,
    n_per_group: int,
    group_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "balanced",
) -> DataFrame:
    """EXACTLY n rows per group (fewer only when the group is smaller) —
    the balanced-eval-set primitive that rate-based sampling cannot
    give: hash_sample keeps rate*|group| rows, so small strata vanish
    and large ones dominate. Selection ranks each group's rows by the
    md5-u32 hash of (salt:key) — a deterministic uniform order that is
    a pure function of the key, so the sample is reproducible across
    engines/partitionings and STABLE under appends in expectation (a
    new row displaces at most one old row, with probability n/|group|).
    One hash(group) shuffle; each window task ranks only its own
    groups — no global sort."""
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy(group_col).orderBy(
        bucket.asc(), F.col(key_col).asc()
    )
    return (
        docs.withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("sample_rank") <= n_per_group)
    )


def source_divergence(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source unigram-distribution diagnostics for mixture design:
    token entropy H(p_s) = -sum p ln p and KL(p_s || p_corpus) — "how
    much does each source's token distribution deviate from the
    mixture it will be blended into". High-KL sources dominate or
    starve token families at whatever mixture weight they get; this is
    the quantitative form of the q85 overlap matrix's qualitative
    signal. Returns (source, n_tokens, vocab_size, entropy, kl_vs_corpus).

    Exactness shape: each token's contribution is computed as a double
    (division + ln — the same ln-parity contract tfidf relies on, q45),
    then cast to DECIMAL(30,15) so the per-source SUM is
    order-independent; one rounding at the surface. KL(p||q) is finite
    by construction: the corpus includes every source, so q > 0
    wherever p > 0.

    Scale: one explode + one (source, token) combinable count — the
    working set collapses to vocab-sized relations before any join;
    corpus totals derive from the per-source counts (no second corpus
    scan), and the token-keyed corpus join is an equi-join, never
    all-pairs."""
    from unifydb_spark.operators.dedup import _spread

    tok = (
        _spread(docs)
        .select(
            F.col(source_col).alias("source"),
            F.explode(words_col(F.col(text_col))).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c_s"))
    )
    from unifydb_spark.resources import tracked_persist

    tok = tracked_persist(tok)
    corpus = tok.groupBy("tok").agg(F.sum("c_s").alias("c_c"))
    src_tot = tok.groupBy("source").agg(F.sum("c_s").alias("n_s"))
    corp_tot = corpus.agg(F.sum("c_c").alias("n_c"))
    j = (
        tok.join(corpus, "tok")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(corp_tot))
    )
    p = F.col("c_s").cast("double") / F.col("n_s").cast("double")
    q = F.col("c_c").cast("double") / F.col("n_c").cast("double")
    ent_term = (-p * F.log(p)).cast("decimal(30,15)")
    kl_term = (p * F.log(p / q)).cast("decimal(30,15)")
    return (
        j.groupBy("source")
        .agg(
            F.max("n_s").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
            F.round(F.sum(ent_term).cast("string").cast("double"), 6).alias(
                "entropy"
            ),
            F.round(F.sum(kl_term).cast("string").cast("double"), 6).alias(
                "kl_vs_corpus"
            ),
        )
    )


def weighted_sample_k(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col,
    k: int = 10,
) -> DataFrame:
    """Exactly-k weighted sampling WITHOUT replacement per group
    (Efraimidis-Spirakis 2006, the A-ES scheme): each row draws
    u = md5-uniform(0,1) and gets key = ln(u)/w; the k LARGEST keys are
    the sample, which is distributed exactly as sequential weighted
    draws without replacement. importance_sample is Bernoulli (random
    SIZE); balanced_sample is unweighted — this is the missing corner:
    deterministic, size-exact AND weight-proportional, the mixture
    sampler that oversamples high-quality docs without ever duplicating
    one. Deterministic u (md5 of the id) makes the draw reproducible
    and append-stable, and lets the SQL oracle replay it.

    Shape: one hash(group) shuffle + per-group window top-k (rank <= k
    prunes before any sort spills — same plan family as topk_per_group,
    no global sort). Returns (group_col, id_col, weight, es_key,
    rank_in_group). Rows with weight <= 0 never selected (key -inf
    semantics via filter)."""
    w = F.col(weight_col).cast("double") if isinstance(weight_col, str) else (
        weight_col.cast("double")
    )
    u32 = F.conv(
        F.substring(F.md5(F.concat(F.lit("es:"), F.col(id_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("double")
    # u in (0, 1]: (u32 + 1) / 2^32 — never 0, so ln(u) is finite
    u = (u32 + F.lit(1.0)) / F.lit(float(1 << 32))
    key = F.log(u) / w
    ranked = (
        df.filter(w > 0)
        .select(
            F.col(group_col),
            F.col(id_col),
            F.round(w, 6).alias("weight"),
            F.round(key, 10).alias("es_key"),
        )
        .withColumn(
            "rank_in_group",
            F.row_number().over(
                Window.partitionBy(group_col).orderBy(
                    F.col("es_key").desc(), F.col(id_col)
                )
            ),
        )
        .filter(F.col("rank_in_group") <= int(k))
    )
    return ranked


def token_drift(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """Distribution drift diagnosis between two corpus vintages: per
    token, probability mass in each vintage and the delta, returning
    the top_k tokens by |delta| — the "WHAT changed" report that the
    scalar divergence (source_divergence) cannot give. The monitor a
    continuously-ingested corpus runs per batch: a crawler change or an
    upstream filter bug shows up as a handful of tokens swinging mass.
    Returns (tok, p_old, p_new, delta), sorted by |delta| desc then
    token.

    Shape: one combinable token count per vintage (vocab-sized
    relations), one full-outer token join, one top-k. Probabilities are
    exact count ratios (one division, identical order both engines);
    the |delta| ranking runs on a vocab-sized relation."""
    def dist(df, name):
        tok = (
            df.select(F.explode(words_col(F.col(text_col))).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        tot = tok.agg(F.sum("c").alias("n"))
        return tok.crossJoin(F.broadcast(tot)).select(
            "tok",
            (F.col("c").cast("double") / F.col("n").cast("double")).alias(
                name
            ),
        )

    po = dist(old, "po")
    pn = dist(new, "pn")
    j = po.join(pn, "tok", "full_outer").select(
        "tok",
        F.coalesce("po", F.lit(0.0)).alias("po"),
        F.coalesce("pn", F.lit(0.0)).alias("pn"),
    )
    delta = F.col("pn") - F.col("po")
    return (
        j.select(
            "tok",
            F.round("po", 8).alias("p_old"),
            F.round("pn", 8).alias("p_new"),
            (F.round(delta, 8) + F.lit(0.0)).alias("delta"),
        )
        .orderBy(F.abs(F.col("delta")).desc(), F.col("tok"))
        .limit(int(top_k))
    )


def token_pmi(
    docs: DataFrame,
    text_col: str = "text",
    min_df: int = 5,
    max_df_frac: float = 0.5,
    min_pair: int = 5,
    top_k: int = 30,
) -> DataFrame:
    """Document-level pointwise mutual information between token pairs
    — the collocation finder ("which terms travel together far beyond
    chance?") that seeds phrase vocabularies and reveals topical
    structure. PMI = ln(n_ab * N / (n_a * n_b)) over DOCUMENT
    frequencies; pairs unordered (a < b). Returns the top_k pairs by
    PMI (ties by pair), with (tok_a, tok_b, n_a, n_b, n_ab, pmi).

    Scale shape: the (doc, token) DISTINCT relation collapses the
    corpus first; df caps (min_df noise floor, max_df_frac stopword
    ceiling) prune BEFORE the within-doc self-join, so the pair
    fan-out is bounded by the CAPPED per-doc vocabulary squared —
    the same hub argument as winnowing/the inverted index."""
    from unifydb_spark.operators.dedup import _spread

    dt = tracked_persist(
        _spread(docs)
        .select(
            "doc_id", F.explode(words_col(F.col(text_col))).alias("tok")
        )
        .distinct()
    )
    n_docs = dt.select("doc_id").distinct().count()
    dfreq = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("nt"))
    kept_toks = dfreq.filter(
        (F.col("nt") >= int(min_df))
        & (F.col("nt") <= float(max_df_frac) * n_docs)
    )
    kept = dt.join(F.broadcast(kept_toks), "tok")
    pairs = (
        kept.alias("a")
        .join(
            kept.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(
            F.col("a.tok").alias("tok_a"),
            F.col("b.tok").alias("tok_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= int(min_pair))
    )
    na = kept_toks.select(F.col("tok").alias("tok_a"), F.col("nt").alias("n_a"))
    nb = kept_toks.select(F.col("tok").alias("tok_b"), F.col("nt").alias("n_b"))
    j = pairs.join(F.broadcast(na), "tok_a").join(F.broadcast(nb), "tok_b")
    pmi = F.log(
        F.col("n_ab").cast("double")
        * F.lit(float(n_docs))
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return (
        j.select(
            "tok_a",
            "tok_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "tok_a", "tok_b")
        .limit(int(top_k))
    )


def vocab_growth(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_every: int = 1,
) -> DataFrame:
    """Vocabulary growth curve (the Heaps'-law measurement): cumulative
    distinct-token count and cumulative token volume after each
    document in id order, plus the running hapax count (tokens seen
    exactly once so far is NOT windowable — this reports the corpus-
    final hapax share instead via first/second occurrence positions).
    Concretely returns, per sampled document position: (doc_seq,
    cum_tokens, cum_vocab, new_tokens) — the curve a corpus curator
    reads to see whether new data still adds vocabulary or only
    repeats it.

    Exact cumulative distinct WITHOUT windowed distinct (which Spark
    cannot do): each token's FIRST-occurrence document (min id per
    token) turns cumulative vocabulary into a cumulative COUNT over the
    first-occurrence relation — one combinable min per token, one
    count per document, one running sum over the document grid
    (document-cardinality-sized, never token-sized)."""
    from unifydb_spark.operators.dedup import _spread
    from pyspark.sql import Window

    tok = _spread(docs).select(
        F.col(id_col).alias("d"),
        F.explode(words_col(F.col(text_col))).alias("tok"),
    )
    tok = tracked_persist(tok)
    per_doc = tok.groupBy("d").agg(F.count(F.lit(1)).alias("n_tok"))
    firsts = (
        tok.groupBy("tok")
        .agg(F.min("d").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("new_tokens"))
    )
    grid = per_doc.join(firsts, "d", "left").select(
        "d",
        "n_tok",
        F.coalesce("new_tokens", F.lit(0)).alias("new_tokens"),
    )
    run = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    seq = Window.orderBy("d")
    out = grid.select(
        F.row_number().over(seq).cast("bigint").alias("doc_seq"),
        F.col("d").cast("bigint").alias(id_col),
        F.sum("n_tok").over(run).cast("bigint").alias("cum_tokens"),
        F.sum("new_tokens").over(run).cast("bigint").alias("cum_vocab"),
        F.col("new_tokens").cast("bigint").alias("new_tokens"),
    )
    if int(sample_every) > 1:
        out = out.filter(
            (F.col("doc_seq") % int(sample_every) == 0)
            | (F.col("doc_seq") == 1)
        )
    return out


def doc_perplexity(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
) -> DataFrame:
    """Per-document cross-entropy under an add-k-smoothed word-bigram
    language model trained on the corpus itself — the classic
    LM-perplexity quality filter (CCNet/KenLM style, public method):
    documents whose word sequences the corpus model finds surprising
    (high nats/token) are encoding garbage, wrong-language, or
    boilerplate-free noise. Each document starts from a BOS context
    '<s>'; P(w|prev) = (c(prev,w) + k) / (c(prev) + k*V) with V the
    next-token vocabulary. Returns (doc_id, n_tokens, cross_entropy,
    ppl) in nats / e^nats.

    Exactness: each token's ln-term is one mirrored double (division
    then ln — the r17/q45 ln-parity contract), cast DECIMAL(30,15) so
    the per-doc SUM is order-independent; one surface rounding, and
    ppl = exp of the ALREADY-ROUNDED entropy so both engines
    exponentiate the identical double.

    Scale: one explode to (doc, prev, w) — linear; bigram and context
    counts are vocab²-bounded combinable aggregates; the score join is
    an equi-join on (prev, w); V rides a broadcast 1-row cross join
    (q61/r17 corpus-constant shape). The whole pipeline is two shuffles
    over the token relation plus vocab-sized joins."""
    from unifydb_spark.operators.dedup import _spread
    from unifydb_spark.resources import tracked_persist

    base = _spread(docs).select(
        F.col(id_col).alias("doc_id"),
        words_col(F.col(text_col)).alias("ws"),
    ).filter(F.size("ws") > 0)
    toks = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws)), i -> named_struct("
                "'prev', IF(i = 1, '<s>', element_at(ws, i - 1)), "
                "'w', element_at(ws, i)))"
            )
        ).alias("t"),
    ).select("doc_id", "t.prev", "t.w")
    toks = tracked_persist(toks)
    cb = tracked_persist(
        toks.groupBy("prev", "w").agg(F.count(F.lit(1)).alias("c"))
    )
    cu = cb.groupBy("prev").agg(F.sum("c").alias("cp"))
    vocab = cb.agg(F.count_distinct("w").alias("v"))
    k = F.lit(float(add_k))
    j = (
        toks.join(cb, ["prev", "w"])
        .join(F.broadcast(cu), "prev")
        .crossJoin(F.broadcast(vocab))
    )
    term = F.log(
        (F.col("c").cast("double") + k)
        / (F.col("cp").cast("double") + k * F.col("v").cast("double"))
    ).cast("decimal(30,15)")
    scored = j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.round(
            -F.sum(term).cast("string").cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("cross_entropy"),
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "cross_entropy",
        F.round(F.exp(F.col("cross_entropy")), 4).alias("ppl"),
    )


def distinctive_terms(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    top_k: int = 5,
    prior_strength: float = 10.0,
) -> DataFrame:
    """Per-group distinctive vocabulary by weighted log-odds with an
    informative Dirichlet prior (Monroe, Colaresi & Quinn 2008,
    "Fightin' Words" — public method): for each group, the terms most
    OVER-represented vs the rest of the corpus, z-scored so rare-term
    noise doesn't dominate the way raw tf-idf or PMI rankings do. The
    prior is the corpus distribution scaled to `prior_strength`
    pseudo-tokens. Returns (group, term, c_in, z) — the top_k terms per
    group by z, tie-broken by term.

    Exactness: counts are integers; each term's delta/z is one mirrored
    double expression (two ln, one sqrt — no accumulation), rounded
    before the ranking window so both engines rank identical doubles.
    Scale: one explode + one (group, term) combinable count; the rest
    runs on vocab-sized relations (group totals broadcast, corpus
    totals a 1-row cross join); the top-k window partitions by group
    over a vocab-sized input."""
    from unifydb_spark.operators.dedup import _spread
    from unifydb_spark.resources import tracked_persist
    from pyspark.sql import Window

    tok = (
        _spread(docs)
        .select(
            F.col(group_col).alias("grp"),
            F.explode(words_col(F.col(text_col))).alias("term"),
        )
        .groupBy("grp", "term")
        .agg(F.count(F.lit(1)).alias("c_in"))
    )
    tok = tracked_persist(tok)
    corpus = tok.groupBy("term").agg(F.sum("c_in").alias("c_all"))
    grp_tot = tok.groupBy("grp").agg(F.sum("c_in").alias("n_g"))
    corp_tot = corpus.agg(F.sum("c_all").alias("n"))
    a0 = F.lit(float(prior_strength))
    j = (
        tok.join(corpus, "term")
        .join(F.broadcast(grp_tot), "grp")
        .crossJoin(F.broadcast(corp_tot))
    )
    aw = a0 * F.col("c_all").cast("double") / F.col("n").cast("double")
    y_in = F.col("c_in").cast("double")
    y_out = (F.col("c_all") - F.col("c_in")).cast("double")
    n_in = F.col("n_g").cast("double")
    n_out = (F.col("n") - F.col("n_g")).cast("double")
    delta = F.log(
        (y_in + aw) / (n_in + a0 - y_in - aw)
    ) - F.log((y_out + aw) / (n_out + a0 - y_out - aw))
    z = delta / F.sqrt(
        F.lit(1.0) / (y_in + aw) + F.lit(1.0) / (y_out + aw)
    )
    scored = j.select(
        "grp", "term", F.col("c_in"), F.round(z, 6).alias("z")
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("z").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= int(top_k))
        .select(
            F.col("grp").alias(group_col),
            "term",
            F.col("c_in").cast("bigint").alias("c_in"),
            "z",
        )
    )


def char_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-level Shannon entropy (bits/char) — the
    encoding-garbage detector orthogonal to word statistics: mojibake
    and base64 blobs run HIGH (near-uniform byte usage), template spam
    and char-run padding run LOW; natural language sits in a tight
    band. The compression-ratio proxy without a compressor dependency.
    Returns (doc_id, n_chars, distinct_chars, entropy_bits).

    Exactness: per-(doc, char) counts are integers; each -p*log2(p)
    term is one mirrored double cast DECIMAL(30,15) before the per-doc
    sum (r17 contract). Scale: one explode to characters (linear, the
    tokenizer's shape) + one combinable (doc, char) count — the scored
    relation is docs x alphabet."""
    from unifydb_spark.operators.dedup import _spread

    t = F.col(text_col)
    chars = (
        _spread(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(t, "(?!^)")).alias("ch"),
        )
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from unifydb_spark.resources import tracked_persist

    chars = tracked_persist(chars)
    tot = chars.groupBy("doc_id").agg(F.sum("c").alias("n"))
    j = chars.join(tot, "doc_id")
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term = (-p * F.log2(p)).cast("decimal(30,15)")
    return j.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_chars"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_chars"),
        F.round(F.sum(term).cast("string").cast("double"), 6).alias(
            "entropy_bits"
        ),
    )


def common_prefix_report(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    max_check: int = 200,
) -> DataFrame:
    """Per-group longest common prefix of ALL documents — the template
    /boilerplate-header detector ("every doc from this crawler starts
    with the same 80-char banner"), which char/word frequency stats
    miss because the banner's tokens are individually unremarkable.
    Uses the sorted-strings property: the LCP of a whole set equals
    LCP(min(set), max(set)) — so the scan collapses to one combinable
    MIN/MAX per group and the LCP itself is computed on ONE string
    pair per group. Returns (group, n_docs, lcp_len, lcp), lcp
    truncated to max_check chars.

    Exactness: string MIN/MAX and substring equality are byte-exact on
    both engines; the k-search explodes 0..max_check per GROUP (not
    per row). Scale: one combinable agg; everything after is
    group-sized."""
    g = F.col(group_col).alias("grp")
    mm = (
        docs.groupBy(g)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(F.col(text_col)).alias("_lo"),
            F.max(F.col(text_col)).alias("_hi"),
        )
    )
    cap = int(max_check)
    k = (
        mm.select(
            "grp",
            "n_docs",
            "_lo",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.least(
                        F.length("_lo"), F.length("_hi"), F.lit(cap)
                    ),
                )
            ).alias("k"),
            F.col("_hi"),
        )
        .filter(
            F.substring(F.col("_lo"), 1, F.col("k").cast("int"))
            == F.substring(F.col("_hi"), 1, F.col("k").cast("int"))
        )
        .groupBy("grp", "n_docs", "_lo")
        .agg(F.max("k").cast("int").alias("lcp_len"))
    )
    return k.select(
        F.col("grp").alias(group_col),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "lcp_len",
        F.expr("substring(_lo, 1, lcp_len)").alias("lcp"),
    )


def novelty_curve(
    docs: DataFrame,
    text_col: str = "text",
    order_col: str = "doc_id",
    n_buckets: int = 20,
    ngram: int = 2,
) -> DataFrame:
    """Content-novelty decay: stream the corpus in `order_col` order,
    bucket it into n_buckets equal slices, and measure what fraction
    of each bucket's n-gram occurrences are FIRST occurrences — the
    "is new data still adding new content or just repeating the
    corpus" curve that drives crawl-stop / dedup-budget decisions
    (r51's vocabulary growth is its unigram-type cousin; this is
    occurrence-mass over n-grams). Returns (bucket, n_grams,
    novel_grams, novelty_rate).

    Exactness: the first occurrence of each distinct n-gram is a
    combinable MIN over the order key; bucket ids are integer rank
    arithmetic off the q91-style numbering of DISTINCT order keys
    (documents), so ties and gaps in doc ids are immaterial. Scale:
    explode + two combinable aggs; the join back to buckets is
    gram-keyed."""
    from unifydb_spark.operators.dedup import _spread
    from unifydb_spark.resources import tracked_persist

    B = int(n_buckets)
    ids = docs.select(F.col(order_col).alias("oid")).distinct()
    n = ids.count()
    from unifydb_spark.operators.layout import global_row_number

    numbered = global_row_number(ids, ["oid"], out_col="_gix")
    bucket = numbered.select(
        "oid", F.expr(f"((_gix - 1) * {B}) DIV {n}").alias("bucket")
    )
    grams = (
        _spread(docs)
        .select(
            F.col(order_col).alias("oid"),
            words_col(F.col(text_col)).alias("__ws"),
        )
        .select(
            "oid",
            F.explode(
                shingles_col(F.col("__ws"), int(ngram))
            ).alias("gm"),
        )
        .join(bucket, "oid")
    )
    grams = tracked_persist(grams)
    firsts = grams.groupBy("gm").agg(F.min("bucket").alias("first_b"))
    j = grams.join(firsts, "gm")
    return (
        j.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(
                (
                    (F.col("bucket") == F.col("first_b"))
                ).cast("long")
            )
            .cast("bigint")
            .alias("novel_grams"),
        )
        .select(
            "bucket",
            "n_grams",
            "novel_grams",
            F.round(
                F.col("novel_grams").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty_rate"),
        )
    )


def corpus_card(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    source_col: str = "source",
) -> DataFrame:
    """One-query corpus datasheet: the headline numbers a dataset card
    leads with — volume (docs/tokens/chars), exact duplicate rate,
    language diversity, length central tendency, vocabulary size and
    type-token ratio — as a LONG-format (metric, value) report so the
    card renders/diffs trivially and new metrics append without schema
    changes. Returns ~11 rows.

    Every metric is a combinable aggregate or a ratio of two (exact
    counts, one interpolated median under the module percentile-parity
    note); the vocabulary branch is the only token-keyed shuffle.
    Scale: three passes over collapsing relations (raw -> per-doc ->
    scalars; tokens -> vocab), all map-side combinable; output is
    constant-sized."""
    from unifydb_spark.operators.dedup import _spread
    from unifydb_spark.resources import tracked_persist

    t = F.col(text_col)
    per_doc = tracked_persist(
        _spread(docs).select(
            F.col(id_col).alias("_id"),
            t.alias("_t"),
            F.col(lang_col).alias("_lang"),
            F.col(source_col).alias("_src"),
            F.size(words_col(t)).cast("long").alias("_ntok"),
            F.length(t).cast("long").alias("_nch"),
        )
    )
    base = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_ntok").alias("n_tokens"),
        F.sum("_nch").alias("n_chars"),
        F.count_distinct("_t").alias("n_distinct_texts"),
        F.count_distinct("_lang").alias("n_langs"),
        F.count_distinct("_src").alias("n_sources"),
        F.percentile(F.col("_nch").cast("double"), F.lit(0.5)).alias(
            "med_len"
        ),
    )
    top_lang = (
        per_doc.groupBy("_lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("top_lang_docs"))
    )
    vocab = (
        per_doc.select(F.explode(words_col(F.col("_t"))).alias("w"))
        .agg(F.count_distinct("w").alias("vocab"))
    )
    j = base.crossJoin(F.broadcast(top_lang)).crossJoin(F.broadcast(vocab))

    # ONE evaluation of the 1-row joined aggregate, exploded to the
    # long format (round-15, guide §1.2): the former per-metric
    # union re-evaluated the whole j subtree — 3 aggregate passes over
    # per_doc + 2 broadcasts — once PER METRIC (11x; Catalyst does not
    # share common subtrees across union branches; measured 91 Spark
    # jobs for an 11-row report). Same metric names, same rounded
    # expressions, same rows — order irrelevant (long format).
    nd = F.col("n_docs").cast("double")
    metrics = [
        ("n_docs", nd),
        ("n_tokens", F.col("n_tokens").cast("double")),
        ("n_chars", F.col("n_chars").cast("double")),
        ("exact_dup_rate",
         (F.col("n_docs") - F.col("n_distinct_texts")).cast("double") / nd),
        ("n_langs", F.col("n_langs").cast("double")),
        ("n_sources", F.col("n_sources").cast("double")),
        ("top_lang_share", F.col("top_lang_docs").cast("double") / nd),
        ("mean_doc_tokens", F.col("n_tokens").cast("double") / nd),
        ("median_doc_chars", F.col("med_len")),
        ("vocab_size", F.col("vocab").cast("double")),
        ("type_token_ratio",
         F.col("vocab").cast("double") / F.col("n_tokens").cast("double")),
    ]
    return j.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(name).alias("metric"),
                    F.round(col, 6).cast("double").alias("value"),
                )
                for name, col in metrics
            ])
        ).alias("m")
    ).select("m.metric", "m.value")


def packing_waste(
    docs: DataFrame,
    text_col: str = "text",
    context_lengths: tuple = (128, 512, 2048),
) -> DataFrame:
    """Context-length planning table: for each candidate context length
    L, the padding waste of per-document batching — every doc occupies
    ceil(n_tok / L) slots of L tokens, so padded = slots*L - n_tok and
    waste_frac = padded / (tokens + padded). The one-row-per-L report a
    training team reads next to the length histogram (r14) when
    choosing L (small L truncates nothing here but fragments long docs;
    large L drowns short docs in padding). Sequence packing reduces the
    waste — this table is the BASELINE it gets compared to.

    Exactness: token counts are whitespace-word counts (integer); slots
    and padded are integer arithmetic (DIV/ceil); waste_frac is one
    final rounded division. Scale: one combinable aggregation per L
    over a single token-count projection — no shuffle beyond the
    scalar aggregates."""
    counts = docs.select(
        F.size(words_col(F.col(text_col))).cast("bigint").alias("n_tok")
    )
    from unifydb_spark.resources import tracked_persist

    counts = tracked_persist(counts)
    out = None
    for L in context_lengths:
        li = int(L)
        slots = F.expr(f"CAST(ceil(n_tok / CAST({li} AS DOUBLE)) AS BIGINT)")
        row = counts.agg(
            F.lit(li).cast("int").alias("context_len"),
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum("n_tok").cast("bigint").alias("tokens"),
            F.sum(slots).cast("bigint").alias("slots"),
            (F.sum(slots) * li - F.sum("n_tok")).cast("bigint").alias(
                "padded_tokens"
            ),
            F.round(
                (F.sum(slots) * li - F.sum("n_tok")).cast("double")
                / (F.sum(slots) * li).cast("double"),
                6,
            ).alias("waste_frac"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def temperature_mix(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    total_budget: int = 1_000_000,
) -> DataFrame:
    """Temperature-scaled source mixing at tau = 0.5 (the multilingual
    sampling formula: p_i ∝ n_i^tau, here sqrt — upsamples small
    sources, downsamples dominant ones relative to proportional
    sampling): per source, its raw token count, proportional share,
    temperature share, and the sampled token budget out of
    `total_budget`. The table a mixture designer reads next to the
    Theil decomposition (r66) when balancing a corpus.

    tau is FIXED at 0.5 on purpose: sqrt is correctly rounded under
    IEEE 754 on every platform, so the Spark and DuckDB shares agree
    bit-for-bit — a general pow(x, tau) is not, and would hash-diverge
    in the last ulp. Scale: one combinable per-source count + a
    broadcast 1-row total; output is sources-sized."""
    counts = (
        docs.select(
            F.col(source_col).alias("source"),
            F.size(words_col(F.col(text_col))).cast("bigint").alias("n"),
        )
        .groupBy("source")
        .agg(F.sum("n").alias("n_tokens"))
    )
    # per-source sqrt terms are cast DECIMAL(30,15) before the sum
    # (r17 contract): a raw double sum is partition-order-dependent and
    # would hash-diverge from DuckDB's order
    tot = counts.agg(
        F.sum("n_tokens").alias("_tot"),
        F.sum(
            F.sqrt(F.col("n_tokens").cast("double")).cast("decimal(30,15)")
        )
        .cast("string")
        .cast("double")
        .alias("_tsum"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(
                F.col("n_tokens").cast("double")
                / F.col("_tot").cast("double"),
                6,
            ).alias("prop_share"),
            F.round(
                F.sqrt(F.col("n_tokens").cast("double")) / F.col("_tsum"),
                6,
            ).alias("temp_share"),
            F.round(
                F.lit(float(total_budget))
                * F.sqrt(F.col("n_tokens").cast("double"))
                / F.col("_tsum"),
                2,
            ).alias("token_budget"),
        )
        .orderBy("source")
    )


def heaps_fit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps'-law fit over the r51 vocabulary-growth curve (public
    corpus law, Heaps 1978): V(N) ~ K * N^beta, fit by ordinary least
    squares on (ln N, ln V) over every curve point — beta ~0.4-0.6 for
    natural text; a corpus whose beta collapses toward 0 is repeating
    itself (the one-number summary of what r51's curve shows
    visually). Returns ONE row: (n_points, beta, k, r2).

    Shape: the curve relation is document-cardinality-sized (r51's
    contract); OLS needs five DECIMAL(30,15) sums over it — one
    combinable aggregation — then scalar double arithmetic identical
    in both engines (each ln term is a mirrored double; slope,
    intercept and R² are the same left-associated formulas)."""
    dec = "decimal(30,15)"
    vg = vocab_growth(docs, text_col=text_col, id_col=id_col)
    pts = vg.filter(
        (F.col("cum_tokens") > 0) & (F.col("cum_vocab") > 0)
    ).select(
        F.log(F.col("cum_tokens").cast("double")).alias("x"),
        F.log(F.col("cum_vocab").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("string").cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("string").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec))
        .cast("string").cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec))
        .cast("string").cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec))
        .cast("string").cast("double").alias("syy"),
    )
    n = F.col("n")
    dxx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = n * F.col("syy") - F.col("sy") * F.col("sy")
    dxy = n * F.col("sxy") - F.col("sx") * F.col("sy")
    beta = dxy / dxx
    intercept = (F.col("sy") - beta * F.col("sx")) / n
    r2 = (dxy * dxy) / (dxx * dyy)
    return m.select(
        n.cast("bigint").alias("n_points"),
        F.round(beta, 6).alias("beta"),
        F.round(F.exp(intercept), 6).alias("k"),
        F.round(r2, 6).alias("r2"),
    )


def zipf_fit(
    docs: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
) -> DataFrame:
    """Zipf's-law fit over the token frequency spectrum (public corpus
    law): f(r) ~ C * r^-alpha, fit by OLS on (ln rank, ln count) over
    the top_n most frequent tokens — alpha ~1 for natural text; a
    corpus whose alpha spikes is dominated by boilerplate tokens, one
    that flattens has lost its function-word backbone (encoding
    noise). Returns ONE row: (n_points, alpha, c, r2).

    Shape: one combinable token count, a distributed TakeOrdered for
    the top_n (count desc, token asc — deterministic ties), then the
    rank window and the five OLS DECIMAL sums run on the top_n-sized
    relation — bounded by construction. alpha is the NEGATED slope."""
    from pyspark.sql import Window

    from unifydb_spark.operators.dedup import _spread

    dec = "decimal(30,15)"
    counts = (
        _spread(docs)
        .select(F.explode(words_col(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(int(top_n))
    )
    w = Window.orderBy(F.col("c").desc(), F.col("tok").asc())
    pts = counts.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("string").cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("string").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec))
        .cast("string").cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec))
        .cast("string").cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec))
        .cast("string").cast("double").alias("syy"),
    )
    n = F.col("n")
    dxx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = n * F.col("syy") - F.col("sy") * F.col("sy")
    dxy = n * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = dxy / dxx
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = (dxy * dxy) / (dxx * dyy)
    return m.select(
        n.cast("bigint").alias("n_points"),
        F.round(-slope, 6).alias("alpha"),
        F.round(F.exp(intercept), 6).alias("c"),
        F.round(r2, 6).alias("r2"),
    )


def language_confusion(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Confusion matrix for the heuristic language ID (q20) against
    the labeled lang column — the eval that says whether the cheap
    classifier is good enough to gate on (per-pair counts + recall of
    the true class). Returns (actual, predicted, n, recall): recall =
    n / total(actual), so the diagonal rows read directly as
    per-class recall.

    Shape: the q20 scorer is zero-shuffle per doc; the matrix is one
    combinable groupBy bounded by langs² rows; recall joins the
    actual-class totals back onto the matrix (langs-sized)."""
    pred = language_id(docs, text_col=text_col).select(
        "doc_id", "predicted_lang"
    )
    j = docs.select(
        "doc_id", F.col(lang_col).alias("actual")
    ).join(pred, "doc_id")
    cm = j.groupBy("actual", F.col("predicted_lang").alias("predicted")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cm.groupBy(F.col("actual").alias("a2")).agg(
        F.sum("n").alias("na")
    )
    return (
        cm.join(F.broadcast(tot), F.col("actual") == F.col("a2"))
        .select(
            "actual",
            "predicted",
            F.col("n").cast("bigint").alias("n"),
            F.round(
                F.col("n").cast("double") / F.col("na").cast("double"), 6
            ).alias("recall"),
        )
    )


def entropy_rate(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Corpus entropy rate (Shannon): the bigram conditional entropy
    H(W | prev) = sum_prev p(prev) * H(W | prev) over the word
    process, in nats/token — the one-number predictability of a
    corpus (drops when boilerplate repeats, rises on encoding noise;
    directly comparable across sources or quality buckets, where r60
    scores single documents). Also reports the unigram entropy H(W)
    and the information lost to context, H(W) - H(W|prev). Returns
    ONE row: (n_tokens, n_bigrams, h_unigram, h_rate, h_gain).

    Shape: the (prev, w) and unigram count relations are
    vocab²/vocab-bounded combinable aggregates (the r60 machinery);
    entropy terms follow the -p ln p DECIMAL(30,15) parity contract
    with totals on 1-row broadcast cross joins."""
    from unifydb_spark.operators.dedup import _spread
    from unifydb_spark.resources import tracked_persist

    base = _spread(docs).select(
        words_col(F.col(text_col)).alias("ws")
    ).filter(F.size("ws") > 0)
    toks = base.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws)), i -> named_struct("
                "'prev', IF(i = 1, '<s>', element_at(ws, i - 1)), "
                "'w', element_at(ws, i)))"
            )
        ).alias("t")
    ).select("t.prev", "t.w")
    toks = tracked_persist(toks)
    cb = toks.groupBy("prev", "w").agg(F.count(F.lit(1)).alias("c"))
    n_tok = toks.count()
    nl = F.lit(float(n_tok))
    # joint term: -(c/N) ln(c/cp) summed over bigrams = H(W|prev)
    cu = cb.groupBy("prev").agg(F.sum("c").alias("cp"))
    cond_term = (
        -(F.col("c").cast("double") / nl)
        * F.log(F.col("c").cast("double") / F.col("cp").cast("double"))
    ).cast("decimal(30,15)")
    h_rate = (
        cb.join(F.broadcast(cu), "prev")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(cond_term).cast("string").cast("double").alias("hr"),
        )
    )
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    uni_term = (
        -(F.col("c").cast("double") / nl)
        * F.log(F.col("c").cast("double") / nl)
    ).cast("decimal(30,15)")
    h_uni = uni.agg(
        F.sum(uni_term).cast("string").cast("double").alias("hu")
    )
    return (
        h_rate.crossJoin(F.broadcast(h_uni))
        .select(
            F.lit(int(n_tok)).cast("bigint").alias("n_tokens"),
            "n_bigrams",
            F.round("hu", 6).alias("h_unigram"),
            F.round("hr", 6).alias("h_rate"),
            F.round(F.col("hu") - F.col("hr"), 6).alias("h_gain"),
        )
    )


def term_burstiness(
    docs: DataFrame,
    text_col: str = "text",
    top_n: int = 50,
) -> DataFrame:
    """Term burstiness (Church & Gale 1995, public method): the
    variance-to-mean ratio of a term's per-document count across ALL
    documents — function words spread evenly (VMR ~ 1, Poisson-like)
    while content words clump into the few documents about that topic
    (VMR >> 1). The corpus-linguistics gauge that separates topical
    vocabulary from glue, over the top_n most frequent terms. Returns
    (term, total, df, mean_pdoc, vmr).

    Exactness: per-doc counts are integers; with N docs, mean = T/N
    and var = (S2 - T^2/N)/N from integer totals T = sum c and S2 =
    sum c^2 over PRESENT docs only (absent docs contribute 0 to both
    sums), so no dense doc x term relation is ever built. Both
    divisions are mirrored doubles, one surface rounding.

    Shape: one token explode + a (term, doc) combinable groupBy; the
    top_n filter is a distributed TakeOrdered broadcast back onto the
    term relation; N rides a 1-row broadcast (q61/r17 shape)."""
    from unifydb_spark.operators.dedup import _spread

    tok = _spread(docs).select(
        F.col("doc_id").alias("d"),
        F.explode(words_col(F.col(text_col))).alias("term"),
    )
    td = tok.groupBy("term", "d").agg(F.count(F.lit(1)).alias("c"))
    stats = td.groupBy("term").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("df"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    top = F.broadcast(
        stats.orderBy(F.col("total").desc(), F.col("term").asc())
        .limit(int(top_n))
        .select("term")
    )
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    t = F.col("total").cast("double")
    n = F.col("nd").cast("double")
    mean = t / n
    var = (F.col("s2").cast("double") - (t * t) / n) / n
    return (
        stats.join(top, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "term",
            F.col("total").cast("bigint").alias("total"),
            F.col("df").cast("bigint").alias("df"),
            F.round(mean, 6).alias("mean_pdoc"),
            F.round(
                F.when(mean > F.lit(0.0), var / mean), 6
            ).alias("vmr"),
        )
    )
