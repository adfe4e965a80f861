"""Training-data pipeline operators over the ``documents`` table.

Every hot path is JVM-side (built-in expressions and higher-order array
functions) — no Python UDFs anywhere in this module. Designed for 100 TB:
every op is a single scan plus at most one shuffle on a well-distributed
key (hash buckets / band keys), no driver-side loops, no crossJoins on the
full corpus, and LSH band/chunk shuffles carry fixed-width keys instead of
document payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# basic text analysis (all JVM expressions)
# ---------------------------------------------------------------------------


def spread(df: DataFrame) -> DataFrame:
    """Ensure CPU-heavy per-row work has at least cluster parallelism.

    A small input (one parquet file -> one split) would otherwise pin a
    shingle/signature computation to a single core. The gate makes this a
    no-op at scale: a 100 TB corpus already scans as ~10^5-10^6 files, so
    no repartition (and no shuffle) happens there — only undersized local
    inputs get spread.

    The gate compares the source's FILE count (df.inputFiles(), a
    catalog/file-index lookup — unlike df.rdd.getNumPartitions() it does
    not force physical planning or a Python<->JVM RDD conversion) against
    defaultParallelism. File count under-estimates splits for multi-split
    large files, so a wide-file source may get one extra benign
    repartition. Non-file sources (in-memory test frames) report zero
    files; for them the planned partition count decides."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    n_files = len(df.inputFiles())
    if n_files == 0:
        # non-file-backed (in-memory, post-shuffle/aggregated) frame:
        # zero files means UNKNOWN width, not narrow — fall back to the
        # planned partition count so an already-wide frame is not
        # re-shuffled unconditionally (costs one planning pass, only on
        # this path)
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
        return df
    if n_files < target:
        return df.repartition(target)
    return df


def materialized_filter(df: DataFrame, cond: F.Column) -> DataFrame:
    """Filter WITHOUT re-evaluating the columns the predicate reads.

    PushDownPredicate pushes a filter through the projection that
    defines its input columns and INLINES the aliases into the
    condition — and FilterExec codegen performs no subexpression
    elimination, so every reference re-runs its whole defining
    expression per row (measured r6: clean_corpus_full's gate filter
    held the 3-pass PII scrub chain 22x in ONE Filter node). Computing
    the predicate as a column whose definition carries an always-true
    conjunct, spark_partition_id() >= 0, pins it above its defining
    projection — the optimization-guide §4.4 trick — so the heavy
    columns are materialized once and the filter reads them as bound
    references. The conjunct is:
      - non-deterministic, so the optimizer neither pushes the filter
        below the projection nor folds the conjunct away (rand(0) >= 0
        does get folded);
      - legal in a streaming query, where monotonically_increasing_id
        is not, so batch and stream share this one barrier;
      - true for every partition and every task retry, so the row set
        is unchanged on any input.
    The predicate column's name is chosen to differ from every input
    column (case-insensitively), so no caller column is replaced or
    dropped."""
    keep = "__materialized_keep"
    taken = {c.lower() for c in df.columns}
    while keep in taken:
        keep += "_"
    d = df.withColumn(keep, cond & (F.spark_partition_id() >= F.lit(0)))
    return d.filter(F.col(keep)).drop(keep)


# GPT-2-style pre-tokenizer approximation: contractions, letter runs,
# digit runs, punctuation runs, whitespace runs. Plain alternation — valid
# in both Java regex (Spark) and RE2 (DuckDB oracle), no lookarounds.
BPE_TOKEN_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9']+"


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace tokens, BPE-ish regex tokens, and char counts."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_TOKEN_RE))
        .cast("long").alias("n_tokens_bpe"),
        F.length("text").cast("long").alias("n_chars"),
    )


# stopwords for the quality heuristic (tiny, deterministic, shared with
# the DuckDB oracle)
QUALITY_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is",
                     "that", "it", "on", "for", "with"]

_PUNCT_RE = r"[^\sA-Za-z0-9]"


def quality_score(docs: DataFrame) -> DataFrame:
    """Quality heuristics: length, word count, mean word length,
    punctuation ratio, stopword ratio — all JVM expressions."""
    words = F.size(F.split(F.col("text"), " "))
    chars = F.length("text")
    punct = F.regexp_count(F.col("text"), F.lit(_PUNCT_RE))
    stop = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), " "),
            lambda w: w.isin(*QUALITY_STOPWORDS),
        )
    )
    return docs.select(
        "doc_id",
        chars.cast("long").alias("n_chars"),
        words.cast("long").alias("n_words"),
        F.round(chars.cast("double") / words, 4).alias("avg_word_len"),
        F.round(punct.cast("double") / F.greatest(chars, F.lit(1)), 4)
        .alias("punct_ratio"),
        F.round(stop.cast("double") / words, 4).alias("stopword_ratio"),
        F.when((chars >= 100) & (words >= 20), 1).otherwise(0).alias("quality_ok"),
    )


# PII patterns: shared Java-regex/RE2 subset (char classes, \b, \d,
# bounded repetition — no lookarounds), so Spark and the DuckDB oracle
# compile them identically. Replacement order matters and is fixed:
# email -> ip -> phone; each count is taken on the text AFTER the prior
# replacements, so counts always equal the placeholders actually
# emitted (counting on the original text could over-count: an email
# whose local part looks like a phone number is consumed whole by the
# email replacement, yet would still match the phone pattern).
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


def _pii_columns(text_col: str) -> list[F.Column]:
    """The PII chain as projections (clean_text, n_emails, n_ips,
    n_phones) in the fixed order above, each count taken on the text
    after the prior replacements."""
    t = F.col(text_col)
    t1 = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_IPV4_RE, "<IP>")
    return [
        F.regexp_replace(t2, PII_PHONE_RE, "<PHONE>").alias("clean_text"),
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t1, F.lit(PII_IPV4_RE)).cast("long").alias("n_ips"),
        F.regexp_count(t2, F.lit(PII_PHONE_RE)).cast("long")
        .alias("n_phones"),
    ]


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing (the C4/RefinedWeb release gate): replace emails,
    IPv4 addresses, and phone numbers with typed placeholder tokens and
    report per-doc match counts (n_emails + n_ips + n_phones ==
    placeholders emitted, by construction — see pattern-order note
    above). Pure JVM projection of _pii_columns — regexp_replace +
    regexp_count, no shuffle, no Python; at 100 TB this is a map-only
    pass that pipelines into whatever scan feeds it."""
    return docs.select("doc_id", *_pii_columns(text_col))


def pii_scrub_total(docs: DataFrame, *keep: str) -> DataFrame:
    """(*keep, clean_text, n_pii) over a `text` column: the scrubbed text
    and its total placeholder count, the input of the cleaning gate in
    clean_corpus_full and streaming.clean_stream."""
    return docs.select(*keep, *_pii_columns("text")).select(
        *keep, "clean_text",
        (F.col("n_emails") + F.col("n_ips") + F.col("n_phones"))
        .cast("long").alias("n_pii"),
    )


def _max_run(sorted_arr):
    """Length of the longest run of equal adjacent elements in a sorted
    array == the count of the most frequent element: a single JVM
    aggregate() fold, no explode/shuffle. Elements must be non-empty
    strings (the fold seeds prev='')."""
    step = lambda acc, x: F.struct(  # noqa: E731
        x.alias("prev"),
        F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long"))
        .alias("run"),
        F.greatest(
            acc.best,
            F.when(x == acc.prev, acc.run + 1)
            .otherwise(F.lit(1).cast("long")),
        ).alias("best"),
    )
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )
    return F.aggregate(sorted_arr, init, step, lambda acc: acc.best)


def repetition_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals: distinct-word ratio and
    the fraction of the doc taken by the single most frequent word /
    bigram (boilerplate and degenerate generations score high).

    Entirely per-row JVM array math — split -> array_sort -> one
    aggregate() fold computes the top-element count (longest equal-run
    in the sorted array), so there is NO explode/groupBy shuffle; the
    oracle recomputes the same integers relationally (unnest + count)
    and the ratios are identical IEEE divisions. NULL ratios for docs
    with no words (and no bigram ratio for 1-word docs)."""
    words = F.filter(F.split(F.lower(F.col(text_col)), " "),
                     lambda x: x != "")
    bigrams = F.when(
        F.size("_w") >= 2,
        F.expr(
            "transform(sequence(0, size(_w) - 2),"
            " i -> _w[i] || ' ' || _w[i + 1])"
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = docs.select(
        "doc_id", words.alias("_w")
    ).select(
        "doc_id", "_w", bigrams.alias("_b")
    )
    n = F.size("_w")
    nb = F.size("_b")
    top_w = _max_run(F.array_sort("_w"))
    top_b = _max_run(F.array_sort("_b"))
    nd = F.size(F.array_distinct("_w"))
    dbl = lambda c: c.cast("double")  # noqa: E731
    return d.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        nd.cast("long").alias("n_distinct"),
        top_w.alias("top_word_n"),
        top_b.alias("top_bigram_n"),
        F.when(n > 0, dbl(nd) / dbl(n)).alias("distinct_ratio"),
        F.when(n > 0, dbl(top_w) / dbl(n)).alias("top_word_frac"),
        F.when(nb > 0, dbl(top_b) / dbl(nb)).alias("top_bigram_frac"),
    )


def dedup_exact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via content-hash groupBy: one shuffle on md5(text).

    At 100 TB the md5 (16 bytes) shuffles instead of the document body;
    keep_doc_id = min(doc_id) is the canonical survivor.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def salted_topk(df: DataFrame, part_col: str, order_cols: list,
                k: int, salts: int = 16, rank_col: str = "rnk") -> DataFrame:
    """Per-group top-K that never places a whole hot group in one task.

    A plain ``row_number().over(Window.partitionBy(group))`` puts every
    row of the hottest group into a single task — and AQE's skew
    handling does NOT apply (it splits skewed shuffle-read partitions
    for joins, not Window groups), so on a Zipf-skewed key (web domains)
    the hot group is a straggler at scale. Two-phase rewrite:

    1. Per-(group, salt) top-K, salt = deterministic hash of the order
       key mod ``salts``: the hot group's rows spread over ``salts``
       window partitions. Any row in the group's global top-K is in the
       top-K of its own salt bucket, so no survivor is lost.
    2. Per-group top-K over the <= salts*K phase-1 survivors — bounded
       input per group, so the one-task-per-group window is now safe.

    Output = input columns + ``rank_col`` (1..K per group), EXACTLY the
    rows and ranks of the naive single window (same order key both
    phases). Cost: two narrow window shuffles instead of one hot one.
    """
    from pyspark.sql import Window

    salt = F.pmod(F.xxhash64(*order_cols), F.lit(salts))
    w1 = Window.partitionBy(part_col, "_salt").orderBy(*order_cols)
    cand = (
        df.withColumn("_salt", salt)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1")
    )
    w2 = Window.partitionBy(part_col).orderBy(*order_cols)
    return (
        cand.withColumn(rank_col, F.row_number().over(w2).cast("int"))
        .filter(F.col(rank_col) <= k)
        .drop("_salt")
    )


def capped_sample(df: DataFrame, caps: DataFrame, part_col: str,
                  order_cols: list, salts: int = 16,
                  rank_col: str = "rnk") -> DataFrame:
    """Per-group cap with a PER-GROUP cap table (the training-mix
    operator: 'at most N_d docs from domain d'), deterministic by the
    order key. Same two-phase salted shape as salted_topk, but the caps
    table is broadcast-joined BEFORE phase 1 so each (group, salt)
    window prunes to that group's OWN cap (not the global max): under
    heterogeneous caps (one domain at 10M, the rest at 100) phase 2's
    per-group window sees <= salts*own_cap rows, never salts*max_cap —
    the hot-window problem cannot reappear through the cap table.
    caps: (part_col, cap INT). Groups absent from caps are dropped
    (inner join; cap 0 == explicit drop). No driver collect anywhere.

    Trade vs salted_topk noted for the plan-reader: Spark's map-side
    WindowGroupLimit pushdown only fires on a LITERAL rank bound, so
    the column-bound `_r1 <= cap` filter here runs post-window instead
    — the price of per-group pruning. That pushdown only ever saved
    max_cap rows per (group, salt) per map partition; the per-group
    prune saves (max_cap - own_cap) per group globally, which dominates
    under heterogeneous caps (the case that matters)."""
    from pyspark.sql import Window

    salt = F.pmod(F.xxhash64(*order_cols), F.lit(salts))
    w1 = Window.partitionBy(part_col, "_salt").orderBy(*order_cols)
    cand = (
        df.join(F.broadcast(caps), part_col)
        .withColumn("_salt", salt)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= F.col("cap"))
        .drop("_r1")
    )
    w2 = Window.partitionBy(part_col).orderBy(*order_cols)
    return (
        cand.withColumn(rank_col, F.row_number().over(w2).cast("int"))
        .filter(F.col(rank_col) <= F.col("cap"))
        .drop("_salt", "cap")
    )


def pack_assign(docs: DataFrame, budget: int = 512,
                text_col: str = "text",
                group_cols: list[str] | None = None) -> DataFrame:
    """Deterministic token-budget pack assignment: every doc gets a
    global cumulative token offset and a pack (shard) id in a canonical
    content-independent order (md5 of doc_id) — the bookkeeping step
    before writing fixed-token-budget training shards.

    group_cols restarts the numbering per group (e.g. ["split"]): each
    group gets its own cum_tokens/pack_id sequence, so a trainer reading
    one split sees gap-free pack ids whose token totals meet the budget
    — pack ids never span groups. The offsets side grows to
    n_groups * 16 rows, still broadcast-tiny.

    A naive global ``SUM() OVER (ORDER BY ...)`` is a single-task sort.
    Distributed prefix-sum instead: the order key's FIRST hex nibble is
    a range-aligned bucket (global md5 order == (bucket, rest) order),
    so (1) each bucket computes its local running sum in its own window
    partition, (2) the 16 per-bucket totals get exclusive prefix offsets
    on the driver-side tiny frame, (3) one broadcast join adds the
    offset back.
    md5 is uniform, so buckets are balanced by construction — no hot
    window. All integer arithmetic: the DuckDB oracle's global window
    reproduces it bit-for-bit."""
    from pyspark.sql import Window

    gc = list(group_cols or [])
    key = F.md5(F.col("doc_id").cast("string"))
    base = docs.select(
        *gc,
        "doc_id",
        F.size(F.filter(F.split(F.col(text_col), " "),
                        lambda x: x != "")).cast("long").alias("n_tokens"),
        key.alias("_k"),
    ).withColumn("_b", F.substring("_k", 1, 1))
    # classic two-pass prefix sum: pass 1 is AGG-ONLY (per-bucket token
    # sums, partial map-side combine -> 16 rows, no sort, no
    # window) — only pass 2 pays the per-bucket sort+window. Computing
    # the totals as max(_local_cum) of the windowed frame instead would
    # re-sort and re-window the whole corpus a second time (the plan
    # audit pins exactly ONE corpus-order sort).
    totals = base.groupBy(*gc, "_b").agg(F.sum("n_tokens").alias("_tot"))
    wo = ((Window.partitionBy(*gc) if gc else Window).orderBy("_b")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    offsets = totals.withColumn(
        "_off", F.sum("_tot").over(wo) - F.col("_tot")
    ).select(*gc, "_b", "_off")
    w = (Window.partitionBy(*gc, "_b").orderBy("_k", "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    t = base.withColumn("_local_cum", F.sum("n_tokens").over(w))
    return (
        t.join(F.broadcast(offsets), gc + ["_b"])
        .select(
            *gc,
            "doc_id",
            "n_tokens",
            (F.col("_local_cum") + F.col("_off")).alias("cum_tokens"),
            F.expr(f"(_local_cum + _off - n_tokens) div {int(budget)}")
            .alias("pack_id"),
        )
    )


def pack_texts(docs: DataFrame, budget: int = 512,
               text_col: str = "text",
               group_cols: list[str] | None = None,
               sep: str = "\n\n") -> DataFrame:
    """Materialize the training shards pack_assign plans: each pack's
    documents concatenated in canonical pack order (md5(doc_id)) with a
    separator — the artifact a sequence-packing data loader actually
    streams. One shuffle on pack_id (uniform by construction: packs are
    contiguous ranges of a uniform hash order, all ~budget tokens).

    Pack-internal order is reconstructed from (cum_tokens, md5-key,
    doc_id) — cum_tokens alone can tie on zero-token docs, so the
    canonical key breaks the tie exactly as pack_assign ordered it.

    Output: (group_cols..., pack_id, n_docs, n_tokens, pack_text)."""
    gc = list(group_cols or [])
    asg = pack_assign(docs, budget=budget, text_col=text_col,
                      group_cols=group_cols)
    j = asg.join(docs.select("doc_id", text_col), "doc_id").withColumn(
        "_k", F.md5(F.col("doc_id").cast("string"))
    )
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct("cum_tokens", "_k", "doc_id", text_col))
        ),
        lambda s: s[text_col],
    )
    return (
        j.groupBy(*gc, "pack_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.array_join(ordered, sep).alias("pack_text"),
        )
    )


# content-keyed split boundaries: md5 hex strings compare lexicographically
# identically in Spark and DuckDB, so a prefix threshold is an engine-
# portable, partitioning-independent bucketing. Content-keyed (not id-
# keyed) on purpose: a re-crawled corpus with reassigned doc_ids keeps
# every document in its split, so eval sets never leak into train.
SPLIT_BOUNDS = [("valid", "0ccccccc"), ("test", "1999999a")]  # 5% / 5% / 90%


def split_assign(docs: DataFrame, text_col: str = "text",
                 salt: str = "") -> DataFrame:
    """Deterministic train/valid/test assignment by content hash:
    split = bucket of md5(salt || text)'s first 8 hex chars. Pure
    projection (no shuffle); salt rotates the assignment without
    touching the data."""
    key = F.md5(F.concat(F.lit(salt), F.col(text_col)))
    prefix = F.substring(key, 1, 8)
    expr = F.lit("train")
    for name, bound in reversed(SPLIT_BOUNDS):
        expr = F.when(prefix < F.lit(bound), F.lit(name)).otherwise(expr)
    return docs.select("doc_id", expr.alias("split"))


def vocab_topk(docs: DataFrame, k: int = 1000,
               text_col: str = "text") -> DataFrame:
    """Top-k corpus vocabulary by frequency (ties broken by token text —
    deterministic and engine-portable). orderBy+limit compiles to
    TakeOrderedAndProject: a DISTRIBUTED per-partition top-k merged at
    the driver — no global sort, no single-task rank."""
    toks = docs.select(
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(k)
        .select("tok")
    )


def ngram_topk(docs: DataFrame, n: int = 2, k: int = 100,
               text_col: str = "text") -> DataFrame:
    """Top-k corpus word n-grams with counts (the corpus-analysis staple
    behind boilerplate discovery and contamination screening). n-grams
    form JVM-side from the filtered word array (transform over a
    sequence — no self-join), then one count aggregation on the n-gram
    key and a distributed TakeOrderedAndProject top-k — the vocab_topk
    shape, so no global sort and no single-task rank. Ties break by
    n-gram text (deterministic, engine-portable).

    Output: (ngram STRING, n BIGINT), frequency-descending."""
    words = F.filter(F.split(F.lower(F.col(text_col)), " "),
                     lambda x: x != "")
    grams = F.expr(
        f"CASE WHEN size(_w) >= {int(n)} THEN "
        f"transform(sequence(0, size(_w) - {int(n)}),"
        f" i -> array_join(slice(_w, i + 1, {int(n)}), ' ')) "
        f"ELSE array() END"
    )
    return (
        docs.select(words.alias("_w"))
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram").agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram"))
        .limit(k)
    )


def oov_rate(docs: DataFrame, k: int = 1000,
             text_col: str = "text") -> DataFrame:
    """Vocabulary-coverage quality signal (the RefinedWeb-style filter):
    per-doc fraction of tokens OUTSIDE the corpus top-k vocabulary.
    Plan: one vocab aggregation (16-byte-ish token keys), then explode ->
    BROADCAST membership join (vocab is tiny) -> one re-agg shuffle on
    doc_id. oov_rate is a raw IEEE division so the DuckDB oracle is
    bit-identical; docs with no tokens get NULL."""
    vocab = vocab_topk(docs, k, text_col).withColumn("_in", F.lit(1))
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    per = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("_nt"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias("_no"),
        )
    )
    return (
        docs.select("doc_id").join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_nt", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("_no", F.lit(0)).cast("long").alias("n_oov"),
            F.when(
                F.coalesce("_nt", F.lit(0)) == 0, F.lit(None).cast("double")
            ).otherwise(F.col("_no").cast("double") / F.col("_nt"))
            .alias("oov_rate"),
        )
    )


# language-ID marker words (tiny per-language stopword sets; deterministic).
# Covers every language schema.LANG_NAMES promises, so no language the
# enrich dim knows about is unreachable by the classifier.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une"],
    "es": ["el", "la", "de", "que", "y", "los", "es", "un"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
    "ja": ["の", "に", "は", "を", "た", "が", "で", "です"],
    "ru": ["и", "в", "не", "на", "что", "это", "как", "он"],
    "pt": ["o", "de", "que", "e", "não", "uma", "os", "se"],
}


def with_lang_pred(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append (pred_lang, score) to any frame with a text column —
    marker-word language ID: score = |words ∩ markers| per language,
    argmax wins (ties broken by language order). Pure JVM set ops; the
    per-language scores get their own projection so each intersect is
    evaluated once (CollapseProject keeps multiply-referenced aliases)."""
    scored = df.withColumn("_w", F.split(F.lower(F.col(text_col)), " "))
    for lg, markers in _LANG_MARKERS.items():
        scored = scored.withColumn(
            f"_s_{lg}",
            F.size(F.array_intersect("_w", F.array(*[F.lit(m) for m in markers]))),
        )
    best_score = F.greatest(*[F.col(f"_s_{lg}") for lg in _LANG_MARKERS])
    pred = F.lit("und")
    for lg in reversed(list(_LANG_MARKERS)):
        pred = F.when(
            (F.col(f"_s_{lg}") == best_score) & (best_score > 0), F.lit(lg)
        ).otherwise(pred)
    return (
        scored.withColumn("pred_lang", pred)
        .withColumn("score", best_score.cast("int"))
        .drop("_w", *[f"_s_{lg}" for lg in _LANG_MARKERS])
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang, score) — see with_lang_pred."""
    return with_lang_pred(docs.select("doc_id", "text")).select(
        "doc_id", "pred_lang", "score"
    )


def clean_gate(text_col: str, lang: str, min_chars: int,
               min_words: int) -> F.Column:
    """The per-doc quality and language gate of every cleaning pass:
    at least min_chars characters, at least min_words space-split words,
    and with_lang_pred's pred_lang equal to lang."""
    return (
        (F.length(text_col) >= min_chars)
        & (F.size(F.split(F.col(text_col), " ")) >= min_words)
        & (F.col("pred_lang") == lang)
    )


def clean_corpus(docs: DataFrame, lang: str = "en", min_chars: int = 100,
                 min_words: int = 20) -> DataFrame:
    """The C4-style cleaning pass a training-data pipeline actually runs:
    quality gate (length + word count) AND language filter AND exact-dup
    removal (keep the lowest doc_id per identical text), composed as ONE
    scan + ONE shuffle on the 16-byte md5 key — the filters are pure
    projections fused into the scan (no joins between the component
    operators), and only surviving rows reach the dedup exchange.

    Output: (doc_id, text_md5, n_copies) — one row per surviving
    canonical document."""
    scored = with_lang_pred(docs)
    # materialized_filter: a plain filter inlines the marker-word
    # pred_lang scoring into the condition and re-runs it per row
    f = materialized_filter(
        scored, clean_gate("text", lang, min_chars, min_words)
    )
    return (
        f.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(
            F.min("doc_id").cast("long").alias("doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
        .select("doc_id", "text_md5", "n_copies")
    )


def profile_docs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus profile — the one-row data-quality dashboard a pipeline
    owner checks before and after every stage: doc/empty counts, exact
    char/word totals, length percentiles, distinct-content count. One
    partial+final aggregation over a pure projection: exact
    count_distinct on the 16-byte md5 (the only shuffle-heavy term) and
    exact percentiles, so the DuckDB oracle matches bit for bit."""
    words = F.size(F.filter(F.split(F.col(text_col), " "),
                            lambda x: x != ""))
    chars = F.length(text_col)
    return docs.select(
        chars.alias("_c"), words.alias("_w"),
        F.md5(F.col(text_col)).alias("_m"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("_c") == 0, 1).otherwise(0)).cast("long")
        .alias("n_empty"),
        F.sum("_c").cast("long").alias("total_chars"),
        F.sum("_w").cast("long").alias("total_words"),
        F.round(F.percentile("_c", F.lit(0.5)), 4).alias("p50_chars"),
        F.round(F.percentile("_c", F.lit(0.95)), 4).alias("p95_chars"),
        F.count_distinct(F.col("_m")).cast("long")
        .alias("n_distinct_texts"),
    )


def contamination(docs: DataFrame, eval_docs: DataFrame,
                  k: int = 5, text_col: str = "text") -> DataFrame:
    """Train-eval contamination check — the decontamination gate every
    serious pipeline runs before training: for each candidate doc, the
    fraction of its DISTINCT k-shingles that appear anywhere in the
    eval set. Docs above a threshold get quarantined (the thresholding
    is the caller's policy; this op computes the exact rate).

    Plan: eval shingles -> distinct; candidate shingles -> explode ->
    membership join -> one re-agg on doc_id. The join carries no hint:
    the planner broadcasts the membership side when its measured size
    is under autoBroadcastJoinThreshold (statically for a file source,
    via AQE at run time otherwise), and a terabyte-scale eval suite
    (millions of distinct shingles) shuffles both sides on the shingle
    key instead of OOMing the driver at broadcast time — same rows
    either way (test-pinned). Rate is a raw IEEE division of exact
    counts. Docs with no shingles (shorter than k) get NULL rate."""
    tr = spread(docs).select(
        "doc_id", F.explode(_shingles(text_col, k)).alias("sh")
    )
    ev = eval_docs.select(
        F.explode(_shingles(text_col, k)).alias("sh")
    ).distinct().withColumn("_hit", F.lit(1))
    per = (
        tr.join(ev, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long")
            .alias("n_hits"),
        )
    )
    return (
        docs.select("doc_id").join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long")
            .alias("n_shingles"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.when(
                F.coalesce("n_shingles", F.lit(0)) == 0,
                F.lit(None).cast("double"),
            ).otherwise(
                F.col("n_hits").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("contamination_rate"),
        )
    )


def canonical_url(df: DataFrame, url_col: str = "url") -> DataFrame:
    """URL canonicalization — the normalize-before-dedup step of a crawl
    pipeline: lowercase the scheme+authority, drop the fragment, strip
    utm_* tracking params (other params survive, in order). Query-param
    surgery uses split/filter/array_join higher-order functions instead
    of regex backreferences — Java uses $1 where RE2 uses \\1, so
    backref replacements can silently diverge between Spark and an
    RE2-based oracle; set ops cannot. Pure projection, no shuffle.

    Adds ``canonical_url`` next to the original column."""
    d = df.withColumn(
        "_u", F.regexp_replace(F.col(url_col), "#.*$", "")
    ).withColumn(
        "_sh", F.regexp_extract("_u", "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    )
    d = d.withColumn(
        "_rest",
        F.col("_u").substr(F.length("_sh") + F.lit(1), F.length("_u")),
    ).withColumn("_path", F.substring_index("_rest", "?", 1))
    d = d.withColumn(
        "_q",
        F.when(
            F.col("_rest").contains("?"),
            F.expr("substring(_rest, length(_path) + 2)"),
        ).otherwise(F.lit("")),
    ).withColumn(
        "_kept",
        F.array_join(
            F.filter(
                F.split("_q", "&"),
                lambda x: (~x.startswith("utm_")) & (x != ""),
            ),
            "&",
        ),
    )
    return d.withColumn(
        "canonical_url",
        F.concat(
            F.lower("_sh"),
            F.col("_path"),
            F.when(F.col("_kept") != "",
                   F.concat(F.lit("?"), F.col("_kept"))).otherwise(F.lit("")),
        ),
    ).drop("_u", "_sh", "_rest", "_path", "_q", "_kept")


def lm_score(docs: DataFrame, text_col: str = "text",
             scale: int = 1_000_000,
             vocab_k: int | None = None) -> DataFrame:
    """CCNet-style unigram language-model quality score: per-doc mean
    negative log-probability under the corpus's own unigram distribution
    (wiki-like text scores low, gibberish scores high — the classic
    perplexity-bucket filter).

    Exactness trick: token log-probs are FIXED-POINT micro-nats —
    lp(tok) = floor(ln(count/total) * scale) as BIGINT — so per-doc
    sums are integer arithmetic: order-INDEPENDENT and bit-identical
    across engines, where a double sum would vary with Spark's
    partition-order float addition and break oracle parity. The only
    float step (ln) happens once per DISTINCT token, and a floor-
    boundary flip would need Java's and DuckDB's ln to differ at that
    exact micro-nat edge (~1e-9 probability across a whole vocab).
    OOV mass: unseen tokens get lp = floor(ln(1/total) * scale).

    Plan: one token-count aggregation (counts shuffle on token keys),
    one broadcast of the (tok, lp) vocab, one per-doc re-agg — the
    oov_rate shape. vocab_k bounds the broadcast side: web-scale
    corpora have effectively unbounded distinct-token tails, so the
    full (tok, lp) table is NOT broadcastable at 100 TB — a real LM
    filter scores against a FIXED top-k vocabulary (CCNet style) with
    everything else as OOV mass; vocab_k=None keeps the exact full
    vocab for gate-scale oracle checking. Output: (doc_id, n_tokens,
    sum_lp_micro, mean_neg_logprob) — mean is a raw IEEE division of
    exact integers."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_c"))
    total = cnt.agg(F.sum("_c")).collect()[0][0] or 0
    if vocab_k is not None:
        # deterministic top-k by (count desc, token): the bounded vocab.
        # total stays the FULL corpus mass so in-vocab probabilities are
        # true corpus frequencies, not renormalized over the head.
        cnt = (
            cnt.orderBy(F.col("_c").desc(), F.col("tok")).limit(vocab_k)
        )
    if total == 0:
        return docs.select(
            "doc_id",
            F.lit(0).cast("long").alias("n_tokens"),
            F.lit(0).cast("long").alias("sum_lp_micro"),
            F.lit(None).cast("double").alias("mean_neg_logprob"),
        )
    lp = cnt.select(
        "tok",
        F.floor(F.log(F.col("_c").cast("double") / F.lit(float(total)))
                * scale).cast("long").alias("_lp"),
    )
    import math

    oov_lp = math.floor(math.log(1.0 / total) * scale)
    per = (
        toks.join(F.broadcast(lp), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.coalesce("_lp", F.lit(oov_lp))).cast("long")
            .alias("sum_lp_micro"),
        )
    )
    return (
        docs.select("doc_id").join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("sum_lp_micro", F.lit(0)).cast("long")
            .alias("sum_lp_micro"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) == 0,
                F.lit(None).cast("double"),
            ).otherwise(
                -F.col("sum_lp_micro").cast("double")
                / (F.col("n_tokens").cast("double") * scale)
            ).alias("mean_neg_logprob"),
        )
    )


# C4's line-level gates (Raffel et al. §2.2 heuristics, parameterized):
# a line survives if it has >= min_words words, ends in terminal
# punctuation, and contains no banned phrase. Shared constants so the
# DuckDB oracle applies the identical rule.
LINE_MIN_WORDS = 3
LINE_TERMINALS = (".", "!", "?")
LINE_BANNED = ("lorem ipsum", "javascript")


def line_filter(docs: DataFrame, text_col: str = "text",
                min_words: int = LINE_MIN_WORDS,
                banned: tuple = LINE_BANNED) -> DataFrame:
    """C4-style line-level cleaning: drop boilerplate LINES inside a
    document (too short, no terminal punctuation, banned phrases) and
    re-join the survivors — the intra-document counterpart of the
    document-level quality gate. Pure JVM projection (split + filter +
    array_join higher-order functions), no shuffle, no Python: at
    100 TB this pipelines into the scan like pii_scrub.

    Output: (doc_id, clean_text, n_lines, n_kept)."""
    lines = F.split(F.col(text_col), "\n")

    def keep(line):
        words_ok = F.size(
            F.filter(F.split(line, " "), lambda w: w != "")
        ) >= min_words
        punct_ok = F.substring(line, -1, 1).isin(*LINE_TERMINALS)
        ok = words_ok & punct_ok
        for b in banned:
            ok = ok & ~F.lower(line).contains(b)
        return ok

    kept = F.filter(lines, keep)
    return docs.select(
        "doc_id",
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(lines).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_kept"),
    )


def line_dedup(docs: DataFrame, text_col: str = "text",
               sep: str = "\n") -> DataFrame:
    """Corpus-global line deduplication (the C4 rule: any line occurring
    more than once in the corpus is kept ONLY at its first occurrence,
    ordered by (doc_id, position)): the cross-document counterpart of
    line_filter, and the step that strips site-wide boilerplate
    headers/footers a per-doc gate cannot see. sep="\\n\\n" turns the
    same operator into PARAGRAPH-level dedup (the granularity several
    published pipelines use instead of lines); sep is a split REGEX —
    escape metacharacters if you pass something exotic.

    Skew-safe formulation: the canonical occurrence per line is
    min(struct(doc_id, pos)) — a combiner-friendly groupBy-min (ONE row
    out per distinct line), NOT a row_number window, because a
    corpus-hot boilerplate line ("click here to subscribe") would pin a
    whole window partition to one task at 100 TB; the min-struct agg
    absorbs it map-side. Survivors then re-join on the line key (hot
    probe side splits under AQE skew handling) and docs rebuild with a
    per-doc sorted fold.

    Output: (doc_id, clean_text, n_lines, n_kept) for every doc — a doc
    whose every line appeared earlier comes back with empty clean_text.
    """
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), sep, -1))
        .alias("pos", "ln"),
    )
    first = lines.groupBy("ln").agg(
        F.min(F.struct("doc_id", "pos")).alias("_first")
    )
    kept = (
        # shuffle_hash: the build side (one row per DISTINCT line) is
        # strictly smaller than the probe side (every line occurrence),
        # and sort-merge would sort both by line TEXT — measured 10%
        # slower; AQE skew split still applies to shuffled hash joins
        lines.join(first.hint("shuffle_hash"), "ln")
        .filter(
            (F.col("doc_id") == F.col("_first.doc_id"))
            & (F.col("pos") == F.col("_first.pos"))
        )
        .select("doc_id", "pos", "ln")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ln"))),
                lambda s: s["ln"],
            ),
            sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("int").alias("n_kept"),
    )
    totals = docs.select(
        "doc_id",
        F.size(F.split(F.col(text_col), sep, -1)).cast("int")
        .alias("n_lines"),
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
        )
    )


def dup_passages(docs: DataFrame, k: int = 20,
                 text_col: str = "text") -> DataFrame:
    """Within-corpus duplicated-passage detection (the signal behind
    exact-substring training-data dedup, Lee et al. 2022): for each doc,
    the fraction of its distinct k-char shingles that also appear in at
    least one OTHER document. High rates mark boilerplate/templated
    pages whose whole-document hash is unique but whose content is not.

    Plan: per-doc DISTINCT shingles (so a shingle's group count == the
    number of documents containing it) -> one groupBy on the shingle
    key (partial map-side combine) -> membership join back -> per-doc
    re-agg. Both shuffles key on the shingle — uniform by construction,
    no hot keys. Docs shorter than k get NULL rate."""
    sh = spread(docs).select(
        "doc_id", F.explode(_shingles(text_col, k)).alias("sh")
    )
    counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_nd"))
    per = (
        # shuffle_hash: the build side (one count row per DISTINCT
        # shingle) is strictly smaller than the probe side, and
        # sort-merge would sort 20-char shingle strings on both sides —
        # measured 29% slower; AQE skew split applies to shuffled hash
        sh.join(counts.hint("shuffle_hash"), "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("_nd") > 1, 1).otherwise(0)).cast("long")
            .alias("n_dup"),
        )
    )
    return (
        docs.select("doc_id").join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long")
            .alias("n_shingles"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
            F.when(
                F.coalesce("n_shingles", F.lit(0)) == 0,
                F.lit(None).cast("double"),
            ).otherwise(
                F.col("n_dup").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("dup_rate"),
        )
    )


def url_filter(pages: DataFrame, blocklist: DataFrame,
               url_col: str = "url") -> DataFrame:
    """Domain-blocklist gate (the C4/RefinedWeb URL filtering stage): a
    page is blocked when its host OR ANY PARENT DOMAIN appears in the
    blocklist — listing "example.net" must block "node-3.example.net".

    Plan: the host's domain suffixes (at most label-count per row, ~3-6
    for real hosts) are generated JVM-side, exploded, and membership-
    joined against the broadcast blocklist; one re-agg marks the page.
    The blocklist is an operations artifact (thousands to low millions
    of rows — broadcastable by construction; at larger sizes drop the
    hint and the same equi-join shuffles on the suffix key).

    blocklist: (domain STRING). Output: (doc_id, url, host, blocked INT,
    matched_domain STRING|null — the LONGEST matching suffix, i.e. the
    most specific listed domain)."""
    host = F.lower(F.regexp_extract(
        F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1))
    parts = F.split(host, r"\.")
    sufs = F.expr(
        "transform(sequence(0, size(_parts) - 1),"
        " i -> array_join(slice(_parts, i + 1, size(_parts) - i), '.'))"
    )
    base = pages.select(
        "doc_id", F.col(url_col).alias("url"), host.alias("host"),
        parts.alias("_parts"),
    ).withColumn("_sufs", sufs).drop("_parts")
    ex = base.select(
        "doc_id", F.explode("_sufs").alias("domain")
    )
    hits = (
        ex.join(F.broadcast(blocklist.select(F.lower("domain")
                                             .alias("domain"))), "domain")
        .groupBy("doc_id")
        # longest match == most-specific listed domain
        .agg(F.max_by("domain", F.length("domain")).alias("matched_domain"))
    )
    return (
        base.drop("_sufs").join(hits, "doc_id", "left")
        .select(
            "doc_id", "url", "host",
            F.col("matched_domain").isNotNull().cast("int")
            .alias("blocked"),
            "matched_domain",
        )
    )


# entity decode order matters: &amp; LAST, so "&amp;lt;" decodes to the
# literal "&lt;" and not "<" (the standard double-escape rule)
HTML_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                 ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")]


def html_to_text(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """HTML -> text extraction (the WET step of a crawl pipeline): drop
    <script>/<style> blocks and comments wholesale, strip remaining
    tags, decode the common entities. Pure JVM regex/replace chain over
    CAST(html AS STRING) — map-only, no shuffle, pipelines into the
    page scan at 100 TB.

    Honest scope: this is the regex-extraction subset (tags must nest
    sanely, text content must not contain a bare '<'); a production
    extractor adds a real tokenizer for adversarial markup. The oracle
    does NOT mirror these regexes — it recomputes the expected text
    from the synthesis arithmetic, so the green is an independent
    byte-identity check (the north-rule invariant extended to the
    extraction step).

    Output: (doc_id, extracted_text)."""
    s = F.col(html_col).cast("string")
    # block elements remove CONTENT too ((?is): case-insensitive +
    # dotall; the \1 backreference keeps script/style pairs matched)
    s = F.regexp_replace(s, r"(?is)<(script|style)[^>]*>.*?</\1>", "")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", "")
    s = F.regexp_replace(s, r"(?s)<[^>]*>", "")
    for ent, ch in HTML_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    return pages.select("doc_id", s.alias("extracted_text"))


def winnow_fingerprints(docs: DataFrame, k: int = 5, w: int = 4,
                        text_col: str = "text",
                        hash_hex: int = 12) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., MOSS; the
    selection scheme behind robust local dedup in The Stack et al.):
    hash every k-gram, then keep the MINIMUM hash of each window of w
    consecutive k-grams. Guarantees: any shared substring of length
    >= k + w - 1 contributes at least one identical fingerprint to both
    documents, while only ~2/(w+1) of positions are kept — a bounded-
    size sketch robust to insertions/reordering, unlike a whole-doc
    hash.

    Engine-portable by construction: the "hash" is the first
    ``hash_hex`` hex chars of md5(k-gram) and windows take the
    LEXICOGRAPHIC minimum — winnowing only needs a total order, and
    md5-hex strings order identically in Spark and DuckDB (no integer
    conversion, whose hex-parse functions differ between engines).
    Pure JVM projection (sequence/transform/slice/array_min folds), no
    shuffle, no Python. Docs shorter than k + w - 1 get zero
    fingerprints.

    Output: (doc_id, n_grams, n_fps, fps ARRAY<STRING> sorted distinct).
    Downstream candidate generation is a groupBy/join on exploded fps —
    the dup_passages shape, at ~2/(w+1) of its shuffle volume."""
    grams = F.transform(
        F.expr(_sliding_substr(text_col, k)),
        lambda s: F.substring(F.md5(s), 1, hash_hex),
    )
    d = docs.select("doc_id", grams.alias("_g"))
    wins = F.expr(
        f"CASE WHEN size(_g) >= {w} THEN "
        f"transform(sequence(0, size(_g) - {w}),"
        f" j -> array_min(slice(_g, j + 1, {w}))) "
        f"ELSE array() END"
    )
    return d.select(
        "doc_id",
        F.size("_g").cast("int").alias("n_grams"),
        F.array_sort(F.array_distinct(wins)).alias("fps"),
    ).select(
        "doc_id", "n_grams",
        F.size("fps").cast("int").alias("n_fps"),
        "fps",
    )


def clean_corpus_full(docs: DataFrame, lang: str = "en",
                      min_chars: int = 100, min_words: int = 20,
                      max_top_word_frac: float = 0.15) -> DataFrame:
    """The FULL webtext cleaning composition — PII scrub, then quality
    gate AND language filter AND repetition gate on the scrubbed text,
    then exact-dedup of survivors — still ONE scan + ONE shuffle on the
    16-byte md5 key. Scrub runs FIRST (dedup keys and quality measures
    must see the text that would actually ship); every per-doc signal
    (regex scrub/counts, marker-word lang scores, the sorted-array
    repetition fold) is a pure projection fused into the scan, so only
    rows passing every gate reach the dedup exchange. This is the
    operator-fusion story at 100 TB: five logical cleaning stages, one
    pass over the data.

    Output: (doc_id, clean_md5, n_copies, n_pii) per surviving
    canonical doc — n_pii = scrubbed matches (identical across exact
    copies by construction)."""
    s = pii_scrub_total(docs, "doc_id")
    scored = with_lang_pred(s, text_col="clean_text")
    words = F.filter(F.split(F.lower(F.col("clean_text")), " "),
                     lambda x: x != "")
    scored = scored.withColumn("_wf", words)
    top_frac = (_max_run(F.array_sort("_wf")).cast("double")
                / F.size("_wf").cast("double"))
    # materialized_filter: a plain gate filter was pushed below every
    # projection and inlined the PII scrub chain 22x (66 regexp_replace
    # in ONE Filter node — FilterExec does no subexpression
    # elimination); the barrier evaluates scrub/lang/repetition once
    f = materialized_filter(
        scored,
        clean_gate("clean_text", lang, min_chars, min_words)
        & (F.size("_wf") > 0)
        & (top_frac <= max_top_word_frac),
    )
    return (
        f.groupBy(F.md5(F.col("clean_text")).alias("clean_md5"))
        .agg(
            F.min("doc_id").cast("long").alias("doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("n_pii").alias("n_pii"),
        )
        .select("doc_id", "clean_md5", "n_copies", "n_pii")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate detection
# ---------------------------------------------------------------------------

MINHASH_PERMS = 32
LSH_BANDS = 8  # 8 bands x 4 rows


def _sliding_substr(text_col: str, k: int) -> str:
    """All k-char windows of a string as an array expression.

    Two exact-identical paths: ``substring`` on a STRING indexes by CHAR
    and UTF8String finds char i by scanning from the front — O(i) per
    call, O(len^2) per document (measured 3x the whole shingle stage at
    k=5). When the text is pure ASCII (length == octet_length, i.e.
    every char is one byte) byte slicing of the BINARY cast is the same
    operation at O(k); non-ASCII rows keep the char path. NULL text
    falls through to array() exactly as before."""
    seq = f"sequence(0, length({text_col}) - {k})"
    return (
        f"CASE WHEN length({text_col}) >= {k} THEN ("
        f"CASE WHEN length({text_col}) = octet_length({text_col}) THEN "
        f"transform({seq}, i -> cast(substring(cast({text_col} AS binary),"
        f" i + 1, {k}) AS string)) "
        f"ELSE transform({seq}, i -> substring({text_col}, i + 1, {k})) END"
        f") ELSE array() END"
    )


def _shingles(text_col: str = "text", k: int = 5) -> F.Column:
    """Distinct k-char shingles, JVM-side: sequence + transform + substring
    (byte-sliced on ASCII rows — see _sliding_substr)."""
    return F.array_distinct(F.expr(_sliding_substr(text_col, k)))


# Universal-hash permutations over the 31-bit Mersenne prime: shingles are
# string-hashed ONCE (xxhash64), then each "permutation" is (a*x + b) mod p
# with x, a, b < 2^31 so the product stays < 2^62 — no ANSI-mode long
# overflow. 1 string hash + 32 int mixes per shingle instead of 32 string
# hashes.
_MH_P = 2147483647  # 2^31 - 1
_MH_A = [(0x9E3779B9 * (j + 1) + 0x7F4A7C15) % (_MH_P - 1) + 1
         for j in range(MINHASH_PERMS)]
_MH_B = [(0xC2B2AE3D ^ (j * 0x165667B1)) % _MH_P for j in range(MINHASH_PERMS)]


def shingle_sets(docs: DataFrame, text_col: str = "text",
                 k: int = 5) -> DataFrame:
    """(doc_id, _sh) — distinct k-shingle sets; empty-set docs dropped.
    materialized_filter: a plain filter(size(_sh) > 0) is pushed below
    the projection and re-generates the whole shingle array just for
    the size check (2x shingle work per row)."""
    return materialized_filter(
        spread(docs).select("doc_id", _shingles(text_col, k).alias("_sh")),
        F.size("_sh") > 0,
    )


def minhash_signature(docs: DataFrame | None = None, text_col: str = "text",
                      *, sh: DataFrame | None = None) -> DataFrame:
    """doc_id + minhash signature (array of MINHASH_PERMS longs), all JVM:
    sig[j] = min over shingles of ((a_j * x + b_j) mod p), x = h mod p.
    Pass a precomputed ``sh`` (from shingle_sets) to avoid re-planning
    and re-spreading the source."""
    if sh is None:
        sh = shingle_sets(docs, text_col)
    hashed = sh.withColumn(
        "_h", F.expr(f"transform(_sh, s -> pmod(xxhash64(s), {_MH_P}L))")
    )
    sig = F.array(
        *[
            F.array_min(
                F.expr(
                    f"transform(_h, x -> pmod(x * {_MH_A[j]}L + {_MH_B[j]}L,"
                    f" {_MH_P}L))"
                )
            )
            for j in range(MINHASH_PERMS)
        ]
    )
    return hashed.select("doc_id", sig.alias("sig"))


def minhash_neardup(docs: DataFrame, threshold: float = 0.6) -> DataFrame:
    """LSH candidate generation + exact shingle-Jaccard verification.

    Scale shape: band rows are (doc_id, band_id, band_key) ONLY — 24 bytes,
    never the shingle payload — so the band-key shuffle moves keys, not
    text. Same-bucket docs pair up (no crossJoin); the deduped candidate
    pairs then re-join the shingle sets BY doc_id (a shuffle proportional
    to candidates, not corpus x bands) for exact Jaccard verification.
    At sf0.01 the verified pair set equals the exhaustive all-pairs
    Jaccard >= threshold set (the driver's DuckDB oracle checks exactly
    that, i.e. LSH recall = 1.0 on the gate data).
    """
    rows_per_band = MINHASH_PERMS // LSH_BANDS
    sh = shingle_sets(docs)
    sigs = minhash_signature(sh=sh)
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            *[
                                F.col("sig")[i]
                                for i in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ]
                        ).alias("band_key"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")
    left = bands.alias("l")
    right = bands.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # shuffle_hash: sort-merge would SORT rows carrying ~KB shingle arrays
    # (measured 4x slower); hash join just shuffles them once. At 100 TB
    # the shingle side is far bigger than the candidate side, so building
    # the hash table on candidates is also the right cluster plan.
    pairs = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"),
                            F.col("_sh").alias("_sha")).hint("shuffle_hash"),
                  "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"),
                        F.col("_sh").alias("_shb")).hint("shuffle_hash"),
              "doc_b")
    )
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
    union = F.size(F.array_union("_sha", "_shb")).cast("double")
    # materialized_filter: a plain threshold filter is pushed into the
    # verify join and re-runs the intersect/union per pair (2x)
    return materialized_filter(
        pairs.select(
            "doc_a", "doc_b", F.round(inter / union, 4).alias("jaccard")
        ),
        F.col("jaccard") >= threshold,
    ).orderBy("doc_a", "doc_b")


def neardup_components(docs: DataFrame, threshold: float = 0.6,
                       max_iters: int = 10) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the
    minhash near-dup pair graph — the step that turns pairwise matches
    into keep/drop decisions (one canonical doc per cluster).

    Algorithm: hash-min label propagation with pointer jumping (see
    components_from_pairs). Every doc starts labeled with its own doc_id;
    each round every node takes the min of its own and its neighbors'
    labels, then the label of that label; converged when nothing
    changes. Near-dup graphs are unions of small dense clusters, so
    rounds ~ log of cluster diameter (1-2 in practice); max_iters bounds
    adversarial chains. Each round is one equi-join + groupBy on the EDGE
    list (proportional to near-dup pairs, not the corpus) plus two joins
    on the node-sized labels table; the labels are localCheckpoint()ed
    once per round so the plan stays flat and the convergence count
    reads the materialized result.

    Output: (doc_id, component_id = min doc_id in the component,
    is_canonical) for EVERY doc — singletons are their own component.
    """
    pairs = minhash_neardup(docs, threshold).select("doc_a", "doc_b")
    return components_from_pairs(docs.select("doc_id"), pairs, max_iters)


def components_from_pairs(nodes: DataFrame, pairs: DataFrame,
                          max_iters: int = 10) -> DataFrame:
    """Hash-min label propagation over an undirected pair list — the
    reusable core of neardup_components (see its docstring for the scale
    analysis). nodes: (doc_id); pairs: (doc_a, doc_b).

    Each round does the neighbor-min step AND a pointer-jumping step
    (label <- label-of-label, one self-join on the labels table), so a
    path of length d closes in O(log d) rounds instead of O(d) — a
    1000-hop chain converges well inside the default max_iters=10, which
    covers diameters up to ~2^9 even before the neighbor step helps.
    The previous label rides along as _old, so a round materializes once
    (the jumped labels) and counts its changes on that frame.
    Convergence (changed == 0) is exact: no change means every edge has
    equal labels on both ends, i.e. labels are per-component constant,
    and the constant is the component min (the min node's label never
    decreases below itself). If max_iters rounds pass WITHOUT reaching
    that fixpoint the function raises rather than silently returning
    split components. Cost is rounds x Spark actions per round (the
    checkpoint and the count): on a hub graph (one node joined to 20% of
    200k nodes) the run took 9 rounds and no task was skewed (local[4],
    4 vCPU)."""
    edges = pairs.union(
        pairs.select(F.col("doc_b"), F.col("doc_a"))
    ).toDF("u", "v").localCheckpoint()
    labels = nodes.select("doc_id", F.col("doc_id").alias("label"))
    converged = False
    changed = -1
    for _ in range(max_iters):
        nbr_min = (
            edges.join(
                labels.select(F.col("doc_id").alias("v"),
                              F.col("label").alias("_vl")),
                "v",
            )
            .groupBy("u").agg(F.min("_vl").alias("_nl"))
            .select(F.col("u").alias("doc_id"), "_nl")
        )
        stepped = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            F.col("label").alias("_old"),
            F.least(F.col("label"),
                    F.coalesce(F.col("_nl"), F.col("label")))
            .alias("label"),
        )
        # pointer jump: l <- label[l]. Label values always name a node of
        # the same component, so the invariant holds and chains halve.
        jump = stepped.select(F.col("doc_id").alias("label"),
                              F.col("label").alias("_jl"))
        labels = (
            stepped.join(jump, "label", "left")
            .select(
                "doc_id",
                "_old",
                F.least(F.col("label"),
                        F.coalesce(F.col("_jl"), F.col("label")))
                .alias("label"),
            )
            .localCheckpoint()
        )
        changed = labels.filter(F.col("_old") != F.col("label")).count()
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"components_from_pairs: no fixpoint after {max_iters} rounds "
            f"(last round changed {changed} labels) — raise max_iters; "
            "result would be silently split components"
        )
    return labels.select(
        "doc_id",
        F.col("label").alias("component_id"),
        (F.col("doc_id") == F.col("label")).cast("int").alias("is_canonical"),
    ).orderBy("doc_id")


def ngram_jaccard(docs: DataFrame, k: int = 5) -> DataFrame:
    """Exact k-gram Jaccard for consecutive-doc_id pairs (the deterministic
    verification kernel the LSH pipelines reuse; standalone here so the
    oracle can check it end-to-end with DuckDB list functions)."""
    sh = spread(docs).select("doc_id", _shingles("text", k).alias("_s"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
    inter = F.size(F.array_intersect("a._s", "b._s")).cast("double")
    union = F.size(F.array_union("a._s", "b._s")).cast("double")
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(inter / union, 4).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# SimHash near-dup (pure JVM arithmetic) + banded pairing
# ---------------------------------------------------------------------------

SIMHASH_BITS = 62
_SH_P = 2147483647  # 2^31 - 1: keeps every product < 2^36, ANSI-safe
_SH_SHIFT = 2147483648  # 2^31: packs two 31-bit hashes into one BIGINT

# bit masks as a literal array — zip_with over it turns shift-and-test into
# integer division, which both Spark and the DuckDB oracle compute identically
_POWS = "array(" + ",".join(f"CAST({1 << b} AS BIGINT)"
                            for b in range(SIMHASH_BITS)) + ")"

# per-token 62-bit hash: TWO 31-bit polynomial folds (bases 31 and 37,
# mod 2^31-1) packed as h1 + h2 * 2^31. Chosen over FNV/xxhash so the
# DuckDB oracle can reproduce it exactly (list_reduce + ascii) — and it is
# 100% JVM here: no Python in the hot path (the previous per-token Python
# FNV loop was the repo's slowest kernel per input byte). 62 bits keeps
# the signature discriminative (a 32-bit simhash saturates on
# small-vocabulary corpora: ~10% of ALL pairs landed within hamming 3).
_TOKEN_HASHES = (
    "transform(filter(split({col}, ' '), t -> t <> ''),"
    " t -> aggregate(sequence(1, length(t)),"
    " named_struct('h1', CAST(0 AS BIGINT), 'h2', CAST(0 AS BIGINT)),"
    " (a, i) -> named_struct("
    f"'h1', (a.h1 * 31 + ascii(substring(t, i, 1))) % {_SH_P},"
    f" 'h2', (a.h2 * 37 + ascii(substring(t, i, 1))) % {_SH_P}),"
    f" a -> a.h1 + a.h2 * CAST({_SH_SHIFT} AS BIGINT)))"
)


def _simhash_expr(col: str) -> str:
    """SimHash over whitespace tokens: per-bit vote = sum over tokens of
    (+1 if the token hash has the bit else -1); sig bit set iff vote > 0."""
    th = _TOKEN_HASHES.format(col=col)
    votes = (
        f"aggregate({th}, array_repeat(CAST(0 AS BIGINT), {SIMHASH_BITS}),"
        f" (acc, h) -> zip_with(acc, {_POWS},"
        " (a, p) -> a + (CASE WHEN (h div p) % 2 = 1 THEN 1 ELSE -1 END)))"
    )
    return (
        f"aggregate(zip_with({votes}, {_POWS},"
        " (v, p) -> CASE WHEN v > 0 THEN p ELSE CAST(0 AS BIGINT) END),"
        " CAST(0 AS BIGINT), (s, x) -> s + x)"
    )


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return spread(docs).select(
        "doc_id", F.expr(_simhash_expr(text_col)).alias("simhash")
    )


def simhash_neardup(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Hamming-≤3 pairs via 4x16-bit chunk banding (pigeonhole: any pair
    within distance 3 shares at least one exact chunk), then exact
    popcount verification — same one-shuffle shape as MinHash LSH. Band
    rows carry only (doc_id, simhash, chunk) — no text payload."""
    sigs = simhash(docs)
    chunk_bits = 16  # 4 disjoint chunks cover all 62 bits (last is 14 wide)
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftrightunsigned(F.col("simhash"), chunk_bits * c)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.chunk_id", "ch.chunk_val")
    l, r = chunks.alias("l"), chunks.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.chunk_id") == F.col("r.chunk_id"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.simhash").alias("_ha"),
            F.col("r.simhash").alias("_hb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (
        pairs.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# document fingerprint (normalized content hash)
# ---------------------------------------------------------------------------


def normalized_text(text_col: str = "text") -> F.Column:
    """Lowercased, whitespace-collapsed text — the canonical form for
    content identity."""
    return F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))


def fingerprint(docs: DataFrame) -> DataFrame:
    """Stable content identity for lineage: md5 of the normalized text.

    100% JVM (whole-stage codegen) — the previous per-byte Python rolling
    hash cost O(bytes) Python ops per document, which is a scale-killer at
    100 TB. md5 is deterministic across engines, so the DuckDB oracle can
    verify it end-to-end."""
    return docs.select("doc_id", F.md5(normalized_text()).alias("fp"))
