"""Text-analysis operators for training-data pipelines.

All expressions are built-in ``pyspark.sql.functions`` (JVM-side, codegen'd)
— no Python UDFs. Each operator has a deterministic arithmetic definition so
a DuckDB oracle can mirror it exactly.

Beyond the reference's surface (it has no text pipeline); designed for
100 TB corpora: every operator is a narrow projection over the text column
(column pruning reaches the parquet scan) and nothing shuffles except the
caller's own aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

WHITESPACE = r"\s+"


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace runs, trim — the canonical form used
    by exact dedup and fingerprinting."""
    return F.lower(F.trim(F.regexp_replace(col, WHITESPACE, " ")))


def token_count(col: Column) -> Column:
    """Whitespace token count (long)."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, WHITESPACE))
    ).cast("long")


BPE_ISH = r"[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_count_regex(col: Column) -> Column:
    """BPE-ish token count: alpha runs, digit runs, and individual symbol
    chars over normalized text — a cheap, deterministic stand-in for a real
    subword tokenizer's token count (regexp_count is JVM-side; the same
    pattern reproduces in DuckDB via regexp_extract_all)."""
    return F.regexp_count(normalize_text(col), F.lit(BPE_ISH)).cast("long")


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (md5 exists in both Spark and DuckDB, so oracles can reproduce it)."""
    return F.md5(normalize_text(col))


def _occurrences(col: Column, needle: str) -> Column:
    """Number of occurrences of a literal substring, via the length-diff
    trick — identical semantics in Spark and DuckDB SQL."""
    return (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit("")))) / F.lit(
        len(needle)
    )


# marker-word profiles for the language-ID heuristic (padded with spaces so
# they only match whole words)
LANG_MARKERS = {
    "en": [" the ", " and ", " of ", " to "],
    "de": [" der ", " und ", " die ", " nicht "],
    "fr": [" le ", " et ", " les ", " est "],
    "es": [" el ", " y ", " los ", " es "],
}


def lang_scores(col: Column) -> dict:
    """Per-language marker-occurrence scores over the normalized text."""
    padded = F.concat(F.lit(" "), normalize_text(col), F.lit(" "))
    return {
        lang: sum((_occurrences(padded, m) for m in markers), F.lit(0.0))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col: Column) -> Column:
    """n-gram/marker heuristic language guess with deterministic
    tie-breaking (priority order en > de > fr > es, 'und' = unknown)."""
    scores = lang_scores(col)
    g = F.greatest(*scores.values())
    out = F.when(g <= 0, F.lit("und"))
    for lang in ("en", "de", "fr", "es"):
        out = out.when(scores[lang] == g, F.lit(lang))
    return out
    # note: staging the scores as intermediate projected columns does NOT
    # reduce the first-run codegen cost — CollapseProject folds the
    # projections back into one expression, and codegen subexpression
    # elimination already dedupes the repeated score subtrees (measured:
    # 4.9s vs 4.7s cold, identical warm)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds deterministic quality-scoring features:

    - n_chars, n_tokens, avg_token_len
    - punct_ratio: punctuation chars / total chars
    - alpha_ratio: [a-z] chars / total chars (on normalized text)
    - quality_score in [0, 1]: length band * alpha weighting
    """
    t = F.col(text_col)
    norm = normalize_text(t)
    n_chars = F.length(norm).cast("long")
    n_tokens = token_count(t)
    avg_tok = F.when(n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens).otherwise(
        F.lit(0.0)
    )
    punct = F.length(F.regexp_replace(norm, r"[^.,;:!?'\"()-]", ""))
    alpha = F.length(F.regexp_replace(norm, r"[^a-z]", ""))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0))
    len_band = F.when((n_tokens >= 10) & (n_tokens <= 100000), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    score = F.round(len_band * alpha_ratio * (1 - punct_ratio), 6)
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tokens.alias("q_n_tokens"),
        F.round(avg_tok, 6).alias("q_avg_token_len"),
        F.round(punct_ratio, 6).alias("q_punct_ratio"),
        F.round(alpha_ratio, 6).alias("q_alpha_ratio"),
        score.alias("q_score"),
    )


def repetition_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Intra-document repetition metrics (the Gopher-rules family of
    quality signals): highly repetitive documents are low-value training
    data even when individual tokens look fine.

    Per document:
    - ``n_words``: whitespace token count
    - ``n_unique``: distinct token count
    - ``dup_word_frac``: 1 - unique/total (0 = all distinct)
    - ``top_word_frac``: occurrences of the most frequent token / total

    One explode + one two-level aggregation, all JVM-side; tokens shuffle
    as (doc_id, token) pairs — bounded width, map-side combinable, no raw
    document travels past the explode."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), WHITESPACE)).alias("_w"),
    ).filter(F.col("_w") != "")
    per_word = toks.groupBy(id_col, "_w").agg(F.count("*").alias("_c"))
    per_doc = per_word.groupBy(id_col).agg(
        F.sum("_c").alias("n_words"),
        F.count("*").alias("n_unique"),
        F.max("_c").alias("_top"),
    )
    return per_doc.select(
        id_col,
        "n_words",
        "n_unique",
        F.round(F.lit(1.0) - F.col("n_unique") / F.col("n_words"), 6).alias(
            "dup_word_frac"
        ),
        F.round(F.col("_top") / F.col("n_words"), 6).alias("top_word_frac"),
    )


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    max_dup_word_frac: float = 0.4,
    max_top_word_frac: float = 0.2,
    min_alpha_ratio: float = 0.6,
) -> DataFrame:
    """Gopher-rules-style corpus filter: drop documents that are too
    short, too repetitive, or too symbol-heavy — the composition of
    ``quality_features`` and ``repetition_stats`` that an LLM-data
    pipeline actually ships as its first quality gate.

    Shuffle-free: every gate is a per-row expression, so the whole filter
    is ONE map stage over the scan — no explode, no joins. The repetition
    metrics come from a hoisted token array (distinct count via
    ``array_distinct``; the top-word count via a run-length fold over the
    SORTED array — O(t log t) per row, JVM-side), producing values
    identical to ``repetition_stats``'s explode+agg formulation. At 100 TB
    this beats the old three-shuffle q-join-rep-semi-join shape outright;
    ``repetition_stats`` remains the right tool when the metrics
    themselves are the output."""
    q = quality_features(df, text_col=text_col)
    toks = F.filter(F.split(normalize_text(F.col(text_col)), WHITESPACE),
                    lambda t: t != "")
    base = q.select("*", toks.alias("_gf_toks"))  # hoist before the fold
    tc = F.col("_gf_toks")
    n_words = F.size(tc).cast("long")
    n_unique = F.size(F.array_distinct(tc)).cast("long")
    run = lambda acc, x: F.when(x == acc["prev"], acc["run"] + 1).otherwise(  # noqa: E731
        F.lit(1)
    )
    top = F.aggregate(
        F.array_sort(tc),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run(acc, x).alias("run"),
            F.greatest(acc["best"], run(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    ).cast("long")
    dup_word_frac = F.round(F.lit(1.0) - n_unique / n_words, 6)
    top_word_frac = F.round(top / n_words, 6)
    kept = base.filter(
        (F.col("q_n_tokens") >= min_tokens)
        & (dup_word_frac <= max_dup_word_frac)
        & (top_word_frac <= max_top_word_frac)
        & (F.col("q_alpha_ratio") >= min_alpha_ratio)
    )
    return kept.select(*df.columns)


def c4_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    keep_only: bool = False,
) -> DataFrame:
    """C4-style line+document cleaning (Raffel et al. 2020 §2.2): keep
    lines that end in terminal punctuation, have at least
    ``min_words_per_line`` words, and don't mention 'javascript'; then
    drop documents whose cleaned text has fewer than ``min_sentences``
    sentence terminators, contains 'lorem ipsum', or contains '{'.

    Adds ``c4_text`` (the cleaned text), ``c4_kept`` (document verdict),
    ``c4_n_lines`` / ``c4_n_kept_lines``. Shuffle-free: one map stage of
    higher-order functions over the scan — the shape that holds at
    100 TB. ``keep_only=True`` returns surviving documents with the
    original columns, text replaced by the cleaned version."""
    keep_line = lambda l: (  # noqa: E731
        (F.size(F.filter(F.split(F.trim(l), " "), lambda w: w != ""))
         >= min_words_per_line)
        & F.trim(l).rlike('[.!?"]$')
        & ~F.lower(l).contains("javascript")
    )
    base = df.withColumn("_c4_lines", F.split(F.col(text_col), "\n")).withColumn(
        "_c4_kept", F.filter(F.col("_c4_lines"), keep_line)
    )
    cleaned = F.array_join(F.col("_c4_kept"), "\n")
    n_sentences = F.length(cleaned) - F.length(
        F.regexp_replace(cleaned, r"[.!?]", "")
    )
    kept_doc = (
        (n_sentences >= min_sentences)
        & ~F.lower(F.col(text_col)).contains("lorem ipsum")
        & ~F.col(text_col).contains("{")
    )
    out = base.select(
        *df.columns,
        cleaned.alias("c4_text"),
        kept_doc.alias("c4_kept"),
        F.size(F.col("_c4_lines")).cast("long").alias("c4_n_lines"),
        F.size(F.col("_c4_kept")).cast("long").alias("c4_n_kept_lines"),
    )
    if keep_only:
        return out.filter(F.col("c4_kept")).select(
            *[
                F.col("c4_text").alias(text_col) if c == text_col else F.col(c)
                for c in df.columns
            ]
        )
    return out


def portable_hash60(col: Column) -> Column:
    """Deterministic 60-bit token hash both Spark and DuckDB can compute
    bit-for-bit: the first 15 hex chars of md5, read as an integer
    (Spark ``conv(.., 16, 10)``; DuckDB ``('0x' || substr(md5(x),1,15))::BIGINT``).
    Used wherever a hashed value must survive an exact cross-engine oracle;
    the xxhash64 builtins stay the default on pure-Spark hot paths."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def classifier_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1 << 20,
) -> DataFrame:
    """fastText-style hashed linear quality classifier: each token hashes
    into a weight bucket, the document logit is the mean bucket weight, and
    the score is its sigmoid.

    The weight table is *implicit* — ``weight(b) = (b mod 2001 - 1000)/1000``
    — standing in for a trained model's lookup; swapping in real weights
    means replacing one arithmetic expression with a broadcast map join
    (the plan shape is identical). Everything runs inside ONE projection:
    ``transform`` + ``aggregate`` over the split-token array, so there is
    no explode, no shuffle, and no Python — per-document cost is linear in
    tokens and the parquet scan reads only (id, text). At 100 TB this is a
    pure map stage that scales with input splits.
    """
    toks = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda t: t != ""
    )

    # integer milli-weights accumulate exactly (no float-summation-order
    # drift between engines); one division at the end
    def weight_milli(t: Column) -> Column:
        b = F.pmod(portable_hash60(t), F.lit(buckets))
        return F.pmod(b, F.lit(2001)) - 1000

    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + weight_milli(t)
    )
    n = F.size(toks)
    logit = F.when(n > 0, total / (F.lit(1000.0) * n)).otherwise(F.lit(0.0))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return df.select(
        F.col(id_col),
        F.round(logit, 6).alias("logit"),
        F.round(score, 6).alias("clf_score"),
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    max_count: int = 2,
) -> DataFrame:
    """Corpus-level boilerplate-line removal (the CCNet / RefinedWeb
    pipeline stage): any line occurring more than ``max_count`` times
    across the WHOLE corpus (nav bars, cookie banners, license headers) is
    stripped from every document; per-document line order is preserved.

    Scale shape (the part that matters at 100 TB):

    - line frequencies are counted over the portable 60-bit line hash, so
      the counting aggregation shuffles 8-byte keys with map-side combine
      — raw text never enters that exchange;
    - the heavy-hitter set is at most corpus_lines / max_count entries and
      is broadcast to the kept-lines anti-join, so surviving text is
      filtered without a shuffle;
    - reassembly is the single unavoidable text shuffle: one groupBy on
      the doc id with sort_array(collect_list(struct(pos, line))).

    Returns (id, text, n_lines_kept, n_lines_removed) with cleaned text,
    one row per input document; NULL text is treated as "".
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), F.lit(delimiter), -1)
        ).alias("_pos", "_line"),
    ).withColumn("_h", portable_hash60(F.col("_line")))
    heavy = (
        lines.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > max_count)
        .select("_h", F.lit(True).alias("_hv"))
    )
    # one reassembly aggregation over ALL line instances (broadcast
    # LEFT-join marks heavy lines; collect_list drops the NULLed-out heavy
    # structs) instead of [broadcast anti-join -> groupBy -> right-join
    # against a third full text scan computing per-doc totals]: every doc
    # has >= 1 line row (split of "" is [""]), so the group covers
    # all-lines-removed docs too and n_total is just count(*) of the
    # group. Removes one parquet scan of the text column, its split pass,
    # and the final doc-id exchange+join from the plan (guide §2.4).
    flagged = lines.join(F.broadcast(heavy), "_h", "left")
    out = flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("_hv").isNull(), F.struct("_pos", "_line"))
                    )
                ),
                lambda s: s["_line"],
            ),
            delimiter,
        ).alias("text"),
        F.count(F.when(F.col("_hv").isNull(), F.lit(1))).alias("n_lines_kept"),
        F.count(F.lit(1)).alias("_n_total"),
    )
    return out.select(
        id_col,
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.col("n_lines_kept").cast("long").alias("n_lines_kept"),
        (F.col("_n_total") - F.col("n_lines_kept")).cast("long").alias(
            "n_lines_removed"
        ),
    )


def chunk_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 64,
) -> DataFrame:
    """Split every document into fixed-size contiguous token chunks —
    the sequence-prep step that turns a cleaned corpus into trainer
    input (the packing sibling is ``sampling.pack_sequences``).

    Returns (id, chunk_id, chunk_text, n_tokens); the final chunk may be
    short. The chunk list is built with JVM-side HOFs (``transform`` +
    ``slice``) and fanned out in a single generator — no Python, no
    shuffle, and the parquet scan reads only (id, text). At 100 TB the
    fan-out multiplies rows ~n_tokens/chunk_size×, which is exactly the
    output volume; nothing intermediate is wider."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_size)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * chunk_size + 1, chunk_size),
    )
    return df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "_ct")
    ).select(
        id_col,
        F.col("chunk_id").cast("long"),
        F.array_join("_ct", " ").alias("chunk_text"),
        F.size("_ct").cast("long").alias("n_tokens"),
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
) -> DataFrame:
    """Tokenizer-prep vocabulary induction: the ``top_n`` most frequent
    tokens with rank and cumulative corpus coverage — the table that
    decides a vocab size by reading off "rank k covers X% of tokens".

    Returns (token, n_occurrences, rank, cum_frac). Ties break by token
    string so the ranking is total and engine-independent.

    Scale shape: one explode into (token) keys with a map-side-combinable
    count (the only full shuffle is on the token, bounded by vocabulary
    size, not corpus size), a global top-n TakeOrdered, then rank/cumsum
    windows over just top_n rows on a single partition — the corpus never
    sorts."""
    toks = df.select(
        F.explode(F.split(normalize_text(F.col(text_col)), WHITESPACE)).alias("_t")
    ).filter(F.col("_t") != "")
    counts = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("n"))
    # the grand total joins in as a broadcast 1-row frame (no plan-time
    # driver action, stays lazy/distributed)
    total = counts.agg(F.sum("n").alias("_total"))
    from pyspark.sql import Window as W

    top = counts.orderBy(F.col("n").desc(), F.col("_t")).limit(top_n)
    w = W.orderBy(F.col("n").desc(), F.col("_t"))
    return top.crossJoin(F.broadcast(total)).select(
        F.col("_t").alias("token"),
        F.col("n").alias("n_occurrences"),
        F.row_number().over(w).cast("long").alias("rank"),
        F.round(
            F.sum("n").over(w.rowsBetween(W.unboundedPreceding, 0))
            / F.col("_total").cast("double"),
            6,
        ).alias("cum_frac"),
    )


def bigram_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Collocation mining: adjacent-token pairs scored by pointwise mutual
    information, ``pmi = ln(P(w1,w2) / (P(w1) P(w2)))`` — the standard
    phrase-detection signal (high PMI = tokens that co-occur far more than
    chance, e.g. multiword entities worth a single vocab slot).

    Numerator/denominator are products of exact integer counts, divided
    once as doubles, so the DuckDB oracle reproduces scores bit-for-bit.

    Scale shape: one fan-out to (w1, w2) pairs (bounded by corpus token
    count), two map-side-combinable count aggregations (pair + unigram),
    then joins against the unigram table — which is vocabulary-sized, so
    it broadcasts; raw text never shuffles. ``min_count`` prunes the pair
    table before the joins. Token arrays are materialized once — the
    pair and unigram branches otherwise each re-run normalize+split over
    the full corpus (measured 1.5 s -> 0.9 s at sf0.1)."""
    from cypher_for_apache_spark_spark.materialize import materialize

    df = materialize(
        df.select(
            F.filter(
                F.split(normalize_text(F.col(text_col)), " "), lambda t: t != ""
            ).alias("_toks")
        )
    )
    toks = F.col("_toks")
    n = F.size(toks)
    # arrays_zip over shifted slices: codegen-able, unlike the transform
    # lambda (CodegenFallback, interpreted per token) — same pair multiset
    pairs = df.select(
        F.explode(
            F.when(
                n >= 2,
                F.arrays_zip(
                    F.slice(toks, 1, n - 1).alias("w1"),
                    F.slice(toks, 2, n - 1).alias("w2"),
                ),
            ).otherwise(F.array())
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    uni = df.select(F.explode(toks).alias("w"))
    uni_counts = uni.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    total = uni.agg(F.count(F.lit(1)).alias("_n_total"))
    pair_counts = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    out = (
        pair_counts.join(
            F.broadcast(uni_counts.withColumnRenamed("w", "w1").withColumnRenamed("n_w", "n_w1")),
            "w1",
        )
        .join(
            F.broadcast(uni_counts.withColumnRenamed("w", "w2").withColumnRenamed("n_w", "n_w2")),
            "w2",
        )
        .crossJoin(F.broadcast(total))
    )
    ratio = (F.col("n_pair") * F.col("_n_total")).cast("double") / (
        F.col("n_w1") * F.col("n_w2")
    ).cast("double")
    return out.select(
        "w1",
        "w2",
        "n_pair",
        F.round(F.log(ratio), 6).alias("pmi"),
    )


def skipgram_pairs(
    df: DataFrame,
    text_col: str = "text",
    window: int = 2,
    min_count: int = 1,
) -> DataFrame:
    """word2vec/skip-gram training pairs: (center, context, n) counts for
    every token pair within ``window`` positions of each other (context
    offset != 0), aggregated corpus-wide. The companion of ``bigram_pmi``
    (which scores only adjacent pairs) and ``vocab_coverage`` in the
    embedding-training prep family.

    Scale shape: pair generation is a per-document array computation —
    ``window`` FLAT zips of the token array against itself shifted by the
    offset (a nested transform-of-filter referencing the outer lambda
    variable blocks whole-stage codegen and ran ~6× slower) — then ONE
    map-side-combinable count aggregation on (center, context); raw text
    never shuffles, and the pair stream is bounded by corpus_tokens *
    2*window. Only forward offsets are materialized; each forward pair
    emits both orientations (skip-gram context windows are symmetric)."""
    toks = F.filter(
        F.split(normalize_text(F.col(text_col)), " "), lambda t: t != ""
    )
    tdf = df.select(toks.alias("_t"))
    arr = F.col("_t")
    n = F.size(arr)
    empty = F.array().cast("array<struct<a:string,b:string>>")

    def zip_at(d: int):
        # tokens zipped with themselves shifted by d via arrays_zip over
        # two slices — stays in whole-stage codegen (transform lambdas are
        # CodegenFallback and run interpreted per token)
        return F.when(
            n > d,
            F.arrays_zip(
                F.slice(arr, 1, n - d).alias("a"),
                F.slice(arr, F.lit(1) + d, n - d).alias("b"),
            ),
        ).otherwise(empty)

    fwd = tdf.select(
        F.explode(F.concat(*[zip_at(d) for d in range(1, window + 1)])).alias("p")
    )
    both = fwd.select(
        F.explode(
            F.array(
                F.struct(F.col("p.a").alias("center"), F.col("p.b").alias("context")),
                F.struct(F.col("p.b").alias("center"), F.col("p.a").alias("context")),
            )
        ).alias("q")
    ).select("q.center", "q.context")
    return (
        both.groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )


def lm_doc_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Count-based bigram language-model score per document — the classic
    corpus-quality signal (a cheap stand-in for KenLM perplexity
    filtering): train add-one-smoothed bigram probabilities on the corpus
    itself, then score each doc by its mean bigram log-probability
    ``avg ln((c(w1,w2) + 1) / (c(w1) + V))``. Low scores flag docs whose
    token transitions are unusual for the corpus (boilerplate, garbled
    text, wrong language). Returns (id, n_bigrams, avg_logprob) for docs
    with at least one bigram.

    Scale shape: bigram/unigram/vocab counts are the same combinable
    aggregations as ``bigram_pmi``; the model tables are vocabulary-sized
    so both probability joins broadcast; raw text never shuffles. The
    score is a sum of floats — rounded to 6 decimals, same cross-engine
    discipline as bm25/pmi."""
    from cypher_for_apache_spark_spark.materialize import materialize

    toks_df = materialize(
        df.select(
            F.col(id_col),
            F.filter(
                F.split(normalize_text(F.col(text_col)), " "), lambda t: t != ""
            ).alias("_toks"),
        )
    )
    arr = F.col("_toks")
    n = F.size(arr)
    # arrays_zip over two shifted slices instead of a transform lambda:
    # higher-order functions are CodegenFallback (interpreted per token),
    # while slice+arrays_zip stay in whole-stage codegen — measured 2.3x
    # on the bigram pass at sf0.1, identical pair multiset
    bg = toks_df.select(
        id_col,
        F.explode(
            F.when(
                n >= 2,
                F.arrays_zip(
                    F.slice(arr, 1, n - 1).alias("w1"),
                    F.slice(arr, 2, n - 1).alias("w2"),
                ),
            ).otherwise(F.array())
        ).alias("b"),
    ).select(id_col, "b.w1", "b.w2")
    uni = toks_df.select(F.explode(arr).alias("w"))
    uni_counts = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    vocab = uni.select("w").distinct().agg(F.count(F.lit(1)).alias("_v"))
    pair_counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    scored = (
        bg.join(F.broadcast(pair_counts), ["w1", "w2"])
        .join(
            F.broadcast(uni_counts.withColumnRenamed("w", "w1")), "w1"
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            F.log(
                (F.col("c12") + 1).cast("double")
                / (F.col("c1") + F.col("_v")).cast("double")
            ).alias("_lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("_lp"), 6).alias("avg_logprob"),
    )


def perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 3,
) -> DataFrame:
    """Curriculum / quality binning: assign each document an LM-score
    bucket 0..n_buckets-1 (0 = lowest avg bigram log-probability = most
    surprising text) with exact discrete-quantile boundaries.

    The classic use: train on high-quality buckets first (curriculum), or
    mix buckets with explicit weights. Boundaries are computed WITHOUT a
    global sort or collect: scores quantize to integer micro-units, a
    map-side-combinable histogram aggregates per distinct score, and one
    window pass over the (distinct-score-sized, not corpus-sized) CDF
    yields the smallest score whose cumulative count reaches
    ceil(i*N/n_buckets) — the discrete quantile. Every decisive quantity
    is an exact integer, so a DuckDB oracle reproduces bucket assignment
    bit-for-bit. Docs without bigrams are absent (same contract as
    ``lm_doc_logprob``)."""
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    scored = lm_doc_logprob(df, text_col, id_col)
    s = scored.withColumn(
        "_m", F.round(F.col("avg_logprob") * 1_000_000).cast("long")
    )
    hist = s.groupBy("_m").agg(F.count(F.lit(1)).alias("_c"))
    cdf = hist.withColumn(
        "_cum",
        F.sum("_c").over(
            Window.orderBy("_m").rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).crossJoin(F.broadcast(s.agg(F.count(F.lit(1)).alias("_n"))))
    # threshold_i = smallest micro-score with cum >= ceil(i*N/n_buckets);
    # exact integer arithmetic (i*N + nb - 1 stays far below 2^52)
    bounds = cdf.agg(
        *[
            F.min(
                F.when(
                    F.col("_cum")
                    >= F.floor(
                        (F.lit(i) * F.col("_n") + F.lit(n_buckets - 1))
                        / F.lit(n_buckets)
                    ),
                    F.col("_m"),
                )
            ).alias(f"_b{i}")
            for i in range(1, n_buckets)
        ]
    )
    bucket = sum(
        (
            F.when(F.col("_m") > F.col(f"_b{i}"), 1).otherwise(0)
            for i in range(1, n_buckets)
        ),
        F.lit(0),
    )
    return (
        s.crossJoin(F.broadcast(bounds))
        .select(
            id_col,
            "n_bigrams",
            "avg_logprob",
            bucket.cast("int").alias("bucket"),
        )
    )


def bpe_apply(col: Column, merges: list) -> Column:
    """Tokenize one word column with a trained merge-rule list
    ``[(left, right), ...]`` (rule order = application order), returning
    ``array<string>`` of BPE symbols.

    Each rule is one greedy left-to-right pass — the same Catalyst
    ``aggregate`` fold ``bpe_merges`` applies during training (a string
    replace looks tempting but mis-merges runs of identical pairs: the
    consumed delimiter breaks adjacency). N rules = N chained folds in a
    single projection: no explode, no Python; verified against a
    pure-Python greedy reference in tests, and a SQL engine with a list
    fold reproduces it exactly (the registry oracle does)."""
    syms = F.split(col, "")

    def one_rule(arr: Column, l: str, r: str) -> Column:
        def fold(acc, s):
            tail = F.element_at(acc, -1)
            hit = (F.size(acc) > 0) & (tail == F.lit(l)) & (s == F.lit(r))
            return F.when(
                hit,
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(l + r))),
            ).otherwise(F.concat(acc, F.array(s)))

        return F.aggregate(arr, F.array().cast("array<string>"), fold)

    for l, r in merges:
        syms = one_rule(syms, l, r)
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply-side BPE tokenization of a corpus: (id, tokens array<string>).

    Scale shape mirrors ``bpe_merges``: rules apply to the DISTINCT word
    table (vocabulary-sized — ~10^6 rows at any corpus size), which then
    broadcast-joins back to the per-document word sequence; per-doc
    reassembly is the order-preserving sort_array(collect_list) fold.
    The corpus-sized stages never run the merge chain."""
    from pyspark.sql.functions import broadcast

    rules = [(m[1], m[2]) if len(m) >= 3 else (m[0], m[1]) for m in merges]
    wlists = df.select(
        F.col(id_col),
        F.filter(
            F.split(normalize_text(F.col(text_col)), " "), lambda t: t != ""
        ).alias("_words"),
    )
    vocab = (
        wlists.select(F.explode("_words").alias("_w"))
        .dropDuplicates()
        .select(F.col("_w"), bpe_apply(F.col("_w"), rules).alias("_toks"))
    )
    exploded = wlists.select(
        F.col(id_col), F.posexplode("_words").alias("_pos", "_w")
    )
    joined = exploded.join(broadcast(vocab), "_w")
    return joined.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_toks"))),
                lambda x: x["_toks"],
            )
        ).alias("tokens")
    )


#: Hard ceiling on BPE merge rounds. Induction is inherently sequential —
#: each round ends in ONE driver-side `.first()` (the argmax is a 1-row
#: model decision), so a huge `num_merges` means thousands of tiny Spark
#: jobs. Real vocabularies (~30-50k merges) belong in a dedicated
#: tokenizer trainer; this operator exists for modest rule sets.
BPE_MAX_MERGES = 1000


def bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
) -> list:
    """Induce the first ``num_merges`` BPE merge rules from the corpus —
    the training half of byte-pair tokenization. Returns
    ``[(step, left, right, pair_count)]`` (the model artifact; apply-side
    tokenization is ``chunk_tokens``/``token_count_regex`` territory).

    Classic BPE trains on the WORD FREQUENCY table, not the raw corpus:
    one corpus-wide (word, count) aggregation up front, then every merge
    round runs over the vocabulary-sized symbol table — at 100 TB the
    corpus is petabytes but the vocabulary is ~10^6 rows, so the
    iterations cost nothing by comparison. Per round: adjacent-pair
    counts (weighted by word count, map-side combinable), one driver-side
    argmax (a 1-row model decision, same pattern as IVF centroids), and a
    greedy left-to-right merge applied as a fold over each word's symbol
    array (Catalyst ``aggregate`` HOF — no Python in the data path).
    Ties break deterministically: highest count, then lexicographically
    smallest (left, right)."""
    from cypher_for_apache_spark_spark.materialize import materialize

    if num_merges > BPE_MAX_MERGES:
        raise ValueError(
            f"num_merges={num_merges} exceeds BPE_MAX_MERGES={BPE_MAX_MERGES}: "
            "each merge round is one sequential driver-side argmax; train "
            "production-size vocabularies in a dedicated tokenizer trainer"
        )

    words = materialize(
        df.select(
            F.explode(
                F.filter(
                    F.split(normalize_text(F.col(text_col)), " "),
                    lambda t: t != "",
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.split(F.col("w"), "").alias("syms"), "n")
    )
    merges = []
    for step in range(num_merges):
        pairs = (
            words.select(
                F.explode(
                    F.when(
                        F.size("syms") >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda i: F.struct(
                                F.element_at("syms", i).alias("l"),
                                F.element_at("syms", i + 1).alias("r"),
                            ),
                        ),
                    ).otherwise(F.array())
                ).alias("p"),
                "n",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("c"))
        )
        best = pairs.orderBy(F.col("c").desc(), F.col("l"), F.col("r")).first()
        if best is None or best["c"] < 2:
            break
        l, r, c = best["l"], best["r"], int(best["c"])
        merges.append((step, l, r, c))
        def make_fold(_l: str, _r: str):
            # closure factory: pyspark introspects the lambda's arity, so
            # default-arg capture would be rejected
            def fold(acc, s):
                tail = F.element_at(acc, -1)
                hit = (F.size(acc) > 0) & (tail == F.lit(_l)) & (s == F.lit(_r))
                return F.when(
                    hit,
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(_l + _r))
                    ),
                ).otherwise(F.concat(acc, F.array(s)))

            return fold

        fold = make_fold(l, r)

        words = materialize(
            words.select(
                F.aggregate(
                    "syms", F.array().cast("array<string>"), fold
                ).alias("syms"),
                "n",
            )
        )
    return merges
