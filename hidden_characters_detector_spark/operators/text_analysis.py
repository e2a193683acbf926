"""Text-analysis operators for training-data pipelines.

Language-ID (stopword/character heuristic), quality scoring (length /
punctuation / stopword / repetition ratios), token counting (whitespace and
BPE-ish regex), PII redaction, corpus n-gram stats, and rolling-hash
document fingerprinting over the ``documents`` table.  Everything except
the fingerprint window-min is built-in Spark SQL functions inside
whole-stage codegen; the window-min runs in the Arrow kernel (see
``fingerprints``).  Fingerprint sampling follows the winnowing idea of
Schleimer/Wilkerson/Aiken, "Winnowing: local algorithms for document
fingerprinting" (SIGMOD 2003).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword seed lists (public common words)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "fr": ("le", "la", "et", "les", "des", "est", "pas", "pour"),
    "es": ("el", "la", "de", "que", "y", "los", "es", "por"),
}

# BPE-ish pre-tokenizer: word pieces, numbers, single punctuation —
# mirrors the common GPT-2-style regex shape with RE2-safe classes
BPE_REGEX = r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]"


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish piece count + char count per doc."""
    c = F.col(text_col)
    ws = F.size(F.split(F.trim(c), r"\s+"))
    bpe = F.size(F.regexp_extract_all(c, F.lit(BPE_REGEX), F.lit(0)))
    return df.withColumn("n_chars_obs", F.length(c).cast("long")) \
             .withColumn("n_ws_tokens",
                         F.when(F.length(F.trim(c)) == 0, F.lit(0))
                         .otherwise(ws).cast("long")) \
             .withColumn("n_bpe_pieces", bpe.cast("long"))


def _ratio(num, den):
    return F.round(num / F.greatest(den.cast("double"), F.lit(1.0)), 6)


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality columns: punct/digit/upper/space ratios, mean word
    length, max single-char run (repetition), and a composite [0,1] score."""
    c = F.col(text_col)
    n = F.length(c)
    punct = n - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    digits = n - F.length(F.regexp_replace(c, r"[0-9]", ""))
    uppers = n - F.length(F.regexp_replace(c, r"[A-Z]", ""))
    spaces = n - F.length(F.regexp_replace(c, r"[ ]", ""))
    words = F.split(F.trim(c), r"\s+")
    mean_wl = _ratio(n - spaces, F.size(words))
    max_run = F.length(F.regexp_extract(c, r"((.)\2*)", 1))
    score = F.round(
        F.lit(1.0)
        * F.when((n >= 50) & (n <= 10000), 1.0).otherwise(0.5)
        * F.when(_ratio(punct, n) <= 0.2, 1.0).otherwise(0.6)
        * F.when(_ratio(digits, n) <= 0.3, 1.0).otherwise(0.7)
        * F.when(_ratio(spaces, n).between(0.05, 0.4), 1.0).otherwise(0.8),
        6)
    return (df
            .withColumn("punct_ratio", _ratio(punct, n))
            .withColumn("digit_ratio", _ratio(digits, n))
            .withColumn("upper_ratio", _ratio(uppers, n))
            .withColumn("space_ratio", _ratio(spaces, n))
            .withColumn("mean_word_len", mean_wl)
            .withColumn("quality_score", score))


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID: per language, count stopword hits among
    the doc's words; argmax wins ('und' = undetermined when all zero)."""
    c = F.col(text_col)
    words = F.split(F.lower(c), r"[^a-zà-ÿ]+")
    scores = [
        F.size(F.filter(words, lambda w: w.isin(  # noqa: B023
            *LANG_STOPWORDS[lang]))).alias(f"sw_{lang}")
        for lang in LANG_STOPWORDS
    ]
    langs = list(LANG_STOPWORDS)
    out = df.select("*", *scores)
    best = F.greatest(*[F.col(f"sw_{lang}") for lang in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(F.col(f"sw_{lang}") == best, F.lit(lang))
    return out.withColumn("lang_pred", pred).drop(
        *[f"sw_{lang}" for lang in langs])


# deliberately simple, RE2-safe patterns shared verbatim with the oracle
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv4", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9][0-9()\-\s]{7,}[0-9]", "<PHONE>"),
)


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-data hygiene: redact common PII shapes (emails, IPv4s,
    phone-ish digit runs) with typed placeholders, entirely JVM-side
    regexp_replace — stays in whole-stage codegen.  Adds ``text_redacted``
    plus per-kind match counts (cheap audit columns)."""
    c = F.col(text_col)
    red = c
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
            .cast("long").alias(f"n_{name}"))
        red = F.regexp_replace(red, pat, repl)
    return df.select("*", *counts, red.alias("text_redacted"))


def top_ngrams(df: DataFrame, text_col: str = "text", *, n: int = 2,
               k: int = 20) -> DataFrame:
    """Corpus-level top-k word n-grams: lowercase word split → n-gram
    assembly with JVM higher-order functions (no explode until the n-grams
    exist as an array) → explode → count → sort-limit.  The explode+agg is
    the classic heavy-shuffle shape; partial aggregation keeps the shuffle
    at distinct-ngram cardinality per map partition."""
    words = F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                     lambda w: w != "")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(words, (i + j + 1)
                                                  .cast("int"))
                                     for j in range(n)]))
    return (df.select(F.explode(
                F.when(F.size(words) >= n, grams)
                .otherwise(F.array())).alias("ngram"))
            .groupBy("ngram")
            .agg(F.count("*").cast("long").alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), "ngram").limit(k))


def length_quantiles(df: DataFrame, text_col: str = "text",
                     strata_col: str = "source",
                     probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
                     *, exact: bool = False) -> DataFrame:
    """Per-stratum document-length quantiles — the profiling step behind
    curation length cutoffs (e.g. "drop the shortest quartile of web").

    The default (``exact=False``) is the at-scale plan: one-pass bounded-
    memory ``approx_percentile`` sketches that aggregate partial+final with
    NO per-group value shuffle (plan-asserted in
    ``tests/test_plans.py::test_approx_quantiles_plan_is_partial_agged``)
    and are pytest-bounded against exact.  ``exact=True`` opts into Spark's
    sort-based ``percentile`` (R-7 linear interpolation, the same
    definition as DuckDB ``quantile_cont``, so the oracle matches
    value-for-value) — it ships every value of a group to one reducer,
    which is fine for a one-off profiling run at moderate scale but wrong
    as a standing 100 TB job.
    """
    fn = F.percentile if exact else (
        lambda c, p: F.approx_percentile(c, p, F.lit(10000)))
    ln = F.length(text_col).cast("double")
    return df.groupBy(strata_col).agg(
        F.count("*").cast("long").alias("n_docs"),
        *[F.round(fn(ln, F.lit(p)), 6).alias(f"p{int(p * 100)}")
          for p in probs])


def token_histogram(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Corpus unigram census over the token table: one row per distinct
    token value with its occurrence count — the classic wordcount shape.
    The explode is a Generate (no shuffle) feeding a partial
    HashAggregate, so the single shuffle carries at most (per-partition
    vocab × partitions) rows, not the corpus — bounded however large the
    corpus grows (codepoint vocab ≤ 0x110000; BPE vocabs are smaller)."""
    return (df.select(F.explode(tokens_col).alias("token"))
            .groupBy("token")
            .agg(F.count("*").cast("long").alias("n_occurrences")))


def pair_counts(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Adjacent-token-pair census — the merge-selection inner step of
    BPE/WordPiece vocabulary learning, distributed: one row per distinct
    ``(a, b)`` bigram with its corpus occurrence count (a BPE round picks
    the argmax and re-tokenizes; this operator is the expensive counting
    half, the re-tokenize is a map).  Pairs never cross doc boundaries.

    Same scale shape as :func:`token_histogram`: ``zip_with`` over two
    shifted slices builds the pair structs per row (JVM higher-order
    functions, no Python), the explode is a Generate, and a partial
    HashAggregate runs BEFORE the single exchange — the shuffle carries
    per-partition distinct pairs (≤ vocab², in practice the corpus's
    live bigram set), not the corpus."""
    t = F.col(tokens_col)
    n = F.size(t)
    pairs = F.zip_with(
        F.slice(t, F.lit(1), n - 1), F.slice(t, F.lit(2), n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")))
    return (df.where(n >= 2)
            .select(F.explode(pairs).alias("p"))
            .select(F.col("p.a").alias("token_a"),
                    F.col("p.b").alias("token_b"))
            .groupBy("token_a", "token_b")
            .agg(F.count("*").cast("long").alias("n_occurrences")))


def top_pairs(df: DataFrame, tokens_col: str = "tokens", *,
              k: int = 50) -> DataFrame:
    """The ``k`` most frequent adjacent pairs (the BPE merge
    candidates), deterministically tie-broken by (token_a, token_b) so
    the cutoff is stable across engines and partitionings.  Plans as
    TakeOrdered over the pair census — never a full sort."""
    return (pair_counts(df, tokens_col)
            .orderBy(F.desc("n_occurrences"), "token_a", "token_b")
            .limit(k))


def vocab_stats(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """One-row corpus vocabulary profile: total tokens, vocab size, the
    modal token's count, and unigram entropy in bits
    (``log2(N) - Σ c·log2(c) / N`` — the compression-floor / diversity
    number a tokenizer or mixing change shifts).  Same bounded-shuffle
    plan as :func:`token_histogram` plus a scalar final aggregate.

    The entropy is a double sum whose accumulation order differs between
    engines; the absolute error is ~1e-15·vocab_size, and vocab size is
    bounded by the distinct-token count (≤ 0x110000 for codepoints), so
    the 6-decimal rounded contract value sits ≥6 orders of magnitude
    clear of any rounding boundary in practice."""
    hist = token_histogram(df, tokens_col)
    c = F.col("n_occurrences")
    n = F.sum(c)
    return hist.agg(
        n.cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
        F.max(c).cast("long").alias("top_token_count"),
        F.round(F.log2(n) - F.sum(c * F.log2(c)) / n, 6)
        .alias("unigram_entropy_bits"))


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word-unigram counts ``(word, cnt)`` — lowercase ``[a-z0-9]+``
    runs, the same word definition :func:`repetition_scores` uses.  NULL
    text counts as empty.  Scale shape: explode + one ``groupBy(word)``
    with map-side partial agg, so the shuffle carries one row per distinct
    word per map partition (Zipf makes the head collapse almost entirely
    map-side)."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(F.lower(c), r"[^a-z0-9]+"),
                     lambda w: w != "")
    return (df.select(F.explode(words).alias("word"))
            .groupBy("word").agg(F.count("*").cast("long").alias("cnt")))


def tfidf_terms(df: DataFrame, *, text_col: str = "text",
                source_col: str = "source", top: int = 10,
                n_sources: int | None = None) -> DataFrame:
    """Per-source characteristic terms by tf-idf — the corpus-profiling
    complement of :func:`word_counts`: which words distinguish each
    source/domain slice (the report behind mixture design and
    domain-tagging heuristics).  Word definition matches
    :func:`word_counts` (lowercase ``[a-z0-9]+`` runs, NULL text empty).

    ``tfidf = tf · (ln((1 + S) / (1 + df)) + 1)`` (the smoothed-idf
    formula): ``tf`` = occurrences of the word in the source, ``df`` =
    number of distinct sources containing it, ``S`` = total distinct
    sources (pass ``n_sources`` when known to skip the count job).
    Returns the ``top`` terms per source as ``(source, word, tfidf,
    rank)``, rank ordered by (rounded tfidf DESC, word) — both engines
    rank the same 6-decimal value, so the cut is cross-engine stable.

    Scale shape: explode → partial-aggregated ``groupBy(source, word)``
    (the Zipf head collapses map-side), document frequency is a second
    partial-agged ``groupBy(word)`` over the ALREADY-AGGREGATED (source,
    word) table (vocab-bounded, never corpus-bounded), the idf join is
    word-keyed between two vocab-bounded tables (AQE broadcasts the df
    side when it fits), and the top-k window sorts one source's vocab per
    task — bounded by vocabulary, not corpus, at any scale."""
    from pyspark.sql import Window

    c = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(F.lower(c), r"[^a-z0-9]+"),
                     lambda w: w != "")
    tf = (df.select(F.col(source_col).alias("source"),
                    F.explode(words).alias("word"))
          .groupBy("source", "word")
          .agg(F.count("*").cast("long").alias("tf")))
    if n_sources is None:
        n_sources = df.agg(
            F.countDistinct(source_col).alias("n")).collect()[0]["n"]
    dfreq = tf.groupBy("word").agg(
        F.count("*").cast("long").alias("df_cnt"))
    # one IEEE op sequence, identical in DuckDB: (1.0+S)/(1.0+df) → ln →
    # +1.0 → ×tf → round 6 (integers are exact in double, so the literal
    # 1.0+S is the same value both engines divide by)
    idf = F.log((F.lit(1.0) + F.lit(float(n_sources)))
                / (F.lit(1.0) + F.col("df_cnt"))) + F.lit(1.0)
    scored = (tf.join(dfreq, "word")
              .select("source", "word",
                      F.round(F.col("tf") * idf, 6).alias("tfidf")))
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"),
                                             F.asc("word"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= top)
            .select("source", "word", "tfidf", "rank"))


def unigram_logprob(df: DataFrame, model: DataFrame, *,
                    total_words: int | None = None,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """CCNet-style unigram language-model quality score (Wenzek et al.
    2020 filter by LM perplexity; the unigram variant is the zero-dependency
    floor of that family): per document, the mean information content in
    bits of its words under a unigram model —
    ``bits_per_word = mean(-log2 p(w))`` with ``p(w) = cnt / total_words``
    for in-vocabulary words and the floor ``1 / total_words`` for
    out-of-vocabulary words.  Low bits ⇒ stereotypical text, high bits ⇒
    rare-word-heavy (both tails are what perplexity-based curation cuts).

    ``model``: ``(word, cnt)`` rows — typically the top-k of
    :func:`word_counts` over a reference corpus.  ``total_words``: the
    reference corpus' TOTAL word count (denominator), defaulting to the
    model's own mass — correct only when the model is un-truncated; pass
    the true total when the model is a top-k head.

    Output per input row: ``(id_col, n_words, n_oov, oov_frac,
    bits_per_word)``; an empty/NULL doc scores ``0, 0, 0.0, 0.0``.

    Scale shape: the model is a vocabulary head (≤ millions of rows) —
    BROADCAST joined against the exploded words, so the corpus side never
    shuffles for the lookup; the per-doc reduce is a ``groupBy(id_col)``
    whose partial agg collapses each doc's words map-side (a doc's
    exploded rows are partition-local by construction), making the
    doc-keyed exchange the plan's ONLY wide shuffle — empty docs ride
    through it as ``explode_outer`` sentinel rows rather than via a
    spine join (which would cost a second doc_id shuffle).  ``df`` ids
    are assumed unique (duplicate ids would merge their word streams).

    Cross-engine determinism: each word's bits value is rounded to 6
    decimals and summed as DECIMAL — exact and accumulation-order
    independent, and since bits is a function of ``cnt`` alone there are
    at most ``|model|+1`` DISTINCT per-word values whose last-ulp
    ``log2`` disagreement could straddle a rounding boundary (odds
    ~1e-6 corpus-wide, vs per-row float sums whose order-dependent error
    compounds with every doc).
    """
    if total_words is None:
        total_words = model.agg(F.sum("cnt")).collect()[0][0] or 1
    c = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(F.lower(c), r"[^a-z0-9]+"),
                     lambda w: w != "")
    # explode_OUTER: an empty/NULL doc emits one NULL-word row, so it
    # survives the aggregation without a spine join back (a left-join
    # spine would cost a SECOND doc_id shuffle; measured in the plan)
    exploded = df.select(id_col, F.explode_outer(words).alias("word"))
    joined = exploded.join(F.broadcast(model.select("word", "cnt")),
                           "word", "left")
    # bits = -log2(cnt/total) = log2(total) - log2(cnt); OOV ⇒ cnt=1 floor
    bits = (F.log2(F.lit(float(total_words)))
            - F.log2(F.coalesce(F.col("cnt"), F.lit(1)).cast("double")))
    is_word = F.col("word").isNotNull()
    per_doc = (joined.groupBy(id_col).agg(
        F.sum(is_word.cast("long")).alias("n_words"),
        F.sum((is_word & F.col("cnt").isNull()).cast("long"))
        .alias("n_oov"),
        F.sum(F.when(is_word, F.round(bits, 6).cast("decimal(18,6)")))
        .cast("double").alias("_sum_bits")))
    nw = F.col("n_words").cast("double")
    return per_doc.select(
        id_col, "n_words", "n_oov",
        # explicit n_words>0 guard: ANSI mode makes x/0 an ERROR, and
        # empty docs genuinely occur
        F.when(F.col("n_words") > 0,
               F.round(F.col("n_oov") / nw, 6))
        .otherwise(0.0).alias("oov_frac"),
        F.when(F.col("n_words") > 0,
               F.round(F.col("_sum_bits") / nw, 6))
        .otherwise(0.0).alias("bits_per_word"))


def word_bigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word-bigram counts ``(word_a, word_b, cnt)`` — the
    conditional-model half of :func:`bigram_logprob`'s inputs; word
    definition matches :func:`word_counts`, pairs never cross doc
    boundaries.  Same scale shape as :func:`pair_counts` (shifted-slice
    ``zip_with``, partial agg before the single live-bigram-bounded
    exchange)."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(F.lower(c), r"[^a-z0-9]+"),
                     lambda w: w != "")
    n = F.size(words)
    pairs = F.zip_with(
        F.slice(words, F.lit(1), n - 1), F.slice(words, F.lit(2), n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")))
    return (df.where(n >= 2)           # slice length n-1 must be >= 1
            .select(F.explode(pairs).alias("p"))
            .select(F.col("p.a").alias("word_a"),
                    F.col("p.b").alias("word_b"))
            .groupBy("word_a", "word_b")
            .agg(F.count("*").cast("long").alias("cnt")))


def bigram_logprob(df: DataFrame, unigram_model: DataFrame,
                   bigram_model: DataFrame, *,
                   total_words: int | None = None,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Bigram language-model quality score — one tier up from
    :func:`unigram_logprob` toward the KenLM filter CCNet actually runs:
    per document, mean bits/word where a word seen after a modelled
    predecessor scores the CONDITIONAL probability
    ``p(w|prev) = cnt(prev, w) / cnt(prev)`` and everything else (first
    word, unseen bigram, unmodelled predecessor) BACKS OFF to the unigram
    ``cnt(w) / total_words`` with the ``1 / total_words`` OOV floor.
    Stereotyped word ORDER (boilerplate, templates) now scores low even
    when its vocabulary is ordinary — the signal the unigram tier cannot
    see.

    ``unigram_model``: ``(word, cnt)``; ``bigram_model``: ``(word_a,
    word_b, cnt)`` (typically top-k heads of :func:`word_counts` /
    :func:`word_bigram_counts` over a reference corpus); ``total_words``
    as in :func:`unigram_logprob`.  The bigram path is taken only when
    BOTH the bigram and its predecessor's unigram are modelled, so a
    truncated head cannot produce a probability > 1 denominator mismatch.

    Output: ``(id_col, n_words, n_bigram_hits, bits_per_word)``;
    empty/NULL docs score ``0, 0, 0.0``.

    Scale shape: both models are vocabulary heads — every lookup is a
    BROADCAST join against the exploded word stream (three joins, zero
    corpus shuffles); the per-doc reduce is the plan's only wide
    exchange, with empty docs riding through as ``explode_outer``
    sentinels (the :func:`unigram_logprob` plan contract).

    Cross-engine determinism: per-word bits are a function of model
    COUNTS alone (``log2(denominator) − log2(numerator)``), rounded to 6
    decimals and summed as DECIMAL — exact and accumulation-order
    independent, the :func:`unigram_logprob` protocol.
    """
    if total_words is None:
        total_words = unigram_model.agg(F.sum("cnt")).collect()[0][0] or 1
    c = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(F.lower(c), r"[^a-z0-9]+"),
                     lambda w: w != "")
    n = F.size(words)
    # prev[i] = words[i-1], NULL for the first word: zip the array with a
    # NULL-headed shifted copy of itself, all JVM HOFs
    prev = F.concat(F.array(F.lit(None).cast("string")),
                    F.slice(words, F.lit(1),
                            F.greatest(n - 1, F.lit(0))))
    zipped = F.zip_with(prev, words,
                        lambda p, w: F.struct(p.alias("prev"),
                                              w.alias("word")))
    exploded = (df.select(id_col, F.explode_outer(zipped).alias("pw"))
                .select(id_col, F.col("pw.prev").alias("prev"),
                        F.col("pw.word").alias("word")))
    uni = unigram_model.select("word", F.col("cnt").alias("ucnt"))
    bi = bigram_model.select(F.col("word_a").alias("prev"),
                             F.col("word_b").alias("word"),
                             F.col("cnt").alias("bcnt"))
    joined = (exploded
              .join(F.broadcast(bi), ["prev", "word"], "left")
              .join(F.broadcast(uni.withColumnRenamed("word", "prev")
                                .withColumnRenamed("ucnt", "pcnt")),
                    "prev", "left")
              .join(F.broadcast(uni), "word", "left"))
    bigram_ok = F.col("bcnt").isNotNull() & F.col("pcnt").isNotNull()
    bits = F.when(bigram_ok,
                  F.log2(F.col("pcnt").cast("double"))
                  - F.log2(F.col("bcnt").cast("double"))) \
        .otherwise(F.log2(F.lit(float(total_words)))
                   - F.log2(F.coalesce(F.col("ucnt"),
                                       F.lit(1)).cast("double")))
    is_word = F.col("word").isNotNull()
    per_doc = (joined.groupBy(id_col).agg(
        F.sum(is_word.cast("long")).alias("n_words"),
        F.sum((is_word & bigram_ok).cast("long")).alias("n_bigram_hits"),
        F.sum(F.when(is_word, F.round(bits, 6).cast("decimal(18,6)")))
        .cast("double").alias("_sum_bits")))
    return per_doc.select(
        id_col, "n_words", "n_bigram_hits",
        F.when(F.col("n_words") > 0,
               F.round(F.col("_sum_bits")
                       / F.col("n_words").cast("double"), 6))
        .otherwise(0.0).alias("bits_per_word"))


def repetition_scores(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", *,
                      max_dup_line_frac: float = 0.30,
                      max_dup_line_char_frac: float = 0.20,
                      max_top_bigram_char_frac: float = 0.20) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, table A1
    — the "repetitious documents are low quality" filter family), one row
    per doc:

    * ``dup_line_frac`` — fraction of lines that are repeats of another
      line in the same document (lines compared after ``trim``);
    * ``dup_line_char_frac`` — fraction of (normalized) line characters
      belonging to repeat instances beyond each line's first occurrence;
    * ``top_bigram_char_frac`` — ``max(count × len(gram)) / n_chars`` over
      the doc's lowercase word bigrams: the character share the single
      most repeated bigram would cover (this engine's deterministic spec
      of Gopher's "fraction of characters contained within the most
      frequently-occurring 2-gram"; overlapping occurrences are each
      counted, so pathological docs — "spam spam spam ..." — can exceed
      1.0, which only strengthens the over-threshold signal);
    * ``is_repetitive`` — any fraction above its threshold.

    Scale shape: the line metrics are pure per-row JVM higher-order
    functions (no shuffle).  The bigram mode is computed RELATIONALLY —
    explode → partial-agged count per (doc, gram) → per-doc max — because
    a per-row HOF mode would be O(words²) per document, quadratic on big
    docs; the relational plan costs one (doc, gram) shuffle with map-side
    combine and a narrow per-doc join back (the joined frame carries only
    ids + metrics, never the text).
    """
    # NULL text scores as the empty document — NULL would otherwise
    # propagate into every fraction AND the is_repetitive flag, and a
    # caller's `where(~is_repetitive)` silently drops NULL rows
    c = F.coalesce(F.col(text_col), F.lit(""))
    lsn = F.transform(F.split(c, "\n"), lambda x: F.trim(x))
    dist = F.array_distinct(lsn)
    n_lines = F.size(lsn)
    n_dist = F.size(dist)

    def char_sum(arr):
        return F.aggregate(F.transform(arr, F.length),
                           F.lit(0).cast("long"), lambda a, x: a + x)

    sum_all = char_sum(lsn)
    sum_dist = char_sum(dist)
    base = df.select(
        id_col,
        F.length(c).cast("long").alias("n_chars"),
        n_lines.cast("long").alias("n_lines"),
        F.round((n_lines - n_dist) / n_lines.cast("double"), 6)
        .alias("dup_line_frac"),
        F.when(sum_all > 0,
               F.round((sum_all - sum_dist) / sum_all.cast("double"), 6))
        .otherwise(0.0).alias("dup_line_char_frac"))

    words = F.filter(F.split(F.lower(c), r"[^a-z0-9]+"),
                     lambda w: w != "")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(words, (i + 1).cast("int")),
            F.element_at(words, (i + 2).cast("int"))))
    top = (df.select(id_col,
                     F.explode(F.when(F.size(words) >= 2, grams)
                               .otherwise(F.array())).alias("gram"))
           .groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))
           .groupBy(id_col)
           .agg(F.max(F.col("cnt") * F.length("gram"))
                .alias("_top_cover")))
    out = base.join(top, id_col, "left")
    top_frac = F.when(
        F.col("n_chars") > 0,
        F.round(F.coalesce(F.col("_top_cover"), F.lit(0)).cast("double")
                / F.col("n_chars"), 6)).otherwise(0.0)
    return (out.withColumn("top_bigram_char_frac", top_frac)
            .drop("_top_cover")
            .withColumn(
                "is_repetitive",
                (F.col("dup_line_frac") > max_dup_line_frac)
                | (F.col("dup_line_char_frac") > max_dup_line_char_frac)
                | (F.col("top_bigram_char_frac")
                   > max_top_bigram_char_frac)))


def fingerprints(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", *, window: int = 32) -> DataFrame:
    """Stable 64-bit-ish content fingerprints:

    * ``fp_xxh64`` — whole-content xxhash64 (JVM, one O(n) pass);
    * ``fp_prefix`` / ``fp_suffix`` — boundary-region hashes (cheap
      near-boilerplate grouping);
    * ``fp_shingle_min`` — min over rolling hashes of every ``window``-char
      window (stride 1, winnowing-style), a 1-perm minhash robust to edits
      outside the minimal window.  Computed in ONE vectorized Arrow pass
      (flat rolling hash + per-doc ``np.minimum.reduceat``): O(n) per doc.
      A JVM ``substring``-per-window expression is O(n²) on long docs —
      ``UTF8String.substring`` scans to the char offset, so a 1 MB doc
      costs ~10¹¹ byte reads (measured: minutes per row) — and a
      materialized hash array costs 8·n bytes per row; the kernel path has
      neither problem.  Docs shorter than ``window`` fall back to
      whole-content xxhash64 via ``coalesce``.
    """
    import numpy as np
    import pyarrow as pa

    from ..sources.synth import append_column
    from .dedup import _flat_shingle_hashes

    def shingle_min(batch: pa.RecordBatch) -> pa.Array:
        h, off = _flat_shingle_hashes(batch.column(text_col), window)
        lens = np.diff(off)
        ne = lens > 0
        vals = np.zeros(lens.shape[0], dtype=np.uint64)
        if h.size:
            vals[ne] = np.minimum.reduceat(h, off[:-1][ne])
        return pa.array(vals.astype(np.int64), type=pa.int64(), mask=~ne)

    inner = append_column(df.select(id_col, text_col), "_fp_min bigint",
                          shingle_min)
    c = F.col(text_col)
    return inner.select(
        id_col,
        F.xxhash64(c).alias("fp_xxh64"),
        F.xxhash64(F.substring(c, 1, 64)).alias("fp_prefix"),
        F.xxhash64(F.substring(c, -64, 64)).alias("fp_suffix"),
        F.coalesce("_fp_min", F.xxhash64(c)).alias("fp_shingle_min"))
