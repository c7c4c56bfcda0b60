"""Text analysis: language id, quality scoring, token counting,
fingerprinting. All pure built-in expressions (whole-stage codegen,
no UDFs) so they run at scan speed on 100 TB and are SQL-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans"],
    "es": ["el", "la", "los", "que", "de", "es", "una", "por"],
}

TOKEN_REGEX = r"[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9 ]"


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens per document."""
    return df.withColumn(
        "ws_tokens", F.size(F.split(F.col(text_col), " "))).withColumn(
        "re_tokens", F.size(F.regexp_extract_all(F.col(text_col),
                                                 F.lit(TOKEN_REGEX), 0)))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / word-length heuristics in [0,1]."""
    t = F.col(text_col)
    n_chars = F.length(t)
    words = F.split(t, " ")
    n_words = F.size(words)
    mean_wlen = (n_chars - n_words + 1) / n_words
    stop_hits = F.size(F.filter(
        words, lambda w: w.isin(STOPWORDS["en"])))
    punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9 ]", ""))
    return (df
            .withColumn("n_chars", n_chars)
            .withColumn("n_words", n_words)
            .withColumn("mean_word_len", F.round(mean_wlen, 4))
            .withColumn("stopword_ratio", F.round(stop_hits / n_words, 4))
            .withColumn("punct_ratio", F.round(punct / n_chars, 4))
            .withColumn("quality", F.round(
                F.least(n_words / F.lit(64.0), F.lit(1.0)) * 0.4 +
                F.least(F.col("stopword_ratio") * 4, F.lit(1.0)) * 0.4 +
                (1 - F.least(F.col("punct_ratio") * 10, F.lit(1.0))) * 0.2, 4)))


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language guess (n-gram heuristic baseline)."""
    words = F.split(F.col(text_col), " ")
    scores = []
    for lang, sw in STOPWORDS.items():
        hits = F.size(F.filter(words, lambda w: w.isin(sw)))
        scores.append(F.struct((hits / F.size(words)).alias("score"),
                               F.lit(lang).alias("lang")))
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return (df.withColumn("lang_guess", best.getField("lang"))
              .withColumn("lang_score", F.round(best.getField("score"), 4)))


ROLL_BASE = 31
ROLL_MOD = 1_000_000_007


def rolling_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Polynomial rolling-hash fingerprint, pure codegen expressions:
    h = fold(h * 31 + ascii(char)) mod 1e9+7 over the document bytes.
    Order-sensitive (unlike a bag-of-words hash) and incremental — the
    classic Rabin-Karp document fingerprint."""
    chars = F.split(F.col(text_col), "")
    h = F.aggregate(
        chars, F.lit(0).cast("bigint"),
        lambda acc, c: (acc * ROLL_BASE + F.ascii(c)) % ROLL_MOD)
    return df.withColumn("rolling_fp", h)


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalization fingerprint: md5 of lowercased, punct-stripped,
    space-collapsed text (near-dup canonical form)."""
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9 ]", ""),
        r" +", " "))
    return df.withColumn("fp", F.md5(norm))


def quality_filter(df: DataFrame, text_col: str = "text",
                   min_words: int = 16, max_punct_ratio: float = 0.1,
                   min_stopword_ratio: float = 0.01,
                   min_mean_word_len: float = 2.0,
                   max_mean_word_len: float = 12.0) -> DataFrame:
    """C4-style document quality gate: keep documents that look like
    prose (enough words, sane punctuation density, at least some
    stopwords, plausible mean word length).  Pure codegen expressions —
    at 100 TB this runs inside the scan stage with zero shuffle, which
    is why training-data pipelines put this filter FIRST (it typically
    drops 30-60% of crawl text before any expensive dedup/embedding).
    Emits per-rule booleans plus the combined `keep`, so rejection
    reasons are aggregable for pipeline monitoring."""
    scored = quality_score(df, text_col)
    checks = {
        "ok_words": F.col("n_words") >= min_words,
        "ok_punct": F.col("punct_ratio") <= max_punct_ratio,
        "ok_stopwords": F.col("stopword_ratio") >= min_stopword_ratio,
        "ok_word_len": F.col("mean_word_len").between(
            min_mean_word_len, max_mean_word_len),
    }
    out = scored
    keep = F.lit(True)
    for name, cond in checks.items():
        out = out.withColumn(name, cond)
        keep = keep & F.col(name)
    return out.withColumn("keep", keep)


# Gopher rule constants (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Table A1).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                    "with")


def gopher_filter(df: DataFrame, text_col: str = "text",
                  min_words: int = 50, max_words: int = 100_000,
                  min_mean_word_len: float = 3.0,
                  max_mean_word_len: float = 10.0,
                  max_symbol_ratio: float = 0.1,
                  min_alpha_word_ratio: float = 0.8,
                  min_stop_hits: int = 2) -> DataFrame:
    """The Gopher document-quality rules (Rae et al. 2021 Table A1),
    the filter set RefinedWeb/Dolma/FineWeb inherit: word-count
    bounds, mean-word-length bounds, symbol-to-word ratio (# and
    "..." are the listed symbols), fraction of words containing an
    alphabetic character, and a >= `min_stop_hits`-of-8 stop-word
    presence test.  (The two line-shape rules — bullet-start and
    ellipsis-end line fractions — need line structure; apply them
    after dedup_lines' line splitter if the corpus carries newlines.)

    Pure whole-stage-codegen expressions, zero shuffle, zero UDF —
    the same scan-stage posture as quality_filter, and every
    intermediate is exposed (n_words, mean_word_len, symbol_ratio,
    alpha_word_ratio, stop_hits) plus per-rule booleans and `keep`,
    so rejection-reason histograms are one groupBy away."""
    words = F.filter(F.split(F.col(text_col), r"\s+"),
                     lambda w: w != "")
    n_words = F.size(words)
    n_chars = F.aggregate(F.transform(words, F.length),
                          F.lit(0), lambda a, x: a + x)
    mean_wlen = n_chars / n_words
    n_sym = (F.length(F.col(text_col))
             - F.length(F.replace(F.col(text_col), F.lit("#"),
                                  F.lit("")))) + \
        F.size(F.split(F.col(text_col), r"\.\.\.")) - 1
    alpha_words = F.size(F.filter(words,
                                  lambda w: w.rlike("[A-Za-z]")))
    stop_hits = F.size(F.filter(
        F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        lambda s: F.array_contains(words, s)))
    out = (df.withColumn("n_words", n_words)
           .withColumn("mean_word_len", mean_wlen)
           .withColumn("symbol_ratio", n_sym / n_words)
           .withColumn("alpha_word_ratio", alpha_words / n_words)
           .withColumn("stop_hits", stop_hits))
    checks = {
        "ok_words": F.col("n_words").between(min_words, max_words),
        "ok_word_len": F.col("mean_word_len").between(
            min_mean_word_len, max_mean_word_len),
        "ok_symbols": F.col("symbol_ratio") <= max_symbol_ratio,
        "ok_alpha": F.col("alpha_word_ratio") >= min_alpha_word_ratio,
        "ok_stopwords": F.col("stop_hits") >= min_stop_hits,
    }
    keep = F.lit(True)
    for name, cond in checks.items():
        out = out.withColumn(name, cond)
        keep = keep & F.col(name)
    return out.withColumn("keep", keep)


def top_vocabulary(df: DataFrame, text_col: str = "text",
                   k: int = 100, lowercase: bool = True) -> DataFrame:
    """Corpus-wide top-k word frequencies (the vocabulary-building
    staple).  explode -> hash-groupBy count (map-side partial combine,
    one shuffle of (word, count) pairs) -> rank with a deterministic
    (count desc, word asc) tie-break so the cut is reproducible.  The
    final cut is a top-k (Catalyst rewrites the unpartitioned
    ``row_number() <= k`` into TakeOrderedAndProject below the Window)
    — at any corpus size only distinct-word rows shuffle, never
    documents."""
    from pyspark.sql import Window
    t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    words = (df.select(F.explode(F.split(t, " ")).alias("word"))
             .where(F.col("word") != ""))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("word").asc())
    return (counts.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("rank", "word", "n"))


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/MassiveText-style repetition signals, pure codegen:

      * dup_line_frac — fraction of lines that are exact duplicates of
        an earlier line (boilerplate/nav-menu detector);
      * top_word_frac — fraction of (lowercased) word occurrences taken
        by the single most frequent word (degenerate-text detector);
      * dup_word_frac — fraction of word occurrences beyond each word's
        first (overall lexical repetition).

    All three are per-document array expressions (aggregate/filter over
    split products) — no shuffle, no UDF, so at 100 TB they run inside
    the scan stage alongside quality_filter."""
    t = F.col(text_col)
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    n_dist_lines = F.size(F.array_distinct(lines))
    words = F.split(F.lower(t), " ")
    n_words = F.size(words)
    n_dist_words = F.size(F.array_distinct(words))
    # count of the most frequent word: for each DISTINCT word, count its
    # occurrences; take the max.  distinct-first keeps the transform
    # O(distinct x words) instead of O(words^2).
    top_count = F.array_max(F.transform(
        F.array_distinct(words),
        lambda w: F.size(F.filter(words, lambda x: x == w))))
    return (df
            .withColumn("dup_line_frac", F.round(
                (n_lines - n_dist_lines) / n_lines, 4))
            .withColumn("top_word_frac", F.round(top_count / n_words, 4))
            .withColumn("dup_word_frac", F.round(
                (n_words - n_dist_words) / n_words, 4)))


def domain_stats(df: DataFrame, url_col: str = "url",
                 text_col: str = "text") -> DataFrame:
    """Per-domain corpus accounting (the first question asked of any
    web crawl: which hosts dominate?): host via one regexp over the
    url, then doc counts and text chars per host.  One scan + one
    map-side-combined aggregate whose key space is |hosts|, not |docs|;
    skew-safe because the combine happens before the shuffle."""
    host = F.regexp_extract(F.col(url_col), r"^[a-z]+://([^/]+)", 1)
    return (df.select(host.alias("host"),
                      F.length(F.col(text_col)).alias("_tc"))
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_tc").alias("text_chars")))


def train_bigram_lm(df: DataFrame, text_col: str = "text",
                    vocab_size: int = 4096,
                    bigram_cap: int = 16384) -> dict:
    """Corpus bigram language model for CCNet-style fluency filtering
    (Wenzek et al. 2020 filter web text by LM score; Gopher/RefinedWeb
    keep the idea with different models).  Counts are trained
    DISTRIBUTIVELY and only the capped tables come back to the driver:

      * unigrams: explode -> hash-groupBy (map-side partial combine,
        one shuffle of (word, count) pairs), top ``vocab_size`` under
        the deterministic (count desc, word asc) tie-break —
        reproducible cut, same as :func:`top_vocabulary`;
      * bigrams: consecutive non-empty token pairs via
        arrays_zip(slice, slice) (no UDF), broadcast-semi-joined
        against the vocabulary BEFORE the count shuffle (an
        out-of-vocab token can never mint a bigram key, so the key
        space is bounded by vocab²), then top ``bigram_cap`` under
        (count desc, w1 asc, w2 asc).

    At 10^12 docs the shuffled keys are distinct words/pairs (Zipf:
    millions, not trillions) and the driver holds vocab_size +
    bigram_cap rows — metadata-sized by construction.  Returns
    ``{"vocab": {word: count}, "bigrams": {(w1, w2): count},
    "n_tokens": total}``, the picklable input of
    :func:`score_bigram_lm`.  Tokenization is lowercase
    whitespace-split (the corpus-stats convention here); train and
    score share it by construction."""
    from pyspark.sql import Window
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "),
                    lambda x: x != "")
    words = df.select(F.explode(toks).alias("word"))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    wv = Window.orderBy(F.col("n").desc(), F.col("word").asc())
    vocab_df = (counts.withColumn("rank", F.row_number().over(wv))
                .where(F.col("rank") <= vocab_size)
                .select("word", "n")).cache()
    vocab = {r.word: int(r.n) for r in vocab_df.collect()}
    n_tokens = int(words.count())

    t = df.select(toks.alias("_tk"))
    n = F.size(F.col("_tk"))
    pairs = F.arrays_zip(F.slice(F.col("_tk"), 1, n - 1),
                         F.expr("slice(_tk, 2, size(_tk) - 1)"))
    big = (t.where(n >= 2)
           .select(F.explode(pairs).alias("p"))
           .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2")))
    big = (big.join(F.broadcast(vocab_df.select(
               F.col("word").alias("w1"))), "w1", "left_semi")
           .join(F.broadcast(vocab_df.select(
               F.col("word").alias("w2"))), "w2", "left_semi"))
    bcounts = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    wb = Window.orderBy(F.col("n").desc(), F.col("w1").asc(),
                        F.col("w2").asc())
    bigrams = {(r.w1, r.w2): int(r.n) for r in
               (bcounts.withColumn("rank", F.row_number().over(wb))
                .where(F.col("rank") <= bigram_cap)
                .select("w1", "w2", "n")).collect()}
    vocab_df.unpersist()
    return {"vocab": vocab, "bigrams": bigrams, "n_tokens": n_tokens}


def score_bigram_lm(df: DataFrame, lm: dict, text_col: str = "text",
                    id_col: str = "doc_id",
                    alpha: float = 0.4) -> DataFrame:
    """Per-document fluency under a :func:`train_bigram_lm` model:
    stupid-backoff (Brants et al. 2007 — no discounting state, ideal
    for a distributed filter) over consecutive token pairs,

        p(w2 | w1) = count(w1 w2) / count(w1)        bigram known
                   = alpha * count(w2) / N            w2 in vocab
                   = alpha * 1 / N                    w2 out of vocab

    Returns (id_col, lm_tokens, lm_oov, lm_hits, lm_logprob):
    exact-integer diagnostics (token/pair/OOV/bigram-hit counts — the
    oracle-checkable half) plus the mean natural-log probability per
    scored pair (float — verified by unit tests, not hashes: libm ln
    is not bit-portable across engines).

    Execution: explode pairs, TWO broadcast joins against the capped
    count tables (the big side never shuffles for lookups), per-pair
    arithmetic in codegen, ONE hash-aggregate back to documents — the
    minhash execution shape, so it scales the same way."""
    spark = df.sparkSession
    vdf = spark.createDataFrame(
        [(w, c) for w, c in lm["vocab"].items()], "word string, vn long")
    bdf = spark.createDataFrame(
        [(a, b, c) for (a, b), c in lm["bigrams"].items()],
        "w1 string, w2 string, bn long")
    N = max(1, int(lm["n_tokens"]))
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "),
                    lambda x: x != "")
    t = df.select(F.col(id_col), toks.alias("_tk"))
    n = F.size(F.col("_tk"))
    pairs = F.arrays_zip(F.slice(F.col("_tk"), 1, n - 1),
                         F.expr("slice(_tk, 2, size(_tk) - 1)"))
    p = (t.where(n >= 2)
         .select(F.col(id_col), F.explode(pairs).alias("p"))
         .select(F.col(id_col), F.col("p.0").alias("w1"),
                 F.col("p.1").alias("w2")))
    p = (p.join(F.broadcast(bdf), ["w1", "w2"], "left")
         .join(F.broadcast(vdf.select(F.col("word").alias("w1"),
                                      F.col("vn").alias("c1"))),
               "w1", "left")
         .join(F.broadcast(vdf.select(F.col("word").alias("w2"),
                                      F.col("vn").alias("c2"))),
               "w2", "left"))
    prob = (F.when(F.col("bn").isNotNull() & F.col("c1").isNotNull(),
                   F.col("bn") / F.col("c1"))
            .when(F.col("c2").isNotNull(),
                  F.lit(alpha) * F.col("c2") / F.lit(N))
            .otherwise(F.lit(alpha) / F.lit(N)))
    return (p.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("lm_pairs"),
                 F.sum(F.when(F.col("c2").isNull(), 1)
                       .otherwise(0)).alias("lm_oov"),
                 F.sum(F.when(F.col("bn").isNotNull(), 1)
                       .otherwise(0)).alias("lm_hits"),
                 F.avg(F.log(prob)).alias("lm_logprob")))
