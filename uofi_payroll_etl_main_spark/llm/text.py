"""Text analysis for training-data curation.

All pure Catalyst expressions (regexp/array functions) -- no Python in
the hot path, so these run at scan speed over 100 TB of documents.

Operators:
  * tokens / token_count     -- whitespace tokenization.
  * wordlike_token_count     -- BPE-ish regex token estimate
                                (\\w+ runs and single non-space symbols).
  * en_marker_count          -- bounded-word hits of high-frequency
                                English function words (n-gram heuristic).
  * language_id              -- marker-ratio language heuristic.
  * quality_features/score   -- length / punctuation / stopword /
                                repetition heuristics.
  * fingerprint              -- md5 of whitespace-normalized lowercase
                                text (document-level near-canonical id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "zipf_fit",
    "rouge_n",
    "rouge_scores",
    "rouge_l",
    "bleu_score",
    "bleu_corpus",
    "chrf_score",
    "js_divergence",
    "tokens",
    "token_count",
    "wordlike_token_count",
    "en_marker_count",
    "language_id",
    "quality_features",
    "fingerprint",
    "normalize_text",
    "tfidf_topk",
    "top_ngrams",
    "bigram_logprob",
    "perplexity_buckets",
    "encoding_quality",
    "repetition_signals",
    "oov_rate",
    "build_trigram_index",
    "substring_search",
    "vocab_coverage",
    "tokenize_greedy",
    "gopher_rules",
    "GOPHER_STOPWORDS",
    "bpe_train",
    "bm25_topk",
    "sentence_split",
    "normalize_unicode",
    "nb_classify",
]

# High-frequency English function words; bounded so 'the' != 'theory'.
EN_MARKERS = r"(?i)\b(the|and|of|to|a|in|is|it|that|for)\b"
_PUNCT = r"[^\w\s]"


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a narrow scan across the cluster before a compute-bound
    expression stage: a single-file local parquet scan is ONE partition,
    which serializes tokenize/gram transforms onto one core.  Only
    repartitions UP -- a no-op at scale where the scan already has
    thousands of splits.  (Shared by the dedup/curation modules.)"""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def explode_nonempty(df: DataFrame, keep: list, arr: Column, alias: str) -> DataFrame:
    """explode an array column WITHOUT letting the optimizer clone the
    array expression into a pushed-down filter.

    A plain `explode` lets InferFiltersFromGenerate derive
    `size(arr) > 0` and push the ENTIRE array expression (tokenize /
    gram transforms -- the dominant compute of these operators) below
    every exchange onto the scan, where it re-runs serially on a
    single-partition local file.  explode_outer infers nothing; the
    `isnotnull` filter on the GENERATED column restores the exact
    inner-explode semantics (empty arrays contribute no rows) and can
    never be pushed below the generate that creates the column.
    """
    out = ensure_parallelism(df).select(*keep, F.explode_outer(arr).alias(alias))
    return out.filter(F.col(alias).isNotNull())


def bind1(value: Column, fn) -> Column:
    """let-expression for Catalyst: evaluate `value` ONCE per row and
    hand the bound result to `fn` as a lambda variable.

    Higher-order-function lambdas re-evaluate any OUTER expression they
    reference once per element -- a gram builder whose lambda slices
    `tokens(normalize_text(text))` re-runs the whole regexp+split chain
    per gram, turning an O(len) stage into O(len^2) (measured: 686 CPU-s
    for the sf0.1 chrF counts stage, 12x the bound-value cost).  A
    single-element transform is the engine's only let: the argument
    array is evaluated once, and the lambda body sees the VALUE as a
    NamedLambdaVariable, so inner lambdas referencing it are O(1).
    """
    return F.get(F.transform(F.array(value), fn), F.lit(0))


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_text(col: Column | str) -> Column:
    """lowercase + collapse whitespace + trim."""
    return F.trim(F.regexp_replace(F.lower(_c(col)), r"\s+", " "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokens; empty/blank text -> empty array (F.split on ''
    would yield [''])."""
    t = F.trim(_c(col))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def wordlike_token_count(col: Column | str) -> Column:
    """BPE-ish estimate: count \\w+ runs plus lone symbols -- the classic
    pre-tokenizer regex, countable engine-side without a tokenizer lib."""
    return F.regexp_count(_c(col), F.lit(r"\w+|[^\w\s]")).cast("long")


def en_marker_count(col: Column | str) -> Column:
    return F.regexp_count(_c(col), F.lit(EN_MARKERS)).cast("long")


def language_id(col: Column | str, threshold: float = 0.05) -> Column:
    """n-gram-heuristic language ID: 'en' when >=threshold of tokens are
    high-frequency English function words, else 'other'.

    A real pipeline would broadcast per-language marker tables and take
    the argmax ratio; the shape (regexp_count ratio -> threshold) is the
    same and stays in codegen.
    """
    n = token_count(col)
    ratio = F.when(n > 0, en_marker_count(col) / n).otherwise(F.lit(0.0))
    return F.when(ratio >= F.lit(threshold), F.lit("en")).otherwise(F.lit("other"))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / marker / repetition heuristics + a binary
    keep flag, one projection wide."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("long")
    n_tok = token_count(t)
    n_punct = F.regexp_count(t, F.lit(_PUNCT)).cast("long")
    n_uniq = F.size(F.array_distinct(tokens(t))).cast("long")
    mean_tok_len = F.when(n_tok > 0, (F.length(F.regexp_replace(F.trim(t), r"\s+", "")) / n_tok)).otherwise(
        F.lit(0.0)
    )
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    marker_ratio = F.when(n_tok > 0, en_marker_count(t) / n_tok).otherwise(F.lit(0.0))
    uniq_ratio = F.when(n_tok > 0, n_uniq / n_tok).otherwise(F.lit(0.0))
    keep = (
        (n_tok >= 5)
        & (mean_tok_len >= 2.0)
        & (mean_tok_len <= 15.0)
        & (punct_ratio <= 0.3)
    )
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tok.alias("q_n_tokens"),
        mean_tok_len.alias("q_mean_token_len"),
        punct_ratio.alias("q_punct_ratio"),
        marker_ratio.alias("q_en_marker_ratio"),
        uniq_ratio.alias("q_unique_token_ratio"),
        keep.alias("q_keep"),
    )


def fingerprint(col: Column | str) -> Column:
    """Canonical document fingerprint: md5 over normalized text.  Exact
    near-canonical dedup key (whitespace/case-insensitive)."""
    return F.md5(normalize_text(col))


def tfidf_topk(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Top-k TF-IDF terms per document (smoothed idf: ln((N+1)/(df+1))+1).

    Shuffle plan at 100 TB: tokens explode narrowly at scan speed; term
    frequency aggregates with map-side combine on (doc, term); document
    frequency derives FROM the tf aggregate (never re-scans the corpus,
    and identical subplans share the exchange under AQE reuse); N is a
    scalar aggregate broadcast via crossJoin.  The tf<->df join shuffles
    on term -- vocabulary-sized, not corpus-sized -- and AQE handles the
    stop-word skew.  Deterministic: ties broken by term ascending.
    """
    from pyspark.sql import Window

    t = explode_nonempty(
        df, [F.col(id_col)], tokens(normalize_text(text_col)), "term"
    )
    tf = t.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # df(term) as a whole-partition window over the tf aggregate: one
    # scan + one extra exchange on term, instead of re-deriving the
    # explode->aggregate lineage for a second branch and joining back
    dfreq = F.count("*").over(Window.partitionBy("term")).alias("df")
    n = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.withColumn("df", dfreq)
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            "term",
            "tf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )

    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "tfidf", "rank")
    )


def top_ngrams(
    df: DataFrame, text_col: str = "text", n: int = 2, k: int = 20
) -> DataFrame:
    """Corpus-wide top-k word n-grams by count (term asc tie-break).

    The gram construction is a pure Catalyst HOF (transform over
    sequence + slice + array_join) so it runs inside codegen at scan
    speed; the global top-k is orderBy+limit -> TakeOrderedAndProject
    (per-partition heaps, no full sort shuffle).
    """
    # tokens bound once per row (bind1): an outer chain referenced from
    # the gram lambda would re-tokenize per gram
    grams = bind1(
        tokens(normalize_text(text_col)),
        lambda toks: F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return (
        explode_nonempty(df, [], grams, "ngram")
        .groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ngram"))
        .limit(k)
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.0,
) -> DataFrame:
    """CCNet-style fluency signal: mean bigram log-probability of each
    document under the corpus's own bigram model, avg over bigrams
    (w1 w2) of ln((count(w1 w2) + k) / (count(w1) + k*V)) with V the
    unigram vocabulary size.  add_k=0 (default) is the raw MLE model;
    add_k>0 is add-k (Laplace) smoothing, which is what a FLUENCY
    ranking needs -- under unsmoothed MLE a hapax bigram scores
    ln(1/1)=0, i.e. word salad made of unique words ranks as perfectly
    fluent, while smoothing pushes rare-context bigrams toward
    ln(k/(1+kV)) and keeps genuinely common phrasing on top.

    Unusual text (boilerplate, garbled extraction, wrong-language
    residue) scores low; a production pipeline swaps the corpus model
    for a pretrained KenLM, but the join/aggregate shape is identical.

    Shuffles are vocabulary-sized (bigram + unigram count joins;
    stop-word skew is AQE's standard case); V is a single scalar row
    broadcast into the term expression.  The per-term logprob is
    rounded to 9 digits and summed as DECIMAL so the cross-engine
    result is bit-stable (ln may differ in the last ulp between libm
    implementations).
    """
    toks = tokens(normalize_text(text_col))
    sz = F.size(toks)
    pairs = F.when(
        sz >= 2,
        F.zip_with(
            F.slice(toks, 1, sz - 1),
            F.slice(toks, 2, sz - 1),
            lambda a, b: F.struct(a.alias("w1"), F.concat(a, F.lit(" "), b).alias("bg")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,bg:string>>"))
    ex = explode_nonempty(df, [F.col(id_col)], pairs, "p").select(
        id_col, F.col("p.w1").alias("w1"), F.col("p.bg").alias("bg")
    )
    uni = (
        explode_nonempty(df, [], toks, "w1")
        .groupBy("w1")
        .agg(F.count("*").alias("c_w1"))
    )
    bg = ex.groupBy("bg").agg(F.count("*").alias("c_bg"))
    scored = ex.join(bg, "bg").join(uni, "w1")
    if add_k:
        vocab = uni.agg(F.count(F.lit(1)).alias("__v"))
        scored = scored.crossJoin(F.broadcast(vocab))
        p = (F.col("c_bg") + F.lit(float(add_k))) / (
            F.col("c_w1") + F.lit(float(add_k)) * F.col("__v")
        )
    else:
        p = F.col("c_bg") / F.col("c_w1")
    term = F.round(F.log(p), 9).cast("decimal(20,9)")
    return (
        scored
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round((F.sum(term) / F.count("*")).cast("double"), 6).alias(
                "avg_logprob"
            ),
        )
    )


def repetition_signals(
    df: DataFrame,
    ngram_sizes: tuple[int, ...] = (2, 3),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition quality signals: for each document and
    each n in `ngram_sizes`, the fraction of n-gram characters that
    belong to grams occurring more than once within the document.
    Boilerplate, keyword-stuffed, and template text score high; the
    Gopher rules drop documents above ~0.2 for 2-grams.

    Scale shape: grams are built narrow with Catalyst HOFs (sequence +
    slice, no Python), then ONE explode feeds a (doc, n, gram) partial
    aggregate -- Spark's map-side combine collapses repeats before the
    shuffle, so shuffle volume is bounded by distinct grams per doc,
    not corpus size.  The per-doc fractions then reduce in a second
    keyed aggregate on doc id alone.  Both shuffles are
    scan-proportional; nothing is collected to the driver.
    """
    # ONE corpus scan for every n: per-n (n, gram) struct arrays are
    # flattened and exploded together (a per-n union would rescan the
    # text column once per gram size -- n scans of a 100 TB corpus).
    # The token array crosses into the gram lambdas as a BOUND value
    # (bind1) so the regexp+split chain runs once per row, not per gram.
    # The HOF lambda must take exactly ONE parameter: F.transform binds
    # a second parameter to the element index, so `n=n` default-arg
    # capture would silently corrupt the slice length -- close over n
    # with a factory instead.
    def _all_grams(toks: Column) -> Column:
        sz = F.size(toks)

        def _gram_builder(nn):
            return lambda i: F.struct(
                F.lit(nn).alias("n"),
                F.array_join(F.slice(toks, i, nn), " ").alias("gram"),
            )

        per_n = [
            F.when(
                sz >= n,
                F.transform(F.sequence(F.lit(1), sz - n + 1), _gram_builder(n)),
            ).otherwise(F.array().cast("array<struct<n:int,gram:string>>"))
            for n in ngram_sizes
        ]
        return F.flatten(F.array(*per_n))

    ex = explode_nonempty(
        df,
        [F.col(id_col)],
        bind1(tokens(normalize_text(text_col)), _all_grams),
        "g",
    ).select(id_col, F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    counted = ex.groupBy(id_col, "n", "gram").agg(F.count("*").alias("cnt"))
    chars = F.col("cnt") * F.length("gram")
    per_doc_n = counted.groupBy(id_col, "n").agg(
        F.sum(chars).alias("tot"),
        F.sum(F.when(F.col("cnt") > 1, chars).otherwise(F.lit(0))).alias("dup"),
    )
    frac = (F.col("dup").cast("double") / F.col("tot")).alias("frac")
    pivoted = (
        per_doc_n.select(id_col, "n", frac)
        .groupBy(id_col)
        .pivot("n", list(ngram_sizes))
        .agg(F.first("frac"))
    )
    out = df.select(id_col).join(pivoted, id_col, "left")
    for n in ngram_sizes:
        out = out.withColumn(
            f"rep_{n}gram_frac", F.coalesce(F.col(str(n)), F.lit(0.0))
        ).drop(str(n))
    return out


def oov_rate(
    df: DataFrame,
    vocab_size: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary-coverage signal: build the corpus top-`vocab_size`
    token vocabulary (count desc, token asc -- total order, so the
    boundary is deterministic) and report each document's out-of-vocab
    token fraction.  High OOV flags wrong-language or garbled text
    relative to the corpus; with a fixed external vocabulary, swap the
    derived one in.

    Scale shape: token counts reduce with map-side combine (shuffle =
    vocabulary size, not corpus size); the top-k is a TakeOrdered over
    that aggregate (k bounded); the verdict joins the exploded tokens
    against the BROADCAST vocab, so the corpus is never shuffled for
    membership -- the only corpus-keyed shuffle is the per-doc
    aggregate.
    """
    toks = tokens(normalize_text(text_col))
    ex = explode_nonempty(df, [F.col(id_col)], toks, "tok")
    vocab = (
        ex.groupBy("tok")
        .agg(F.count("*").alias("__c"))
        .orderBy(F.desc("__c"), F.asc("tok"))
        .limit(vocab_size)
        .select("tok", F.lit(True).alias("__in_vocab"))
    )
    per = (
        ex.join(F.broadcast(vocab), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("__n"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
            ).alias("__oov"),
        )
    )
    n = F.coalesce(F.col("__n"), F.lit(0)).cast("long")
    oov = F.coalesce(F.col("__oov"), F.lit(0)).cast("long")
    return (
        df.select(id_col)
        .join(per, id_col, "left")
        .select(
            F.col(id_col),
            n.alias("n_tokens"),
            oov.alias("n_oov"),
            F.when(n > 0, oov.cast("double") / n).otherwise(F.lit(0.0)).alias(
                "oov_frac"
            ),
        )
    )


def build_trigram_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Character-trigram posting table (trigram, doc_id): the WRITE-side
    index for substring search over a corpus.

    Built once (persist it partitioned by trigram), amortized over every
    later pattern query -- the index scan for a query touches only the
    pattern's own trigrams, not the corpus text.  Distinct per doc, so
    the posting list for a trigram is at most one row per document.
    """
    t = F.col(text_col)
    n = F.length(t)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
            lambda i: t.substr(i, F.lit(3)),
        )
    )
    return explode_nonempty(df, [F.col(id_col)], grams, "trigram")


def substring_search(
    df: DataFrame,
    pattern: str,
    index: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT substring search (`contains`) with a trigram prefilter.

    Every occurrence of `pattern` implies every one of its character
    trigrams appears in the doc -- so docs missing any pattern trigram
    are excluded with NO false negatives, and only candidates holding
    all trigrams are verified with the real `contains`.  At 100 TB the
    naive plan reads every text byte per query; this reads the posting
    lists of len(pattern)-2 trigrams plus the candidates' text.
    Patterns shorter than 3 chars fall back to the plain scan.
    """
    if len(pattern) < 3:
        return df.filter(F.col(text_col).contains(pattern))
    grams = sorted({pattern[i : i + 3] for i in range(len(pattern) - 2)})
    if index is None:
        index = build_trigram_index(df, id_col, text_col)
    cand = (
        index.filter(F.col("trigram").isin(grams))
        .groupBy(id_col)
        .agg(F.count_distinct("trigram").alias("__m"))
        .filter(F.col("__m") == len(grams))
        .select(id_col)
    )
    return df.join(cand, id_col, "left_semi").filter(F.col(text_col).contains(pattern))


def vocab_coverage(
    df: DataFrame, top_v: int = 500, text_col: str = "text"
) -> DataFrame:
    """Vocabulary induction report: the top-V corpus tokens by frequency
    with each prefix's cumulative share of all token occurrences -- the
    standard "how big must the vocab be to cover X% of the stream"
    curve that sizes tokenizers and OOV budgets.

    Scale shape: token counting is one map-side-combined groupBy; the
    top-V cut is TakeOrdered (distributed partial top-V per partition,
    never a global sort); the cumulative window then runs over only V
    rows (metadata scale), and the denominator is a one-row total
    broadcast.  cum_share divides exact longs -> bit-identical doubles
    across engines.
    """
    from pyspark.sql import Window

    arr = tokens(normalize_text(text_col))
    counts = (
        explode_nonempty(df, [], arr, "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("__total"))
    top = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(int(top_v))
    w = (
        Window.orderBy(F.desc("cnt"), F.asc("tok"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(w).cast("long").alias("rank"),
            F.col("tok"),
            F.col("cnt").cast("long").alias("cnt"),
            (
                F.sum("cnt").over(w).cast("double")
                / F.col("__total").cast("double")
            ).alias("cum_share"),
        )
    )


def tokenize_greedy(
    df: DataFrame,
    vocab: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_subword_len: int = 12,
) -> DataFrame:
    """Greedy longest-match subword segmentation (WordPiece-style
    inference) against a fixed vocabulary: each whitespace word is
    consumed left-to-right by its longest vocabulary prefix; a position
    with no matching prefix consumes one character as UNK.

    The per-word loop is inherently sequential, so this is the one
    text operator on the Arrow path: a `mapInPandas` kernel with the
    vocabulary shipped once per executor in the closure (a real
    deployment broadcasts the trained vocab the same way).  Scan-only:
    no shuffle, output is per-doc token accounting (the numbers that
    drive token budgets, packing, and cost estimates).

    Returns (id, n_words, n_subwords, n_unk).
    """
    vocab_set = frozenset(v for v in vocab if v)
    cap = int(max_subword_len)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            ids, n_words, n_subs, n_unk = [], [], [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                words = (txt or "").lower().split()
                subs = unk = 0
                for w in words:
                    pos = 0
                    while pos < len(w):
                        for ln in range(min(cap, len(w) - pos), 0, -1):
                            if w[pos : pos + ln] in vocab_set:
                                subs += 1
                                pos += ln
                                break
                        else:
                            unk += 1
                            pos += 1
                ids.append(i)
                n_words.append(len(words))
                n_subs.append(subs)
                n_unk.append(unk)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_words": n_words,
                    "n_subwords": n_subs,
                    "n_unk": n_unk,
                }
            )

    out_schema = f"{id_col} long, n_words long, n_subwords long, n_unk long"
    return ensure_parallelism(df.select(id_col, text_col)).mapInPandas(
        run, out_schema
    )


# Gopher/MassiveText document-quality rule set (Rae et al. 2021, §A1.1):
# a small battery of cheap structural filters applied before any
# model-based scoring.  The stop-word list is the paper's.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
    min_words: int = 30,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style repetition-free quality rules, one codegen-wide
    projection per document: word-count bounds, mean word length
    bounds, symbol-to-word ratio (# / ellipsis), bullet-started and
    ellipsis-ended line fractions, fraction of words containing an
    alphabetic character, and the >=2-stop-words presence rule; `keep`
    is the conjunction.  Every rule is a higher-order-function over the
    split token array -- no UDF, no shuffle, scan-speed filtering
    (the 100 TB posture: quality gating costs one projection).

    Returns (id, *keep_cols, n_words, mean_word_len, symbol_ratio,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac, stop_hits,
    keep) -- per-rule observability so a curation run can report WHY
    documents dropped, not just how many (the fix-the-crawler loop
    needs the breakdown).  `keep_cols` passes grouping columns (e.g.
    source) through the projection so downstream rollups stay
    single-scan instead of joining back to the corpus.
    """
    t = F.col(text_col)
    words = tokens(t)
    n_words = F.size(words).cast("long")
    nw_d = n_words.cast("double")
    total_chars = F.aggregate(
        F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    mean_word_len = F.round(
        F.when(n_words > 0, total_chars.cast("double") / nw_d).otherwise(F.lit(0.0)), 6
    )
    n_symbol_words = F.size(
        F.filter(words, lambda w: w.contains("#") | w.contains("...") | w.contains("…"))
    ).cast("long")
    symbol_ratio = F.round(
        F.when(n_words > 0, n_symbol_words.cast("double") / nw_d).otherwise(F.lit(0.0)), 6
    )
    lines = F.split(t, r"\n")
    n_lines = F.size(lines).cast("double")
    bullet_frac = F.round(
        F.size(
            F.filter(
                lines,
                lambda l: l.startswith("-") | l.startswith("*") | l.startswith("•"),
            )
        ).cast("double")
        / n_lines,
        6,
    )
    ellipsis_frac = F.round(
        F.size(
            F.filter(lines, lambda l: l.endswith("...") | l.endswith("…"))
        ).cast("double")
        / n_lines,
        6,
    )
    n_alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    alpha_frac = F.round(
        F.when(n_words > 0, n_alpha_words.cast("double") / nw_d).otherwise(F.lit(0.0)), 6
    )
    stop_hits = F.size(
        F.array_intersect(
            F.transform(words, F.lower),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    ).cast("long")
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len)
        & (symbol_ratio <= max_symbol_ratio)
        & (bullet_frac <= max_bullet_frac)
        & (ellipsis_frac <= max_ellipsis_frac)
        & (alpha_frac >= min_alpha_frac)
        & (stop_hits >= min_stop_hits)
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
        keep.alias("keep"),
    )


def _bpe_merge_expr(sym: Column, a: str, b: str, ab: str) -> Column:
    """Apply ONE merge rule (a,b)->ab to a symbol array: greedy
    leftmost non-overlapping replacement of adjacent (a,b), the exact
    BPE apply step, as a foldLeft (F.aggregate) -- pure codegen, the
    rule pair ships as plan literals."""
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(ab))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    min_pair_count: int = 2,
):
    """Distributed byte-pair-encoding vocabulary training (Sennrich et
    al. 2016 word-level BPE): learn `n_merges` merge rules from corpus
    word frequencies.  Returns (merges, word_symbols) where `merges`
    is a list of dicts {rank, left, right, merged, pair_count} (the
    ordered merge table a tokenizer consumes) and `word_symbols` the
    final per-word symbol arrays DataFrame (word, symbols, n_words).

    Scale design -- the corpus is touched ONCE:
      * One corpus scan aggregates word counts; every subsequent step
        runs on the DISTINCT-WORD table (vocab-scale: ~10^5..10^7 rows
        at 100 TB, thousands of times smaller than the corpus).
      * Per iteration: adjacent-pair counts are a transform+explode
        over the symbol arrays weighted by word count (map-side
        partial agg on the (left,right) key), the argmax pair is ONE
        driver row (count DESC, pair ASC tie-break -- deterministic),
        and the merge applies as a codegen foldLeft projection.
      * Lineage is truncated with localCheckpoint each iteration (the
        iterative-fixpoint discipline of graph.py); driver traffic is
        one (pair,count) row per iteration, never the vocabulary.

    Stops early when no pair reaches `min_pair_count` (merging
    singletons is noise).  The classic `</w>` end-of-word marker keeps
    word-final subwords distinct from word-internal ones.
    """
    word_counts = (
        explode_nonempty(docs, [], tokens(normalize_text(F.col(text_col))), "w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    words = word_counts.select(
        "w",
        "n",
        F.concat(
            F.transform(
                F.sequence(F.lit(1), F.length("w")), lambda i: F.col("w").substr(i, F.lit(1))
            ),
            F.array(F.lit("</w>")),
        ).alias("sym"),
    ).localCheckpoint()

    merges: list[dict] = []
    for rank in range(int(n_merges)):
        pairs = (
            words.select(
                "n",
                F.explode(
                    F.when(
                        F.size("sym") >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size("sym") - 1),
                            lambda i: F.struct(
                                F.element_at(F.col("sym"), i).alias("l"),
                                F.element_at(F.col("sym"), i + F.lit(1)).alias("r"),
                            ),
                        ),
                    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r")).limit(1).collect()
        if not top or top[0]["cnt"] < min_pair_count:
            break
        a, b, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        ab = a + b
        merges.append(
            {"rank": rank, "left": a, "right": b, "merged": ab, "pair_count": cnt}
        )
        words = words.select(
            "w", "n", _bpe_merge_expr(F.col("sym"), a, b, ab).alias("sym")
        )
        # truncate lineage every few merges: each checkpoint is a small
        # materialization job, so per-iteration checkpointing doubles
        # the job count for no benefit at shallow depths
        if (rank + 1) % 4 == 0:
            words = words.localCheckpoint()
    return merges, words.select("w", F.col("sym").alias("symbols"), F.col("n").alias("n_words"))


def perplexity_buckets(
    df: DataFrame,
    head_frac: float = 1 / 3,
    tail_frac: float = 1 / 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document with the
    corpus bigram LM (`bigram_logprob`), then split each language's
    corpus into head / middle / tail by fluency rank -- the head bucket
    is what CCNet-descended pipelines keep for pretraining, the tail is
    dropped or down-weighted.

    Rank is percent_rank over (lang, avg_logprob DESC, id) -- most
    fluent first, id as the deterministic tiebreak; pr < head_frac ->
    'head', pr >= 1 - tail_frac -> 'tail', else 'middle'.  Documents
    with < 2 tokens have no bigram score and land in 'unscored'
    (production pipelines route them to a length filter instead).
    Scoring uses the add-1-smoothed LM (see bigram_logprob: raw MLE
    would rank hapax-word salad as perfectly fluent).

    Scale shape: the LM scoring inherits bigram_logprob's
    vocabulary-sized shuffles; the bucketing adds ONE per-language sort
    (a window over (lang) partitions -- language count is small, each
    partition's sort is the standard distributed one).  With a single
    dominant language the window partition is corpus-sized: at 100 TB
    swap percent_rank for an approx-quantile threshold join (two scans,
    no global sort) -- the bucket boundaries are the only thing the
    sort is buying here.
    """
    from pyspark.sql.window import Window

    scored = bigram_logprob(df, text_col=text_col, id_col=id_col, add_k=1.0)
    base = df.select(F.col(id_col), F.col(lang_col))
    j = base.join(scored, id_col, "left")
    has_score = j.filter(F.col("avg_logprob").isNotNull())
    no_score = j.filter(F.col("avg_logprob").isNull())
    w = Window.partitionBy(lang_col).orderBy(
        F.col("avg_logprob").desc(), F.col(id_col)
    )
    pr = F.percent_rank().over(w)
    bucketed = has_score.withColumn(
        "bucket",
        F.when(pr < float(head_frac), F.lit("head"))
        .when(pr >= 1.0 - float(tail_frac), F.lit("tail"))
        .otherwise(F.lit("middle")),
    )
    return bucketed.unionByName(
        no_score.withColumn("bucket", F.lit("unscored"))
    ).select(id_col, lang_col, "n_bigrams", "avg_logprob", "bucket")


def encoding_quality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Encoding-health signals per document: counts of Unicode
    replacement characters (U+FFFD -- lossy decode happened upstream)
    and of classic UTF-8-as-Latin-1 mojibake digraphs («Ã©», «â€™»,
    ...), plus their combined ratio.  Web-crawl pipelines drop or
    re-decode documents above a small threshold; this is the cheap
    screen before any ftfy-style repair.

    One codegen projection (regexp_count), no UDF, no shuffle.
    Output: (id, n_chars, n_replacement, n_mojibake, bad_ratio)."""
    t = _c(text_col)
    n_chars = F.length(t)
    n_repl = F.regexp_count(t, F.lit("�"))
    # 'Ã' or 'Â' followed by any char, and the 'â€' prefix of curly
    # punctuation mojibake -- the high-precision core of the ftfy set
    n_moji = F.regexp_count(t, F.lit("(Ã.|Â.|â€)"))
    bad = n_repl + n_moji
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars"),
        n_repl.cast("long").alias("n_replacement"),
        n_moji.cast("long").alias("n_mojibake"),
        F.when(n_chars > 0, F.round(bad / n_chars, 6)).otherwise(F.lit(0.0)).alias("bad_ratio"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """BM25 retrieval: top-k documents for a bag-of-terms query --
    the lexical half of a RAG / hard-negative-mining stack (tfidf_topk
    characterizes documents; this RANKS them against a query).

    Uses the Lucene/ATIRE formulation, always-positive idf:
    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)), and the standard
    saturation tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl)).

    Shuffle plan at 100 TB: tokens explode at scan speed but are
    filtered to the QUERY TERMS inside the same codegen stage, so the
    (doc, term) aggregate is |matching docs| x |query| rows -- tiny --
    with map-side combine; df(term) is a window over that aggregate
    (vocabulary-sized, no second corpus scan, same trick as
    tfidf_topk); N and avgdl are one scalar row broadcast by crossJoin
    (corpus length sums are exact BIGINTs, so avgdl is bit-stable);
    the global top-k is orderBy+limit -> TakeOrderedAndProject.

    Per-term scores are rounded to 9 digits and summed as
    DECIMAL(20,9) (ln last-ulp portability, order-independent sum);
    ties broken by id ascending.  Output: (id, n_terms, bm25) --
    deterministic, DuckDB-oracled.
    """
    toks = tokens(normalize_text(text_col))
    terms = [t.lower() for t in query_terms]
    ex = explode_nonempty(
        df, [F.col(id_col), F.size(toks).cast("long").alias("dl")], toks, "term"
    ).filter(F.col("term").isin(terms))
    tf = ex.groupBy(id_col, "dl", "term").agg(F.count("*").alias("tf"))
    from pyspark.sql import Window

    dfreq = F.count("*").over(Window.partitionBy("term")).alias("df")
    stats = df.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(toks).cast("long")).alias("total_len"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    avgdl = F.col("total_len") / F.col("n_docs")
    sat = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(float(k1)) * (F.lit(1.0 - b) + F.lit(float(b)) * (F.col("dl") / avgdl))
    )
    term_score = F.round(idf * sat, 9).cast("decimal(20,9)")
    scored = (
        tf.withColumn("df", dfreq)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.round(F.sum(term_score).cast("double"), 6).alias("bm25"),
        )
    )
    return scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(int(k))


def sentence_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rule-based sentence segmentation: boundaries after runs of
    [.!?] followed by whitespace (terminator stays with its sentence;
    blank fragments dropped, whitespace trimmed).  The pre-chunking /
    pre-translation text-prep primitive; deliberately rule-based --
    abbreviation-aware splitting needs a language model and belongs in
    a smarter kernel behind the same output contract.

    Output (id, sent_idx, sentence, n_chars), sent_idx 0-based in
    document order.  Pure codegen split+posexplode: scan-speed, the
    only data growth is the sentence fan-out itself.
    """
    parts = F.split(F.col(text_col), r"(?<=[.!?])\s+")
    exploded = df.select(
        F.col(id_col), F.posexplode(parts).alias("sent_idx", "__raw")
    )
    sent = F.trim(F.col("__raw"))
    return (
        exploded.filter(sent != "")
        .select(
            id_col,
            F.col("sent_idx").cast("long").alias("sent_idx"),
            sent.alias("sentence"),
            F.length(sent).cast("long").alias("n_chars"),
        )
    )


def normalize_unicode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    form: str = "NFC",
) -> DataFrame:
    """Unicode normalization of a text column -- the corpus-hygiene
    step that collapses visually-identical byte sequences (combining
    marks vs precomposed, compatibility ligatures under NFKC) BEFORE
    any hash-based dedup, or identical documents hash apart.

    Arrow-batched mapInPandas kernel (pandas str.normalize over
    unicodedata): scan-speed, no shuffle, nulls pass through.  Output
    (id, text_norm, changed); `changed` feeds the normalization-rate
    corpus report.  NFC is the lossless default; NFKC also folds
    compatibility forms (ligatures, width variants) and is the usual
    pre-tokenizer choice.
    """
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form: {form}")

    def run(batches):
        import pandas as pd

        for pdf in batches:
            src = pdf[text_col]
            norm = src.map(
                lambda s: unicodedata.normalize(form, s) if s is not None else None
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "text_norm": norm,
                    "changed": [
                        (a is not None) and a != b for a, b in zip(src, norm)
                    ],
                }
            )

    id_t = dict(df.dtypes)[id_col]
    return df.select(id_col, text_col).mapInPandas(
        run, f"{id_col} {id_t}, text_norm string, changed boolean"
    )


def zipf_fit(df: DataFrame, text_col: str = "text", min_count: int = 1) -> DataFrame:
    """Zipf's-law diagnostic for a corpus: OLS fit of log(frequency) on
    log(rank) over the whitespace-token unigram spectrum.  Natural text
    sits near slope -1; a badly contaminated or templated corpus drifts
    (boilerplate flattens the head, spam steepens the tail) -- a
    one-number corpus-health probe next to the perplexity buckets.

    One corpus scan to token counts (map-side combinable); the
    (cnt DESC, tok ASC) type rank is assembled WITHOUT a types-scale
    single-partition window: rank = (#types in strictly-higher count
    classes, via aggregates._value_running_totals over the per-count
    frame) + (#same-count types in earlier 4-char token-prefix buckets,
    a window over the tiny (cnt, prefix) frame PARTITIONED by cnt) +
    row_number within the (cnt, prefix) bucket.  At 100 TB the type
    vocabulary is hundreds of millions of rows -- every window here is
    partitioned or metadata-scale, so no executor ever sorts the whole
    vocabulary.  One 6-sum aggregate for the fit.  log values quantize
    to DECIMAL(28,12) before summing so the sums are
    addition-order-free and the oracle reproduces them.  Returns one
    row (n_types, n_tokens, slope, intercept, r2), slope/r2 rounded 6.
    """
    from pyspark.sql import Window

    from ..aggregates import _value_running_totals

    counts = (
        df.select(F.explode(tokens(text_col)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= int(min_count))
    )
    per_cnt = counts.groupBy("cnt").agg(
        F.count(F.lit(1)).cast("long").alias("__t")
    ).withColumn("__negc", -F.col("cnt").cast("double"))
    # running totals over -cnt ascending == cnt descending: inclusive
    # total - own class size = #types ranked strictly above the class
    cls = _value_running_totals(per_cnt, "__negc", ["__t"]).select(
        "cnt", (F.col("__run___t") - F.col("__t")).alias("__above")
    )
    withp = counts.withColumn("__p", F.substring("tok", 1, 4))
    ppc = withp.groupBy("cnt", "__p").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    w_po = Window.partitionBy("cnt").orderBy("__p").rowsBetween(
        Window.unboundedPreceding, -1
    )
    poffs = ppc.select(
        "cnt",
        "__p",
        F.coalesce(F.sum("__n").over(w_po), F.lit(0)).cast("long").alias("__poff"),
    )
    w_in = Window.partitionBy("cnt", "__p").orderBy("tok")
    ranked = (
        withp.join(cls, "cnt")
        .join(poffs, ["cnt", "__p"])
        .withColumn(
            "rank",
            (
                F.col("__above") + F.col("__poff") + F.row_number().over(w_in)
            ).cast("long"),
        )
    )
    # DECIMAL(18,12): ln values are < 30, and the (18,12)x(18,12)
    # product stays inside both engines' 38-digit cap with the full
    # 24-dp scale -- products of 12-dp operands are EXACT, so every sum
    # is addition-order-free and engine-identical
    lx = F.log(F.col("rank").cast("double")).cast("decimal(18,12)")
    ly = F.log(F.col("cnt").cast("double")).cast("decimal(18,12)")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("cnt").alias("n_tokens"),
        F.sum(lx).alias("_sx"),
        F.sum(ly).alias("_sy"),
        F.sum(lx * ly).alias("_sxy"),
        F.sum(lx * lx).alias("_sxx"),
        F.sum(ly * ly).alias("_syy"),
    )
    n = F.col("n_types").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxy, sxx, syy = (
        F.col("_sxy").cast("double"),
        F.col("_sxx").cast("double"),
        F.col("_syy").cast("double"),
    )
    cov = sxy - sx * sy / n
    vx = sxx - sx * sx / n
    vy = syy - sy * sy / n
    ok = (F.col("n_types") > 1) & (vx > 0)
    return agg.select(
        "n_types",
        "n_tokens",
        F.round(F.when(ok, cov / vx), 6).alias("slope"),
        F.round(F.when(ok, (sy - (cov / vx) * sx) / n), 6).alias("intercept"),
        F.round(F.when(ok & (vy > 0), (cov * cov) / (vx * vy)), 6).alias("r2"),
    )


def nb_classify(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Multinomial naive-Bayes language/quality classifier, trained and
    applied in one dataflow (the same lang=='en' signal as the ridge
    tier in llm/web.py) -- the trained-classifier family's
    VALUE-CHECKED member: counts, add-1 smoothed token likelihoods, and
    log-prior sums are all exact-decimal reproducible, so the oracle
    replays training AND scoring (the ridge tier keeps its NumPy
    replica pytest; a float matrix solve has no SQL oracle, counting
    does).

    Per-term log-likelihoods are rounded to 9 digits and summed as
    DECIMAL (the bigram_logprob discipline) -- addition-order-free, so
    shuffle order can't drift a score; the argmax is over exact
    decimals, ties -> 'en'.

    Scale shape: one corpus scan to count (token-keyed shuffle,
    vocab-scale), scalar priors/totals broadcast, then scoring joins
    exploded doc tokens to the vocab-scale likelihood table -- no
    driver traffic beyond four scalars.
    """
    toks = tokens(normalize_text(F.col(text_col)))
    ex = explode_nonempty(
        df, [F.col(id_col), (F.col(lang_col) == "en").alias("__is_en")], toks, "__w"
    )
    per_tok = ex.groupBy("__w").agg(
        F.count(F.lit(1)).alias("__c_all"),
        F.sum(F.when(F.col("__is_en"), 1).otherwise(0)).alias("__c_en"),
    )
    scal = ex.agg(
        F.sum(F.when(F.col("__is_en"), 1).otherwise(0)).alias("__t_en"),
        F.sum(F.when(F.col("__is_en"), 0).otherwise(1)).alias("__t_ot"),
        F.count(F.lit(1)).alias("__t_all"),
    ).crossJoin(per_tok.agg(F.count(F.lit(1)).alias("__v")))
    docs_scal = df.agg(
        F.sum(F.when(F.col(lang_col) == "en", 1).otherwise(0)).alias("__d_en"),
        F.count(F.lit(1)).alias("__d_all"),
    )

    lik = per_tok.crossJoin(F.broadcast(scal)).select(
        "__w",
        F.round(
            F.log((F.col("__c_en") + 1).cast("double") / (F.col("__t_en") + F.col("__v"))),
            9,
        ).cast("decimal(20,9)").alias("__ll_en"),
        F.round(
            F.log(
                (F.col("__c_all") - F.col("__c_en") + 1).cast("double")
                / (F.col("__t_ot") + F.col("__v"))
            ),
            9,
        ).cast("decimal(20,9)").alias("__ll_ot"),
    )
    sums = (
        ex.select(id_col, "__w")
        .join(lik, "__w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("__ll_en").alias("__s_en"),
            F.sum("__ll_ot").alias("__s_ot"),
        )
    )
    zero = F.lit(0).cast("decimal(20,9)")
    out = (
        df.select(id_col, lang_col)
        .join(sums, id_col, "left")
        .crossJoin(F.broadcast(docs_scal))
        .select(
            id_col,
            lang_col,
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            (
                F.coalesce("__s_en", zero)
                + F.round(
                    F.log(F.col("__d_en").cast("double") / F.col("__d_all")), 9
                ).cast("decimal(20,9)")
            ).alias("__sc_en"),
            (
                F.coalesce("__s_ot", zero)
                + F.round(
                    F.log(
                        (F.col("__d_all") - F.col("__d_en")).cast("double")
                        / F.col("__d_all")
                    ),
                    9,
                ).cast("decimal(20,9)")
            ).alias("__sc_ot"),
        )
    )
    return out.select(
        id_col,
        lang_col,
        "n_tokens",
        F.col("__sc_en").cast("double").alias("score_en"),
        F.col("__sc_ot").cast("double").alias("score_other"),
        F.when(F.col("__sc_en") >= F.col("__sc_ot"), F.lit("en"))
        .otherwise(F.lit("other"))
        .alias("pred"),
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-distribution Shannon entropy (bits/char)
    -- the closed-form compressibility bound that pairs with the zlib
    `compression_ratio` signal (entropy IS the limit zlib approaches;
    unlike zlib it is exactly SQL-replayable, so this tier carries the
    value oracle).  Low entropy = repetitive/boilerplate text, high =
    diverse or already-compressed noise; the same screen Gopher-style
    repetition rules approximate with n-gram fractions.

    One explode + two bounded aggregates; per-char terms are rounded
    and DECIMAL-summed (the bigram_logprob discipline) so shuffle
    order cannot drift the result.
    """
    t = F.col(text_col)
    ex = explode_nonempty(
        df,
        [F.col(id_col)],
        F.when(F.length(t) > 0, F.split(t, "")).otherwise(
            F.array().cast("array<string>")
        ),
        "__ch",
    ).filter(F.col("__ch") != "")
    per = ex.groupBy(id_col, "__ch").agg(F.count(F.lit(1)).alias("__c"))
    tot = per.groupBy(id_col).agg(F.sum("__c").alias("__n"))
    ent = (
        per.join(tot, id_col)
        .select(
            id_col,
            "__n",
            F.round(
                -(F.col("__c") / F.col("__n"))
                * F.log2(F.col("__c") / F.col("__n")),
                9,
            ).cast("decimal(20,9)").alias("__term"),
        )
        .groupBy(id_col, "__n")
        .agg(F.sum("__term").cast("double").alias("entropy_bits"))
    )
    return (
        df.select(id_col)
        .join(ent, id_col, "left")
        .select(
            id_col,
            F.coalesce("__n", F.lit(0)).cast("long").alias("n_chars_counted"),
            F.round(F.coalesce("entropy_bits", F.lit(0.0)), 6).alias("entropy_bits"),
        )
    )


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 -- the MOSS local fingerprinting algorithm): hash every word
    k-gram, slide a window of `w` consecutive hashes, keep each
    window's MINIMUM -- the guarantee is that any shared substring of
    length >= w+k-1 words contributes at least one shared fingerprint,
    while storage drops to ~2/(w+1) of the k-gram count.

    Hashes are md5-hex prefixes (string minima), so the selection is
    engine-deterministic and the gate carries a full value oracle.
    Per-doc profile output: (doc_id, n_kgrams, n_windows,
    n_fingerprints) with fingerprints = DISTINCT selected hashes.
    One explode + one bounded ordered window per doc -- no shuffle
    beyond the doc key.
    """
    from pyspark.sql import Window

    # tokens bound once per row (bind1): the window lambda touches k
    # elements per position, so an outer tokens() chain would re-run
    # the regexp+split per element_at -- k*len re-tokenizations per doc
    def _windows(toks: Column) -> Column:
        sz = F.size(toks)
        return F.when(
            sz >= k,
            F.transform(
                F.sequence(F.lit(1), sz - (k - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                " ", *[F.element_at(toks, i + j) for j in range(k)]
                            )
                        ),
                        1,
                        12,
                    ).alias("h"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:int,h:string>>"))

    ex = explode_nonempty(
        df,
        [F.col(id_col)],
        bind1(tokens(normalize_text(F.col(text_col))), _windows),
        "__e",
    ).select(id_col, F.col("__e.pos").alias("__pos"), F.col("__e.h").alias("__h"))
    wspec = (
        Window.partitionBy(id_col).orderBy("__pos").rowsBetween(0, w - 1)
    )
    counts = ex.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kgrams")
    )
    sel = (
        ex.withColumn("__wmin", F.min("__h").over(wspec))
        .withColumn("__last", F.max("__pos").over(Window.partitionBy(id_col)))
        .filter(F.col("__pos") <= F.col("__last") - (w - 1))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.countDistinct("__wmin").cast("long").alias("n_fingerprints"),
        )
    )
    return (
        df.select(id_col)
        .join(counts, id_col, "left")
        .join(sel, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_kgrams", F.lit(0)).cast("long").alias("n_kgrams"),
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_fingerprints", F.lit(0)).cast("long").alias(
                "n_fingerprints"
            ),
        )
    )


def rouge_n(
    docs: DataFrame,
    pairs: DataFrame,
    n: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_col: str = "ref_id",
    cand_col: str = "cand_id",
) -> DataFrame:
    """ROUGE-N between (reference, candidate) document pairs: n-gram
    MULTISET overlap with precision / recall / F1 -- the standard
    summarization/generation eval metric, here as a distributed
    operator so a model-output table scores against its reference
    table in one dataflow (and doubles as a graded text-overlap
    measure next to the binary contamination gates).

    overlap = sum over grams of min(count_ref, count_cand);
    recall = overlap / |ref grams|, precision = overlap / |cand grams|
    (the multiset "clipped count" form of the original metric).

    Scale shape (the shared _pair_gram_stats_multi kernel): one token
    explode -> per-(doc, gram) counts (map-side combined), the REF
    side expanded once onto the pair spine, an INNER common-gram join
    with the cand side's counts, one pair-keyed aggregate; side totals
    come from a per-doc length projection, never the gram table -- all
    hash shuffles on real keys, output is |pairs| rows.  Counts are
    exact longs; P/R/F1 divide exact longs -> bit-identical doubles.
    A pair whose BOTH sides have fewer than n tokens is absent from
    the output (no 0/0 row to define); a pair side whose doc id is
    missing from `docs` counts as zero grams (the pair survives if the
    other side has any).
    Output: (ref_id, cand_id, n, n_overlap, n_ref, n_cand, precision,
    recall, f1), P/R/F1 rounded 6, null when their denominator is 0.

    The clipped-overlap computation is the shared _pair_gram_stats
    kernel (also under bleu_score); gram counts are deliberately
    re-derived per join side, not checkpointed -- a gram index is
    corpus-sized, and the r10 10x A/B showed materializing it loses at
    scale and leaks session storage (see the re-derive note in
    _pair_gram_stats_multi for the numbers).
    """
    p = pairs.select(F.col(ref_col).alias("ref_id"), F.col(cand_col).alias("cand_id"))
    agg = _pair_gram_stats(docs, p, int(n), id_col, text_col, "").select(
        "ref_id",
        "cand_id",
        F.col("ov").alias("n_overlap"),
        F.col("ref").alias("n_ref"),
        F.col("cand").alias("n_cand"),
    )
    ov = F.col("n_overlap").cast("double")
    prec = F.when(F.col("n_cand") > 0, ov / F.col("n_cand").cast("double"))
    rec = F.when(F.col("n_ref") > 0, ov / F.col("n_ref").cast("double"))
    f1 = F.when(
        (F.col("n_cand") > 0) & (F.col("n_ref") > 0) & (prec + rec > 0),
        2.0 * prec * rec / (prec + rec),
    )
    return agg.select(
        "ref_id",
        "cand_id",
        F.lit(int(n)).cast("int").alias("n"),
        "n_overlap",
        "n_ref",
        "n_cand",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def rouge_scores(
    docs: DataFrame,
    pairs: DataFrame,
    ns: "Sequence[int]" = (1, 2),
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_col: str = "ref_id",
    cand_col: str = "cand_id",
) -> DataFrame:
    """ROUGE-N for SEVERAL n levels in ONE kernel pass -- row-for-row
    identical to unioning `rouge_n(docs, pairs, n)` per level, but the
    (level, gram) kernel (_pair_gram_stats_multi) scans / explodes /
    shuffles the corpus once instead of once per level.

    A plain union of per-level rouge_n frames re-executes the whole
    kernel per branch (Catalyst does not dedupe common subtrees), so
    the levels are instead carried as columns of one kernel row and
    split into per-level output rows with an inline struct-array
    explode -- zero recompute, no checkpoint.  Per-level row presence
    matches rouge_n exactly: a (pair, n) row exists iff either side
    has at least one n-gram (inline_outer never drops the pair row
    itself; the per-level filter below does the dropping).

    Output: (ref_id, cand_id, n, n_overlap, n_ref, n_cand, precision,
    recall, f1) -- same schema, values and per-level semantics as
    rouge_n (asserted equal on a hand corpus in the test suite).
    """
    ns = [int(n) for n in ns]
    p = pairs.select(F.col(ref_col).alias("ref_id"), F.col(cand_col).alias("cand_id"))
    stats = _pair_gram_stats_multi(docs, p, ns, id_col, text_col)
    per_level = F.array(
        *[
            F.struct(
                F.lit(n).cast("int").alias("n"),
                F.col(f"ov{n}").alias("n_overlap"),
                F.col(f"ref{n}").alias("n_ref"),
                F.col(f"cand{n}").alias("n_cand"),
            )
            for n in ns
        ]
    )
    lv = stats.select("ref_id", "cand_id", F.inline_outer(per_level))
    # rouge_n presence rule, applied per level: either side has >= 1
    # n-gram (the kernel's own lead-level filter already guarantees it
    # for ns[0]; higher levels prune here)
    lv = lv.filter((F.col("n_ref") > 0) | (F.col("n_cand") > 0))
    ov = F.col("n_overlap").cast("double")
    prec = F.when(F.col("n_cand") > 0, ov / F.col("n_cand").cast("double"))
    rec = F.when(F.col("n_ref") > 0, ov / F.col("n_ref").cast("double"))
    f1 = F.when(
        (F.col("n_cand") > 0) & (F.col("n_ref") > 0) & (prec + rec > 0),
        2.0 * prec * rec / (prec + rec),
    )
    return lv.select(
        "ref_id",
        "cand_id",
        "n",
        "n_overlap",
        "n_ref",
        "n_cand",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def js_divergence(
    df_a: DataFrame, df_b: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Jensen-Shannon divergence between two corpus slices' unigram
    distributions -- the bounded, symmetric "did the token mix move"
    scalar (0 = identical, ln 2 = disjoint) that complements the
    source-share L1 report (llm_mix_drift monitors WHERE docs come
    from; this monitors what the tokens ARE).

    JSD(P,Q) = 0.5 KL(P||M) + 0.5 KL(Q||M), M = (P+Q)/2, computed as
    one full-outer join of the two token-count tables + one sum.
    Exactness discipline: p and q divide exact longs (bit-identical
    doubles), each token's contribution quantizes to DECIMAL(28,12)
    BEFORE the vocabulary-wide sum (the zipf_fit rule: the sum is
    addition-order-free and engine-identical), and the final nats ->
    bits conversion is one double divide.  Returns ONE row: n_types,
    n_tokens_a, n_tokens_b, jsd_nats, jsd_bits (rounded 6).
    """
    ca = (
        df_a.select(F.explode(tokens(normalize_text(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("__ca"))
    )
    cb = (
        df_b.select(F.explode(tokens(normalize_text(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("__cb"))
    )
    both = ca.join(cb, "tok", "full_outer").select(
        F.coalesce(F.col("__ca"), F.lit(0)).alias("__ca"),
        F.coalesce(F.col("__cb"), F.lit(0)).alias("__cb"),
    )
    tot = both.agg(
        F.sum("__ca").cast("long").alias("__ta"),
        F.sum("__cb").cast("long").alias("__tb"),
    )
    w = both.crossJoin(F.broadcast(tot))
    p = F.col("__ca").cast("double") / F.col("__ta").cast("double")
    q = F.col("__cb").cast("double") / F.col("__tb").cast("double")
    term = (
        F.when(F.col("__ca") > 0, 0.5 * p * F.log(2.0 * p / (p + q))).otherwise(0.0)
        + F.when(F.col("__cb") > 0, 0.5 * q * F.log(2.0 * q / (p + q))).otherwise(0.0)
    )
    agg = w.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.max("__ta").alias("n_tokens_a"),
        F.max("__tb").alias("n_tokens_b"),
        F.sum(F.round(term, 12).cast("decimal(28,12)")).alias("__jsd"),
    )
    import math

    return agg.select(
        "n_types",
        "n_tokens_a",
        "n_tokens_b",
        F.round(F.col("__jsd").cast("double"), 6).alias("jsd_nats"),
        F.round(F.col("__jsd").cast("double") / math.log(2.0), 6).alias("jsd_bits"),
    )


def _pair_gram_stats_multi(
    docs: DataFrame,
    p: DataFrame,
    levels: "Sequence[int]",
    id_col: str,
    text_col: str,
    unit: str = "word",
) -> DataFrame:
    """Per-(ref, cand) clipped n-gram overlap + side totals for EVERY
    requested n level in ONE pass -- the shared kernel under rouge_n
    and bleu_score.

    One corpus scan + one explode emits (level, gram) rows for all
    levels at once (the per-doc gram multiset for n=1..4 is ~4x the
    token count -- same total explode rows as four single-level passes,
    but one scan, one counts shuffle, one join chain instead of four of
    each).  The level id rides as a small int in the count / join keys;
    the final pair-keyed aggregate splits levels back out with
    conditional sums, so no per-level joins ever happen.

    Join shape: the clipped overlap is an INNER join -- the pair spine
    expands the REF side's counts once, then meets the cand side's
    counts on (cand doc, level, gram), so only COMMON grams ever ride
    the join (min(count, count) is 0 for a gram one side lacks, so
    non-common grams contribute nothing).  Side TOTALS never touch the
    gram table at all: total n-grams of a sequence is just
    greatest(len - n + 1, 0), a per-doc projection joined onto the
    spine.  (The previous full-outer union of both expanded sides
    materialized every gram either side had -- ~2x the join rows for
    zero information.  At sf0.1 the explode+counts stage dominates and
    the two shapes time the same within noise; the halved join volume
    is the 100 TB argument, not a small-SF speedup.)

    All counts exact longs.  A pair whose BOTH sides are empty at
    the LEAD level is absent from the output (presence = either side
    has at least one lead-level gram, exactly as the old full-outer
    spine decided).

    unit='word' (default): whitespace tokens of the normalized text.
    unit='char': characters of the normalized text with spaces removed
    -- the chrF convention (Popovic 2015)."""
    levels = [int(n) for n in levels]
    empty = F.array().cast("array<struct<n:int,g:string>>")
    # The normalize/tokenize chain is materialized as a COLUMN before
    # the gram lambdas reference it: higher-order functions interpret
    # their lambda body per element, so an unbound expression chain
    # (regexp_replace+lower+trim / split) inside the lambda re-runs
    # once PER GRAM, not per row -- measured 686 CPU-seconds for the
    # sf0.1 chrF counts map stage (7.2M grams x a full re-normalize of
    # the ~240-char doc each), ~21x the cost of the substr slices the
    # stage actually needs.  bind1 (not a materialized column): the
    # chain must evaluate INSIDE the Generate stage, which sits above
    # explode_nonempty's parallelizing repartition -- a __src projection
    # would land below the exchange and run the whole corpus's
    # normalize/tokenize serially on a single-split local scan.
    if unit == "char":
        # grams come straight off the space-stripped string with substr
        # -- measured 3x faster than materializing a char array and
        # slice+concat_ws-ing it per gram (6.2s vs 16.6s for the sf0.1
        # 6-level counts stage)
        src = F.regexp_replace(normalize_text(text_col), " ", "")

        def _all_grams(s: Column) -> Column:
            def _gram_struct(nn):
                return lambda i: F.struct(
                    F.lit(nn).cast("int").alias("n"),
                    F.substr(s, i, F.lit(nn)).alias("g"),
                )

            parts = [
                F.when(
                    F.length(s) >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.length(s) - n + 1),
                        _gram_struct(n),
                    ),
                ).otherwise(empty)
                for n in levels
            ]
            return parts[0] if len(parts) == 1 else F.concat(*parts)

    elif unit == "word":
        src = tokens(normalize_text(text_col))

        def _all_grams(arr: Column) -> Column:
            def _gram_struct(nn):
                return lambda i: F.struct(
                    F.lit(nn).cast("int").alias("n"),
                    F.concat_ws(" ", F.slice(arr, i, nn)).alias("g"),
                )

            parts = [
                F.when(
                    F.size(arr) >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.size(arr) - n + 1),
                        _gram_struct(n),
                    ),
                ).otherwise(empty)
                for n in levels
            ]
            return parts[0] if len(parts) == 1 else F.concat(*parts)

    else:
        raise ValueError(f"unknown gram unit: {unit!r}")
    # lens projects straight off docs: the raw chain evaluates once per
    # row under codegen, which is fine
    seq_len = F.length(src) if unit == "char" else F.size(src)
    # explode_nonempty: spreads a single-split scan across the cluster
    # BEFORE the compute-bound tokenize/gram stage and keeps the
    # optimizer from cloning the gram expression into a pushed-down
    # size() filter on the serial scan
    counts = (
        explode_nonempty(
            docs.select(F.col(id_col).alias("__d"), F.col(text_col)),
            ["__d"],
            bind1(src, _all_grams),
            "__x",
        )
        .select(
            "__d", F.col("__x.n").alias("__n"), F.col("__x.g").alias("__g")
        )
        .groupBy("__d", "__n", "__g")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    # the counts table feeds BOTH pair sides (ref expansion + cand
    # meet), and Catalyst re-derives the scan+explode+aggregate chain
    # per consumer.  That is deliberate: localCheckpointing it measured
    # (interleaved A/B) a win at sf0.1 but a LOSS at the 10x harness
    # (chrf 137s vs 81s re-derive, bleu 25 vs 18, rouge 15.5 vs 12,
    # bleu_corpus 51 vs 21), and the checkpoint blocks leak
    # for the session lifetime, since an operator cannot unpersist what
    # its returned frame still references.
    # clipped overlap: expand the ref side once, meet the cand side's
    # counts INNER on (doc, level, gram) -- only common grams ride.
    # merge (sort-merge) hint on the counts side: the gram-counts table
    # is CORPUS-scale, but its post-aggregate size estimate is a guess
    # (and the pair spine is often a checkpointed RDD with unknown
    # stats), so the static planner happily picks it as a broadcast
    # build -- which works at test SF and dies at 10x ('Not enough
    # memory to build and broadcast').  shuffle_hash is no better: its
    # per-task build side cannot spill and 32 concurrent ~130MB hash
    # relations blow the unified pool at 10x ('Can't acquire ... bytes
    # to build hash relation').  Sort-merge spills -- the only shape
    # that survives a corpus-scale x corpus-scale meet.
    ref_exp = p.join(
        counts.withColumnRenamed("__c", "__cr").hint("merge"),
        p["ref_id"] == counts["__d"],
    ).select("ref_id", "cand_id", "__n", "__g", "__cr")
    cc = counts.select(
        F.col("__d").alias("cand_id"),
        F.col("__n"),
        F.col("__g"),
        F.col("__c").alias("__cc"),
    ).hint("merge")
    ov_aggs = [
        F.sum(
            F.when(F.col("__n") == n, F.least("__cr", "__cc")).otherwise(0)
        )
        .cast("long")
        .alias(f"ov{n}")
        for n in levels
    ]
    ov = (
        ref_exp.join(cc, ["cand_id", "__n", "__g"])
        .groupBy("ref_id", "cand_id")
        .agg(*ov_aggs)
    )
    # side totals never touch the gram table: total n-grams of a
    # sequence is greatest(len - n + 1, 0), a per-doc projection
    lens = docs.select(
        F.col(id_col).alias("__d"),
        *[
            F.greatest(seq_len - n + 1, F.lit(0))
            .cast("long")
            .alias(f"__t{n}")
            for n in levels
        ],
    )
    # LEFT joins + coalesce-0: a pair whose ref or cand id is absent
    # from docs keeps its row with that side zeroed -- exactly how the
    # old full-outer gram spine treated a missing side (an inner join
    # here would silently drop such pairs and change corpus totals)
    out = (
        p.join(
            lens.select(
                F.col("__d").alias("ref_id"),
                *[F.col(f"__t{n}").alias(f"ref{n}") for n in levels],
            ),
            "ref_id",
            "left",
        )
        .join(
            lens.select(
                F.col("__d").alias("cand_id"),
                *[F.col(f"__t{n}").alias(f"cand{n}") for n in levels],
            ),
            "cand_id",
            "left",
        )
        # ov is |pairs|-scale behind another guess-sized aggregate --
        # same no-static-broadcast rule
        .join(ov.hint("merge"), ["ref_id", "cand_id"], "left")
    )
    for n in levels:
        out = out.withColumn(
            f"ref{n}", F.coalesce(F.col(f"ref{n}"), F.lit(0)).cast("long")
        ).withColumn(
            f"cand{n}", F.coalesce(F.col(f"cand{n}"), F.lit(0)).cast("long")
        )
    lead = levels[0]
    out = out.filter((F.col(f"ref{lead}") > 0) | (F.col(f"cand{lead}") > 0))
    return out.select(
        "ref_id",
        "cand_id",
        *[
            c
            for n in levels
            for c in (
                F.coalesce(F.col(f"ov{n}"), F.lit(0)).alias(f"ov{n}"),
                F.col(f"ref{n}"),
                F.col(f"cand{n}"),
            )
        ],
    )


def _pair_gram_stats(
    docs: DataFrame,
    p: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    suffix: str,
) -> DataFrame:
    """Single-level view over _pair_gram_stats_multi (rouge_n's entry
    point; bleu_score calls the multi kernel directly)."""
    n = int(n)
    out = _pair_gram_stats_multi(docs, p, [n], id_col, text_col)
    return out.select(
        "ref_id",
        "cand_id",
        F.col(f"ov{n}").alias(f"ov{suffix}"),
        F.col(f"ref{n}").alias(f"ref{suffix}"),
        F.col(f"cand{n}").alias(f"cand{suffix}"),
    )


def bleu_score(
    docs: DataFrame,
    pairs: DataFrame,
    max_n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_col: str = "ref_id",
    cand_col: str = "cand_id",
) -> DataFrame:
    """Sentence-level BLEU (Papineni et al. 2002) between (reference,
    candidate) pairs -- ROUGE's precision-oriented sibling: the
    brevity-penalized geometric mean of clipped n-gram precisions for
    n = 1..max_n.  bp = min(1, exp(1 - ref_len/cand_len)); classic
    unsmoothed scoring, so any zero n-gram precision (including a
    candidate shorter than max_n tokens) zeroes the score -- the
    corpus-curation use is ranking near-duplicates and paraphrases,
    where zeros ARE the signal.

    Scale shape: ONE gram-count pass for ALL n levels -- a single
    corpus scan + explode emits (level, gram) rows for n = 1..max_n
    (_pair_gram_stats_multi), one counts shuffle, one pair-join chain,
    and the levels split back out in the final pair-keyed aggregate's
    conditional sums (replacing the previous one-kernel-call-per-level
    shape: 4 scans + 4 pair-join chains -> 1 of each); the log-mean
    finishes in a FIXED left-associated expression so the double
    arithmetic is engine-identical.  Pairs with an empty candidate or
    reference at n=1 are absent (no grams on either side at any level
    -> no row; any higher-level gram implies 1-grams).
    Output: (ref_id, cand_id, ref_len, cand_len, p1..p<max_n>, bp,
    bleu), precisions/bp/bleu rounded 6.
    """
    if not 1 <= int(max_n) <= 4:
        raise ValueError(f"max_n must be 1..4, got {max_n}")
    max_n = int(max_n)
    p = pairs.select(F.col(ref_col).alias("ref_id"), F.col(cand_col).alias("cand_id"))
    out = _pair_gram_stats_multi(
        docs, p, list(range(1, max_n + 1)), id_col, text_col
    )
    precs = [
        F.when(
            F.col(f"cand{n}") > 0,
            F.col(f"ov{n}").cast("double") / F.col(f"cand{n}").cast("double"),
        ).otherwise(F.lit(0.0))
        for n in range(1, max_n + 1)
    ]
    all_pos = precs[0] > 0
    for pr in precs[1:]:
        all_pos = all_pos & (pr > 0)
    logmean = F.log(precs[0])
    for pr in precs[1:]:
        logmean = logmean + F.log(pr)
    logmean = logmean / float(max_n)
    r_len = F.col("ref1").cast("double")
    c_len = F.col("cand1").cast("double")
    # second WHEN (not otherwise): an empty candidate would divide by
    # zero -- null under the tuned session, a DIVIDE_BY_ZERO error under
    # a caller's ANSI session.  bp is null for that row; the score is
    # already 0 via the zero 1-gram precision.
    bp = F.when(c_len >= r_len, F.lit(1.0)).when(
        c_len > 0, F.exp(F.lit(1.0) - r_len / c_len)
    )
    bleu = F.when(all_pos, bp * F.exp(logmean)).otherwise(F.lit(0.0))
    cols = [
        "ref_id",
        "cand_id",
        F.col("ref1").alias("ref_len"),
        F.col("cand1").alias("cand_len"),
    ]
    cols += [F.round(precs[i], 6).alias(f"p{i+1}") for i in range(max_n)]
    cols += [F.round(bp, 6).alias("bp"), F.round(bleu, 6).alias("bleu")]
    return out.select(*cols)


def rouge_l(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_col: str = "ref_id",
    cand_col: str = "cand_id",
) -> DataFrame:
    """ROUGE-L between (reference, candidate) pairs: longest common
    subsequence of the token streams -- credits in-order matches
    without requiring contiguity, the third member of the ROUGE/BLEU
    eval family.  R = LCS/|ref|, P = LCS/|cand|, F1 = 2PR/(P+R); all
    null when their denominator is 0 (empty side).

    Scale shape: tokens ride two hash joins onto the pair spine
    (bounded eval sets in practice -- at corpus scale the joins stay
    keyed on doc id), then the O(|ref|*|cand|) LCS DP runs per pair in
    an Arrow-batched mapInPandas kernel -- the genuinely-sequential
    lattice recurrence that SQL/Catalyst can't express (the
    llm/unigram.py Viterbi precedent).  The DP is the two-row rolling
    form: memory per pair is O(|cand|), never the full matrix.  Counts
    are exact ints; P/R/F divide exact ints -> bit-identical doubles.
    Output: (ref_id, cand_id, lcs, ref_len, cand_len, precision,
    recall, f1), floats rounded 6."""
    toks = docs.select(
        F.col(id_col).alias("__d"), tokens(normalize_text(text_col)).alias("__t")
    )
    p = pairs.select(
        F.col(ref_col).alias("ref_id"), F.col(cand_col).alias("cand_id")
    )
    j = (
        p.join(
            toks.select(F.col("__d").alias("ref_id"), F.col("__t").alias("__tr")),
            "ref_id",
        )
        .join(
            toks.select(F.col("__d").alias("cand_id"), F.col("__t").alias("__tc")),
            "cand_id",
        )
        .select("ref_id", "cand_id", "__tr", "__tc")
    )

    # ids keep the caller's types (string keys work like the sibling
    # operators); only the LCS integer leaves the Python kernel -- the
    # P/R/F floats divide and round JVM-side with F.round, the SAME
    # decimal half-up discipline every oracle-checked operator uses
    # (Python's round() is banker's and provably diverges from SQL
    # round at dyadic ties like 1/128)
    rt = j.schema["ref_id"].dataType.simpleString()
    ct = j.schema["cand_id"].dataType.simpleString()
    out_schema = (
        f"ref_id {rt}, cand_id {ct}, lcs long, ref_len long, cand_len long"
    )

    def run(batches):
        import pandas as pd

        def lcs(a, b):
            if len(a) == 0 or len(b) == 0:
                return 0
            prev = [0] * (len(b) + 1)
            for x in a:
                cur = [0]
                ap = cur.append
                for jj in range(1, len(b) + 1):
                    if x == b[jj - 1]:
                        ap(prev[jj - 1] + 1)
                    else:
                        o, n_ = prev[jj], cur[jj - 1]
                        ap(o if o >= n_ else n_)
                prev = cur
            return prev[-1]

        for pdf in batches:
            rows = {
                "ref_id": [], "cand_id": [], "lcs": [],
                "ref_len": [], "cand_len": [],
            }
            for rid, cid, tr, tc in zip(
                pdf["ref_id"], pdf["cand_id"], pdf["__tr"], pdf["__tc"]
            ):
                tr = list(tr) if tr is not None else []
                tc = list(tc) if tc is not None else []
                rows["ref_id"].append(rid)
                rows["cand_id"].append(cid)
                rows["lcs"].append(lcs(tr, tc))
                rows["ref_len"].append(len(tr))
                rows["cand_len"].append(len(tc))
            yield pd.DataFrame(rows)

    base = j.mapInPandas(run, out_schema)
    lc = F.col("lcs").cast("double")
    prec = F.when(F.col("cand_len") > 0, lc / F.col("cand_len").cast("double"))
    rec = F.when(F.col("ref_len") > 0, lc / F.col("ref_len").cast("double"))
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull(),
        F.when(prec + rec > 0, 2.0 * prec * rec / (prec + rec)).otherwise(
            F.lit(0.0)
        ),
    )
    return base.select(
        "ref_id",
        "cand_id",
        "lcs",
        "ref_len",
        "cand_len",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def bleu_corpus(
    docs: DataFrame,
    pairs: DataFrame,
    max_n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_col: str = "ref_id",
    cand_col: str = "cand_id",
) -> DataFrame:
    """Corpus-level BLEU (the form Papineni et al. actually defined):
    clipped n-gram matches and totals are SUMMED over all (reference,
    candidate) pairs BEFORE the precision/geo-mean/brevity-penalty
    finish -- one score for the whole eval set, robust to the
    per-sentence zero-precision collapse that makes sentence BLEU
    unusable as a corpus aggregate.  bp uses total lengths.

    Same single-pass kernel as bleu_score, plus one global aggregate
    (exact long sums), so the extra cost over sentence BLEU is a
    single reduce to one row.  Zero total precision at any level
    zeroes the score (classic unsmoothed).  Output one row:
    (n_pairs, ref_tokens, cand_tokens, p1..p<max_n>, bp, bleu),
    floats rounded 6 with the same fixed-order arithmetic as
    bleu_score."""
    if not 1 <= int(max_n) <= 4:
        raise ValueError(f"max_n must be 1..4, got {max_n}")
    max_n = int(max_n)
    p = pairs.select(F.col(ref_col).alias("ref_id"), F.col(cand_col).alias("cand_id"))
    per_pair = _pair_gram_stats_multi(
        docs, p, list(range(1, max_n + 1)), id_col, text_col
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_pairs")]
    for n in range(1, max_n + 1):
        aggs += [
            F.sum(f"ov{n}").cast("long").alias(f"s_ov{n}"),
            F.sum(f"ref{n}").cast("long").alias(f"s_ref{n}"),
            F.sum(f"cand{n}").cast("long").alias(f"s_cand{n}"),
        ]
    tot = per_pair.agg(*aggs)
    precs = [
        F.when(
            F.col(f"s_cand{n}") > 0,
            F.col(f"s_ov{n}").cast("double") / F.col(f"s_cand{n}").cast("double"),
        ).otherwise(F.lit(0.0))
        for n in range(1, max_n + 1)
    ]
    all_pos = precs[0] > 0
    for pr in precs[1:]:
        all_pos = all_pos & (pr > 0)
    logmean = F.log(precs[0])
    for pr in precs[1:]:
        logmean = logmean + F.log(pr)
    logmean = logmean / float(max_n)
    r_len = F.col("s_ref1").cast("double")
    c_len = F.col("s_cand1").cast("double")
    # second WHEN (not otherwise): an empty candidate would divide by
    # zero -- null under the tuned session, a DIVIDE_BY_ZERO error under
    # a caller's ANSI session.  bp is null for that row; the score is
    # already 0 via the zero 1-gram precision.
    bp = F.when(c_len >= r_len, F.lit(1.0)).when(
        c_len > 0, F.exp(F.lit(1.0) - r_len / c_len)
    )
    bleu = F.when(all_pos, bp * F.exp(logmean)).otherwise(F.lit(0.0))
    cols = [
        "n_pairs",
        F.col("s_ref1").alias("ref_tokens"),
        F.col("s_cand1").alias("cand_tokens"),
    ]
    cols += [F.round(precs[i], 6).alias(f"p{i+1}") for i in range(max_n)]
    cols += [F.round(bp, 6).alias("bp"), F.round(bleu, 6).alias("bleu")]
    return tot.select(*cols)


def chrf_score(
    docs: DataFrame,
    pairs: DataFrame,
    max_n: int = 6,
    beta: float = 2.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_col: str = "ref_id",
    cand_col: str = "cand_id",
) -> DataFrame:
    """chrF (Popovic 2015) between (reference, candidate) pairs: the
    character-n-gram F-score that complements word-level BLEU/ROUGE --
    robust to tokenization and morphology, the WMT-standard third eval
    metric.  Grams are characters of the normalized text with spaces
    removed (the chrF convention), n = 1..max_n (default 6);
    chrP/chrR = the ARITHMETIC MEAN over n of per-level clipped
    precision/recall (a level with a zero denominator contributes 0);
    chrF = (1+beta^2)*P*R / (beta^2*P + R) with beta=2 (recall-weighted),
    0 when P+R = 0.

    Scale shape: the same single-pass _pair_gram_stats_multi kernel as
    bleu_score, in char mode -- one scan, one (level, gram) explode
    (~max_n x the char stream), one counts shuffle, one pair-join
    chain.  All counts exact longs; P/R/F divide and average exact
    longs in a FIXED left-associated expression, so the doubles are
    engine-identical.  Pairs with no chars on either side are absent.
    Output: (ref_id, cand_id, ref_chars, cand_chars, chrp, chrr, chrf),
    the three scores rounded 6.
    """
    if not 1 <= int(max_n) <= 6:
        raise ValueError(f"max_n must be 1..6, got {max_n}")
    max_n = int(max_n)
    p = pairs.select(F.col(ref_col).alias("ref_id"), F.col(cand_col).alias("cand_id"))
    out = _pair_gram_stats_multi(
        docs,
        p,
        list(range(1, max_n + 1)),
        id_col,
        text_col,
        unit="char",
    )
    precs = [
        F.when(
            F.col(f"cand{n}") > 0,
            F.col(f"ov{n}").cast("double") / F.col(f"cand{n}").cast("double"),
        ).otherwise(F.lit(0.0))
        for n in range(1, max_n + 1)
    ]
    recs = [
        F.when(
            F.col(f"ref{n}") > 0,
            F.col(f"ov{n}").cast("double") / F.col(f"ref{n}").cast("double"),
        ).otherwise(F.lit(0.0))
        for n in range(1, max_n + 1)
    ]
    chrp = precs[0]
    for pr in precs[1:]:
        chrp = chrp + pr
    chrp = chrp / float(max_n)
    chrr = recs[0]
    for rc in recs[1:]:
        chrr = chrr + rc
    chrr = chrr / float(max_n)
    b2 = float(beta) * float(beta)
    chrf = F.when(
        chrp + chrr > 0,
        (1.0 + b2) * chrp * chrr / (b2 * chrp + chrr),
    ).otherwise(F.lit(0.0))
    return out.select(
        "ref_id",
        "cand_id",
        F.col("ref1").alias("ref_chars"),
        F.col("cand1").alias("cand_chars"),
        F.round(chrp, 6).alias("chrp"),
        F.round(chrr, 6).alias("chrr"),
        F.round(chrf, 6).alias("chrf"),
    )
