"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen) — no Python UDFs. Every operator here has an exact
DuckDB SQL twin in ``__spark_entry__.oracle_sql`` for the driver's
correctness gate, so hash functions / regexes are chosen to be portable:
md5 (identical hex in Spark and DuckDB) and RE2-compatible patterns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Whitespace tokenization pattern (portable between Java regex and RE2).
TOKEN_SPLIT = " +"

#: Small stopword list for quality scoring (subset present in any corpus).
STOPWORDS = ("the", "a", "of", "and", "in", "to")

#: BPE-ish token pattern: letter runs, digit runs, single punctuation.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def tokens_col(text: Column) -> Column:
    """Whitespace tokens with empties removed."""
    return F.filter(F.split(text, TOKEN_SPLIT), lambda t: t != "")


def token_stats(df: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, BPE-ish count."""
    toks = tokens_col(F.col("text"))
    return df.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.regexp_count(F.lower(F.col("text")), F.lit(BPE_PATTERN)).alias("n_bpe_tokens"),
    )


def _x10k(col: Column) -> Column:
    """``floor(x·10⁴ + 0.5)``: ``x`` floor-rounded to 4 decimals, in units
    of 1e-4. floor instead of round(): identical double ops in every
    engine, so the SQL oracle reproduces it bit-for-bit (round()
    implementations differ at representation boundaries)."""
    return F.floor(col * F.lit(10000.0) + F.lit(0.5))


def _quality_ratios(toks: Column) -> tuple[Column, Column, Column]:
    """(n_tokens, distinct_ratio, stop_ratio) as doubles over ``toks``."""
    n = F.size(toks).cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))).cast("double") / n
    )
    return n, distinct_ratio, stop_ratio


def quality_score_x10k_col(text: Column) -> Column:
    """The quality score scaled to an exact integer (units of 1e-4) —
    ``floor(score·10⁴ + 0.5)`` BEFORE any division, so aggregations can
    sum it losslessly. (Dividing by 10⁴ and re-multiplying round-trips
    through an inexact double whose double→int cast then disagrees
    between engines: Spark truncates, DuckDB rounds.)"""
    n, distinct_ratio, stop_ratio = _quality_ratios(tokens_col(text))
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n / F.lit(50.0))
        + F.lit(0.3) * distinct_ratio
        + F.lit(0.3) * stop_ratio
    )
    return _x10k(score)


def quality_score_col(text: Column) -> Column:
    """The rounded quality score as a single per-row expression —
    composable into a filter chain without a join (used by
    ``plans.training_prep``). Same arithmetic as ``quality_scores``."""
    return quality_score_x10k_col(text) / F.lit(10000.0)


def guarded_quality_x10k_col(text: Column) -> Column:
    """``quality_score_x10k_col``, or 0 for a text with no tokens: ANSI
    mode makes the unguarded ratios throw on zero tokens."""
    return F.when(
        F.size(tokens_col(text)) > 0, quality_score_x10k_col(text)
    ).otherwise(F.lit(0.0))


def quality_scores(df: DataFrame) -> DataFrame:
    """Heuristic quality score: length, lexical diversity, stopword ratio.

    score = 0.4*min(1, n_tokens/50) + 0.3*(distinct/total) + 0.3*stopword_ratio,
    rounded to 4 decimals (double arithmetic, portable to the SQL oracle).
    """
    _, distinct_ratio, stop_ratio = _quality_ratios(tokens_col(F.col("text")))
    return df.select(
        "doc_id",
        (_x10k(distinct_ratio) / F.lit(10000.0)).alias("distinct_ratio"),
        (_x10k(stop_ratio) / F.lit(10000.0)).alias("stopword_ratio"),
        quality_score_col(F.col("text")).alias("quality_score"),
    )


#: Per-language marker words for the n-gram/stopword language heuristic.
LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "que", "de"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
}


def language_score_cols(text: Column) -> dict[str, Column]:
    """``score_<lang>`` → marker-token hits (int) for each language.

    The scores are interpreted higher-order functions with no
    common-subexpression elimination: project each ONCE, then derive
    ``predicted_lang_col`` from the projected columns in a second select
    (inlining them would re-tokenize the text ~12x per row)."""
    toks = tokens_col(F.lower(text))
    return {
        f"score_{lang}": F.size(F.filter(toks, lambda t: t.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def predicted_lang_col() -> Column:
    """The language with the most marker hits, over already-projected
    ``score_<lang>`` columns; ties and zero hits resolve to 'und'."""
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    predicted = F.lit("und")
    # Deterministic priority: first language (in fixed order) achieving max.
    for lang in reversed(list(LANG_MARKERS)):
        predicted = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(predicted)
    return predicted


def language_id(df: DataFrame) -> DataFrame:
    """Marker-word language heuristic.

    Picks the language with the most marker-token hits; ties and zero hits
    resolve to 'und' (deterministic; the real decision logic matters less
    than exact Spark/SQL agreement for the correctness gate).
    """
    scores = language_score_cols(F.col("text"))
    named = [score.alias(name) for name, score in scores.items()]
    scored = df.select("doc_id", F.col("lang").alias("actual_lang"), *named)
    predicted = predicted_lang_col().alias("predicted_lang")
    return scored.select("doc_id", "actual_lang", predicted, *scores.keys())


def fingerprint_col(text: Column) -> Column:
    """md5 over the whitespace-normalized lowercase text."""
    return F.md5(F.regexp_replace(F.trim(F.lower(text)), " +", " "))


def fingerprints(df: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over the whitespace-normalized lowercase text."""
    return df.select("doc_id", fingerprint_col(F.col("text")).alias("fingerprint"))


def tfidf_top_terms(df: DataFrame, *, k: int = 5) -> DataFrame:
    """Per-document top-``k`` terms by smoothed tf-idf.

    ``score = tf * (ln((N + 1) / (df + 1)) + 1)`` — the scikit-learn
    smoothing, so idf is never zero or negative and single-document
    corpora still rank. Scale shape: one token explode feeds a
    ``(doc_id, term)`` partial-count aggregate (narrow rows); document
    frequency is a second partial aggregate keyed on the term and joins
    back on that narrow key (the vocabulary is orders of magnitude
    smaller than the corpus, and the heavy-head terms that would skew
    the join are exactly the ones idf ranks to the bottom); corpus N
    arrives via a broadcast one-row cross join; the final top-k is a
    per-document window whose partitions are bounded by a document's
    distinct-term count, never corpus-wide. Scores are quantized to x10k
    BIGINT BEFORE ranking so this and the SQL oracle rank identical
    integers (ties break on term ASC).

    Returns (doc_id, term, tf, score_x10k, rank), rank 1..k.
    """
    from pyspark.sql.window import Window

    words = df.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(
        F.count("*").cast("long").alias("_doc_freq")
    )
    n_docs = df.select(F.countDistinct("doc_id").alias("_n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score_x10k",
            F.floor(
                F.col("tf")
                * (F.log((F.col("_n_docs") + 1) / (F.col("_doc_freq") + 1)) + 1)
                * 10000
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_x10k").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "score_x10k", "rank")
    )


def bpe_pair_counts(df: DataFrame, *, min_count: int = 2) -> DataFrame:
    """One distributed iteration of BPE vocabulary induction: count
    adjacent character pairs INSIDE whitespace tokens, corpus-wide. The
    pair-count table is the object every BPE trainer iterates on — at
    lake scale the counting pass is the cost, and it is exactly this
    shape: explode to narrow pair strings, ONE partial-agg hash
    aggregate (a pair occurring billions of times collapses map-side),
    ``min_count`` bounding the output to the trainable tail. A driver
    loop picks argmax and re-runs with merged symbols; the per-iteration
    Spark plan is identical.

    Returns (pair, n_occurrences) for every 2-char sequence with at
    least ``min_count`` corpus occurrences.
    """
    toks = df.select(
        F.explode(tokens_col(F.col("text"))).alias("tok")
    ).where(F.length("tok") >= 2)
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_count)
    )


def ngrams_col(text: Column, n: int) -> Column:
    """Word n-grams WITH repeats (unlike ``dedup.shingles_col``, which is
    distinct) — repetition measurement needs the multiplicities."""
    toks = tokens_col(text)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " ")),
    ).otherwise(F.array().cast("array<string>"))


#: Gopher-style repetition thresholds (Rae et al. 2021, table A1 region):
#: a document is repetitive when its most common 2-gram covers more than
#: 20% of all 2-grams, or 3-grams occurring more than once cover more
#: than 18% of all 3-grams. Stored as integer percents so the flag is
#: exact integer arithmetic in both engines.
TOP_2GRAM_PCT = 20
DUP_3GRAM_PCT = 18


def repetition_signals(df: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals per document.

    For n in (2, 3): total n-grams, the top n-gram's count, and the count
    of n-grams whose gram occurs more than once. Shape: explode →
    ``groupBy(doc_id, gram)`` → ``groupBy(doc_id)`` — both aggregates get
    map-side partial combine, and the second shuffle carries three longs
    per (doc, n). Short documents (< n tokens) are restored with zero
    counts so the output covers the full corpus.

    ``repetitive`` = top-2-gram share > 20% OR duplicated-3-gram share >
    18% (integer-percent comparisons; fractions are also emitted as
    floor-rounded 4-decimal doubles for human consumption).
    """

    def _per_n(n: int, tag: str) -> DataFrame:
        grams = df.select(
            "doc_id", F.explode(ngrams_col(F.col("text"), n)).alias("g")
        )
        counts = grams.groupBy("doc_id", "g").agg(F.count("*").alias("cnt"))
        return counts.groupBy("doc_id").agg(
            F.sum("cnt").cast("long").alias(f"n_{tag}grams"),
            F.max("cnt").cast("long").alias(f"top_{tag}gram_cnt"),
            F.coalesce(
                F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))), F.lit(0)
            ).cast("long").alias(f"dup_{tag}gram_cnt"),
        )

    def _frac(num: str, den: str) -> Column:
        return F.when(
            F.col(den) > 0,
            _x10k(F.col(num).cast("double") / F.col(den).cast("double"))
            / F.lit(10000.0),
        ).otherwise(F.lit(0.0))

    base = df.select("doc_id")
    out = (
        base.join(_per_n(2, "2"), "doc_id", "left")
        .join(_per_n(3, "3"), "doc_id", "left")
        .na.fill(
            0,
            [
                "n_2grams", "top_2gram_cnt", "dup_2gram_cnt",
                "n_3grams", "top_3gram_cnt", "dup_3gram_cnt",
            ],
        )
    )
    return out.select(
        "doc_id",
        "n_2grams",
        "top_2gram_cnt",
        "dup_2gram_cnt",
        "n_3grams",
        "top_3gram_cnt",
        "dup_3gram_cnt",
        _frac("top_2gram_cnt", "n_2grams").alias("top_2gram_frac"),
        _frac("dup_3gram_cnt", "n_3grams").alias("dup_3gram_frac"),
        (
            (F.col("top_2gram_cnt") * 100 > F.lit(TOP_2GRAM_PCT) * F.col("n_2grams"))
            & (F.col("n_2grams") > 0)
            | (F.col("dup_3gram_cnt") * 100 > F.lit(DUP_3GRAM_PCT) * F.col("n_3grams"))
            & (F.col("n_3grams") > 0)
        ).alias("repetitive"),
    )


def line_repetition_signals(df: DataFrame, delim: str = "\n") -> DataFrame:
    """Gopher-style LINE-level repetition: per document, the fraction of
    lines (and of line characters) belonging to a line value that occurs
    more than once within the document.

    Complements the n-gram signals for multi-line text (boilerplate
    headers/footers repeat as whole lines long before any 2-gram
    dominates). Shape: one bounded ``posexplode`` →
    ``groupBy(doc, md5(line))`` → ``groupBy(doc)`` — both aggregates get
    map-side partial combine and the second shuffle carries four longs
    per document. Fractions are also exposed as exact integer counts so
    the flag arithmetic is engine-portable. ``delim`` is a LITERAL
    separator (``re.escape``d for the split), matching ``line_dedup``.
    """
    import re

    lines = df.select(
        "doc_id",
        F.posexplode(
            F.split(F.col("text"), re.escape(delim), -1)
        ).alias("line_idx", "line"),
    )
    per_value = lines.groupBy("doc_id", F.md5("line").alias("h")).agg(
        F.count("*").alias("cnt"), F.sum(F.length("line")).alias("chars")
    )
    return per_value.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_lines"),
        F.coalesce(F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))), F.lit(0))
        .cast("long")
        .alias("n_dup_lines"),
        F.sum("chars").cast("long").alias("n_line_chars"),
        F.coalesce(F.sum(F.when(F.col("cnt") > 1, F.col("chars"))), F.lit(0))
        .cast("long")
        .alias("n_dup_line_chars"),
    )


def corpus_stats(df: DataFrame) -> DataFrame:
    """Per-language corpus rollup: documents, tokens, mean quality, and
    repetitive-document count — the summary table a curation run reports.

    Mean quality is published as ``mean_quality_x10k`` (a BIGINT): the
    per-row score is exactly representable at 1e-4 granularity, so
    summing the 10⁴-scaled integer values and integer-dividing by the
    count is EXACT in any engine — float ``avg()`` would depend on the
    partial-aggregation summation order and break oracle parity.
    """
    text = F.col("text")
    # The repetition flag joins in from the explode+aggregate path: the
    # per-row twin is ~30× the CPU (see document_features), and this
    # whole operator is an aggregate anyway.
    flags = repetition_signals(df).select("doc_id", "repetitive")
    per_doc = df.select(
        "doc_id",
        "lang",
        F.size(tokens_col(text)).cast("long").alias("_n_tokens"),
        guarded_quality_x10k_col(text).cast("long").alias("_q10k"),
    ).join(flags, "doc_id")
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_n_tokens").cast("long").alias("n_tokens"),
        F.floor(F.sum("_q10k") / F.count("*")).cast("long").alias("mean_quality_x10k"),
        F.sum(F.col("repetitive").cast("long")).cast("long").alias("n_repetitive"),
    )
