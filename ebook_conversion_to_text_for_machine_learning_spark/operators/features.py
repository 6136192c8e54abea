"""One-pass document feature table: every per-row signal in one projection.

The curation operators each expose their core signal as a composable
column expression (``quality_score_col``, marker scores, PII counts,
fingerprints). This module assembles them into a single wide SELECT —
the feature table a filtering pipeline or quality classifier consumes —
with zero Python and no shuffle of document text: one parquet scan and
one codegen'd projection, plus a narrow (doc_id, flag) join for the
Gopher repetition flag from ``repetition_signals``, whose aggregate path
is ~30× cheaper CPU than a per-row expression (see
``document_features``). Computing the signals together lets Tungsten
share the scan instead of re-reading the corpus once per signal table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
    EMAIL_PATTERN,
    PHONE_PATTERN,
    URL_PATTERN,
)
from ebook_conversion_to_text_for_machine_learning_spark.operators.text_stats import (
    BPE_PATTERN,
    LANG_MARKERS,
    quality_score_col,
    repetition_signals,
    tokens_col,
)


def document_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id plus the full per-row signal set.

    Columns: token counts (whitespace / distinct / BPE-ish), length,
    quality score, per-language marker scores + predicted language, PII
    match counts, the Gopher repetition flag, and the md5 fingerprint.

    Everything except the repetition flag is a single shuffle-free
    projection. The flag joins in from the explode+aggregate path
    (``repetition_signals``): a per-row expression form of it measured
    ~2.6 ms/doc (higher-order aggregates are interpreted, and every extra
    reference to the gram array re-builds it — no common-subexpression
    elimination for HOF subtrees), ~30× the CPU of the aggregate path.
    At corpus scale CPU dominates a narrow (doc_id, flag) shuffle, so
    the join is the right call — measured 14.3s → ~4s at sf0.1.
    """
    text = F.col(text_col)
    toks = tokens_col(text)
    toks_lower = tokens_col(F.lower(text))

    def _score(markers):
        # closure (not a default arg): PySpark's lambda adapter feeds a
        # Column into every declared parameter.
        return F.size(F.filter(toks_lower, lambda t: t.isin(*markers)))

    normalized = F.regexp_replace(F.trim(F.lower(text)), " +", " ")
    # Two-stage select, like language_id: the marker-score HOFs are
    # interpreted and get no common-subexpression elimination, so compute
    # each score ONCE here and derive best/predicted from the column
    # references in a second projection (embedding them inline would
    # re-tokenize the text ~12x per row).
    scored = df.select(
        "doc_id",
        F.length(text).cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.regexp_count(F.lower(text), F.lit(BPE_PATTERN))
        .cast("long")
        .alias("n_bpe_tokens"),
        # guarded: ANSI mode makes the quality ratios throw on empty docs
        F.when(F.size(toks) > 0, quality_score_col(text))
        .otherwise(F.lit(0.0))
        .alias("quality_score"),
        *[
            _score(markers).cast("long").alias(f"score_{lang}")
            for lang, markers in LANG_MARKERS.items()
        ],
        F.size(F.regexp_extract_all(text, F.lit(URL_PATTERN), 0))
        .cast("long")
        .alias("n_urls"),
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_PATTERN), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_PATTERN), 0))
        .cast("long")
        .alias("n_phones"),
        F.md5(normalized).alias("fingerprint"),
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    predicted = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        predicted = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(predicted)
    return scored.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_distinct_tokens",
        "n_bpe_tokens",
        "quality_score",
        *[F.col(f"score_{lang}") for lang in LANG_MARKERS],
        predicted.alias("predicted_lang"),
        "n_urls",
        "n_emails",
        "n_phones",
        "fingerprint",
    ).join(
        repetition_signals(df, text_col=text_col).select("doc_id", "repetitive"),
        "doc_id",
    )
