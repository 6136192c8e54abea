"""One-pass document feature table: every per-row signal in one projection.

Each per-row signal has one column builder in the module that owns it —
``text_stats.guarded_quality_x10k_col``, ``text_stats.language_score_cols``
with ``predicted_lang_col``, ``text_stats.fingerprint_col`` and
``curation.pii_count_cols`` — and the signal's own operator projects the
same builder. This module assembles them into a single wide SELECT — the
feature table a filtering pipeline or quality classifier consumes — with
zero Python and no shuffle of document text: one parquet scan and one
codegen'd projection, plus a narrow (doc_id, flag) join for the Gopher
repetition flag from ``repetition_signals``, whose aggregate path is ~30×
cheaper CPU than a per-row expression (see ``document_features``).
Computing the signals together lets Tungsten share the scan instead of
re-reading the corpus once per signal table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
    pii_count_cols,
)
from ebook_conversion_to_text_for_machine_learning_spark.operators.text_stats import (
    BPE_PATTERN,
    fingerprint_col,
    guarded_quality_x10k_col,
    language_score_cols,
    predicted_lang_col,
    repetition_signals,
    tokens_col,
)


def document_features(df: DataFrame) -> DataFrame:
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
    text = F.col("text")
    toks = tokens_col(text)
    scores = language_score_cols(text)
    # Two-stage select, like language_id: each marker score is projected
    # once and predicted_lang reads the projected columns.
    scored = df.select(
        "doc_id",
        F.length(text).cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.regexp_count(F.lower(text), F.lit(BPE_PATTERN))
        .cast("long")
        .alias("n_bpe_tokens"),
        (guarded_quality_x10k_col(text) / F.lit(10000.0)).alias("quality_score"),
        *[score.cast("long").alias(name) for name, score in scores.items()],
        *pii_count_cols(text),
        fingerprint_col(text).alias("fingerprint"),
    )
    return scored.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_distinct_tokens",
        "n_bpe_tokens",
        "quality_score",
        *scores.keys(),
        predicted_lang_col().alias("predicted_lang"),
        "n_urls",
        "n_emails",
        "n_phones",
        "fingerprint",
    ).join(repetition_signals(df).select("doc_id", "repetitive"), "doc_id")
