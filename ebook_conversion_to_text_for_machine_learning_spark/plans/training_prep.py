"""Composed training-data preparation: extract → quality-filter → dedup.

The engine's purpose in one plan: raw interleaved documents go in, a
deduplicated, quality-filtered corpus of extracted text comes out. Each
stage is an existing verified operator; composing them declaratively lets
Catalyst fuse the projection chain into the scan and run the dedup as one
map-side-combined hash aggregate — at 10^12 documents the only shuffle in
the whole plan is the final aggregate on narrow (hash, id, score) rows,
never raw text bodies... except the text ride-along for the keeper, which
stays one column.

Stage semantics:
1. extraction — ``extract_spans`` (the reference-parity fold);
2. quality — the per-row ``text_stats.quality_score_col`` over the
   EXTRACTED text (what a curation pipeline actually filters on),
   threshold on the rounded score so the DuckDB oracle agrees
   bit-for-bit;
3. dedup — exact, first-keeper-wins on ``md5(extracted_text)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
    extract_spans,
)
from ebook_conversion_to_text_for_machine_learning_spark.operators.text_stats import (
    tokens_col,
)

DEFAULT_MIN_QUALITY = 0.5


def _quality_survivors(spans_df: DataFrame, min_quality: float) -> DataFrame:
    """Shared corpus-entry prefix for every curation plan: extract →
    drop empty/token-less texts → per-row quality filter. One projection
    chain, no join, no shuffle — the quality score is computed inline
    (``quality_score_col``) on every row. Columns: doc_id,
    extracted_text, quality_score."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.text_stats import (
        quality_score_col,
    )

    extracted = extract_spans(spans_df).select(
        "doc_id",
        F.array_join(F.transform("spans", lambda s: s["text"]), "").alias(
            "extracted_text"
        ),
    )
    # Filter empty/token-less extractions BEFORE scoring: ANSI mode makes
    # the ratio divisions throw on zero tokens (and the SQL oracle's CTE
    # order does the same filtering first).
    non_empty = extracted.where(
        (F.length("extracted_text") > 0)
        & (F.size(tokens_col(F.col("extracted_text"))) > 0)
    )
    return non_empty.select(
        "doc_id",
        "extracted_text",
        quality_score_col(F.col("extracted_text")).alias("quality_score"),
    ).where(F.col("quality_score") >= min_quality)


def prepare_training_data(
    spans_df: DataFrame,
    *,
    min_quality: float = DEFAULT_MIN_QUALITY,
    seen_hashes: DataFrame | None = None,
) -> DataFrame:
    """Input: documents_spans contract rows. Output: one row per distinct
    surviving text — (text_hash, keeper_doc_id, n_copies, quality_score,
    extracted_text).

    ``seen_hashes`` (a DataFrame with a ``text_hash`` column — typically
    the previously-written output table) makes the dedup INCREMENTAL: a
    left-anti join drops texts already kept by earlier runs, so a corpus
    arriving over months never re-emits a kept document. The anti-join
    keys on md5 hashes only — narrow rows, broadcast when small, and at
    lake scale both sides bucket by text_hash.
    """
    out = _quality_survivors(spans_df, min_quality).groupBy(
        F.md5("extracted_text").alias("text_hash")
    ).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").cast("long").alias("n_copies"),
        F.min("quality_score").alias("quality_score"),
        F.min("extracted_text").alias("extracted_text"),
    )
    if seen_hashes is not None:
        out = out.join(
            seen_hashes.select("text_hash").distinct(), "text_hash", "left_anti"
        )
    return out


def prepare_training_sequences(
    spans_df: DataFrame,
    *,
    min_quality: float = DEFAULT_MIN_QUALITY,
    chunk_tokens: int = 128,
    overlap: int = 16,
    seen_hashes: DataFrame | None = None,
) -> DataFrame:
    """The complete curation chain: extract → quality-filter → exact dedup
    → PII scrub → chunk → split-assign.

    Output is the training-sequence table: one row per (keeper document ×
    chunk) with its split assignment — what actually feeds a tokenizer at
    10^12-document scale. Plan shape: everything after the dedup aggregate
    is narrow per-row work (regexp scrub, bounded chunk explode, md5
    bucket), so the whole chain keeps exactly ONE data shuffle (the dedup
    hash aggregate); the chunk explode multiplies rows only after dedup
    has already shrunk the corpus.
    """
    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        chunk_documents,
        scrub_text_col,
        split_col,
    )

    keepers = prepare_training_data(
        spans_df, min_quality=min_quality, seen_hashes=seen_hashes
    ).select(
        F.col("keeper_doc_id").alias("doc_id"),
        "text_hash",
        scrub_text_col(F.col("extracted_text")).alias("text"),
    )
    # text_hash (md5 of the PRE-scrub keeper text — feed it back as
    # seen_hashes for incremental runs) and the split (pure function of
    # doc_id) both ride along as projections: no join anywhere, the dedup
    # aggregate stays the only data shuffle over the corpus.
    chunks = chunk_documents(
        keepers, chunk_tokens=chunk_tokens, overlap=overlap, carry_cols=("text_hash",)
    )
    return chunks.select(
        "doc_id",
        "text_hash",
        "chunk_idx",
        "chunk_start",
        "chunk_text",
        "n_chunk_tokens",
        split_col(F.col("doc_id")).alias("split"),
    )


def prepare_training_mix(
    spans_df: DataFrame,
    *,
    eval_df: DataFrame | None = None,
    min_quality: float = DEFAULT_MIN_QUALITY,
    chunk_tokens: int = 128,
    overlap: int = 16,
    budget: int = 512,
    n_shards: int = 64,
    decontaminate_n: int = 3,
    decontaminate_pct: int = 10,
    seen_hashes: DataFrame | None = None,
) -> DataFrame:
    """The full curation chain ending in packed training bins: extract →
    quality filter → repetition filter → exact dedup → decontaminate →
    PII scrub → chunk → split-assign → pack.

    The quality filter is a per-row expression, the repetition filter is
    an aggregate computed once per distinct text AFTER dedup (narrow
    gram-stat shuffles keyed on text_hash, reusing the dedup exchange),
    and the decontamination check is a broadcast array intersect — so the
    corpus TEXT moves through exactly TWO data shuffles: the dedup hash
    aggregate and the packing window. The shard
    key is the doc-id md5 bucket mod ``n_shards`` (doc ids are strings in
    the contract, so modulo on the id itself is unavailable), which also
    decorrelates shard load from id assignment order.

    ``eval_df`` (any DataFrame with a ``text`` column) enables benchmark
    decontamination; keeper documents whose distinct word-``n``-gram
    overlap with the eval set reaches ``decontaminate_pct`` percent are
    dropped before chunking.

    Output: one row per (keeper document × chunk) with its split, shard,
    bin assignment, chunk text, and ``text_hash`` provenance.
    """
    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        _hex_bucket,
        chunk_documents,
        pack_sequences,
        scrub_text_col,
        split_col,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        shingles_col,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.operators.text_stats import (
        repetition_signals,
    )

    survivors = _quality_survivors(spans_df, min_quality)
    keepers = survivors.groupBy(F.md5("extracted_text").alias("text_hash")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("extracted_text").alias("raw_text"),
    )
    # Repetition filter AFTER dedup: the flag is a pure function of the
    # text, so every copy in a hash group shares it — computing it once
    # per DISTINCT text via the explode+aggregate path is strictly less
    # work than per-row expressions over the whole corpus (the per-row
    # HOF-aggregate twin benched ~2.6 ms/doc interpreted; the aggregate
    # path does the same corpus in ~1/30th). Both flag aggregates and the
    # join key on text_hash, the dedup output's partitioning, so Spark
    # reuses the dedup exchange instead of reshuffling text bodies.
    rep = repetition_signals(
        keepers.select(
            F.col("text_hash").alias("doc_id"), F.col("raw_text").alias("text")
        )
    ).select(F.col("doc_id").alias("text_hash"), "repetitive")
    keepers = (
        keepers.join(rep, "text_hash")
        .where(~F.col("repetitive"))
        .drop("repetitive")
    )
    if seen_hashes is not None:
        keepers = keepers.join(
            seen_hashes.select("text_hash").distinct(), "text_hash", "left_anti"
        )
    if eval_df is not None:
        eval_set = (
            eval_df.select(
                F.explode(shingles_col(F.col("text"), decontaminate_n)).alias("g")
            ).agg(F.array_sort(F.collect_set("g")).alias("_eval_grams"))
        )
        grams = shingles_col(F.col("raw_text"), decontaminate_n)
        keepers = (
            keepers.crossJoin(F.broadcast(eval_set))
            .where(
                ~(
                    (F.size(grams) > 0)
                    & (
                        F.size(F.array_intersect(grams, F.col("_eval_grams"))) * 100
                        >= F.lit(decontaminate_pct) * F.size(grams)
                    )
                )
            )
            .drop("_eval_grams")
        )
    scrubbed = keepers.select(
        "doc_id", "text_hash", scrub_text_col(F.col("raw_text")).alias("text")
    )
    chunks = chunk_documents(
        scrubbed,
        chunk_tokens=chunk_tokens,
        overlap=overlap,
        carry_cols=("text_hash",),
    )
    ready = chunks.select(
        "doc_id",
        "text_hash",
        "chunk_idx",
        "chunk_text",
        "n_chunk_tokens",
        split_col(F.col("doc_id")).alias("split"),
        (_hex_bucket(F.col("doc_id"), 2) % n_shards).alias("doc_shard"),
    )
    return pack_sequences(
        ready,
        budget=budget,
        n_shards=n_shards,
        shard_col="doc_shard",
        carry_cols=("text_hash", "chunk_text"),
    )


def compact_sequences(seqs: DataFrame) -> DataFrame:
    """Compact a landed training-sequence table: keep exactly one chunk
    set per ``text_hash`` (the lexicographically-smallest ``doc_id``'s).

    The batch complement promised by the streaming dedup story: the
    stream guarantees no duplicates within its watermark / seen-hash
    horizon, and runs started WITHOUT ``--seen-hashes`` (or concurrent
    writers) can still land the same text twice — this job restores the
    one-chunk-set-per-text invariant. One hash aggregate on
    ``(text_hash → min doc_id)`` plus a join back and a
    ``dropDuplicates`` on the chunk key — all keyed on text_hash, so at
    lake scale the table compacts on a single logical shuffle key with
    map-side combine. The dropDuplicates matters: a rerun appends the
    SAME doc_id's rows again, which the keeper filter alone would keep
    twice.
    """
    keepers = seqs.groupBy("text_hash").agg(F.min("doc_id").alias("_keep_doc"))
    return (
        seqs.join(keepers, "text_hash")
        .where(F.col("doc_id") == F.col("_keep_doc"))
        .drop("_keep_doc")
        .dropDuplicates(["text_hash", "chunk_idx"])
    )
