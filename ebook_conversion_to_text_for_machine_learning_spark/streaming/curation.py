"""Streaming curation: span files in → incremental training sequences out.

Engine extension (the reference is batch-only). Each micro-batch runs the
SAME ``prepare_training_sequences`` chain as the batch CLI, anti-joined
against a **seen-hash sidecar** — a parquet table holding one
``text_hash`` per text the stream has ever emitted — so a document that
arrived (or was duplicated) in any earlier micro-batch never re-emits
sequences. This is the unbounded complement to
``streaming.dedup.streaming_exact_dedup``: the watermark variant bounds
state but only guarantees no duplicates within the late horizon; this
variant is exact across the whole stream's history.

Why a sidecar instead of anti-joining the landed output table (the
round-2 design): the output table grows with every chunk of every
sequence, so the per-batch anti-join scan was O(full history) even with
column pruning. The sidecar holds one narrow row per DISTINCT text and is
periodically squashed by ``compact_seen_sidecar`` into a single
``batch_id=-1`` partition, so the per-batch read cost is bounded by the
number of distinct texts — and stays a handful of compacted files.

Crash-consistency (foreachBatch is at-least-once):

- the output write and the sidecar write both target their own
  ``batch_id=N`` partition dir with overwrite, so a replayed batch
  rewrites the same files instead of appending duplicates;
- the seen set for batch N reads ``batch_id != N``, so a replay never
  sees its own failed attempt's partial sidecar rows;
- ``compact_seen_sidecar`` runs the one batch-partition compactor of
  ``operators.index_maintenance`` — its staged-write + manifest protocol
  makes a crash mid-fold completable by re-running the compaction.

The sidecar lives next to the output (``<output>_seen`` by default):
the two tables are a unit — delete both or neither.

``foreachBatch`` keeps one code path for batch and streaming (see
``streaming.stream`` for the rationale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
    INPUT_SCHEMA,
)
from ebook_conversion_to_text_for_machine_learning_spark.operators.index_maintenance import (
    SEEN_HASHES,
    _commit_horizon,
    _compact_table,
)
from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
    _read_table_or_none,
)
from ebook_conversion_to_text_for_machine_learning_spark.plans.training_prep import (
    DEFAULT_MIN_QUALITY,
    prepare_training_sequences,
)
from ebook_conversion_to_text_for_machine_learning_spark.streaming.stream import (
    foreach_batch_stream,
)


def default_seen_dir(output_dir: str) -> str:
    return output_dir.rstrip("/") + "_seen"


def _read_seen(
    spark: SparkSession, seen_dir: str, exclude_batch_id: int
) -> DataFrame | None:
    seen = _read_table_or_none(spark, seen_dir, catalog=False)
    if seen is None:
        return None
    return seen.where(F.col("batch_id") != exclude_batch_id).select("text_hash")


def compact_seen_sidecar(
    spark: SparkSession, seen_dir: str, *, checkpoint_dir: str | None = None
) -> int:
    """Squash the sidecar's per-batch partitions into ``batch_id=-1``
    with the index compactor (``operators.index_maintenance``: staged
    write under ``<seen_dir>/_compact``, ``_FOLDED.json`` manifest,
    rename publish — a crash mid-fold is completed by re-running).
    Returns the number of batch partitions folded (0 = nothing to do).

    WHEN it may run: between micro-batches of a live stream, or against
    a CLEANLY-stopped stream whose last batch committed. After a crash,
    the highest partition may belong to a batch that wrote its output
    and sidecar but died before the checkpoint commit — folding THAT
    partition into ``batch_id=-1`` would defeat the replay's
    "``batch_id != N`` excludes my own failed attempt" filter: the
    replayed batch would anti-join all its texts away and overwrite its
    output partition with nothing. Pass ``checkpoint_dir`` (the stream's
    checkpoint location) to make compaction crash-safe unconditionally:
    partitions above ``last_committed_batch`` are left in place — both
    un-compacted and excluded from the compacted hash set — and picked
    up by the next compaction after they commit.
    """
    seen_dir = seen_dir.rstrip("/")
    return _compact_table(
        spark,
        seen_dir,
        f"{seen_dir}/_compact",
        SEEN_HASHES,
        _commit_horizon(spark, checkpoint_dir, 0),
    )


def stream_curation(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    min_quality: float = DEFAULT_MIN_QUALITY,
    chunk_tokens: int = 128,
    overlap: int = 16,
    max_files_per_trigger: int = 16,
    available_now: bool = False,
    seen_dir: str | None = None,
) -> StreamingQuery:
    """Start a file-source streaming curation job.

    ``available_now=True`` drains the current backlog and stops (tests,
    backfills); otherwise the query keeps consuming newly landed span
    files. Output rows are the training-sequence table of
    ``prepare_training_sequences`` partitioned by ``batch_id``; each
    distinct surviving text emits its chunks exactly once across the
    stream's lifetime, enforced by the seen-hash sidecar at
    ``seen_dir`` (default ``<output>_seen``).
    """
    sidecar = seen_dir or default_seen_dir(output_dir)

    def _process(batch_df, batch_id: int) -> None:
        session = batch_df.sparkSession
        seen = _read_seen(session, sidecar, exclude_batch_id=batch_id)
        result = prepare_training_sequences(
            batch_df,
            min_quality=min_quality,
            chunk_tokens=chunk_tokens,
            overlap=overlap,
            seen_hashes=seen,
        ).localCheckpoint()  # one computation feeding two partition writes
        result.write.mode("overwrite").parquet(
            f"{output_dir}/batch_id={batch_id}"
        )
        result.select("text_hash").distinct().write.mode("overwrite").parquet(
            f"{sidecar}/batch_id={batch_id}"
        )

    return foreach_batch_stream(
        spark, input_dir, checkpoint_dir, _process, schema=INPUT_SCHEMA,
        max_files_per_trigger=max_files_per_trigger, available_now=available_now,
    )


def stream_funnel(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    stages,
    *,
    schema,
    max_files_per_trigger: int = 16,
    available_now: bool = False,
) -> StreamingQuery:
    """Per-micro-batch filter-funnel metrics: each batch writes its
    stage-attributed survival counters (``operators.curation.
    filter_funnel`` — one scan, one single-row exchange) to its own
    ``batch_id=N`` partition with idempotent overwrite, the same
    at-least-once contract as every sink in this package.

    This is the live health view of a streaming curation pipeline: a
    quality filter that suddenly starts dropping everything (upstream
    format change, broken language tagger) surfaces within ONE
    micro-batch as a collapsed ``n_out``, instead of after a nightly
    batch rollup. ``stages`` is the same ``[(name, Column)]`` list the
    batch funnel takes, so batch and stream publish identical tables.
    """
    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        filter_funnel,
    )

    def _process(batch_df, batch_id: int) -> None:
        (
            filter_funnel(batch_df, stages)
            .write.mode("overwrite")
            .parquet(f"{output_dir}/batch_id={batch_id}")
        )

    return foreach_batch_stream(
        spark, input_dir, checkpoint_dir, _process, schema=schema,
        max_files_per_trigger=max_files_per_trigger, available_now=available_now,
    )
