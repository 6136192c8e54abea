"""Streaming extraction: new span files in → extracted span files out.

The reference is strictly batch (SURVEY.md §2.7), so this is an engine
extension, not a ported semantic: the same ``extract_spans`` operator runs
inside ``foreachBatch`` with an idempotent per-batch-directory commit
(foreachBatch alone is at-least-once; overwriting ``batch_id=N`` makes a
replayed batch rewrite itself instead of duplicating rows). It writes no
lineage table and no metrics table: each output row carries its own
``n_spans`` and ``status``.

``foreachBatch`` (rather than a direct streaming ``mapInArrow`` plan) is
deliberate: each micro-batch is a normal DataFrame, so broadcast joins,
AQE, and the extraction operator all behave identically to the batch
path — one code path to test for correctness, two execution modes.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
    INPUT_SCHEMA,
    extract_spans,
)


def foreach_batch_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    process: Callable[[DataFrame, int], None],
    *,
    schema,
    max_files_per_trigger: int,
    available_now: bool,
) -> StreamingQuery:
    """Start ``process(batch_df, batch_id)`` over a parquet file stream —
    the one driver every ``foreachBatch`` stream in this package runs on.

    ``available_now=True`` drains everything currently in ``input_dir`` and
    stops (used by tests and backfills); otherwise the query runs until
    stopped, picking up newly landed parquet files per micro-batch.
    """
    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extraction(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 16,
    available_now: bool = False,
) -> StreamingQuery:
    """Start a file-source streaming extraction (see
    ``foreach_batch_stream`` for ``available_now``)."""

    def _process(batch_df, batch_id: int) -> None:
        # Idempotent per-batch commit: foreachBatch is at-least-once (a
        # crash between the sink write and the checkpoint offset commit
        # replays the batch), so each batch OVERWRITES its own
        # batch_id=N partition dir — a replay rewrites the same files
        # instead of appending duplicates. Readers see batch_id as a
        # partition column via directory discovery.
        (
            extract_spans(batch_df)
            .select("doc_id", "fmt", "spans", "n_spans", "status")
            .write.mode("overwrite")
            .parquet(f"{output_dir}/batch_id={batch_id}")
        )

    return foreach_batch_stream(
        spark, input_dir, checkpoint_dir, _process, schema=INPUT_SCHEMA,
        max_files_per_trigger=max_files_per_trigger, available_now=available_now,
    )
