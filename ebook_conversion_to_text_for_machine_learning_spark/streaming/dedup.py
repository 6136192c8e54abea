"""Streaming deduplication: exact (watermark-bounded) and near-dup
(persisted-index) variants.

Engine extensions (the reference is batch-only):

- ``streaming_exact_dedup`` — the streaming sibling of
  ``operators.dedup.exact_dedup`` for a continuously-fed corpus. Each
  document is keyed by ``md5(text)``; ``dropDuplicatesWithinWatermark``
  keeps only the first arrival of each hash while the watermark bounds
  the dedup state — the property that makes this viable on an unbounded
  10^12-document stream, where an ever-growing exact-dedup hash table
  would eventually exceed any executor. Duplicates farther apart than
  the watermark are the batch job's responsibility (periodic
  ``exact_dedup`` compaction over the landed table); the stream
  guarantees no duplicate within the late-data horizon.

- ``stream_near_dedup`` — the streaming incremental NEAR-dup loop:
  every micro-batch, the first one against a virgin index path included,
  runs ``operators.dedup.ingest_batch_against_index`` (one MinHash +
  gram-hash sketch of the micro-batch feeds the intra-batch pass, the
  probe of the persisted minhash index and the append of the batch's
  novelties — O(batch) per step, corpus never re-read), so a document
  near-duplicating ANYTHING the stream has ever landed is flagged —
  including same-trigger arrivals, which the intra-batch pass (greedy
  smaller-id keeper) resolves before probing the index — with no
  watermark horizon and state bounded by the on-disk index instead of
  executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def streaming_exact_dedup(stream: DataFrame, *, watermark: str = "10 minutes") -> DataFrame:
    """First-arrival-wins dedup on content hash with bounded state."""
    hashed = stream.withColumn("text_hash", F.md5(F.col("text"))).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    return hashed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["text_hash"]
    )


def stream_near_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    index_path: str,
    *,
    schema,
    max_files_per_trigger: int = 16,
    available_now: bool = False,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Start a file-source streaming near-dup curation job.

    Each micro-batch lands in ``<output>/batch_id=N`` annotated with
    ``dup_of`` (null ⇒ novel; the doc simultaneously joined the index)
    via ``ingest_batch_against_index``. Micro-batch N maps to index
    batch ``N + 1`` (index batch 0 is the initial ``write_minhash_index``
    full build of the landed corpus — run it before starting, or start
    against a virgin path: the ingest step treats an index where nothing
    has landed as empty, and the first batch's append creates it).

    At-least-once safety is inherited wholesale: the ingest step
    excludes its own index partitions during dedup and overwrites only
    them during append, and the output write targets the batch's own
    partition — a replayed batch reproduces its original decisions and
    files exactly. Single-writer contract: one stream per index path
    (concurrent writers would collide on index batch ids).

    ``compact_every=N`` runs ``compact_minhash_index`` after every Nth
    micro-batch, inside ``foreachBatch`` — exactly the between-batches
    maintenance window compaction requires — bounding the index at ~N
    batch partitions instead of one per trigger forever. The stream's
    own checkpoint gates the fold, so the still-uncommitted current
    batch is always retained with its replay-exclusion partition intact;
    only committed (never-replayed) batches merge into the base.
    """
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        ingest_batch_against_index,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.operators.index_maintenance import (
        compact_minhash_index,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.streaming.stream import (
        foreach_batch_stream,
    )

    def _process(batch_df, batch_id: int) -> None:
        session = batch_df.sparkSession
        annotated = ingest_batch_against_index(
            session, batch_df, index_path, batch_id=int(batch_id) + 1
        )
        annotated.write.mode("overwrite").parquet(
            f"{output_dir}/batch_id={batch_id}"
        )
        if compact_every and (int(batch_id) + 1) % compact_every == 0:
            compact_minhash_index(
                session, index_path, checkpoint_dir=checkpoint_dir
            )

    return foreach_batch_stream(
        spark, input_dir, checkpoint_dir, _process, schema=schema,
        max_files_per_trigger=max_files_per_trigger, available_now=available_now,
    )
