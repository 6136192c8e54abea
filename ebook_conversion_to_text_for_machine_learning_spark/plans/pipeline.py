"""The full extraction job: read → (resume filter) → extract → write +
lineage + metrics (SURVEY.md §3.4, BASELINE.json north_rule).

Checkpoint/resume is engine-level so the Parquet fallback and the Iceberg
snapshot path share one code path: every committed run appends per-partition
``lineage`` rows; a restart left-anti-joins the input against the lineage
table's completed ``doc_id``s (broadcast when small — Catalyst/AQE decides)
and only processes the remainder. On Iceberg the same append is a single
atomic snapshot commit per run.

Metrics come from one ``groupBy`` over the extraction output — partial
(map-side) aggregation is free from Catalyst, so the agg adds one small
shuffle over ~|formats|×|statuses| groups, never over documents. That
aggregate is appended straight to the metrics sink, and the returned
summary is an ``Observation`` on that same write: no separate collect
job and no rebuild of the rows from Python (a plain ``collect`` when
there is no metrics sink).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
    extract_spans,
)


def _append(df: DataFrame, target: str, catalog: bool) -> None:
    """One write shape for both sinks: ``writeTo().append()`` is a single
    atomic Iceberg snapshot commit when a catalog is configured; the
    parquet dir append is the sandbox fallback."""
    if catalog:
        df.writeTo(target).append()
    else:
        df.write.mode("append").parquet(target)


def _nothing_landed(ex: Exception) -> bool:
    """True only for the "nothing landed yet" read failures: a missing
    path or table, or an existing dir with no committed data files (e.g.
    only ``_temporary/`` from a killed first write). Neither can hold
    rows. Any OTHER failure (transient store error, corrupt footer) must
    propagate: treating it as "first run" would silently disable a
    resume or seen-set anti-join and re-append the whole corpus as
    duplicates."""
    msg = str(ex)
    return any(
        cond in msg
        for cond in (
            "PATH_NOT_FOUND", "TABLE_OR_VIEW_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"
        )
    )


def _read_table_or_none(spark: SparkSession, path: str, catalog: bool):
    """Read a sink table (catalog table or parquet dir), returning None
    only when ``_nothing_landed``."""
    from pyspark.errors import AnalysisException

    try:
        if catalog:
            return spark.read.table(path)
        return spark.read.parquet(path)
    except AnalysisException as ex:
        if not _nothing_landed(ex):
            raise
        return None


def resume_filter(
    input_df: DataFrame,
    lineage_df: DataFrame | None,
    committed_output: DataFrame | None = None,
) -> DataFrame:
    """Drop documents already committed by a previous run (left anti join).

    ``committed_output`` (the output table itself, doc_id column) closes
    the output-committed-but-lineage-missing crash window: the output
    append and the lineage append are separate snapshot commits, so a
    crash between them leaves documents in output with no lineage row —
    consulting both makes the restart exact instead of at-least-once.
    """
    done_parts = []
    if lineage_df is not None:
        done_parts.append(
            lineage_df.where(F.col("status") == "committed").select("doc_id")
        )
    if committed_output is not None:
        done_parts.append(committed_output.select("doc_id"))
    if not done_parts:
        return input_df
    done = done_parts[0]
    for part in done_parts[1:]:
        done = done.unionByName(part)
    return input_df.join(done.distinct(), "doc_id", "left_anti")


def run_extraction_job(
    spark: SparkSession,
    input_df: DataFrame,
    output_path: str,
    *,
    lineage_path: str | None = None,
    metrics_path: str | None = None,
    repartition: int | None = None,
    catalog: bool = False,
) -> dict:
    """Execute the pipeline, returning the metrics summary.

    With ``catalog=False`` (sandbox default) ``output_path``/
    ``lineage_path``/``metrics_path`` are parquet dirs; with
    ``catalog=True`` they are catalog table names (e.g.
    ``lake.db.extracted``) and every append is an atomic
    ``writeTo(...).append()`` Iceberg snapshot commit. The resume
    left-anti join reads committed doc_ids from BOTH the lineage table
    and the output table itself (the two appends are separate snapshot
    commits, so either alone leaves a crash window) — a restart is exact,
    not best-effort. Tables are created once with the DDL in
    ``sources/tables.py``.
    """
    run_id = uuid.uuid4().hex
    started = time.time()

    lineage_df = None
    committed_output = None
    if lineage_path:
        lineage_df = _read_table_or_none(spark, lineage_path, catalog)
        # Resume also consults what actually landed in the OUTPUT table —
        # doc_id only, a column-pruned scan — so the crash window between
        # the output append and the lineage commit cannot duplicate rows.
        # Only "nothing landed yet" reads as no output; any other read
        # failure propagates, since ignoring it would silently turn the
        # exact resume into an at-least-once one.
        committed_output = _read_table_or_none(spark, output_path, catalog)

    todo = resume_filter(input_df, lineage_df, committed_output)
    extracted = extract_spans(todo, repartition=repartition)
    # localCheckpoint, NOT persist: the resume anti-join scans output_path,
    # and our own output append fires refreshByPath(output_path), which
    # DROPS any cache whose plan references that path — the metrics and
    # lineage jobs would then silently recompute against the post-append
    # table and see none of this run's documents. Checkpointing severs the
    # plan from the path entirely (swap in reliable checkpoint() with a
    # checkpoint dir for multi-hour production runs, where an executor
    # loss should recompute from durable storage rather than fail).
    # Checkpointed blocks are released by the ContextCleaner once
    # ``extracted`` goes out of scope; nothing to unpersist.
    extracted = extracted.localCheckpoint()
    _append(extracted.select("doc_id", "fmt", "spans"), output_path, catalog)

    # Metrics counters (docs in/dropped, chapters, media, per format).
    # Written BEFORE the lineage append: writing into lineage_path
    # invalidates any cached plan that reads it (the resume anti-join),
    # and a recompute after the append would see its own commit. The
    # summary rides on the sink write as an observed metric over its
    # ≤|formats|×|statuses| rows — no separate collect job.
    metrics_rows = (
        extracted.groupBy("fmt", "status")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.when(F.col("n_spans") == 0, 1).otherwise(0)).alias("docs_empty"),
            F.sum("n_spans").alias("spans_out"),
            F.sum("n_media").alias("media_spans"),
        )
        .withColumn("run_id", F.lit(run_id))
    )
    if metrics_path:
        observed = Observation()
        _append(
            metrics_rows.observe(
                observed, F.collect_list(F.struct(*metrics_rows.columns)).alias("rows")
            ),
            metrics_path,
            catalog,
        )
        collected = observed.get["rows"]
    else:
        collected = metrics_rows.collect()
    metrics = [row.asDict() for row in collected]

    # Per-partition lineage: partition id, doc/span counts, commit id.
    # Written LAST — committing lineage marks the run complete, so a
    # crash before this point simply reprocesses the run's documents.
    lineage = (
        extracted.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("n_spans").alias("span_count"),
            # Fold CPU time per partition — the skew signal that matters
            # (doc_count alone hides a partition of giant PDFs).
            F.sum("elapsed_us").alias("cpu_us"),
        )
        .withColumn("status", F.lit("committed"))
        .withColumn("run_id", F.lit(run_id))
    )
    doc_lineage = extracted.select(
        "doc_id",
        F.lit("committed").alias("status"),
        F.lit(run_id).alias("run_id"),
    )
    if lineage_path:
        # Partition stats first: the doc_lineage append into lineage_path
        # is the commit point and also invalidates the cached plan.
        _append(lineage, lineage_path + "_partitions", catalog)
        _append(doc_lineage, lineage_path, catalog)

    return {
        "run_id": run_id,
        "elapsed_sec": time.time() - started,
        "metrics": metrics,
    }
