"""The full extraction job: read → resume filter → extract → write output +
metrics + partition lineage (SURVEY.md §3.4, BASELINE.json north_rule).

The output table is the job's one commit record. Checkpoint/resume is
engine-level so the Parquet fallback and the Iceberg snapshot path share
one code path: every call left-anti-joins the input against the
``doc_id``s already in the output table (broadcast when small —
Catalyst/AQE decides) and only processes the remainder. The output append
is the commit point: on Iceberg a single atomic snapshot commit per run;
on Parquet a killed write leaves only ``_temporary/``, which reads as
nothing landed and is cleared before the next append (its committer
would otherwise merge the killed job's committed task files into the
output).

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
from ebook_conversion_to_text_for_machine_learning_spark.operators.index_maintenance import (
    _delete_dir,
    has_landed,
)


def _append(df: DataFrame, target: str, catalog: bool) -> None:
    """One write shape for both sinks: ``writeTo().append()`` is a single
    atomic Iceberg snapshot commit when a catalog is configured; the
    parquet dir append is the sandbox fallback."""
    if catalog:
        df.writeTo(target).append()
    else:
        df.write.mode("append").parquet(target)


def _read_table_or_none(spark: SparkSession, path: str, catalog: bool):
    """Read a sink table (catalog table or parquet dir), returning None
    only when nothing has landed yet: a missing table, or a parquet path
    with no committed data file (``has_landed``, a listing — e.g. only
    ``_temporary/`` from a killed first write). Any read failure of a
    table that exists propagates: treating it as "first run" would
    silently disable a resume or seen-set anti-join and re-append the
    whole corpus as duplicates."""
    if catalog:
        return spark.read.table(path) if spark.catalog.tableExists(path) else None
    return spark.read.parquet(path) if has_landed(spark, path) else None


def resume_filter(input_df: DataFrame, committed_output: DataFrame | None) -> DataFrame:
    """Drop documents already in the output table: one left anti join on
    its ``doc_id``. No ``distinct`` in front of it — an anti join keeps a
    row iff nothing matches, so duplicate committed ids change nothing."""
    if committed_output is None:
        return input_df
    return input_df.join(committed_output.select("doc_id"), "doc_id", "left_anti")


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

    With ``catalog=False`` (sandbox default) ``output_path``,
    ``metrics_path`` and ``lineage_path + "_partitions"`` are parquet
    dirs; with ``catalog=True`` they are names of existing catalog tables
    (e.g. ``lake.db.extracted``) and every append is an atomic
    ``writeTo(...).append()`` Iceberg snapshot commit.

    Every call resumes: documents whose ``doc_id`` is already in the
    output table are skipped, so a rerun over the same input appends
    nothing. The output append is the commit point; the metrics append and
    the per-partition lineage append follow it, so a crash between them
    leaves the run's documents committed (never reprocessed) and its
    metrics and partition rows missing. ``lineage_path`` only names the
    partition-lineage table (``lineage_path + "_partitions"``); it
    switches nothing else.

    Precondition: one writer per output at a time. On Parquet the append
    first deletes the output's ``_temporary/`` — a killed job's leftovers,
    whose committed task files the append's job commit would otherwise
    merge into the output — and would delete a live writer's as well.
    """
    run_id = uuid.uuid4().hex
    started = time.time()

    # doc_id only, a column-pruned scan. Only "nothing landed yet" reads
    # as no output; any other read failure propagates, since ignoring it
    # would silently re-append every committed document.
    committed_output = _read_table_or_none(spark, output_path, catalog)
    todo = resume_filter(input_df, committed_output)
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
    # The commit point: once this lands, a rerun skips these documents.
    if not catalog:
        _delete_dir(spark, f"{output_path.rstrip('/')}/_temporary")
    _append(extracted.select("doc_id", "fmt", "spans"), output_path, catalog)

    # Metrics counters (docs in/dropped, chapters, media, per format). The
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
    # Written last, after the commit point: a crash before it loses this
    # run's partition rows, never its documents.
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
    if lineage_path:
        _append(lineage, lineage_path + "_partitions", catalog)

    return {
        "run_id": run_id,
        "elapsed_sec": time.time() - started,
        "metrics": metrics,
    }
