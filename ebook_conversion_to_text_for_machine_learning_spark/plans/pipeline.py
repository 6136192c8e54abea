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

The fold runs once per call, inside the output append: its plan is
``todo → select → [salted_repartition] → mapInArrow → select(doc_id, fmt,
spans)``, with no checkpoint and no shuffle unless ``repartition`` asks
for one. The kernel yields the operator's batches unchanged and adds each
one, with one Arrow ``group_by``, into its partition's tally:
``(fmt, status) → [docs, docs_empty, spans_out, media_spans, cpu_us]``.
At the end of the partition it reports that tally through one
accumulator, keyed by partition id. The merge REPLACES a partition's
entry rather than adding to it, so a task that runs again (retry,
speculation, a recomputed stage) cannot double count; a partition with
no documents reports nothing.

The metrics rows and the per-partition lineage rows are sums over those
tallies, built on the driver after the commit point and appended as one
small Arrow-built frame each, in the order output → metrics → lineage.
The returned summary is the same metrics rows, with or without a
metrics sink.
"""

from __future__ import annotations

import time
import uuid

from pyspark import AccumulatorParam, TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
    _extract_arrow_batches,
    _map_extract,
)
from ebook_conversion_to_text_for_machine_learning_spark.operators.index_maintenance import (
    _delete_dir,
    has_landed,
)


#: One row per ``(fmt, status)`` of a run.
METRICS_SCHEMA = StructType(
    [
        StructField("fmt", StringType(), False),
        StructField("status", StringType(), False),
        StructField("docs", LongType(), False),
        StructField("docs_empty", LongType()),
        StructField("spans_out", LongType()),
        StructField("media_spans", LongType()),
        StructField("run_id", StringType(), False),
    ]
)

#: ``<lineage>_partitions``: one row per fold partition that held documents.
LINEAGE_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType(), False),
        StructField("doc_count", LongType(), False),
        StructField("span_count", LongType()),
        # Fold CPU time per partition — the skew signal that matters
        # (doc_count alone hides a partition of giant PDFs).
        StructField("cpu_us", LongType()),
        StructField("status", StringType(), False),
        StructField("run_id", StringType(), False),
    ]
)


#: A tally's counters ``[docs, docs_empty, spans_out, media_spans,
#: cpu_us]`` as Arrow ``group_by`` aggregates over one output batch.
_TALLY_AGGREGATES = (
    ("n_spans", "count"),
    ("empty", "sum"),
    ("n_spans", "sum"),
    ("n_media", "sum"),
    ("elapsed_us", "sum"),
)


class _PartitionTally(AccumulatorParam):
    """``{partition_id: {(fmt, status): [docs, docs_empty, spans_out,
    media_spans, cpu_us]}}``, one entry per fold partition. A merge
    replaces a partition's entry: every report is that partition's whole
    tally, so a task that runs again overwrites, never adds."""

    def zero(self, value):
        return {}

    def addInPlace(self, tallies, update):
        tallies.update(update)
        return tallies


def _tallying(tally):
    """``_extract_arrow_batches`` with each output batch added into its
    partition's tally (one Arrow ``group_by`` per batch, no per-span
    work), reported to ``tally`` once the partition is done."""

    def extract_and_tally(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        groups: dict = {}
        for batch in _extract_arrow_batches(batches):
            n_spans = batch.column("n_spans")
            per_group = (
                pa.table(
                    {
                        "fmt": batch.column("fmt"),
                        "status": batch.column("status"),
                        "empty": pc.equal(n_spans, 0).cast(pa.int64()),
                        "n_spans": n_spans,
                        "n_media": batch.column("n_media"),
                        "elapsed_us": batch.column("elapsed_us"),
                    }
                )
                .group_by(["fmt", "status"])
                .aggregate(list(_TALLY_AGGREGATES))
            )
            for g in per_group.to_pylist():
                key = (g["fmt"], g["status"])
                counts = [g[f"{c}_{agg}"] for c, agg in _TALLY_AGGREGATES]
                groups[key] = [a + b for a, b in zip(groups.get(key, (0,) * 5), counts)]
            yield batch
        if groups:
            tally.add({TaskContext.get().partitionId(): groups})

    return extract_and_tally


def _tallied_output(todo: DataFrame, repartition: int | None):
    """The output table's frame for ``todo`` — ``doc_id, fmt, spans`` of
    the operator's one ``mapInArrow`` — and the accumulator its write
    fills with the per-partition tallies."""
    tally = todo.sparkSession.sparkContext.accumulator({}, _PartitionTally())
    extracted = _map_extract(todo, _tallying(tally), repartition)
    return extracted.select("doc_id", "fmt", "spans"), tally


def _tally_rows(tallies: dict, run_id: str) -> tuple[list[dict], list[dict]]:
    """The run's metrics rows and partition-lineage rows: sums over the
    per-partition tallies."""
    metrics: dict = {}
    lineage = []
    for partition_id, groups in sorted(tallies.items()):
        for key, counts in groups.items():
            metrics[key] = [a + b for a, b in zip(metrics.get(key, (0,) * 5), counts)]
        docs, _, spans, _, cpu_us = (sum(c) for c in zip(*groups.values()))
        lineage.append(
            dict(partition_id=partition_id, doc_count=docs, span_count=spans, cpu_us=cpu_us,
                 status="committed", run_id=run_id)
        )
    metric_rows = [
        dict(fmt=fmt, status=status, docs=docs, docs_empty=empty, spans_out=spans,
             media_spans=media, run_id=run_id)
        for (fmt, status), (docs, empty, spans, media, _) in sorted(metrics.items())
    ]
    return metric_rows, lineage


def _rows_frame(spark: SparkSession, rows: list[dict], schema: StructType) -> DataFrame:
    """Driver-side rows → a one-partition DataFrame through one Arrow table.
    A list-built frame would go through a Python RDD, several times slower
    per append; one partition makes each append one task writing one file,
    where the default parallelism would spread a handful of rows over up
    to one small file per core."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table({name: [r[name] for r in rows] for name in schema.names}), schema
    ).coalesce(1)


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
    nothing. The output append is the commit point and the only job that
    runs the fold; it also fills the per-partition tally (exactly once
    per partition: a rerun task replaces its partition's entry). The
    metrics append and the per-partition lineage append follow it, in
    that order, each one small frame built from the tally on the driver,
    so a crash between them leaves the run's documents committed (never
    reprocessed) and its metrics and partition rows missing. The summary
    is built from the same tally, with or without a metrics sink.
    ``lineage_path`` only names the partition-lineage table
    (``lineage_path + "_partitions"``); it switches nothing else.

    Precondition: one writer per output at a time. On Parquet the append
    first deletes the output's ``_temporary/`` — a killed job's leftovers,
    whose committed task files the append's job commit would otherwise
    merge into the output — and would delete a live writer's as well.
    """
    run_id = uuid.uuid4().hex
    started = time.monotonic()

    # doc_id only, a column-pruned scan. Only "nothing landed yet" reads
    # as no output; any other read failure propagates, since ignoring it
    # would silently re-append every committed document.
    committed_output = _read_table_or_none(spark, output_path, catalog)
    todo = resume_filter(input_df, committed_output)
    output, tally = _tallied_output(todo, repartition)
    # The commit point: once this lands, a rerun skips these documents.
    # It is the one job that runs the fold; the tally is complete when it
    # returns.
    if not catalog:
        _delete_dir(spark, f"{output_path.rstrip('/')}/_temporary")
    _append(output, output_path, catalog)

    # After the commit point: a crash before these appends loses this
    # run's metrics and partition rows, never its documents.
    # PySpark's driver keeps every accumulator for the life of the
    # process: take the tally out, so a long-lived driver holds no
    # per-partition rows of past calls.
    tallies, tally.value = tally.value, {}
    metrics, lineage = _tally_rows(tallies, run_id)
    if metrics_path:
        _append(_rows_frame(spark, metrics, METRICS_SCHEMA), metrics_path, catalog)
    if lineage_path:
        _append(_rows_frame(spark, lineage, LINEAGE_SCHEMA), lineage_path + "_partitions", catalog)

    return {
        "run_id": run_id,
        "elapsed_sec": time.monotonic() - started,
        "metrics": metrics,
    }
