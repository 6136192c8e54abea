"""The per-layer metric names a traced run reports, and how each is filled.

Seven spans around calls into the engine's public functions carry the 16
``statusstore.SPAN_FIELDS`` each; eleven more metrics stand alone. Every
workload reports all of them: a span the workload never calls reads 0, so
the "flat on" workloads of each layer are visible in the same table.
"""

from __future__ import annotations

from perfbench.statusstore import SPAN_FIELDS

SPANS = (
    "plans.pipeline.run_extraction_job",
    "operators.extract.extract_spans",
    "operators.dedup.ingest_batch_against_index",
    "operators.index_maintenance.compact_minhash_index",
    "operators.similarity.ivfpq_topk",
    "operators.similarity.append_to_ann_index",
    "operators.similarity.append_to_pq_index",
)

#: Setup spans reported by their wall time alone.
SETUP_SPANS = (
    "session.build_session",
    "operators.dedup.write_minhash_index",
    "operators.similarity.write_ann_index",
    "operators.similarity.write_pq_index",
)

#: Python worker start time summed over every Spark job of the set-up
#: (index builds and warm-up calls). The warm-up calls start the workers,
#: so the timed spans' own ``python_boot_s`` reads about 0 and this is
#: where a change to worker start-up shows.
SETUP_BOOT = "setup.python_boot_s"

#: Metrics the workloads compute themselves (``Workload.layer``).
STANDALONE = {
    "core.extract_document.us_per_doc": "us",
    "core.fold_cpu_s": "s",
    "operators.dedup.dups_intra": "count",
    "operators.dedup.dups_index": "count",
    "operators.dedup.novel": "count",
    "operators.index_maintenance.batch_partitions_max": "count",
}


def names() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {f"{span}.{field}": unit for span in SPANS for field, unit in SPAN_FIELDS.items()}
    out.update({f"{span}.wall_s": "s" for span in SETUP_SPANS})
    out[SETUP_BOOT] = "s"
    out.update(STANDALONE)
    return out


def layer_metrics(snapshot, tracer, standalone: dict) -> dict[str, tuple[float, str]]:
    values: dict[str, float] = {}
    for span in SPANS:
        instances = [
            (tracer.job_group(s["id"]), s["start"], s["end"]) for s in tracer.named(span)
        ]
        for field, value in snapshot.span_metrics(instances).items():
            values[f"{span}.{field}"] = value
    for span in SETUP_SPANS:
        values[f"{span}.wall_s"] = sum(tracer.durations(span))
    (setup,) = tracer.named("setup")
    values[SETUP_BOOT] = snapshot.python_boot_s(
        [tracer.job_group(s["id"]) for s in tracer.subtree(setup["id"])]
    )
    values.update(standalone)
    return {name: (float(values.get(name, 0.0)), unit) for name, unit in names().items()}
