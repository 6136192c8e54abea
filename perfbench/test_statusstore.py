"""Self-test of the benchmark's status-store reader and span bookkeeping.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from perfbench.statusstore import RETENTION_CONF, StatusStoreReader, parse_sql_metric
from perfbench.tracing import Tracer, covered_seconds

ROOT = Path(__file__).resolve().parent.parent


def test_parse_sql_metric_units():
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n3.4 MiB (1 KiB, 2 KiB)") == 3.4 * 2**20
    assert parse_sql_metric("830 ms") == pytest.approx(0.83)
    assert parse_sql_metric("total (min, med, max)\n1.5 m (1 s, 2 s, 3 s)") == 90.0
    assert parse_sql_metric("200,000") == 200000.0
    assert parse_sql_metric("0.0 B") == 0.0
    with pytest.raises(ValueError):
        parse_sql_metric("12 parsecs")


def test_covered_seconds_merges_and_clips():
    assert covered_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered_seconds([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered_seconds([], 0, 10) == 0


def test_self_time_subtracts_children():
    tracer = Tracer("w", "r")
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    outer, inner = tracer.spans
    self_time = tracer.self_times()
    assert inner["parent"] == outer["id"]
    assert self_time[outer["id"]] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"])
    )


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from ebook_conversion_to_text_for_machine_learning_spark.session import build_session

    session = build_session(
        app_name="perfbench-selftest",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false", **RETENTION_CONF},
    )
    yield session
    session.stop()


def test_spans_read_their_own_python_and_shuffle_metrics(spark):
    from pyspark.sql import functions as F

    tracer = Tracer("selftest", "r")
    df = spark.range(20000).selectExpr("id", "cast(id as string) AS s")

    def passthrough(batches):
        yield from batches

    with tracer.span("python"):
        # Tagging starts inside an open span and covers that span too.
        tracer.tag_jobs(spark.sparkContext)
        df.mapInArrow(passthrough, df.schema).write.mode("overwrite").format("noop").save()
    with tracer.span("shuffle"):
        spark.range(20000).groupBy((F.col("id") % 7).alias("k")).count().collect()

    snap = StatusStoreReader(spark).snapshot()

    def metrics(name):
        return snap.span_metrics(
            [(tracer.job_group(s["id"]), s["start"], s["end"]) for s in tracer.named(name)]
        )

    py, sh = metrics("python"), metrics("shuffle")
    assert py["python_s"] > 0 and py["python_bytes"] > 0
    # The session's first Python job starts its workers.
    (py_span,) = tracer.named("python")
    assert py["python_boot_s"] > 0
    assert snap.python_boot_s([tracer.job_group(py_span["id"])]) == py["python_boot_s"]
    assert sh["shuffle_bytes"] > 0
    # Nothing leaks across job groups.
    assert py["shuffle_bytes"] == 0
    assert sh["python_s"] == 0 and sh["python_bytes"] == 0 and sh["python_boot_s"] == 0
    for m in (py, sh):
        assert m["spark_jobs"] >= 1 and m["tasks"] >= 1
        assert 0 <= m["driver_s"] <= m["wall_s"]
        assert 0 < m["task_s_p50"] <= m["task_s_max"]
    # A span that launched no job reads zero everywhere but its own wall.
    with tracer.span("idle"):
        pass
    idle = StatusStoreReader(spark).snapshot().span_metrics(
        [(tracer.job_group(s["id"]), s["start"], s["end"]) for s in tracer.named("idle")]
    )
    assert idle["spark_jobs"] == 0 and idle["driver_s"] == idle["wall_s"]
