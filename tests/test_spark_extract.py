"""End-to-end Spark tests: goldens through mapInArrow, pipeline, resume."""

from pathlib import Path

import pytest

from tests import fixtures as fx
from tests.conftest import spans_df


def _collect_spans(df):
    out = {}
    for row in df.collect():
        out[row.doc_id] = [(s.kind, s.text, s.media_ref, s.order) for s in row.spans]
    return out


def test_golden_docs_through_spark(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        extract_spans,
    )

    docs = [doc for doc, _ in fx.GOLDEN_DOCS]
    result = _collect_spans(extract_spans(spans_df(spark, docs)))
    for doc, expected in fx.GOLDEN_DOCS:
        assert result[doc["doc_id"]] == expected, doc["doc_id"]


def test_out_of_order_offsets_are_sorted(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        extract_spans,
    )

    doc = dict(fx.TXT_001)
    doc["spans"] = list(reversed(doc["spans"]))
    result = _collect_spans(extract_spans(spans_df(spark, [doc])))
    assert result[doc["doc_id"]] == fx.TXT_001_EXPECTED


def test_salted_repartition_matches_narrow_plan(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        extract_spans,
    )

    docs = fx.random_corpus(60, seed=7)
    df = spans_df(spark, docs)
    narrow = _collect_spans(extract_spans(df))
    salted = _collect_spans(extract_spans(df, repartition=8))
    assert narrow == salted
    assert len(narrow) == 60


def test_salted_repartition_balances_clustered_input(spark):
    """A pathologically clustered input (every doc in one partition) must
    spread ~uniformly after the salted repartition."""
    from pyspark.sql import functions as F

    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        salted_repartition,
    )

    docs = fx.random_corpus(400, seed=11)
    clustered = spans_df(spark, docs).coalesce(1)
    assert clustered.rdd.getNumPartitions() == 1
    sizes = (
        salted_repartition(clustered, 8)
        .select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    assert len(counts) == 8  # no empty partitions (the pmod trap would leave ~1/e empty)
    assert max(counts) <= 2.5 * (400 / 8)


def test_pipeline_with_lineage_and_resume(spark, tmp_path):
    from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
        run_extraction_job,
    )

    docs = fx.random_corpus(30, seed=3)
    df = spans_df(spark, docs)
    out = str(tmp_path / "out")
    lineage = str(tmp_path / "lineage")
    metrics = str(tmp_path / "metrics")

    summary1 = run_extraction_job(
        spark, df, out, lineage_path=lineage, metrics_path=metrics
    )
    assert sum(m["docs"] for m in summary1["metrics"]) == 30
    assert spark.read.parquet(out).count() == 30

    # Second run over the same input: everything already committed → no-op.
    summary2 = run_extraction_job(
        spark, df, out, lineage_path=lineage, metrics_path=metrics
    )
    assert sum(m["docs"] for m in summary2["metrics"]) == 0
    assert spark.read.parquet(out).count() == 30

    # New documents appear → only they are processed.
    more = fx.random_corpus(40, seed=3)[30:]
    for i, d in enumerate(more):
        d["doc_id"] = f"late-{i:04d}"
    df3 = spans_df(spark, docs + more)
    summary3 = run_extraction_job(
        spark, df3, out, lineage_path=lineage, metrics_path=metrics
    )
    assert sum(m["docs"] for m in summary3["metrics"]) == 10
    assert spark.read.parquet(out).count() == 40

    # Per-partition lineage carries doc/span counts AND fold CPU time —
    # the skew signal the SURVEY risk register calls for.
    parts = spark.read.parquet(lineage + "_partitions")
    assert {"partition_id", "doc_count", "span_count", "cpu_us", "status", "run_id"} <= set(
        parts.columns
    )
    from pyspark.sql import functions as F

    row = parts.orderBy(F.desc("doc_count")).first()
    assert row.doc_count > 0 and row.cpu_us > 0


def _parquet_schema(path) -> str:
    """The Parquet schema of a table's first data file, nullability
    included (a Spark read reports every column nullable)."""
    import pyarrow.parquet as pq

    part = sorted(Path(path).glob("part-*.parquet"))[0]
    return pq.read_schema(part).to_string(show_schema_metadata=False)


def test_metrics_summary_equals_metrics_table_and_groupby(spark, tmp_path):
    """The summary, the metrics table and the partition lineage come from
    the tally the output write fills: the summary must be the same set of
    rows as the metrics table and as a fresh ``groupBy`` over the
    extracted frame, including an ``unknown_format`` group and a doc whose
    output is empty, and the lineage rows must equal a ``groupBy`` on
    ``spark_partition_id()``. Both tables keep their column names, order,
    types and nullability. Each holds with and without ``repartition``."""
    from pyspark.sql import functions as F

    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        extract_spans,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
        run_extraction_job,
    )

    docs = fx.random_corpus(24, seed=17) + [
        dict(fx.TXT_001, doc_id="mobi-001", fmt="mobi"),
        dict(fx.TXT_001, doc_id="txt-empty", spans=[]),
    ]
    df = spans_df(spark, docs)

    def as_set(rows, run_id=True):
        keys = ["fmt", "status", "docs", "docs_empty", "spans_out", "media_spans"]
        return {tuple(r[k] for k in keys + (["run_id"] if run_id else [])) for r in rows}

    for repartition in (None, 8):
        run_dir = tmp_path / str(repartition)
        out, lineage, metrics = (str(run_dir / n) for n in ("out", "lineage", "metrics"))

        summary = run_extraction_job(
            spark, df, out, lineage_path=lineage, metrics_path=metrics, repartition=repartition
        )
        table = spark.read.parquet(metrics).collect()
        assert as_set(summary["metrics"]) == as_set(table)
        assert len(summary["metrics"]) == len(table)
        assert {r["run_id"] for r in table} == {summary["run_id"]}
        extracted = extract_spans(df, repartition=repartition)
        grouped = (
            extracted.groupBy("fmt", "status")
            .agg(
                F.count("*").alias("docs"),
                F.sum(F.when(F.col("n_spans") == 0, 1).otherwise(0)).alias("docs_empty"),
                F.sum("n_spans").alias("spans_out"),
                F.sum("n_media").alias("media_spans"),
            )
            .collect()
        )
        assert as_set(summary["metrics"], run_id=False) == as_set(grouped, run_id=False)
        by_status = {(m["fmt"], m["status"]): m for m in summary["metrics"]}
        assert by_status[("mobi", "unknown_format")]["docs"] == 1
        assert by_status[("txt", "ok")]["docs_empty"] >= 1

        parts = spark.read.parquet(lineage + "_partitions").collect()
        per_partition = (
            extracted.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("doc_count"), F.sum("n_spans").alias("span_count"))
            .collect()
        )
        assert sorted((r.partition_id, r.doc_count, r.span_count) for r in parts) == sorted(
            tuple(r) for r in per_partition
        )
        assert all(r.cpu_us > 0 for r in parts)
        assert {(r.status, r.run_id) for r in parts} == {("committed", summary["run_id"])}

        # Each small table gets one file per run.
        for table_dir in (metrics, lineage + "_partitions"):
            assert len(list(Path(table_dir).glob("part-*.parquet"))) == 1
        assert _parquet_schema(metrics) == (
            "fmt: string not null\n"
            "status: string not null\n"
            "docs: int64 not null\n"
            "docs_empty: int64\n"
            "spans_out: int64\n"
            "media_spans: int64\n"
            "run_id: string not null"
        )
        assert _parquet_schema(lineage + "_partitions") == (
            "partition_id: int32 not null\n"
            "doc_count: int64 not null\n"
            "span_count: int64\n"
            "cpu_us: int64\n"
            "status: string not null\n"
            "run_id: string not null"
        )

        # A resumed no-op run tallies nothing and appends no rows.
        assert run_extraction_job(
            spark, df, out, lineage_path=lineage, metrics_path=metrics
        )["metrics"] == []
        assert spark.read.parquet(metrics).count() == len(table)
        assert spark.read.parquet(lineage + "_partitions").count() == len(parts)

        # Without a metrics sink the summary comes from the same tally.
        no_sink = run_extraction_job(
            spark, df, str(run_dir / "out_no_sink"), repartition=repartition
        )
        assert as_set(no_sink["metrics"], run_id=False) == as_set(summary["metrics"], run_id=False)


def test_partition_tally_merge_replaces_a_partition_entry():
    """The accumulator merge is exact and idempotent: a partition that
    reports twice (a retried or speculative task, a recomputed stage)
    counts once, and different partitions sum. No JVM."""
    from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
        _PartitionTally,
        _tally_rows,
    )

    p0 = {0: {("txt", "ok"): [3, 1, 10, 2, 50]}}
    p1 = {1: {("txt", "ok"): [2, 0, 4, 1, 20], ("mobi", "unknown_format"): [1, 1, 0, 0, 5]}}
    param = _PartitionTally()
    once, twice = param.zero({}), param.zero({})
    for update in (p0, p1):
        once = param.addInPlace(once, update)
    for update in (p0, p1, p0, p1, p0):
        twice = param.addInPlace(twice, update)
    assert once == twice

    metrics, lineage = _tally_rows(twice, "r1")
    assert metrics == [
        dict(fmt="mobi", status="unknown_format", docs=1, docs_empty=1, spans_out=0,
             media_spans=0, run_id="r1"),
        dict(fmt="txt", status="ok", docs=5, docs_empty=1, spans_out=14, media_spans=3,
             run_id="r1"),
    ]
    assert lineage == [
        dict(partition_id=0, doc_count=3, span_count=10, cpu_us=50, status="committed",
             run_id="r1"),
        dict(partition_id=1, doc_count=3, span_count=4, cpu_us=25, status="committed",
             run_id="r1"),
    ]
    assert _tally_rows(param.zero({}), "r2") == ([], [])


def test_extraction_job_runs_three_jobs(spark, tmp_path):
    """One pass: with both sinks a call runs exactly three Spark jobs (the
    output append, which runs the fold, then the metrics and lineage
    appends); with no sinks it runs one. The driver keeps no tally rows
    after a call."""
    from pyspark.accumulators import _accumulatorRegistry

    from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
        _PartitionTally,
        run_extraction_job,
    )

    sc = spark.sparkContext
    df = spans_df(spark, fx.random_corpus(20, seed=8))

    def jobs(group, **sinks):
        sc.setJobGroup(group, group)
        try:
            run_extraction_job(spark, df, str(tmp_path / group / "out"), **sinks)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(
        "both_sinks",
        lineage_path=str(tmp_path / "lineage"),
        metrics_path=str(tmp_path / "metrics"),
    ) == 3
    assert jobs("no_sinks") == 1
    tallies = [
        a._value for a in _accumulatorRegistry.values()
        if isinstance(a.accum_param, _PartitionTally)
    ]
    assert len(tallies) >= 2 and not any(tallies)


def test_documents_adapter_smoke(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        extract_spans,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.sources.tables import (
        documents_as_txt_spans,
    )

    df = documents_as_txt_spans(spark, "/root/testdata/sf0.001")
    out = extract_spans(df)
    rows = out.collect()
    assert len(rows) == 500
    assert all(r.status == "ok" for r in rows)


def test_arrow_eval_plan_no_rowwise_python(spark):
    """The physical plan must use Arrow-batched python (MapInArrow), never
    row-wise BatchEvalPython or pandas, and keep the scan pruned to
    contract columns."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        extract_spans,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.sources.tables import (
        documents_as_txt_spans,
    )

    plan = extract_spans(
        documents_as_txt_spans(spark, "/root/testdata/sf0.001")
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    # Column pruning must reach the parquet scan: only the adapter's two
    # source columns are read, not the whole documents table.
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_null_span_fields_are_tolerated(spark):
    """Lake-scale reality: null text/media_ref/kind inside span structs must
    not poison a task — nulls coerce to '' at the Arrow boundary and unknown
    kinds are ignored, status stays ok."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        extract_spans,
    )

    docs = [
        fx._doc(doc_id, fmt, fx._spans(rows), title=None, author=None)
        for doc_id, fmt, rows in [
            ("n1", "txt", [("line", None, None), ("line", "Real.", "")]),
            ("n2", "epub", [("section", None, ""), ("p", "Chapter 1", ""), ("p", "Body.", None)]),
            ("n3", "pdf", [(None, "x", "")]),
        ]
    ]
    out = {r.doc_id: r for r in extract_spans(spans_df(spark, docs)).collect()}
    assert all(r.status == "ok" for r in out.values())
    assert [(s.kind, s.text) for s in out["n1"].spans] == [("text", "Real.")]
    assert [(s.kind, s.text) for s in out["n2"].spans] == [("text", "Body.")]
    assert out["n3"].spans == []


def test_read_spans_source_json_and_csv_roundtrip(spark, tmp_path):
    """The spans contract reads identically from parquet, JSON-lines, and
    CSV-with-JSON-spans — extraction output matches across all three."""
    import json as jsonlib

    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        extract_spans,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.sources.tables import (
        read_spans_source,
    )

    docs = [doc for doc, _ in fx.GOLDEN_DOCS]
    base = spans_df(spark, docs)
    pq = str(tmp_path / "pq")
    base.write.parquet(pq)

    js = tmp_path / "js"
    js.mkdir()
    with open(js / "part.json", "w") as f:
        for d in docs:
            f.write(jsonlib.dumps({
                "doc_id": d["doc_id"], "fmt": d["fmt"],
                "title": d["title"], "author": d["author"],
                "spans": [
                    {"kind": k, "text": t, "media_ref": r, "offset": o}
                    for k, t, r, o in d["spans"]
                ],
            }) + "\n")

    import csv as csvlib
    cs = tmp_path / "cs"
    cs.mkdir()
    with open(cs / "part.csv", "w", newline="") as f:
        w = csvlib.writer(f)
        w.writerow(["doc_id", "fmt", "title", "author", "spans"])
        for d in docs:
            w.writerow([
                d["doc_id"], d["fmt"], d["title"], d["author"],
                jsonlib.dumps([
                    {"kind": k, "text": t, "media_ref": r, "offset": o}
                    for k, t, r, o in d["spans"]
                ]),
            ])

    def extract_map(df):
        return {
            r.doc_id: [(s.kind, s.text, s.media_ref, s.order) for s in r.spans]
            for r in extract_spans(df).collect()
        }

    from_pq = extract_map(read_spans_source(spark, pq))
    from_js = extract_map(read_spans_source(spark, str(js), source_format="json"))
    from_cs = extract_map(read_spans_source(spark, str(cs), source_format="csv"))
    assert from_pq == from_js == from_cs
    assert len(from_pq) == len(docs)


def test_catalog_mode_routes_writes_through_writeto_append(spark, monkeypatch):
    """--catalog mode must issue writeTo(table).append() for every sink
    (output, metrics, partition lineage), output first — the Iceberg
    snapshot-commit path — with the parquet branch untouched."""
    from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
        run_extraction_job,
    )

    appended = []

    class FakeWriter:
        def __init__(self, df, table):
            self.df, self.table = df, table

        def append(self):
            appended.append((self.table, self.df.count()))

    # Patch the RUNTIME DataFrame class (pyspark.sql.DataFrame is an ABC in
    # Spark 4; the classic subclass defines its own writeTo).
    runtime_cls = type(spark.range(1))
    monkeypatch.setattr(
        runtime_cls, "writeTo", lambda self, table: FakeWriter(self, table), raising=True
    )
    # No real catalog in the sandbox: resume reads against `lake.db.*`
    # raise a namespace config error (which the strict read deliberately
    # propagates in production). This test checks WRITE routing only.
    from ebook_conversion_to_text_for_machine_learning_spark.plans import pipeline

    monkeypatch.setattr(
        pipeline, "_read_table_or_none", lambda spark, path, catalog: None
    )

    docs = fx.random_corpus(10, seed=5)
    summary = run_extraction_job(
        spark,
        spans_df(spark, docs),
        "lake.db.extracted",
        lineage_path="lake.db.lineage",
        metrics_path="lake.db.metrics",
        catalog=True,
    )
    assert sum(m["docs"] for m in summary["metrics"]) == 10
    tables = [t for t, _ in appended]
    assert tables == [
        "lake.db.extracted",
        "lake.db.metrics",
        "lake.db.lineage_partitions",
    ]
    assert appended[0][1] == 10  # all docs written to the output table


def test_read_table_or_none_only_forgives_nothing_landed(spark, tmp_path):
    """The one "nothing landed yet" reader (pipeline resume, CLI seen
    hashes, streaming seen sidecar): a missing path and a dir holding
    only a killed write's ``_temporary/`` read as None; a dir whose data
    file is not parquet must raise — forgiving it would disable the
    anti-join and re-append the whole corpus."""
    from py4j.protocol import Py4JJavaError

    from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
        _read_table_or_none,
    )

    assert _read_table_or_none(spark, str(tmp_path / "missing"), False) is None

    killed = tmp_path / "killed"
    (killed / "_temporary" / "0").mkdir(parents=True)
    (killed / "_temporary" / "0" / "part-00000.parquet").write_bytes(b"partial")
    assert _read_table_or_none(spark, str(killed), False) is None

    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError):  # footer read fails, not AnalysisException
        _read_table_or_none(spark, str(corrupt), False)


def test_salted_repartition_levels_giant_document_skew(spark):
    """Stress golden for the SURVEY risk register: a cluster of giant
    documents co-located in one input partition must (a) be visible in the
    per-partition cpu_us lineage and (b) be leveled by salted_repartition.
    """
    from pyspark.sql import functions as SF

    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        extract_spans,
        salted_repartition,
    )

    def doc(doc_id, n_lines, width):
        rows = [("line", f"line {i} " + "w" * width, "") for i in range(n_lines)]
        return fx._doc(doc_id, "txt", fx._spans(rows), title=None, author=None)

    giants = [doc(f"giant-{i}", 4000, 60) for i in range(8)]
    tiny = [doc(f"tiny-{i:04d}", 1, 5) for i in range(2000)]
    # Giants first + coalesce(4): all giants land in input partition 0 —
    # the "all the big PDFs came from one source split" shape.
    df = spans_df(spark, giants + tiny).coalesce(4)

    def per_partition(extracted):
        rows = (
            extracted.groupBy(SF.spark_partition_id().alias("pid"))
            .agg(
                SF.sum("elapsed_us").alias("cpu_us"),
                SF.sum(SF.when(SF.col("doc_id").startswith("giant"), 1).otherwise(0)).alias("giants"),
            )
            .collect()
        )
        return {r.pid: (r.cpu_us, r.giants) for r in rows}

    before = per_partition(extract_spans(df))
    # Skew is observable: one partition holds every giant and the lineage
    # cpu_us signal flags it (≥ half the total fold time).
    giant_parts_before = [p for p, (_, g) in before.items() if g > 0]
    assert len(giant_parts_before) == 1
    skewed = giant_parts_before[0]
    total_before = sum(c for c, _ in before.values())
    assert before[skewed][0] >= 0.5 * total_before

    after = per_partition(extract_spans(df, repartition=8))
    # xxhash64(doc_id) is deterministic: the 8 giants spread across ≥3
    # partitions, and no partition keeps the whole cluster.
    giant_spread = [g for _, g in after.values() if g > 0]
    assert len(giant_spread) >= 3
    assert max(giant_spread) < 8
    # The hot partition's fold time drops materially once leveled.
    assert max(c for c, _ in after.values()) <= 0.6 * before[skewed][0]


def test_resume_consults_output_table_across_crash_window(spark, tmp_path):
    """The output append is the commit point: a crash after it leaves the
    run's metrics and partition lineage missing, and the restart must read
    the output table itself and NOT re-append its documents."""
    import shutil

    from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
        run_extraction_job,
    )

    docs = fx.random_corpus(20, seed=9)
    df = spans_df(spark, docs)
    out, lineage, metrics = (str(tmp_path / n) for n in ("out", "lineage", "metrics"))

    run_extraction_job(spark, df, out, lineage_path=lineage, metrics_path=metrics)
    assert spark.read.parquet(out).count() == 20

    # Simulate the crash window: output committed, the later sinks lost.
    shutil.rmtree(metrics)
    shutil.rmtree(lineage + "_partitions")
    summary = run_extraction_job(spark, df, out, lineage_path=lineage, metrics_path=metrics)
    assert sum(m["docs"] for m in summary["metrics"]) == 0
    assert spark.read.parquet(out).count() == 20  # no duplicates


def test_resume_after_killed_first_output_write(spark, tmp_path):
    """A first run killed inside the output write leaves only
    ``_temporary/`` in the output dir — an uncommitted task attempt and a
    committed task dir holding real output rows, which the next append's
    job commit would merge into the output. Nothing landed, so the rerun
    processes every document exactly once."""
    import shutil

    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        extract_spans,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
        run_extraction_job,
    )

    docs = fx.random_corpus(15, seed=4)
    attempt = tmp_path / "out" / "_temporary" / "0" / "_temporary" / "attempt_0"
    attempt.mkdir(parents=True)
    (attempt / "part-00000.parquet").write_bytes(b"partial")
    killed = tmp_path / "killed"
    (
        extract_spans(spans_df(spark, docs[:5]))
        .select("doc_id", "fmt", "spans")
        .coalesce(1)
        .write.parquet(str(killed))
    )
    task = tmp_path / "out" / "_temporary" / "0" / "task_202610190000_0000_m_000000"
    task.mkdir(parents=True)
    for part in killed.glob("part-*.parquet"):
        shutil.copy(part, task / part.name)
    out = str(tmp_path / "out")
    df = spans_df(spark, docs)

    summary = run_extraction_job(spark, df, out, lineage_path=str(tmp_path / "lineage"))
    assert sum(m["docs"] for m in summary["metrics"]) == 15
    written = spark.read.parquet(out)
    assert written.count() == written.select("doc_id").distinct().count() == 15


def test_rerun_without_lineage_appends_nothing(spark, tmp_path):
    """``lineage_path`` switches nothing: a rerun into the same output with
    no lineage path resumes from the output table like any other."""
    from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
        run_extraction_job,
    )

    df = spans_df(spark, fx.random_corpus(12, seed=6))
    out = str(tmp_path / "out")
    assert sum(m["docs"] for m in run_extraction_job(spark, df, out)["metrics"]) == 12
    assert run_extraction_job(spark, df, out)["metrics"] == []
    assert spark.read.parquet(out).count() == 12


def test_unreadable_output_table_fails_the_job(spark, tmp_path):
    """An output dir whose data file is not parquet must fail the job
    before anything lands: reading it as "no output" would silently
    re-append every committed document."""
    from py4j.protocol import Py4JJavaError

    from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
        run_extraction_job,
    )

    out = tmp_path / "out"
    out.mkdir()
    (out / "part-00000.parquet").write_bytes(b"not a parquet file")
    df = spans_df(spark, fx.random_corpus(5, seed=3))
    with pytest.raises(Py4JJavaError):
        run_extraction_job(
            spark, df, str(out),
            lineage_path=str(tmp_path / "lineage"), metrics_path=str(tmp_path / "metrics"),
        )
    assert not (tmp_path / "metrics").exists()
    assert not (tmp_path / "lineage_partitions").exists()
