"""Streaming extraction: availableNow drain over landed parquet files."""

from tests import fixtures as fx
from tests.conftest import spans_df


def test_windowed_event_counts_match_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    from ebook_conversion_to_text_for_machine_learning_spark.streaming.windowed import (
        start_memory_sink,
        windowed_event_counts,
    )

    # The streaming file source needs a directory, not a single file.
    path = str(tmp_path / "events_dir")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(path)
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    query = start_memory_sink(windowed_event_counts(stream), "win_counts")
    try:
        query.processAllAvailable()
        streamed = spark.sql(
            "SELECT event_type, sum(n_events) AS n FROM win_counts GROUP BY event_type"
        ).collect()
    finally:
        query.stop()
    batch = (
        spark.read.parquet(path).groupBy("event_type").agg(F.count("*").alias("n")).collect()
    )
    assert {(r.event_type, r.n) for r in streamed} == {(r.event_type, r.n) for r in batch}


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState accumulates per-format totals across batches."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        extract_spans,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.streaming.stateful import (
        running_extraction_totals,
    )

    docs = [doc for doc, _ in fx.GOLDEN_DOCS]
    in_dir = str(tmp_path / "in")
    spans_df(spark, docs).write.parquet(in_dir)

    schema = spark.read.parquet(in_dir).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    totals = running_extraction_totals(extract_spans(stream))
    query = (
        totals.writeStream.outputMode("update")
        .format("memory")
        .queryName("running_totals")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        rows = spark.sql(
            "SELECT fmt, max(docs_total) AS docs FROM running_totals GROUP BY fmt"
        ).collect()
    finally:
        query.stop()
    got = {r.fmt: r.docs for r in rows}
    from collections import Counter

    expected = Counter(d["fmt"] for d in docs)
    assert got == dict(expected)


def test_stream_extraction_drains_input(spark, tmp_path):
    from ebook_conversion_to_text_for_machine_learning_spark.streaming.stream import (
        stream_extraction,
    )

    docs = [doc for doc, _ in fx.GOLDEN_DOCS]
    in_dir = str(tmp_path / "in")
    spans_df(spark, docs).write.parquet(in_dir)

    out_dir = str(tmp_path / "out")
    query = stream_extraction(
        spark,
        in_dir,
        out_dir,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    query.awaitTermination(120)

    out = spark.read.parquet(out_dir)
    assert out.count() == len(docs)
    by_id = {r.doc_id: r for r in out.collect()}
    expected = {d["doc_id"]: exp for d, exp in fx.GOLDEN_DOCS}
    for doc_id, exp in expected.items():
        got = [(s.kind, s.text, s.media_ref, s.order) for s in by_id[doc_id].spans]
        assert got == exp, doc_id

    # Restarting with the same checkpoint must not reprocess anything.
    query2 = stream_extraction(
        spark, in_dir, out_dir, str(tmp_path / "ckpt"), available_now=True
    )
    query2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == len(docs)


def test_streaming_exact_dedup_first_arrival_wins(spark, tmp_path):
    from ebook_conversion_to_text_for_machine_learning_spark.streaming.dedup import (
        streaming_exact_dedup,
    )

    in_dir = str(tmp_path / "dedup_in")
    rows = [
        (1, "same text", "2024-01-01 10:00:00"),
        (2, "same text", "2024-01-01 10:01:00"),  # dup within watermark
        (3, "other text", "2024-01-01 10:02:00"),
        (4, "same text", "2024-01-01 10:03:00"),  # another dup
    ]
    spark.createDataFrame(rows, "doc_id long, text string, ts string").write.parquet(
        in_dir
    )
    schema = spark.read.parquet(in_dir).schema
    stream = spark.readStream.schema(schema).parquet(in_dir)
    deduped = streaming_exact_dedup(stream)
    query = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_sink")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        out = spark.sql("SELECT doc_id, text FROM dedup_sink").collect()
    finally:
        query.stop()
    texts = sorted(r.text for r in out)
    assert texts == ["other text", "same text"]  # one survivor per hash


def test_stream_curation_cross_batch_incremental_dedup(spark, tmp_path):
    """Each distinct surviving text emits its chunks exactly once across
    micro-batches: the per-batch seen-hash anti-join makes later arrivals
    of an already-curated text no-ops."""
    from ebook_conversion_to_text_for_machine_learning_spark.streaming.curation import (
        stream_curation,
    )

    good_a = (
        "The quick brown fox jumps over the lazy dog and the miller waits "
        "for the grain in the old mill by the stone bridge near the river"
    )
    good_b = (
        "A copper lantern hangs in the harbor window and the keeper of the "
        "light waits for the evening boats to find the channel in the fog"
    )

    def _doc(doc_id, text):
        return {"doc_id": doc_id, "fmt": "txt", "title": None, "author": None,
                "spans": [("line", text, "", 0)]}

    in_dir = tmp_path / "in"
    # file 1: doc a; file 2: a duplicate of a (new doc_id) plus a new doc b.
    spans_df(spark, [_doc("a1", good_a)]).write.parquet(str(in_dir / "f1"))
    spans_df(spark, [_doc("a2", good_a), _doc("b1", good_b)]).write.parquet(
        str(in_dir / "f2")
    )

    query = stream_curation(
        spark,
        f"{in_dir}/*",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        chunk_tokens=16,
        overlap=0,
        max_files_per_trigger=1,  # force one input file per micro-batch
        available_now=True,
    )
    query.awaitTermination(180)

    out = spark.read.parquet(str(tmp_path / "out"))
    rows = out.collect()
    # two distinct texts → two distinct hashes, each chunked exactly once
    assert len({r.text_hash for r in rows}) == 2
    per_hash = {}
    for r in rows:
        per_hash.setdefault(r.text_hash, []).append(r.chunk_idx)
    for idxs in per_hash.values():
        assert sorted(idxs) == list(range(len(idxs)))  # no duplicated chunks

    # draining again with the same checkpoint emits nothing new
    query2 = stream_curation(
        spark,
        f"{in_dir}/*",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        chunk_tokens=16,
        overlap=0,
        available_now=True,
    )
    query2.awaitTermination(180)
    assert spark.read.parquet(str(tmp_path / "out")).count() == len(rows)


def test_stream_curation_seen_source_is_sidecar_and_survives_compaction(
    spark, tmp_path
):
    """The seen set must come from the compacted hash sidecar, not from a
    rescan of the full landed output (round-2 verdict item 6). Proof: after
    draining batch 1 and compacting, the OUTPUT table is deleted outright —
    if the implementation still consulted it, the duplicate in batch 2
    would re-emit. The sidecar alone must keep the dedup exact, and
    compaction must leave exactly one batch_id=-1 partition."""
    import os

    from ebook_conversion_to_text_for_machine_learning_spark.operators.index_maintenance import (
        COMPACTED_BATCH_ID,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.streaming.curation import (
        compact_seen_sidecar,
        default_seen_dir,
        stream_curation,
    )

    good_a = (
        "The quick brown fox jumps over the lazy dog and the miller waits "
        "for the grain in the old mill by the stone bridge near the river"
    )
    good_b = (
        "A copper lantern hangs in the harbor window and the keeper of the "
        "light waits for the evening boats to find the channel in the fog"
    )

    def _doc(doc_id, text):
        return {"doc_id": doc_id, "fmt": "txt", "title": None, "author": None,
                "spans": [("line", text, "", 0)]}

    in_dir = tmp_path / "in"
    out_dir = str(tmp_path / "out")
    seen_dir = default_seen_dir(out_dir)
    spans_df(spark, [_doc("a1", good_a)]).write.parquet(str(in_dir / "f1"))

    query = stream_curation(
        spark, f"{in_dir}/*", out_dir, str(tmp_path / "ckpt"),
        chunk_tokens=16, overlap=0, available_now=True,
    )
    query.awaitTermination(180)
    first = spark.read.parquet(out_dir).collect()
    assert len(first) > 0 and all(r.batch_id == 0 for r in first)

    # compact: per-batch partitions squash into batch_id=-1, old ones go
    n = compact_seen_sidecar(spark, seen_dir)
    assert n == 1  # batch 0's partition folded
    assert spark.read.parquet(seen_dir).count() == 1  # one distinct text so far
    parts = sorted(
        d for d in os.listdir(seen_dir) if d.startswith("batch_id=")
    )
    assert parts == [f"batch_id={COMPACTED_BATCH_ID}"]
    # idempotent: nothing left to compact
    assert compact_seen_sidecar(spark, seen_dir) == 0

    # delete the OUTPUT table — the sidecar must carry the dedup alone
    import shutil

    shutil.rmtree(out_dir)

    spans_df(spark, [_doc("a2", good_a), _doc("b1", good_b)]).write.parquet(
        str(in_dir / "f2")
    )
    query2 = stream_curation(
        spark, f"{in_dir}/*", out_dir, str(tmp_path / "ckpt"),
        chunk_tokens=16, overlap=0, available_now=True,
    )
    query2.awaitTermination(180)

    out = spark.read.parquet(out_dir).collect()
    # only the NEW text emitted; the a-duplicate was anti-joined away by
    # the compacted sidecar even with the landed output gone
    hashes = {r.text_hash for r in out}
    assert len(hashes) == 1
    assert {r.text_hash for r in first}.isdisjoint(hashes)


def test_stream_funnel_per_batch_counters_match_batch_funnel(spark, tmp_path):
    from pyspark.sql import functions as F

    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        filter_funnel,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.streaming.curation import (
        stream_funnel,
    )

    in_dir = str(tmp_path / "docs_in")
    out_dir = str(tmp_path / "funnel_out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, lang string, n int"
    # Two files → two micro-batches at maxFilesPerTrigger=1.
    spark.createDataFrame(
        [(1, "en", 100), (2, "de", 100), (3, "en", 10)], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(
        [(4, "en", 100), (5, "en", 200)], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)

    stages = [
        ("lang_en", F.col("lang") == "en"),
        ("min_len", F.col("n") >= 50),
    ]
    query = stream_funnel(
        spark, in_dir, out_dir, ckpt, stages,
        schema=schema, max_files_per_trigger=1, available_now=True,
    )
    query.awaitTermination()

    out = spark.read.parquet(out_dir)
    batch_ids = {r.batch_id for r in out.select("batch_id").distinct().collect()}
    assert len(batch_ids) == 2
    # Per-batch counters are exactly the batch funnel of that slice, and
    # the totals add up across batches (counters are additive).
    totals = {
        (r.stage_idx, r.stage): (r.n_in, r.n_dropped, r.n_out)
        for r in out.groupBy("stage_idx", "stage")
        .agg(
            F.sum("n_in").alias("n_in"),
            F.sum("n_dropped").alias("n_dropped"),
            F.sum("n_out").alias("n_out"),
        )
        .collect()
    }
    whole = {
        (r.stage_idx, r.stage): (r.n_in, r.n_dropped, r.n_out)
        for r in filter_funnel(spark.read.parquet(in_dir), stages).collect()
    }
    assert totals == whole
    # Every batch partition holds one well-formed row per stage.
    for b in batch_ids:
        rows = out.where(F.col("batch_id") == b).collect()
        assert sorted(r.stage for r in rows) == ["lang_en", "min_len"]


def test_compact_seen_sidecar_skips_uncommitted_partitions(spark, tmp_path):
    """The crash-replay corner: a batch that wrote its sidecar partition
    but died before the checkpoint commit must survive checkpoint-aware
    compaction untouched — folded hashes would defeat the replay's
    "batch_id != N excludes my own failed attempt" filter and the
    replayed batch would anti-join its own texts away. Once the commit
    lands, the next compaction folds it."""
    import os

    from tests.conftest import spans_df

    from ebook_conversion_to_text_for_machine_learning_spark.operators.index_maintenance import (
        COMPACTED_BATCH_ID,
        last_committed_batch,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.streaming.curation import (
        compact_seen_sidecar,
        default_seen_dir,
        stream_curation,
    )

    text = (
        "The quick brown fox jumps over the lazy dog and the miller waits "
        "for the grain in the old mill by the stone bridge near the river"
    )
    in_dir = tmp_path / "in"
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    seen_dir = default_seen_dir(out_dir)
    spans_df(
        spark,
        [{"doc_id": "a1", "fmt": "txt", "title": None, "author": None,
          "spans": [("line", text, "", 0)]}],
    ).write.parquet(str(in_dir / "f1"))
    q = stream_curation(
        spark, f"{in_dir}/*", out_dir, ckpt,
        chunk_tokens=16, overlap=0, available_now=True,
    )
    q.awaitTermination(180)
    assert last_committed_batch(spark, ckpt) == 0

    # simulate batch 1 crashing between its sidecar write and the commit
    spark.createDataFrame([("deadbeef",)], "text_hash string").write.parquet(
        f"{seen_dir}/batch_id=1"
    )
    def folded():
        return {
            r.text_hash
            for r in spark.read.parquet(
                f"{seen_dir}/batch_id={COMPACTED_BATCH_ID}"
            ).collect()
        }

    n = compact_seen_sidecar(spark, seen_dir, checkpoint_dir=ckpt)
    assert n == 1  # only the committed batch 0 folded
    parts = sorted(d for d in os.listdir(seen_dir) if d.startswith("batch_id="))
    assert parts == [f"batch_id={COMPACTED_BATCH_ID}", "batch_id=1"]
    first = folded()
    assert len(first) == 1 and "deadbeef" not in first  # batch 0's one hash

    # the commit lands -> the partition is now compactable
    with open(os.path.join(ckpt, "commits", "1"), "w") as fh:
        fh.write("v1\n{}")
    assert last_committed_batch(spark, ckpt) == 1
    assert compact_seen_sidecar(spark, seen_dir, checkpoint_dir=ckpt) == 1
    parts = sorted(d for d in os.listdir(seen_dir) if d.startswith("batch_id="))
    assert parts == [f"batch_id={COMPACTED_BATCH_ID}"]
    assert folded() == first | {"deadbeef"}


def test_stream_near_dedup_flags_against_everything_landed(spark, tmp_path):
    """Streaming incremental near-dup: micro-batches dedup against the
    persisted minhash index and grow it, so a later batch's near-dup of
    ANY earlier batch's novelty is flagged — no watermark horizon, state
    on disk. Batch 0 bootstraps a virgin index path."""
    from ebook_conversion_to_text_for_machine_learning_spark.streaming.dedup import (
        stream_near_dedup,
    )

    schema = "doc_id long, lang string, text string"
    base = (
        "the quick brown fox jumps over the lazy dog while seven anxious "
        "zebras watch from a quiet hill near the river bend tonight"
    )
    novel = "a copper lantern hangs alone in the harbor window tonight waiting quietly"
    in_dir, out_dir = tmp_path / "in", str(tmp_path / "out")
    ckpt, idx = str(tmp_path / "ckpt"), str(tmp_path / "idx")

    spark.createDataFrame(
        [(1, "en", base), (2, "en", novel)], schema
    ).write.parquet(str(in_dir / "f1"))
    q = stream_near_dedup(
        spark, f"{in_dir}/*", out_dir, ckpt, idx,
        schema=schema, available_now=True,
    )
    q.awaitTermination(180)
    b0 = {r.doc_id: r.dup_of for r in spark.read.parquet(out_dir).collect()}
    assert b0 == {1: None, 2: None}

    # second drain: near-dups of BOTH batch-0 docs are flagged, and the
    # batch's own novelty joins the index
    fresh = "winter trains cross the long iron bridge carrying grain toward the coast"
    spark.createDataFrame(
        [
            (10, "en", base.replace("lazy", "sleepy")),
            (11, "en", novel.replace("copper", "brass")),
            (12, "en", fresh),
        ],
        schema,
    ).write.parquet(str(in_dir / "f2"))
    q2 = stream_near_dedup(
        spark, f"{in_dir}/*", out_dir, ckpt, idx,
        schema=schema, available_now=True,
    )
    q2.awaitTermination(180)
    out = {r.doc_id: (r.batch_id, r.dup_of) for r in spark.read.parquet(out_dir).collect()}
    assert out[10] == (1, 1) and out[11] == (1, 2) and out[12] == (1, None)

    # third drain sees batch 1's novelty too
    spark.createDataFrame(
        [(20, "en", fresh.replace("grain", "coal"))], schema
    ).write.parquet(str(in_dir / "f3"))
    q3 = stream_near_dedup(
        spark, f"{in_dir}/*", out_dir, ckpt, idx,
        schema=schema, available_now=True,
    )
    q3.awaitTermination(180)
    out3 = {r.doc_id: r.dup_of for r in spark.read.parquet(out_dir).collect()}
    assert out3[20] == 12


def test_stream_near_dedup_intra_trigger_dups(spark, tmp_path):
    """Near-dup docs arriving in the SAME trigger — including the
    bootstrap trigger against a virgin index path — are resolved by the
    intra-batch pass: the smaller-id keeper lands as novel, the other is
    flagged against it, and only the keeper joins the index (advice r4)."""
    from ebook_conversion_to_text_for_machine_learning_spark.streaming.dedup import (
        stream_near_dedup,
    )

    schema = "doc_id long, lang string, text string"
    base = (
        "the quick brown fox jumps over the lazy dog while seven anxious "
        "zebras watch from a quiet hill near the river bend tonight"
    )
    in_dir, out_dir = tmp_path / "in", str(tmp_path / "out")

    # bootstrap trigger: virgin index, intra-trigger near-dup pair (1, 2)
    spark.createDataFrame(
        [(1, "en", base), (2, "en", base.replace("lazy", "sleepy"))], schema
    ).write.parquet(str(in_dir / "f0"))
    q = stream_near_dedup(
        spark, f"{in_dir}/*", out_dir, str(tmp_path / "ckpt"), str(tmp_path / "idx"),
        schema=schema, available_now=True,
    )
    q.awaitTermination(180)

    # second trigger: a near-dup of the DROPPED doc 2 must match the
    # keeper 1 (2 never entered the index), plus an intra-trigger pair
    spark.createDataFrame(
        [
            (10, "en", base.replace("lazy", "idle")),
            (11, "en", "a copper lantern hangs alone in the harbor window tonight waiting quietly"),
            (12, "en", "a brass lantern hangs alone in the harbor window tonight waiting quietly"),
        ],
        schema,
    ).write.parquet(str(in_dir / "f1"))
    q2 = stream_near_dedup(
        spark, f"{in_dir}/*", out_dir, str(tmp_path / "ckpt"), str(tmp_path / "idx"),
        schema=schema, available_now=True,
    )
    q2.awaitTermination(180)

    out = {r.doc_id: r.dup_of for r in spark.read.parquet(out_dir).collect()}
    assert out == {1: None, 2: 1, 10: 1, 11: None, 12: 11}


def test_stream_near_dedup_with_compaction_cadence(spark, tmp_path):
    """``compact_every=1`` folds committed index batches into the base
    after every trigger: decisions are identical to the uncompacted
    stream, and the index holds at most the base + the latest
    (uncommitted-at-fold-time) batch partition instead of one partition
    per trigger forever."""
    import os

    from ebook_conversion_to_text_for_machine_learning_spark.streaming.dedup import (
        stream_near_dedup,
    )

    schema = "doc_id long, lang string, text string"
    base = (
        "the quick brown fox jumps over the lazy dog while seven anxious "
        "zebras watch from a quiet hill near the river bend tonight"
    )
    novel = "a copper lantern hangs alone in the harbor window tonight waiting quietly"
    fresh = "winter trains cross the long iron bridge carrying grain toward the coast"
    in_dir, out_dir = tmp_path / "in", str(tmp_path / "out")
    ckpt, idx = str(tmp_path / "ckpt"), str(tmp_path / "idx")

    batches = [
        [(1, "en", base), (2, "en", novel)],
        [
            (10, "en", base.replace("lazy", "sleepy")),
            (11, "en", novel.replace("copper", "brass")),
            (12, "en", fresh),
        ],
        [(20, "en", fresh.replace("grain", "coal"))],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).write.parquet(str(in_dir / f"f{i}"))
        q = stream_near_dedup(
            spark, f"{in_dir}/*", out_dir, ckpt, idx,
            schema=schema, available_now=True, compact_every=1,
        )
        q.awaitTermination(180)

    out = {r.doc_id: r.dup_of for r in spark.read.parquet(out_dir).collect()}
    assert out == {1: None, 2: None, 10: 1, 11: 2, 12: None, 20: 12}
    for table in ("bands", "grams", "counts"):
        dirs = sorted(
            d for d in os.listdir(f"{idx}/{table}") if d.startswith("batch_id=")
        )
        # base + at most the latest not-yet-committed-at-fold-time batch
        # (a trailing empty micro-batch may have folded even that one)
        assert dirs[0] == "batch_id=-1" and len(dirs) <= 2, (table, dirs)
