"""End-to-end test of the spark-submit entry point (plans/job.py CLI)."""

import json
import os
import subprocess
import sys


def test_job_cli_end_to_end(spark, tmp_path):
    from tests import fixtures as fx
    from tests.conftest import spans_df

    docs = [doc for doc, _ in fx.GOLDEN_DOCS]
    in_dir = str(tmp_path / "in")
    spans_df(spark, docs).write.parquet(in_dir)

    out_dir = str(tmp_path / "out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    result = subprocess.run(
        [
            sys.executable,
            "-m",
            "ebook_conversion_to_text_for_machine_learning_spark.plans.job",
            "--input", in_dir,
            "--output", out_dir,
            "--lineage", str(tmp_path / "lineage"),
            "--metrics", str(tmp_path / "metrics"),
            "--master", "local[2]",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env={**os.environ, "PYTHONPATH": repo},
    )
    assert result.returncode == 0, result.stderr[-2000:]
    summary = json.loads([l for l in result.stdout.splitlines() if l.startswith("{")][-1])
    assert sum(m["docs"] for m in summary["metrics"]) == len(docs)

    out = spark.read.parquet(out_dir)
    assert out.count() == len(docs)
    expected = {d["doc_id"]: exp for d, exp in fx.GOLDEN_DOCS}
    for row in out.collect():
        got = [(s.kind, s.text, s.media_ref, s.order) for s in row.spans]
        assert got == expected[row.doc_id], row.doc_id


def test_spark_submit_with_py_files_zip(spark, tmp_path):
    """The north-rule shipping path, for real: package the engine with
    scripts/package.py, then run the job through actual spark-submit with
    --py-files from a cwd OUTSIDE the repo, so every import resolves from
    the zip artifact exactly as it would on a cluster."""
    import os
    import subprocess
    import sys

    from tests import fixtures as fx
    from tests.conftest import spans_df

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    import package as packager

    zip_path = str(tmp_path / "engine.zip")
    packager.build(zip_path)

    docs = [doc for doc, _ in fx.GOLDEN_DOCS]
    in_dir = str(tmp_path / "in")
    spans_df(spark, docs).write.parquet(in_dir)
    out_dir = str(tmp_path / "out")

    env = dict(os.environ, PYTHONPATH="")
    result = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--py-files", zip_path,
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            os.path.join(
                repo,
                "ebook_conversion_to_text_for_machine_learning_spark/plans/job.py",
            ),
            "--input", in_dir,
            "--output", out_dir,
            "--lineage", str(tmp_path / "lineage"),
            "--metrics", str(tmp_path / "metrics"),
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert result.returncode == 0, result.stderr[-3000:]
    assert spark.read.parquet(out_dir).count() == len(docs)
    parts = spark.read.parquet(str(tmp_path / "lineage") + "_partitions")
    assert parts.count() > 0


def test_job_cli_sequences_mode(spark, tmp_path):
    """--mode sequences runs the full curation chain via the CLI and writes
    the training-sequence table. A rerun over a grown input whose
    --seen-hashes names its own --output appends only the new texts'
    chunks, and its summary counts exactly the rows it appended."""
    from tests import fixtures as fx
    from tests.conftest import spans_df

    docs = fx.random_corpus(40, seed=21)
    first, grown = str(tmp_path / "in1"), str(tmp_path / "in2")
    spans_df(spark, docs[:20]).write.parquet(first)
    spans_df(spark, docs).write.parquet(grown)
    out_dir = str(tmp_path / "seqs")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def run(*args):
        result = subprocess.run(
            [
                sys.executable,
                "-m",
                "ebook_conversion_to_text_for_machine_learning_spark.plans.job",
                "--output", out_dir,
                "--mode", "sequences",
                "--chunk-tokens", "32",
                "--chunk-overlap", "8",
                "--min-quality", "0",
                "--master", "local[2]",
                *args,
            ],
            capture_output=True,
            text=True,
            timeout=300,
            env={**os.environ, "PYTHONPATH": repo},
        )
        assert result.returncode == 0, result.stderr[-2000:]
        summary = json.loads(
            [l for l in result.stdout.splitlines() if l.startswith("{")][-1]
        )
        assert summary["mode"] == "sequences"
        return summary["chunks_by_split"]

    def by_split():
        out = spark.read.parquet(out_dir)
        return {r.split: r["count"] for r in out.groupBy("split").count().collect()}

    landed = run("--input", first)
    out = spark.read.parquet(out_dir)
    assert set(out.columns) == {
        "doc_id", "text_hash", "chunk_idx", "chunk_start", "chunk_text",
        "n_chunk_tokens", "split",
    }
    assert landed and landed == by_split()
    assert out.agg({"n_chunk_tokens": "max"}).first()[0] <= 32

    # Incremental rerun into the same table: the first 20 docs' texts are
    # seen and re-emit nothing; the summary is what this run appended.
    appended = run("--input", grown, "--seen-hashes", out_dir)
    after = by_split()
    assert appended and appended == {
        s: n - landed.get(s, 0) for s, n in after.items() if n > landed.get(s, 0)
    }
    out = spark.read.parquet(out_dir)
    assert out.count() == out.select("doc_id", "chunk_idx").distinct().count()


def test_job_cli_mix_mode(spark, tmp_path):
    """--mode mix runs the packed-bin curation chain via the CLI, with an
    eval set dropping contaminated documents."""
    from tests import fixtures as fx
    from tests.conftest import spans_df

    # the random fixture corpus is deliberately repetitive (repeated
    # template sentences), which the mix chain's Gopher filter would drop
    # wholesale — build diverse documents instead, plus one true duplicate.
    def _doc(i, text):
        return {"doc_id": f"doc-{i:02d}", "fmt": "txt", "title": None,
                "author": None, "spans": [("line", text, "", 0)]}

    # Every 3-gram window must carry a per-doc token, otherwise template
    # 3-grams shared by all docs make everything "contaminated" by doc-00.
    words = ("fox river mill bridge stone harbor garden meadow lantern "
             "window stream valley orchard raven copper anvil").split()
    conns = ("winds over beside through beneath against toward within "
             "around despite behind past along across near atop").split()
    docs = [
        _doc(i, "The " + " ".join(
            f"{w}{i} {c}" for w, c in zip(words, conns)
        ) + f" the final{i} gate tonight")
        for i in range(12)
    ]
    docs.append({**docs[1], "doc_id": "doc-dup"})  # exact duplicate
    in_dir = str(tmp_path / "in")
    spans_df(spark, docs).write.parquet(in_dir)
    # eval set = the raw text of one input document → that doc (and its
    # exact duplicates) must be decontaminated away.
    eval_dir = str(tmp_path / "eval")
    eval_text = "".join(s[1] for s in docs[0]["spans"])
    spark.createDataFrame([(eval_text,)], "text string").write.parquet(eval_dir)
    out_dir = str(tmp_path / "mix")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    result = subprocess.run(
        [
            sys.executable,
            "-m",
            "ebook_conversion_to_text_for_machine_learning_spark.plans.job",
            "--input", in_dir,
            "--output", out_dir,
            "--mode", "mix",
            "--chunk-tokens", "32",
            "--chunk-overlap", "8",
            "--pack-budget", "64",
            "--pack-shards", "4",
            "--eval-set", eval_dir,
            "--master", "local[2]",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env={**os.environ, "PYTHONPATH": repo},
    )
    assert result.returncode == 0, result.stderr[-2000:]
    summary = json.loads([l for l in result.stdout.splitlines() if l.startswith("{")][-1])
    assert summary["mode"] == "mix"
    out = spark.read.parquet(out_dir)
    assert set(out.columns) == {
        "split", "shard", "doc_id", "chunk_idx", "text_hash", "chunk_text",
        "n_tokens", "bin_offset", "bin_id",
    }
    rows = out.collect()
    assert rows and sum(summary["chunks_by_split"].values()) == len(rows)
    assert all(r.bin_id == r.bin_offset // 64 for r in rows)
    assert docs[0]["doc_id"] not in {r.doc_id for r in rows}


def test_job_cli_compact_mode(spark, tmp_path):
    """--mode compact restores one-chunk-set-per-text over a sequence
    table that landed the same text under two doc ids."""
    rows = [
        # text A landed twice (doc a1 earlier run, doc a2 later run)
        ("a1", "h-aaa", 0, 0, "tok tok tok", 3, "train"),
        ("a1", "h-aaa", 1, 3, "tok tok", 2, "train"),
        ("a2", "h-aaa", 0, 0, "tok tok tok", 3, "train"),
        ("a2", "h-aaa", 1, 3, "tok tok", 2, "train"),
        # text B landed once, but its run was replayed: the SAME doc_id's
        # rows appended twice (mode('append') rerun without --seen-hashes)
        ("b1", "h-bbb", 0, 0, "other words here", 3, "val"),
        ("b1", "h-bbb", 0, 0, "other words here", 3, "val"),
    ]
    schema = (
        "doc_id string, text_hash string, chunk_idx long, chunk_start long, "
        "chunk_text string, n_chunk_tokens long, split string"
    )
    in_dir = str(tmp_path / "seqs")
    spark.createDataFrame(rows, schema).write.parquet(in_dir)
    out_dir = str(tmp_path / "compacted")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    result = subprocess.run(
        [
            sys.executable,
            "-m",
            "ebook_conversion_to_text_for_machine_learning_spark.plans.job",
            "--input", in_dir,
            "--output", out_dir,
            "--mode", "compact",
            "--master", "local[2]",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env={**os.environ, "PYTHONPATH": repo},
    )
    assert result.returncode == 0, result.stderr[-2000:]
    summary = json.loads([l for l in result.stdout.splitlines() if l.startswith("{")][-1])
    assert summary == {"mode": "compact", "rows_kept": 3}
    out = spark.read.parquet(out_dir).collect()
    assert {(r.doc_id, r.text_hash, r.chunk_idx) for r in out} == {
        ("a1", "h-aaa", 0), ("a1", "h-aaa", 1), ("b1", "h-bbb", 0),
    }
