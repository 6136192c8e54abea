"""The persisted incremental indexes' layout and compaction: every
build, append and compaction lays each table out as its ``TableSpec``
says, with one file per leaf dir; decisions must be identical
before/after compaction, the streaming commit horizon must gate what
folds, and a crash mid-fold must be completable by re-run."""

import ast
import os
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ebook_conversion_to_text_for_machine_learning_spark.operators import (
    index_maintenance as M,
)
from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
    append_to_minhash_index,
    dedup_against_index,
    write_minhash_index,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


_BASE = [
    ("b%d" % i, "the quick brown fox jumps over the lazy dog %d and then rests" % i)
    for i in range(8)
]
_APP1 = [("a1", "an entirely different first appended document about spark engines")]
_APP2 = [("a2", "a second append batch with its own fresh content about parquet")]
# probe: near-dup of b0 (one word changed) + near-dup of a1 + novel
_PROBE = [
    ("p0", "the quick brown fox jumps over the lazy dog 0 and then sleeps"),
    ("p1", "an entirely different first appended document about spark planes"),
    ("p2", "completely novel probe text that matches nothing in the index"),
]


def _built_index(spark, tmp_path, name="idx"):
    path = str(tmp_path / name)
    write_minhash_index(_docs(spark, _BASE), path)
    append_to_minhash_index(_docs(spark, _APP1), path, batch_id=1)
    append_to_minhash_index(_docs(spark, _APP2), path, batch_id=2)
    return path


def _assert_layout(index_path, spec, batch_ids):
    """Every leaf dir of the spec's table is ``batch_id=<id>/<one dir per
    sub-partition column>`` holding exactly one part file, and the batch
    ids present are exactly ``batch_ids``. (At these sizes a table with
    no sub-partition columns also gets one file per batch: its writer's
    input is a single partition.)"""
    table_dir = os.path.join(index_path, spec.name)
    found = set()
    for d, subdirs, files in os.walk(table_dir):
        rel = os.path.relpath(d, table_dir)
        parts = [f for f in files if f.startswith("part-")]
        if rel == "." or subdirs:
            assert not parts, (d, parts)
            continue
        segs = rel.split(os.sep)
        assert [seg.split("=")[0] for seg in segs] == ["batch_id", *spec.sub_parts], d
        assert len(parts) == 1, (d, parts)
        found.add(int(segs[0].split("=")[1]))
    assert sorted(found) == sorted(batch_ids), (table_dir, found)


def _has_prefix_literal(source: str) -> bool:
    return any(
        isinstance(n, ast.Constant) and n.value in ("pfx", "cell_pfx")
        for n in ast.walk(ast.parse(source))
    )


def test_only_index_maintenance_sets_the_batch_layout():
    """The batch-partition write rule has one owner: no other library
    module picks an overwrite mode, partitions by ``batch_id`` or names
    a derived prefix column (``"pfx"``/``"cell_pfx"``)."""
    pkg = Path(M.__file__).parent.parent
    rule = re.compile(r"partitionOverwriteMode|partitionBy\(\s*[\"']batch_id")
    offenders = [
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if p.name != "index_maintenance.py"
        and (rule.search(src := p.read_text()) or _has_prefix_literal(src))
    ]
    assert offenders == []
    own = Path(M.__file__).read_text()
    assert rule.search(own) and _has_prefix_literal(own)


def _decisions(spark, path):
    return sorted(
        map(tuple, dedup_against_index(spark, _docs(spark, _PROBE), path).collect())
    )


def test_compact_minhash_preserves_decisions_and_collapses_layout(spark, tmp_path):
    path = _built_index(spark, tmp_path)
    for spec in M.MINHASH_TABLES:
        _assert_layout(path, spec, [0, 1, 2])
    before = _decisions(spark, path)
    assert before, "probe must produce dup rows for the test to mean anything"

    assert M.compact_minhash_index(spark, path) == 3  # batches 0, 1, 2
    after = _decisions(spark, path)
    assert after == before
    # one part-file per leaf dir (the small-files contract)
    for spec in M.MINHASH_TABLES:
        _assert_layout(path, spec, [-1])

    # idempotent: nothing left to fold, decisions unchanged
    assert M.compact_minhash_index(spark, path) == 0
    assert _decisions(spark, path) == before

    # the compacted index keeps working as an append target + probe base
    append_to_minhash_index(_docs(spark, [("a3", _PROBE[2][1])]), path, batch_id=3)
    out = dedup_against_index(spark, _docs(spark, _PROBE), path)
    assert {r.doc_id for r in out.collect()} >= {"p0", "p1", "p2"}
    # ...and re-compacting folds the new batch into the same base
    assert M.compact_minhash_index(spark, path) == 1


def test_compact_respects_stream_commit_horizon(spark, tmp_path):
    path = _built_index(spark, tmp_path)
    ckpt = tmp_path / "ckpt" / "commits"
    ckpt.mkdir(parents=True)
    # micro-batch 0 committed -> index batch 1 is foldable (offset 1);
    # index batch 2 (micro-batch 1) is above the horizon: a replay may
    # still need exclude_batch_id=2 to skip its own partitions.
    (ckpt / "0").write_text("{}")
    before = _decisions(spark, path)
    assert (
        M.compact_minhash_index(
            spark, path, checkpoint_dir=str(tmp_path / "ckpt")
        )
        == 2  # batches 0 and 1
    )
    for table in ("bands", "grams", "counts"):
        dirs = sorted(
            d for d in os.listdir(f"{path}/{table}") if d.startswith("batch_id=")
        )
        assert dirs == ["batch_id=-1", "batch_id=2"], (table, dirs)
    assert _decisions(spark, path) == before
    # the retained batch still excludes itself on replay
    replay = dedup_against_index(
        spark, _docs(spark, _APP2), path, exclude_batch_id=2
    )
    assert replay.where(F.col("doc_id") == "a2").count() == 0


def test_compact_crash_mid_fold_completes_on_rerun(spark, tmp_path, monkeypatch):
    path = _built_index(spark, tmp_path)
    before = _decisions(spark, path)

    real_delete = M._delete_dir
    calls = {"n": 0}

    def exploding_delete(spark_, p):
        calls["n"] += 1
        if calls["n"] == 2:  # die after the first source-partition delete
            raise RuntimeError("simulated crash mid-fold")
        real_delete(spark_, p)

    monkeypatch.setattr(M, "_delete_dir", exploding_delete)
    try:
        M.compact_minhash_index(spark, path)
    except RuntimeError:
        pass
    else:  # pragma: no cover
        raise AssertionError("crash did not fire")
    monkeypatch.setattr(M, "_delete_dir", real_delete)

    # staging for the crashed table exists with its manifest; re-run
    # completes the fold from the manifest and the rest of the tables
    M.compact_minhash_index(spark, path)
    assert _decisions(spark, path) == before
    for table in ("bands", "grams", "counts"):
        dirs = [
            d for d in os.listdir(f"{path}/{table}") if d.startswith("batch_id=")
        ]
        assert dirs == ["batch_id=-1"], (table, dirs)
    assert not os.path.exists(f"{path}/_compact")


@pytest.mark.parametrize("crash_at", [2, 4])
def test_compact_seen_sidecar_crash_mid_fold_completes_on_rerun(
    spark, tmp_path, monkeypatch, crash_at
):
    """The sidecar folds through the same staged-write + manifest
    protocol. Delete calls run: stale staging, batch 0, batch 1, the old
    base — crash 2 dies before any source delete, crash 4 after every
    per-batch partition is gone. Either way the re-run restores exactly
    the pre-compaction hash set, the earlier base's hashes included."""
    from ebook_conversion_to_text_for_machine_learning_spark.streaming.curation import (
        compact_seen_sidecar,
    )

    seen_dir = str(tmp_path / "out_seen")
    for batch, batch_hashes in ((-1, ["h0", "h1"]), (0, ["h1", "h2"]), (1, ["h3"])):
        spark.createDataFrame(
            [(h,) for h in batch_hashes], "text_hash string"
        ).write.parquet(f"{seen_dir}/batch_id={batch}")

    def hashes():
        return sorted(r.text_hash for r in spark.read.parquet(seen_dir).collect())

    before = sorted(set(hashes()))
    real_delete = M._delete_dir
    calls = {"n": 0}

    def exploding_delete(spark_, p):
        calls["n"] += 1
        if calls["n"] == crash_at:
            raise RuntimeError("simulated crash mid-fold")
        real_delete(spark_, p)

    monkeypatch.setattr(M, "_delete_dir", exploding_delete)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_seen_sidecar(spark, seen_dir)
    monkeypatch.setattr(M, "_delete_dir", real_delete)

    assert compact_seen_sidecar(spark, seen_dir) == 2  # the manifest's batches
    assert hashes() == before
    assert sorted(os.listdir(seen_dir)) == ["batch_id=-1"]


def _assert_ann_prefixes(spark, path):
    """Every ANN index row carries the prefix its spec derives, pinned
    by a Python reference: ``pfx`` is the bucket's first 8 bits and
    ``cell_pfx`` the cell id mod 256."""
    bands = spark.read.parquet(f"{path}/bands").select("bucket", "pfx").collect()
    cells = spark.read.parquet(f"{path}/cells").select("cell_id", "cell_pfx").collect()
    assert bands and cells
    assert all(r.pfx == int(r.bucket[:8], 2) for r in bands)
    assert all(r.cell_pfx == r.cell_id % 256 for r in cells)


def test_compact_ann_index_identical_topk(spark, tmp_path):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        append_to_ann_index,
        ivf_ann_topk_indexed,
        lsh_ann_topk_indexed,
        read_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.where(F.col("vec_id") % 3 != 0)
    extra = emb.where(F.col("vec_id") % 3 == 0)
    dim = len(base.select("embedding").first()[0])
    path = str(tmp_path / "ann")
    # 16 target cells over 333 vectors: stride 20, ~17 cells, not the
    # stride-1 O(N²) codebook of the 65536-cell default. 2 bands × 4
    # planes keep bands/ at tens of pfx dirs instead of ~1,000 tiny files.
    write_ann_index(base, dim, path, target_cells=16, n_bands=2, band_planes=4)
    _assert_ann_prefixes(spark, path)
    append_to_ann_index(extra, path, batch_id=1)
    _assert_ann_prefixes(spark, path)
    for spec in (M.ANN_BANDS, M.ANN_CELLS):
        _assert_layout(path, spec, [0, 1])

    probes = emb.where(F.col("vec_id") < 5)
    idx = read_ann_index(spark, path)
    lsh_before = sorted(map(tuple, lsh_ann_topk_indexed(idx, probes, k=5).collect()))
    ivf_before = sorted(map(tuple, ivf_ann_topk_indexed(idx, probes, k=5).collect()))
    assert lsh_before and ivf_before, "probes must return neighbours"

    from ebook_conversion_to_text_for_machine_learning_spark.operators.index_maintenance import (
        compact_ann_index,
    )

    assert compact_ann_index(spark, path) == 2
    idx2 = read_ann_index(spark, path)
    assert sorted(map(tuple, lsh_ann_topk_indexed(idx2, probes, k=5).collect())) == lsh_before
    assert sorted(map(tuple, ivf_ann_topk_indexed(idx2, probes, k=5).collect())) == ivf_before
    for spec in (M.ANN_BANDS, M.ANN_CELLS):
        _assert_layout(path, spec, [-1])


def test_compact_pq_index_identical_topk(spark, tmp_path):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.index_maintenance import (
        compact_pq_index,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        append_to_pq_index,
        pq_adc_topk,
        read_pq_index,
        write_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.where(F.col("vec_id") % 3 != 0)
    extra = emb.where(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "pq")
    write_pq_index(base, path, m=2, target_codes=8)
    append_to_pq_index(extra, path, batch_id=1)
    _assert_layout(path, M.PQ_CODES, [0, 1])

    probes = emb.where(F.col("vec_id") < 5)
    books, codes = read_pq_index(spark, path)
    before = sorted(
        map(tuple, pq_adc_topk(emb, probes, books, k=5, codes=codes).collect())
    )
    assert compact_pq_index(spark, path) == 2
    books2, codes2 = read_pq_index(spark, path)
    assert books2 == books
    assert (
        sorted(
            map(tuple, pq_adc_topk(emb, probes, books2, k=5, codes=codes2).collect())
        )
        == before
    )
    _assert_layout(path, M.PQ_CODES, [-1])
