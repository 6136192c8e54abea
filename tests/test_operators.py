"""Behavioral tests for the training-data operators (beyond oracle parity):
do the dedup/similarity operators actually find what they claim to find?"""

import pytest
from pyspark.sql import functions as F


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


BASE = (
    "the quick brown fox jumps over the lazy dog while the miller waits "
    "for the grain to arrive at the old stone bridge before sunset"
)


def test_exact_dedup_groups_copies(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        exact_dedup,
    )

    df = _docs_df(
        spark,
        [(1, "en", BASE), (2, "en", BASE), (3, "en", "something else entirely here")],
    )
    rows = {r.keeper_doc_id: r.n_copies for r in exact_dedup(df).collect()}
    assert rows == {1: 2, 3: 1}


def test_minhash_finds_near_duplicates(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    near = BASE.replace("lazy", "sleepy")  # one token changed
    far = "completely different words compose this other document about ships at sea"
    df = _docs_df(spark, [(1, "en", BASE), (2, "en", near), (3, "en", far)])
    pairs = {(r.doc_a, r.doc_b) for r in minhash_candidate_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_gramless_docs_emit_no_bands_and_no_candidates(spark):
    """Docs with fewer than 3 tokens have null MinHash signatures; their
    band buckets must be DROPPED, not collapsed to a shared '' bucket —
    concat_ws used to do that, making every pair of gram-less docs a
    candidate in every band (quadratic blowup the verify join discarded
    at full cost, and a divergence from the SQL twin's NULL buckets)."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        minhash_bands,
        minhash_candidate_pairs,
        minhash_signatures,
    )

    df = _docs_df(
        spark,
        [(1, "en", "too short"), (2, "en", "also tiny"), (3, "en", BASE)],
    )
    bands = minhash_bands(minhash_signatures(df)).collect()
    assert {r.doc_id for r in bands} == {3}
    assert minhash_candidate_pairs(df).collect() == []


def test_dedup_against_index_round_trip(spark, tmp_path):
    """Incremental dedup: near-dups of INDEXED docs are flagged with the
    exact-Jaccard counts, novel batch docs report nothing, and the whole
    check runs off the persisted index tables (the corpus text itself is
    never re-read — asserted on the plan's scan locations)."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        dedup_against_index,
        write_minhash_index,
    )

    far = "completely different words compose this other document about ships at sea"
    corpus = _docs_df(spark, [(1, "en", BASE), (2, "en", far)])
    path = str(tmp_path / "idx")
    write_minhash_index(corpus, path)

    near = BASE.replace("lazy", "sleepy")
    novel = "a copper lantern hangs alone in the harbor window tonight waiting quietly"
    batch = _docs_df(spark, [(10, "en", near), (11, "en", novel)])
    out = dedup_against_index(spark, batch, path)
    rows = {(r.doc_id, r.dup_of): (r.n_common, r.n_union) for r in out.collect()}
    assert set(rows) == {(10, 1)}
    n_common, n_union = rows[(10, 1)]
    # one token edit in a 24-token doc: 22 shingles each, 3 windows differ
    assert n_union > n_common > 0 and 2 * n_common >= n_union
    # the corpus text is reached only through the index parquet: every
    # file feeding the plan lives under the index dir (the batch is an
    # in-memory frame with no files)
    files = out.inputFiles()
    assert files and all(str(tmp_path / "idx") in f for f in files)

    # rebuilding over an appended corpus is a plain overwrite re-run
    write_minhash_index(
        corpus.union(_docs_df(spark, [(3, "en", novel)])), path
    )
    rows2 = {
        (r.doc_id, r.dup_of)
        for r in dedup_against_index(spark, batch, path).collect()
    }
    assert rows2 == {(10, 1), (11, 3)}


def test_append_to_minhash_index_matches_full_rebuild(spark, tmp_path):
    """Growing the index one batch partition at a time must be decision-
    identical to rebuilding it from scratch over the appended corpus —
    same verified pairs, same exact-Jaccard counts — and replaying the
    same append (at-least-once ingest) must change nothing."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        append_to_minhash_index,
        dedup_against_index,
        write_minhash_index,
    )

    far = "completely different words compose this other document about ships at sea"
    novel = "a copper lantern hangs alone in the harbor window tonight waiting quietly"
    corpus = _docs_df(spark, [(1, "en", BASE), (2, "en", far)])
    day1 = _docs_df(spark, [(3, "en", novel)])
    probe = _docs_df(
        spark,
        [
            (10, "en", BASE.replace("lazy", "sleepy")),
            (11, "en", novel.replace("copper", "brass")),
            (12, "en", "nothing here resembles any indexed document in the least bit"),
        ],
    )

    grown = str(tmp_path / "grown")
    write_minhash_index(corpus, grown)
    append_to_minhash_index(day1, grown, batch_id=1)

    rebuilt = str(tmp_path / "rebuilt")
    write_minhash_index(corpus.union(day1), rebuilt)

    def decisions(path):
        return {
            (r.doc_id, r.dup_of): (r.n_common, r.n_union)
            for r in dedup_against_index(spark, probe, path).collect()
        }

    want = decisions(rebuilt)
    assert set(want) == {(10, 1), (11, 3)}
    assert decisions(grown) == want

    # idempotent replay: overwriting the same batch partitions is a no-op
    append_to_minhash_index(day1, grown, batch_id=1)
    assert decisions(grown) == want

    # small-files discipline: the writers cluster on pfx before the
    # partitioned write, so every partition dir holds exactly ONE data
    # file (unclustered partitionBy writes one per task × dir).
    import glob as _glob
    import os as _os

    for table in ("bands", "grams"):
        dirs = _glob.glob(f"{grown}/{table}/batch_id=*/pfx=*")
        assert dirs
        for d in dirs:
            files = [f for f in _os.listdir(d) if f.startswith("part-")]
            assert len(files) == 1, (d, files)

    import pytest

    with pytest.raises(ValueError):
        append_to_minhash_index(day1, grown, batch_id=0)


def test_ingest_batch_against_index_loop(spark, tmp_path):
    """The closed incremental loop: each batch dedups against everything
    landed so far (full build + earlier batches' novelties), then its own
    novel docs join the index. A replay of a batch whose append already
    landed (crash before commit) must NOT flag its docs as dups of their
    own half-appended copies."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        ingest_batch_against_index,
        write_minhash_index,
    )

    far = "completely different words compose this other document about ships at sea"
    novel = "a copper lantern hangs alone in the harbor window tonight waiting quietly"
    path = str(tmp_path / "idx")
    write_minhash_index(_docs_df(spark, [(1, "en", BASE), (2, "en", far)]), path)

    # batch 1: one near-dup of the landed corpus, one novelty
    b1 = _docs_df(spark, [(10, "en", BASE.replace("lazy", "sleepy")), (11, "en", novel)])
    out1 = {r.doc_id: r.dup_of for r in ingest_batch_against_index(spark, b1, path, batch_id=1).collect()}
    assert out1 == {10: 1, 11: None}

    # batch 2 sees batch 1's novelty in the index, and lands one of its own
    fresh = "winter trains cross the long iron bridge carrying grain toward the coast"
    b2 = _docs_df(
        spark, [(20, "en", novel.replace("copper", "brass")), (21, "en", fresh)]
    )
    out2 = {r.doc_id: r.dup_of for r in ingest_batch_against_index(spark, b2, path, batch_id=2).collect()}
    assert out2 == {20: 11, 21: None}

    # crash-replay of batch 2: doc 21's append already landed, yet the
    # replay must reproduce the original decisions — 21 stays novel, not
    # a dup of its own indexed copy
    out2r = {r.doc_id: r.dup_of for r in ingest_batch_against_index(spark, b2, path, batch_id=2).collect()}
    assert out2r == out2


def test_ingest_batch_intra_batch_near_dups(spark, tmp_path):
    """Two near-dup docs arriving in the SAME batch: the smaller-id
    keeper survives and is indexed; the other is flagged against it and
    never enters the index (advice r4 #1)."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        dedup_against_index,
        ingest_batch_against_index,
        write_minhash_index,
    )

    far = "completely different words compose this other document about ships at sea"
    novel = "a copper lantern hangs alone in the harbor window tonight waiting quietly"
    path = str(tmp_path / "idx")
    write_minhash_index(_docs_df(spark, [(1, "en", far)]), path)

    batch = _docs_df(
        spark,
        [
            (10, "en", BASE),
            (11, "en", BASE.replace("lazy", "sleepy")),  # intra dup of 10
            (12, "en", novel),
            (13, "en", far.replace("ships", "boats")),  # dup of indexed 1
        ],
    )
    out = {
        r.doc_id: r.dup_of
        for r in ingest_batch_against_index(spark, batch, path, batch_id=1).collect()
    }
    assert out == {10: None, 11: 10, 12: None, 13: 1}

    # only the keepers joined the index: a later probe near-duplicating
    # the intra-dropped doc matches the KEEPER, and 11 itself is absent
    probe = _docs_df(spark, [(20, "en", BASE.replace("lazy", "idle"))])
    hits = {(r.doc_id, r.dup_of) for r in dedup_against_index(spark, probe, path).collect()}
    assert hits == {(20, 10)}


def _index_rows(spark, path):
    """{table: set of rows} of a minhash index, as read back."""
    return {
        t: {tuple(r) for r in spark.read.parquet(f"{path}/{t}").collect()}
        for t in ("bands", "grams", "counts")
    }


def test_ingest_batch_against_virgin_index(spark, tmp_path):
    """An index path where nothing has landed — missing, or an index dir
    or table dirs a killed first write left holding only ``_temporary/``
    — is an empty index: the batch gets its intra-batch decisions only,
    its keepers create bands/grams/counts, and the next batch's probe
    finds them."""
    import os

    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        ingest_batch_against_index,
    )

    novel = "a copper lantern hangs alone in the harbor window tonight waiting quietly"
    batch = _docs_df(
        spark,
        [(1, "en", BASE), (2, "en", BASE.replace("lazy", "sleepy")), (3, "en", novel)],
    )
    bare = tmp_path / "bare"
    os.makedirs(bare / "_temporary" / "0")
    killed = tmp_path / "killed"
    for table in ("bands", "grams", "counts"):
        os.makedirs(killed / table / "_temporary" / "0")
    for path in (str(tmp_path / "virgin"), str(bare), str(killed)):
        out = {
            r.doc_id: r.dup_of
            for r in ingest_batch_against_index(spark, batch, path, batch_id=1).collect()
        }
        assert out == {1: None, 2: 1, 3: None}
        rows = _index_rows(spark, path)
        assert {r[0] for r in rows["counts"]} == {1, 3}
        assert {r[0] for r in rows["bands"]} == {1, 3}
        assert {r[0] for r in rows["grams"]} == {1, 3}
        later = _docs_df(
            spark,
            [
                (10, "en", BASE.replace("lazy", "idle")),
                (11, "en", novel.replace("copper", "brass")),
            ],
        )
        out2 = {
            r.doc_id: r.dup_of
            for r in ingest_batch_against_index(spark, later, path, batch_id=2).collect()
        }
        assert out2 == {10: 1, 11: 3}


def _reference_index_rows(docs, batch_id):
    """bands/grams/counts rows of ``docs`` [(doc_id, text)] computed in
    pure Python: salted-md5 slice MinHash over distinct word 3-shingles,
    null buckets dropped, md5 of each distinct shingle."""
    import hashlib

    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        BAND_SIZE,
        MINHASH_K,
    )

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    bands, grams, counts = set(), set(), set()
    for doc_id, text in docs:
        toks = [t for t in text.split(" ") if t]
        shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        if not shingles:
            continue
        sig = [
            min(md5(f"{g}:{i // 4}")[(i % 4) * 8 : (i % 4) * 8 + 8] for g in shingles)
            for i in range(MINHASH_K)
        ]
        for b in range(MINHASH_K // BAND_SIZE):
            bucket = "|".join(sig[b * BAND_SIZE : (b + 1) * BAND_SIZE])
            bands.add((doc_id, b, bucket, batch_id, int(bucket[:2], 16)))
        for g in shingles:
            h = md5(g)
            grams.add((doc_id, h, batch_id, int(h[:2], 16)))
        counts.add((doc_id, len(shingles), batch_id))
    return {"bands": bands, "grams": grams, "counts": counts}


def test_index_rows_match_python_reference(spark, tmp_path):
    """The one index writer, pinned row by row against a pure-Python
    reference on a corpus with a gram-less doc, a doc with repeated
    shingles and a near-dup pair: the full build, an append and the
    ingest step's novel append write the same rows for the same docs."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        append_to_minhash_index,
        ingest_batch_against_index,
        write_minhash_index,
    )

    docs = [
        (1, "too short"),
        (2, "la la la la la la la la then the end of the song la la la"),
        (3, BASE),
        (4, BASE.replace("lazy", "sleepy")),
    ]
    df = _docs_df(spark, [(d, "en", t) for d, t in docs])

    built = str(tmp_path / "built")
    write_minhash_index(df, built)
    assert _index_rows(spark, built) == _reference_index_rows(docs, 0)

    appended = str(tmp_path / "appended")
    append_to_minhash_index(df, appended, batch_id=7)
    assert _index_rows(spark, appended) == _reference_index_rows(docs, 7)

    # ingest on a virgin path: doc 4 is an intra-batch dup of 3, so the
    # novel append holds docs 1-3 (doc 1 gram-less: no rows at all)
    ingested = str(tmp_path / "ingested")
    out = {
        r.doc_id: r.dup_of
        for r in ingest_batch_against_index(spark, df, ingested, batch_id=7).collect()
    }
    assert out == {1: None, 2: None, 3: None, 4: 3}
    assert _index_rows(spark, ingested) == _reference_index_rows(docs[:3], 7)


def test_ingest_batch_sketches_once(spark, tmp_path, monkeypatch):
    """One ingest call signs and shingles its batch once: ``_sketch``
    runs once per call, whether the index is virgin or populated."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators import dedup

    calls = []
    real = dedup._sketch

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "_sketch", counting)
    path = str(tmp_path / "idx")
    batch = _docs_df(spark, [(1, "en", BASE), (2, "en", BASE.replace("lazy", "sleepy"))])
    dedup.ingest_batch_against_index(spark, batch, path, batch_id=1)
    assert len(calls) == 1
    probe = _docs_df(spark, [(10, "en", BASE.replace("lazy", "idle"))])
    out = dedup.ingest_batch_against_index(spark, probe, path, batch_id=2)
    assert len(calls) == 2
    assert {r.doc_id: r.dup_of for r in out.collect()} == {10: 1}


def test_minhash_verified_pairs_matches_driver_rule(spark):
    """The operator-level verified-pairs must agree with the inline
    array_intersect formulation the driver query uses (distinct-gram
    counts make match-count == intersection size)."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        minhash_verified_pairs,
    )

    docs = _docs_df(
        spark,
        [
            (1, "en", BASE),
            (2, "en", BASE.replace("lazy", "sleepy")),
            (3, "en", BASE.replace("quick", "swift").replace("lazy", "sleepy")),
            (4, "en", "altogether unrelated content speaking of mountains and snow"),
        ],
    )
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.n_union)
        for r in minhash_verified_pairs(docs).collect()
    }
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    for (a, b), (nc, nu) in got.items():
        assert 2 * nc >= nu > 0


def test_tfidf_top_terms_ranks_rare_over_common(spark):
    """The discriminative term must outrank the ubiquitous one: 'zebra'
    (tf=2, df=1 → 2·(ln(2)+1) ≈ 3.39) beats 'the' (tf=3, df=3 → idf
    exactly 1, score 3.0) in doc 1. Ranks are contiguous from 1, scores
    non-increasing with rank, ties break on term ASC."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.text_stats import (
        tfidf_top_terms,
    )

    df = _docs_df(
        spark,
        [
            (1, "en", "the zebra eats and the zebra sleeps by the river"),
            (2, "en", "the miller waits by the river for grain"),
            (3, "en", "the harbor boats wait for the evening fog"),
        ],
    )
    out = tfidf_top_terms(df, k=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.term, r.score_x10k))
    assert set(by_doc) == {1, 2, 3}
    for doc, terms in by_doc.items():
        terms.sort()
        assert [t[0] for t in terms] == [1, 2, 3]
        # scores non-increasing with rank
        assert all(a[2] >= b[2] for a, b in zip(terms, terms[1:]))
    doc1 = {t[1]: (t[0], t[2]) for t in by_doc[1]}
    assert doc1["zebra"][0] == 1 and doc1["the"][0] == 2
    # pinned quantization: round(2*(ln(2)+1)*10000) -> 33863; 3*1*10000
    assert doc1["zebra"][1] == 33863 and doc1["the"][1] == 30000


def test_simhash_near_pairs(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        simhash_near_pairs,
        simhash_signatures,
    )

    near = BASE.replace("lazy", "sleepy")
    far = "completely different words compose this other document about ships at sea"
    df = _docs_df(spark, [(1, "en", BASE), (2, "en", near), (3, "en", far), (4, "en", BASE)])
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}
    assert all(-(2**63) <= s < 2**63 for s in sigs.values())  # signed 64-bit
    assert sigs[1] == sigs[4]  # identical text → identical signature
    hamming_12 = bin((sigs[1] ^ sigs[2]) & (2**64 - 1)).count("1")
    pairs = {(p.doc_a, p.doc_b): p.hamming for p in simhash_near_pairs(df, max_hamming=hamming_12).collect()}
    assert pairs[(1, 4)] == 0  # exact duplicate found at distance 0
    assert pairs[(1, 2)] == hamming_12  # one-token edit found at its true distance
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_apply_ocr_hook_reproduces_epub_002(spark):
    """epub-002 with the transcript stripped must extract identically when a
    mocked live-OCR callable (instead of the sidecar) supplies the text —
    mirrors the reference's run_ocr mocking (test_pdf_conversion.py:261-267)."""
    from tests import fixtures as fx
    from tests.conftest import spans_df

    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        extract_spans,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.operators.transcripts import (
        apply_ocr,
    )

    doc = dict(fx.EPUB_002)
    doc["spans"] = [(k, "" if k == "img" else t, r, o) for k, t, r, o in doc["spans"]]

    def mock_ocr(images):
        assert images == ["chapter_one.jpg"]  # loader default passes the ref
        return "Chapter One"

    enriched = apply_ocr(spans_df(spark, [doc]), mock_ocr)
    out = extract_spans(enriched).collect()[0]
    got = [(s.kind, s.text, s.media_ref, s.order) for s in out.spans]
    assert got == fx.EPUB_002_EXPECTED


def test_apply_ocr_rewrites_only_img_text(spark):
    """Only ``img`` span text changes: a non-img span with null
    text/media_ref/offset, an img span without a ref, and the other
    columns come back exactly as they went in."""
    from tests import fixtures as fx
    from tests.conftest import spans_df

    from ebook_conversion_to_text_for_machine_learning_spark.operators.transcripts import (
        apply_ocr,
    )

    doc = fx._doc(
        "nulls", "epub",
        [("p", None, None, None), ("img", "", "a.png", 1), ("img", "old", None, 2)],
        title=None,
    )
    df = spans_df(spark, [doc])
    enriched = apply_ocr(df, lambda images: "text of " + images[0])
    assert enriched.schema == df.schema
    row = enriched.collect()[0]
    assert (row.doc_id, row.fmt, row.title, row.author) == ("nulls", "epub", None, fx.AUTHOR)
    assert [tuple(s) for s in row.spans] == [
        ("p", None, None, None),
        ("img", "text of a.png", "a.png", 1),
        ("img", "", None, 2),  # no ref → no image → the empty transcript
    ]


def test_apply_ocr_passes_null_spans_and_null_lists_through(spark):
    """A null span element and a null spans list come back null, not as
    an empty-field span and an empty list."""
    import pyarrow as pa
    from pyspark.sql.types import StructField, StructType

    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        INPUT_SCHEMA,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.operators.transcripts import (
        apply_ocr,
    )

    schema = StructType(
        INPUT_SCHEMA.fields[:4] + [StructField("spans", INPUT_SCHEMA["spans"].dataType, True)]
    )
    span_type = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
         ("offset", pa.int32())]
    )
    img = {"kind": "img", "text": "", "media_ref": "a.png", "offset": 1}
    spans = pa.array([[None, img], None], type=pa.list_(span_type))
    table = pa.table({
        "doc_id": ["nulls", "no-list"], "fmt": ["epub", "epub"],
        "title": pa.nulls(2, pa.string()), "author": pa.nulls(2, pa.string()), "spans": spans,
    })
    enriched = apply_ocr(spark.createDataFrame(table, schema=schema), lambda images: "ocr")
    rows = {r.doc_id: r.spans for r in enriched.collect()}
    assert rows["nulls"][0] is None
    assert tuple(rows["nulls"][1]) == ("img", "ocr", "a.png", 1)
    assert rows["no-list"] is None


def test_span_producers_run_through_map_in_arrow(spark):
    """File ingest, the corpus generator and live OCR share the extraction
    kernel's Arrow codec: ``MapInArrow`` in their plans, no pandas."""
    from tests import fixtures as fx
    from tests.conftest import spans_df

    from ebook_conversion_to_text_for_machine_learning_spark.operators.transcripts import (
        apply_ocr,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.sources.file_ingest import (
        spans_from_binary_df,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.testing.corpus import (
        corpus_spans_df,
    )

    bin_df = spark.createDataFrame([("a.txt", b"x")], "path string, content binary")
    corpus = corpus_spans_df(spark, 30, seed=3, partitions=3)
    for df in (
        spans_from_binary_df(bin_df),
        corpus,
        apply_ocr(spans_df(spark, [fx.EPUB_002]), lambda images: ""),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and "MapInPandas" not in plan
    # the generator's rows are the driver-built rows of the same documents
    expected = spans_df(spark, [fx.make_doc(i, 3) for i in range(30)])
    by_id = lambda r: r.doc_id  # noqa: E731
    assert sorted(corpus.collect(), key=by_id) == sorted(expected.collect(), key=by_id)


def test_run_ocr_with_retries_reference_semantics():
    from ebook_conversion_to_text_for_machine_learning_spark.operators.transcripts import (
        run_ocr_with_retries,
    )

    assert run_ocr_with_retries(lambda imgs: "hello", []) == ""  # no images

    calls = []

    def refuses_twice(imgs):
        calls.append(1)
        return "I'm sorry, I cannot" if len(calls) <= 2 else "recovered text"

    assert run_ocr_with_retries(refuses_twice, ["x"]) == "recovered text"
    assert len(calls) == 3

    def always_refuses(imgs):
        return "I apologize"

    assert run_ocr_with_retries(always_refuses, ["x"], max_retries=3) == ""

    def raises(imgs):
        raise RuntimeError("api down")

    assert run_ocr_with_retries(raises, ["x"]) == ""
    assert run_ocr_with_retries(lambda imgs: "No text found", ["x"]) == ""
    assert run_ocr_with_retries(lambda imgs: "", ["x"]) == ""


def test_ngram_jaccard_threshold(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    near = BASE + " extra"
    df = _docs_df(spark, [(1, "en", BASE), (2, "en", near), (3, "fr", BASE)])
    pairs = ngram_jaccard_pairs(df, block_col="lang", threshold=0.8).collect()
    # doc 3 shares text but is in another blocking key (lang).
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard > 0.9


def test_ngram_jaccard_size_bucketing_is_exact(spark):
    """The (block, size-bucket) composite key must be a pure physical
    optimization: identical output rows to the whole-block join on a
    corpus engineered to cross bucket boundaries — same-bucket pairs,
    adjacent-bucket pairs (sizes 6 vs 9 straddle the 8-boundary at
    J≥0.5), empty docs (0-gram pairs pass 0 ≥ 0), and multi-guest
    blocking at t=0.3 (G=2, pairs two buckets apart)."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    w = "alpha beta gamma delta echo fox golf hotel india juliet kilo lima".split()
    docs = [
        (1, "en", " ".join(w[:6])),            # 6 grams, bucket 3
        (2, "en", " ".join(w[:9])),            # 9 grams, bucket 4 (J=6/9)
        (3, "en", " ".join(w[:6]) + " xray"),  # 7 grams, bucket 3
        (4, "en", ""),                         # empty
        (5, "en", ""),                         # empty (pairs with 4)
        (6, "en", " ".join(w)),                # 12 grams, bucket 4
        (7, "en", " ".join(w[:4])),            # 4 grams, bucket 3 vs doc1 J=4/6
        (8, "fr", " ".join(w[:6])),            # other block
        (9, "en", " ".join(w[:3])),            # 3 grams, bucket 2 — two below 9
    ]
    df = _docs_df(spark, docs)
    for t in (0.5, 0.3):
        plain = {
            tuple(r)
            for r in ngram_jaccard_pairs(
                df, block_col="lang", threshold=t, size_bucketed=False
            ).collect()
        }
        bucketed = {
            tuple(r)
            for r in ngram_jaccard_pairs(
                df, block_col="lang", threshold=t, size_bucketed=True
            ).collect()
        }
        assert bucketed == plain and plain
    # sanity: the t=0.5 set crosses a bucket boundary and keeps empties
    keys = {(a, b) for (a, b, _) in plain} | {
        (a, b)
        for (a, b, _) in {
            tuple(r)
            for r in ngram_jaccard_pairs(
                df, block_col="lang", threshold=0.5, size_bucketed=True
            ).collect()
        }
    }
    assert (1, 2) in keys and (4, 5) in keys


def test_cosine_topk_identical_vector_ranks_first(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        cosine_topk,
        lsh_ann_topk,
    )

    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),     # identical to probe
        (2, [0.9, 0.1, 0.0, 0.0]),     # close
        (3, [-1.0, 0.0, 0.0, 0.0]),    # opposite
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    probes = df.where(F.col("vec_id") == 0)
    top = cosine_topk(df, probes, k=3)
    ranked = [(r.item_id, r.cosine) for r in top.orderBy("rank").collect()]
    assert ranked[0] == (1, 1.0)
    assert ranked[1][0] == 2
    assert ranked[-1] == (3, -1.0)

    ann = lsh_ann_topk(df, probes, 4, k=3).orderBy("rank").collect()
    # LSH keeps same-bucket items; the identical vector must survive.
    assert ann[0].item_id == 1 and ann[0].cosine == 1.0
    # the opposite vector lands in a different bucket and is pruned
    assert all(r.item_id != 3 for r in ann)


def test_transcript_sidecar_enrichment(spark):
    """epub-002 with the transcript stripped from the input + supplied via
    the sidecar must extract identically to the original golden."""
    from tests import fixtures as fx
    from tests.conftest import spans_df

    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        extract_spans,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.operators.transcripts import (
        apply_transcripts,
    )

    doc = dict(fx.EPUB_002)
    doc["spans"] = [
        (k, "" if k == "img" else t, r, o) for k, t, r, o in doc["spans"]
    ]
    sidecar = spark.createDataFrame(
        [(doc["doc_id"], "chapter_one.jpg", "Chapter One")],
        "doc_id string, media_ref string, transcript string",
    )
    enriched = apply_transcripts(spans_df(spark, [doc]), sidecar)
    out = extract_spans(enriched).collect()[0]
    got = [(s.kind, s.text, s.media_ref, s.order) for s in out.spans]
    assert got == fx.EPUB_002_EXPECTED

    # Without the sidecar, the empty transcript means no chapter trigger →
    # that section is dropped (the reference's OCR-failure behavior).
    bare = extract_spans(spans_df(spark, [doc])).collect()[0]
    bare_text = "".join(s.text for s in bare.spans)
    assert "First chapter paragraph text." not in bare_text


def test_unknown_span_kinds_ignored(spark):
    from tests import fixtures as fx
    from tests.conftest import spans_df

    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        extract_spans,
    )

    doc = fx._doc(
        "txt-odd",
        "txt",
        fx._spans(
            [("line", "Hello.", ""), ("weird_kind", "IGNORED", ""), ("line", "Bye.", "")]
        ),
    )
    out = extract_spans(spans_df(spark, [doc])).collect()[0]
    assert "".join(s.text for s in out.spans) == "Hello.\nBye."


def test_media_stub_and_error_path(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.media import (
        attach_payloads,
        extract_media_features,
    )

    df = spark.createDataFrame([(1, "abc"), (2, "")], "doc_id long, text string")
    payloads = attach_payloads(df, "image")
    rows = {r.media_id: r for r in extract_media_features(payloads).collect()}
    assert rows["1"].n_bytes == 3
    assert rows["1"].first_byte == ord("a")
    assert rows["1"].byte_sum_mod == ord("a") + ord("b") + ord("c")
    assert rows["2"].n_bytes == 0 and rows["2"].first_byte is None


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _ref_qdist(a, b):
    """Python reference for the PQ distance: per-dimension
    floor(d² · 10⁴ + 0.5), summed as an integer."""
    import math

    return sum(math.floor((x - c) * (x - c) * 10000.0 + 0.5) for x, c in zip(a, b))


def _pq_ref_codes(vec, books):
    """Python reference encoder: per subspace, the code at minimum
    ``_ref_qdist`` distance, ties to the smaller code."""
    d0 = len(books[0][0][1])
    return [
        min((_ref_qdist(vec[s * d0 : (s + 1) * d0], cvec), code) for code, cvec in book)[1]
        for s, book in enumerate(books)
    ]


def _pq_ref_adc(vec, codes, books):
    """Python reference ADC distance from a raw probe vector to a code row."""
    d0 = len(books[0][0][1])
    return sum(
        _ref_qdist(vec[s * d0 : (s + 1) * d0], books[s][c][1]) for s, c in enumerate(codes)
    )


def test_ivf_assign_and_topk_find_identical_vector(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_assign,
        ivf_centroids,
    )

    # Two clusters around orthogonal axes; centroids are ids 0 and 50.
    axis_a = [1.0, 0.0, 0.0, 0.0]
    axis_b = [0.0, 1.0, 0.0, 0.0]
    rows = [
        (0, axis_a),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.95, 0.05, 0.0, 0.0]),
        (50, axis_b),
        (51, [0.1, 0.9, 0.0, 0.0]),
    ]
    df = _emb_df(spark, rows)
    cents = ivf_centroids(df, stride=50)
    assert [c[0] for c in cents] == [0, 50]
    cells = {r.vec_id: r.cell_id for r in ivf_assign(df, cents).collect()}
    assert cells[1] == 0 and cells[2] == 0 and cells[51] == 50

    probes = df.where(F.col("vec_id") == 1)
    out = ivf_ann_topk(df, probes, k=2, stride=50)
    got = [(r.item_id, r.rank) for r in out.orderBy("rank").collect()]
    assert got[0][0] == 2  # nearest same-cell neighbor, self excluded


def test_ivf_codebook_constant_in_corpus_size(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        ivf_centroids,
    )

    def corpus(n):
        return _emb_df(spark, [(i, [float(i % 7), 1.0, 0.0, 0.0]) for i in range(n)])

    # 4× the rows, same codebook size: stride scales with N.
    small = ivf_centroids(corpus(100), target_cells=10)
    large = ivf_centroids(corpus(400), target_cells=10)
    assert len(small) == 10 and len(large) == 10

    with pytest.raises(ValueError, match="empty codebook"):
        # ids start at 1 and never hit the stride → clear error, not an
        # opaque analysis failure downstream.
        ivf_centroids(_emb_df(spark, [(1, [1.0, 0.0, 0.0, 0.0])]), stride=50)


def test_embedding_near_dup_threshold(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        embedding_near_dup,
    )

    dup = [0.6, 0.8, 0.0, 0.0]
    ortho = [0.0, 0.0, 1.0, 0.0]
    df = _emb_df(spark, [(1, dup), (2, dup), (3, ortho)])
    pairs = {(r.vec_a, r.vec_b): r.cosine for r in embedding_near_dup(df, 4).collect()}
    assert pairs == {(1, 2): 1.0}


def test_pq_codebooks_constant_size_and_errors(spark):
    import pytest

    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        pq_codebooks,
    )

    def corpus(n):
        return _emb_df(
            spark, [(i, [float((i * j) % 5) for j in range(1, 9)]) for i in range(n)]
        )

    small = pq_codebooks(corpus(100), m=2, target_codes=10)
    large = pq_codebooks(corpus(400), m=2, target_codes=10)
    assert len(small) == 2 and len(large) == 2
    # 4× the rows, same codebook size per subspace: stride scales with N.
    assert len(small[0]) == len(large[0]) == 10
    # Codes are dense ranks, subvectors split the dim evenly.
    assert [c for c, _ in small[0]] == list(range(10))
    assert all(len(v) == 4 for _, v in small[0])

    with pytest.raises(ValueError):
        pq_codebooks(corpus(100), m=3)  # dim 8 not divisible
    with pytest.raises(ValueError):
        pq_codebooks(corpus(100).where(F.col("vec_id") < 0), stride=1)


def test_pq_encode_matches_python_reference(spark):
    import random

    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    df = _emb_df(spark, rows)
    books = pq_codebooks(df, m=2, target_codes=8)
    got = {r.vec_id: list(r.codes) for r in pq_encode(df, books).collect()}
    # EXACT agreement (not within-noise): the per-component x10k
    # quantization makes both sides compare identical integers.
    want = {
        r.vec_id: _pq_ref_codes([float(x) for x in r.embedding], books)
        for r in df.collect()
    }
    assert got == want and len(got) == 60


def test_pq_adc_topk_is_exact_when_corpus_is_the_codebook(spark):
    import random

    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
    )

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)]
    df = _emb_df(spark, rows)
    # stride=1 samples EVERY vector: each vector quantizes to itself, so
    # ADC distance == the exact quantized L2 distance — the top-k must
    # equal brute force.
    books = pq_codebooks(df, m=2, stride=1)

    vals = {r.vec_id: [float(x) for x in r.embedding] for r in df.collect()}

    out = pq_adc_topk(df, df.where(F.col("vec_id") < 2), books, k=3)
    got = {}
    for r in out.collect():
        got.setdefault(r.probe_id, []).append((r.rank, r.item_id, r.adc_x10k))
    for pid in (0, 1):
        expected = sorted(
            (_ref_qdist(vals[pid], v), i) for i, v in vals.items() if i != pid
        )[:3]
        assert sorted(got[pid]) == [
            (rk, i, d) for rk, (d, i) in enumerate(expected, start=1)
        ]


def test_pq_adc_topk_matches_brute_force_under_ties(spark, monkeypatch):
    """The Arrow LUT-gather scan matches a Python ADC brute force row for
    row — including rank assignment under quantization ties (the
    per-chunk partial top-k keeps the (adc ASC, item ASC) total order,
    so the union of chunk top-k sets is a superset of the global top-k),
    with the probes scored in one block or split one per block — and the
    exact re-rank of its shortlist matches a Python re-rank."""
    import math
    import random
    from decimal import ROUND_HALF_UP, Decimal
    from functools import reduce

    from ebook_conversion_to_text_for_machine_learning_spark.operators import similarity
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        pq_adc_rerank_topk,
        pq_adc_topk,
        pq_codebooks,
    )

    rng = random.Random(7)
    # duplicate vectors on purpose: quantization ties exercise the
    # boundary-tie handling of the chunk-level selection
    base = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    rows = [(i, base[i % 40]) for i in range(120)]
    # one partition: the tied copies share a chunk, so the in-chunk
    # boundary tie-break decides which of them survives
    df = _emb_df(spark, rows).coalesce(1)
    probes = df.where(F.col("vec_id") < 4)
    books = pq_codebooks(df, m=2, target_codes=8)

    vals = {r.vec_id: [float(x) for x in r.embedding] for r in df.collect()}
    codes = {i: _pq_ref_codes(v, books) for i, v in vals.items()}

    def ranked(pid, n):
        return sorted(
            (_pq_ref_adc(vals[pid], codes[i], books), i) for i in vals if i != pid
        )[:n]

    def cosine(a, b):
        # Spark's left-fold double sums, then round(·, 4) half-up on the
        # shortest decimal form, as F.round does.
        def dot(x, y):
            return reduce(lambda acc, t: acc + t[0] * t[1], zip(x, y), 0.0)

        c = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        return float(Decimal(repr(c)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

    # k=1 cuts through ties such as the one between a probe's two copies.
    # A 1-cell score budget scores the 4 probes of the one 120-row chunk
    # in 4 blocks of one probe.
    for budget in (similarity._SCORE_CELLS, 1):
        monkeypatch.setattr(similarity, "_SCORE_CELLS", budget)
        for k in (1, 6):
            want = sorted(
                (pid, i, adc, rk)
                for pid in range(4)
                for rk, (adc, i) in enumerate(ranked(pid, k), start=1)
            )
            got = sorted(map(tuple, pq_adc_topk(df, probes, books, k=k).collect()))
            assert got == want and len(got) == 4 * k, (budget, k)

    want_rr = []
    for pid in range(4):
        scored = sorted((-cosine(vals[pid], vals[i]), i) for _, i in ranked(pid, 9))
        want_rr += [(pid, i, -nc, rk) for rk, (nc, i) in enumerate(scored[:3], start=1)]
    got_rr = sorted(
        map(tuple, pq_adc_rerank_topk(df, probes, books, k=3, shortlist=9).collect())
    )
    assert got_rr == sorted(want_rr)


def test_arrow_lut_paths_reject_non_integral_ids(spark):
    """The Arrow LUT kernels index numpy tables by id — a string-keyed
    probe frame must fail fast with a usable TypeError, not a mid-job
    numpy error (advice r4)."""
    import pytest

    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        ivf_centroids,
        pq_adc_cell_scan_arrow,
        pq_adc_topk,
        pq_codebooks,
    )

    df = _emb_df(spark, [(i, [float(i), 0.0]) for i in range(8)])
    books = pq_codebooks(df, m=1, target_codes=4)
    cents = ivf_centroids(df, stride=4)
    str_probes = df.select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    with pytest.raises(TypeError, match="integral"):
        pq_adc_topk(
            df,
            str_probes,
            books,
            k=2,
            codes=df.select("vec_id").withColumn("codes", F.array(F.lit(0))),
        )
    with pytest.raises(TypeError, match="integral"):
        pq_adc_cell_scan_arrow(
            df.selectExpr("vec_id as item_id", "0L as cell_id", "array(0) as codes"),
            str_probes,
            cents,
            books,
            nprobe=1,
            per_probe_r=2,
        )


def test_pq_adc_cell_scan_superset_of_topk_with_exact_scores(spark, monkeypatch):
    """The inverted-list kernel (candidate pairing inside numpy, never
    as Spark rows) must emit — per probe — a SUPERSET of the global
    (adc ASC, item ASC) top-R pairs over that probe's cells, with
    integers identical to a brute force over the probed cells; the
    downstream row_number shortlist is therefore unchanged by pruning,
    and so is the probe blocking a small score budget forces."""
    import collections

    from ebook_conversion_to_text_for_machine_learning_spark.operators import similarity
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        ivf_assign_arrow,
        ivf_centroids,
        ivf_probe_cells_arrow,
        pq_adc_cell_scan_arrow,
        pq_codebooks,
        pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_centroids(emb, target_cells=8)
    books = pq_codebooks(emb, m=2, target_codes=8)
    cells = ivf_assign_arrow(emb, cents)
    codes = pq_encode(emb, books)
    probes = emb.where(F.col("vec_id") < 6)
    r = 5

    cwc = codes.select(F.col("vec_id").alias("item_id"), "codes").join(
        cells.select(F.col("vec_id").alias("item_id"), "cell_id"), "item_id"
    )

    # reference: Python ADC brute force over every item in the probed cells
    probe_vecs = {x.vec_id: [float(v) for v in x.embedding] for x in probes.collect()}
    probed = collections.defaultdict(set)
    for x in ivf_probe_cells_arrow(probes, cents, nprobe=2).collect():
        probed[x.probe_id].add(x.probe_cell)
    ref = {
        (p, x.item_id): _pq_ref_adc(probe_vecs[p], list(x.codes), books)
        for x in cwc.collect()
        for p in probe_vecs
        if x.cell_id in probed[p] and x.item_id != p
    }
    by_probe = collections.defaultdict(list)
    for (p, i), q in ref.items():
        by_probe[p].append((q, i))
    assert by_probe.keys() == probe_vecs.keys()
    # A 1-cell score budget scores one probe per block, so a cell probed
    # by three or more probes splits into three or more blocks.
    probes_per_cell = collections.Counter(c for cs in probed.values() for c in cs)
    assert max(probes_per_cell.values()) >= 3

    for budget in (similarity._SCORE_CELLS, 1):
        monkeypatch.setattr(similarity, "_SCORE_CELLS", budget)
        got = {
            (x.probe_id, x.item_id): x.adc_x10k
            for x in pq_adc_cell_scan_arrow(
                cwc, probes, cents, books, nprobe=2, per_probe_r=r
            ).collect()
        }
        assert set(got) <= set(ref)  # never invents a pair
        for pair, q in got.items():
            assert q == ref[pair], (budget, pair)  # identical integers
        for p, scored in by_probe.items():
            top = {i for _, i in sorted(scored)[:r]}
            kept = {i for (pp, i) in got if pp == p}
            assert top <= kept, (budget, p, top - kept)  # global top-R survives

    # an empty probe batch scores nothing
    no_probes = emb.where(F.col("vec_id") < 0)
    assert not pq_adc_cell_scan_arrow(
        cwc, no_probes, cents, books, nprobe=2, per_probe_r=r
    ).collect()


def test_pq_index_round_trip_identical_topk(spark, tmp_path):
    import random

    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        pq_adc_rerank_topk,
        pq_adc_topk,
        pq_codebooks,
        read_pq_index,
        write_pq_index,
    )

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)]
    df = _emb_df(spark, rows)
    probes = df.where(F.col("vec_id") < 3)
    path = str(tmp_path / "pq_index")
    write_pq_index(df, path, m=2, target_codes=8)
    books, codes = read_pq_index(spark, path)
    # The codebook list round-trips exactly...
    assert books == pq_codebooks(df, m=2, target_codes=8)
    # ...so indexed search (no re-encode) is bit-identical to live.
    live = sorted(map(tuple, pq_adc_topk(df, probes, books, k=4).collect()))
    idx = sorted(
        map(tuple, pq_adc_topk(df, probes, books, k=4, codes=codes).collect())
    )
    assert live == idx
    rr_live = sorted(
        map(tuple, pq_adc_rerank_topk(df, probes, books, k=4, shortlist=12).collect())
    )
    rr_idx = sorted(
        map(
            tuple,
            pq_adc_rerank_topk(
                df, probes, books, k=4, shortlist=12, codes=codes
            ).collect(),
        )
    )
    assert rr_live == rr_idx


def test_lsh_banded_signatures_arrow_matches_expression_path(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        lsh_banded_signatures,
        lsh_banded_signatures_arrow,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    expr = {
        (r.vec_id, r.band_id): r.bucket for r in lsh_banded_signatures(emb, 64).collect()
    }
    fast = {
        (r.vec_id, r.band_id): r.bucket
        for r in lsh_banded_signatures_arrow(emb, 64).collect()
    }
    assert len(expr) == len(fast) == 2000  # 500 vectors × 4 bands
    assert expr == fast


def test_sample_frames_offsets_and_cap(spark):
    import hashlib

    from ebook_conversion_to_text_for_machine_learning_spark.operators.media import (
        attach_payloads,
        sample_frames,
    )

    long_text = "x" * 300  # 300 bytes → frames at 0, 64, 128, 192, 256
    df = spark.createDataFrame(
        [(1, long_text), (2, "short"), (3, ""), (4, "é" * 40)],
        "doc_id long, text string",
    )
    payloads = attach_payloads(df, "image")
    frames = sample_frames(payloads, frame_size=16, stride=64, max_frames=4)
    by_doc = {}
    for r in frames.collect():
        by_doc.setdefault(r.media_id, []).append(r)
    assert len(by_doc["1"]) == 4  # 5 windows capped at 4
    f0 = sorted(by_doc["1"], key=lambda r: r.frame_idx)[0]
    assert f0.frame_offset == 0 and f0.frame_bytes == 16
    assert f0.frame_md5 == hashlib.md5((b"x" * 16).hex().upper().encode()).hexdigest()
    (short,) = by_doc["2"]
    assert short.frame_bytes == 5  # tail window is the whole payload
    assert "3" not in by_doc  # empty payload yields no frames
    # Multi-byte UTF-8: framing is BYTE-based ("é"*40 is 80 bytes → frames
    # at 0 and 64), and the window may split a codepoint mid-sequence.
    mb = sorted(by_doc["4"], key=lambda r: r.frame_idx)
    payload = ("é" * 40).encode("utf-8")
    assert [(r.frame_offset, r.frame_bytes) for r in mb] == [(0, 16), (64, 16)]
    assert mb[1].frame_md5 == hashlib.md5(payload[64:80].hex().upper().encode()).hexdigest()


def test_resize_media_stub_pads_and_truncates(spark):
    import hashlib

    from ebook_conversion_to_text_for_machine_learning_spark.operators.media import (
        attach_payloads,
        resize_media_stub,
    )

    df = spark.createDataFrame([(1, "abc"), (2, "z" * 100)], "doc_id long, text string")
    payloads = attach_payloads(df, "image")
    def hex_md5(data):
        return hashlib.md5(data.hex().upper().encode()).hexdigest()

    rows = {r.media_id: r for r in resize_media_stub(payloads, target_w=4, target_h=4).collect()}
    assert rows["1"].resized_bytes == 16
    assert rows["1"].resized_md5 == hex_md5(b"abc".ljust(16, b"\x00"))
    assert rows["2"].resized_md5 == hex_md5(b"z" * 16)


def test_ivf_assign_arrow_matches_expression_path(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_arrow,
        ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_centroids(emb, target_cells=10)
    expr = {r.vec_id: r.cell_id for r in ivf_assign(emb, cents).collect()}
    fast = {r.vec_id: r.cell_id for r in ivf_assign_arrow(emb, cents).collect()}
    assert len(expr) == len(fast) == 500
    # Identical up to float-summation-order ties; on this corpus they agree
    # everywhere — any systematic divergence would break far more than a tie.
    disagree = [k for k in expr if expr[k] != fast[k]]
    assert len(disagree) <= 2, disagree


def test_ivf_assign_arrow_rounds_before_argmax(spark):
    """Cell assignment must rank round(cos, 4) like the expression twin
    and the SQL oracle. Probe id 3 sits a hair closer to centroid 10 than
    to centroid 0 (unrounded gap ~1e-8), but both cosines round to the
    same 4-decimal value — so the min-id tie-break must pick cell 0; an
    unrounded argmax would pick cell 10."""
    import math

    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_arrow,
        ivf_centroids,
    )

    theta, eps = 0.01, 1e-6
    rows = [
        (0, [1.0, 0.0]),
        (10, [math.cos(theta), math.sin(theta)]),
        (3, [math.cos(theta / 2 + eps), math.sin(theta / 2 + eps)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_centroids(df, stride=10)
    assert [c[0] for c in cents] == [0, 10]
    fast = {r.vec_id: r.cell_id for r in ivf_assign_arrow(df, cents).collect()}
    expr = {r.vec_id: r.cell_id for r in ivf_assign(df, cents).collect()}
    assert fast[3] == expr[3] == 0
    assert fast == expr


def test_source_mix_stats_exact_integers(spark):
    """Per-source rollup: counts, exact dup rate and token share as
    integer-divided x10k BIGINTs. Source A has one exact duplicate pair
    (identical normalized text), B has none; shares partition the corpus
    token count."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        source_mix_stats,
    )

    rows = [
        (1, "A", BASE),
        (2, "A", "  " + BASE.upper() + " "),  # same normalized fingerprint
        (3, "A", "a different document about ships at sea tonight"),
        (4, "B", "the copper lantern hangs in the harbor window"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.source: r for r in source_mix_stats(df).collect()}
    assert set(out) == {"A", "B"}
    a, b = out["A"], out["B"]
    assert (a.n_docs, a.n_unique) == (3, 2) and (b.n_docs, b.n_unique) == (1, 1)
    assert a.dup_rate_x10k == (3 - 2) * 10000 // 3 and b.dup_rate_x10k == 0
    total = a.n_tokens + b.n_tokens
    assert a.token_share_x10k == a.n_tokens * 10000 // total
    assert b.token_share_x10k == b.n_tokens * 10000 // total
    assert 0 < a.mean_quality_x10k <= 10000


def test_empty_and_blank_docs_score_zero_through_the_shared_guard(spark):
    """An empty and a whitespace-only text have no tokens, and under the
    session's ANSI setting the unguarded quality ratios throw on them.
    ``document_features``, ``corpus_stats`` and ``source_mix_stats``
    score them 0, predict 'und' and fingerprint them as md5(""); a normal
    text gets the values the per-signal operators give the same row."""
    import hashlib

    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        scrub_pii,
        source_mix_stats,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.operators.features import (
        document_features,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.operators.text_stats import (
        LANG_MARKERS,
        corpus_stats,
        fingerprints,
        language_id,
        quality_scores,
    )

    text = BASE + " mail a.b@example.com or see https://example.org/x"
    rows = [(1, "en", "S", ""), (2, "en", "S", "   "), (3, "en", "S", text)]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    feats = {r.doc_id: r for r in document_features(df).collect()}
    assert set(feats) == {1, 2, 3}
    empty_md5 = hashlib.md5(b"").hexdigest()
    for d in (1, 2):
        f = feats[d]
        assert (f.quality_score, f.predicted_lang, f.fingerprint) == (
            0.0,
            "und",
            empty_md5,
        )
    normal = df.where(F.col("doc_id") == 3)
    f = feats[3]
    q = quality_scores(normal).first()
    lang = language_id(normal).first()
    pii = scrub_pii(normal).first()
    assert 0 < f.quality_score == q.quality_score
    assert f.predicted_lang == lang.predicted_lang == "en"
    scores = [f"score_{code}" for code in LANG_MARKERS]
    assert [f[c] for c in scores] == [lang[c] for c in scores]
    assert f.fingerprint == fingerprints(normal).first().fingerprint
    assert (f.n_urls, f.n_emails, f.n_phones) == (
        pii.n_urls,
        pii.n_emails,
        pii.n_phones,
    )
    assert (f.n_urls, f.n_emails) == (1, 1)
    # The two rollups average the empty docs in at quality 0.
    mean_x10k = round(q.quality_score * 10000) // 3
    (stats,) = corpus_stats(df).collect()
    assert (stats.n_docs, stats.mean_quality_x10k) == (3, mean_x10k)
    (mix,) = source_mix_stats(df).collect()
    assert (mix.n_docs, mix.n_unique, mix.mean_quality_x10k) == (3, 2, mean_x10k)


def test_knn_label_vote_majority_and_tie_break(spark):
    """Hand-built 2-D corpus: probe 100 sits among three label-7 vectors
    and two label-3 vectors -> majority 7. Probe 200's top-4 split 2-2 ->
    the modal tie breaks to the SMALLER label. The injected-topk path
    (voting over ivf_ann_topk output) must agree with the exact path."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        ivf_ann_topk,
        knn_label_vote,
    )

    corpus_rows = [
        # cluster near e1: labels 7,7,7,3,3
        (0, [1.0, 0.0], 7),
        (1, [0.99, 0.14], 7),
        (2, [0.99, -0.14], 7),
        (3, [0.98, 0.2], 3),
        (4, [0.98, -0.2], 3),
        # far cluster near e2: labels 5,5,9,9
        (10, [0.0, 1.0], 5),
        (11, [0.1, 0.99], 5),
        (12, [-0.1, 0.99], 9),
        (13, [0.05, 0.99], 9),
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<double>, label int"
    )
    probes = spark.createDataFrame(
        [(100, [1.0, 0.01]), (200, [0.0, 0.99])],
        "vec_id long, embedding array<double>",
    )
    out = {r.probe_id: (r.pred_label, r.n_votes) for r in
           knn_label_vote(corpus, probes, k=5).collect()}
    assert out[100] == (7, 3)
    # probe 200's top-4 neighbors are the e2 cluster: labels 5,5,9,9 and
    # the 5th is vec 3 from the e1 cluster (cos ~0.200, label 3, 1 vote)
    # — 2-2-1 -> modal tie 5 vs 9 breaks low
    assert out[200] == (5, 2)
    # injected sublinear top-k producer agrees on this tiny corpus
    ann = ivf_ann_topk(corpus, probes, k=5, stride=10, nprobe=2)
    out2 = {r.probe_id: (r.pred_label, r.n_votes) for r in
            knn_label_vote(corpus, probes, topk=ann).collect()}
    assert out2 == out

    # string labels vote on strings (not NULL via a silent long cast) and
    # the modal tie breaks lexicographically
    named = spark.createDataFrame(
        [(i, v, {7: "spam", 3: "ham", 5: "eggs", 9: "bran"}[lb])
         for i, v, lb in corpus_rows],
        "vec_id long, embedding array<double>, label string",
    )
    outs = {r.probe_id: (r.pred_label, r.n_votes) for r in
            knn_label_vote(named, probes, k=5).collect()}
    assert outs[100] == ("spam", 3)
    assert outs[200] == ("bran", 2)  # 2-2 eggs/bran tie -> lexicographic


def test_ivf_kmeans_recovers_planted_clusters(spark):
    """Spherical-Lloyd refinement must turn a bad stride-sampled codebook
    into the planted cluster structure: on a 4-cluster planted corpus the
    stride init lands on arbitrary members (assignment purity ~0.5);
    after 3 iterations every refined centroid sits on a true center
    (cos > 0.99) and the cell partition IS the planted partition."""
    import collections

    import numpy as np

    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        ivf_assign_arrow,
        ivf_centroids,
        ivf_kmeans_centroids,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.testing.corpus import (
        planted_embeddings,
    )

    df = planted_embeddings(spark, 400, 16, n_clusters=4, noise=0.3).cache()
    # the true centers, re-derived exactly as the fixture derives them
    centers = np.random.default_rng(7).standard_normal((4, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def center_cos(cents):
        mat = np.array([c[1] for c in cents], dtype=float)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        return (mat @ centers.T).max(axis=1)

    def purity(cents):
        a = ivf_assign_arrow(df, cents).toPandas()
        hit = 0
        for _, grp in a.groupby("cell_id"):
            cnt = collections.Counter(
                (int(i) * 0x9E3779B1) % 4 for i in grp.vec_id
            )
            hit += cnt.most_common(1)[0][1]
        return hit / len(a)

    init = ivf_centroids(df, target_cells=4)
    refined = ivf_kmeans_centroids(df, iters=3, target_cells=4)
    df.unpersist()
    # cell ids survive refinement (downstream nprobe relies on this)
    assert [c[0] for c in refined] == [c[0] for c in init]
    assert purity(init) < 0.7
    assert (center_cos(refined) > 0.99).all()
    assert purity(refined) == 1.0


def test_ivf_kmeans_empty_cell_keeps_previous_centroid(spark):
    """A cell that captures no members (its seed ties with a lower-id
    cell at round-4 cosine, so min-id wins every member) must keep its
    previous centroid verbatim — never vanish from the codebook, never
    collapse to NaN from a 0/0 mean."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        ivf_kmeans_centroids,
    )

    rows = [
        (i, [1.0, 0.0, 0.0, 0.0]) for i in (0, 1, 2, 4, 5)
    ] + [
        # seed of cell 3: cos to [1,0,0,0] is 1 - 5e-9, rounds to 1.0 —
        # every e1 vector (itself included) ties and goes to cell 0
        (3, [1.0, 1e-4, 0.0, 0.0]),
        (6, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    refined = ivf_kmeans_centroids(df, iters=2, stride=3)
    cents = dict(refined)
    assert sorted(cents) == [0, 3, 6]
    # empty cell 3 retained its original (unrounded) seed vector
    assert cents[3] == [1.0, 1e-4, 0.0, 0.0]
    # cell 0 is the rounded unit-mean of all six e1-ish members
    assert cents[0][0] == 1.0 and abs(cents[0][1] - 0.000017) < 1e-9
    # singleton cell 6 is its own unit mean
    assert cents[6] == [0.0, 0.0, 1.0, 0.0]


def test_ivf_zero_norm_centroid_does_not_poison_assignment(spark):
    """A zero seed vector that lands in the stride sample must not turn
    into a NaN centroid row — np.argmax over NaN scores would assign the
    ENTIRE corpus to the degenerate cell. Guarded, a zero-norm centroid
    scores cosine 0 to everything: vectors with a positive match
    elsewhere ignore it, and only the zero vector itself (cos 0
    everywhere, min-id tie-break) falls in."""
    import math

    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        ivf_assign_arrow,
        ivf_centroids,
        ivf_kmeans_centroids,
    )

    rows = [
        (0, [0.0, 0.0]),     # zero vector — becomes centroid of cell 0
        (1, [-1.0, 0.0]),    # cos -1 to cell 2, cos 0 to cell 0 -> cell 0
        (2, [1.0, 0.0]),     # centroid of cell 2
        (3, [0.9, 0.1]),     # clear cell-2 member
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_centroids(df, stride=2)
    assert [c[0] for c in cents] == [0, 2] and cents[0][1] == [0.0, 0.0]
    got = {r.vec_id: r.cell_id for r in ivf_assign_arrow(df, cents).collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 2}
    # refinement over the degenerate codebook stays NaN-free
    refined = ivf_kmeans_centroids(df, iters=2, stride=2)
    assert [c[0] for c in refined] == [0, 2]
    assert all(math.isfinite(x) for _, vec in refined for x in vec)


def test_ivf_probe_cells_arrow_matches_expression_path(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        _cell_ranking,
        ivf_centroids,
        ivf_probe_cells_arrow,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_centroids(emb, target_cells=10)
    probes = emb.where(F.col("vec_id") % 97 == 0)
    expr = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.transform(
            F.slice(_cell_ranking(F.col("embedding"), cents), 1, 3),
            lambda s: s["centroid_id"],
        ).alias("cells"),
    )
    want = {r.probe_id: list(r.cells) for r in expr.collect()}
    got_rows = ivf_probe_cells_arrow(probes, cents, nprobe=3).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r.probe_id, []).append(r.probe_cell)
    assert got.keys() == want.keys()
    disagree = [k for k in want if want[k] != got[k]]
    # same float-summation-order tolerance as the assignment twin test
    assert len(disagree) <= 2, disagree


def test_ivf_ann_topk_executes_with_large_codebook(spark):
    """Round-2 verdict item: at the advertised 65536-cell setting the
    expression probe ranking inlined one struct per centroid (millions of
    plan nodes — analysis died before data flowed). The Arrow probe path
    must keep the plan constant-size in the codebook: a ≥4096-cell
    codebook has to actually execute."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_centroids,
    )

    n, dim = 8192, 4
    rows = [
        (i, [float((i * 37 + d * 11) % 17) - 8.0 for d in range(dim)])
        for i in range(n)
    ]
    df = _emb_df(spark, rows)
    cents = ivf_centroids(df, stride=2)
    assert len(cents) == 4096
    probes = df.where(F.col("vec_id") % 1000 == 1)
    out = ivf_ann_topk(df, probes, k=3, nprobe=2, stride=2).collect()
    assert len(out) > 0
    assert all(r.rank <= 3 and r.probe_id != r.item_id for r in out)


def test_ann_recall_on_planted_neighbors(spark):
    """Recall@5 must clear documented targets on a corpus with PLANTED
    nearest neighbors (round-2 verdict item 8: the driver embeddings are
    near-random, so recall regressions were invisible there). Generator
    is fully seeded → these numbers are deterministic: measured 0.98 for
    IVF nprobe=8/100 cells, 1.0 for LSH 8 bands × 8 planes, and IVF
    recall is monotone in nprobe."""
    import collections

    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk,
        lsh_ann_topk,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.testing.corpus import (
        planted_embeddings,
    )

    emb = planted_embeddings(spark, 2000, 16, n_clusters=100, noise=0.15).cache()
    probes = emb.where(F.col("vec_id") % 211 == 0)
    exact = cosine_topk(emb, probes, k=5).collect()
    truth = collections.defaultdict(set)
    for r in exact:
        truth[r.probe_id].add(r.item_id)
    # planted structure is real: true neighbors are near-duplicates
    assert min(r.cosine for r in exact) > 0.9

    def recall(df) -> float:
        approx = collections.defaultdict(set)
        for r in df.collect():
            approx[r.probe_id].add(r.item_id)
        return sum(len(truth[p] & approx.get(p, set())) for p in truth) / sum(
            len(v) for v in truth.values()
        )

    low = recall(ivf_ann_topk(emb, probes, k=5, nprobe=1, target_cells=100))
    high = recall(ivf_ann_topk(emb, probes, k=5, nprobe=8, target_cells=100))
    assert high >= 0.9, high
    assert high >= low  # more cells scanned can only help
    # a k-means-refined codebook must not lose recall at equal nprobe —
    # tighter cells raise recall-per-cell-scanned (measured at sf0.01
    # scale: 0.86 -> 1.0 at nprobe=1; scripts/ann_recall.py)
    refined = recall(
        ivf_ann_topk(
            emb, probes, k=5, nprobe=1, target_cells=100, kmeans_iters=2
        )
    )
    assert refined >= low, (refined, low)
    assert refined >= 0.9, refined
    assert recall(lsh_ann_topk(emb, probes, 16, k=5, n_bands=8, band_planes=8)) >= 0.9

    # PQ: raw ADC cannot order near-identical cluster members (they
    # quantize to the same codes — measured 0.54 here), but the true
    # top-5 sits inside the ADC top-25; the re-rank architecture must
    # recover it (measured 1.0).
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        pq_adc_rerank_topk,
        pq_adc_topk,
        pq_codebooks,
    )

    books = pq_codebooks(emb, m=8, target_codes=64)
    raw = recall(pq_adc_topk(emb, probes, books, k=5))
    reranked = recall(pq_adc_rerank_topk(emb, probes, books, k=5, shortlist=25))
    assert reranked >= 0.9, reranked
    assert reranked >= raw
    emb.unpersist()


def test_ivfpq_topk_recall_on_planted_neighbors(spark):
    """The composed IVFADC path (cells prune → ADC scores → exact
    re-rank) must recover planted neighbors: recall is bounded by
    P(true cell probed) × P(survives the shortlist), both high at
    nprobe=8 / R=50 on this corpus."""
    import collections

    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        cosine_topk,
        ivf_centroids,
        ivfpq_topk,
        pq_codebooks,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.testing.corpus import (
        planted_embeddings,
    )

    emb = planted_embeddings(spark, 2000, 16, n_clusters=100, noise=0.15).cache()
    probes = emb.where(F.col("vec_id") % 211 == 0)
    truth = collections.defaultdict(set)
    for r in cosine_topk(emb, probes, k=5).collect():
        truth[r.probe_id].add(r.item_id)

    cents = ivf_centroids(emb, target_cells=100)
    books = pq_codebooks(emb, m=8, target_codes=64)
    approx = collections.defaultdict(set)
    out = ivfpq_topk(emb, probes, cents, books, k=5, nprobe=8, shortlist=50)
    for r in out.collect():
        approx[r.probe_id].add(r.item_id)
    recall = sum(len(truth[p] & approx.get(p, set())) for p in truth) / sum(
        len(v) for v in truth.values()
    )
    assert recall >= 0.85, recall
    emb.unpersist()


def test_pq_kmeans_codebooks_invariants(spark):
    """Lloyd training must keep the codebook contract: same nested
    shape, stable dense code ids (downstream code tables survive a
    retrain), refined entries actually move toward the data, and a code
    that captures nothing keeps its previous entry."""
    import random

    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        pq_codebooks,
        pq_kmeans_codebooks,
    )

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)]
    df = _emb_df(spark, rows)
    init = pq_codebooks(df, m=2, target_codes=8)
    trained = pq_kmeans_codebooks(df, iters=2, m=2, target_codes=8)
    assert len(trained) == len(init) == 2
    for b0, b1 in zip(init, trained):
        assert [c for c, _ in b1] == [c for c, _ in b0]  # ids stable
        assert all(len(v) == 4 for _, v in b1)
    assert trained != init  # something moved
    # iters=0 is the identity.
    assert pq_kmeans_codebooks(df, iters=0, m=2, target_codes=8) == init


def test_semantic_dedup_hand_built_exact(spark):
    """Fully deterministic SemDeDup check: ids 0/10/20 are the stride-10
    codebook, so group A (0,1,2 ~ e1) lands in cell 0, group B (10,11 ~ e2)
    in cell 10, and the orthogonal singleton 20 is its own cell. Within a
    cell the lower-id witness marks every later near-identical row."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),
        (2, [0.998, 0.0, 0.02, 0.0]),
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.01, 0.999, 0.0, 0.0]),
        (20, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = _emb_df(spark, rows)
    got = {
        r.vec_id: (r.cell_id, r.is_semantic_dup)
        for r in semantic_dedup(df, tau=0.99, stride=10).collect()
    }
    assert got == {
        0: (0, False),
        1: (0, True),
        2: (0, True),
        10: (10, False),
        11: (10, True),
        20: (20, False),
    }, got


def test_semantic_dedup_on_planted_neighbors(spark):
    """On a corpus with planted near-duplicate clusters, SemDeDup keeps
    roughly one representative per cluster: the dup fraction approaches
    1 - n_clusters/n, every cell retains its min-id keeper, and raising
    tau can only shrink the dup set."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        semantic_dedup,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.testing.corpus import (
        planted_embeddings,
    )

    emb = planted_embeddings(spark, 2000, 16, n_clusters=100, noise=0.15).cache()
    out = semantic_dedup(emb, tau=0.8, target_cells=100).collect()
    assert len(out) == 2000
    dups = {r.vec_id for r in out if r.is_semantic_dup}
    # ~20 members per planted cluster, one keeper each → dup rate near 95%
    assert len(dups) >= 0.7 * 2000, len(dups)
    keeper_min = {}
    for r in out:
        keeper_min.setdefault(r.cell_id, []).append((r.vec_id, r.is_semantic_dup))
    for cell, members in keeper_min.items():
        vid, is_dup = min(members)
        assert not is_dup, f"min-id row {vid} of cell {cell} marked dup"
    strict = {
        r.vec_id
        for r in semantic_dedup(emb, tau=0.999, target_cells=100).collect()
        if r.is_semantic_dup
    }
    assert strict <= dups
    emb.unpersist()


def test_ann_index_round_trip_identical_topk(spark, tmp_path):
    """write_ann_index → read_ann_index must answer BOTH query families
    identically to the live (recompute-everything) paths — the persisted
    signatures/cells/codebook are the same structures, just landed once
    (round-2 verdict item 7)."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_ann_topk_indexed,
        lsh_ann_topk,
        lsh_ann_topk_indexed,
        read_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.first().embedding)
    probes = emb.where(F.col("vec_id") % 97 == 0)
    path = str(tmp_path / "idx")
    write_ann_index(emb, dim, path, n_bands=2, band_planes=8, target_cells=10)
    idx = read_ann_index(spark, path)
    assert idx.dim == dim and idx.n_bands == 2 and idx.band_planes == 8

    def key(rows):
        return sorted((r.probe_id, r.item_id, r.cosine, r.rank) for r in rows)

    live_lsh = lsh_ann_topk(emb, probes, dim, k=3, n_bands=2, band_planes=8)
    from_idx_lsh = lsh_ann_topk_indexed(idx, probes, k=3)
    assert key(live_lsh.collect()) == key(from_idx_lsh.collect())

    live_ivf = ivf_ann_topk(emb, probes, k=3, target_cells=10)
    from_idx_ivf = ivf_ann_topk_indexed(idx, probes, k=3)
    assert key(live_ivf.collect()) == key(from_idx_ivf.collect())


def test_ann_index_kmeans_codebook_round_trips(spark, tmp_path):
    """A k-means codebook holds 6-decimal doubles. ``read_ann_index`` must
    hand appends and indexed searches the codebook the cells were
    assigned with, not a float32-rounded copy of it."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        ivf_kmeans_centroids,
        read_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_kmeans_centroids(emb, iters=2, target_cells=8)
    path = str(tmp_path / "idx")
    write_ann_index(
        emb, len(cents[0][1]), path, n_bands=1, band_planes=4, centroids=cents
    )
    assert read_ann_index(spark, path).centroids == cents


def test_prepare_training_data_filters_and_dedups(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.plans.training_prep import (
        prepare_training_data,
    )
    from tests.conftest import spans_df

    good = (
        "The quick brown fox jumps over the lazy dog and the miller waits "
        "for the grain in the old mill by the stone bridge near the river"
    )
    docs = [
        {"doc_id": "a", "fmt": "txt", "title": None, "author": None,
         "spans": [("line", good, "", 0)]},
        {"doc_id": "b", "fmt": "txt", "title": None, "author": None,
         "spans": [("line", good, "", 0)]},  # exact duplicate of a
        {"doc_id": "c", "fmt": "txt", "title": None, "author": None,
         "spans": [("line", "x x x x", "", 0)]},  # low quality
        {"doc_id": "d", "fmt": "txt", "title": None, "author": None,
         "spans": [("line", "Chapter 1", "", 0)]},  # extracts to '' (lstrip)
    ]
    out = {r.keeper_doc_id: r for r in prepare_training_data(spans_df(spark, docs)).collect()}
    assert set(out) == {"a"}  # dup collapsed onto first keeper; c, d filtered
    assert out["a"].n_copies == 2
    assert out["a"].quality_score >= 0.5


def test_scrub_pii_redacts_and_counts(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        scrub_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "en", "mail me at a.b@corp.io or see https://x.io/p?a=1 call +44 20 7946 0958 ok"),
            (2, "en", "no pii here at all"),
        ],
        "doc_id long, lang string, text string",
    )
    rows = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert rows[1].scrubbed_text == "mail me at <EMAIL> or see <URL> call <PHONE> ok"
    assert (rows[1].n_urls, rows[1].n_emails, rows[1].n_phones) == (1, 1, 1)
    assert rows[2].scrubbed_text == "no pii here at all"
    assert (rows[2].n_urls, rows[2].n_emails, rows[2].n_phones) == (0, 0, 0)


def test_chunk_documents_overlap_and_coverage(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        chunk_documents,
    )

    toks = [f"t{i}" for i in range(50)]
    df = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "")], "doc_id long, text string"
    )
    chunks = sorted(
        (r for r in chunk_documents(df, chunk_tokens=32, overlap=8).collect()),
        key=lambda r: (r.doc_id, r.chunk_idx),
    )
    assert [r.doc_id for r in chunks] == [1, 1, 1]  # empty doc → no chunks
    c0, c1, c2 = (r.chunk_text.split(" ") for r in chunks)
    assert len(c0) == 32 and len(c1) == 26 and len(c2) == 2
    assert c0[-8:] == c1[:8]  # overlap region shared verbatim
    # Full coverage: the non-overlapping prefixes plus the tail reproduce
    # the token stream exactly.
    assert c0[:24] + c1[:24] + c2 == toks

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_split_assign_deterministic_distribution(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        split_assign,
    )

    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    a = {r.doc_id: (r.bucket, r.split) for r in split_assign(df).collect()}
    b = {r.doc_id: (r.bucket, r.split) for r in split_assign(df).collect()}
    assert a == b  # rerun-stable
    assert all(0 <= v[0] < 256 for v in a.values())
    from collections import Counter

    frac = Counter(v[1] for v in a.values())
    assert 0.70 < frac["train"] / 1000 < 0.90
    assert 0.04 < frac["val"] / 1000 < 0.16
    assert 0.04 < frac["test"] / 1000 < 0.16


def test_minhash_k_and_band_size_parameterization(spark):
    """The recall knobs documented on MINHASH_K/BAND_SIZE must actually
    flow through: k controls signature width, band_size the banding."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        minhash_bands,
        minhash_signatures,
    )

    df = _docs_df(spark, [(1, "en", BASE), (2, "en", BASE.replace("lazy", "dozy"))])
    sigs16 = minhash_signatures(df, k=16)
    assert [c for c in sigs16.columns if c.startswith("sig_")] == [
        f"sig_{i}" for i in range(16)
    ]
    bands = minhash_bands(sigs16, k=16, band_size=4)
    rows = bands.collect()
    assert {r.band_id for r in rows} == set(range(4))  # 16/4 bands
    assert all(len(r.bucket.split("|")) == 4 for r in rows)
    # Identical docs would share every bucket; a one-token change must
    # still collide somewhere at this k (probabilistically certain here).
    by_band = {}
    for r in rows:
        by_band.setdefault(r.band_id, set()).add(r.bucket)
    assert any(len(buckets) == 1 for buckets in by_band.values())


def test_line_dedup_keeps_first_occurrence_and_reassembles(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        line_dedup,
    )

    df = _docs_df(
        spark,
        [
            (1, "en", "alpha line\nshared line\nbeta line"),
            (2, "en", "shared line\ngamma line"),
            (3, "en", "shared line"),
        ],
    )
    rows = {r.doc_id: r for r in line_dedup(df).collect()}
    # doc 1 owns the first occurrence of "shared line" and keeps everything.
    assert rows[1].kept_text == "alpha line\nshared line\nbeta line"
    assert (rows[1].n_lines, rows[1].n_kept) == (3, 3)
    # doc 2 loses the shared line but keeps its own.
    assert rows[2].kept_text == "gamma line"
    assert (rows[2].n_lines, rows[2].n_kept) == (2, 1)
    # doc 3 loses its only line but still appears, with empty text.
    assert rows[3].kept_text == ""
    assert (rows[3].n_lines, rows[3].n_kept) == (1, 0)


def test_source_pair_matrix_unordered_counts(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        source_pair_matrix,
    )

    docs = spark.createDataFrame(
        [(1, "web"), (2, "books"), (3, "web"), (4, "books")],
        "doc_id long, source string",
    )
    # (web,books) twice — once in each direction — plus one web diagonal.
    pairs = spark.createDataFrame(
        [(1, 2), (4, 3), (1, 3)], "doc_a long, doc_b long"
    )
    rows = {
        (r.source_a, r.source_b): r.n_pairs
        for r in source_pair_matrix(docs, pairs).collect()
    }
    # Direction never matters: both cross pairs land in one cell.
    assert rows == {("books", "web"): 2, ("web", "web"): 1}


def test_gram_novelty_first_owner_by_doc_id(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        gram_novelty,
    )

    df = _docs_df(
        spark,
        [
            (1, "en", "a b c d"),  # grams: "a b c", "b c d" — both novel
            (2, "en", "a b c x"),  # "a b c" owned by doc 1, "b c x" novel
            (3, "en", "a b c d"),  # exact repeat of doc 1 → nothing novel
            (4, "en", "too short"),  # < 3 tokens → no grams
        ],
    )
    rows = {r.doc_id: r for r in gram_novelty(df, n=3).collect()}
    assert (rows[1].n_grams, rows[1].n_novel, rows[1].novelty_x10k) == (2, 2, 10000)
    assert (rows[2].n_grams, rows[2].n_novel, rows[2].novelty_x10k) == (2, 1, 5000)
    assert (rows[3].n_grams, rows[3].n_novel, rows[3].novelty_x10k) == (2, 0, 0)
    assert (rows[4].n_grams, rows[4].n_novel, rows[4].novelty_x10k) == (0, 0, 0)


def test_bpe_pair_counts_hand_checked(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.text_stats import (
        bpe_pair_counts,
    )

    df = _docs_df(
        spark,
        [
            (1, "en", "abab ab"),  # "abab": ab, ba, ab; "ab": ab → ab×3 ba×1
            (2, "en", "ba x"),  # ba×1; "x" too short for any pair
        ],
    )
    rows = {r.pair: r.n_occurrences for r in bpe_pair_counts(df, min_count=1).collect()}
    assert rows == {"ab": 3, "ba": 2}
    # min_count prunes the tail.
    assert {r.pair for r in bpe_pair_counts(df, min_count=3).collect()} == {"ab"}


def test_repeated_passages_finds_cross_doc_windows(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        repeated_passages,
    )

    shared = "one two three four"  # exactly one width-4 window
    df = _docs_df(
        spark,
        [
            (1, "en", f"{shared} alpha beta"),
            (2, "en", f"head {shared} gamma delta"),  # shifted by one token
            (3, "en", "totally different words here now"),
            (4, "en", "short"),  # < width tokens → no windows
        ],
    )
    rows = repeated_passages(df, width=4, min_docs=2).collect()
    # Token alignment makes the shifted copy still produce the identical
    # window; only the genuinely shared passage survives min_docs=2.
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_docs, r.n_occurrences, r.first_doc) == (2, 2, 1)

    # Within-doc repeats count toward occurrences but not doc count.
    df2 = _docs_df(spark, [(7, "en", f"{shared} x {shared}")])
    assert repeated_passages(df2, width=4, min_docs=2).count() == 0
    solo = repeated_passages(df2, width=4, min_docs=1).collect()
    occ = {r.n_occurrences for r in solo if r.n_docs == 1}
    assert 2 in occ  # the shared window occurs twice inside doc 7


def test_decontaminate_flags_eval_overlap(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        decontaminate,
    )

    corpus = _docs_df(
        spark,
        [
            (1, "en", BASE),  # literally an eval document
            (2, "en", "completely unrelated words about ships at sea tonight"),
            (3, "en", "too short"),  # < 3 tokens → no grams
        ],
    )
    eval_df = _docs_df(spark, [(100, "en", BASE)])
    rows = {r.doc_id: r for r in decontaminate(corpus, eval_df).collect()}
    assert rows[1].contaminated and rows[1].n_contaminated == rows[1].n_grams > 0
    assert not rows[2].contaminated and rows[2].n_contaminated == 0
    assert not rows[3].contaminated and rows[3].n_grams == 0
    # The too-big-to-broadcast join path computes the identical rows.
    joined = {
        r.doc_id: r
        for r in decontaminate(corpus, eval_df, broadcast_eval=False).collect()
    }
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in joined.items()
    }


def test_domain_affinity_ranks_target_like_docs_higher(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        domain_affinity,
    )

    corpus = _docs_df(
        spark,
        [
            (1, "en", "machine learning models train fast"),  # target itself
            (2, "en", "machine learning models help research"),  # shares grams
            (3, "en", "bananas ripen slowly in cold rooms"),  # unrelated
            (4, "en", "word"),  # < 2 tokens → no grams
        ],
    )
    target = corpus.where(F.col("doc_id") == 1)
    rows = {r.doc_id: r for r in domain_affinity(corpus, target, n=2).collect()}
    assert rows[1].affinity_x10k > rows[2].affinity_x10k > rows[3].affinity_x10k
    assert rows[3].affinity_x10k == 0  # no gram overlap with the target
    assert (rows[4].n_grams, rows[4].affinity_x10k) == (0, 0)
    # Hand-check doc 2: grams "machine learning" and "learning models"
    # appear in the target once and in the corpus twice → w = 5000 each;
    # its other two grams score 0 → mean = (5000+5000+0+0) div 4.
    assert rows[2].affinity_x10k == 2500


def test_temperature_mix_plan_upsamples_small_sources(spark):
    import math

    import pytest

    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        temperature_mix_plan,
    )

    # big: 4 docs × 8 tokens = 32; small: 1 doc × 2 tokens = 2.
    rows = [(i, "big", "a b c d e f g h") for i in range(4)] + [(9, "small", "a b")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    plan = {r.source: r for r in temperature_mix_plan(df, token_budget=20).collect()}
    assert plan["big"].n_tokens == 32 and plan["small"].n_tokens == 2
    assert plan["big"].weight == math.floor(math.sqrt(32.0))
    tw = plan["big"].weight + plan["small"].weight
    assert plan["big"].target_tokens == 20 * plan["big"].weight // tw
    # T=0.5 gives the small source a larger share than its token share...
    assert (
        plan["small"].target_tokens / 20
        > plan["small"].n_tokens / (plan["small"].n_tokens + plan["big"].n_tokens)
    )
    # ...which over-epochs it (epochs > 1) while the big source undersamples.
    assert plan["small"].epochs_x10k > 10000
    assert plan["small"].sample_rate_x10k == 10000  # capped
    assert plan["big"].sample_rate_x10k < 10000
    # T=1.0 is proportional: target shares == token shares (up to int div).
    flat = {
        r.source: r for r in temperature_mix_plan(df, token_budget=100, temperature=1.0).collect()
    }
    assert flat["big"].weight == 32 and flat["small"].weight == 2

    with pytest.raises(ValueError):
        temperature_mix_plan(df, token_budget=100, temperature=0.7)


def test_filter_funnel_attributes_drops_to_first_failing_stage(spark):
    from pyspark.sql import functions as F

    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        filter_funnel,
    )

    df = spark.createDataFrame(
        [
            (1, "en", 100),  # passes everything
            (2, "en", 10),  # dropped by min_len
            (3, "de", 500),  # dropped by lang (never reaches min_len)
            (4, None, 500),  # NULL lang → dropped by lang, not passed through
        ],
        "doc_id int, lang string, n int",
    )
    stages = [
        ("lang_en", F.col("lang") == "en"),
        ("min_len", F.col("n") >= 50),
    ]
    rows = {r.stage: r for r in filter_funnel(df, stages).collect()}
    assert (rows["lang_en"].n_in, rows["lang_en"].n_dropped, rows["lang_en"].n_out) == (4, 2, 2)
    assert (rows["min_len"].n_in, rows["min_len"].n_dropped, rows["min_len"].n_out) == (2, 1, 1)
    assert [r.stage_idx for r in sorted(rows.values(), key=lambda r: r.stage_idx)] == [1, 2]

    # Empty corpus still yields one well-formed zero row per stage.
    empty = filter_funnel(df.where(F.lit(False)), stages).collect()
    assert [(r.n_in, r.n_dropped, r.n_out) for r in empty] == [(0, 0, 0)] * 2

    import pytest

    with pytest.raises(ValueError):
        filter_funnel(df, [])
    with pytest.raises(ValueError):
        filter_funnel(df, [("a", F.lit(True)), ("a", F.lit(True))])


def test_stratified_sample_deterministic_and_rate_bounded(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        stratified_sample,
    )

    df = _docs_df(
        spark, [(i, "en" if i % 2 == 0 else "es", f"doc {i}") for i in range(400)]
    )
    kept = stratified_sample(df, {"en": 1.0, "es": 0.0}).collect()
    # rate 1.0 keeps every en row; rate 0.0 drops every es row.
    assert {r.lang for r in kept} == {"en"}
    assert len(kept) == 200

    half = stratified_sample(df, {"en": 0.5}, default_rate=0.25)
    first = sorted(r.doc_id for r in half.collect())
    second = sorted(r.doc_id for r in half.collect())
    assert first == second  # hash-based: rerun-stable
    n_en = sum(1 for d in first if d % 2 == 0)
    n_es = len(first) - n_en
    # md5 buckets are uniform: expect ~100 en (of 200 at 50%) and ~50 es.
    assert 70 <= n_en <= 130 and 25 <= n_es <= 75


def test_pack_sequences_fills_bins_to_budget(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        pack_sequences,
    )

    chunks = spark.createDataFrame(
        [("train", i, 0, 30) for i in range(10)],
        "split string, doc_id long, chunk_idx long, n_chunk_tokens long",
    )
    out = pack_sequences(chunks, budget=64, n_shards=1).collect()
    by_bin = {}
    for r in out:
        by_bin.setdefault(r.bin_id, []).append(r)
    # 10 chunks × 30 tokens at budget 64: offsets 0,30,60,... → bins
    # 0,0,0,1,1,2,2,3,3,4. A boundary-straddling chunk eats the next
    # bin's offset space, so non-final bins hold budget ± (max_chunk-1).
    totals = {b: sum(r.n_tokens for r in rows) for b, rows in by_bin.items()}
    last = max(totals)
    assert all(64 - 29 <= t <= 64 + 29 for b, t in totals.items() if b != last)
    assert totals == {0: 90, 1: 60, 2: 60, 3: 60, 4: 30}
    # a chunk starting at offset S is in bin S // budget
    assert all(r.bin_id == r.bin_offset // 64 for r in out)
    # deterministic order: offsets strictly increase with doc_id
    offs = [r.bin_offset for r in sorted(out, key=lambda r: r.doc_id)]
    assert offs == sorted(offs) and offs[0] == 0


def test_pack_sequences_shards_bound_window_partitions(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        pack_sequences,
    )

    chunks = spark.createDataFrame(
        [("train", i, 0, 10) for i in range(32)],
        "split string, doc_id long, chunk_idx long, n_chunk_tokens long",
    )
    out = pack_sequences(chunks, budget=20, n_shards=4).collect()
    shards = {r.shard for r in out}
    assert shards == {0, 1, 2, 3}
    # packing is shard-local: each shard's offsets start at 0
    for s in shards:
        assert min(r.bin_offset for r in out if r.shard == s) == 0


def test_repetition_signals_flags_repetitive_docs(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.operators.text_stats import (
        repetition_signals,
    )

    df = _docs_df(
        spark,
        [
            (1, "en", "spam spam spam spam spam spam"),  # one 2-gram repeated
            (2, "en", BASE),  # natural text
            (3, "en", "xy"),  # single token → no grams
        ],
    )
    rows = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert rows[1].repetitive
    assert rows[1].n_2grams == 5 and rows[1].top_2gram_cnt == 5
    assert rows[1].dup_3gram_cnt == rows[1].n_3grams == 4
    assert not rows[2].repetitive
    assert rows[3].n_2grams == 0 and not rows[3].repetitive


def test_repetition_signals_hand_computed_flags(spark):
    """Counts and flag on short, empty and borderline docs, computed by
    hand: (n_2grams, top_2gram_cnt, n_3grams, dup_3gram_cnt, repetitive)."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.text_stats import (
        repetition_signals,
    )

    rows = [
        (1, "en", "spam spam spam spam spam spam"),
        (2, "en", BASE),
        (3, "en", "xy"),
        (4, "en", ""),
        (5, "en", "a b a b a b a b c d e f g h i j"),
        (6, "en", "one two three one two three nine ten"),
    ]
    got = {
        r.doc_id: (r.n_2grams, r.top_2gram_cnt, r.n_3grams, r.dup_3gram_cnt, r.repetitive)
        for r in repetition_signals(_docs_df(spark, rows)).collect()
    }
    assert got == {
        1: (5, 5, 4, 4, True),
        2: (24, 1, 23, 0, False),
        3: (0, 0, 0, 0, False),
        4: (0, 0, 0, 0, False),
        # "a b" 4 of 15 2-grams (400 > 20·15); "a b a"/"b a b" 3 each of 14
        5: (15, 4, 14, 6, True),
        # "one two" 2 of 7 2-grams (200 > 20·7)
        6: (7, 2, 6, 2, True),
    }


def test_prepare_training_mix_filters_and_packs(spark):
    from ebook_conversion_to_text_for_machine_learning_spark.plans.training_prep import (
        prepare_training_mix,
    )
    from tests.conftest import spans_df

    good = (
        "The quick brown fox jumps over the lazy dog and the miller waits "
        "for the grain in the old mill by the stone bridge near the river"
    )
    contaminated = (
        "An evaluation answer sentence lives here with the quite specific "
        "wording that a benchmark question would carry in its rubric text"
    )
    repetitive = "hello there " * 20  # one 2-gram dominates
    docs = [
        {"doc_id": "a", "fmt": "txt", "title": None, "author": None,
         "spans": [("line", good, "", 0)]},
        {"doc_id": "b", "fmt": "txt", "title": None, "author": None,
         "spans": [("line", repetitive.strip(), "", 0)]},
        {"doc_id": "c", "fmt": "txt", "title": None, "author": None,
         "spans": [("line", contaminated, "", 0)]},
    ]
    eval_df = spark.createDataFrame([(contaminated,)], "text string")
    out = prepare_training_mix(
        spans_df(spark, docs), eval_df=eval_df,
        chunk_tokens=8, overlap=0, budget=16, n_shards=2,
    ).collect()
    # b dropped (repetitive), c dropped (eval overlap), a survives chunked.
    assert {r.doc_id for r in out} == {"a"}
    assert all(r.bin_id == r.bin_offset // 16 for r in out)
    assert len({r.text_hash for r in out}) == 1
    # chunks pack contiguously within the (split, shard) group
    offs = [r.bin_offset for r in sorted(out, key=lambda r: r.chunk_idx)]
    assert offs[0] == 0 and offs == sorted(offs)

    # without the eval set, c comes back; b stays filtered
    out2 = prepare_training_mix(
        spans_df(spark, docs), chunk_tokens=8, overlap=0, budget=16, n_shards=2,
    ).collect()
    assert {r.doc_id for r in out2} == {"a", "c"}


def test_pack_sequences_randomized_invariants(spark):
    """Seeded random chunk table: within every (split, shard), offsets are
    exactly the running sum in (doc_id, chunk_idx) order, bins derive from
    offsets, and every non-final bin's total is within max_chunk-1 of the
    budget on either side."""
    import random

    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        pack_sequences,
    )

    rng = random.Random(7)
    budget, max_chunk = 50, 20
    rows = []
    for doc in range(60):
        for ci in range(rng.randint(1, 5)):
            rows.append(
                (rng.choice(["train", "val"]), doc, ci, rng.randint(1, max_chunk))
            )
    chunks = spark.createDataFrame(
        rows, "split string, doc_id long, chunk_idx long, n_chunk_tokens long"
    )
    out = pack_sequences(chunks, budget=budget, n_shards=4).collect()
    assert len(out) == len(rows)
    groups = {}
    for r in out:
        groups.setdefault((r.split, r.shard), []).append(r)
    for (_, shard), rs in groups.items():
        rs.sort(key=lambda r: (r.doc_id, r.chunk_idx))
        run = 0
        for r in rs:
            assert r.shard == r.doc_id % 4
            assert r.bin_offset == run
            assert r.bin_id == run // budget
            run += r.n_tokens
        totals = {}
        for r in rs:
            totals[r.bin_id] = totals.get(r.bin_id, 0) + r.n_tokens
        for b, t in totals.items():
            if b != max(totals):
                assert budget - (max_chunk - 1) <= t <= budget + (max_chunk - 1)


def test_line_dedup_randomized_invariants(spark):
    """Seeded random multi-line corpus: the kept lines across the corpus
    are exactly the distinct input lines (each once), and every document's
    kept_text preserves its own line order."""
    import random

    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        line_dedup,
    )

    rng = random.Random(11)
    vocab = [f"line variant {i}" for i in range(25)]
    docs = [
        (d, "en", "\n".join(rng.choice(vocab) for _ in range(rng.randint(1, 6))))
        for d in range(40)
    ]
    out = {r.doc_id: r for r in line_dedup(_docs_df(spark, docs)).collect()}
    all_input_lines = [ln for _, _, text in docs for ln in text.split("\n")]
    kept = [
        ln
        for r in out.values()
        if r.kept_text
        for ln in r.kept_text.split("\n")
    ]
    assert sorted(kept) == sorted(set(all_input_lines))
    assert sum(r.n_kept for r in out.values()) == len(set(all_input_lines))
    assert sum(r.n_lines for r in out.values()) == len(all_input_lines)
    for doc_id, _, text in docs:
        original = text.split("\n")
        kept_doc = out[doc_id].kept_text.split("\n") if out[doc_id].kept_text else []
        it = iter(original)
        assert all(ln in it for ln in kept_doc)  # subsequence check


def test_decontaminate_monotone_in_eval_set(spark):
    """A superset eval corpus can only increase per-doc contamination."""
    import random

    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        decontaminate,
    )

    rng = random.Random(13)
    words = [f"w{i}" for i in range(30)]
    corpus = _docs_df(
        spark,
        [
            (d, "en", " ".join(rng.choice(words) for _ in range(rng.randint(3, 30))))
            for d in range(50)
        ],
    )
    eval_small = _docs_df(
        spark,
        [(100 + d, "en", " ".join(rng.choice(words) for _ in range(12))) for d in range(2)],
    )
    eval_big = eval_small.unionByName(
        _docs_df(
            spark,
            [(200 + d, "en", " ".join(rng.choice(words) for _ in range(12))) for d in range(6)],
        )
    )
    small = {r.doc_id: r for r in decontaminate(corpus, eval_small).collect()}
    big = {r.doc_id: r for r in decontaminate(corpus, eval_big).collect()}
    assert set(small) == set(big)
    for d in small:
        assert small[d].n_grams == big[d].n_grams
        assert big[d].n_contaminated >= small[d].n_contaminated
        assert not (small[d].contaminated and not big[d].contaminated)


def test_stratified_sample_nested_in_rate(spark):
    """Raising a group's rate only ADDS rows: the kept set at rate r is a
    subset of the kept set at any r' >= r (bucket-cutoff nesting — the
    property that makes sampled corpora refinable without resampling)."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.curation import (
        stratified_sample,
    )

    df = _docs_df(spark, [(i, "en", f"doc {i}") for i in range(300)])
    kept = {}
    for rate in (0.1, 0.3, 0.7):
        kept[rate] = {r.doc_id for r in stratified_sample(df, {"en": rate}).collect()}
    assert kept[0.1] <= kept[0.3] <= kept[0.7]
    assert len(kept[0.1]) < len(kept[0.3]) < len(kept[0.7])


def test_dedup_components_chains_and_keepers(spark):
    """Similarity is not transitive: a chain a-b, b-c must collapse into
    ONE cluster even though (a, c) was never a pair."""
    import pytest as _pytest

    from ebook_conversion_to_text_for_machine_learning_spark.operators.dedup import (
        dedup_components,
    )

    ids = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r for r in dedup_components(ids, pairs).collect()}
    assert {d: r.component for d, r in out.items()} == {
        0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5,
    }
    assert {d for d, r in out.items() if r.is_keeper} == {0, 1, 4, 5}

    # a long path needs diameter iterations; an over-tight bound raises
    # instead of returning half-propagated labels
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    ids10 = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    with _pytest.raises(ValueError, match="not converged"):
        dedup_components(ids10, chain, max_iterations=2)
    full = {r.doc_id: r.component for r in dedup_components(ids10, chain).collect()}
    assert set(full.values()) == {0}


def test_ann_and_pq_index_append_matches_frozen_rebuild(spark, tmp_path):
    """Index growth symmetry (the minhash append's ANN/PQ siblings): a
    batch appended against the index's frozen codebook/planes must yield
    an index decision-identical to a full rebuild over the grown corpus
    WITH the same frozen centroids — and replaying the append changes
    nothing."""
    import random

    import pytest

    from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import (
        append_to_ann_index,
        append_to_pq_index,
        ivf_ann_topk_indexed,
        lsh_ann_topk_indexed,
        pq_encode,
        read_ann_index,
        read_pq_index,
        write_ann_index,
        write_pq_index,
    )

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(120)]
    base = _emb_df(spark, rows[:80])
    batch = _emb_df(spark, rows[80:])
    full = _emb_df(spark, rows)
    probes = full.where(F.col("vec_id") % 17 == 0)

    grown = str(tmp_path / "ann_grown")
    write_ann_index(base, 16, grown, target_cells=8, n_bands=4, band_planes=4)
    append_to_ann_index(batch, grown, batch_id=1)
    frozen = read_ann_index(spark, grown).centroids
    rebuilt = str(tmp_path / "ann_rebuilt")
    write_ann_index(
        full, 16, rebuilt, n_bands=4, band_planes=4, centroids=frozen
    )

    def results(path, fn):
        idx = read_ann_index(spark, path)
        return sorted(tuple(r) for r in fn(idx, probes, k=3).collect())

    for fn in (ivf_ann_topk_indexed, lsh_ann_topk_indexed):
        got = results(grown, fn)
        assert got == results(rebuilt, fn) and got

    # new-batch items are actually findable through the grown index
    near_new = {r.item_id for r in ivf_ann_topk_indexed(
        read_ann_index(spark, grown), batch, k=3, nprobe=8).collect()}
    assert any(i >= 80 for i in near_new)

    # idempotent replay + reserved batch 0
    append_to_ann_index(batch, grown, batch_id=1)
    assert results(grown, ivf_ann_topk_indexed) == results(rebuilt, ivf_ann_topk_indexed)
    with pytest.raises(ValueError):
        append_to_ann_index(batch, grown, batch_id=0)

    # PQ codes: appended table == frozen-codebook encode of the union
    pqp = str(tmp_path / "pq")
    write_pq_index(base, pqp, m=4, target_codes=8)
    append_to_pq_index(batch, pqp, batch_id=1)
    append_to_pq_index(batch, pqp, batch_id=1)  # replay
    books, codes = read_pq_index(spark, pqp)
    got = {(r.vec_id, tuple(r.codes)) for r in codes.collect()}
    want = {
        (r.vec_id, tuple(r.codes))
        for r in pq_encode(full, books).collect()
    }
    assert got == want
    with pytest.raises(ValueError):
        append_to_pq_index(batch, pqp, batch_id=0)


def test_operators_read_the_tables_own_column_names():
    """Operators read the fixed ``documents``/``embeddings``/``events``
    columns by name: no library function takes a ``str`` column-name
    parameter (``*_col``) except the three callers set to other values —
    ``block_col``, ``count_col``, ``shard_col`` — and none takes a
    ``decode_stub`` switch. ``Column``-typed parameters are expressions,
    not names, and stay. JVM-free (AST only)."""
    import ast
    from pathlib import Path

    import ebook_conversion_to_text_for_machine_learning_spark as engine

    def is_str(annotation, default):
        if annotation is None:
            return isinstance(default, ast.Constant) and isinstance(default.value, str)
        return any(isinstance(t, ast.Name) and t.id == "str" for t in ast.walk(annotation))

    pkg = Path(engine.__file__).parent
    offenders = []
    for p in sorted(pkg.rglob("*.py")):
        for fn in ast.walk(ast.parse(p.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            defaults = [None] * (len(pos) - len(a.defaults)) + list(a.defaults)
            for arg, d in [*zip(pos, defaults), *zip(a.kwonlyargs, a.kw_defaults)]:
                named_col = arg.arg.endswith("_col") and is_str(arg.annotation, d)
                if (named_col and arg.arg not in {"block_col", "count_col", "shard_col"}) or (
                    arg.arg == "decode_stub"
                ):
                    offenders.append((str(p.relative_to(pkg)), fn.name, arg.arg))
    assert offenders == []
