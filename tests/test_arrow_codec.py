"""The ``mapInArrow`` codecs without a JVM: ``_extract_arrow_batches`` driven
directly on pyarrow RecordBatches must produce, per document, exactly what
``core.extract.extract_document`` produces on the same spans (nulls read
as '', spans in stable ``offset`` order); ``docs_batch``, the span
contract's one docs → RecordBatch encoder, must equal ``_batch``'s
``from_pylist`` construction; ``similarity._matrix``, the vector kernels'
list→matrix decode, must equal the per-row stack it replaces."""

import random

import numpy as np
import pyarrow as pa
import pytest

from ebook_conversion_to_text_for_machine_learning_spark.core.extract import (
    extract_document,
)
from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
    INPUT_SCHEMA,
    _extract_arrow_batches,
    decode_spans,
    docs_batch,
    encode_spans,
)
from ebook_conversion_to_text_for_machine_learning_spark.operators.similarity import _matrix
from tests import fixtures as fx

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("fmt", pa.string()),
        ("title", pa.string()),
        ("author", pa.string()),
        ("spans", pa.list_(SPAN_TYPE)),
    ]
)


def _batch(docs):
    return pa.RecordBatch.from_pylist(
        [
            {
                **{k: d[k] for k in ("doc_id", "fmt", "title", "author")},
                "spans": [
                    {"kind": k, "text": t, "media_ref": r, "offset": o}
                    for k, t, r, o in d["spans"]
                ],
            }
            for d in docs
        ],
        schema=SCHEMA,
    )


def _expected(doc):
    spans = sorted(doc["spans"], key=lambda s: s[3] or 0)
    rows = [(k or "", t or "", r or "") for k, t, r, _ in spans]
    out, status = extract_document(doc["fmt"], rows, doc["title"], doc["author"])
    return {
        "doc_id": doc["doc_id"],
        "fmt": doc["fmt"],
        "spans": [tuple(s) for s in out],
        "n_spans": len(out),
        "n_media": sum(1 for s in out if s[0] == "media_ref"),
        "status": status,
    }


def _decoded(batches):
    got = []
    for out in _extract_arrow_batches(batches):
        for row in out.to_pylist():
            assert row.pop("elapsed_us") >= 0
            row["spans"] = [
                (s["kind"], s["text"], s["media_ref"], s["order"]) for s in row["spans"]
            ]
            got.append(row)
    return got


def _assert_matches_core(docs, batches):
    got = _decoded(batches)
    assert [g["doc_id"] for g in got] == [d["doc_id"] for d in docs]
    for g, d in zip(got, docs):
        assert g == _expected(d), d["doc_id"]


def _doc(doc_id, fmt, rows, **meta):
    return fx._doc(doc_id, fmt, fx._spans(rows), **meta)


def test_codec_matches_core_on_goldens_and_random_corpus():
    docs = [doc for doc, _ in fx.GOLDEN_DOCS] + fx.random_corpus(40, seed=13)
    _assert_matches_core(docs, [_batch(docs)])


def test_codec_null_span_fields_read_as_empty():
    docs = [
        _doc("txt-nulls", "txt", [("line", fx.TITLE, None), ("line", None, None),
                                  (None, "Chapter 1", ""), ("line", "Body.", None)]),
        _doc("epub-nulls", "epub", [("section", "Text/a.xhtml", None), ("h1", "Chapter 1", None),
                                    ("img", None, "img7"), ("p", None, None), ("p", "Body.", None)]),
        _doc("docx-nulls", "docx", [("para", fx.TITLE, None), ("page_break", None, None),
                                    ("img", None, "rId3"), ("para", "Body text.", None)],
             title=None, author=None),
    ]
    assert any(g["n_media"] for g in _decoded([_batch(docs)]))
    _assert_matches_core(docs, [_batch(docs)])


def test_codec_empty_strings_and_empty_docs():
    docs = [
        _doc("txt-empty-lines", "txt", [("line", "", ""), ("line", "", ""), ("line", "End.", "")]),
        _doc("pdf-empty", "pdf", [("line", "", ""), ("page_break", "", ""), ("line", "", "")]),
        _doc("txt-no-spans", "txt", []),
        _doc("unknown-fmt", "mobi", [("line", "x", "")]),
    ]
    got = _decoded([_batch(docs)])
    assert got[2]["n_spans"] == 0 and got[3]["status"] == "unknown_format"
    _assert_matches_core(docs, [_batch(docs)])


def test_codec_non_ascii_text_round_trips():
    lines = [
        "“Smart” ‘quotes’ – dash — and… ellipsis • bullet",
        "中文文本：第一章，天地玄黄。",
        "Astral plane: 😀🎉 𝔘𝔫𝔦𝔠𝔬𝔡𝔢",
        "Ελληνικά και Кириллица",
    ]
    docs = [
        _doc("txt-unicode", "txt", [("line", fx.TITLE, ""), ("line", "第一章", "")]
             + [("line", s, "") for s in lines]),
        _doc("epub-unicode", "epub", [("section", "Text/章节.xhtml", ""), ("h1", "Chapter 1", "")]
             + [("p", s, "") for s in lines] + [("img", "", "图片😀.png")],
             title="标题 😀", author="作者"),
    ]
    got = _decoded([_batch(docs)])
    assert any("😀" in s[1] for s in got[0]["spans"])
    _assert_matches_core(docs, [_batch(docs)])


def test_codec_sorts_permuted_offsets():
    permuted = dict(fx.TXT_001, doc_id="txt-permuted")
    permuted["spans"] = list(fx.TXT_001["spans"])
    random.Random(0).shuffle(permuted["spans"])
    assert [s[3] for s in permuted["spans"]] != sorted(s[3] for s in permuted["spans"])
    docs = [fx.EPUB_001, permuted, fx.DOCX_001]
    got = _decoded([_batch(docs)])
    assert got[1]["spans"] == [tuple(s) for s in fx.TXT_001_EXPECTED]
    _assert_matches_core(docs, [_batch(docs)])


def test_codec_sliced_batch_with_nonzero_list_offsets():
    docs = fx.random_corpus(12, seed=21)
    sliced = _batch(docs).slice(5, 4)
    assert sliced.column(4).offsets[0].as_py() > 0
    _assert_matches_core(docs[5:9], [sliced])
    # several batches through one generator, each decoded independently
    whole = _batch(docs)
    _assert_matches_core(docs, [whole.slice(0, 5), whole.slice(5, 4), whole.slice(9)])


def _assert_docs_batch_matches(docs):
    got, ref = docs_batch(docs), _batch(docs)
    assert got.schema.names == ref.schema.names
    assert [f.nullable for f in got.schema] == [f.nullable for f in INPUT_SCHEMA.fields]
    for name in SCHEMA.names:
        assert got.column(name).equals(ref.column(name)), name


def test_docs_batch_matches_from_pylist_on_goldens_and_random_corpus():
    _assert_docs_batch_matches([doc for doc, _ in fx.GOLDEN_DOCS] + fx.random_corpus(40, seed=13))


def test_docs_batch_empty_spans_null_metadata_and_null_span_fields():
    docs = [
        _doc("no-spans", "txt", []),
        _doc("no-meta", "docx", [("para", "Body.", "")], title=None, author=None),
        fx._doc("null-fields", "epub", [("img", None, None, None), (None, "x", "r", 1)]),
        _doc("tail-empty", "pdf", []),
    ]
    _assert_docs_batch_matches(docs)
    _assert_docs_batch_matches([])
    _assert_docs_batch_matches(docs[:1])


def test_span_encode_decode_round_trip_on_sliced_batch():
    whole = _batch(fx.random_corpus(12, seed=21))
    sliced = whole.column("spans").slice(5, 4)
    assert sliced.offsets[0].as_py() > 0
    offsets, *fields = decode_spans(sliced)
    assert offsets[0] == 0 and offsets[-1] == len(fields[0])
    assert encode_spans(offsets, *fields).equals(sliced)
    # the extraction output's ``order`` span type round-trips the same way
    out = next(_extract_arrow_batches([whole])).column("spans").slice(3, 6)
    assert encode_spans(*decode_spans(out), position="order").equals(out)


def test_span_codec_keeps_null_spans_and_null_lists():
    img = {"kind": "img", "text": "", "media_ref": "a.png", "offset": 1}
    spans = pa.array([[None, img], None, [], [img, None], None], type=pa.list_(SPAN_TYPE))
    for col in (spans, spans.slice(1, 3), spans.slice(3)):
        back = encode_spans(*decode_spans(col))
        assert back.equals(col)
        assert back.to_pylist() == col.to_pylist()
    assert decode_spans(_batch(fx.random_corpus(3, seed=2)).column("spans"))[5:] == (None, None)


def test_codec_reads_null_span_as_empty_kind_and_null_list_as_no_spans():
    spans = [
        {"kind": k, "text": t, "media_ref": r, "offset": o} for k, t, r, o in fx.EPUB_002["spans"]
    ]
    meta = {k: fx.EPUB_002[k] for k in ("doc_id", "fmt", "title", "author")}
    null_fields = {"kind": None, "text": None, "media_ref": None, "offset": None}

    def batch(*span_lists):
        return pa.RecordBatch.from_pylist([{**meta, "spans": s} for s in span_lists], schema=SCHEMA)

    with_nulls = _decoded([batch([None] + spans + [None], None)])
    assert with_nulls == _decoded([batch([null_fields] + spans + [null_fields], [])])
    assert with_nulls[0]["spans"] == [tuple(s) for s in fx.EPUB_002_EXPECTED]
    assert with_nulls[1]["n_spans"] == 0


def _stacked(rows, dtype):
    """The per-row stack ``_matrix`` replaces."""
    return np.stack([np.asarray(r, dtype=dtype) for r in rows])


def test_matrix_float32_bit_equal_to_per_row_stack():
    rows = np.random.default_rng(3).standard_normal((9, 5)).astype(np.float32)
    arr = pa.array(list(rows), type=pa.list_(pa.float32()))
    got = _matrix(arr, np.float64)
    assert got.dtype == np.float64 and got.shape == (9, 5)
    assert got.tobytes() == _stacked(arr.to_pylist(), np.float64).tobytes()


def test_matrix_sliced_array_with_nonzero_offsets():
    rows = [[float(10 * i + j) for j in range(3)] for i in range(8)]
    sliced = pa.array(rows, type=pa.list_(pa.float32())).slice(5, 2)
    assert sliced.offsets[0].as_py() == 15
    np.testing.assert_array_equal(_matrix(sliced, np.float64), np.array(rows[5:7]))


def test_matrix_chunked_array_and_int32_codes():
    codes = [[i, 255 - i, i % 7, 0] for i in range(12)]
    arr = pa.array(codes, type=pa.list_(pa.int32()))
    chunked = pa.chunked_array([arr.slice(0, 5), arr.slice(5, 0), arr.slice(5)])
    got = _matrix(chunked, np.int64)
    assert got.dtype == np.int64
    np.testing.assert_array_equal(got, _stacked(codes, np.int64))


def test_matrix_rejects_null_and_ragged_rows():
    t = pa.list_(pa.float32())
    for bad in (
        [[1.0, 2.0], None, [3.0, 4.0]],  # null row
        [[1.0, 2.0], [3.0], [4.0, 5.0, 6.0]],  # ragged, total length 6 == n·d
        [[1.0, None], [2.0, 3.0]],  # null component
    ):
        with pytest.raises(ValueError):
            _matrix(pa.array(bad, type=t), np.float64)
    # the ragged column also fails the per-row stack it replaces
    with pytest.raises(ValueError):
        _stacked([[1.0, 2.0], [3.0], [4.0, 5.0, 6.0]], np.float64)
