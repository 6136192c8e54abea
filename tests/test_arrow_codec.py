"""The ``mapInArrow`` codec without a JVM: ``_extract_arrow_batches`` driven
directly on pyarrow RecordBatches must produce, per document, exactly what
``core.extract.extract_document`` produces on the same spans (nulls read
as '', spans in stable ``offset`` order)."""

import random

import pyarrow as pa

from ebook_conversion_to_text_for_machine_learning_spark.core.extract import (
    extract_document,
)
from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
    _extract_arrow_batches,
)
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
