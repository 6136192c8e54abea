"""Real ebook files → input span rows (the reference's ingest surface).

A user of the reference library hands it EPUB/DOCX/PDF/TXT *files*
(convert_file.py:49-80); this module is the migration path: it parses those
files into the engine's span contract using ONLY the stdlib for the zip+XML
formats — EPUB is a zip of XHTML (zipfile + html.parser replaces
ebooklib/bs4), DOCX is a zip of WordprocessingML (zipfile + xml.etree
replaces python-docx). PDF runs through the stdlib reader in
sources/pdf_text.py on every executor; only AES-encrypted PDFs also need
``cryptography``.

OCR is not performed at ingest (north_star: a 10^12-doc job cannot call an
LLM per image): image spans carry an empty transcript unless the caller
supplies one, exactly matching the reference's OCR-failure path
(ocr.py:113-115 returns "").

At scale this runs distributed: ``spark.read.format("binaryFile")`` →
``mapInArrow`` calling these per-file parsers and encoding the span rows
with the extraction kernel's Arrow codec; driver-side helpers below cover
the CLI/compat path.
"""

from __future__ import annotations

import posixpath
import zipfile
from html.parser import HTMLParser
import zlib
from pathlib import Path
from typing import Iterator, List, Optional, Tuple
from xml.etree import ElementTree

from ebook_conversion_to_text_for_machine_learning_spark.compat import (
    DocxConversionError,
    EpubConversionError,
    PDFConversionError,
    TextConversionError,
)
from ebook_conversion_to_text_for_machine_learning_spark.core.formats import _EPUB_ELEMENT_KINDS

InSpan = Tuple[str, str, str, int]  # (kind, text, media_ref, offset)

_CONTAINER_NS = {"c": "urn:oasis:names:tc:opendocument:xmlns:container"}
_OPF_NS = {"opf": "http://www.idpf.org/2007/opf"}
_W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_A_NS = "http://schemas.openxmlformats.org/drawingml/2006/main"
_R_NS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

#: Media types ebooklib treats as ITEM_DOCUMENT (epub_converter.py:118).
_DOCUMENT_MEDIA_TYPES = frozenset(
    {"application/xhtml+xml", "application/x-dtbook+xml", "text/html"}
)


class _ElementCollector(HTMLParser):
    """Collects p/img/h1-h6 elements in document order with bs4-equivalent
    ``get_text()`` semantics (all descendant character data, markup
    whitespace included)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.elements: List[Tuple[str, str, str]] = []  # (kind, text, media_ref)
        self._open: List[Tuple[str, int, str]] = []  # (kind, element index, src)
        self._texts: List[List[str]] = []

    def handle_starttag(self, tag, attrs):
        if tag not in _EPUB_ELEMENT_KINDS:
            return
        if tag == "img":
            src = dict(attrs).get("src", "") or ""
            self.elements.append(("img", "", src))
            return
        self.elements.append((tag, "", ""))
        self._open.append((tag, len(self.elements) - 1, ""))
        self._texts.append([])

    def handle_startendtag(self, tag, attrs):
        if tag == "img":
            src = dict(attrs).get("src", "") or ""
            self.elements.append(("img", "", src))

    def handle_endtag(self, tag):
        for i in range(len(self._open) - 1, -1, -1):
            if self._open[i][0] == tag:
                kind, idx, src = self._open.pop(i)
                text = "".join(self._texts.pop(i))
                self.elements[idx] = (kind, text, src)
                break

    def handle_data(self, data):
        for bucket in self._texts:
            bucket.append(data)


def epub_file_to_spans(path: str | Path) -> List[InSpan]:
    """EPUB → spans: one ``section`` marker per manifest document item
    (reference iterates ``book.get_items()``, epub_converter.py:67-73),
    followed by its p/img/h1-h6 element spans."""
    spans: List[InSpan] = []
    offset = 0
    try:
        return _epub_file_to_spans(path, spans, offset)
    except (OSError, zipfile.BadZipFile, KeyError, ElementTree.ParseError, AttributeError) as e:
        # Reference: read errors → EpubConversionError (epub_converter.py:59-65).
        raise EpubConversionError(str(e)) from e


def _epub_file_to_spans(path, spans, offset):
    with zipfile.ZipFile(path) as zf:
        container = ElementTree.fromstring(zf.read("META-INF/container.xml"))
        rootfile = container.find(".//c:rootfile", _CONTAINER_NS).get("full-path")
        opf_dir = posixpath.dirname(rootfile)
        opf = ElementTree.fromstring(zf.read(rootfile))
        for item in opf.find("opf:manifest", _OPF_NS):
            if item.get("media-type") not in _DOCUMENT_MEDIA_TYPES:
                continue
            href = item.get("href")
            archive_path = posixpath.join(opf_dir, href) if opf_dir else href
            spans.append(("section", href, "", offset))
            offset += 1
            collector = _ElementCollector()
            collector.feed(zf.read(archive_path).decode("utf-8", errors="replace"))
            for kind, text, src in collector.elements:
                spans.append((kind, text, src, offset))
                offset += 1
    return spans


def docx_file_to_spans(path: str | Path) -> List[InSpan]:
    """DOCX → spans: ``para``/``img`` per paragraph, with a ``page_break``
    marker before paragraphs carrying ``w:pPr/w:pageBreakBefore``
    (docx_converter.py:154-166). A paragraph containing an ``a:blip``
    becomes an ``img`` span whose media_ref is the relationship id and whose
    text is the paragraph text (the OCR-wins rule with no OCR available,
    docx_text_extractor.py:25-27)."""
    spans: List[InSpan] = []
    offset = 0
    try:
        with zipfile.ZipFile(path) as zf:
            document = ElementTree.fromstring(zf.read("word/document.xml"))
    except (OSError, ValueError, zipfile.BadZipFile, KeyError, ElementTree.ParseError) as e:
        # Reference: OSError/ValueError/Xmlchemy → DocxConversionError
        # (docx_converter.py:47-59).
        raise DocxConversionError(str(e)) from e
    body = document.find(f"{{{_W_NS}}}body")
    if body is None:
        return spans
    for para in body.iter(f"{{{_W_NS}}}p"):
        ppr = para.find(f"{{{_W_NS}}}pPr")
        if ppr is not None and ppr.find(f"{{{_W_NS}}}pageBreakBefore") is not None:
            spans.append(("page_break", "", "", offset))
            offset += 1
        text = "".join(t.text or "" for t in para.iter(f"{{{_W_NS}}}t"))
        blip = para.find(f".//{{{_A_NS}}}blip")
        if blip is not None:
            rid = blip.get(f"{{{_R_NS}}}embed", "") or ""
            spans.append(("img", text.strip(), rid, offset))
        else:
            spans.append(("para", text, "", offset))
        offset += 1
    return spans


def txt_file_to_spans(path: str | Path) -> List[InSpan]:
    """TXT → one ``line`` span per line (text_parser.py:15-21)."""
    try:
        content = Path(path).read_text(encoding="utf-8")
    except (OSError, UnicodeDecodeError) as e:
        # Reference: read errors → TextConversionError (text_parser.py:15-21).
        raise TextConversionError(str(e)) from e
    return [("line", line, "", i) for i, line in enumerate(content.splitlines())]


def pdf_file_to_spans(path: str | Path) -> List[InSpan]:
    """PDF → spans through the stdlib reader (sources/pdf_text.py), the
    one PDF path: the same spans on every executor, the ones the PDF
    goldens and the ``extract_pdf_files`` oracle pin.

    Mirrors the reference's element sweep (pdf_text_extractor.py:102-129):
    image XObjects are ``img`` spans (objid as media_ref), text lines are
    ``line`` spans, pages past the 25-page cap are dropped."""
    from ebook_conversion_to_text_for_machine_learning_spark.sources.pdf_text import (
        pdf_bytes_to_rows,
    )

    try:
        if hasattr(path, "read"):  # file-like (bytes_to_spans)
            data = path.read()
        else:
            data = Path(path).read_bytes()
        rows = pdf_bytes_to_rows(data)
    except (OSError, ValueError, KeyError, EOFError, zlib.error) as e:
        # Reference: parse/read errors → PDFConversionError
        # (pdf_converter.py:45-59). zlib.error subclasses Exception (NOT
        # OSError), so it is listed explicitly — today decoded_stream
        # rewraps it as ValueError, but the mapping must not depend on
        # that.
        raise PDFConversionError(str(e)) from e
    return [(k, t, r, i) for i, (k, t, r) in enumerate(rows)]


_SUFFIX_DISPATCH = {
    ".epub": ("epub", epub_file_to_spans),
    ".docx": ("docx", docx_file_to_spans),
    ".pdf": ("pdf", pdf_file_to_spans),
    ".txt": ("txt", txt_file_to_spans),
    ".text": ("txt", txt_file_to_spans),
}


def _dispatch(name: str | Path):
    """Suffix dispatch (convert_file.py:28-36) → ``(fmt, parser)``;
    unknown suffix raises."""
    suffix = Path(name).suffix.lower()
    if suffix not in _SUFFIX_DISPATCH:
        raise ValueError(f"Unsupported file type: {suffix}")
    return _SUFFIX_DISPATCH[suffix]


def file_to_spans(path: str | Path) -> Tuple[str, List[InSpan]]:
    """Parse one file by its suffix; unknown suffix raises."""
    fmt, parser = _dispatch(path)
    return fmt, parser(path)


def _spans_to_text(fmt: str, spans: List[InSpan], metadata: Optional[dict]) -> str:
    """Shared string-mode reduction: spans → extracted text, raising on a
    non-ok extraction status (used by ``convert_file_to_text`` and
    ``convert_file``'s string mode so the failure contract lives once)."""
    from ebook_conversion_to_text_for_machine_learning_spark.core.extract import (
        extract_document,
    )

    meta = metadata or {}
    rows = [(k, t, r) for k, t, r, _ in spans]
    out, status = extract_document(fmt, rows, meta.get("title"), meta.get("author"))
    if status != "ok":
        raise RuntimeError(f"extraction failed: {status}")
    return "".join(text for _, text, _, _ in out)


def convert_file_to_text(
    path: str | Path,
    metadata: Optional[dict] = None,
) -> str:
    """Drop-in equivalent of the reference's string-mode ``convert_file``:
    file in, extracted text out (chapter breaks as ``***`` separators,
    boilerplate dropped, punctuation folded)."""
    fmt, spans = file_to_spans(path)
    return _spans_to_text(fmt, spans, metadata)


# ---------------------------------------------------------------------------
# Reference generator-API parity: convert_epub/docx/pdf/txt yield the exact
# block strings the reference's per-format ``parse_file`` generators yield
# (epub_conversion/__init__.py:22-39, docx_conversion/__init__.py:25-42,
# pdf_conversion/__init__.py:33-51, text_parser.py:23-37), and
# ``convert_file`` reproduces both the string mode and the append-sink save
# mode (convert_file.py:49-80) including the filename mangle (P9,
# convert_file.py:39-46) and each format's write rule (K1).
# ---------------------------------------------------------------------------

#: Per-format (chapter_separator, write_rule). write rules (K1):
#: epub prepends the separator to EVERY block (epub_converter.py:155);
#: docx/txt append a trailing newline (docx_converter.py:124,
#: text_parser.py:70); pdf writes the block verbatim and skips blank blocks
#: (pdf_converter.py:198-202). First write to a fresh file lstrips the
#: separator CHAR-CLASS from the block (each _clean_before_write).
_WRITE_RULES = {
    "epub": ("\n***\n", "prepend_sep"),
    "docx": ("***", "append_nl"),
    "pdf": ("***\n", "verbatim_skip_blank"),
    "txt": ("***", "append_nl"),
}


def _blocks_for(fmt: str, spans: List[InSpan], metadata: Optional[dict]) -> List[str]:
    from ebook_conversion_to_text_for_machine_learning_spark.core.chapter import (
        default_metadata,
    )
    from ebook_conversion_to_text_for_machine_learning_spark.core.formats import (
        blocks_docx,
        blocks_epub,
        blocks_pdf,
        blocks_txt,
    )

    metadata = metadata or {}
    title, author = default_metadata(metadata.get("title"), metadata.get("author"))
    rows = [(k, t, r) for k, t, r, _ in spans]
    fns = {"epub": blocks_epub, "docx": blocks_docx, "pdf": blocks_pdf, "txt": blocks_txt}
    return fns[fmt](rows, title, author)


def convert_epub(path: str | Path, metadata: Optional[dict] = None) -> Iterator[str]:
    """Generator parity with the reference's ``convert_epub``."""
    yield from _blocks_for("epub", epub_file_to_spans(path), metadata)


def convert_docx(path: str | Path, metadata: Optional[dict] = None) -> Iterator[str]:
    """Generator parity with the reference's ``convert_docx``."""
    yield from _blocks_for("docx", docx_file_to_spans(path), metadata)


def convert_pdf(path: str | Path, metadata: Optional[dict] = None) -> Iterator[str]:
    """Generator parity with the reference's ``convert_pdf``."""
    yield from _blocks_for("pdf", pdf_file_to_spans(path), metadata)


def convert_txt(path: str | Path, metadata: Optional[dict] = None) -> Iterator[str]:
    """Generator parity with the reference's TXT ``parse_file``."""
    yield from _blocks_for("txt", txt_file_to_spans(path), metadata)


def parse_output_path(file_path: str | Path) -> Path:
    """P9 filename mangle (convert_file.py:39-46): stem spaces/``-``/``.``
    become ``_``; suffix becomes ``.txt``."""
    p = Path(file_path)
    stem = p.stem.replace(" ", "_").replace("-", "_").replace(".", "_")
    return (p.parent / stem).with_suffix(".txt")


def _write_block(fmt: str, content: str, output_path: Path) -> None:
    sep, rule = _WRITE_RULES[fmt]
    if rule == "verbatim_skip_blank" and not content.strip():
        return
    if not output_path.exists():
        content = content.lstrip(sep)  # char-class strip, reference quirk
    if rule == "prepend_sep":
        payload = sep + content
    elif rule == "append_nl":
        payload = content + "\n"
    else:
        payload = content
    with output_path.open("a", encoding="utf-8") as f:
        f.write(payload)


def convert_file(
    path: str | Path,
    metadata: Optional[dict] = None,
    *,
    save_file: bool = True,
    save_path: str | Path | None = None,
) -> str | None:
    """Full parity with the reference's primary ``convert_file`` entry point:
    string mode returns the reduced text; save mode appends each non-empty
    block to the (mangled) output path per the format's write rule.

    The file is parsed exactly once; both modes reuse the same spans."""
    fmt, spans = file_to_spans(path)
    if not save_file:
        return _spans_to_text(fmt, spans, metadata)
    out = Path(save_path) if save_path is not None else parse_output_path(path)
    for content in _blocks_for(fmt, spans, metadata):
        if content:  # `if content:` driver-loop guard (convert_file.py:77-78)
            _write_block(fmt, content, out)
    return None


def bytes_to_spans(filename: str, data: bytes) -> Tuple[str, List[InSpan]]:
    """Parse raw file bytes (executor-side variant — zip parsers accept
    file-like objects, so no temp files). TXT bytes decode leniently."""
    import io

    fmt, parser = _dispatch(filename)
    if fmt == "txt":
        lines = data.decode("utf-8", errors="replace").splitlines()
        return fmt, [("line", line, "", i) for i, line in enumerate(lines)]
    return fmt, parser(io.BytesIO(data))


def spans_from_binary_df(binary_df):
    """(path, content) DataFrame → contract-schema spans via ``mapInArrow``.

    Each executor task parses whole files; unparseable files become
    quarantine rows (``fmt='error'``, empty spans) instead of task
    failures — at 10^12 files a corrupt zip must never kill a stage.
    The span rows are encoded by the extraction kernel's own codec
    (``docs_batch``).

    Memory bound: ``binaryFile`` packs at most ``maxPartitionBytes``
    (default 128 MB) of whole files per partition, and an Arrow batch never
    exceeds its partition, so the per-worker transfer is bounded by that
    knob regardless of ``maxRecordsPerBatch`` — size it down for very
    large ebooks.
    """
    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        INPUT_SCHEMA,
        docs_batch,
    )

    def parse(batches):
        for batch in batches:
            docs = []
            for path, content in zip(batch.column(0).to_pylist(), batch.column(1)):
                try:
                    fmt, spans = bytes_to_spans(path, content.as_py())
                except Exception:  # noqa: BLE001 — quarantine, never fail the task
                    fmt, spans = "error", []
                docs.append(
                    {"doc_id": path, "fmt": fmt, "title": None, "author": None, "spans": spans}
                )
            yield docs_batch(docs)

    return binary_df.select("path", "content").mapInArrow(parse, schema=INPUT_SCHEMA)


def ingest_files_distributed(spark, path_glob: str):
    """Lake-scale ingest: ``binaryFile`` scan → Arrow-batched parsing."""
    binary = spark.read.format("binaryFile").load(path_glob).select("path", "content")
    return spans_from_binary_df(binary)


def ingest_files(spark, paths: List[str], metadata_by_path: Optional[dict] = None):
    """Build the engine's input DataFrame from local files (driver-side;
    for lake-scale ingest use ``ingest_files_distributed`` with the same
    per-file parsers)."""
    from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
        docs_df,
    )

    metadata_by_path = metadata_by_path or {}
    docs = []
    for p in paths:
        fmt, spans = file_to_spans(p)
        meta = metadata_by_path.get(p, {})
        docs.append(
            {
                "doc_id": p,
                "fmt": fmt,
                "title": meta.get("title"),
                "author": meta.get("author"),
                "spans": spans,
            }
        )
    return docs_df(spark, docs)
