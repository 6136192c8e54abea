"""PySpark-native main-content extraction engine.

A from-scratch, Spark-first re-expression of the document-extraction
semantics of the reference library ``ebook2text`` (see SURVEY.md): given a
table of interleaved EPUB/DOCX/PDF/TXT documents pre-parsed into ordered
span arrays, drop front/back-matter boilerplate, split on chapter headings,
fold smart punctuation to ASCII, and emit per-document output span arrays
``(kind, text, media_ref, order)`` whose concatenation reproduces the
reference's extracted text exactly.

Layout:
- ``core/``       pure-Python semantic cores (no Spark import; unit-testable)
- ``operators/``  Spark operators (extraction mapInArrow + the span Arrow
                  codec, dedup, similarity, text stats, media plumbing)
- ``sources/``    table readers / adapters (parquet now, Iceberg DDL documented)
- ``plans/``      end-to-end job pipeline (salting, lineage, metrics, resume)
- ``streaming/``  Structured Streaming variant of the extraction stage
"""

__version__ = "0.1.0"

#: Reference public-API surface (ebook2text/__init__.py exports
#: convert_file/logger/set_logger; the per-format packages export
#: convert_epub/convert_docx/convert_pdf). Resolved lazily so importing the
#: package for the pure cores never pulls the file-ingest stack.
_COMPAT_EXPORTS = {
    "convert_file": "sources.file_ingest",
    "convert_file_to_text": "sources.file_ingest",
    "convert_epub": "sources.file_ingest",
    "convert_docx": "sources.file_ingest",
    "convert_pdf": "sources.file_ingest",
    "convert_txt": "sources.file_ingest",
    "logger": "compat",
    "set_logger": "compat",
    "EbookConversionError": "compat",
    "EpubConversionError": "compat",
    "DocxConversionError": "compat",
    "PDFConversionError": "compat",
    "TextConversionError": "compat",
}

__all__ = ["__version__", *sorted(_COMPAT_EXPORTS)]


def __getattr__(name: str):
    module_path = _COMPAT_EXPORTS.get(name)
    if module_path is None:
        raise AttributeError(name)
    import importlib

    module = importlib.import_module(f"{__name__}.{module_path}")
    return getattr(module, name)
