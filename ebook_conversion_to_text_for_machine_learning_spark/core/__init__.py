"""Pure-Python semantic cores — importable without a JVM.

Every module here is free of Spark imports so the extraction semantics can
be unit-tested directly (SURVEY.md §7.1 step 1) and reused verbatim inside
the ``mapInArrow`` extraction kernel.
"""

from ebook_conversion_to_text_for_machine_learning_spark.core.chapter import (
    BOILERPLATE_PREFIXES,
    is_boilerplate,
    is_chapter_heading,
    is_number_token,
    parse_roman,
    parse_spelled_number,
)
from ebook_conversion_to_text_for_machine_learning_spark.core.normalize import (
    SMART_PUNCTUATION,
    clean_text_block,
    collapse_whitespace_runs,
    dedupe_chapter_breaks,
    ends_with_sentence_punct,
    fold_smart_punctuation,
    squeeze_pdf_whitespace,
    strip_leading_chapter_break,
)
from ebook_conversion_to_text_for_machine_learning_spark.core.extract import (
    extract_document,
)

__all__ = [
    "BOILERPLATE_PREFIXES",
    "SMART_PUNCTUATION",
    "clean_text_block",
    "collapse_whitespace_runs",
    "dedupe_chapter_breaks",
    "ends_with_sentence_punct",
    "extract_document",
    "fold_smart_punctuation",
    "is_boilerplate",
    "is_chapter_heading",
    "is_number_token",
    "parse_roman",
    "parse_spelled_number",
    "squeeze_pdf_whitespace",
    "strip_leading_chapter_break",
]
