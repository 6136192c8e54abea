"""Scalar text-normalization functions (SURVEY.md §2.2, operators P1-P7).

Semantics match the reference's ``text_utilities.py`` and
``pdf_converter.py`` helpers exactly (citations per function); the code is
written fresh for this engine and is shared between pure-Python tests and
the ``mapInArrow`` extraction kernel.
"""

from __future__ import annotations

import re

#: P1 — smart punctuation → ASCII (reference: text_utilities.py:3-14).
#: The sole 1→3 expansion is the ellipsis.
SMART_PUNCTUATION: dict[str, str] = {
    "‘": "'",  # ‘
    "’": "'",  # ’
    "“": '"',  # “
    "”": '"',  # ”
    "–": "-",  # –
    "—": "-",  # —
    "…": "...",  # …
    "•": "*",  # •
}

_SMART_TABLE = str.maketrans(SMART_PUNCTUATION)
_SMART_PAIRS = tuple(SMART_PUNCTUATION.items())

#: Sentence-final punctuation accepted by the PDF line joiner
#: (reference: pdf_converter.py:31).
SENTENCE_ENDINGS: tuple[str, ...] = (".", "!", "?", '."', '!"', '?"')

_WS_RUN = re.compile(r"(\s)+")
_PDF_NL_RUN = re.compile(r"\n+")
_PDF_SPACE_RUN = re.compile(r"[ ]{2,}")


def fold_smart_punctuation(text: str) -> str:
    """P1: fold smart quotes/dashes/ellipsis/bullet to ASCII.

    Reference: text_utilities.py:17-27 (``desmarten_text``).
    Every mapped character is non-ASCII, so pure-ASCII text (the common
    case) short-circuits past the translate.
    """
    if text.isascii():
        return text
    # Chained .replace beats dict-translate ~19× here: each pass is a
    # C-level scan, and since every replacement lands in ASCII while every
    # source char is non-ASCII, sequential application is exactly
    # equivalent to the reference's simultaneous str.translate.
    for src, dst in _SMART_PAIRS:
        text = text.replace(src, dst)
    return text


def collapse_whitespace_runs(text: str) -> str:
    """P2: strip, then collapse each whitespace run to its LAST character.

    ``(\\s)+`` captures the final repetition, so ``"a \\tb"`` → ``"a\\tb"``.
    Reference: text_utilities.py:60-68 (``remove_whitespace``).

    Fast path: after the strip, ASCII text whose only whitespace is single
    spaces has no run to collapse (a run needs two consecutive whitespace
    chars, and the non-space ASCII whitespace chars are all probed below) —
    the memchr ``in`` probes are ~20× cheaper than the regex scan.
    """
    stripped = text.strip()
    if (
        stripped.isascii()
        and "  " not in stripped
        and "\t" not in stripped
        and "\n" not in stripped
        and "\r" not in stripped
        and "\x0b" not in stripped
        and "\x0c" not in stripped
        # the ASCII separator block \x1c-\x1f is also regex \s whitespace
        and "\x1c" not in stripped
        and "\x1d" not in stripped
        and "\x1e" not in stripped
        and "\x1f" not in stripped
    ):
        return stripped
    return _WS_RUN.sub(r"\1", stripped)


def dedupe_chapter_breaks(text: str, chapter_break: str = "***\n") -> str:
    """P3: collapse runs of the chapter-break marker to a single marker.

    Reference: text_utilities.py:30-40 (``clean_chapter_breaks``).
    """
    if chapter_break not in text:
        return text
    pattern = "(?:%s)+" % re.escape(chapter_break)
    return re.sub(pattern, chapter_break, text)


def strip_leading_chapter_break(text: str, chapter_break: str = "***\n") -> str:
    """P4: remove a single leading chapter-break marker, if present.

    Reference: text_utilities.py:43-57 (``remove_leading_chapter_breaks``).
    """
    if text.startswith(chapter_break):
        return text[len(chapter_break):]
    return text


def clean_text_block(text: str) -> str:
    """P5: composite cleanup — P2 then P3 then P4.

    Reference: text_utilities.py:71-82 (``clean_text``).
    """
    return strip_leading_chapter_break(dedupe_chapter_breaks(collapse_whitespace_runs(text)))


def squeeze_pdf_whitespace(text: str) -> str:
    """P6: PDF-specific squeeze — newline runs → one ``\\n``, 2+ spaces → one.

    Deliberately different from P2 (keeps single interior whitespace as-is).
    Reference: pdf_converter.py:148-152 (``_remove_extra_whitespace``).
    """
    return _PDF_SPACE_RUN.sub(" ", _PDF_NL_RUN.sub("\n", text))


def ends_with_sentence_punct(text: str) -> bool:
    """P7: does the right-stripped line end a sentence?

    Reference: pdf_converter.py:61-63 (``_ends_with_punctuation``).
    """
    return text.rstrip().endswith(SENTENCE_ENDINGS)
