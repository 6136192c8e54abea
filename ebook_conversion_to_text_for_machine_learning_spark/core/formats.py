"""Per-format extraction folds (SURVEY.md §2.4, operators X1-X7).

Each fold takes a document's input spans — already sorted by ``offset`` —
plus defaulted ``(title, author)`` metadata, and returns the document's
output spans ``(kind, text, media_ref, order)``. Input spans are plain
tuples ``(kind, text, media_ref)``.

The folds are per-document sequential by semantic necessity (the reference
is an ordered dataflow); across documents they are embarrassingly parallel
and run per Arrow batch inside the ``mapInArrow`` extraction kernel.
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

from ebook_conversion_to_text_for_machine_learning_spark.core.chapter import (
    BOILERPLATE_TOKENS,
    is_boilerplate,
    is_chapter_heading,
    is_pdf_header,
)
from ebook_conversion_to_text_for_machine_learning_spark.core.normalize import (
    clean_text_block,
    ends_with_sentence_punct,
    fold_smart_punctuation,
    squeeze_pdf_whitespace,
)
from ebook_conversion_to_text_for_machine_learning_spark.core.spans import (
    Atom,
    OutSpan,
    assemble_output_spans,
)

InSpan = Tuple[str, str, str]  # (kind, text, media_ref)

#: Detection-window size shared by every format
#: (reference: epub_converter.py:57, docx_converter.py:43, pdf_converter.py:40).
DETECTION_WINDOW = 6

#: PDF hard page cap (reference: pdf_converter.py:56, ``maxpages=25``).
PDF_MAX_PAGES = 25


# --------------------------------------------------------------------------
# TXT (X7) — stateless per-line map.
# Reference: text_parser.py:23-37 (parse), :72-85 (string reduce).
# --------------------------------------------------------------------------

def extract_txt(spans: Sequence[InSpan], title: str, author: str) -> List[OutSpan]:
    del title, author  # TXT applies no metadata filtering
    atoms: List[Atom] = []
    for kind, text, _ref in spans:
        if kind != "line":
            continue
        if is_chapter_heading(text):
            atoms.append(("B", None))  # clean_text("***") == "***"
            continue
        cleaned = clean_text_block(fold_smart_punctuation(text))
        if cleaned.strip():  # blank lines dropped by the string reduce
            atoms.append(("T", cleaned))
    return assemble_output_spans(atoms, joiner="\n", break_text="***", lstrip_chars="*")


def blocks_txt(spans: Sequence[InSpan], title: str, author: str) -> List[str]:
    """The strings the reference's TXT ``parse_file`` generator yields —
    ``clean_text`` of every line (blank results included; the string reduce
    filters them), ``***`` for chapter headings (text_parser.py:23-37)."""
    del title, author
    return [
        "***" if is_chapter_heading(text) else clean_text_block(fold_smart_punctuation(text))
        for kind, text, _ref in spans
        if kind == "line"
    ]


# --------------------------------------------------------------------------
# EPUB (X1/X2) — per-section chapter gate.
# Reference: epub_converter.py:75-122; window text mux epub_text_extractor.py:12-29.
# --------------------------------------------------------------------------

_EPUB_ELEMENT_KINDS = frozenset({"p", "img", "h1", "h2", "h3", "h4", "h5", "h6"})


def _epub_section_chapter(elements: Sequence[InSpan]) -> Tuple[str, List[str]] | None:
    """Run the detection window over one spine section.

    Returns ``(chapter_text, body_media_refs)`` for a kept section, ``None``
    for a dropped one. Window semantics (epub_converter.py:85-100):

    - window text: OCR transcript for images (carried in the input span's
      ``text``), else element text stripped;
    - any case-sensitive whitespace token of a window text found in the
      boilerplate vocabulary drops the whole section;
    - the first chapter-heading hit at index *i* makes the body
      ``elements[i+1:]``, joined with ``\\n`` from each element's raw text
      stripped — images contribute their (empty) element text, NOT the OCR
      transcript, because the reference's ``tag != "img"`` guard compares a
      Tag against a str and never excludes anything (epub_converter.py:98).
    """
    for i, (kind, text, _ref) in enumerate(elements[:DETECTION_WINDOW]):
        window_text = text if kind == "img" else text.strip()
        if any(token in BOILERPLATE_TOKENS for token in window_text.split()):
            return None
        if is_chapter_heading(window_text):
            body = elements[i + 1:]
            pieces = ["" if k == "img" else t.strip() for k, t, _ in body]
            media = [r for k, _, r in body if k == "img"]
            return "\n".join(pieces), media
    return None


def _epub_kept_sections(
    spans: Sequence[InSpan], title: str, author: str
) -> List[Tuple[List[str], str]]:
    """(media_refs, desmartened chapter text) per kept section — one entry
    per string the reference's ``parse_file`` yields (epub_converter.py:108-122)."""
    # Split the span list into sections on 'section' markers; the marker's
    # text carries the spine item file name (FIXTURES.md §1).
    sections: List[Tuple[str, List[InSpan]]] = []
    current_name: str | None = None
    current: List[InSpan] = []
    for kind, text, ref in spans:
        if kind == "section":
            if current_name is not None:
                sections.append((current_name, current))
            current_name = text
            current = []
        elif kind in _EPUB_ELEMENT_KINDS:
            current.append((kind, text, ref))
    if current_name is not None:
        sections.append((current_name, current))

    kept: List[Tuple[List[str], str]] = []  # (media_refs, chapter_text)
    for file_name, elements in sections:
        # Filename filter (epub_converter.py:116-119): lowercased name vs
        # the boilerplate/title/author prefixes.
        if is_boilerplate(file_name.lower(), title, author):
            continue
        result = _epub_section_chapter(elements)
        if result is None:
            continue
        chapter_text, media = result
        if not chapter_text:
            continue  # falsy chapter text is never yielded (epub_converter.py:121)
        kept.append((media, fold_smart_punctuation(chapter_text)))
    return kept


def blocks_epub(spans: Sequence[InSpan], title: str, author: str) -> List[str]:
    """The strings the reference's EPUB ``parse_file`` generator yields."""
    return [chapter for _media, chapter in _epub_kept_sections(spans, title, author)]


def extract_epub(spans: Sequence[InSpan], title: str, author: str) -> List[OutSpan]:
    kept = _epub_kept_sections(spans, title, author)

    # Chapters joined by "\n***\n" with no sink-side strip or blank filter
    # (epub_converter.py:56, :157-168); media markers precede their chapter.
    out: List[Tuple[str, str, str]] = []
    for idx, (media, chapter_text) in enumerate(kept):
        if idx:
            out.append(("chapter_break", "\n***\n", ""))
        out.extend(("media_ref", "", ref) for ref in media)
        out.append(("text", chapter_text, ""))
    return [(k, t, r, order) for order, (k, t, r) in enumerate(out)]


# --------------------------------------------------------------------------
# DOCX (X3) — page/chapter machine with sticky non-chapter latch.
# Reference: docx_converter.py:61-91 (page loop), :212-240 (classify),
# OCR-wins mux docx_text_extractor.py:14-27.
# --------------------------------------------------------------------------

def _docx_page_atom_lists(
    spans: Sequence[InSpan], title: str, author: str
) -> List[List[Atom]]:
    """One atom list per page flush — the page granularity the reference's
    ``parse_file`` yields at (docx_converter.py:61-91). Media markers are
    zero-width riders; a page whose only atoms are markers corresponds to a
    page the reference never yields (``if current_page:`` guard)."""
    pages: List[List[Atom]] = []
    page: List[Atom] = []           # current page's atoms
    para_index = 0                  # paragraphs seen since last page break
    latch = False                   # sticky non-chapter suppression
    pending_break = False           # a page_break span precedes the next para

    def _flush_page() -> None:
        if page:
            pages.append(list(page))
        page.clear()

    for kind, text, ref in spans:
        if kind == "page_break":
            pending_break = True
            continue
        if kind not in ("para", "img"):
            continue
        # DocxTextExtractor strips paragraph text; an img span's text already
        # carries the OCR-wins result (FIXTURES.md §1).
        effective = text if kind == "img" else text.strip()
        para_index += 1
        if pending_break:
            # The paragraph carrying pageBreakBefore closes the previous page
            # and is itself processed at index 0 (docx_converter.py:75-81).
            _flush_page()
            para_index = 0
            pending_break = False
        if kind == "img":
            page.append(("M", ref))
        if not effective:
            continue
        if para_index < DETECTION_WINDOW and is_chapter_heading(effective):
            para_index = 0
            latch = False
            page.append(("B", None))
        elif para_index < DETECTION_WINDOW and is_boilerplate(effective, title, author):
            latch = True
        elif latch:
            pass
        else:
            page.append(("T", fold_smart_punctuation(effective)))
    _flush_page()
    return pages


def blocks_docx(spans: Sequence[InSpan], title: str, author: str) -> List[str]:
    """The strings the reference's DOCX ``parse_file`` generator yields:
    ``"\\n".join`` of each non-empty page's processed paragraphs."""
    blocks = []
    for page in _docx_page_atom_lists(spans, title, author):
        content = [("***" if k == "B" else t) for k, t in page if k != "M"]
        if content:  # `if current_page:` guard (docx_converter.py:78, :90)
            blocks.append("\n".join(content))
    return blocks


def extract_docx(spans: Sequence[InSpan], title: str, author: str) -> List[OutSpan]:
    # Flatten the page atom lists. Whitespace-only pages are dropped by the
    # reference's string reduce (docx_converter.py:137 filters
    # ``line.strip()``) exactly as extract_pdf models it — only their media
    # markers survive (the OCR consult happened regardless).
    atoms: List[Atom] = []
    for page in _docx_page_atom_lists(spans, title, author):
        if any(k == "B" or (k == "T" and t.strip()) for k, t in page):
            atoms.extend(page)
        else:
            atoms.extend(a for a in page if a[0] == "M")
    return assemble_output_spans(atoms, joiner="\n", break_text="***", lstrip_chars="*")


# --------------------------------------------------------------------------
# PDF (X4/X5/X6) — per-page line state machine + sentence-aware joining.
# Reference: pdf_converter.py:96-167, transition table pdf_line_logic.py:53-96,
# OCR splice pdf_text_extractor.py:66-100.
# --------------------------------------------------------------------------

# Line types.
_UNINIT, _HEADER, _CHAPTER, _NOT_CHAPTER, _LINE = 0, 1, 2, 3, 4
# Actions.
_A_NONE, _A_FIRST, _A_EMPTY, _A_SKIP, _A_SEP, _A_ADD = 0, 1, 2, 3, 4, 5

#: (previous, current) → action (reference: pdf_line_logic.py:75-94).
#: Missing pairs default to ADD_LINE.
_TRANSITIONS = {
    (_UNINIT, _CHAPTER): _A_FIRST,
    (_UNINIT, _HEADER): _A_FIRST,
    (_UNINIT, _NOT_CHAPTER): _A_FIRST,
    (_UNINIT, _LINE): _A_ADD,
    (_HEADER, _CHAPTER): _A_SKIP,
    (_CHAPTER, _HEADER): _A_SKIP,
    (_NOT_CHAPTER, _LINE): _A_EMPTY,
    (_LINE, _NOT_CHAPTER): _A_EMPTY,
    (_CHAPTER, _CHAPTER): _A_SEP,
    (_CHAPTER, _LINE): _A_ADD,
    (_LINE, _LINE): _A_ADD,
}


def _classify_pdf_line(line: str, title: str, author: str) -> int:
    """Priority HEADER > CHAPTER > NOT_CHAPTER > LINE (pdf_line_logic.py:26-50)."""
    if is_pdf_header(line, title, author):
        return _HEADER
    if is_chapter_heading(line):
        return _CHAPTER
    if is_boilerplate(line, title, author):
        return _NOT_CHAPTER
    return _LINE


def _pdf_page_atoms(page_lines: List[str], title: str, author: str) -> List[Atom]:
    """One page through the line machine → T/B atoms (empty list = dropped).

    Mirrors pdf_converter.py:96-146 exactly: in-place multi-line splicing,
    ``strip("\\r\\n")`` + ``lstrip()`` per line, the first six NON-EMPTY lines
    classified and driven through the transition table, every later line
    added unconditionally; added lines are right-stripped + ``\\n`` when they
    end a sentence, kept verbatim (trailing spaces and all) otherwise.
    """
    atoms: List[Atom] = []
    checked = 0
    previous = _UNINIT
    last_action = _A_NONE
    lines = list(page_lines)
    i = 0
    while i < len(lines):
        parts = lines[i].split("\n")
        if len(parts) > 1:
            lines[i:i + 1] = parts
        line = lines[i].strip("\r\n").lstrip()
        i += 1
        if not line:
            continue
        if checked < DETECTION_WINDOW:
            checked += 1
            current = _classify_pdf_line(line, title, author)
            if (
                last_action == _A_FIRST
                and previous == _CHAPTER
                and current == _LINE
            ):
                action = _A_SEP
            else:
                action = _TRANSITIONS.get((previous, current), _A_ADD)
            last_action = action
            previous = current
            if action == _A_EMPTY:
                return []
            if action in (_A_FIRST, _A_SKIP):
                continue
            if action == _A_SEP:
                atoms.append(("B", None))
        if ends_with_sentence_punct(line):
            atoms.append(("T", line.rstrip() + "\n"))
        else:
            atoms.append(("T", line))
    return atoms


def _pdf_page_atom_lists(
    spans: Sequence[InSpan], title: str, author: str
) -> List[List[Atom]]:
    """Post-processed atoms per page, UNfiltered — one entry per string the
    reference's ``parse_file`` yields (pdf_converter.py:154-167 yields every
    page, blank or not; the string reduce filters blanks later)."""
    # Split into pages on page_break markers, honoring the 25-page cap.
    pages: List[List[InSpan]] = [[]]
    for kind, text, ref in spans:
        if kind == "page_break":
            if len(pages) == PDF_MAX_PAGES:
                break
            pages.append([])
        elif kind in ("line", "img"):
            pages[-1].append((kind, text, ref))

    out: List[List[Atom]] = []
    for page in pages:
        images = [(t, r) for k, t, r in page if k == "img"]
        page_lines = [t for k, t, _ in page if k == "line"]
        page_atoms: List[Atom] = []
        if images:
            # All of a page's images go through OCR as one batch and the
            # combined transcript is prepended as the page's first "line"
            # (pdf_text_extractor.py:88-100); markers land at page start.
            transcript = "\n".join(t for t, _ in images if t)
            page_lines = [transcript] + page_lines
            page_atoms.extend(("M", ref) for _, ref in images)
        machine_atoms = _pdf_page_atoms(page_lines, title, author)
        # Page post-processing (pdf_converter.py:161-167): desmarten then
        # whitespace-squeeze. Both distribute over the atom boundaries:
        # desmarten is per-char, and no whitespace run can span two atoms
        # because every atom starts with a non-whitespace character.
        page_atoms.extend(
            (k, squeeze_pdf_whitespace(fold_smart_punctuation(t)) if k == "T" else t)
            for k, t in machine_atoms
        )
        out.append(page_atoms)
    return out


def blocks_pdf(spans: Sequence[InSpan], title: str, author: str) -> List[str]:
    """The strings the reference's PDF ``parse_file`` generator yields —
    every page's assembled text, including blank pages."""
    return [
        "".join(("***\n" if k == "B" else t) for k, t in page if k != "M")
        for page in _pdf_page_atom_lists(spans, title, author)
    ]


def extract_pdf(spans: Sequence[InSpan], title: str, author: str) -> List[OutSpan]:
    atoms: List[Atom] = []
    for page_atoms in _pdf_page_atom_lists(spans, title, author):
        # Blank pages are dropped by the string reduce (pdf_converter.py:215)
        # but their media markers survive — the OCR consult happened.
        if any(k == "B" or (k == "T" and t.strip()) for k, t in page_atoms):
            atoms.extend(page_atoms)
        else:
            atoms.extend(a for a in page_atoms if a[0] == "M")
    return assemble_output_spans(atoms, joiner="", break_text="***\n", lstrip_chars="*\n")
