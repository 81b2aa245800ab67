"""Per-turn classification, extraction dispatch, and conversation rollup.

``classify_turn`` is the F1 routing analog (``services/page_classifier.py:47``:
route by content shape; errors route to the fallible path). In the
transcript model the payload shape *is* the classification:

- non-empty ``tool`` that parses as a PaddleOCR pipeline dict -> ``ocr_lines``
- non-empty ``tool`` that parses as a PyMuPDF block dict       -> ``pdf_blocks``
- non-empty ``tool`` that parses as neither                    -> ``error``
- HTML-looking ``text``                                        -> ``html``
- everything else                                              -> ``text``

``extract_turn`` routes to the matching extractor (≙ hybrid page router,
``services/pdf_hybrid_service/helpers/pdf_extractor.py:16-112``) and never
raises: failures become ``parse_ok=False`` rows (per-page error isolation,
``tasks/pdf_hybrid_tasks.py:189-195``).

``aggregate_conversation`` ≙ ordered aggregation: stable sort by turn
index (``tasks/pdf_hybrid_tasks.py:323``), join non-blank texts with a
blank line (``services/ocr_service/ocr_service.py:249-262``), and count
per-classification (``tasks/pdf_hybrid_tasks.py:312-320``).

Span contract (frozen): for ``text`` and ``html`` kinds, ``spans`` are
merged character offsets into the raw ``text`` column; for payload kinds
(``pdf_blocks``/``ocr_lines``) the extracted content comes from the
``tool`` JSON where character provenance is not meaningful, so ``spans``
is empty.
"""

from __future__ import annotations

import json
import re

from ocr_spark.oracle.cleanup import clean_text_with_spans
from ocr_spark.oracle.html_strip import strip_html
from ocr_spark.oracle.payloads import parse_ocr_lines, parse_pdf_blocks

TEXT_KINDS_COUNTED_AS_TEXT = ("text", "html", "pdf_blocks")

_RE_HTML_HINT = re.compile(
    r"<\s*(?:/|!doctype|html|body|p|div|h[1-6]|a|ul|ol|li|nav|header|footer|"
    r"table|td|th|tr|span|script|style|br|article|section|main|blockquote|pre)\b",
    re.IGNORECASE,
)


def looks_like_html(text: str) -> bool:
    # '<' containment is an exact prefilter (every alternative of the
    # hint regex begins with '<'), and C-speed `in` beats running the
    # regex over the plain-text majority of turns
    return bool(text) and "<" in text and _RE_HTML_HINT.search(text) is not None


def _route(text: str, tool: str):
    """``(kind, doc)`` for a turn — the single routing decision shared by
    ``classify_turn`` and ``extract_turn``. ``doc`` is the JSON-parsed
    ``tool`` payload (None when there is none or it does not parse), so
    the payload extractors never parse it a second time."""
    if tool:
        try:
            doc = json.loads(tool)
        except Exception:
            return "error", None
        if isinstance(doc, dict):
            if "rec_texts" in doc and "rec_scores" in doc:
                return "ocr_lines", doc
            if "blocks" in doc:
                return "pdf_blocks", doc
        return "error", doc
    if looks_like_html(text):
        return "html", None
    return "text", None


def classify_turn(text: str, tool: str) -> str:
    """Shape-based routing classification for a turn."""
    return _route(text, tool)[0]


def extract_turn(text: str, tool: str, min_confidence: float = 0.5) -> dict:
    """Extract one turn. Returns the full ``extracted`` row as a dict.

    The tool payload is JSON-parsed exactly once: routing and the
    payload extractors share the parsed dict (semantics identical to
    classify-then-parse; ~35% of turns carry payloads, and re-parsing was
    the payload path's single largest cost)."""
    text = text or ""
    tool = tool or ""
    kind, doc = _route(text, tool)
    row = {
        "kind": kind,
        "extracted_text": "",
        "spans": [],
        "lines": [],
        "blocks": [],
        "parse_ok": True,
        "error": None,
    }
    if kind == "text":
        cleaned, spans = clean_text_with_spans(text)
        row["extracted_text"] = cleaned
        row["spans"] = spans
    elif kind == "html":
        extracted, spans = strip_html(text)
        row["extracted_text"] = extracted
        row["spans"] = spans
    elif kind == "pdf_blocks":
        blocks, extracted, ok, err = parse_pdf_blocks(tool, doc=doc)
        row["blocks"] = blocks
        row["extracted_text"] = extracted
        row["parse_ok"] = ok
        row["error"] = err
        if not ok:
            row["kind"] = "error"
    elif kind == "ocr_lines":
        lines, extracted, ok, err = parse_ocr_lines(tool, min_confidence, doc=doc)
        row["lines"] = lines
        row["extracted_text"] = extracted
        row["parse_ok"] = ok
        row["error"] = err
        if not ok:
            row["kind"] = "error"
    else:  # error: unparseable tool payload
        row["parse_ok"] = False
        row["error"] = "unrecognized tool payload"
    return row


def aggregate_conversation(turn_rows) -> dict:
    """Ordered rollup of one conversation's extracted rows.

    ``turn_rows``: iterable of (turn_idx, kind, extracted_text) in any
    order. Returns the ``conv_text`` row.
    """
    ordered = sorted(turn_rows, key=lambda r: r[0])
    texts = [r[2] for r in ordered if r[2] and r[2].strip()]
    return {
        "full_text": "\n\n".join(texts),
        "n_turns": len(ordered),
        "n_text": sum(1 for r in ordered if r[1] in TEXT_KINDS_COUNTED_AS_TEXT),
        "n_ocr": sum(1 for r in ordered if r[1] == "ocr_lines"),
    }
