"""Property-based checks over the frozen oracle (hypothesis, seeded by
its deterministic default profile; stdlib-only oracle = fast, no Spark).

These are the SURVEY §5.4 invariants: cleanup idempotence, span
correspondence, confidence-filter monotonicity, extractor totality
(never raises, any input), and aggregation count consistency.
"""

from __future__ import annotations

import json
import re

from hypothesis import given, settings, strategies as st

from ocr_spark.oracle import (
    aggregate_conversation,
    clean_text,
    clean_text_with_spans,
    extract_turn,
    parse_ocr_lines,
    strip_html,
)
from ocr_spark.oracle.payloads import filter_by_confidence

text_like = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=400
)
wsp_heavy = st.text(alphabet=" \t\nabc<>/.", max_size=300)


@settings(max_examples=200, deadline=None)
@given(text_like)
def test_cleanup_idempotent(s):
    once = clean_text(s)
    assert clean_text(once) == once


@settings(max_examples=200, deadline=None)
@given(wsp_heavy)
def test_cleanup_spans_reconstruct_output(s):
    cleaned, spans = clean_text_with_spans(s)
    # every span indexes the raw input, in order, non-overlapping
    prev_end = 0
    for start, end in spans:
        assert 0 <= start < end <= len(s)
        assert start >= prev_end
        prev_end = end
    # the characters the spans keep are exactly the cleaned text's
    # non-synthesized characters: cleaned must be reconstructable from the
    # raw slices modulo the whitespace the cleaner itself rewrites
    kept = "".join(s[a:b] for a, b in spans)
    assert clean_text(kept) == cleaned


@settings(max_examples=300, deadline=None)
@given(wsp_heavy)
def test_cleanup_span_fastpath_matches_reference(s):
    from ocr_spark.oracle.cleanup import _clean_text_with_spans_ref

    assert clean_text_with_spans(s) == _clean_text_with_spans_ref(s)


# \x0b and \xa0: Python-\s chars that stdlib tagfind_tolerant folds into
# tag NAMES — must route to the authoritative-parser fallback (ADVICE r1)
html_chars = st.text(
    alphabet="<>&;/!-?=\"' \n\t\x0b\xa0abspdivh1scriptyle#x0239", max_size=80
)
html_frags = st.lists(
    st.sampled_from(
        [
            "<p>", "</p>", "<div class='x'>", "</div>", '<a href="y">', "</a>",
            "<br/>", "<script>", "</script>", "var x=1;", "&amp;", "&#65;",
            "&amp", "&#", "plain prose long enough to keep around here",
            "<h1>", "</h1>", "<!-- c -->", "<!doctype html>", "<?pi?>",
            "&y-r-t", "< ", "&", "<", "<style>", "</style>", "<ul>", "<li>",
            "</li>", "</ul>", "text & more", "\n\n",
        ]
    ),
    max_size=20,
).map("".join)


@settings(max_examples=400, deadline=None)
@given(st.one_of(html_chars, html_frags))
def test_html_fast_tokenizer_matches_stdlib(s):
    from ocr_spark.oracle.html_strip import _fast_parse, _strip_html_stdlib

    if _fast_parse(s) is None:
        return  # fallback path IS the stdlib parser
    assert strip_html(s) == _strip_html_stdlib(s)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(st.text(max_size=8), st.floats(0, 1), st.booleans()), max_size=20
    )
)
def test_confidence_filter_monotone(items):
    lines = [
        {"text": t, "confidence": c, "bbox": [0.0] * 8} for (t, c, _b) in items
    ]
    kept_50 = filter_by_confidence(lines, 0.5)
    kept_80 = filter_by_confidence(lines, 0.8)
    assert len(kept_80) <= len(kept_50) <= len(lines)
    assert all(l["confidence"] >= 0.8 for l in kept_80)
    # raising the threshold keeps a subset, preserving order
    ids_50 = [id(l) for l in kept_50]
    assert [i for i in ids_50 if i in {id(l) for l in kept_80}] == [id(l) for l in kept_80]


@settings(max_examples=200, deadline=None)
@given(text_like, text_like)
def test_extract_turn_total_and_deterministic(text, tool):
    row1 = extract_turn(text, tool)
    row2 = extract_turn(text, tool)
    assert row1 == row2
    assert row1["kind"] in {"text", "html", "pdf_blocks", "ocr_lines", "error", "short"}
    assert isinstance(row1["parse_ok"], bool)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="<>abp/ \n\"=href", max_size=200))
def test_strip_html_never_emits_tags(s):
    text, _spans = strip_html(s)
    assert not re.search(r"</?[a-zA-Z][^>]*>", text)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["text", "html", "ocr_lines", "error"]), st.text(max_size=30)),
        min_size=1,
        max_size=15,
    )
)
def test_aggregate_counts_consistent(turns):
    rows = [(i, k, t) for i, (k, t) in enumerate(turns)]
    agg = aggregate_conversation(rows)
    assert agg["n_turns"] == len(rows)
    assert agg["n_text"] + agg["n_ocr"] <= agg["n_turns"]
    # full_text contains every non-blank turn text in order; input order
    # must not matter (stable sort by turn_idx)
    non_blank = [t for (_i, _k, t) in rows if t and t.strip()]
    assert agg["full_text"] == "\n\n".join(non_blank)
    assert aggregate_conversation(list(reversed(rows))) == agg


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=100))
def test_malformed_payload_never_raises(payload):
    # any tool payload: worst case is parse_ok=False, never an exception
    row = extract_turn("caption", payload)
    assert isinstance(row["parse_ok"], bool)
    lines, _text, ok, error = parse_ocr_lines(payload)
    assert isinstance(lines, list) and isinstance(ok, bool)
    assert ok or error


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.floats(0, 1), min_size=1, max_size=8),
    st.lists(st.text(min_size=1, max_size=6), min_size=1, max_size=8),
)
def test_ocr_lines_confidence_threshold_exact(scores, texts):
    n = min(len(scores), len(texts))
    payload = json.dumps(
        {
            "rec_texts": texts[:n],
            "rec_scores": scores[:n],
            "dt_polys": [[[0, 0], [1, 0], [1, 1], [0, 1]]] * n,
        }
    )
    lines, _text, ok, _err = parse_ocr_lines(payload, min_confidence=0.5)
    assert ok
    assert all(l["confidence"] >= 0.5 for l in lines)
    expect = sum(1 for s in scores[:n] if s >= 0.5)
    assert len(lines) == expect


# whitespace vocabulary wider than \s: includes \v \f, ASCII separators
# \x1c-\x1f (str.isspace() but NOT re-\s), NBSP, and ideographic space —
# the chars where Python's three whitespace notions (str.strip, re \s,
# str.isspace) disagree with each other and with Java/RE2
wsp_exotic = st.text(alphabet=" \t\n\r\v\f\x1c\x1d\x1e\x1f\xa0　ab.", max_size=200)


@settings(max_examples=500, deadline=None)
@given(st.one_of(wsp_heavy, wsp_exotic))
def test_cleanup_spans_single_interval_invariant(s):
    """The provenance invariant the DuckDB oracle of
    extract_text_span_parity relies on (ocr_spark/oracles.py), and that a
    faster text path may exploit: a text-kind turn's merged spans are
    always EXACTLY ONE interval (len(raw)-len(raw.lstrip()),
    len(raw.rstrip())) — or none when the cleaned output is empty —
    because both cleanup substitutions tile the raw string contiguously
    (replacements inherit the union interval of their matched run)."""
    cleaned, spans = clean_text_with_spans(s)
    if cleaned == "":
        assert spans == []
    else:
        lead = len(s) - len(s.lstrip())
        assert spans == [(lead, len(s.rstrip()))]
