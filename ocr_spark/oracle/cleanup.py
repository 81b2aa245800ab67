"""T5 cleanup normalization, plain and offset-preserving.

Reference semantics (``services/ocr_service/helpers/text_extractor.py:258-277``):

    text = re.sub(r'\\n\\s*\\n\\s*\\n+', '\\n\\n', text)   # 3+ blank-ish lines -> one blank line
    text = re.sub(r'[ \\t]+', ' ', text)                # space/tab runs -> single space
    text = text.strip()

``clean_text`` is the literal spec. ``clean_text_with_spans`` returns the
same output string *plus* character-span provenance: the merged maximal
intervals of raw input that contributed to the output. Cleanup only
rewrites whitespace runs, so that is always one interval, from the first
to past the last non-whitespace raw character (none for an empty
output). This is what the engine's ``spans`` column carries (the
reference has no span concept; the north rule requires one, so the
contract is frozen here). ``_clean_text_with_spans_ref`` tracks
provenance per character and is kept as the test-only check of that rule.
"""

from __future__ import annotations

import re

_RE_BLANKLINES = re.compile(r"\n\s*\n\s*\n+")
_RE_SPACERUNS = re.compile(r"[ \t]+")
# Output-equivalent refinement of [ \t]+: only runs whose replacement by
# " " actually changes the string (contains a tab, or >=2 spaces). A
# single " " matched by [ \t]+ is replaced by itself, so skipping it
# leaves the output unchanged and cuts the match count by ~the word count
# of typical prose.
_RE_SPACERUNS_EFFECTIVE = re.compile(r"[ \t]*\t[ \t]*| {2,}")


def clean_text(text: str) -> str:
    """Cleanup normalization, exactly the reference's regex chain
    (_RE_SPACERUNS_EFFECTIVE is output-identical to [ \t]+ -> ' ')."""
    if not text:
        return ""
    text = _RE_BLANKLINES.sub("\n\n", text)
    text = _RE_SPACERUNS_EFFECTIVE.sub(" ", text)
    return text.strip()


def _sub_mapped(pattern: re.Pattern, repl: str, chars: list, srcs: list):
    """Regex-substitute over a (char, source-interval) parallel pair of lists.

    Replacement characters inherit the union interval of the matched run,
    so provenance is never lost by a collapse.
    """
    s = "".join(chars)
    out_chars: list = []
    out_srcs: list = []
    pos = 0
    for m in pattern.finditer(s):
        out_chars.extend(chars[pos : m.start()])
        out_srcs.extend(srcs[pos : m.start()])
        seg = srcs[m.start() : m.end()]
        lo = min(iv[0] for iv in seg)
        hi = max(iv[1] for iv in seg)
        for c in repl:
            out_chars.append(c)
            out_srcs.append((lo, hi))
        pos = m.end()
    out_chars.extend(chars[pos:])
    out_srcs.extend(srcs[pos:])
    return out_chars, out_srcs


def _merge_intervals(intervals):
    """Merge overlapping/adjacent (start, end) half-open intervals."""
    if not intervals:
        return []
    ordered = sorted(intervals)
    merged = [list(ordered[0])]
    for lo, hi in ordered[1:]:
        if lo <= merged[-1][1]:
            if hi > merged[-1][1]:
                merged[-1][1] = hi
        else:
            merged.append([lo, hi])
    return [(lo, hi) for lo, hi in merged]


def _clean_text_with_spans_ref(text: str):
    """Reference (per-char) provenance tracking — the test-only check that
    ``clean_text_with_spans``'s one-interval rule is what per-character
    tracking through both substitutions and the strip yields."""
    if not text:
        return "", []
    chars = list(text)
    srcs = [(i, i + 1) for i in range(len(chars))]
    chars, srcs = _sub_mapped(_RE_BLANKLINES, "\n\n", chars, srcs)
    chars, srcs = _sub_mapped(_RE_SPACERUNS, " ", chars, srcs)
    # strip(): drop leading/trailing whitespace chars (and their provenance)
    start = 0
    end = len(chars)
    while start < end and chars[start].isspace():
        start += 1
    while end > start and chars[end - 1].isspace():
        end -= 1
    chars = chars[start:end]
    srcs = srcs[start:end]
    return "".join(chars), _merge_intervals(srcs)


def clean_text_with_spans(text: str):
    """Cleanup with provenance.

    Returns ``(cleaned, spans)`` where ``cleaned == clean_text(text)`` and
    ``spans`` is the merged ``(start, end)`` half-open offsets into the
    *raw* input whose characters contributed to the output. Both
    substitutions replace a whitespace run by whitespace that inherits the
    run's interval, so the raw string stays tiled contiguously and only
    the strip cuts it: the spans are always the one interval from the
    first to past the last non-whitespace raw character, or none when the
    output is empty.
    """
    cleaned = clean_text(text)
    if not cleaned:
        return "", []
    return cleaned, [(len(text) - len(text.lstrip()), len(text.rstrip()))]
