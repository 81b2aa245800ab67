"""T8 HTML boilerplate stripping (main-content extraction).

The reference service contains **no** HTML handling (see SURVEY.md scope
note); the north rule demands "DOM text-density heuristics (link-density,
block-level tag scoring)". The semantics below are therefore frozen here
from the published literature — block segmentation at block-level tags
with link-density scoring in the style of Boilerpipe (Kohlschütter et
al., WSDM 2010) and jusText (Pomikálek, 2011) — and this function *is*
the golden spec the Spark pipeline must match.

Rules (frozen):

- Subtrees under ``script style noscript template svg iframe`` are
  dropped (invisible), and subtrees under ``nav header footer aside
  form button`` are dropped (boilerplate containers).
- The document is segmented into blocks at block-level tags
  (``p div h1-h6 li td th blockquote pre article section main table tr
  ul ol body html``); character data accumulates into the current block.
- Per block: ``link_density = chars inside <a> / non-space chars``.
  A block is kept iff its whitespace-normalized text is at least
  ``MIN_BLOCK_CHARS`` (25) long with ``link_density < 0.33``, or it is a
  heading (h1-h6) at least ``MIN_HEADING_CHARS`` (8) long with
  ``link_density < 0.2``.
- Kept blocks are whitespace-normalized (runs -> single space, strip)
  and joined with a blank line; the final text is passed through the T5
  cleanup for consistency with every other extraction path.
- Spans are the merged raw-HTML offsets of the character data of kept
  blocks (entity references span their ``&name;`` source text).

Tokenization is defined by the stdlib ``html.parser.HTMLParser``
(``convert_charrefs=False``) — that class remains the authoritative
tokenizer. For speed, a regex fast path below replicates its event
stream for the common well-formed constructs and *falls back to
HTMLParser for the whole document* on anything unusual (marked
sections, malformed tags, unterminated comments, ...), so the output is
identical by construction on the fast path's accepted subset and by
delegation otherwise. ``tests/test_properties.py`` asserts event-stream
parity between both paths on adversarial inputs.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

from ocr_spark.oracle.cleanup import clean_text, _merge_intervals

DROP_TAGS = frozenset(
    "script style noscript template svg iframe nav header footer aside form button".split()
)
BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li td th blockquote pre article section main table tr ul ol body html".split()
)
HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())
VOID_TAGS = frozenset("br hr img input meta link area base col embed source track wbr".split())

MIN_BLOCK_CHARS = 25
MIN_HEADING_CHARS = 8
MAX_LINK_DENSITY = 0.33
MAX_HEADING_LINK_DENSITY = 0.2

_RE_WS = re.compile(r"\s+")


class _Block:
    __slots__ = ("tag", "chunks", "link_chars")

    def __init__(self, tag: str):
        self.tag = tag
        # chunks: list of (text, raw_start, raw_end) with raw offsets into the html
        self.chunks: list = []
        self.link_chars = 0


class _Builder:
    """Block-building state machine fed by either tokenizer."""

    __slots__ = ("drop_depth", "anchor_depth", "blocks", "current")

    def __init__(self):
        self.drop_depth = 0
        self.anchor_depth = 0
        self.blocks: list[_Block] = []
        self.current = _Block("body")

    def flush(self, next_tag: str) -> None:
        if self.current.chunks:
            self.blocks.append(self.current)
        self.current = _Block(next_tag)

    def starttag(self, tag: str) -> None:
        if tag in DROP_TAGS:
            if tag not in VOID_TAGS:
                self.drop_depth += 1
            return
        if self.drop_depth:
            return
        if tag == "a":
            self.anchor_depth += 1
        if tag in BLOCK_TAGS:
            self.flush(tag)

    def endtag(self, tag: str) -> None:
        if tag in DROP_TAGS:
            if self.drop_depth:
                self.drop_depth -= 1
            return
        if self.drop_depth:
            return
        if tag == "a" and self.anchor_depth:
            self.anchor_depth -= 1
        if tag in BLOCK_TAGS:
            self.flush(self.current.tag)

    def startendtag(self, tag: str) -> None:
        # <br/> and friends never open a drop scope
        if self.drop_depth or tag in DROP_TAGS:
            return
        if tag in BLOCK_TAGS:
            self.flush(tag)

    def add_text(self, text: str, start: int, end: int) -> None:
        if self.drop_depth or not text:
            return
        self.current.chunks.append((text, start, end))
        if self.anchor_depth:
            # str.split() splits on exactly the str.isspace characters, so
            # this is the C-speed twin of counting non-space chars.
            self.link_add(sum(map(len, text.split())))

    def link_add(self, n: int) -> None:
        self.current.link_chars += n

    def entityref(self, name: str, start: int) -> None:
        # span covers the "&name;" source text (frozen even when the
        # source semicolon is absent, per HTMLParser's tolerant match)
        self.add_text(unescape(f"&{name};"), start, start + len(name) + 2)

    def charref(self, name: str, start: int) -> None:
        self.add_text(unescape(f"&#{name};"), start, start + len(name) + 3)


class _Extractor(HTMLParser):
    """Authoritative tokenizer: stdlib HTMLParser driving a _Builder."""

    def __init__(self, raw: str):
        # convert_charrefs=False so every data chunk's getpos() maps cleanly
        # to a raw offset and entity refs carry their own source spans.
        super().__init__(convert_charrefs=False)
        self.raw = raw
        # line-start offsets for getpos() -> absolute offset conversion
        self.line_starts = [0]
        for m in re.finditer("\n", raw):
            self.line_starts.append(m.end())
        self.builder = _Builder()

    def _abs(self) -> int:
        line, col = self.getpos()
        return self.line_starts[line - 1] + col

    def handle_starttag(self, tag, attrs):
        self.builder.starttag(tag)

    def handle_endtag(self, tag):
        self.builder.endtag(tag)

    def handle_startendtag(self, tag, attrs):
        self.builder.startendtag(tag)

    def handle_data(self, data):
        start = self._abs()
        self.builder.add_text(data, start, start + len(data))

    def handle_entityref(self, name):
        self.builder.entityref(name, self._abs())

    def handle_charref(self, name):
        self.builder.charref(name, self._abs())


# ---------------------------------------------------------------------------
# Fast tokenizer: replicates HTMLParser(convert_charrefs=False) events for
# the well-formed subset; returns None (caller falls back) otherwise.
# Semantics mirrored from the pinned CPython html/parser.py (3.11).
# ---------------------------------------------------------------------------

# conservative clean-tag shapes; anything else falls back
_SIMPLE_ATTR = (
    r"[a-zA-Z_:][-.a-zA-Z0-9_:]*"
    r"(?:\s*=\s*(?:'[^'<]*'|\"[^\"<]*\"|[^\s'\">][^\s>]*))?"
)
_FAST_END = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")  # == endtagfind
# fused scanner: one search finds the next construct AND classifies it
# (the `other` arm guarantees a match at every [<&], so positions equal
# the scan-then-dispatch formulation)
_MASTER = re.compile(
    r"<(?P<sname>[a-zA-Z][-.a-zA-Z0-9_:]*)(?:\s+" + _SIMPLE_ATTR + r")*?\s*(?P<sclose>/?)>"
    r"|</\s*(?P<ename>[a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
    r"|&(?P<ername>[a-zA-Z][-.a-zA-Z0-9]*)[^a-zA-Z0-9]"
    r"|(?P<other>[<&])"
)
# exact stdlib entityref pattern: the required non-alnum trailing char
# overlaps the -/. name charset, so the name backtracks to the last
# position followed by a non-alnum ("&y-r-t" -> name "y-r")
_ENTITYREF = re.compile(r"&([a-zA-Z][-.a-zA-Z0-9]*)[^a-zA-Z0-9]")
_FAST_ENTITY = re.compile(r"&([a-zA-Z][-.a-zA-Z0-9]*)")
_FAST_CHARREF = re.compile(r"&#([0-9]+|[xX][0-9a-fA-F]+)")
_COMMENT_CLOSE = re.compile(r"--\s*>")
_HEXDIGITS = set("0123456789abcdefABCDEF")


def _fast_parse(raw: str):
    """Tokenize ``raw`` into a _Builder, or return None when the input
    uses a construct outside the replicated subset (caller then runs the
    authoritative HTMLParser)."""
    b = _Builder()
    n = len(raw)
    i = 0
    cdata_close = None  # compiled </elem> matcher while in script/style
    # goahead() BREAKS its loop on an invalid "&#" charref. Under the
    # feed()+close() call pair that means: the 1st invalid charref just
    # suspends and resumes, but from the 2nd one on, close()'s epilogue
    # flushes the entire remainder as literal data. Replicated below.
    charref_breaks = 0
    # hot-loop locals: the master regex fires a few hundred times per
    # document, so attribute lookups and redundant group() probes are
    # measurable; lastindex identifies the matched alternation branch
    # (2=start tag incl. sclose, 3=end tag, 4=entityref, 5=other)
    master_search = _MASTER.search
    add_text = b.add_text
    starttag = b.starttag
    endtag = b.endtag
    while i < n:
        if cdata_close is not None:
            elem, pattern = cdata_close
            m = pattern.search(raw, i)
            if m is None:
                # HTMLParser buffers unterminated cdata forever: content
                # (and everything after) is never emitted.
                b.flush(b.current.tag)
                return b
            # dropped content; emit for parity completeness (builder drops it)
            add_text(raw[i : m.start()], i, m.start())
            endtag(elem)
            cdata_close = None
            i = m.end()
            continue
        m = master_search(raw, i)
        if m is None:
            add_text(raw[i:], i, n)
            break
        j = m.start()
        if i < j:
            add_text(raw[i:j], i, j)
            i = j
        branch = m.lastindex
        if branch == 2:  # start tag: group 1 = name, group 2 = sclose
            # stdlib tagfind_tolerant's NAME is [a-zA-Z][^\t\n\r\f />\x00]*:
            # it folds every other char (\v, \x1c-\x1f, \xa0, ...) INTO the
            # name, while the master regex's \s separators would accept
            # some of them as attribute whitespace. If the char that ended
            # our narrower name match is not a stdlib name terminator the
            # two tokenizers disagree on the tag name -> authoritative.
            if raw[m.end(1)] not in "\t\n\r\f />":
                return None
            tag = m.group(1).lower()
            if m.group(2):
                b.startendtag(tag)
            else:
                starttag(tag)
                if tag in ("script", "style"):
                    cdata_close = (
                        tag,
                        re.compile(r"</\s*%s\s*>" % tag, re.IGNORECASE),
                    )
            i = m.end()
            continue
        if branch == 3:  # end tag
            endtag(m.group(3).lower())
            i = m.end()
            continue
        if branch == 4:  # entityref with trailing terminator
            b.entityref(m.group(4), i)
            k = m.end()  # includes the trailing non-alnum char
            i = k if raw[k - 1] == ";" else k - 1
            continue
        c = m.group(5)
        if c == "<":
            nxt = raw[i + 1 : i + 2]
            if nxt.isascii() and nxt.isalpha():
                return None  # weird tag shape -> authoritative parser
            elif nxt == "/":
                return None  # bogus end tag -> authoritative parser
            elif raw.startswith("<!--", i):
                cm = _COMMENT_CLOSE.search(raw, i + 4)
                if cm is None:
                    return None  # unterminated comment recovery path
                i = cm.end()  # handle_comment is a no-op
            elif nxt == "?":
                gt = raw.find(">", i + 2)
                if gt < 0:
                    return None
                i = gt + 1  # handle_pi is a no-op
            elif nxt == "!":
                if raw.startswith("<![", i):
                    return None  # marked section (_markupbase machinery)
                # doctype and bogus comments both consume to '>' (and the
                # doctype's own first 7 chars contain none); their events
                # (handle_decl/handle_comment) are no-ops here
                gt = raw.find(">", i + 2)
                if gt < 0:
                    return None
                i = gt + 1
            else:
                b.add_text("<", i, i + 1)
                i += 1
        elif raw.startswith("&#", i):
            cm = _FAST_CHARREF.match(raw, i)
            nxt = raw[cm.end() : cm.end() + 1] if cm else ""
            if cm and nxt and nxt not in _HEXDIGITS:
                b.charref(cm.group(1), i)
                i = cm.end() + (1 if nxt == ";" else 0)
            elif ";" in raw[i:]:
                b.add_text("&#", i, i + 2)
                i += 2
                charref_breaks += 1
                if charref_breaks >= 2:  # close()'s epilogue data flush
                    b.add_text(raw[i:], i, n)
                    break
            else:
                # no ';' ahead: goahead never consumes the "&#"; the
                # epilogue flushes the rest (including it) as data
                b.add_text(raw[i:], i, n)
                break
        else:  # '&' with no full entityref at this position
            im = _FAST_ENTITY.match(raw, i)
            if im:  # name runs to end of input with no trailing char
                if im.end() - i == 2:
                    # incomplete-ref quirk: the '&' itself is dropped
                    b.add_text(raw[i + 1 :], i + 1, n)
                else:
                    b.add_text(raw[i:], i, n)
                break
            b.add_text("&", i, i + 1)
            i += 1
    b.flush(b.current.tag)
    return b


def _block_keep(block: _Block) -> bool:
    text = "".join(c[0] for c in block.chunks)
    words = text.split()
    if not words:
        return False
    norm = " ".join(words)  # == _RE_WS.sub(" ", text).strip()
    nonspace = sum(map(len, words))
    link_density = block.link_chars / nonspace if nonspace else 1.0
    if block.tag in HEADING_TAGS:
        return len(norm) >= MIN_HEADING_CHARS and link_density < MAX_HEADING_LINK_DENSITY
    return len(norm) >= MIN_BLOCK_CHARS and link_density < MAX_LINK_DENSITY


def _parse(raw: str) -> _Builder:
    fast = _fast_parse(raw)
    if fast is not None:
        return fast
    parser = _Extractor(raw)
    parser.feed(raw)
    parser.close()
    parser.builder.flush(parser.builder.current.tag)
    return parser.builder


def _render(builder):
    """``(text, spans)`` of a finished builder's kept blocks: each block's
    chunks joined and whitespace-normalized, blocks joined with a blank
    line and T5-cleaned; spans are the merged raw offsets of every kept
    chunk."""
    parts = []
    intervals = []
    for b in builder.blocks:
        if _block_keep(b):
            text = "".join(c[0] for c in b.chunks)
            parts.append(" ".join(text.split()))  # == _RE_WS.sub(" ", ...).strip()
            intervals.extend((c[1], c[2]) for c in b.chunks)
    return clean_text("\n\n".join(parts)), _merge_intervals(intervals)


def strip_html(raw: str):
    """Extract main content from an HTML string.

    Returns ``(text, spans)``: the cleaned main-content text (kept blocks
    whitespace-normalized and joined with a blank line, then T5-cleaned)
    and the merged (start, end) raw-HTML offsets of kept character data.
    """
    if not raw:
        return "", []
    try:
        builder = _parse(raw)
    except Exception:
        # malformed HTML: fall back to keeping nothing rather than failing
        return "", []
    return _render(builder)


def _strip_html_stdlib(raw: str):
    """Authoritative-tokenizer-only variant, used by the parity tests."""
    if not raw:
        return "", []
    parser = _Extractor(raw)
    try:
        parser.feed(raw)
        parser.close()
    except Exception:
        return "", []
    parser.builder.flush(parser.builder.current.tag)
    return _render(parser.builder)
