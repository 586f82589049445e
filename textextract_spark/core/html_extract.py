"""Main-content extraction from HTML via block text/link-density scoring.

Readability/Boilerpipe-style: flatten the DOM into a stream of text blocks
(one per block-level element), score each block by text density
(chars per inline tag) and link density (anchor chars / chars), and keep
blocks classified as content. Pure stdlib — lxml is not available in this
environment.

Two implementations drive the SAME block/scoring semantics:

* ``_scored_blocks`` — a fused regex tokenizer + block state machine
  (the production path): stdlib ``html.parser`` spends ~60% of
  extraction time in per-character ``goahead``/``parse_starttag``
  bookkeeping we don't need (positions, attribute dicts); the regex
  path measured ~2x faster per document — and fusing tokenize+handle
  into one loop (no per-event generator layer) another ~15-25% — which
  is the headline docs/sec metric at 10^12 documents.
* ``_BlockParser`` — the ``html.parser``-driven reference implementation,
  kept for the cross-check test (tests/test_core.py asserts byte-equal
  output on the generated corpus).

Reference analog: the vision-LLM prompt "Extract and return only the exact
text visible ... Preserve the text exactly" (/root/reference/backend/routes/
api_routes.py:78) — i.e. the contract is exact, deterministic text per
document. This module IS the oracle: golden files are produced by this same
code path (SURVEY.md §5.1).

Determinism rules (SURVEY.md §7 hard parts): pure function of the input
string; no hash-order iteration (blocks kept in document order); stable
thresholds; no wall-clock, no randomness.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

# Elements whose entire subtree is dropped.
_SKIP_TAGS = frozenset(
    {"script", "style", "noscript", "template", "head", "svg", "iframe",
     "object", "embed", "title", "canvas", "audio", "video"}
)

# Elements that delimit text blocks.
_BLOCK_TAGS = frozenset(
    {"p", "div", "section", "article", "main", "aside", "header", "footer",
     "nav", "ul", "ol", "li", "h1", "h2", "h3", "h4", "h5", "h6", "table",
     "thead", "tbody", "tr", "td", "th", "blockquote", "pre", "br", "hr",
     "form", "figure", "figcaption", "dl", "dt", "dd", "body", "html",
     "address", "center", "fieldset", "legend", "details", "summary"}
)

_HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# Scoring thresholds — these constants DEFINE the extraction semantics; the
# golden corpus is generated with the same values. Do not tune casually.
MIN_BLOCK_CHARS = 25
MIN_HEADING_CHARS = 8
MAX_LINK_DENSITY = 0.33
MIN_TEXT_DENSITY = 10.0
BLOCK_SEP = "\n\n"


def _collapse(s: str) -> str:
    """Collapse all whitespace runs to single spaces and strip."""
    return " ".join(s.split())


class _Block:
    __slots__ = ("tag", "parts", "anchor_parts", "inline_tags")

    def __init__(self, tag: str) -> None:
        self.tag = tag
        self.parts: list[str] = []
        self.anchor_parts: list[str] = []
        self.inline_tags = 0


class _BlockParser(HTMLParser):
    """Flatten HTML into scored text blocks, in document order."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self._anchor_depth = 0
        self._block_stack: list[str] = ["body"]
        self._cur = _Block("body")
        self.blocks: list[tuple[str, str, int, float, float]] = []
        # (tag, text, chars, link_density, text_density)

    # -- block lifecycle ---------------------------------------------------
    def _flush(self) -> None:
        b = self._cur
        text = _collapse("".join(b.parts))
        if text:
            chars = len(text)
            anchor_chars = len(_collapse("".join(b.anchor_parts)))
            link_density = (anchor_chars / chars) if chars else 1.0
            text_density = chars / (1.0 + b.inline_tags)
            self.blocks.append((b.tag, text, chars, link_density, text_density))
        self._cur = _Block(self._block_stack[-1] if self._block_stack else "body")

    # -- HTMLParser hooks --------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag in _BLOCK_TAGS:
            self._flush()
            if tag not in ("br", "hr"):
                self._block_stack.append(tag)
                self._cur.tag = tag
        else:
            if tag == "a":
                self._anchor_depth += 1
            self._cur.inline_tags += 1

    def handle_startendtag(self, tag: str, attrs) -> None:
        if self._skip_depth:
            return
        if tag in ("br", "hr"):
            self._flush()
        elif tag not in _BLOCK_TAGS and tag not in _SKIP_TAGS:
            self._cur.inline_tags += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            if self._skip_depth:
                self._skip_depth -= 1
            return
        if self._skip_depth:
            return
        if tag in _BLOCK_TAGS:
            self._flush()
            # pop the matching open block if present (lenient on bad nesting)
            for i in range(len(self._block_stack) - 1, 0, -1):
                if self._block_stack[i] == tag:
                    del self._block_stack[i:]
                    break
            self._cur.tag = self._block_stack[-1] if self._block_stack else "body"
        elif tag == "a" and self._anchor_depth:
            self._anchor_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._skip_depth or not data:
            return
        self._cur.parts.append(data)
        if self._anchor_depth:
            self._cur.anchor_parts.append(data)

    def close(self) -> None:  # flush trailing text
        super().close()
        self._flush()


def _is_content(tag: str, chars: int, link_density: float,
                text_density: float) -> bool:
    """Boilerpipe-style block classification (content vs boilerplate)."""
    if link_density > MAX_LINK_DENSITY:
        return False
    if tag in _HEADING_TAGS:
        return chars >= MIN_HEADING_CHARS
    if chars < MIN_BLOCK_CHARS:
        return False
    return text_density >= MIN_TEXT_DENSITY or tag in ("p", "blockquote", "pre")


# -- fast regex tokenizer (production path) ----------------------------------

# Start/end tag recognition reuses the stdlib html.parser's OWN compiled
# regexes (tagfind_tolerant / attrfind_tolerant / locatestarttagend_
# tolerant / endtagfind): the production tokenizer must agree byte-for-
# byte with the _BlockParser reference twin below, and a hand-rolled
# approximation measurably diverged on attribute junk (random-byte
# "tags" where html.parser's tolerant grammar consumes a span this
# regex rejected). Importing the same patterns pins the two paths to
# the same grammar on this Python version.
import html.parser as _hp

_LOCATE_START_RE = _hp.locatestarttagend_tolerant
_TAGFIND_RE = _hp.tagfind_tolerant
_ATTRFIND_RE = _hp.attrfind_tolerant
_ENDTAGFIND_RE = _hp.endtagfind
_ASCII_LETTERS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")

# Fast path for the overwhelmingly common well-formed start tags (one
# regex pass instead of locate+tagfind+attrfind — the tolerant trio
# measured ~35% slower end to end). Deliberately CONSERVATIVE so that
# whenever it matches, the tolerant grammar provably reaches the same
# endpos with the same start-vs-selfclose classification:
#   * the ending captures '/>' vs '>' exactly (html.parser treats
#     '<p/ >' as a START tag, not self-closing);
#   * bare attr values exclude a leading quote (an unterminated quoted
#     value makes html.parser scan past '>' or declare the tag
#     incomplete);
#   * name and attr chunks are ATOMIC groups — html.parser's grammar is
#     greedy-then-check (its '>' is never mandatory), so this pattern
#     must not backtrack the name to force its required ending (e.g.
#     '<a\xa0junk\x00...>': unicode-\s after a shortened name would
#     reparse junk as attributes that html.parser calls a bogus tag).
# Anything it cannot match falls through to the exact stdlib-regex
# replication of parse_starttag below.
_FAST_START_RE = re.compile(
    r"<(?>([a-zA-Z][^\t\n\r\f />\x00]*))"
    r"(?>(?:\s+(?>[^\s=/>]+)"  # '=+' mirrors the stdlib value indicator
    r"(?:\s*=+\s*(?>\"[^\"]*\"|'[^']*'|(?!['\"])[^\s>]*))?)*)"
    r"\s*(/>|>)")

# <![...]> marked sections, mirroring html.parser's parse_marked_section:
# cdata/temp/ignore/include/rcdata close at ']]>' (whitespace-tolerant),
# MS-Office if/else/endif close at ']>'. Content is consumed (dropped) —
# so '>' inside CDATA can no longer leak as visible text. For UNKNOWN
# keywords html.parser raises AssertionError; this tokenizer stays total
# and consumes to the first '>' like any other declaration (documented
# divergence — the fuzz twin test only generates known keywords).
_MS_NAME_RE = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*")
_MS_STD = frozenset({"cdata", "temp", "ignore", "include", "rcdata"})
_MS_MSO = frozenset({"if", "else", "endif"})
_MS_STD_CLOSE_RE = re.compile(r"]\s*]\s*>")
_MS_MSO_CLOSE_RE = re.compile(r"]\s*>")

# rawtext close scan, mirroring html.parser's CDATA handling: the close
# tag may have whitespace after '</', must not merely prefix a longer
# name ('</scripts>' stays rawtext data), and needs '\s*>' to terminate
_RAWCLOSE = {
    name: re.compile(r"</\s*" + name + r"(?![-.a-zA-Z0-9:_])\s*>",
                     re.IGNORECASE)
    for name in ("script", "style")}

# raw-text elements: their content is consumed up to the matching close
# tag, so '<' inside script/style bodies can never be misread as markup.
# EXACTLY html.parser's CDATA_CONTENT_ELEMENTS — adding textarea/title
# here would diverge from the reference tokenizer (their bodies are
# ordinary parsed data in html.parser).
_RAWTEXT = frozenset({"script", "style"})


def _scored_blocks(html_text: str) -> list[tuple[str, str, int, float, float]]:
    """Tokenize + run the block/scoring state machine in ONE fused loop.

    The tokenizer recognizes the same event stream html.parser produces
    for well-formed input (start/startend/end/data, plus its exact
    goahead(end=1) EOF recovery) and is total on arbitrary input —
    anything unparseable becomes data. Tokenizing and block handling are
    fused rather than layered (an earlier generator-of-events split
    measured ~15-25% slower from per-event tuple/dispatch overhead — at
    10^12 documents that layer is days of worker CPU). Identical
    semantics to _BlockParser (the html.parser reference implementation
    below) — byte-equal output is asserted by the corpus + fuzz tests in
    tests/test_core.py.
    """
    s = html_text
    i, n = 0, len(s)
    skip_depth = 0
    anchor_depth = 0
    block_stack = ["body"]
    cur = _Block("body")
    cur_parts = cur.parts  # bound once: flush resets IN PLACE (clear),
    cur_anchor = cur.anchor_parts  # never reallocates a _Block
    blocks: list[tuple[str, str, int, float, float]] = []
    find = s.find
    # Lowest start from which each closer is known absent. A failed
    # forward search fails for every later start too, so each closer
    # scans the tail at most twice and unterminated '<!--', '<?', '<!',
    # '<![' and '</' runs cost linear time, not quadratic.
    no_gt = no_cc = n + 1  # '>' and '-->'
    no_ms = {_MS_STD_CLOSE_RE: n + 1, _MS_MSO_CLOSE_RE: n + 1}

    def flush() -> None:
        if cur_parts:
            text = _collapse("".join(cur_parts))
            if text:
                chars = len(text)
                anchor_chars = len(_collapse("".join(cur_anchor)))
                blocks.append((cur.tag, text, chars,
                               (anchor_chars / chars) if chars else 1.0,
                               chars / (1.0 + cur.inline_tags)))
            cur_parts.clear()
            cur_anchor.clear()
        cur.tag = block_stack[-1] if block_stack else "body"
        cur.inline_tags = 0

    def data(payload: str) -> None:
        if skip_depth or not payload:
            return
        if "&" in payload:
            payload = unescape(payload)
        cur_parts.append(payload)
        if anchor_depth:
            cur_anchor.append(payload)

    def raw_data(payload: str) -> None:
        # parse_starttag's junk-tag fallback calls handle_data directly,
        # BYPASSING goahead's charref unescaping — mirror that exactly
        if skip_depth or not payload:
            return
        cur_parts.append(payload)
        if anchor_depth:
            cur_anchor.append(payload)

    def recover(lt: int) -> int:
        """html.parser's goahead(end=1) incomplete-construct recovery:
        everything through the first '>' becomes data; else up to (not
        including) the next '<'; else a lone '<'. Returns the new pos."""
        nonlocal no_gt
        if lt + 1 < no_gt:
            k = find(">", lt + 1)
            if k >= 0:
                data(s[lt:k + 1])
                return k + 1
            no_gt = lt + 1
        k = find("<", lt + 1)
        if k >= 0:
            data(s[lt:k])
            return k
        data("<")
        return lt + 1

    def handle_end(name: str) -> None:
        nonlocal skip_depth, anchor_depth
        if name in _SKIP_TAGS:
            if skip_depth:
                skip_depth -= 1
        elif skip_depth:
            pass
        elif name in _BLOCK_TAGS:
            flush()
            for j in range(len(block_stack) - 1, 0, -1):
                if block_stack[j] == name:
                    del block_stack[j:]
                    break
            cur.tag = block_stack[-1] if block_stack else "body"
        elif name == "a" and anchor_depth:
            anchor_depth -= 1

    while i < n:
        lt = find("<", i)
        if lt < 0:
            data(s[i:])
            break
        if lt > i:
            data(s[i:lt])
        nxt = s[lt + 1:lt + 2]
        if nxt == "!" or nxt == "?":
            nm = s.startswith("<![", lt) and _MS_NAME_RE.match(s, lt + 3)
            kw = nm.group(0).lower() if nm else ""
            close = (_MS_STD_CLOSE_RE if kw in _MS_STD
                     else _MS_MSO_CLOSE_RE if kw in _MS_MSO else None)
            if close is not None:  # marked section with a known keyword
                if lt + 3 < no_ms[close]:
                    m = close.search(s, lt + 3)
                    if m:
                        i = m.end()
                        continue
                    no_ms[close] = lt + 3
            elif s.startswith("<!--", lt):  # comment: through '-->'
                if lt + 4 < no_cc:
                    k = find("-->", lt + 4)
                    if k >= 0:
                        i = k + 3
                        continue
                    no_cc = lt + 4
            # <?pi>, <!decl> and an unknown <![kw (html.parser raises
            # there; we stay total): through the first '>'
            elif lt + 2 < no_gt:
                k = find(">", lt + 2)
                if k >= 0:
                    i = k + 1
                    continue
                no_gt = lt + 2
            i = recover(lt)
            continue
        if nxt == "/":  # ---- end tag: parse_endtag semantics ------------
            gt = find(">", lt + 1) if lt + 1 < no_gt else -1
            if gt < 0:  # no '>' anywhere: incomplete at EOF
                i = recover(lt)
                continue
            gt += 1
            m = _ENDTAGFIND_RE.match(s, lt)  # </ \s* name \s* >
            if m:
                handle_end(m.group(1).lower())
                i = gt
                continue
            nm = _TAGFIND_RE.match(s, lt + 2)
            if nm:  # sloppy end tag: take the name, skip junk to '>'
                handle_end(nm.group(1).lower())
                i = find(">", nm.end()) + 1
                continue
            if s.startswith("</>", lt):  # consumed, no event
                i = lt + 3
                continue
            i = gt  # bogus comment: dropped through the first '>'
            continue
        if nxt in _ASCII_LETTERS:  # ---- start tag: parse_starttag -------
            fm = _FAST_START_RE.match(s, lt)
            if fm:  # common well-formed tag: one regex, same semantics
                name = fm.group(1).lower()
                endpos = fm.end()
                end = fm.group(2)
            else:  # exact stdlib-regex replication of parse_starttag
                j = _LOCATE_START_RE.match(s, lt).end()
                nc = s[j:j + 1]
                endpos = -1
                if nc == ">":
                    endpos = j + 1
                elif nc == "/":
                    if s.startswith("/>", j):
                        endpos = j + 2
                    # lone '/' at buffer end: incomplete
                elif nc == "" or nc == "=" or nc in _ASCII_LETTERS:
                    pass  # incomplete (end of input in/before an attr value)
                else:
                    endpos = j if j > lt else lt + 1
                if endpos < 0:
                    i = recover(lt)
                    continue
                nm = _TAGFIND_RE.match(s, lt + 1)
                name = nm.group(1).lower()
                k = nm.end()
                while k < endpos:  # attr consumption decides tag-vs-junk
                    am = _ATTRFIND_RE.match(s, k)
                    if not am:
                        break
                    k = am.end()
                end = s[k:endpos].strip()
                if end != ">" and end != "/>":
                    # attr junk: whole span is literal data (un-unescaped)
                    raw_data(s[lt:endpos])
                    i = endpos
                    continue
            i = endpos
            if end == ">":  # ---- real start tag (+ rawtext)
                if name in _SKIP_TAGS:
                    skip_depth += 1
                elif not skip_depth:
                    if name in _BLOCK_TAGS:
                        flush()
                        if name not in ("br", "hr"):
                            block_stack.append(name)
                            cur.tag = name
                    else:
                        if name == "a":
                            anchor_depth += 1
                        cur.inline_tags += 1
                if name in _RAWTEXT:
                    cm = _RAWCLOSE[name].search(s, i)
                    if cm is None:  # unterminated rawtext: rest is body
                        break
                    # the matching end tag: script/style are _SKIP_TAGS,
                    # so generic end handling reduces to this decrement
                    if skip_depth:
                        skip_depth -= 1
                    i = cm.end()
            elif not skip_depth:  # ---- self-closing '/>'
                if name in ("br", "hr"):
                    flush()
                elif name not in _BLOCK_TAGS and name not in _SKIP_TAGS:
                    cur.inline_tags += 1
            continue
        # bare '<' (or '<' + non-letter junk): literal data
        data("<")
        i = lt + 1
    flush()
    return blocks


def _assemble(blocks) -> tuple[str, list[tuple[str, int, int]]]:
    out_parts: list[str] = []
    spans: list[tuple[str, int, int]] = []
    pos = 0
    for tag, text, chars, link_density, text_density in blocks:
        if not _is_content(tag, chars, link_density, text_density):
            continue
        if out_parts:
            pos += len(BLOCK_SEP)
        out_parts.append(text)
        spans.append((tag, pos, pos + len(text)))
        pos += len(text)
    return BLOCK_SEP.join(out_parts), spans


def extract_html(html_text: str) -> tuple[str, list[tuple[str, int, int]]]:
    """Extract main content text + char spans from an HTML string.

    Returns ``(text, spans)`` where spans are ``(tag, start, end)`` char
    offsets into ``text``, one per kept block, non-overlapping, in document
    order, covering exactly the block texts (separators excluded).
    """
    return _assemble(_scored_blocks(html_text))


def extract_html_reference(html_text: str) -> tuple[str, list[tuple[str, int, int]]]:
    """html.parser-driven twin of extract_html (cross-check oracle)."""
    parser = _BlockParser()
    parser.feed(html_text)
    parser.close()
    return _assemble(parser.blocks)
