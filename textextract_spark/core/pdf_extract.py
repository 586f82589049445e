"""Layout-ordered text extraction from minimal PDF payloads.

pdfminer-style but pure stdlib: pdfminer is not installed in this
environment, so a deterministic content-stream tokenizer stands in
(SURVEY.md §7 hard part (c): PDF text ordering must be stable).

Supported subset: BT/ET text objects; Tj and TJ show-text operators; Td/TD
and T* line moves (a new line is started on every vertical move); literal
strings with the standard escapes (\\ \\( \\) \\n \\r \\t \\b \\f \\ooo) and
hex strings <...>; **FlateDecode content streams** (stdlib zlib) — nearly
every real-world PDF compresses its streams, so this branch is the one
that matters at crawl scale. Streams whose Flate data is corrupt/truncated
are skipped (not an error), matching "extractor must not raise"
(FIXTURES.md §1).

Reference analog: the PDF branch has no direct reference twin — the reference
extracts from screenshots — but the contract is the same byte-exact text
invariant (/root/reference/backend/routes/api_routes.py:78).
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Iterator

# stream dict + data start; the dict may contain one level of nested <<>>
_STREAM_START_RE = re.compile(
    rb"<<(?P<d>(?:[^<>]|<<[^<>]*>>)*?)>>\s*stream(?:\r\n|\n|\r)",
    re.DOTALL)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?![\s\d]*R)")

# Inflated bytes one document may produce across its Flate streams (8 x
# extract.MAX_PAYLOAD_BYTES): a 200 KB payload can inflate to gigabytes.
INFLATE_BUDGET = 64 * 1024 * 1024


class InflateBudgetExceeded(Exception):
    """The document's Flate streams inflate past INFLATE_BUDGET."""


def _inflate(data: bytes, budget: int) -> bytes | None:
    """zlib.decompress with a budget, or None where it would raise."""
    # 1 MiB steps: going over budget is caught holding ~budget bytes (a
    # one-shot inflate holds its whole output twice while assembling it)
    z, parts, size = zlib.decompressobj(), [], 0
    while not z.eof:
        try:
            part = z.decompress(data, 1 << 20)
        except zlib.error:
            return None
        data = z.unconsumed_tail
        if not (part or data or z.eof):  # input ran out before stream end
            return None
        size += len(part)
        if size > budget:
            raise InflateBudgetExceeded
        parts.append(part)
    return b"".join(parts)


def _iter_streams(payload: bytes) -> Iterator[bytes]:
    """Yield decoded content-stream bytes in document order.

    Stream data is sliced by /Length when the dict carries a direct
    length (the reliable path — Flate data may contain any byte
    sequence, including ``endstream``); otherwise it falls back to the
    first ``endstream`` marker. /FlateDecode streams are zlib-inflated;
    undecodable streams are skipped, never raised. Inflating past the
    document's INFLATE_BUDGET raises InflateBudgetExceeded.
    """
    budget = INFLATE_BUDGET
    for m in _STREAM_START_RE.finditer(payload):
        d = m.group("d")
        start = m.end()
        data: bytes | None = None
        ln = _LENGTH_RE.search(d)
        if ln:
            end = start + int(ln.group(1))
            if (end <= len(payload)
                    and payload[end:end + 16].lstrip(b"\r\n ")
                        .startswith(b"endstream")):
                data = payload[start:end]
        if data is None:  # no/indirect /Length, or it didn't line up
            em = payload.find(b"endstream", start)
            if em < 0:
                continue
            data = payload[start:em].rstrip(b"\r\n")
        if b"/FlateDecode" in d:
            data = _inflate(data, budget)
            if data is None:
                continue
            budget -= len(data)
        yield data

_ESCAPES = {
    b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
    b"(": "(", b")": ")", b"\\": "\\",
}


def _decode_literal(raw: bytes) -> str:
    """Decode the inside of a PDF literal string ( ... )."""
    out: list[str] = []
    i, n = 0, len(raw)
    while i < n:
        c = raw[i:i + 1]
        if c == b"\\" and i + 1 < n:
            nxt = raw[i + 1:i + 2]
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
                continue
            if nxt in b"01234567":  # octal \ddd (1-3 OCTAL digits)
                j = i + 1
                while j < min(i + 4, n) and raw[j:j + 1] in b"01234567":
                    j += 1
                out.append(chr(int(raw[i + 1:j], 8) & 0xFF))
                i = j
                continue
            if nxt.isdigit():  # \8 \9: not octal — drop the backslash
                out.append(nxt.decode("latin-1"))
                i += 2
                continue
            if nxt in (b"\n", b"\r"):  # line continuation
                i += 2
                continue
            i += 1  # lone backslash: drop
            continue
        out.append(c.decode("latin-1"))
        i += 1
    return "".join(out)


def _decode_hex(raw: bytes) -> str:
    h = re.sub(rb"\s+", b"", raw)
    if len(h) % 2:
        h += b"0"
    try:
        return bytes.fromhex(h.decode("ascii")).decode("latin-1")
    except ValueError:
        return ""


# Content-stream tokens we care about, in order. Strings are tokens in
# their own right, so a BT or ET inside a string never opens or closes
# a text object, and one left-to-right pass keeps the scan linear.
_TOKEN_RE = re.compile(
    rb"\((?P<lit>(?:\\.|[^\\()])*)\)"      # literal string
    rb"|<(?P<hex>[0-9A-Fa-f\s]*)>"          # hex string
    rb"|\](?P<tjend>\s*TJ)"                 # end of TJ array
    rb"|(?P<op>BT|ET|Tj|TJ|Td|TD|T\*|Tm)",  # operators
)


def _text_objects(stream: bytes) -> Iterator[list[str]]:
    """Yield the text chunks of each closed BT..ET object in order;
    '\\n' marks line breaks. Tokens outside an object, and an object
    never closed by ET, yield nothing."""
    chunks: list[str] | None = None  # None: outside a text object
    for m in _TOKEN_RE.finditer(stream):
        op = m.group("op")
        if chunks is None:
            if op == b"BT":
                chunks = []
                pending: list[str] = []  # strings since last show op
                started = False
        elif op == b"ET":
            yield chunks
            chunks = None
        elif op == b"BT":
            continue
        elif m.group("lit") is not None:
            pending.append(_decode_literal(m.group("lit")))
        elif m.group("hex") is not None:
            pending.append(_decode_hex(m.group("hex")))
        elif m.group("tjend") is not None or op in (b"Tj", b"TJ"):
            if pending:
                chunks.append("".join(pending))
                pending = []
            started = True
        else:  # Td / TD / T* / Tm -> line move
            pending = []  # positioning args are not text
            if started:
                chunks.append("\n")


def extract_pdf(payload: bytes) -> tuple[str, list[tuple[str, int, int]]]:
    """Extract layout-ordered text + line spans from a minimal PDF.

    Returns ``(text, spans)`` with one ``("line", start, end)`` span per
    output line. Unsupported PDFs return ``("", [])``.
    """
    lines: list[str] = []
    cur: list[str] = []
    for stream in _iter_streams(payload):
        for obj in _text_objects(stream):
            for chunk in obj:
                if chunk == "\n":
                    if cur:
                        lines.append("".join(cur))
                        cur = []
                else:
                    cur.append(chunk)
            if cur:
                lines.append("".join(cur))
                cur = []
    lines = [ln.rstrip() for ln in lines if ln.strip()]
    text = "\n".join(lines)
    spans: list[tuple[str, int, int]] = []
    pos = 0
    for ln in lines:
        if pos:
            pos += 1  # the joining "\n"
        spans.append(("line", pos, pos + len(ln)))
        pos += len(ln)
    return text, spans
