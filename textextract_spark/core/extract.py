"""Format dispatch + total (never-raising) extraction of one document.

This is the pure-Python twin of the Spark pipeline's mapInPandas UDF and the
producer of the golden corpus (SURVEY.md §5.1). The Spark side mirrors the
same format gate as DataFrame predicates *before* UDF dispatch
(BASELINE.json north_rule; SURVEY.md §2.2 P7).

Reference analog of the dispatch + error containment: per-request try/except
returning an error string instead of raising
(/root/reference/src/ocr.py:207-278, /root/reference/src/utils/api_utils.py:27-99).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .charset import decode_payload
from .html_extract import extract_html
from .pdf_extract import InflateBudgetExceeded, extract_pdf

FMT_HTML = "html"
FMT_PDF = "pdf"
FMT_TEXT = "text"

# Markers used for the html-vs-text sniff; mirrored in the Spark predicate
# (textextract_spark.pipeline.with_format). Checked on the lowercased first
# 512 bytes decoded latin-1 (never fails).
HTML_MARKERS = ("<html", "<!doctype", "<head", "<body", "<div", "<p>", "<p ",
                "<h1", "<article", "<section", "<table", "<span")
SNIFF_BYTES = 512

# Plan-level payload cap (pipeline + golden oracle): documents above this
# are status 'skipped:too_large' and never cross the Arrow boundary — one
# row cannot be split by arrow.maxBytesPerBatch, so a multi-GB crawl
# artifact would otherwise become a single worker-killing batch.
MAX_PAYLOAD_BYTES = 8 * 1024 * 1024

_WS_LINES_RE = re.compile(r"[ \t]+(?=\n)|[ \t]+$")


@dataclass
class ExtractResult:
    text: str = ""
    spans: list[tuple[str, int, int]] = field(default_factory=list)
    status: str = "ok"
    fmt: str = FMT_TEXT


def sniff_format(payload: bytes) -> str:
    """Classify payload bytes as pdf / html / text.

    Must stay in lockstep with the Spark-side predicate in
    ``textextract_spark.pipeline.with_format`` — both are tested for
    agreement (tests/test_pipeline.py).
    """
    if payload[:5] == b"%PDF-":
        return FMT_PDF
    head = payload[:SNIFF_BYTES].decode("latin-1").lower()
    for marker in HTML_MARKERS:
        if marker in head:
            return FMT_HTML
    return FMT_TEXT


def extract_plain(payload: bytes) -> tuple[str, list[tuple[str, int, int]]]:
    """Plain-text branch: charset decode + strip (the reference's only
    post-processing is ``.strip()`` — api_routes.py:109)."""
    text = decode_payload(payload).strip()
    text = _WS_LINES_RE.sub("", text)
    if not text:
        return "", []
    return text, [("text", 0, len(text))]


def extract_document(payload: bytes | None, lang: str | None = None,
                     fmt: str | None = None) -> ExtractResult:
    """Total extraction of a single document. NEVER raises.

    ``lang`` is accepted for parity with the reference's threaded-through
    ``language`` parameter (src/ocr.py:201) — like the reference, the
    current branches do not vary behavior on it. ``fmt`` lets the Spark
    pipeline's plan-level format gate (pipeline.with_format) drive the
    dispatch directly; when omitted (pure-Python/golden path) the same
    sniff runs here — the two are lockstep-tested
    (tests/test_pipeline.py).
    """
    if payload is None or len(payload) == 0:
        return ExtractResult(status="empty")
    fmt_known = fmt or FMT_TEXT  # keep the gated format on error paths
    try:
        fmt = fmt or sniff_format(bytes(payload))
        fmt_known = fmt
        if fmt == FMT_PDF:
            text, spans = extract_pdf(bytes(payload))
        elif fmt == FMT_HTML:
            text, spans = extract_html(decode_payload(bytes(payload)))
        else:
            text, spans = extract_plain(bytes(payload))
        status = "ok" if text else "empty"
        return ExtractResult(text=text, spans=spans, status=status, fmt=fmt)
    except InflateBudgetExceeded:  # a decompression bomb, not an error
        return ExtractResult(status="skipped:inflate_budget", fmt=FMT_PDF)
    except Exception as exc:  # total function: per-doc failure -> status col
        return ExtractResult(status=f"error:{type(exc).__name__}",
                             fmt=fmt_known)
