"""Deterministic synthetic Common-Crawl-style `pages` corpus generator.

Schema fixed by BASELINE.json input_hint / FIXTURES.md §1:
    url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING

Properties (FIXTURES.md §1):
  * host ids Zipf-like so a few hosts are hot (exercises salting)
  * ~1-3% duplicate urls with strictly increasing warc_ts (dedup-latest)
  * payload mix ~80% HTML / ~10% PDF (~2/3 FlateDecode-compressed,
    matching real crawls) / ~8% plain / ~2% malformed bytes
  * HTML has boilerplate nav/footer, script/style, entities, utf-8 + latin-1
  * fully seeded — same (seed, n) => byte-identical corpus on any machine

No external data; everything is synthesized (graft brief requirement).
"""

from __future__ import annotations

import bisect
import datetime as dt
import random
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "analytics spark arrow parquet shuffle partition executor catalyst "
    "tungsten broadcast salting lineage snapshot checkpoint density anchor "
    "boilerplate content extraction corpus crawl document heuristic token "
    "stream batch vector column pushdown pruning codegen window latency "
    "throughput cluster scale replica manifest commit merge append schema"
).split()

_DE_WORDS = ("daten seite inhalt text absatz beispiel nachricht artikel "
             "verarbeitung geschwindigkeit").split()
_BN_WORDS = ("তথ্য পাতা লেখা অনুচ্ছেদ উদাহরণ সংবাদ নিবন্ধ বিশ্লেষণ").split()

# Han char pool for the unsegmented-script (zh) corpus slice: CJK text has
# no word separators, which is exactly what the char-n-gram dedup fallback
# exists for (spark_text.spaceless).
_ZH_CHARS = "数据分析处理内容文本网页提取系统信息结构语言模型计算集群速度吞吐量爬虫存储索引查询"

_LANGS = ("en", "en", "en", "en", "en", "en", "de", "de", "bn", "fr")

EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)


def _sentence(rng: random.Random, lang: str, nw: int) -> str:
    pool = _WORDS if lang in ("en", "fr") else (_DE_WORDS if lang == "de" else _BN_WORDS)
    words = [rng.choice(pool) for _ in range(nw)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(rng: random.Random, lang: str) -> str:
    return " ".join(_sentence(rng, lang, rng.randint(6, 16))
                    for _ in range(rng.randint(2, 6)))


def make_cjk_text(rng: random.Random, n_chars: int = 120) -> str:
    """Unsegmented (space-free) Han text with sentence punctuation — the
    whitespace density is ~0, so spark_text.spaceless flags it and the
    char-n-gram dedup path applies."""
    out = []
    while len(out) < n_chars:
        out.extend(rng.choice(_ZH_CHARS)
                   for _ in range(rng.randint(8, 20)))
        out.append("。")
    return "".join(out[:n_chars])


def _nav_links(rng: random.Random, n: int) -> str:
    return " ".join(
        f'<a href="/{rng.choice(_WORDS)}/{i}">{rng.choice(_WORDS)} {rng.choice(_WORDS)}</a>'
        for i in range(n)
    )


def make_html(rng: random.Random, lang: str) -> bytes:
    """One synthetic page: content paragraphs + boilerplate chrome at
    realistic web-page size (~10-40KB — real crawl pages are KBs of
    markup, not hundreds of bytes; extractor cost must dominate I/O in
    benchmarks the way it does at 100 TB)."""
    title = _sentence(rng, lang, 4)
    heading = _sentence(rng, "en", rng.randint(2, 5))
    entity_para = (f"<p>Caf&eacute; results &amp; more &mdash; "
                   f"{_paragraph(rng, lang)}</p>")
    sections = []
    for _ in range(rng.randint(5, 14)):
        sec_head = _sentence(rng, "en", rng.randint(2, 4))
        paras = "\n".join(f"<p>{_paragraph(rng, lang)}</p>"
                          for _ in range(rng.randint(4, 12)))
        sections.append(
            f'<section><h2>{sec_head}</h2>\n{paras}\n'
            f'<ul>{"".join(f"<li>{_sentence(rng, lang, rng.randint(3, 8))}</li>" for _ in range(rng.randint(2, 8)))}</ul>'
            f"</section>")
    comments = "\n".join(
        f'<div class="comment"><span class="who">user{rng.randint(1, 999)}'
        f"</span><p>{_paragraph(rng, lang)}</p></div>"
        for _ in range(rng.randint(0, 12)))
    charset = "utf-8" if lang != "fr" or rng.random() < 0.5 else "iso-8859-1"
    doc = f"""<!DOCTYPE html>
<html><head><meta charset="{charset}"><title>{title}</title>
<style>body {{ margin:0; color:#333 }} .nav a {{ padding: 2px 4px }}</style>
<script>var tracker = "{rng.randint(0, 10 ** 6)}"; load();
function init() {{ var xs = [{",".join(str(rng.randint(0, 99)) for _ in range(40))}]; render(xs); }}
</script>
</head>
<body>
<header><nav>{_nav_links(rng, rng.randint(8, 24))}</nav></header>
<div class="content"><article>
<h1>{heading}</h1>
{entity_para}
{chr(10).join(sections)}
</article></div>
<div class="comments">{comments}</div>
<aside>{_nav_links(rng, rng.randint(6, 16))}</aside>
<footer><nav>{_nav_links(rng, rng.randint(4, 10))}</nav>
<p>&copy; 2025 host — <a href="/tos">terms</a> <a href="/priv">privacy</a></p></footer>
</body></html>"""
    enc = "latin-1" if charset == "iso-8859-1" else "utf-8"
    return doc.encode(enc, errors="replace")


def make_pdf(rng: random.Random, compress: bool = False) -> bytes:
    """Minimal valid PDF 1.4 with random sentence lines (corpus path)."""
    lines = [_sentence(rng, "en", rng.randint(4, 10))
             for _ in range(rng.randint(3, 10))]
    return build_pdf(lines, compress=compress)


def build_pdf(lines: list[str], compress: bool = False) -> bytes:
    """Minimal valid PDF 1.4 with exactly the given text lines, one Tj per
    line. ``compress=True`` emits the content stream FlateDecode-compressed
    (stdlib zlib) — the shape of nearly every real-world PDF. Deterministic
    in ``lines``: used by both the corpus generator and the driver's
    oracle-checked mixed-format query (__spark_entry__)."""
    parts = ["BT /F1 12 Tf 72 720 Td"]
    for i, ln in enumerate(lines):
        esc = ln.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
        if i:
            parts.append("0 -14 Td")
        parts.append(f"({esc}) Tj")
    parts.append("ET")
    content = " ".join(parts).encode("latin-1")
    if compress:
        content = zlib.compress(content, 6)
        stream_obj = (b"<< /Length %d /Filter /FlateDecode >>"
                      b"\nstream\n%s\nendstream" % (len(content), content))
    else:
        stream_obj = (b"<< /Length %d >>\nstream\n%s\nendstream"
                      % (len(content), content))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
         b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"),
        stream_obj,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, xref_at))
    return bytes(out)


def make_plain(rng: random.Random, lang: str) -> bytes:
    body = "\n\n".join(_paragraph(rng, lang) for _ in range(rng.randint(1, 4)))
    return ("  " + body + "  \n").encode("utf-8")


def make_malformed(rng: random.Random) -> bytes:
    kind = rng.randint(0, 3)
    if kind == 0:  # random bytes
        return bytes(rng.randrange(256) for _ in range(rng.randint(1, 400)))
    if kind == 1:  # truncated html
        return make_html(rng, "en")[: rng.randint(5, 120)]
    if kind == 2:  # truncated pdf (half of them compressed)
        return make_pdf(rng, compress=rng.random() < 0.5)[: rng.randint(6, 100)]
    return b"\x00\xff\xfe" + bytes(rng.randrange(256) for _ in range(50))


_HOST_CDF: dict[int, list[float]] = {}


def _host(rng: random.Random, n_hosts: int) -> int:
    """Zipf-ish host pick: host 0 gets ~p(1), heavy head.

    Inverse-CDF of 1/k over [1, n_hosts]; the cumulative table is built
    once per n_hosts (the per-row rebuild made corpus generation
    O(n * n_hosts)) — bisect gives the identical index the old linear
    scan returned."""
    cdf = _HOST_CDF.get(n_hosts)
    if cdf is None:
        harmonic = sum(1.0 / k for k in range(1, n_hosts + 1))
        acc = 0.0
        cdf = []
        for k in range(1, n_hosts + 1):
            acc += (1.0 / k) / harmonic
            cdf.append(acc)
        _HOST_CDF[n_hosts] = cdf
    return min(bisect.bisect_left(cdf, rng.random()), n_hosts - 1)


def generate_pages(n: int, seed: int = 42,
                   cjk_frac: float = 0.0) -> list[dict]:
    """Return n+duplicates page rows, deterministic in (n, seed).

    ``cjk_frac`` > 0 makes that fraction of rows unsegmented Han-script
    plain-text pages (lang 'zh', no word separators) — the corpus slice
    the char-n-gram dedup fallback needs. Default 0 draws NOTHING extra
    from the rng, so existing (seed, n) corpora stay byte-identical."""
    rng = random.Random(seed)
    n_hosts = max(8, n // 40)
    rows: list[dict] = []
    for i in range(n):
        if cjk_frac and rng.random() < cjk_frac:
            h = _host(rng, n_hosts)
            text = make_cjk_text(rng, rng.randint(80, 240))
            rows.append({
                "url": f"https://host{h}.example/p/{i}",
                "warc_ts": EPOCH + dt.timedelta(seconds=i * 17),
                "html": text.encode("utf-8"),
                "text": text, "lang": "zh"})
            continue
        lang = rng.choice(_LANGS)
        h = _host(rng, n_hosts)
        url = f"https://host{h}.example/p/{i}"
        ts = EPOCH + dt.timedelta(seconds=i * 17 + rng.randint(0, 13))
        roll = rng.random()
        if roll < 0.80:
            payload = make_html(rng, lang)
        elif roll < 0.90:
            # ~2/3 compressed: real-world PDFs are FlateDecode
            payload = make_pdf(rng, compress=rng.random() < 0.67)
        elif roll < 0.98:
            payload = make_plain(rng, lang)
        else:
            payload = make_malformed(rng)
        raw_text = _paragraph(rng, lang) if rng.random() < 0.5 else ""
        rows.append({"url": url, "warc_ts": ts, "html": payload,
                     "text": raw_text, "lang": lang})
        # ~2% of urls get a superseding later crawl (dedup-latest fodder)
        if rng.random() < 0.02:
            ts2 = ts + dt.timedelta(hours=rng.randint(1, 72))
            rows.append({"url": url, "warc_ts": ts2,
                         "html": make_html(rng, lang),
                         "text": raw_text, "lang": lang})
    return rows


PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def write_pages_parquet(path: str, n: int, seed: int = 42) -> int:
    """Write the corpus as a single parquet file; returns row count."""
    rows = generate_pages(n, seed)
    # strip tz for parquet timestamp[us] (naive UTC, matching testdata style)
    arrays = {
        "url": [r["url"] for r in rows],
        "warc_ts": [r["warc_ts"].replace(tzinfo=None) for r in rows],
        "html": [r["html"] for r in rows],
        "text": [r["text"] for r in rows],
        "lang": [r["lang"] for r in rows],
    }
    table = pa.table(arrays, schema=PAGES_SCHEMA)
    # small row groups keep the scan splittable — a single giant row group
    # would serialize the read stage (and no real crawl ships one file)
    pq.write_table(table, path, row_group_size=1024)
    return len(rows)


def golden_rows(rows: list[dict]) -> dict[str, dict]:
    """Golden output per url: max (warc_ts, md5(html)) wins, then pure
    extraction. The md5 hex digest is the deterministic tie-break for two
    crawls sharing a timestamp — the identical key the Spark pipeline's
    winner aggregation uses (pipeline.extract_pages), so golden and
    pipeline agree on ties byte-for-byte.

    Returns {url: {"text":…, "spans":[(tag,start,end)…], "status":…,
    "fmt":…}} — the byte-identity oracle (FIXTURES.md §2).
    """
    import hashlib

    from .core import extract_document

    def key(r: dict) -> tuple:
        # null timestamps sort first (mirrors Spark struct ordering)
        ts = r["warc_ts"] or dt.datetime.min
        return (ts, hashlib.md5(r["html"] or b"").hexdigest())

    latest: dict[str, dict] = {}
    for r in rows:
        cur = latest.get(r["url"])
        if cur is None or key(r) > key(cur):
            latest[r["url"]] = r
    from .core.extract import MAX_PAYLOAD_BYTES
    out: dict[str, dict] = {}
    for url, r in latest.items():
        if r["html"] is not None and len(r["html"]) > MAX_PAYLOAD_BYTES:
            # mirrors the pipeline's oversize gate (never crosses Arrow)
            from .core.extract import sniff_format
            out[url] = {"text": "", "spans": [],
                        "status": "skipped:too_large",
                        "fmt": sniff_format(bytes(r["html"]))}
            continue
        res = extract_document(r["html"], r["lang"])
        out[url] = {"text": res.text, "spans": res.spans,
                    "status": res.status, "fmt": res.fmt}
    return out
