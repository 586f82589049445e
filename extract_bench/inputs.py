"""Seeded benchmark inputs, their golden digests and an on-disk cache.

Every workload's inputs are a pure function of (workload, size, seed):
the same triple gives byte-identical files on any machine. Generation
and golden extraction run in plain Python (no Spark) and are cached
under ``.bench_cache/extract_bench/<workload>-<size>-s<seed>/`` in the
checkout, so a repeated seed pays neither again. Their cost is reported
next to the run, never inside ``setup_s``.

Golden output is stored as one digest per url over (text, spans,
status, fmt) -- the identity the pipeline promises (meta.ms is timing
and excluded).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from textextract_spark import datagen
from textextract_spark.io.warc import build_warc, warc_records

WARC_FILES = 8
EVAL_DOCS = 12


def row_digest(text: str, spans, status: str, fmt: str) -> str:
    """Digest of one extracted row's identity columns."""
    spans = [[str(t), int(s), int(e)] for (t, s, e) in (spans or [])]
    blob = json.dumps([text or "", spans, status, fmt], ensure_ascii=False)
    return hashlib.sha1(blob.encode("utf-8")).hexdigest()


def corpus_digest(digests: dict[str, str]) -> str:
    """Order-free digest of a {url: row digest} map."""
    h = hashlib.sha256()
    for url in sorted(digests):
        h.update(f"{url}\t{digests[url]}\n".encode("utf-8"))
    return h.hexdigest()


def _write_pages(path: str, rows: list[dict]) -> None:
    """Same layout as datagen.write_pages_parquet, from rows in hand."""
    table = pa.table({
        "url": [r["url"] for r in rows],
        "warc_ts": [r["warc_ts"].replace(tzinfo=None) for r in rows],
        "html": [r["html"] for r in rows],
        "text": [r["text"] for r in rows],
        "lang": [r["lang"] for r in rows],
    }, schema=datagen.PAGES_SCHEMA)
    pq.write_table(table, path, row_group_size=1024)


# -- workload corpora -------------------------------------------------------

def curate_rows(n: int, seed: int) -> list[dict]:
    """Default page mix plus mirrored copies: ~4% exact and ~8% near
    duplicates (one extra paragraph) of HTML pages under new urls, so
    the exact-dup, LSH and connected-components stages all decide
    something. These shares are an assumption, not a measured web-crawl
    duplication rate."""
    rows = datagen.generate_pages(n, seed)
    rng = random.Random(seed + 1)
    html_rows = [r for r in rows if r["html"][:9] == b"<!DOCTYPE"]
    for j in range(n // 8):
        src = rng.choice(html_rows)
        payload = src["html"]
        if j % 3:
            extra = datagen._paragraph(rng, "en").encode()
            payload = payload.replace(b"</article>",
                                      b"<p>" + extra + b"</p></article>", 1)
        rows.append({"url": f"https://mirror{j % 7}.example/m/{j}",
                     "warc_ts": src["warc_ts"], "html": payload,
                     "text": "", "lang": src["lang"]})
    return rows


# -- cache ------------------------------------------------------------------

class Inputs:
    """Paths and facts of one cached (workload, size, seed) input set."""

    def __init__(self, path: str, meta: dict, golden: dict[str, str]):
        self.path = path
        self.meta = meta
        self.golden = golden

    @property
    def source(self) -> str:
        """The ``pages_path`` handed to run_pipeline."""
        if self.meta["format"] == "warc":
            return os.path.join(self.path, "warc", "crawl-*.warc.gz")
        return os.path.join(self.path, "pages.parquet")

    @property
    def eval_path(self) -> str | None:
        p = os.path.join(self.path, "eval.parquet")
        return p if os.path.exists(p) else None

    def source_files(self) -> list[str]:
        if self.meta["format"] == "warc":
            d = os.path.join(self.path, "warc")
            return [os.path.join(d, f) for f in sorted(os.listdir(d))]
        return [os.path.join(self.path, "pages.parquet")]

    def rows(self) -> list[dict]:
        """Reload the raw input rows (parquet only; WARC callers parse)."""
        t = pq.read_table(os.path.join(self.path, "pages.parquet"))
        return t.to_pylist()


def _build(workload: str, size: int, seed: int, tmp: str) -> dict:
    t0 = time.perf_counter()
    if workload == "curate_rerun":
        # the committed table is seeded from crawl archives, so set-up
        # also exercises the WARC reader
        rows = curate_rows(size, seed)
        os.makedirs(os.path.join(tmp, "warc"))
        recs = warc_records(rows)
        step = -(-len(recs) // WARC_FILES)
        for k in range(WARC_FILES):
            blob = build_warc(recs[k * step:(k + 1) * step], compress=True)
            with open(os.path.join(tmp, "warc",
                                   f"crawl-{k:02d}.warc.gz"), "wb") as f:
                f.write(blob)
        fmt = "warc"
    else:
        rows = datagen.generate_pages(size, seed)
        _write_pages(os.path.join(tmp, "pages.parquet"), rows)
        fmt = "parquet"
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    gold = datagen.golden_rows(rows)
    golden = {url: row_digest(g["text"], g["spans"], g["status"], g["fmt"])
              for url, g in gold.items()}
    golden_s = time.perf_counter() - t0
    if workload == "curate_rerun":
        # eval set: whole texts of a seeded slice of extracted HTML pages,
        # so decontamination has something to flag
        ok_urls = sorted(u for u, g in gold.items()
                         if g["status"] == "ok" and g["fmt"] == "html")
        picked = random.Random(seed + 2).sample(
            ok_urls, min(EVAL_DOCS, len(ok_urls)))
        texts = [gold[u]["text"] for u in picked]
        pq.write_table(pa.table({"text": texts}),
                       os.path.join(tmp, "eval.parquet"))
    with open(os.path.join(tmp, "golden.json"), "w") as f:
        json.dump(golden, f)
    files = [os.path.join(dp, fn) for dp, _, fns in os.walk(tmp)
             for fn in fns if not fn.endswith(".json")]
    return {"format": fmt, "records": len(rows), "urls": len(golden),
            "gen_s": gen_s, "golden_s": golden_s,
            "input_bytes": sum(os.path.getsize(p) for p in files
                               if "eval" not in p)}


def prepare(cache_root: str, workload: str, size: int, seed: int) -> Inputs:
    """Return the cached inputs, building them first on a miss."""
    path = os.path.join(cache_root, f"{workload}-{size}-s{seed}")
    meta_path = os.path.join(path, "meta.json")
    hit = os.path.exists(meta_path)
    if not hit:
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = _build(workload, size, seed, tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["cache_hit"] = hit
    with open(os.path.join(path, "golden.json")) as f:
        golden = json.load(f)
    return Inputs(path, meta, golden)
