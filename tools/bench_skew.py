"""Skew-stress evidence for SCALE.md's salting claim: measure per-task /
per-part_key extraction compute balance on an adversarial corpus — one hot
host carrying ~20% of documents, plus a handful of near-MAX_PAYLOAD giant
documents — and write the numbers to BENCH/SKEW.md.

Usage: python tools/bench_skew.py [n_docs] [num_parts] [n_salts]
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


def build_corpus(n: int, giants: int, over_cap: int, path: str) -> dict:
    import random

    from textextract_spark.core.extract import MAX_PAYLOAD_BYTES
    from textextract_spark.datagen import (
        PAGES_SCHEMA, generate_pages, make_html)

    rows = generate_pages(n, seed=5)
    hot = 0
    for i, r in enumerate(rows):  # ~20% of docs on ONE host
        if i % 5 == 0:
            r["url"] = f"https://hot.example/p/{i}"
            hot += 1
    rng = random.Random(17)
    ts = dt.datetime(2025, 6, 1)
    # near-cap giants: one page body repeated to ~6 MB (inside the cap, so
    # they DO hit the extractor — the per-document tail cost)
    for g in range(giants):
        page = make_html(rng, "en")
        body = page[: len(page) // 2]
        payload = body * (6 * 1024 * 1024 // len(body))
        rows.append({"url": f"https://giant.example/p/{g}", "warc_ts": ts,
                     "html": payload, "text": "", "lang": "en"})
    # over-cap documents: must be gated before the Arrow boundary
    for g in range(over_cap):
        rows.append({"url": f"https://toolarge.example/p/{g}",
                     "warc_ts": ts,
                     "html": b"<html>" + b"x" * (MAX_PAYLOAD_BYTES + 1024),
                     "text": "", "lang": "en"})
    tbl = pa.table({
        "url": [r["url"] for r in rows],
        "warc_ts": [r["warc_ts"].replace(tzinfo=None) for r in rows],
        "html": [r["html"] for r in rows],
        "text": [r["text"] for r in rows],
        "lang": [r["lang"] for r in rows],
    }, schema=PAGES_SCHEMA)
    pq.write_table(tbl, path, row_group_size=1024)
    return {"docs": len(rows), "hot_docs": hot, "giants": giants,
            "over_cap": over_cap}


def measure(spark, path: str, num_parts: int, n_salts: int,
            include_giants: bool) -> dict:
    from pyspark.sql import functions as F

    from textextract_spark.pipeline import extract_pages

    pages = spark.read.parquet(path)
    if not include_giants:
        pages = pages.filter(~F.col("url").startswith("https://giant."))
    ext = extract_pages(pages, num_parts=num_parts, n_salts=n_salts)
    rows = (ext.select(F.spark_partition_id().alias("pid"), "part_key",
                       "status", F.col("meta.ms").alias("ms"))
            .groupBy("pid", "part_key", "status")
            .agg(F.sum("ms").alias("ms"), F.count("*").alias("docs"))
            .collect())
    skipped = sum(r.docs for r in rows if r.status == "skipped:too_large")
    by_task: dict = {}
    by_pk_ms: dict = {}
    by_pk_docs: dict = {}
    doc_ms_max = 0.0
    for r in rows:
        by_task[r.pid] = by_task.get(r.pid, 0.0) + r.ms
        by_pk_ms[r.part_key] = by_pk_ms.get(r.part_key, 0.0) + r.ms
        by_pk_docs[r.part_key] = by_pk_docs.get(r.part_key, 0) + r.docs

    def ratio(vals):
        # statistics.median throughout so the printed max/median pairs
        # and the ratio are mutually consistent
        med = statistics.median(vals)
        return round(max(vals) / med, 2) if med else float("inf")

    task_times = sorted(by_task.values())
    return {
        "tasks": len(by_task),
        "task_ms_median": round(statistics.median(task_times), 1),
        "task_ms_max": round(task_times[-1], 1),
        "task_ratio": ratio(task_times),
        "pk_ms_ratio": ratio(by_pk_ms.values()),
        "pk_docs_ratio": ratio(by_pk_docs.values()),
        "skipped_too_large": skipped,
    }


def main() -> None:
    from textextract_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 6000
    num_parts = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    n_salts = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    d = tempfile.mkdtemp(prefix="skewbench-")
    path = os.path.join(d, "pages.parquet")
    meta = build_corpus(n, giants=4, over_cap=2, path=path)

    spark = get_spark(app_name="skew-bench", cores=8,
                      shuffle_partitions=num_parts)
    # warm the JVM + python workers before measuring (see SCALE.md)
    measure(spark, path, num_parts, n_salts, include_giants=False)
    base = measure(spark, path, num_parts, n_salts, include_giants=False)
    with_g = measure(spark, path, num_parts, n_salts, include_giants=True)
    spark.stop()

    giant_tail_ms = round(with_g["task_ms_max"] - base["task_ms_median"], 1)
    combos = num_parts * n_salts
    out = f"""# BENCH/SKEW — task balance under adversarial skew

Corpus: {meta['docs']} docs, ONE hot host carrying {meta['hot_docs']}
({100 * meta['hot_docs'] // meta['docs']}%) of them, {meta['giants']}
near-cap ~6MB giant documents, {meta['over_cap']} over-cap (>8MB)
documents. Pipeline: extract_pages(num_parts={num_parts},
n_salts={n_salts}) on local[8]: the payload exchange runs
min(num_parts, defaultParallelism) = {base['tasks']} tasks, one per slot.
Compute time = sum of per-document extractor ms per task (excludes
scan/shuffle I/O, which the giant payloads dominate far less than parse
cost).

| metric | hot host only | + giants |
|---|---|---|
| tasks | {base['tasks']} | {with_g['tasks']} |
| median task compute (ms) | {base['task_ms_median']} | {with_g['task_ms_median']} |
| max task compute (ms) | {base['task_ms_max']} | {with_g['task_ms_max']} |
| max/median task ratio | {base['task_ratio']} | {with_g['task_ratio']} |
| max/median part_key compute ratio | {base['pk_ms_ratio']} | {with_g['pk_ms_ratio']} |
| max/median part_key doc-count ratio | {base['pk_docs_ratio']} | {with_g['pk_docs_ratio']} |
| over-cap docs gated (never reached Arrow) | {base['skipped_too_large']} | {with_g['skipped_too_large']} |

Reading: the hot host does NOT skew the partitioning — part_key (the
checkpoint/commit unit) stays balanced because both part_key and salt
hash the URL, not the host, so host heat spreads uniformly. The residual
per-task spread is hash-clumping of the {combos} (part_key, salt) combos
into tasks; each task averages {combos // base['tasks']} of them, so the
clumping evens out within a task. Giant documents add a bounded
per-DOCUMENT tail (~{giant_tail_ms} ms over the median task here): no
partitioning can split one document, so the mitigations are
the MAX_PAYLOAD_BYTES oversize gate (over-cap docs above never enter the
shuffle or the Arrow boundary) and, at cluster scale, speculative
execution. Regression-tested bounds: tests/test_pipeline.py::
test_salted_partitioning_bounds_task_skew.

Generated by tools/bench_skew.py.
"""
    os.makedirs(os.path.join(ROOT, "BENCH"), exist_ok=True)
    with open(os.path.join(ROOT, "BENCH", "SKEW.md"), "w") as f:
        f.write(out)
    print(out)


if __name__ == "__main__":
    main()
