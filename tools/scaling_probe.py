"""Single-size scaling probe: run the extraction job confined to N CPUs.

Invoked by tools/bench_scaling.py via `taskset -c 0-(N-1)` so BOTH the JVM
and the Python workers are truly limited to N cores — local[N] alone only
caps concurrent tasks, not total CPU, which silently inflates the
small-cluster baseline. Prints one JSON line with best-of-R timing.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    cores = int(sys.argv[1])
    corpus = sys.argv[2]
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from pyspark.sql import functions as F

    from textextract_spark.pipeline import extract_pages
    from textextract_spark.session import get_spark
    from tools.bench_scaling import _warm_python_workers

    spark = get_spark(app_name=f"probe-{cores}", cores=cores)
    spark.range(1).count()
    _warm_python_workers(spark, 64)
    # NO .cache(): feeding an exchange from InMemoryColumnar is ~4x
    # slower than re-scanning parquet (measured) — production reads
    # parquet/Iceberg, so should the probe. count() warms the OS page
    # cache outside the timed window.
    pages = spark.read.parquet(corpus)
    n_rows = pages.count()

    ext = extract_pages(pages, num_parts=64, n_salts=8)
    # one untimed run first: a fresh JVM interprets the Arrow/parquet/
    # shuffle paths until C2-compiled (measured 5-10x first-run cost);
    # the target metric is steady-state throughput of an hours-long job
    ext.write.mode("overwrite").format("noop").save()
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        ext.write.mode("overwrite").format("noop").save()
        times.append(time.perf_counter() - t0)
    digest = (ext.select(
        F.crc32(F.concat_ws("\x01", "url", "text", "status")).alias("h"))
        .agg(F.sum("h").alias("d"), F.count("*").alias("n")).collect()[0])
    spark.stop()
    best = min(times)
    print(json.dumps({
        "cores": cores, "rows_in": n_rows, "docs": digest.n,
        "times": [round(t, 2) for t in times], "best_sec": round(best, 2),
        "docs_per_sec": round(digest.n / best, 1), "digest": digest.d,
    }))


if __name__ == "__main__":
    main()
