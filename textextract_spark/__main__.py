"""Job entrypoint: ``python -m textextract_spark`` (spark-submit analog).

On a real cluster this module is the ``spark-submit --py-files app.zip``
driver script (BASELINE.json north_rule deploy mode; reference analog:
staged install at /root/reference/src/updater.py:210-470 → M4).

    python -m textextract_spark --pages pages.parquet --out outdir \
        [--num-parts 64] [--chunks 4] [--cores 8] [--run-id r1]

Prints a one-line JSON summary (docs, failures, elapsed seconds).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser(prog="textextract_spark")
    ap.add_argument("--pages", default=None,
                    help="input path: pages parquet (url, warc_ts, html, "
                         "text, lang) or WARC file(s)/glob with "
                         "--format warc (not needed for --maintenance)")
    ap.add_argument("--maintenance", choices=("compact",), default=None,
                    help="run table maintenance on --out instead of an "
                         "ingest: 'compact' rewrites each table's "
                         "accumulated chunk snapshots into one "
                         "(rewrite_data_files analog; checkpoint- and "
                         "time-travel-preserving)")
    ap.add_argument("--out", required=True, help="output table directory")
    ap.add_argument("--format", default="parquet",
                    choices=("parquet", "warc"), dest="input_format",
                    help="input format; warc reads gzip-member crawl "
                         "archives and uses their payload digests")
    ap.add_argument("--digest-col", default=None,
                    help="precomputed payload-digest column in a parquet "
                         "input (winner aggregation skips payload hashing)")
    ap.add_argument("--curate", action="store_true",
                    help="after extraction, commit a `curated` table of "
                         "per-url decisions through the FULL journey: "
                         "quality gate, exact + near dedup, benchmark "
                         "decontamination (with --eval-path), perplexity "
                         "bucket, train/val/test split")
    ap.add_argument("--eval-path", default=None,
                    help="parquet of benchmark eval docs (text column) "
                         "for the decontamination stage of --curate")
    ap.add_argument("--num-parts", type=int, default=64,
                    help="url-hash commit/lineage buckets (resume "
                         "unit); the payload exchange runs "
                         "min(num_parts, default parallelism) tasks")
    ap.add_argument("--n-salts", type=int, default=8)
    ap.add_argument("--chunks", type=int, default=4)
    ap.add_argument("--cores", default=None,
                    help="local[N] threads; ignored under spark-submit, "
                         "whose --master stands")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from .pipeline import run_pipeline
    from .session import get_spark

    run_id = args.run_id or f"run-{int(time.time())}"
    spark = get_spark(app_name=f"textextract-{run_id}", cores=args.cores)

    if args.maintenance == "compact":
        import os

        from .io.table import ManifestTable

        # fail loudly on a typo'd --out BEFORE ManifestTable mkdir's
        # empty table dirs there — a "successful" no-op compact of a
        # wrong path would leave the real table fragmented AND litter
        # junk directories
        missing = [n for n in ("extracted", "metrics")
                   if not os.path.isdir(os.path.join(args.out, n))]
        if missing:
            ap.error(f"--out {args.out} has no "
                     f"{'/'.join(missing)} table(s) — not a pipeline "
                     "output directory")
        report: dict[str, dict] = {}
        for name in ("extracted", "metrics"):
            tbl = ManifestTable(os.path.join(args.out, name))
            before = len(tbl.snapshots())
            sid = tbl.compact(spark, run_id=run_id)
            report[name] = {"snapshots_before": before,
                            "compacted": sid is not None}
        print(json.dumps({"run_id": run_id, "mode": "compact", **report}))
        spark.stop()
        return

    if not args.pages:
        ap.error("--pages is required unless --maintenance is given")
    t0 = time.perf_counter()
    res = run_pipeline(spark, args.pages, args.out,
                       num_parts=args.num_parts, n_salts=args.n_salts,
                       chunks=args.chunks, run_id=run_id,
                       input_format=args.input_format,
                       eval_path=args.eval_path,
                       digest_col=args.digest_col, curate=args.curate)
    metrics = res["metrics"].read(spark)
    summary = metrics.agg(
        F.coalesce(F.sum("doc_count"), F.lit(0)).alias("docs"),
        F.coalesce(F.sum("failure_count"), F.lit(0)).alias("failures"),
        F.coalesce(F.sum("byte_count"), F.lit(0)).alias("bytes"),
    ).collect()[0]
    elapsed = time.perf_counter() - t0
    payload = {
        "run_id": run_id,
        "docs": summary.docs,
        "failures": summary.failures,
        "input_bytes": summary.bytes,
        "committed_part_keys": len(res["committed_part_keys"]),
        "elapsed_sec": round(elapsed, 2),
        "docs_per_sec": round((summary.docs or 0) / elapsed, 1),
    }
    if args.curate:
        cur = res["curated"].read(spark)
        decisions = ({r.decision: r.n for r in
                      cur.groupBy("decision").agg(F.count("*").alias("n"))
                      .collect()} if cur is not None else {})
        payload["curated"] = decisions
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
