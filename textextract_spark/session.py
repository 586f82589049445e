"""SparkSession construction with scale-oriented defaults.

All knobs here are the ones SURVEY.md §4 calls out as manual work:
Arrow batch size (UDF memory: multi-MB html blobs x records/batch must fit
the Python worker), AQE (runtime re-plan + skew-join), shuffle partition
count, and a pinned session timezone (determinism across machines).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Cap records per Arrow batch: html payloads can be multi-MB; at 100 TB scale
# a batch must fit executor-python memory. 512 x ~200KB ≈ 100MB worst case.
ARROW_MAX_RECORDS = 512


def get_spark(
    app_name: str = "textextract-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or os.environ.get(
                    "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS))
        # byte-level batch cap (Spark 4.1 default 64MB) — the second
        # giant-document guard; the first is the plan-level payload cap
        # in pipeline.extract_pages (a single row can't be split here)
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(64 * 1024 * 1024))
        # 32MB local split size: bench corpora are O(1GB), and the
        # partition-to-core ratio should mirror production (where Iceberg
        # split planning over many 128MB files gives cores >> splits);
        # 128MB here would serialize the scan stage on a small corpus.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES",
                               "33554432"))
        # 12g is ample for the local bench working set; a 32g ceiling
        # measurably worsened GC behavior (larger heap-growth steps,
        # multi-second G1 pauses while the heap resized under load)
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
    )
    # shuffle/spill scratch on tmpfs when available — local-mode analog of
    # executor NVMe scratch; a single slow disk would serialize shuffles
    # and mask core-count scaling
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-scratch"
    if local_dir:
        builder = (builder.config("spark.local.dir", local_dir)
                   # RAM-backed scratch: lz4 on shuffle blocks is pure CPU
                   # overhead (measured ~25% of job time on payload-wide
                   # shuffles). Over a real network fabric, leave it on.
                   .config("spark.shuffle.compress", "false")
                   .config("spark.shuffle.spill.compress", "false"))
    return builder.getOrCreate()
