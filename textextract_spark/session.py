"""SparkSession construction with scale-oriented defaults, and the one
way to materialize a reused subplan.

All knobs here are the ones SURVEY.md §4 calls out as manual work:
Arrow batch size (UDF memory: multi-MB html blobs x records/batch must fit
the Python worker), AQE (runtime re-plan + skew-join), shuffle partition
count, and a pinned session timezone (determinism across machines).

Cluster deploy (``tools/make_pyfiles.py`` builds the bundle):

    spark-submit --master <url> --conf spark.checkpoint.dir=<shared dir> \\
        --py-files dist/textextract_spark.zip driver.py ...

The local-only settings, ``local[cores]``, the tmpfs ``spark.local.dir``,
shuffle and spill compression off and the 12g ``spark.driver.memory``,
apply only when no master is configured, i.e. outside spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Cap records per Arrow batch: html payloads can be multi-MB; at 100 TB scale
# a batch must fit executor-python memory. 512 x ~200KB ≈ 100MB worst case.
ARROW_MAX_RECORDS = 512


def get_spark(
    app_name: str = "textextract-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    builder = (
        SparkSession.builder.appName(app_name)
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
        # materialize's reliable checkpoints are deleted once their
        # frame is dropped, as localCheckpoint blocks are
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
    )
    # spark-submit starts the driver JVM first and sets its master there
    # (--master, else local[*]). Outside it there is no JVM yet, and none
    # may start before spark.driver.memory is set.
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        builder.master(f"local[{cores}]")
        # 12g is ample for the local bench working set; a 32g ceiling
        # measurably worsened GC behavior (larger heap-growth steps,
        # multi-second G1 pauses while the heap resized under load)
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
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


def materialize(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """``df`` with its lineage cut, for a subplan read more than once
    (Catalyst shares no subtree across references) or iterated on.

    Under ``local[...]``, ``localCheckpoint`` (``eager`` is Spark's).
    Under any other master a lost executor would take local blocks
    along, so a reliable ``checkpoint`` into ``spark.checkpoint.dir``,
    always eager: its one job computes and writes the frame, where a
    lazy one is written by a second job that recomputes the plan.
    ContextCleaner reclaims either once the frame is dropped."""
    master = df.sparkSession.sparkContext.master
    if master == "local" or master.startswith("local["):
        return df.localCheckpoint(eager)
    return df.checkpoint(eager=True)
