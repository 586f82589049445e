"""One way to read a driver table and one model memo for the operators.

``source`` owns the ``{sf_dir}/{table}.parquet`` layout and the spread
rule; ``memo`` owns the per-application, content-fingerprinted, FIFO-
bounded memo the operators keep their fitted models in. Whether a scan
is spread is the caller's decision (``spread=``), because it is a
measured one per operator; the reasons sit at the call sites.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

MEMO_MAX = 8

# FIFO-bounded: a long session sweeping many sf_dirs (pytest tmp dirs,
# bench scales) must not pin one checkpointed RDD per corpus forever.
# Eviction only drops the memo's reference; a caller-held DataFrame
# still strong-references the checkpointed RDD through its LogicalRDD
# plan node, so ContextCleaner (weak-ref driven) reclaims the blocks
# only after every caller reference is gone — never mid-use.
_MEMO: dict[tuple, object] = {}


def spread_partitions(df: DataFrame) -> DataFrame:
    """Ensure enough partitions to parallelize CPU-heavy narrow stages:
    a small single-file parquet scan yields ONE partition and would
    serialize the stage (guide §2.5; measured: the whole minhash
    signature job ran on 1 of 32 cores). At crawl scale the scan already
    has thousands of splits and this is a no-op. Row order is not part
    of any operator contract: every driver row ends in an explicit
    orderBy, and cross-row sums are exact integers."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def source(spark: SparkSession, sf_dir: str, table: str, *,
           spread: bool) -> DataFrame:
    """The ``table`` parquet under ``sf_dir``, spread to
    defaultParallelism (see spread_partitions) when ``spread``."""
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    return spread_partitions(df) if spread else df


def fingerprint(path: str) -> tuple[int, int]:
    """Content fingerprint (st_mtime_ns, st_size) of a local path;
    raises OSError when ``path`` is not a local file system path."""
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size


def memo(key: tuple, path: str, build: Callable[[], T]) -> T:
    """``build()``, memoized per (application, ``key``, content
    fingerprint of ``path``): a regenerated table at the same path
    within one application must miss, or a model fitted on the stale
    table would meet a fresh oracle read. A path ``os.stat`` cannot see
    (``s3://``, ``hdfs://``) builds uncached rather than failing."""
    try:
        fp = fingerprint(path)
    except OSError:
        return build()
    full = (SparkSession.active().sparkContext.applicationId, key, fp)
    if full not in _MEMO:
        got = build()
        while len(_MEMO) >= MEMO_MAX:
            _MEMO.pop(next(iter(_MEMO)))
        _MEMO[full] = got
    return _MEMO[full]
