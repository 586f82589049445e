"""Structured Streaming ingestion: the batch extractor reused unchanged
via foreachBatch (SURVEY.md §2.10 / §7 step 8).

The reference's only stream-like structure is a command queue drained on a
timer (/root/reference/src/main.py:345-371); continuous crawl ingestion is
its web-scale analog. Design: `readStream` over the pages directory →
`foreachBatch(extract + append)` with a streaming checkpoint, landing on
the same ManifestTable the batch job writes, so downstream readers can't
tell which mode produced a snapshot.

Delivery semantics: foreachBatch is at-least-once — if the job dies after
the manifest commit but before the streaming checkpoint advances, the
micro-batch is REPLAYED on restart. The sink is therefore idempotent on
(checkpoint, epoch_id): each snapshot records run_id
``stream-{checkpoint}-epoch-{epoch}``, and a replayed epoch whose run_id
is already committed is skipped — effectively-once output.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampNTZType,
)

from ..io.table import ManifestTable
from ..pipeline import extract_pages

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampNTZType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def _start(stream, out_dir: str, checkpoint_dir: str, prefix: str,
           available_now: bool, **extract_kw):
    """Start ``stream`` (a pages-schema streaming DataFrame) into the
    ManifestTable at ``out_dir`` through the one epoch sink: each
    micro-batch is extracted and appended as one snapshot with run_id
    ``{prefix}-{tag}-epoch-{epoch}``, and an epoch whose run_id is
    already committed is skipped (the replay guard)."""
    out = ManifestTable(out_dir)
    # tag = hash of the FULL checkpoint path: two different streams whose
    # checkpoint dirs merely share a basename must not collide (a replay
    # after checkpoint loss keeps the same path, so dedup still works)
    ckpt_tag = hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()).hexdigest()[:12]

    def _sink(batch_df, epoch_id: int) -> None:
        run_id = f"{prefix}-{ckpt_tag}-epoch-{epoch_id}"
        if any(s.get("run_id") == run_id for s in out.snapshots()):
            return  # replayed micro-batch (crash after commit, before
            #         checkpoint advance) — already committed, skip
        out.append(extract_pages(batch_df, **extract_kw),
                   part_keys=[], run_id=run_id)

    writer = (stream.writeStream
              .foreachBatch(_sink)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    num_parts: int = 16,
    n_salts: int = 4,
    available_now: bool = True,
):
    """Start a streaming extraction job over a growing pages directory.

    With ``available_now`` the stream drains everything currently present
    and stops — the batch-equivalence test mode. In production the same
    call runs continuously with a processing-time trigger.

    Note: dedup-latest inside a micro-batch only dedups within that batch;
    cross-batch url dedup is a downstream MERGE (the batch pipeline's
    dedup-latest covers full-corpus reruns).
    """
    stream = (spark.readStream.schema(PAGES_SCHEMA)
              .option("maxFilesPerTrigger", "8")
              .parquet(pages_dir))
    return _start(stream, out_dir, checkpoint_dir, "stream", available_now,
                  num_parts=num_parts, n_salts=n_salts)


# binaryFile's fixed schema — streaming file sources require it spelled
# out (no inference on streams)
_BINARY_FILE_SCHEMA = ("path string, modificationTime timestamp, "
                       "length long, content binary")


def stream_extract_warc(
    spark: SparkSession,
    crawl_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    num_parts: int = 16,
    n_salts: int = 4,
    watermark: str = "30 minutes",
    available_now: bool = True,
):
    """The streaming WARC ingestion journey end-to-end, composing three
    already-tested pieces (r4 had each, not the wiring): readStream
    binaryFile over a growing crawl directory -> per-file WARC record
    parse with the SAME Arrow kernel batch read_warc uses
    (io.warc._warc_batches — one parser, no drift) -> crawl-frontier
    canonical-url dedup (dedup.drop_recrawled_urls: first fetch wins
    within the watermark horizon, bounded JVM/RocksDB state) ->
    foreachBatch extract_pages + idempotent ManifestTable append.

    Replay semantics are stream_extract's: at-least-once micro-batches
    made effectively-once by the run_id epoch guard. The frontier state
    ADDS cross-batch dedup the plain pages stream lacks: a url recrawled
    in a later wave (any canonical variant) is dropped before the
    extractor ever sees its payload.
    """
    from ..io.warc import PAGES_FROM_WARC_SCHEMA, _warc_batches
    from .dedup import drop_recrawled_urls

    files = (spark.readStream.format("binaryFile")
             .schema(_BINARY_FILE_SCHEMA)
             .option("maxFilesPerTrigger", "8")
             .load(crawl_dir))
    pages = (files.select("content")
             .mapInPandas(_warc_batches, schema=PAGES_FROM_WARC_SCHEMA))
    fresh = (drop_recrawled_urls(pages, watermark=watermark)
             .drop("canonical_url")
             .withColumn("lang", F.lit(None).cast("string")))
    return _start(fresh, out_dir, checkpoint_dir, "streamwarc",
                  available_now, num_parts=num_parts, n_salts=n_salts,
                  digest_col="digest")
