"""The flagship extraction pipeline (SURVEY.md §3.1 rebuild trace).

    pages --dedup-latest(url)--> format gate --salted repartition-->
    mapInPandas(extract) --> extracted table + per-partition lineage
    metrics + checkpoint commit

Design notes (north_rule):
  * No per-row Python at the plan level: dedup, format gate, partitioning,
    and lineage are DataFrame expressions; the extractor runs once per
    Arrow batch via ``mapInPandas`` (Iterator[pd.DataFrame] ->
    Iterator[pd.DataFrame]).
  * Explicit url-hash partitioning + salting: ``part_key =
    pmod(xxhash64(url), num_parts)`` is the checkpoint/lineage unit;
    ``salt`` (an independent url hash) splits each part_key across
    n_salts shuffle targets so a hot bucket cannot serialize a stage
    (SURVEY.md §4 skew row). The payload exchange hashes (part_key,
    salt) into min(num_parts, defaultParallelism) tasks: each chunk
    extracts in one wave with at most one Python task per slot, since
    every Python task pays a fixed worker set-up cost whatever its size.
  * Deterministic output: extracted ``text``/``spans``/``status`` are pure
    functions of (html bytes); only ``meta.ms`` (timing) varies run-to-run
    and it is excluded from identity checks.
  * Checkpoint resume: part_keys are processed in chunks; each chunk is an
    atomic snapshot append recording its part_keys; a rerun skips committed
    part_keys (ManifestTable — Iceberg stand-in).

Reference trace being re-expressed: capture -> preprocess -> extract ->
audit row -> usage upsert (/root/reference/src/ocr.py:126-278,
/root/reference/backend/routes/api_routes.py:21-132).
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StringType, StructField, StructType,
    TimestampType, IntegerType,
)

from .core.extract import (
    HTML_MARKERS, MAX_PAYLOAD_BYTES, SNIFF_BYTES, extract_document)
from .io.table import ManifestTable
from .session import materialize


# ---------------------------------------------------------------------------
# Plan-level stages (pure DataFrame expressions)
# ---------------------------------------------------------------------------

def with_format(df: DataFrame, payload_col: str = "html") -> DataFrame:
    """Format gate as DataFrame predicates BEFORE UDF dispatch (north_rule).

    Mirrors ``core.extract.sniff_format`` exactly: PDF by magic bytes,
    HTML by marker scan over the lowercased first SNIFF_BYTES decoded
    latin-1 (total — latin-1 decode never fails), else plain text.
    Reference analog: platform/suffix asset match
    (/root/reference/backend/routes/update_routes.py:252-256).
    """
    head = F.lower(F.decode(
        F.substring(F.col(payload_col), 1, SNIFF_BYTES), "ISO-8859-1"))
    is_html = reduce(lambda a, b: a | b,
                     [head.contains(m) for m in HTML_MARKERS])
    return df.withColumn(
        "fmt",
        F.when(F.substring(F.col(payload_col), 1, 5) == F.lit(b"%PDF-"),
               F.lit("pdf"))
         .when(is_html, F.lit("html"))
         .otherwise(F.lit("text")),
    )


def with_part_columns(df: DataFrame, num_parts: int = 64,
                      n_salts: int = 8) -> DataFrame:
    """Derive the url-hash part_key and salt columns (no physical
    repartition; extract_pages repartitions on both after its oversize
    gate, into min(num_parts, defaultParallelism) tasks).

    part_key is the checkpoint/lineage unit (stable across cluster
    sizes); salt is an independent second url hash that splits each
    part_key across n_salts shuffle targets, so one hot bucket (small
    num_parts, or a host whose urls collide into one part_key) cannot
    serialize a stage (SURVEY.md §7 hard part (b)). Neither sets the
    task count. Both are functions of url ONLY, so every crawl version
    of a url lands in the same task (which is what makes the
    extractor's per-task exact-duplicate guard in ``_extract_batches``
    exact). On Iceberg this is hidden
    partitioning ``bucket(num_parts, url)``."""
    return (df.withColumn(
            "part_key",
            F.pmod(F.xxhash64(F.col("url")), F.lit(num_parts))
             .cast(IntegerType()))
            .withColumn(
            "salt",
            F.pmod(F.xxhash64(F.col("url"), F.lit(1)), F.lit(n_salts))
             .cast(IntegerType())))


# ---------------------------------------------------------------------------
# The Arrow-batched extractor
# ---------------------------------------------------------------------------

# Flat UDF output: primitive columns only. Nested spans/meta structs are
# assembled JVM-side afterwards (arrays_zip/struct) — converting python
# lists of dicts to Arrow list<struct> costs ~0.2ms/row, 10x the price of
# three primitive lists; at 10^9 docs that's hours of worker CPU.
_RAW_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("part_key", IntegerType()),
    StructField("lang", StringType()),
    StructField("text", StringType()),
    StructField("span_tag", ArrayType(StringType())),
    StructField("span_start", ArrayType(LongType())),
    StructField("span_end", ArrayType(LongType())),
    StructField("status", StringType()),
    StructField("ms", DoubleType()),
    StructField("in_bytes", LongType()),
    StructField("fmt", StringType()),
])


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: one call per Arrow batch, vectorized I/O.

    Parsing is inherently per-document, but dispatch, (de)serialization and
    column assembly are batch-level via Arrow — the reference's
    1-HTTP-request-per-image loop (/root/reference/src/ocr.py:196-204)
    becomes ~ARROW_MAX_RECORDS documents per Python invocation.
    """
    # Exact-input-duplicate guard: rows byte-identical on (url, warc_ts,
    # digest) — a replayed WARC segment ingested twice — all carry the
    # winner key, so the semi join keeps every copy. Every crawl of a url
    # lands in THIS task (part_key and salt are functions of url only), so
    # a per-task seen-set is an exact one-row-per-url dedup with no extra
    # shuffle. Memory: a task holds its chunk's payload bytes / slots
    # (one wave per chunk), so ``chunks`` is the lever for task size; at
    # ~34KB/doc a 1GB task is ~30k urls => a few MB of set.
    seen_urls: set = set()
    for pdf in batches:
        mask = pdf["url"].isin(seen_urls) | pdf["url"].duplicated()
        if mask.any():
            pdf = pdf[~mask].reset_index(drop=True)
        seen_urls.update(pdf["url"].tolist())
        if not len(pdf):  # all-duplicate batch: nothing to emit
            continue
        n = len(pdf)
        texts: list[str] = [""] * n
        span_tag: list[list[str]] = [[]] * n
        span_start: list[list[int]] = [[]] * n
        span_end: list[list[int]] = [[]] * n
        statuses: list[str] = [""] * n
        ms: list[float] = [0.0] * n
        fmts: list[str] = [""] * n
        payloads = pdf["html"].tolist()
        langs = pdf["lang"].tolist()
        fmts_in = pdf["fmt"].tolist()
        flags = pdf["too_large"].tolist()
        for i in range(n):
            if flags[i]:
                # plan-level oversize gate: the payload was nulled out
                # before the shuffle; report without touching python
                statuses[i] = "skipped:too_large"
                fmts[i] = fmts_in[i]
                continue
            t0 = time.perf_counter()
            # fmt comes from the plan-level gate (with_format) so the
            # DataFrame predicate really drives dispatch — no per-row
            # re-sniff that could silently drift from the gate
            res = extract_document(payloads[i], langs[i], fmt=fmts_in[i])
            ms[i] = (time.perf_counter() - t0) * 1000.0
            texts[i] = res.text
            if res.spans:
                span_tag[i] = [t for (t, _, _) in res.spans]
                span_start[i] = [s for (_, s, _) in res.spans]
                span_end[i] = [e for (_, _, e) in res.spans]
            statuses[i] = res.status
            fmts[i] = res.fmt
        yield pd.DataFrame({
            "url": pdf["url"],
            "warc_ts": pdf["warc_ts"],
            "part_key": pdf["part_key"],
            "lang": pdf["lang"],
            "text": texts,
            "span_tag": span_tag,
            "span_start": span_start,
            "span_end": span_end,
            "status": statuses,
            "ms": ms,
            "in_bytes": pdf["in_bytes"],
            "fmt": fmts,
        })


def extract_pages(pages: DataFrame, num_parts: int = 64,
                  n_salts: int = 8,
                  digest_col: str | None = None,
                  part_keys: list[int] | None = None) -> DataFrame:
    """Lazy end-to-end extraction plan over a raw pages DataFrame.

    Stage order: payload-free dedup-latest (winner agg + semi join) ->
    format gate -> oversize gate -> salted repartition -> Arrow extract
    -> union of the extracted and oversize branches (§2.7 branch-union).

    ``digest_col``: name of a precomputed per-payload md5-hex column.
    Real crawl tables carry one (WARC records have payload digests);
    with it the winner-aggregation side prunes to three narrow columns
    and never reads payload bytes at all — without it the payloads are
    read once here solely to hash them (still never shuffled).

    ``part_keys``: restrict the job to these checkpoint partitions,
    filtered on ``pmod(xxhash64(url), num_parts)`` at the RAW SCAN —
    BEFORE dedup, hashing, the payload shuffle and the UDF. This is
    safe because part_key is a pure function of url (every crawl copy
    of a url shares it), and essential for chunked commits: a filter
    applied to the extracted output instead sits ABOVE mapInPandas,
    which Catalyst cannot push a predicate through, so each of K chunk
    jobs would re-extract the full corpus and discard (K-1)/K of it
    (measured: the r2 run_pipeline did exactly that). On Iceberg with
    ``bucket(num_parts, url)`` hidden partitioning this same predicate
    prunes whole files at the scan.
    """
    if part_keys is not None:
        pages = pages.filter(
            F.pmod(F.xxhash64(F.col("url")), F.lit(num_parts))
             .cast(IntegerType()).isin(part_keys))
    # dedup-latest BEFORE extraction, payload-free: the winner per url is
    # determined by (url, max(warc_ts, md5(html))) alone, so the
    # aggregation reads the payload only to hash it at the scan (no
    # payload in the agg buffer or shuffle — ~48 bytes/url), and AQE
    # broadcasts the winner set into a map-side semi join. Net: the ONLY
    # full-payload movement in the whole job is the explicit salted
    # repartition. (A row_number window here would shuffle + buffer every
    # payload: measured 3-10x the extraction cost itself.) The md5 in the
    # max-struct is the deterministic tie-break: two crawls of a url
    # sharing the max warc_ts keep exactly one winner — the max-digest
    # payload — matching datagen.golden_rows; md5 (not xxhash64) so the
    # pure-Python golden oracle can compute the identical key.
    if digest_col is not None:
        # CONTRACT: digest_col must be non-null per row and a pure
        # function of the payload bytes — sources that can lack digests
        # fill them at ingestion (read_warc md5s digest-less records in
        # the parse stage, where the bytes are already in memory). An
        # md5 fallback HERE would re-read the payload column on the
        # winner side, defeating digest_col's narrow-scan purpose. The
        # ''-coalesce below is a liveness net for contract violations:
        # a NULL digest keeps its row (NULL = NULL is NULL would drop
        # it from the semi join), but same-(url, warc_ts) NULL-digest
        # rows with DIFFERENT bodies then tie on the winner key and the
        # survivor follows task iteration order — honor the contract if
        # you need the pure-function-of-input guarantee.
        hashed = pages.withColumn(
            "__h", F.coalesce(F.col(digest_col), F.lit("")))
    else:
        hashed = pages.withColumn(
            "__h", F.md5(F.coalesce(F.col("html"), F.lit(b""))))
    winners = (hashed.groupBy("url")
               .agg(F.max(F.struct("warc_ts", "__h")).alias("w"))
               .select("url", F.col("w.warc_ts").alias("warc_ts"),
                       F.col("w.__h").alias("__h")))
    # null-safe on warc_ts AND __h: a row whose warc_ts (or digest, belt
    # and braces on top of the coalesce above) is NULL must not vanish
    # (NULL = NULL is NULL under plain equality, so the row would never
    # match its own winner key and lose its status row)
    w = winners.select(F.col("url").alias("__wu"),
                       F.col("warc_ts").alias("__wt"),
                       F.col("__h").alias("__wh"))
    latest = (hashed.join(
                  w,
                  (F.col("url") == F.col("__wu"))
                  & F.col("warc_ts").eqNullSafe(F.col("__wt"))
                  & F.col("__h").eqNullSafe(F.col("__wh")),
                  "left_semi")
              .drop("__h"))
    df = with_format(latest)
    df = with_part_columns(df, num_parts=num_parts, n_salts=n_salts)
    # oversize gate BEFORE the payload repartition, in ONE branch: giant
    # payloads are NULLED OUT at the projection (their precomputed length
    # and a flag ride along instead), so a too-large payload never enters
    # the shuffle or the Arrow boundary — and the upstream scan + winner
    # semi join run exactly once. (A filter + union of two branches would
    # duplicate the whole upstream subtree per branch — measured 2x the
    # job time.)
    in_bytes = F.coalesce(F.octet_length("html"), F.lit(0)).cast("long")
    too_large = in_bytes > MAX_PAYLOAD_BYTES
    df = (df.withColumn("in_bytes", in_bytes)
            .withColumn("too_large", too_large)
            .withColumn("html", F.when(~too_large, F.col("html"))))
    # url-only keys: every crawl version of a url shares one task, which
    # keeps the per-task duplicate guard exact (see with_part_columns).
    # The task count follows the slots, not num_parts: one wave per
    # chunk, at most one Python task per slot. Each Python task pays a
    # fixed worker set-up (importlib.invalidate_caches() over the pyspark
    # zip alone is ~0.1 CPU-s) however few docs it carries.
    tasks = min(num_parts, pages.sparkSession.sparkContext.defaultParallelism)
    df = df.repartition(tasks, "part_key", "salt")
    # ship ONLY what the UDF reads — the raw crawl `text` column and the
    # salt never cross the JVM->Python boundary; `fmt` IS read: the
    # plan-level format gate drives UDF dispatch (north_rule), the
    # extractor does not re-sniff per row
    df = df.select("url", "warc_ts", "html", "lang", "fmt", "part_key",
                   "in_bytes", "too_large")
    raw = df.mapInPandas(_extract_batches, schema=_RAW_SCHEMA)
    return raw.select(
        "url", "warc_ts", "part_key", "lang", "text",
        F.arrays_zip(F.col("span_tag").alias("tag"),
                     F.col("span_start").alias("start"),
                     F.col("span_end").alias("end")).alias("spans"),
        "status",
        F.struct(F.col("ms"), F.col("in_bytes"), F.col("fmt"))
         .alias("meta"))


# ---------------------------------------------------------------------------
# Lineage metrics (SURVEY.md §2.4 A7 — north_rule requirement)
# ---------------------------------------------------------------------------

def lineage_metrics(extracted: DataFrame, run_id: str,
                    input_split: str) -> DataFrame:
    """Per-part_key lineage rollup: warc_ts range, doc/byte/failure counts.

    Reference analog: per-request metrics capture into api_requests /
    usage_stats (/root/reference/backend/routes/api_routes.py:110-123,
    create_tables.sql:41-45). Hash aggregation with map-side partials —
    the shuffle carries num_parts rows, not documents.
    """
    return (extracted.groupBy("part_key").agg(
        F.min("warc_ts").alias("warc_ts_min"),
        F.max("warc_ts").alias("warc_ts_max"),
        F.count("*").alias("doc_count"),
        F.sum(F.col("meta.in_bytes")).alias("byte_count"),
        F.sum(F.when(F.col("status").startswith("error"), 1)
               .otherwise(0)).alias("failure_count"),
        F.sum(F.when(F.col("status") == "empty", 1)
               .otherwise(0)).alias("empty_count"),
        F.sum(F.col("meta.ms")).cast(LongType()).alias("ms_total"),
    ).withColumn("run_id", F.lit(run_id))
     .withColumn("input_split", F.lit(input_split))
     .withColumn("committed_at", F.current_timestamp()))


def curation_decisions(extracted: DataFrame) -> DataFrame:
    """Quality gate + corpus-wide exact dedup over an extracted table —
    the per-url keep/drop decision a training-data pipeline commits next
    to the raw extraction (decisions: keep | drop:extract |
    drop:quality | drop:dup, keeper = min url per content hash).

    Shared by the product path (run_pipeline(curate=True) /
    ``--curate``) and the oracled driver row (__spark_entry__.
    _curate_docs) — one implementation under the correctness gate.
    Scale shape: quality is a stateless projection; the winner
    aggregation shuffles (md5, min(url)) only — map-side combinable —
    and the join back is hash-key equality, AQE-splittable
    (plan-asserted payload-free in tests/test_plans).
    """
    from .operators.textdata import quality_label

    q = extracted.withColumn(
        "quality",
        F.when(F.col("status") == "ok", quality_label(F.col("text")))
         .otherwise(F.lit("-")))
    winners = (q.filter((F.col("status") == "ok")
                        & (F.col("quality") == "ok"))
               .groupBy(F.md5("text").alias("__h"))
               .agg(F.min("url").alias("__keeper")))
    return (q.withColumn("__h", F.md5("text"))
            .join(winners, "__h", "left")
            .withColumn(
                "decision",
                F.when(F.col("status") != "ok", F.lit("drop:extract"))
                 .when(F.col("quality") != "ok", F.lit("drop:quality"))
                 .when(F.col("url") != F.col("__keeper"),
                       F.lit("drop:dup"))
                 .otherwise(F.lit("keep")))
            .drop("__h", "__keeper"))


# Exact-jaccard threshold of the near-duplicate curation stage (the
# oracle twins in operators/oracles.py use the same value).
NEARDUP_THRESHOLD = 0.6


def _keeps(decided: DataFrame) -> DataFrame:
    """The keep survivors of a decision table as (doc_id=url, text)."""
    return (decided.filter(F.col("decision") == "keep")
            .select(F.col("url").alias("doc_id"), "text"))


def _demote(decided: DataFrame, urls: DataFrame, reason: str) -> DataFrame:
    """Left-join a one-column ``url`` frame: its keeps become ``reason``."""
    hits = urls.select("url", F.lit(True).alias("__hit"))
    return (decided.join(hits, "url", "left")
            .withColumn(
                "decision",
                F.when((F.col("decision") == "keep")
                       & F.col("__hit").isNotNull(), F.lit(reason))
                 .otherwise(F.col("decision")))
            .drop("__hit"))


def _neardup_stage(extracted: DataFrame):
    """(stage-1 decisions, their keeps, the url set of near-dup keeps:
    every near-dup cluster member but its min-url keeper)."""
    from .operators.sketch import connected_components, exact_jaccard_pairs

    # the one materialization of extraction + stage-1 decisions: the
    # near-dup leg references it from FOUR branches (minhash bands,
    # shingle join-back x2, the demotion join), the later stages from
    # more, and Catalyst does not share subplans — without the
    # cut the full extraction re-ran per branch (measured 36 s vs ~8 s
    # at sf0.1). connected_components materializes its rounds, so the
    # url set it yields is materialized too.
    decided = materialize(curation_decisions(extracted))
    keeps = _keeps(decided)
    labels = connected_components(
        exact_jaccard_pairs(keeps, NEARDUP_THRESHOLD).select("a_id", "b_id"))
    neardup = (labels.filter(F.col("doc_id") != F.col("cluster_id"))
               .select(F.col("doc_id").alias("url")))
    return decided, keeps, neardup


def curation_decisions_neardup(extracted: DataFrame) -> DataFrame:
    """The curation journey v2: curation_decisions PLUS a NEAR-duplicate
    stage over the surviving keeps — LSH candidates -> exact
    n-gram-jaccard verify (>= NEARDUP_THRESHOLD) -> connected components
    -> within each cluster only the min-url keeper stays 'keep', the
    rest become 'drop:neardup'. One verdict per url.

    The near-dup leg runs ONLY on keep survivors through the capped
    sketch machinery (payload-free banding, sampled buckets,
    survivors-only shingle join-back, aggregate-only CC driver loop).
    The upstream quality gate drops whitespace-poor docs ('no_spaces')
    first, so every scored doc takes the word-shingle branch — which
    lets the DuckDB twin use a single word-shingle CTE.
    """
    decided, _, neardup = _neardup_stage(extracted)
    return _demote(decided, neardup, "drop:neardup")


def curation_decisions_full(extracted: DataFrame,
                            eval_docs: DataFrame | None = None
                            ) -> DataFrame:
    """The COMPLETE pretraining curation journey, one verdict row per
    url: extraction status -> quality gate -> exact dedup -> near-dup
    clusters (curation_decisions_neardup) -> benchmark DECONTAMINATION
    against ``eval_docs`` (GPT-3 appendix-C n-gram rule; None skips the
    stage) -> CCNet PERPLEXITY bucket (char-bigram LM trained on the
    keep survivors themselves) -> deterministic train/val/test SPLIT.
    Final keeps carry ``ppl_bucket`` (head/middle/tail) and ``split``;
    dropped rows carry '-' in both.

    This is the single text-out contract a real pipeline commits
    (reference anchor: one decision per document,
    /root/reference/backend/routes/api_routes.py:78,126-132) — the
    same function the product ``--curate`` path snapshots.

    Scale shape (10^12 urls): the stage-1 decisions are checkpointed
    ONCE; the near-dup survivors are their keeps less the near-dup url
    set (a broadcast anti-join), and each stage demotes keeps by one
    url-key left join (_demote). Decontamination broadcasts the benchmark's
    gram-hash set, the perplexity model is V^2-bounded and rides the
    scoring closure, the split is a pure function of url.
    """
    from .operators.textdata import (
        char_lm_perplexity, contamination_flags, dataset_split)

    decided, keeps, neardup = _neardup_stage(extracted)
    decided = _demote(decided, neardup, "drop:neardup")
    # broadcast: the survivors feed four consumers, and a sort-merge
    # anti-join shuffled their text once per consumer (peak scratch
    # 13 -> 21 MB on curate_rerun); the near-dup set is a fraction of
    # the keeps
    keeps = keeps.join(
        F.broadcast(neardup.withColumnRenamed("url", "doc_id")),
        "doc_id", "left_anti")
    if eval_docs is not None:
        contam = (contamination_flags(keeps, eval_docs)
                  .filter(F.col("contaminated"))
                  .select(F.col("doc_id").alias("url")))
        decided = _demote(decided, contam, "drop:contaminated")
    ppl = (char_lm_perplexity(keeps, keeps.select("text"))
           .select(F.col("doc_id").alias("url"),
                   F.col("ppl_bucket").alias("__ppl")))
    splits = (dataset_split(keeps, id_col="doc_id")
              .select(F.col("doc_id").alias("url"),
                      F.col("split").alias("__sp")))
    return (decided
            .join(ppl, "url", "left")
            .join(splits, "url", "left")
            .withColumn("ppl_bucket",
                        F.when(F.col("decision") == "keep",
                               F.col("__ppl")).otherwise(F.lit("-")))
            .withColumn("split",
                        F.when(F.col("decision") == "keep",
                               F.col("__sp")).otherwise(F.lit("-")))
            .drop("__ppl", "__sp"))


# ---------------------------------------------------------------------------
# Orchestration: chunked snapshot commits + resume
# ---------------------------------------------------------------------------

def _record_lineage(spark: SparkSession, out: ManifestTable,
                    metrics_tbl: ManifestTable, input_split: str,
                    run_id: str) -> None:
    """The one lineage writer: append ``lineage_metrics`` rows for every
    part_key committed in ``out`` that ``metrics_tbl`` lacks — one job
    and one metrics snapshot per data snapshot, carrying that
    snapshot's run_id. The data and lineage commits are two manifests,
    so a crash between them leaves part_keys unmetered; resume skips
    committed part_keys, so run_pipeline calls this before new work
    (the heal) as well as after each chunk commit."""
    missing = out.committed_part_keys() - metrics_tbl.committed_part_keys()
    if not missing:
        return
    for s in out.snapshots():
        keys = sorted(set(s["part_keys"]) & missing)
        if not keys:
            continue
        snap_run = s.get("run_id") or run_id
        snap_df = spark.read.parquet(f"{out.path}/{s['dir']}")
        metrics_tbl.append(
            lineage_metrics(snap_df.filter(F.col("part_key").isin(keys)),
                            run_id=snap_run, input_split=input_split),
            part_keys=keys, run_id=snap_run)


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    num_parts: int = 64,
    n_salts: int = 8,
    chunks: int = 4,
    run_id: str = "run-0",
    input_format: str = "parquet",
    digest_col: str | None = None,
    curate: bool = False,
    eval_path: str | None = None,
) -> dict:
    """Run (or resume) the extraction job with chunked snapshot commits.

    part_keys are grouped into ``chunks`` commit units (chunk = part_key %%
    chunks); each unit is extracted and appended as one atomic snapshot to
    the ``extracted`` table, its lineage appended to ``metrics``, and its
    part_keys recorded — a rerun skips committed part_keys entirely (the
    filter prunes at the scan on a bucket-partitioned Iceberg table).
    """
    out = ManifestTable(f"{out_dir}/extracted")
    metrics_tbl = ManifestTable(f"{out_dir}/metrics")

    # heal first: a crash between a chunk's data and lineage commits
    _record_lineage(spark, out, metrics_tbl, pages_path, run_id)

    persisted = None
    if input_format == "warc":
        # crawl archives: records carry their own payload digest, so the
        # winner aggregation never hashes payloads (digest_col wiring).
        # PERSIST the parsed records for the run: the parse is a Python
        # mapInPandas barrier, so neither the chunk part_keys filter nor
        # the winner-agg/semi-join double reference can reach below it —
        # without the cache every chunk would re-read and re-gunzip every
        # archive, and each extract_pages would parse twice (the same
        # pathology the raw-scan chunk filter fixes for parquet). At
        # cluster scale MEMORY_AND_DISK spills to executor-local disk,
        # i.e. a one-time staging of the parsed crawl.
        from pyspark.storagelevel import StorageLevel

        from .io.warc import read_warc
        pages = (read_warc(spark, pages_path)
                 .withColumn("lang", F.lit(None).cast("string"))
                 .persist(StorageLevel.MEMORY_AND_DISK))
        persisted = pages
        digest_col = digest_col or "digest"
    elif input_format == "parquet":
        pages = spark.read.parquet(pages_path)
    else:
        raise ValueError(f"unknown input_format {input_format!r} "
                         "(expected 'parquet' or 'warc')")

    committed = out.committed_part_keys()
    all_keys = list(range(num_parts))
    for chunk in range(chunks):
        chunk_keys = [k for k in all_keys if k % chunks == chunk]
        todo = [k for k in chunk_keys if k not in committed]
        if not todo:
            continue
        # the part_key restriction goes INTO the plan (raw-scan url-hash
        # filter), not onto the extracted output — a filter above the
        # mapInPandas barrier would re-extract the whole corpus per chunk
        chunk_df = extract_pages(pages, num_parts=num_parts,
                                 n_salts=n_salts, part_keys=todo,
                                 digest_col=digest_col)
        out.append(chunk_df, part_keys=todo, run_id=run_id)
        _record_lineage(spark, out, metrics_tbl, pages_path, run_id)
    if persisted is not None:
        persisted.unpersist()
    result = {
        "extracted": out,
        "metrics": metrics_tbl,
        "committed_part_keys": sorted(out.committed_part_keys()),
    }
    if curate:
        # corpus-wide decisions are recomputed over the FULL table each
        # run (a global property — new docs can demote prior keepers) and
        # committed as one overwrite snapshot; old versions stay
        # time-travelable like every ManifestTable commit
        full = out.read(spark)
        curated_tbl = ManifestTable(f"{out_dir}/curated")
        if full is not None:
            # v3 decisions: the FULL journey — exact dedup, near-dup
            # clusters, benchmark decontamination (when --eval-path
            # supplies one), perplexity bucket, split assignment
            eval_docs = (spark.read.parquet(eval_path).select("text")
                         if eval_path else None)
            curated_tbl.overwrite(curation_decisions_full(
                full, eval_docs=eval_docs))
        result["curated"] = curated_tbl
    return result
