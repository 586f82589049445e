"""End-to-end Spark pipeline tests: golden byte-identity, format-gate
lockstep, lineage metrics, checkpoint resume (SURVEY.md §5)."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from textextract_spark.datagen import generate_pages, golden_rows
from textextract_spark.pipeline import (
    extract_pages,
    lineage_metrics,
    run_pipeline,
    with_format,
)


@pytest.fixture(scope="module")
def golden():
    return golden_rows(generate_pages(400, seed=42))


@pytest.fixture(scope="module")
def extracted_rows(spark, corpus_dir):
    df = extract_pages(spark.read.parquet(corpus_dir), num_parts=16,
                       n_salts=4)
    return df.collect()


def test_byte_identical_vs_golden(extracted_rows, golden):
    """THE invariant: byte-identical text + spans + status per url."""
    assert len(extracted_rows) == len(golden)
    for r in extracted_rows:
        g = golden[r.url]
        assert r.text == g["text"], r.url
        assert [(s.tag, s.start, s.end) for s in (r.spans or [])] == g["spans"]
        assert r.status == g["status"]
        assert r.meta.fmt == g["fmt"]


def test_format_gate_matches_python_sniff(spark, corpus_dir):
    """Spark predicate fmt == core.sniff_format for every payload."""
    from textextract_spark.core import sniff_format
    rows = with_format(spark.read.parquet(corpus_dir)) \
        .select("url", "warc_ts", "html", "fmt").collect()
    for r in rows:
        assert r.fmt == sniff_format(bytes(r.html)), r.url


def test_lineage_metrics_consistent(spark, corpus_dir, golden):
    ext = extract_pages(spark.read.parquet(corpus_dir), num_parts=16,
                        n_salts=4)
    m = lineage_metrics(ext, run_id="t", input_split="corpus").collect()
    assert sum(r.doc_count for r in m) == len(golden)
    n_errors = sum(1 for g in golden.values()
                   if g["status"].startswith("error"))
    assert sum(r.failure_count for r in m) == n_errors
    assert all(r.byte_count > 0 for r in m)
    assert all(r.warc_ts_min <= r.warc_ts_max for r in m)


def test_run_pipeline_and_resume(spark, corpus_dir, golden,
                                 crash_after_first_chunk):
    """Kill after chunk 1, rerun, assert final table == single-run table
    and already-committed part_keys are not reprocessed (§5.4)."""
    out1 = tempfile.mkdtemp(prefix="textx-out1-")
    out2 = tempfile.mkdtemp(prefix="textx-out2-")

    # single uninterrupted run
    res1 = run_pipeline(spark, corpus_dir, out1, num_parts=8, chunks=4,
                        run_id="single")
    full = {r.url: r.text for r in res1["extracted"].read(spark).collect()}
    assert full == {u: g["text"] for u, g in golden.items()}

    # interrupted run: crash injected after first chunk commit
    with (crash_after_first_chunk(),
          pytest.raises(RuntimeError, match="injected failure")):
        run_pipeline(spark, corpus_dir, out2, num_parts=8, chunks=4,
                     run_id="r1")
    from textextract_spark.io.table import ManifestTable
    partial = ManifestTable(os.path.join(out2, "extracted"))
    committed_before = partial.committed_part_keys()
    assert 0 < len(committed_before) < 8

    # resume: completes remaining chunks only
    res2 = run_pipeline(spark, corpus_dir, out2, num_parts=8, chunks=4,
                        run_id="r2")
    assert sorted(res2["committed_part_keys"]) == list(range(8))
    resumed = {r.url: r.text for r in res2["extracted"].read(spark).collect()}
    assert resumed == full
    # committed part_keys were skipped: their snapshots still carry run_id r1
    snaps = partial._load()["snapshots"]
    rerun_keys = {k for s in snaps if s["run_id"] == "r2"
                  for k in s["part_keys"]}
    assert rerun_keys.isdisjoint(committed_before)


def test_extraction_deterministic_across_partitionings(spark, corpus_dir):
    """Same input, different num_parts/salts => identical per-url output
    (stands in for N vs 4N cluster sizes; full two-session proof in BENCH).
    num_parts is the commit/lineage bucket count, not the task count: the
    payload exchange runs at most one task per slot, so 64 part_keys
    extract in one wave."""
    pages = spark.read.parquet(corpus_dir)
    cols = ["url", "text", "status", "spans"]
    a = extract_pages(pages, num_parts=4, n_salts=2).select(cols).collect()
    b = (extract_pages(pages, num_parts=64, n_salts=8)
         .select(*cols, F.spark_partition_id().alias("pid")).collect())
    assert len({r.pid for r in b}) <= spark.sparkContext.defaultParallelism
    da = {r.url: (r.text, r.status, r.spans) for r in a}
    db = {r.url: (r.text, r.status, r.spans) for r in b}
    assert da == db


def test_concurrent_commit_conflict(spark, tmp_path):
    """Optimistic concurrency (Iceberg M1 semantics): two writers that
    both loaded manifest version N race to publish N+1 — exactly one
    wins, the loser raises instead of silently dropping a snapshot."""
    from textextract_spark.io.table import CommitConflictError, ManifestTable

    tbl = ManifestTable(str(tmp_path / "tbl"))
    tbl.append(spark.range(3), part_keys=[0], run_id="w0")

    # writer A and writer B both observe version 1
    ver_a, manifest_a = tbl._load_with_version()
    ver_b, manifest_b = tbl._load_with_version()
    assert ver_a == ver_b == 1

    manifest_a["snapshots"].append({"snapshot_id": "aaaa", "dir": "snap-aaaa",
                                    "part_keys": [1], "run_id": "wA",
                                    "parent": None})
    tbl._publish(manifest_a, ver_a)  # A wins

    manifest_b["snapshots"].append({"snapshot_id": "bbbb", "dir": "snap-bbbb",
                                    "part_keys": [2], "run_id": "wB",
                                    "parent": None})
    with pytest.raises(CommitConflictError):
        tbl._publish(manifest_b, ver_b)  # B must fail, not overwrite

    # A's commit is intact; B's never became visible
    ids = [s["snapshot_id"] for s in tbl.snapshots()]
    assert "aaaa" in ids and "bbbb" not in ids
    assert tbl.committed_part_keys() == {0, 1}


def test_dedup_tiebreak_deterministic(spark, tmp_path):
    """Two crawls of one url with the SAME max warc_ts must keep exactly
    one deterministic winner (max md5 payload) — matching golden_rows."""
    import datetime as dt

    from textextract_spark.datagen import golden_rows

    ts = dt.datetime(2025, 3, 1, 12, 0, 0)
    rows = [
        {"url": "https://t.example/a", "warc_ts": ts,
         "html": b"tie payload one", "text": "", "lang": "en"},
        {"url": "https://t.example/a", "warc_ts": ts,
         "html": b"tie payload TWO", "text": "", "lang": "en"},
        {"url": "https://t.example/b", "warc_ts": ts,
         "html": b"solo", "text": "", "lang": "en"},
    ]
    df = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
         for r in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    got = {r.url: r.text
           for r in extract_pages(df, num_parts=4, n_salts=2).collect()}
    golden = golden_rows(rows)
    assert len(got) == 2
    assert got == {u: g["text"] for u, g in golden.items()}


def test_metrics_backfill_on_resume(spark, corpus_dir):
    """A crash between the data commit and the lineage commit must be
    healed on resume: every committed part_key gets metrics rows."""
    import shutil

    from textextract_spark.io.table import ManifestTable

    out = tempfile.mkdtemp(prefix="textx-backfill-")
    res = run_pipeline(spark, corpus_dir, out, num_parts=8, chunks=4,
                       run_id="first")
    # simulate the crash window: drop the metrics table entirely for the
    # part_keys of the last snapshot (data committed, lineage lost)
    shutil.rmtree(os.path.join(out, "metrics"))
    res2 = run_pipeline(spark, corpus_dir, out, num_parts=8, chunks=4,
                        run_id="resume")
    metrics = ManifestTable(os.path.join(out, "metrics"))
    assert metrics.committed_part_keys() == set(range(8))
    m = metrics.read(spark)
    ext = res2["extracted"].read(spark)
    assert (m.agg(F.sum("doc_count")).collect()[0][0] == ext.count())


def test_oversize_payload_routed_around_udf(spark):
    """Payloads above the cap must come back as skipped:too_large without
    crossing the Arrow boundary, and golden_rows must agree."""
    import datetime as dt

    from textextract_spark.datagen import golden_rows

    ts = dt.datetime(2025, 4, 1)
    rows = [
        {"url": "u://small", "warc_ts": ts,
         "html": b"<html><body><p>" + b"word " * 30 + b"</p></body></html>",
         "text": "", "lang": "en"},
        {"url": "u://huge", "warc_ts": ts,
         "html": b"<html>" + b"x" * (9 * 1024 * 1024), "text": "",
         "lang": "en"},
    ]
    df = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
         for r in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    got = {r.url: (r.status, r.text, r.meta.in_bytes, r.meta.fmt)
           for r in extract_pages(df, num_parts=4, n_salts=2).collect()}
    assert got["u://huge"][0] == "skipped:too_large"
    assert got["u://huge"][1] == ""
    assert got["u://huge"][2] == 9 * 1024 * 1024 + 6
    assert got["u://small"][0] == "ok"
    golden = golden_rows(rows)
    assert golden["u://huge"]["status"] == "skipped:too_large"
    assert {u: g["status"] for u, g in golden.items()} \
        == {u: s for u, (s, _, _, _) in got.items()}


def test_null_warc_ts_keeps_status_row(spark):
    """A url whose only crawl has warc_ts NULL must still get an output
    row (NULL = NULL is NULL under plain equality; the winner join is
    null-safe)."""
    df = spark.createDataFrame(
        [("u://nullts", None,
          b"<html><body><p>" + b"word " * 30 + b"</p></body></html>",
          "", "en"),
         ("u://ok", __import__("datetime").datetime(2025, 1, 2),
          b"plain text body here", "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    got = {r.url: r.status
           for r in extract_pages(df, num_parts=4, n_salts=2).collect()}
    assert set(got) == {"u://nullts", "u://ok"}
    assert got["u://nullts"] == "ok"


def test_precomputed_digest_column(spark, tmp_path):
    """With a crawl-provided digest column the winner side never reads
    payloads; output must equal the compute-md5-here default."""
    import hashlib

    rows = generate_pages(120, seed=3)
    df = spark.createDataFrame(
        [(r["url"], r["warc_ts"].replace(tzinfo=None), r["html"],
          hashlib.md5(r["html"] or b"").hexdigest())
         for r in rows],
        "url string, warc_ts timestamp, html binary, digest string") \
        .withColumn("text", F.lit("")).withColumn("lang", F.lit("en"))
    a = {r.url: r.text for r in
         extract_pages(df, 8, 2, digest_col="digest").collect()}
    b = {r.url: r.text for r in extract_pages(df, 8, 2).collect()}
    assert a == b
    # and the winner agg really prunes: no md5() in the digest-col plan
    plan = extract_pages(df, 8, 2, digest_col="digest") \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "md5(" not in plan


def test_null_digest_keeps_status_row(spark):
    """A crawl-provided digest column may carry NULLs (WARC revisit /
    missing-digest records): such a url must still produce its output row
    (digests are coalesced to '' at ingestion, and the winner join is
    null-safe on __h)."""
    import datetime
    df = spark.createDataFrame(
        [("u://nodigest", datetime.datetime(2025, 1, 2),
          b"plain text body here", None),
         ("u://hasdigest", datetime.datetime(2025, 1, 2),
          b"other plain body", "d41d8cd98f00b204e9800998ecf8427e")],
        "url string, warc_ts timestamp, html binary, digest string") \
        .withColumn("text", F.lit("")).withColumn("lang", F.lit("en"))
    got = {r.url: r.status
           for r in extract_pages(df, 4, 2, digest_col="digest").collect()}
    assert set(got) == {"u://nodigest", "u://hasdigest"}
    assert got["u://nodigest"] == "ok"


def test_exact_input_duplicates_one_output_row(spark):
    """Rows byte-identical on (url, warc_ts, payload) — a replayed WARC
    segment ingested twice — must yield exactly ONE output row per url
    (the winner semi join keeps every copy; the per-task seen-url guard
    drops the clones), including across Arrow batch boundaries."""
    import datetime
    html = b"<html><body><p>" + b"word " * 30 + b"</p></body></html>"
    rows = []
    for i in range(40):
        ts = datetime.datetime(2025, 1, 1, i % 24)
        rows.append((f"u://dup/{i}", ts, html, "", "en"))
        rows.append((f"u://dup/{i}", ts, html, "", "en"))  # exact clone
        if i % 3 == 0:  # triple copies too
            rows.append((f"u://dup/{i}", ts, html, "", "en"))
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string")
    # tiny Arrow batches force the duplicates across batch boundaries
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        out = extract_pages(df, num_parts=4, n_salts=2).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       "10000")
    urls = [r.url for r in out]
    assert len(urls) == 40
    assert len(set(urls)) == 40
    assert all(r.status == "ok" for r in out)


def test_salted_partitioning_bounds_task_skew(spark, tmp_path):
    """SCALE.md's skew claim, measured: on a corpus where ONE hot host
    carries ~20% of all documents, the url-hash + salt repartition must
    keep per-part_key/per-task extraction work balanced (url-level
    hashing is host-skew-immune by construction; this pins it with
    numbers). The doc-count bound is the sharp hash-placement claim
    (noise-free). The compute-time bounds are wall-clock and so carry
    this box's documented 0-40% co-tenant steal band; r4's fixed 2.5x
    over a 1200-doc corpus (~19 docs/part_key) failed reproducibly at
    2.56-2.61 from timing noise alone, so the compute bound is now
    derived from a SAME-RUN noise control: the identical pipeline over
    the same corpus WITHOUT the hot host. Skew can only show up as the
    skewed ratio exceeding the control ratio; steal hits both runs
    alike. A real hot-host concentration (20% of docs in one part_key)
    would put the docs ratio AND the ms ratio at ~13x — far above both
    the relative (1.5x control) and absolute (5x) caps, so the
    assertion stays sharp. Giant-payload tails are a separate,
    per-document granularity bound — see tools/bench_skew.py and the
    MAX_PAYLOAD_BYTES oversize gate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from textextract_spark.datagen import PAGES_SCHEMA, generate_pages

    def write_corpus(rows, name):
        tbl = pa.table({
            "url": [r["url"] for r in rows],
            "warc_ts": [r["warc_ts"].replace(tzinfo=None) for r in rows],
            "html": [r["html"] for r in rows],
            "text": [r["text"] for r in rows],
            "lang": [r["lang"] for r in rows],
        }, schema=PAGES_SCHEMA)
        path = str(tmp_path / name)
        pq.write_table(tbl, path, row_group_size=256)
        return path

    uniform = generate_pages(5000, seed=5)
    skewed = generate_pages(5000, seed=5)
    hot = 0
    for i, r in enumerate(skewed):  # every 5th doc moves to the hot host
        if i % 5 == 0:
            r["url"] = f"https://hot.example/p/{i}"
            hot += 1
    assert hot / len(skewed) > 0.15
    paths = {"uniform": write_corpus(uniform, "uniform.parquet"),
             "skewed": write_corpus(skewed, "skewed.parquet")}

    def max_over_median(vals):
        s = sorted(vals)
        med = s[len(s) // 2]
        return (s[-1] / med) if med else float("inf")

    def measure(path):
        ext = extract_pages(spark.read.parquet(path), num_parts=64,
                            n_salts=8)
        rows = (ext.select(F.spark_partition_id().alias("pid"), "part_key",
                           F.col("meta.ms").alias("ms"))
                .groupBy("pid", "part_key")
                .agg(F.sum("ms").alias("ms"), F.count("*").alias("docs"))
                .collect())
        by_pk_docs: dict = {}
        by_pk_ms: dict = {}
        by_task: dict = {}
        for r in rows:
            by_pk_docs[r.part_key] = by_pk_docs.get(r.part_key, 0) + r.docs
            by_pk_ms[r.part_key] = by_pk_ms.get(r.part_key, 0.0) + r.ms
            by_task[r.pid] = by_task.get(r.pid, 0.0) + r.ms
        return (max_over_median(by_pk_docs.values()),
                max_over_median(by_pk_ms.values()),
                max_over_median(by_task.values()))

    # control first: it doubles as the JIT/extractor warmup for the
    # skewed run, and a warmer control only makes its noise ratio (and
    # therefore the derived bound) conservative in the safe direction
    ctrl_docs, ctrl_ms, ctrl_task = measure(paths["uniform"])
    skew_docs, skew_ms, skew_task = measure(paths["skewed"])

    # (a) the url-hash claim: the hot host must NOT concentrate into any
    # part_key (the checkpoint/commit unit). Doc count is noise-free —
    # the fixed 2.0 bound is unchanged from r3/r4.
    assert skew_docs <= 2.0, (skew_docs, ctrl_docs)
    # compute time: bounded relative to the same-run noise control plus
    # an absolute backstop far below the ~13x a real concentration shows
    assert skew_ms <= max(2.5, 1.5 * ctrl_ms), (skew_ms, ctrl_ms)
    assert skew_ms <= 5.0, (skew_ms, ctrl_ms)

    # (b) per-TASK compute: 512 (part_key, salt) combos hash into one
    # task per slot (8 here, not num_parts=64), so each task averages
    # 64 combos and hash-clumping of combos into tasks stays bounded.
    # tools/bench_skew.py records the measured ratios in BENCH/SKEW.md.
    assert skew_task <= max(3.5, 1.5 * ctrl_task), (skew_task, ctrl_task)
    assert skew_task <= 7.0, (skew_task, ctrl_task)


def test_manifest_time_travel(spark, tmp_path):
    """VERSION AS OF semantics: every CAS commit leaves its numbered
    manifest in place, so any historical table state stays readable —
    append history, pre-overwrite state, and pre-merge keyed state."""
    import pytest as _pytest

    from textextract_spark.io.table import ManifestTable
    from textextract_spark.operators.maintenance import merge_counters

    tbl = ManifestTable(str(tmp_path / "tt"))
    tbl.append(spark.range(0, 3), part_keys=[0], run_id="a")   # v1
    tbl.append(spark.range(3, 5), part_keys=[1], run_id="b")   # v2
    assert tbl.current_version() == 2
    assert tbl.read(spark, version=1).count() == 3
    assert tbl.read(spark, version=2).count() == 5
    tbl.overwrite(spark.range(100, 101))                       # v3
    assert tbl.read(spark).count() == 1
    assert tbl.read(spark, version=2).count() == 5  # pre-overwrite intact
    with _pytest.raises(ValueError, match="no manifest version 99"):
        tbl.read(spark, version=99)

    keyed = ManifestTable(str(tmp_path / "ttk"))
    day1 = spark.createDataFrame([(1, 5)], "user_id INT, requests INT")
    merge_counters(spark, keyed, day1, ["user_id"], ["requests"])  # v1
    day2 = spark.createDataFrame([(1, 2)], "user_id INT, requests INT")
    merge_counters(spark, keyed, day2, ["user_id"], ["requests"])  # v2
    from textextract_spark.operators.maintenance import BUCKET_COL
    now = keyed.read_keyed(spark, BUCKET_COL).collect()
    then = keyed.read_keyed(spark, BUCKET_COL, version=1).collect()
    assert [(r.user_id, r.requests) for r in now] == [(1, 7)]
    assert [(r.user_id, r.requests) for r in then] == [(1, 5)]


def test_compact_preserves_data_checkpoints_and_history(spark, tmp_path):
    """compact() (rewrite_data_files analog): identical rows, preserved
    committed_part_keys (resume still skips), fewer files, pre-compact
    layout still reachable via VERSION AS OF, and a concurrent writer
    racing the compaction commit loses cleanly."""
    import glob
    import os

    import pytest as _pytest

    from textextract_spark.io.table import (
        CommitConflictError, ManifestTable)

    tbl = ManifestTable(str(tmp_path / "tbl"))
    for pk in range(3):
        tbl.append(spark.range(pk * 10, pk * 10 + 10).repartition(4),
                   part_keys=[pk], run_id=f"w{pk}")
    before = sorted(r.id for r in tbl.read(spark).collect())
    pre_ver = tbl.current_version()
    n_files_before = len(glob.glob(
        os.path.join(tbl.path, "snap-*", "*.parquet")))

    sid = tbl.compact(spark, target_files=2, run_id="maint")
    assert sid is not None
    assert sorted(r.id for r in tbl.read(spark).collect()) == before
    assert tbl.committed_part_keys() == {0, 1, 2}
    live_dir = os.path.join(tbl.path, f"snap-{sid}")
    assert len(glob.glob(os.path.join(live_dir, "*.parquet"))) <= 2
    assert n_files_before >= 12  # 3 snapshots x 4 files
    # time travel: the pre-compaction version still reads identically
    assert sorted(
        r.id for r in tbl.read(spark, version=pre_ver).collect()) == before
    # a second compact on a single-snapshot table is a no-op
    assert tbl.compact(spark) is None

    # concurrency: writer commits between compaction's load and publish
    tbl.append(spark.range(100, 105), part_keys=[3], run_id="w3")
    ver, manifest = tbl._load_with_version()
    racer = ManifestTable(tbl.path)
    # simulate: compaction loaded `ver`, then the racer publishes ver+1
    manifest_r = {"snapshots": manifest["snapshots"] + [{
        "snapshot_id": "rrrr", "dir": "snap-rrrr", "part_keys": [4],
        "run_id": "race", "parent": None}]}
    racer._publish(manifest_r, ver)
    with _pytest.raises(CommitConflictError):
        # the compaction now tries to publish against its stale parent
        compacted = {"snapshots": [manifest["snapshots"][0]]}
        tbl._publish(compacted, ver)


def test_compact_replace_partitions_bucket_aware(spark, tmp_path):
    """Bucket-aware compaction (r4 raised NotImplementedError): over a
    merge_counters history, read_keyed before == after byte-for-byte,
    the compacted snapshot owns every ever-replaced bucket, subsequent
    merges keep working, VERSION AS OF still resolves the pre-compaction
    ownership, and a mixed append+replace history stays rejected."""
    import pytest as _pytest

    from textextract_spark.io.table import ManifestTable
    from textextract_spark.operators.maintenance import (
        BUCKET_COL, merge_counters)

    tbl = ManifestTable(str(tmp_path / "counters"))

    def upd(rows):
        return spark.createDataFrame(rows, "user_id int, n long")

    merge_counters(spark, tbl, upd([(i, 1) for i in range(40)]),
                   ["user_id"], ["n"])
    merge_counters(spark, tbl, upd([(i, 2) for i in range(0, 40, 2)]),
                   ["user_id"], ["n"])
    merge_counters(spark, tbl, upd([(i, 5) for i in range(35, 45)]),
                   ["user_id"], ["n"])
    before = sorted((r.user_id, r.n)
                    for r in tbl.read_keyed(spark, BUCKET_COL).collect())
    pre_ver = tbl.current_version()
    assert len(tbl.snapshots()) == 3

    sid = tbl.compact(spark, target_files=2, run_id="maint")
    assert sid is not None
    snaps = tbl.snapshots()
    assert len(snaps) == 1 and snaps[0]["snapshot_id"] == sid
    after = sorted((r.user_id, r.n)
                   for r in tbl.read_keyed(spark, BUCKET_COL).collect())
    assert after == before
    # the compacted snapshot owns every bucket the history ever replaced
    assert snaps[0]["replaces"][BUCKET_COL] == sorted(
        {b for s in tbl._load_version(pre_ver)["snapshots"]
         for b in s["replaces"][BUCKET_COL]})

    # merges keep working on the compacted table
    merge_counters(spark, tbl, upd([(0, 100)]), ["user_id"], ["n"])
    got = {r.user_id: r.n
           for r in tbl.read_keyed(spark, BUCKET_COL).collect()}
    assert got[0] == dict(before)[0] + 100
    assert len(got) == len(before)

    # VERSION AS OF: pre-compaction ownership still resolves identically
    tt = sorted((r.user_id, r.n) for r in
                tbl.read_keyed(spark, BUCKET_COL,
                               version=pre_ver).collect())
    assert tt == before

    # mixed append+replace history is rejected, not silently collapsed
    mixed = ManifestTable(str(tmp_path / "mixed"))
    mixed.replace_partitions(
        upd([(1, 1)]).withColumn(BUCKET_COL, F.lit(0)), BUCKET_COL, [0])
    mixed.append(upd([(2, 2)]), part_keys=[0])
    with _pytest.raises(NotImplementedError, match="bucket-aware"):
        mixed.compact(spark)


def test_every_write_path_commits_zstd(spark, tmp_path):
    """Every snapshot is zstd parquet, whichever write path committed it
    (every column chunk's footer says so), and its rows read back as
    written. A table that still holds a snappy snapshot, written the
    way earlier versions wrote, reads and compacts with every row of
    both snapshots."""
    import glob

    import pyarrow.parquet as pq

    from textextract_spark.io.table import ManifestTable

    def docs(lo, hi):
        return spark.createDataFrame(
            [(f"u://{i}", "word " * i, [(0, i), (i, 2 * i)], i % 4)
             for i in range(lo, hi)],
            "url string, text string, "
            "spans array<struct<start:int,end:int>>, b int")

    def rows(df):
        return sorted(tuple(r) for r in
                      df.select("url", "text", "spans", "b").collect())

    def codecs(tbl, sid):
        files = glob.glob(os.path.join(tbl.path, f"snap-{sid}", "**",
                                       "*.parquet"), recursive=True)
        assert files, sid
        out = set()
        for f in files:
            md = pq.ParquetFile(f).metadata
            out |= {md.row_group(g).column(c).compression
                    for g in range(md.num_row_groups)
                    for c in range(md.num_columns)}
        return out

    tbl = ManifestTable(str(tmp_path / "appended"))
    sid = tbl.append(docs(0, 50).repartition(3), part_keys=[0])
    assert codecs(tbl, sid) == {"ZSTD"}
    assert rows(tbl.read(spark)) == rows(docs(0, 50))
    tbl.append(docs(50, 80), part_keys=[1])
    sid = tbl.compact(spark, target_files=2)              # append history
    assert codecs(tbl, sid) == {"ZSTD"}
    assert rows(tbl.read(spark)) == rows(docs(0, 80))
    sid = tbl.overwrite(docs(100, 130))
    assert codecs(tbl, sid) == {"ZSTD"}
    assert rows(tbl.read(spark)) == rows(docs(100, 130))

    keyed = ManifestTable(str(tmp_path / "keyed"))
    sid = keyed.replace_partitions(docs(0, 40), "b", [0, 1, 2, 3])
    assert codecs(keyed, sid) == {"ZSTD"}
    new = docs(40, 60).filter(F.col("b") < 2)
    sid = keyed.replace_partitions(new, "b", [0, 1])
    assert codecs(keyed, sid) == {"ZSTD"}
    want = rows(docs(0, 40).filter(F.col("b") >= 2).unionByName(new))
    assert rows(keyed.read_keyed(spark, "b")) == want
    sid = keyed.compact(spark, target_files=2)            # bucket-aware
    assert codecs(keyed, sid) == {"ZSTD"}
    assert rows(keyed.read_keyed(spark, "b")) == want

    mixed = ManifestTable(str(tmp_path / "mixed"))
    old = mixed._commit(docs(0, 30).write.mode("overwrite").parquet,
                        part_keys=[0])
    assert codecs(mixed, old) == {"SNAPPY"}
    mixed.append(docs(30, 60), part_keys=[1])
    assert rows(mixed.read(spark)) == rows(docs(0, 60))
    sid = mixed.compact(spark, target_files=2)
    assert codecs(mixed, sid) == {"ZSTD"}
    assert rows(mixed.read(spark)) == rows(docs(0, 60))
    assert mixed.committed_part_keys() == {0, 1}


def test_resume_after_compaction(spark, corpus_dir, golden):
    """Maintenance between ingest waves: compacting the chunked output
    tables must not change a byte of data and must keep the resume
    contract — a rerun over the same input still skips every part_key."""
    import tempfile

    from textextract_spark.io.table import ManifestTable
    from textextract_spark.pipeline import run_pipeline

    out = tempfile.mkdtemp(prefix="textx-compact-")
    run_pipeline(spark, corpus_dir, out, num_parts=8, chunks=4,
                 run_id="ingest")
    ext = ManifestTable(os.path.join(out, "extracted"))
    met = ManifestTable(os.path.join(out, "metrics"))
    before = {r.url: r.text for r in ext.read(spark).collect()}
    assert len(ext.snapshots()) == 4

    assert ext.compact(spark, run_id="maint") is not None
    assert met.compact(spark, run_id="maint") is not None
    assert len(ext.snapshots()) == 1
    assert {r.url: r.text
            for r in ext.read(spark).collect()} == before
    assert before == {u: g["text"] for u, g in golden.items()}

    # rerun: everything committed -> nothing reprocessed, table unchanged
    res = run_pipeline(spark, corpus_dir, out, num_parts=8, chunks=4,
                       run_id="resume")
    assert sorted(res["committed_part_keys"]) == list(range(8))
    assert len(ext.snapshots()) == 1  # no new snapshot was needed
    assert {r.url: r.text
            for r in ext.read(spark).collect()} == before


def test_run_pipeline_curate(spark, corpus_dir, golden):
    """run_pipeline(curate=True) commits a `curated` decisions table
    that partitions the corpus exactly: drop:extract rows == non-ok
    statuses, every eligible content-hash group keeps exactly its min
    url, and a rerun recomputes the same decisions (overwrite
    semantics)."""
    import tempfile
    from collections import defaultdict

    from textextract_spark.pipeline import run_pipeline

    out = tempfile.mkdtemp(prefix="textx-curate-")
    res = run_pipeline(spark, corpus_dir, out, num_parts=8, chunks=2,
                       run_id="c1", curate=True)
    cur = {r.url: r for r in res["curated"].read(spark).collect()}
    assert set(cur) == set(golden)

    n_bad = sum(1 for g in golden.values() if g["status"] != "ok")
    assert sum(1 for r in cur.values()
               if r.decision == "drop:extract") == n_bad
    # per eligible text group: exactly one keep, and it's the min url
    groups = defaultdict(list)
    for url, r in cur.items():
        if r.decision in ("keep", "drop:dup"):
            groups[r.text].append((url, r.decision))
    for members in groups.values():
        keeps = [u for u, d in members if d == "keep"]
        assert keeps == [min(u for u, _ in members)]
    # the full-journey columns: every keep carries a real perplexity
    # bucket and split; every drop carries '-'
    for r in cur.values():
        if r.decision == "keep":
            assert r.ppl_bucket in ("head", "middle", "tail")
            assert r.split in ("train", "val", "test")
        else:
            assert r.ppl_bucket == "-" and r.split == "-"
    # no benchmark supplied -> the decontamination stage passes all
    assert not any(r.decision == "drop:contaminated"
                   for r in cur.values())
    # rerun: same decisions/buckets/splits, single live curated snapshot
    res2 = run_pipeline(spark, corpus_dir, out, num_parts=8, chunks=2,
                        run_id="c2", curate=True)
    cur2 = {r.url: (r.decision, r.ppl_bucket, r.split)
            for r in res2["curated"].read(spark).collect()}
    assert cur2 == {u: (r.decision, r.ppl_bucket, r.split)
                    for u, r in cur.items()}
    assert len(res2["curated"].snapshots()) == 1


def test_run_pipeline_curate_nothing_kept(spark, tmp_path):
    """A crawl of empty-body pages leaves no keep, so the perplexity
    model trains on an empty reference. The curate run must still
    commit one drop:extract row per page instead of dividing by the
    model's zero vocabulary (Spark's ANSI mode raises DIVIDE_BY_ZERO)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from textextract_spark.datagen import PAGES_SCHEMA
    from textextract_spark.pipeline import run_pipeline

    urls = [f"https://empty.example/p/{i}" for i in range(6)]
    pq.write_table(pa.table({
        "url": urls,
        "warc_ts": [dt.datetime(2024, 1, 1)] * 6,
        "html": [b"<html><head></head><body></body></html>"] * 6,
        "text": [""] * 6,
        "lang": ["en"] * 6,
    }, schema=PAGES_SCHEMA), str(tmp_path / "pages.parquet"))
    res = run_pipeline(spark, str(tmp_path / "pages.parquet"),
                       str(tmp_path / "out"), num_parts=4, chunks=1,
                       run_id="e1", curate=True)
    cur = {r.url: (r.decision, r.ppl_bucket, r.split)
           for r in res["curated"].read(spark).collect()}
    assert cur == {u: ("drop:extract", "-", "-") for u in urls}


def test_curation_full_decisions(spark):
    """curation_decisions_full on planted cases: the neardup stages
    keep their verdicts, a keep sharing an exact 8-gram with the eval
    set becomes drop:contaminated, final keeps get ppl buckets and
    deterministic splits, drops get '-', and omitting the eval set
    disables only the decontamination stage."""
    from textextract_spark.pipeline import curation_decisions_full

    A = ("alpha bravo charlie delta echo foxtrot golf hotel india "
         "juliet kilo lima mike november oscar papa quebec romeo")
    B = ("zulu yankee xray whiskey victor uniform tango sierra "
         "quebec papa oscar november mike lima kilo juliet india")
    C = ("one two three four five six seven eight nine ten eleven "
         "twelve thirteen fourteen fifteen sixteen seventeen eighteen")
    rows = [
        ("u://a", "ok", A),
        ("u://b", "ok", A),                    # exact dup
        ("u://c", "ok", A + " postscriptum"),  # near dup of a
        ("u://d", "ok", B),                    # clean distinct keep
        ("u://e", "ok", C),                    # contaminated: C is eval
        ("u://f", "error:boom", ""),           # extraction fail
    ]
    ex = spark.createDataFrame(rows, "url string, status string, "
                               "text string")
    eval_docs = spark.createDataFrame([(C,)], "text string")
    got = {r.url: r for r in
           curation_decisions_full(ex, eval_docs).collect()}
    assert {u: r.decision for u, r in got.items()} == {
        "u://a": "keep", "u://b": "drop:dup", "u://c": "drop:neardup",
        "u://d": "keep", "u://e": "drop:contaminated",
        "u://f": "drop:extract"}
    for u, r in got.items():
        if r.decision == "keep":
            assert r.ppl_bucket in ("head", "middle", "tail")
            assert r.split in ("train", "val", "test")
        else:
            assert r.ppl_bucket == "-" and r.split == "-", u
    # without a benchmark the contaminated doc survives as a keep
    got2 = {r.url: r.decision
            for r in curation_decisions_full(ex).collect()}
    assert got2["u://e"] == "keep"
    assert {u: d for u, d in got2.items() if u != "u://e"} == {
        u: r.decision for u, r in got.items() if u != "u://e"}


def test_curation_neardup_decisions(spark, drifting_chain):
    """curation_decisions_neardup on planted cases: exact copies fall in
    stage 1 (drop:dup), one-word-appended near copies fall in stage 2
    (drop:neardup), a CHAIN of near copies collapses into one cluster
    with a single min-url keeper, and distinct/short/failed docs keep
    their stage-1 decisions. A page that drifts on every crawl forms a
    chain whose last copy is 35 hops from its min url; it too collapses
    onto that one keeper."""
    from textextract_spark.pipeline import (NEARDUP_THRESHOLD,
                                            curation_decisions_neardup)

    A = ("alpha bravo charlie delta echo foxtrot golf hotel india "
         "juliet kilo lima mike november oscar papa quebec romeo")
    B = ("zulu yankee xray whiskey victor uniform tango sierra "
         "quebec papa oscar november mike lima kilo juliet india")
    rows = [
        ("u://a", "ok", A),
        ("u://b", "ok", A),                           # exact dup
        ("u://c", "ok", A + " postscriptum"),         # near dup of a
        ("u://g", "ok", A + " postscriptum addendum"),  # chain
        ("u://d", "ok", B),                           # distinct
        ("u://e", "ok", "short"),                     # quality gate
        ("u://f", "error:boom", ""),                  # extraction fail
    ]
    drift, hops = drifting_chain
    assert hops(NEARDUP_THRESHOLD) > 20
    rows += [(f"u://drift/{i:02d}", "ok", t) for i, t in enumerate(drift)]
    ex = spark.createDataFrame(rows, "url string, status string, "
                               "text string")
    got = {r.url: r.decision
           for r in curation_decisions_neardup(ex).collect()}
    assert got == {"u://a": "keep",
                   "u://b": "drop:dup",
                   "u://c": "drop:neardup",
                   "u://g": "drop:neardup",
                   "u://d": "keep",
                   "u://e": "drop:quality",
                   "u://f": "drop:extract",
                   **{f"u://drift/{i:02d}": "drop:neardup" if i else "keep"
                      for i in range(len(drift))}}


def test_pyfiles_bundle_deterministic_and_importable(tmp_path):
    """The --py-files bundle (north_rule deploy mode) must (a) rebuild
    byte-identically from the same tree, and (b) serve the package via
    zipimport alone — a fresh interpreter with ONLY the zip on its path
    imports the package and runs the extractor on a real page."""
    import hashlib
    import subprocess
    import sys

    from tools.make_pyfiles import build

    z1 = build(str(tmp_path / "a.zip"))
    z2 = build(str(tmp_path / "b.zip"))
    d1 = hashlib.sha256(open(z1, "rb").read()).hexdigest()
    d2 = hashlib.sha256(open(z2, "rb").read()).hexdigest()
    assert d1 == d2

    probe = (
        "import sys; sys.path = [sys.argv[1]] + "
        "[p for p in sys.path if 'repo' not in p]\n"
        "from textextract_spark.core.extract import extract_document\n"
        "body = 'the bundle extracts this paragraph end to end ' * 4\n"
        "r = extract_document(('<html><body><p>' + body "
        "+ '</p></body></html>').encode(), fmt='html')\n"
        "assert r.status == 'ok' and r.text == body.strip(), r\n"
        "import textextract_spark\n"
        "assert sys.argv[1] in textextract_spark.__file__\n"
        "print('ZIPIMPORT-OK')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, z1], cwd=str(tmp_path),
        capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert "ZIPIMPORT-OK" in out.stdout
