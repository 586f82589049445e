"""WARC source: round-trip build->read, crawl-layout gzip members,
malformed tolerance, and end-to-end extraction over a WARC input."""

import os
import tempfile

from textextract_spark.datagen import generate_pages, golden_rows
from textextract_spark.io.warc import (
    build_warc, parse_warc_bytes, read_warc, warc_records)


def _records(n=60, seed=31):
    return warc_records(generate_pages(n, seed=seed), with_digest=False)


def test_warc_roundtrip_pure_python():
    recs = _records()
    for compress in (False, True):
        data = build_warc(recs, compress=compress)
        got = parse_warc_bytes(data)
        assert len(got) == len(recs)
        for a, b in zip(got, recs):
            assert a["url"] == b["url"]
            assert a["warc_ts"] == b["warc_ts"]
            assert a["html"] == b["html"]


def test_warc_malformed_tolerance():
    recs = _records(10)  # note: generate_pages may append dup-crawl rows
    data = build_warc(recs, compress=False)
    # truncation mid-record: parse what's intact, never raise
    got = parse_warc_bytes(data[: len(data) // 2])
    assert 0 < len(got) < len(recs)
    # garbage between records: resync on the next WARC/ marker
    first = build_warc(recs[:1], compress=False)
    rest = build_warc(recs[1:], compress=False)
    got = parse_warc_bytes(first + b"garbage bytes here" + rest)
    assert len(got) == len(recs)
    # corrupt gzip: empty result, no raise
    assert parse_warc_bytes(b"\x1f\x8b" + b"\x00" * 40) == []


def test_warc_torn_gzip_member_keeps_intact_records():
    """Common-Crawl layout = one gzip member per record, concatenated. A
    file cut mid-final-member must still yield every intact record (a
    whole-stream gzip.decompress would raise and discard all of them),
    and a body truncated by the tear must NOT surface under the full
    header digest."""
    recs = _records(10)
    data = build_warc(recs, compress=True)
    torn = data[:-20]  # tear inside the last gzip member
    got = parse_warc_bytes(torn)
    assert len(recs) - 1 <= len(got) < len(recs) + 1
    for a, b in zip(got, recs):
        assert a["html"] == b["html"]  # every yielded body is intact


def test_read_warc_extracts_end_to_end(spark):
    """WARC files -> read_warc -> extract_pages(digest_col) must equal the
    golden per-url extraction, with the crawl-provided digest driving the
    winner aggregation (no md5 in the plan)."""
    from pyspark.sql import functions as F

    from textextract_spark.pipeline import extract_pages

    rows = generate_pages(120, seed=31)
    recs = warc_records(rows)
    d = tempfile.mkdtemp(prefix="warcsrc-")
    half = len(recs) // 2
    for i, chunk in enumerate((recs[:half], recs[half:])):
        with open(os.path.join(d, f"crawl-{i}.warc.gz"), "wb") as f:
            f.write(build_warc(chunk, compress=True))

    pages = read_warc(spark, d).withColumn("lang", F.lit("en"))
    out = extract_pages(pages, num_parts=8, n_salts=2, digest_col="digest")
    got = {r.url: (r.text, r.status) for r in out.collect()}
    golden = golden_rows(rows)
    assert got == {u: (g["text"], g["status"]) for u, g in golden.items()}
    # digest column really feeds the winner agg: no md5() in the plan
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "md5(" not in plan


def test_warc_roundtrip_property():
    """Property: build->parse is the identity on (url, ts, body) for
    arbitrary binary bodies — including bodies that CONTAIN record
    markers, CRLF runs, and gzip magic."""
    from datetime import datetime

    from hypothesis import given, settings
    from hypothesis import strategies as st

    bodies = st.lists(
        st.binary(min_size=0, max_size=400), min_size=1, max_size=8)

    @settings(max_examples=60, deadline=None)
    @given(bodies=bodies, compress=st.booleans())
    def check(bodies, compress):
        recs = [{"url": f"https://h.example/p/{i}",
                 "warc_ts": datetime(2025, 1, 1, 0, 0, i % 60),
                 "html": b} for i, b in enumerate(bodies)]
        got = parse_warc_bytes(build_warc(recs, compress=compress))
        assert [(g["url"], g["warc_ts"], g["html"]) for g in got] \
            == [(r["url"], r["warc_ts"], r["html"]) for r in recs]

    check()


def test_warc_pipeline_resume(spark, tmp_path, crash_after_first_chunk):
    """run_pipeline over WARC input: crash after the first chunk, resume,
    final table equals the single-run result and committed part_keys are
    not reprocessed — the chunk filter and the parsed-pages persist must
    compose with checkpoint/resume."""
    import pytest as _pytest

    from textextract_spark.pipeline import run_pipeline

    rows = generate_pages(150, seed=13)
    d = tmp_path / "crawl"
    d.mkdir()
    recs = warc_records(rows)
    with open(d / "crawl-0.warc.gz", "wb") as f:
        f.write(build_warc(recs, compress=True))

    out1 = str(tmp_path / "out1")
    res1 = run_pipeline(spark, str(d), out1, num_parts=8, chunks=4,
                        run_id="single", input_format="warc")
    full = {r.url: (r.text, r.status)
            for r in res1["extracted"].read(spark).collect()}
    assert len(full) == len({r["url"] for r in rows})

    out2 = str(tmp_path / "out2")
    with (crash_after_first_chunk(),
          _pytest.raises(RuntimeError, match="injected failure")):
        run_pipeline(spark, str(d), out2, num_parts=8, chunks=4,
                     run_id="r1", input_format="warc")
    res2 = run_pipeline(spark, str(d), out2, num_parts=8, chunks=4,
                        run_id="r2", input_format="warc")
    assert sorted(res2["committed_part_keys"]) == list(range(8))
    resumed = {r.url: (r.text, r.status)
               for r in res2["extracted"].read(spark).collect()}
    assert resumed == full


def test_warc_bad_content_length_resyncs():
    """A record with a missing or non-numeric Content-Length must not end
    the scan: the parser resyncs on the next marker and keeps every later
    intact record (one bad header mid-archive used to discard the rest)."""
    recs = _records(6)
    good = build_warc(recs, compress=False)
    bad_missing = (b"WARC/1.0\r\nWARC-Type: response\r\n"
                   b"WARC-Target-URI: https://bad.example/missing\r\n"
                   b"WARC-Date: 2025-01-01T00:00:00Z\r\n\r\n")
    bad_nan = (b"WARC/1.0\r\nWARC-Type: response\r\n"
               b"WARC-Target-URI: https://bad.example/nan\r\n"
               b"Content-Length: not-a-number\r\n\r\n")
    half = build_warc(recs[:3], compress=False)
    rest = build_warc(recs[3:], compress=False)
    got = parse_warc_bytes(half + bad_missing + rest)
    assert [g["url"] for g in got] == [r["url"] for r in recs]
    got = parse_warc_bytes(bad_nan + good)
    assert [g["url"] for g in got] == [r["url"] for r in recs]


def test_warc_resync_any_version_marker():
    """Resync accepts any WARC/<digit> marker (0.x / 1.x / future 2.x) —
    garbage before a WARC/2.0 record must not end the scan; non-version
    'WARC/x' bytes are not markers."""
    rec2 = (b"WARC/2.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://v2.example/a\r\n"
            b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
            b"Content-Length: 4\r\n\r\nbody\r\n\r\n")
    got = parse_warc_bytes(b"garbage WARC/x not-a-marker " + rec2)
    assert len(got) == 1 and got[0]["url"] == "https://v2.example/a"
    assert got[0]["html"] == b"body"


def test_warc_11_fractional_second_dates():
    """WARC 1.1 allows fractional-second WARC-Date values; unparseable
    dates keep the record with a NULL timestamp (null-safe dedup)."""
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: https://x.example/a\r\n"
           b"WARC-Date: 2025-01-01T00:00:00.123456Z\r\n"
           b"Content-Length: 4\r\n\r\nbody\r\n\r\n"
           b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: https://x.example/b\r\n"
           b"WARC-Date: not-a-date\r\n"
           b"Content-Length: 4\r\n\r\nbody\r\n\r\n")
    got = parse_warc_bytes(rec)
    assert len(got) == 2
    assert got[0]["warc_ts"].microsecond == 123456
    assert got[1]["warc_ts"] is None
    assert got[1]["html"] == b"body"
