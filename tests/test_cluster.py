"""Runs on multi-executor masters (Spark's ``local-cluster``): each job
is a spark-submit of ``tests/cluster_job.py`` with only the
``--py-files`` bundle on its path, in a JVM of its own, because the
session fixture owns this process's JVM. A cluster job is mostly
start-up and per-job latency on one-core executors, so the module
starts all of them at once and each test waits for its own."""

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from extract_bench.inputs import corpus_digest, prepare
from extract_bench.workloads import extracted_digests
from textextract_spark.io.table import ManifestTable
from textextract_spark.pipeline import run_pipeline
from tools.make_pyfiles import build


class _Submit:
    """spark-submit of the job to ``master``, started on construction."""

    def __init__(self, d, master: str, *args: str):
        self.master, self.bundle = master, str(d / "textextract_spark.zip")
        self.log = d / f"{master}.log"
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env["PYSPARK_PYTHON"] = sys.executable
        # short-lived JVMs: C1 only and the serial collector halve their
        # CPU (the 3-executor job measured 131 -> 62 CPU-s)
        jvm = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
        cmd = [os.path.join(_find_spark_home(), "bin", "spark-submit"),
               "--master", master, "--driver-java-options", jvm,
               "--conf", f"spark.executor.extraJavaOptions={jvm}",
               "--conf", f"spark.checkpoint.dir={d / 'checkpoints'}",
               "--py-files", self.bundle, str(d / "job.py"), *args]
        # the driver's Python output (JSON line, traceback) goes to
        # stdout and Spark's log to stderr; files, so no pipe fills
        with open(self.log, "w") as out, open(f"{self.log}.err", "w") as err:
            self.proc = subprocess.Popen(cmd, cwd=d, env=env, stdout=out,
                                         stderr=err)

    def result(self) -> dict:
        """The job's JSON line, once it ran on ``master`` from the
        bundle."""
        assert self.proc.wait(timeout=600) == 0, self.log.read_text()[-4000:]
        res = json.loads(self.log.read_text().strip().splitlines()[-1])
        assert res["master"] == self.master
        assert res["package"].startswith(self.bundle)
        return res


@pytest.fixture(scope="module")
def cluster(tmp_path_factory):
    d = tmp_path_factory.mktemp("cluster")
    build(str(d / "textextract_spark.zip"))
    shutil.copy(os.path.join(os.path.dirname(__file__), "cluster_job.py"),
                d / "job.py")
    pages = prepare(str(d / "inputs"), "html_crawl", 120, 3)
    crawl = prepare(str(d / "inputs"), "curate_rerun", 60, 42)
    jobs = {n: _Submit(d, f"local-cluster[{n},1,1024]", "extract",
                       pages.source, str(d / f"out-{n}"))
            for n in (1, 3)}
    jobs["kill"] = _Submit(d, "local-cluster[2,1,1024]", "curate-kill",
                           crawl.source, str(d / "out-kill"),
                           crawl.eval_path)
    yield d, pages, crawl, jobs
    for job in jobs.values():  # a failed test may leave a job running
        job.proc.terminate()  # SIGTERM: the driver stops its executors
        try:
            job.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            job.proc.kill()
            job.proc.wait()


def test_extraction_bytes_identical_across_cluster_sizes(spark, cluster):
    """The extracted table is the same bytes on one executor and on
    three: its digest equals the golden digest, the pin every local run
    of the benchmark's html_crawl workload is gated against."""
    d, pages, _, jobs = cluster
    for n in (1, 3):
        jobs[n].result()
        got, dups, _ = extracted_digests(
            spark, ManifestTable(str(d / f"out-{n}" / "extracted")))
        assert dups == 0
        assert corpus_digest(got) == corpus_digest(pages.golden)


def test_curate_survives_executor_loss(spark, cluster):
    """Losing an executor after the near-dup stage materialized its
    decision table must not fail the --curate run: the curated rows
    equal a local run's."""
    d, _, crawl, jobs = cluster
    run_pipeline(spark, crawl.source, str(d / "out-local"), num_parts=8,
                 chunks=1, input_format="warc", curate=True,
                 eval_path=crawl.eval_path)
    assert len(jobs["kill"].result()["killed"]) == 1

    def curated(out):
        return (ManifestTable(str(d / out / "curated")).read(spark)
                .drop("meta").orderBy("url").collect())

    want = curated("out-local")
    assert {"keep", "drop:neardup"} <= {r.decision for r in want}
    assert curated("out-kill") == want
