"""spark-submit driver of the multi-executor tests (tests/test_cluster.py):

    spark-submit --master "local-cluster[2,1,1024]" \\
        --conf spark.checkpoint.dir=<dir> --py-files textextract_spark.zip \\
        cluster_job.py {extract|curate-kill} <pages> <out> [<eval parquet>]

``extract`` runs the chunked extraction of a parquet corpus.
``curate-kill`` runs ``--curate`` over WARC archives and kills one
executor once the near-dup stage's decision table has materialized.
Both build their session with ``get_spark()`` and print one JSON line:
the master, where the package was imported from, and the executor
killed.
"""

import json
import sys
import time

import textextract_spark
from textextract_spark import pipeline
from textextract_spark.session import get_spark


def _rdd_blocks(sc) -> dict[str, int]:
    """Cached RDD blocks per live executor."""
    status = sc._jsc.sc().env().blockManager().master().getStorageStatus()
    return {s.blockManagerId().executorId(): s.rddBlocks().size()
            for s in status if s.blockManagerId().executorId() != "driver"}


def kill_after_decisions(sc, killed: list) -> None:
    """Patch ``pipeline._keeps`` (called on the decision table right
    after it is materialized): run it, then kill the executor that holds
    most of its blocks, and go on once the driver has dropped that
    executor."""
    keeps = pipeline._keeps

    def hook(decided):
        decided.count()
        held = _rdd_blocks(sc)
        victim = max(sorted(held), key=held.get)
        sc._jsc.sc().killExecutor(victim)
        deadline = time.monotonic() + 60
        while victim in _rdd_blocks(sc):
            if time.monotonic() > deadline:
                raise RuntimeError(f"executor {victim} was not removed")
            time.sleep(0.2)
        killed.append(victim)
        return keeps(decided)

    pipeline._keeps = hook


def main() -> None:
    mode, pages, out = sys.argv[1:4]
    spark = get_spark(app_name=f"cluster-{mode}")
    killed: list[str] = []
    if mode == "curate-kill":
        kill_after_decisions(spark.sparkContext, killed)
        pipeline.run_pipeline(spark, pages, out, num_parts=8, chunks=1,
                              input_format="warc", curate=True,
                              eval_path=sys.argv[4])
    else:
        pipeline.run_pipeline(spark, pages, out, num_parts=8, chunks=2)
    print(json.dumps({"master": spark.sparkContext.master,
                      "package": textextract_spark.__file__,
                      "killed": killed}))
    spark.stop()


if __name__ == "__main__":
    main()
