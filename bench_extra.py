"""Round-7 optimization harness (guide §1.4): per-query noop-sink
isolation timings and .explain("formatted") plan capture, WITHOUT
touching the frozen driver-facing bench.py.

Usage:
    python bench_extra.py time  [sf_dir] [q1 q2 ...]   # noop timings
    python bench_extra.py plans [sf_dir] [out_dir] [q1 q2 ...]
    python bench_extra.py cpu   [calls] [seed]         # CPU split
    python bench_extra.py bytes <table_dir>            # bytes by column
    python bench_extra.py charlm [sf_dir]              # char-LM split

`time` prints one JSON line {"queries": {name: best_sec}, "sf": ...}
with best-of-N (default 2, $BENCH_EXTRA_REPS) after one untimed warm
rep per query. `plans` writes <out_dir>/<query>.txt with the formatted
physical plan. Jobs are labelled via setJobDescription (guide §1.5).

`cpu` runs an html_crawl-shaped ``run_pipeline(num_parts=16,
chunks=2)`` over ``datagen.generate_pages(1600, seed)`` (default seed 3)
on ``local[nproc]``: one untimed warm-up call, then ``calls`` (default
3) timed calls, each printing one JSON line of wall time and CPU
seconds: the driver, the JVM by thread group (task threads, C1/C2
compiler, GC, other) and the summed Python workers, plus the Python
task count. CPU comes from this process tree's /proc/<pid>/stat and
/proc/<pid>/task/*/stat; a JVM thread that exits during a call counts
as "other". The task count is the completed tasks of the call's stages
that run a Python operator (from Spark's status store). ``jit_compile_ms``
is the JVM's total JIT compilation time spent during the call (the
CompilationMXBean, read through py4j).

`charlm` splits the char_lm_ppl driver row's two stages on the
``documents`` table of ``sf_dir`` (default $SPARK_GRAFT_SF_DIR, else
sf0.1) on ``local[$SPARK_GRAFT_CPUS or nproc]``. It prints one JSON
line: the best-of-N (default 3, $BENCH_EXTRA_REPS) seconds and job
count of ``char_lm_train`` on the lang='en' reference slice, called
directly so the model memo is bypassed; the best-of-N seconds of
score-only ``char_lm_perplexity(docs, ref, model=...)`` over every
doc, run to a noop sink; and the reference doc and character counts.
Each stage gets one untimed warm rep first.

`bytes` prints one JSON line for a ManifestTable directory: for each
column of its live snapshots, the compressed and uncompressed bytes and
the codecs, summed over every column chunk of every parquet footer
(pyarrow only, no Spark), plus the table's rows, files and totals.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _spark(cores: str):
    from textextract_spark.session import get_spark
    return get_spark(app_name="textextract-bench-extra", cores=cores)


_TICK = os.sysconf("SC_CLK_TCK")
_JVM_GROUPS = (("task", ("Executor task l",)),
               ("jit", ("C1 CompilerThre", "C2 CompilerThre")),
               ("gc", ("GC Thread", "G1 ")))


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of one /proc stat file."""
    with open(path) as f:
        st = f.read()
    r = st.rindex(")")
    return st[st.index("(") + 1:r], st[r + 2:].split()


def _cpu_s(fields: list[str], children: bool = False) -> float:
    """utime + stime (+ reaped children's cutime + cstime), seconds."""
    n = 4 if children else 2
    return sum(int(v) for v in fields[11:11 + n]) / _TICK


def _cpu_snapshot() -> dict:
    """CPU seconds of this process tree: the driver, the JVM per thread
    group, and every Python process below the JVM (daemon and workers,
    with the workers it has reaped)."""
    kids: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    fields: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            comm[int(d)], fields[int(d)] = _stat(f"/proc/{d}/stat")
        except OSError:
            continue
        kids.setdefault(int(fields[int(d)][1]), []).append(int(d))
    me = os.getpid()
    jvm = next(p for p in kids.get(me, []) if comm[p] == "java")
    snap = {"driver": _cpu_s(fields[me]), "jvm": _cpu_s(fields[jvm]),
            "python": 0.0, "threads": {}}
    todo = list(kids.get(jvm, []))
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        if comm[p].startswith("python"):
            snap["python"] += _cpu_s(fields[p], children=True)
    for t in os.listdir(f"/proc/{jvm}/task"):
        try:
            name, f = _stat(f"/proc/{jvm}/task/{t}/stat")
        except OSError:
            continue
        snap["threads"][t] = (name, _cpu_s(f))
    return snap


def _cpu_delta(a: dict, b: dict) -> dict:
    groups = dict.fromkeys([g for g, _ in _JVM_GROUPS], 0.0)
    for tid, (name, cpu) in b["threads"].items():
        for g, prefixes in _JVM_GROUPS:
            if name.startswith(prefixes):
                groups[g] += cpu - a["threads"].get(tid, (name, 0.0))[1]
                break
    jvm = b["jvm"] - a["jvm"]
    groups["other"] = jvm - sum(groups.values())
    return {"driver_cpu_s": round(b["driver"] - a["driver"], 2),
            "jvm_cpu_s": round(jvm, 2),
            "jvm_cpu_s_by_group": {g: round(v, 2)
                                   for g, v in groups.items()},
            "python_cpu_s": round(b["python"] - a["python"], 2)}


def _python_tasks(spark, after_stage: int) -> tuple[int, int]:
    """(completed tasks of the stages after ``after_stage`` that run a
    Python operator, the last stage id)."""
    app = spark.sparkContext._jsc.sc().statusStore()
    gw = spark.sparkContext._gateway
    stages = app.stageList(None, False, False,
                           gw.new_array(gw.jvm.double, 0), None)
    tasks, last = 0, after_stage
    for i in range(stages.size()):
        s = stages.apply(i)
        last = max(last, s.stageId())
        if s.stageId() <= after_stage:
            continue
        todo, names = [app.operationGraphForStage(s.stageId())
                       .rootCluster()], []
        while todo:
            c = todo.pop()
            names.append(c.name())
            ch = c.childClusters()
            todo.extend(ch.apply(j) for j in range(ch.size()))
        if any("Python" in n or "InPandas" in n or "InArrow" in n
               for n in names):
            tasks += s.numCompleteTasks()
    return tasks, last


def cpu(calls: int, seed: int) -> None:
    import shutil
    import tempfile

    from textextract_spark.datagen import write_pages_parquet
    from textextract_spark.pipeline import run_pipeline

    root = os.path.dirname(os.path.abspath(__file__))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    work = tempfile.mkdtemp(prefix="bench-extra-cpu-")
    pages = os.path.join(work, "pages.parquet")
    write_pages_parquet(pages, 1600, seed=seed)
    spark = _spark(len(os.sched_getaffinity(0)))
    jit = (spark._jvm.java.lang.management.ManagementFactory
           .getCompilationMXBean())
    try:
        last_stage = -1
        for i in range(calls + 1):
            out = os.path.join(work, f"out{i}")
            before, jit0 = _cpu_snapshot(), jit.getTotalCompilationTime()
            t0 = time.perf_counter()
            run_pipeline(spark, pages, out, num_parts=16, chunks=2,
                         run_id=f"cpu-{i}")
            wall = time.perf_counter() - t0
            row = _cpu_delta(before, _cpu_snapshot())
            row["jit_compile_ms"] = jit.getTotalCompilationTime() - jit0
            row["python_tasks"], last_stage = _python_tasks(spark,
                                                            last_stage)
            shutil.rmtree(out)
            if i:  # call 0 is the untimed warm-up
                print(json.dumps({"call": i, "seed": seed,
                                  "wall_s": round(wall, 2), **row}),
                      flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def charlm(sf_dir: str, reps: int) -> None:
    from pyspark.sql import functions as F

    from textextract_spark.io.source import source
    from textextract_spark.operators.textdata import (
        PPL_REF_LANG, char_lm_perplexity, char_lm_train)

    spark = _spark(os.environ.get("SPARK_GRAFT_CPUS",
                                  str(len(os.sched_getaffinity(0)))))
    sc = spark.sparkContext
    docs = source(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "text", "lang")
    ref = docs.filter(F.col("lang") == PPL_REF_LANG).select("text")
    ref_docs, ref_chars = ref.select(
        F.count("*"), F.sum(F.length("text"))).first()

    def best(label, fn):
        """(best seconds, jobs of the best rep) over reps timed calls
        after one untimed warm call."""
        runs = []
        for r in range(reps + 1):
            sc.setJobGroup(f"{label}:{r}", label)
            t0 = time.perf_counter()
            fn()
            runs.append((time.perf_counter() - t0,
                         len(sc.statusTracker().getJobIdsForGroup(
                             f"{label}:{r}"))))
        return min(runs[1:])

    train_s, train_jobs = best("charlm-train", lambda: char_lm_train(ref))
    model = char_lm_train(ref)
    score_s, _ = best("charlm-score", lambda: char_lm_perplexity(
        docs.select("doc_id", "text"), ref, model=model)
        .write.mode("overwrite").format("noop").save())
    print(json.dumps({"sf": sf_dir, "ref_docs": ref_docs,
                      "ref_chars": ref_chars, "scored_docs": docs.count(),
                      "train_s": round(train_s, 3),
                      "train_jobs": train_jobs,
                      "score_s": round(score_s, 3), "reps": reps}))
    spark.stop()


def column_bytes(table_dir: str) -> dict:
    """Compressed/uncompressed bytes and codecs per column of a
    ManifestTable's live snapshots, from the parquet footers."""
    import pyarrow.parquet as pq

    from textextract_spark.io.table import ManifestTable

    if not os.path.isdir(table_dir):
        raise SystemExit(f"no table directory {table_dir}")
    cols: dict[str, dict] = {}
    rows = files = 0
    for snap in ManifestTable(table_dir).snapshot_dirs():
        for base, _, names in os.walk(snap):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(base, name)).metadata
                rows, files = rows + md.num_rows, files + 1
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    for c in range(rg.num_columns):
                        ch = rg.column(c)
                        col = cols.setdefault(ch.path_in_schema, {
                            "compressed": 0, "uncompressed": 0,
                            "codecs": set()})
                        col["compressed"] += ch.total_compressed_size
                        col["uncompressed"] += ch.total_uncompressed_size
                        col["codecs"].add(ch.compression)
    for col in cols.values():
        col["codecs"] = sorted(col["codecs"])
    return {"table": table_dir, "rows": rows, "files": files,
            "compressed": sum(c["compressed"] for c in cols.values()),
            "uncompressed": sum(c["uncompressed"] for c in cols.values()),
            "columns": cols}


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    if mode == "bytes":
        print(json.dumps(column_bytes(sys.argv[2])))
        return
    if mode == "cpu":
        cpu(int(sys.argv[2]) if len(sys.argv) > 2 else 3,
            int(sys.argv[3]) if len(sys.argv) > 3 else 3)
        return
    sf_dir = (sys.argv[2] if len(sys.argv) > 2
              else os.environ.get("SPARK_GRAFT_SF_DIR",
                                  "/root/testdata/sf0.1"))
    if mode == "charlm":
        charlm(sf_dir, int(os.environ.get("BENCH_EXTRA_REPS", "3")))
        return
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    import __spark_entry__ as entry_mod
    qmap = entry_mod.queries()

    if mode == "plans":
        out_dir = sys.argv[3] if len(sys.argv) > 3 else "plans/r07"
        names = sys.argv[4:] or list(qmap)
        suffix = os.environ.get("BENCH_EXTRA_PLAN_SUFFIX", "")
        os.makedirs(out_dir, exist_ok=True)
        spark = _spark(cores)
        for name in names:
            df = qmap[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            path = os.path.join(out_dir, f"{name}{suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(name, "->", path)
        spark.stop()
        return

    names = sys.argv[3:]
    if not names:
        import bench
        names = list(bench.BENCH_QUERIES)
    reps = int(os.environ.get("BENCH_EXTRA_REPS", "2"))
    spark = _spark(cores)

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    # steady-state warmup (mirrors bench.py's policy): exercise the
    # parquet/shuffle/Arrow paths before timing anything
    noop(spark.read.parquet(f"{sf_dir}/lineitem.parquet")
         .groupBy("l_returnflag").count())
    from tools.bench_scaling import _warm_python_workers
    _warm_python_workers(spark, 64)

    timings: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"warm:{name}")
        noop(qmap[name](spark, sf_dir))  # untimed warm rep
        best = float("inf")
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"time:{name}:{r}")
            t0 = time.perf_counter()
            noop(qmap[name](spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        print(f"  {name}: {timings[name]}", file=sys.stderr)
    spark.stop()
    print(json.dumps({"queries": timings, "sf": sf_dir,
                      "total": round(sum(timings.values()), 3)}))


if __name__ == "__main__":
    main()
