"""Extraction benchmark: one named workload, one seed, one JSON result.

    python3 extract_bench/run.py --workload html_crawl --seed 42 \\
        --seconds 6 --trace 0

Runs from the root of a checkout (any cwd works; paths are resolved
from this file). Steps:

1. Build or reuse the seeded inputs and their golden digests
   (``.bench_cache/``); their cost is reported, not counted in setup.
   ``--seed`` selects input set ``seed mod SEED_POOL`` (workloads.py),
   whose output digest is pinned in pins.json.
2. Start one Spark session on ``local[<cores>]`` and warm it up with
   full untimed ``run_pipeline`` calls (``setup_s`` covers both).
3. Repeat timed ``run_pipeline`` calls until their wall time sums to
   ``--seconds`` (at least one call), gating every call's committed
   output outside the timed interval. Before each chunk commit of an
   untraced call the JVM collects garbage, untimed, so the scratch peak
   does not depend on GC timing (``Workload.run``).
   A call that raises, exceeds its time limit or the scratch budget, or
   fails its gate counts as failed and is not timed. A seed whose
   input set has no pinned digest makes the result ``correct: false``.
4. Print a report line, then the result as the last line:
   ``{"correct", "attempted", "failed", "metrics"}`` with the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``; see trace.py).

Other modes: ``--smoke`` (tiny sizes; asserts every metric name prints
with a unit), ``--self-test`` (corrupts one output row and fails unless
the gate reports a mismatch) and ``--pin`` (records the output digest
of every input set in the seed pool that pins.json lacks; ``--seed``
and ``--seconds`` are ignored).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CACHE_DIR = os.path.join(ROOT, ".bench_cache", "extract_bench")
RUN_DIR = os.path.join(ROOT, ".bench_run")
LOCAL_DIR = os.path.join(RUN_DIR, "spark-local")
SCRATCH_BUDGET_MB = 4096
RUN_TIMEOUT_S = 120

END_TO_END_UNITS = {
    "docs_per_s": "1/s",
    "setup_s": "s",
    "peak_scratch_mb": "MB",
    "peak_worker_rss_mb": "MB",
    "out_bytes_per_doc": "B",
}


def _environment() -> None:
    """Import path for the driver and the Python workers it spawns, and
    one on-disk scratch dir for both Spark's setting and its env var."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = LOCAL_DIR
    os.environ["SPARK_LOCAL_DIRS"] = LOCAL_DIR


def _stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait until every process
    below this one (JVM, pyspark daemon, Python workers) has ended."""
    from pyspark import SparkContext

    from .sampler import descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def alive() -> list[int]:
        # workers orphaned by the JVM are re-parented, so poll the pids;
        # a zombie has ended and only waits for its new parent to reap it
        out = []
        for p in started:
            try:
                with open(f"/proc/{p}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state != "Z":
                out.append(p)
        return out

    deadline = time.time() + 30
    while alive() and time.time() < deadline:
        time.sleep(0.2)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while alive() and time.time() < deadline:
        time.sleep(0.1)


def _settle(spark, rounds: int = 2, poll_s: float = 0.2,
            wait_s: float = 2.0) -> None:
    """Let Spark's ContextCleaner remove what the program no longer
    references (shuffle files, blocks), so a scratch peak counts what the
    program still holds rather than depending on GC timing. Used before
    each call and, in one short round, before each chunk commit of a
    timed call (``Workload.commit_barrier``)."""
    from .sampler import dir_bytes

    for _ in range(rounds):
        gc.collect()
        spark._jvm.System.gc()
        prev, deadline = -1, time.time() + wait_s
        while time.time() < deadline:
            time.sleep(poll_s)
            cur = dir_bytes(LOCAL_DIR)
            if cur == prev:
                break
            prev = cur


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["html_crawl", "curate_rerun"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args(argv)
    if args.smoke:  # a smoke run checks both metric sets
        args.trace = 1

    _environment()
    from textextract_spark import session

    from . import trace as trace_mod
    from .inputs import prepare
    from .sampler import Sampler, cpu_seconds, dir_bytes
    from .workloads import (SIZES, SMOKE_SIZES, WARMUP_SIZES, Workload,
                            input_seed)

    if args.pin:
        return pin_pool(args.workload)
    size, num_parts, chunks = SIZES[args.workload]
    if args.smoke:
        size = SMOKE_SIZES[args.workload]
    seed = input_seed(args.seed)
    inputs = prepare(CACHE_DIR, args.workload, size, seed)
    warm_size = min(WARMUP_SIZES.get(args.workload, size), size)
    warm = (prepare(CACHE_DIR, args.workload, warm_size, seed)
            if warm_size != size else None)

    shutil.rmtree(RUN_DIR, ignore_errors=True)
    os.makedirs(LOCAL_DIR)
    cores = len(os.sched_getaffinity(0))
    wl = Workload(args.workload, inputs, args.seed, size, num_parts,
                  chunks, os.path.join(RUN_DIR, "work"), warm_inputs=warm)
    wl.corrupt = args.self_test
    tracer = trace_mod.Tracer() if args.trace else None
    if tracer:  # set-up is traced too: session start, seeding reads
        tracer.begin(None, "setup")
    sampler = Sampler(LOCAL_DIR, SCRATCH_BUDGET_MB << 20)
    sampler.start()

    t0 = time.perf_counter()
    spark = session.get_spark(app_name=f"extract-bench-{args.workload}",
                              cores=cores)
    session_s = time.perf_counter() - t0
    sampler.spark = spark
    try:
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        if tracer:
            tracer.end(spark)
            setup_layers = tracer.setup_layers(spark, wl)
        wl.cleanup()

        iters: list[dict] = []
        failed = 0
        # calls repeat until their timed wall time reaches --seconds (gate
        # and clean-up excluded); a traced run alternates untraced and
        # traced calls, at least one of each, so tracing overhead is
        # measured in one process
        measured = 0.0
        while (not iters or measured < args.seconds
               or (tracer and len(iters) < 2)):
            traced = bool(tracer) and len(iters) % 2 == 1
            it = {"traced": traced}
            _settle(spark)
            sampler.reset()
            sampler.deadline = time.time() + RUN_TIMEOUT_S
            # untimed GC before each chunk commit of an untraced call;
            # traced calls keep the program's own timing for their layers
            wl.commit_barrier = None if traced else (
                lambda: _settle(spark, rounds=1, poll_s=0.1, wait_s=1.0))
            if traced:
                tracer.begin(spark, f"run-{len(iters)}")
            t_call, cpu0 = time.perf_counter(), cpu_seconds()
            try:
                it["wall_s"] = wl.run()
                it["barrier_s"] = wl.barrier_s
                it["cpu_s"] = cpu_seconds() - cpu0
            except Exception as exc:  # boundary: a failed run is counted
                it["error"] = f"{type(exc).__name__}: {str(exc)[:200]}"
            finally:
                measured += time.perf_counter() - t_call
                if traced:
                    tracer.end(spark)
            sampler.deadline = None
            it["peak_scratch"], it["peak_rss"] = sampler.peaks()
            it["scratch_residual"] = dir_bytes(LOCAL_DIR)
            if sampler.over_budget:
                it["error"] = "scratch budget exceeded"
            if sampler.timed_out:
                it["error"] = f"run exceeded {RUN_TIMEOUT_S} s"
            if "error" not in it:
                it.update(wl.check())
                if traced:
                    it["layers"] = tracer.layers(spark, wl, it)
                if it["mismatch"]:
                    it["error"] = f"gate: {it['mismatch']} mismatching urls"
            if "error" in it:
                failed += 1
            wl.cleanup()
            iters.append(it)

        ok = [it for it in iters if "error" not in it]
        digests = sorted({it["digest"] for it in ok})
        timed = [it for it in ok if not it["traced"]]
        dps = [it["docs"] / it["wall_s"] for it in timed]
        e2e = {
            "docs_per_s": _median(dps),
            "setup_s": setup_s,
            "peak_scratch_mb": _median([it["peak_scratch"] / 2 ** 20
                                        for it in timed]),
            "peak_worker_rss_mb": _median([it["peak_rss"] / 2 ** 20
                                           for it in timed]),
            "out_bytes_per_doc": _median([it["out_bytes"] / max(it["docs"], 1)
                                          for it in ok]),
        }
        mismatch = sum(it.get("mismatch", 0) for it in iters)
        report = {
            "workload": args.workload, "seed": args.seed,
            "input_seed": seed, "size": size,
            "warmup_size": warm_size,
            "num_parts": num_parts, "chunks": chunks, "cores": cores,
            "input": inputs.meta,
            "warmup_input": warm.meta if warm else None,
            "session_start_s": session_s,
            "identity_mismatch": mismatch,
            "run_fail_frac": failed / len(iters),
            "doc_error_frac": _median([it["errors"] / max(it["docs"], 1)
                                       for it in ok]),
            "pinned": wl.pinned is not None, "digests": digests,
            "iterations": [{k: v for k, v in it.items() if k != "layers"}
                           for it in iters],
        }
        if tracer:
            layers = trace_mod.summarize(
                [it for it in ok if it["traced"]], dps, session_s, wl,
                mismatch, failed / len(iters), setup_layers)
            tracer.write(os.path.join(
                CACHE_DIR, "traces",
                f"{args.workload}-{size}-s{args.seed}.json"), layers)
    finally:
        sampler.stop()
        _stop_spark(spark)
        shutil.rmtree(RUN_DIR, ignore_errors=True)

    e2e = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
           for k, v in e2e.items()}
    report["metrics"] = e2e
    print(json.dumps(report))
    metrics = e2e
    if tracer:
        metrics = {k: {"value": v, "unit": trace_mod.PER_LAYER_UNITS[k]}
                   for k, v in layers.items()}
    correct = bool(ok) and mismatch == 0 and len(digests) == 1
    if wl.pinned is None and not args.smoke:
        # without a pin the gate only compares this code with itself
        print(f"no pinned digest for {args.workload} size {size} "
              f"input seed {seed}: run --pin", file=sys.stderr)
        correct = False
    if args.self_test:
        # the gate must catch the corrupted row in every run it checked
        correct = bool(iters) and all(it.get("mismatch", 0) > 0
                                      for it in iters if "digest" in it)
        print(f"self-test: identity_mismatch={mismatch} "
              f"({'caught' if correct else 'NOT caught'})")
        return 0 if correct else 1
    if args.smoke:
        printed = {**e2e, **metrics}
        missing = sorted((set(END_TO_END_UNITS)
                          | set(trace_mod.PER_LAYER_UNITS)) - set(printed))
        unitless = sorted(k for k, m in printed.items() if not m["unit"])
        print(f"smoke: {len(printed)} metrics, missing {missing}, "
              f"without unit {unitless}")
        if missing or unitless or not correct:
            return 1
    print(json.dumps({"correct": correct, "attempted": len(iters),
                      "failed": failed, "metrics": metrics}))
    return 0


def pin_pool(workload: str) -> int:
    """Record the output digest of every input set in the seed pool that
    pins.json lacks for the workload's size. html_crawl's digest is that
    of its golden rows (the gate holds Spark output equal to them);
    curate_rerun's is that of the decisions its set-up rerun commits,
    all seeds in one Spark session."""
    from textextract_spark import session

    from .inputs import corpus_digest, prepare
    from .workloads import (PINS_PATH, SEED_POOL, SIZES, Workload,
                            load_pins)

    size, num_parts, chunks = SIZES[workload]
    pins = load_pins()
    have = pins.setdefault(workload, {}).setdefault(str(size), {})
    todo = [s for s in range(SEED_POOL) if str(s) not in have]
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    os.makedirs(LOCAL_DIR)
    cache = os.path.join(RUN_DIR, "pin-cache")
    spark = None
    try:
        for seed in todo:
            t0 = time.perf_counter()
            inputs = prepare(cache, workload, size, seed)
            if workload == "curate_rerun":
                if spark is None:
                    # one session for the whole pool: cap its heap
                    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
                    spark = session.get_spark(app_name="extract-bench-pin",
                                              cores=len(
                                                  os.sched_getaffinity(0)))
                wl = Workload(workload, inputs, seed, size, num_parts,
                              chunks, os.path.join(RUN_DIR, f"pin-{seed}"))
                wl.setup(spark)
                if wl.seed_mismatch:
                    print(f"seed {seed}: seeding extraction differs from "
                          "golden rows; not pinned", file=sys.stderr)
                    return 1
                have[str(seed)] = corpus_digest(wl.reference)
                shutil.rmtree(wl.work_dir, ignore_errors=True)
                _settle(spark)
            else:
                have[str(seed)] = corpus_digest(inputs.golden)
            shutil.rmtree(inputs.path, ignore_errors=True)
            with open(PINS_PATH, "w") as f:
                json.dump(pins, f, indent=1, sort_keys=True)
                f.write("\n")
            print(f"pinned {workload} size {size} seed {seed} "
                  f"({time.perf_counter() - t0:.1f} s)", flush=True)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(RUN_DIR, ignore_errors=True)
    return 0


if __name__ == "__main__":
    # run as a script: make the package importable as extract_bench.*
    sys.path.insert(0, ROOT)
    from extract_bench.run import main as _main
    sys.exit(_main())
