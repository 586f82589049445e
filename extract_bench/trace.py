"""Traced runs: driver-side spans, Spark status-store metrics and
single-threaded replays of the Python-worker layers.

Spans. ``Tracer.install`` wraps the program's public callables (the
list in ``SPANS``) by replacing the module or class attribute; the
program resolves them through those attributes at call time, so nested
calls nest. Each span records name, start, end, parent and run id and
is kept in memory until ``Tracer.write``.

Operator metrics. After a traced run the benchmark reads Spark's SQL
status store (``sharedState().statusStore()``: ``executionsList``,
``planGraph``, ``executionMetrics``) and the stage store, for the
executions and stages that run created. Every count below comes from
those accumulators; no extra Spark job is run to count anything.
Timings marked ``task_s`` are summed over tasks (task-seconds), to be
read next to ``trace.task_s`` (all tasks of the run) and
``trace.wall_core_s`` (wall time x cores); ``trace.attributed_frac`` is
the share of ``trace.task_s`` the layer metrics in ``TASK_S_LAYERS``
account for.

Replays. ``core`` and ``io.warc`` run inside Python workers, which the
benchmark cannot wrap; ``replay`` runs them in-process, one thread, on
the same inputs.
"""

from __future__ import annotations

import datetime as dt
import functools
import gzip
import hashlib
import json
import os
import re
import statistics
import time

from textextract_spark import pipeline, session
from textextract_spark.core.extract import (
    MAX_PAYLOAD_BYTES, extract_document)
from textextract_spark.io import table as table_mod
from textextract_spark.io import warc as warc_mod
from textextract_spark.operators import sketch

from .workloads import manifest_versions

# (owner, attribute, span name)
SPANS = [
    (session, "get_spark", "session.get_spark"),
    (pipeline, "run_pipeline", "pipeline.run_pipeline"),
    (pipeline, "extract_pages", "pipeline.extract_pages"),
    (pipeline, "lineage_metrics", "pipeline.lineage_metrics"),
    (pipeline, "curation_decisions_full", "pipeline.curation_decisions_full"),
    (table_mod.ManifestTable, "append", "io.table.append"),
    (table_mod.ManifestTable, "overwrite", "io.table.overwrite"),
    (table_mod.ManifestTable, "read", "io.table.read"),
    (table_mod.ManifestTable, "committed_part_keys",
     "io.table.committed_part_keys"),
    (warc_mod, "read_warc", "io.warc.read_warc"),
    (sketch, "connected_components", "operators.sketch.connected_components"),
]

FMTS = ("html", "pdf", "text")

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "io.warc.parse_s": "s",
    "io.warc.records": "count",
    "io.warc.inflate_ratio": "ratio",
    "io.warc.task_s": "s",
    "pipeline.scan.bytes_read": "B",
    "pipeline.scan.read_amplification": "ratio",
    "pipeline.scan.task_s": "s",
    "pipeline.winners.rows_in": "count",
    "pipeline.winners.rows_out": "count",
    "pipeline.winners.broadcast_bytes": "B",
    "pipeline.winners.task_s": "s",
    "pipeline.exchange.bytes": "B",
    "pipeline.exchange.records": "count",
    "pipeline.exchange.skew": "ratio",
    "pipeline.exchange.task_s": "s",
    "pipeline.udf.python_s": "s",
    "pipeline.udf.worker_start_s": "s",
    "pipeline.udf.bytes_sent": "B",
    "pipeline.udf.bytes_returned": "B",
    "pipeline.udf.overhead_frac": "ratio",
    "pipeline.assemble.task_s": "s",
    "pipeline.lineage.s": "s",
    "pipeline.lineage.bytes_read": "B",
    "pipeline.curate.s": "s",
    **{f"core.parse_s.{f}": "s" for f in FMTS},
    **{f"core.doc_ms_p50.{f}": "ms" for f in FMTS},
    **{f"core.doc_ms_p99.{f}": "ms" for f in FMTS},
    **{f"core.docs.{f}": "count" for f in FMTS},
    "core.status.ok": "count",
    "core.status.empty": "count",
    "core.status.error": "count",
    "io.table.append_s": "s",
    "io.table.write_task_s": "s",
    "io.table.files_written": "count",
    "io.table.bytes_written": "B",
    "io.table.read_s": "s",
    "io.table.overwrite_s": "s",
    "io.table.manifest_versions": "count",
    "operators.sketch.signature_task_s": "s",
    "operators.sketch.candidate_pairs": "count",
    "operators.sketch.verified_pairs": "count",
    "operators.sketch.verify_yield": "ratio",
    "operators.sketch.cc_rounds": "count",
    "operators.sketch.cc_s": "s",
    "operators.textdata.charlm_task_s": "s",
    "operators.textdata.contam_task_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.scratch_residual_mb": "MB",
    "spark.jobs": "count",
    "gate.identity_mismatch": "count",
    "gate.run_fail_frac": "ratio",
    "trace.docs_per_s": "1/s",
    "trace.overhead_frac": "ratio",
    "trace.span_coverage": "ratio",
    "trace.task_s": "s",
    "trace.wall_core_s": "s",
    "trace.attributed_frac": "ratio",
}

# task-second layer metrics of one run; they should not overlap, so their
# sum stays within trace.task_s (trace.attributed_frac <= 1).
# io.table.write_task_s is left out: its task commits fall inside
# pipeline.assemble.task_s and its job commits run on the driver.
TASK_S_LAYERS = (
    "pipeline.scan.task_s", "pipeline.winners.task_s",
    "pipeline.exchange.task_s", "pipeline.udf.python_s",
    "pipeline.udf.worker_start_s", "pipeline.assemble.task_s",
    "operators.sketch.signature_task_s",
    "operators.textdata.charlm_task_s", "operators.textdata.contam_task_s",
)


# -- spans -------------------------------------------------------------------

class Tracer:
    """In-memory span recorder over monkey-patched program callables."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.run_id = "setup"
        self._stack: list[dict] = []
        self._originals: list[tuple] = []
        self.iterations: list[dict] = []

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name
            if args and isinstance(args[0], table_mod.ManifestTable):
                label = f"{name}[{os.path.basename(args[0].path)}]"
            span = {"id": len(self.spans), "name": label,
                    "parent": self._stack[-1]["id"] if self._stack else None,
                    "run": self.run_id, "start": time.time(), "end": None}
            self.spans.append(span)
            self._stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span["end"] = time.time()
                self._stack.pop()
        return traced

    def install(self) -> None:
        for owner, attr, name in SPANS:
            fn = owner.__dict__[attr]
            self._originals.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._originals):
            setattr(owner, attr, fn)
        self._originals.clear()

    def begin(self, spark, run_id: str) -> None:
        """Start a traced phase: remember the status-store watermarks."""
        self.run_id = run_id
        self._marks = _watermarks(spark) if spark else (-1, -1, -1)
        self.install()

    def end(self, spark) -> None:
        self.uninstall()
        self._end_marks = _watermarks(spark)

    def _window(self, spark):
        (e0, s0, j0), (e1, s1, j1) = self._marks, self._end_marks
        return (_executions(spark, e0, e1), _stages(spark, s0, s1),
                _jobs(spark, j0, j1))

    def layers(self, spark, wl, it: dict) -> dict:
        """Per-layer metrics of the traced run just ended."""
        spans = [s for s in self.spans if s["run"] == self.run_id]
        execs, stages, jobs = self._window(spark)
        out = run_layers(spans, execs, stages, jobs, wl, it)
        self.iterations.append({"run": self.run_id, "layers": out,
                                "executions": execs})
        return out

    def setup_layers(self, spark, wl) -> dict:
        """io.warc metrics of set-up, where curate_rerun reads its crawl
        archives: the parse stage's Python time from the status store,
        the rest from a replay."""
        if wl.fmt != "warc":
            return {}
        execs, _, _ = self._window(spark)
        out = replay_warc(wl.inputs.source_files())
        out["io.warc.task_s"] = sum(
            _m(e["nodes"][n], "time to run Python workers")
            for e in execs for n in _find(e, "MapInPandas", "_warc_batches"))
        return out

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "iterations": self.iterations,
                       "per_layer": summary}, f, indent=1)


def _span_wall(spans: list[dict], prefix: str) -> float:
    return sum(s["end"] - s["start"] for s in spans
               if s["name"].startswith(prefix) and s["end"])


def _innermost(spans: list[dict], t_ms: float) -> dict | None:
    t = t_ms / 1000.0
    best = None
    for s in spans:
        if s["end"] and s["start"] <= t <= s["end"]:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


def span_coverage(spans: list[dict]) -> float:
    """Share of each run_pipeline span covered by its child spans."""
    fracs = []
    for root in spans:
        if root["name"] != "pipeline.run_pipeline":
            continue
        kids = sorted((s["start"], s["end"]) for s in spans
                      if s["parent"] == root["id"])
        covered, cur = 0.0, root["start"]
        for a, b in kids:
            a = max(a, cur)
            if b > a:
                covered += b - a
                cur = b
        fracs.append(covered / max(root["end"] - root["start"], 1e-9))
    return statistics.median(fracs) if fracs else 0.0


# -- status store --------------------------------------------------------------

def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _stage_list(spark) -> list:
    app = spark.sparkContext._jsc.sc().statusStore()
    gw = spark.sparkContext._gateway
    return _seq(app.stageList(None, False, False,
                              gw.new_array(gw.jvm.double, 0), None))


def _job_ids(spark) -> list[int]:
    app = spark.sparkContext._jsc.sc().statusStore()
    return [j.jobId() for j in _seq(app.jobsList(None))]


def _watermarks(spark) -> tuple[int, int, int]:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    last_exec = (execs.apply(execs.size() - 1).executionId()
                 if execs.size() else -1)
    last_stage = max((s.stageId() for s in _stage_list(spark)), default=-1)
    return last_exec, last_stage, max(_job_ids(spark), default=-1)


_NODE_RE = re.compile(
    r'^\s*(\d+) \[id="node\d+" labelType="html" label="(.*)" '
    r'tooltip="(.*)"\];\s*$')
_CLUSTER_LABEL_RE = re.compile(r'^\s*label="(.*)";\s*$')
_EDGE_RE = re.compile(r"^\s*(\d+)->(\d+);$")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_value(text: str) -> float:
    """'9.6 s' -> 9.6, '5.2 MiB' -> bytes, '1,019' -> 1019."""
    m = _VALUE_RE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "",
                                                          1.0)


def _parse_metrics(parts: list[str]) -> dict[str, str]:
    out: dict[str, str] = {}
    i = 0
    while i < len(parts):
        p = parts[i]
        if " total (min, med, max" in p and i + 1 < len(parts):
            out[p.split(" total (")[0]] = parts[i + 1]
            i += 2
            continue
        if ": " in p:
            k, v = p.split(": ", 1)
            out[k] = v
        i += 1
    return out


def parse_dot(dot: str) -> dict:
    """Nodes, codegen clusters and child->parent edges of a plan graph."""
    nodes: dict[int, dict] = {}
    clusters: list[dict] = []
    stack: list[dict] = []
    edges: list[tuple[int, int]] = []
    for line in dot.splitlines():
        if line.lstrip().startswith("subgraph cluster"):
            stack.append({"label": "", "nodes": []})
            continue
        if stack and line.strip() == "}":
            clusters.append(stack.pop())
            continue
        m = _CLUSTER_LABEL_RE.match(line)
        if m and stack:
            stack[-1]["label"] = m.group(1)
            continue
        m = _NODE_RE.match(line)
        if m:
            nid = int(m.group(1))
            label = m.group(2)
            name = re.search(r"<b>(.*?)</b>", label)
            nodes[nid] = {"name": (name.group(1) if name else "").strip(),
                          "desc": m.group(3),
                          "metrics": _parse_metrics(
                              label.split("<br>"))}
            if stack:
                stack[-1]["nodes"].append(nid)
            continue
        m = _EDGE_RE.match(line)
        if m:
            edges.append((int(m.group(1)), int(m.group(2))))
    for c in clusters:
        parts = c["label"].split("\\n")
        c["name"] = parts[0]
        c["duration_s"] = parse_value(parts[-1].split("duration: ")[-1])
    return {"nodes": nodes, "clusters": clusters, "edges": edges}


def _executions(spark, after_id: int, last_id: int) -> list[dict]:
    ss = spark._jsparkSession.sharedState().statusStore()
    lst = ss.executionsList()
    out = []
    for i in range(lst.size()):
        e = lst.apply(i)
        eid = e.executionId()
        if not after_id < eid <= last_id:
            continue
        done = e.completionTime()
        graph = parse_dot(ss.planGraph(eid).makeDotFile(
            ss.executionMetrics(eid)))
        out.append({"id": eid, "desc": e.description(),
                    "jobs": [int(j) for j in _seq(e.jobs().keys().toSeq())],
                    "start": e.submissionTime(),
                    "end": done.get().getTime() if done.isDefined() else None,
                    **graph})
    return out


def _stages(spark, after_id: int, last_id: int) -> list[dict]:
    out = []
    for s in _stage_list(spark):
        if not after_id < s.stageId() <= last_id:
            continue
        out.append({"id": s.stageId(),
                    "run_s": s.executorRunTime() / 1000.0,
                    "gc_s": s.jvmGcTime() / 1000.0,
                    "shuffle_write": s.shuffleWriteBytes(),
                    "spill": s.memoryBytesSpilled() + s.diskBytesSpilled()})
    return out


def _jobs(spark, after_id: int, last_id: int) -> dict[int, list[int]]:
    """{job id: its stage ids} for the jobs in the window."""
    app = spark.sparkContext._jsc.sc().statusStore()
    return {j.jobId(): [int(s) for s in _seq(j.stageIds())]
            for j in _seq(app.jobsList(None))
            if after_id < j.jobId() <= last_id}


# -- per-layer attribution -----------------------------------------------------

def _m(node: dict, key: str) -> float:
    v = node["metrics"].get(key)
    return parse_value(v) if v is not None else 0.0


def _below(graph: dict, root: int) -> set[int]:
    """Node ids in the subtree under ``root`` (root included)."""
    kids: dict[int, list[int]] = {}
    for c, p in graph["edges"]:
        kids.setdefault(p, []).append(c)
    seen, todo = set(), [root]
    while todo:
        n = todo.pop()
        if n not in seen:
            seen.add(n)
            todo.extend(kids.get(n, []))
    return seen


def _parent(graph: dict, nid: int) -> int | None:
    return next((p for c, p in graph["edges"] if c == nid), None)


def _child(graph: dict, nid: int) -> int | None:
    return next((c for c, p in graph["edges"] if p == nid), None)


def _cluster_s(graph: dict, ids: set[int]) -> float:
    return sum(c["duration_s"] for c in graph["clusters"]
               if ids.intersection(c["nodes"]))


def _find(graph: dict, name: str, desc: str = "") -> list[int]:
    return [nid for nid, n in graph["nodes"].items()
            if n["name"].startswith(name) and desc in n["desc"]]


def _skew(text: str | None) -> float:
    """max / median partition bytes from a 'total (min, med, max)' value."""
    m = re.search(r"\((.*?), (.*?), (.*?) \(stage", text or "")
    if not m:
        return 0.0
    med, mx = parse_value(m.group(2)), parse_value(m.group(3))
    return mx / med if med else 0.0


def _stage_of(text: str | None) -> int | None:
    """Stage id from a 'total (min, med, max (stage S.A: task T))' value."""
    m = re.search(r"\(stage (\d+)\.\d+: task", text or "")
    return int(m.group(1)) if m else None


def _extract_layers(graph: dict, acc: dict, run_s: dict[int, float]
                    ) -> None:
    """Attribute one extraction execution's operators to pipeline stages.
    ``run_s`` maps stage id to the task-seconds the stage ran."""
    nodes = graph["nodes"]
    udf = _find(graph, "MapInPandas", "_extract_batches")
    payload = _find(graph, "Exchange", "REPARTITION_BY_NUM")
    if not udf or not payload:
        return
    u, x = nodes[udf[0]], nodes[payload[0]]
    python_s = _m(u, "time to run Python workers")
    # "time to initialize Python workers" is left out: a reused worker
    # starts that clock when it finishes its previous task, so it counts
    # idle waits and summed to more than the run's task-seconds
    start_s = _m(u, "time to start Python workers")
    fetch_s = _m(x, "fetch wait time")
    acc["pipeline.udf.python_s"] += python_s
    acc["pipeline.udf.worker_start_s"] += start_s
    acc["pipeline.udf.bytes_sent"] += _m(u, "data sent to Python workers")
    acc["pipeline.udf.bytes_returned"] += _m(
        u, "data returned from Python workers")
    stage = _stage_of(u["metrics"].get("time to run Python workers"))
    if stage is not None:
        # the rest of the UDF's stage: the Arrow hand-off and worker
        # set-up, span/meta struct assembly and writing the rows. The
        # codegen duration above the UDF is not used: it exceeded the
        # stage's own task time.
        acc["pipeline.assemble.task_s"] += max(
            0.0, run_s.get(stage, 0.0) - python_s - start_s - fetch_s)
    acc["pipeline.exchange.bytes"] += _m(x, "data size")
    acc["pipeline.exchange.records"] += _m(x, "shuffle records written")
    acc["pipeline.exchange.task_s"] += (_m(x, "shuffle write time")
                                       + fetch_s)
    acc["_skew"].append(_skew(x["metrics"].get("local bytes read")))
    below = _below(graph, payload[0]) - {payload[0]}
    winners: set[int] = set()
    for b in _find(graph, "BroadcastExchange"):
        if b in below:
            winners |= _below(graph, b)
            acc["pipeline.winners.broadcast_bytes"] += _m(nodes[b],
                                                          "data size")
            acc["pipeline.winners.task_s"] += (
                _m(nodes[b], "time to collect") + _m(nodes[b],
                                                     "time to build"))
    scan_side = below - winners
    acc["pipeline.scan.task_s"] += _cluster_s(graph, scan_side)
    winners &= nodes.keys()  # edges may also name codegen clusters
    acc["pipeline.winners.task_s"] += _cluster_s(graph, winners) + sum(
        _m(nodes[n], "sort time") for n in winners)
    aggs = [n for n in winners if "Aggregate" in nodes[n]["name"]]
    if aggs:
        acc["pipeline.winners.rows_out"] += min(
            _m(nodes[n], "number of output rows") for n in aggs)
        # rows entering the winner aggregation: first row count below
        # the bottom-most aggregate
        n = _child(graph, min(aggs, key=lambda a: len(_below(graph, a))))
        while n is not None and "number of output rows" not in \
                nodes.get(n, {"metrics": {}})["metrics"]:
            n = _child(graph, n)
        if n is not None:
            acc["pipeline.winners.rows_in"] += _m(nodes[n],
                                                  "number of output rows")
    for s in _find(graph, "Scan"):
        acc["pipeline.scan.bytes_read"] += _m(nodes[s], "size of files read")


def run_layers(spans: list[dict], execs: list[dict], stages: list[dict],
               jobs: dict[int, list[int]], wl, it: dict) -> dict:
    """Per-layer metrics of one traced run_pipeline call."""
    acc: dict = {k: 0.0 for k in PER_LAYER_UNITS}
    acc["_skew"] = []
    cands, verified = [], []
    run_s = {s["id"]: s["run_s"] for s in stages}
    for e in execs:
        span = _innermost(spans, e["start"])
        e["span"] = span["name"] if span else ""
        e["task_s"] = sum(run_s.get(s, 0.0) for j in e["jobs"]
                          for s in jobs.get(j, []))
    # Spark does not aggregate operator metrics of a lazily checkpointed
    # plan (it runs inside a later execution's job), so the signature
    # kernel is charged the task-seconds of the first job-running
    # execution under connected_components: signatures, bands,
    # candidates and verification all materialize there.
    sketch_execs = [e for e in execs if e["jobs"] and e["span"]
                    == "operators.sketch.connected_components"]
    if sketch_execs:
        acc["operators.sketch.signature_task_s"] = sketch_execs[0]["task_s"]
    for e in execs:
        name = e["span"]
        nodes = e["nodes"]
        for n in _find(e, "Execute InsertIntoHadoopFsRelationCommand"):
            acc["io.table.write_task_s"] += (
                _m(nodes[n], "task commit time")
                + _m(nodes[n], "job commit time"))
            acc["io.table.files_written"] += _m(nodes[n],
                                                "number of written files")
            acc["io.table.bytes_written"] += _m(nodes[n], "written output")
        if name.startswith("io.table.append[metrics]"):
            for s in _find(e, "Scan"):
                acc["pipeline.lineage.bytes_read"] += _m(
                    nodes[s], "size of files read")
        _extract_layers(e, acc, run_s)
        for n in _find(e, "MapInArrow", "score_kernel"):
            acc["operators.textdata.charlm_task_s"] += _m(
                nodes[n], "time to run Python workers")
        if "textdata.py" in (e["desc"] or ""):  # char-LM training collect
            acc["operators.textdata.charlm_task_s"] += sum(
                c["duration_s"] for c in e["clusters"])
        # n-gram explode is not codegen'd: charge its neighbours' loops
        grams = _find(e, "Generate", "sequence(1")
        acc["operators.textdata.contam_task_s"] += _cluster_s(
            e, set(grams) | {_parent(e, n) for n in grams}
            | {_child(e, n) for n in grams})
        # the pair frame is planned once per union branch and re-listed
        # by later rounds with zero rows: keep the executed counts
        cands += [_m(nodes[n], "number of output rows")
                  for n in _find(e, "HashAggregate", "keys=[a_id")
                  if "functions=[])" in nodes[n]["desc"]]
        verified += [_m(nodes[n], "number of output rows")
                     for n in _find(e, "BroadcastHashJoin", "array_intersect")]
        if (name == "operators.sketch.connected_components"
                and (e["desc"] or "").startswith("collect")):
            acc["operators.sketch.cc_rounds"] += 1
    skews = acc.pop("_skew")
    acc["pipeline.exchange.skew"] = max(skews) if skews else 0.0
    cands = [c for c in cands if c]
    acc["operators.sketch.candidate_pairs"] = min(cands) if cands else 0.0
    acc["operators.sketch.verified_pairs"] = max(verified) if verified else 0.0
    if acc["operators.sketch.candidate_pairs"]:
        acc["operators.sketch.verify_yield"] = (
            acc["operators.sketch.verified_pairs"]
            / acc["operators.sketch.candidate_pairs"])
    acc["operators.sketch.cc_s"] = _span_wall(
        spans, "operators.sketch.connected_components")
    acc["pipeline.scan.read_amplification"] = (
        acc["pipeline.scan.bytes_read"] / wl.inputs.meta["input_bytes"])
    acc["pipeline.lineage.s"] = (_span_wall(spans, "io.table.append[metrics]")
                                 + _span_wall(spans,
                                              "pipeline.lineage_metrics"))
    acc["pipeline.curate.s"] = (
        _span_wall(spans, "pipeline.curation_decisions_full")
        + _span_wall(spans, "io.table.overwrite[curated]"))
    acc["io.table.append_s"] = _span_wall(spans, "io.table.append")
    acc["io.table.read_s"] = _span_wall(spans, "io.table.read")
    acc["io.table.overwrite_s"] = _span_wall(spans, "io.table.overwrite")
    acc["io.table.manifest_versions"] = manifest_versions(wl.out_dir)
    acc["spark.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in stages)
    acc["spark.spill_bytes"] = sum(s["spill"] for s in stages)
    acc["spark.gc_s"] = sum(s["gc_s"] for s in stages)
    acc["spark.scratch_residual_mb"] = it["scratch_residual"] / 2 ** 20
    acc["spark.jobs"] = len(jobs)
    acc["trace.task_s"] = sum(s["run_s"] for s in stages)
    acc["trace.wall_core_s"] = it["wall_s"] * len(os.sched_getaffinity(0))
    if acc["trace.task_s"]:
        acc["trace.attributed_frac"] = (
            sum(acc[k] for k in TASK_S_LAYERS) / acc["trace.task_s"])
    acc["trace.span_coverage"] = span_coverage(spans)
    acc["trace.docs_per_s"] = it["docs"] / it["wall_s"]
    return acc


# -- replays of the Python-worker layers --------------------------------------

def replay_core(rows: list[dict]) -> dict:
    """extract_document over the winner row per url, one thread."""
    latest: dict[str, dict] = {}

    def key(r):
        return (r["warc_ts"] or dt.datetime.min,
                hashlib.md5(r["html"] or b"").hexdigest())

    for r in rows:
        cur = latest.get(r["url"])
        if cur is None or key(r) > key(cur):
            latest[r["url"]] = r
    ms: dict[str, list[float]] = {f: [] for f in FMTS}
    status = {"ok": 0, "empty": 0, "error": 0}
    for r in latest.values():
        if r["html"] is not None and len(r["html"]) > MAX_PAYLOAD_BYTES:
            continue
        t0 = time.perf_counter()
        res = extract_document(r["html"], r["lang"])
        ms[res.fmt].append((time.perf_counter() - t0) * 1000.0)
        s = res.status.split(":")[0]
        status[s if s in status else "error"] += 1
    out = {}
    for f in FMTS:
        xs = sorted(ms[f])
        out[f"core.parse_s.{f}"] = sum(xs) / 1000.0
        out[f"core.docs.{f}"] = len(xs)
        out[f"core.doc_ms_p50.{f}"] = xs[len(xs) // 2] if xs else 0.0
        out[f"core.doc_ms_p99.{f}"] = (xs[min(len(xs) - 1,
                                              int(len(xs) * 0.99))]
                                       if xs else 0.0)
    out.update({f"core.status.{k}": v for k, v in status.items()})
    return out


def replay_warc(files: list[str]) -> dict:
    """parse_warc_bytes over each archive, one thread."""
    parse_s, packed, inflated, records = 0.0, 0, 0, 0
    for path in files:
        with open(path, "rb") as f:
            data = f.read()
        packed += len(data)
        inflated += len(gzip.decompress(data))
        t0 = time.perf_counter()
        records += len(warc_mod.parse_warc_bytes(data))
        parse_s += time.perf_counter() - t0
    return {"io.warc.parse_s": parse_s, "io.warc.records": records,
            "io.warc.inflate_ratio": inflated / max(packed, 1)}


def summarize(traced: list[dict], untraced_dps: list[float],
              session_s: float, wl, mismatch: int, fail_frac: float,
              setup_layers: dict) -> dict:
    """Median per-layer metrics over the traced runs plus replays."""
    out = {k: 0.0 for k in PER_LAYER_UNITS}
    for k in PER_LAYER_UNITS:
        vals = [it["layers"][k] for it in traced if k in it["layers"]]
        if vals:
            out[k] = statistics.median(vals)
    out.update(setup_layers)
    out["session.start_s"] = session_s
    if not wl.curate:  # core runs only when something is extracted
        out.update(replay_core(wl.inputs.rows()))
        parse = sum(out[f"core.parse_s.{f}"] for f in FMTS)
        if out["pipeline.udf.python_s"]:
            out["pipeline.udf.overhead_frac"] = (
                1.0 - parse / out["pipeline.udf.python_s"])
    out["gate.identity_mismatch"] = mismatch
    out["gate.run_fail_frac"] = fail_frac
    if untraced_dps and out["trace.docs_per_s"]:
        out["trace.overhead_frac"] = (statistics.median(untraced_dps)
                                      / out["trace.docs_per_s"] - 1.0)
    return out
