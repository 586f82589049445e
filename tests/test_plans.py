"""Physical-plan regression tests: the optimizations SURVEY.md §4 relies
on must actually appear in the executed plans — filters reaching the
parquet scan, column pruning, broadcast joins for tiny dims, and exactly
one exchange feeding the extraction UDF."""

import re

import pytest

from textextract_spark.operators import relational, similarity
from textextract_spark.pipeline import extract_pages


def _plan(spark, df, mode="formatted"):
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def test_filter_pushdown_and_pruning(spark, sf_dir):
    p = _plan(spark, relational.filter_eq_project(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(c_mktsegment), " \
           "EqualTo(c_mktsegment,BUILDING)]" in p
    # column pruning: html-free 4-column read, not the full table
    read = next(line for line in p.splitlines() if "ReadSchema" in line)
    assert "c_custkey" in read and "c_nationkey" not in read


def test_range_predicate_pushdown(spark, sf_dir):
    p = _plan(spark, relational.range_filter(spark, sf_dir))
    assert "GreaterThanOrEqual(o_orderdate" in p
    assert "LessThanOrEqual(o_orderdate" in p


def test_dim_joins_are_broadcast(spark, sf_dir):
    p = _plan(spark, relational.fk_broadcast_join(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_cosine_probe_is_broadcast_no_shuffle_scan(spark, sf_dir):
    p = _plan(spark, similarity.cosine_topk(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    # top-k must not globally sort: TakeOrderedAndProject
    assert "TakeOrderedAndProject" in p


def test_extraction_plan_shape(spark, corpus_dir):
    """Exactly ONE full-payload exchange (the explicit salted
    repartition) feeds the UDF; dedup-latest is a two-small-column agg +
    semi join, never a Window over payloads."""
    df = extract_pages(spark.read.parquet(corpus_dir), 16, 4)
    p = _plan(df.sparkSession, df, "simple")
    assert "MapInPandas" in p
    assert p.count("REPARTITION_BY_NUM") == 1
    assert "Window" not in p, "payload-wide window crept back in"
    # format gate happens before the UDF (predicate gating, north_rule)
    assert p.index("CASE WHEN") > p.index("MapInPandas"), \
        "fmt CASE must be below (before) MapInPandas in the plan tree"
    # the dedup aggregation reads html ONLY to md5 it at the scan (the
    # tie-break); the payload itself must never enter the winner agg or
    # its shuffle — assert the winner-side scan's projection hashes html
    # away and the aggregate buffers carry (warc_ts, md5) only
    formatted = _plan(df.sparkSession, df, "formatted")
    fn_lines = [line for line in formatted.splitlines()
                if line.strip().startswith("Functions")]
    assert any("max(struct(warc_ts" in line for line in fn_lines), fn_lines
    assert all("html" not in line for line in fn_lines), \
        "winner agg must aggregate (warc_ts, md5), never the payload:\n" \
        + "\n".join(fn_lines)


def test_lineage_uses_partial_aggregation(spark, corpus_dir):
    from textextract_spark.pipeline import lineage_metrics
    ext = extract_pages(spark.read.parquet(corpus_dir), 16, 4)
    p = _plan(spark, lineage_metrics(ext, "r", "s"), "simple")
    assert "partial_" in p.lower() or "HashAggregate" in p


def test_ann_lsh_plan_capped_no_self_join(spark, sf_dir):
    """The LSH candidate stage must be a capped groupBy + pair explosion,
    with pairs produced by Generate (explode over capped members), never
    by a join (the r2 bucket self-join was an uncapped quadratic blowup
    at 10^9 vectors). The r5 sampler adds ONE legitimate join — the
    bounded-state bucket-stats (__sz/__keep_id) equality join — so the
    assertions distinguish it structurally: non-equi/nested-loop joins
    stay banned outright, every equi-join in the plan must sit on the
    bucket key with the stats (__sz/__keep_id) columns present, the
    bands frame feeds both branches from ONE checkpointed
    materialization (Scan ExistingRDD — a bands self-join or a
    re-evaluated signature stage would surface the UDF in the plan),
    and the MAX_BUCKET cap appears as a size() filter on the bucket
    members."""
    from textextract_spark.operators.sketch import MAX_BUCKET
    p = _plan(spark, similarity.ann_lsh_pairs(spark, sf_dir), "simple")
    for join_op in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join_op not in p, f"{join_op} crept into the LSH path:\n{p}"
    equi_joins = [ln for ln in p.splitlines()
                  if any(j in ln for j in ("SortMergeJoin",
                                           "ShuffledHashJoin",
                                           "BroadcastHashJoin"))]
    for ln in equi_joins:
        assert "band_key" in ln, f"join off the bucket key:\n{ln}\n{p}"
    if equi_joins:
        assert "__sz" in p or "__keep_id" in p, \
            f"a non-stats join crept into the LSH path:\n{p}"
    assert "size(members#" in p or f"<= {MAX_BUCKET}" in p
    # bands materialized once: the checkpointed RDD scan replaces any
    # visible UDF eval; a duplicated/non-checkpointed signature stage
    # would show ArrowEvalPython (once per diamond branch) instead
    assert "Scan ExistingRDD" in p, \
        f"bands must come from one checkpointed materialization:\n{p}"
    n_udf = sum(p.count(tag) for tag in ("ArrowEvalPython",
                                         "BatchEvalPython"))
    assert n_udf == 0, \
        f"signature stage leaked out of the checkpoint (saw {n_udf}):\n{p}"


def test_ivf_query_path_uses_prebuilt_centroids(spark, sf_dir):
    """The IVF QUERY plan must consume the persisted centroid stage, not
    rebuild it: no posexplode/Generate over the embeddings table at query
    time (the pre-r4 shape re-ran the full centroid aggregation per
    query), and the probed-cell + query-vector joins stay broadcast."""
    df = similarity.ivf_topk(spark, sf_dir)
    p = _plan(spark, df, "simple")
    assert "Generate" not in p and "posexplode" not in p, \
        f"centroid build leaked into the query plan:\n{p}"
    assert "Scan ExistingRDD" in p, "prebuilt (checkpointed) centroids " \
        f"missing from the query plan:\n{p}"
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_keyset_pagination_no_global_window(spark, sf_dir):
    """Keyset pagination must be a pruned scan + TakeOrderedAndProject —
    no WindowExec single-task funnel."""
    p = _plan(spark, relational.keyset_pagination(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p


def test_chunk_filter_pushed_below_udf(spark, corpus_dir):
    """Chunked commits must restrict work at the RAW SCAN (url-hash
    predicate), not above the mapInPandas barrier — Catalyst cannot push
    a filter through a Python UDF, so the old shape re-extracted the
    whole corpus once per chunk."""
    pages = spark.read.parquet(corpus_dir)
    df = extract_pages(pages, 8, 2, part_keys=[0, 3])
    p = _plan(spark, df, "extended")
    # the url-hash predicate exists as a Filter...
    filt_lines = [i for i, line in enumerate(p.splitlines())
                  if "Filter" in line and "xxhash64(url" in line]
    assert filt_lines, p
    # ...and sits BELOW the UDF in the optimized tree (descendant = later
    # line), i.e. on the scan side, where Iceberg bucket(url) pruning
    # applies — not above MapInPandas where it would discard work
    udf_line = next(i for i, line in enumerate(p.splitlines())
                    if "MapInPandas" in line and "== Optimized" not in line)
    assert all(i > udf_line for i in filt_lines), p
    # functional: chunks partition the output exactly
    full = {r.url for r in extract_pages(pages, 8, 2).collect()}
    parts = []
    for keys in ([0, 3], [1, 2, 4, 5, 6, 7]):
        parts.append({r.url for r in
                      extract_pages(pages, 8, 2, part_keys=keys).collect()})
    assert parts[0] | parts[1] == full
    assert not (parts[0] & parts[1])


def _lambda_bodies(plan: str) -> list[str]:
    """Balanced-paren body of every lambdafunction(...) in a plan string."""
    out, i = [], 0
    while True:
        j = plan.find("lambdafunction(", i)
        if j < 0:
            return out
        k = j + len("lambdafunction(")
        depth, start = 1, k
        while depth and k < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[k], 0)
            k += 1
        out.append(plan[start:k])
        i = k


def test_tokenize_lambdas_reference_attributes_not_expressions(spark):
    """Per-element lambdas must close over materialized COLUMNS: an
    inline split/trim/lower expression inside a lambdafunction is
    re-evaluated for EVERY array element, turning shingling and 2-gram
    construction O(len^2) per doc (measured 2-4x on the bench). Guards
    sketch shingles/simhash votes and the repetition_stats gram stage
    against a CollapseProject re-inline."""
    from pyspark.sql import functions as F

    from textextract_spark.operators import sketch
    from textextract_spark.operators.textdata import repetition_stats

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"),
         (1, "一二三四五六七八九"
             "十一二三四五")],
        ["doc_id", "text"])
    plans = [
        sketch.with_shingles(docs)._jdf.queryExecution()
              .optimizedPlan().toString(),
        sketch.with_simhash(docs)._jdf.queryExecution()
              .optimizedPlan().toString(),
    ]
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        docs.withColumn("lang", F.lit("en")).write.parquet(
            os.path.join(d, "documents.parquet"))
        plans.append(repetition_stats(spark, d)._jdf.queryExecution()
                     .optimizedPlan().toString())
    for plan in plans:
        for body in _lambda_bodies(plan):
            # trim/lower of the lambda's OWN variable is fine; any
            # reference to the raw text column means the body recomputes
            # normalization/tokenization per element
            assert "text#" not in body, body[:200]


def test_new_dedup_query_shuffle_shapes(spark, sf_dir):
    """Shuffle-count/shape contracts for the r4 operators: url_dedup is
    ONE hash aggregation (plus the deterministic output sort);
    line_dedup uses groupBy+join — never a Window over the hot line key;
    winnow_fingerprint is a stateless projection (its only exchange is
    the output sort's range partitioning)."""
    from textextract_spark.operators.textdata import (
        line_dedup, winnow_fingerprint)
    from textextract_spark.operators.urls import url_dedup

    p = _plan(spark, url_dedup(spark, sf_dir), "simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Window" not in p

    p = _plan(spark, line_dedup(spark, sf_dir), "simple")
    assert "Window" not in p, p

    p = _plan(spark, winnow_fingerprint(spark, sf_dir), "simple")
    assert p.count("Exchange hashpartitioning") == 0, p
    assert "Window" not in p


def test_curation_aggregates_are_payload_free(spark, sf_dir):
    """The curation journey's two winner aggregations (extraction
    dedup-latest and the exact-dedup keeper) must buffer only (warc_ts,
    md5) / min(url) — never the text or html payload — and must have
    map-side partials (the shape that survives a hot content hash at
    10^12 docs)."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["curate_docs"](spark, sf_dir)
    p = _plan(spark, df, "formatted")
    fn_lines = [line for line in p.splitlines()
                if line.strip().startswith("Functions")]
    assert fn_lines
    assert all("text" not in line and "html" not in line
               for line in fn_lines), fn_lines
    assert any("partial_" in line for line in fn_lines)


def test_host_cap_no_window_over_hosts(spark, sf_dir):
    """cap_per_host's top-N must be the two-level aggregation, never a
    window over the skewed host key; the join back must be a semi
    join."""
    from textextract_spark.operators import urls
    p = _plan(spark, urls.host_cap(spark, sf_dir), "simple")
    assert "Window" not in p, f"window crept into the host cap:\n{p}"
    assert "LeftSemi" in p, f"keeper join-back must be semi:\n{p}"
    assert p.count("HashAggregate") >= 2 or "ObjectHashAggregate" in p


def test_decontam_broadcasts_eval_grams(spark, sf_dir):
    """Decontamination must broadcast the benchmark gram set — the
    corpus side must never shuffle for the overlap join."""
    from textextract_spark.operators import textdata
    p = _plan(spark, textdata.decontam(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p, \
        f"eval grams must broadcast:\n{p}"
    assert "SortMergeJoin" not in p, \
        f"corpus shuffled for the overlap join:\n{p}"


def test_temp_mixture_broadcasts_rates_no_window(spark, sf_dir):
    """Temperature mixture: rate table broadcast, no window, no
    rand() (determinism is the contract)."""
    from textextract_spark.operators import textdata
    df = textdata.temperature_mixture(spark, sf_dir)
    p = _plan(spark, df, "simple")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "Window" not in p
    assert "rand(" not in p


def test_char_lm_ppl_model_rides_closure(spark, sf_dir):
    """The perplexity filter's vocabulary-bounded model rides the
    scoring UDF's closure (r7 — the lang_trigram / lr broadcast shape;
    the r6 form exploded every corpus character through two broadcast
    joins): the scoring pass must be ONE Arrow stage with no corpus
    explode, no join, no window, and no sort-merge anywhere. (Since r7
    the stage is mapInArrow — zero-copy UTF-8 buffer access — so the
    plan node is MapInArrow rather than ArrowEvalPython.)"""
    from textextract_spark.operators import textdata
    p = _plan(spark, textdata.char_lm_ppl(spark, sf_dir), "simple")
    assert any(tag in p for tag in ("ArrowEvalPython", "BatchEvalPython",
                                    "MapInArrow", "MapInPandas")), \
        f"scoring must be the Arrow closure-model stage:\n{p}"
    assert "Join" not in p, f"model must not join:\n{p}"
    assert "Generate" not in p, f"corpus gram explode crept back:\n{p}"
    assert "Window" not in p and "SortMergeJoin" not in p


def test_char_lm_train_counts_in_arrow(spark, sf_dir):
    """The perplexity filter's TRAIN stage counts reference bigrams in
    an Arrow kernel and sums the counts in one aggregation: every
    execution it runs is free of Generate (the per-character explode
    it replaced) and one of them is a MapInArrow feeding a
    HashAggregate."""
    from pyspark.sql import functions as F

    from textextract_spark.io.source import source
    from textextract_spark.operators import textdata

    ss = spark._jsparkSession.sharedState().statusStore()

    def plans():
        lst = ss.executionsList()
        return {lst.apply(i).executionId():
                lst.apply(i).physicalPlanDescription()
                for i in range(lst.size())}

    before = set(plans())
    ref = (source(spark, sf_dir, "documents", spread=True)
           .filter(F.col("lang") == textdata.PPL_REF_LANG).select("text"))
    assert len(textdata.char_lm_train(ref)[0])
    ran = [p for i, p in plans().items() if i not in before]
    assert ran, "training ran no SQL execution"
    for p in ran:
        assert "Generate" not in p, f"reference explode crept back:\n{p}"
    assert any("MapInArrow" in p and "HashAggregate" in p
               and p.index("HashAggregate") < p.index("MapInArrow")
               for p in ran), "\n\n".join(ran)


def test_bm25_plan_shape(spark, sf_dir):
    """BM25: term stats and corpus stats ride broadcast joins; the
    query-term filter sits BELOW the (doc_id, w) exchange so the
    shuffle carries only matching tokens; top-k is
    TakeOrderedAndProject, never a global Sort."""
    from textextract_spark.operators import ranking
    p = _plan(spark, ranking.bm25_topk(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row stats crossJoin
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p
    fmt = _plan(spark, ranking.bm25_topk(spark, sf_dir))
    # the isin filter sits DIRECTLY on the explode output (same stage,
    # below any exchange): some tree line "Filter (k)" has
    # "Generate (k-1)" as its immediate child line, and the filter
    # condition is the query-term IN list
    assert "IN (spark,merge,vector,stream)" in fmt
    lines = fmt.splitlines()
    assert any("Filter" in a and "Generate" in b
               for a, b in zip(lines, lines[1:])), \
        "query-term filter should sit directly on the exploded tokens"


def test_tfidf_keywords_no_window(spark, sf_dir):
    """Per-doc top-k selection is the bounded collect+slice agg,
    never a window over doc_id."""
    from textextract_spark.operators import ranking
    p = _plan(spark, ranking.tfidf_keywords(spark, sf_dir))
    assert "Window" not in p
    assert "sort_array" in p and "slice" in p
    assert "BroadcastHashJoin" in p


def test_dsir_plan_broadcasts_ratio_table(spark, sf_dir):
    """DSIR: the 64-row bucket log-ratio table rides a broadcast join
    to the token stream; no window anywhere; per-lang report is one
    hash aggregation."""
    from textextract_spark.operators import learned
    p = _plan(spark, learned.dsir_sample(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in p
    assert "Window" not in p


def test_lr_scoring_model_rides_closure_not_join(spark, sf_dir):
    """The LR model is a literal map in the plan (MLlib-style driver-
    held state re-broadcast per iteration) — scoring needs NO join
    against a weights table and no window."""
    from textextract_spark.io.source import source
    from textextract_spark.operators import learned
    docs = source(spark, sf_dir, "documents", spread=True)
    labels, feats_i = learned._lr_features(docs, 8)
    w6 = {bk: 1000 * bk for bk in range(-1, 8)}
    p = _plan(spark, learned._scores6(w6, labels, feats_i))
    assert "map_from_arrays" in p or "map(" in p
    assert "Window" not in p


def test_robots_verdict_broadcasts_rules_no_frontier_shuffle(spark, sf_dir):
    """The per-host rules table rides a broadcast join; the frontier
    itself never shuffles (only the tiny robots side builds a
    BroadcastExchange) and nothing windows or sorts globally except
    the final presentation orderBy."""
    from textextract_spark.operators import urls as u
    p = _plan(spark, u.robots_verdicts(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "Window" not in p
    # no hash shuffle anywhere: the only exchanges are the broadcast
    # of the 11-row rules table and the final orderBy's range partition
    assert "hashpartitioning" not in p


def test_kmeans_assignment_rides_closure_no_centroid_join(spark, sf_dir):
    """k-means assignment scores against LITERAL centroid arrays (the
    driver-held model re-broadcast per round) — no join against a
    centroid table, no window; the per-round gradient aggregation is
    the only exchange."""
    from textextract_spark.operators import learned
    cents, qv = learned._fitted_kmeans(spark, sf_dir)
    a = learned._assign(qv, cents)
    p = _plan(spark, a, "simple")
    assert "Join" not in p and "Window" not in p
    assert "Exchange" not in p  # stateless narrow map over the vectors


def test_anchor_terms_two_level_topk_no_unbounded_collect(spark, sf_dir):
    """The per-host anchor top-k must be the two-level capped
    aggregation (the cap_per_host pattern): a per-(host, partition)
    capped partial whose grouping includes SPARK_PARTITION_ID, then the
    merge of capped lists — never a window over the hot host key and
    never a single-level collect_list of the host's whole vocabulary
    (the r5 judge's unbounded-per-key-state finding)."""
    from textextract_spark.operators import urls as u
    p = _plan(spark, u.anchor_terms(spark, sf_dir), "simple")
    assert "Window" not in p, f"window over dst_host:\n{p}"
    # level 1: capped partial grouped by (dst_host, __p) collecting the
    # raw (negn, term, n) structs — agg state bounded by the partition
    import re
    assert re.search(r"keys=\[dst_host#\d+, __p#\d+\], "
                     r"functions=\[(partial_)?collect_list\(struct", p), \
        f"per-(host, partition) capped partial missing:\n{p}"
    # level 2: the host-only merge aggregates the capped LIST column k,
    # never raw structs — per-key state is partitions-with-host x top_k
    assert re.search(r"keys=\[dst_host#\d+\], "
                     r"functions=\[(partial_)?collect_list\(k#", p), \
        f"capped-list merge level missing:\n{p}"
    assert not re.search(r"keys=\[dst_host#\d+\], "
                         r"functions=\[(partial_)?collect_list\(struct", p), \
        f"single-level unbounded collect over the host key:\n{p}"


def test_embed_documents_stateless_narrow_map(spark, sf_dir):
    """embed_documents must stay a stateless narrow map — no exchange,
    no join, no window: at 10^12 docs the embedding step must add zero
    shuffle to whatever consumes it. Since r7 the kernel is the Arrow-
    batched numpy stage (the r6 interpreted array fold was the bench's
    most steal-amplified stage; see the docstring) — still narrow."""
    from textextract_spark.operators import learned
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = _plan(spark, learned.embed_documents(docs), "simple")
    assert "Exchange" not in p, f"embedding must not shuffle:\n{p}"
    assert "Join" not in p and "Window" not in p
    assert "ArrowEvalPython" in p or "BatchEvalPython" in p


def test_pack_window_only_over_synthetic_bucket(spark, sf_dir):
    """Sequence packing is the module's ONE deliberate window — it must
    partition by the fixed-cardinality synthetic md5 bucket (a running
    sum per bucket is the packing semantics), never by a raw data key,
    and exactly one window may appear in the plan."""
    from textextract_spark.operators import textdata as td
    p = _plan(spark, td.pack_report(spark, sf_dir), "simple")
    assert p.count("Window") == 1, f"exactly one window expected:\n{p}"
    wline = next(ln for ln in p.splitlines() if "Window" in ln)
    # partition spec prints as "], [bucket#N], [doc_id ... ORDER]"
    assert re.search(r"\], \[bucket#\d+\], \[doc_id#", wline), \
        f"window must partition by the synthetic bucket:\n{wline}"


def test_embed_dedup_pairs_join_on_cluster_key(spark, sf_dir):
    """The SemDeDup pair stage must join ON THE CLUSTER KEY (the
    published design: pairwise comparison only within k-means
    clusters) — no cartesian product, no broadcast nested loop, no
    window; the assignment side scores literal centroids (no centroid
    join)."""
    from textextract_spark.operators import learned
    p = _plan(spark, learned.embed_dedup_docs(spark, sf_dir), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" not in p
    joins = [ln for ln in p.splitlines()
             if any(j in ln for j in ("SortMergeJoin", "ShuffledHashJoin",
                                      "BroadcastHashJoin"))]
    # every equi-join keys on __k (the pair stage) or doc_id (the
    # label join-back / CC iterations)
    for ln in joins:
        assert "__k" in ln or "doc_id" in ln or "src" in ln \
            or "cluster_id" in ln, f"join off the expected keys:\n{ln}"


def test_one_source_reader_and_one_model_memo():
    """Structural guard: the {sf_dir}/<table>.parquet layout, the spread
    rule and the fingerprinted model memo live in io/source.py only —
    no operator module re-implements them."""
    import pathlib
    root = pathlib.Path(__file__).resolve().parents[1]
    files = [*(root / "textextract_spark").rglob("*.py"),
             root / "__spark_entry__.py"]
    text = {p.relative_to(root).as_posix(): p.read_text() for p in files}

    def holders(pattern):
        return sorted(k for k, t in text.items() if re.search(pattern, t))

    owner = ["textextract_spark/io/source.py"]
    assert holders(r'spark\.read\.parquet\(f"\{sf_dir\}') == owner
    assert holders(r"\bos\.stat\(") == owner
    assert holders(r"sketch import _spread|sketch\._spread") == []
    caches = sorted(
        (k, m) for k, t in text.items()
        for m in re.findall(r"^(_\w*_CACHE)\s*(?::[^=\n]*)?=\s*\{", t,
                            re.M))
    assert caches == [("textextract_spark/operators/releases.py",
                       "_FEED_CACHE")]


def test_one_set_of_spark_text_primitives():
    """Structural guard: the Spark string semantics the Python kernels
    reproduce (ASCII \\s, [a-z]+ words, XXH64, the md5 bucket, the
    script rule) live in operators/spark_text.py only; no kernel counts
    UTF-16 units, and no per-batch memo is a hand-written dict."""
    import pathlib
    root = pathlib.Path(__file__).resolve().parents[1]
    ops = root / "textextract_spark" / "operators"
    files = [*(p for p in ops.glob("*.py") if p.name != "oracles.py"),
             root / "__spark_entry__.py"]
    text = {p.relative_to(root).as_posix(): p.read_text() for p in files}

    def holders(pattern):
        return sorted(k for k, t in text.items() if re.search(pattern, t))

    owner = ["textextract_spark/operators/spark_text.py"]
    assert holders(r"re\.compile\([^)]*re\.ASCII") == owner
    assert holders(r'"\[a-z\]\+"') == owner
    assert holders(r"def xxh64_bytes\b") == owner
    assert holders(r"def _?md5_bucket") == owner
    assert holders(r"(?i)utf-?16") == []
    assert holders(r"_is_spaceless") == []
    assert holders(r": dict\[str, int\] = \{\}") == []
    assert holders(r"memo\.clear\(\)") == []


def test_one_commit_path():
    """Structural guard: every snapshot write publishes through
    ManifestTable._commit, the package builds its one DataFrameWriter in
    io/table.py's _writer (so no write path falls back to Spark's snappy
    default), run_pipeline writes lineage in one place, and both stream
    functions share one epoch sink."""
    import ast
    import pathlib
    pkg = pathlib.Path(__file__).resolve().parents[1] / "textextract_spark"

    def calls(rel, pattern):
        text = (pkg / rel).read_text()
        return len(re.findall(r"(?<!def )\b" + pattern, text))

    # a `.write` that is read, not called (`df.write`, not `gz.write(b)`)
    def writer_reads(node):
        called = {id(n.func) for n in ast.walk(node)
                  if isinstance(n, ast.Call)}
        return sum(isinstance(n, ast.Attribute) and n.attr == "write"
                   and id(n) not in called for n in ast.walk(node))

    writers = {}
    for path in sorted(pkg.rglob("*.py")):
        n = writer_reads(ast.parse(path.read_text()))
        if n:
            writers[str(path.relative_to(pkg))] = n
    assert writers == {"io/table.py": 1}, writers
    table = ast.parse((pkg / "io/table.py").read_text())
    assert [f.name for f in table.body if isinstance(f, ast.FunctionDef)
            and writer_reads(f)] == ["_writer"]
    assert calls("io/table.py", r"self\._publish\(") == 1
    assert calls("pipeline.py", r"lineage_metrics\(") == 1
    assert calls("pipeline.py", r"metrics_tbl\.append\(") == 1
    assert calls("streaming/stream.py", r"def _sink\(") == 1


def test_one_materialize_step():
    """Structural guard: every lineage cut in the package goes through
    session.materialize, where the master picks localCheckpoint or a
    reliable checkpoint, and the only caches are the two with an
    explicit lifetime: the run-scoped WARC records in run_pipeline and
    releases.cached_feed's dim."""
    import ast
    import pathlib
    pkg = pathlib.Path(__file__).resolve().parents[1] / "textextract_spark"
    sites = []

    class Calls(ast.NodeVisitor):
        fn = "<module>"

        def visit_FunctionDef(self, node):
            outer, self.fn = self.fn, node.name
            self.generic_visit(node)
            self.fn = outer

        def visit_Call(self, node):
            f = node.func
            if isinstance(f, ast.Attribute) and (
                    f.attr in ("localCheckpoint", "checkpoint", "persist")
                    or (f.attr == "cache" and not node.args)):
                sites.append((f.attr, rel, self.fn))
            self.generic_visit(node)

    for p in sorted(pkg.rglob("*.py")):
        rel = p.relative_to(pkg).as_posix()
        Calls().visit(ast.parse(p.read_text()))
    assert sorted(sites) == [
        ("cache", "operators/releases.py", "cached_feed"),
        ("checkpoint", "session.py", "materialize"),
        ("localCheckpoint", "session.py", "materialize"),
        ("persist", "pipeline.py", "run_pipeline"),
    ]


def test_one_near_duplicate_path():
    """Structural guard: the curation journey materializes its decision
    table once and demotes keeps through one helper, the two minhash
    verifiers share one candidate block, neardup_clusters feeds the
    unordered pairs to connected_components, and the tools resolve
    their own checkout from __file__ (no call takes an absolute path
    literal)."""
    import ast
    import pathlib
    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "textextract_spark"
    pipeline = (pkg / "pipeline.py").read_text()
    sketch = (pkg / "operators" / "sketch.py").read_text()

    stage = next(n for n in ast.parse(pipeline).body
                 if isinstance(n, ast.FunctionDef)
                 and n.name == "_neardup_stage")
    assert pipeline.count("materialize(") == 1
    assert "materialize(" in ast.get_source_segment(pipeline, stage)
    assert pipeline.count("def _demote(") == 1
    assert len(re.findall(r"_candidate_pairs\(\s*minhash_bands\(",
                          sketch)) == 1
    fn = next(n for n in ast.parse(sketch).body
              if isinstance(n, ast.FunctionDef)
              and n.name == "neardup_clusters")
    assert "ngram_jaccard_pairs(" not in ast.get_source_segment(sketch, fn)
    literal_paths = [
        (p.name, a.value) for p in sorted((root / "tools").glob("*.py"))
        for n in ast.walk(ast.parse(p.read_text()))
        if isinstance(n, ast.Call)
        for a in [*n.args, *(k.value for k in n.keywords)]
        if isinstance(a, ast.Constant) and isinstance(a.value, str)
        and len(a.value) > 1 and a.value.startswith("/")]
    assert literal_paths == []


def test_components_have_no_round_limit():
    """Structural guard: connected_components takes only the edges and
    neardup_clusters no round option, nothing in sketch.py raises
    RuntimeError, and each component round materializes exactly
    once."""
    import ast
    import pathlib
    sketch = (pathlib.Path(__file__).resolve().parents[1]
              / "textextract_spark" / "operators" / "sketch.py")
    tree = ast.parse(sketch.read_text())
    fns = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    assert [a.arg for a in fns["connected_components"].args.args] == [
        "edges"]
    assert [a.arg for a in fns["neardup_clusters"].args.args] == [
        "spark", "sf_dir", "threshold"]
    assert not [n for n in ast.walk(tree) if isinstance(n, ast.Raise)
                and "RuntimeError" in ast.dump(n)]
    loops = [n for n in ast.walk(fns["connected_components"])
             if isinstance(n, (ast.For, ast.While))]
    assert len(loops) == 1
    assert sum(isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
               and n.func.id == "materialize"
               for n in ast.walk(loops[0])) == 1
