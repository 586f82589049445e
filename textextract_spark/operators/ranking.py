"""Corpus search/ranking operators over the `documents` table: inverted-
index term statistics, BM25 query scoring, and per-document TF-IDF
keyword extraction — the retrieval layer a training-data pipeline uses
for corpus exploration, decontamination triage, and topic labeling
(reference semantics anchor: the searchable extracted-text store,
/root/reference/backend/routes/api_routes.py:78).

Both drivers are fully DuckDB-oracled (operators.oracles): scores are
identical double expression trees over exact integer counts, rounded to
4 places in BOTH engines before any ordering, so rankings are portable.

Scale shape (10^12 docs): document length is computed map-side from the
tokenized array (no shuffle); the only wide stages are (doc_id, term)
hash aggregations — map-side combinable, and for BM25 the query-term
filter lands BELOW the exchange so the shuffle carries only matching
tokens. Term statistics (vocabulary-sized) ride broadcast joins; top-k
is TakeOrderedAndProject, never a global sort; per-doc keyword selection
is a bounded collect_list slice keyed on doc_id (per-key state bounded
by the doc's own vocabulary), never a window over a hot key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.source import source
from .spark_text import words

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "merge", "vector", "stream")
BM25_TOP_K = 20

TFIDF_PER_DOC = 3


def bm25_search(docs: DataFrame, query: tuple[str, ...],
                k1: float = BM25_K1, b: float = BM25_B,
                top_k: int = BM25_TOP_K,
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Okapi BM25 over an on-the-fly inverted index: score(d) =
    sum over query terms t of
    idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),
    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))  (the Lucene form —
    never negative, degrades gracefully for stopword-frequent terms).

    N counts ALL documents and avgdl averages ALL lengths (zero-token
    docs included — they just can never match). Returns the top_k
    (doc_id, score, n_terms) by score desc, doc_id asc; score is
    rounded to 4 places BEFORE ordering so the cut is portable.
    """
    if not query:
        raise ValueError("bm25_search needs at least one query term")
    base = docs.select(F.col(id_col).alias("doc_id"),
                       words(F.col(text_col)).alias("__w"))
    base = base.select("doc_id", F.size("__w").alias("__dl"), "__w")
    stats = base.agg(F.count("*").alias("__n"),
                     F.avg("__dl").alias("__avgdl"))
    # explode_outer (r7): plain explode infers a size(__w)>0 filter that
    # re-evaluates the inlined tokenizer per row; the isin filter below
    # already drops the null row outer emits for token-less docs
    # NOT checkpointed (r7, measured): tf feeds both the df aggregation
    # and the scoring join, so the corpus tokenize runs once per
    # reference — but a localCheckpoint here measured FLAT at a 50k-doc
    # replica (the duplicated pass is one cheap codegen scan) while
    # hiding the filter-below-exchange structure from the plan (the
    # test_bm25_plan_shape assertions); reverted, evidence kept here.
    tf = (base.select("doc_id", "__dl", F.explode_outer("__w").alias("w"))
          .filter(F.col("w").isin(*query))
          .groupBy("doc_id", "__dl", "w")
          .agg(F.count("*").alias("__tf")))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("__df"))
    idf = F.log(1.0 + (F.col("__n").cast("double") - F.col("__df") + 0.5)
                / (F.col("__df") + 0.5))
    # per-term contributions quantized to int64 micro-units before the
    # per-doc sum (r6, the dsir/char-LM pattern): a sum of raw doubles
    # is summation-order-dependent and can flip the round-4 cut by an
    # ulp between engines; integer sums cannot
    contrib = (tf.join(F.broadcast(dfreq), "w")
               .crossJoin(F.broadcast(stats))
               .select("doc_id",
                       F.round((idf * F.col("__tf") * (k1 + 1.0)
                                / (F.col("__tf")
                                   + k1 * ((1.0 - b)
                                           + b * F.col("__dl")
                                           / F.col("__avgdl"))))
                               * 1_000_000, 0)
                        .cast("long").alias("__su")))
    return (contrib.groupBy("doc_id")
            .agg(F.round(F.sum("__su") / 1_000_000.0, 4).alias("score"),
                 F.count("*").alias("n_terms"))
            .orderBy(F.desc("score"), "doc_id")
            .limit(top_k))


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row: BM25 top-20 for the fixed analytics query."""
    docs = source(spark, sf_dir, "documents", spread=True)
    return bm25_search(docs, BM25_QUERY)


def tfidf_doc_keywords(docs: DataFrame, per_doc: int = TFIDF_PER_DOC,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-document keyword extraction: the per_doc terms with the
    highest tf * ln(N/df) (raw tf, unsmoothed idf — df >= 1 for every
    scored term by construction). Ties break on term asc; tfidf is
    rounded to 4 places BEFORE selection so the cut is portable.
    Zero-token docs emit no rows (a keyword extractor is not a
    cleaning verdict; coverage reports count from the docs table).

    Per-doc top-k WITHOUT a window: one bounded
    collect_list + sort_array + slice per doc_id — per-key state is
    the doc's own distinct-word list, bounded by the doc itself.
    """
    toks = (docs.select(F.col(id_col).alias("doc_id"),
                        F.explode(words(F.col(text_col))).alias("w")))
    # NOT checkpointed (r7, measured): tf feeds both the document-
    # frequency aggregation and the scoring join, so the tokenize runs
    # twice — but materializing the corpus-sized (doc, word) table cost
    # MORE than the duplicated codegen pass it saves (1.3s -> 2.5s at a
    # 50k-doc replica). bm25_search leaves the same diamond
    # unmaterialized too: there a checkpoint of the query-filtered tf
    # measured flat and was reverted (see its comment).
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").alias("__tf"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("__df"))
    n = docs.agg(F.count("*").alias("__n"))
    scored = (tf.join(F.broadcast(dfreq), "w")
              .crossJoin(F.broadcast(n))
              .select("doc_id", "w",
                      F.round(F.col("__tf")
                              * F.log(F.col("__n").cast("double")
                                      / F.col("__df")), 4)
                       .alias("__tfidf")))
    picked = (scored
              .groupBy("doc_id")
              .agg(F.slice(F.sort_array(F.collect_list(F.struct(
                       (-F.col("__tfidf")).alias("negs"),
                       F.col("w"),
                       F.col("__tfidf")))), 1, per_doc).alias("__top")))
    return (picked
            .select("doc_id", F.posexplode("__top").alias("__p", "__kw"))
            .select("doc_id",
                    (F.col("__p") + 1).cast("int").alias("rk"),
                    F.col("__kw.w").alias("term"),
                    F.col("__kw.__tfidf").alias("tfidf"))
            .orderBy("doc_id", "rk"))


def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row: top-3 TF-IDF keywords per document."""
    return tfidf_doc_keywords(source(spark, sf_dir, "documents", spread=True))
