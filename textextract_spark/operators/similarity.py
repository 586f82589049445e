"""Similarity search over the `embeddings` table (graft brief: ANN over an
array<float> column — brute-force cosine top-k baseline + an LSH-bucketed
scale path).

Exact per-pair / top-k vector math is JVM-side higher-order functions
(zip_with/aggregate). The LSH signature stage is a vectorized Arrow-batched
pandas UDF (one numpy matmul per batch): computing T*P hyperplane dot
products per row with interpreted Catalyst lambdas measured ~10x slower
than BLAS at 32 planes and scales linearly worse — the north_rule's
"vectorized pandas/Arrow UDFs (no per-row Python)" path is the right tool
here. At 100 TB the brute-force variant is the per-bucket kernel of the
LSH path, never a global cross join.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..io.source import memo, source
from ..session import materialize

TOPK = 20
LSH_TABLES = 4
# 16-bit bucket keys (65,536 buckets/table). Sizing rule: keep expected
# bucket size O(1) — planes_per_table ~ log2(n_vectors); at 10^9 vectors
# pass planes_per_table=30 (and more tables to hold recall: per-table
# match prob is p^planes with p = 1 - angle/pi). Keys stay one long up
# to 63 planes. Degenerate buckets (duplicate-heavy data) are capped at
# sketch.MAX_BUCKET before pair expansion regardless.
PLANES_PER_TABLE = 16
N_PLANES = LSH_TABLES * PLANES_PER_TABLE
_PLANE_SEED = 1337


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the TOPK vectors nearest to vec_id=0.

    The probe side is one broadcast row; the scan side streams once with
    no shuffle (TakeOrderedAndProject for the top-k). Oracle: DuckDB
    list_cosine_similarity.
    """
    emb = source(spark, sf_dir, "embeddings", spread=True).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.col("embedding").alias("q_vec")))
    return (emb.filter(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id", "label",
                F.round(_dot(F.col("embedding"), F.col("q_vec"))
                        / (_norm(F.col("embedding"))
                           * _norm(F.col("q_vec"))), 4).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(TOPK))


CENTROID_SAMPLE_MOD = 4  # deterministic pseudo-sample: vec_id % MOD == 0


def label_centroids(spark: SparkSession, sf_dir: str,
                    sample_mod: int = CENTROID_SAMPLE_MOD) -> DataFrame:
    """IVF coarse-quantizer BUILD stage, split from the query path: a
    real IVF computes centroids once over a sample and persists them —
    query-time cost must be nprobe cells only, not a full-table
    posexplode per query (the r3 shape recomputed them every call).

    Centroids are per-label means over the deterministic ``vec_id %
    sample_mod == 0`` pseudo-sample (mirrored exactly in the DuckDB twin
    so both engines quantize identically), computed via posexplode +
    two hash-aggs (all JVM-side), materialized once and
    memoized per (application, sf_dir): subsequent ivf_topk plans scan
    the checkpointed centroid RDD — NO posexplode over the embeddings
    table remains in the query plan (plan-asserted, tests/test_plans).
    At 10^9 vectors this stage writes a real table instead; a production
    build would also sample stratified per cell rather than globally.

    The memo key carries the embeddings table's content fingerprint
    (io.source.memo): a regenerated embeddings.parquet at the same path
    within one application must miss, or ivf_topk would quantize
    against stale centroids while the oracle reads the fresh table."""
    def build() -> DataFrame:
        emb = source(spark, sf_dir, "embeddings", spread=True).withColumn(
            "embedding",
            F.transform("embedding", lambda x: x.cast("double")))
        return materialize(
            emb.filter(F.col("vec_id") % sample_mod == 0)
            .select("label", F.posexplode("embedding").alias("dim", "val"))
            .groupBy("label", "dim").agg(F.avg("val").alias("v"))
            .groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "v")))
                 .alias("dv"))
            .select("label",
                    F.transform("dv", lambda s: s.v).alias("centroid")),
            eager=True)
    return memo(("label_centroids", sf_dir, sample_mod),
                f"{sf_dir}/embeddings.parquet", build)


def ivf_topk(spark: SparkSession, sf_dir: str, probe_id: int = 0,
             nprobe: int = 3, k: int = 10) -> DataFrame:
    """IVF (inverted-file) ANN QUERY path: probe the nprobe nearest
    coarse cells -> exact cosine inside probed cells only.

    The 10^9-vector scale path: centroids come prebuilt from
    label_centroids (tiny, broadcast); the big side is partition-pruned
    to nprobe cells before any exact math. Here the coarse quantizer is
    the existing `label` clustering.
    """
    emb = source(spark, sf_dir, "embeddings", spread=True).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    cents = label_centroids(spark, sf_dir)
    q = (emb.filter(F.col("vec_id") == probe_id)
         .select(F.col("embedding").alias("q_vec")))
    probed = (cents.crossJoin(F.broadcast(q))
              .select("label",
                      (_dot(F.col("centroid"), F.col("q_vec"))
                       / (_norm(F.col("centroid")) * _norm(F.col("q_vec"))))
                      .alias("cell_cos"))
              .orderBy(F.desc("cell_cos")).limit(nprobe)
              .select("label"))
    return (emb.join(F.broadcast(probed), "label")
            .filter(F.col("vec_id") != probe_id)
            .crossJoin(F.broadcast(q))
            .select("vec_id", "label",
                    F.round(_dot(F.col("embedding"), F.col("q_vec"))
                            / (_norm(F.col("embedding"))
                               * _norm(F.col("q_vec"))), 4).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k))


def _planes(dim: int, n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic ±1 random hyperplanes (seeded; no runtime RNG)."""
    rng = random.Random(_PLANE_SEED)
    return [[float(rng.choice((-1, 1))) for _ in range(dim)]
            for _ in range(n_planes)]


def ann_lsh_pairs(spark: SparkSession, sf_dir: str, dim: int = 64,
                  min_cosine: float = 0.8) -> DataFrame:
    """Scale-path near-dup vector pairs: banded random-hyperplane LSH
    (LSH_TABLES independent tables of PLANES_PER_TABLE-bit keys),
    MAX_BUCKET-capped in-bucket pair expansion, exact cosine on the
    surviving candidate pairs only.

    At 10^9 vectors there is NO bucket self-join anywhere: candidates
    come from one groupBy(bucket) + capped pair explosion (reusing
    sketch._candidate_pairs), so a degenerate bucket costs at most
    MAX_BUCKET^2 pairs instead of a quadratic blowup. Banding (match in
    ANY table) gives ~1-(1-p^16)^4 recall at the advertised near-dup
    radius. Recall vs brute force is asserted on planted duplicates in
    tests/test_dedup.py.
    """
    emb = source(spark, sf_dir, "embeddings", spread=True).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    return _ann_lsh_over(emb, dim, min_cosine)


def ann_lsh_planted(spark: SparkSession, sf_dir: str, dim: int = 64,
                    min_cosine: float = 0.9, n_planted: int = 10) -> DataFrame:
    """ann_lsh_pairs over the embeddings table UNION deterministic planted
    duplicates (scaled copies of the first n_planted vectors — scaling
    preserves cosine exactly, so each plant pairs with its source at
    cosine 1.0). This is the driver-correctness entry: the r1 query
    returned 0 rows at sf0.01 (vacuously green); with plants the row set
    is non-trivial AND oracle-checkable against DuckDB all-pairs cosine
    (at this threshold brute force and LSH agree: same-direction vectors
    share every hyperplane sign, so plant recall is 1).
    """
    emb = source(spark, sf_dir, "embeddings", spread=True).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))
    # negative-range plant ids: disjoint from any corpus vec_id at
    # every sf (a fixed positive offset collides past ~100k vectors)
    plants = (emb.filter(F.col("vec_id") < n_planted)
              .select((-F.col("vec_id") - 100000).alias("vec_id"),
                      F.transform("embedding",
                                  lambda x: x * F.lit(1.0009765625))
                       .alias("embedding")))
    return _ann_lsh_over(
        emb.select("vec_id", "embedding")
           .unionByName(plants), dim, min_cosine)


def embedding_dedup(spark: SparkSession, sf_dir: str,
                    min_cosine: float = 0.9) -> DataFrame:
    """SemDeDup-style embedding near-dup DECISION (Abbas et al., 2023:
    semantic dedup = cluster embeddings, drop within-cluster pairs above
    a cosine threshold): LSH-bucketed candidate pairs at cosine >=
    min_cosine -> Hash-Min connected components -> per-vector keep flag
    (keep = the component's min vec_id, the canonical representative).

    Composition of two already-scale-shaped stages: the pair stage is
    ann_lsh_planted (capped buckets, no self-join — planted duplicates
    keep the driver row non-vacuous exactly like the ann_lsh_pairs
    oracle), the component stage is sketch.connected_components
    (O(diameter) rounds, aggregate-only driver loop). Output is one row
    per vector that appears in any near-dup pair; vectors with no pair
    are trivially kept and omitted (they'd dominate the output with no
    information).
    """
    from .sketch import connected_components

    pairs = (ann_lsh_planted(spark, sf_dir, min_cosine=min_cosine)
             .select("a_id", "b_id"))
    labels = connected_components(pairs)
    return (labels
            .select(F.col("doc_id").alias("vec_id"), "cluster_id",
                    (F.col("doc_id") == F.col("cluster_id")).alias("keep"))
            .orderBy("vec_id"))


def _lsh_keys_udf(dim: int, tables: int = LSH_TABLES,
                  planes_per_table: int = PLANES_PER_TABLE):
    """Arrow-batched signature stage: ONE numpy matmul per batch computes
    every hyperplane dot product, then bit-packs each table's sign block
    into a long key. Replaces tables*planes interpreted Catalyst lambda
    aggregates per row (measured ~10x slower at 32 planes)."""
    plane_mat = np.asarray(_planes(dim, tables * planes_per_table),
                           dtype=np.float64)  # (T*P, dim)
    weights = (1 << np.arange(planes_per_table - 1, -1, -1,
                              dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def lsh_keys(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            # np.stack raises on zero arrays; Arrow can hand the UDF an
            # empty batch (empty partition / tail batch) — stay total
            return pd.Series([], dtype=object)
        mat = np.stack(emb.to_numpy())            # (n, dim)
        bits = (mat @ plane_mat.T) > 0            # (n, T*P)
        keys = np.empty((len(mat), tables), dtype=np.int64)
        for t in range(tables):
            block = bits[:, t * planes_per_table:(t + 1) * planes_per_table]
            keys[:, t] = block.astype(np.int64) @ weights
        return pd.Series(list(keys))

    return lsh_keys


def _ann_lsh_over(emb: DataFrame, dim: int,
                  min_cosine: float) -> DataFrame:
    # unlike the minhash paths (sketch._lsh_verified) the embedding rides
    # the bucket: a join-back of the vectors measured slower here
    from .sketch import _above, _candidate_pairs

    # posexplode_outer (not plain posexplode): an inferred size()>0 filter
    # would re-run the signature UDF a second time per row. band_id is the
    # table index, so identical keys in different tables never collide.
    with_b = emb.select(
        F.col("vec_id").alias("doc_id"), "embedding",
        F.posexplode_outer(_lsh_keys_udf(dim)(F.col("embedding")))
         .alias("band_id", "band_key"))
    # capped pair expansion — one aggregation, no self-join anywhere; a
    # degenerate bucket (mass-duplicated vector) is sampled to its first
    # MAX_BUCKET ids instead of exploding quadratically (the min-id
    # canonical keeper stays in the sample)
    pairs = _candidate_pairs(with_b, "embedding")
    cosine = (_dot(F.col("pa"), F.col("pb"))
              / (_norm(F.col("pa")) * _norm(F.col("pb"))))
    return (_above(pairs, cosine, min_cosine, "cosine")
            .orderBy(F.desc("cosine"), "a_id", "b_id"))
