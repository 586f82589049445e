"""Hash-sketch near-duplicate detection: MinHash+LSH, SimHash, and exact
n-gram Jaccard verification (graft brief: dedup family for training-data
pipelines).

Spark-first: the K minhash permutations, banding, bit-votes and Hamming
distances are ALL built-in functions. MinHash signatures are computed via
explode + a 64-column hash aggregation (whole-stage codegen) rather than
64 higher-order ``transform`` calls: lambda functions are interpreted per
element, and 64 × shingles × docs interpreted evals measured ~10x slower
than the codegen agg path. The one Arrow-batched pandas UDF is the r7
shingling stage (with_shingles — measured 6x vs the interpreted
per-window transform; semantics replicated exactly, see its docstring).

Scale shape (10^9 docs): the only shuffles are (a) the doc_id hash-agg
for signatures, (b) groupBy(band/chunk key) bucketing, and (c) a
broadcast-sized join of surviving candidate pairs back to shingle sets —
never an all-pairs cross join, never payload arrays through the bucket
shuffle. Degenerate buckets are capped (MAX_BUCKET) before pair expansion
on BOTH the minhash and simhash paths.
"""

from __future__ import annotations

import functools
import random as _random

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.source import source, spread_partitions
from ..session import materialize
from .spark_text import is_spaceless, split_ws, xxh64_bytes

K_HASHES = 64          # minhash permutations
BANDS = 16             # LSH bands (K/BANDS rows per band)
ROWS_PER_BAND = K_HASHES // BANDS
SHINGLE = 3            # word shingle width (space-segmented scripts)
CHAR_SHINGLE = 5       # char n-gram width (unsegmented scripts: CJK etc.)
SIMHASH_CHAR_TOKEN = 3  # char token width for simhash votes, unsegmented
MAX_BUCKET = 50        # cap candidate fan-out per band bucket (skew guard)
# row-wise pre-sample threshold for monster buckets: below this the exact
# first-MAX_BUCKET-by-doc_id sample is taken; above it a deterministic
# doc-hash rate filter thins the bucket to ~this many rows BEFORE the
# per-bucket collect, bounding aggregation state (see _candidate_pairs)
_PRESAMPLE_TARGET = 64 * MAX_BUCKET
SIMHASH_BITS = 64


def _shingles(norm: str) -> dict | None:
    """Distinct shingles of one JVM-normalized text, in first-occurrence
    order (array_distinct's): CHAR_SHINGLE-char n-grams when the text is
    spaceless, SHINGLE-word windows otherwise; None when the text has
    too few chars or words for one shingle."""
    if is_spaceless(norm):
        n, k = len(norm), CHAR_SHINGLE
        return (dict.fromkeys(norm[i:i + k] for i in range(n - k + 1))
                if n >= k else None)
    if not norm:
        return None
    toks, k = split_ws(norm), SHINGLE
    return (dict.fromkeys(" ".join(toks[i:i + k])
                          for i in range(len(toks) - k + 1))
            if len(toks) >= k else None)


def with_shingles(df: DataFrame) -> DataFrame:
    """Add the distinct `shingles` array — script-aware: SHINGLE-word
    windows for space-segmented text, CHAR_SHINGLE-char n-grams when the
    whitespace-density predicate flags unsegmented script (CJK etc.).
    Both branches of a near-dup pair take the same branch (the predicate
    is a property of the text), so pairwise Jaccard semantics are
    unchanged; cross-script pairs share no shingles by construction.

    Execution strategy (r7): ONE Arrow-batched pandas UDF over the
    JVM-normalized text — trim+lower stays in Spark so its semantics
    cannot drift — replacing the interpreted per-window slice+concat_ws
    transform (measured 3.3 s -> ~0.5 s at sf1.0/local[32] for this
    stage alone; the winnow_fingerprint / lang_trigram tradeoff).
    Token semantics are replicated exactly (spark_text): split_ws is
    Spark's split on \\s+, " ".join matches concat_ws over non-null
    strings, and dict.fromkeys preserves array_distinct's
    first-occurrence order.

    Docs qualifying for neither branch carry shingles = NULL where the
    r6 two-branch union dropped their rows — inert for every consumer
    (minhash_signatures explode_outer-filters nulls; the jaccard
    verify join only ever fetches pair members, which have bands and
    therefore shingles)."""
    from pyspark.sql.types import ArrayType, StringType

    @F.pandas_udf(ArrayType(StringType()))
    def shingles_of(norms: pd.Series) -> pd.Series:
        return pd.Series([None if (sh := _shingles(t)) is None
                          else list(sh) for t in norms])

    return spread_partitions(df).withColumn(
        "shingles", shingles_of(F.trim(F.lower(F.col("text")))))


# Universal-hash coefficients for the K permutations, seeded once.
# Kept < 2^30 so a*h32+b stays under 2^63 — overflow-free in ANSI mode.
_rng = _random.Random(9176)
_MH_A = [(_rng.randrange(1, 1 << 30)) | 1 for _ in range(K_HASHES)]
_MH_B = [_rng.randrange(0, (1 << 31) - 1) for _ in range(K_HASHES)]

# mod prime must be far below a*h's range so the hash wraps many times —
# otherwise min(a*h+b) stays monotone in h and every "permutation"
# degenerates to the same argmin shingle. With p = 2^31-1 and a*h up to
# ~2^62 each permutation wraps ~2^31 times.
_P31 = (1 << 31) - 1


def minhash_signatures(df: DataFrame,
                       emit_shingles: bool = False) -> DataFrame:
    """(doc_id, minhash[, shingles]): the K-element signature array.

    emit_shingles=True additionally returns the distinct shingle array
    the signature was computed FROM (r7): the candidate/verify shape
    (exact_jaccard_pairs) needs both, and emitting them from this one
    kernel removes a second full tokenize+shingle pass over the corpus
    (with_shingles ran the identical Python loop again — measured
    ~0.7 s duplicated work at 50k docs / local[32]).

    ONE Arrow-batched stage over the JVM-normalized text (r7, guide
    §4.2): shingle through the same _shingles as with_shingles
    (duplicate shingles can't change a min anyway), hash each distinct
    shingle once through xxh64_bytes (bit-identical to F.xxhash64,
    per-batch memo), keep the low 32 bits, and take the K permutation
    minima as one (shingles x K) vectorized numpy min. This replaces with_shingles
    -> explode (one row per SHINGLE) -> a 64-column min aggregation
    and its shuffle: signature stage measured 1.45s -> ~0.9s at 50k
    docs / local[32], zero exchange left in the stage. All values are
    exact int64 arithmetic on both paths (h32 < 2^32, a < 2^30, so
    a*h32+b < 2^63 — overflow-free in numpy int64 exactly as in ANSI
    SQL), so signatures are bit-identical — pinned by
    tests/test_dedup.py::test_minhash_arrow_matches_jvm_agg. Docs
    qualifying for neither shingle branch emit no signature row (the
    explode_outer + null-filter behavior of the r6 form)."""
    import numpy as np

    A = np.asarray(_MH_A, dtype=np.int64)
    B = np.asarray(_MH_B, dtype=np.int64)

    def sig_kernel(batches):
        @functools.cache
        def h32_of(t: str) -> int:
            return xxh64_bytes(t.encode("utf-8")) & 0xFFFFFFFF

        for pdf in batches:
            ids, sigs, shs = [], [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["__norm"]):
                sh = _shingles(t)
                if sh is None:
                    continue
                hs = np.fromiter((h32_of(s) for s in sh),
                                 dtype=np.int64, count=len(sh))
                sigs.append((hs[:, None] * A[None, :] + B[None, :])
                            % _P31)
                ids.append(doc_id)
                if emit_shingles:
                    shs.append(list(sh))
            out = {
                # input dtype, not a hard-coded int64: the curation
                # path keys this kernel by url STRINGS (see
                # exact_jaccard_pairs)
                "doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
                "minhash": pd.Series(
                    [s.min(axis=0) for s in sigs], dtype="object"),
            }
            if emit_shingles:
                out["shingles"] = pd.Series(shs, dtype="object")
            yield pd.DataFrame(out)

    id_type = df.schema["doc_id"].dataType.simpleString()
    schema = f"doc_id {id_type}, minhash array<long>"
    if emit_shingles:
        schema += ", shingles array<string>"
    return (spread_partitions(df)
            .select("doc_id",
                    F.trim(F.lower(F.col("text"))).alias("__norm"))
            .mapInPandas(sig_kernel, schema=schema))


def minhash_bands(df: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Explode the minhash signature into (band_id, band_key) rows,
    carrying the `keep` payload columns along. Default carries NOTHING
    beyond doc_id (r7): the band rows are checkpointed and shuffled 16x
    per doc inside _candidate_pairs, so a kept 64-long signature
    multiplies that stage's bytes ~30x — survivors join signatures
    back instead (minhash_neardup).

    Band key is xxhash64 of the band's signature slice — ONE LONG (r7,
    guide §2.3 "narrower types"), replacing the r6 32-hex-char md5
    string that rode the band checkpoint plus three bucket shuffles at
    ~6x the bytes. Bucket membership is decided by key equality and
    equal slices hash equal under either function, so the candidate
    set — and every downstream verified pair — is unchanged (a 64-bit
    collision merging two buckets could only ADD a candidate, which
    the exact-jaccard / est-jaccard verify then filters identically in
    both engines)."""
    # posexplode_outer: a plain posexplode gets an inferred size()>0
    # filter that re-evaluates the interpreted 16-band hash transform a
    # second time per row (see minhash_signatures note)
    return (df.select(
        "doc_id", *keep,
        F.posexplode_outer(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda b: F.xxhash64(F.concat_ws(
                    ",",
                    F.transform(
                        F.slice("minhash", b * ROWS_PER_BAND + 1,
                                ROWS_PER_BAND),
                        lambda x: x.cast("string"))))))
        .alias("band_id", "band_key"))
        .filter(F.col("band_key").isNotNull()))


def _candidate_pairs(bands: DataFrame, payload_col: str | None) -> DataFrame:
    """Bucketed candidates -> deduped pairs, optionally carrying each
    side's payload, in ONE shuffle + ONE dedup — no join back to the
    source. Input needs columns (band_id, band_key, doc_id[, payload]).

    Skew guard: degenerate buckets (a boilerplate band / low-entropy
    chunk shared by thousands of docs) are SAMPLED down to their first
    MAX_BUCKET members by doc_id before pair expansion, capping the
    quadratic blowup at MAX_BUCKET^2 per bucket. Sampling (not dropping,
    the pre-r4 behavior) keeps recall for mass-duplicated content — the
    primary dedup target lands in over-cap buckets in EVERY band, and
    dropping those buckets zeroed its pair recall. First-by-doc_id is
    deterministic and keeps the canonical keeper (min id) in the sample,
    so downstream cluster formation still anchors on it.

    Hot-key shape (r5, replaces the r4 row_number window): SCALE.md's
    rule — hot-key stages must be aggregations or joins, never windows —
    applies to this sampler itself; the r4 window funneled an entire
    10^9-copy bucket through ONE task's sort before the cap filter.
    Now: (1) a bounded-state hash agg computes per-bucket size + keeper
    (count/min are map-side combinable — a 10^9-row bucket arrives at
    its reducer as partials); (2) buckets over _PRESAMPLE_TARGET are
    thinned row-wise by a deterministic doc-hash rate filter (keeper
    always survives) BEFORE any per-bucket collection, so expected
    per-bucket agg state is ~_PRESAMPLE_TARGET, never the raw bucket;
    (3) one collect_list + sort_array + slice takes the first
    MAX_BUCKET by doc_id. Buckets <= _PRESAMPLE_TARGET hit rate 1, so
    the sample is byte-identical to the r4 first-MAX_BUCKET-by-id
    semantics at any realistic bucket size (and at every oracle/test
    scale); only >64x-over-cap monster buckets switch to the hash
    sample, which still contains the min-id keeper by construction.
    The stats join back is key-equality on (band_id, band_key) and
    AQE-splittable when one bucket dominates.

    The stats/join diamond would otherwise evaluate the bands frame —
    and its whole upstream (signature UDF / 64-hash agg) — TWICE
    (Catalyst does not share subplans across branches; measured as a
    duplicated ArrowEvalPython in the LSH plan), so bands is
    materialized lazily, once for both branches: the same "write
    signatures/bands to a scratch table" step a production dedup
    pipeline performs anyway.
    """
    member = (F.struct("doc_id", payload_col) if payload_col
              else F.struct("doc_id"))
    bands = materialize(bands)
    stats = (bands.groupBy("band_id", "band_key")
             .agg(F.count("*").alias("__sz"),
                  F.min("doc_id").alias("__keep_id"))
             .filter(F.col("__sz") > 1))  # singletons never pair
    rate = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.col("__sz") / F.lit(_PRESAMPLE_TARGET)).cast("long"))
    survivors = (bands.join(stats, ["band_id", "band_key"])
                 .filter((F.col("doc_id") == F.col("__keep_id"))
                         | (F.pmod(F.xxhash64("doc_id", "band_key"), rate)
                            == 0)))
    members = (survivors.groupBy("band_id", "band_key")
               .agg(F.slice(F.sort_array(F.collect_list(member)),
                            1, MAX_BUCKET).alias("members"))
               .filter(F.size("members") > 1))

    def mk_pair(a, b):
        fields = [a.doc_id.alias("a_id"), b.doc_id.alias("b_id")]
        if payload_col:
            fields += [a[payload_col].alias("pa"), b[payload_col].alias("pb")]
        return F.struct(*fields)

    pairs = members.select(F.explode(F.filter(
        F.flatten(F.transform(
            "members",
            lambda a: F.transform("members", lambda b: mk_pair(a, b)))),
        lambda p: p.a_id < p.b_id)).alias("p")).select("p.*")
    return pairs.dropDuplicates(["a_id", "b_id"])


def _above(pairs: DataFrame, score, threshold: float,
           name: str) -> DataFrame:
    """(a_id, b_id, name): pairs whose score reaches threshold."""
    # filter on the RAW score, round only for display: the rounded value
    # disagrees with the oracles' raw-threshold WHERE at the boundary
    # (raw 0.39997 rounds to 0.4)
    return (pairs.select("a_id", "b_id", score.alias("__raw"))
            .filter(F.col("__raw") >= threshold)
            .select("a_id", "b_id", F.round("__raw", 4).alias(name)))


def _lsh_verified(sig: DataFrame, payload: str, score, threshold: float,
                  name: str) -> DataFrame:
    """The minhash candidate/verify block: payload-free bands over
    (doc_id, minhash) -> candidate pairs -> each side's ``payload``
    joined back as pa/pb for those pairs only -> ``score`` >= threshold.
    """
    # lazy checkpoint: the band branch and both join-backs share ONE run
    # of the signature kernel. The payload never rides the band
    # checkpoint or the bucket shuffle (r7, guide §8 decide-small/
    # attach-once: bands carrying the signature were ~30x the bytes).
    sig = materialize(sig)
    pairs = _candidate_pairs(minhash_bands(sig.select("doc_id", "minhash")),
                             None)
    side = sig.select("doc_id", payload)
    joined = (pairs
              .join(side.select(F.col("doc_id").alias("a_id"),
                                F.col(payload).alias("pa")), "a_id")
              .join(side.select(F.col("doc_id").alias("b_id"),
                                F.col(payload).alias("pb")), "b_id"))
    return _above(joined, score, threshold, name)


def minhash_neardup(spark: SparkSession, sf_dir: str,
                    threshold: float = 0.5) -> DataFrame:
    """Candidate near-dup pairs by MinHash LSH + signature-estimated
    Jaccard >= threshold (the fraction of equal signature slots)."""
    # unspread read: minhash_signatures spreads its own input
    docs = source(spark, sf_dir, "documents", spread=False)
    est = (F.aggregate(F.zip_with("pa", "pb",
                                  lambda x, y: (x == y).cast("int")),
                       F.lit(0), lambda acc, x: acc + x)
           / F.lit(K_HASHES))
    return (_lsh_verified(minhash_signatures(docs), "minhash", est,
                          threshold, "est_jaccard")
            .orderBy(F.desc("est_jaccard"), "a_id", "b_id"))


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str,
                        threshold: float = 0.4) -> DataFrame:
    """Exact shingle-set Jaccard for the LSH candidate pairs (verify pass
    after minhash banding — the two-stage dedup a real pipeline runs).
    """
    docs = source(spark, sf_dir, "documents", spread=False)
    return (exact_jaccard_pairs(docs, threshold)
            .orderBy(F.desc("jaccard"), "a_id", "b_id"))


def exact_jaccard_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """LSH-candidates -> exact-jaccard-verified pairs over any
    (doc_id, text) frame (doc_id may be any orderable type — the
    curation path passes urls). Signatures and shingle sets come out of
    ONE Arrow kernel pass (r7: the r6 form ran that Python loop twice).
    """
    inter = F.size(F.array_intersect("pa", "pb"))
    union = F.size(F.array_union("pa", "pb"))
    return _lsh_verified(minhash_signatures(docs, emit_shingles=True),
                         "shingles", inter / union, threshold, "jaccard")


def with_simhash(df: DataFrame) -> DataFrame:
    """64-bit SimHash per doc via token-hash bit votes.

    Script-aware votes: whitespace tokens for segmented text, char
    trigrams when the whitespace-density predicate flags unsegmented
    script (an unsegmented doc otherwise casts ONE whole-line vote and
    its signature is just that line's hash — any edit flips ~32 bits).

    Execution strategy (r7, guide §4.2): ONE Arrow-batched stage over
    the JVM-normalized text computes the 64 per-bit ones-counts + the
    token count per doc — tokenize, hash (xxh64_bytes, bit-identical
    to F.xxhash64 behind a per-batch distinct-token memo) and a numpy
    unpackbits/sum. This replaces tokenize -> explode (one row per
    TOKEN) -> 64-column hash aggregation + its shuffle: measured
    2.9s -> 1.6s for the vote stage at 50k docs,
    local[32], zero shuffle left before signature assembly. Token
    semantics replicated exactly (spark_text.split_ws keeps empty
    tokens like Spark's split; trim/lower stays in the JVM).

    The signature is assembled IN the kernel (r7, second pass): the
    majority test 2*ones_b > n over the per-bit ones-counts, packed
    little-endian via np.unpackbits' inverse — bit-identical to the
    former 64-branch JVM CASE ladder (the ±1 vote sum is exactly
    2*ones_b - n, so "vote > 0" is the majority test), which shipped
    65 long columns across Arrow and evaluated a 64-term sum per row.
    One (doc_id, simhash) column pair crosses the boundary instead.
    Pinned end-to-end by test_simhash_arrow_votes_match_jvm_agg
    (final signatures vs the r6 JVM explode+agg reference).
    """
    import numpy as np

    k_c = SIMHASH_CHAR_TOKEN

    def votes_kernel(batches):
        @functools.cache
        def h_of(t: str) -> int:
            return xxh64_bytes(t.encode("utf-8"))

        for pdf in batches:
            ids, ns, rows = [], [], []
            for doc_id, norm in zip(pdf["doc_id"], pdf["__norm"]):
                if is_spaceless(norm):
                    n = len(norm)
                    if n < k_c:  # no char n-grams: no vote row at all
                        continue
                    toks = [norm[i:i + k_c] for i in range(n - k_c + 1)]
                else:
                    # an empty norm votes once with the hash of "",
                    # like the r6 explode
                    toks = split_ws(norm)
                hs = np.fromiter((h_of(t) for t in toks),
                                 dtype=np.uint64, count=len(toks))
                rows.append(np.unpackbits(
                    hs.view(np.uint8), bitorder="little")
                    .reshape(-1, SIMHASH_BITS).sum(
                        axis=0, dtype=np.int64))
                ids.append(doc_id)
                ns.append(len(toks))
            if rows:
                ones = np.vstack(rows)
                n_vec = np.asarray(ns, dtype=np.int64)
                bits = (2 * ones) > n_vec[:, None]
                # little-endian pack: bit b contributes 1<<b; the
                # int64 view realizes the top bit as two's complement
                # exactly like the former JVM assembly
                sims = np.packbits(bits, axis=1, bitorder="little") \
                    .view(np.int64).ravel()
            else:
                sims = np.empty(0, dtype=np.int64)
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "simhash": pd.Series(sims, dtype="int64")})

    base = spread_partitions(df).select(
        "doc_id", F.trim(F.lower(F.col("text"))).alias("__norm"))
    return base.mapInPandas(votes_kernel,
                            schema="doc_id long, simhash long")


def _simhash_chunks(max_hamming: int) -> list[tuple[int, int]]:
    """(shift, width) for max_hamming+1 chunks covering all 64 bits.

    Pigeonhole: a pair within Hamming distance d <= max_hamming differs
    in at most d chunks, so with d+1 chunks at least one chunk matches
    exactly — candidate recall is guaranteed at the advertised radius.

    Key-width / radius tradeoff (why the at-scale default is d=3): the
    chunk key space is 2^(64/(d+1)) per chunk. d=3 gives the classic
    4x16-bit scheme (65,536 buckets/chunk — Manku et al., WWW'07); d=8
    gives 9 chunks of only 7-8 bits (128-256 buckets/chunk), which
    SATURATES once the corpus exceeds ~MAX_BUCKET * 256 docs: every
    bucket blows past the skew cap and is sampled down to MAX_BUCKET
    members, collapsing the recall the pigeonhole scheme guarantees (a
    given pair survives only if both sides land in the sample). Wide
    radii are therefore a small-corpus option only; tests/test_dedup.py
    asserts both the d<=8 guarantee at small n and the d=3 default's
    recall in the saturated regime.
    """
    n = max_hamming + 1
    base, extra = divmod(SIMHASH_BITS, n)
    chunks = []
    shift = 0
    for i in range(n):
        width = base + (1 if i < extra else 0)
        chunks.append((shift, width))
        shift += width
    return chunks


def simhash_pairs(sh: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs with Hamming(simhash) <= max_hamming from a (doc_id, simhash)
    DataFrame. Candidates via (max_hamming+1)-chunk equality buckets with
    the same MAX_BUCKET skew cap as the minhash path. Default radius 3 =
    the 4x16-bit scheme that stays below the cap at crawl scale (see
    _simhash_chunks); radii up to 8 keep the pigeonhole guarantee but
    saturate on large corpora."""
    chunks = _simhash_chunks(max_hamming)

    def chunk_key(shift: int, width: int):
        expr = F.shiftrightunsigned("simhash", shift)
        if width < 64:  # (1<<64)-1 overflows LongType; width 64 = identity
            expr = expr.bitwiseAND(F.lit((1 << width) - 1))
        return expr

    buckets = sh.select(
        "doc_id", F.col("simhash"),
        F.posexplode_outer(F.array(*[
            chunk_key(shift, width) for shift, width in chunks]))
        .alias("band_id", "band_key"))
    pairs = _candidate_pairs(buckets, "simhash")
    return (pairs.select(
                "a_id", "b_id",
                F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
                 .alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .orderBy("hamming", "a_id", "b_id"))


def simhash_neardup(spark: SparkSession, sf_dir: str,
                    max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming.

    Default radius 3 (16-bit chunk keys): the configuration whose recall
    guarantee survives crawl scale — wider radii shrink the key space
    below the MAX_BUCKET skew cap's saturation point (_simhash_chunks)."""
    docs = source(spark, sf_dir, "documents", spread=False)
    return simhash_pairs(with_simhash(docs), max_hamming)


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components over an (a_id, b_id) pair graph: the step
    that turns pairwise matches into dedup DECISIONS — every node in a
    component gets cluster_id = min(id) of its component (the canonical
    keeper), so `keep = (doc_id == cluster_id)` is the final winner
    predicate. Shared by the text near-dup path (neardup_clusters), the
    curation journey and the embedding SemDeDup paths.

    Algorithm: large-star/small-star alternation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) over the
    directed edges src = greatest(a, b) -> dst = least(a, b). Large-star
    re-points each edge's src at the smallest of its dst and the dst's
    targets; small-star re-points a src and its other targets at its
    smallest target. Both keep every component and only lower targets,
    and they end in a star forest: one star per component, centred on
    its min id, each leaf's one edge naming its label and each centre
    labelling itself. The rounds grow with log(component size) in
    practice, not with the diameter (a 1,000-node chain takes ~10).

    A round is two aggregate + key-equality-join steps (hot keys meet
    aggregations and joins only, never windows) and a distinct,
    materialized once; its one collected aggregate asks whether the
    output is a star forest, the fixpoint that a further round would
    return unchanged. Ids may be of any orderable type (the curation
    path passes urls). Restricted to nodes that appear in a pair of
    distinct ids — singletons are trivially their own cluster and would
    dominate the output for no information.

    Returns (doc_id, cluster_id) ordered by doc_id.
    """
    # every round reads its edges twice (an aggregate and a join), and
    # Catalyst shares no subplans: cut the pair upstream off once. A
    # self-pair is no edge, and a star forest has no self-loop to end on
    e = materialize(edges.select(F.greatest("a_id", "b_id").alias("src"),
                                 F.least("a_id", "b_id").alias("dst"))
                    .where(F.col("src") != F.col("dst")))
    while True:
        # large-star: src -> the smallest of dst and dst's own targets
        low = e.groupBy("src").agg(F.min("dst").alias("m"))
        large = (e.join(low.withColumnRenamed("src", "dst"), "dst", "left")
                 .select("src", F.coalesce("m", "dst").alias("dst")))
        # small-star: src and its other targets -> its smallest target
        low = large.groupBy("src").agg(F.min("dst").alias("m"))
        small = (large.join(low, "src")
                 .select(F.when(F.col("dst") == F.col("m"), F.col("src"))
                          .otherwise(F.col("dst")).alias("src"),
                         F.col("m").alias("dst")))
        e = materialize(small.distinct())
        # a node with an out-edge and a second edge breaks the star shape
        ends = e.select(F.inline(F.array(
            F.struct(F.col("src").alias("n"), F.lit(True).alias("out")),
            F.struct(F.col("dst").alias("n"), F.lit(False).alias("out")))))
        if not (ends.groupBy("n")
                .agg((F.max("out") & (F.count("*") > 1)).alias("x"))
                .agg(F.max("x")).collect()[0][0]):
            break
    return (e.select(F.inline(F.array(
                F.struct(F.col("src").alias("doc_id"),
                         F.col("dst").alias("cluster_id")),
                F.struct(F.col("dst").alias("doc_id"),
                         F.col("dst").alias("cluster_id")))))
            .distinct().orderBy("doc_id"))


def neardup_clusters(spark: SparkSession, sf_dir: str,
                     threshold: float = 0.5) -> DataFrame:
    """Near-dup cluster formation over the verified text pair graph:
    exact_jaccard_pairs edges -> connected_components. The edges stay
    unordered: ngram_jaccard_pairs' output sort would ride into the
    component rounds as a range exchange plus a sort."""
    docs = source(spark, sf_dir, "documents", spread=False)
    edges = exact_jaccard_pairs(docs, threshold).select("a_id", "b_id")
    return connected_components(edges)
