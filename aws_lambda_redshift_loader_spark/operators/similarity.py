"""Embedding similarity search (ANN) for LLM training-data pipelines.

Embeddings are `array<float>` columns. Exact cross-engine comparison of
float math is impossible in general (reduction order), so similarity is
computed over *quantized* vectors: `floor(x * 10000)` int64 components.
All dot products are then integer-valued (exact in both engines regardless
of summation order, since |dot| << 2^53), and the final cosine is a single
deterministic sqrt/divide — bit-identical doubles, stable ranking.

Scale strategy:
- brute-force top-k: broadcast the (small) query set against the corpus —
  embarrassingly parallel, no corpus shuffle; the baseline and the
  exact-verifier.
- LSH-bucketed ANN: random-hyperplane signatures (±1 planes derived from
  the cross-engine md5 hash, so buckets reproduce everywhere) restrict
  comparisons to same-bucket pairs — the sub-quadratic scale path.
- IVF ANN: coarse-quantizer cells + nprobe probing — the inverted-file
  layout; centroid assignment and query probing are per-block BLAS
  matmuls against broadcast centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..memos import memo
from ..plans.registry import register
from ..session import table

import math as _math
import os as _os

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
QUANT = 10000
N_TABLES = 8  # LSH hash tables (bands)
# Signature bits per table: an index-geometry BUILD parameter, not a
# constant of the algorithm. Per-bucket occupancy is ~N/2^bits, so bits
# must grow ~log2(N) to keep the bucket self-join linear in N — a fixed
# bit count turns LSH quadratic-trending at scale (BENCH_SCALE.json
# measured exponent 1.55 at fixed 4 bits vs 0.44 at 7 on the 10x step).
# Bits are therefore DERIVED from the corpus count at plan-build time:
# the smallest b with 2^b * TARGET_OCCUPANCY >= N, floored at MIN_BITS.
# The formula is integer-only (shift/compare — no float log2) so the
# DuckDB oracles compute the identical b from COUNT(*) in SQL and every
# setting stays hash-verifiable. ALRS_LSH_BITS pins b for geometry
# experiments (scale_bench's @bits=… runs); engine and oracle both honor
# the pin.
MIN_BITS = 4
MAX_BITS = 24  # bucket = (t << b) + sig stays well inside int32/int64
TARGET_OCCUPANCY = 128  # expected vectors per bucket at the derived b
_LSH_BITS_OVERRIDE = _os.environ.get("ALRS_LSH_BITS")
DIM = 64


def _lsh_bits(n: int) -> int:
    """Adaptive signature width: smallest b (>= MIN_BITS) such that
    2^b * TARGET_OCCUPANCY >= n. Integer shift/compare only — the DuckDB
    oracle CTE (_NB_CTE) evaluates the same recurrence, so both engines
    agree exactly even at power-of-two boundaries where float log2 could
    round either way. n may be an approximate count at real scale: being
    off by <2x moves b by at most 1, which changes candidate volume ~2x
    but never correctness."""
    if _LSH_BITS_OVERRIDE:
        return int(_LSH_BITS_OVERRIDE)
    k = 0
    while (1 << k) * TARGET_OCCUPANCY < n and k < MAX_BITS:
        k += 1
    return max(MIN_BITS, k)


# The same bit derivation in DuckDB SQL (or the pinned override).
_NB_CTE = (
    f"nb AS (SELECT {int(_LSH_BITS_OVERRIDE)} AS b)"
    if _LSH_BITS_OVERRIDE
    else f"""nb AS (
  -- COALESCE mirrors the Python MAX_BITS cap: when no k in [0,MAX_BITS]
  -- satisfies 2^k * occupancy >= N (N > 2^MAX_BITS * occupancy), MIN(k)
  -- over the empty filter is NULL and the cap applies — identical to
  -- _lsh_bits' `k < MAX_BITS` loop bound.
  SELECT GREATEST({MIN_BITS}, COALESCE(MIN(k), {MAX_BITS})) AS b
  FROM generate_series(0, {MAX_BITS}) g(k)
  WHERE (CAST(1 AS BIGINT) << k) * {TARGET_OCCUPANCY} >= (SELECT COUNT(*) FROM embeddings)
)"""
)


def _quantize(col: Column) -> Column:
    """array<float> → array<bigint>, exact `floor(double(x) * QUANT)`."""
    return F.transform(col, lambda x: F.floor(x.cast("double") * QUANT).cast("bigint"))


def _dot(a: Column, b: Column) -> Column:
    """Exact integer dot product via zip_with + left-fold aggregate."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )


_QUANT_CTE = f"""
q AS (
  SELECT vec_id,
         [CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT) FOR x IN embedding] AS e
  FROM embeddings
)
"""


@register(
    "embedding_topk_bruteforce",
    f"""
    WITH {_QUANT_CTE},
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) AS cosine
      FROM q a JOIN q b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM pairs
    ) WHERE rank <= {TOP_K}
    """,
)
def embedding_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-{TOP_K} over quantized embeddings for the
    first {N_QUERIES} vectors.

    Spark plan: broadcast the query set, per-partition scoring of the
    corpus (no corpus shuffle), then a per-query top-k window over
    queries×k candidate rows. At 100 TB this exact shape still works —
    scoring is a map-only pass; only queries×corpus-partitions candidate
    rows reach the shuffle if you pre-rank per partition (AQE keeps the
    final window cheap)."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", _quantize("embedding").alias("e"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    pairs = emb.alias("c").join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id"), "inner"
    )
    cosine = (
        _dot(F.col("qe"), F.col("e")).cast("double")
        / (
            F.sqrt(_dot(F.col("qe"), F.col("qe")).cast("double"))
            * F.sqrt(_dot(F.col("e"), F.col("e")).cast("double"))
        )
    )
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cosine.alias("cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _sq8_recon(emb: DataFrame) -> DataFrame:
    """(vec_id, e) → (vec_id, r): SQ8 code-then-reconstruct over the
    corpus' per-dimension [min, max] ranges — the exact-integer x255
    scaling documented on embedding_sq8_topk. Split out so the
    reconstruction-envelope test asserts against the query's ACTUAL
    reconstructed values, not a re-derivation of the same bound
    formula (round-9 ADVICE)."""
    dims = (
        emb.select(F.posexplode("e").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    )
    lim = dims.agg(
        F.sort_array(F.collect_list(F.struct("dim", "mn"))).alias("s_mn"),
        F.sort_array(
            F.collect_list(F.struct("dim", F.greatest(F.col("mx") - F.col("mn"), F.lit(1)).alias("rg")))
        ).alias("s_rg"),
    ).select(
        F.transform("s_mn", lambda s: s["mn"]).alias("mns"),
        F.transform("s_rg", lambda s: s["rg"]).alias("rgs"),
    )
    return (
        emb.crossJoin(F.broadcast(lim))
        .select(
            "vec_id",
            F.transform(
                "e",
                lambda x, i: F.element_at(F.col("mns"), i + 1) * 255
                + F.floor(
                    ((x - F.element_at(F.col("mns"), i + 1)) * 255).cast("double")
                    / F.element_at(F.col("rgs"), i + 1)
                ).cast("bigint")
                * F.element_at(F.col("rgs"), i + 1),
            ).alias("r"),
        )
    )


@register(
    "embedding_sq8_topk",
    f"""
    WITH {_QUANT_CTE},
    dims AS (
      SELECT u.i AS dim, MIN(e[CAST(u.i AS INT)]) AS mn, MAX(e[CAST(u.i AS INT)]) AS mx
      FROM q, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) u
      GROUP BY u.i
    ),
    lim AS (
      SELECT list(mn ORDER BY dim) AS mns,
             list(GREATEST(mx - mn, 1) ORDER BY dim) AS rgs
      FROM dims
    ),
    recon AS (
      SELECT vec_id,
             list_transform(generate_series(1, {DIM}),
               i -> mns[CAST(i AS INT)] * 255
                  + (((e[CAST(i AS INT)] - mns[CAST(i AS INT)]) * 255)
                     // rgs[CAST(i AS INT)]) * rgs[CAST(i AS INT)]) AS r
      FROM q, lim
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.r AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.r AS DOUBLE[]), CAST(b.r AS DOUBLE[])))) AS cosine
      FROM q a JOIN recon b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM pairs
    ) WHERE rank <= {TOP_K}
    """,
)
def embedding_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN (the FAISS SQ8 family): every dimension is
    linearly coded into 8 bits against the corpus' per-dimension
    [min, max] range, and search scores queries against the
    RECONSTRUCTED codes (asymmetric distance, full-precision query) —
    the memory-bandwidth index: 8x smaller vectors than float64 with
    near-brute recall, no codebook training at all.

    Exact-integer construction so the hash gate holds: codes are
    ((e_d - mn_d) * 255) div rg_d over the QUANT-scaled int64
    embeddings (non-negative integer division — floor in both engines),
    reconstruction keeps everything integer by scaling x255
    (mn_d * 255 + code_d * rg_d), and every dot product is an exact
    int64 sum (max |term| ~ 2.5e6^2 x {DIM} < 2^53); the one division
    and sqrt per pair are correctly rounded, so cosines are
    bit-identical cross-engine. Constant dimensions clamp rg to 1
    (code 0, reconstruction = mn x 255 — exact).

    Scale: the per-dimension range pass is one map-side-combined
    aggregate collapsed to a single {DIM}-element broadcast row; coding
    and reconstruction are map-only transforms; scoring is the brute
    plan's broadcast-queries shape over 8x-smaller codes. Recall is
    measured, not asserted (ANN_RECALL.json)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    recon = _sq8_recon(emb)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    pairs = recon.join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id"), "inner"
    )
    cosine = (
        _dot(F.col("qe"), F.col("r")).cast("double")
        / (
            F.sqrt(_dot(F.col("qe"), F.col("qe")).cast("double"))
            * F.sqrt(_dot(F.col("r"), F.col("r")).cast("double"))
        )
    )
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cosine.alias("cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _lsh_signatures(emb: DataFrame, bits: int) -> DataFrame:
    """(vec_id, e) → (vec_id, e, buckets array<int>): multi-table
    random-hyperplane LSH signatures, ``bits`` planes per table (derive it
    with _lsh_bits(corpus_count)). Signs derive from the md5 parity of
    ``"{table}:{plane}:{dim}"`` so the buckets reproduce bit-identically in
    any engine (the DuckDB oracles rebuild the same planes in SQL). All
    N_TABLES*bits hyperplanes form one (planes x DIM) matrix so
    every signature bit of a block of vectors is a single BLAS matmul in
    the pandas worker (the per-element Catalyst fold costs ~100x more for
    this shape). Map-only: no shuffle, corpus never leaves the executors.
    """
    import hashlib

    import numpy as np
    import pandas as pd  # noqa: F811 — worker-side
    from pyspark.sql import types as T

    def sign(t: int, p: int, d: int) -> int:
        h = hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()
        return 1 if int(h[:15], 16) & 1 else -1

    planes = np.array(
        [
            [sign(t, p, d) for d in range(DIM)]
            for t in range(N_TABLES)
            for p in range(bits)
        ],
        dtype=np.float64,  # exact: entries ±1, dots are integers << 2^53
    )
    n_tables, planes_per_table = N_TABLES, bits
    sig_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("e", T.ArrayType(T.LongType())),
            T.StructField("buckets", T.ArrayType(T.IntegerType())),
        ]
    )

    def project(batches):
        bits = (1 << np.arange(planes_per_table, dtype=np.int64))[None, :]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf["e"]), dtype=np.float64)
            proj = mat @ planes.T  # (n, tables*planes) — one GEMM
            pos = (proj > 0).reshape(len(pdf), n_tables, planes_per_table)
            buckets = (pos * bits[None, :, :]).sum(axis=2) + (
                np.arange(n_tables, dtype=np.int64) << planes_per_table
            )[None, :]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "e": pdf["e"],
                    "buckets": [row.astype("int32") for row in buckets],
                }
            )

    return emb.mapInPandas(project, schema=sig_schema)


# The same LSH planes/buckets rebuilt in pure DuckDB SQL: md5 parity of the
# 15-hex-digit prefix == parity of its last hex digit (substr position 15).
# Plane count is the adaptive b from _NB_CTE — the series spans MAX_BITS
# and a plain `p < b` filter trims it (no lateral table functions needed).
_LSH_BUCKETS_CTE = f"""
{_NB_CTE},
planes AS (
  SELECT t, p, d,
         CASE WHEN substr(md5(t || ':' || p || ':' || d), 15, 1)
                   IN ('1','3','5','7','9','b','d','f')
              THEN 1 ELSE -1 END AS s
  FROM generate_series(0, {N_TABLES - 1}) g1(t),
       generate_series(0, {MAX_BITS - 1}) g2(p),
       generate_series(0, {DIM - 1}) g3(d)
  WHERE p < (SELECT b FROM nb)
),
proj AS (
  SELECT q.vec_id, pl.t, pl.p, SUM(pl.s * q.e[pl.d + 1]) AS proj
  FROM q, planes pl
  GROUP BY q.vec_id, pl.t, pl.p
),
buckets AS (
  SELECT vec_id,
         t * (CAST(1 AS BIGINT) << (SELECT b FROM nb)) +
         SUM(CASE WHEN proj > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS bucket
  FROM proj GROUP BY vec_id, t
)
"""


_ANN_LSH_ORACLE = f"""
    WITH {_QUANT_CTE},
    {_LSH_BUCKETS_CTE},
    qb AS (SELECT vec_id, bucket FROM buckets WHERE vec_id < {N_QUERIES}),
    cands AS (
      SELECT DISTINCT qb.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM qb JOIN buckets c ON c.bucket = qb.bucket AND c.vec_id <> qb.vec_id
    ),
    scored AS (
      SELECT cd.query_id, cd.neighbor_id,
             list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) AS cosine
      FROM cands cd
      JOIN q a ON a.vec_id = cd.query_id
      JOIN q b ON b.vec_id = cd.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    """


@register("embedding_ann_lsh", _ANN_LSH_ORACLE)
def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table random-hyperplane LSH: {N_TABLES} independent
    signatures of b ±1-hyperplanes each, b derived from the corpus count
    (_lsh_bits — smallest b with 2^b*{TARGET_OCCUPANCY} >= N; signs derive
    from the cross-engine md5 hash of (plane, dim), so buckets reproduce
    everywhere). A candidate pair is any (query, doc) sharing ANY table's
    bucket — the classic banding trick: short bands give per-band match
    probability p^b, and T tables lift recall to 1-(1-p^b)^T while each
    probe stays sub-quadratic. Candidates then get exact quantized-cosine
    top-{TOP_K} scoring.

    Hash-verified end to end: the DuckDB oracle rebuilds the identical
    md5-parity hyperplanes AND the identical integer bit derivation in
    SQL, so bucket generation, candidate pairing, AND the exact re-rank
    all gate on the driver's value hash; tests/test_similarity.py
    additionally measures recall against embedding_topk_bruteforce.
    Scale: corpus side explodes to T rows/vector, shuffles on
    (table, bucket) — per-bucket occupancy is pinned at
    ~{TARGET_OCCUPANCY} by the adaptive b, so candidate generation stays
    O(T·N·occupancy) = linear in N at any corpus size; queries are
    broadcast, never shuffled. The plan-build count() is one
    column-pruned metadata-cheap pass; an approximate count would do
    (±2x moves b by at most 1).
    """
    raw = table(spark, sf_dir, "embeddings")
    bits = _lsh_bits(raw.count())
    emb = raw.select("vec_id", _quantize("embedding").alias("e"))
    sigs = _lsh_signatures(emb, bits)
    corpus = sigs.select("vec_id", "e", F.explode("buckets").alias("bucket"))
    queries = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.explode("buckets").alias("qb"),
    )
    cands = (
        corpus.join(
            F.broadcast(queries),
            (F.col("bucket") == F.col("qb")) & (F.col("vec_id") != F.col("query_id")),
        )
        # A pair sharing k tables would score k times — dedup before the
        # (more expensive) exact scoring pass.
        .select("query_id", "qe", F.col("vec_id").alias("neighbor_id"), "e")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cosine = (
        _dot(F.col("qe"), F.col("e")).cast("double")
        / (
            F.sqrt(_dot(F.col("qe"), F.col("qe")).cast("double"))
            * F.sqrt(_dot(F.col("e"), F.col("e")).cast("double"))
        )
    )
    scored = cands.select("query_id", "neighbor_id", cosine.alias("cosine"))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


NEARDUP_COSINE = 0.35  # fixture-calibrated: p99.9 of pairs ≈ 0.377
_EXACT_BLK = 512  # vectors per GEMM block in the exact all-pairs auditor


@register(
    "embedding_cosine_neardup",
    f"""
    WITH {_QUANT_CTE},
    {_LSH_BUCKETS_CTE},
    cand AS (
      SELECT DISTINCT a.vec_id AS keep_id, b.vec_id AS dup_id
      FROM buckets a JOIN buckets b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.keep_id, c.dup_id,
           list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
             (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
              sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) AS cosine
    FROM cand c
    JOIN q a ON a.vec_id = c.keep_id
    JOIN q b ON b.vec_id = c.dup_id
    WHERE list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
            (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
             sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) >= {NEARDUP_COSINE}
    """,
)
def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-candidate-fed: every
    (a < b) pair that shares at least one random-hyperplane LSH bucket
    (the deterministic md5-derived planes of embedding_ann_lsh) AND whose
    exact quantized cosine ≥ {NEARDUP_COSINE}; the lower vec_id is the
    keeper. Semantic dedup — catches paraphrases that MinHash (lexical)
    misses. The operator is explicitly approximate-recall/exact-precision:
    tests/test_similarity.py measures pair recall against the all-pairs
    ground truth; the DuckDB oracle applies the IDENTICAL bucket condition
    (planes rebuilt in SQL from the same md5 parity), so the hash check
    verifies both the candidate generation and the verification pass.

    Physical strategy (the 100 TB shape — no driver collect, no all-pairs):
    1. map-only GEMM pass stamps each vector with its {N_TABLES} bucket ids
       (`_lsh_signatures`), signature width b = _lsh_bits(N) so per-bucket
       occupancy is pinned at ~{TARGET_OCCUPANCY} regardless of corpus
       size (the fixed-bits variant measured 10x exponent 1.55 — the
       adaptive width is what keeps this linear);
    2. ONE shuffle groups (vec_id, e) rows per (table, bucket); each group
       scores all its pairs with a {TARGET_OCCUPANCY}×{TARGET_OCCUPANCY}-
       scale GEMM inside applyInPandas and emits ONLY pairs over the
       threshold — so the shuffle after verification carries survivors,
       not the O(T·N·occupancy) candidate set. (The previous shape — slim
       id-pair self-join + per-pair Catalyst fold verify — moved ~0.8M
       candidate rows through three shuffles at sf0.1 and spent ~6s in
       zip_with/aggregate folds; bucket-local GEMM is the same math at
       BLAS speed: ~2s.)
    3. cross-table duplicates collapse with one dropDuplicates on the
       (already tiny) surviving pair set.
    Integer dots (quantized) keep the threshold comparison deterministic
    cross-engine: every product and partial sum is an exact integer
    < 2^53 in float64, so BLAS summation order cannot change the dot;
    cosine is one IEEE sqrt/divide per pair in both engines; boundary
    pairs cannot flap.
    """
    import pandas as pd  # noqa: F401 — worker-side
    from pyspark.sql import types as T

    raw = table(spark, sf_dir, "embeddings")
    bits = _lsh_bits(raw.count())
    emb = raw.select("vec_id", _quantize("embedding").alias("e"))
    bucketed = _lsh_signatures(emb, bits).select(
        "vec_id", "e", F.explode("buckets").alias("bucket")
    )
    out_schema = T.StructType(
        [
            T.StructField("keep_id", T.LongType()),
            T.StructField("dup_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    thresh = NEARDUP_COSINE

    def score_bucket(pdf):
        # Defined in-builder: pickled by value so executors never import
        # this module.
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        mat = np.array(list(pdf["e"]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        cos = (mat @ mat.T) / (norms[:, None] * norms[None, :])
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = cos[iu, ju] >= thresh
        return pd.DataFrame(
            {
                "keep_id": ids[iu[keep]],
                "dup_id": ids[ju[keep]],
                "cosine": cos[iu[keep], ju[keep]],
            }
        )

    return (
        bucketed.groupBy("bucket")
        .applyInPandas(score_bucket, out_schema)
        .dropDuplicates(["keep_id", "dup_id"])
    )


@register(
    "embedding_cosine_neardup_exact",
    f"""
    WITH {_QUANT_CTE}
    SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
           list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
             (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
              sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) AS cosine
    FROM q a JOIN q b ON a.vec_id < b.vec_id
    WHERE list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
            (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
             sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) >= {NEARDUP_COSINE}
    """,
)
def embedding_cosine_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs embedding near-dup pairs — the exhaustive contract
    embedding_cosine_neardup held before round 2 moved it to
    LSH-candidate recall. Registered separately so consumers who need
    100% recall (small corpora, ground-truth builds, LSH recall audits)
    keep a named, oracle-verified form; at real corpus sizes this is
    O(N²) by definition — use embedding_cosine_neardup, whose candidates
    are bucketed, and treat this as the auditor.

    Physical plan: distributed block-pair GEMM, no driver collect. Each
    ~{_EXACT_BLK}-vector block packs into one Arrow row; the block-pair
    join (upper triangle) fans out O((N/{_EXACT_BLK})²) slim rows; one
    float64 GEMM per block pair scores {_EXACT_BLK}² dots at BLAS speed
    (the per-pair Catalyst fold costs ~50x more at sf0.1). Products and
    sums are integers < 2^53, so the GEMM is exact and the final
    sqrt/divide matches the oracle bit-for-bit."""
    import numpy as np
    import pandas as pd  # noqa: F811 — worker-side

    emb = table(spark, sf_dir, "embeddings").select("vec_id", _quantize("embedding").alias("e"))
    packed_schema = "blk int, ids array<bigint>, mat array<array<bigint>>"

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values("vec_id")
        return pd.DataFrame(
            {
                "blk": [int(pdf["blk"].iloc[0])],
                "ids": [list(pdf["vec_id"])],
                "mat": [list(pdf["e"])],
            }
        )

    blocks = (
        emb.withColumn("blk", F.floor(F.col("vec_id") / _EXACT_BLK).cast("int"))
        .groupBy("blk")
        .applyInPandas(pack, packed_schema)
    )

    out_schema = "keep_id bigint, dup_id bigint, cosine double"
    threshold = NEARDUP_COSINE

    def gemm(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                ia = np.array(row["ids_a"], dtype=np.int64)
                ib = np.array(row["ids_b"], dtype=np.int64)
                ma = np.array(list(row["mat_a"]), dtype=np.float64)
                mb = np.array(list(row["mat_b"]), dtype=np.float64)
                na = np.sqrt((ma * ma).sum(axis=1))
                nb = np.sqrt((mb * mb).sum(axis=1))
                cos = (ma @ mb.T) / (na[:, None] * nb[None, :])
                keep = (cos >= threshold) & (ia[:, None] < ib[None, :])
                ai, bi = np.nonzero(keep)
                yield pd.DataFrame(
                    {"keep_id": ia[ai], "dup_id": ib[bi], "cosine": cos[ai, bi]}
                )

    a, b = blocks.alias("a"), blocks.alias("b")
    block_pairs = a.join(b, F.col("a.blk") <= F.col("b.blk")).select(
        F.col("a.ids").alias("ids_a"),
        F.col("a.mat").alias("mat_a"),
        F.col("b.ids").alias("ids_b"),
        F.col("b.mat").alias("mat_b"),
    )
    return block_pairs.mapInPandas(gemm, out_schema)


@register(
    "embedding_centroid_by_label",
    f"""
    WITH {_QUANT_CTE},
    labeled AS (
      SELECT l.label, q.e
      FROM q JOIN (SELECT vec_id, label FROM embeddings) l ON l.vec_id = q.vec_id
    )
    SELECT label, CAST(u.i AS INT) AS dim,
           CAST(SUM(e[u.i]) AS BIGINT) AS component_sum,
           COUNT(*) AS n_vectors
    FROM labeled, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) u
    GROUP BY label, u.i
    """,
)
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components (quantized sums — exact): the grouped
    vector aggregation primitive behind IVF coarse quantizers (k-means
    assignment steps are repeated applications of this + topk)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _quantize("embedding").alias("e")
    )
    exploded = emb.select(
        "label", F.posexplode("e").alias("pos", "q_val")
    ).select("label", (F.col("pos") + 1).cast("int").alias("dim"), "q_val")
    return exploded.groupBy("label", "dim").agg(
        F.sum("q_val").cast("bigint").alias("component_sum"), F.count("*").alias("n_vectors")
    )


IVF_CELLS = 16  # coarse-quantizer cells
IVF_NPROBE = 4  # cells probed per query
KMEANS_ITERS = 2  # fixed Lloyd rounds (deterministic; unrolled in the oracle)
# IVF's quantizer trains with ONE Lloyd round: on the near-uniform fixture
# one update is recall-neutral at fixed nprobe (0.94 = seeded 0.94) while
# evening cell occupancy; deeper training keeps balancing occupancy (the
# bounded-scan-cost win that matters at scale) but trades ~0.06 recall at
# nprobe=4 here — tests/test_similarity.py pins the recall-not-worse bound.
IVF_TRAIN_ITERS = 1


def _assign_cells(emb: DataFrame, cent_ids, cent_mat) -> DataFrame:
    """Nearest-centroid assignment: (vec_id, e) → (vec_id, e, cell).

    Centroids are broadcast; each Arrow batch scores in ONE float64 GEMM
    (exact: every product/sum is an integer < 2^53), and np.argmax's
    first-max rule breaks cosine ties toward the lower cell id — the
    same (cos DESC, cell ASC) order the SQL oracle uses. Map-only, no
    corpus shuffle."""
    import numpy as np
    from pyspark.sql import types as T

    spark = emb.sparkSession
    c_norms = np.sqrt((cent_mat * cent_mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((np.asarray(cent_ids), cent_mat, c_norms))

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("e", T.ArrayType(T.LongType())),
            T.StructField("cell", T.IntegerType()),
        ]
    )

    def assign(batches):
        import numpy as np
        import pandas as pd

        ids, c_mat, cn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf["e"]), dtype=np.float64)
            norms = np.sqrt((mat * mat).sum(axis=1))
            cos = (mat @ c_mat.T) / (norms[:, None] * cn[None, :])
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "e": pdf["e"],
                    "cell": ids[np.argmax(cos, axis=1)].astype("int32"),
                }
            )

    return emb.mapInPandas(assign, schema=schema)


def _cell_component_sums(assigned: DataFrame) -> DataFrame:
    """(vec_id, e, cell) → (cell, dim 1-based, component_sum, n_vectors):
    the Lloyd update aggregate (the learned-cell form of
    embedding_centroid_by_label). posexplode widens rows 64×, but the
    groupBy's map-side partial aggregation collapses each partition to
    K·DIM rows before the single shuffle."""
    return (
        assigned.select("cell", F.posexplode("e").alias("pos", "v"))
        .select("cell", (F.col("pos") + 1).cast("int").alias("dim"), "v")
        .groupBy("cell", "dim")
        .agg(F.sum("v").cast("bigint").alias("component_sum"), F.count("*").alias("n_vectors"))
    )


# Trained coarse-quantizer memo, per (session, corpus, rounds) — r18.
# Ten queries (the whole IVF/PQ/OPQ/SQ8/graph-ANN family plus the IVF
# and graph-ANN ingest streams) train the IDENTICAL quantizer on the
# full embedding corpus; production trains it offline ONCE and deploys
# it to every index/search job, so per-query retraining was pure
# repeated work (guide §1.2 step 1 — don't compute things twice). The
# memoized value is the (cell_ids, centroid_matrix) driver-side pair
# (IVF_CELLS x DIM ints — KB-sized, the dedup._ppjoin_raw_density
# "ANALYZE statistic" pattern, NOT a result cache: every consumer still
# computes its own assignment/probe/search from the parquet corpus).
# Memo-labeled so BENCH_DETAIL attributes the one build; scale_bench
# clears it so exponents still price full training.
def _trained_centroids(spark: SparkSession, sf_dir: str, iters: int):
    """Session-memoized `_kmeans_centroids` over the full embedding
    corpus (see the block comment above). Prefix-trained variants
    (stream_queries._ivf_geometry / _ivf_range_geometry) keep calling
    the raw trainer — their training sets differ by construction."""

    def build():
        emb = table(spark, sf_dir, "embeddings").select(
            "vec_id", _quantize("embedding").alias("e")
        )
        return _kmeans_centroids(spark, emb, iters)

    return memo(spark, "kmeans", (sf_dir, iters), build)


def _kmeans_centroids(spark: SparkSession, emb: DataFrame, iters: int):
    """Driver-coordinated Lloyd's: seed with the first {IVF_CELLS} corpus
    vectors, then `iters` rounds of assign (distributed GEMM) + update.
    Only K·DIM aggregate rows ever reach the driver per round — the data
    itself never leaves the executors. Updated centroids re-quantize to
    floor(component_sum / n) int64 — one IEEE divide + floor, identical
    in DuckDB — which (a) keeps every later cosine exact cross-engine
    and (b) bounds |centroid|² at any corpus size (raw sums would
    overflow the 2^53 exact-double window once cells hold ~1e3 vectors).
    Returns (cell_ids, centroid_matrix); cells that lose every vector
    drop out, exactly as in the SQL oracle."""
    import numpy as np

    seed = emb.filter(F.col("vec_id") < IVF_CELLS).collect()
    seed.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in seed], dtype=np.int64)
    cent = np.array([r.e for r in seed], dtype=np.float64)
    for _ in range(iters):
        rows = _cell_component_sums(_assign_cells(emb, ids, cent)).collect()
        by_cell: dict[int, dict[int, tuple[int, int]]] = {}
        for r in rows:
            by_cell.setdefault(r.cell, {})[r.dim] = (r.component_sum, r.n_vectors)
        ids = np.array(sorted(by_cell), dtype=np.int64)
        cent = np.array(
            [
                [np.floor(float(by_cell[c][d][0]) / float(by_cell[c][d][1])) for d in range(1, DIM + 1)]
                for c in ids
            ],
            dtype=np.float64,
        )
    return ids, cent


def _kmeans_ctes(iters: int) -> list[str]:
    """Unrolled fixed-round Lloyd CTE chain (same pattern as the
    dedup_connected_components recursive-CTE oracle, but round count is
    static so plain CTE chaining suffices). Produces cent0..cent{iters-1}
    and assign0..assign{iters-1}; shared by the kmeans_step and IVF
    oracles."""
    parts = [
        f"cent0 AS (SELECT CAST(vec_id AS INT) AS cell, e AS s FROM q WHERE vec_id < {IVF_CELLS})"
    ]
    for t in range(iters):
        parts.append(
            f"""score{t} AS (
      SELECT q.vec_id, q.e, c.cell,
             list_dot_product(CAST(q.e AS DOUBLE[]), CAST(c.s AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(q.e AS DOUBLE[]), CAST(q.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(c.s AS DOUBLE[]), CAST(c.s AS DOUBLE[])))) AS cos
      FROM q, cent{t} c
    ),
    assign{t} AS (
      SELECT vec_id, e, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, cell ASC) AS rk
        FROM score{t}
      ) WHERE rk = 1
    )"""
        )
        if t < iters - 1:
            parts.append(
                f"""cent{t + 1} AS (
      SELECT cell, list(m ORDER BY dim) AS s FROM (
        SELECT cell, u.i AS dim,
               CAST(floor(CAST(SUM(e[u.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
        FROM assign{t}, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) u
        GROUP BY cell, u.i
      ) GROUP BY cell
    )"""
            )
    return parts


def _kmeans_oracle(iters: int) -> str:
    chained = ",\n    ".join(_kmeans_ctes(iters))
    return f"""
    WITH {_QUANT_CTE},
    {chained}
    SELECT cell, CAST(u.i AS INT) AS dim,
           CAST(SUM(e[u.i]) AS BIGINT) AS component_sum,
           COUNT(*) AS n_vectors
    FROM assign{iters - 1}, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) u
    GROUP BY cell, u.i
    """


@register("kmeans_step", _kmeans_oracle(KMEANS_ITERS))
def kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (Lloyd's) training for the IVF coarse quantizer:
    {KMEANS_ITERS} fixed rounds of nearest-centroid assignment (broadcast
    centroids, one float64 GEMM per Arrow batch — exact over quantized
    ints) + centroid update (component sums via map-side-combined
    groupBy). Emits the final assignment's per-cell component sums and
    occupancy — the trained coarse-quantizer state embedding_ivf_topk
    consumes. Deterministic everywhere: argmax ties break to the lower
    cell id, updated centroids re-quantize to floor-mean int64 so every
    cosine both engines compute is a single IEEE divide over exact
    integer dots.

    Scale: per round, one map-only scoring pass + one shuffle of
    K·DIM-per-partition partial sums; only K·DIM aggregate rows reach
    the driver. Rounds are a fixed small constant (the coarse quantizer
    needs rough cells, not convergence)."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", _quantize("embedding").alias("e"))
    ids, cent = _trained_centroids(spark, sf_dir, KMEANS_ITERS - 1)
    return _cell_component_sums(_assign_cells(emb, ids, cent))


def _ivf_oracle() -> str:
    """IVF oracle: the kmeans CTE chain with one extra round supplies
    BOTH the trained centroids (cent{u}) and the corpus cell assignment
    (assign{u} = argmax vs cent{u}); probing reuses score{u} restricted
    to the query vectors. Every stage of the index — training,
    assignment, probing, exact re-rank — is hash-gated."""
    u = IVF_TRAIN_ITERS
    chained = ",\n    ".join(_kmeans_ctes(u + 1))
    return f"""
    WITH {_QUANT_CTE},
    {chained},
    probe AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cell ASC) AS rk
        FROM score{u} WHERE vec_id < {N_QUERIES}
      ) WHERE rk <= {IVF_NPROBE}
    ),
    cands AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probe p JOIN assign{u} a ON a.cell = p.cell AND a.vec_id <> p.query_id
    ),
    rescored AS (
      SELECT cd.query_id, cd.neighbor_id,
             list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) AS cosine
      FROM cands cd
      JOIN q a ON a.vec_id = cd.query_id
      JOIN q b ON b.vec_id = cd.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM rescored
    ) WHERE rank <= {TOP_K}
    """


def _ivf_refresh_oracle(refresh_at: int, epochs: int) -> str:
    """Oracle for the centroid-REFRESHED IVF index (the streaming
    maintenance query stream_incremental_ivf_refresh): the quantizer is
    retrained mid-stream on the deterministic first refresh_at/epochs
    id range (seed = first {IVF_CELLS} vectors + {IVF_TRAIN_ITERS}
    Lloyd round over that prefix), then the WHOLE corpus is assigned
    against the refreshed centroids — which is exactly the final state
    of the re-bucketed postings store. Same probe/rescore epilogue as
    _ivf_oracle."""
    # The retrain block below hand-unrolls exactly ONE Lloyd round
    # (cent0 -> assign0 -> cent1); _ivf_geometry loops IVF_TRAIN_ITERS
    # times, so the two silently disagree if the constant ever moves.
    assert IVF_TRAIN_ITERS == 1, "unroll more rounds in _ivf_refresh_oracle"
    u = IVF_TRAIN_ITERS
    return f"""
    WITH {_QUANT_CTE},
    bnd AS (
      SELECT CAST({refresh_at} * ceil(COUNT(*) / {epochs}.0) AS BIGINT) AS b
      FROM q
    ),
    qp AS (SELECT q.* FROM q, bnd WHERE q.vec_id < bnd.b),
    cent0 AS (SELECT CAST(vec_id AS INT) AS cell, e AS s
              FROM qp WHERE vec_id < {IVF_CELLS}),
    score0 AS (
      SELECT qp.vec_id, qp.e, c.cell,
             list_dot_product(CAST(qp.e AS DOUBLE[]), CAST(c.s AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(qp.e AS DOUBLE[]), CAST(qp.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(c.s AS DOUBLE[]), CAST(c.s AS DOUBLE[])))) AS cos
      FROM qp, cent0 c
    ),
    assign0 AS (
      SELECT vec_id, e, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, cell ASC) AS rk
        FROM score0
      ) WHERE rk = 1
    ),
    cent{u} AS (
      SELECT cell, list(m ORDER BY dim) AS s FROM (
        SELECT cell, u.i AS dim,
               CAST(floor(CAST(SUM(e[u.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
        FROM assign0, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) u
        GROUP BY cell, u.i
      ) GROUP BY cell
    ),
    scoref AS (
      SELECT q.vec_id, q.e, c.cell,
             list_dot_product(CAST(q.e AS DOUBLE[]), CAST(c.s AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(q.e AS DOUBLE[]), CAST(q.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(c.s AS DOUBLE[]), CAST(c.s AS DOUBLE[])))) AS cos
      FROM q, cent{u} c
    ),
    assignf AS (
      SELECT vec_id, e, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, cell ASC) AS rk
        FROM scoref
      ) WHERE rk = 1
    ),
    probe AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cell ASC) AS rk
        FROM scoref WHERE vec_id < {N_QUERIES}
      ) WHERE rk <= {IVF_NPROBE}
    ),
    cands AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probe p JOIN assignf a ON a.cell = p.cell AND a.vec_id <> p.query_id
    ),
    rescored AS (
      SELECT cd.query_id, cd.neighbor_id,
             list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) AS cosine
      FROM cands cd
      JOIN q a ON a.vec_id = cd.query_id
      JOIN q b ON b.vec_id = cd.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM rescored
    ) WHERE rank <= {TOP_K}
    """


@register("embedding_ivf_topk", _ivf_oracle())
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via an IVF (inverted-file) index: a coarse quantizer of
    {IVF_CELLS} centroids partitions the corpus into cells; each query
    probes only its {IVF_NPROBE} nearest cells and re-ranks exactly
    within them — the other classic sub-quadratic ANN layout next to LSH
    (embedding_ann_lsh), searching ~nprobe/cells of the corpus.

    Centroids are k-means-trained ({IVF_TRAIN_ITERS} Lloyd round via
    kmeans_step's machinery — _kmeans_centroids / _assign_cells /
    _cell_component_sums) from a deterministic first-{IVF_CELLS}-vectors
    seed; tests/test_similarity.py asserts the trained quantizer's
    recall vs brute force is at least the seeded quantizer's.

    Physical plan: centroids broadcast; cell assignment is one BLAS
    matmul per block (map-only, no shuffle — same pattern as the LSH
    projections); the probe restricts the scoring join to matching cells.
    Scale: cells shard across executors by cell id; per-cell candidate
    lists are the "inverted file". Deterministic: integer-quantized
    cosines, argmax ties broken toward the lower centroid id, candidate
    re-rank ordered by (cosine DESC, neighbor_id ASC).
    """
    scored = _ivf_scored(spark, sf_dir).drop("e")
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _ivf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every probed-cell IVF candidate with its exact cosine and vector:
    (query_id, neighbor_id, cosine, e) — the shared index front-end of
    embedding_ivf_topk (exact top-k rerank) and mmr_ann_topk (diversity
    epilogue)."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", _quantize("embedding").alias("e"))
    ids, cent = _trained_centroids(spark, sf_dir, IVF_TRAIN_ITERS)
    assigned = _assign_cells(emb, ids, cent)
    return _probe_postings(
        spark, assigned, emb.filter(F.col("vec_id") < N_QUERIES), ids, cent
    )


RANGE_TAU = 0.25  # cosine radius of the range query


def _range_search_oracle() -> str:
    """embedding_range_search oracle: _ivf_oracle's probe/cands/rescore
    chain verbatim, with the top-k rank epilogue replaced by the radius
    threshold (kept separate so editing one query never re-tiers the
    other in the verification rotation)."""
    u = IVF_TRAIN_ITERS
    chained = ",\n    ".join(_kmeans_ctes(u + 1))
    return f"""
    WITH {_QUANT_CTE},
    {chained},
    probe AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cell ASC) AS rk
        FROM score{u} WHERE vec_id < {N_QUERIES}
      ) WHERE rk <= {IVF_NPROBE}
    ),
    cands AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probe p JOIN assign{u} a ON a.cell = p.cell AND a.vec_id <> p.query_id
    ),
    rescored AS (
      SELECT cd.query_id, cd.neighbor_id,
             list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) AS cosine
      FROM cands cd
      JOIN q a ON a.vec_id = cd.query_id
      JOIN q b ON b.vec_id = cd.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine
    FROM rescored WHERE cosine >= {RANGE_TAU}
    """


@register("embedding_range_search", _range_search_oracle())
def embedding_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (radius) SEARCH over the IVF index — the other standard
    vector-store read next to top-k: every probed-cell neighbor within
    cosine ≥ {RANGE_TAU} of each query vector, however many or few
    qualify (dedup radii, recall sweeps, and similarity-threshold
    retrieval want the whole ball, not a fixed k). Shares the entire
    trained index front-end with embedding_ivf_topk (_ivf_scored:
    k-means quantizer, map-only GEMM assignment, top-{IVF_NPROBE}
    probe, exact integer-quantized rescoring) — the epilogue is a
    threshold filter instead of a rank window, so there is NO window
    at all: map-only from the candidate join onward.

    Scale: identical to the IVF top-k plan minus its per-query rank —
    candidates stay cell-bounded; the threshold pushes into the scored
    frame before anything shuffles. Cosines are doubles derived from
    exact integer dots (both engines bit-identical), so the >= compare
    can never disagree."""
    scored = _ivf_scored(spark, sf_dir).drop("e")
    return scored.filter(F.col("cosine") >= RANGE_TAU).select(
        "query_id", "neighbor_id", "cosine"
    )


CONTAM_BENCH = 32  # vec_id < this = the held-out benchmark set
CONTAM_TAU = 0.30  # cosine floor for a contamination flag


@register(
    "semantic_contamination_check",
    f"""
    WITH {_QUANT_CTE},
    sc AS (
      SELECT c.vec_id AS corpus_id, b.vec_id AS bench_id,
             list_dot_product(CAST(c.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(c.e AS DOUBLE[]), CAST(c.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) AS cosine
      FROM q c JOIN q b ON b.vec_id < {CONTAM_BENCH}
                       AND c.vec_id >= {CONTAM_BENCH}
    )
    SELECT corpus_id, bench_id, cosine
    FROM (
      SELECT corpus_id, bench_id, cosine,
             row_number() OVER (PARTITION BY corpus_id
                                ORDER BY cosine DESC, bench_id ASC) AS rk
      FROM sc WHERE cosine >= {CONTAM_TAU}
    ) WHERE rk = 1
    """,
)
def semantic_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark-contamination check — the embedding-space
    complement to benchmark_contamination's word-n-gram overlap (the
    decontamination pass production corpora run before training, per
    the GPT-3/Llama methodology): vectors with vec_id < {CONTAM_BENCH}
    are the held-out benchmark set; every CORPUS vector whose cosine
    to any benchmark vector reaches {CONTAM_TAU} is flagged with its
    best-matching benchmark item (ties to the lower benchmark id) —
    paraphrased or near-duplicate eval leakage that exact n-gram
    matching misses.

    Scale: the benchmark side is SMALL by construction (a fixed eval
    suite), so it broadcasts and the corpus NEVER shuffles — one
    map-side scoring pass ({CONTAM_BENCH}x in-flight expansion), the
    threshold filter applied before any exchange, and the per-corpus
    top-1 is a max_by aggregate whose map-side partials collapse the
    expansion back to at most one row per corpus vector per
    partition. Cosines are doubles from exact integer dots — the
    threshold compare and the tie-break are bit-identical in both
    engines."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    bench = emb.filter(F.col("vec_id") < CONTAM_BENCH).select(
        F.col("vec_id").alias("bench_id"), F.col("e").alias("be")
    )
    corpus = emb.filter(F.col("vec_id") >= CONTAM_BENCH).select(
        F.col("vec_id").alias("corpus_id"), "e"
    )
    scored = corpus.crossJoin(F.broadcast(bench)).select(
        "corpus_id",
        "bench_id",
        (
            _dot(F.col("e"), F.col("be")).cast("double")
            / (
                F.sqrt(_dot(F.col("e"), F.col("e")).cast("double"))
                * F.sqrt(_dot(F.col("be"), F.col("be")).cast("double"))
            )
        ).alias("cosine"),
    ).filter(F.col("cosine") >= CONTAM_TAU)
    return scored.groupBy("corpus_id").agg(
        F.max_by(
            "bench_id", F.struct(F.col("cosine"), (-F.col("bench_id")).alias("nb"))
        ).alias("bench_id"),
        F.max("cosine").alias("cosine"),
    ).select("corpus_id", "bench_id", "cosine")


SWEEP_PROBES = (1, 2, 4)  # nprobe operating points swept


def _nprobe_sweep_oracle() -> str:
    u = IVF_TRAIN_ITERS
    chained = ",\n    ".join(_kmeans_ctes(u + 1))
    cos = (
        "list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /"
        " (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *"
        "  sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[]))))"
    )
    parts = []
    for p in SWEEP_PROBES:
        parts.append(f"""probe{p} AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cell ASC) AS rk
        FROM score{u} WHERE vec_id < {N_QUERIES}
      ) WHERE rk <= {p}
    ),
    top{p} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT r.query_id, r.neighbor_id,
               row_number() OVER (PARTITION BY r.query_id
                                  ORDER BY r.cosine DESC, r.neighbor_id ASC)
                 AS rank
        FROM (
          SELECT cd.query_id, cd.neighbor_id, {cos} AS cosine
          FROM (SELECT p.query_id, a.vec_id AS neighbor_id
                FROM probe{p} p
                JOIN assign{u} a ON a.cell = p.cell
                                AND a.vec_id <> p.query_id) cd
          JOIN q a ON a.vec_id = cd.query_id
          JOIN q b ON b.vec_id = cd.neighbor_id
        ) r
      ) WHERE rank <= {TOP_K}
    ),
    hit{p} AS (
      SELECT CAST({p} AS INT) AS nprobe, CAST(COUNT(*) AS BIGINT) AS hits
      FROM top{p} t JOIN btop b USING (query_id, neighbor_id)
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM hit{p}" for p in SWEEP_PROBES)
    return f"""
    WITH {_QUANT_CTE},
    {chained},
    bpairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {cos} AS cosine
      FROM q a JOIN q b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    ),
    btop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id ASC)
                 AS rank
        FROM bpairs
      ) WHERE rank <= {TOP_K}
    ),
    {", ".join(parts)},
    uall AS ({union})
    SELECT nprobe, CAST({N_QUERIES} AS BIGINT) AS n_queries, hits,
           CAST(hits * 1000000 // ({N_QUERIES} * {TOP_K}) AS BIGINT)
             AS recall_ppm
    FROM uall
    """


@register("ivf_nprobe_recall_sweep", _nprobe_sweep_oracle())
def ivf_nprobe_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe-vs-recall OPERATING CURVE — the index-tuning artifact
    next to ann_recall_eval (codec recall) and lsh_threshold_sweep
    (LSH s-curve): for nprobe in {SWEEP_PROBES}, exact recall@{TOP_K}
    of the probed IVF search against the brute-force ground truth,
    pooled over the {N_QUERIES} query vectors. One trained index, one
    candidate pass at the LARGEST nprobe with each candidate tagged by
    its cell's probe rank — the smaller operating points are rank
    filters over the same frame, so the sweep costs one probe, not
    |{SWEEP_PROBES}| probes.

    Scale: the candidate join is the IVF plan's own cell-bounded
    probe; per-point top-k windows partition by query over
    cell-bounded candidates; the recall join touches
    {N_QUERIES}·{TOP_K} rows. Each operating point emits exactly one
    row (count aggregates run per point, so a zero-hit point still
    reports 0 — matching the oracle's COUNT form)."""
    from pyspark.sql import Row

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    ids, cent = _trained_centroids(spark, sf_dir, IVF_TRAIN_ITERS)
    assigned = _assign_cells(emb, ids, cent)
    spark_ids = [int(i) for i in ids]
    cent_rows = [
        Row(cell=int(cid), ce=[int(v) for v in cent[i]])
        for i, cid in enumerate(spark_ids)
    ]
    cents = spark.createDataFrame(cent_rows)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    qscore = queries.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "qe",
        "cell",
        (
            _dot(F.col("qe"), F.col("ce")).cast("double")
            / (
                F.sqrt(_dot(F.col("qe"), F.col("qe")).cast("double"))
                * F.sqrt(_dot(F.col("ce"), F.col("ce")).cast("double"))
            )
        ).alias("cos"),
    )
    wq = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cell").asc())
    probes = (
        qscore.withColumn("prk", F.row_number().over(wq).cast("int"))
        .filter(F.col("prk") <= max(SWEEP_PROBES))
        .select("query_id", "qe", F.col("cell").alias("qcell"), "prk")
    )
    cands = assigned.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "prk",
        (
            _dot(F.col("qe"), F.col("e")).cast("double")
            / (
                F.sqrt(_dot(F.col("qe"), F.col("qe")).cast("double"))
                * F.sqrt(_dot(F.col("e"), F.col("e")).cast("double"))
            )
        ).alias("cosine"),
    )
    cands = cands.localCheckpoint(eager=True)  # one probe pass, |SWEEP| readers
    btop = embedding_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    wr = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    points = []
    for p in SWEEP_PROBES:
        top = (
            cands.filter(F.col("prk") <= p)
            .withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id")
        )
        points.append(
            top.join(btop, ["query_id", "neighbor_id"]).agg(
                F.lit(p).cast("int").alias("nprobe"),
                F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
                F.count("*").cast("bigint").alias("hits"),
            )
        )
    out = points[0]
    for df in points[1:]:
        out = out.unionByName(df)
    return out.select(
        "nprobe",
        "n_queries",
        "hits",
        F.expr(f"CAST(hits * 1000000 div ({N_QUERIES} * {TOP_K}) AS BIGINT)")
        .alias("recall_ppm"),
    )


def _probe_postings(
    spark: SparkSession, assigned: DataFrame, queries_emb: DataFrame, ids, cent
) -> DataFrame:
    """IVF probe + exact scoring over a postings frame (vec_id, e, cell):
    each query row of `queries_emb` picks its top-{IVF_NPROBE} cells by
    centroid cosine (deterministic tie-break toward the lower cell id),
    joins the matching postings, and scores exactly. Factored out of
    _ivf_scored so the streaming incremental-index form can probe a
    postings STORE maintained per micro-batch with the identical code."""
    import numpy as np
    import pandas as pd  # noqa: F811 — worker-side
    from pyspark.sql import types as T

    cent_norms = np.sqrt((cent * cent).sum(axis=1))
    bc = spark.sparkContext.broadcast((ids, cent, cent_norms))

    probe_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("qe", T.ArrayType(T.LongType())),
            T.StructField("qcell", T.IntegerType()),
        ]
    )

    def probe(batches):
        import numpy as np
        import pandas as pd

        c_ids, c_mat, c_norms = bc.value
        n_probe = min(IVF_NPROBE, len(c_ids))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf["e"]), dtype=np.float64)
            norms = np.sqrt((mat * mat).sum(axis=1))
            cos = (mat @ c_mat.T) / (norms[:, None] * c_norms[None, :])
            # Deterministic top-nprobe cells: sort by (-cos, cell id);
            # c_ids is ascending, so column order == id order for ties.
            order = np.lexsort((np.arange(cos.shape[1])[None, :].repeat(len(pdf), 0), -cos), axis=1)
            cells = c_ids[order[:, :n_probe]]
            yield pd.DataFrame(
                {
                    "query_id": pdf["vec_id"].repeat(n_probe),
                    "qe": [e for e in pdf["e"] for _ in range(n_probe)],
                    "qcell": cells.reshape(-1).astype("int32"),
                }
            )

    probes = queries_emb.mapInPandas(probe, schema=probe_schema)
    cands = assigned.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    )
    cosine = (
        _dot(F.col("qe"), F.col("e")).cast("double")
        / (
            F.sqrt(_dot(F.col("qe"), F.col("qe")).cast("double"))
            * F.sqrt(_dot(F.col("e"), F.col("e")).cast("double"))
        )
    )
    return cands.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cosine.alias("cosine"), "e"
    )


# ---- Product quantization (PQ) ANN -----------------------------------
# The memory-bounded regime's standard index (Jégou et al. 2011): DIM is
# split into PQ_M subspaces; each database subvector is replaced by the
# id of its nearest codebook entry (argmin L2, integer-exact), so a
# 64-dim vector stores as PQ_M bytes. Queries score against codes via an
# asymmetric-distance lookup table (query subvector · codebook entry —
# integer dots), then the top PQ_R candidates re-rank exactly.
# Codebooks are SEEDED from the first PQ_K corpus vectors (deterministic,
# like the k-means seed) — training them with Lloyd rounds would reuse
# _kmeans_centroids per subspace; the index/scoring shape is identical.
PQ_M = 4  # subspaces
PQ_SUB = DIM // PQ_M  # dims per subspace
PQ_K = 16  # codebook entries per subspace
PQ_R = 50  # ADC candidate pool before exact re-rank


def _pq_oracle(quant_cte: str = _QUANT_CTE) -> str:
    """The PQ train/encode/score/re-rank oracle chain over a CTE set that
    must define `q AS (vec_id, e)` — the default is the plain quantized
    embeddings; the OPQ variant passes a preamble that additionally
    derives the variance-balancing permutation and defines `q` as the
    rotated vectors (permutation = orthogonal matrix, so every
    downstream step including the exact-cosine re-rank is unchanged)."""
    sub = lambda col, m: f"{col}[{m * PQ_SUB + 1}:{(m + 1) * PQ_SUB}]"

    def scored(cb: str, tag: str) -> str:
        selects = "\n      UNION ALL\n".join(
            f"""      SELECT x.vec_id, b.m, b.code,
             CAST(list_dot_product(CAST(b.c AS DOUBLE[]), CAST(b.c AS DOUBLE[]))
                  - 2 * list_dot_product(CAST({sub('x.e', m)} AS DOUBLE[]),
                                         CAST(b.c AS DOUBLE[])) AS BIGINT) AS d
      FROM q x JOIN {cb} b ON b.m = {m}"""
            for m in range(PQ_M)
        )
        return f"""scored{tag} AS (
{selects}
    ),
    enc{tag} AS (
      SELECT vec_id, m, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d ASC, code ASC) AS rk
        FROM scored{tag}
      ) WHERE rk = 1
    )"""

    cb0_selects = "\n      UNION ALL\n".join(
        f"      SELECT {m} AS m, CAST(vec_id AS INT) AS code, {sub('e', m)} AS c "
        f"FROM q WHERE vec_id < {PQ_K}"
        for m in range(PQ_M)
    )
    asub_selects = "\n      UNION ALL\n".join(
        f"      SELECT e0.m, e0.code, {sub('x.e', m)} AS se "
        f"FROM q x JOIN enc0 e0 ON e0.vec_id = x.vec_id AND e0.m = {m}"
        for m in range(PQ_M)
    )
    adc_terms = " + ".join(
        f"""list_dot_product(CAST({sub('qq.e', m)} AS DOUBLE[]),
                             CAST(c{m}.c AS DOUBLE[]))"""
        for m in range(PQ_M)
    )
    adc_joins = "\n      ".join(
        f"JOIN enc1 e{m} ON e{m}.vec_id = x.vec_id AND e{m}.m = {m}\n"
        f"      JOIN cb1 c{m} ON c{m}.m = {m} AND c{m}.code = e{m}.code"
        for m in range(PQ_M)
    )
    return f"""
    WITH {quant_cte},
    cb0 AS (
{cb0_selects}
    ),
    {scored('cb0', '0')},
    assigned_subs AS (
{asub_selects}
    ),
    cb1 AS (
      SELECT m, code, list(v ORDER BY dim) AS c FROM (
        SELECT a.m, a.code, u.i AS dim,
               CAST(floor(CAST(SUM(a.se[u.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
        FROM assigned_subs a,
             LATERAL (SELECT unnest(generate_series(1, {PQ_SUB})) AS i) u
        GROUP BY a.m, a.code, u.i
      ) GROUP BY m, code
    ),
    {scored('cb1', '1')},
    adc AS (
      SELECT qq.vec_id AS query_id, x.vec_id AS neighbor_id,
             CAST({adc_terms} AS BIGINT) AS est
      FROM q qq, (SELECT DISTINCT vec_id FROM enc1) x
      {adc_joins}
      WHERE qq.vec_id < {N_QUERIES} AND x.vec_id <> qq.vec_id
    ),
    cands AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY est DESC, neighbor_id ASC) AS rk
        FROM adc
      ) WHERE rk <= {PQ_R}
    ),
    rescored AS (
      SELECT cd.query_id, cd.neighbor_id,
             list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) AS cosine
      FROM cands cd
      JOIN q a ON a.vec_id = cd.query_id
      JOIN q b ON b.vec_id = cd.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM rescored
    ) WHERE rank <= {TOP_K}
    """


def _pq_encode(emb: DataFrame, books):
    """Distributed PQ encoding: (vec_id, e) -> (vec_id, code0..code{M-1}).

    ``books`` is a per-subspace list of (code_ids, matrix) — ids may be a
    sparse subset after training (codes that lost every vector drop out,
    as in the k-means oracle). argmin uses integer L2 (|c|^2 - 2<x,c>);
    np.argmin's first-occurrence rule == ORDER BY d, code ASC because
    ids are sorted. One GEMM per subspace per Arrow batch, map-only."""
    import numpy as np
    from pyspark.sql import types as T

    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(
        [(np.asarray(ids, dtype=np.int64), np.asarray(mat, dtype=np.float64)) for ids, mat in books]
    )
    enc_schema = T.StructType(
        [T.StructField("vec_id", T.LongType())]
        + [T.StructField(f"code{m}", T.IntegerType()) for m in range(PQ_M)]
    )

    def encode(batches):
        import numpy as np
        import pandas as pd

        bks = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf["e"]), dtype=np.float64).reshape(len(pdf), PQ_M, PQ_SUB)
            out = {"vec_id": pdf["vec_id"]}
            for m in range(PQ_M):
                ids, cm = bks[m]
                d = (cm * cm).sum(axis=1)[None, :] - 2.0 * (mat[:, m, :] @ cm.T)
                out[f"code{m}"] = ids[np.argmin(d, axis=1)].astype("int32")
            yield pd.DataFrame(out)

    return emb.mapInPandas(encode, enc_schema)


@register("embedding_pq_topk", _pq_oracle())
def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via product quantization with asymmetric distance (ADC) +
    exact re-rank — the fourth index family next to brute/LSH/IVF, and
    the one that matters when 100 TB of embeddings must fit in memory:
    the corpus stores as {PQ_M} small codes per vector ({PQ_M}×log2({PQ_K})
    bits vs {DIM}×64 raw), queries score codes through a per-query lookup
    table, and only the top {PQ_R} ADC candidates touch full vectors.

    Codebooks are TRAINED: seeded from the first {PQ_K} corpus vectors'
    subvectors, then one distributed Lloyd round per subspace — encode
    (integer-L2 argmin GEMM) + update (floor-mean int64 centroids via a
    map-side-combined groupBy, the same re-quantization trick as the IVF
    quantizer; codes that lose every vector drop out in both engines).
    The oracle unrolls seed → enc0 → cb1 → enc1 → ADC statically, so
    training, encoding, scoring, and re-rank are ALL hash-gated.

    Physical plan: encoding is map-only numpy against broadcast books
    (one {PQ_K}×{PQ_SUB} GEMM per subspace per Arrow batch); the Lloyd
    update shuffles at most M×K×SUB aggregate rows; ADC scoring is pure
    JVM codegen — element_at() into broadcast per-query LUT arrays plus
    integer adds, no Python per row; the driver only ever holds
    {PQ_K}+{N_QUERIES} vectors + M×K×SUB centroid aggregates (bounded
    constants, same class as the k-means seed collect)."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", _quantize("embedding").alias("e"))
    return _pq_topk_from(spark, emb)


def _pq_topk_from(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """The PQ train/encode/ADC/re-rank pipeline over any (vec_id, e)
    frame (see embedding_pq_topk docstring); embedding_opq_topk feeds it
    rotated vectors."""
    import numpy as np
    from pyspark.sql import types as T

    seed = sorted(emb.filter(F.col("vec_id") < PQ_K).collect(), key=lambda r: r.vec_id)
    seed_mat = np.array([r.e for r in seed], dtype=np.float64).reshape(PQ_K, PQ_M, PQ_SUB)
    books0 = [(list(range(PQ_K)), seed_mat[:, m, :]) for m in range(PQ_M)]

    # One Lloyd round: distributed assignment + floor-mean centroid update
    # (M*K*SUB aggregate rows — bounded — reach the driver).
    enc0 = _pq_encode(emb, books0)
    joined = enc0.join(emb, "vec_id")
    per_m = None
    for m in range(PQ_M):
        part = joined.select(
            F.lit(m).alias("m"),
            F.col(f"code{m}").alias("code"),
            F.posexplode(F.slice("e", m * PQ_SUB + 1, PQ_SUB)).alias("pos", "v"),
        )
        per_m = part if per_m is None else per_m.unionByName(part)
    cent_rows = (
        per_m.groupBy("m", "code", "pos")
        .agg(F.floor(F.sum("v").cast("double") / F.count("*")).cast("bigint").alias("v"))
        .collect()
    )
    by_mc: dict = {}
    for r in cent_rows:
        by_mc.setdefault((r.m, r.code), {})[r.pos] = r.v
    books1 = []
    for m in range(PQ_M):
        ids = sorted(code for (mm, code) in by_mc if mm == m)
        mat = np.array(
            [[by_mc[(m, c)][p] for p in range(PQ_SUB)] for c in ids], dtype=np.float64
        )
        books1.append((ids, mat))

    encoded = _pq_encode(emb, books1)

    queries = sorted(
        emb.filter(F.col("vec_id") < N_QUERIES).collect(), key=lambda r: r.vec_id
    )
    lut_rows = []
    for r in queries:
        qv = np.array(r.e, dtype=np.float64).reshape(PQ_M, PQ_SUB)
        luts = []
        for m in range(PQ_M):
            ids, mat = books1[m]
            dense = [0] * PQ_K  # dropped codes never appear in enc output
            for i, code in enumerate(ids):
                dense[code] = int((mat[i] @ qv[m]))
            luts.append(dense)
        lut_rows.append((r.vec_id, *luts))
    lut_schema = T.StructType(
        [T.StructField("query_id", T.LongType())]
        + [T.StructField(f"lut{m}", T.ArrayType(T.LongType())) for m in range(PQ_M)]
    )
    lut_df = spark.createDataFrame(lut_rows, lut_schema)

    est = sum(
        F.element_at(F.col(f"lut{m}"), F.col(f"code{m}") + 1) for m in range(PQ_M)
    )
    adc = (
        encoded.crossJoin(F.broadcast(lut_df))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), est.alias("est"))
    )
    wc = W.partitionBy("query_id").orderBy(F.col("est").desc(), F.col("neighbor_id").asc())
    cands = (
        adc.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= PQ_R)
        .select("query_id", "neighbor_id")
    )
    with_vecs = cands.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("be")),
        "neighbor_id",
    ).join(
        F.broadcast(
            emb.filter(F.col("vec_id") < N_QUERIES).select(
                F.col("vec_id").alias("query_id"), F.col("e").alias("ae")
            )
        ),
        "query_id",
    )
    cosine = (
        _dot(F.col("ae"), F.col("be")).cast("double")
        / (
            F.sqrt(_dot(F.col("ae"), F.col("ae")).cast("double"))
            * F.sqrt(_dot(F.col("be"), F.col("be")).cast("double"))
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        with_vecs.select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---- OPQ: optimized product quantization ------------------------------
# OPQ (Ge et al., CVPR 2013) prepends an orthogonal transform to PQ so the
# subspace decomposition matches the data's energy distribution. The full
# parametric form alternates SVD rotations with codebook updates — float
# linear algebra no SQL oracle can reproduce bit-for-bit. This implements
# the paper's eigenvalue-allocation idea in its exactly-verifiable form: a
# VARIANCE-BALANCING PERMUTATION (a permutation matrix IS an orthogonal
# rotation). Dimensions rank by exact integer variance (n·Σx² − (Σx)²);
# round-robin allocation deals them across the PQ_M subspaces so each
# subspace receives an even mix of high- and low-variance dims — the imbalance that
# makes plain PQ waste codebook entries on low-energy subspaces. Every
# step is integer/decimal-exact, so the DuckDB oracle derives the SAME
# permutation from the same stats and the whole OPQ chain stays
# hash-gated end-to-end. Rotating costs one map-only projection; dot
# products and norms are permutation-invariant, so the exact re-rank and
# the output contract are identical to embedding_pq_topk's.

_OPQ_QUANT_CTE = f"""
q_raw AS (
  SELECT vec_id,
         [CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT) FOR x IN embedding] AS e
  FROM embeddings
),
dimstats AS (
  SELECT u.i AS dim,
         CAST(COUNT(*) AS HUGEINT) * SUM(CAST(e[u.i] AS HUGEINT) * e[u.i])
           - SUM(CAST(e[u.i] AS HUGEINT)) * SUM(CAST(e[u.i] AS HUGEINT)) AS var_n2
  FROM q_raw, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) u
  GROUP BY u.i
),
alloc AS (
  SELECT dim, row_number() OVER (ORDER BY var_n2 DESC, dim ASC) - 1 AS r
  FROM dimstats
),
perm AS (
  SELECT dim, (r % {PQ_M}) * {PQ_SUB} + (r // {PQ_M}) + 1 AS newpos
  FROM alloc
),
q AS (
  SELECT r.vec_id, list(r.e[CAST(p.dim AS INT)] ORDER BY p.newpos) AS e
  FROM q_raw r, perm p
  GROUP BY r.vec_id
)
"""


def _opq_src_dims(emb: DataFrame) -> list[int]:
    """0-based source dim for each rotated position: rank dims by exact
    variance (ties to the lower dim), round-robin-deal ranks across
    subspaces (rank r -> subspace r mod M, slot r div M).
    The stats collect is {DIM} aggregate rows — a bounded driver fetch of
    the k-means-seed class; sums ride decimals so n·Σx² − (Σx)² is exact
    at any corpus size (the oracle uses HUGEINT for the same guarantee).
    """
    stats = (
        emb.select(F.posexplode("e").alias("dim0", "v"))
        .groupBy("dim0")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast("decimal(19,0)")).alias("s"),
            F.sum(F.col("v").cast("decimal(19,0)") * F.col("v")).alias("ss"),
        )
        .collect()
    )
    ranked = sorted(
        stats,
        key=lambda r: (-(int(r.n) * int(r.ss) - int(r.s) * int(r.s)), r.dim0),
    )
    src = [0] * DIM
    for rank, row in enumerate(ranked):
        block, subspace = divmod(rank, PQ_M)
        src[subspace * PQ_SUB + block] = row.dim0
    return src


@register("embedding_opq_topk", _pq_oracle(_OPQ_QUANT_CTE))
def embedding_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ ANN: variance-balancing orthogonal permutation (see the block
    comment above — the exactly-verifiable form of OPQ's eigenvalue
    allocation) followed by the full trained-PQ pipeline
    (`_pq_topk_from`: seed → Lloyd round per subspace → integer-L2
    encode → ADC LUT scoring → exact top-{TOP_K} re-rank).

    Physical plan: the permutation adds one map-only projection (static
    element_at list, pure codegen) before an otherwise unchanged PQ
    plan; the only new shuffle is the {DIM}-row dimension-stats
    aggregate (map-side combined). Scale: stats and permutation are
    corpus-wide constants computed once — at 100 TB the rotation is a
    metadata artifact next to the codebooks, exactly like FAISS's OPQ
    matrix."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    src = _opq_src_dims(emb)
    rotated = emb.select(
        "vec_id", F.array(*[F.element_at("e", d + 1) for d in src]).alias("e")
    )
    return _pq_topk_from(spark, rotated)


# ---- IVF-PQ composite ------------------------------------------------
# The production-scale ANN layout (FAISS IVFPQ): an IVF coarse quantizer
# prunes the search to nprobe cells AND a residual product quantizer
# compresses what is stored per vector — at 100 TB the corpus lives as
# (cell id + PQ codes), full vectors touched only at re-rank. Residuals
# (x − centroid) are integer vectors here (both are quantized int64), so
# every training/encoding/scoring step stays hash-verifiable.


def _ivfpq_oracle() -> str:
    u = IVF_TRAIN_ITERS
    kmeans = ",\n    ".join(_kmeans_ctes(u + 1))
    sub = lambda col, m: f"{col}[{m * PQ_SUB + 1}:{(m + 1) * PQ_SUB}]"
    rcb_selects = "\n      UNION ALL\n".join(
        f"      SELECT {m} AS m, CAST(vec_id AS INT) AS code, {sub('r', m)} AS c "
        f"FROM residuals WHERE vec_id < {PQ_K}"
        for m in range(PQ_M)
    )
    renc_selects = "\n      UNION ALL\n".join(
        f"""      SELECT x.vec_id, b.m, b.code,
             CAST(list_dot_product(CAST(b.c AS DOUBLE[]), CAST(b.c AS DOUBLE[]))
                  - 2 * list_dot_product(CAST({sub('x.r', m)} AS DOUBLE[]),
                                         CAST(b.c AS DOUBLE[])) AS BIGINT) AS d
      FROM residuals x JOIN rcb b ON b.m = {m}"""
        for m in range(PQ_M)
    )
    adc_terms = " + ".join(
        f"""list_dot_product(CAST({sub('qq.e', m)} AS DOUBLE[]),
                             CAST(c{m}.c AS DOUBLE[]))"""
        for m in range(PQ_M)
    )
    adc_joins = "\n      ".join(
        f"JOIN renc e{m} ON e{m}.vec_id = x.vec_id AND e{m}.m = {m}\n"
        f"      JOIN rcb c{m} ON c{m}.m = {m} AND c{m}.code = e{m}.code"
        for m in range(PQ_M)
    )
    return f"""
    WITH {_QUANT_CTE},
    {kmeans},
    residuals AS (
      SELECT a.vec_id, a.cell,
             [a.e[i] - c.s[i] FOR i IN generate_series(1, {DIM})] AS r
      FROM assign{u} a JOIN cent{u} c ON c.cell = a.cell
    ),
    rcb AS (
{rcb_selects}
    ),
    scored_rcodes AS (
{renc_selects}
    ),
    renc AS (
      SELECT vec_id, m, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d ASC, code ASC) AS rk
        FROM scored_rcodes
      ) WHERE rk = 1
    ),
    probe AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cell ASC) AS rk
        FROM score{u} WHERE vec_id < {N_QUERIES}
      ) WHERE rk <= {IVF_NPROBE}
    ),
    qcell AS (
      SELECT qq.vec_id AS query_id, c.cell,
             CAST(list_dot_product(CAST(qq.e AS DOUBLE[]), CAST(c.s AS DOUBLE[]))
                  AS BIGINT) AS qc
      FROM q qq, cent{u} c WHERE qq.vec_id < {N_QUERIES}
    ),
    adc AS (
      SELECT p.query_id, x.vec_id AS neighbor_id,
             CAST(qc.qc + {adc_terms} AS BIGINT) AS est
      FROM probe p
      JOIN residuals x ON x.cell = p.cell AND x.vec_id <> p.query_id
      JOIN q qq ON qq.vec_id = p.query_id
      JOIN qcell qc ON qc.query_id = p.query_id AND qc.cell = p.cell
      {adc_joins}
    ),
    cands AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY est DESC, neighbor_id ASC) AS rk
        FROM adc
      ) WHERE rk <= {PQ_R}
    ),
    rescored AS (
      SELECT cd.query_id, cd.neighbor_id,
             list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) AS cosine
      FROM cands cd
      JOIN q a ON a.vec_id = cd.query_id
      JOIN q b ON b.vec_id = cd.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM rescored
    ) WHERE rank <= {TOP_K}
    """


@register("embedding_ivfpq_topk", _ivfpq_oracle())
def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via the IVF-PQ composite — cell pruning (search only
    {IVF_NPROBE} of {IVF_CELLS} cells) TIMES storage compression (each
    vector stored as cell id + {PQ_M} residual codes): the layout that
    serves billion-vector corpora from RAM. The trained IVF quantizer
    supplies cells; residuals (x − centroid, integer vectors) are
    product-quantized with codebooks seeded from the first {PQ_K}
    residuals; a query's ADC estimate is q·centroid (per probed cell) +
    Σ_m LUT_m[code_m] — all integers, so the oracle replays training,
    assignment, residual encoding, probing, and scoring bit-for-bit.

    Physical plan: residual computation and encoding are map-only numpy
    passes over broadcast centroids/codebooks; the probe list and
    per-query LUTs are driver-built from bounded aggregates
    ({N_QUERIES}×{IVF_NPROBE} rows, {IVF_CELLS}·{DIM} centroid ints);
    candidate scoring is a broadcast join on cell + JVM element_at adds;
    only the top {PQ_R} candidates per query touch full vectors."""
    import numpy as np
    from pyspark.sql import types as T

    emb = table(spark, sf_dir, "embeddings").select("vec_id", _quantize("embedding").alias("e"))
    ids, cent = _trained_centroids(spark, sf_dir, IVF_TRAIN_ITERS)
    assigned = _assign_cells(emb, ids, cent)

    cent_by_cell = {int(c): cent[i] for i, c in enumerate(ids)}
    bc_cent = spark.sparkContext.broadcast(cent_by_cell)
    res_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("r", T.ArrayType(T.LongType())),
        ]
    )

    def residualize(batches):
        import numpy as np
        import pandas as pd

        cents = bc_cent.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf["e"]), dtype=np.int64)
            cells = pdf["cell"].to_numpy()
            cmat = np.array([cents[int(c)] for c in cells], dtype=np.int64)
            resid = mat - cmat
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": cells, "r": list(resid)}
            )

    residuals = assigned.mapInPandas(residualize, res_schema)

    seed = sorted(
        residuals.filter(F.col("vec_id") < PQ_K).collect(), key=lambda r: r.vec_id
    )
    seed_mat = np.array([row.r for row in seed], dtype=np.float64).reshape(
        PQ_K, PQ_M, PQ_SUB
    )
    books = [(list(range(PQ_K)), seed_mat[:, m, :]) for m in range(PQ_M)]
    renc = _pq_encode(residuals.select("vec_id", F.col("r").alias("e")), books)
    encoded = renc.join(residuals.select("vec_id", "cell"), "vec_id")

    # Driver-side query prep (bounded: N_QUERIES vectors, K centroids).
    queries = sorted(
        emb.filter(F.col("vec_id") < N_QUERIES).collect(), key=lambda r: r.vec_id
    )
    cent_f = cent.astype(np.float64)
    cent_norms = np.sqrt((cent_f * cent_f).sum(axis=1))
    probe_rows = []
    for qrow in queries:
        qv = np.array(qrow.e, dtype=np.float64)
        qn = np.sqrt((qv * qv).sum())
        cos = (cent_f @ qv) / (cent_norms * qn)
        # (cos DESC, cell ASC): stable argsort on (-cos, cell) == oracle.
        order = sorted(range(len(ids)), key=lambda i: (-cos[i], int(ids[i])))
        qsub = qv.reshape(PQ_M, PQ_SUB)
        luts = [
            [int(x) for x in (books[m][1] @ qsub[m]).astype(np.int64)]
            for m in range(PQ_M)
        ]
        for i in order[: min(IVF_NPROBE, len(ids))]:
            qc = int(cent_f[i] @ qv)
            probe_rows.append((qrow.vec_id, int(ids[i]), qc, *luts))
    probe_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("qc", T.LongType()),
        ]
        + [T.StructField(f"lut{m}", T.ArrayType(T.LongType())) for m in range(PQ_M)]
    )
    probes = spark.createDataFrame(probe_rows, probe_schema)

    est = F.col("qc") + sum(
        F.element_at(F.col(f"lut{m}"), F.col(f"code{m}") + 1) for m in range(PQ_M)
    )
    adc = (
        encoded.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), est.alias("est"))
    )
    wc = W.partitionBy("query_id").orderBy(F.col("est").desc(), F.col("neighbor_id").asc())
    cands = (
        adc.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= PQ_R)
        .select("query_id", "neighbor_id")
    )
    with_vecs = cands.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("be")),
        "neighbor_id",
    ).join(
        F.broadcast(
            emb.filter(F.col("vec_id") < N_QUERIES).select(
                F.col("vec_id").alias("query_id"), F.col("e").alias("ae")
            )
        ),
        "query_id",
    )
    cosine = (
        _dot(F.col("ae"), F.col("be")).cast("double")
        / (
            F.sqrt(_dot(F.col("ae"), F.col("ae")).cast("double"))
            * F.sqrt(_dot(F.col("be"), F.col("be")).cast("double"))
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        with_vecs.select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---- MMR diversified retrieval ----------------------------------------
# Maximal Marginal Relevance (Carbonell & Goldstein 1998): re-rank a
# bounded candidate pool so each successive pick maximizes
# lambda*rel(q,d) - (1-lambda)*max_{s in selected} sim(d,s) — the
# diversity-aware final stage of a RAG retrieval stack (plain top-k
# returns 5 near-copies when the corpus has near-dups; MMR returns one
# representative per cluster). K is a fixed constant, so the greedy
# iteration UNROLLS into a static plan — the same trick as the k-means
# and PageRank oracles — and stays hash-verifiable end-to-end.
MMR_POOL = 20  # candidate pool per query (top-POOL by relevance)
MMR_K = TOP_K  # picks per query
MMR_LAMBDA = 0.75  # exactly representable in binary — cross-engine safe


def _mmr_oracle(pool_ctes: str | None = None) -> str:
    """The unrolled-greedy MMR oracle over a pool CTE chain. ``pool_ctes``
    must define `cand(query_id, neighbor_id, rel)` (and may reference the
    quantized `q`); the default pool is brute-force top-{MMR_POOL} by
    relevance, the IVF variant plugs the probed-cell candidates in."""
    cos = (
        "list_dot_product(CAST({a}.e AS DOUBLE[]), CAST({b}.e AS DOUBLE[])) /"
        " (sqrt(list_dot_product(CAST({a}.e AS DOUBLE[]), CAST({a}.e AS DOUBLE[]))) *"
        " sqrt(list_dot_product(CAST({b}.e AS DOUBLE[]), CAST({b}.e AS DOUBLE[]))))"
    )
    lam, one_m = MMR_LAMBDA, 1 - MMR_LAMBDA
    rounds = []
    for r in range(2, MMR_K + 1):
        prev_union = " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, r))
        rounds.append(
            f"""prev{r} AS ({prev_union}),
    sel{r} AS (
      SELECT query_id, neighbor_id, rel, {r} AS mmr_rank FROM (
        SELECT c.query_id, c.neighbor_id, c.rel,
               row_number() OVER (PARTITION BY c.query_id
                                  ORDER BY {lam} * c.rel - {one_m} * ms.maxsim DESC,
                                           c.neighbor_id ASC) AS rk
        FROM cand c
        JOIN (SELECT m.query_id, m.a_id, MAX(m.sim) AS maxsim
              FROM sims m JOIN prev{r} p
                ON p.query_id = m.query_id AND p.neighbor_id = m.b_id
              GROUP BY m.query_id, m.a_id) ms
          ON ms.query_id = c.query_id AND ms.a_id = c.neighbor_id
        LEFT JOIN prev{r} x
          ON x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id
        WHERE x.neighbor_id IS NULL
      ) WHERE rk = 1
    )"""
        )
    final_union = " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, MMR_K + 1))
    if pool_ctes is None:
        pool_ctes = f"""rels AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {cos.format(a='a', b='b')} AS rel
      FROM q a JOIN q b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    ),
    cand AS (
      SELECT query_id, neighbor_id, rel FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, neighbor_id ASC) AS rk
        FROM rels
      ) WHERE rk <= {MMR_POOL}
    )"""
    return f"""
    WITH {_QUANT_CTE},
    {pool_ctes},
    sims AS (
      SELECT c1.query_id, c1.neighbor_id AS a_id, c2.neighbor_id AS b_id,
             {cos.format(a='x', b='y')} AS sim
      FROM cand c1
      JOIN cand c2 ON c2.query_id = c1.query_id AND c2.neighbor_id <> c1.neighbor_id
      JOIN q x ON x.vec_id = c1.neighbor_id
      JOIN q y ON y.vec_id = c2.neighbor_id
    ),
    sel1 AS (
      SELECT query_id, neighbor_id, rel, 1 AS mmr_rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, neighbor_id ASC) AS rk
        FROM cand
      ) WHERE rk = 1
    ),
    {','.join(rounds)}
    SELECT query_id, neighbor_id, rel AS relevance, CAST(mmr_rank AS INT) AS mmr_rank
    FROM ({final_union})
    """


@register("mmr_diverse_topk", _mmr_oracle())
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-{MMR_K} (see the block comment): brute-force
    relevance builds a top-{MMR_POOL} pool per query, then a
    per-query-group greedy pass picks {MMR_K} lambda-balanced diverse
    results.

    Determinism: relevance is the exact-integer-dot cosine every ANN
    query uses; inside the Arrow group the pairwise dots are sums of
    exact integers < 2^53 (so ANY summation order — including BLAS — is
    exact), sqrt/divide/multiply are correctly rounded, and the MMR mix
    uses binary-exact 0.75/0.25 — so each greedy argmax (ties to the
    lower id) matches the oracle's unrolled CTE chain bit-for-bit.

    Scale: ONE shuffle (groupBy query_id) after the map-only scoring
    pass; each group is {MMR_POOL} rows by construction — corpus-size-
    independent — so the greedy loop is a vectorized constant-cost
    epilogue per query, the applyInPandas analog of FAISS's rerank
    stage. (A first cut unrolled the {MMR_K} rounds as joins+windows:
    correct, but ~12 near-empty shuffle stages — 10.7s at sf0.1 vs
    ~2s for this shape. At 100 TB the pool would come from any ANN
    index family instead of brute force; the epilogue is unchanged.)"""
    import pandas as pd  # noqa: F401 — worker-side
    from pyspark.sql import types as T

    emb = table(spark, sf_dir, "embeddings").select("vec_id", _quantize("embedding").alias("e"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    cosine = (
        _dot(F.col("qe"), F.col("e")).cast("double")
        / (
            F.sqrt(_dot(F.col("qe"), F.col("qe")).cast("double"))
            * F.sqrt(_dot(F.col("e"), F.col("e")).cast("double"))
        )
    )
    rels = (
        emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cosine.alias("rel"), "e")
    )
    wp = W.partitionBy("query_id").orderBy(F.col("rel").desc(), F.col("neighbor_id").asc())
    pool = (
        rels.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= MMR_POOL)
        .select("query_id", "neighbor_id", "rel", "e")
    )
    return _mmr_epilogue(pool)


def _mmr_epilogue(pool: DataFrame) -> DataFrame:
    """The greedy MMR selection over a (query_id, neighbor_id, rel, e)
    pool — one applyInPandas per query group (see mmr_diverse_topk's
    docstring for the determinism and cost argument); shared by the
    brute-force and IVF-pooled variants."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("relevance", T.DoubleType()),
            T.StructField("mmr_rank", T.IntegerType()),
        ]
    )
    lam, one_m, k = MMR_LAMBDA, 1 - MMR_LAMBDA, MMR_K

    def greedy(pdf):
        # Defined in-builder: pickled by value so executors never import
        # this module.
        import numpy as np
        import pandas as pd

        ids = pdf["neighbor_id"].to_numpy()
        rel = pdf["rel"].to_numpy()
        mat = np.array(list(pdf["e"]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        sims = (mat @ mat.T) / (norms[:, None] * norms[None, :])
        n = len(ids)
        selected: list[int] = []
        # -inf, NOT 0: cosines can be negative, and the oracle's
        # MAX(sim) over the selected set keeps that sign. (A zero init
        # silently clamped negative maxsims and flipped round-2 picks.)
        maxsim = np.full(n, -np.inf)
        rows = []
        for r in range(1, min(k, n) + 1):
            best = None
            for i in range(n):
                if i in selected:
                    continue
                # Round 1 compares RAW rel (the oracle's sel1 orders by
                # rel): multiplying by lambda is only non-strictly
                # monotone in IEEE doubles, so two adjacent distinct
                # relevances could collapse to equal keys and let the id
                # tie-break diverge from the oracle.
                score = rel[i] if r == 1 else lam * rel[i] - one_m * maxsim[i]
                key = (score, -ids[i])
                if best is None or key > best[0]:
                    best = (key, i)
            i = best[1]
            selected.append(i)
            rows.append((int(pdf["query_id"].iloc[0]), int(ids[i]), float(rel[i]), r))
            maxsim = np.maximum(maxsim, sims[:, i])
        return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "relevance", "mmr_rank"])

    return pool.groupBy("query_id").applyInPandas(greedy, out_schema)


def _ivf_mmr_pool_ctes() -> str:
    """IVF-probe pool for the MMR oracle: the kmeans CTE chain + probe +
    exact candidate cosines (same text as _ivf_oracle up to `rescored`),
    topped to MMR_POOL per query as `cand(query_id, neighbor_id, rel)`."""
    u = IVF_TRAIN_ITERS
    chained = ",\n    ".join(_kmeans_ctes(u + 1))
    return f"""{chained},
    probe AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cell ASC) AS rk
        FROM score{u} WHERE vec_id < {N_QUERIES}
      ) WHERE rk <= {IVF_NPROBE}
    ),
    pcands AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probe p JOIN assign{u} a ON a.cell = p.cell AND a.vec_id <> p.query_id
    ),
    prescored AS (
      SELECT cd.query_id, cd.neighbor_id,
             list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) AS rel
      FROM pcands cd
      JOIN q a ON a.vec_id = cd.query_id
      JOIN q b ON b.vec_id = cd.neighbor_id
    ),
    cand AS (
      SELECT query_id, neighbor_id, rel FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, neighbor_id ASC) AS rk
        FROM prescored
      ) WHERE rk <= {MMR_POOL}
    )"""


@register("mmr_ann_topk", _mmr_oracle(_ivf_mmr_pool_ctes()))
def mmr_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production retrieval composition: IVF index front-end
    (trained coarse quantizer, {IVF_NPROBE}-of-{IVF_CELLS} cell probe,
    exact candidate cosines — `_ivf_scored`, shared with
    embedding_ivf_topk) feeding the MMR diversity epilogue
    (`_mmr_epilogue`, shared with mmr_diverse_topk) — index recall and
    result diversity in one hash-gated plan, exactly the "pool from any
    ANN family" composition both components' docstrings promise.

    Scale: inherits IVF's map-only assignment + cell-sharded probe and
    MMR's bounded per-query epilogue; the only new work is the
    top-{MMR_POOL} pool window over probed candidates."""
    scored = _ivf_scored(spark, sf_dir).withColumnRenamed("cosine", "rel")
    wp = W.partitionBy("query_id").orderBy(F.col("rel").desc(), F.col("neighbor_id").asc())
    pool = (
        scored.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= MMR_POOL)
        .select("query_id", "neighbor_id", "rel", "e")
    )
    return _mmr_epilogue(pool)


# ---- Embedding health audit --------------------------------------------
NORM_MAD_K = 4  # |norm - median| > K * MAD → anomalous vector


@register(
    "embedding_norm_outliers",
    f"""
    WITH {_QUANT_CTE},
    norms AS (
      SELECT vec_id,
             CAST(list_dot_product(CAST(e AS DOUBLE[]), CAST(e AS DOUBLE[])) AS BIGINT) AS nsq
      FROM q
    ),
    med AS (
      SELECT nsq AS median_nsq FROM (
        SELECT nsq, row_number() OVER (ORDER BY nsq ASC, 1) AS rn, COUNT(*) OVER () AS n
        FROM norms
      ) WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT n.vec_id, n.nsq, abs(n.nsq - m.median_nsq) AS ad, m.median_nsq
      FROM norms n, med m
    ),
    mad AS (
      SELECT ad AS mad_nsq FROM (
        SELECT ad, row_number() OVER (ORDER BY ad ASC, 1) AS rn, COUNT(*) OVER () AS n
        FROM dev
      ) WHERE rn = (n + 1) // 2
    )
    SELECT d.vec_id, d.nsq, d.median_nsq, m.mad_nsq
    FROM dev d, mad m
    WHERE d.ad > {NORM_MAD_K} * m.mad_nsq
    """,
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table health audit: vectors whose squared norm sits
    more than {NORM_MAD_K} MADs from the median — the cheap detector
    for broken embeddings (zero vectors, double-scaled rows, truncated
    writes) that silently poison every cosine downstream. Squared norms
    are exact int64 (quantized dot with itself), and median/MAD use the
    rank method (lower median) so the flags are integer-exact and
    hash-gated — the mad_outliers idiom applied to the embeddings
    table.

    Scale: one map-only norm pass; both medians come from the banded
    rank (operators.text._banded_rank — quantile bands, partitioned
    windows, prefix-sum offsets), so the EXACT rank-method median
    survives at any scale with no single-task window and no
    percentile_approx compromise — round 10 turned this docstring's
    old approx-swap caveat into exact code."""
    from .text import _banded_rank

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    from ..session import defer_unpersist

    norms = defer_unpersist(
        emb.select(
            "vec_id", _dot(F.col("e"), F.col("e")).cast("bigint").alias("nsq")
        ).persist()  # four bounded driver passes + the final plan share it
    )
    ranked, n = _banded_rank(
        norms.withColumnRenamed("vec_id", "doc_id"), "nsq", "rn"
    )
    med = ranked.filter(F.col("rn") == (n + 1) // 2).select(
        F.col("nsq").alias("median_nsq")
    )
    dev = norms.crossJoin(F.broadcast(med)).select(
        "vec_id", "nsq", "median_nsq",
        F.abs(F.col("nsq") - F.col("median_nsq")).alias("ad"),
    )
    dranked, nd = _banded_rank(
        dev.select(F.col("vec_id").alias("doc_id"), "ad"), "ad", "rn"
    )
    mad = dranked.filter(F.col("rn") == (nd + 1) // 2).select(
        F.col("ad").alias("mad_nsq")
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .filter(F.col("ad") > NORM_MAD_K * F.col("mad_nsq"))
        .select("vec_id", "nsq", "median_nsq", "mad_nsq")
    )


# ---- Ranking-quality metric: NDCG ---------------------------------------
# Eval-pipeline operator: NDCG@K of the LSH index's ranking against the
# exact ideal ranking, graded by true cosine relevance. The discount
# weights 1/log2(i+1) are PYTHON-computed constants inlined as literals
# into BOTH engines (no runtime log — the one ln() idiom risk removed
# entirely); each discounted gain quantizes to nano-units BEFORE the
# per-query sum, so DCG/IDCG are exact ints and NDCG one exact division.
NDCG_SCALE = 1_000_000_000
_NDCG_W = [1.0 / _math.log2(i + 1) for i in range(1, TOP_K + 1)]


def _ndcg_oracle() -> str:
    from ..plans.registry import QUERIES as _REG

    wcase = " ".join(
        f"WHEN {i + 1} THEN {w!r}" for i, w in enumerate(_NDCG_W)
    )
    term = f"CAST(floor(cosine * (CASE rank {wcase} END) * {NDCG_SCALE}) AS BIGINT)"
    return f"""
    WITH lsh AS ({_REG['embedding_ann_lsh'].oracle}),
    ideal AS ({_REG['embedding_topk_bruteforce'].oracle}),
    dcg AS (
      SELECT query_id, CAST(SUM({term}) AS BIGINT) AS dcg_q FROM lsh GROUP BY query_id
    ),
    idcg AS (
      SELECT query_id, CAST(SUM({term}) AS BIGINT) AS idcg_q FROM ideal GROUP BY query_id
    )
    SELECT i.query_id, COALESCE(d.dcg_q, 0) AS dcg_q, i.idcg_q,
           CAST(COALESCE(d.dcg_q, 0) AS DOUBLE) / i.idcg_q AS ndcg
    FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
    """


@register("ndcg_eval_lsh", _ndcg_oracle)
def ndcg_eval_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{TOP_K} of the LSH index per query (see the block comment) —
    the metric layer an eval pipeline runs over its retrieval stack,
    here hash-gated like everything else: recall (tests) says how many
    right items come back, NDCG says whether they come back in the
    right ORDER with the right graded weight.

    Scale: both inputs are per-query top-k lists; the metric is two
    bounded aggregates and a join on query_id — constant cost per
    query, composable over any registered ranking pair."""
    lsh = embedding_ann_lsh(spark, sf_dir)
    ideal = embedding_topk_bruteforce(spark, sf_dir)
    wcol = None
    for i, w in enumerate(_NDCG_W):
        c = F.when(F.col("rank") == i + 1, F.lit(w))
        wcol = c if wcol is None else wcol.when(F.col("rank") == i + 1, F.lit(w))
    term = F.floor(F.col("cosine") * wcol * NDCG_SCALE).cast("bigint")

    def _agg(df, out):
        return df.groupBy("query_id").agg(F.sum(term).cast("bigint").alias(out))

    dcg = _agg(lsh, "dcg_q")
    idcg = _agg(ideal, "idcg_q")
    return (
        idcg.join(dcg, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("dcg_q"), F.lit(0)).cast("bigint").alias("dcg_q"),
            "idcg_q",
            (
                F.coalesce(F.col("dcg_q"), F.lit(0)).cast("double") / F.col("idcg_q")
            ).alias("ndcg"),
        )
    )


# ---- Semantic dedup: clusters over the cosine near-dup graph ------------
# SemDeDup (Abbas et al. 2023) shape: embedding-level near-duplicate
# detection groups paraphrase families that lexical (MinHash) dedup
# misses; keeping ONE representative per semantic cluster is the
# curation decision. Clusters = connected components over the
# embedding_cosine_neardup pair graph, via the same min-label
# propagation loop the MinHash clusters use (operators.dedup.
# connected_components); survivor = the cluster's smallest vec_id,
# which under min-label CC is exactly the cluster_id.


def _semantic_dedup_oracle() -> str:
    from ..plans.registry import QUERIES as _REG

    cp = _REG["embedding_cosine_neardup"].oracle
    return f"""
    WITH RECURSIVE cp AS ({cp}),
    edges AS (
      SELECT keep_id AS src, dup_id AS dst FROM cp
      UNION ALL SELECT dup_id, keep_id FROM cp
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach AS (
      SELECT node, node AS reached FROM nodes
      UNION
      SELECT e.dst, r.reached FROM reach r JOIN edges e ON e.src = r.node
    ),
    labels AS (
      SELECT node AS vec_id, MIN(reached) AS cluster_id FROM reach GROUP BY node
    ),
    sizes AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM labels GROUP BY cluster_id
    )
    SELECT l.vec_id, l.cluster_id, s.n_members,
           (l.vec_id = l.cluster_id) AS is_survivor
    FROM labels l JOIN sizes s ON s.cluster_id = l.cluster_id
    """


@register("semantic_dedup_clusters", _semantic_dedup_oracle)
def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup clusters (see block comment): cosine near-dup
    pairs → connected components → per-vector row (vec_id, cluster_id,
    n_members, is_survivor). The survivor flag marks the one vector per
    paraphrase family a curation pass would keep; everything else is a
    semantic duplicate of it.

    Scale: the pair graph is the LSH-bucketed embedding_cosine_neardup
    plan (adaptive bits — linear in corpus); the CC loop shuffles only
    the near-dup edge list (orders of magnitude smaller than the
    corpus) with loop-sized partitions; the membership/size epilogue is
    one groupBy + join on the label frame. The oracle nests the full
    cosine-pair oracle chain inside a recursive CTE, so candidates,
    verification, clustering, and survivor choice are all hash-gated."""
    from .dedup import connected_components

    pairs = embedding_cosine_neardup(spark, sf_dir).select("keep_id", "dup_id")
    labels = connected_components(spark, pairs, "keep_id", "dup_id").select(
        F.col("node").alias("vec_id"), "cluster_id"
    )
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    # labels/sizes are edge-list-sized (hundreds of rows); without stats
    # Catalyst picks SMJ — hint the aggregate side broadcast.
    return labels.join(F.broadcast(sizes), "cluster_id").select(
        "vec_id",
        "cluster_id",
        "n_members",
        (F.col("vec_id") == F.col("cluster_id")).alias("is_survivor"),
    )


# ---- Greedy k-center diversity selection ----------------------------------
# Farthest-point traversal (Gonzalez 1985): pick the point with the
# largest squared distance to the already-chosen set, K times. The
# resulting set is a 2-approximate k-center solution — the classic
# diversity coreset for training-data selection (maximize coverage of
# embedding space with a fixed exemplar budget), and the selection
# radii it emits are the coverage-radius curve (how well K exemplars
# cover the corpus). Deterministic: quantized int64 embeddings, exact
# integer squared distances, total (dist DESC, vec_id ASC) order at
# every argmax; seeded at the max-norm vector.
KCENTER_K = 8


def _kcenter_oracle() -> str:
    # MATERIALIZED CTEs: each round's frontier (m{k}) and chosen center
    # (c{k}) are referenced more than once downstream; DuckDB inlines
    # plain CTEs, which doubles the plan per round (see the doremi
    # oracle's discipline note) — materialization keeps the chain
    # linear.
    d2 = (
        "CAST({n2} "
        "+ list_dot_product(CAST(c.e AS DOUBLE[]), CAST(c.e AS DOUBLE[])) "
        "- 2 * list_dot_product(CAST({e} AS DOUBLE[]), CAST(c.e AS DOUBLE[])) AS BIGINT)"
    )
    parts = [
        """n AS MATERIALIZED (
      SELECT vec_id, e,
             CAST(list_dot_product(CAST(e AS DOUBLE[]), CAST(e AS DOUBLE[])) AS BIGINT) AS n2
      FROM q
    ),
    c1 AS MATERIALIZED (
      SELECT vec_id, e FROM n ORDER BY n2 DESC, vec_id ASC LIMIT 1
    ),
    m1 AS MATERIALIZED (
      SELECT p.vec_id, p.e, p.n2, """
        + d2.format(n2="p.n2", e="p.e")
        + """ AS mind
      FROM n p, c1 c
    )"""
    ]
    for k in range(2, KCENTER_K + 1):
        parts.append(
            f"""c{k} AS MATERIALIZED (
      SELECT vec_id, e, mind FROM m{k - 1} ORDER BY mind DESC, vec_id ASC LIMIT 1
    ),
    m{k} AS MATERIALIZED (
      SELECT p.vec_id, p.e, p.n2,
             LEAST(p.mind, """
            + d2.format(n2="p.n2", e="p.e")
            + f""") AS mind
      FROM m{k - 1} p, c{k} c
    )"""
        )
    chained = ",\n    ".join(parts)
    sels = ["SELECT 1 AS sel_k, vec_id, CAST(0 AS BIGINT) AS dist_q FROM c1"] + [
        f"SELECT {k} AS sel_k, vec_id, CAST(mind AS BIGINT) AS dist_q FROM c{k}"
        for k in range(2, KCENTER_K + 1)
    ]
    return f"""
    WITH {_QUANT_CTE},
    {chained}
    SELECT CAST(sel_k AS INT) AS sel_k, vec_id, dist_q
    FROM ({" UNION ALL ".join(sels)})
    """


@register("kcenter_diverse_select", _kcenter_oracle)
def kcenter_diverse_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diversity coreset (see block comment): seed at
    the max-norm vector, then {KCENTER_K - 1} farthest-point rounds;
    output (sel_k, vec_id, dist_q) — the chosen exemplars in selection
    order with the squared-distance coverage radius at each pick.

    Scale: each round is ONE distributed map-only pass (blocked numpy
    GEMM against the ≤{KCENTER_K}-row broadcast center set — the
    quantized-int-exact pattern of embedding_cosine_neardup_exact)
    followed by a 1-row argmax collect; K rounds → K scans, K bounded
    collects (the same driver-state shape as kmeans_step's centroids).
    No all-pairs join, no corpus shuffle — the orderBy(...).limit(1)
    argmax is a per-partition top-1 + driver merge, not a global sort.
    At 100 TB with K in the hundreds, the identical plan holds; the
    classic refinement (recompute only rows whose cached mind exceeds
    the new center's distance) is a filter on this same frame."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    emb = emb.persist()
    try:
        seed = (
            emb.withColumn("n2", _dot(F.col("e"), F.col("e")))
            .orderBy(F.col("n2").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]
        )
        centers = [list(seed["e"])]
        picks = [(1, int(seed["vec_id"]), 0)]
        for k in range(2, KCENTER_K + 1):
            cents = [list(c) for c in centers]

            def score(it, _cents=cents):
                # Defined in-builder: pickled by value (executors never
                # import this module).
                import numpy as np
                import pandas as pd

                C = np.array(_cents, dtype=np.float64)
                cn = (C * C).sum(axis=1)
                for pdf in it:
                    if not len(pdf):
                        continue
                    M = np.array(list(pdf["e"]), dtype=np.float64)
                    n2 = (M * M).sum(axis=1)
                    d2 = n2[:, None] + cn[None, :] - 2.0 * (M @ C.T)
                    yield pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"],
                            "mind": d2.min(axis=1).astype(np.int64),
                            "e": pdf["e"],
                        }
                    )

            top = (
                emb.mapInPandas(score, "vec_id bigint, mind bigint, e array<bigint>")
                .orderBy(F.col("mind").desc(), F.col("vec_id").asc())
                .limit(1)
                .collect()[0]
            )
            centers.append(list(top["e"]))
            picks.append((k, int(top["vec_id"]), int(top["mind"])))
    finally:
        emb.unpersist()
    return spark.createDataFrame(picks, "sel_k int, vec_id bigint, dist_q bigint")


@register(
    "sq8_reconstruction_error",
    f"""
    WITH {_QUANT_CTE},
    dims AS (
      SELECT u.i AS dim, MIN(e[CAST(u.i AS INT)]) AS mn, MAX(e[CAST(u.i AS INT)]) AS mx
      FROM q, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) u
      GROUP BY u.i
    ),
    lim AS (
      SELECT list(mn ORDER BY dim) AS mns,
             list(GREATEST(mx - mn, 1) ORDER BY dim) AS rgs
      FROM dims
    ),
    recon AS (
      SELECT vec_id,
             list_transform(generate_series(1, {DIM}),
               i -> mns[CAST(i AS INT)] * 255
                  + (((e[CAST(i AS INT)] - mns[CAST(i AS INT)]) * 255)
                     // rgs[CAST(i AS INT)]) * rgs[CAST(i AS INT)]) AS r
      FROM q, lim
    ),
    errs AS (
      SELECT a.vec_id,
             list_transform(generate_series(1, {DIM}),
               i -> abs(a.e[CAST(i AS INT)] * 255 - b.r[CAST(i AS INT)])) AS ev
      FROM q a JOIN recon b ON b.vec_id = a.vec_id
    ),
    per_vec AS (
      SELECT e.vec_id,
             CAST(list_max(e.ev) AS BIGINT) AS mx,
             CAST(list_sum(e.ev) AS BIGINT) AS sm,
             list_max(list_transform(generate_series(1, {DIM}),
               i -> e.ev[CAST(i AS INT)] - l.rgs[CAST(i AS INT)])) < 0 AS incell
      FROM errs e, lim l
    )
    SELECT t.label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MAX(p.mx) AS BIGINT) AS max_abs_err,
           CAST(SUM(p.sm) AS BIGINT) AS total_abs_err,
           BOOL_AND(p.incell) AS within_cell
    FROM per_vec p JOIN embeddings t ON t.vec_id = p.vec_id
    GROUP BY t.label
    """,
)
def sq8_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-loss audit for the SQ8 index: per label class, the
    worst and total absolute reconstruction error of the 8-bit codes
    (in the exact x255 integer domain embedding_sq8_topk scores in),
    plus the cell-bound contract — every per-dimension error must be
    strictly inside its quantization cell (err_d <= rg_d - 1). This is
    the audit run before trusting a quantized index build: a range,
    rounding, or division slip in the codec shows up as a blown
    max_abs_err or a FALSE within_cell on either engine, and the error
    MAGNITUDES (not just the bound) hash-verify cross-engine because
    the whole codec is integer arithmetic.

    Scale: one {DIM}-element broadcast range row, map-only
    code/reconstruct/error transforms, one label-grain aggregate —
    no join wider than the broadcast, same shape at any corpus size."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("int").alias("label"), _quantize("embedding").alias("e")
    )
    recon = _sq8_recon(emb.select("vec_id", "e"))
    dims = (
        emb.select(F.posexplode("e").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    )
    lim = dims.agg(
        F.sort_array(
            F.collect_list(
                F.struct("dim", F.greatest(F.col("mx") - F.col("mn"), F.lit(1)).alias("rg"))
            )
        ).alias("s_rg")
    ).select(F.transform("s_rg", lambda s: s["rg"]).alias("rgs"))
    j = (
        emb.join(recon, "vec_id")
        .crossJoin(F.broadcast(lim))
        .withColumn("ev", F.zip_with("e", "r", lambda x, y: F.abs(x * 255 - y)))
    )
    per_vec = j.select(
        "vec_id",
        "label",
        F.array_max("ev").cast("bigint").alias("mx"),
        F.aggregate("ev", F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias("sm"),
        (
            F.array_max(F.zip_with("ev", "rgs", lambda a, rg: a - rg)) < 0
        ).alias("incell"),
    )
    return per_vec.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.max("mx").cast("bigint").alias("max_abs_err"),
        F.sum("sm").cast("bigint").alias("total_abs_err"),
        F.bool_and("incell").alias("within_cell"),
    )


@register(
    "embedding_filtered_topk",
    f"""
    WITH {_QUANT_CTE},
    lab AS (SELECT vec_id, CAST(label AS INT) AS label FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS query_id, la.label, b.vec_id AS neighbor_id,
             list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) AS cosine
      FROM q a
      JOIN lab la ON la.vec_id = a.vec_id
      JOIN lab lb ON lb.label = la.label AND lb.vec_id <> a.vec_id
      JOIN q b ON b.vec_id = lb.vec_id
      WHERE a.vec_id < {N_QUERIES}
    )
    SELECT query_id, label, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM pairs
    ) WHERE rank <= {TOP_K}
    """,
)
def embedding_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — top-{TOP_K} restricted to neighbors
    sharing the query's label (the "same tenant / same language / same
    split" predicate every production vector store must support). This
    is the PRE-FILTER strategy: the predicate joins into the scoring
    pass itself, so each query scores only its label's partition of the
    corpus and top-k is exact under the filter. The alternative
    (post-filter: run unfiltered ANN, discard non-matching neighbors)
    under-fills k whenever the filter is selective — with 10 balanced
    labels an unfiltered top-5 expects only ~0.5 same-label rows, so
    post-filtering returns <=1 of the 5 wanted neighbors. Pre-filter
    cost scales with the filter's selectivity (here ~N/10 candidates
    per query instead of N), which is exactly when you want it.

    Scale: broadcast the query set (with labels), score corpus rows
    against ONLY the same-label queries via the broadcast-join
    condition — a map-only pass over the corpus with the label
    predicate applied before any dot product; no corpus shuffle. At an
    IVF-indexed 100 TB scale the same predicate drops into the
    postings probe (filter before scoring) — composition documented on
    stream_incremental_ivf."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        _quantize("embedding").alias("e"),
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("e").alias("qe"),
    )
    pairs = emb.alias("c").join(
        F.broadcast(queries),
        (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("query_id")),
        "inner",
    )
    cosine = (
        _dot(F.col("qe"), F.col("e")).cast("double")
        / (
            F.sqrt(_dot(F.col("qe"), F.col("qe")).cast("double"))
            * F.sqrt(_dot(F.col("e"), F.col("e")).cast("double"))
        )
    )
    scored = pairs.select(
        "query_id",
        F.col("qlabel").alias("label"),
        F.col("vec_id").alias("neighbor_id"),
        cosine.alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "label", "neighbor_id", "cosine", "rank")
    )


def _ann_recall_oracle() -> str:
    """Lazy oracle (resolved by load_all): nests the brute-force and SQ8
    oracles verbatim, so the recall ground truth is BY CONSTRUCTION the
    same SQL the driver already hash-gates those two queries against."""
    from ..plans.registry import QUERIES as _REG

    return f"""
    WITH bf AS ({_REG["embedding_topk_bruteforce"].oracle}),
    sq AS ({_REG["embedding_sq8_topk"].oracle})
    SELECT b.query_id,
           CAST(COUNT(s.neighbor_id) AS BIGINT) AS hits,
           CAST(COUNT(s.neighbor_id) * 1000000 // {TOP_K} AS BIGINT) AS recall_ppm
    FROM bf b LEFT JOIN sq s
      ON s.query_id = b.query_id AND s.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """


@register("ann_recall_eval", _ann_recall_oracle)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the SQ8 index against brute-force ground truth,
    computed IN-ENGINE per query — the standing eval gate a production
    index deployment runs on every rebuild ("measure, don't guess" as a
    query, not an offline instrument; ANN_RECALL.json remains the
    offline sweep across all six index families, this is the
    always-on contract for the one family the recall sweep picked).
    Output grain: one row per query vector with hit count and
    recall_ppm (integer parts-per-million — exact cross-engine, no
    float division).

    Scale: both sides reuse their registered plans (broadcast-queries
    map-only scoring); the recall join itself touches
    {N_QUERIES}x{TOP_K} rows — driver-trivial at any corpus size. The
    expensive side is ground truth: at 100 TB you run brute force once
    over a FIXED query panel (this shape — the corpus scan is the cost,
    queries ride along broadcast), cache the panel's true top-k, and
    re-evaluate only the index side per rebuild."""
    bf = embedding_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    sq = embedding_sq8_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("m")
    )
    return (
        bf.join(sq, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("m").cast("bigint").alias("hits"))
        .select(
            "query_id",
            "hits",
            F.expr(f"CAST((hits * 1000000) div {TOP_K} AS BIGINT)").alias("recall_ppm"),
        )
    )


REFINE_C = 40  # coarse SQ8 candidates per query before exact rerank


@register(
    "ann_refine_topk",
    f"""
    WITH {_QUANT_CTE},
    dims AS (
      SELECT u.i AS dim, MIN(e[CAST(u.i AS INT)]) AS mn, MAX(e[CAST(u.i AS INT)]) AS mx
      FROM q, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) u
      GROUP BY u.i
    ),
    lim AS (
      SELECT list(mn ORDER BY dim) AS mns,
             list(GREATEST(mx - mn, 1) ORDER BY dim) AS rgs
      FROM dims
    ),
    recon AS (
      SELECT vec_id,
             list_transform(generate_series(1, {DIM}),
               i -> mns[CAST(i AS INT)] * 255
                  + (((e[CAST(i AS INT)] - mns[CAST(i AS INT)]) * 255)
                     // rgs[CAST(i AS INT)]) * rgs[CAST(i AS INT)]) AS r
      FROM q, lim
    ),
    coarse_pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.r AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.r AS DOUBLE[]), CAST(b.r AS DOUBLE[])))) AS ccos
      FROM q a JOIN recon b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    ),
    coarse AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY ccos DESC, neighbor_id ASC) AS crank
        FROM coarse_pairs
      ) WHERE crank <= {REFINE_C}
    ),
    refined AS (
      SELECT c.query_id, c.neighbor_id,
             list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) AS cosine
      FROM coarse c
      JOIN q a ON a.vec_id = c.query_id
      JOIN q b ON b.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM refined
    ) WHERE rank <= {TOP_K}
    """,
)
def ann_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage refine search (the FAISS IndexRefineFlat pattern):
    stage 1 scans the 8x-smaller SQ8 codes for {REFINE_C} coarse
    candidates per query; stage 2 re-scores ONLY those candidates
    against the full-precision vectors and returns the exact-cosine
    top-{TOP_K}. This is how production serves high recall at
    memory-bandwidth prices: the exact vectors are touched for
    {REFINE_C} rows per query instead of the whole corpus, and any
    coarse-stage ranking error inside the candidate set is corrected
    (recall can only match or beat raw SQ8 at equal K — measured in
    ANN_RECALL.json, not asserted).

    Scale: the coarse stage is embedding_sq8_topk's broadcast-queries
    map-only scan; the refine stage joins a queries×{REFINE_C}-row
    candidate list back to the corpus by key (shuffle on vec_id of a
    TINY frame) and re-ranks inside per-query partitions. No stage ever
    materializes all-pairs."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    recon = _sq8_recon(emb)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    coarse_pairs = recon.join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id"), "inner"
    )
    ccos = (
        _dot(F.col("qe"), F.col("r")).cast("double")
        / (
            F.sqrt(_dot(F.col("qe"), F.col("qe")).cast("double"))
            * F.sqrt(_dot(F.col("r"), F.col("r")).cast("double"))
        )
    )
    wc = W.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("neighbor_id").asc())
    coarse = (
        coarse_pairs.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), ccos.alias("ccos")
        )
        .withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= REFINE_C)
        .select("query_id", "neighbor_id")
    )
    qe = emb.select(F.col("vec_id").alias("query_id"), F.col("e").alias("qv"))
    ne = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("e").alias("nv"))
    refined = coarse.join(qe, "query_id").join(ne, "neighbor_id")
    cosine = (
        _dot(F.col("qv"), F.col("nv")).cast("double")
        / (
            F.sqrt(_dot(F.col("qv"), F.col("qv")).cast("double"))
            * F.sqrt(_dot(F.col("nv"), F.col("nv")).cast("double"))
        )
    )
    wr = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        refined.select("query_id", "neighbor_id", cosine.alias("cosine"))
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= TOP_K)
    )


MP_FLIPS = 2  # multi-probe: flip the 2 lowest-|projection| planes per table


def _lsh_query_probes(queries: DataFrame, bits: int) -> DataFrame:
    """(vec_id, e) query rows → (query_id, qe, probe) multi-probe bucket
    rows: per table, the home bucket plus the {2 ** MP_FLIPS - 1}
    perturbations from flipping the {MP_FLIPS} planes with the smallest
    |projection| (the Lv et al. multi-probe insight: a near-zero
    projection means the true neighbors straddle that hyperplane, so the
    adjacent bucket is the next-most-likely home). Ties on |proj| break
    by plane index, so probe sets are deterministic and the DuckDB
    oracle rebuilds them exactly. Same md5-parity planes as
    _lsh_signatures; the per-query work is one tiny GEMM."""
    import hashlib

    import numpy as np
    import pandas as pd  # noqa: F811 — worker-side
    from pyspark.sql import types as T

    def sign(t: int, p: int, d: int) -> int:
        h = hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()
        return 1 if int(h[:15], 16) & 1 else -1

    planes = np.array(
        [
            [sign(t, p, d) for d in range(DIM)]
            for t in range(N_TABLES)
            for p in range(bits)
        ],
        dtype=np.float64,
    )
    n_tables, b, flips = N_TABLES, bits, MP_FLIPS
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("qe", T.ArrayType(T.LongType())),
            T.StructField("probe", T.IntegerType()),
        ]
    )

    def probe(batches):
        bitvals = 1 << np.arange(b, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf["e"]), dtype=np.float64)
            proj = (mat @ planes.T).reshape(len(pdf), n_tables, b)
            home = ((proj > 0) * bitvals[None, None, :]).sum(axis=2) + (
                np.arange(n_tables, dtype=np.int64) << b
            )[None, :]
            ids, qes, probes = [], [], []
            for i in range(len(pdf)):
                for t in range(n_tables):
                    # Flip planes ranked by (|proj|, plane index) — the
                    # deterministic tie-break the oracle mirrors.
                    order = np.lexsort((np.arange(b), np.abs(proj[i, t])))
                    masks = [0]
                    for f in order[:flips]:
                        masks += [m ^ (1 << int(f)) for m in masks]
                    for m in masks:
                        ids.append(int(pdf["vec_id"].iloc[i]))
                        qes.append(pdf["e"].iloc[i])
                        probes.append(int(home[i, t]) ^ m)
            yield pd.DataFrame({"query_id": ids, "qe": qes, "probe": np.array(probes, dtype="int32")})

    return queries.mapInPandas(probe, schema=out_schema)


@register(
    "embedding_multiprobe_lsh",
    f"""
    WITH {_QUANT_CTE},
    {_LSH_BUCKETS_CTE},
    tbuckets AS (
      SELECT vec_id, t,
             t * (CAST(1 AS BIGINT) << (SELECT b FROM nb)) +
             SUM(CASE WHEN proj > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS bucket
      FROM proj GROUP BY vec_id, t
    ),
    qflip AS (
      SELECT vec_id, t, p,
             row_number() OVER (PARTITION BY vec_id, t
                                ORDER BY ABS(proj) ASC, p ASC) AS r
      FROM proj WHERE vec_id < {N_QUERIES}
    ),
    f2 AS (
      SELECT vec_id, t,
             MAX(CASE WHEN r = 1 THEN p END) AS p1,
             MAX(CASE WHEN r = 2 THEN p END) AS p2
      FROM qflip WHERE r <= {MP_FLIPS} GROUP BY vec_id, t
    ),
    probes AS (
      SELECT h.vec_id, u.probe
      FROM tbuckets h
      JOIN f2 f ON f.vec_id = h.vec_id AND f.t = h.t,
      LATERAL (
        SELECT h.bucket AS probe
        UNION ALL SELECT xor(h.bucket, CAST(1 AS BIGINT) << f.p1)
        UNION ALL SELECT xor(h.bucket, CAST(1 AS BIGINT) << f.p2)
        UNION ALL SELECT xor(xor(h.bucket, CAST(1 AS BIGINT) << f.p1),
                             CAST(1 AS BIGINT) << f.p2)
      ) u
      WHERE h.vec_id < {N_QUERIES}
    ),
    cands AS (
      SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM probes p JOIN buckets c ON c.bucket = p.probe AND c.vec_id <> p.vec_id
    ),
    scored AS (
      SELECT cd.query_id, cd.neighbor_id,
             list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) AS cosine
      FROM cands cd
      JOIN q a ON a.vec_id = cd.query_id
      JOIN q b ON b.vec_id = cd.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    """,
)
def embedding_multiprobe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH (Lv et al., VLDB 2007): the recall-per-memory fix
    for hyperplane LSH — instead of adding tables, each query ALSO
    probes the buckets reached by flipping its {MP_FLIPS}
    lowest-|projection| planes per table ({2 ** MP_FLIPS} probes/table
    incl. home). A near-zero projection means true neighbors straddle
    that plane, so those adjacent buckets hold most of the misses;
    recall lifts from embedding_ann_lsh's measured level toward IVF's at
    ZERO index growth (the corpus side is byte-identical to
    embedding_ann_lsh's — one home bucket per table; only the query's
    probe list grows, measured in ANN_RECALL.json).

    Deterministic end to end: integer projections (quantized vectors x
    ±1 md5-parity planes), |proj| ties broken by plane index, XOR bit
    flips — the oracle rebuilds identical probe sets in SQL.

    Scale: probing is a broadcast of queries x {N_TABLES} x
    {2 ** MP_FLIPS} probe rows against the same (table, bucket)-bucketed
    corpus layout; candidate volume rises by at most the probe factor
    while staying O(occupancy) per probe — still linear in N, no new
    corpus pass, no index rebuild."""
    raw = table(spark, sf_dir, "embeddings")
    bits = _lsh_bits(raw.count())
    emb = raw.select("vec_id", _quantize("embedding").alias("e"))
    sigs = _lsh_signatures(emb, bits)
    corpus = sigs.select("vec_id", "e", F.explode("buckets").alias("bucket"))
    probes = _lsh_query_probes(emb.filter(F.col("vec_id") < N_QUERIES), bits)
    cands = (
        corpus.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("probe")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "qe", F.col("vec_id").alias("neighbor_id"), "e")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cosine = (
        _dot(F.col("qe"), F.col("e")).cast("double")
        / (
            F.sqrt(_dot(F.col("qe"), F.col("qe")).cast("double"))
            * F.sqrt(_dot(F.col("e"), F.col("e")).cast("double"))
        )
    )
    scored = cands.select("query_id", "neighbor_id", cosine.alias("cosine"))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


PI_ROUNDS = 2  # fixed power-iteration rounds (deterministic; unrolled oracle)
PI_Y_SHIFT = 1024.0  # post-matvec rescale keeping A^T(Av) inside 2^53
PI_V_SCALE = 1000  # per-round direction renormalization (max-abs -> 1000)


def _pi_ctes() -> str:
    """Unrolled {PI_ROUNDS}-round power-iteration CTE chain (the kmeans
    pattern applied to the spectral family): v0 = all-{PI_V_SCALE}s,
    each round computes y = A·v (per-vector dot), rescales by
    {PI_Y_SHIFT}, z = Aᵀ·y (per-dimension sums), and renormalizes z to
    max-abs {PI_V_SCALE} — every intermediate an exact BIGINT except
    the two correctly-rounded double steps (the /1024 rescale and the
    /max renormalization), which floor identically in both engines."""
    u_lat = f"LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) u"
    parts = [
        f"""y1 AS (
      SELECT vec_id,
             CAST(floor(CAST(SUM(e[u.i]) * {PI_V_SCALE} AS DOUBLE)
                        / {PI_Y_SHIFT}) AS BIGINT) AS yp
      FROM q, {u_lat} GROUP BY vec_id
    ),
    z1 AS (
      SELECT u.i AS dim, CAST(SUM(q.e[u.i] * y1.yp) AS BIGINT) AS z
      FROM q JOIN y1 USING (vec_id), {u_lat} GROUP BY u.i
    ),
    v1 AS (
      SELECT dim, CAST(floor(CAST(z AS DOUBLE)
                             / GREATEST((SELECT MAX(ABS(z)) FROM z1), 1)
                             * {PI_V_SCALE}) AS BIGINT) AS v
      FROM z1
    )"""
    ]
    for t in range(2, PI_ROUNDS + 1):
        parts.append(
            f"""y{t} AS (
      SELECT q.vec_id,
             CAST(floor(CAST(SUM(q.e[v{t - 1}.dim] * v{t - 1}.v) AS DOUBLE)
                        / {PI_Y_SHIFT}) AS BIGINT) AS yp
      FROM q, v{t - 1} GROUP BY q.vec_id
    ),
    z{t} AS (
      SELECT u.i AS dim, CAST(SUM(q.e[u.i] * y{t}.yp) AS BIGINT) AS z
      FROM q JOIN y{t} USING (vec_id), {u_lat} GROUP BY u.i
    ),
    v{t} AS (
      SELECT dim, CAST(floor(CAST(z AS DOUBLE)
                             / GREATEST((SELECT MAX(ABS(z)) FROM z{t}), 1)
                             * {PI_V_SCALE}) AS BIGINT) AS v
      FROM z{t}
    )"""
        )
    return ",\n    ".join(parts)


def _pi_oracle() -> str:
    return f"""
    WITH {_QUANT_CTE},
    {_pi_ctes()}
    SELECT CAST(dim AS INT) AS dim, v AS pc FROM v{PI_ROUNDS}
    """


@register("embedding_power_iteration", _pi_oracle())
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud by {PI_ROUNDS}
    fixed power-iteration rounds on the (uncentered) Gram matrix — the
    spectral member of the iterative-algorithm family (PageRank = power
    iteration on the transition matrix; k-means = alternating
    assignment): v ← renormalize(Aᵀ(A·v)) from a deterministic all-ones
    start. The leading direction is the whitening/PCA primitive an
    embedding pipeline runs before quantization (OPQ's rotation,
    ABTT's "all-but-the-top" debiasing).

    Distributed shape: A·v is a map-only per-vector fold against the
    broadcast 64-literal direction (no shuffle); Aᵀ·y is one
    posexplode + map-side-combined groupBy to {DIM} rows; only the
    {DIM}-row spectrum reaches the driver per round (the kmeans
    pattern). Exactness: products stay integers — |y'| ≤ 2^20-ish after
    the {PI_Y_SHIFT} rescale keeps Σ e·y' inside 2^53 up to ~10⁶
    vectors per exact-arithmetic guarantee (a 100 TB run re-shards the
    rescale, same as the kmeans floor-mean re-quantization); the two
    double steps are single correctly-rounded ops floored on both
    engines."""
    import math

    import pandas as pd
    from pyspark.sql import types as T

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    v = [PI_V_SCALE] * DIM
    for _ in range(PI_ROUNDS):
        vlit = F.array(*[F.lit(int(x)).cast("long") for x in v])
        y = F.aggregate(
            F.zip_with(F.col("e"), vlit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        yp = F.floor(y.cast("double") / F.lit(PI_Y_SHIFT)).cast("long")
        z_rows = (
            emb.select(yp.alias("yp"), F.posexplode("e").alias("pos", "ev"))
            .select((F.col("pos") + 1).alias("dim"), (F.col("ev") * F.col("yp")).alias("t"))
            .groupBy("dim")
            .agg(F.sum("t").cast("bigint").alias("z"))
            .collect()
        )
        z = {r["dim"]: r["z"] for r in z_rows}
        m = max(max(abs(x) for x in z.values()), 1)
        # float()-then-divide mirrors the oracle's CAST(z AS DOUBLE) /
        # CAST(m AS DOUBLE) (round each int first); int/int true division
        # would diverge once |z| exceeds 2^53 — same rule as _gram_iterate.
        v = [math.floor(float(z[d]) / float(m) * PI_V_SCALE) for d in range(1, DIM + 1)]
    out = pd.DataFrame({"dim": list(range(1, DIM + 1)), "pc": v})
    schema = T.StructType(
        [T.StructField("dim", T.IntegerType()), T.StructField("pc", T.LongType())]
    )
    return spark.createDataFrame(out, schema=schema)


def _pc_energy_oracle() -> str:
    u_lat = f"LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) u"
    return f"""
    WITH {_QUANT_CTE},
    {_pi_ctes()},
    proj AS (
      SELECT q.vec_id,
             CAST(floor(CAST(SUM(q.e[v.dim] * v.v) AS DOUBLE)
                        / {PI_Y_SHIFT}) AS BIGINT) AS yp
      FROM q, v{PI_ROUNDS} v GROUP BY q.vec_id
    ),
    vn AS (SELECT CAST(SUM(v * v) AS BIGINT) AS v_norm2 FROM v{PI_ROUNDS}),
    en AS (SELECT CAST(SUM(e[u.i] * e[u.i]) AS BIGINT) AS total_energy
           FROM q, {u_lat}),
    sp AS (SELECT CAST(SUM(yp * yp) AS BIGINT) AS sum_proj2 FROM proj)
    SELECT v_norm2, sum_proj2, total_energy,
           CAST(floor(CAST(sum_proj2 AS DOUBLE) * {PI_Y_SHIFT} * {PI_Y_SHIFT}
                      / v_norm2 / total_energy * 1000000) AS BIGINT)
             AS rayleigh_ppm
    FROM vn, sp, en
    """


@register("pc_energy_ratio", _pc_energy_oracle())
def pc_energy_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rayleigh-quotient evaluation of the power-iteration direction —
    the measurement instrument for embedding_power_iteration (the
    ann_recall_eval pattern applied to the spectral family): the energy
    of the corpus' rescaled projections onto the estimated direction as
    a fraction of total embedding energy, in ppm. A direction that
    captured nothing scores ~1/{DIM} of the energy; the leading
    direction scores its eigenvalue share — this is the "variance
    explained" number a PCA/whitening pipeline reports.

    Exactness: projections reuse the iteration's own integer rescale
    (floor((e·v)/{PI_Y_SHIFT}) — both engines floor the same
    correctly-rounded divide), so yp², |v|², Σ|e|² are all exact
    BIGINTs; the final ratio is a fixed-order chain of correctly-rounded
    double ops floored at ppm scale. Scale: one map-only projection
    pass + three 1-row aggregates; the direction itself is the 64-row
    driver spectrum the iteration already maintains."""
    import math

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    v_rows = embedding_power_iteration(spark, sf_dir).collect()
    v = [r["pc"] for r in sorted(v_rows, key=lambda r: r["dim"])]
    v_norm2 = sum(x * x for x in v)
    vlit = F.array(*[F.lit(int(x)).cast("long") for x in v])
    dot = F.aggregate(
        F.zip_with(F.col("e"), vlit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    yp = F.floor(dot.cast("double") / F.lit(PI_Y_SHIFT)).cast("long")
    e2 = F.aggregate(
        F.zip_with(F.col("e"), F.col("e"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    agg = emb.select(yp.alias("yp"), e2.alias("e2")).agg(
        F.sum(F.col("yp") * F.col("yp")).cast("bigint").alias("sum_proj2"),
        F.sum("e2").cast("bigint").alias("total_energy"),
    )
    return agg.select(
        F.lit(int(v_norm2)).cast("bigint").alias("v_norm2"),
        "sum_proj2",
        "total_energy",
        F.floor(
            F.col("sum_proj2").cast("double")
            * F.lit(PI_Y_SHIFT)
            * F.lit(PI_Y_SHIFT)
            / F.lit(int(v_norm2))
            / F.col("total_energy")
            * 1000000
        )
        .cast("bigint")
        .alias("rayleigh_ppm"),
    )


def _gram_pc_oracle() -> str:
    """Gram-matrix power-iteration oracle: G = AᵀA accumulated as exact
    BIGINTs (the double-lateral pair expansion), then {PI_ROUNDS}
    iteration rounds where z = G·v is EXACT integer arithmetic (HUGEINT
    guard on the product sum) and only the renormalization divides —
    CAST-to-DOUBLE of identical integers rounds identically in both
    engines regardless of magnitude."""
    u_lat_i = f"LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) ui"
    u_lat_j = f"LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) uj"
    parts = [
        f"""gram AS (
      SELECT ui.i AS gi, uj.i AS gj, CAST(SUM(e[ui.i] * e[uj.i]) AS BIGINT) AS g
      FROM q, {u_lat_i}, {u_lat_j} GROUP BY ui.i, uj.i
    ),
    v0 AS (SELECT u.i AS dim, CAST({PI_V_SCALE} AS BIGINT) AS v
           FROM LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) u)"""
    ]
    for t in range(1, PI_ROUNDS + 1):
        parts.append(
            f"""z{t} AS (
      SELECT gi AS dim, SUM(CAST(g AS HUGEINT) * v{t - 1}.v) AS z
      FROM gram JOIN v{t - 1} ON v{t - 1}.dim = gj GROUP BY gi
    ),
    v{t} AS (
      SELECT dim, CAST(floor(CAST(z AS DOUBLE)
                             / CAST(GREATEST((SELECT MAX(ABS(z)) FROM z{t}), 1)
                                    AS DOUBLE)
                             * {PI_V_SCALE}) AS BIGINT) AS v
      FROM z{t}
    )"""
        )
    chained = ",\n    ".join(parts)
    return f"""
    WITH {_QUANT_CTE},
    {chained}
    SELECT CAST(dim AS INT) AS dim, v AS pc FROM v{PI_ROUNDS}
    """


def _gram_partials(emb: DataFrame) -> DataFrame:
    """Per-Arrow-batch partial Gram matrices: (gi, gj, g) with g the
    batch's Σ e_i·e_j — ONE float64 GEMM per batch (exact: every
    product ≤ 1e8 and every batch partial ≤ ~1e12, far inside 2^53),
    emitted as {DIM}²-row partials for a map-side-combined global sum.
    The mergeable-moment pattern: second moments are additive over any
    row partition, which is what makes both the one-pass batch plan and
    the epoch-partitioned streaming store exact."""
    import numpy as np
    from pyspark.sql import types as T

    g_schema = T.StructType(
        [
            T.StructField("gi", T.IntegerType()),
            T.StructField("gj", T.IntegerType()),
            T.StructField("g", T.LongType()),
        ]
    )

    def partial(batches):
        import numpy as np
        import pandas as pd

        idx = np.arange(1, DIM + 1)
        gi = np.repeat(idx, DIM)
        gj = np.tile(idx, DIM)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf["e"]), dtype=np.float64)
            gram = mat.T @ mat
            yield pd.DataFrame(
                {"gi": gi, "gj": gj, "g": gram.reshape(-1).astype(np.int64)}
            )

    return (
        emb.mapInPandas(partial, schema=g_schema)
        .groupBy("gi", "gj")
        .agg(F.sum("g").cast("bigint").alias("g"))
    )


def _gram_iterate(g_rows) -> list[int]:
    """{PI_ROUNDS} exact power-iteration rounds on a collected Gram
    matrix: z = G·v in arbitrary-precision Python ints (no 2^53 window
    to manage — the Spark side never overflows at any corpus size);
    renormalization uses float(z)/float(m) explicitly so the two
    separate IEEE roundings match the oracle's CAST-then-divide."""
    import math

    G = {(r["gi"], r["gj"]): r["g"] for r in g_rows}
    v = [PI_V_SCALE] * DIM
    for _ in range(PI_ROUNDS):
        z = [
            sum(G.get((i, j), 0) * v[j - 1] for j in range(1, DIM + 1))
            for i in range(1, DIM + 1)
        ]
        m = max(max(abs(x) for x in z), 1)
        v = [math.floor(float(x) / float(m) * PI_V_SCALE) for x in z]
    return v


@register("gram_power_iteration", _gram_pc_oracle())
def gram_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction via the GRAM MATRIX (one-pass form of
    embedding_power_iteration): accumulate G = AᵀA once — a {DIM}²-cell
    mergeable moment matrix, one GEMM per Arrow batch + one
    map-side-combined sum — then iterate v ← renorm(G·v) entirely on
    the driver in exact integer arithmetic. Compared to the per-round
    matvec form, the corpus is scanned ONCE regardless of round count,
    and the iteration itself has no rescale-induced quantization (G·v
    is exact; only the per-round renormalization rounds).

    Scale: the moment matrix is additive over any row partition — the
    same property the streaming store (stream_incremental_gram_pc)
    exploits; driver state is {DIM}² cells. Exactness: batch partials
    stay inside the float64-exact window; the global sum is int64 on
    the Spark side and HUGEINT-guarded in the oracle; Python iterates
    in arbitrary precision with float()/float() renormalization
    mirroring the oracle's CAST-then-divide."""
    import pandas as pd
    from pyspark.sql import types as T

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    v = _gram_iterate(_gram_partials(emb).collect())
    out = pd.DataFrame({"dim": list(range(1, DIM + 1)), "pc": v})
    schema = T.StructType(
        [T.StructField("dim", T.IntegerType()), T.StructField("pc", T.LongType())]
    )
    return spark.createDataFrame(out, schema=schema)


GRAM_DRIFT_STEPS = 4  # cumulative id-prefix checkpoints


def _drift_ctes() -> tuple[list[str], str]:
    """The spectral-drift CTE machinery (segment partials → cumulative-
    prefix power iterations → consecutive-direction cosine UNION),
    shared by _gram_drift_oracle (which SELECTs the series) and
    _ivf_drift_refresh_oracle (which turns the series into the
    refresh-epoch scalar). Returns (cte_parts, union_select)."""
    E = GRAM_DRIFT_STEPS
    u_lat_i = f"LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) ui"
    u_lat_j = f"LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) uj"
    parts = [
        # Width from the ID RANGE (max+1), not COUNT: identical on the
        # dense driver fixtures, but on sparse/shifted id spaces the
        # count-based width would leave ids beyond segment E-1 outside
        # every checkpoint (r13: the 10x replica-shifted fixture).
        f"bnd AS (SELECT ceil((MAX(vec_id) + 1) / {E}.0) AS w FROM q)",
        f"""gseg AS (
      SELECT CAST(floor(q.vec_id / b.w) AS INT) AS seg, ui.i AS gi, uj.i AS gj,
             CAST(SUM(e[ui.i] * e[uj.i]) AS BIGINT) AS g
      FROM q, bnd b, {u_lat_i}, {u_lat_j} GROUP BY 1, 2, 3
    )""",
    ]
    for k in range(1, E + 1):
        parts.append(
            f"""g{k} AS (
      SELECT gi, gj, CAST(SUM(g) AS BIGINT) AS g FROM gseg
      WHERE seg < {k} GROUP BY gi, gj
    ),
    k{k}v0 AS (SELECT u.i AS dim, CAST({PI_V_SCALE} AS BIGINT) AS v
               FROM LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) u)"""
        )
        for t in range(1, PI_ROUNDS + 1):
            parts.append(
                f"""k{k}z{t} AS (
      SELECT gi AS dim, SUM(CAST(g AS HUGEINT) * p.v) AS z
      FROM g{k} JOIN k{k}v{t - 1} p ON p.dim = gj GROUP BY gi
    ),
    k{k}v{t} AS (
      SELECT dim, CAST(floor(CAST(z AS DOUBLE)
                             / CAST(GREATEST((SELECT MAX(ABS(z)) FROM k{k}z{t}), 1)
                                    AS DOUBLE)
                             * {PI_V_SCALE}) AS BIGINT) AS v
      FROM k{k}z{t}
    )"""
            )
    selects = []
    for k in range(2, E + 1):
        selects.append(
            f"""SELECT CAST({k} AS INT) AS step,
             CAST(floor(
               CAST((SELECT SUM(a.v * b.v) FROM k{k - 1}v{PI_ROUNDS} a
                     JOIN k{k}v{PI_ROUNDS} b ON b.dim = a.dim) AS DOUBLE)
               / (sqrt(CAST((SELECT SUM(v * v) FROM k{k - 1}v{PI_ROUNDS}) AS DOUBLE))
                  * sqrt(CAST((SELECT SUM(v * v) FROM k{k}v{PI_ROUNDS}) AS DOUBLE)))
               * 1000000) AS BIGINT) AS cos_q"""
        )
    union = "\n    UNION ALL\n    ".join(selects)
    return parts, union


def _gram_drift_oracle() -> str:
    """Unrolled oracle for the spectral-drift instrument: per-segment
    Gram partials (one pass), then for each cumulative prefix k the
    exact {PI_ROUNDS}-round iteration, then consecutive-direction
    cosines — every intermediate exact BIGINT except the renormalize
    and final-cosine double chains (fixed order, both engines)."""
    parts, union = _drift_ctes()
    chained = ",\n    ".join(parts)
    return f"""
    WITH {_QUANT_CTE},
    {chained}
    {union}
    """


# Drift-triggered IVF refresh threshold (micro-unit cosine): retrain
# when the consecutive-direction cosine drops below 0.90. Chosen from
# the measured fixtures (r14): sf0.001/sf0.01 read step-2 cosines of
# 0.8309/0.8620 → refresh fires at step 2 (the same epoch the fixed
# INC_IVF_REFRESH_AT variant hardcodes); sf0.1 reads 0.9170 minimum →
# no refresh — the trigger is genuinely data-derived, not a constant
# in disguise.
INC_IVF_DRIFT_COS_Q = 900000


def _ivf_drift_refresh_oracle() -> str:
    """Oracle for the DRIFT-TRIGGERED centroid refresh
    (stream_incremental_ivf_drift_refresh): the drift CTE machinery
    computes the consecutive-direction cosine series over cumulative
    id-segment prefixes; the refresh step is the FIRST step whose
    cosine falls below {INC_IVF_DRIFT_COS_Q} µ-units (COALESCE to 1 =
    no refresh, deploy geometry stands); the quantizer then retrains on
    the id prefix ingested through that step (RANGE-based width — the
    drift series' own segmentation) and the whole corpus is assigned
    against it — the final state of the re-bucketed store. Same
    probe/rescore epilogue as _ivf_oracle; training, the drift series,
    the trigger comparison, and the probe are ALL in one hash gate."""
    assert IVF_TRAIN_ITERS == 1, "unroll more rounds in _ivf_drift_refresh_oracle"
    u = IVF_TRAIN_ITERS
    parts, union = _drift_ctes()
    parts = parts + [
        f"""drift AS (
      {union}
    ),
    rsel AS (
      SELECT COALESCE(MIN(step), 1) AS r FROM drift
      WHERE cos_q < {INC_IVF_DRIFT_COS_Q}
    ),
    trainb AS (SELECT CAST(r.r * b.w AS BIGINT) AS tb FROM rsel r, bnd b),
    qp AS (SELECT q.* FROM q, trainb WHERE q.vec_id < trainb.tb),
    cent0 AS (SELECT CAST(vec_id AS INT) AS cell, e AS s
              FROM qp WHERE vec_id < {IVF_CELLS}),
    score0 AS (
      SELECT qp.vec_id, qp.e, c.cell,
             list_dot_product(CAST(qp.e AS DOUBLE[]), CAST(c.s AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(qp.e AS DOUBLE[]), CAST(qp.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(c.s AS DOUBLE[]), CAST(c.s AS DOUBLE[])))) AS cos
      FROM qp, cent0 c
    ),
    assign0 AS (
      SELECT vec_id, e, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, cell ASC) AS rk
        FROM score0
      ) WHERE rk = 1
    ),
    cent{u} AS (
      SELECT cell, list(m ORDER BY dim) AS s FROM (
        SELECT cell, u.i AS dim,
               CAST(floor(CAST(SUM(e[u.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
        FROM assign0, LATERAL (SELECT unnest(generate_series(1, {DIM})) AS i) u
        GROUP BY cell, u.i
      ) GROUP BY cell
    ),
    scoref AS (
      SELECT q.vec_id, q.e, c.cell,
             list_dot_product(CAST(q.e AS DOUBLE[]), CAST(c.s AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(q.e AS DOUBLE[]), CAST(q.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(c.s AS DOUBLE[]), CAST(c.s AS DOUBLE[])))) AS cos
      FROM q, cent{u} c
    ),
    assignf AS (
      SELECT vec_id, e, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, cell ASC) AS rk
        FROM scoref
      ) WHERE rk = 1
    ),
    probe AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cell ASC) AS rk
        FROM scoref WHERE vec_id < {N_QUERIES}
      ) WHERE rk <= {IVF_NPROBE}
    ),
    cands AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probe p JOIN assignf a ON a.cell = p.cell AND a.vec_id <> p.query_id
    ),
    rescored AS (
      SELECT cd.query_id, cd.neighbor_id,
             list_dot_product(CAST(a.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(a.e AS DOUBLE[]), CAST(a.e AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(b.e AS DOUBLE[]), CAST(b.e AS DOUBLE[])))) AS cosine
      FROM cands cd
      JOIN q a ON a.vec_id = cd.query_id
      JOIN q b ON b.vec_id = cd.neighbor_id
    )"""
    ]
    chained = ",\n    ".join(parts)
    return f"""
    WITH {_QUANT_CTE},
    {chained}
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM rescored
    ) WHERE rank <= {TOP_K}
    """


@register("gram_direction_drift", _gram_drift_oracle())
def gram_direction_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral drift instrument — the PSI/KS drift-monitor idea
    applied to the principal direction: at {GRAM_DRIFT_STEPS}
    cumulative id-prefix checkpoints, re-derive the top direction from
    the moment matrix and report the cosine between consecutive
    checkpoints' directions (cos_q → 10⁶ means the spectral geometry
    is stable; a drop tells an embedding pipeline its whitening/OPQ
    rotation has gone stale — the signal that triggers
    stream_incremental_ivf_refresh's retrain in production).

    Scale: ONE corpus pass — per-SEGMENT partial Grams (the same GEMM
    as gram_power_iteration, grouped by the segment key), cumulative
    prefix sums and all {GRAM_DRIFT_STEPS} iterations on the driver
    over {DIM}²-cell state; the corpus is never rescanned per
    checkpoint. All driver math exact integers with the established
    float()/float() renormalization."""
    import math

    import pandas as pd
    from pyspark.sql import types as T

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    # Width from the id RANGE, not the count — see _gram_drift_oracle.
    mx = emb.agg(F.max("vec_id").alias("m")).collect()[0]["m"]
    w = math.ceil((int(mx) + 1) / GRAM_DRIFT_STEPS)
    seg = F.floor(F.col("vec_id") / w).cast("int").alias("seg")

    import numpy as np
    from pyspark.sql import types as T2

    g_schema = T2.StructType(
        [
            T2.StructField("seg", T2.IntegerType()),
            T2.StructField("gi", T2.IntegerType()),
            T2.StructField("gj", T2.IntegerType()),
            T2.StructField("g", T2.LongType()),
        ]
    )

    def partial(batches):
        import numpy as np
        import pandas as pd

        idx = np.arange(1, DIM + 1)
        gi = np.repeat(idx, DIM)
        gj = np.tile(idx, DIM)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = []
            for s, grp in pdf.groupby("seg"):
                mat = np.array(list(grp["e"]), dtype=np.float64)
                gram = mat.T @ mat
                out.append(
                    pd.DataFrame(
                        {
                            "seg": np.full(DIM * DIM, s, dtype=np.int32),
                            "gi": gi,
                            "gj": gj,
                            "g": gram.reshape(-1).astype(np.int64),
                        }
                    )
                )
            if out:
                yield pd.concat(out)

    gseg = (
        emb.select(seg, "e")
        .mapInPandas(partial, schema=g_schema)
        .groupBy("seg", "gi", "gj")
        .agg(F.sum("g").cast("bigint").alias("g"))
        .collect()
    )
    by_seg: dict[int, dict] = {}
    for r in gseg:
        by_seg.setdefault(r["seg"], {})[(r["gi"], r["gj"])] = r["g"]
    return _drift_series(spark, by_seg, GRAM_DRIFT_STEPS)


def _drift_series(
    spark: SparkSession, by_seg: dict[int, dict], steps: int
) -> DataFrame:
    """Driver tail shared by gram_direction_drift (batch, per-segment
    partials from one corpus pass) and stream_gram_drift_monitor (the
    store consumer, per-EPOCH partials read back from the moment
    store): cumulative-prefix Gram sums per step, the exact-integer
    power iteration per prefix, then the cosine between consecutive
    directions quantized to micro-units with the established
    float()/float() CAST-then-divide mirroring. All state is
    DIM² × steps cells — bounded however large the corpus."""
    import math

    import pandas as pd
    from pyspark.sql import types as T

    dirs = []
    cum: dict = {}
    for k in range(1, steps + 1):
        for key, val in by_seg.get(k - 1, {}).items():
            cum[key] = cum.get(key, 0) + val
        rows = [{"gi": i, "gj": j, "g": g} for (i, j), g in cum.items()]
        dirs.append(_gram_iterate(rows))
    step_ids, cos_qs = [], []
    for k in range(2, steps + 1):
        a, b = dirs[k - 2], dirs[k - 1]
        d = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a)
        nb = sum(x * x for x in b)
        cos_q = math.floor(
            float(d) / (math.sqrt(float(na)) * math.sqrt(float(nb))) * 1000000
        )
        step_ids.append(k)
        cos_qs.append(cos_q)
    out = pd.DataFrame({"step": step_ids, "cos_q": cos_qs})
    schema = T.StructType(
        [T.StructField("step", T.IntegerType()), T.StructField("cos_q", T.LongType())]
    )
    return spark.createDataFrame(out, schema=schema)


# ---- Graph ANN (beam search over a kNN graph) -----------------------------
# The one index class the ANN family lacked: graph TRAVERSAL
# (HNSW/NSG-style). Build: a kNN graph from IVF-cell-local exact
# neighborhoods (the production pattern — candidate generation bounded
# by the quantizer, never all-pairs); search: fixed-round best-first
# beam expansion from a global entry point.
GANN_DEG = 8     # out-degree per node (bucket-local top-G)
GANN_BEAM = 12   # beam width per query (> TOP_K)
GANN_ROUNDS = 4  # fixed expansion rounds (unrolled in the oracle)
# Each node joins the buckets of its GANN_BUILD_PROBE nearest cells when
# the graph is built. Single-cell buckets leave the kNN graph
# DISCONNECTED across cells (measured: recall 0.10 — the beam could
# never leave the entry's component); multi-probe buckets create the
# cross-cell edges a navigable graph needs, exactly how a production
# build draws candidates from several coarse cells.
GANN_BUILD_PROBE = IVF_NPROBE


def _gann_cos_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product(CAST({a}.e AS DOUBLE[]), CAST({b}.e AS DOUBLE[])) /"
        f" (sqrt(list_dot_product(CAST({a}.e AS DOUBLE[]), CAST({a}.e AS DOUBLE[]))) *"
        f" sqrt(list_dot_product(CAST({b}.e AS DOUBLE[]), CAST({b}.e AS DOUBLE[]))))"
    )


def _gann_oracle() -> str:
    u = IVF_TRAIN_ITERS
    parts = [
        f"""passign AS (
      SELECT vec_id, e, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, cell ASC) AS rk
        FROM score{u}
      ) WHERE rk <= {GANN_BUILD_PROBE}
    ),
    pairsg AS (
      SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
             {_gann_cos_sql("a", "b")} AS cos
      FROM passign a JOIN passign b
        ON a.cell = b.cell AND a.vec_id <> b.vec_id
    ),
    knn AS (
      SELECT src, dst FROM (
        SELECT *, row_number() OVER (PARTITION BY src
                                     ORDER BY cos DESC, dst ASC) AS rk
        FROM pairsg
      ) WHERE rk <= {GANN_DEG}
    ),
    graphe AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM knn UNION ALL SELECT dst, src FROM knn
      )
    ),
    f0 AS (
      SELECT vec_id AS query_id, (SELECT MIN(vec_id) FROM q) AS node
      FROM q WHERE vec_id < {N_QUERIES}
    )"""
    ]
    for t in range(1, GANN_ROUNDS + 1):
        parts.append(
            f"""cand{t} AS (
      SELECT query_id, node FROM f{t - 1}
      UNION
      SELECT f.query_id, e.dst AS node
      FROM f{t - 1} f JOIN graphe e ON e.src = f.node
    ),
    sc{t} AS (
      SELECT c.query_id, c.node, {_gann_cos_sql("a", "b")} AS cos
      FROM cand{t} c
      JOIN q a ON a.vec_id = c.query_id
      JOIN q b ON b.vec_id = c.node
    ),
    f{t} AS (
      SELECT query_id, node, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, node ASC) AS rk
        FROM sc{t}
      ) WHERE rk <= {GANN_BEAM}
    )"""
        )
    chained = ",\n    ".join(_kmeans_ctes(u + 1) + parts)
    return f"""
    WITH {_QUANT_CTE},
    {chained}
    SELECT query_id, node AS neighbor_id, cos AS cosine,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, node ASC) AS rank
      FROM f{GANN_ROUNDS} WHERE node <> query_id
    ) WHERE rank <= {TOP_K}
    """


def _probe_assign(emb: DataFrame, cent_ids, cent_mat, nprobe: int) -> DataFrame:
    """(vec_id, e) → (vec_id, e, cell) MULTI-assignment: each vector
    joins its top-``nprobe`` nearest cells (cos DESC, cell ASC — the
    oracle's probe rank order; stable argsort over ascending cell ids
    reproduces the tiebreak). Map-only, one GEMM per Arrow batch."""
    import numpy as np
    from pyspark.sql import types as T

    spark = emb.sparkSession
    c_norms = np.sqrt((cent_mat * cent_mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((np.asarray(cent_ids), cent_mat, c_norms))

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("e", T.ArrayType(T.LongType())),
            T.StructField("cell", T.IntegerType()),
        ]
    )

    def assign(batches):
        import numpy as np
        import pandas as pd

        ids, c_mat, cn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array(list(pdf["e"]), dtype=np.float64)
            norms = np.sqrt((mat * mat).sum(axis=1))
            cos = (mat @ c_mat.T) / (norms[:, None] * cn[None, :])
            # ids are ascending, so a stable sort on -cos breaks cosine
            # ties toward the lower cell id.
            order = np.argsort(-cos, axis=1, kind="stable")[:, :nprobe]
            k = order.shape[1]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), k),
                    "e": [e for e in pdf["e"] for _ in range(k)],
                    "cell": ids[order].reshape(-1).astype("int32"),
                }
            )

    return emb.mapInPandas(assign, schema=schema)


def _gann_edges(probed: DataFrame) -> DataFrame:
    """Multi-probed (vec_id, e, cell) → symmetrized top-{GANN_DEG} kNN
    edges (src, dst). Per-BUCKET exact GEMM inside applyInPandas (the
    candidate set is a probed cell's membership, bounded by occupancy,
    never the corpus); per-bucket top-G pre-prunes losslessly (a pair
    in the global per-src top-G is in its bucket's top-G, since the
    bucket candidates are a subset); buckets then dedupe and a per-src
    rank window (node grain, ≤ nprobe·G rows per src) picks the final
    out-edges. Ties break (cos DESC, dst ASC) exactly as the oracle."""
    from pyspark.sql import types as T
    from pyspark.sql.window import Window as W

    schema = T.StructType(
        [
            T.StructField("src", T.LongType()),
            T.StructField("dst", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def knn_bucket(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"src": pd.Series(dtype="int64"),
                 "dst": pd.Series(dtype="int64"),
                 "cos": pd.Series(dtype="float64")}
            )
        ids = pdf["vec_id"].to_numpy()
        mat = np.array(list(pdf["e"]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        cos = (mat @ mat.T) / (norms[:, None] * norms[None, :])
        # r18 (guide §4.2): one whole-matrix lexsort replaces the
        # per-row Python loop + list appends — identical keys
        # (cos DESC, dst ASC; self masked to -inf sorts last, and
        # k <= n-1 keeps it out of every row's top-k).
        np.fill_diagonal(cos, -np.inf)
        k = min(GANN_DEG, n - 1)
        order = np.lexsort(
            (np.broadcast_to(ids, cos.shape), -cos), axis=-1
        )[:, :k]
        return pd.DataFrame(
            {
                "src": np.repeat(ids, k),
                "dst": ids[order].ravel(),
                "cos": np.take_along_axis(cos, order, axis=1).ravel(),
            }
        )

    cands = (
        probed.groupBy("cell")
        .applyInPandas(knn_bucket, schema=schema)
        .dropDuplicates(["src", "dst"])
    )
    w = W.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst").asc())
    knn = (
        cands.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= GANN_DEG)
        .select("src", "dst")
    )
    return knn.unionByName(
        knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"])


def _gann_pair_scores(cands: DataFrame, emb: DataFrame) -> DataFrame:
    """(query_id, node) + embeddings → + cosine, scored row-wise in one
    vectorized pandas pass (fixed-order float64 dots over exact-int
    components — identical to the oracle's list_dot_product chain)."""
    from pyspark.sql import types as T

    qe = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    ne = emb.select(F.col("vec_id").alias("node"), F.col("e").alias("ne"))
    # The candidate frame is beam x queries rows — broadcast IT against
    # the corpus-sided embedding lookup, never the reverse (ne is the
    # corpus; at scale this join must be a broadcast-hash probe into the
    # big side's scan, not a shuffle of the corpus per beam round).
    joined = ne.join(
        F.broadcast(cands.join(F.broadcast(qe), "query_id")), "node"
    )

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("node", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.array(list(pdf["qe"]), dtype=np.float64)
            b = np.array(list(pdf["ne"]), dtype=np.float64)
            dots = np.einsum("ij,ij->i", a, b)
            na = np.sqrt(np.einsum("ij,ij->i", a, a))
            nb = np.sqrt(np.einsum("ij,ij->i", b, b))
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "node": pdf["node"],
                    "cos": dots / (na * nb),
                }
            )

    return joined.mapInPandas(score, schema=schema)


@register("embedding_graph_ann_topk", _gann_oracle())
def embedding_graph_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH-TRAVERSAL ANN (HNSW/NSG family) — the index class the
    quantization entries (LSH/IVF/PQ/OPQ/SQ8) don't cover: a kNN GRAPH
    is built offline (exact top-{GANN_DEG} neighborhoods drawn from
    MULTI-PROBED quantizer buckets — each node joins its
    {GANN_BUILD_PROBE} nearest cells, which is both what bounds the
    candidate set and what makes the graph NAVIGABLE across cells (the
    single-cell build measured recall 0.10: disconnected components) —
    then symmetrized), and each query runs {GANN_ROUNDS} fixed rounds of
    best-first BEAM expansion from a global entry point (the minimum
    vec_id): frontier ∪ its out-neighbors, scored, top-{GANN_BEAM}
    kept. The query vector itself may ride the frontier as a perfect
    hub; it is excluded from the final top-{TOP_K}. Fixed rounds make
    the whole search an unrollable dataflow — the oracle chains the
    quantizer training, the graph build, and all three expansions, so
    training, graph, traversal, and ranking are ALL hash-gated.

    Scale: the build is per-cell GEMM (applyInPandas over quantizer
    cells — the occupancy the Lloyd round balances is exactly what
    bounds it); each search round joins the edge list against a
    BROADCAST frontier (beam × queries rows) and ranks per query over
    ≤ beam·(1+degree) candidates — state per query is the beam, never
    the corpus. Per-pair scoring is one vectorized row-wise GEMM pass
    (exact float64 over quantized ints — the established parity rule).
    Recall at this geometry is measured, not asserted (ANN_RECALL)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    edges = _gann_base_edges(spark, sf_dir)
    return _gann_search(emb, edges)


# Base-layer kNN graph memo, per (session, corpus) — r18: the flat and
# hierarchical graph-ANN queries build the IDENTICAL base graph (same
# corpus, same trained quantizer, same multi-probe kNN rule); production
# builds the graph index offline once and serves every search from it.
# The memoized frame is the localCheckpointed symmetrized edge list the
# queries checkpointed anyway (so bench.py's clearCache leaves it
# intact); both searches still run their own beam rounds from parquet.
def _gann_base_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        emb = table(spark, sf_dir, "embeddings").select(
            "vec_id", _quantize("embedding").alias("e")
        )
        ids, cent = _trained_centroids(spark, sf_dir, IVF_TRAIN_ITERS)
        return _gann_edges(
            _probe_assign(emb, ids, cent, GANN_BUILD_PROBE)
        ).localCheckpoint(eager=True)

    return memo(spark, "gann_edges", (sf_dir,), build)


def _gann_search(emb: DataFrame, edges: DataFrame) -> DataFrame:
    """Flat beam-search tail shared by embedding_graph_ann_topk (edges
    built in-query) and stream_incremental_gann (edges resolved from
    the epoch-maintained candidate store): entry = the global min
    vec_id, {GANN_ROUNDS} rounds of frontier ∪ out-neighbors → score →
    top-{GANN_BEAM}, then the final top-{TOP_K} excluding the query
    vector itself. Factored so the streaming consumer provably runs
    the batch query's own search over its maintained graph."""
    from pyspark.sql.window import Window as W

    entry = emb.agg(F.min("vec_id").alias("m")).collect()[0]["m"]
    frontier = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"))
        .withColumn("node", F.lit(int(entry)).cast("bigint"))
    )
    _, scored = _gann_beam_rounds(frontier, edges, emb, GANN_ROUNDS, GANN_BEAM)
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("node").asc())
    final = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= GANN_BEAM
    )
    return (
        final.filter(F.col("node") != F.col("query_id"))
        .withColumn(
            "rank",
            F.row_number()
            .over(
                W.partitionBy("query_id").orderBy(
                    F.col("cos").desc(), F.col("node").asc()
                )
            )
            .cast("int"),
        )
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("node").alias("neighbor_id"),
            F.col("cos").alias("cosine"),
            "rank",
        )
    )


# ---- Hierarchical graph ANN (HNSW-style layered entry) --------------------
# The flat beam (embedding_graph_ann_topk) enters at the global min
# vec_id and spends part of its 4 rounds just covering the distance
# from that fixed entry to each query's neighborhood. The HNSW remedy
# is a LAYER hierarchy: a sparse upper graph (every {GANN_UPPER_MOD}th
# node, same multi-probe edge rule) is searched first with a narrow
# beam, and its per-query result seeds the base-layer beam — so the
# base search starts near the answer and needs fewer rounds.
GANN_UPPER_MOD = 4     # upper layer = vec_id % MOD == 0 (1/MOD of nodes)
# MOD=4 measured recall 0.96 at 2510 scored pairs vs the flat build's
# 0.94 at 3015 (sf0.01); the sparser MOD=8 upper layer read 0.90 —
# too-sparse upper graphs hand the base beam a worse seed than the
# extra upper nodes cost (sweep recorded in ROADMAP r14).
GANN_UPPER_BEAM = 4    # narrow upper-layer beam
GANN_UPPER_ROUNDS = 2  # upper-layer expansion rounds
GANN_SEEDS = 2         # upper results seeding the base-layer frontier
GANN_HIER_ROUNDS = 3   # base rounds (flat needs {GANN_ROUNDS} from a cold entry)


def _gann_graph_ctes(prefix: str, src_cte: str) -> str:
    """The kNN-graph CTE triple (pairs → per-src top-{GANN_DEG} →
    symmetrize) over a multi-probed assignment CTE — shared verbatim by
    the base layer (src = passign) and the upper layer (src = the
    upper-node restriction of passign), so both layers' builds are
    provably the same rule."""
    return f"""{prefix}pairs AS (
      SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
             {_gann_cos_sql("a", "b")} AS cos
      FROM {src_cte} a JOIN {src_cte} b
        ON a.cell = b.cell AND a.vec_id <> b.vec_id
    ),
    {prefix}knn AS (
      SELECT src, dst FROM (
        SELECT *, row_number() OVER (PARTITION BY src
                                     ORDER BY cos DESC, dst ASC) AS rk
        FROM {prefix}pairs
      ) WHERE rk <= {GANN_DEG}
    ),
    {prefix}graph AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM {prefix}knn
        UNION ALL SELECT dst, src FROM {prefix}knn
      )
    )"""


def _gann_beam_ctes(
    prefix: str, graph: str, f0: str, rounds: int, beam: int
) -> list[str]:
    """Unrolled beam-expansion CTE rounds (frontier ∪ out-neighbors →
    score → top-``beam``), shared by the upper- and base-layer searches
    of the hierarchical oracle; mirrors the flat oracle's loop."""
    parts = []
    for t in range(1, rounds + 1):
        prev = f0 if t == 1 else f"{prefix}f{t - 1}"
        parts.append(
            f"""{prefix}cand{t} AS (
      SELECT query_id, node FROM {prev}
      UNION
      SELECT f.query_id, e.dst AS node
      FROM {prev} f JOIN {graph} e ON e.src = f.node
    ),
    {prefix}sc{t} AS (
      SELECT c.query_id, c.node, {_gann_cos_sql("a", "b")} AS cos
      FROM {prefix}cand{t} c
      JOIN q a ON a.vec_id = c.query_id
      JOIN q b ON b.vec_id = c.node
    ),
    {prefix}f{t} AS (
      SELECT query_id, node, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, node ASC) AS rk
        FROM {prefix}sc{t}
      ) WHERE rk <= {beam}
    )"""
        )
    return parts


def _gann_hier_oracle() -> str:
    u = IVF_TRAIN_ITERS
    parts = [
        f"""passign AS (
      SELECT vec_id, e, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, cell ASC) AS rk
        FROM score{u}
      ) WHERE rk <= {GANN_BUILD_PROBE}
    ),
    upassign AS (
      SELECT * FROM passign WHERE vec_id % {GANN_UPPER_MOD} = 0
    ),
    {_gann_graph_ctes("b", "passign")},
    {_gann_graph_ctes("u", "upassign")},
    uf0 AS (
      SELECT vec_id AS query_id,
             (SELECT MIN(vec_id) FROM q
              WHERE vec_id % {GANN_UPPER_MOD} = 0) AS node
      FROM q WHERE vec_id < {N_QUERIES}
    )"""
    ]
    parts += _gann_beam_ctes(
        "u", "ugraph", "uf0", GANN_UPPER_ROUNDS, GANN_UPPER_BEAM
    )
    parts.append(
        f"""bf0 AS (
      SELECT query_id, node FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, node ASC) AS rk
        FROM uf{GANN_UPPER_ROUNDS}
      ) WHERE rk <= {GANN_SEEDS}
    )"""
    )
    parts += _gann_beam_ctes(
        "b", "bgraph", "bf0", GANN_HIER_ROUNDS, GANN_BEAM
    )
    chained = ",\n    ".join(_kmeans_ctes(u + 1) + parts)
    return f"""
    WITH {_QUANT_CTE},
    {chained}
    SELECT query_id, node AS neighbor_id, cos AS cosine,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, node ASC) AS rank
      FROM bf{GANN_HIER_ROUNDS} WHERE node <> query_id
    ) WHERE rank <= {TOP_K}
    """


def _gann_beam_rounds(
    frontier: DataFrame, edges: DataFrame, emb: DataFrame, rounds: int, beam: int
):
    """Fixed-round best-first beam expansion shared by both layers of
    the hierarchical search (and shape-identical to the flat query's
    inline loop): frontier ∪ out-neighbors → vectorized pair scoring →
    per-query top-``beam``. Each round joins the edge list against the
    BROADCAST frontier (beam × queries rows) — the corpus side is never
    shuffled per round. Returns (final frontier, last scored frame)."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("node").asc())
    scored = None
    for t in range(rounds):
        cands = frontier.unionByName(
            edges.join(F.broadcast(frontier), edges.src == frontier.node)
            .select("query_id", F.col("dst").alias("node"))
        ).dropDuplicates(["query_id", "node"])
        scored = _gann_pair_scores(cands, emb)
        frontier = (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= beam)
            .select("query_id", "node")
        )
        # r18 (guide §5 lineage cut): each round references the previous
        # frontier in TWO branches (the union and the broadcast join), so
        # un-materialized the prior rounds' ArrowEval scoring passes
        # re-evaluate ~2^t times — and the rounds are SEQUENTIAL, so no
        # concurrent-stage masking applies (unlike the L7 rejections).
        # The frontier is beam × queries rows; the checkpoint is the
        # loop-invariant materialization the LPA/PPR loops already use.
        # The last round's frontier stays lazy — callers rank `scored`.
        if t < rounds - 1:
            frontier = frontier.localCheckpoint(eager=True)
    return frontier, scored


@register("embedding_graph_ann_hier_topk", _gann_hier_oracle())
def embedding_graph_ann_hier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIERARCHICAL graph-traversal ANN — the HNSW layer structure the
    flat entry (embedding_graph_ann_topk) lacks: a SPARSE UPPER GRAPH
    over every {GANN_UPPER_MOD}th node (built by the SAME multi-probe
    kNN rule, so navigability carries over) is searched first with a
    narrow beam ({GANN_UPPER_ROUNDS} rounds × beam {GANN_UPPER_BEAM}
    over 1/{GANN_UPPER_MOD} of the nodes), and its per-query top
    {GANN_SEEDS} results seed the BASE-layer beam — which therefore
    starts near the answer and runs {GANN_HIER_ROUNDS} rounds instead
    of the flat build's {GANN_ROUNDS} from the cold global-min entry.
    Training, BOTH graph builds, both layers' unrolled beam rounds, the
    seed handoff, and the final ranking are ALL chained in one oracle —
    hash-gated end to end.

    Scale: the upper layer is where the hierarchy pays — its graph has
    1/{GANN_UPPER_MOD} the nodes (per-cell GEMM over the same probed
    buckets, restricted before the build, so the upper build costs
    ~1/{GANN_UPPER_MOD}² of the base pairs), and every search round on
    either layer broadcasts only the frontier (beam × queries rows)
    against the corpus-sided lookup. Fewer base rounds at equal beam =
    strictly fewer scored candidates per query than the flat search;
    recall is measured, not asserted (ANN_RECALL: hier ≥ flat's 0.94
    at fewer total scored pairs)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    ids, cent = _trained_centroids(spark, sf_dir, IVF_TRAIN_ITERS)
    # Base graph shared with embedding_graph_ann_topk (r18, see
    # _gann_base_edges); the sparse upper graph stays per-query.
    edges = _gann_base_edges(spark, sf_dir)
    upper = emb.filter(F.col("vec_id") % GANN_UPPER_MOD == 0)
    uedges = _gann_edges(
        _probe_assign(upper, ids, cent, GANN_BUILD_PROBE)
    ).localCheckpoint(eager=True)
    return _gann_hier_search(emb, edges, uedges)


def _gann_hier_search(
    emb: DataFrame, edges: DataFrame, uedges: DataFrame
) -> DataFrame:
    """Hierarchical beam-search tail shared by
    embedding_graph_ann_hier_topk (both graphs built in-query) and
    stream_incremental_gann_hier (both graphs resolved from the
    epoch-maintained candidate stores): narrow upper search from the
    min upper vec_id seeds the base beam, which runs
    {GANN_HIER_ROUNDS} rounds; final top-{TOP_K} excludes the query
    vector."""
    from pyspark.sql.window import Window as W

    upper_ids = emb.filter(F.col("vec_id") % GANN_UPPER_MOD == 0)
    uentry = upper_ids.agg(F.min("vec_id").alias("m")).collect()[0]["m"]
    ufrontier = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"))
        .withColumn("node", F.lit(int(uentry)).cast("bigint"))
    )
    _, uscored = _gann_beam_rounds(
        ufrontier, uedges, emb, GANN_UPPER_ROUNDS, GANN_UPPER_BEAM
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("node").asc())
    seeds = (
        uscored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= GANN_SEEDS)
        .select("query_id", "node")
        # r18: the base layer's first round references the seed frame
        # twice (union + broadcast join); un-materialized, both replay
        # the ENTIRE upper-layer search. queries × GANN_SEEDS rows.
        .localCheckpoint(eager=True)
    )
    _, scored = _gann_beam_rounds(seeds, edges, emb, GANN_HIER_ROUNDS, GANN_BEAM)
    final = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= GANN_BEAM
    )
    return (
        final.filter(F.col("node") != F.col("query_id"))
        .withColumn(
            "rank",
            F.row_number()
            .over(
                W.partitionBy("query_id").orderBy(
                    F.col("cos").desc(), F.col("node").asc()
                )
            )
            .cast("int"),
        )
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("node").alias("neighbor_id"),
            F.col("cos").alias("cosine"),
            "rank",
        )
    )


def _ivf_occupancy_oracle() -> str:
    u = IVF_TRAIN_ITERS
    chained = ",\n    ".join(_kmeans_ctes(u + 1))
    return f"""
    WITH {_QUANT_CTE},
    {chained},
    occ AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM assign{u} GROUP BY cell
    ),
    tot AS (
      SELECT CAST(SUM(n_vecs) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_cells
      FROM occ
    )
    SELECT CAST(o.cell AS INT) AS cell, o.n_vecs,
           CAST(o.n_vecs * 1000000 // t.total AS BIGINT) AS share_ppm,
           CAST((o.n_vecs * 1000000 // t.total) * t.n_cells AS BIGINT)
             AS hot_ppm
    FROM occ o CROSS JOIN tot t
    """


@register("ivf_occupancy_report", _ivf_occupancy_oracle())
def ivf_occupancy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index BALANCE audit — the operational health check every
    inverted-file deployment runs: per cell its posting count, corpus
    share, and hot factor (occupancy relative to perfectly uniform,
    ppm; 1,000,000 = exactly even, a cell at 3,000,000 does 3x the
    uniform probe work). Skewed cells are the IVF failure mode —
    probes of a hot cell scan a corpus fraction the nprobe/cells
    arithmetic no longer bounds — and this report is the signal the
    drift-triggered refresh (stream_incremental_ivf_drift_refresh)
    exists to fix. Same trained quantizer + assignment as
    embedding_ivf_topk (the chain its hash gate already proves);
    ratios are two-step integer ppm.

    Scale: one broadcast-centroid assignment pass (map-only GEMM) +
    a cell-grain aggregate ({IVF_CELLS} rows) + one broadcast scalar
    — the audit costs one corpus scan."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantize("embedding").alias("e")
    )
    ids, cent = _trained_centroids(spark, sf_dir, IVF_TRAIN_ITERS)
    occ = (
        _assign_cells(emb, ids, cent)
        .groupBy("cell")
        .agg(F.count("*").cast("bigint").alias("n_vecs"))
    )
    tot = occ.agg(
        F.sum("n_vecs").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_cells"),
    )
    return occ.crossJoin(F.broadcast(tot)).select(
        F.col("cell").cast("int").alias("cell"),
        "n_vecs",
        F.expr("n_vecs * 1000000 div total").cast("bigint").alias("share_ppm"),
        F.expr("(n_vecs * 1000000 div total) * n_cells")
        .cast("bigint")
        .alias("hot_ppm"),
    )


def _register_split_centroid() -> None:
    from .text import SPLIT_BUCKETS, SPLIT_TRAIN_LT, SPLIT_VAL_LT

    @register(
        "split_centroid_similarity",
        f"""
    WITH q AS (
      SELECT [CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)
              FOR x IN embedding] AS e,
             CAST(concat('0x', substr(md5(concat('sp|', vec_id)), 1, 15))
                  AS BIGINT) % {SPLIT_BUCKETS} AS b
      FROM embeddings
    ),
    g AS (
      SELECT e, CASE WHEN b < {SPLIT_TRAIN_LT} THEN 1 ELSE 0 END AS grp
      FROM q WHERE b < {SPLIT_VAL_LT}
    ),
    comp AS (
      SELECT l.d, g.grp, g.e[l.d] AS x
      FROM g, LATERAL (SELECT unnest(generate_series(1, len(g.e))) AS d) l
    ),
    dims AS (
      SELECT d,
             CAST(SUM(CASE WHEN grp = 1 THEN x ELSE 0 END) AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN grp = 0 THEN x ELSE 0 END) AS BIGINT) AS s2
      FROM comp GROUP BY d
    ),
    terms AS (
      SELECT CAST(SUM(floor(CAST(s1 AS DOUBLE) * s2 / 1000000.0)) AS BIGINT)
               AS t12,
             CAST(SUM(floor(CAST(s1 AS DOUBLE) * s1 / 1000000.0)) AS BIGINT)
               AS t11,
             CAST(SUM(floor(CAST(s2 AS DOUBLE) * s2 / 1000000.0)) AS BIGINT)
               AS t22
      FROM dims
    ),
    cnt AS (
      SELECT CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_val
      FROM g
    )
    SELECT c.n_train, c.n_val,
           CAST(CASE WHEN t.t11 <= 0 OR t.t22 <= 0 THEN 0
                ELSE floor(CAST(t.t12 AS DOUBLE)
                     / (sqrt(CAST(t.t11 AS DOUBLE)) * sqrt(CAST(t.t22 AS DOUBLE)))
                     * 1000000.0)
                END AS BIGINT) AS cos_ppm
    FROM cnt c CROSS JOIN terms t
    """,
    )
    def split_centroid_similarity(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """SPLIT-CENTROID COSINE — the embedding-space split-health
        audit completing the trio with mann_whitney_quality_ab
        (quality distribution) and dataset_split_assign (counts): the
        cosine between the train and val splits' centroid vectors
        under the same md5 hash-ring assignment. A healthy random
        split reads near 1.0 (ppm-quantized); drift below that flags
        a selection-biased or temporally-skewed split before any
        model sees it. Centroids use SUM vectors (cosine is
        scale-invariant, so means are never formed — no division
        before the final statistic); per-dimension products quantize
        floor(s_a·s_b / 1e6) from exact BIGINT component sums
        (cast-before-multiply, the CUPED discipline), then the cosine
        forms via correctly-rounded sqrt/divide only.

        Scale: one map-only quantize+hash pass, ONE shuffle to
        |dims| (= {64}) rows via posexplode + map-side-combined
        per-dimension sums, then arithmetic on a 64-row frame — at
        100 TB the reduce side is still 64 rows."""
        emb = table(spark, sf_dir, "embeddings")
        from ..functions.scalar import hex_hash64

        g = emb.select(
            _quantize("embedding").alias("e"),
            (hex_hash64(F.col("vec_id"), salt="sp|") % SPLIT_BUCKETS).alias(
                "b"
            ),
        ).filter(F.col("b") < SPLIT_VAL_LT).select(
            "e",
            F.when(F.col("b") < SPLIT_TRAIN_LT, 1).otherwise(0).alias("grp"),
        )
        comp = g.select("grp", F.posexplode("e").alias("pos", "x")).select(
            (F.col("pos") + 1).alias("d"), "grp", "x"
        )
        dims = comp.groupBy("d").agg(
            F.sum(F.when(F.col("grp") == 1, F.col("x")).otherwise(0))
            .cast("bigint")
            .alias("s1"),
            F.sum(F.when(F.col("grp") == 0, F.col("x")).otherwise(0))
            .cast("bigint")
            .alias("s2"),
        )
        terms = dims.agg(
            F.sum(F.expr("floor(CAST(s1 AS DOUBLE) * s2 / 1000000.0)"))
            .cast("bigint")
            .alias("t12"),
            F.sum(F.expr("floor(CAST(s1 AS DOUBLE) * s1 / 1000000.0)"))
            .cast("bigint")
            .alias("t11"),
            F.sum(F.expr("floor(CAST(s2 AS DOUBLE) * s2 / 1000000.0)"))
            .cast("bigint")
            .alias("t22"),
        )
        cnt = g.agg(
            F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_val"),
        )
        return cnt.crossJoin(F.broadcast(terms)).select(
            "n_train",
            "n_val",
            F.expr(
                "CAST(CASE WHEN t11 <= 0 OR t22 <= 0 THEN 0"
                " ELSE floor(CAST(t12 AS DOUBLE)"
                " / (sqrt(CAST(t11 AS DOUBLE)) * sqrt(CAST(t22 AS DOUBLE)))"
                " * 1000000.0) END AS BIGINT)"
            ).alias("cos_ppm"),
        )


_register_split_centroid()
