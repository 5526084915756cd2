"""Similarity search over `embeddings.embedding` (array<float>, d=64).

Three tiers, mirroring how ANN actually gets deployed on Spark:

  brute     — exact cosine top-k per query via a bounded cross join.
              Correct baseline; O(Q × N). Fine when Q is small (a
              query batch) even at large N, because the candidate side
              streams: broadcast the Q queries, scan N once.
  lsh       — random-hyperplane signature buckets: deterministic
              pseudo-random planes derived from md5, so fully portable
              and oracle-checkable. At 100 TB candidates come from a
              groupBy(bucket) join, never all-pairs.
  neardup   — all-pairs above a cosine threshold, with the LSH bucket
              prejoin as the pruner (exact verify on candidates only).

Dot products use F.zip_with + F.aggregate (sequential fold, matching
DuckDB's list_dot_product order) on float->double widened values;
divisions happen once at the end; results rounded to 6dp to absorb any
residual libm ulp.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from projetbigdata_spark.session import tune
from projetbigdata_spark.sources.catalog import (
    load_documents_parallel,
    load_embeddings_parallel,
    load_table,
    parallel_scan,
)

N_QUERIES = 10  # vec_id < 10 are the query vectors in the fixtures
TOP_K = 5
COSINE_THRESHOLD = 0.4
N_PLANES = 8


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _with_norm(df: DataFrame) -> DataFrame:
    """norm is NULL (not 0) for zero/empty vectors: every cosine
    divides by it, and x/0 crashes under Spark 4's default ANSI mode
    while the DuckDB oracles' x/0.0 yields NULL and drops the pair —
    the NULL norm gives both engines that same drop semantics."""
    e = F.transform("embedding", lambda x: x.cast("double"))
    n = F.sqrt(_dot(e, e))
    return df.select(
        "vec_id",
        e.alias("e"),
        F.when(n > 0, n).alias("norm"),
    )


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for each query vector (vec_id < 10).
    Query side is tiny -> broadcast; candidate scan is a single pass."""
    from pyspark.sql.window import Window

    tune(spark)
    emb = _with_norm(load_embeddings_parallel(spark, sf_dir))
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    pairs = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    cos = F.round(_dot(F.col("qe"), F.col("e")) / (F.col("qnorm") * F.col("norm")), 6)
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= TOP_K
    )


BRUTE_SQL = f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
    FROM embeddings
),
q AS (SELECT vec_id AS query_id, e AS qe, norm AS qnorm FROM v
      WHERE vec_id < {N_QUERIES}),
scored AS (
    SELECT q.query_id, v.vec_id AS neighbor_id,
           round(list_dot_product(qe, e) / (qnorm * norm), 6) AS cosine
    FROM v CROSS JOIN q
    WHERE v.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS INT)
           AS rnk
FROM scored
QUALIFY rnk <= {TOP_K}
"""


def _plane_literals() -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: plane p, dim d ->
    value in [-1, 1) from the first 4 hex digits of md5(p|d), computed
    driver-side into plan literals. Bit-identical to the oracle's
    engine-side derivation by construction: (v - 32768) is an exact
    int and /32768.0 divides by a power of two, so every pv is exactly
    representable — Python, the JVM, and DuckDB produce the same
    doubles. Lets signature computation run IN-ROW (a fold per plane)
    with zero shuffles instead of explode+join+groupBy."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[:4], 16) - 32768)
            / 32768.0
            for d in range(64)
        ]
        for p in range(N_PLANES)
    ]


def _plane_dot(e, row: list[float]):
    """In-row dot of a vector column against one literal hyperplane —
    sequential fold, same order as the oracle's unnest-order sum."""
    plane = F.array(*[F.lit(v) for v in row])
    return _dot(e, plane)


def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: sign bits of plane·vector, packed into a
    bucket id. Vectors sharing a bucket are ANN candidates; the join
    for candidates is groupBy(bucket) — linear, not quadratic.

    Signatures are computed IN-ROW: the 8 plane dot-products are folds
    against literal plane arrays (_plane_literals — bit-identical to
    the md5 derivation the oracle uses), so the whole operator is one
    map-side projection with ZERO shuffles. The previous long-form
    spelling (posexplode -> broadcast-join planes -> two groupBys)
    shuffled n x 64 rows twice to compute the same 8 signs."""
    tune(spark)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    bucket = None
    for p, row in enumerate(_plane_literals()):
        bit = F.when(
            _plane_dot(F.col("e"), row) > 0, F.lit(1 << p).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        bucket = bit if bucket is None else bucket + bit
    return emb.select("vec_id", bucket.alias("bucket"))


LSH_SQL = f"""
WITH cell AS (
    SELECT p.plane, d.dim,
           ((CAST('0x' || substr(md5(p.plane || '|' || d.dim), 1, 4)
                  AS BIGINT) - 32768) / 32768.0) AS pv
    FROM (SELECT unnest(generate_series(0, {N_PLANES - 1})) AS plane) p
    CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS dim) d
),
vec AS (
    SELECT vec_id, dim - 1 AS dim, CAST(x AS DOUBLE) AS x
    FROM embeddings,
         LATERAL (SELECT unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS dim)
),
dots AS (
    SELECT vec_id, plane, sum(x * pv) AS dot
    FROM vec JOIN cell USING (dim)
    GROUP BY 1, 2
)
SELECT vec_id,
       CAST(sum(CASE WHEN dot > 0
                     THEN (CAST(1 AS BIGINT) << CAST(plane AS INT))
                     ELSE 0 END) AS BIGINT) AS bucket
FROM dots
GROUP BY vec_id
"""


def sim_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs, LSH-pruned (the 100 TB path):
    candidates come from banded-LSH bucket collisions (equi-join on
    (band, bucket) — shuffle volume is |collisions|, never all pairs),
    then the exact cosine threshold is applied to candidates only.

    The pruning is deterministic (md5-derived hyperplanes), so the
    oracle mirrors it CTE-for-CTE and the check stays value-exact.
    Pairs whose signatures never collide in any band are missed —
    that's the LSH trade; recall vs. the exact all-pairs spelling
    (sim_neardup_allpairs_exact, registered as the small-scale baseline) is pinned in
    tests/test_similarity_recall.py."""
    tune(spark)
    # pre-partitioned on the self-join key: both sides read the one
    # materialization, no per-side exchange (SCALE.md ReuseExchange note)
    bb = (
        _banded_buckets(spark, sf_dir)
        .repartition("band", "bucket")
        .localCheckpoint(eager=False)
    )
    a = bb.select(F.col("vec_id").alias("vec_a"), "band", "bucket")
    b = bb.select(F.col("vec_id").alias("vec_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    ea = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"), F.col("norm").alias("na")
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"), F.col("norm").alias("nb")
    )
    cos = F.round(_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6)
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .where(F.col("cosine") >= COSINE_THRESHOLD)
    )


def sim_neardup_allpairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs near-duplicate pairs (O(n^2)) — registered under
    its own name for consumers that need exact recall at small scale.
    sim_neardup_pairs switched from this spelling to banded-LSH pruning
    in r2 (an output-reducing change: recall floor pinned in
    tests/test_similarity_recall.py, see COVERAGE.md release note);
    this variant preserves the original exact semantics and is the
    ground truth for that recall gate. Deliberate non-equi nested-loop
    join — the declared small-scale baseline, not the 100 TB path."""
    tune(spark)
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"), F.col("norm").alias("na")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"), F.col("norm").alias("nb")
    )
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    cos = F.round(_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6)
    return pairs.select("vec_a", "vec_b", cos.alias("cosine")).where(
        F.col("cosine") >= COSINE_THRESHOLD
    )


# shared deterministic-LSH CTE chain (cell -> vec -> dots -> bb),
# mirrored by every pruned oracle so Spark and DuckDB prune identically
_LSH_CTES = f"""cell AS (
    SELECT p.plane, d.dim,
           ((CAST('0x' || substr(md5(p.plane || '|' || d.dim), 1, 4)
                  AS BIGINT) - 32768) / 32768.0) AS pv
    FROM (SELECT unnest(generate_series(0, {N_PLANES - 1})) AS plane) p
    CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS dim) d
),
vec AS (
    SELECT vec_id, dim - 1 AS dim, CAST(x AS DOUBLE) AS x
    FROM embeddings,
         LATERAL (SELECT unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS dim)
),
dots AS (
    SELECT vec_id, plane, sum(x * pv) AS dot
    FROM vec JOIN cell USING (dim)
    GROUP BY 1, 2
),
bb AS (
    SELECT vec_id, CAST(plane // 2 AS INT) AS band,
           CAST(sum(CASE WHEN dot > 0
                    THEN (CAST(1 AS BIGINT) << CAST(plane % 2 AS INT))
                    ELSE 0 END) AS BIGINT) AS bucket
    FROM dots GROUP BY 1, 2
)"""


NEARDUP_SQL = f"""
WITH {_LSH_CTES},
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM bb a JOIN bb b USING (band, bucket)
    WHERE a.vec_id < b.vec_id
),
nv AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
    FROM embeddings
)
SELECT vec_a, vec_b,
       round(list_dot_product(a.e, b.e) / (a.norm * b.norm), 6) AS cosine
FROM cand
JOIN nv a ON a.vec_id = vec_a
JOIN nv b ON b.vec_id = vec_b
WHERE round(list_dot_product(a.e, b.e) / (a.norm * b.norm), 6)
      >= {COSINE_THRESHOLD}
"""

NEARDUP_ALLPAIRS_SQL = f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
    FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.e, b.e) / (a.norm * b.norm), 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.e, b.e) / (a.norm * b.norm), 6)
      >= {COSINE_THRESHOLD}
"""


def _banded_buckets(
    spark: SparkSession, sf_dir: str, band_bits: int = 2
) -> DataFrame:
    """(vec_id, band, bucket): the 8 sign bits split into bands of
    `band_bits` — standard banded LSH; a pair is a candidate iff it
    collides in AT LEAST one band. Band width tunes the
    recall/candidate trade: the fixture embeddings are uniform-random
    (LSH's worst case — true top-k neighbors sit near 90 deg), so the
    registered queries keep narrow 2-bit bands (4 bands: background
    collision 1-0.75^4 ~ 0.68) to buy recall; at deployment scale,
    where true neighbors ARE near, 4-bit bands (2 bands: background
    ~ 0.12) prune ~6x with no recall loss — both layouts measured at
    20k vectors in the soak study (SCALE.md §Similarity; floors pinned
    in tests/test_similarity_recall.py).

    In-row like sim_lsh_buckets: each band's bucket is a fold against
    band_bits literal planes, the (band, bucket) rows come from ONE
    generator — no shuffle at all until a consumer joins."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    rows = _plane_literals()
    bands = []
    for b in range(N_PLANES // band_bits):
        bucket = None
        for j in range(band_bits):
            p = b * band_bits + j
            bit = F.when(
                _plane_dot(F.col("e"), rows[p]) > 0,
                F.lit(1 << j).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
            bucket = bit if bucket is None else bucket + bit
        bands.append(
            F.struct(
                F.lit(b).cast("int").alias("band"), bucket.alias("bucket")
            )
        )
    return emb.select(
        "vec_id", F.explode(F.array(*bands)).alias("bb")
    ).select("vec_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def sim_ann_lsh_topk(
    spark: SparkSession, sf_dir: str, band_bits: int = 2
) -> DataFrame:
    """End-to-end ANN (the 100 TB path): banded-LSH candidate
    generation + exact cosine rerank, top-5 per query vector.

    Candidates come from equi-joins on (band, bucket) — shuffle volume
    is |bucket collisions|, never all pairs. The exact rerank touches
    candidates only. Recall vs sim_topk_bruteforce is asserted in
    tests/test_similarity_recall.py; missing a true neighbor whose
    signatures never collide is inherent to LSH (that's the trade).
    band_bits widens the bands for deployment-scale pruning (see
    _banded_buckets); the registered query keeps the default."""
    from pyspark.sql.window import Window

    tune(spark)
    bb = _banded_buckets(spark, sf_dir, band_bits)
    qb = bb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "band", "bucket"
    )
    cand = (
        bb.join(qb, ["band", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    q = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("qe"), F.col("e")) / (F.col("qnorm") * F.col("norm")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= TOP_K
    )


ANN_SQL = f"""
WITH {_LSH_CTES},
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, v.vec_id
    FROM bb v JOIN bb q USING (band, bucket)
    WHERE q.vec_id < {N_QUERIES} AND v.vec_id <> q.vec_id
),
nv AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
    FROM embeddings
),
scored AS (
    SELECT cand.query_id, cand.vec_id AS neighbor_id,
           round(list_dot_product(q.e, v.e) / (q.norm * v.norm), 6) AS cosine
    FROM cand
    JOIN nv v ON v.vec_id = cand.vec_id
    JOIN nv q ON q.vec_id = cand.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS INT)
           AS rnk
FROM scored
QUALIFY rnk <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# IVF tier: k-means coarse quantizer + posting lists + nprobe search.
#
# The third ANN deployment shape (after brute force and banded LSH):
# partition the vector space with a small centroid codebook, store each
# vector in its nearest centroid's posting list, and at query time scan
# only the nprobe nearest lists. On clustered real-world embeddings this
# is the recall/cost sweet spot; on the uniform-random fixtures it
# behaves like a fair random partition (recall ~ nprobe/k per list), so
# the pytest gate checks candidate pruning + exactness-of-rerank rather
# than a high recall floor.
#
# Everything before the rerank runs in EXACT integer arithmetic
# (micro-unit bigints): coordinates quantized once to round(x * 1e6),
# centroid means re-quantized after each Lloyd step, distances are
# integer sums of squares. Exact ints make the argmin assignment
# deterministic across engines and partition orders, which is what lets
# an *iterative k-means* be value-hash-checked against DuckDB (the
# Lloyd iterations unroll to plain CTEs). At 100 TB: the centroid side
# of every join is k x d rows (tiny, broadcast); vectors shuffle once
# per iteration for the mean update; posting-list search is an
# equi-join on cid — never all-pairs.
# ---------------------------------------------------------------------------

MICRO = 1_000_000
# FIXTURE dials, sized for the registered oracle-checked queries on
# the small test corpus — NOT deployment values. At corpus size n,
# pick k ≈ sqrt(n)/2 centroids and nprobe ≈ k/16 (the r4
# tools/ivf_k_sweep.py study: at n=100k, k=128/nprobe=8 probes ~6% of
# postings at recall 1.000 with a 0.95 CI recall floor; k=16/nprobe=4
# at that n probes 25% of the corpus for the same recall — correct but
# 4x the rerank cost). Callers copying a registered query into a real
# pipeline must pass k/nprobe explicitly.
K_CENTROIDS = 16
N_PROBE = 4
SEED_LO, SEED_HI = N_QUERIES, N_QUERIES + K_CENTROIDS  # vec_ids 10..25 seed


def _micro_arr(df: DataFrame) -> DataFrame:
    """(vec_id, xs): embedding coords in exact micro-units, kept in
    ARRAY form — one row per vector, never exploded. Distances are
    computed by an in-row zip_with fold, so the only wide dataset any
    assignment pass shuffles is the skinny (vec_id, cid, d) table
    (n x k rows), not the n x 64 x k long-form join output."""
    return df.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * MICRO).cast("bigint")
        ).alias("xs"),
    )


def _sqdist(a, b) -> Column:
    """Exact integer squared L2 distance between two micro-unit arrays.
    Bigint adds are order-free, so the sequential fold matches the
    oracle's sum() exactly."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, m: (x - m) * (x - m)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _dists_to_centroids(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid, d): distance of every vector to every centroid —
    crossJoin against the BROADCAST k-row centroid table, distance
    folded in-row. n x k skinny rows, no shuffle until the consumer."""
    return vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid", _sqdist(F.col("xs"), F.col("ms")).alias("d")
    )


def _argmin_cid(dists: DataFrame) -> DataFrame:
    """(vec_id, cid): argmin over exact integer squared distances;
    ties broken by cid, so fully deterministic."""
    return (
        dists.groupBy("vec_id")
        .agg(F.min(F.struct("d", "cid")).alias("best"))
        .select("vec_id", F.col("best").getField("cid").alias("cid"))
    )


def _lloyd_update(vecs: DataFrame, assign: DataFrame) -> DataFrame:
    """(cid, ms): per-dim means re-quantized to micro-units, regrouped
    to array form. The per-dim agg is long-form (k x 64 output — tiny);
    the bigint sum is exact (order-free); the single double division
    and round are bit-identical across engines."""
    long = vecs.join(assign, "vec_id").select(
        "cid", F.posexplode("xs").alias("dim", "x")
    )
    means = long.groupBy("cid", "dim").agg(
        F.round(F.sum("x").cast("double") / F.count("*")).cast("bigint").alias("ms")
    )
    return means.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "ms"))), lambda s: s.ms
        ).alias("ms")
    )


# --- In-row assignment tier (r13, VERDICT r12 item 5) ---------------
#
# The long-form spelling (_dists_to_centroids -> _argmin_cid ->
# _lloyd_update) materializes an n×k distance table, shuffles it for
# the per-vector argmin, and joins the assignment BACK to the vectors
# for the mean update — per Lloyd iteration that is one n×k-row
# exchange plus a self-join, repeated 2× per trainer plus once for the
# final posting assignment, across every IVF/PQ/semantic-dedup tier.
# But the argmin of a row's distances to a BROADCAST k-row table is a
# per-row computation: fold the distances inside the row and take
# array_min. The n×k table never exists, the argmin shuffle is gone,
# and the assignment carries xs along so the mean update needs no
# join. array_min uses the same lexicographic struct ordering as
# F.min(F.struct("d", "cid")), so ties break identically (smallest
# cid) and the assignment — and every downstream centroid mean, in
# exact bigint arithmetic — is bit-identical to the long-form path
# (pinned by test_inrow_assign_matches_longform). The long-form
# helpers stay as the reference spelling the recall/dials tests model
# against.
_VEC_CACHE: dict[tuple[str, str], DataFrame] = {}


def _cents_row(cents: DataFrame) -> DataFrame:
    """ONE row holding the whole centroid table as an array of
    (cid, ms) structs sorted by cid — the broadcastable form that
    lets assignment run in-row (k is small by design: ~sqrt(n)/2)."""
    return cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "ms"))).alias("cs")
    )


def _assign_inrow(
    vecs: DataFrame, cents: DataFrame, crow: DataFrame | None = None
) -> DataFrame:
    """(vec_id, xs, cid): nearest centroid per vector via an in-row
    fold over the broadcast centroid array — zero shuffles, no n×k
    intermediate. The isNotNull guard reproduces the long form's
    empty-centroids behavior (crossJoin with an empty table emits
    nothing; array_min of an empty array is NULL). Callers with TWO
    consumers of the same centroid table (_ivf_search: posting +
    probes) pass a pre-materialized `crow` so the 1-row fold frame is
    built once instead of once per consumer."""
    best = F.array_min(
        F.transform(
            F.col("cs"),
            lambda c: F.struct(
                _sqdist(F.col("xs"), c["ms"]).alias("d"),
                c["cid"].alias("cid"),
            ),
        )
    )
    return (
        vecs.crossJoin(F.broadcast(_cents_row(cents) if crow is None else crow))
        .select("vec_id", "xs", best["cid"].alias("cid"))
        .where(F.col("cid").isNotNull())
    )


def _lloyd_step(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """One Lloyd iteration (assign + mean update) over the in-row
    assignment: the only exchanges left are the two mean-update aggs
    (k×64 output — tiny). Arithmetic identical to
    _lloyd_update(vecs, _argmin_cid(_dists_to_centroids(vecs, cents)))
    — same per-(cid, dim) bigint sums and counts, same round/cast."""
    assigned = _assign_inrow(vecs, cents)
    long = assigned.select("cid", F.posexplode("xs").alias("dim", "x"))
    means = long.groupBy("cid", "dim").agg(
        F.round(F.sum("x").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("ms")
    )
    return means.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "ms"))), lambda s: s.ms
        ).alias("ms")
    )


def _probe_inrow(
    vecs: DataFrame,
    cents: DataFrame,
    nprobe: int,
    crow: DataFrame | None = None,
) -> DataFrame:
    """(query_id, cid): the nprobe nearest centroids per vector —
    in-row sort of the broadcast centroid distances (replaces the
    row_number window over the long-form distance table; array_sort
    on (d, cid) structs is the same ascending ordering, and slice
    clamps like the rank filter when k < nprobe)."""
    ds = F.transform(
        F.col("cs"),
        lambda c: F.struct(
            _sqdist(F.col("xs"), c["ms"]).alias("d"),
            c["cid"].alias("cid"),
        ),
    )
    return (
        vecs.crossJoin(F.broadcast(_cents_row(cents) if crow is None else crow))
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(F.slice(F.array_sort(ds), 1, nprobe)).alias("p"),
        )
        .select("query_id", F.col("p.cid").alias("cid"))
    )


# Width dial for the persisted vector frame (r12, guide §2.5/§6): the
# Lloyd/ADC tiers run MANY short stages over this cache, so its
# partition count is the per-stage task count for the whole family.
# ~128 KB of parquet per task ≈ 100 ms of distance-fold compute against
# ~10 ms of task overhead; the sf0.1 width sweep measured w=4-8 fastest
# (sim_ivf 2.95->1.93 s) and w=32 slower than w=1 for sim_ivfpq. Width
# grows with input bytes (capped at core count), so bigger corpora get
# full width and a multi-split deployment scan is never repartitioned.
VEC_FOLD_BYTES_PER_TASK = 128 * 1024


def _cached_micro_arr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted micro-unit vector table, keyed by (applicationId,
    sf_dir) like dedup._POSTINGS_CACHE — a bare per-call persist()
    leaked one cache entry per invocation (bench re-runs, multi-sf
    test sessions) with nothing ever unpersisting it. Widened via
    parallel_scan's bytes_per_task rule BEFORE the persist, so every
    downstream fold inherits the layout with zero extra exchanges."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _VEC_CACHE:
        for stale in [k for k in _VEC_CACHE if k[0] != key[0]]:
            del _VEC_CACHE[stale]
        _VEC_CACHE[key] = _micro_arr(
            parallel_scan(
                spark,
                load_table(spark, sf_dir, "embeddings"),
                bytes_per_task=VEC_FOLD_BYTES_PER_TASK,
                cache_key=f"{sf_dir}/embeddings",
            )
        ).persist()
    return _VEC_CACHE[key]


def _seed_centroids(vec: DataFrame, k: int = K_CENTROIDS) -> DataFrame:
    """Deterministic k-means seeding. Fast path: the fixed id window
    [SEED_LO, SEED_LO+k) — zero extra jobs, and the exact range the
    static DuckDB oracles unroll. Robustness (ADVICE r6): on a corpus
    whose vec_ids are sparse or don't start near SEED_LO the window
    can silently yield < k seeds, degrading pair work back toward
    n²/actual_k — the exact failure k="auto" exists to prevent. So the
    seed frame is counted (a ≤k-row job on the persisted micro frame)
    and, if short, seeding falls back to the first k vectors AFTER the
    first SEED_LO rows in vec_id order — rank-based, always exactly
    min(k, n-SEED_LO) centroids, and identical to the fast path on
    contiguous ids. orderBy+limit is a TakeOrdered (top-(SEED_LO+k)),
    not a global sort; the row_number window runs on that tiny frame.

    ADVICE r7 hardening: (a) the fast-path count verdict is memoized
    ON the DataFrame object per k — callers all receive `vec` from
    the per-(app, sf_dir) persisted cache, so each composed report
    (e.g. the three tier-overlap subtrees) pays the ≤k-row count job
    once, not once per operator call; the memo dies with the object,
    so no cross-session id-reuse hazard. (b) A corpus with
    n ≤ SEED_LO no longer silently yields ZERO centroids (which made
    every downstream k-means/dedup output empty with no error): the
    rank fallback re-anchors at offset 0 and returns the first
    min(k, n) vectors; a genuinely empty corpus raises."""
    from pyspark.sql.window import Window

    fast = vec.where(
        (F.col("vec_id") >= SEED_LO) & (F.col("vec_id") < SEED_LO + k)
    ).select(
        (F.col("vec_id") - SEED_LO).cast("int").alias("cid"),
        F.col("xs").alias("ms"),
    )
    memo = vec.__dict__.setdefault("_seed_fastpath_ok", set())
    if k in memo:
        return fast
    if fast.count() == k:
        memo.add(k)
        return fast
    head = vec.orderBy("vec_id").limit(SEED_LO + k)
    n_head = head.count()
    if n_head == 0:
        # empty corpus: empty centroids -> every downstream k-means /
        # dedup / balance frame is 0 rows, which IS the registered
        # empty-input contract (tests/test_empty_inputs.py). The
        # ADVICE r7 zero-centroid hazard is the NON-empty case (0 < n
        # <= SEED_LO silently seeding nothing) — that takes the rank
        # fallback below; genuinely-empty in -> empty out is correct,
        # not an error.
        return fast
    offset = SEED_LO if n_head > SEED_LO else 0
    w = Window.orderBy("vec_id")
    return (
        head.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") > offset) & (F.col("rn") <= offset + k))
        .select(
            (F.col("rn") - offset - 1).cast("int").alias("cid"),
            F.col("xs").alias("ms"),
        )
    )


def _train_centroids(
    vec: DataFrame, k: int = K_CENTROIDS, train: DataFrame | None = None
) -> DataFrame:
    """The shared k-means trainer: seeded from `vec`, then 2 Lloyd
    steps over `train` (default: `vec`), unrolled as in the oracle
    SQL. Centroids are k rows; localCheckpoint materializes each step
    so later assignments don't recompute the whole previous-step
    lineage (measured 6.6s -> ~3s at sf1 soak)."""
    train = vec if train is None else train
    cents = _seed_centroids(vec, k)
    for _ in range(2):
        cents = _lloyd_step(train, cents).localCheckpoint()
    return cents


def _ivf_search(
    spark: SparkSession,
    sf_dir: str,
    vec: DataFrame,
    cents: DataFrame,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """Shared IVF search phase: final full-corpus assignment (in-row
    argmin — no n×k distance table, no shuffle; r13), nprobe probe
    (in-row top-nprobe over the filtered query slice — the window
    exchange is gone too), exact cosine rerank."""
    from pyspark.sql.window import Window

    # one materialized 1-row centroid frame for BOTH consumers (the
    # posting assignment and the query probe): a trivial k-row job,
    # and the final plan carries two plain broadcasts of it instead of
    # two SinglePartition collect_list aggs
    crow = _cents_row(cents).localCheckpoint()
    posting = _assign_inrow(vec, cents, crow=crow).select("vec_id", "cid")
    probes = _probe_inrow(
        vec.where(F.col("vec_id") < N_QUERIES), cents, nprobe, crow=crow
    )
    cand = (
        probes.join(posting, "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )

    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("qe"), F.col("e")) / (F.col("qnorm") * F.col("norm")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= TOP_K
    )


def sim_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_CENTROIDS,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """IVF ANN: seeded centroids -> 2 unrolled Lloyd iterations ->
    posting lists -> nprobe=4 probe -> exact cosine rerank, top-5 per
    query vector. Same output schema as sim_ann_lsh_topk.

    Centroids travel in ARRAY form (k rows of array<bigint>), so each
    assignment pass is a broadcast crossJoin + in-row fold instead of
    the long-form explode/join/agg (which shuffled n x 64 x k rows).
    The final pass's (vec_id, cid, d) intermediate is checkpointed and
    feeds BOTH the posting-list argmin and the query-probe ranking —
    one distance computation, two consumers.

    k/nprobe are the deployment dials (k ~ sqrt(n) with nprobe 4-8 per
    the soak sweep in SCALE.md — recall held at 1.0 while the probed
    fraction fell 4x); the registered query keeps the fixture-tuned,
    oracle-checked k=16/nprobe=4."""
    tune(spark)
    vec = _cached_micro_arr(spark, sf_dir)  # reused by 3 assignments + 2 mean updates

    cents = _train_centroids(vec, k)
    return _ivf_search(spark, sf_dir, vec, cents, nprobe)


IVF_SAMPLE_MOD = 5  # train the quantizer on the 20% vec_id % 5 == 0 slice


def sim_ivf_sampled_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_CENTROIDS,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """IVF with SAMPLED quantizer training — the shape that actually
    runs at 100 TB: Lloyd iterations see only a deterministic 20%
    sample (vec_id % 5 == 0), so codebook training cost is decoupled
    from corpus size; the FULL corpus is touched exactly once, by the
    final posting-list assignment. Search phase identical to
    sim_ivf_topk (faiss's train-on-sample / add-all split). The sample
    is a pure modulus — no RNG — so the oracle unrolls to the same
    deterministic CTEs and the check stays value-exact."""
    tune(spark)
    vec = _cached_micro_arr(spark, sf_dir)  # final assignment + rerank reuse
    train = vec.where(F.col("vec_id") % IVF_SAMPLE_MOD == 0).localCheckpoint()

    cents = _train_centroids(vec, k, train)
    return _ivf_search(spark, sf_dir, vec, cents, nprobe)


NEW_MOD = 7  # the deterministic "new arrivals" slice for the
NEW_REMAINDER = 3  # incremental tier: vec_id % 7 == 3 (past the seeds)


def _is_new_col() -> Column:
    return (F.col("vec_id") % NEW_MOD == NEW_REMAINDER) & (
        F.col("vec_id") >= SEED_HI
    )


def build_ivf_base_index(
    spark: SparkSession, sf_dir: str, k: int = K_CENTROIDS
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Materialize the frozen BASE-corpus IVF index the incremental
    tiers probe: (cents, posting, base_norm) — the k-row centroid
    table (sampled-trained, 2 Lloyd steps), the base posting lists,
    and the normed base embeddings for exact rerank. cents/posting are
    localCheckpointed so repeated probes (streaming micro-batches, the
    batch twin) never re-run training; at deployment this trio is a
    parquet-materialized index refreshed on retrain cadence."""
    vec = _cached_micro_arr(spark, sf_dir)
    base = vec.where(~_is_new_col())
    train = base.where(
        F.col("vec_id") % IVF_SAMPLE_MOD == 0
    ).localCheckpoint()
    cents = _train_centroids(vec, k, train)
    posting = _assign_inrow(base, cents).select("vec_id", "cid").localCheckpoint(
        eager=False
    )
    base_norm = _with_norm(
        load_table(spark, sf_dir, "embeddings").where(~_is_new_col())
    )
    return cents, posting, base_norm


_IVF_INDEX_PARTS = ("cents", "posting", "base_norm")


def save_ivf_index(index: tuple, path: str) -> None:
    """Persist a build_ivf_base_index trio as parquet — the faiss
    write_index analogue (r11 epoch-artifact family): the k-row
    centroid codebook, the base posting lists, and the normed base
    embeddings for exact rerank, one directory per table. This is the
    'parquet-materialized index refreshed on retrain cadence' the
    build docstring promises, now executable: ingest workers load the
    index at startup instead of re-running sampled training + Lloyd
    steps per session. The posting/base_norm tables scale with the
    base corpus but are written once per retrain; the probe side
    (new vectors) never touches training cost."""
    for part, frame in zip(_IVF_INDEX_PARTS, index):
        frame.write.mode("overwrite").parquet(f"{path}/{part}")


def load_ivf_index(spark: SparkSession, path: str) -> tuple:
    """Load a persisted IVF index — the exact (cents, posting,
    base_norm) trio incremental_ann_match and ann_ingest_stream
    consume. load-then-match ≡ build-then-match ≡ the registered
    sim_ivf_incremental row is pinned in test_similarity_recall.py;
    the streaming twin probing a loaded index is pinned in
    test_streaming.py. `path` may be a direct artifact dir or an
    epoch root (r12: resolve_artifact_path picks the latest
    manifest-complete epoch)."""
    from projetbigdata_spark.operators.epochs import resolve_artifact_path

    path = resolve_artifact_path(spark, path)
    return tuple(
        spark.read.parquet(f"{path}/{part}") for part in _IVF_INDEX_PARTS
    )


def remove_from_ivf_index(index: tuple, tombstones: DataFrame) -> tuple:
    """faiss `remove_ids` analogue (VERDICT r11 item 4): honor
    deletions against a built or LOADED index without a rebuild — a
    takedown between retrains is routine in a crawl corpus, and until
    r12 the persisted index could only honor one by retraining.
    Tombstoned vec_ids are anti-joined out of the posting lists and
    the rerank table; the centroid codebook is untouched (faiss keeps
    the quantizer too — deletion never re-trains or re-buckets, so
    the posting lists stay exactly the rebuild-on-corpus-minus-deleted
    lists UNDER THE SAME CODEBOOK, the pinned equivalence in
    test_similarity_recall.py). Probe cost only shrinks; the balance
    drift deletions cause is visible by pointing posting_stats_frame
    at the returned posting (the registered base audit's frame core).

    Scale posture: two anti-joins on vec_id — broadcast when the
    tombstone set is takedown-sized (AQE does this), shuffled
    hash-joins when a backfill purge is corpus-shaped; nothing
    re-clusters, nothing re-sorts. `tombstones` is any frame with a
    vec_id column."""
    cents, posting, base_norm = index
    t = tombstones.select("vec_id")
    return (
        cents,
        posting.join(t, "vec_id", "left_anti"),
        base_norm.join(t, "vec_id", "left_anti"),
    )


def incremental_ann_match(
    new_micro: DataFrame,
    new_norm: DataFrame,
    cents: DataFrame,
    posting: DataFrame,
    base_norm: DataFrame,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """The shared new×old ANN probe: rank centroids per new vector
    (broadcast k-row fold), probe its nprobe posting lists (equi-join
    on cid), exact-cosine rerank against those base candidates only,
    top-5. Called by sim_ivf_incremental (batch) and
    streaming/jobs.ann_ingest_stream (per micro-batch) — batch ==
    streaming verdicts is the tested property, mirroring
    dedup's signatures_of/incremental_match split."""
    from pyspark.sql.window import Window

    # in-row top-nprobe (r13): the arrivals×k distance table and its
    # rank window are gone — same (d, cid) ordering, see _probe_inrow.
    # A no-signature arrival (NULL embedding) ranks all k centroids on
    # NULL distances in BOTH spellings (ties broken by cid alike); its
    # verdict rows are dropped by the norm filter below either way.
    probes = _probe_inrow(new_micro, cents, nprobe)
    cand = probes.join(posting, "cid").select("query_id", "vec_id")
    # drop zero/null-norm arrivals here, not in callers: a NULL qnorm
    # yields NULL cosines whose DESC ordering differs between engines
    # (Spark NULLS LAST vs DuckDB NULLS FIRST) — no-signature arrivals
    # get no verdict rows, the dedup_incremental convention
    q = new_norm.where(F.col("norm").isNotNull()).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        cand.join(base_norm, "vec_id")
        .join(q, "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("qe"), F.col("e"))
                / (F.col("qnorm") * F.col("norm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") <= TOP_K
    )


def sim_ivf_incremental(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_CENTROIDS,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """Incremental IVF ingest — the similarity twin of
    dedup_incremental: a deterministic 'new arrivals' slice
    (vec_id % 7 == 3, beyond the seed range so the codebook is
    unaffected) is searched against the EXISTING index without any
    retraining. The quantizer is trained on the BASE corpus's 20%
    sample only (faiss's frozen-codebook add path); base posting
    lists are built once; each new vector then pays exactly
    (a) one k-row broadcast fold to rank centroids, and
    (b) an equi-join probe into its nprobe posting lists + exact
    cosine rerank against those candidates ONLY — new x old, never
    new x new or a corpus rescan, which is what makes continuous
    embedding ingest at 100 TB a per-batch cost instead of a rebuild.
    Output: top-5 base neighbors per new vector (same schema as
    sim_ivf_topk). No broadcast hint on the arrivals side: a
    micro-batch is usually tiny (AQE broadcasts it), but a backfill
    batch can be corpus-sized and must be allowed to shuffle.

    Index build and probe are the shared build_ivf_base_index /
    incremental_ann_match cores, reused per-micro-batch by
    streaming/jobs.ann_ingest_stream — batch == streaming verdicts
    is pinned in tests/test_streaming.py.

    Dial sanity: the k=16/nprobe=4 defaults are FIXTURE values for the
    small registered corpus. At real corpus size n, size k ≈ sqrt(n)/2
    and nprobe ≈ k/16 (see the K_CENTROIDS note and SCALE.md's r4
    k-sweep: at n=100k the right dials are k=128/nprobe=8 — the
    fixture dials there would rerank 4x more candidates for the same
    recall). Both are plain parameters; pass them explicitly when
    copying this query into a deployment."""
    tune(spark)
    cents, posting, base_norm = build_ivf_base_index(spark, sf_dir, k)
    vec = _cached_micro_arr(spark, sf_dir)
    new_micro = vec.where(_is_new_col())
    new_norm = _with_norm(
        load_table(spark, sf_dir, "embeddings").where(_is_new_col())
    )
    return incremental_ann_match(
        new_micro, new_norm, cents, posting, base_norm, nprobe
    )


IVF_DELETE_MOD = 11  # deterministic tombstone slice for the
IVF_DELETE_REMAINDER = 5  # registered deleted-probe row: base vectors
# with vec_id % 11 == 5 are 'taken down' between retrains


def sim_ivf_incremental_deleted(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_CENTROIDS,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """sim_ivf_incremental probing a TOMBSTONED index (VERDICT r11
    item 4, the registered surface of remove_from_ivf_index): the
    deterministic takedown slice (base vec_id % 11 == 5) is removed
    from the built index — posting lists anti-joined, codebook frozen,
    exactly faiss remove_ids — and the same new-arrivals slice probes
    what remains. A deleted vector can never be returned as a
    neighbor; every other verdict shifts only where a deleted vector
    used to occupy a top-5 slot (the genuine-divergence law vs the
    undeleted row is pinned in test_similarity_recall.py, as is
    tombstone ≡ rebuild-on-corpus-minus-deleted under the same
    codebook).

    Plan: identical to sim_ivf_incremental plus one anti-join on
    vec_id before the probe — the deletion path adds no clustering,
    no sort, no extra corpus scan; at 100 TB a takedown batch is an
    anti-join against posting lists that were already on disk.
    Full oracle: the shared IVF_BASE_INDEX_PREFIX with the tombstone
    filter injected into the candidate CTE."""
    tune(spark)
    index = build_ivf_base_index(spark, sf_dir, k)
    tomb = index[1].where(
        F.col("vec_id") % IVF_DELETE_MOD == IVF_DELETE_REMAINDER
    )
    cents, posting, base_norm = remove_from_ivf_index(index, tomb)
    vec = _cached_micro_arr(spark, sf_dir)
    new_micro = vec.where(_is_new_col())
    new_norm = _with_norm(
        load_table(spark, sf_dir, "embeddings").where(_is_new_col())
    )
    return incremental_ann_match(
        new_micro, new_norm, cents, posting, base_norm, nprobe
    )


def sim_ivf_posting_stats_base(
    spark: SparkSession, sf_dir: str, k: int = K_CENTROIDS
) -> DataFrame:
    """posting_stats_frame over the PERSISTED-ARTIFACT index — the
    posting lists build_ivf_base_index materializes and save_ivf_index
    writes to disk (sampled-trained codebook, base-slice lists), which
    are NOT the full-corpus sim_ivf_topk lists the original audit row
    covers (ADVICE r11: the docstring claimed the persisted-index
    story while auditing the other tier). This row is the health
    check a deployment runs against the index it actually loads:
    same (cid, n_vecs, share_ppm, imbalance_ppm) schema, same remedy
    ladder, and after a takedown the same frame core reads the
    tombstoned lists (remove_from_ivf_index) so imbalance drift from
    deletions lands in the identical audit.

    Plan: the base-index build (broadcast k-row folds over the 20%
    training sample, one assignment pass over the base slice) +
    posting_stats_frame's 2-exchange stats core."""
    tune(spark)
    cents, posting, base_norm = build_ivf_base_index(spark, sf_dir, k)
    return posting_stats_frame(posting)


def _auto_k(n: int) -> int:
    """The SemDeDup/IVF centroid dial resolved from the corpus size:
    k ≈ √n/2, the midpoint-leaning end of the measured √n/4..√n/2 knee
    (SCALE.md r5 k-sweep: at 250k vectors k=16 costs 288s, k=128 42s,
    k=256 49s — auto lands at 250, inside the 42-70s band). Floor of 2
    so degenerate corpora still cluster."""
    return max(2, round(math.sqrt(n) / 2))


def dedup_semantic(
    spark: SparkSession,
    sf_dir: str,
    k: int | str = "auto",
    cos_th: float = COSINE_THRESHOLD,
) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023, the
    LAION/LLM-corpus recipe): cluster the embedding space with the
    k-means coarse quantizer, then search for near-duplicate pairs
    ONLY within each cluster — the clustering turns the O(n²) semantic
    near-dup problem into sum-over-clusters of |cluster|², which is
    what makes embedding-level dedup tractable at corpus scale. Output
    is the DROP list: (vec_id, dup_of, cid, cosine) — one row per
    vector that has a lower-id cluster-mate with cosine >= cos_th,
    keeping the lowest id as canonical (deterministic min-struct, the
    dedup_exact keep_id convention). Pairs split across clusters are
    missed by design — that is SemDeDup's recall trade, bounded by the
    same geometry as IVF nprobe=1.

    Plan shape: the Lloyd tier is the shared sim_ivf_topk code
    (broadcast k-row centroid crossJoin + in-row integer folds, 2
    unrolled iterations, oracle-exact); the within-cluster self-join
    reads ONE repartition('cid')-materialized frame (no per-side
    exchange, the ReuseExchange idiom), and the only wide rows
    shuffled are |near-dup pairs|. At 100 TB: cluster count scales as
    sqrt(n) (K_CENTROIDS note above), clusters are the partition unit,
    and a skewed mega-cluster is the known failure mode — SemDeDup
    handles it by raising k, not by a different algorithm.

    THE k DIAL IS MANDATORY AT SCALE, so the DEFAULT now auto-dials
    (VERDICT r5 item 1, the df_cap="auto" precedent): pair work is
    Σ|cluster|² ≈ n²/k, and a fixture constant inherited silently at
    corpus scale goes quadratic — measured at 250k vectors, k=16
    costs 288s where k=128 costs 42s with a bit-identical drop list,
    and k=256 starts handing the win back to the Lloyd tier (cost ∝
    n·k). k="auto" resolves to ≈ √n/2 from a count() over the id
    column — a column-pruned scan job, cheap relative to the pair
    stage it sizes, though not free
    (k ≈ √n/4..√n/2 is the measured knee — SCALE.md §sf5 soak,
    r5 + r6 k-sweeps — exactly the sim_ivf_incremental dial family).
    The REGISTERED query pins k=K_CENTROIDS=16 explicitly so the
    static oracle's seed range stays exact; only library callers get
    the auto resolution.

    Beyond-reference operator (the training-data-pipeline tier): the
    reference has no dedup stage; this completes the dedup ladder
    (exact -> shingle/minhash -> embedding-cosine -> semantic)."""
    tune(spark)
    vec = _cached_micro_arr(spark, sf_dir)
    if k == "auto":
        k = _auto_k(load_table(spark, sf_dir, "embeddings").count())
    cents = _train_centroids(vec, k)
    assign = _assign_inrow(vec, cents).select("vec_id", "cid")
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    m = (
        assign.join(emb, "vec_id")
        .repartition("cid")
        .localCheckpoint(eager=False)
    )
    a = m.select(
        F.col("vec_id").alias("keep_id"),
        "cid",
        F.col("e").alias("ea"),
        F.col("norm").alias("na"),
    )
    b = m.select(
        "vec_id", "cid", F.col("e").alias("eb"), F.col("norm").alias("nb")
    )
    cos = F.round(
        _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
    )
    pairs = (
        a.join(b, "cid")
        .where(F.col("keep_id") < F.col("vec_id"))
        .select("vec_id", "keep_id", "cid", cos.alias("cosine"))
        .where(F.col("cosine") >= cos_th)
    )
    best = F.min(F.struct("keep_id", "cid", "cosine")).alias("best")
    return pairs.groupBy("vec_id").agg(best).select(
        "vec_id",
        F.col("best.keep_id").alias("dup_of"),
        F.col("best.cid").alias("cid"),
        F.col("best.cosine").alias("cosine"),
    )


def _ivf_assign_cte(tag: str, cents: str, vecs: str = "v") -> str:
    """One unrolled Lloyd assignment as DuckDB CTE text (over `vecs` —
    the full table or the sampled training slice)."""
    return f"""
d{tag} AS (
    SELECT {vecs}.vec_id, c.cid, sum((xs - ms) * (xs - ms)) AS d
    FROM {vecs} JOIN {cents} c USING (dim)
    GROUP BY 1, 2
),
a{tag} AS (
    SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d{tag}) WHERE rn = 1
)"""


# the full-corpus-trained Lloyd tier (seeded codebook, 2 unrolled
# iterations, final assignment a3) as a reusable oracle prefix —
# factored r11 so the posting-stats audit shares it byte-identically
# with IVF_SQL (which nests, unchanged, into the MMR/RRF oracles)
IVF_LLOYD_PREFIX = f"""
WITH v AS (
    SELECT vec_id, dim - 1 AS dim,
           CAST(round(CAST(x AS DOUBLE) * {MICRO}) AS BIGINT) AS xs
    FROM embeddings,
         LATERAL (SELECT unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS dim)
),
c0 AS (
    SELECT CAST(vec_id - {SEED_LO} AS INT) AS cid, dim, xs AS ms
    FROM v WHERE vec_id >= {SEED_LO} AND vec_id < {SEED_HI}
),
{_ivf_assign_cte("1", "c0")},
c1 AS (
    SELECT cid, dim,
           CAST(round(CAST(sum(xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM v JOIN a1 USING (vec_id) GROUP BY 1, 2
),
{_ivf_assign_cte("2", "c1")},
c2 AS (
    SELECT cid, dim,
           CAST(round(CAST(sum(xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM v JOIN a2 USING (vec_id) GROUP BY 1, 2
),
{_ivf_assign_cte("3", "c2")}"""

IVF_SQL = IVF_LLOYD_PREFIX + f""",
qp AS (
    SELECT vec_id AS query_id, cid FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY sum((xs - ms) * (xs - ms)),
                                           c.cid) AS pr
        FROM v JOIN c2 c USING (dim)
        WHERE v.vec_id < {N_QUERIES}
        GROUP BY v.vec_id, c.cid) WHERE pr <= {N_PROBE}
),
cand AS (
    SELECT qp.query_id, a3.vec_id
    FROM qp JOIN a3 USING (cid)
    WHERE a3.vec_id <> qp.query_id
),
nv AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
    FROM embeddings
),
scored AS (
    SELECT cand.query_id, cand.vec_id AS neighbor_id,
           round(list_dot_product(q.e, n.e) / (q.norm * n.norm), 6) AS cosine
    FROM cand
    JOIN nv n ON n.vec_id = cand.vec_id
    JOIN nv q ON q.vec_id = cand.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS INT)
           AS rnk
FROM scored
QUALIFY rnk <= {TOP_K}
"""


def posting_stats_frame(posting: DataFrame) -> DataFrame:
    """IVF index-health audit over ANY posting/assignment frame with a
    `cid` column — faiss's `imbalance_factor` computed from the lists
    themselves, so callers can point it at whichever index they are
    about to probe: the full-corpus sim_ivf_topk tier (the registered
    sim_ivf_posting_stats row), the persisted base-index artifact
    (sim_ivf_posting_stats_base — build_ivf_base_index's posting, the
    table save_ivf_index writes), or a load_ivf_index /
    remove_from_ivf_index result (ADVICE r11: the audit used to be
    hard-wired to the full-corpus tier while claiming to cover the
    on-disk artifact). Per occupied centroid:

      (cid, n_vecs, share_ppm, imbalance_ppm)

    where share_ppm = the posting list's corpus share on the exact
    ppm grid, and imbalance_ppm = k_occupied · Σ sz² · 1e6 div n² —
    the relative variance of probe cost repeated on every row
    (1e6 = perfectly balanced; faiss prints the same statistic after
    training, over nominal nlist; this row-set spelling uses OCCUPIED
    cells because empty cells emit no rows — documented, and at
    k ≈ √n/2 dials the distinction is cells with zero mass a probe
    never visits).

    Plan: one |k|-row hash-agg over the posting frame + a broadcast
    1-row totals fold — 2-exchange budget; the integer sum-of-squares
    widens through DECIMAL(38,0) (sz² reaches 1e20 at 1e10-vector
    lists)."""
    sizes = (
        posting.groupBy("cid")
        .agg(F.count("*").cast("bigint").alias("n_vecs"))
        .localCheckpoint(eager=False)  # consumed by totals AND rows
    )
    tot = sizes.agg(
        F.sum("n_vecs").cast("bigint").alias("n_total"),
        F.count("*").cast("bigint").alias("k_occupied"),
        F.expr(
            "CAST(sum(CAST(n_vecs AS DECIMAL(38,0)) * n_vecs)"
            " AS DECIMAL(38,0))"
        ).alias("sq_total"),
    )
    return sizes.crossJoin(F.broadcast(tot)).select(
        "cid",
        "n_vecs",
        F.expr(
            "CAST((CAST(n_vecs AS DECIMAL(38,0)) * 1000000)"
            " div n_total AS BIGINT)"
        ).alias("share_ppm"),
        F.expr(
            "CAST((k_occupied * sq_total * 1000000)"
            " div (CAST(n_total AS DECIMAL(38,0)) * n_total) AS BIGINT)"
        ).alias("imbalance_ppm"),
    )


def sim_ivf_posting_stats(
    spark: SparkSession, sf_dir: str, k: int = K_CENTROIDS
) -> DataFrame:
    """posting_stats_frame over the FULL-CORPUS-trained sim_ivf_topk
    index (seeded codebook + 2 full-corpus Lloyd steps over all
    vectors, byte-identical oracle prefix via IVF_LLOYD_PREFIX) — the
    health check for the in-session exact-recall tier. Note this is
    NOT the artifact save_ivf_index persists (that is
    build_ivf_base_index's sampled-trained, base-slice index —
    audited by its own registered row, sim_ivf_posting_stats_base);
    the two tiers' posting lists genuinely differ and each gets its
    own audit (ADVICE r11).

    Why a 100 TB deployment reads this before probing: IVF probe cost
    is Σ over probed lists of |list| — a hot centroid (imbalance >> 1)
    means every nprobe query that ranks it pays the mega-list scan,
    the exact analogue of the dedup hot-bucket tail (bucket_cap dial).
    The remedy ladder is the documented one: raise k, re-seed, or
    split the hot cell — all visible from this frame alone.

    Plan: the shared Lloyd tier (broadcast k-row centroid folds, 2
    unrolled steps) + posting_stats_frame's |k|-row agg + broadcast
    totals — nothing new shuffles beyond the 2-exchange stats core."""
    tune(spark)
    vec = _cached_micro_arr(spark, sf_dir)
    cents = _train_centroids(vec, k)
    return posting_stats_frame(
        _assign_inrow(vec, cents).select("vec_id", "cid")
    )


# the stats fold as oracle tail text over an `a3` assignment CTE —
# shared byte-identically by the full-corpus audit (IVF_LLOYD_PREFIX)
# and the base-artifact audit (IVF_BASE_INDEX_PREFIX), the r12
# factoring convention
IVF_POSTING_STATS_TAIL = """,
sizes AS (
    SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs FROM a3 GROUP BY cid
),
tot AS (
    SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS k_occupied,
           sum(n_vecs::HUGEINT * n_vecs) AS sq_total
    FROM sizes
)
SELECT s.cid, s.n_vecs,
       CAST((s.n_vecs::HUGEINT * 1000000) // t.n_total AS BIGINT)
           AS share_ppm,
       CAST((t.k_occupied::HUGEINT * t.sq_total * 1000000)
            // (t.n_total::HUGEINT * t.n_total) AS BIGINT)
           AS imbalance_ppm
FROM sizes s, tot t
"""

IVF_POSTING_STATS_SQL = IVF_LLOYD_PREFIX + IVF_POSTING_STATS_TAIL


IVF_SAMPLED_SQL = f"""
WITH v AS (
    SELECT vec_id, dim - 1 AS dim,
           CAST(round(CAST(x AS DOUBLE) * {MICRO}) AS BIGINT) AS xs
    FROM embeddings,
         LATERAL (SELECT unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS dim)
),
vs AS (SELECT * FROM v WHERE vec_id % {IVF_SAMPLE_MOD} = 0),
c0 AS (
    SELECT CAST(vec_id - {SEED_LO} AS INT) AS cid, dim, xs AS ms
    FROM v WHERE vec_id >= {SEED_LO} AND vec_id < {SEED_HI}
),
{_ivf_assign_cte("1", "c0", "vs")},
c1 AS (
    SELECT cid, dim,
           CAST(round(CAST(sum(xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM vs JOIN a1 USING (vec_id) GROUP BY 1, 2
),
{_ivf_assign_cte("2", "c1", "vs")},
c2 AS (
    SELECT cid, dim,
           CAST(round(CAST(sum(xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM vs JOIN a2 USING (vec_id) GROUP BY 1, 2
),
{_ivf_assign_cte("3", "c2")},
qp AS (
    SELECT vec_id AS query_id, cid FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY sum((xs - ms) * (xs - ms)),
                                           c.cid) AS pr
        FROM v JOIN c2 c USING (dim)
        WHERE v.vec_id < {N_QUERIES}
        GROUP BY v.vec_id, c.cid) WHERE pr <= {N_PROBE}
),
cand AS (
    SELECT qp.query_id, a3.vec_id
    FROM qp JOIN a3 USING (cid)
    WHERE a3.vec_id <> qp.query_id
),
nv AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
    FROM embeddings
),
scored AS (
    SELECT cand.query_id, cand.vec_id AS neighbor_id,
           round(list_dot_product(q.e, n.e) / (q.norm * n.norm), 6) AS cosine
    FROM cand
    JOIN nv n ON n.vec_id = cand.vec_id
    JOIN nv q ON q.vec_id = cand.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS INT)
           AS rnk
FROM scored
QUALIFY rnk <= {TOP_K}
"""


# the base-corpus index build (sampled training, base-slice posting
# lists a3, plus the vn arrivals slice) as a reusable oracle prefix —
# factored r12 so the incremental probe, the tombstoned probe
# (sim_ivf_incremental_deleted), and the base-artifact health audit
# (sim_ivf_posting_stats_base) share it byte-identically; this is the
# SQL twin of build_ivf_base_index, i.e. of the artifact
# save_ivf_index persists
IVF_BASE_INDEX_PREFIX = f"""
WITH v AS (
    SELECT vec_id, dim - 1 AS dim,
           CAST(round(CAST(x AS DOUBLE) * {MICRO}) AS BIGINT) AS xs
    FROM embeddings,
         LATERAL (SELECT unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS dim)
),
vb AS (SELECT * FROM v
       WHERE NOT (vec_id % {NEW_MOD} = {NEW_REMAINDER}
                  AND vec_id >= {SEED_HI})),
vn AS (SELECT * FROM v
       WHERE vec_id % {NEW_MOD} = {NEW_REMAINDER}
         AND vec_id >= {SEED_HI}),
vs AS (SELECT * FROM vb WHERE vec_id % {IVF_SAMPLE_MOD} = 0),
c0 AS (
    SELECT CAST(vec_id - {SEED_LO} AS INT) AS cid, dim, xs AS ms
    FROM v WHERE vec_id >= {SEED_LO} AND vec_id < {SEED_HI}
),
{_ivf_assign_cte("1", "c0", "vs")},
c1 AS (
    SELECT cid, dim,
           CAST(round(CAST(sum(xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM vs JOIN a1 USING (vec_id) GROUP BY 1, 2
),
{_ivf_assign_cte("2", "c1", "vs")},
c2 AS (
    SELECT cid, dim,
           CAST(round(CAST(sum(xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM vs JOIN a2 USING (vec_id) GROUP BY 1, 2
),
{_ivf_assign_cte("3", "c2", "vb")}"""


def _ivf_incr_probe_sql(cand_where: str = "") -> str:
    """The new×base probe as oracle tail text over the base-index
    prefix; `cand_where` injects the tombstone filter for the deleted
    variant (an anti-filter on the posting lists — the exact SQL twin
    of remove_from_ivf_index's anti-join)."""
    return f""",
qp AS (
    SELECT vec_id AS query_id, cid FROM (
        SELECT vn.vec_id, c.cid,
               row_number() OVER (PARTITION BY vn.vec_id
                                  ORDER BY sum((xs - ms) * (xs - ms)),
                                           c.cid) AS pr
        FROM vn JOIN c2 c USING (dim)
        GROUP BY vn.vec_id, c.cid) WHERE pr <= {N_PROBE}
),
cand AS (
    SELECT qp.query_id, a3.vec_id
    FROM qp JOIN a3 USING (cid){cand_where}
),
nv AS (
    -- NULLIF mirrors the Spark side's _with_norm (norm is NULL, not
    -- 0, for zero/empty vectors), and the q.norm IS NOT NULL filter
    -- below mirrors incremental_ann_match's arrival drop: a zero-norm
    -- new vector gets NO verdict rows in either engine, instead of up
    -- to TOP_K NULL-cosine rows here only.
    SELECT vec_id, embedding::DOUBLE[] AS e,
           NULLIF(sqrt(list_dot_product(embedding::DOUBLE[],
                                        embedding::DOUBLE[])), 0)
               AS norm
    FROM embeddings
),
scored AS (
    SELECT cand.query_id, cand.vec_id AS neighbor_id,
           round(list_dot_product(q.e, n.e) / (q.norm * n.norm), 6) AS cosine
    FROM cand
    JOIN nv n ON n.vec_id = cand.vec_id
    JOIN nv q ON q.vec_id = cand.query_id
    WHERE q.norm IS NOT NULL
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS INT)
           AS rnk
FROM scored
QUALIFY rnk <= {TOP_K}
"""


IVF_INCREMENTAL_SQL = IVF_BASE_INDEX_PREFIX + _ivf_incr_probe_sql()

IVF_INCREMENTAL_DELETED_SQL = IVF_BASE_INDEX_PREFIX + _ivf_incr_probe_sql(
    f"\n    WHERE NOT (a3.vec_id % {IVF_DELETE_MOD}"
    f" = {IVF_DELETE_REMAINDER})"
)

IVF_POSTING_STATS_BASE_SQL = IVF_BASE_INDEX_PREFIX + IVF_POSTING_STATS_TAIL


SEMDEDUP_SQL = f"""
WITH v AS (
    SELECT vec_id, dim - 1 AS dim,
           CAST(round(CAST(x AS DOUBLE) * {MICRO}) AS BIGINT) AS xs
    FROM embeddings,
         LATERAL (SELECT unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS dim)
),
c0 AS (
    SELECT CAST(vec_id - {SEED_LO} AS INT) AS cid, dim, xs AS ms
    FROM v WHERE vec_id >= {SEED_LO} AND vec_id < {SEED_HI}
),
{_ivf_assign_cte("1", "c0")},
c1 AS (
    SELECT cid, dim,
           CAST(round(CAST(sum(xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM v JOIN a1 USING (vec_id) GROUP BY 1, 2
),
{_ivf_assign_cte("2", "c1")},
c2 AS (
    SELECT cid, dim,
           CAST(round(CAST(sum(xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM v JOIN a2 USING (vec_id) GROUP BY 1, 2
),
{_ivf_assign_cte("3", "c2")},
nv AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
    FROM embeddings
),
m AS (
    SELECT a3.vec_id, a3.cid, nv.e, nv.norm
    FROM a3 JOIN nv USING (vec_id)
),
pairs AS (
    SELECT b.vec_id, a.vec_id AS keep_id, a.cid,
           round(list_dot_product(a.e, b.e) / (a.norm * b.norm), 6)
               AS cosine
    FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.e, b.e) / (a.norm * b.norm), 6)
          >= {COSINE_THRESHOLD}
)
SELECT vec_id,
       arg_min(keep_id, keep_id) AS dup_of,
       arg_min(cid, keep_id) AS cid,
       arg_min(cosine, keep_id) AS cosine
FROM pairs
GROUP BY vec_id
"""


PQ_M = 8  # subspaces (64 dims -> 8 x 8)
PQ_SUB_DIM = 8
PQ_K = 16  # codewords per subspace — fixture dial; deployments use 256
# (the faiss PQx8 default) with the same train/encode/ADC dataflow
PQ_SHORTLIST = 100  # ADC candidates per query kept for the exact
# rerank (faiss k_factor=20 × TOP_K; the recall dial — see SCALE.md)


def _pq_subvectors(vec: DataFrame, m: int = PQ_M) -> DataFrame:
    """(vec_id, sub, sxs): the m micro-unit subvectors of each vector,
    sliced IN-ROW (inline of an m-struct array — no posexplode of the
    64 dims; rows = n·m, each carrying a 64/m-wide array)."""
    sub_dim = 64 // m
    subs = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("sub"),
                F.slice("xs", i * sub_dim + 1, sub_dim).alias("sxs"),
            )
            for i in range(m)
        ]
    )
    return vec.select("vec_id", F.inline(subs))


def _pq_assign(subv: DataFrame, book: DataFrame) -> DataFrame:
    """(vec_id, sub, code): nearest codeword per subvector — join on
    sub against the broadcast M·K-row codebook, exact integer sqdist
    folded in-row, argmin with code tiebreak."""
    d = subv.join(F.broadcast(book), "sub").select(
        "vec_id", "sub", "code", _sqdist(F.col("sxs"), F.col("ms")).alias("d")
    )
    return (
        d.groupBy("vec_id", "sub")
        .agg(F.min(F.struct("d", "code")).alias("best"))
        .select("vec_id", "sub", F.col("best").getField("code").alias("code"))
    )


def _pq_update(subv: DataFrame, assign: DataFrame) -> DataFrame:
    """(sub, code, ms): per-dim means of the assigned subvectors,
    re-quantized and regrouped to array form (the _lloyd_update idiom
    per subspace; codewords that lose every member drop out, exactly
    as the oracle's GROUP BY does)."""
    long = subv.join(assign, ["vec_id", "sub"]).select(
        "sub", "code", F.posexplode("sxs").alias("sdim", "x")
    )
    means = long.groupBy("sub", "code", "sdim").agg(
        F.round(F.sum("x").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("ms")
    )
    return means.groupBy("sub", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sdim", "ms"))),
            lambda s: s.ms,
        ).alias("ms")
    )


def _book_rows(book: DataFrame) -> DataFrame:
    """(sub, bs): the codebook regrouped to one row PER SUBSPACE, each
    carrying its K codewords as an array of (code, ms) structs sorted
    by code — the broadcastable form for in-row PQ assignment (the
    _cents_row idiom per subspace; M·K rows total, tiny)."""
    return book.groupBy("sub").agg(
        F.array_sort(F.collect_list(F.struct("code", "ms"))).alias("bs")
    )


def _pq_assign_inrow(subv: DataFrame, book: DataFrame) -> DataFrame:
    """(vec_id, sub, sxs, code): nearest codeword per subvector via an
    in-row fold over the broadcast per-subspace codeword array (r13):
    the n·M·K distance rows and their groupBy argmin are gone — one
    broadcast-hash join on sub, distances folded per row, array_min's
    lexicographic (d, code) ordering identical to the long form's
    F.min(F.struct("d", "code")) tiebreak. Carries sxs through so the
    mean update needs no join back. A subspace absent from the book
    drops its rows in both spellings (inner join on sub)."""
    best = F.array_min(
        F.transform(
            F.col("bs"),
            lambda b: F.struct(
                _sqdist(F.col("sxs"), b["ms"]).alias("d"),
                b["code"].alias("code"),
            ),
        )
    )
    return subv.join(F.broadcast(_book_rows(book)), "sub").select(
        "vec_id", "sub", "sxs", best["code"].alias("code")
    )


def _pq_step(subv: DataFrame, book: DataFrame) -> DataFrame:
    """One PQ Lloyd iteration (assign + per-subspace mean update) over
    the in-row assignment — the _lloyd_step twin: only the two
    mean-update aggs (M·K·sub_dim output) shuffle. Arithmetic
    identical to _pq_update(subv, _pq_assign(subv, book))."""
    assigned = _pq_assign_inrow(subv, book)
    long = assigned.select(
        "sub", "code", F.posexplode("sxs").alias("sdim", "x")
    )
    means = long.groupBy("sub", "code", "sdim").agg(
        F.round(F.sum("x").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("ms")
    )
    return means.groupBy("sub", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sdim", "ms"))),
            lambda s: s.ms,
        ).alias("ms")
    )


def sim_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    m: int = PQ_M,
    k_codes: int = PQ_K,
    shortlist: int = PQ_SHORTLIST,
) -> DataFrame:
    """Product-quantization ANN with exact refine (the faiss
    IndexPQ + IndexRefineFlat dataflow): split each 64-dim vector into
    M=8 8-dim subvectors, train a K=16-word codebook PER SUBSPACE
    (seeded integer Lloyd, 2 unrolled iterations — the sim_ivf_topk
    trainer applied per subspace), ENCODE every vector as M small
    codes, answer each query by ADC (a |queries|·M·K-row lookup table
    of query-subvector × codeword dot products, summed over the
    vector's codes — exact bigint micro² arithmetic), keep the top
    PQ_SHORTLIST=100 per query, then EXACT-cosine rerank the shortlist
    to the final top-5. Same output schema as the other ANN tiers
    (query_id, neighbor_id, cosine, rnk) — approximate CANDIDATES,
    exact ARITHMETIC end-to-end, so the oracle hash-matches.

    WHY PQ at 100 TB: after encoding, the candidate scan never touches
    the original vectors — each vector is M small ints (8 codes ≈ 8
    bytes vs 256 bytes of float32, a 32× compression), so the ADC
    stage streams the skinny codes table against a BROADCAST lut, and
    only |queries|·50 shortlist rows ever load real vectors for the
    rerank. IVF bounds candidates, PQ bounds bytes — compose them
    (IVF-PQ) by running this encode inside each posting list. Recall
    vs the exact brute force is gated in test_similarity_recall.py
    (raw un-reranked ADC@5 sits near 0.1 at these tiny dials — the
    refine stage is load-bearing, which is exactly why faiss ships
    PQ behind a refinement wrapper at small M·K).

    Scale posture: training is M broadcast-join Lloyd passes over the
    n·M subvector frame (sampled-training composes exactly like
    sim_ivf_sampled_topk); encoding is one broadcast join; the ADC
    scan shuffles only (query, vec) partial sums; rerank touches
    candidates only. No pairwise vector×vector work anywhere."""
    from pyspark.sql.window import Window

    tune(spark)
    vec = _cached_micro_arr(spark, sf_dir)
    subv = _pq_subvectors(vec, m).localCheckpoint(eager=False)
    book = subv.where(
        (F.col("vec_id") >= SEED_LO) & (F.col("vec_id") < SEED_LO + k_codes)
    ).select(
        "sub",
        (F.col("vec_id") - SEED_LO).cast("int").alias("code"),
        F.col("sxs").alias("ms"),
    )
    for _ in range(2):  # unrolled in the oracle
        book = _pq_step(subv, book).localCheckpoint()
    codes = _pq_assign_inrow(subv, book).select("vec_id", "sub", "code")
    lut = (
        subv.where(F.col("vec_id") < N_QUERIES)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(book), "sub")
        .select(
            "query_id",
            "sub",
            "code",
            F.aggregate(
                F.zip_with(
                    F.col("sxs"), F.col("ms"), lambda x, m: x * m
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("pdot"),
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pdot").cast("bigint").alias("adc"))
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), "neighbor_id"
    )
    short = (
        adc.withColumn("sr", F.row_number().over(ws))
        .where(F.col("sr") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    return _exact_cosine_rerank(spark, sf_dir, short)


def _exact_cosine_rerank(
    spark: SparkSession, sf_dir: str, pairs: DataFrame
) -> DataFrame:
    """Exact-cosine top-5 over a (query_id, neighbor_id) candidate
    frame — the shared refine tail of the PQ tiers (and the same
    candidates-only posture as _ivf_search's rerank)."""
    from pyspark.sql.window import Window

    nv = _with_norm(load_table(spark, sf_dir, "embeddings"))
    qv = nv.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        pairs.join(
            nv.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        )
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qe"), F.col("e"))
                / (F.col("qnorm") * F.col("norm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def _pq_assign_cte(tag: str, book: str, prefix: str = "a") -> str:
    return f"""{prefix}{tag} AS (
    SELECT vec_id, sub, code FROM (
        SELECT s.vec_id, s.sub, b.code,
               row_number() OVER (PARTITION BY s.vec_id, s.sub
                                  ORDER BY sum((s.xs - b.ms) * (s.xs - b.ms)),
                                           b.code) AS pr
        FROM sv s JOIN {book} b
          ON s.sub = b.sub AND s.sdim = b.sdim
        GROUP BY s.vec_id, s.sub, b.code) WHERE pr = 1)"""


PQ_SQL = f"""
WITH v AS (
    SELECT vec_id, dim - 1 AS dim,
           CAST(round(CAST(x AS DOUBLE) * {MICRO}) AS BIGINT) AS xs
    FROM embeddings,
         LATERAL (SELECT unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS dim)
),
sv AS (
    SELECT vec_id, dim // {PQ_SUB_DIM} AS sub, dim % {PQ_SUB_DIM} AS sdim,
           xs
    FROM v
),
b0 AS (
    SELECT sub, CAST(vec_id - {SEED_LO} AS INT) AS code, sdim, xs AS ms
    FROM sv WHERE vec_id >= {SEED_LO} AND vec_id < {SEED_LO + PQ_K}
),
{_pq_assign_cte("1", "b0")},
b1 AS (
    SELECT s.sub, a.code, s.sdim,
           CAST(round(CAST(sum(s.xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM sv s JOIN a1 a ON s.vec_id = a.vec_id AND s.sub = a.sub
    GROUP BY 1, 2, 3
),
{_pq_assign_cte("2", "b1")},
b2 AS (
    SELECT s.sub, a.code, s.sdim,
           CAST(round(CAST(sum(s.xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM sv s JOIN a2 a ON s.vec_id = a.vec_id AND s.sub = a.sub
    GROUP BY 1, 2, 3
),
{_pq_assign_cte("3", "b2")},
lut AS (
    SELECT s.vec_id AS query_id, b.sub, b.code,
           CAST(sum(s.xs * b.ms) AS BIGINT) AS pdot
    FROM sv s JOIN b2 b ON s.sub = b.sub AND s.sdim = b.sdim
    WHERE s.vec_id < {N_QUERIES}
    GROUP BY 1, 2, 3
),
adc AS (
    SELECT l.query_id, a3.vec_id AS neighbor_id,
           CAST(sum(l.pdot) AS BIGINT) AS adc
    FROM a3 JOIN lut l ON a3.sub = l.sub AND a3.code = l.code
    WHERE a3.vec_id <> l.query_id
    GROUP BY 1, 2
),
shortlist AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc DESC, neighbor_id) AS sr
        FROM adc) WHERE sr <= {PQ_SHORTLIST}
),
nv AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
    FROM embeddings
),
scored AS (
    SELECT s.query_id, s.neighbor_id,
           round(list_dot_product(q.e, n.e) / (q.norm * n.norm), 6)
               AS cosine
    FROM shortlist s
    JOIN nv n ON n.vec_id = s.neighbor_id
    JOIN nv q ON q.vec_id = s.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS INT)
           AS rnk
FROM scored
QUALIFY rnk <= {TOP_K}
"""


def sim_ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = K_CENTROIDS,
    nprobe: int = N_PROBE,
    m: int = PQ_M,
    k_codes: int = PQ_K,
    shortlist: int = PQ_SHORTLIST,
) -> DataFrame:
    """IVF-PQ — the two ANN tiers COMPOSED, which is what actually
    ships at billion-vector scale (faiss IndexIVFPQ, here in its
    by_residual=false mode — codebooks trained on raw vectors, not
    cell residuals, so both tiers reuse this module's oracle-checked
    trainers verbatim): the IVF coarse quantizer bounds WHICH vectors
    are candidates (nprobe posting lists per query — never a corpus
    scan), PQ bounds the BYTES per candidate (M codes ≈ 8 bytes, ADC
    against a broadcast lookup table — raw vectors untouched), and the
    exact-cosine refine of the top-`shortlist` closes the recall gap.
    Search cost: |probed postings| skinny code rows + |queries|·100
    real-vector loads, independent of corpus bytes.

    Everything is the shared machinery: _train_centroids (IVF
    trainer), _pq_subvectors/_pq_update/_pq_assign (PQ trainer),
    _exact_cosine_rerank (refine) — and the oracle composes the same
    two unrolled-CTE blocks with the PQ assignment prefixed pa* to
    keep the namespaces apart."""
    from pyspark.sql.window import Window

    tune(spark)
    vec = _cached_micro_arr(spark, sf_dir)
    subv = _pq_subvectors(vec, m).localCheckpoint(eager=False)

    # The coarse-IVF and PQ trainers are INDEPENDENT eager-checkpoint
    # chains (3 + 2 small jobs) that used to run strictly one after
    # the other only because this function built them sequentially —
    # guide §2.6 "overlap independent jobs": two driver threads let
    # the scheduler back-fill each chain's per-job tail with the
    # other's tasks. Results are untouched (the chains share only the
    # persisted vec/subv frames, which are read-only here).
    def _train_coarse() -> tuple[DataFrame, DataFrame]:
        cents = _train_centroids(vec, k)
        # shared 1-row centroid frame: posting + probes
        return cents, _cents_row(cents).localCheckpoint()

    def _train_pq() -> DataFrame:
        book = subv.where(
            (F.col("vec_id") >= SEED_LO)
            & (F.col("vec_id") < SEED_LO + k_codes)
        ).select(
            "sub",
            (F.col("vec_id") - SEED_LO).cast("int").alias("code"),
            F.col("sxs").alias("ms"),
        )
        for _ in range(2):
            book = _pq_step(subv, book).localCheckpoint()
        return book

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        coarse_f = pool.submit(_train_coarse)
        book_f = pool.submit(_train_pq)
        cents, crow = coarse_f.result()
        book = book_f.result()

    posting = _assign_inrow(vec, cents, crow=crow).select("vec_id", "cid")
    probes = _probe_inrow(
        vec.where(F.col("vec_id") < N_QUERIES), cents, nprobe, crow=crow
    )
    cand = (
        probes.join(posting, "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    codes = _pq_assign_inrow(subv, book).select("vec_id", "sub", "code")
    lut = (
        subv.where(F.col("vec_id") < N_QUERIES)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(book), "sub")
        .select(
            "query_id",
            "sub",
            "code",
            F.aggregate(
                F.zip_with(F.col("sxs"), F.col("ms"), lambda x, c: x * c),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("pdot"),
        )
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pdot").cast("bigint").alias("adc"))
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), "neighbor_id"
    )
    short = (
        adc.withColumn("sr", F.row_number().over(ws))
        .where(F.col("sr") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    return _exact_cosine_rerank(spark, sf_dir, short)


IVFPQ_SQL = f"""
WITH v AS (
    SELECT vec_id, dim - 1 AS dim,
           CAST(round(CAST(x AS DOUBLE) * {MICRO}) AS BIGINT) AS xs
    FROM embeddings,
         LATERAL (SELECT unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS dim)
),
c0 AS (
    SELECT CAST(vec_id - {SEED_LO} AS INT) AS cid, dim, xs AS ms
    FROM v WHERE vec_id >= {SEED_LO} AND vec_id < {SEED_HI}
),
{_ivf_assign_cte("1", "c0")},
c1 AS (
    SELECT cid, dim,
           CAST(round(CAST(sum(xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM v JOIN a1 USING (vec_id) GROUP BY 1, 2
),
{_ivf_assign_cte("2", "c1")},
c2 AS (
    SELECT cid, dim,
           CAST(round(CAST(sum(xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM v JOIN a2 USING (vec_id) GROUP BY 1, 2
),
{_ivf_assign_cte("3", "c2")},
qp AS (
    SELECT vec_id AS query_id, cid FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY sum((xs - ms) * (xs - ms)),
                                           c.cid) AS pr
        FROM v JOIN c2 c USING (dim)
        WHERE v.vec_id < {N_QUERIES}
        GROUP BY v.vec_id, c.cid) WHERE pr <= {N_PROBE}
),
cand AS (
    SELECT qp.query_id, a3.vec_id
    FROM qp JOIN a3 USING (cid)
    WHERE a3.vec_id <> qp.query_id
),
sv AS (
    SELECT vec_id, dim // {PQ_SUB_DIM} AS sub, dim % {PQ_SUB_DIM} AS sdim,
           xs
    FROM v
),
b0 AS (
    SELECT sub, CAST(vec_id - {SEED_LO} AS INT) AS code, sdim, xs AS ms
    FROM sv WHERE vec_id >= {SEED_LO} AND vec_id < {SEED_LO + PQ_K}
),
{_pq_assign_cte("1", "b0", "pa")},
b1 AS (
    SELECT s.sub, a.code, s.sdim,
           CAST(round(CAST(sum(s.xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM sv s JOIN pa1 a ON s.vec_id = a.vec_id AND s.sub = a.sub
    GROUP BY 1, 2, 3
),
{_pq_assign_cte("2", "b1", "pa")},
b2 AS (
    SELECT s.sub, a.code, s.sdim,
           CAST(round(CAST(sum(s.xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM sv s JOIN pa2 a ON s.vec_id = a.vec_id AND s.sub = a.sub
    GROUP BY 1, 2, 3
),
{_pq_assign_cte("3", "b2", "pa")},
lut AS (
    SELECT s.vec_id AS query_id, b.sub, b.code,
           CAST(sum(s.xs * b.ms) AS BIGINT) AS pdot
    FROM sv s JOIN b2 b ON s.sub = b.sub AND s.sdim = b.sdim
    WHERE s.vec_id < {N_QUERIES}
    GROUP BY 1, 2, 3
),
adc AS (
    SELECT c.query_id, c.vec_id AS neighbor_id,
           CAST(sum(l.pdot) AS BIGINT) AS adc
    FROM cand c
    JOIN pa3 ON pa3.vec_id = c.vec_id
    JOIN lut l ON l.query_id = c.query_id
             AND l.sub = pa3.sub AND l.code = pa3.code
    GROUP BY 1, 2
),
shortlist AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc DESC, neighbor_id) AS sr
        FROM adc) WHERE sr <= {PQ_SHORTLIST}
),
nv AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
    FROM embeddings
),
scored AS (
    SELECT s.query_id, s.neighbor_id,
           round(list_dot_product(q.e, n.e) / (q.norm * n.norm), 6)
               AS cosine
    FROM shortlist s
    JOIN nv n ON n.vec_id = s.neighbor_id
    JOIN nv q ON q.vec_id = s.query_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS INT)
           AS rnk
FROM scored
QUALIFY rnk <= {TOP_K}
"""


def ann_recall_report(
    spark: SparkSession, sf_dir: str, tier=None
) -> DataFrame:
    """Index-quality TELEMETRY as a query: per-query recall@5 of an
    ANN tier against the exact brute-force baseline — the number an
    index owner watches on a dashboard before trusting an approximate
    tier in production (the in-engine form of the recall studies
    SCALE.md runs offline). Exact integer ppm (hits·1e6 div TOP_K);
    queries the ANN tier misses entirely surface with recall_ppm = 0
    through the anchor left join, never vanish.

    `tier` is any registered ANN query callable with the shared
    (query_id, neighbor_id, …) output schema — default is the
    banded-LSH tier; ann_recall_report_ivfpq below audits the IVF-PQ
    composition with the identical frame (VERDICT r5 item 4).

    Scale posture: both tiers are the registered, already-bounded
    plans (broadcast-query scan; banded equi-join + candidate-only
    rerank); this adds one |queries·k|-row join and a |queries|-row
    agg — telemetry-priced."""
    tune(spark)
    truth = sim_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    got = (tier or sim_ann_lsh_topk)(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    hits = truth.join(got, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count("*").alias("n_hits"))
    return (
        truth.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.expr(
                f"coalesce(n_hits, 0) * CAST(1000000 AS BIGINT)"
                f" div {TOP_K}"
            ).alias("recall_ppm"),
        )
    )


def ann_recall_report_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_recall_report pointed at the IVF-PQ tier — the newest and
    most-composed index gets the same in-engine recall telemetry as
    the LSH tier (VERDICT r5 item 4: misses surface as recall_ppm=0,
    never vanish; the refine stage is load-bearing, so this row is
    what proves it keeps doing its job as dials move)."""
    return ann_recall_report(spark, sf_dir, tier=sim_ivfpq_topk)


def _ann_recall_sql(got_sql: str) -> str:
    """The recall frame as DuckDB text over any tier's full oracle —
    the whole tier query nests verbatim as the `got` CTE body (the
    corpus_bpe_fertility composition idiom)."""
    return f"""
WITH truth AS (
{BRUTE_SQL}
),
got AS (
{got_sql}
),
hits AS (
    SELECT t.query_id, count(*) AS n_hits
    FROM truth t JOIN got g
      ON t.query_id = g.query_id AND t.neighbor_id = g.neighbor_id
    GROUP BY t.query_id
)
SELECT q.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * CAST(1000000 AS BIGINT) // {TOP_K}
            AS BIGINT) AS recall_ppm
FROM (SELECT DISTINCT query_id FROM truth) q
LEFT JOIN hits h ON h.query_id = q.query_id
"""


ANN_RECALL_SQL = _ann_recall_sql(ANN_SQL)
ANN_RECALL_IVFPQ_SQL = _ann_recall_sql(IVFPQ_SQL)


def _dedup_semantic_registered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver-registered dedup_semantic row pins the fixture dial
    k=K_CENTROIDS=16 explicitly: the static oracle seeds exactly that
    many centroids (SEED_LO..SEED_HI), so the registered row must not
    float with corpus size — library callers get k="auto" (≈ √n/2)."""
    return dedup_semantic(spark, sf_dir, k=K_CENTROIDS)


def corpus_cluster_balance_sample(
    spark: SparkSession, sf_dir: str, k: int | str = K_CENTROIDS
) -> DataFrame:
    """CLUSTER-BALANCED sampling — topic-diversity flattening over the
    embedding space (the cluster-level curation move of MiniPile /
    DCLM-style pipelines: cluster the corpus, then re-weight cluster
    MASS instead of judging docs one by one): k-means-cluster the
    vectors with the shared integer-Lloyd tier, then thin every
    over-represented cluster to ~one balanced share of the corpus —
    accept_ppm = min(1e6, 1e6·ceil(n/k) div cluster_n), realized per
    vector by the salted-bucket acceptance idiom ('clbal' salt, so the
    decision is independent of the softdedup/DSIR/mixture samplers').
    Clusters at or under the balanced share keep everything; a cluster
    holding 10× its share keeps ~10% of its members, chosen
    deterministically — re-runs and corpus appends never flip a
    verdict. Output: (vec_id, cid, cluster_n, accept_ppm, bucket,
    selected) — the verdict frame that composes with the doc_id =
    vec_id convention exactly like dedup_embedding_cosine.

    Plan: the Lloyd tier is the shared sim_ivf_topk code (broadcast
    k-row centroid crossJoin + in-row integer folds, 2 unrolled
    iterations); the assignment frame is plan-barriered because two
    consumers read it (the k-row size rollup and the verdict
    projection); cluster_n probes back via a broadcast-sized k-row
    join and the balanced share is one broadcast 1-row total. At
    100 TB the only corpus-sized stages are the assignment fold and
    the final projection — the balancing math runs on k rows.

    The k DIAL follows dedup_semantic's rule (the registered row pins
    k=K_CENTROIDS=16 so the static oracle's seed range stays exact;
    library callers pass k="auto" ≈ √n/2 at deployment — the
    SCALE.md fixture-dial scale trap)."""
    tune(spark)
    vec = _cached_micro_arr(spark, sf_dir)
    if k == "auto":
        k = _auto_k(load_table(spark, sf_dir, "embeddings").count())
    cents = _train_centroids(vec, k)
    assign = _assign_inrow(vec, cents).select("vec_id", "cid").localCheckpoint(
        eager=False
    )
    sizes = assign.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("cluster_n")
    )
    tot = sizes.agg(
        F.sum("cluster_n").alias("n_total"),
        F.count("*").cast("bigint").alias("n_clusters"),
    )
    return (
        assign.join(sizes, "cid")
        .crossJoin(F.broadcast(tot))
        .select(
            "vec_id",
            "cid",
            "cluster_n",
            F.expr(
                "LEAST(CAST(1000000 AS BIGINT),"
                " (1000000 * ((n_total + n_clusters - 1)"
                " div n_clusters)) div cluster_n)"
            ).alias("accept_ppm"),
            F.expr(
                "CAST(conv(substring(md5(concat('clbal',"
                " CAST(vec_id AS STRING))), 1, 8), 16, 10)"
                " AS BIGINT) % 1000000"
            ).alias("bucket"),
        )
        .withColumn("selected", F.col("bucket") < F.col("accept_ppm"))
    )


CLUSTER_BALANCE_SQL = f"""
WITH v AS (
    SELECT vec_id, dim - 1 AS dim,
           CAST(round(CAST(x AS DOUBLE) * {MICRO}) AS BIGINT) AS xs
    FROM embeddings,
         LATERAL (SELECT unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS dim)
),
c0 AS (
    SELECT CAST(vec_id - {SEED_LO} AS INT) AS cid, dim, xs AS ms
    FROM v WHERE vec_id >= {SEED_LO} AND vec_id < {SEED_HI}
),
{_ivf_assign_cte("1", "c0")},
c1 AS (
    SELECT cid, dim,
           CAST(round(CAST(sum(xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM v JOIN a1 USING (vec_id) GROUP BY 1, 2
),
{_ivf_assign_cte("2", "c1")},
c2 AS (
    SELECT cid, dim,
           CAST(round(CAST(sum(xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM v JOIN a2 USING (vec_id) GROUP BY 1, 2
),
{_ivf_assign_cte("3", "c2")},
sizes AS (
    SELECT cid, CAST(count(*) AS BIGINT) AS cluster_n
    FROM a3 GROUP BY cid
),
tot AS (
    SELECT sum(cluster_n) AS n_total,
           CAST(count(*) AS BIGINT) AS n_clusters
    FROM sizes
)
SELECT a3.vec_id, a3.cid, sizes.cluster_n,
       CAST(LEAST(1000000,
                  (1000000 * ((tot.n_total + tot.n_clusters - 1)
                              // tot.n_clusters))
                  // sizes.cluster_n) AS BIGINT) AS accept_ppm,
       CAST(CAST('0x' || substr(md5('clbal'
                                    || CAST(a3.vec_id AS VARCHAR)), 1, 8)
                 AS BIGINT) % 1000000 AS BIGINT) AS bucket,
       CAST(CAST('0x' || substr(md5('clbal'
                                    || CAST(a3.vec_id AS VARCHAR)), 1, 8)
                 AS BIGINT) % 1000000
            < LEAST(1000000,
                    (1000000 * ((tot.n_total + tot.n_clusters - 1)
                                // tot.n_clusters))
                    // sizes.cluster_n) AS BOOLEAN) AS selected
FROM a3 JOIN sizes USING (cid), tot
"""


MMR_SHORTLIST = 10  # relevance candidates per query fed to MMR
MMR_SELECT = 5      # diversified picks returned per query
# λ = 1/2: argmax λ·rel − (1−λ)·maxsim ≡ argmax (rel − maxsim), so the
# dial folds into a single integer subtraction


def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR — Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998, the reranker RAG/retrieval stacks bolt onto a
    similarity index): from each query's exact top-MMR_SHORTLIST
    cosine candidates, iteratively select MMR_SELECT results, each
    step picking the candidate maximizing
    relevance − max-similarity-to-already-selected (λ=1/2) — near-dup
    candidates cannibalize each other's marginal score, so the final
    list covers the neighborhood instead of returning five copies of
    the same cluster. The dedup ladder applied at QUERY time.

    Exactness: cosines round to the shared 6dp grid (cross-engine
    exact, the sim_topk_bruteforce contract) then land as INTEGER
    micros via floor(x·1e6 + 0.5); every argmax is integer-scored
    with a neighbor_id tiebreak, so the greedy trajectory is
    engine-deterministic. Output: (query_id, rank 1..MMR_SELECT,
    neighbor_id, rel_micros).

    Plan/scale posture: the corpus pays ONE brute-force scoring pass
    (the shortlist tier — swap in IVF/PQ for the candidate source at
    deployment; MMR itself never touches the corpus again). The MMR
    state is |queries|·shortlist candidates and |queries|·shortlist²
    pair sims — BROADCAST-SIZED at any corpus scale because both are
    per-query constants — and each of the MMR_SELECT-1 greedy steps
    is one join + one window over that frame, localCheckpoint-pinned
    (the BPE iterative-trainer idiom). A query short of candidates
    just stops early (ranks are a prefix)."""
    from pyspark.sql.window import Window

    tune(spark)
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("qe"), F.col("e"))
                / (F.col("qnorm") * F.col("norm")),
                6,
            ).alias("cosine"),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "CAST(floor(cosine * 1000000 + 0.5) AS BIGINT)"
            ).alias("rel_u"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("rel_u").desc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("r", F.row_number().over(wr))
        .where(F.col("r") <= MMR_SHORTLIST)
        .select("query_id", "neighbor_id", "rel_u")
        .localCheckpoint(eager=False)
    )
    return _mmr_over(cand, emb, MMR_SELECT)


def _mmr_over(cand: DataFrame, emb: DataFrame, select_n: int) -> DataFrame:
    """The greedy MMR core over ANY candidate frame (query_id,
    neighbor_id, rel_u) — factored out (r7) so the candidate source
    is swappable (brute top-k, IVF, PQ); `cand` must already be
    plan-barriered (it is consumed by the pair sims and every greedy
    step). emb is the _with_norm embeddings frame for the pair sims."""
    from pyspark.sql.window import Window

    wr = Window.partitionBy("query_id").orderBy(
        F.col("rel_u").desc(), F.col("neighbor_id")
    )
    cv = cand.join(
        emb.select("vec_id", "e", "norm"),
        cand.neighbor_id == F.col("vec_id"),
    ).select("query_id", "neighbor_id", "rel_u", "e", "norm")
    a = cv.select(
        "query_id",
        F.col("neighbor_id").alias("a"),
        F.col("e").alias("ae"),
        F.col("norm").alias("anorm"),
    )
    b = cv.select(
        "query_id",
        F.col("neighbor_id").alias("b"),
        F.col("e").alias("be"),
        F.col("norm").alias("bnorm"),
    )
    pairs = (
        a.join(b, "query_id")
        .where(F.col("a") != F.col("b"))
        .select(
            "query_id",
            "a",
            "b",
            F.expr(
                "CAST(floor(round("
                "aggregate(zip_with(ae, be, (x, y) -> x * y),"
                " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
                " / (anorm * bnorm), 6) * 1000000 + 0.5) AS BIGINT)"
            ).alias("sim_u"),
        )
        .localCheckpoint(eager=False)
    )
    selected = (
        cand.withColumn("r", F.row_number().over(wr))
        .where(F.col("r") == 1)
        .select(
            "query_id",
            F.lit(1).alias("rank"),
            "neighbor_id",
            F.col("rel_u").alias("rel_micros"),
        )
    )
    for step in range(2, select_n + 1):
        rem = cand.join(
            selected.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        ms = (
            pairs.join(
                selected.select(
                    "query_id", F.col("neighbor_id").alias("b")
                ),
                ["query_id", "b"],
            )
            .groupBy("query_id", "a")
            .agg(F.max("sim_u").alias("maxsim_u"))
        )
        pick = (
            rem.join(
                ms,
                (rem.query_id == ms.query_id)
                & (rem.neighbor_id == ms.a),
            )
            .select(
                rem.query_id,
                "neighbor_id",
                "rel_u",
                (F.col("rel_u") - F.col("maxsim_u")).alias("score"),
            )
            .withColumn(
                "r",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.col("score").desc(), F.col("neighbor_id")
                    )
                ),
            )
            .where(F.col("r") == 1)
            .select(
                "query_id",
                F.lit(step).alias("rank"),
                "neighbor_id",
                F.col("rel_u").alias("rel_micros"),
            )
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=False)
    return selected


_MMR_BRUTE_CAND_SQL = f"""
    SELECT query_id, nid, rel_u
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY rel_u DESC, nid) AS r
          FROM (SELECT q.vec_id AS query_id, x.vec_id AS nid,
                       CAST(floor(round(list_dot_product(q.e, x.e)
                                        / (q.norm * x.norm), 6)
                                  * 1000000 + 0.5) AS BIGINT) AS rel_u
                FROM v x CROSS JOIN v q
                WHERE q.vec_id < {N_QUERIES}
                AND x.vec_id <> q.vec_id))
    WHERE r <= {MMR_SHORTLIST}
"""


def _mmr_sql(cand_sql: str, select_n: int) -> str:
    """The MMR oracle: the greedy loop unrolled into one CTE per step
    (the BPE-trainer oracle idiom) over the same integer-micros
    scores, parameterized on the candidate-source CTE body (r7) so
    the brute and IVF variants share every greedy CTE verbatim. The
    cand_sql body may reference the outer `v` norms CTE."""
    head = f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
    FROM embeddings
),
cand AS ({cand_sql}),
cv AS (SELECT c.query_id, c.nid, v.e, v.norm
       FROM cand c JOIN v ON v.vec_id = c.nid),
pairs AS (
    SELECT x.query_id, x.nid AS a, y.nid AS b,
           CAST(floor(round(list_dot_product(x.e, y.e)
                            / (x.norm * y.norm), 6)
                      * 1000000 + 0.5) AS BIGINT) AS sim_u
    FROM cv x JOIN cv y
      ON x.query_id = y.query_id AND x.nid <> y.nid
),
sel1 AS (
    SELECT query_id, nid, rel_u, 1 AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY rel_u DESC, nid) AS r
          FROM cand)
    WHERE r = 1
)"""
    steps = []
    prev_union = "SELECT * FROM sel1"
    for k in range(2, select_n + 1):
        prev = f"sels{k - 1}"
        steps.append(f""",
sels{k - 1} AS ({prev_union})""")
        steps.append(f""",
sel{k} AS (
    SELECT query_id, nid, rel_u, {k} AS rank
    FROM (
        SELECT c.query_id, c.nid, c.rel_u,
               row_number() OVER (
                   PARTITION BY c.query_id
                   ORDER BY c.rel_u - m.maxsim_u DESC, c.nid) AS r
        FROM cand c
        JOIN (SELECT p.query_id, p.a, max(p.sim_u) AS maxsim_u
              FROM pairs p
              JOIN {prev} s ON p.query_id = s.query_id AND p.b = s.nid
              GROUP BY p.query_id, p.a) m
          ON m.query_id = c.query_id AND m.a = c.nid
        WHERE NOT EXISTS (SELECT 1 FROM {prev} s
                          WHERE s.query_id = c.query_id
                          AND s.nid = c.nid)
    )
    WHERE r = 1
)""")
        prev_union = f"SELECT * FROM {prev} UNION ALL SELECT * FROM sel{k}"
    tail = f"""
SELECT query_id, CAST(rank AS INT) AS rank, nid AS neighbor_id,
       rel_u AS rel_micros
FROM ({prev_union})
"""
    return head + "".join(steps) + tail


MMR_SQL = _mmr_sql(_MMR_BRUTE_CAND_SQL, MMR_SELECT)


MMR_SELECT_IVF = 3  # the IVF tier shortlists TOP_K=5 per query, so
# the diversified pick keeps headroom (3 of 5)


def sim_mmr_rerank_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_mmr_rerank with the candidate source SWAPPED to the IVF
    tier — the docstring's "swap in IVF/PQ for the candidate source
    at deployment" made executable and oracle-checked: the greedy
    core (_mmr_over) is shared verbatim; only the shortlist changes
    (sim_ivf_topk's posting-list-bounded top-5, so the corpus pays
    the INDEX probe instead of a brute scoring pass). Selects
    MMR_SELECT_IVF=3 of each query's 5 IVF candidates. Same output
    contract: (query_id, rank, neighbor_id, rel_micros)."""
    tune(spark)
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    cand = (
        sim_ivf_topk(spark, sf_dir)
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "CAST(floor(cosine * 1000000 + 0.5) AS BIGINT)"
            ).alias("rel_u"),
        )
        .localCheckpoint(eager=False)
    )
    return _mmr_over(cand, emb, MMR_SELECT_IVF)


_MMR_IVF_CAND_SQL = f"""
    SELECT query_id, neighbor_id AS nid,
           CAST(floor(cosine * 1000000 + 0.5) AS BIGINT) AS rel_u
    FROM ({IVF_SQL})
"""

MMR_IVF_SQL = _mmr_sql(_MMR_IVF_CAND_SQL, MMR_SELECT_IVF)


def sim_mmr_rerank_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_mmr_rerank over the PQ tier's shortlist — the third
    candidate source for the shared greedy core (_mmr_over), closing
    the swap family (brute / IVF / PQ): sim_pq_topk's ADC-scored,
    exact-refined top-5 feeds the same diversification, so at
    deployment the reranker composes with whichever index tier the
    corpus size dictates. Selects MMR_SELECT_IVF=3 of 5, as the IVF
    variant does."""
    tune(spark)
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    cand = (
        sim_pq_topk(spark, sf_dir)
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "CAST(floor(cosine * 1000000 + 0.5) AS BIGINT)"
            ).alias("rel_u"),
        )
        .localCheckpoint(eager=False)
    )
    return _mmr_over(cand, emb, MMR_SELECT_IVF)


_MMR_PQ_CAND_SQL = f"""
    SELECT query_id, neighbor_id AS nid,
           CAST(floor(cosine * 1000000 + 0.5) AS BIGINT) AS rel_u
    FROM ({PQ_SQL})
"""

MMR_PQ_SQL = _mmr_sql(_MMR_PQ_CAND_SQL, MMR_SELECT_IVF)


RRF_K = 60          # the standard RRF damping constant (Cormack 2009)
RRF_DEPTH = 20      # ranks consumed from each list (= both tiers' top-N)
HYBRID_TOP_N = 10
HYBRID_QUERY_VEC = 0  # static so the oracle is static; a search API
# parameterizes the query vector alongside BM25_TERMS


def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval via Reciprocal Rank Fusion (Cormack et al.
    2009 — the fusion every hybrid keyword+vector search stack ships):
    the BM25 keyword ranking (text_search_bm25, top-20) and the exact
    cosine ranking for the query embedding (vec_id 0, top-20, the
    doc_id = vec_id mapping dedup_embedding_cosine established) are
    fused by rrf = Σ 1e6 div (60 + rank) over the lists a doc appears
    in — rank fusion needs NO score calibration between the tiers
    (BM25 millionths vs cosine micros never meet), which is exactly
    why RRF won: it composes ANY two rankers. Output: top-10 by fused
    score, with each side's rank (NULL where the doc appeared in only
    one list) — integer arithmetic end to end.

    Plan/scale posture: each tier keeps its own plan (BM25's exploded
    hash-aggs + TakeOrderedAndProject; one brute cosine pass — swap
    in the IVF/PQ tier at deployment); the fusion itself touches 2 ×
    RRF_DEPTH rows, a full-outer join of two 20-row frames. The
    row_number windows run AFTER each tier's top-N gather, so no
    single-partition sort ever sees more than RRF_DEPTH rows."""
    from pyspark.sql.window import Window

    from projetbigdata_spark.operators.tfidf import (
        BM25_TOP_N,
        text_search_bm25,
    )

    tune(spark)
    bm = text_search_bm25(spark, sf_dir)  # already top-BM25_TOP_N
    tr = (
        bm.withColumn(
            "r_text",
            F.row_number().over(
                Window.orderBy(F.col("score_m").desc(), "doc_id")
            ),
        )
        .where(F.col("r_text") <= RRF_DEPTH)
        .select("doc_id", "r_text")
    )
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    q = emb.where(F.col("vec_id") == HYBRID_QUERY_VEC).select(
        F.col("e").alias("qe"), F.col("norm").alias("qnorm")
    )
    vs = (
        emb.where(F.col("vec_id") != HYBRID_QUERY_VEC)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                _dot(F.col("qe"), F.col("e"))
                / (F.col("qnorm") * F.col("norm")),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(RRF_DEPTH)
    )
    vr = vs.withColumn(
        "r_vec",
        F.row_number().over(
            Window.orderBy(F.col("cosine").desc(), "vec_id")
        ),
    ).select(F.col("vec_id").alias("v_doc"), "r_vec")
    fused = tr.join(vr, tr.doc_id == vr.v_doc, "full").select(
        F.coalesce("doc_id", "v_doc").alias("doc_id"),
        "r_text",
        "r_vec",
        (
            F.coalesce(
                F.expr(f"CAST(1000000 div ({RRF_K} + r_text) AS BIGINT)"),
                F.lit(0).cast("bigint"),
            )
            + F.coalesce(
                F.expr(f"CAST(1000000 div ({RRF_K} + r_vec) AS BIGINT)"),
                F.lit(0).cast("bigint"),
            )
        ).alias("rrf_micros"),
    )
    return fused.orderBy(F.col("rrf_micros").desc(), "doc_id").limit(
        HYBRID_TOP_N
    )


def _hybrid_rrf_sql() -> str:
    from projetbigdata_spark.operators.tfidf import BM25_SQL

    return f"""
WITH bm AS ({BM25_SQL}),
tr AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY score_m DESC, doc_id)
                AS INT) AS r_text
    FROM bm
    QUALIFY r_text <= {RRF_DEPTH}
),
v AS (
    SELECT vec_id, embedding::DOUBLE[] AS e,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
    FROM embeddings
),
q AS (SELECT e AS qe, norm AS qnorm FROM v
      WHERE vec_id = {HYBRID_QUERY_VEC}),
vs AS (
    SELECT v.vec_id,
           round(list_dot_product(qe, e) / (qnorm * norm), 6) AS cosine
    FROM v CROSS JOIN q
    WHERE v.vec_id <> {HYBRID_QUERY_VEC}
),
vr AS (
    SELECT vec_id AS v_doc,
           CAST(row_number() OVER (ORDER BY cosine DESC, vec_id)
                AS INT) AS r_vec
    FROM vs
    QUALIFY r_vec <= {RRF_DEPTH}
)
SELECT coalesce(t.doc_id, u.v_doc) AS doc_id,
       t.r_text, u.r_vec,
       CAST(coalesce(1000000 // ({RRF_K} + t.r_text), 0)
            + coalesce(1000000 // ({RRF_K} + u.r_vec), 0)
           AS BIGINT) AS rrf_micros
FROM tr t FULL JOIN vr u ON t.doc_id = u.v_doc
ORDER BY rrf_micros DESC, doc_id
LIMIT {HYBRID_TOP_N}
"""


def search_hybrid_rrf_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search_hybrid_rrf with the vector tier SWAPPED to IVF — the
    deployment claim made executable: RRF composes ANY two rankers,
    so the brute cosine pass can hand the vector side to the
    posting-list-bounded index (sim_ivf_topk, top-5 for the query
    vector) with no other change. Rank lists of different depths fuse
    fine — that is RRF's point; the keyword side still contributes
    ranks 1..20, the IVF side 1..5. The fused set can differ from the
    brute variant's exactly where IVF's nprobe recall trade bites —
    comparing the two registered rows IS the ANN-quality telemetry at
    the fusion level (the ann_recall_report idea, expressed as ranks).

    Plan: BM25's plan + the IVF tier's plan (posting-list probe, no
    corpus rescan at search time) + a full-outer join of a 20-row and
    a ≤5-row frame."""
    from pyspark.sql.window import Window

    from projetbigdata_spark.operators.tfidf import text_search_bm25

    tune(spark)
    bm = text_search_bm25(spark, sf_dir)
    tr = (
        bm.withColumn(
            "r_text",
            F.row_number().over(
                Window.orderBy(F.col("score_m").desc(), "doc_id")
            ),
        )
        .where(F.col("r_text") <= RRF_DEPTH)
        .select("doc_id", "r_text")
    )
    vr = (
        sim_ivf_topk(spark, sf_dir)
        .where(F.col("query_id") == HYBRID_QUERY_VEC)
        .select(
            F.col("neighbor_id").alias("v_doc"),
            F.col("rnk").cast("int").alias("r_vec"),
        )
    )
    fused = tr.join(vr, tr.doc_id == vr.v_doc, "full").select(
        F.coalesce("doc_id", "v_doc").alias("doc_id"),
        "r_text",
        "r_vec",
        (
            F.coalesce(
                F.expr(f"CAST(1000000 div ({RRF_K} + r_text) AS BIGINT)"),
                F.lit(0).cast("bigint"),
            )
            + F.coalesce(
                F.expr(f"CAST(1000000 div ({RRF_K} + r_vec) AS BIGINT)"),
                F.lit(0).cast("bigint"),
            )
        ).alias("rrf_micros"),
    )
    return fused.orderBy(F.col("rrf_micros").desc(), "doc_id").limit(
        HYBRID_TOP_N
    )


def _hybrid_rrf_ivf_sql() -> str:
    from projetbigdata_spark.operators.tfidf import BM25_SQL

    return f"""
WITH bm AS ({BM25_SQL}),
tr AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY score_m DESC, doc_id)
                AS INT) AS r_text
    FROM bm
    QUALIFY r_text <= {RRF_DEPTH}
),
ivf AS ({IVF_SQL}),
vr AS (
    SELECT neighbor_id AS v_doc, CAST(rnk AS INT) AS r_vec
    FROM ivf WHERE query_id = {HYBRID_QUERY_VEC}
)
SELECT coalesce(t.doc_id, u.v_doc) AS doc_id,
       t.r_text, u.r_vec,
       CAST(coalesce(1000000 // ({RRF_K} + t.r_text), 0)
            + coalesce(1000000 // ({RRF_K} + u.r_vec), 0)
           AS BIGINT) AS rrf_micros
FROM tr t FULL JOIN vr u ON t.doc_id = u.v_doc
ORDER BY rrf_micros DESC, doc_id
LIMIT {HYBRID_TOP_N}
"""


def search_hybrid_rrf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search_hybrid_rrf with the vector tier swapped to PQ —
    completing the candidate-source swap family for the fusion layer
    (MMR already spans brute/IVF/PQ; this gives RRF the same three):
    the vector side is sim_pq_topk's ADC-shortlist + exact-refine
    top-5, the byte-bounded tier a memory-constrained deployment
    ships. Fusion logic, depths, and the keyword side are shared
    verbatim with the brute and IVF variants; diffing the three
    registered rows is fusion-level telemetry across the whole
    index-tier menu (raw-ADC recall bites exactly where the PQ row's
    fused set departs from the brute row's)."""
    from pyspark.sql.window import Window

    from projetbigdata_spark.operators.tfidf import text_search_bm25

    tune(spark)
    bm = text_search_bm25(spark, sf_dir)
    tr = (
        bm.withColumn(
            "r_text",
            F.row_number().over(
                Window.orderBy(F.col("score_m").desc(), "doc_id")
            ),
        )
        .where(F.col("r_text") <= RRF_DEPTH)
        .select("doc_id", "r_text")
    )
    vr = (
        sim_pq_topk(spark, sf_dir)
        .where(F.col("query_id") == HYBRID_QUERY_VEC)
        .select(
            F.col("neighbor_id").alias("v_doc"),
            F.col("rnk").cast("int").alias("r_vec"),
        )
    )
    fused = tr.join(vr, tr.doc_id == vr.v_doc, "full").select(
        F.coalesce("doc_id", "v_doc").alias("doc_id"),
        "r_text",
        "r_vec",
        (
            F.coalesce(
                F.expr(f"CAST(1000000 div ({RRF_K} + r_text) AS BIGINT)"),
                F.lit(0).cast("bigint"),
            )
            + F.coalesce(
                F.expr(f"CAST(1000000 div ({RRF_K} + r_vec) AS BIGINT)"),
                F.lit(0).cast("bigint"),
            )
        ).alias("rrf_micros"),
    )
    return fused.orderBy(F.col("rrf_micros").desc(), "doc_id").limit(
        HYBRID_TOP_N
    )


def _hybrid_rrf_pq_sql() -> str:
    from projetbigdata_spark.operators.tfidf import BM25_SQL

    return f"""
WITH bm AS ({BM25_SQL}),
tr AS (
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY score_m DESC, doc_id)
                AS INT) AS r_text
    FROM bm
    QUALIFY r_text <= {RRF_DEPTH}
),
pq AS ({PQ_SQL}),
vr AS (
    SELECT neighbor_id AS v_doc, CAST(rnk AS INT) AS r_vec
    FROM pq WHERE query_id = {HYBRID_QUERY_VEC}
)
SELECT coalesce(t.doc_id, u.v_doc) AS doc_id,
       t.r_text, u.r_vec,
       CAST(coalesce(1000000 // ({RRF_K} + t.r_text), 0)
            + coalesce(1000000 // ({RRF_K} + u.r_vec), 0)
           AS BIGINT) AS rrf_micros
FROM tr t FULL JOIN vr u ON t.doc_id = u.v_doc
ORDER BY rrf_micros DESC, doc_id
LIMIT {HYBRID_TOP_N}
"""


QUERIES = {
    "sim_topk_bruteforce": sim_topk_bruteforce,
    "sim_mmr_rerank": sim_mmr_rerank,
    "sim_mmr_rerank_ivf": sim_mmr_rerank_ivf,
    "sim_mmr_rerank_pq": sim_mmr_rerank_pq,
    "search_hybrid_rrf": search_hybrid_rrf,
    "search_hybrid_rrf_ivf": search_hybrid_rrf_ivf,
    "search_hybrid_rrf_pq": search_hybrid_rrf_pq,
    "dedup_semantic": _dedup_semantic_registered,
    "corpus_cluster_balance_sample": corpus_cluster_balance_sample,
    "sim_ivf_incremental": sim_ivf_incremental,
    "sim_ivf_incremental_deleted": sim_ivf_incremental_deleted,
    "sim_neardup_allpairs_exact": sim_neardup_allpairs_exact,
    "sim_lsh_buckets": sim_lsh_buckets,
    "sim_neardup_pairs": sim_neardup_pairs,
    "sim_ann_lsh_topk": sim_ann_lsh_topk,
    "sim_ivf_topk": sim_ivf_topk,
    "sim_ivf_posting_stats": sim_ivf_posting_stats,
    "sim_ivf_posting_stats_base": sim_ivf_posting_stats_base,
    "sim_ivf_sampled_topk": sim_ivf_sampled_topk,
    "sim_pq_topk": sim_pq_topk,
    "sim_ivfpq_topk": sim_ivfpq_topk,
    "ann_recall_report": ann_recall_report,
    "ann_recall_report_ivfpq": ann_recall_report_ivfpq,
}

ORACLE_SQL = {
    "sim_topk_bruteforce": BRUTE_SQL,
    "sim_mmr_rerank": MMR_SQL,
    "sim_mmr_rerank_ivf": MMR_IVF_SQL,
    "sim_mmr_rerank_pq": MMR_PQ_SQL,
    "search_hybrid_rrf": _hybrid_rrf_sql(),
    "search_hybrid_rrf_ivf": _hybrid_rrf_ivf_sql(),
    "search_hybrid_rrf_pq": _hybrid_rrf_pq_sql(),
    "dedup_semantic": SEMDEDUP_SQL,
    "corpus_cluster_balance_sample": CLUSTER_BALANCE_SQL,
    "sim_ivf_incremental": IVF_INCREMENTAL_SQL,
    "sim_ivf_incremental_deleted": IVF_INCREMENTAL_DELETED_SQL,
    "sim_neardup_allpairs_exact": NEARDUP_ALLPAIRS_SQL,
    "sim_lsh_buckets": LSH_SQL,
    "sim_neardup_pairs": NEARDUP_SQL,
    "sim_ann_lsh_topk": ANN_SQL,
    "sim_ivf_topk": IVF_SQL,
    "sim_ivf_posting_stats": IVF_POSTING_STATS_SQL,
    "sim_ivf_posting_stats_base": IVF_POSTING_STATS_BASE_SQL,
    "sim_ivf_sampled_topk": IVF_SAMPLED_SQL,
    "sim_pq_topk": PQ_SQL,
    "sim_ivfpq_topk": IVFPQ_SQL,
    "ann_recall_report": ANN_RECALL_SQL,
    "ann_recall_report_ivfpq": ANN_RECALL_IVFPQ_SQL,
}


# --- c-TF-IDF cluster labeling (r9): what IS each embedding cluster ---

TOP_TERMS = 10   # terms reported per cluster
TERM_MIN_TF = 3  # support floor: a term must appear >= this many
# times inside the cluster to be reported (kills one-off noise the
# way BERTopic's min_df does)


def corpus_cluster_top_terms(
    spark: SparkSession, sf_dir: str, k: int | str = K_CENTROIDS
) -> DataFrame:
    """Cluster LABELING — the audit that turns an opaque embedding
    clustering into something a curator can read (the c-TF-IDF move of
    BERTopic / the topic-inspection step of MiniPile-style pipelines):
    k-means the vectors with the shared integer-Lloyd tier, join the
    assignments onto the documents' tokens (the doc_id = vec_id
    convention, as dedup_embedding_cosine), and report each cluster's
    TOP_TERMS most DISTINCTIVE terms.

    Distinctiveness is exact integer LIFT instead of c-TF-IDF's
    log-scaled variant: lift_ppm = P(cluster | term) / P(cluster) on
    the ppm grid,

        lift_ppm = (tf_tc * n_total * 1e6) div (tf_t * n_c)

    with tf_tc the term's count inside the cluster, tf_t its corpus
    count, n_c / n_total the cluster / corpus token totals. The log in
    c-TF-IDF only compresses the axis for display — per cluster it is
    a monotone transform of the SAME per-term ratio family, and the
    rational form keeps the query on the hash-checked integer grid
    (ln() is the documented libm residual this repo keeps out of
    oracle-checked queries). Ranking: lift DESC, tf_tc DESC, term ASC
    — fully deterministic; TERM_MIN_TF floors out one-off tokens.

    Plan: the Lloyd tier is the shared sim_ivf_topk code (broadcast
    k-row centroid crossJoin, 2 unrolled iterations); ONE corpus
    token explode joins assignments on doc_id and hash-aggs to
    (cid, term) — everything downstream is vocabulary-sized or
    smaller: term totals are a rollup of that table, cluster totals
    are k rows (broadcast), the corpus total is a broadcast 1-row
    crossJoin, and the top-k window runs per-cid over <= |vocab| * k
    rows. The (cid, term) table feeds two consumers (term rollup +
    final projection) -> plan barrier keeps the corpus pass single.

    The k dial follows dedup_semantic's rule (registered row pins
    k=K_CENTROIDS so the static oracle's seed range stays exact;
    library callers pass k="auto" at deployment)."""
    from projetbigdata_spark.functions.text import tokenize
    from pyspark.sql.window import Window

    tune(spark)
    vec = _cached_micro_arr(spark, sf_dir)
    if k == "auto":
        k = _auto_k(load_table(spark, sf_dir, "embeddings").count())
    cents = _train_centroids(vec, k)
    assign = _assign_inrow(vec, cents).select("vec_id", "cid")

    docs = load_documents_parallel(spark, sf_dir)
    toks = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.explode(tokenize("text")).alias("term"),
    )
    tf_tc = (
        toks.join(assign, "vec_id")
        .groupBy("cid", "term")
        .agg(F.count("*").alias("tf_tc"))
        .localCheckpoint(eager=False)
    )
    tf_t = tf_tc.groupBy("term").agg(F.sum("tf_tc").alias("tf_t"))
    n_c = tf_tc.groupBy("cid").agg(F.sum("tf_tc").alias("n_c"))
    tot = n_c.agg(F.sum("n_c").alias("n_total"))
    scored = (
        tf_tc.join(tf_t, "term")
        .join(F.broadcast(n_c), "cid")
        .crossJoin(F.broadcast(tot))
        .where(F.col("tf_tc") >= TERM_MIN_TF)
        .select(
            "cid",
            "term",
            "tf_tc",
            F.expr(
                "CAST((CAST(tf_tc AS DECIMAL(38,0)) * n_total * 1000000)"
                " div (CAST(tf_t AS DECIMAL(38,0)) * n_c) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    w = Window.partitionBy("cid").orderBy(
        F.desc("lift_ppm"), F.desc("tf_tc"), "term"
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_TERMS)
        .select("cid", "rnk", "term", "tf_tc", "lift_ppm")
    )


CLUSTER_TOP_TERMS_SQL = f"""
WITH v AS (
    SELECT vec_id, dim - 1 AS dim,
           CAST(round(CAST(x AS DOUBLE) * {MICRO}) AS BIGINT) AS xs
    FROM embeddings,
         LATERAL (SELECT unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS dim)
),
c0 AS (
    SELECT CAST(vec_id - {SEED_LO} AS INT) AS cid, dim, xs AS ms
    FROM v WHERE vec_id >= {SEED_LO} AND vec_id < {SEED_HI}
),
{_ivf_assign_cte("1", "c0")},
c1 AS (
    SELECT cid, dim,
           CAST(round(CAST(sum(xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM v JOIN a1 USING (vec_id) GROUP BY 1, 2
),
{_ivf_assign_cte("2", "c1")},
c2 AS (
    SELECT cid, dim,
           CAST(round(CAST(sum(xs) AS DOUBLE) / count(*)) AS BIGINT) AS ms
    FROM v JOIN a2 USING (vec_id) GROUP BY 1, 2
),
{_ivf_assign_cte("3", "c2")},
toks AS (
    SELECT doc_id AS vec_id, t AS term
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '') AS w
          FROM documents),
         LATERAL unnest(w) AS u(t)
),
tf_tc AS (
    SELECT cid, term, count(*) AS tf_tc
    FROM toks JOIN a3 USING (vec_id)
    GROUP BY 1, 2
),
tf_t AS (SELECT term, sum(tf_tc) AS tf_t FROM tf_tc GROUP BY term),
n_c AS (SELECT cid, sum(tf_tc) AS n_c FROM tf_tc GROUP BY cid),
tot AS (SELECT sum(n_c) AS n_total FROM n_c),
scored AS (
    SELECT f.cid, f.term, f.tf_tc,
           CAST((f.tf_tc::HUGEINT * tot.n_total * 1000000)
                // (t.tf_t::HUGEINT * c.n_c) AS BIGINT) AS lift_ppm
    FROM tf_tc f
    JOIN tf_t t USING (term)
    JOIN n_c c USING (cid)
    CROSS JOIN tot
    WHERE f.tf_tc >= {TERM_MIN_TF}
)
SELECT cid, CAST(rnk AS INT) AS rnk, term, tf_tc, lift_ppm
FROM (SELECT *, row_number() OVER (PARTITION BY cid
                                   ORDER BY lift_ppm DESC, tf_tc DESC,
                                            term) AS rnk
      FROM scored)
WHERE rnk <= {TOP_TERMS}
"""


QUERIES["corpus_cluster_top_terms"] = corpus_cluster_top_terms
ORACLE_SQL["corpus_cluster_top_terms"] = CLUSTER_TOP_TERMS_SQL
