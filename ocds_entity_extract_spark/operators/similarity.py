"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: native Column math (zip_with/aggregate), the
  exact baseline (queries_ml.q_ann_topk_bruteforce).
- LSH-bucketed ANN: random-hyperplane signatures -> search only matching
  buckets. The hyperplanes are seeded-deterministic literals broadcast in
  the plan (no UDF); at 100 TB the bucket join replaces the full scan.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, functions as F

from ocds_entity_extract_spark.functions.vectors import cosine

# The embedding tables the search operators read: (vec_id, embedding).
ID_COL, VEC_COL = "vec_id", "embedding"
# Every search returns the TOP_K nearest; `ann_topk_ivf` searches the
# IVF_PROBES nearest of IVF_CENTROIDS centroids.
TOP_K = 10
IVF_CENTROIDS, IVF_PROBES = 16, 12


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def with_lsh_bucket(df: DataFrame, dim: int, n_planes: int) -> DataFrame:
    """Add `bucket`: sign-pattern of the `embedding` column's dot products
    with n_planes seeded hyperplanes, packed into one long."""
    planes = _hyperplanes(dim, n_planes)
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane_lit = F.array(*[F.lit(float(x)) for x in p])
        d = F.aggregate(
            F.zip_with(F.col(VEC_COL), plane_lit, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return df.withColumn("bucket", bucket)


def ann_topk_lsh(
    embeddings: DataFrame,
    query_vec_id: int,
    n_planes: int,
    dim: int,
    probe_hamming: int | None = None,
) -> DataFrame:
    """Top-`TOP_K` by cosine among vectors in the query's LSH bucket, plus (by
    default) all hamming-1 neighbor buckets — multi-probe LSH recovers the
    recall a single-probe bucket loses when the query sits near a
    hyperplane, at the cost of n_planes extra (tiny) bucket scans.

    `probe_hamming` generalizes the probe breadth: 0 = exact bucket only,
    1 = default multi-probe, 2 = also all hamming-2 neighbor buckets
    (1 + n + n(n-1)/2 probes). On LOW-structure corpora (near-random
    vectors — per-plane agreement p barely above 1/2) expected recall is
    ~= P(signature within probe radius) = sum over the radius of the
    binomial terms, so recall is bought only with candidate fraction;
    probe breadth is the knob that trades them (the bench reports both
    radii).

    `dim` is the embedding length (from upstream metadata).
    """
    if probe_hamming is None:
        # DEFAULT radius scales with n_planes so naive callers never pay a
        # silent near-scan: radius 2 only from 8 planes up (candidate
        # fraction (1 + n + n(n-1)/2) / 2^n = 37/256 ~= 14% at n=8,
        # shrinking geometrically with more planes), radius 1 below it
        # (5/16 ~= 31% at n=4 — radius 2 there would probe 11/16 ~= 69% of
        # the corpus, near-brute-force). Recall on low-structure vectors is
        # bought ONLY with candidate fraction (bench corpus: recall@10 0.5
        # at n=4/radius 1 for 31%, 0.9 at radius 2 for 69% — no free lunch
        # below ~8 planes); size n_planes ~ log2(corpus/target_bucket) and
        # pass probe_hamming explicitly to pin a recall budget.
        probe_hamming = 2 if n_planes >= 8 else 1
    bucketed = with_lsh_bucket(embeddings, dim, n_planes)
    qrow = bucketed.filter(F.col(ID_COL) == query_vec_id).select(
        F.col(VEC_COL).alias("qv"), F.col("bucket").alias("qbucket")
    )
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << i for i in range(n_planes)]
    if probe_hamming >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    if len(masks) > 1:
        probes = F.array(
            *[F.col("qbucket").bitwiseXOR(F.lit(m)) for m in masks]
        )
        cond = F.array_contains(probes, F.col("bucket"))
    else:
        cond = F.col("bucket") == F.col("qbucket")
    return (
        bucketed.filter(F.col(ID_COL) != query_vec_id)
        .join(F.broadcast(qrow), cond)
        .select(ID_COL, F.round(cosine(F.col(VEC_COL), F.col("qv")), 3).alias("score"))
        .orderBy(F.desc("score"), F.asc(ID_COL))
        .limit(TOP_K)
    )


def ann_topk_bruteforce(embeddings: DataFrame, query_vec_id: int) -> DataFrame:
    qv = embeddings.filter(F.col(ID_COL) == query_vec_id).select(
        F.col(VEC_COL).alias("qv")
    )
    return (
        embeddings.filter(F.col(ID_COL) != query_vec_id)
        .crossJoin(F.broadcast(qv))
        .select(ID_COL, F.round(cosine(F.col(VEC_COL), F.col("qv")), 3).alias("score"))
        .orderBy(F.desc("score"), F.asc(ID_COL))
        .limit(TOP_K)
    )


def ann_topk_ivf(embeddings: DataFrame, query_vec_id: int) -> DataFrame:
    """IVF-style ANN: coarse quantization into `IVF_CENTROIDS` centroid
    buckets, probe the `IVF_PROBES` centroids nearest the query, exact
    top-`TOP_K` inside them.

    Centroids are a deterministic sample (vec_id 1..IVF_CENTROIDS — a real
    deployment k-means-trains them; sampling keeps the operator fully
    reproducible and oracle-checkable). Assignment is a broadcast of the
    tiny centroid table against the (narrow) embedding scan — the classic
    IVF plan: at 100 TB the assignment is a partition-local map and only
    the probed buckets are read (partition by centroid id). Recovers the
    recall random-hyperplane LSH loses on mid-similarity neighbors.
    Ties in assignment/probing resolve by rounded similarity then id —
    deterministic and engine-agnostic.
    """
    from pyspark.sql.window import Window

    cents = embeddings.filter(
        (F.col(ID_COL) >= 1) & (F.col(ID_COL) <= IVF_CENTROIDS)
    ).select(F.col(ID_COL).alias("cid"), F.col(VEC_COL).alias("cv"))
    sim = F.round(cosine(F.col(VEC_COL), F.col("cv")), 3)
    asg = (
        embeddings.crossJoin(F.broadcast(cents))
        .withColumn("_sim", sim)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(ID_COL).orderBy(F.desc("_sim"), F.asc("cid"))
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(ID_COL, VEC_COL, "cid")
    )
    q = embeddings.filter(F.col(ID_COL) == query_vec_id).select(
        F.col(VEC_COL).alias("qv")
    )
    probes = (
        cents.crossJoin(F.broadcast(q))
        .withColumn("_sim", F.round(cosine(F.col("cv"), F.col("qv")), 3))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(F.lit(1)).orderBy(F.desc("_sim"), F.asc("cid"))
            ),
        )
        .filter(F.col("_rn") <= IVF_PROBES)
        .select("cid")
    )
    return (
        asg.join(F.broadcast(probes), "cid")
        .filter(F.col(ID_COL) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            ID_COL, F.round(cosine(F.col(VEC_COL), F.col("qv")), 3).alias("score")
        )
        .orderBy(F.desc("score"), F.asc(ID_COL))
        .limit(TOP_K)
    )
