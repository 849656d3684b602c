"""IVF (inverted-file) approximate nearest neighbor — the classic
coarse-quantizer ANN (Sivic & Zisserman '03; the FAISS IVF family):

1. **Train** a small k-means codebook on a bounded deterministic
   sample, driver-side in numpy. Sample-based training is the standard
   scale practice (codebooks for billion-vector corpora train on ~1M
   samples); the collect is O(sample), never O(corpus).
2. **Assign** every vector to its nearest centroid with pure Column
   arithmetic — per centroid an unrolled dot product, argmax via
   array_position. The centroid id is an inverted-list key — i.e.
   exactly a MapIndex key (see operators.indexed.build_ivf_index).
3. **Probe**: rank centroids against the query driver-side, scan only
   the ``nprobe`` nearest lists, exact-rerank the candidates.

Search cost per probe: O(corpus * nprobe / n_centroids) instead of
O(corpus); recall is tuned by ``nprobe``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from level_mapreduce_spark.functions import unpushable
from level_mapreduce_spark.operators.similarity import cosine_sim


def train_sample(embeddings: DataFrame, max_train: int, seed: int):
    """The bounded deterministic driver-side training sample shared
    by every "sample"-trainer (coarse centroids, PQ, residual PQ):
    the ``max_train`` rows that sort first under a seeded hash of
    vec_id, as a float64 matrix. Composite builds (IVFPQ: coarse +
    PQ codebooks) collect this ONCE and hand it to both trainers
    (r16 optimization).

    ONE job, no count (r17; VERDICT r16 #6): hash-order + limit
    plans as TakeOrderedAndProject — per-partition top-N, no shuffle
    — and the seeded xxhash64 order IS a uniform pseudo-random
    draw, so the sample stays representative without the
    fraction-sizing count() pass the Bernoulli form paid (a full
    corpus scan per composite build when the source carries
    transformations). Deterministic in (vec_id set, seed); a corpus
    smaller than ``max_train`` contributes every row, so small gate
    corpora can never starve the trainer."""
    import numpy as np

    sample = (
        embeddings.select(
            F.col("vec_id").cast("long").alias("vec_id"), "embedding"
        )
        .orderBy(
            F.xxhash64(F.col("vec_id"), F.lit(int(seed))), "vec_id"
        )
        .limit(max_train)
        .select("embedding")
        .collect()
    )
    return np.array([[float(v) for v in r["embedding"]] for r in sample])


def train_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    max_train: int = 4096,
    iters: int = 5,
    seed: int = 42,
    trainer: str = "sample",
    sample_x=None,
) -> list[list[float]]:
    """k-means codebook.

    ``trainer="sample"`` (default, deterministic): numpy Lloyd
    iterations on the bounded driver-side :func:`train_sample`, init =
    its first k rows (the seeded-hash order, ties by vec_id) —
    bit-stable across runs for a fixed seed, which is
    what the oracle gate and the stored-index sidecars rely on.
    ``trainer="mllib"``: distributed kmeans|| (Bahmani et al.,
    VLDB'12) over the FULL corpus via ``pyspark.ml.clustering.KMeans``
    — the knob for when the sample you want exceeds driver memory
    (billions of vectors); seeded, but centroid values depend on
    partitioning so they are reproducible-per-layout rather than
    bit-pinned."""
    if trainer == "mllib":
        return _train_centroids_mllib(embeddings, n_centroids, iters, seed)
    if trainer != "sample":
        raise ValueError(f"unknown trainer {trainer!r}")

    x = (
        train_sample(embeddings, max_train, seed)
        if sample_x is None
        else sample_x
    )
    k = min(n_centroids, len(x))
    cents = x[:k].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                cents[j] = x[m].mean(axis=0)
    return [[float(v) for v in c] for c in cents]


def _train_centroids_mllib(
    embeddings: DataFrame, n_centroids: int, iters: int, seed: int
) -> list[list[float]]:
    """kmeans|| over the full corpus (no driver-side sample). Centers
    are sorted by their coordinate tuple before returning so the
    list->id mapping is stable for a given fit (MLlib's internal
    center order is arbitrary)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = embeddings.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "features"
        )
    )
    model = KMeans(
        k=n_centroids,
        seed=seed,
        initMode="k-means||",
        maxIter=iters,
    ).fit(feats)
    return sorted(
        [[float(v) for v in c] for c in model.clusterCenters()]
    )


def assign_expr(vec: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid id (0-based) as Column arithmetic: argmax of
    ``x·c - |c|²/2`` (equivalent to argmin of euclidean distance),
    ties to the lowest id.

    Expressed with HOFs over a literal array-of-arrays, NOT k unrolled
    dots: the unrolled form is ~20k expression nodes for k=16/d=64 and
    sends Catalyst optimization time superlinear; this tree is ~1.5k
    nodes. The HOF interpretation overhead is irrelevant here — the
    assignment runs once per vector (build time), not per pair."""
    from level_mapreduce_spark.functions.litarr import (
        lit_doubles,
        lit_doubles_2d,
    )

    # expr-string literals: one py4j call instead of one per element
    # (~3 s of driver overhead for a k=64 codebook, measured)
    cents = lit_doubles_2d(centroids)
    half_norms = lit_doubles([sum(v * v for v in c) / 2.0 for c in centroids])
    scores = F.zip_with(
        cents,
        half_norms,
        lambda c, hn: F.aggregate(
            F.zip_with(vec, c, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        - hn,
    )
    # array_position is 1-based; equality-to-max picks the first max
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def ivf_topk(
    embeddings: DataFrame,
    probe: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Probe the nprobe nearest inverted lists, exact cosine rerank.
    Returns (vec_id, sim) like brute_topk — the recall target."""
    import math

    def score(c):
        dot = sum(p * v for p, v in zip(probe, c))
        return dot - sum(v * v for v in c) / 2.0

    ranked = sorted(range(len(centroids)), key=lambda j: -score(centroids[j]))
    wanted = ranked[: max(1, nprobe)]
    from level_mapreduce_spark.functions.litarr import lit_doubles

    probe_lit = lit_doubles(probe)
    assigned = embeddings.withColumn(
        "_list", assign_expr(F.col("embedding").cast("array<double>"), centroids)
    )
    return (
        # unpushable: inlined into a scan filter, the assignment expr
        # would evaluate twice per row (filter + project)
        assigned.where(
            unpushable(F.col("_list").isin([int(w) for w in wanted]))
        )
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.round(cosine_sim(F.col("embedding"), probe_lit), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(k)
    )
