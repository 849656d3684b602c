"""Product quantization (PQ) approximate nearest neighbor — Jégou,
Douze & Schmid, TPAMI'11 (the FAISS ``PQ``/``IVFPQ`` family): the
memory-bound scale path for embedding search.

Brute-force cosine/L2 over 100 TB of float32 embeddings is
IO-dominated: every query rescans 4·dim bytes per vector. PQ splits
each vector into ``m`` subspaces, k-means-quantizes each subspace to
one of ``k`` centroids, and stores only the ``m`` centroid ids — for
dim=64, m=8, k<=256 that is 8 bytes per vector instead of 256, a 32x
scan-volume cut. Queries never decode: an asymmetric-distance (ADC)
lookup table of probe-to-centroid distances per subspace turns each
candidate's distance into ``m`` table gathers + adds.

Division of labor (same stance as the blocked-BLAS near-dup path —
dense linear algebra is the sanctioned Arrow hot path):

- **train** — driver-side numpy k-means per subspace on a bounded
  deterministic sample (codebooks for billion-vector corpora train on
  ~1M samples; the collect is O(max_train), never O(corpus));
- **encode** — one ``mapInPandas`` pass, vectorized argmin per
  subspace per Arrow batch; output is O(corpus · m) small ints;
- **search** — LUT built driver-side (m·k floats), ADC scored per
  batch with numpy ``take``; each partition emits only its local
  top-k, the global top-k is a tiny shuffle (the distributed-top-k
  shape of ``knn_join``).

Compose with the IVF coarse quantizer (``ivf.py``) for IVFPQ: route
the probe to ``nprobe`` inverted lists, ADC-score only those codes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def train_pq(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 64,
    max_train: int = 4096,
    iters: int = 8,
    seed: int = 42,
    trainer: str = "sample",
    sample_x=None,
) -> list:
    """Per-subspace k-means codebooks, shape (m, k, dim/m).

    ``trainer="sample"`` (default, deterministic): numpy Lloyd
    iterations on the bounded driver-side ``ivf.train_sample``, init =
    its first k rows (same scheme as ``ivf.train_centroids``) —
    bit-stable for a fixed seed, which the oracle gate and sidecar
    round-trips rely on. ``trainer="mllib"``: per-subspace distributed
    kmeans|| over the FULL corpus (``pyspark.ml.clustering.KMeans``,
    seeded) — for when the representative sample exceeds driver
    memory; per-subspace centers sorted for stable code assignment
    within a fit."""
    if trainer == "mllib":
        return _train_pq_mllib(embeddings, m, k, iters, seed)
    if trainer != "sample":
        raise ValueError(f"unknown trainer {trainer!r}")
    from level_mapreduce_spark.operators.ivf import train_sample

    x = (
        train_sample(embeddings, max_train, seed)
        if sample_x is None
        else sample_x
    )
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    kk = min(k, len(x))
    books = []
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        cents = xs[:kk].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(kk):
                sel = assign == c
                if sel.any():
                    cents[c] = xs[sel].mean(axis=0)
        books.append([[float(v) for v in c] for c in cents])
    return books


def _train_pq_mllib(
    embeddings: DataFrame, m: int, k: int, iters: int, seed: int
) -> list:
    """Distributed per-subspace kmeans|| (see train_pq). One fit per
    subspace over the sliced vectors; the slice projection is narrow
    and the m fits share the cached slice source."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    d = embeddings.select(
        F.size(F.col("embedding")).alias("d")
    ).first()["d"]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    src = embeddings.select(
        F.col("embedding").cast("array<double>").alias("_e")
    ).persist()
    try:
        books = []
        for j in range(m):
            feats = src.select(
                array_to_vector(
                    F.slice(F.col("_e"), j * dsub + 1, dsub)
                ).alias("features")
            )
            model = KMeans(
                k=k, seed=seed + j, initMode="k-means||", maxIter=iters
            ).fit(feats)
            books.append(
                sorted([[float(v) for v in c] for c in model.clusterCenters()])
            )
    finally:
        src.unpersist()
    return books


def pq_encode(embeddings: DataFrame, codebooks: list) -> DataFrame:
    """Encode every vector to its ``m`` subspace centroid ids:
    ``(vec_id, codes array<int>)``. One Arrow pass, argmin vectorized
    per batch; zero shuffle."""
    import numpy as np

    books = [np.array(b) for b in codebooks]
    m = len(books)
    dsub = books[0].shape[1]
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                xs = x[:, j * dsub : (j + 1) * dsub]
                # ||x - c||² = ||x||² - 2x·c + ||c||²; ||x||² constant
                # within the argmin, so score = c² - 2x·c
                dots = xs @ books[j].T
                c2 = (books[j] ** 2).sum(axis=1)
                codes[:, j] = (c2[None, :] - 2 * dots).argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].astype("int64"),
                 "codes": list(codes)}
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        encode, out_schema
    )


def pq_topk(
    codes: DataFrame,
    codebooks: list,
    probe: list,
    k: int = 10,
) -> DataFrame:
    """ADC top-k over PQ codes: ``(vec_id, adc_dist)``, ascending
    approximate squared-L2 distance to ``probe``.

    The lookup table (m x k floats) rides the closure; scoring is
    ``m`` numpy gathers + a row sum per batch, each partition emits
    its local top-k, and the global ``orderBy(limit)`` plans as
    distributed top-k (TakeOrderedAndProject) over
    O(partitions x k) rows — never a global sort.
    """
    import numpy as np

    books = [np.array(b) for b in codebooks]
    m = len(books)
    dsub = books[0].shape[1]
    p = np.array(probe, dtype=np.float64)
    lut = np.stack(
        [
            ((books[j] - p[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
            for j in range(m)
        ]
    )  # (m, k)
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("adc_dist", T.DoubleType()),
        ]
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            c = np.array(pdf["codes"].tolist(), dtype=np.int64)
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            dist = np.zeros(len(c))
            for j in range(m):
                dist += lut[j].take(c[:, j])
            # (dist, vec_id) lexsort: PQ quantization makes exact ADC
            # ties COMMON (same codes = same distance), so an unstable
            # dist-only argsort truncation returns a run-dependent
            # top-k set — the same tiebreak every other top-k operator
            # here uses
            top = np.lexsort((vid, dist))[:k]
            yield pd.DataFrame(
                {
                    "vec_id": vid[top],
                    "adc_dist": dist[top],
                }
            )

    return (
        codes.mapInPandas(score, out_schema)
        .orderBy("adc_dist", "vec_id")
        .limit(k)
    )


def ivfpq_topk(
    embeddings: DataFrame,
    pq_codebooks: list,
    centroids: list,
    probe: list,
    k: int = 10,
    nprobe: int = 4,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVFPQ: the IVF coarse quantizer routes the probe to ``nprobe``
    inverted lists, and ADC scores ONLY those lists' PQ codes — the
    two-level FAISS composition. Per-query cost drops from
    O(corpus · m) gathers to O(corpus · m · nprobe / n_centroids),
    and the scan reads 8-byte codes, not float vectors: the plan for
    billions of embeddings.

    ``codes`` (from :func:`pq_encode` joined with the coarse
    assignment) is recomputed here when not supplied; at scale you
    store it once — ideally as a MapIndex keyed by list id, making
    each probe a pushed-down key lookup (``indexed.build_ivf_index``
    stores exactly that for the exact-rerank variant).
    """
    from level_mapreduce_spark.operators.ivf import assign_expr

    def score(c):
        dot = sum(p * v for p, v in zip(probe, c))
        return dot - sum(v * v for v in c) / 2.0

    ranked = sorted(range(len(centroids)), key=lambda j: -score(centroids[j]))
    wanted = [int(w) for w in ranked[: max(1, nprobe)]]
    if codes is None:
        assigned = embeddings.withColumn(
            "_list",
            assign_expr(F.col("embedding").cast("array<double>"), centroids),
        )
        codes = pq_encode(
            assigned.where(F.col("_list").isin(wanted)), pq_codebooks
        )
    else:
        codes = codes.where(F.col("_list").isin(wanted))
    return pq_topk(codes.select("vec_id", "codes"), pq_codebooks, probe, k=k)


def pq_assign_expr(vec, codebooks: list):
    """PQ codes as a pure Column expression: per subspace, the
    nearest-centroid id via the same HOF argmin as ``ivf.assign_expr``
    over the sliced vector — ``array<int>`` out, all JVM, no Arrow.

    The Column form exists so PQ codes can live inside a MapIndex map
    fn (``indexed.build_ivfpq_index``) — the engine's write path is
    pure Column expressions. For bulk one-off encodes the Arrow
    :func:`pq_encode` path batches better; both produce identical
    codes (tested).
    """
    from level_mapreduce_spark.operators.ivf import assign_expr

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    return F.array(
        *[
            assign_expr(
                F.slice(vec, j * dsub + 1, dsub), codebooks[j]
            )
            for j in range(m)
        ]
    )


def train_pq_residual(
    embeddings: DataFrame,
    centroids: list,
    m: int = 8,
    k: int = 64,
    max_train: int = 4096,
    iters: int = 8,
    seed: int = 42,
    sample_x=None,
) -> list:
    """Codebooks trained on COARSE RESIDUALS ``x - centroid(x)`` —
    the standard IVFPQ encoding (FAISS ``IVFPQ``): residuals have far
    less variance than raw vectors once the coarse quantizer explains
    cluster structure, so the same code budget buys finer cells.
    Same sampling/init scheme as :func:`train_pq`."""
    import numpy as np

    from level_mapreduce_spark.operators.ivf import train_sample

    x = (
        train_sample(embeddings, max_train, seed)
        if sample_x is None
        else sample_x
    )
    cents = np.array(centroids)
    d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    res = x - cents[d2.argmin(axis=1)]
    d = res.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    kk = min(k, len(res))
    books = []
    for j in range(m):
        xs = res[:, j * dsub : (j + 1) * dsub]
        cb = xs[:kk].copy()
        for _ in range(iters):
            dd = ((xs[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = dd.argmin(axis=1)
            for c in range(kk):
                sel = assign == c
                if sel.any():
                    cb[c] = xs[sel].mean(axis=0)
        books.append([[float(v) for v in c] for c in cb])
    return books


def pq_topk_lists(
    cells: DataFrame,
    codebooks: list,
    luts: dict,
    k: int = 10,
) -> DataFrame:
    """ADC top-k with PER-LIST lookup tables — the residual-IVFPQ
    scorer: each candidate's distance uses the LUT of ITS coarse list
    (built from the residual probe ``p - centroid_list``). ``cells``
    carries (vec_id, codes, _list); scoring is one fancy-indexed
    gather per subspace per batch, then the same local-top-k →
    distributed-top-k shape as :func:`pq_topk`."""
    import numpy as np

    m = len(codebooks)
    kk = len(codebooks[0])
    max_list = max(luts)
    lut_arr = np.full((max_list + 1, m, kk), np.inf)
    for lid, t in luts.items():
        lut_arr[lid] = t
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("adc_dist", T.DoubleType()),
        ]
    )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            c = np.array(pdf["codes"].tolist(), dtype=np.int64)
            lists = pdf["_list"].to_numpy().astype(np.int64)
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            dist = np.zeros(len(c))
            for j in range(m):
                dist += lut_arr[lists, j, c[:, j]]
            # (dist, vec_id) lexsort — deterministic under the common
            # exact-ADC ties (see pq_topk)
            top = np.lexsort((vid, dist))[:k]
            yield pd.DataFrame(
                {
                    "vec_id": vid[top],
                    "adc_dist": dist[top],
                }
            )

    return (
        cells.mapInPandas(score, out_schema)
        .orderBy("adc_dist", "vec_id")
        .limit(k)
    )
