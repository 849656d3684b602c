"""Embedding similarity search over ``array<float>`` columns.

Two paths, per the 100 TB design rule:

- :func:`brute_topk` — exact cosine top-k: one narrow projection
  (``zip_with``/``aggregate`` dot product, JVM codegen) + a
  distributed top-k (``TakeOrderedAndProject``). The correctness
  baseline; O(corpus) per probe.
- :func:`lsh_topk` — random-hyperplane LSH: each vector lands in a
  sign-bit bucket; a probe searches its own bucket plus the buckets
  within hamming distance 1 (multiprobe), then exact-reranks. At
  scale the bucket id is a MapIndex key, so a probe prunes to
  O(corpus / 2^bits * (bits+1)) — the scan never touches the rest.

Bucket assignment (:func:`with_bucket_keys`) is an Arrow/numpy
``mapInPandas`` kernel: hyperplanes derive deterministically from the
seed in every process (nothing shipped), and the plane dots are one
BLAS matmul per batch — dense linear algebra is the one workload where
the vectorized Python batch beats Column expressions (the interpreted
HOF form of the same dots measured ~1000x slower per row and literal
plane arrays cost seconds of py4j/Catalyst per query, the round-3
"giant literal tree" trap). :func:`bucket_expr` keeps a pure-Column
single-table form for index-backed bucketing (operators.indexed).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from level_mapreduce_spark.functions.litarr import lit_doubles
from pyspark.sql import types as T

from level_mapreduce_spark.functions import unpushable


def _as_double_array(col: Column) -> Column:
    return col.cast("array<double>")


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, computed in
    double with sequential fold order (oracle-reproducible).

    A zero vector (padding row, failed upstream embed) has no defined
    cosine: the guard yields NULL instead of an ANSI DIVIDE_BY_ZERO
    job failure — null sorts last under the desc top-k orderings and
    fails every >= threshold predicate, matching the blocked/numpy
    kernel's NaN-drops-out behavior."""
    a, b = _as_double_array(a), _as_double_array(b)
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return F.when(na * nb > 0, dot / (na * nb))


def probe_vector(embeddings: DataFrame, vec_id: int) -> list[float]:
    """Point-lookup of one embedding (driver-side by design — it is the
    query argument, not a dataset)."""
    row = embeddings.where(F.col("vec_id") == vec_id).select("embedding").head()
    if row is None:
        raise KeyError(f"vec_id {vec_id} not found")
    return [float(x) for x in row[0]]


def brute_topk(
    embeddings: DataFrame, probe: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine: (vec_id, sim) — sim rounded to 6dp.
    Ties break on vec_id; the plan is a distributed partial top-k per
    partition + merge (no global sort)."""
    probe_lit = lit_doubles(probe)
    return (
        embeddings.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.round(cosine_sim(F.col("embedding"), probe_lit), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def hyperplanes(dim: int, n_bits: int = 6, seed: int = 42) -> list[list[int]]:
    """Deterministic ±1 random hyperplanes (sign-LSH for cosine)."""
    rng = random.Random(seed)
    return [
        [1 if rng.random() < 0.5 else -1 for _ in range(dim)]
        for _ in range(n_bits)
    ]


def bucket_expr(vec: Column, planes: list[list[int]]) -> Column:
    """Sign-bit bucket id: bit j = 1 iff dot(vec, plane_j) > 0."""
    vec = _as_double_array(vec)
    out = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        plane_lit = lit_doubles(plane)
        dot = F.aggregate(
            F.zip_with(vec, plane_lit, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out.bitwiseOR(
            F.when(dot > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return out


def cosine_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs:
    (vec_id_a, vec_id_b, sim) for every pair with cosine >= threshold,
    a < b. The correctness baseline — O(n²) compare; use
    :func:`cosine_neardup_pairs_lsh` at scale.

    Each side's L2 norm is computed once (not per pair); the pair
    arithmetic ``dot/(na*nb)`` is term-for-term the same left-assoc
    sum as :func:`cosine_sim`, so 6dp rounding matches the oracle's
    ``list_cosine_similarity`` bit-for-bit. The per-pair dot is the
    :func:`_pair_dot` HOF — 3.7x faster than the unrolled scalar form
    here (7.94 -> 2.13 s on the sf0.1 2M-pair join; see _pair_dot for
    the codegen mechanics of the r13 reversal)."""
    sides = _with_norm(embeddings)
    # the pair join is a broadcast nested-loop on vec_id<vec_id; its
    # parallelism is the STREAM side's partitioning — a single-file
    # corpus would run the whole O(n²) compare on one task
    n_part = embeddings.sparkSession.sparkContext.defaultParallelism
    a = sides.repartition(n_part, "vec_id").alias("a")
    b = sides.alias("b")
    dot = _pair_dot(F.col("a._e"), F.col("b._e"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
            # zero-norm guard: null sim (dropped by the threshold),
            # never an ANSI DIVIDE_BY_ZERO
            F.when(
                F.col("a._n") * F.col("b._n") > 0,
                F.round(dot / (F.col("a._n") * F.col("b._n")), 6),
            ).alias("sim"),
        )
        # unpushable: pushed into the nested-loop join condition, the
        # dot would re-evaluate per candidate pair
        .where(unpushable(F.col("sim") >= threshold))
    )


def _pair_dot(a: Column, b: Column) -> Column:
    """Per-pair dot product: ``zip_with`` + left-fold ``aggregate`` —
    the same sequential fold order as DuckDB's ``list_dot_product``,
    so 6dp rounding matches the oracle bit-for-bit.

    r13 REVERSAL of the round-3 lore: the unrolled
    ``a[0]*b[0] + ... + a[d-1]*b[d-1]`` scalar form is now the SLOW
    path. At dim 64 the 128 ANSI ``element_at`` terms grow the stage
    past the codegen limits, the executed plan loses its
    WholeStageCodegen wrapper entirely, and every term evaluates
    interpreted — measured 3-3.7x slower than this HOF (which loops
    primitive arrays inside one expression eval) across all three
    pair shapes on Spark 4.1.2: brute BNLJ 2M pairs 7.94 vs 2.13 s,
    LSH candidate verify 4.69 vs 1.54 s, semdedup fetch-join 2.74 vs
    0.79 s, value-identical in every A/B."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _with_norm(embeddings: DataFrame) -> DataFrame:
    """(vec_id, _e: array<double>, _n: l2norm) — norm staged per row."""
    e = _as_double_array(F.col("embedding"))
    return embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        e.alias("_e"),
        F.sqrt(
            F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("_n"),
    )


#: process-global cache of reference matrices loaded executor-side,
#: keyed by parquet path (each operator call writes a fresh unique dir,
#: so a path never maps to two different corpora)
_MATRIX_CACHE: dict[str, tuple] = {}


def _load_matrix(path: str):
    got = _MATRIX_CACHE.get(path)
    if got is None:
        import numpy as np
        import pyarrow.parquet as pq

        t = pq.read_table(path, columns=["vec_id", "_u"])
        ids = t.column("vec_id").to_numpy()
        col = t.column("_u").combine_chunks()
        flat = col.flatten().to_numpy(zero_copy_only=False)
        got = (
            np.asarray(ids, dtype=np.int64),
            np.asarray(flat, dtype=np.float64).reshape(len(col), -1),
        )
        _MATRIX_CACHE[path] = got
    return got


def _round_half_up(v, decimals: int = 6):
    """HALF_UP rounding matching Spark's ``F.round`` (np.round is
    banker's half-even and disagrees at exact .5 ties)."""
    import numpy as np

    scale = 10.0**decimals
    return np.sign(v) * np.floor(np.abs(v) * scale + 0.5) / scale


#: cells (rows x dim float64) the blocked fast path may collect to the
#: driver for the broadcast matrix — ~32 MB of doubles. Row budget =
#: min(small_rows, max_rows, _FAST_CELLS // observed_dim).
_FAST_CELLS = 4_194_304

#: row ceiling for the fully-driver-side tier of the blocked fast
#: path: the O(rows^2) sim matrix is materialized in driver numpy, so
#: 4096 rows = 128 MB of doubles — above it the matrix broadcasts and
#: pairs compute distributed instead
_DRIVER_ROWS = 4096


def cosine_neardup_pairs_blocked(
    embeddings: DataFrame,
    threshold: float = 0.95,
    max_rows: int = 2_000_000,
    matrix_dir: str | None = None,
    small_rows: int = 32_768,
) -> DataFrame:
    """Exact near-dup pairs via blocked matrix multiply — the
    vectorized Arrow path for the same result as
    :func:`cosine_neardup_pairs`.

    Dense numeric kernels are the one place a Pandas UDF beats Column
    expressions: the nested-loop pair join materializes ~1 KB of row
    copies per pair and evaluates the dot scalar-by-scalar, while
    ``X @ M.T`` is one BLAS call per block.

    The reference matrix is staged WITHOUT driver materialization:
    the L2-normalized corpus is written distributed to parquet
    (``matrix_dir`` — pass a shared-filesystem path on a real
    cluster; defaults to a local temp dir) and each Python worker
    reads it once, cached process-globally. Executor memory for the
    dense matrix — not driver memory — is the real bound, enforced by
    ``max_rows`` (default 2M×64d ≈ 1 GB); beyond it this raises toward
    :func:`cosine_neardup_pairs_lsh`, which never goes dense at all.

    Pair set matches the expression operator exactly; the 6dp ``sim``
    may differ in the last digit (BLAS pairwise summation vs
    sequential fold), so the DuckDB-oracle query keeps the expression
    form.

    Corpora at or below ``min(small_rows, max_rows, _FAST_CELLS/dim)``
    take a FAST PATH: a one-row dimension probe bounds the collect to
    ~32 MB of doubles regardless of vector width, then the normalized
    matrix is collected once. At or below ``_DRIVER_ROWS`` the
    thresholded pair set is computed driver-side in numpy and only the
    result is parallelized (one cluster job total); between that and
    the budget the matrix ships as a broadcast and pairs compute
    distributed via Arrow. ``max_rows`` binds all paths identically.
    The per-pair arithmetic is identical everywhere (each sim is one
    rounded BLAS dot; the tiers only change how the reference matrix
    travels), asserted equal across tiers in tests. Above the budget
    the distributed staging keeps the driver out of the data path
    entirely.
    """
    import tempfile

    spark = embeddings.sparkSession
    # null embeddings emit no pairs — the family-wide semantic (the
    # expression twin drops them via null sim, LSH via null bucket
    # key, the fast path filters its collect); without this filter a
    # null row crashes np.stack executor-side instead of being skipped
    sides = _with_norm(embeddings).where(F.col("_e").isNotNull())
    normalized = sides.select(
        "vec_id",
        F.transform("_e", lambda x: x / F.col("_n")).alias("_u"),
    )
    n_part = spark.sparkContext.defaultParallelism
    out_schema = T.StructType(
        [
            T.StructField("vec_id_a", T.LongType()),
            T.StructField("vec_id_b", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def _pairs_block(pdfs, get_matrix):
        import numpy as np
        import pandas as pd

        all_ids, all_m = get_matrix()
        for pdf in pdfs:
            if not len(pdf):
                continue
            x = np.stack(pdf["_u"].to_numpy())
            xid = pdf["vec_id"].to_numpy(dtype=np.int64)
            # threshold AFTER 6dp half-up rounding, exactly like the
            # expression twin's where(round(sim,6) >= t): filtering
            # the raw value would drop a pair whose sim rounds UP to
            # the threshold (e.g. 0.94999961 -> 0.950000) and the two
            # operators' pair sets would disagree at the boundary
            s = _round_half_up(x @ all_m.T)
            ii, jj = np.nonzero(s >= threshold)
            keep = xid[ii] < all_ids[jj]
            yield pd.DataFrame(
                {
                    "vec_id_a": xid[ii][keep],
                    "vec_id_b": all_ids[jj][keep],
                    "sim": s[ii, jj][keep],
                }
            )

    # Small-batch fast paths. A one-row dimension probe runs FIRST so
    # every subsequent collect is budgeted from the OBSERVED dimension
    # (r9 review closed the >2048-row fat-vector hole; this closes the
    # <=2048-row one too — previously the phase-1 collect itself could
    # pull e.g. 2048 x 1M-dim doubles onto the driver before any cells
    # check ran). No path may collect more than ~_FAST_CELLS doubles
    # (+1 sentinel row). Two tiers under the budget:
    #   - <= _DRIVER_ROWS rows: the probe collect already paid for the
    #     whole matrix, so the thresholded pair set is computed right
    #     here in numpy and only the (tiny) result is parallelized —
    #     ONE cluster job instead of probe + Arrow compute (r9 bench:
    #     those two fixed ~0.4 s jobs put neardup_blocked at 2.03x the
    #     anchor on a 2,000-row corpus). The arithmetic is the same
    #     rounded BLAS dot per pair, asserted bit-equal to the staged
    #     path in tests.
    #   - larger, still under budget: matrix ships as a broadcast and
    #     pairs compute distributed via mapInPandas (the driver never
    #     holds the O(rows^2) sim matrix).
    # max_rows binds all paths identically: an over-max corpus falls
    # through to the staged branch, whose count raises.
    if small_rows > 0:
        # collect the RAW cast embeddings, not the normalized frame:
        # the plain parquet-scan plan compiles and runs ~2x faster
        # than the HOF normalize plan, and the normalization is
        # replicated driver-side BIT-FOR-BIT (the acc-loop below is
        # the same left-associated ``acc + x*x`` fold as the Spark
        # ``aggregate``, and ``E / n`` the same per-element division
        # as the ``transform`` — asserted equal in tests)
        raw = embeddings.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            _as_double_array(F.col("embedding")).alias("_e"),
        )
        # null embeddings are filtered here AND in the collect below —
        # the probe and the collected frame must agree on null
        # handling (r10 advisor: an unfiltered collect made one NULL
        # row crash np.array on the driver while the probe's guard
        # promised nulls were tolerated). The staged path drops them
        # the same way, so both branches see the identical corpus.
        nonnull = raw.where(F.col("_e").isNotNull())
        dprobe = nonnull.select(F.size("_e").alias("d")).first()
        dim = int(dprobe["d"]) if dprobe is not None and dprobe["d"] else 0
        budget = min(small_rows, max_rows, _FAST_CELLS // dim) if dim else 0
        rows = nonnull.limit(budget + 1).collect() if budget > 0 else None
        if rows is not None and len(rows) <= budget:
            import numpy as np

            ids_arr = np.array(
                [r["vec_id"] for r in rows], dtype=np.int64
            )
            E = np.array(
                [r["_e"] for r in rows], dtype=np.float64
            ).reshape(len(rows), -1)
            acc = np.zeros(len(rows))
            for kk in range(E.shape[1]):
                acc = acc + E[:, kk] * E[:, kk]
            # zero-norm rows divide to inf/nan exactly like Spark's
            # double division (ANSI divide-by-zero is integral-only);
            # their nan sims fail every >= comparison in numpy on both
            # the driver and staged paths, matching the expression
            # twin's null-sim drop
            with np.errstate(divide="ignore", invalid="ignore"):
                mat = E / np.sqrt(acc)[:, None]
                if len(rows) <= _DRIVER_ROWS:
                    import pandas as pd

                    s = _round_half_up(mat @ mat.T)
                    ii, jj = np.nonzero(
                        (s >= threshold)
                        & (ids_arr[:, None] < ids_arr[None, :])
                    )
                    pdf = pd.DataFrame(
                        {
                            "vec_id_a": ids_arr[ii],
                            "vec_id_b": ids_arr[jj],
                            "sim": s[ii, jj],
                        }
                    )
                    return spark.createDataFrame(pdf, schema=out_schema)
            bcast = spark.sparkContext.broadcast((ids_arr, mat))

            def block_small(pdfs):
                yield from _pairs_block(pdfs, lambda: bcast.value)

            # the normalized matrix is already on the driver —
            # re-parallelize it instead of recomputing the
            # normalization over the source. createDataFrame slices
            # the local rows across the default parallelism at source,
            # so no repartition stage is needed.
            import pandas as _pd

            stream = spark.createDataFrame(
                _pd.DataFrame(
                    {"vec_id": ids_arr, "_u": list(mat.tolist())}
                ),
                schema="vec_id long, _u array<double>",
            )
            return stream.mapInPandas(block_small, schema=out_schema)

    # count what actually gets staged: null-embedding rows are filtered
    # from `sides` above (they emit no pairs), so they must not count
    # against the dense-matrix budget either
    n = sides.count()
    if n > max_rows:
        raise ValueError(
            f"corpus has {n} non-null rows > max_rows={max_rows}: the "
            "dense reference matrix would not fit executor memory — use "
            "cosine_neardup_pairs_lsh (bucketed, never dense) instead"
        )
    path = tempfile.mkdtemp(prefix="lmr_blocked_", dir=matrix_dir)
    normalized.write.mode("overwrite").parquet(path)

    def block(pdfs):
        yield from _pairs_block(pdfs, lambda: _load_matrix(path))

    stream = spark.read.parquet(path)
    return stream.repartition(n_part, "vec_id").mapInPandas(
        block, schema=out_schema
    )


#: process-global cache of hyperplane matrices, keyed by
#: (dim, n_planes, seed) — derived identically on driver and every
#: Python worker, so probe and corpus always see the same planes
_PLANE_CACHE: dict[tuple, object] = {}


def _plane_matrix(dim: int, n_planes: int, seed: int):
    """Gaussian hyperplane matrix ``(n_planes, dim)``, deterministic in
    the key. PCG64's stream is stability-guaranteed by numpy, so every
    process derives bit-identical planes from the seed — no plane
    shipping, no literal trees, no driver-side model object."""
    import numpy as np

    key = (dim, n_planes, seed)
    got = _PLANE_CACHE.get(key)
    if got is None:
        rng = np.random.Generator(np.random.PCG64(seed))
        got = rng.standard_normal((n_planes, dim))
        _PLANE_CACHE[key] = got
    return got


def _bucket_ids_np(X, n_bits: int, n_tables: int, seed: int):
    """Per-table sign-LSH bucket ids for a block of vectors: one BLAS
    matmul for all ``n_tables * n_bits`` plane dots, then an MSB-first
    bit fold per table. Returns int64 ``(n, n_tables)``."""
    import numpy as np

    P = _plane_matrix(X.shape[1], n_tables * n_bits, seed)
    bits = (X @ P.T) > 0
    weights = 1 << np.arange(n_bits - 1, -1, -1, dtype=np.int64)
    return np.stack(
        [
            bits[:, t * n_bits : (t + 1) * n_bits] @ weights
            for t in range(n_tables)
        ],
        axis=1,
    )


def with_bucket_keys(
    df: DataFrame,
    vec_col: str,
    n_bits: int,
    n_tables: int,
    seed: int,
    out_col: str = "_bkeys",
) -> DataFrame:
    """Adds ``out_col``: array of ``'t:bucket'`` sign-LSH keys per row.

    Arrow/numpy ``mapInPandas`` kernel — bucket assignment is a dense
    matmul, the one workload where a vectorized Python batch beats
    Column expressions: the interpreted higher-order-function form of
    the same plane dots measured ~35 ms/row-core at 128 planes × 64
    dims (HOFs don't whole-stage-codegen and box per element), vs
    microseconds/row for ``X @ P.T``. Plumbing cost is one Arrow
    round-trip of the input columns; keep ``df`` narrow."""
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(out_col, T.ArrayType(T.StringType()))]
    )

    def add_keys(pdfs):
        import numpy as np

        for pdf in pdfs:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = _bucket_ids_np(X, n_bits, n_tables, seed)
            pdf = pdf.copy()
            pdf[out_col] = [
                [f"{t}:{row[t]}" for t in range(n_tables)] for row in ids
            ]
            yield pdf

    return df.mapInPandas(add_keys, schema=schema)


def probe_bucket_ids(
    probe: list[float], n_bits: int, n_tables: int, seed: int
) -> list[int]:
    """The probe's per-table bucket ids — driver-side numpy through
    the SAME plane derivation as the corpus kernel (no Spark job)."""
    import numpy as np

    X = np.asarray([probe], dtype=np.float64)
    return [int(b) for b in _bucket_ids_np(X, n_bits, n_tables, seed)[0]]


def cosine_neardup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 16,
    n_tables: int = 8,
    seed: int = 42,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Scale path for embedding near-dup: candidates = pairs sharing a
    sign-LSH bucket in ANY of ``n_tables`` hyperplane tables (the same
    bucket key a MapIndex stores — see operators.indexed), verified
    with the exact dot product.

    Knobs: P(same bucket per table) = (1 - theta/pi)^n_bits, overall
    recall = 1-(1-p1)^n_tables. 16 bits / 8 tables → recall 1.0 for
    exact dups (theta=0, always same bucket), ~99.5% at cos 0.99,
    ~80% at cos 0.95 (raise n_tables to ~24 for 99% there). More bits
    = fewer random bucket collisions: 2^16 buckets keep candidate
    volume ~n²/2^16 per table + true-dup density, vs n²/64 at 6 bits
    — bits should grow with log2(corpus) so occupancy stays constant.
    ``max_bucket`` drops degenerate hot buckets (e.g. a near-zero or
    all-equal embedding cluster collapsing a table): a bucket larger
    than the cap would alone contribute O(cap²) candidate pairs; the
    other tables still cover its true pairs (same rationale as
    minhash_lsh_pairs).

    The candidate dedup shuffles (vec_id_a, vec_id_b) ONLY — vectors
    are fetched back by a join after the distinct, so the wide rows
    (128 doubles/pair) never ride the dedup shuffle."""
    # repartition ONLY the bucket path (explicit count: a single
    # parquet file scans as one partition, and AQE would coalesce a
    # plain repartition back down by byte size on the tiny rows); the
    # fetch-back joins below shuffle on their own join keys, so
    # `sides` stays an unshuffled scan for those
    n_part = embeddings.sparkSession.sparkContext.defaultParallelism
    sides = _with_norm(embeddings)
    # localCheckpoint (eager) pins the narrow (vec_id, bkey) table:
    # it feeds BOTH sides of the self-join plus the bucket-size
    # aggregate, and without pinning each consumer re-runs the Arrow
    # bucket kernel over the corpus. Eager RDD blocks (not .persist())
    # so ContextCleaner reclaims them when the result is GC'd.
    buckets = (
        with_bucket_keys(
            _with_norm(embeddings.repartition(n_part, "vec_id")).select(
                "vec_id", "_e"
            ),
            "_e",
            n_bits,
            n_tables,
            seed,
        )
        .select("vec_id", F.explode_outer("_bkeys").alias("bkey"))
        .where(F.col("bkey").isNotNull())
        .localCheckpoint(eager=True)
    )
    sizes = buckets.groupBy("bkey").agg(F.count("*").alias("_n"))
    capped = buckets.join(
        sizes.where(F.col("_n") <= max_bucket), "bkey", "inner"
    )
    cands = (
        capped.alias("x")
        .join(capped.alias("y"), "bkey")
        .where(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("vec_id_a"),
            F.col("y.vec_id").alias("vec_id_b"),
        )
        .distinct()
    )
    # _pair_dot HOF, not the unrolled form: 3x on the candidate
    # verify (4.69 -> 1.54 s at sf0.1 — see _pair_dot's r13 note)
    dot = _pair_dot(F.col("_ea"), F.col("_eb"))
    return (
        cands.join(
            sides.select(
                F.col("vec_id").alias("vec_id_a"),
                F.col("_e").alias("_ea"),
                F.col("_n").alias("_na"),
            ),
            "vec_id_a",
        )
        .join(
            sides.select(
                F.col("vec_id").alias("vec_id_b"),
                F.col("_e").alias("_eb"),
                F.col("_n").alias("_nb"),
            ),
            "vec_id_b",
        )
        .select(
            "vec_id_a",
            "vec_id_b",
            F.when(
                F.col("_na") * F.col("_nb") > 0,
                F.round(dot / (F.col("_na") * F.col("_nb")), 6),
            ).alias("sim"),
        )
        .where(unpushable(F.col("sim") >= threshold))
    )


def lsh_topk(
    embeddings: DataFrame,
    probe: list[float],
    k: int = 10,
    n_bits: int = 6,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: ``n_tables`` independent hyperplane tables;
    per table, candidates = probe's bucket plus buckets at hamming
    distance 1 (multiprobe); union the tables, exact cosine rerank.

    Multiple tables are the standard recall lever when neighbors are
    not angularly tight (P(candidate) = 1-(1-p1)^L): per-table bucket
    checks are narrow Column predicates OR-ed together, so the corpus
    is still scanned once and only candidates reach the rerank sort.
    Returns (vec_id, sim).
    """
    probe_lit = lit_doubles(probe)
    # probe buckets driver-side through the same plane derivation; one
    # wanted-key list covers all tables + hamming-1 multiprobe,
    # matched with arrays_overlap
    ids = probe_bucket_ids(probe, n_bits, n_tables, seed)
    wanted = []
    for t, pb in enumerate(ids):
        for w in [pb] + [pb ^ (1 << j) for j in range(n_bits)]:
            wanted.append(f"{t}:{w}")
    n_part = embeddings.sparkSession.sparkContext.defaultParallelism
    keyed = with_bucket_keys(
        embeddings.repartition(n_part, "vec_id"),
        "embedding", n_bits, n_tables, seed,
    )
    return (
        # the filter cannot be pushed below the mapInPandas barrier, so
        # bucket keys are computed exactly once per row
        keyed.where(F.arrays_overlap(F.col("_bkeys"), F.lit(wanted)))
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.round(cosine_sim(F.col("embedding"), probe_lit), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(k)
    )


# semantic_dedup's self-join salt only needs to spread the Σc²
# pair-explosion across enough cells that no single reducer owns a
# whole cluster's pair volume — it must NOT track cluster width: the
# y side is replicated once per salt value, so salt =
# defaultParallelism would replicate the (narrow) rank table 2,000×
# on a 2,000-core cluster for zero extra skew relief. 64 cells per
# cluster already splits the worst sf1.0 cluster's pairs to < 2% per
# cell (the r13 AQE-collapse fix needed only "more than one").
_SEMDEDUP_SALT_CAP = 64


def _semdedup_salt_width(n_part: int) -> int:
    """Salt width for the within-cluster self-join: the session's
    parallelism, capped at :data:`_SEMDEDUP_SALT_CAP` so y-side
    replication is bounded by pair volume, never cluster size."""
    return max(1, min(int(n_part), _SEMDEDUP_SALT_CAP))


def _semdedup_assignment(
    embeddings: DataFrame, centroids: list[list[float]], n_part: int
) -> DataFrame:
    """``(vec_id, _e, cluster, centroid_sim)`` nearest-centroid
    assignment — ONE expression shared by :func:`semantic_dedup` and
    the stored-index paths (:func:`build_semdedup_index` /
    :func:`semdedup_update`), so batch and incremental assignments
    can never drift. Scores are rounded to 6dp BEFORE the argmax:
    raw double scores can drift in the last bits across engines,
    flipping the assignment of a point near a cell boundary; at 6dp
    both engines see the same number and break exact ties to the
    lowest cluster id. Zero-norm vectors have no cosine geometry:
    cluster -1, centroid_sim 0.0."""
    from level_mapreduce_spark.functions.litarr import (
        lit_doubles,
        lit_doubles_2d,
    )

    cents = lit_doubles_2d(centroids)
    half_norms = lit_doubles(
        [sum(v * v for v in c) / 2.0 for c in centroids]
    )
    vec = _as_double_array(F.col("embedding"))
    norm2 = F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
    scores = F.zip_with(
        cents,
        half_norms,
        lambda c, hn: F.round(
            F.aggregate(
                F.zip_with(vec, c, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            - hn,
            6,
        ),
    )
    cluster = F.when(
        norm2 > 0,
        (F.array_position(scores, F.array_max(scores)) - 1).cast("int"),
    ).otherwise(F.lit(-1).cast("int"))
    return (
        embeddings.repartition(n_part, "vec_id")
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            vec.alias("_e"),
            cluster.alias("cluster"),
        )
        .select(
            "vec_id",
            "_e",
            "cluster",
            F.when(F.col("cluster") < 0, F.lit(0.0)).otherwise(
                F.round(
                    cosine_sim(
                        F.col("_e"),
                        F.element_at(cents, F.col("cluster") + 1),
                    ),
                    6,
                )
            ).alias("centroid_sim"),
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroids: list[list[float]] | None = None,
    n_clusters: int = 16,
    threshold: float = 0.95,
    max_cluster: int = 100_000,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication via coarse clustering — cluster the embedding space,
    then mark a vector a duplicate iff some cluster-mate ranked before
    it is cosine-similar above ``threshold``. The paper keeps the
    examples with LOW similarity to their cluster centroid; the rank
    order here is exactly that — ``(round(centroid_sim, 6) ASC,
    vec_id ASC)`` — so the kept representative of every duplicate
    neighborhood is the most centroid-distant member, deterministically.

    Returns one row per input vector:
    ``(vec_id, cluster, centroid_sim, keep, leader_id, leader_sim)``
    where ``leader_id`` is the EARLIEST-ranked similar predecessor
    (null when kept). Zero-norm vectors have no cosine geometry:
    cluster -1, centroid_sim 0.0, always kept.

    ``centroids``: pass a trained/stored codebook, or None to train
    k-means on a bounded deterministic sample (:func:`ivf.
    train_centroids` — the FAISS-style scale practice; at 100 TB use
    ``trainer="mllib"`` kmeans|| and pass the result in).

    Scale shape: assignment is one narrow projection (HOF dot per
    centroid over a broadcast-literal codebook, scores rounded to 6dp
    so the argmax is oracle-reproducible); the pair generator is a
    within-cluster self-join — O(Σ cluster_size²) candidates, NEVER
    corpus² — so ``n_clusters`` must grow with the corpus
    (k ≈ n/target_cluster_size, the paper's regime); clusters larger
    than ``max_cluster`` are exempted from pairing (all members kept)
    rather than allowed to detonate a reducer, mirroring
    ``max_bucket`` in :func:`cosine_neardup_pairs_lsh`. The leader
    pick is a partial-aggregable ``min(struct(rank, ...))``, not a
    window re-sort over candidates.
    """
    if centroids is None:
        from level_mapreduce_spark.operators.ivf import train_centroids

        centroids = train_centroids(
            embeddings, n_centroids=n_clusters, seed=seed
        )
    from pyspark.sql.window import Window

    vec = _as_double_array(F.col("embedding"))
    norm2 = F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
    n_part = embeddings.sparkSession.sparkContext.defaultParallelism
    # vectors + norms: a cheap projection kept SEPARATE from the
    # HOF-heavy assignment so the pair stage can fetch them back by id
    # without re-running the k-dot argmax
    vecs = embeddings.repartition(n_part, "vec_id").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        vec.alias("_e"),
        F.sqrt(norm2).alias("_n"),
    )
    # the NARROW assignment table (vec_id, cluster, centroid_sim)
    # feeds four consumers (sizes, both self-join sides, the final
    # left side); localCheckpoint (eager RDD blocks, ContextCleaner-
    # reclaimed) pins it so the k HOF dots + argmax run ONCE per
    # vector — without pinning each consumer re-evaluates the whole
    # assignment stack (measured 7-10 s vs ~1 s at sf0.1). Same
    # pattern as cosine_neardup_pairs_lsh's bucket table.
    assigned = (
        _semdedup_assignment(embeddings, centroids, n_part)
        .select("vec_id", "cluster", "centroid_sim")
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("cluster").orderBy("centroid_sim", "vec_id")
    sizes = assigned.where(F.col("cluster") >= 0).groupBy("cluster").agg(
        F.count("*").alias("_n")
    )
    # ranked is narrow (vec_id, cluster, centroid_sim, _rk) and feeds
    # both self-join sides; pinned for the same reason as assigned
    ranked = (
        assigned.where(F.col("cluster") >= 0)
        .join(
            F.broadcast(sizes.where(F.col("_n") <= max_cluster)),
            "cluster",
            "left_semi",
        )
        .withColumn("_rk", F.row_number().over(w))
        .localCheckpoint(eager=True)
    )
    # rank pairs are generated NARROW (ids + ranks only — 64-double
    # vectors never ride the cluster shuffle), then vectors are
    # fetched back by id; the per-pair cosine uses the zip_with/
    # aggregate HOF, NOT _dot_unrolled — on this post-join projection
    # the 128-term unrolled tree disables whole-stage codegen for the
    # stage (no WholeStageCodegen node in the executed plan) and runs
    # interpreted element_at 128x/row, measured 3.5x SLOWER than the
    # HOF's internal primitive-array loop (2.74 vs 0.79 s on the
    # sf0.1 125k-pair join, value-identical); unpushable keeps the
    # threshold out of the join condition where it would re-evaluate
    # per candidate
    # SALTED self-join (the r13 sf1.0 lesson): the cluster key has
    # only n_clusters distinct values and the rank table is KB-sized,
    # so a plain join-on-cluster lets AQE coalesce the Σc² pair
    # EXPLOSION onto ~1 task (95 s at sf1.0, single-core). The x side
    # takes salt = _rk % B, the y side is replicated once per salt,
    # and both sides are explicitly co-partitioned on (cluster, salt)
    # — explicit numPartitions, so AQE cannot re-coalesce — spreading
    # the explosion across B×n_clusters cells. y replication is B
    # copies of a NARROW row (vectors are fetched after), bounded by
    # B × corpus ids.
    salt_b = _semdedup_salt_width(n_part)
    x_side = ranked.withColumn(
        "_salt", F.pmod(F.col("_rk"), F.lit(salt_b))
    ).repartition(n_part, "cluster", "_salt")
    y_side = ranked.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_b - 1)))
    ).repartition(n_part, "cluster", "_salt")
    rank_pairs = (
        x_side.alias("x")
        .join(y_side.alias("y"), ["cluster", "_salt"])
        .where(F.col("y._rk") < F.col("x._rk"))
        .select(
            F.col("x.vec_id").alias("vec_id"),
            F.col("y._rk").alias("_r"),
            F.col("y.vec_id").alias("_lid"),
        )
    )
    pair_dot = F.aggregate(
        F.zip_with(F.col("_ea"), F.col("_eb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cands = (
        rank_pairs.join(
            vecs.select(
                F.col("vec_id"),
                F.col("_e").alias("_ea"),
                F.col("_n").alias("_na"),
            ),
            "vec_id",
        )
        .join(
            vecs.select(
                F.col("vec_id").alias("_lid"),
                F.col("_e").alias("_eb"),
                F.col("_n").alias("_nb"),
            ),
            "_lid",
        )
        .select(
            "vec_id",
            "_r",
            "_lid",
            F.when(
                F.col("_na") * F.col("_nb") > 0,
                F.round(pair_dot / (F.col("_na") * F.col("_nb")), 6),
            ).alias("_ls"),
        )
        .where(unpushable(F.col("_ls") >= threshold))
    )
    leaders = (
        cands.groupBy("vec_id")
        .agg(
            F.min(
                F.struct(
                    F.col("_r"),
                    F.col("_lid").alias("leader_id"),
                    F.col("_ls").alias("leader_sim"),
                )
            ).alias("_ld")
        )
        .select("vec_id", "_ld.leader_id", "_ld.leader_sim")
    )
    return assigned.join(leaders, "vec_id", "left").select(
        "vec_id",
        "cluster",
        "centroid_sim",
        F.col("leader_id").isNull().alias("keep"),
        "leader_id",
        "leader_sim",
    )


_SEMDEDUP_VALUE_T = T.StructType(
    [
        T.StructField("rank", T.LongType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("centroid_sim", T.DoubleType()),
        T.StructField("keep", T.BooleanType()),
        T.StructField("leader_id", T.LongType()),
        T.StructField("leader_sim", T.DoubleType()),
        T.StructField("emb", T.ArrayType(T.DoubleType())),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ]
)


def _semdedup_member_mapper():
    """Map fn for the stored semdedup index: one row per vector under
    its cluster key ``C#<cluster>``, carrying the FROZEN decision
    (rank, keep, leader) plus the vector payload — the piece
    :func:`semdedup_update` compares new vectors against: the full
    embedding (``vector_storage="full"``) OR its PQ codes
    (``vector_storage="pq"``, m ints instead of dim doubles — the
    storage shrink). Cluster keys make the update's read a literal In
    over the affected clusters only (key-pruned, like the IVF
    lists)."""
    from level_mapreduce_spark.engine.mapper import ExprMapper

    return ExprMapper(
        F.array(
            F.struct(
                F.concat(
                    F.lit("C#"), F.col("cluster").cast("string")
                ).alias("index_key"),
                F.struct(
                    F.col("rank").cast("long").alias("rank"),
                    F.col("vec_id").cast("long").alias("vec_id"),
                    F.col("centroid_sim")
                    .cast("double")
                    .alias("centroid_sim"),
                    F.col("keep").cast("boolean").alias("keep"),
                    F.col("leader_id").cast("long").alias("leader_id"),
                    F.col("leader_sim")
                    .cast("double")
                    .alias("leader_sim"),
                    F.col("_e").alias("emb"),
                    F.col("_codes").alias("codes"),
                ).alias("value"),
            )
        ),
        value_type=_SEMDEDUP_VALUE_T,
    )


def _pq_decode_expr(codes: Column, books_col: Column, m: int) -> Column:
    """Reconstruct the approximate embedding from PQ codes: per
    subspace j, the code's centroid row from the (staged — HOF
    lambdas re-evaluate free literals per invocation) codebook
    column, flattened back to dim doubles. Codes are 0-based,
    element_at 1-based."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(m)),
            lambda j: F.element_at(
                F.element_at(books_col, j.cast("int")),
                (F.element_at(codes, j.cast("int")) + 1).cast("int"),
            ),
        )
    )


def build_semdedup_index(
    spark,
    embeddings: DataFrame,
    store: str,
    name: str = "semdedup_index",
    centroids: list[list[float]] | None = None,
    n_clusters: int = 16,
    threshold: float = 0.95,
    max_cluster: int = 100_000,
    seed: int = 42,
    vector_storage: str = "full",
    pq_m: int = 8,
    pq_k: int = 64,
    pq_margin: float = 0.3,
):
    """SemDeDup on the engine's incremental spine: run the batch
    :func:`semantic_dedup` once, then persist every vector's FROZEN
    decision (rank within its cluster, keep/leader) plus its
    embedding in a MapIndex keyed by cluster, with the codebook +
    threshold in a sidecar so a fresh session can extend it.

    **Consistency contract — frozen leaders.** The stored ranks and
    decisions never change under churn: :func:`semdedup_update`
    appends new vectors AFTER every stored rank and dedups them
    against the stored members (plus earlier members of the same
    batch). This is the streaming-ingest semantics ("is this new
    document a duplicate of anything we already kept?"); it is NOT
    equivalent to a full recompute, which could rank a new
    centroid-distant vector FIRST and flip existing decisions. Epoch
    recompute = rebuild the index. The batch/incremental split is
    the reference's own build-vs-update contract (index.js:173-249)
    applied to a corpus-global operator by pinning the global state
    (rank order) at build time.

    **Storage cost — stored embeddings, and the PQ shrink.** With the
    default ``vector_storage="full"`` every member row carries its
    full embedding (``value.emb``): the frozen-leader update compares
    new vectors against stored members without re-reading the source
    table, at the price of a second full copy of the vector column
    (~2x vector bytes corpus-wide at 100 TB). ``vector_storage="pq"``
    stores ``pq_m`` int codes instead (codebooks trained here, frozen
    in the sidecar — dim doubles -> m ints per member): updates then
    DECODE the codes into approximate embeddings as a CANDIDATE
    FILTER at ``threshold - pq_margin`` and re-verify every candidate
    EXACTLY against ``source_embeddings`` (which the caller must pass
    to :func:`semdedup_update`) — the ``ivfpq_knn_join`` pattern:
    codes filter, the source scores. Scores and decisions are exact;
    recall of the candidate step is probabilistic (a true near-dup
    whose reconstruction error exceeds ``pq_margin`` can be missed —
    raise the margin to trade update cost for recall; MEASURED
    against planted near-dups whose true sims hug the threshold (the
    worst case, scripts/semdedup_pq_margin_sweep.py at sf0.1,
    threshold 0.85, m=8 k=64 on dim-64): recall 1.0 at the 0.3
    default, 0.94 at 0.2, 0.48 at 0.1). The gate keeps "full"; pq
    equivalence is differential-tested."""
    if centroids is None:
        from level_mapreduce_spark.operators.ivf import train_centroids

        centroids = train_centroids(
            embeddings, n_centroids=n_clusters, seed=seed
        )
    from pyspark.sql.window import Window

    decisions = semantic_dedup(
        embeddings,
        centroids=centroids,
        threshold=threshold,
        max_cluster=max_cluster,
    )
    w = Window.partitionBy("cluster").orderBy("centroid_sim", "vec_id")
    ranked = decisions.withColumn(
        "rank",
        F.when(
            F.col("cluster") >= 0, F.row_number().over(w).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )
    if vector_storage not in ("full", "pq"):
        raise ValueError(
            f"vector_storage={vector_storage!r}: expected 'full' or 'pq'"
        )
    n_part = spark.sparkContext.defaultParallelism
    vecs = embeddings.repartition(n_part, "vec_id").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        _as_double_array(F.col("embedding")).alias("_e"),
    )
    meta = {
        "threshold": threshold,
        "max_cluster": max_cluster,
        "centroids": [[float(v) for v in c] for c in centroids],
        "vector_storage": vector_storage,
    }
    if vector_storage == "pq":
        from level_mapreduce_spark.operators.pq import pq_encode, train_pq

        books = train_pq(embeddings, m=pq_m, k=pq_k, seed=seed)
        meta["pq_codebooks"] = [
            [[float(v) for v in row] for row in b] for b in books
        ]
        meta["pq_margin"] = float(pq_margin)
        codes = pq_encode(
            embeddings.select(
                F.col("vec_id").cast("long").alias("vec_id"),
                _as_double_array(F.col("embedding")).alias("embedding"),
            ),
            books,
        ).withColumnRenamed("codes", "_codes")
        # the shrink: codes replace the embedding in storage
        vecs = vecs.join(codes, "vec_id").withColumn(
            "_e", F.lit(None).cast("array<double>")
        )
    else:
        vecs = vecs.withColumn(
            "_codes", F.lit(None).cast("array<int>")
        )
    rows = ranked.join(vecs, "vec_id")
    return _semdedup_family().create(spark, rows, store, name, meta)


def _semdedup_family():
    from level_mapreduce_spark.engine.family import StoredIndexFamily

    return StoredIndexFamily(
        kind="semdedup",
        sidecar="semdedup.json",
        doc_key="vec_id",
        mapper_for=lambda meta: _semdedup_member_mapper(),
        builder_name="build_semdedup_index",
        # serving family: a dedup server accumulates SMALL churn
        # batches, each one epoch, all far below the bytes-ratio
        # floor — the r15 measured serve curve grew ~20 ms/epoch
        # unbounded until the 24-epoch default tier. A minor fold
        # every 8 epochs caps the listing+union+anti-join tax at
        # ~8x the floor (VERDICT r15 #3); per-build override via
        # compact_epochs= in the build meta.
        compact_epochs=8,
    )


def load_semdedup_index(spark, store: str, name: str = "semdedup_index"):
    """Reopen a stored semdedup index with the persisted codebook +
    threshold; refuses handles without a semdedup sidecar (an update
    against a guessed codebook would silently mis-assign every new
    vector)."""
    return _semdedup_family().load(spark, store, name)


def semdedup_from_index(idx) -> DataFrame:
    """The stored decisions as :func:`semantic_dedup`'s output frame
    ``(vec_id, cluster, centroid_sim, keep, leader_id, leader_sim)``
    — one scan of the persisted members, no assignment or pairing
    re-run. Immediately after a build this equals the batch frame
    exactly; after updates it reflects the frozen-leader history
    (see :func:`build_semdedup_index`)."""
    return idx.read().select(
        F.col("value.vec_id").alias("vec_id"),
        F.expr("cast(substring(index_key, 3) as int)").alias("cluster"),
        F.col("value.centroid_sim").alias("centroid_sim"),
        F.col("value.keep").alias("keep"),
        F.col("value.leader_id").alias("leader_id"),
        F.col("value.leader_sim").alias("leader_sim"),
    )


def semdedup_update(
    idx,
    new_embeddings: DataFrame,
    max_batch: int = 100_000,
    source_embeddings: DataFrame | None = None,
) -> DataFrame:
    """Incrementally dedup ``new_embeddings`` against a stored
    semdedup index under the FROZEN-LEADERS contract (see
    :func:`build_semdedup_index`): assign with the sidecar codebook,
    rank the batch AFTER every stored member of its cluster
    (in-batch order = the batch semantics' ``(centroid_sim ASC,
    vec_id)``), mark a vector duplicate iff some earlier-ranked
    member — stored OR earlier in this batch — is cosine-similar
    above the stored threshold, append the new members to the index,
    and return their decision frame.

    **Re-ingestion (overwrite) semantics.** A batch vec_id that is
    already stored REPLACES its stored row (the engine's
    delete-then-insert, index.js:182-205): the stale row is excluded
    from the predecessor set before pairing — a vector is never
    compared against its own previous embedding (which would
    self-match at sim 1.0 and silently flip it to keep=false) — and
    the vector gets a fresh rank appended after the surviving
    members. Stored ``leader_id`` references elsewhere in the index
    are as-of-decision-time history and are NOT rewritten when the
    leader itself is overwritten. **Deletes are not supported** — a
    ``deleted`` column in the batch raises; removing vectors
    invalidates frozen decisions that cited them, so delete = rebuild.

    Scale shape: the stored read is a literal In over the batch's
    affected cluster keys (key-pruned — never the whole index); the
    affected-cluster collect is bounded by n_clusters; clusters whose
    STORED population exceeds the sidecar ``max_cluster`` keep the
    batch semantics' oversize exemption (new members kept unpaired).
    The pair join is cluster-keyed on the bare (low-cardinality)
    cluster key and sized batch × cluster members — correct only for
    batches small next to the corpus (the engine's O(changed docs)
    update contract). A corpus-sized batch through this join would
    reproduce the single-task skew collapse that the batch
    :func:`semantic_dedup` salts against, so batches larger than
    ``max_batch`` rows are refused: rebuild instead (or raise the
    knob deliberately after reading this paragraph).

    **PQ-stored indexes** (``vector_storage="pq"`` at build): stored
    members carry PQ codes, not embeddings, so the pairing first
    DECODES codes into approximate embeddings (a candidate filter at
    ``threshold - pq_margin``) and then re-verifies every surviving
    candidate EXACTLY against ``source_embeddings`` — REQUIRED here,
    and it must contain every vector ever ingested (build corpus +
    all prior update batches; this batch's vectors are supplied
    internally). A candidate whose exact embedding is missing from
    the source raises rather than silently dropping a duplicate.
    Scores/decisions stay exact; candidate recall is probabilistic
    (see :func:`build_semdedup_index`)."""
    meta = idx.get_sidecar(name="semdedup.json")
    if meta is None or meta.get("type") != "semdedup":
        raise ValueError(
            f"no semdedup sidecar under {idx.root}; was this index "
            "built by build_semdedup_index?"
        )
    if "deleted" in new_embeddings.columns:
        raise ValueError(
            "semdedup_update does not support deletes: stored frozen "
            "decisions may cite the deleted vectors as leaders — "
            "rebuild the index without them (build_semdedup_index)"
        )
    centroids = meta["centroids"]
    threshold = float(meta["threshold"])
    max_cluster = int(meta.get("max_cluster", 100_000))
    storage = meta.get("vector_storage", "full")
    if storage == "pq" and source_embeddings is None:
        raise ValueError(
            "semdedup_update on a PQ-stored index needs "
            "source_embeddings= (exact re-verification source; see "
            "build_semdedup_index's storage-cost note)"
        )
    spark = idx.spark
    n_part = spark.sparkContext.defaultParallelism
    from pyspark.sql.window import Window

    # ONE driver wave replaces three (r17; VERDICT r16 #5): the
    # assignment checkpoint is LAZY — the per-cluster count collect
    # below is its first action, so one job materializes the pinned
    # batch AND returns the batch size (sum) AND the affected cluster
    # set (keys) that the old path paid three sequential waves for
    # (eager ckpt, count(), distinct-collect). The collect stays
    # bounded: <= n_clusters + 1 groups by construction.
    newa = _semdedup_assignment(
        new_embeddings, centroids, n_part
    ).localCheckpoint(eager=False)
    cluster_counts = (
        newa.groupBy("cluster").agg(F.count("*").alias("_n")).collect()
    )
    batch_n = sum(r["_n"] for r in cluster_counts)
    if batch_n > max_batch:
        raise ValueError(
            f"semdedup_update batch has {batch_n} rows > max_batch="
            f"{max_batch}: the unsalted cluster-keyed pair join is "
            "sized for incremental batches — rebuild the index for "
            "corpus-sized ingest, or raise max_batch deliberately"
        )
    live = sorted(
        r["cluster"] for r in cluster_counts if r["cluster"] >= 0
    )
    keys = [f"C#{c}" for c in live]
    # an all-zero-norm batch has no affected clusters: empty isin is
    # not a valid In, so pin the stored side empty explicitly.
    # Re-ingestion: anti-join the stored members against the batch's
    # vec_ids BEFORE ranking/pairing — a re-ingested vector must not
    # rank against or match its own soon-to-be-tombstoned stale row
    # (ADVICE r14), and the freed max-rank recomputes over survivors.
    stored = (
        idx.read()
        .where(F.col("index_key").isin(keys) if keys else F.lit(False))
        .select(
            F.expr("cast(substring(index_key, 3) as int)").alias("cluster"),
            F.col("value.rank").alias("rank"),
            F.col("value.vec_id").alias("vec_id"),
            F.col("value.emb").alias("_e"),
            F.col("value.codes").alias("_codes"),
        )
        .join(
            F.broadcast(newa.select("vec_id")), "vec_id", "left_anti"
        )
    )
    if storage == "pq":
        from level_mapreduce_spark.functions.litarr import lit_doubles_3d

        books = meta["pq_codebooks"]
        margin = float(meta.get("pq_margin", 0.3))
        # stage the codebook literal: HOF lambdas re-evaluate free
        # literals per invocation (staging lesson)
        stored = (
            stored.withColumn("_books", lit_doubles_3d(books))
            .withColumn(
                "_e",
                _pq_decode_expr(
                    F.col("_codes"), F.col("_books"), len(books)
                ),
            )
            .drop("_books")
        )
    # LAZY persist (r17): stored feeds both the rank-base aggregate
    # (materialized inside the ranked_new checkpoint wave) and the
    # predecessor side of the pair join (the decision wave) — without
    # the pin the key-pruned index read runs once PER consumer, which
    # at scale is a second full read of every affected cluster's
    # members. persist() adds no driver wave (the first consumer
    # builds the cache in its own job) and is released before the
    # engine write below rewrites the files the plan reads.
    stored = stored.drop("_codes").persist()
    try:
        base = stored.groupBy("cluster").agg(
            F.max("rank").alias("_base"), F.count("*").alias("_nstored")
        )
        w = Window.partitionBy("cluster").orderBy("centroid_sim", "vec_id")
        ranked_new = (
            newa.where(F.col("cluster") >= 0)
            .withColumn("_rk_in", F.row_number().over(w).cast("long"))
            .join(F.broadcast(base), "cluster", "left")
            .withColumn(
                "rank",
                F.coalesce(F.col("_base"), F.lit(0).cast("long"))
                + F.col("_rk_in"),
            )
            .withColumn(
                "_skip",
                F.coalesce(F.col("_nstored"), F.lit(0).cast("long"))
                > max_cluster,
            )
            .localCheckpoint(eager=True)
        )
        preds = stored.select(
            "cluster",
            F.col("rank").alias("_r"),
            F.col("vec_id").alias("_lid"),
            F.col("_e").alias("_eb"),
        ).unionByName(
            ranked_new.select(
                "cluster",
                F.col("rank").alias("_r"),
                F.col("vec_id").alias("_lid"),
                F.col("_e").alias("_eb"),
            )
        )
        x_side = ranked_new.where(~F.col("_skip")).select(
            "cluster",
            F.col("rank").alias("_xrk"),
            "vec_id",
            F.col("_e").alias("_ea"),
        )
        norm = lambda c: F.sqrt(  # noqa: E731
            F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
        )
        sim = F.when(
            F.col("_na") * F.col("_nb") > 0,
            F.round(
                _pair_dot(F.col("_ea"), F.col("_eb"))
                / (F.col("_na") * F.col("_nb")),
                6,
            ),
        )
        pair_threshold = (
            threshold - margin if storage == "pq" else threshold
        )
        cands = (
            x_side.join(preds, "cluster")
            .where(F.col("_r") < F.col("_xrk"))
            .withColumn("_na", norm(F.col("_ea")))
            .withColumn("_nb", norm(F.col("_eb")))
            .withColumn("_ls", sim)
            .where(unpushable(F.col("_ls") >= pair_threshold))
        )
        if storage == "pq":
            # exact re-verification (the ivfpq_knn_join pattern): pin the
            # bounded candidate set (<= batch x cluster rows, eager
            # localCheckpoint), then fetch ONLY those candidates' true
            # embeddings — this batch's from the assignment frame,
            # everything older from the caller's source table. Pruning the
            # corpus-sized source with a broadcast LEFT-SEMI on the
            # distinct candidate ids BEFORE the left-outer join keeps the
            # update O(changed docs): a left-outer join cannot broadcast
            # its small LEFT side, so joining the raw source would shuffle
            # the whole table by _lid. A candidate missing from the source
            # still RAISES (silently dropping it would hide a dup).
            cands = cands.drop("_eb", "_nb", "_ls").localCheckpoint(
                eager=True
            )
            cand_ids = cands.select("_lid").distinct()
            exact_src = (
                source_embeddings.select(
                    F.col("vec_id").cast("long").alias("_lid"),
                    _as_double_array(F.col("embedding")).alias("_ebx"),
                )
                .join(F.broadcast(cand_ids), "_lid", "left_semi")
                .join(
                    F.broadcast(newa.select(F.col("vec_id").alias("_lid"))),
                    "_lid",
                    "left_anti",
                )
                .unionByName(
                    newa.select(
                        F.col("vec_id").alias("_lid"),
                        F.col("_e").alias("_ebx"),
                    ).join(F.broadcast(cand_ids), "_lid", "left_semi")
                )
            )
            # the pruned frame is candidate-sized, so asserting vec_id
            # uniqueness is cheap: a duplicated source row would multiply
            # candidate rows, and divergent embeddings under one vec_id
            # would make the min-struct leader pick nondeterministic —
            # fail loudly instead
            exact_src = (
                exact_src.groupBy("_lid")
                .agg(
                    F.count(F.lit(1)).alias("_c"),
                    F.first("_ebx").alias("_ebx"),
                )
                .withColumn(
                    "_ebx",
                    F.when(F.col("_c") == 1, F.col("_ebx")).otherwise(
                        F.raise_error(
                            F.concat(
                                F.lit("semdedup_update: vec_id "),
                                F.col("_lid").cast("string"),
                                F.lit(
                                    " appears more than once in "
                                    "source_embeddings — the source must "
                                    "be vec_id-unique (like the build "
                                    "corpus)"
                                ),
                            )
                        )
                    ),
                )
                .drop("_c")
            )
            cands = (
                cands.join(exact_src, "_lid", "left")
                .withColumn(
                    "_eb",
                    F.when(F.col("_ebx").isNotNull(), F.col("_ebx")).otherwise(
                        F.raise_error(
                            F.concat(
                                F.lit(
                                    "semdedup_update: candidate vec_id "
                                ),
                                F.col("_lid").cast("string"),
                                F.lit(
                                    " missing from source_embeddings — "
                                    "the source must contain every "
                                    "ingested vector"
                                ),
                            )
                        )
                    ),
                )
                .drop("_ebx")
                .withColumn("_nb", norm(F.col("_eb")))
                .withColumn("_ls", sim)
                .where(unpushable(F.col("_ls") >= threshold))
            )
        leaders = (
            cands.groupBy("vec_id")
            .agg(
                F.min(
                    F.struct(
                        F.col("_r"),
                        F.col("_lid").alias("leader_id"),
                        F.col("_ls").alias("leader_sim"),
                    )
                ).alias("_ld")
            )
            .select("vec_id", "_ld.leader_id", "_ld.leader_sim")
        )
        all_new = ranked_new.select(
            "vec_id", "cluster", "centroid_sim", "rank", "_e"
        ).unionByName(
            newa.where(F.col("cluster") < 0).select(
                "vec_id",
                "cluster",
                "centroid_sim",
                F.lit(0).cast("long").alias("rank"),
                "_e",
            )
        )
        if storage == "pq":
            # append new members as codes too (frozen codebooks), and
            # drop their embeddings from storage — the shrink holds
            # under churn, not just at build
            from level_mapreduce_spark.operators.pq import pq_encode

            new_codes = pq_encode(
                all_new.select("vec_id", F.col("_e").alias("embedding")),
                books,
            ).withColumnRenamed("codes", "_codes")
            all_new = all_new.join(new_codes, "vec_id").withColumn(
                "_e", F.lit(None).cast("array<double>")
            )
        else:
            all_new = all_new.withColumn(
                "_codes", F.lit(None).cast("array<int>")
            )
        # pinned BEFORE the update: the plan reads the index's current
        # epochs, and update() may auto-compact (rewrite/remove those
        # files); eager localCheckpoint materializes the decisions first
        # so both the write and the returned frame are storage-stable
        out = (
            all_new.join(leaders, "vec_id", "left")
            .select(
                "vec_id",
                "cluster",
                "centroid_sim",
                F.col("leader_id").isNull().alias("keep"),
                "leader_id",
                "leader_sim",
                "rank",
                "_e",
                "_codes",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        # the decisions are pinned (or the pipeline failed) — the
        # cached stored slice is done either way; releasing BEFORE the
        # engine write also keeps the cache from shadowing the
        # rewritten files for any later reader
        stored.unpersist()
    idx.update(out, assume_unique=True)
    return out.select(
        "vec_id",
        "cluster",
        "centroid_sim",
        "keep",
        "leader_id",
        "leader_sim",
    )


def knn_join(
    embeddings: DataFrame, probes: DataFrame, k: int = 10
) -> DataFrame:
    """Exact batch k-NN: for every probe vector, its ``k`` most
    cosine-similar corpus rows — the bulk form of :func:`brute_topk`
    (one probe) for semantic retrieval / hard-negative mining over a
    bounded probe set.

    ``probes`` is a small (vec_id, embedding) DataFrame; it is
    broadcast, so the corpus scan stays partition-local and the only
    shuffle carries (probe_id, vec_id, sim) triples. The ``rnk <= k``
    filter over ``row_number`` plans as WindowGroupLimit (Spark 3.5+):
    every partition pre-truncates to its local top-k per probe before
    the shuffle, so the shuffle is O(partitions·probes·k), not
    O(corpus·probes). Self-matches (vec_id == probe_id) are excluded.

    Returns (probe_id, vec_id, sim, rnk), sim rounded to 6dp, ties on
    sim broken by vec_id.
    """
    from pyspark.sql.window import Window

    pb = F.broadcast(
        probes.select(
            F.col("vec_id").cast("long").alias("probe_id"),
            _as_double_array(F.col("embedding")).alias("_pe"),
        )
    )
    scored = (
        embeddings.crossJoin(pb)
        .where(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").cast("long").alias("vec_id"),
            F.round(
                cosine_sim(F.col("embedding"), F.col("_pe")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("probe_id", "vec_id", "sim", F.col("rnk").cast("long").alias("rnk"))
    )
