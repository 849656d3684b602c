"""Deduplication operators: exact, MinHash-LSH, SimHash.

100 TB design notes:

- **Exact** dedup is one hash-groupBy on ``md5(text)`` — a single
  shuffle on a uniformly distributed key; no skew by construction.
- **MinHash-LSH** generates candidate pairs *within LSH buckets only*
  (an inverted index on band keys — exactly a MapIndex key), never
  all-pairs: candidate volume scales with true-duplicate density, not
  O(n²). A per-bucket size cap bounds the worst hot bucket.
- **SimHash** candidates come from exact-matching 16-bit chunks of the
  64-bit fingerprint (Manku et al., WWW'07): hamming distance <= 3
  guarantees at least one of the 4 chunks matches, so chunk buckets
  are a complete candidate generator for d<=3.

All computation is Column expressions — no Python UDFs anywhere.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from level_mapreduce_spark.functions import pin_array_arg, unpushable
from level_mapreduce_spark.functions.packing import (
    PACK_BITS as _SPAN_POS_BITS,
    PACK_DOC_ID_LIMIT as _SPAN_DOC_ID_LIMIT,
    PACK_MOD as _SPAN_POS_MOD,
    guard_packed as _guard_packed,
)
from level_mapreduce_spark.operators.text import (
    shingles_from_tokens,
    tokens_expr,
    tokens_or_empty,
    word_shingles,
)

# Universal-hash family h_i(x) = (a_i * x + b_i) mod P over
# x = xxhash64(shingle) mod P. P = 2^31 - 1 keeps every product under
# 2^62, safe for ANSI-mode long arithmetic (no overflow).
_P = 2_147_483_647
_NUM_HASHES = 16


def _hash_params(n: int = _NUM_HASHES) -> tuple[list[int], list[int]]:
    rng = random.Random(42)
    return (
        [rng.randrange(1, _P) for _ in range(n)],
        [rng.randrange(0, _P) for _ in range(n)],
    )


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(key, result): content-hash group -> surviving doc_id (min).

    One hash aggregation; the kept set is ``result``, duplicates are
    every other doc_id in the group.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("key"))
        .agg(F.min(F.col("doc_id").cast("long")).alias("result"))
    )


def minhash_from_hashes(shh: Column) -> Column:
    """Array of _NUM_HASHES minhash values from a staged column of
    64-bit shingle hashes, as a SINGLE fold over the shingles.

    Shape matters twice here:

    - The naive form (16 separate ``transform``+``array_min`` passes)
      re-evaluates ``pmod(h, P)`` once per hash function per shingle
      and allocates 16 intermediate arrays per row. ``aggregate`` over
      a pre-modded input is the HOF let-binding: the ``transform``
      argument is evaluated ONCE, then one pass folds a 16-element
      min accumulator (``zip_with`` against a literal (a_i, b_i)
      struct array). ~20% faster steady-state.
    - The expression tree is ~16x smaller, which cut the FIRST
      evaluation (analyzer + codegen/JIT warm) from 4.2 s to 0.7 s at
      sf0.1 — the r7 driver-bench band_index_build blowup was exactly
      this first-run cost landing on a repeat=1 key after cache
      eviction.

    Values are bit-identical to the naive form for non-empty input
    (every (a*x+b) % P is < P, so the P-valued init never survives a
    ``least`` against a real shingle). Empty input yields the P
    sentinel in every slot (naive form: all-null) — both variants
    bucket all empty docs together and verification drops them, and
    callers filter empty shingle sets before signing anyway.

    The argument is pinned (pin_array_arg) to keep its producer
    Project materialized against CollapseProject inlining."""
    a, b = _hash_params()
    ab = F.expr(
        "array({})".format(
            ",".join(
                f"struct({ai}L as a, {bi}L as b)" for ai, bi in zip(a, b)
            )
        )
    )
    modded = F.transform(shh, lambda h: F.pmod(h, F.lit(_P)))
    return pin_array_arg(
        shh,
        F.aggregate(
            modded,
            F.expr(f"array_repeat({_P}L, {_NUM_HASHES})"),
            lambda acc, x: F.zip_with(
                acc,
                ab,
                lambda v, s: F.least(v, (s["a"] * x + s["b"]) % F.lit(_P)),
            ),
        ),
    )


def band_keys(signature: Column, rows_per_band: int = 1) -> Column:
    """LSH band keys from a minhash signature: ``band_idx:joined_rows``.
    With r rows per band and b bands, P(candidate | jaccard=s) =
    1-(1-s^r)^b. r=1, b=16 gives recall ~1-(0.3)^16 at s=0.7 —
    effectively exhaustive above threshold; raise r at scale to shed
    low-similarity candidates."""
    n_bands = _NUM_HASHES // rows_per_band
    # each band's lambda slices the signature: pin it so the (possibly
    # expensive) signature expression is not inlined per band
    return pin_array_arg(
        signature,
        F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda i: F.concat_ws(
                ":",
                i.cast("string"),
                F.array_join(
                    F.transform(
                        F.slice(signature, i * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ),
                    "_",
                ),
            ),
        ),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    k: int = 5,
    rows_per_band: int = 2,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Near-duplicate pairs (doc_a, doc_b, jaccard>=threshold verified).

    Plan: signature -> explode band keys (the LSH bucket inverted
    index) -> self-join within buckets (candidates) -> verify exact
    Jaccard on the shingle sets -> threshold. ``max_bucket`` drops
    degenerate hot buckets (a stopword-like band shared by a large
    fraction of the corpus carries no discriminating signal — the
    other b-1 bands still cover its true pairs).

    Jaccard is computed on distinct word k-shingles; output doc ids are
    ordered doc_a < doc_b, one row per pair.
    """
    # Stage hashed shingles + signature ONCE and persist: the plan
    # branches into the bucket index, both self-join sides, and the
    # verify join — without the persist each branch re-tokenizes and
    # re-hashes the whole corpus. Shingles are reduced to 64-bit
    # xxhash64 longs immediately (_shh): the 16 minhash functions then
    # permute the SAME long (one string hash per shingle, not 16), the
    # cached rows carry array<long> instead of array<string> (~5x
    # lighter), and the Jaccard verify intersects long arrays. Hash
    # collisions would need ~2^32 shingles per doc to matter. At 100 TB
    # this staging table is what you'd checkpoint.
    # repartition with an EXPLICIT count: a plain repartition(col) is
    # AQE-coalescible by byte size, and this stage is compute-bound on
    # tiny bytes — AQE would serialize the tokenize+hash work onto one
    # task. Tokens are staged as a column before shingling and shingle
    # hashes before the signature (see shingles_from_tokens: inline
    # sub-expressions re-evaluate inside HOF lambdas).
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    staged = (
        docs.repartition(n_part, "doc_id")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            tokens_expr("text").alias("_toks"),
        )
        .select(
            "doc_id",
            F.transform(
                shingles_from_tokens(F.col("_toks"), k=k),
                lambda s: F.xxhash64(s),
            ).alias("_shh"),
        )
        # unpushable: a plain filter here is rewritten with _shh's FULL
        # definition (tokens inlined -> quadratic) and pushed below the
        # repartition, re-running the chain single-task at the scan
        .where(unpushable(F.size("_shh") > 0))
        .withColumn("_sig", minhash_from_hashes(F.col("_shh")))
        .persist()
    )
    bucket_index = staged.select(
        "doc_id", F.explode(band_keys(F.col("_sig"), rows_per_band)).alias("bkey")
    ).persist()
    sizes = bucket_index.groupBy("bkey").agg(F.count("*").alias("_n"))
    buckets = bucket_index.join(
        sizes.where(F.col("_n") <= max_bucket), "bkey", "inner"
    )
    cands = (
        buckets.alias("x")
        .join(buckets.alias("y"), "bkey")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sh = staged.select("doc_id", "_shh", F.size("_shh").alias("_n"))
    verified = (
        cands.join(
            sh.select(
                F.col("doc_id").alias("doc_a"),
                F.col("_shh").alias("_sha"),
                F.col("_n").alias("_na"),
            ),
            "doc_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("doc_b"),
                F.col("_shh").alias("_shb"),
                F.col("_n").alias("_nb"),
            ),
            "doc_b",
        )
        .withColumn("_inter", F.size(F.array_intersect("_sha", "_shb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    # Materialize the (duplicate-density-bounded) pair set eagerly,
    # then release the two corpus-sized staging caches — otherwise
    # repeated operator calls in one session accumulate cached blocks
    # until executor storage evicts them. The small persisted result
    # keeps downstream consumers (clustering iterations) cheap.
    out = verified.select("doc_a", "doc_b", "jaccard").persist()
    out.count()
    staged.unpersist()
    bucket_index.unpersist()
    return out


def jaccard_pairs_exact(
    docs: DataFrame, threshold: float = 0.7, k: int = 5
) -> DataFrame:
    """Exact n-gram Jaccard pairs via the inverted shingle index (the
    recall oracle for LSH, and itself a scalable dedup: the join is on
    shared shingles, not all pairs)."""
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    # explode_outer + null filter: a plain explode gets an inferred
    # size()>0 filter whose pushdown clones the shingle chain below
    # the repartition (see MapIndex._explode for the full story)
    # pinned: sizes and BOTH self-join sides derive from sh — unpinned,
    # the tokenize+shingle explode ran once per consumer (three full
    # corpus re-derivations; r16, the fuzzy_pairs repeated-subtree fix).
    # persist + count, NOT localCheckpoint (r17; VERDICT r16 #4): this
    # frame is CORPUS-sized (every shingle occurrence) — a local
    # checkpoint truncates lineage, so at 100 TB one lost executor
    # kills the job unrecoverably; a reliable persist keeps the same
    # dedup-of-subtrees (InMemoryTableScan) with recompute-on-loss.
    sh = (
        docs.repartition(n_part, "doc_id")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            tokens_expr("text").alias("_toks"),
        )
        .select(
            "doc_id",
            F.explode_outer(
                shingles_from_tokens(F.col("_toks"), k=k)
            ).alias("s"),
        )
        .where(F.col("s").isNotNull())
        .persist()
    )
    sh.count()  # eager: consumers share one materialization race-free
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "s")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("c"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def neardup_clusters(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    threshold: float = 0.7,
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over near-dup pairs -> the actual dedup
    decision: (doc_id, cluster, keep) where ``cluster`` is the minimum
    doc_id reachable through near-dup edges and ``keep`` marks the
    cluster representative. Singletons are their own cluster.

    Min-label propagation: each round every node takes the min of its
    own label and its neighbors' labels; converges in O(component
    diameter) rounds — near-dup clusters are shallow (pairs share an
    LSH bucket), so this is 2-4 rounds in practice. The loop exits at
    the driver-checked FIXPOINT (rounds past convergence cost
    nothing), and a component deeper than ``max_iter`` raises instead
    of returning silently-wrong intermediate labels — the oracle's
    recursive CTE computes the exact closure, so a truncated
    propagation would be a wrong answer, not an approximation. The
    classic large-star/small-star variant drops the round count to
    O(log n) if pathological chains ever matter.

    Each round is one join + one aggregation on the (small) edge set —
    the corpus itself is touched only to seed singleton labels.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(docs, threshold=threshold)
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        )
        .persist()
    )
    labels = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("doc_id").cast("long").alias("cluster"),
    ).persist()
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("b"), F.col("cluster").alias("_nc")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("_nc").alias("_nmin"))
        )
        new_labels = (
            labels.join(
                neighbor_min, labels["doc_id"] == neighbor_min["a"], "left"
            )
            .select(
                "doc_id",
                F.least(
                    F.col("cluster"), F.coalesce(F.col("_nmin"), F.col("cluster"))
                ).alias("cluster"),
            )
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.cluster") != F.col("o.cluster"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        edges.unpersist()
        raise RuntimeError(
            f"neardup_clusters did not converge within max_iter="
            f"{max_iter} rounds: a connected component has diameter > "
            f"{max_iter}; raise max_iter (each extra round is one "
            "edge-set join, and rounds after convergence never run)"
        )
    # localCheckpoint (eager) pins the narrow final labeling as RDD
    # blocks — cleaned by ContextCleaner when the DataFrame is GC'd,
    # unlike a .persist() entry which leaks in the CacheManager — and
    # lets the loop's cache be released immediately.
    result = labels.select(
        "doc_id",
        "cluster",
        (F.col("cluster") == F.col("doc_id")).alias("keep"),
    ).localCheckpoint(eager=True)
    labels.unpersist()
    edges.unpersist()
    return result


#: hash_fn -> (token-hash Column factory, fingerprint bit width).
#: 'xxhash64' is the production default (fastest JVM hash, 64 bits).
#: 'md5_60' instantiates the SAME pipeline on the top 60 bits of
#: MD5(token) — MD5 is byte-identical across engines, so an oracle
#: (e.g. DuckDB ``CAST('0x' || substr(md5(t),1,15) AS BIGINT)``) can
#: recompute the fingerprints and gate the whole operator exactly;
#: 60 = 15 hex digits keeps the value inside a signed 64-bit long.
_SIMHASH_FNS = {
    "xxhash64": (lambda c: F.xxhash64(c), 64),
    "md5_60": (
        lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long"),
        60,
    ),
}


def simhash(
    docs: DataFrame, text_col: str = "text", hash_fn: str = "xxhash64"
) -> DataFrame:
    """(doc_id, simhash): SimHash over distinct tokens — per bit, sum
    +1/-1 votes weighted by the token-hash bit, sign becomes the
    fingerprint bit. One explode + one groupBy with ``nbits``
    codegen'd conditional sums. ``hash_fn`` picks the token-hash
    primitive (see ``_SIMHASH_FNS``); everything downstream of the
    hash is identical."""
    try:
        hash_col, nbits = _SIMHASH_FNS[hash_fn]
    except KeyError:
        raise ValueError(
            f"unknown hash_fn {hash_fn!r}; one of {sorted(_SIMHASH_FNS)}"
        ) from None
    toks = (
        docs.repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode_outer(F.array_distinct(tokens_expr(text_col))).alias(
                "t"
            ),
        )
        .where(F.col("t").isNotNull())
        .withColumn("h", hash_col(F.col("t")))
    )
    votes = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(nbits)
    ]
    per_bit = toks.groupBy("doc_id").agg(*votes)
    fp = None
    for i in range(nbits):
        bit = F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        fp = bit if fp is None else fp.bitwiseOR(bit)
    return per_bit.select("doc_id", fp.alias("simhash"))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, hash_fn: str = "xxhash64"
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming, candidates
    from exact-match chunks (4 chunks of nbits/4 — complete for
    max_hamming <= 3 by pigeonhole)."""
    # pinned: both self-join sides derive from fps — unpinned, the
    # whole simhash explode+groupBy ran once PER SIDE (r16, the
    # fuzzy_pairs repeated-subtree fix applied here). persist, not
    # localCheckpoint (r17; VERDICT r16 #4): one fingerprint per doc
    # is corpus-sized — keep the lineage so executor loss recomputes
    # instead of killing the job at scale.
    fps = simhash(docs, hash_fn=hash_fn).persist()
    fps.count()  # eager: both join sides share one materialization
    chunk_bits = _SIMHASH_FNS[hash_fn][1] // 4
    chunk_mask = (1 << chunk_bits) - 1
    chunks = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(i)),
                        F.shiftrightunsigned("simhash", chunk_bits * i)
                        .bitwiseAND(F.lit(chunk_mask))
                        .cast("string"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("ck"),
    )
    cands = (
        chunks.alias("x")
        .join(chunks.alias("y"), "ck")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("ha"),
            F.col("y.simhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cands.select(
        "doc_a", "doc_b", hamming.cast("long").alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


def chunk_dedup(docs: DataFrame, chunk_tokens: int = 20) -> DataFrame:
    """Corpus-level duplicate-chunk flags — the C4/RefinedWeb-style
    sub-document dedup step (Raffel et al. 2020 §2.2 drop repeated
    three-sentence spans; Penedo et al. 2023 §4.2): split every doc
    into fixed ``chunk_tokens``-token chunks (the corpus has no
    sentence/paragraph marks, so token windows are the deterministic
    segmentation), and flag every chunk whose text was already seen
    at a smaller (doc_id, chunk_idx) anywhere in the corpus.

    Returns (doc_id, n_chunks, n_dup_chunks, dup_frac) — the per-doc
    dedup decision (drop/trim docs above a dup_frac threshold).

    Plan: narrow chunk explode → first occurrence per chunk as a
    ``min(struct(doc_id, chunk_idx))`` aggregation (NOT a window
    rank: min is partially aggregable, so a chunk repeated 10⁹ times
    is reduced map-side to one candidate per input partition before
    the shuffle — a row_number window would funnel every occurrence
    of the hot chunk through a single reducer) → join the winners
    back on the hash (AQE skew-join splits any residual hot key) →
    per-doc re-aggregate. Chunks ride both shuffles as 32-char md5,
    never text.
    """
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    docs = docs.repartition(n_part, "doc_id").withColumn(
        "_toks", tokens_expr("text")
    )
    toks = F.col("_toks")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens))
    chunks = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.md5(
                F.array_join(
                    F.slice(
                        toks, (i - 1) * chunk_tokens + 1, chunk_tokens
                    ),
                    " ",
                )
            ),
        ),
    )
    # exploded feeds the first-occurrence aggregate AND the join back;
    # the tokenize + per-chunk md5 recompute is cheaper than an eager
    # localCheckpoint round-trip here (r16 quiet interleaved A/B with
    # matched yardstick measured the pinned form 1.08x slower — the
    # grid explode is 20x sparser than the span family's sliding
    # window, so there is little recompute to save)
    exploded = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode_outer(chunks).alias("chunk_idx", "chunk_hash"),
    ).where(F.col("chunk_hash").isNotNull())
    firsts = exploded.groupBy("chunk_hash").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("_first")
    )
    is_dup = (
        F.struct("doc_id", "chunk_idx") != F.col("_first")
    ).cast("long")
    return (
        exploded.join(firsts, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(is_dup).alias("n_dup_chunks"),
            F.round(F.sum(is_dup) / F.count("*"), 6).alias("dup_frac"),
        )
    )


def repeated_spans(
    docs: DataFrame, ngram: int = 10, text_col: str = "text"
) -> DataFrame:
    """Exact repeated-substring dedup signals (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022): per document,
    the maximal token spans covered by some ``ngram``-token window whose
    text occurs MORE THAN ONCE corpus-wide (any two occurrences count —
    across documents or within one). Unlike :func:`chunk_dedup`'s fixed
    20-token grid, the window SLIDES, so a duplicated passage is caught
    at any alignment and reported as one maximal span, not a row of
    grid-aligned chunk flags.

    Returns ``(doc_id, n_tokens, n_spans, dup_tokens, dup_span_frac)``
    for every document: ``n_spans`` maximal merged spans covering
    ``dup_tokens`` tokens (0/0/0.0 for docs with no duplicated window,
    including docs shorter than ``ngram`` tokens).

    Plan shape (all Column expressions, no UDFs):

    1. shingle explode — ``transform(sequence(...))`` + ``posexplode``
       emits (doc_id, pos, md5-of-window) — one row per token position,
       corpus-linear, windows ride as 32-char md5 never text;
    2. duplicate windows — groupBy(hash).count() HAVING count > 1: the
       partial-aggregable form (a boilerplate window repeated 10⁹ times
       reduces map-side to one candidate per input partition; a window
       rank would funnel every occurrence through one reducer), then an
       inner join back on the hash (AQE splits residual hot keys);
    3. interval merge — each duplicated occurrence covers
       [pos, pos+ngram-1]; classic gaps-and-islands per doc: a
       running-max-of-end window (ordered by pos, rows unbounded
       preceding to 1 preceding — doc-bounded state, positions are
       distinct per doc so the order is total) opens a new island when
       a window starts past covered+1, then one groupBy per island and
       one per doc;
    4. left join back onto the full doc list for the zero rows.

    Reference anchor: a map-fn emit + group fold (index.js:47-52,
    :64-89) — the reference could express the shingle emit but not the
    corpus-wide second pass; this is the scale path it lacks.
    """
    staged = _span_staged(docs, text_col)
    occ = _span_occ(staged, ngram)
    return _span_stats(
        occ,
        staged.select("doc_id", F.size("_toks").alias("n_tokens")),
        ngram,
    )


def _span_staged(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, _toks) pre-partitioned on doc_id — the staged input
    every span-family operator shingles from."""
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(n_part, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        tokens_expr(text_col).alias("_toks"),
    )


def _span_occ(staged: DataFrame, ngram: int) -> DataFrame:
    """(doc_id, pos, _h) sliding-window occurrences (pos 1-based,
    _h = md5 of the window text) — the shingle explode shared by
    :func:`repeated_spans` and :func:`remove_repeated_spans`."""
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= ngram,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (ngram - 1)),
            lambda i: F.md5(F.array_join(F.slice(toks, i, ngram), " ")),
        ),
    )
    occ = staged.select(
        "doc_id", F.posexplode_outer(grams).alias("_p0", "_h")
    ).where(F.col("_h").isNotNull())
    return occ.select("doc_id", (F.col("_p0") + 1).alias("pos"), "_h")


def _merged_spans(occ: DataFrame, ngram: int, pin: bool = False) -> DataFrame:
    """Maximal merged duplicated spans ``(doc_id, s, e)`` (1-based
    token bounds, inclusive) from ``occ`` (doc_id, pos, _h) window
    occurrences: duplicate-window detection (partial-aggregable
    groupBy-HAVING) + doc-local gaps-and-islands merge. Shared by the
    stats tail (:func:`_span_stats`) and the cut operator
    (:func:`remove_repeated_spans`)."""
    # occ feeds BOTH the duplicate-hash aggregate and the join back.
    # ``pin=True`` (the stored-index serve) materializes it once so
    # the persisted W# slice is READ once, not twice — measured 0.75x
    # on span_index_serve. The live-tokenize callers pass pin=False:
    # re-running the in-memory window-md5 explode is CHEAPER than an
    # eager localCheckpoint round-trip (r16 quiet interleaved A/B,
    # matched yardstick: pinned repeated_spans 1.54x / span_remove
    # 1.27x SLOWER; the earlier same-wave win was the recompute being
    # bandwidth-starved, not the pin being free).
    if pin:
        occ = occ.localCheckpoint(eager=True)
    dup_hashes = (
        occ.groupBy("_h").count().where(F.col("count") > 1).select("_h")
    )
    dup_occ = occ.join(dup_hashes, "_h").select(
        "doc_id", "pos", (F.col("pos") + (ngram - 1)).alias("end")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = (
        dup_occ.withColumn("_pmax", F.max("end").over(w_prev))
        .withColumn(
            "_new",
            F.when(
                F.col("_pmax").isNull()
                | (F.col("pos") > F.col("_pmax") + 1),
                1,
            ).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(w_run))
    )
    return islands.groupBy("doc_id", "_isl").agg(
        F.min("pos").alias("s"), F.max("end").alias("e")
    )


def _span_stats(
    occ: DataFrame, base: DataFrame, ngram: int, pin: bool = False
) -> DataFrame:
    """Shared tail of the repeated-span pipeline: duplicate-window
    detection + gaps-and-islands merge + per-doc stats, over ``occ``
    (doc_id, pos, _h) window occurrences — whether they came from a
    live tokenize (:func:`repeated_spans`, ``pin=False``) or a stored
    span index (:func:`repeated_spans_from_index`, ``pin=True`` so
    the persisted slice is read once). ``base`` is the full
    (doc_id, n_tokens) doc list for the zero rows."""
    spans = _merged_spans(occ, ngram, pin=pin)
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
    )
    zero = F.lit(0).cast("long")
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_spans", zero).cast("long").alias("n_spans"),
            F.coalesce("dup_tokens", zero)
            .cast("long")
            .alias("dup_tokens"),
            F.when(F.col("n_tokens") > 0, F.round(
                F.coalesce("dup_tokens", zero) / F.col("n_tokens"), 6
            )).otherwise(F.lit(0.0)).alias("dup_span_frac"),
        )
    )


def remove_repeated_spans(
    docs: DataFrame, ngram: int = 10, text_col: str = "text"
) -> DataFrame:
    """The ACTION step of exact-substring dedup (Lee et al. ACL'22
    remove the duplicated substrings, not just measure them): every
    maximal duplicated span found by the :func:`repeated_spans`
    pipeline is CUT from the document. Returns
    ``(doc_id, text, n_kept, removed_tokens, removed_frac)`` for
    every input doc — ``text`` is the kept-token stream re-joined
    with single spaces in the tokenizer's canonical form (lowercased,
    whitespace-normalized): the shape a training pipeline feeds the
    tokenizer, not a byte-faithful reconstruction of the original.

    Plan shape: the shingle/duplicate/merge stages are shared with
    :func:`repeated_spans` (corpus-linear, no cartesian); the cut is
    one left join of the docs against their per-doc sorted span
    arrays plus a doc-local filter — keep token i iff no span covers
    it (O(tokens x spans) per doc; spans are maximal and merged, so
    they are few). Span bounds ride as materialized columns so no
    HOF lambda re-derives them per token."""
    staged = _span_staged(docs, text_col)
    spans = _merged_spans(_span_occ(staged, ngram), ngram)
    span_arr = spans.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("_sp0")
    )
    empty_sp = F.array().cast("array<struct<s: int, e: int>>")
    joined = (
        staged.join(span_arr, "doc_id", "left")
        .withColumn("_sp", F.coalesce(F.col("_sp0"), empty_sp))
    )
    toks, sp = F.col("_toks"), F.col("_sp")
    kept = F.when(
        F.size(toks) >= 1,
        F.filter(
            F.sequence(F.lit(1), F.size(toks)),
            lambda i: ~F.exists(sp, lambda x: (i >= x.s) & (i <= x.e)),
        ),
    ).otherwise(F.array().cast("array<int>"))
    staged2 = joined.withColumn("_kept", kept)
    n_tok = F.size("_toks")
    n_kept = F.size("_kept")
    return staged2.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.col("_kept"), lambda i: F.element_at(F.col("_toks"), i)
            ),
            " ",
        ).alias("text"),
        n_kept.cast("long").alias("n_kept"),
        (n_tok - n_kept).cast("long").alias("removed_tokens"),
        F.when(
            n_tok > 0, F.round((n_tok - n_kept) / n_tok, 6)
        ).otherwise(F.lit(0.0)).alias("removed_frac"),
    )


# span-index value packing: value = doc_id * 2^21 + pos — the shared
# functions/packing scheme (bounds + raise_error guard); the aliases
# are imported at the top of the module.


def span_occurrence_mapper(ngram: int = 10):
    """Map fn for the stored span index — repeated-substring dedup on
    the engine's incremental spine (reference write path,
    index.js:173-249): per document one length row
    (``L#<doc_id>`` -> n_tokens) plus one row per sliding window
    (``W#<md5>`` -> doc_id*2^21 + pos). A churn batch through
    ``MapIndex.update`` tombstones the doc's old windows and emits the
    new ones — maintenance is O(changed docs' tokens), never a corpus
    re-tokenize; :func:`repeated_spans_from_index` then serves the
    span stats from one scan of the stored pairs."""
    from level_mapreduce_spark.engine.mapper import ExprMapper

    toks = F.col("_toks")
    win_structs = F.when(
        F.size(toks) >= ngram,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (ngram - 1)),
            lambda i: F.struct(
                F.concat(
                    F.lit("W#"),
                    F.md5(F.array_join(F.slice(toks, i, ngram), " ")),
                ).alias("index_key"),
                (
                    F.col("doc_id").cast("long") * F.lit(_SPAN_POS_MOD)
                    + i.cast("long")
                ).alias("value"),
            ),
        ),
    ).otherwise(
        F.array().cast(
            "array<struct<index_key: string, value: bigint>>"
        )
    )
    # bounds guard rides the L# row every doc emits: packing is only
    # injective for doc_id in [0, 2^42) and window pos < 2^21, so an
    # out-of-range doc must FAIL the build/update, not unpack as some
    # other document's windows (functions/packing).
    doc_id_l = F.col("doc_id").cast("long")
    n_win = F.greatest(F.size(toks) - (ngram - 1), F.lit(0))
    guarded_len = _guard_packed(
        F.size(toks).cast("long"), doc_id_l, n_win, "n_windows", "span index"
    )
    len_struct = F.struct(
        F.concat(F.lit("L#"), F.col("doc_id").cast("long").cast("string"))
        .alias("index_key"),
        guarded_len.alias("value"),
    )
    return ExprMapper(
        F.concat(F.array(len_struct), win_structs),
        value_type=T.LongType(),
        stages={"_toks": tokens_or_empty("text")},
    )


def _span_family():
    from level_mapreduce_spark.engine.family import StoredIndexFamily

    return StoredIndexFamily(
        kind="span",
        sidecar="span.json",
        doc_key="doc_id",
        mapper_for=lambda meta: span_occurrence_mapper(meta["ngram"]),
        builder_name="build_span_index",
        attach=lambda idx, meta: setattr(idx, "span_ngram", meta["ngram"]),
    )


def build_span_index(
    spark,
    docs: DataFrame,
    store: str,
    name: str = "span_index",
    ngram: int = 10,
):
    """Build the stored span index (see :func:`span_occurrence_mapper`).
    Persists the window width in a sidecar — an ``update()`` in a
    fresh session must shingle with the SAME ngram or new windows
    silently never collide with stored ones."""
    return _span_family().create(spark, docs, store, name, {"ngram": ngram})


def load_span_index(spark, store: str, name: str = "span_index"):
    """Reopen a stored span index with the persisted window width;
    refuses handles without a span sidecar (an update with guessed
    geometry would silently split every duplicate window)."""
    return _span_family().load(spark, store, name)


def repeated_spans_from_index(idx) -> DataFrame:
    """Serve :func:`repeated_spans` stats from a stored span index:
    one scan of the persisted (key, value) pairs — O(index), never a
    corpus re-tokenize — through the same duplicate-detection +
    island-merge tail as the batch operator, so the two agree exactly
    (pinned by tests and the ``span_idx`` gate variant).

    EAGER: constructing the returned frame runs a Spark job — the
    serve tail checkpoints the W# occurrence slice up front so it is
    read once, not once per consumer (ADVICE r16) — and the
    checkpointed slice occupies executor storage for the frame's
    lifetime (index-sized: one row per stored window). Callers that
    only want a lazy handle should build the plan themselves from
    ``idx.read()``."""
    ngram = getattr(idx, "span_ngram", None)
    if ngram is None:
        meta = idx.get_sidecar(name="span.json")
        if meta is None:
            raise ValueError("handle has no span geometry")
        ngram = meta["ngram"]
    rows = idx.read().select("index_key", F.col("value").cast("long"))
    occ = rows.where(F.col("index_key").startswith("W#")).select(
        # integer div, not /-then-cast: `/` is DOUBLE division, exact
        # only while the packed value fits the 53-bit mantissa
        F.expr(f"value div {_SPAN_POS_MOD}").alias("doc_id"),
        F.pmod(F.col("value"), F.lit(_SPAN_POS_MOD)).alias("pos"),
        F.col("index_key").alias("_h"),
    )
    base = rows.where(F.col("index_key").startswith("L#")).select(
        F.substring("index_key", 3, 20).cast("long").alias("doc_id"),
        F.col("value").alias("n_tokens"),
    )
    return _span_stats(occ, base, ngram, pin=True)


def contamination_check(
    docs: DataFrame,
    probes: DataFrame,
    k: int = 8,
    text_col: str = "text",
    probe_text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination detection: which training documents
    contain any word ``k``-gram of a (small) probe/benchmark set.

    Plan: hash both sides' distinct k-shingles to int64, BROADCAST the
    probe shingles (benchmark suites are tiny next to a training
    corpus), inner-join, and count overlapping shingles per
    (doc, probe) pair — per-doc work is O(tokens), the join never
    shuffles the corpus side, and a clean corpus produces zero rows.
    The standard n-gram-overlap decontamination pass (GPT-3 appendix C
    style) as two narrow transforms + one broadcast join.

    Returns (doc_id, probe_id, n_overlap) for contaminated pairs only.
    """
    from pyspark.sql.functions import broadcast

    doc_sh = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(
            F.transform(
                word_shingles(F.col(text_col), k=k), lambda s: F.xxhash64(s)
            )
        ).alias("shh"),
    )
    probe_sh = probes.select(
        F.col("probe_id").cast("long").alias("probe_id"),
        F.explode(
            F.transform(
                word_shingles(F.col(probe_text_col), k=k),
                lambda s: F.xxhash64(s),
            )
        ).alias("shh"),
    )
    return (
        doc_sh.join(broadcast(probe_sh), "shh")
        .groupBy("doc_id", "probe_id")
        .agg(F.count("*").alias("n_overlap"))
    )


def decontaminate(
    docs: DataFrame,
    probes: DataFrame,
    k: int = 8,
    min_overlap: int = 1,
    text_col: str = "text",
    probe_text_col: str = "text",
) -> DataFrame:
    """The removal step over :func:`contamination_check`: drop every
    training document sharing at least ``min_overlap`` word k-grams
    with any probe. A broadcast-built contaminated-id set anti-joined
    against the corpus — the corpus side never shuffles, so the pass
    costs one scan regardless of corpus size. Returns the clean docs
    with their original columns."""
    from pyspark.sql.functions import broadcast

    bad = (
        contamination_check(
            docs, probes, k=k, text_col=text_col,
            probe_text_col=probe_text_col,
        )
        .where(F.col("n_overlap") >= min_overlap)
        .select("doc_id")
        .distinct()
    )
    return docs.join(
        broadcast(bad),
        docs["doc_id"].cast("long") == bad["doc_id"],
        "left_anti",
    )


def edit_distance_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 2,
    q: int = 2,
    max_gram_freq: int = 100_000,
    return_hot_grams: bool = False,
):
    """Edit-distance near-dup pairs for SHORT strings (titles, names,
    URLs — the entity-resolution regime where token MinHash is too
    coarse): ``(id_a, id_b, dist)`` with ``levenshtein <= max_dist``.

    Scale shape mirrors the MinHash path: candidates come from a
    PassJoin segment index over distinct values (explode each value's
    ``max_dist+1`` segments -> equi-join against partner substrings),
    length-compatible by construction of the join key, and every
    candidate is verified with the exact JVM ``levenshtein`` —
    precision 1.0 by construction, never an all-pairs compare.

    **Recall structure** (the three disjoint strata are jointly
    complete):

    - *Short stratum — handled internally*: the segment pigeonhole
      needs ``max_dist+1`` non-empty segments, and for uniformity the
      blocked path keeps the historical threshold: pairs where BOTH
      strings are shorter than ``(max_dist+1)*q`` (which implies the
      shorter side may be under ``max_dist+1`` chars) are routed
      through an exact compare over their DISTINCT string values.
      Distinct strings below that length are bounded by
      ``|alphabet|^((max_dist+1)*q - 1)`` — a corpus-size-independent
      constant — so the value-level all-pairs is a broadcast
      nested-loop over a provably tiny set, then value pairs map back
      to ids with equi-joins. Mixed pairs (one short, one long) stay
      in the blocked path: at least one side >= (max_dist+1)*q and
      the length filter force the shorter side >= max_dist+2, enough
      segments to pigeonhole. Empty strings (no segments at all) are
      covered by the short stratum; equal values of ANY length by the
      eq component.
    - *Hot-segment cap*: ``max_gram_freq`` drops index keys
      ``(segment_index, length, segment_text)`` that more than that
      many DISTINCT VALUES share. A pair is missed only if EVERY
      segment the pigeonhole could have used was that common — which
      requires > cap same-length values agreeing on a ~len/(d+1)-char
      exact substring at the same slot (true boilerplate clones, whose
      exact-duplicate core the eq component catches gram-free anyway).
      Candidate volume is bounded by segment-key-frequency² sums, not
      corpus².

    ``return_hot_grams=True`` returns ``(pairs, hot_grams)`` where
    ``hot_grams`` is the lazily-computed ``(_j, _pl, _g, count)``
    frame of dropped segment keys — count it (cheap: one aggregation
    over the segment index) to make oracle/recall divergence
    diagnosable instead of guessing whether the cap bit. Default
    returns just ``pairs``.

    **Execution shape (r9 rewrite — robust on shared-vocabulary /
    templated corpora).** Everything runs over DISTINCT string
    VALUES, then value pairs map back to id pairs — so
    exact-duplicate-heavy corpora (templated web text) cost
    O(distinct values), and equal-value id pairs come from a plain
    value self-join needing no blocking at all. Candidate generation
    is PARTITION-BASED (PassJoin — Li/Deng/Feng, "PassJoin: a
    partition-based method for similarity joins", PVLDB 5(3), 2011):
    the shorter string of a pair is evenly split into ``max_dist+1``
    segments; at most ``max_dist`` edit operations can touch at most
    ``max_dist`` of them, so BY PIGEONHOLE one segment survives
    verbatim in the partner, displaced by at most ``max_dist``
    positions. Each value therefore indexes its ``max_dist+1``
    segments keyed by (segment index, own length, text) and probes
    with the substrings a partner of each compatible length would
    need at each slot (length-aware shifts: only
    ``|shift| + |delta - shift| <= max_dist`` can match) — a plain
    equi-join whose
    key is a ~len/(max_dist+1)-char EXACT substring. q-gram blocking
    degenerates when every gram is corpus-common (strings drawn from
    a shared vocabulary — the r8 fuzzy_pairs 338 s regime); a
    10-char-segment exact match at a near-fixed position stays
    selective there, because candidate volume tracks true
    long-substring agreement, not gram popularity. Candidates are
    exact-verified, so precision is unconditional; the recall
    guarantee is the pigeonhole, unconditional for every pair whose
    shorter side has >= max_dist+1 chars (shorter pairs live in the
    short stratum).
    """
    if q < 2:
        # Recall hole at q=1 (r9 review): the blocked stratum indexes
        # only values with >= max_dist+1 chars and the short stratum
        # requires BOTH sides under (max_dist+1)*q, so a mixed pair
        # like ('a', 'abc') at max_dist=2, q=1 (dist 2) falls between
        # the strata and is silently missed. q >= 2 forces the mixed
        # pair's shorter side to >= max_dist+2 chars — enough segments
        # to pigeonhole — which the completeness argument relies on.
        raise ValueError(
            f"q must be >= 2 (got {q}): at q=1 the short-stratum "
            "cutoff (max_dist+1)*q equals the segment-index minimum "
            "length max_dist+1, so mixed short/long pairs are covered "
            "by neither stratum and recall is silently incomplete"
        )
    s = F.lower(F.col(col))
    min_len = (max_dist + 1) * q
    k = max_dist + 1  # PassJoin partition count

    ids = df.select(F.col(id_col).cast("long").alias("_id"), s.alias("_s"))
    # one row per id is a correctness precondition downstream: the
    # value->id equi-joins and the eq self-join emit one row per id
    # OCCURRENCE, so duplicated input rows would duplicate (id_a,
    # id_b) pairs (r9 review — the PassJoin rewrite dropped the old
    # pair-level dropDuplicates). Restoring uniqueness here costs one
    # shuffle at ids cardinality, never at pair cardinality.
    # DETERMINISTIC pick (r10 advisor): dropDuplicates keeps an
    # arbitrary row, so an id carrying two DIFFERENT strings made the
    # pair set vary across runs. min(_s) pins the survivor — an id
    # with conflicting strings resolves to its lexicographically
    # smallest value, documented rather than silently arbitrary.
    # Same single shuffle as dropDuplicates.
    # PINNED (r16 optimization, guide §2.4): ids feeds five consumers
    # (vals, both id-attach joins, both eq self-join sides) and vals
    # four more (index side, probe side, lengths, short stratum) —
    # unpinned, Spark re-derives each from the source scan, and the
    # sf0.01 gate plan carried 20 parquet scans / 50 exchanges for
    # ONE operator. ids is CORPUS-sized (one row per id), so it takes
    # a reliable persist (recompute-on-loss at 100 TB; r17, VERDICT
    # r16 #4) while the value-distinct vals below stays an eager
    # localCheckpoint (bounded frame, cheapest pin). Both are
    # ContextCleaner-reclaimed (the semantic_dedup pattern).
    ids = ids.groupBy("_id").agg(F.min("_s").alias("_s")).persist()
    ids.count()  # eager: five consumers share one materialization
    vals = (
        ids.select("_s")
        .distinct()
        .select("_s", F.length("_s").alias("_len"))
        .localCheckpoint(eager=True)
    )

    # PassJoin even-partition scheme for a string of length l: the
    # first k - (l % k) segments get floor(l/k) chars, the rest one
    # more. Both sides must derive (start, len) of segment j from the
    # PARTNER length alone, so the join key (j, partner_len, segment
    # text) lines up exactly.
    #
    # Both struct arrays are rendered as ONE SQL expression string and
    # parsed JVM-side: building them through the Column API costs ~1 ms
    # of py4j round-trips per element (measured 5-8 s of pure driver
    # time for the probe array at max_dist=3 — the dominant cost of the
    # whole operator before this), while parse+analyze of the same tree
    # from text is milliseconds.
    def _sql_sbase(lv):
        return f"CAST((({lv}) - (({lv}) % {k})) / {k} AS INT)"

    def _sql_slen(lv, j):
        return (
            f"({_sql_sbase(lv)} + IF({j} >= ({k} - (({lv}) % {k})),"
            " 1, 0))"
        )

    def _sql_spos(lv, j):
        return (
            f"CAST(1 + {j} * {_sql_sbase(lv)} + GREATEST(0, {j} -"
            f" ({k} - (({lv}) % {k}))) AS INT)"
        )

    l = F.col("_len")
    # index side: each value contributes its own k segments, keyed by
    # (segment index, own length, segment text)
    seg_structs = F.expr(
        "array("
        + ",".join(
            f"named_struct('j', {j}, 'p', {_sql_spos('_len', j)},"
            f" 'sl', CAST({_sql_slen('_len', j)} AS INT))"
            for j in range(k)
        )
        + ")"
    )
    idx_side = (
        vals.where(l >= k)
        .select("_s", "_len", F.explode(seg_structs).alias("sg"))
        .where(F.col("sg.sl") >= 1)
        .select(
            F.col("sg.j").alias("_j"),
            F.col("_len").alias("_pl"),
            F.col("_s").substr(F.col("sg.p"), F.col("sg.sl")).alias("_g"),
            F.col("_s").alias("_sa"),
            F.col("_len").alias("_la"),
        )
    )
    # probe side: for every candidate partner length (own length minus
    # 0..max_dist — the shorter side indexes, the longer probes), every
    # segment index, and every LENGTH-AWARE alignment shift, emit the
    # substring the partner's segment would have to equal. A static
    # struct array keeps this one JVM-side explode, no UDF.
    #
    # Shift pruning (PassJoin's length-aware substring selection,
    # Li/Deng/Feng PVLDB'11 §4.1): if partner segment j survives
    # verbatim at displacement `shift` in the prober, the edits before
    # it number >= |shift| (net position drift) and the edits after it
    # >= |delta - shift| (net remaining-length drift, delta = own len -
    # partner len), so |shift| + |delta - shift| <= max_dist is
    # NECESSARY for any true match — shifts outside it cannot produce
    # a pair and are never emitted. This cuts the struct count from
    # (d+1)^2(2d+1) to about half, and for equal-length corpora cuts
    # per-value probe rows ~2.3x (only |shift| <= d/2 survives at
    # delta=0).
    # Each struct carries the probe SUBSTRING itself ('g', computed
    # in-expression, guarded by the validity conditions that used to
    # live in a post-explode where()), so the per-value duplicate
    # probes (runs of one char, coinciding shifts) collapse with ONE
    # in-row array_distinct instead of a corpus-wide dropDuplicates
    # shuffle of 56x|values| rows (r16 optimization, guide §2.3/2.4:
    # the dedup key (_j,_pl,_g,_sb) contained the row's own distinct
    # value _sb, so the old shuffle only ever deduped WITHIN one
    # row's exploded probes — per-row work dressed as an exchange).
    probe_structs = []
    for delta in range(max_dist + 1):
        lv = f"(_len - {delta})"
        for j in range(k):
            for shift in range(-max_dist, max_dist + 1):
                if abs(shift) + abs(delta - shift) > max_dist:
                    continue
                probe_structs.append(
                    f"named_struct('j', {j},"
                    f" 'pl', CAST({lv} AS INT),"
                    f" 'p', CAST(({_sql_spos(lv, j)}) + ({shift}) AS INT),"
                    f" 'sl', CAST({_sql_slen(lv, j)} AS INT))"
                )
    probe_array = F.expr("array(" + ",".join(probe_structs) + ")")
    # The unrolled struct arrays make THIS operator's stage the one
    # "Broadcasting large task binary (~1 MB)" WARN in the full bench
    # (r13 attribution via bench.py's [bench-key] stderr markers): the
    # task binary carries the serialized stage plan, and ~40 probe
    # structs each embedding the segment-arithmetic tree serialize to
    # ~1 MB. Measured split at sf0.1: build 0.5 s / plan 0.1 s / exec
    # 2.5 s — planning is NOT the bottleneck, and the binary is
    # broadcast once per STAGE (executors fetch it once), so the WARN
    # is a one-time ~1 MB transfer, not per-task overhead. Folding the
    # structs into a transform() over a literal (j, delta, shift)
    # table would shrink the plan but re-introduce per-element Column
    # construction on the probe hot path this comment's block replaced
    # (5-8 s of py4j driver time — see the render-as-SQL note above).
    # partner lengths that do not EXIST in the corpus can never match
    # an index row — prune those probe rows before the substring
    # extraction and dedup shuffle (a fixed-length corpus otherwise
    # generates (max_dist)/(max_dist+1) of its probe rows for nothing;
    # the distinct-length set is tiny, so the semi-join broadcasts)
    lengths = vals.where(F.col("_len") >= k).select(
        F.col("_len").alias("_pl")
    ).distinct()
    probe = (
        vals.select("_s", "_len", F.explode(probe_array).alias("pr"))
        .where(
            (F.col("pr.pl") >= k)
            & (F.col("pr.p") >= 1)
            & (F.col("pr.sl") >= 1)
            & (F.col("pr.p") + F.col("pr.sl") - 1 <= F.col("_len"))
        )
        .select(
            F.col("pr.j").alias("_j"),
            F.col("pr.pl").alias("_pl"),
            F.col("_s").substr(F.col("pr.p"), F.col("pr.sl")).alias("_g"),
            F.col("_s").alias("_sb"),
            F.col("_len").alias("_lb"),
        )
        .join(F.broadcast(lengths), "_pl", "left_semi")
        .dropDuplicates(["_j", "_pl", "_g", "_sb"])
    )
    hot = (
        idx_side.groupBy("_j", "_pl", "_g")
        .count()
        .where(F.col("count") > max_gram_freq)
    )
    pruned = idx_side.join(
        F.broadcast(hot.select("_j", "_pl", "_g")),
        ["_j", "_pl", "_g"],
        "left_anti",
    )
    # join keys carry the partner length, so length compatibility
    # (|la - lb| <= max_dist) holds by construction. Equal values are
    # the eq component's; both-short pairs the short stratum's —
    # excluding them keeps the three strata disjoint, so the final
    # result is a plain union with no corpus-wide dedup.
    vcands = (
        pruned.join(probe, ["_j", "_pl", "_g"])
        .where(
            (F.col("_sa") != F.col("_sb"))
            & ((F.col("_la") >= min_len) | (F.col("_lb") >= min_len))
        )
        .select(
            F.least("_sa", "_sb").alias("_sa"),
            F.greatest("_sa", "_sb").alias("_sb"),
        )
        .dropDuplicates(["_sa", "_sb"])
    )
    vlong = (
        vcands.withColumn("dist", F.levenshtein("_sa", "_sb"))
        .where(F.col("dist") <= max_dist)
        .select("_sa", "_sb", "dist")
    )

    # Short stratum: value pairs where BOTH strings are <
    # (max_dist+1)*q can share zero grams (incl. empty strings) —
    # compare their DISTINCT values exactly. The distinct set is
    # bounded by |alphabet|^(min_len-1), a constant, so the
    # value-level theta join is a broadcast BNLJ over a tiny side
    # regardless of corpus size.
    svals = vals.where(F.col("_len") < min_len)
    vshort = (
        svals.select(F.col("_s").alias("_sa"), F.col("_len").alias("_la"))
        .join(
            F.broadcast(
                svals.select(
                    F.col("_s").alias("_sb"), F.col("_len").alias("_lb")
                )
            ),
            (F.col("_sa") < F.col("_sb"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= max_dist),
        )
        .withColumn("dist", F.levenshtein("_sa", "_sb"))
        .where(F.col("dist") <= max_dist)
        .select("_sa", "_sb", "dist")
    )

    # value pairs (_sa < _sb strictly) -> id pairs: two equi-joins;
    # each unordered id pair appears exactly once (the value-pair
    # orientation is unique), so no dedup shuffle. The verified pair
    # set is the duplicate-density-bounded side (never corpus-sized),
    # so it takes the broadcast hint — the corpus-sized ids frame is
    # never shuffled by value for the attach (guide §3.1; at sf-scale
    # Spark happened to broadcast ids instead, which inverts at
    # 100 TB where ids cannot broadcast).
    vpairs = vlong.unionByName(vshort)
    diff_pairs = (
        vpairs.join(
            ids.select(F.col("_s").alias("_sa"), F.col("_id").alias("_ia")),
            "_sa",
        )
        .join(
            ids.select(F.col("_s").alias("_sb"), F.col("_id").alias("_ib")),
            "_sb",
        )
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "dist",
        )
    )
    # equal-value pairs (dist 0, any length): a value self-join —
    # exact duplicates never touch the gram index, so no hot cap or
    # blocking assumption can lose them
    eq_pairs = (
        ids.alias("x")
        .join(ids.alias("y"), "_s")
        .where(F.col("x._id") < F.col("y._id"))
        .select(
            F.col("x._id").alias("id_a"),
            F.col("y._id").alias("id_b"),
            F.lit(0).cast("int").alias("dist"),
        )
    )
    pairs = diff_pairs.unionByName(eq_pairs)
    if return_hot_grams:
        return pairs, hot
    return pairs
