"""Index-backed LSH dedup/ANN: equivalence with the DataFrame
operators plus the capability the index adds — incremental maintenance
of the bucket structures.
"""

import pytest
from pyspark.sql import functions as F

from level_mapreduce_spark.operators.dedup import minhash_lsh_pairs
from level_mapreduce_spark.operators.indexed import (
    ann_topk_from_index,
    build_ann_index,
    build_band_index,
    lsh_pairs_from_index,
)
from level_mapreduce_spark.operators.similarity import brute_topk, probe_vector
from level_mapreduce_spark.sources.tables import load_table


def test_indexed_lsh_equals_dataframe_lsh(spark, store, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    idx = build_band_index(spark, docs, store)
    via_index = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_pairs_from_index(idx, docs).collect()
    }
    direct = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()
    }
    assert via_index == direct and direct


def test_band_index_incremental_new_neardup(spark, store, sf_dir):
    """The index-backed path's point: a NEW near-duplicate document is
    detected by updating only its own band rows — no corpus recompute."""
    docs = load_table(spark, sf_dir, "documents")
    idx = build_band_index(spark, docs, store, name="bands_inc")
    base_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_pairs_from_index(idx, docs).collect()
    }
    # clone doc 0's text under a fresh id -> jaccard 1.0 with doc 0
    donor = docs.where(F.col("doc_id") == 0).select("text").head()["text"]
    new_doc = spark.createDataFrame(
        [(99999, donor, "en", "clone", len(donor))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    idx.update(new_doc, assume_unique=True)  # O(1 doc), appends one epoch
    all_docs = docs.unionByName(new_doc)
    new_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_pairs_from_index(idx, all_docs).collect()
    }
    assert (0, 99999) in new_pairs
    assert base_pairs <= new_pairs


def test_ivf_recall_and_index_equivalence(spark, store, sf_dir):
    """IVF top-k must recover most of the brute-force top-10, the
    probe must find itself (its own list is always probed), and the
    index-backed probe must equal the direct assignment path."""
    from level_mapreduce_spark.operators.indexed import (
        build_ivf_index,
        ivf_topk_from_index,
    )
    from level_mapreduce_spark.operators.ivf import ivf_topk, train_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    probe = probe_vector(emb, 0)
    cents = train_centroids(emb)
    direct = [r["vec_id"] for r in ivf_topk(emb, probe, cents).collect()]
    assert direct[0] == 0
    brute = [r["vec_id"] for r in brute_topk(emb, probe, k=10).collect()]
    assert len(set(direct) & set(brute)) >= 5, (direct, brute)

    idx, cents2 = build_ivf_index(spark, emb, store)
    via_index = [
        r["vec_id"]
        for r in ivf_topk_from_index(idx, cents2, emb, probe).collect()
    ]
    assert via_index == direct


def test_indexed_ann_matches_brute(spark, store, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    probe = probe_vector(emb, 0)
    idx = build_ann_index(spark, emb, store)
    approx = [
        r["vec_id"] for r in ann_topk_from_index(idx, emb, probe).collect()
    ]
    brute = [r["vec_id"] for r in brute_topk(emb, probe, k=10).collect()]
    assert approx[0] == 0  # probe finds itself via its own bucket
    assert len(set(brute) & set(approx)) >= 5


def test_sketch_index_incremental_equals_full(spark, sf_dir, tmp_path):
    """The index-backed continuous aggregate: build from the first
    half of events, fold in the second half with update (O(affected
    buckets) read-merge-overwrite), and every range estimate must
    equal the from-scratch index over all events. Range queries are
    key-pruned scans (PushedFilters on index_key)."""
    from pyspark.sql import functions as F

    from level_mapreduce_spark.operators.sketches import (
        build_sketch_index,
        sketch_index_estimate,
        update_sketch_index,
    )
    from level_mapreduce_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    mid = events.select(
        F.unix_micros(F.percentile_approx("ts", 0.5, 10000)).alias("us")
    ).first()["us"]
    first = events.where(F.unix_micros("ts") <= mid)
    second = events.where(F.unix_micros("ts") > mid)
    assert first.count() > 0 and second.count() > 0

    inc = build_sketch_index(
        spark, first, str(tmp_path / "inc"), name="sk_inc"
    )
    update_sketch_index(inc, second)
    full = build_sketch_index(
        spark, events, str(tmp_path / "full"), name="sk_full"
    )
    # same keys, same estimates, for the whole range and a subrange
    for lo, hi in [("0", "9999"), ("2", "9999"), ("0", "2024-01-01T00")]:
        a = sketch_index_estimate(inc, lo, hi).first()["n_users_est"]
        b = sketch_index_estimate(full, lo, hi).first()["n_users_est"]
        assert a == b, (lo, hi, a, b)
    # accuracy: the stored-sketch estimate tracks the exact rescan
    # answer within HLL error (the sketch_range_estimate gate twin)
    est = sketch_index_estimate(inc, "0", "9999").first()["n_users_est"]
    exact = events.select("user_id").distinct().count()
    assert abs(est - exact) / exact < 0.05, (est, exact)
    # empty key range -> 0, not NULL
    assert (
        sketch_index_estimate(inc, "1901", "1902").first()["n_users_est"]
        == 0
    )
    # retention: expire the older half of the buckets (delete_range =
    # the continuous aggregate's TTL) — the expired range reads 0,
    # the surviving range still matches the from-scratch index
    keys = sorted(
        r["index_key"]
        for r in inc.read().select("index_key").distinct().collect()
    )
    cut = keys[len(keys) // 2]
    assert inc.delete_range(start="0", end=cut) > 0
    assert sketch_index_estimate(inc, "0", cut).first()["n_users_est"] == 0
    assert (
        sketch_index_estimate(inc, cut, "9999").first()["n_users_est"]
        == sketch_index_estimate(full, cut, "9999").first()["n_users_est"]
    )
    # key pruning reaches the parquet scan
    plan = (
        inc.scan(start="2", end="3")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "index_key" in plan


def test_sketch_update_failure_releases_cache(
    spark, sf_dir, tmp_path, monkeypatch
):
    """update_sketch_index caches the batch's bucket sketches for the
    bounds scalar and the merge; an idx.update() that raises must
    still release them — no CacheManager entry outlives the call."""
    from level_mapreduce_spark.operators.sketches import (
        build_sketch_index,
        update_sketch_index,
    )

    events = load_table(spark, sf_dir, "events")
    idx = build_sketch_index(
        spark, events.limit(200), str(tmp_path / "sk"), name="sk_leak"
    )

    def boom(*args, **kwargs):
        raise RuntimeError("update failed")

    monkeypatch.setattr(idx, "update", boom)
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="update failed"):
        update_sketch_index(idx, events)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_sketch_index_kll_and_theta_kinds(spark, sf_dir, tmp_path):
    """The kll and theta kinds of the stored continuous aggregate:
    incremental fold equals from-scratch build (merge associativity
    through the replace-on-update path), quantile and overlap readers
    answer off the index, and estimates track exact rescans."""
    from pyspark.sql import functions as F

    from level_mapreduce_spark.operators.sketches import (
        build_sketch_index,
        sketch_index_overlap,
        sketch_index_quantiles,
        update_sketch_index,
    )
    from level_mapreduce_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    mid = events.select(
        F.unix_micros(F.percentile_approx("ts", 0.5, 10000)).alias("us")
    ).first()["us"]
    first = events.where(F.unix_micros("ts") <= mid)
    second = events.where(F.unix_micros("ts") > mid)

    # --- kll: any-range quantiles ---------------------------------
    inc = build_sketch_index(
        spark, first, str(tmp_path / "kll_inc"), name="kll_inc", kind="kll"
    )
    update_sketch_index(inc, second)  # kind remembered on the index
    full = build_sketch_index(
        spark, events, str(tmp_path / "kll_full"), name="kll_full", kind="kll"
    )
    qi = sketch_index_quantiles(inc, "0", "9999").first()
    qf = sketch_index_quantiles(full, "0", "9999").first()
    total = events.count()

    def emp_rank(v: float) -> float:
        # KLL guarantees rank error, not value error — compare ranks
        return events.where(F.col("value") <= v).count() / total

    for a, b, want_rank in zip(qi, qf, (0.5, 0.9, 0.99)):
        assert abs(emp_rank(a) - emp_rank(b)) < 0.05, (a, b)  # inc ≈ full
        assert abs(emp_rank(a) - want_rank) < 0.04, (a, want_rank)

    # --- theta: range set algebra off the index -------------------
    tidx = build_sketch_index(
        spark, events, str(tmp_path / "th"), name="th_idx", kind="theta"
    )
    keys = sorted(
        r["index_key"]
        for r in tidx.read().select("index_key").distinct().collect()
    )
    cut = keys[len(keys) // 2].split("|")[0]
    got = sketch_index_overlap(tidx, "0", cut, cut, "9999").first()
    cut_ts = F.to_timestamp(F.lit(cut.replace("T", " ")))
    a_set = events.where(F.col("ts") < cut_ts).select("user_id").distinct()
    b_set = events.where(F.col("ts") >= cut_ts).select("user_id").distinct()
    exact_a, exact_b = a_set.count(), b_set.count()
    exact_both = a_set.intersect(b_set).count()
    assert abs(got["a_users"] - exact_a) / max(exact_a, 1) < 0.05
    assert abs(got["b_users"] - exact_b) / max(exact_b, 1) < 0.05
    assert abs(got["both"] - exact_both) / max(exact_both, 1) < 0.15
    # identity: only_a + both ≈ a_users (difference/intersection split)
    assert abs(got["only_a"] + got["both"] - got["a_users"]) <= max(
        5, 0.1 * got["a_users"]
    )


def test_stored_index_reload_band_ivf_ann(spark, sf_dir, tmp_path):
    """Every stored-index family reopens in a fresh handle from its
    persisted sidecar and serves identically to the builder's handle —
    build job and serve job are different processes at 100 TB:

    - band index: signature geometry (k, rows_per_band) round-trips,
      pairs from the reloaded handle equal the original's;
    - IVF: the frozen centroids round-trip, probe answers match;
    - sign-LSH ANN: hash geometry resolves from the sidecar, and a
      geometry-less bare handle is refused rather than probing buckets
      the index never wrote.
    """
    from pyspark.sql import functions as F

    from level_mapreduce_spark.engine.index import MapIndex
    from level_mapreduce_spark.operators.indexed import (
        ann_bucket_mapper,
        build_ann_index,
        build_band_index,
        build_ivf_index,
        ivf_topk_from_index,
        load_ann_index,
        load_band_index,
        load_ivf_index,
        lsh_pairs_from_index,
    )
    from level_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    # --- band ------------------------------------------------------
    store_b = str(tmp_path / "band_rl")
    built = build_band_index(spark, docs, store_b, k=4, rows_per_band=1)
    want = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_pairs_from_index(built, docs).collect()
    }
    rl = load_band_index(spark, store_b)
    assert (rl.band_k, rl.band_rows_per_band) == (4, 1)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_pairs_from_index(rl, docs).collect()
    }
    assert got == want

    # --- ivf -------------------------------------------------------
    store_i = str(tmp_path / "ivf_rl")
    idx, cents = build_ivf_index(spark, emb, store_i, n_centroids=4)
    probe = [float(v) for v in emb.orderBy("vec_id").first()["embedding"]]
    want_ids = [
        r["vec_id"]
        for r in ivf_topk_from_index(idx, cents, emb, probe).collect()
    ]
    idx2, cents2 = load_ivf_index(spark, store_i)
    assert cents2 == [[float(v) for v in c] for c in cents]
    got_ids = [
        r["vec_id"]
        for r in ivf_topk_from_index(idx2, cents2, emb, probe).collect()
    ]
    assert got_ids == want_ids

    # --- sign-LSH ann ---------------------------------------------
    store_a = str(tmp_path / "ann_rl")
    built_a = build_ann_index(spark, emb, store_a, n_bits=4, n_tables=4)
    want_a = [
        r["vec_id"]
        for r in ann_topk_from_index(built_a, emb, probe, k=5).collect()
    ]
    rl_a = load_ann_index(spark, store_a)
    assert rl_a.ann_params == (4, 4, 42)
    got_a = [
        r["vec_id"]
        for r in ann_topk_from_index(rl_a, emb, probe, k=5).collect()
    ]
    assert got_a == want_a
    # bare handle, sidecar destroyed -> geometry unknowable -> refuse
    import os as _os

    _os.remove(_os.path.join(store_a, "ann_buckets", "ann.json"))
    bare = MapIndex(
        spark, "ann_buckets", ann_bucket_mapper(1), store_a, doc_key="vec_id"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hash geometry"):
        ann_topk_from_index(bare, emb, probe, k=5)


def test_sketch_index_reload_recovers_kind(spark, sf_dir, tmp_path):
    """A fresh handle opened with load_sketch_index recovers the
    sketch family from the persisted sidecar, so incremental folds in
    a new session use the right merge fn (kll batches folded with
    hll_union would corrupt the stored binaries); a handle with no
    discoverable kind is refused rather than defaulted."""
    import pytest
    from pyspark.sql import functions as F

    from level_mapreduce_spark.engine.index import MapIndex
    from level_mapreduce_spark.operators.sketches import (
        _sketch_mapper,
        build_sketch_index,
        load_sketch_index,
        sketch_index_quantiles,
        update_sketch_index,
    )
    from level_mapreduce_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    mid = events.select(
        F.unix_micros(F.percentile_approx("ts", 0.5, 10000)).alias("us")
    ).first()["us"]
    first = events.where(F.unix_micros("ts") <= mid)
    second = events.where(F.unix_micros("ts") > mid)

    store = str(tmp_path / "kll_store")
    build_sketch_index(spark, first, store, name="kll_rl", kind="kll")

    # fresh handle: kind comes from the sidecar, fold still converges
    reopened = load_sketch_index(spark, store, name="kll_rl")
    assert reopened.sketch_kind == "kll"
    update_sketch_index(reopened, second)
    full = build_sketch_index(
        spark, events, str(tmp_path / "kll_rl_full"), name="f", kind="kll"
    )
    qi = sketch_index_quantiles(reopened, "0", "9999").first()
    qf = sketch_index_quantiles(full, "0", "9999").first()
    # KLL is a RANDOMIZED sketch — compare by empirical rank (the
    # quantity it guarantees), never by value (order-dependent flake)
    total = events.count()

    def emp_rank(v: float) -> float:
        return events.where(F.col("value") <= v).count() / total

    for a, b in zip(qi, qf):
        assert abs(emp_rank(a) - emp_rank(b)) < 0.05, (list(qi), list(qf))

    # the wrong READER on a known-kind index fails fast with a clear
    # message, not a cryptic engine buffer error
    from level_mapreduce_spark.operators.sketches import (
        sketch_index_estimate,
        sketch_index_overlap,
    )

    with pytest.raises(ValueError, match="estimate=hll"):
        sketch_index_estimate(reopened, "0", "9999")
    with pytest.raises(ValueError, match="estimate=hll"):
        sketch_index_overlap(reopened, "0", "5", "5", "9999")

    # a bare handle with neither attribute nor sidecar must refuse
    bare = MapIndex(
        spark, "kll_rl", _sketch_mapper(), store, doc_key="bucket_key"
    )
    import os

    os.remove(os.path.join(store, "kll_rl", "sketch.json"))
    with pytest.raises(ValueError, match="sketch kind"):
        update_sketch_index(bare, second)


def test_band_index_short_docs_no_mega_bucket(spark, tmp_path):
    """Docs shorter than the shingle width carry no content to
    near-dup on: they must emit NO band rows (signing them would give
    every short doc the identical sentinel signature — one mega-bucket,
    O(n_short^2) candidates, and 0/0 jaccard at verify under ANSI) and
    the pair query over a mixed corpus runs clean."""
    from pyspark.sql import functions as F

    from level_mapreduce_spark.operators.indexed import (
        build_band_index,
        lsh_pairs_from_index,
    )

    long_a = "alpha beta gamma delta epsilon zeta eta theta " * 3
    docs = spark.createDataFrame(
        [(1, long_a), (2, long_a + "iota"), (3, "tiny"), (4, "also small"),
         (5, ""), (6, "x y")],
        "doc_id long, text string",
    )
    idx = build_band_index(spark, docs, str(tmp_path / "bands"), name="sb")
    stored_docs = {
        int(r["doc_key"]) for r in idx.read().select("doc_key").distinct().collect()
    }
    assert stored_docs == {1, 2}  # short docs emit nothing
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_pairs_from_index(idx, docs, threshold=0.7).collect()
    }
    assert pairs == {(1, 2)}


def test_span_index_serve_equals_batch(spark, store, sf_dir):
    """Stored span index round-trip: build -> serve must equal the
    live repeated_spans frame exactly on real documents."""
    from level_mapreduce_spark.operators.dedup import (
        build_span_index,
        repeated_spans,
        repeated_spans_from_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = build_span_index(spark, docs, store, name="span_eq", ngram=10)
    got = sorted(
        tuple(r) for r in repeated_spans_from_index(idx).collect()
    )
    want = sorted(
        tuple(r) for r in repeated_spans(docs, ngram=10).collect()
    )
    assert got == want and got


def test_span_index_churn_propagates_cross_doc(spark, store):
    """Incremental contract: updating ONE doc must flip the dup status
    of a doc that was never re-mapped (its duplicate partner vanished /
    appeared), and the served frame must equal a full batch recompute
    on the post-churn corpus."""
    from level_mapreduce_spark.operators.dedup import (
        build_span_index,
        load_span_index,
        repeated_spans,
        repeated_spans_from_index,
    )

    rows = [
        (0, "a b c d e f g h i j k l"),
        (1, "a b c d e f g h i j x y"),  # shares a 10-window with doc 0
        (2, "q w e r t y u i o p z m"),
        (3, "tiny"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_span_index(spark, docs, store, name="span_churn", ngram=10)
    pre = {r["doc_id"]: r for r in repeated_spans_from_index(idx).collect()}
    assert pre[0]["n_spans"] == 1 and pre[1]["n_spans"] == 1

    # doc 1 rewritten to clone doc 2 instead: doc 0 loses its partner,
    # doc 2 gains one — neither 0 nor 2 is in the churn batch
    changed = spark.createDataFrame(
        [(1, "q w e r t y u i o p z m")], "doc_id long, text string"
    )
    idx.update(changed, assume_unique=True)
    post_docs = spark.createDataFrame(
        [rows[0], (1, "q w e r t y u i o p z m"), rows[2], rows[3]],
        "doc_id long, text string",
    )
    got = sorted(
        tuple(r) for r in repeated_spans_from_index(idx).collect()
    )
    want = sorted(
        tuple(r) for r in repeated_spans(post_docs, ngram=10).collect()
    )
    assert got == want
    post = {r[0]: r for r in got}
    assert post[0][2] == 0  # n_spans: partner gone
    assert post[2][2] == 1  # n_spans: partner appeared

    # reload in a fresh handle: geometry from the sidecar, identical serve
    idx2 = load_span_index(spark, store, name="span_churn")
    got2 = sorted(
        tuple(r) for r in repeated_spans_from_index(idx2).collect()
    )
    assert got2 == got


def test_span_index_refuses_missing_sidecar(spark, store):
    """A span handle without its geometry sidecar is refused — an
    update with guessed ngram would silently split every duplicate."""
    import pytest

    from level_mapreduce_spark.engine.index import MapIndex
    from level_mapreduce_spark.operators.dedup import (
        load_span_index,
        span_occurrence_mapper,
    )

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c")], "doc_id long, text string"
    )
    raw = MapIndex(
        spark, "span_nosc", span_occurrence_mapper(), store, doc_key="doc_id"
    )
    raw.build(docs, assume_unique=True)
    with pytest.raises(ValueError, match="span sidecar"):
        load_span_index(spark, store, name="span_nosc")


def test_span_index_build_rejects_out_of_range_doc_ids(spark, store):
    """Packing guard (value = doc_id * 2^21 + pos): a doc_id outside
    [0, 2^42) must FAIL the build with the overflow message, never
    silently unpack as some other document's windows."""
    from level_mapreduce_spark.operators.dedup import (
        _SPAN_DOC_ID_LIMIT,
        build_span_index,
    )

    for bad in (-1, _SPAN_DOC_ID_LIMIT):
        docs = spark.createDataFrame(
            [(bad, "a b c d e f g h i j k l")],
            "doc_id long, text string",
        )
        with pytest.raises(Exception, match="span index packing overflow"):
            build_span_index(
                spark, docs, store, name=f"span_bad_{bad}", ngram=10
            )


def test_span_index_build_rejects_overlong_doc(spark, store):
    """A document with >= 2^21 sliding windows overflows the 21
    position bits; the guard must fail the build. The 2M-token text is
    synthesized JVM-side (repeat), never shipped from the driver."""
    from level_mapreduce_spark.operators.dedup import (
        _SPAN_POS_MOD,
        build_span_index,
    )

    docs = spark.range(1).select(
        F.lit(7).cast("long").alias("doc_id"),
        F.repeat(F.lit("a "), _SPAN_POS_MOD + 9).alias("text"),
    )
    with pytest.raises(Exception, match="span index packing overflow"):
        build_span_index(spark, docs, store, name="span_long", ngram=10)


def test_postings_index_serve_equals_batch_and_churn(spark, store, sf_dir):
    """Stored postings index: served TF-IDF and BM25 must equal the
    corpus-rescan operators on real documents; after a churn batch
    the served frames must equal a full recompute on the post-churn
    corpus — including docs NOT in the batch whose df/idf shifted
    because a term's document frequency changed under them."""
    from level_mapreduce_spark.operators.text import (
        bm25_topk,
        bm25_topk_from_index,
        build_postings_index,
        load_postings_index,
        tfidf,
        tfidf_from_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = build_postings_index(spark, docs, store, name="post_eq")
    assert sorted(
        tuple(r) for r in tfidf_from_index(idx).collect()
    ) == sorted(tuple(r) for r in tfidf(docs).collect())
    q = "spark merge window"
    assert [
        tuple(r) for r in bm25_topk_from_index(idx, q, k=10).collect()
    ] == [tuple(r) for r in bm25_topk(docs, q, k=10).collect()]

    # churn: rewrite 10% of docs to a fixed query-term text — df for
    # the query terms jumps, so every OTHER doc's idf moves too
    changed = docs.where(F.col("doc_id") % 10 == 0).withColumn(
        "text", F.concat(F.lit("spark spark merge "), F.col("text"))
    )
    idx.update(changed, assume_unique=True)
    post_docs = docs.where(F.col("doc_id") % 10 != 0).unionByName(changed)
    assert sorted(
        tuple(r) for r in tfidf_from_index(idx).collect()
    ) == sorted(tuple(r) for r in tfidf(post_docs).collect())
    assert [
        tuple(r) for r in bm25_topk_from_index(idx, q, k=10).collect()
    ] == [tuple(r) for r in bm25_topk(post_docs, q, k=10).collect()]

    # tombstone: deleting docs drops their postings AND length rows,
    # so N/avgdl/df shrink for everyone else
    victims = post_docs.where(F.col("doc_id") % 7 == 3)
    # change-feed delete rows carry the payload columns as null (the
    # mapper only maps LIVE docs, but analysis needs the schema)
    idx.update(
        victims.select(
            "doc_id",
            F.lit(None).cast("string").alias("text"),
            F.lit(True).alias("deleted"),
        ),
        assume_unique=True,
    )
    post_docs = post_docs.where(F.col("doc_id") % 7 != 3)
    assert sorted(
        tuple(r) for r in tfidf_from_index(idx).collect()
    ) == sorted(tuple(r) for r in tfidf(post_docs).collect())
    assert [
        tuple(r) for r in bm25_topk_from_index(idx, q, k=10).collect()
    ] == [tuple(r) for r in bm25_topk(post_docs, q, k=10).collect()]

    # reload in a fresh handle: identical serve; loader refuses a
    # non-postings namespace
    idx2 = load_postings_index(spark, store, name="post_eq")
    assert [
        tuple(r) for r in bm25_topk_from_index(idx2, q, k=10).collect()
    ] == [tuple(r) for r in bm25_topk(post_docs, q, k=10).collect()]
    with pytest.raises(ValueError, match="postings sidecar"):
        load_postings_index(spark, store, name="absent_ns")


def test_postings_index_build_rejects_out_of_range_doc_ids(spark, store):
    """Same packing contract as the span index: value = doc_id * 2^21
    + tf, so out-of-range doc ids must fail the build."""
    from level_mapreduce_spark.operators.text import build_postings_index

    docs = spark.createDataFrame(
        [(-3, "a b c")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="postings index packing overflow"):
        build_postings_index(spark, docs, store, name="post_bad")


def test_semdedup_index_frozen_leader_churn(spark, store):
    """Stored semdedup index (frozen-leaders contract): serve ==
    batch after build; an update batch dedups against STORED members
    (and earlier batch members) without recomputing the corpus, and
    never flips a stored decision."""
    import numpy as np

    from level_mapreduce_spark.operators.similarity import (
        build_semdedup_index,
        load_semdedup_index,
        semantic_dedup,
        semdedup_from_index,
        semdedup_update,
    )

    rng = np.random.default_rng(23)
    X = rng.normal(size=(30, 8))
    X[20:25] = X[0:5]  # exact copies: 20..24 duplicate 0..4
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in X[i]]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    cents = [[float(v) for v in c] for c in rng.normal(size=(4, 8))]
    cents = [
        [v / sum(x * x for x in c) ** 0.5 for v in c] for c in cents
    ]
    idx = build_semdedup_index(
        spark, df, store, name="sd_churn", centroids=cents, threshold=0.95
    )
    batch = sorted(
        tuple(r)
        for r in semantic_dedup(df, centroids=cents, threshold=0.95).collect()
    )
    served = sorted(tuple(r) for r in semdedup_from_index(idx).collect())
    assert served == batch

    # update batch: a copy of kept original 3, a copy of duplicate 23
    # (same vector as 3 — must still resolve leader=3, the earliest
    # rank), one novel far vector, and that same novel vector twice
    # (in-batch chain: second copy dedups against the first)
    novel = rng.normal(size=8) * 10
    rows = [
        (100, [float(v) for v in X[3]]),
        (101, [float(v) for v in X[23]]),
        (102, [float(v) for v in novel]),
        (103, [float(v) for v in novel]),
        (104, [0.0] * 8),  # zero-norm: cluster -1, kept
    ]
    new_df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    got = {r["vec_id"]: r for r in semdedup_update(idx, new_df).collect()}
    assert not got[100]["keep"] and got[100]["leader_id"] == 3
    assert got[100]["leader_sim"] == 1.0
    assert not got[101]["keep"] and got[101]["leader_id"] == 3
    assert got[102]["keep"] and got[102]["leader_id"] is None
    assert not got[103]["keep"] and got[103]["leader_id"] == 102
    assert got[104]["keep"] and got[104]["cluster"] == -1

    # frozen: stored decisions for the original 30 are unchanged
    post = {
        r["vec_id"]: tuple(r)
        for r in semdedup_from_index(idx).collect()
    }
    assert len(post) == 35
    assert sorted(v for k, v in post.items() if k < 100) == batch

    # fresh-session handle: identical serve; loader refuses non-semdedup
    idx2 = load_semdedup_index(spark, store, name="sd_churn")
    assert sorted(
        tuple(r) for r in semdedup_from_index(idx2).collect()
    ) == sorted(post.values())
    with pytest.raises(ValueError, match="semdedup sidecar"):
        load_semdedup_index(spark, store, name="missing_sd")


def test_bm25_batch_from_index_matches_single_query(spark, store, sf_dir):
    """Batch retrieval must equal the single-query serve per query —
    including a query whose terms miss the corpus entirely (zero
    rows for that query_id, not a job failure)."""
    from level_mapreduce_spark.operators.text import (
        bm25_batch_from_index,
        bm25_topk_from_index,
        build_postings_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = build_postings_index(spark, docs, store, name="post_batch")
    qtexts = [
        (0, "spark merge window"),
        (1, "window"),
        (2, "merge spark spark"),  # dup tokens: one distinct term set
        (3, "zzzznotaterm qqqqmissing"),
    ]
    queries = spark.createDataFrame(qtexts, "query_id long, text string")
    got = {}
    for r in bm25_batch_from_index(idx, queries, k=10).collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"])
        )
    for qid, text in qtexts:
        if qid == 3:
            assert 3 not in got
            continue
        want = [
            (r["doc_id"], r["score"])
            for r in bm25_topk_from_index(idx, text, k=10).collect()
        ]
        assert got.get(qid, []) == want, qid


def test_postings_stats_lifecycle(spark, store, sf_dir):
    """Round-15 stats machinery end to end: (a) null-text docs build
    (empty doc) instead of tripping the packing guard and serve ==
    batch on the mixed corpus; (b) delete_range folds negative stats
    deltas (N/df visibly shrink and serves stay exact); (c) a
    postings/stats seq mismatch (crash window) is refused by the
    loader and repaired by refresh_postings_stats."""
    from level_mapreduce_spark.operators.text import (
        _SK_NDOCS,
        bm25_topk,
        bm25_topk_from_index,
        build_postings_index,
        load_postings_index,
        refresh_postings_stats,
        tfidf,
        tfidf_from_index,
    )

    docs = spark.createDataFrame(
        [
            (0, "spark merge window spark"),
            (1, None),  # null text: empty doc, not a build failure
            (2, "merge window merge"),
            (3, "spark only here"),
            (4, "window pane"),
        ],
        "doc_id long, text string",
    )
    idx = build_postings_index(spark, docs, store, name="post_stats")
    q = "spark window"
    assert [
        tuple(r) for r in bm25_topk_from_index(idx, q, k=5).collect()
    ] == [tuple(r) for r in bm25_topk(docs, q, k=5).collect()]
    n0 = int(idx.stats.get(_SK_NDOCS)[0])
    assert n0 == 5  # the null-text doc counts as a live (empty) doc

    # range delete: every doc containing "spark" dies WHOLE (per-doc
    # tombstones); stats must follow — N and the dfs of the doomed
    # docs' OTHER terms shrink too
    n_gone = idx.delete_range(key="T#spark")
    assert n_gone == 2
    post = docs.where(~F.coalesce(F.col("text"), F.lit("")).contains("spark"))
    assert int(idx.stats.get(_SK_NDOCS)[0]) == n0 - 2
    assert [
        tuple(r) for r in bm25_topk_from_index(idx, "window merge", k=5).collect()
    ] == [tuple(r) for r in bm25_topk(post, "window merge", k=5).collect()]
    assert sorted(
        tuple(r) for r in tfidf_from_index(idx).collect()
    ) == sorted(tuple(r) for r in tfidf(post).collect())

    # crash window: postings seq moves ahead of stats -> loader
    # refuses, refresh realigns
    idx._stamp(idx._read_seq() + 1)
    with pytest.raises(ValueError, match="stats are stale"):
        load_postings_index(spark, store, name="post_stats")
    refresh_postings_stats(idx)
    idx3 = load_postings_index(spark, store, name="post_stats")
    assert [
        tuple(r) for r in bm25_topk_from_index(idx3, "window merge", k=5).collect()
    ] == [tuple(r) for r in bm25_topk(post, "window merge", k=5).collect()]


def test_bm25_batch_semi_join_regime(spark, store, sf_dir):
    """Above ``terms_in_max`` distinct probe terms the batch serve
    must switch from the driver-collected literal In to a broadcast
    semi-join (no O(terms) plan nodes, no driver term list) and
    return IDENTICAL results (r14 finding #3)."""
    from level_mapreduce_spark.operators.text import (
        bm25_batch_from_index,
        build_postings_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = build_postings_index(spark, docs, store, name="post_semi")
    queries = spark.createDataFrame(
        [(0, "spark merge window"), (1, "merge window pane")],
        "query_id long, text string",
    )
    small = bm25_batch_from_index(idx, queries, k=10)
    wide = bm25_batch_from_index(idx, queries, k=10, terms_in_max=1)
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "In(index_key, [T#" not in plan
    assert "LeftSemi" in plan
    assert sorted(tuple(r) for r in small.collect()) == sorted(
        tuple(r) for r in wide.collect()
    )


def test_semdedup_update_reingestion_and_guards(spark, store):
    """ADVICE r14: (a) re-ingesting a stored vec_id must not compare
    it against its own stale row (the bug: keep=false with
    leader_id == itself at sim 1.0) — the stale row is replaced and
    the fresh decision is taken against the OTHER live members; (b) a
    ``deleted`` column is refused (frozen decisions may cite deleted
    leaders); (c) a batch over ``max_batch`` is refused (the unsalted
    cluster-keyed pair join is incremental-sized by contract)."""
    import numpy as np

    from level_mapreduce_spark.operators.similarity import (
        build_semdedup_index,
        semdedup_from_index,
        semdedup_update,
    )

    rng = np.random.default_rng(7)
    X = rng.normal(size=(12, 6))
    X[10] = X[0]  # 10 duplicates 0
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in X[i]]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    cents = [[float(v) for v in c] for c in rng.normal(size=(2, 6))]
    idx = build_semdedup_index(
        spark, df, store, name="sd_rein", centroids=cents, threshold=0.95
    )
    base = {
        r["vec_id"]: r for r in semdedup_from_index(idx).collect()
    }
    # re-ingest vec 0 with its unchanged embedding: it must dedup
    # against the OTHER stored copy (10), never against its own
    # stale row
    re0 = spark.createDataFrame(
        [(0, [float(v) for v in X[0]])],
        "vec_id long, embedding array<double>",
    )
    got = semdedup_update(idx, re0).collect()[0]
    assert not got["keep"]
    assert got["leader_id"] == 10  # the surviving identical member
    assert got["leader_sim"] == 1.0
    post = semdedup_from_index(idx).collect()
    rows0 = [r for r in post if r["vec_id"] == 0]
    assert len(rows0) == 1  # stale row replaced, not duplicated
    assert not rows0[0]["keep"]
    # every OTHER stored decision is untouched
    for r in post:
        if r["vec_id"] not in (0,):
            assert tuple(r) == tuple(base[r["vec_id"]])

    with pytest.raises(ValueError, match="does not support deletes"):
        semdedup_update(
            idx,
            spark.createDataFrame(
                [(5, [0.0] * 6, True)],
                "vec_id long, embedding array<double>, deleted boolean",
            ),
        )
    with pytest.raises(ValueError, match="max_batch"):
        semdedup_update(idx, df, max_batch=3)


def test_semdedup_pq_storage_mode(spark, store):
    """vector_storage="pq": stored members carry m int codes instead
    of dim doubles; updates decode codes as a candidate filter and
    re-verify exactly against source_embeddings — decisions must
    equal the full-storage twin on the same batches (scores exact,
    the planted-dup recall trivially inside the margin); update
    without a source raises; a candidate missing from the source
    raises instead of silently dropping a duplicate."""
    import numpy as np

    from level_mapreduce_spark.operators.similarity import (
        build_semdedup_index,
        load_semdedup_index,
        semdedup_from_index,
        semdedup_update,
    )

    rng = np.random.default_rng(19)
    X = rng.normal(size=(40, 16))
    X[30] = X[1]  # planted duplicate in the build corpus
    src = spark.createDataFrame(
        [(int(i), [float(v) for v in X[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cents = [[float(v) for v in c] for c in rng.normal(size=(3, 16))]
    cents = [[v / sum(x * x for x in c) ** 0.5 for v in c] for c in cents]
    full = build_semdedup_index(
        spark, src, store, name="sd_full", centroids=cents, threshold=0.95
    )
    pq = build_semdedup_index(
        spark, src, store, name="sd_pq", centroids=cents, threshold=0.95,
        vector_storage="pq", pq_m=4, pq_k=16, pq_margin=0.6,
    )
    # build-time decisions are the batch operator's either way
    assert sorted(tuple(r) for r in semdedup_from_index(pq).collect()) == (
        sorted(tuple(r) for r in semdedup_from_index(full).collect())
    )
    # the shrink is real: no stored embeddings, codes present
    rows = pq.read().select("value.emb", "value.codes").collect()
    assert all(r["emb"] is None for r in rows)
    assert all(r["codes"] is not None and len(r["codes"]) == 4 for r in rows)

    novel = (rng.normal(size=16) * 4).tolist()
    batch = spark.createDataFrame(
        [
            (100, [float(v) for v in X[1]]),  # dup of stored keeper
            (101, [float(v) for v in novel]),
            (102, [float(v) for v in novel]),  # in-batch dup of 101
        ],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="source_embeddings"):
        semdedup_update(pq, batch)
    got_full = sorted(
        tuple(r) for r in semdedup_update(full, batch).collect()
    )
    got_pq = sorted(
        tuple(r)
        for r in semdedup_update(pq, batch, source_embeddings=src).collect()
    )
    assert got_pq == got_full
    by_id = {t[0]: t for t in got_pq}
    assert not by_id[100][3] and by_id[100][5] == 1.0  # exact score
    assert by_id[101][3]
    assert not by_id[102][3] and by_id[102][4] == 101

    # second wave: its candidates may cite wave-1 vectors, which live
    # in neither the build corpus nor this batch -> incomplete source
    # must raise; the full union must agree with the full-mode twin
    wave2 = spark.createDataFrame(
        [(200, [float(v) for v in novel])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="missing from source_embeddings"):
        semdedup_update(pq, wave2, source_embeddings=src).collect()
    pq2 = load_semdedup_index(spark, store, name="sd_pq")
    got2_full = sorted(
        tuple(r) for r in semdedup_update(full, wave2).collect()
    )
    got2_pq = sorted(
        tuple(r)
        for r in semdedup_update(
            pq2, wave2, source_embeddings=src.unionByName(batch)
        ).collect()
    )
    assert got2_pq == got2_full


def test_semdedup_update_failure_releases_cache(spark, store):
    """semdedup_update caches the stored slice for its two consumers;
    a failing update (here the PQ path's missing-vec_id refusal) must
    still release it — no CacheManager entry outlives the call."""
    import numpy as np

    from level_mapreduce_spark.operators.similarity import (
        build_semdedup_index,
        semdedup_update,
    )

    rng = np.random.default_rng(19)
    X = rng.normal(size=(40, 16))
    src = spark.createDataFrame(
        [(int(i), [float(v) for v in X[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cents = [[float(v) for v in c] for c in rng.normal(size=(3, 16))]
    cents = [[v / sum(x * x for x in c) ** 0.5 for v in c] for c in cents]
    pq = build_semdedup_index(
        spark, src, store, name="sd_pq_leak", centroids=cents,
        threshold=0.95, vector_storage="pq", pq_m=4, pq_k=16, pq_margin=0.6,
    )
    novel = [float(v) for v in rng.normal(size=16) * 4]
    semdedup_update(
        pq,
        spark.createDataFrame([(101, novel)], "vec_id long, embedding array<double>"),
        source_embeddings=src,
    )
    # vec 200 pairs with wave-1's 101, which src lacks -> refusal
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="missing from source_embeddings"):
        semdedup_update(
            pq,
            spark.createDataFrame(
                [(200, novel)], "vec_id long, embedding array<double>"
            ),
            source_embeddings=src,
        )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_postings_stats_model_interleavings(spark, store):
    """Seeded randomized differential for the v2 stats machinery: a
    random interleaving of overwrite batches, delete batches,
    delete_range, compact (full + bounded), and fresh-handle reloads
    against a dict model — after EVERY op the served BM25 and TF-IDF
    must equal the batch rescan of the model corpus (stats exactness
    under arbitrary churn is the whole v2 claim)."""
    import random

    from level_mapreduce_spark.operators.text import (
        bm25_topk,
        bm25_topk_from_index,
        build_postings_index,
        load_postings_index,
        tfidf,
        tfidf_from_index,
    )

    rng = random.Random(150)
    vocab = ["spark", "merge", "window", "pane", "sql", "join",
             "agg", "scan", "sort", "hash"]

    def text():
        return " ".join(rng.choices(vocab, k=rng.randint(0, 12))) or None

    model = {i: text() for i in range(60)}
    schema = "doc_id long, text string"

    def docs_df(d):
        return spark.createDataFrame(sorted(d.items()), schema)

    idx = build_postings_index(spark, docs_df(model), store, name="pmod")
    q = "spark merge window"

    def check(tag):
        corpus = docs_df(model)
        assert [
            tuple(r) for r in bm25_topk_from_index(idx, q, k=8).collect()
        ] == [tuple(r) for r in bm25_topk(corpus, q, k=8).collect()], tag
        assert sorted(
            tuple(r) for r in tfidf_from_index(idx).collect()
        ) == sorted(tuple(r) for r in tfidf(corpus).collect()), tag

    check("build")
    next_id = 60
    for step in range(12):
        op = rng.choice(
            ["overwrite", "insert", "delete", "delete_range",
             "compact", "reload"]
        )
        if op == "overwrite" and model:
            ids = rng.sample(sorted(model), k=min(len(model), 5))
            rows = [(i, text()) for i in ids]
            for i, t in rows:
                model[i] = t
            idx.update(spark.createDataFrame(rows, schema),
                       assume_unique=True)
        elif op == "insert":
            rows = [(next_id + j, text()) for j in range(4)]
            next_id += 4
            for i, t in rows:
                model[i] = t
            idx.update(spark.createDataFrame(rows, schema),
                       assume_unique=True)
        elif op == "delete" and model:
            ids = rng.sample(sorted(model), k=min(len(model), 3))
            for i in ids:
                del model[i]
            idx.update(
                spark.createDataFrame(
                    [(i, None, True) for i in ids],
                    "doc_id long, text string, deleted boolean",
                ),
                assume_unique=True,
            )
        elif op == "delete_range":
            term = rng.choice(vocab)
            for i in [k for k, v in model.items()
                      if v and term in v.split()]:
                del model[i]
            idx.delete_range(key=f"T#{term}")
        elif op == "compact":
            if rng.random() < 0.5:
                idx.compact()
            else:
                idx.compact(max_epochs=2, tier="newest")
        else:
            idx = load_postings_index(spark, store, name="pmod")
        check(f"step{step}:{op}")


def test_r16_advice_guards(spark, store):
    """Round-16 ADVICE regressions in one drive: (a) a PQ-stored
    semdedup update whose source_embeddings duplicates a candidate
    vec_id fails loudly instead of picking a nondeterministic
    leader; (b) a sidecar-only family probe (mapper=None) refuses
    build/read with a typed message, not AttributeError; (c) a
    postings update whose stat deltas are all zero (overwrite with
    identical token sets) writes NO stats epoch."""
    import numpy as np

    from level_mapreduce_spark.engine.index import MapIndex
    from level_mapreduce_spark.operators.similarity import (
        build_semdedup_index,
        semdedup_update,
    )
    from level_mapreduce_spark.operators.text import build_postings_index

    # (a) duplicate source vec_id under a PQ candidate -> loud raise
    rng = np.random.default_rng(23)
    X = rng.normal(size=(20, 16))
    src = spark.createDataFrame(
        [(int(i), [float(v) for v in X[i]]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    cents = [[float(v) for v in c] for c in rng.normal(size=(2, 16))]
    cents = [[v / sum(x * x for x in c) ** 0.5 for v in c] for c in cents]
    pq = build_semdedup_index(
        spark, src, store, name="sd_dup", centroids=cents, threshold=0.95,
        vector_storage="pq", pq_m=4, pq_k=16, pq_margin=0.6,
    )
    batch = spark.createDataFrame(
        [(100, [float(v) for v in X[3]])],  # exact dup of stored 3
        "vec_id long, embedding array<double>",
    )
    dup_src = src.unionByName(
        spark.createDataFrame(
            [(3, [float(v) for v in X[4]])],
            "vec_id long, embedding array<double>",
        )
    )
    with pytest.raises(Exception, match="more than once"):
        semdedup_update(pq, batch, source_embeddings=dup_src).collect()
    # unique source: the same batch resolves the dup exactly
    out = {
        r["vec_id"]: r
        for r in semdedup_update(
            pq, batch, source_embeddings=src
        ).collect()
    }
    assert not out[100]["keep"] and out[100]["leader_sim"] == 1.0

    # (b) sidecar-only probe refuses data paths with a typed message
    probe = MapIndex(spark, "sd_dup", None, store, doc_key="vec_id")
    assert probe.get_sidecar(name="semdedup.json") is not None
    with pytest.raises(ValueError, match="sidecar-only probe"):
        probe.read()
    with pytest.raises(ValueError, match="sidecar-only probe"):
        probe.build(src)

    # (c) all-zero stat deltas -> no stats epoch written
    docs = spark.createDataFrame(
        [(0, "alpha beta alpha"), (1, "beta gamma")],
        "doc_id long, text string",
    )
    idx = build_postings_index(spark, docs, store, name="post_zero")
    before = idx.stats.stats()["epochs"]
    idx.update(
        spark.createDataFrame(
            [(0, "beta alpha alpha")],  # same tokens, same dl
            "doc_id long, text string",
        )
    )
    assert idx.stats.stats()["epochs"] == before
    # and the index still serves exactly: df/N/Sigma-dl unchanged
    from level_mapreduce_spark.operators.text import (
        tfidf,
        tfidf_from_index,
    )

    served = sorted(tuple(r) for r in tfidf_from_index(idx).collect())
    docs2 = spark.createDataFrame(
        [(0, "beta alpha alpha"), (1, "beta gamma")],
        "doc_id long, text string",
    )
    batch_rows = sorted(tuple(r) for r in tfidf(docs2).collect())
    assert served == batch_rows


def test_postings_as_of_seq_historical_serve(spark, store):
    """r16 joint time travel: every mutation records its seq ->
    (postings_epoch, stats_epoch) pair, and serves accept as_of_seq
    to read BOTH sides at the consistent pair — historical
    tfidf/bm25 equal the batch operators over the historical corpus;
    unknown seqs and compaction-folded seqs are refused with the
    servable list."""
    from level_mapreduce_spark.operators.text import (
        bm25_topk,
        bm25_topk_from_index,
        build_postings_index,
        tfidf,
        tfidf_from_index,
    )

    v1 = spark.createDataFrame(
        [
            (0, "spark merge window spark"),
            (1, "merge window merge"),
            (2, "spark only here"),
            (3, "window pane glass"),
        ],
        "doc_id long, text string",
    )
    idx = build_postings_index(spark, v1, store, name="tt_post")
    seq1 = idx._read_seq()

    # mutate: overwrite one doc, add one, delete one
    idx.update(
        spark.createDataFrame(
            [(1, "totally different now"), (4, "fresh spark window doc")],
            "doc_id long, text string",
        ),
        assume_unique=True,
    )
    seq2 = idx._read_seq()
    assert idx.delete_range(key="L#2") == 1  # doc 2 dies whole
    seq3 = idx._read_seq()
    assert sorted(idx.snapshots()) == [seq1, seq2, seq3]

    v2 = spark.createDataFrame(
        [
            (0, "spark merge window spark"),
            (1, "totally different now"),
            (2, "spark only here"),
            (3, "window pane glass"),
            (4, "fresh spark window doc"),
        ],
        "doc_id long, text string",
    )
    v3 = v2.where(F.col("doc_id") != 2)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    from level_mapreduce_spark.operators.text import bm25_batch_from_index

    probe = spark.createDataFrame(
        [(0, "spark window"), (1, "merge glass")],
        "query_id long, text string",
    )
    q = "spark window"
    for seq, corpus in ((seq1, v1), (seq2, v2), (seq3, v3)):
        assert rows(tfidf_from_index(idx, as_of_seq=seq)) == rows(
            tfidf(corpus)
        ), f"tfidf snapshot mismatch at seq {seq}"
        assert rows(
            bm25_topk_from_index(idx, q, k=3, as_of_seq=seq)
        ) == rows(bm25_topk(corpus, q, k=3)), f"bm25 mismatch at seq {seq}"
        # batch serve at the same snapshot, both regimes, per-query ==
        # the single-query serve
        for cap in (256, 1):
            got = sorted(
                tuple(r)
                for r in bm25_batch_from_index(
                    idx, probe, k=3, terms_in_max=cap, as_of_seq=seq
                ).collect()
            )
            want = sorted(
                (qid, r["doc_id"], r["score"])
                for qid, text in [(0, "spark window"), (1, "merge glass")]
                for r in bm25_topk_from_index(
                    idx, text, k=3, as_of_seq=seq
                ).collect()
            )
            assert got == want, f"batch snapshot mismatch seq {seq} cap {cap}"
    # latest (no as_of_seq) == latest corpus
    assert rows(tfidf_from_index(idx)) == rows(tfidf(v3))

    with pytest.raises(ValueError, match="not servable"):
        tfidf_from_index(idx, as_of_seq=999)

    # a full fold consumes the history; old seqs are refused and
    # garbage-collected at the next stamp, the newest stays servable
    idx.compact()
    idx.stats.compact()
    with pytest.raises(ValueError, match="not servable|available seqs"):
        bm25_topk_from_index(idx, q, as_of_seq=seq1).collect()
    idx.update(
        spark.createDataFrame(
            [(5, "one more doc")], "doc_id long, text string"
        ),
        assume_unique=True,
    )
    snaps = idx.snapshots()
    assert seq1 not in snaps and idx._read_seq() in snaps


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_bm25_served_probe_equals_spark_fallback(spark, store, monkeypatch):
    """A served single query within the driver bound has one scorer
    and two row sources: the driver-side key probes of a local store,
    and one Spark collect per lookup on any other store. Both answer
    the same rows as the executor regime (a driver bound of -1) at
    the latest state and at every recorded seq, across overwrite,
    insert and delete_range."""
    from level_mapreduce_spark import MapIndex
    from level_mapreduce_spark.operators import text as tx
    from level_mapreduce_spark.operators.text import (
        bm25_topk_from_index,
        build_postings_index,
    )

    schema = "doc_id long, text string"
    idx = build_postings_index(
        spark,
        spark.createDataFrame(
            [
                (0, "spark merge window spark"),
                (1, "merge window merge"),
                (2, "spark only here"),
                (3, "window pane glass"),
            ],
            schema,
        ),
        store,
        name="probe_post",
    )
    idx.update(
        spark.createDataFrame(
            [(1, "totally different now"), (4, "fresh spark window doc")],
            schema,
        ),
        assume_unique=True,
    )
    idx.delete_range(key="L#2")
    idx.update(
        spark.createDataFrame([(3, "glass spark merge glass")], schema),
        assume_unique=True,
    )
    seqs = [None, *idx.snapshots()]
    assert len(seqs) == 5
    queries = ["spark window", "merge", "glass spark pane", "absent"]

    def answers():
        return {
            (q, seq): _rows(bm25_topk_from_index(idx, q, k=4, as_of_seq=seq))
            for q in queries
            for seq in seqs
        }

    probed = answers()
    with monkeypatch.context() as m:
        m.setattr(tx, "_BM25_SERVE_POSTINGS_MAX", -1)
        assert answers() == probed
    monkeypatch.setattr(MapIndex, "_local_root", lambda self: None)
    assert answers() == probed
    assert probed[("merge", seqs[1])] != probed[("merge", None)]
    assert all(probed[("absent", seq)] == [] for seq in seqs)


def test_bm25_served_wide_query_scored_on_executors(spark, store, monkeypatch):
    """A query whose terms hold more postings than the driver bound
    never fetches its T# rows to the driver: it is scored on the
    executors (Spark jobs run) and returns the driver regime's rows;
    at exactly the bound it stays on the driver."""
    from level_mapreduce_spark import MapIndex
    from level_mapreduce_spark.operators import text as tx
    from level_mapreduce_spark.operators.text import (
        bm25_topk_from_index,
        build_postings_index,
    )

    idx = build_postings_index(
        spark,
        spark.createDataFrame(
            [(0, "spark merge spark"), (1, "spark window"),
             (2, "merge window glass"), (3, "spark")],
            "doc_id long, text string",
        ),
        store,
        name="wide_post",
    )
    looked_up = []
    lookup = MapIndex._lookup

    def recording(self, keys, hi=None):
        looked_up.extend(keys)
        return lookup(self, keys, hi)

    monkeypatch.setattr(MapIndex, "_lookup", recording)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    # spark: df 3, merge: df 2 -> 5 postings
    monkeypatch.setattr(tx, "_BM25_SERVE_POSTINGS_MAX", 5)
    narrow = _rows(bm25_topk_from_index(idx, "spark merge", k=3))
    assert "T#spark" in looked_up
    assert set(tracker.getJobIdsForGroup()) == before
    looked_up.clear()
    monkeypatch.setattr(tx, "_BM25_SERVE_POSTINGS_MAX", 4)
    wide = _rows(bm25_topk_from_index(idx, "spark merge", k=3))
    assert set(tracker.getJobIdsForGroup()) - before
    assert not [k for k in looked_up if k.startswith("T#")]
    assert wide == narrow and len(wide) == 3


def test_bm25_served_empty_answer(spark, store, monkeypatch):
    """A query term absent from the corpus, or one whose only doc is
    tombstoned, answers 0 rows with the (doc_id long, score double)
    schema, from either row source; the term is still served at the
    seq before its doc died."""
    from level_mapreduce_spark import MapIndex
    from level_mapreduce_spark.operators.text import (
        bm25_topk_from_index,
        build_postings_index,
    )

    idx = build_postings_index(
        spark,
        spark.createDataFrame(
            [(0, "spark window"), (1, "lonely word")],
            "doc_id long, text string",
        ),
        store,
        name="empty_post",
    )
    seq1 = idx._read_seq()
    idx.update(
        spark.createDataFrame(
            [(1, None, True)], "doc_id long, text string, deleted boolean"
        ),
        assume_unique=True,
    )
    for local in (True, False):
        if not local:
            monkeypatch.setattr(MapIndex, "_local_root", lambda self: None)
        for text in ("lonely", "zzzznotaterm", "lonely zzzznotaterm"):
            df = bm25_topk_from_index(idx, text, k=10)
            assert df.schema.simpleString() == "struct<doc_id:bigint,score:double>"
            assert df.collect() == [], (local, text)
        assert [r["doc_id"] for r in bm25_topk_from_index(
            idx, "lonely", k=10, as_of_seq=seq1
        ).collect()] == [1]


def test_bm25_three_term_query_equals_rescan_and_batch(spark, store, sf_dir):
    """3-term queries, where most docs hold every term and the
    per-doc sum has three addends: the served query is tuple-equal
    to the corpus rescan (bm25_topk) and to the batch serve."""
    from level_mapreduce_spark.operators.text import (
        bm25_batch_from_index,
        bm25_topk,
        bm25_topk_from_index,
        build_postings_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = build_postings_index(spark, docs, store, name="post_3t")
    texts = ["query window scan", "merge sort key", "line small data"]
    batch = {}
    for r in bm25_batch_from_index(
        idx,
        spark.createDataFrame(
            list(enumerate(texts)), "query_id long, text string"
        ),
        k=50,
    ).collect():
        batch.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, text in enumerate(texts):
        served = _rows(bm25_topk_from_index(idx, text, k=50))
        assert len(served) == 50
        assert served == _rows(bm25_topk(docs, text, k=50)), text
        assert served == sorted(batch[qid], key=lambda r: (-r[1], r[0])), text
