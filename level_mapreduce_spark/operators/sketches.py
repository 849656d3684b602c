"""Mergeable-sketch rollups — the hypertable/continuous-aggregate
pattern for distinct counting at 100 TB.

``count(DISTINCT user_id)`` over an arbitrary time range rescans raw
events — O(range) every query. The sketch rollup pays that scan ONCE:
aggregate a mergeable HLL sketch per coarse bucket (hour), store the
sketches (a few KB each — a MapIndex value, a parquet table, anything),
and answer any range query by UNIONING the covered buckets' sketches —
O(buckets in range), independent of event volume. Sketch union is
associative/commutative, so rollups chain losslessly: hour sketches
union into day sketches union into month sketches (the hypertable
cascade), each level built from the previous WITHOUT touching raw data.

Spark-native: ``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate`` (Apache DataSketches HLL under the hood) —
JVM-side, map-side partial aggregation, binary-typed sketch columns
that ride shuffles and parquet like any other column. Relative error
~1.6% at the default lgConfigK=12; raise it for tighter bounds.

Extends the exact/approx twins in :mod:`.events`
(``distinct_users`` / ``approx_distinct_users``): those answer one
fixed grouping; this answers EVERY range after one pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def user_sketches(
    events: DataFrame,
    bucket: str = "1 hour",
    lg_config_k: int = 12,
) -> DataFrame:
    """One HLL sketch of distinct ``user_id`` per (time bucket,
    event_type): the stored continuous-aggregate base level.

    Returns (ws, event_type, sketch) — ``ws`` is the bucket start,
    ``sketch`` the binary HLL. One shuffle on the (bucket, type) key
    with map-side partial sketch merges; output size is
    O(buckets × types), never O(events).
    """
    return (
        events.groupBy(
            F.window("ts", bucket).alias("_w"),
            F.col("event_type"),
        )
        .agg(
            F.hll_sketch_agg(
                F.col("user_id").cast("long"), F.lit(lg_config_k)
            ).alias("sketch")
        )
        .select(F.col("_w.start").alias("ws"), "event_type", "sketch")
    )


def rollup_sketches(
    sketches: DataFrame,
    bucket: str = "1 day",
) -> DataFrame:
    """Next cascade level: union fine-bucket sketches into coarse
    buckets (hour -> day -> month) WITHOUT rescanning events. Same
    schema out as in, so levels chain."""
    return (
        sketches.groupBy(
            F.window("ws", bucket).alias("_w"),
            F.col("event_type"),
        )
        .agg(F.hll_union_agg("sketch").alias("sketch"))
        .select(F.col("_w.start").alias("ws"), "event_type", "sketch")
    )


def distinct_users_between(
    sketches: DataFrame,
    start,
    end,
    by_type: bool = False,
) -> DataFrame:
    """Estimate distinct users in ``[start, end)`` by unioning the
    covered buckets' sketches — O(buckets), no raw-event scan.

    ``start``/``end`` are timestamp-like (string/py datetime/Column).
    With ``by_type`` the estimate is per event_type; otherwise one
    total row (sketches union across types losslessly — a user seen
    under two types counts once).
    """
    lo = start if isinstance(start, Column) else F.lit(start).cast("timestamp")
    hi = end if isinstance(end, Column) else F.lit(end).cast("timestamp")
    in_range = sketches.where((F.col("ws") >= lo) & (F.col("ws") < hi))
    keys = ["event_type"] if by_type else []
    agg = in_range.groupBy(*keys).agg(
        F.hll_union_agg("sketch").alias("_merged")
    )
    # empty range + global agg -> one row with a NULL union; report 0
    # distinct users, not NULL (grouped form simply has no rows)
    return agg.select(
        *keys,
        F.coalesce(
            F.hll_sketch_estimate("_merged").cast("long"), F.lit(0)
        ).alias("n_users_est"),
    )


# ------------------------------------------------------- index-backed
# The stored form: sketches as MapIndex values, so the continuous
# aggregate inherits the engine's LSM maintenance (epochs, tombstone
# reads, compaction, crash recovery) and key-pruned range scans —
# "distinct users in March" is a pushed-down index range scan over a
# few dozen KB of sketches, never an event scan.


def _sketch_mapper():
    from pyspark.sql import types as T

    from level_mapreduce_spark.engine.mapper import ExprMapper

    return ExprMapper.of(
        (F.col("bucket_key"), F.col("sketch")),
        value_type=T.BinaryType(),
    )


# per-kind (base-level builder, pairwise merge fn) — union/merge is
# associative+commutative for all three, which is exactly what lets
# replace-on-update compose with sketch merge below
_SKETCH_KINDS = {
    "hll": (lambda ev, b: user_sketches(ev, b), lambda a, b: F.hll_union(a, b)),
    "theta": (
        lambda ev, b: theta_user_sketches(ev, b),
        lambda a, b: F.theta_union(a, b),
    ),
    "kll": (
        lambda ev, b: value_quantile_sketches(ev, b),
        lambda a, b: F.kll_sketch_merge_double(a, b),
    ),
}


def build_sketch_index(
    spark,
    events: DataFrame,
    store: str,
    name: str = "user_sketches",
    bucket: str = "1 hour",
    kind: str = "hll",
):
    """Materialize the bucket->sketch continuous aggregate as a
    MapIndex: ``index_key = <iso bucket start>|<event_type>`` (sorts
    chronologically, so time ranges are contiguous key ranges),
    value = sketch binary. ``kind`` picks the sketch family: ``hll``
    (distinct users), ``theta`` (distinct users + set algebra),
    ``kll`` (value quantiles)."""
    base, _ = _SKETCH_KINDS[kind]
    # the kind persists beside the segments: sketches of different
    # families are mutually un-mergeable binaries, and a fresh session
    # reopening the store must fold batches with the SAME merge fn
    return _sketch_family().create(
        spark,
        _bucket_docs(base(events, bucket)),
        store,
        name,
        {"kind": kind},
        repartition_key=None,
    )


def _sketch_family():
    from level_mapreduce_spark.engine.family import StoredIndexFamily

    def check_kind(idx, meta):
        if meta.get("kind") not in _SKETCH_KINDS:
            raise ValueError(
                f"no sketch sidecar under {idx.root}; was this index "
                "built by build_sketch_index?"
            )

    return StoredIndexFamily(
        kind="sketch",
        sidecar="sketch.json",
        doc_key="bucket_key",
        mapper_for=lambda meta: _sketch_mapper(),
        builder_name="build_sketch_index",
        attach=lambda idx, meta: setattr(idx, "sketch_kind", meta["kind"]),
        validate=check_kind,
    )


def load_sketch_index(spark, store: str, name: str = "user_sketches"):
    """Reopen a stored sketch aggregate in a fresh session, recovering
    the sketch family from the sidecar so later
    :func:`update_sketch_index` folds use the right merge fn."""
    return _sketch_family().load(spark, store, name)


def update_sketch_index(
    idx,
    new_events: DataFrame,
    bucket: str = "1 hour",
    kind: str | None = None,
) -> None:
    """Fold a new batch of events into the stored aggregate in
    O(affected buckets): sketch the batch, UNION with the stored
    sketches of the touched buckets (read through the index — a
    key-pruned lookup, not a scan), and overwrite only those keys.
    Replace-on-update composes with sketch merge because the merge
    (hll_union / theta_union / kll_sketch_merge) is associative:
    stored ∪ batch is the new stored value.
    """
    if kind is None:
        kind = getattr(idx, "sketch_kind", None)
    if kind is None:
        meta = idx.get_sidecar(name="sketch.json")
        kind = meta["kind"] if meta else None
    if kind not in _SKETCH_KINDS:
        # folding a batch with the wrong merge fn corrupts or rejects
        # the stored binaries — refuse rather than default to hll
        raise ValueError(
            f"unknown sketch kind {kind!r} for {idx.name}: pass kind= "
            "or reopen the index with load_sketch_index()"
        )
    idx.sketch_kind = kind
    base, merge = _SKETCH_KINDS[kind]
    part = _bucket_docs(base(new_events, bucket)).persist()
    try:
        # read back ONLY the touched key range (a batch covers a narrow,
        # recent time window; bucket keys are chronological) — a pruned
        # index scan, not a full read. Two driver-side scalars, bounded.
        bounds = part.agg(
            F.min("bucket_key").alias("lo"), F.max("bucket_key").alias("hi")
        ).first()
        if bounds["lo"] is None:
            return
        existing = idx.scan(
            start=bounds["lo"], end=bounds["hi"] + "\x7f"
        ).select(
            F.col("index_key").alias("bucket_key"),
            F.col("value").alias("_old"),
        )
        merged = part.join(existing, "bucket_key", "left").select(
            "bucket_key",
            F.when(
                F.col("_old").isNotNull(),
                merge(F.col("sketch"), F.col("_old")),
            )
            .otherwise(F.col("sketch"))
            .alias("sketch"),
        )
        idx.update(merged, assume_unique=True)
    finally:
        part.unpersist()


def _bucket_docs(sketches: DataFrame) -> DataFrame:
    """(ws, event_type, sketch) -> change-feed docs keyed by the
    chronologically-sortable bucket key."""
    return sketches.select(
        F.concat_ws(
            "|",
            F.date_format("ws", "yyyy-MM-dd'T'HH:mm:ss"),
            F.col("event_type"),
        ).alias("bucket_key"),
        "sketch",
    )


def _expect_kind(idx, expected: str, reader: str) -> None:
    """Fail fast with a useful message when a reader is pointed at the
    wrong sketch family (the engines' own errors are cryptic buffer
    complaints). Resolves the kind from the handle attr, then the
    sidecar; a bare handle with no discoverable kind passes through —
    the reader itself will fail loudly if the binaries mismatch."""
    kind = getattr(idx, "sketch_kind", None)
    if kind is None:
        meta = idx.get_sidecar(name="sketch.json")
        kind = meta.get("kind") if meta else None
    if kind is not None and kind != expected:
        raise ValueError(
            f"{reader} reads kind='{expected}' sketches but {idx.name} "
            f"stores kind='{kind}' — use the matching reader "
            "(estimate=hll, quantiles=kll, overlap=theta)"
        )


def sketch_index_estimate(
    idx,
    start: str,
    end: str,
) -> DataFrame:
    """Any-range estimate straight off the stored aggregate: a
    key-range scan (pushed-down parquet filters on index_key) over
    ``[start, end)`` ISO-prefixed keys, then one union-estimate."""
    _expect_kind(idx, "hll", "sketch_index_estimate")
    rows = idx.scan(start=start, end=end)
    return rows.agg(
        F.coalesce(
            F.hll_sketch_estimate(F.hll_union_agg("value")).cast("long"),
            F.lit(0),  # empty range -> 0, not a NULL union estimate
        ).alias("n_users_est")
    )


def sketch_index_quantiles(
    idx,
    start: str,
    end: str,
    ranks: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Any-range value quantiles off a ``kind='kll'`` sketch index:
    key-pruned scan of the covered buckets, one KLL merge, one
    ``q_<rank>`` column per requested rank."""
    _expect_kind(idx, "kll", "sketch_index_quantiles")
    merged = idx.scan(start=start, end=end).agg(
        F.kll_merge_agg_double("value").alias("_merged")
    )
    return merged.select(
        *[
            F.kll_sketch_get_quantile_double(F.col("_merged"), F.lit(r)).alias(
                f"q_{str(r).replace('0.', '')}"
            )
            for r in ranks
        ]
    )


def sketch_index_overlap(
    idx,
    a_start: str,
    a_end: str,
    b_start: str,
    b_end: str,
) -> DataFrame:
    """Retention/churn between two key ranges off a ``kind='theta'``
    sketch index — same output as :func:`user_overlap`, but each side
    is a pushed-down index range scan instead of a ws filter."""
    _expect_kind(idx, "theta", "sketch_index_overlap")
    a = idx.scan(start=a_start, end=a_end).agg(
        F.theta_union_agg("value").alias("_a")
    )
    b = idx.scan(start=b_start, end=b_end).agg(
        F.theta_union_agg("value").alias("_b")
    )
    est = lambda c: F.coalesce(  # noqa: E731
        F.theta_sketch_estimate(c).cast("long"), F.lit(0)
    )
    return a.crossJoin(b).select(
        est(F.col("_a")).alias("a_users"),
        est(F.col("_b")).alias("b_users"),
        est(F.theta_intersection(F.col("_a"), F.col("_b"))).alias("both"),
        est(F.theta_difference(F.col("_a"), F.col("_b"))).alias("only_a"),
        est(F.theta_difference(F.col("_b"), F.col("_a"))).alias("only_b"),
    )


# ------------------------------------------------------------ quantiles
# Same continuous-aggregate shape, different sketch: KLL quantile
# sketches (Apache DataSketches, JVM-side in Spark 4) make any-range
# percentiles O(buckets) instead of an O(range) raw re-scan per query.
# percentile_approx answers ONE fixed grouping per pass; a stored KLL
# rollup answers every (range, rank) after one pass, and hour->day
# cascades merge losslessly exactly like the HLL path above.


def value_quantile_sketches(
    events: DataFrame,
    bucket: str = "1 hour",
    value_col: str = "value",
    k: int | None = None,
) -> DataFrame:
    """One KLL(double) sketch of ``value_col`` per (time bucket,
    event_type): the stored base level for any-range quantiles.

    One shuffle on the (bucket, type) key with map-side partial
    sketches; output is O(buckets x types) rows of ~KB binaries.
    """
    agg = (
        F.kll_sketch_agg_double(F.col(value_col).cast("double"), k)
        if k is not None
        else F.kll_sketch_agg_double(F.col(value_col).cast("double"))
    )
    return (
        events.groupBy(F.window("ts", bucket).alias("_w"), F.col("event_type"))
        .agg(agg.alias("sketch"))
        .select(F.col("_w.start").alias("ws"), "event_type", "sketch")
    )


def rollup_quantile_sketches(
    sketches: DataFrame,
    bucket: str = "1 day",
) -> DataFrame:
    """Cascade level for quantiles: merge fine-bucket KLL sketches
    into coarse buckets without rescanning events. Schema-stable, so
    levels chain (hour -> day -> month)."""
    return (
        sketches.groupBy(F.window("ws", bucket).alias("_w"), F.col("event_type"))
        .agg(F.kll_merge_agg_double("sketch").alias("sketch"))
        .select(F.col("_w.start").alias("ws"), "event_type", "sketch")
    )


def quantiles_between(
    sketches: DataFrame,
    start,
    end,
    ranks: tuple[float, ...] = (0.5, 0.9, 0.99),
    by_type: bool = False,
) -> DataFrame:
    """Estimate quantiles of ``value`` over ``[start, end)`` by
    merging the covered buckets' KLL sketches — O(buckets in range).

    Returns one ``q_<rank>`` double column per requested rank (dots
    stripped: ``q_50``, ``q_90``, ``q_99``). Empty ranges produce no
    rows in the grouped form and a single all-NULL row globally (a
    quantile of nothing has no value to coalesce to — unlike the
    count-0 convention above)."""
    lo = start if isinstance(start, Column) else F.lit(start).cast("timestamp")
    hi = end if isinstance(end, Column) else F.lit(end).cast("timestamp")
    in_range = sketches.where((F.col("ws") >= lo) & (F.col("ws") < hi))
    keys = ["event_type"] if by_type else []
    agg = in_range.groupBy(*keys).agg(
        F.kll_merge_agg_double("sketch").alias("_merged")
    )
    cols = [
        F.kll_sketch_get_quantile_double(F.col("_merged"), F.lit(r)).alias(
            f"q_{str(r).replace('0.', '')}"
        )
        for r in ranks
    ]
    return agg.select(*keys, *cols)


# ------------------------------------------------------------ set algebra
# Theta sketches add what HLL cannot: INTERSECTION and DIFFERENCE.
# "users active in both week 1 and week 2" (retention) or "in A but
# not B" (churn) over exact distincts is a full self-join of raw
# events; over stored theta rollups it is an O(buckets) merge of KB
# binaries. Union is exact-mergeable like HLL; intersection/difference
# compose on the merged range sketches.


def theta_user_sketches(
    events: DataFrame,
    bucket: str = "1 hour",
    lg_nom_entries: int | None = None,
) -> DataFrame:
    """One theta sketch of distinct ``user_id`` per (time bucket,
    event_type) — the stored base level for range set algebra.
    Same shape/cost as :func:`user_sketches`."""
    col = F.col("user_id").cast("long")
    agg = (
        F.theta_sketch_agg(col, lg_nom_entries)
        if lg_nom_entries is not None
        else F.theta_sketch_agg(col)
    )
    return (
        events.groupBy(F.window("ts", bucket).alias("_w"), F.col("event_type"))
        .agg(agg.alias("sketch"))
        .select(F.col("_w.start").alias("ws"), "event_type", "sketch")
    )


def _theta_range_union(sketches: DataFrame, start, end, alias: str) -> DataFrame:
    lo = start if isinstance(start, Column) else F.lit(start).cast("timestamp")
    hi = end if isinstance(end, Column) else F.lit(end).cast("timestamp")
    return (
        sketches.where((F.col("ws") >= lo) & (F.col("ws") < hi))
        .agg(F.theta_union_agg("sketch").alias(alias))
    )


def user_overlap(
    sketches: DataFrame,
    a_start,
    a_end,
    b_start,
    b_end,
) -> DataFrame:
    """Retention/churn between two time ranges off stored theta
    sketches: one row ``(a_users, b_users, both, only_a, only_b)``.

    ``both`` estimates ``|A ∩ B|`` (users active in both ranges —
    retention), ``only_a`` estimates ``|A \\ B|`` (churned). Each
    side is an O(buckets) union; the set ops run on the two merged
    sketches (a 1x1 broadcast cross join — two driver-sized rows,
    not a data join). Empty ranges estimate 0 via the empty-sketch
    coalesce."""
    a = _theta_range_union(sketches, a_start, a_end, "_a")
    b = _theta_range_union(sketches, b_start, b_end, "_b")
    est = lambda c: F.coalesce(  # noqa: E731
        F.theta_sketch_estimate(c).cast("long"), F.lit(0)
    )
    return a.crossJoin(b).select(
        est(F.col("_a")).alias("a_users"),
        est(F.col("_b")).alias("b_users"),
        est(F.theta_intersection(F.col("_a"), F.col("_b"))).alias("both"),
        est(F.theta_difference(F.col("_a"), F.col("_b"))).alias("only_a"),
        est(F.theta_difference(F.col("_b"), F.col("_a"))).alias("only_b"),
    )
