"""Port of the reference test suite + the untested-but-documented intent
(FIXTURES.md §A.3; reference tests/test-basic.js, tests/test-replication.js).
"""

import datetime as dt
import json
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from level_mapreduce_spark import ExprMapper, MapIndex, PythonMapper, emit


def docs_df(spark, rows):
    schema = T.StructType(
        [
            T.StructField("doc_key", T.StringType()),
            T.StructField("value", T.StringType()),
            T.StructField("deleted", T.BooleanType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    return spark.createDataFrame(
        [
            (r["doc_key"], json.dumps(r.get("value")), r.get("deleted", False), i)
            for i, r in enumerate(rows)
        ],
        schema,
    )


def ref_map(doc):
    """reference tests/test-basic.js:14 — obj -> [['test', obj.value.test]]"""
    v = json.loads(doc["value"])
    return [("test", v["test"])]


def make_index(spark, store, name="idx"):
    return MapIndex(spark, name, PythonMapper(ref_map), store)


def test_write_and_get(spark, store):
    """tests/test-basic.js:19-27 — write one doc, get('test') == [123]."""
    idx = make_index(spark, store)
    idx.build(docs_df(spark, [{"doc_key": "asdf", "value": {"test": 123}}]))
    assert [json.loads(v) for v in idx.get("test")] == [123]


def test_overwrite(spark, store):
    """tests/test-basic.js:29-39 — overwrite replaces emits, no dupes."""
    idx = make_index(spark, store)
    idx.build(docs_df(spark, [{"doc_key": "asdf", "value": {"test": 123}}]))
    idx.update(docs_df(spark, [{"doc_key": "asdf", "value": {"test": 345}}]))
    got = [json.loads(v) for v in idx.get("test")]
    assert got == [345]
    assert idx.count() == 1


def test_tombstone(spark, store):
    """index.js:187-205 intent — deleted doc is un-indexed."""
    idx = make_index(spark, store)
    idx.build(docs_df(spark, [{"doc_key": "asdf", "value": {"test": 123}}]))
    idx.update(docs_df(spark, [{"doc_key": "asdf", "deleted": True}]))
    assert idx.get("test") == []
    assert idx.count() == 0


def test_multi_emit(spark, store):
    """index.js:233-240 — N pairs per doc, emit order preserved."""

    def mapper(doc):
        v = json.loads(doc["value"])
        return [("k", x) for x in v["items"]]

    idx = MapIndex(spark, "multi", PythonMapper(mapper), store)
    idx.build(docs_df(spark, [{"doc_key": "d1", "value": {"items": [5, 3, 9]}}]))
    assert [json.loads(v) for v in idx.get("k")] == [5, 3, 9]


def test_get_emit_order_across_docs(spark, store):
    """The executable spec for get()'s documented ordering contract
    (SURVEY §7.3 hard part 2): values come back in (doc_key, emit_pos)
    order — doc keys sorted, each doc's emits in emit order — the
    deterministic stand-in for the reference's uuid-insertion order
    (index.js:165-167, 236). Docs arrive deliberately out of key order."""

    def mapper(doc):
        v = json.loads(doc["value"])
        return [("k", x) for x in v["items"]]

    idx = MapIndex(spark, "emitorder", PythonMapper(mapper), store)
    idx.build(
        docs_df(
            spark,
            [
                {"doc_key": "d2", "value": {"items": [20, 21]}},
                {"doc_key": "d1", "value": {"items": [10, 11, 12]}},
                {"doc_key": "d3", "value": {"items": [30]}},
            ],
        )
    )
    assert [json.loads(v) for v in idx.get("k")] == [10, 11, 12, 20, 21, 30]
    # the order survives incremental maintenance: overwriting d1 keeps
    # its (new) emits in its key slot
    idx.update(docs_df(spark, [{"doc_key": "d1", "value": {"items": [99]}}]))
    assert [json.loads(v) for v in idx.get("k")] == [99, 20, 21, 30]


def test_empty_emit_unindexes(spark, store):
    """index.js:218-230 — mapping to [] removes prior emits."""

    def mapper(doc):
        v = json.loads(doc["value"])
        return [("k", v["x"])] if v.get("x") else []

    idx = MapIndex(spark, "empt", PythonMapper(mapper), store)
    idx.build(docs_df(spark, [{"doc_key": "d1", "value": {"x": 1}}]))
    assert idx.count("k") == 1
    idx.update(docs_df(spark, [{"doc_key": "d1", "value": {"x": 0}}]))
    assert idx.count("k") == 0


def test_range_scan_intended_end_bound(spark, store):
    """index.js:124-138 with the intended end-bound semantics
    (start inclusive / end exclusive — fixes the index.js:128 bug)."""
    mapper = ExprMapper.of(
        (F.col("k"), F.col("k")), value_type=T.StringType()
    )
    df = spark.createDataFrame(
        [(c, c) for c in "abcdefgh"], "doc_key string, k string"
    )
    idx = MapIndex(spark, "rng", mapper, store)
    idx.build(df)
    keys = [r["index_key"] for r in idx.scan(start="c", end="f", sort=True).collect()]
    assert keys == ["c", "d", "e"]
    # prefix/exact
    assert idx.get("d") == ["d"]
    # full scan
    assert idx.count() == 8


def test_chained_index(spark, store):
    """tests/test-replication.js — indexB over indexA's output;
    batch-synchronous convergence (no sleeps needed)."""
    a = make_index(spark, store, "a")
    # B's map: obj -> [['test2', obj.value[0][1]]] (test-replication.js:18),
    # emitting nothing for the empty-array doc the upstream pushes on
    # tombstone (reference {key, value: []}, index.js:190,201) — the
    # downstream map fn decides.
    b_mapper = ExprMapper(
        F.transform(
            F.slice(F.col("value"), 1, 1),
            lambda p: F.struct(
                F.lit("test2").alias("index_key"), p["value"].alias("value")
            ),
        ),
        value_type=T.StringType(),
    )
    b = MapIndex(spark, "b", b_mapper, store)
    a.pipe(b)

    a.build(docs_df(spark, [{"doc_key": "asdf", "value": {"test": 123}}]))
    assert [json.loads(v) for v in b.get("test2")] == [123]

    a.update(docs_df(spark, [{"doc_key": "asdf", "value": {"test": 345}}]))
    got = [json.loads(v) for v in b.get("test2")]
    assert got == [345]
    assert b.count() == 1

    # upstream tombstone pushes {key, value: []}; this mapper emits
    # nothing for it, so the doc un-indexes downstream
    a.update(docs_df(spark, [{"doc_key": "asdf", "deleted": True}]))
    assert b.get("test2") == []


def test_chained_index_constant_mapper(spark, store):
    """Reference semantics for the downstream feed (index.js:218-230):
    the downstream map fn RUNS on the empty-emit doc — a mapper that
    emits regardless of input keeps the doc indexed after an upstream
    tombstone."""
    a = make_index(spark, store, "a2")
    b = MapIndex(
        spark,
        "b2",
        ExprMapper.of((F.lit("seen"), F.size("value").cast("string"))),
        store,
    )
    a.pipe(b)
    a.build(docs_df(spark, [{"doc_key": "asdf", "value": {"test": 123}}]))
    assert b.get("seen") == ["1"]
    a.update(docs_df(spark, [{"doc_key": "asdf", "deleted": True}]))
    # doc still indexed downstream, now recording the empty emit list
    assert b.get("seen") == ["0"]


def test_incremental_equals_rebuild(spark, store):
    """FIXTURES.md A.3 — churn via update() must equal a from-scratch
    build() of the final document state."""
    initial = [{"doc_key": f"d{i}", "value": {"test": i}} for i in range(20)]
    churn = (
        [{"doc_key": f"d{i}", "value": {"test": i * 100}} for i in range(0, 20, 3)]
        + [{"doc_key": f"d{i}", "deleted": True} for i in range(0, 20, 7)]
        + [{"doc_key": "d21", "value": {"test": 21}}]
    )

    def final_state():
        state = {r["doc_key"]: r for r in initial}
        for r in churn:
            state[r["doc_key"]] = r
        return [r for r in state.values() if not r.get("deleted")]

    inc = make_index(spark, store, "inc")
    inc.build(docs_df(spark, initial))
    for i in range(0, len(churn), 4):  # several epochs
        inc.update(docs_df(spark, churn[i : i + 4]))

    full = make_index(spark, store, "full")
    full.build(docs_df(spark, final_state()))

    cols = ["index_key", "emit_pos", "value", "doc_key"]
    inc_rows = sorted(map(tuple, inc.read().select(cols).collect()))
    full_rows = sorted(map(tuple, full.read().select(cols).collect()))
    assert inc_rows == full_rows

    # compaction preserves the live view
    inc.compact()
    assert sorted(map(tuple, inc.read().select(cols).collect())) == full_rows


def test_get_meta(spark, store):
    """Reference getMeta (index.js:255-263): the keys a doc currently
    emits, in emit order; updates replace them; tombstones clear them."""

    def mapper(doc):
        v = json.loads(doc["value"])
        return [(k, 1) for k in v["ks"]]

    idx = MapIndex(spark, "meta", PythonMapper(mapper), store)
    idx.build(docs_df(spark, [{"doc_key": "d1", "value": {"ks": ["b", "a"]}}]))
    assert idx.get_meta("d1") == ["b", "a"]
    idx.update(docs_df(spark, [{"doc_key": "d1", "value": {"ks": ["z"]}}]))
    assert idx.get_meta("d1") == ["z"]
    idx.update(docs_df(spark, [{"doc_key": "d1", "deleted": True}]))
    assert idx.get_meta("d1") == []


def test_delete_range_retention(spark, store):
    """Range tombstones: docs emitting in [start, end) die (whole-doc,
    per the documented tombstone granularity), the deletion cascades
    to piped downstream indexes as empty-emit feeds, survivors stay,
    and compact() reclaims the space with the same live rows."""
    mapper = ExprMapper.of((F.col("k"), F.col("v")), value_type=T.DoubleType())
    docs = spark.createDataFrame(
        [("d1", "a", 1.0), ("d2", "b", 2.0), ("d3", "c", 3.0), ("d4", "d", 4.0)],
        "doc_key string, k string, v double",
    )
    a = MapIndex(spark, "ret_a", mapper, store)
    b_mapper = ExprMapper(
        F.transform(
            F.col("value"),
            lambda p: F.struct(
                F.concat(F.lit("x_"), p["index_key"]).alias("index_key"),
                p["value"].alias("value"),
            ),
        ),
        value_type=T.DoubleType(),
    )
    b = MapIndex(spark, "ret_b", b_mapper, store)
    a.pipe(b)
    a.build(docs)
    assert b.count() == 4
    # expire keys [a, c) -> d1, d2 die everywhere
    assert a.delete_range(start="a", end="c") == 2
    assert sorted(
        r["index_key"] for r in a.read().select("index_key").collect()
    ) == ["c", "d"]
    assert sorted(
        r["index_key"] for r in b.read().select("index_key").collect()
    ) == ["x_c", "x_d"]
    # empty range is a no-op
    assert a.delete_range(start="y", end="z") == 0
    a.compact()
    assert a.count() == 2 and a.get("c") == [3.0]
    """The remaining levelup read-stream opts (reference forwards opts
    verbatim, index.js:124-137): keys-only stream, values-only stream,
    and the raw undecoded record with its composite storage key."""
    mapper = ExprMapper.of((F.col("k"), F.col("v")), value_type=T.DoubleType())
    docs = spark.createDataFrame(
        [("d1", "a", 1.0), ("d2", "b", 2.0)],
        "doc_key string, k string, v double",
    )
    idx = MapIndex(spark, "passthru", mapper, store).build(docs)
    assert idx.scan(values=False, sort=True).columns == ["index_key"]
    assert [r["index_key"] for r in idx.scan(values=False, sort=True).collect()] == ["a", "b"]
    assert idx.scan(keys=False, sort=True).columns == ["value"]
    assert [r["value"] for r in idx.scan(keys=False, sort=True).collect()] == [1.0, 2.0]
    raw = idx.scan(raw=True, sort=True).collect()
    assert [r["raw_key"] for r in raw] == [
        "passthru\x00a\x00d1\x000",
        "passthru\x00b\x00d2\x000",
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        idx.scan(keys=False, values=False)


def test_sql_view_over_index(spark, store):
    """spark.sql over the registered view returns tombstone-resolved
    rows, and SQL key predicates reach the parquet scan (the same
    pushdown as scan() bounds)."""
    docs = spark.createDataFrame(
        [("d1", "a", 1.0), ("d2", "b", 2.0), ("d3", "c", 3.0)],
        "doc_key string, k string, v double",
    )
    idx = MapIndex(
        spark,
        "sqlview",
        ExprMapper.of((F.col("k"), F.col("v")), value_type=T.DoubleType()),
        store,
    ).build(docs)
    # tombstone d3, then query through SQL
    idx.update(
        spark.createDataFrame(
            [("d3", None, None, True)],
            "doc_key string, k string, v double, deleted boolean",
        )
    )
    view = idx.create_view()
    rows = spark.sql(
        f"SELECT index_key, value FROM {view} "
        "WHERE index_key >= 'a' AND index_key < 'c' ORDER BY index_key"
    )
    assert [(r["index_key"], r["value"]) for r in rows.collect()] == [
        ("a", 1.0),
        ("b", 2.0),
    ]
    assert (
        spark.sql(f"SELECT count(*) n FROM {view}").first()["n"] == 2
    )  # d3 tombstoned away
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "index_key" in plan
    # the view stays fresh across mutations: update() after view
    # creation is visible through SQL...
    idx.update(
        spark.createDataFrame(
            [("d4", "d", 4.0)], "doc_key string, k string, v double"
        )
    )
    assert (
        spark.sql(
            f"SELECT value FROM {view} WHERE index_key = 'd'"
        ).first()["value"]
        == 4.0
    )
    # ...and compact() (which DELETES the old segment files) does not
    # leave the view pointing at vanished files
    idx.compact()
    assert spark.sql(f"SELECT count(*) n FROM {view}").first()["n"] == 3


def test_stats_tracks_lsm_lifecycle(spark, store):
    """stats() reflects the store through build -> update -> compact:
    epochs/tombstones accumulate under auto_compact=False and fold to
    a single epoch with zero tombstones after compact()."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from level_mapreduce_spark import ExprMapper, MapIndex

    docs = spark.createDataFrame(
        [(f"d{i}", f"k{i % 3}", float(i)) for i in range(30)],
        "doc_key string, k string, v double",
    )
    mapper = ExprMapper.of((F.col("k"), F.col("v")), value_type=T.DoubleType())
    idx = MapIndex(spark, "stats_idx", mapper, store, auto_compact=False)
    idx.build(docs)
    s0 = idx.stats()
    assert s0["epochs"] == [0]
    assert s0["segment_files"] > 0 and s0["segment_bytes"] > 0
    assert s0["tombstone_epochs"] == [] and s0["tombstone_bytes"] == 0

    idx.update(docs.limit(5).withColumn("v", F.col("v") + 1))
    s1 = idx.stats()
    assert len(s1["epochs"]) == 2  # base + one update epoch
    assert s1["tombstone_epochs"]  # overwrite leaves delete markers

    idx.compact()
    s2 = idx.stats()
    assert len(s2["epochs"]) == 1
    assert s2["tombstone_epochs"] == [] and s2["tombstone_bytes"] == 0
    assert not s2["compaction_due"]


def test_time_travel_read_as_of_epoch(spark, store):
    """read(as_of_epoch=N) reconstructs the index exactly as it stood
    after epoch N committed: pre-overwrite values, pre-delete rows,
    and epoch boundaries listed by stats(). Compaction folds history
    and closes the travel window."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from level_mapreduce_spark import ExprMapper, MapIndex

    mapper = ExprMapper.of((F.col("k"), F.col("v")), value_type=T.DoubleType())
    idx = MapIndex(spark, "tt_idx", mapper, store, auto_compact=False)
    v0 = spark.createDataFrame(
        [("d1", "a", 1.0), ("d2", "b", 2.0), ("d3", "c", 3.0)],
        "doc_key string, k string, v double",
    )
    idx.build(v0)

    def snapshot(as_of=None):
        return {
            r["index_key"]: r["value"]
            for r in idx.read(as_of_epoch=as_of).collect()
        }

    # epoch 1: overwrite d1; epoch 2: delete d2
    idx.update(
        spark.createDataFrame(
            [("d1", "a", 10.0)], "doc_key string, k string, v double"
        )
    )
    idx.update(
        spark.createDataFrame(
            [("d2", None, None, True)],
            "doc_key string, k string, v double, deleted boolean",
        )
    )
    assert snapshot() == {"a": 10.0, "c": 3.0}            # live
    assert snapshot(as_of=0) == {"a": 1.0, "b": 2.0, "c": 3.0}
    assert snapshot(as_of=1) == {"a": 10.0, "b": 2.0, "c": 3.0}
    assert snapshot(as_of=2) == snapshot()
    # epoch 2 was delete-only: it exists as a tombstone epoch, and no
    # segment partition was written for it
    s = idx.stats()
    assert s["epochs"] == [0, 1] and 2 in s["tombstone_epochs"]

    # compact folds history: live answer unchanged, old epochs gone
    idx.compact()
    assert snapshot() == {"a": 10.0, "c": 3.0}
    assert snapshot(as_of=0) == {}                        # window closed
    folded = idx.stats()["epochs"]
    assert len(folded) == 1                              # single epoch left
    assert snapshot(as_of=folded[0]) == snapshot()


def test_drop_destroys_storage_and_allows_rebuild(spark, store, tmp_path):
    """drop() reclaims the whole index namespace — segments,
    tombstones, sidecars, registered views — and the same handle can
    build() fresh afterwards (a retrained index's old generation is
    reclaimable)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from level_mapreduce_spark import ExprMapper, MapIndex

    docs = spark.createDataFrame(
        [(f"d{i}", f"k{i % 3}", float(i)) for i in range(12)],
        "doc_key string, k string, v double",
    )
    mapper = ExprMapper.of((F.col("k"), F.col("v")), value_type=T.DoubleType())
    idx = MapIndex(spark, "drop_idx", mapper, store)
    idx.build(docs)
    idx.update(
        docs.limit(2).withColumn("deleted", F.lit(True)), assume_unique=True
    )
    idx.put_sidecar({"type": "test"}, name="x.json")
    idx.create_view("drop_idx_view")
    assert os.path.isdir(os.path.join(store, "drop_idx"))
    assert spark.sql("SELECT count(*) n FROM drop_idx_view").first()["n"] > 0

    idx.drop()
    assert not os.path.exists(os.path.join(store, "drop_idx"))
    assert idx.get_sidecar(name="x.json") is None
    assert not spark.catalog.tableExists("drop_idx_view")
    assert idx.read().count() == 0  # empty, not an error

    # same handle, fresh build: full lifecycle restart
    idx.build(docs)
    assert idx.read().count() == 12


def test_list_indexes_catalog(spark, store):
    """list_indexes: one catalog row per index namespace under the
    store — epochs, sizes, typed sidecars, and live lease visibility —
    from directory listings only."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from level_mapreduce_spark import ExprMapper, MapIndex, list_indexes

    m = ExprMapper.of((F.col("k"), F.col("v")), value_type=T.DoubleType())
    a = MapIndex(spark, "cat_a", m, store)
    b = MapIndex(spark, "cat_b", m, store)
    df = spark.createDataFrame(
        [("d1", "x", 1.0), ("d2", "y", 2.0)],
        "doc_key string, k string, v double",
    )
    a.build(df, assume_unique=True)
    b.build(df, assume_unique=True)
    b.update(
        spark.createDataFrame(
            [("d1", "x", 9.0)], "doc_key string, k string, v double"
        ),
        assume_unique=True,
    )
    b.put_sidecar({"type": "band", "k": 5}, name="band.json")

    cat = {d["name"]: d for d in list_indexes(spark, store)}
    assert {"cat_a", "cat_b"} <= set(cat)
    assert cat["cat_a"]["epochs"] == [0]
    assert 1 in cat["cat_b"]["epochs"]       # the update epoch
    assert cat["cat_b"]["segment_bytes"] > 0
    assert cat["cat_b"]["tombstone_bytes"] > 0
    assert cat["cat_b"]["sidecars"].get("band.json") == "band"
    assert cat["cat_a"]["lease_held"] is False
    a._acquire_lease()
    try:
        assert {
            d["name"]: d["lease_held"] for d in list_indexes(spark, store)
        }["cat_a"] is True
    finally:
        a._release_lease()


# Value types the driver-side key probe must decode exactly as
# collect() does: DDL type and four values (d1..d4; d4 is the all-
# tombstoned doc, d1 is overwritten with the d4 value).
_PROBE_TYPES = {
    "long": ("bigint", [1, -5, 2**40, None]),
    "double": ("double", [1.5, -0.25, 3.0, None]),
    "string": ("string", ["a", "é", "", None]),
    "struct": ("struct<a:int,b:string>", [(1, "x"), (None, "y"), (3, None), None]),
    "array": ("array<int>", [[1, 2], [], [None, 3], None]),
    "map": ("map<string,int>", [{"a": 1}, {}, {"b": None}, None]),
    # 2300 lies past the nanosecond range INT96 files are read at by default
    "timestamp": (
        "timestamp",
        [dt.datetime(2020, 1, 1, 12, 0, 0, 123456), dt.datetime(1969, 12, 31, 23, 59, 59),
         dt.datetime(2300, 7, 4, 9, 15), None],
    ),
    "date": ("date", [dt.date(2020, 1, 2), dt.date(1900, 1, 1), dt.date(2038, 1, 19), None]),
    "decimal": ("decimal(10,2)", [Decimal("12.34"), Decimal("-0.01"), Decimal("99999999.99"), None]),
    "binary": ("binary", [bytearray(b"\x00\x01"), bytearray(b""), bytearray(b"\xff"), None]),
    "nested": (
        "struct<xs:array<struct<p:int,q:string>>,m:map<string,array<int>>>",
        [([(1, "p"), (2, None)], {"a": [1, 2]}), ([], {}), (None, {"b": None}), None],
    ),
}
_PROBE_KEYS = ("k", "other", "gone", "missing")


def _probe_index(spark, store, kind):
    """An index of value type ``kind`` after one build and one update:
    key ``k`` spans three docs (one overwritten, one added), ``other``
    one doc, ``gone`` only an all-tombstoned doc."""
    ddl, (v1, v2, v3, v4) = _PROBE_TYPES[kind]
    schema = f"doc_key string, k string, v {ddl}, deleted boolean"
    docs = spark.createDataFrame(
        [("d1", "k", v1, False), ("d2", "k", v2, False),
         ("d3", "other", v3, False), ("d4", "gone", v4, False)],
        schema,
    )
    mapper = ExprMapper.of(
        (F.col("k"), F.col("v")), value_type=docs.schema["v"].dataType
    )
    idx = MapIndex(spark, f"probe_{kind}", mapper, store)
    idx.build(docs, assume_unique=True)
    idx.update(
        spark.createDataFrame(
            [("d1", "k", v4, False), ("d4", None, None, True), ("d0", "k", v3, False)],
            schema,
        ),
        assume_unique=True,
    )
    return idx


def _spark_answers(idx):
    return {
        key: ([r["value"] for r in idx.get_df(key).collect()], idx.get_df(key).count())
        for key in _PROBE_KEYS
    }


@pytest.mark.parametrize("kind", sorted(_PROBE_TYPES))
def test_get_probe_equals_spark(spark, store, kind):
    """get()/count(key) on a local store come from the driver-side key
    probe; for every value type they equal the Spark DataFrame form
    (get_df), including a missing key and an all-tombstoned key."""
    idx = _probe_index(spark, store, kind)
    want = _spark_answers(idx)
    assert want["k"][1] == 3 and want["gone"] == ([], 0)
    assert all(idx._probe([key]) is not None for key in _PROBE_KEYS)
    assert {key: (idx.get(key), idx.count(key)) for key in _PROBE_KEYS} == want


def test_get_probe_timestamps_in_local_zone(spark, store, monkeypatch):
    """Timestamps from get() decode to the driver's local wall-clock
    time, as collect() does, whatever the process time zone — from
    the probe and from the Spark fallback's Arrow collect."""
    import time

    idx = _probe_index(spark, store, "timestamp")
    try:
        for tz in ("UTC", "America/New_York"):
            monkeypatch.setenv("TZ", tz)
            time.tzset()
            want = {key: got for key, (got, _) in _spark_answers(idx).items()}
            assert {key: idx.get(key) for key in _PROBE_KEYS} == want
            with monkeypatch.context() as m:
                m.setattr(MapIndex, "_local_root", lambda self: None)
                assert {key: idx.get(key) for key in _PROBE_KEYS} == want
    finally:
        monkeypatch.undo()
        time.tzset()


@pytest.mark.parametrize("kind", sorted(_PROBE_TYPES))
def test_get_spark_fallback_equals_probe(spark, store, monkeypatch, kind):
    """A store that does not resolve to the local filesystem answers
    get()/count(key) from the Spark path (_lookup's Arrow collect),
    with the probe's answers, for every value type."""
    idx = _probe_index(spark, store, kind)
    probed = {key: (idx.get(key), idx.count(key)) for key in _PROBE_KEYS}
    monkeypatch.setattr(MapIndex, "_local_root", lambda self: None)
    assert {key: (idx.get(key), idx.count(key)) for key in _PROBE_KEYS} == probed


def test_get_probe_empty_index(spark, store):
    """Never built: no segments dir, the probe answers empty."""
    idx = make_index(spark, store, name="never_built")
    assert idx.get("test") == [] and idx.count("test") == 0
    assert idx.get_df("test").count() == 0


def test_key_list_probe_prunes_row_groups(spark, store):
    """A 2-key probe over an index written in many small row groups
    keeps only the row groups whose min/max statistics can hold one of
    the keys, and answers the same rows as the Spark lookup."""
    import glob

    import pyarrow.dataset as ds

    from level_mapreduce_spark.engine.index import _key_filter

    spark.conf.set("parquet.block.size", "2048")
    try:
        idx = MapIndex(
            spark, "rowgroups",
            ExprMapper.of((F.col("k"), F.col("v")), value_type=T.LongType()),
            store, auto_compact=False,
        )
        idx.build(
            spark.range(4000).selectExpr(
                "string(id) as doc_key", "format_string('k%05d', id) as k",
                "id as v",
            ),
            assume_unique=True,
        )
    finally:
        spark.conf.unset("parquet.block.size")
    keys = ["k00123", "k03210"]
    frags = [
        f
        for path in glob.glob(f"{idx.segments_path}/epoch=*/*.parquet")
        for f in ds.dataset(path).get_fragments()
    ]
    groups = [g for f in frags for g in f.split_by_row_group()]
    kept = [g for f in frags for g in f.split_by_row_group(_key_filter(keys))]
    assert len(groups) >= 10
    assert len(kept) == 2
    got = idx._probe(keys)
    assert got["index_key"].to_pylist() == keys
    assert got["value"].to_pylist() == [123, 3210]
    assert idx._lookup_df(keys, None).count() == 2


@pytest.mark.parametrize(
    "value_type",
    [
        T.YearMonthIntervalType(),
        T.StructType(
            [T.StructField("xs", T.ArrayType(T.YearMonthIntervalType()))]
        ),
        T.MapType(T.StringType(), T.YearMonthIntervalType()),
    ],
)
def test_year_month_interval_values_refused(spark, store, value_type):
    """A year-month interval anywhere in the value type is refused at
    construction: such an index would build, but the Python read path
    (get, collect) cannot decode its values."""
    mapper = ExprMapper.of((F.col("k"), F.col("v")), value_type=value_type)
    with pytest.raises(ValueError, match="YearMonthIntervalType"):
        MapIndex(spark, "ym", mapper, store)
    day_time = ExprMapper.of(
        (F.col("k"), F.col("v")), value_type=T.DayTimeIntervalType()
    )
    MapIndex(spark, "dt", day_time, store)


def test_update_feed_equals_stored_read_back(spark, store):
    """update() returns the downstream feed from the batch's own stage;
    it must equal a read-back of the stored index over the changed
    keys (as_documents, with [] for docs that have no live emits) —
    across overwrite, delete, re-insert of a deleted doc, empty emit,
    a null-key pair, 3+ emits per doc and a MapType value."""
    value_type = T.MapType(T.StringType(), T.LongType())
    kv = T.ArrayType(
        T.StructType(
            [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
        )
    )
    schema = T.StructType(
        [
            T.StructField("doc_key", T.StringType()),
            T.StructField("kv", kv),
            T.StructField("deleted", T.BooleanType()),
        ]
    )
    mapper = ExprMapper(
        F.transform(
            "kv",
            lambda p: F.struct(
                p["k"].alias("index_key"),
                F.create_map(F.lit("v"), p["v"]).alias("value"),
            ),
        ),
        value_type=value_type,
    )
    idx = MapIndex(spark, "feed", mapper, store, auto_compact=False)

    def batch(rows):
        return spark.createDataFrame(
            [(d, kv or [], kv is None) for d, kv in rows], schema
        )

    def as_dict(df):
        return {
            r["doc_key"]: [
                (p["index_key"], dict(p["value"])) for p in r["value"]
            ]
            for r in df.collect()
        }

    def read_back(keys):
        stored = as_dict(idx.as_documents())
        return {k: stored.get(k, []) for k in keys}

    idx.build(
        batch(
            [
                ("d1", [("a", 1)]),
                ("d2", [("b", 2), ("c", 3)]),
                ("d3", [("c", 4)]),
                ("d4", [("d", 5)]),
            ]
        ),
        assume_unique=True,
    )
    batches = [
        [
            ("d1", [("e", 1), ("a", 2), ("e", 3), ("b", 4)]),  # overwrite, 4 emits
            ("d2", None),  # delete
            ("d3", []),  # empty emit
            ("d4", [("d", 6), (None, 7), ("a", 8)]),  # null-key pair
            ("d5", [("z", 9)]),  # new doc
        ],
        [
            ("d2", [("b", 10), ("b", 11), ("a", 12)]),  # re-insert of a deleted doc
            ("d5", None),
            ("d6", None),  # delete of a doc never stored
        ],
    ]
    for rows in batches:
        feed = idx.update(batch(rows))
        assert {r["deleted"] for r in feed.collect()} == {False}
        got = as_dict(feed)
        assert got == read_back([d for d, _ in rows])
    assert got["d2"] == [("b", {"v": 10}), ("b", {"v": 11}), ("a", {"v": 12})]
