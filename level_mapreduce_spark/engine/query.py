"""Query — the lazy post-scan record pipeline (reference index.js:13-94).

The reference interprets a closure list (``mutations[]``) one record at
a time; here each pipeline step is a DataFrame transformation, so
Catalyst fuses the whole chain into a single whole-stage-codegen'd
stage — the "plan" IS the logical plan (SURVEY.md §3.3).

Parity surface:

- ``map``        — scalar projection (index.js:47-52)
- ``async_map``  — async projection (index.js:53-56); Arrow-batched
- ``filter``     — predicate; drop-on-skip (index.js:57-63)
- ``group``      — key -> [values] grouping with the *intended*
  semantics: no boundary-record loss and uniform ``{key, results}``
  output (the reference drops each group's boundary record and mixes
  output shapes — index.js:70-74, 71 vs 86; SURVEY.md §7.4), plus the
  declared-but-ignored ``finish`` reduce finalizer (index.js:64)
  actually applied.
- ``end``        — collect (index.js:90-94)

Records are ``(key, value)`` — the decoded projection the reference's
DecodeStream applies to every scan (index.js:96-109).
"""

from __future__ import annotations

import json
from collections.abc import Awaitable, Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from level_mapreduce_spark.engine.mapper import struct_order_cmp


def _contains_type(dt: T.DataType, cls: type) -> bool:
    """True when ``dt`` is or contains a ``cls`` type at any nesting
    depth (array elements, map keys and values, struct fields)."""
    if isinstance(dt, cls):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_type(dt.elementType, cls)
    if isinstance(dt, T.MapType):
        return _contains_type(dt.keyType, cls) or _contains_type(
            dt.valueType, cls
        )
    if isinstance(dt, T.StructType):
        return any(_contains_type(f.dataType, cls) for f in dt.fields)
    return False


class Query:
    """Fluent, lazy pipeline over an index scan.

    Column-expression steps (``map``/``filter`` with Columns) stay
    JVM-side; ``map_fn``/``async_map``/``filter_fn`` accept arbitrary
    Python and run as Arrow-batched pandas UDFs (the slow path, kept
    off the hot loop by design).
    """

    def __init__(self, df: DataFrame):
        cols = df.columns
        sel = [
            F.col("index_key").alias("key") if "index_key" in cols else F.col("key"),
            F.col("value"),
        ]
        for extra in ("doc_key", "emit_pos"):
            if extra in cols:
                sel.append(F.col(extra))
        self._df = df.select(*sel)

    # ------------------------------------------------------------ plumbing

    @property
    def df(self) -> DataFrame:
        return self._df

    def _with(self, df: DataFrame) -> "Query":
        q = object.__new__(Query)
        q._df = df
        return q

    @property
    def _vcol(self) -> str:
        """The current value column: ``value`` before group(),
        ``results``/``result`` after — so pipelines keep chaining past
        a group, which the reference allows (mutations run in order,
        index.js:32-44)."""
        for name in ("value", "results", "result"):
            if name in self._df.columns:
                return name
        raise ValueError(f"no value column among {self._df.columns}")

    def _value_converter(self):
        """Python-side view of the value column inside a pandas UDF.

        Spark hands a StructType column to a pandas UDF as a
        pd.DataFrame — iterating it yields column *names*; convert to
        per-row dicts so user fns see records, not garbage.
        """
        vt = self._df.schema[self._vcol].dataType
        if isinstance(vt, T.StructType):
            return lambda v: v.to_dict("records")
        return list

    # ----------------------------------------------------------------- map

    def map(self, value: Column | None = None, key: Column | None = None) -> "Query":
        """Scalar projection over (key, value) as Column expressions —
        e.g. ``q.map(value=F.col('value') * 2)``. After ``group()`` the
        value column is named ``results``/``result``; assignment targets
        whichever is current."""
        df = self._df
        if value is not None:
            df = df.withColumn(self._vcol, value)
        if key is not None:
            df = df.withColumn("key", key.cast("string"))
        return self._with(df)

    def map_fn(
        self,
        fn: Callable[[str, object], object],
        value_type: T.DataType | None = None,
        skip_on_error: bool = False,
    ) -> "Query":
        """Arbitrary Python record transform ``fn(key, value) -> value'``
        (reference Query.map closure, index.js:47-52), Arrow-batched.
        With no ``value_type`` the result is JSON-encoded to string
        (schema-less reference values, index.js:113).

        ``skip_on_error=True`` reproduces the reference pipeline's
        drop-on-error semantics: a record whose mutation throws is
        silently dropped rather than failing the query (index.js:34 —
        a mutation erroring with 'skip' or anything else skips the
        record)."""
        jsonify = value_type is None
        out_type = value_type or T.StringType()
        vcol, conv = self._vcol, self._value_converter()

        # NB: the `value: pd.Series` hint drives pandas_udf eval-type
        # inference only (omitting it raises TYPE_HINT_SHOULD_BE_SPECIFIED);
        # a StructType column still arrives as pd.DataFrame at runtime and
        # _value_converter turns it into per-row dicts.
        @F.pandas_udf(out_type)
        def apply(key: pd.Series, value: pd.Series) -> pd.Series:
            out = [fn(k, v) for k, v in zip(key, conv(value))]
            if jsonify:
                out = [json.dumps(v, sort_keys=True) for v in out]
            return pd.Series(out, dtype=object)

        @F.pandas_udf(out_type)
        def apply_skip(key: pd.Series, value: pd.Series) -> pd.Series:
            out = []
            for k, v in zip(key, conv(value)):
                try:
                    r = fn(k, v)
                except Exception:
                    out.append(None)
                    continue
                out.append(json.dumps(r, sort_keys=True) if jsonify else r)
            return pd.Series(out, dtype=object)

        if skip_on_error:
            # null marks a skipped record (caveat: an fn legitimately
            # returning None is indistinguishable and also dropped)
            df = self._df.withColumn(vcol, apply_skip("key", vcol))
            return self._with(df.where(F.col(vcol).isNotNull()))
        return self._with(self._df.withColumn(vcol, apply("key", vcol)))

    def async_map(
        self,
        fn: Callable[[str, object], Awaitable[object]],
        value_type: T.DataType | None = None,
        skip_on_error: bool = False,
    ) -> "Query":
        """Async record transform (reference Query.asyncMap,
        index.js:53-56) — whole Arrow batches awaited concurrently.

        ``skip_on_error=True``: a record whose coroutine raises is
        dropped instead of failing the query (reference drop-on-error,
        index.js:34; same None-ambiguity caveat as ``map_fn``)."""
        jsonify = value_type is None
        out_type = value_type or T.StringType()
        vcol, conv = self._vcol, self._value_converter()

        @F.pandas_udf(out_type)
        def apply(key: pd.Series, value: pd.Series) -> pd.Series:
            import asyncio

            async def run_all():
                return await asyncio.gather(
                    *[fn(k, v) for k, v in zip(key, conv(value))],
                    return_exceptions=skip_on_error,
                )

            out = asyncio.run(run_all())
            if skip_on_error:
                out = [
                    None
                    if isinstance(v, BaseException) or v is None
                    else (json.dumps(v, sort_keys=True) if jsonify else v)
                    for v in out
                ]
            elif jsonify:
                out = [json.dumps(v, sort_keys=True) for v in out]
            return pd.Series(out, dtype=object)

        df = self._df.withColumn(vcol, apply("key", vcol))
        if skip_on_error:
            df = df.where(F.col(vcol).isNotNull())
        return self._with(df)

    # -------------------------------------------------------------- filter

    def filter(self, predicate: Column) -> "Query":
        """Keep records where the predicate holds (reference
        Query.filter drop-on-'skip', index.js:57-63)."""
        return self._with(self._df.where(predicate))

    def filter_fn(
        self,
        fn: Callable[[str, object], bool],
        skip_on_error: bool = False,
    ) -> "Query":
        """``skip_on_error=True``: a record whose predicate raises is
        dropped — an erroring mutation skips the record (index.js:34) —
        instead of failing the query."""
        vcol, conv = self._vcol, self._value_converter()

        def _keep_one(k, v):
            if skip_on_error:
                try:
                    return bool(fn(k, v))
                except Exception:
                    return False
            return bool(fn(k, v))

        @F.pandas_udf(T.BooleanType())
        def keep(key: pd.Series, value: pd.Series) -> pd.Series:
            return pd.Series(
                [_keep_one(k, v) for k, v in zip(key, conv(value))]
            )

        return self._with(self._df.where(keep("key", vcol)))

    # --------------------------------------------------------------- group

    # Array finishers that are order-insensitive aggregates in
    # disguise: planned as direct (map-side partial) aggregation, so
    # the per-key value array is never materialized. size() yields int
    # while count() yields bigint — cast keeps the schema identical to
    # the collect_list plan it replaces. size/cardinality count ROWS
    # (F.count(lit(1))), not non-null values: the results array they
    # stand in for preserves null values (struct-wrapped collect), so
    # F.count(col) — which skips nulls — would disagree with the
    # fallback plan whenever a mapper emitted a null value.
    _AGG_FINISHERS = {
        "array_min": F.min,
        "array_max": F.max,
        "size": lambda c: F.count(F.lit(1)).cast("int"),
        "cardinality": lambda c: F.count(F.lit(1)).cast("int"),
    }

    @classmethod
    def _finish_as_agg(cls, finish, vcol: str) -> Column | None:
        """If ``finish`` is exactly one known order-insensitive array
        aggregate applied to the results array, return the equivalent
        direct aggregate over the value column; else None."""
        import re

        probe = "__lmr_group_probe__"
        try:
            rendered = str(finish(F.col(probe)))
        except Exception:
            return None
        m = re.fullmatch(
            r"Column<'(\w+)\(%s\)'>" % re.escape(probe), rendered
        )
        if m and m.group(1) in cls._AGG_FINISHERS:
            return cls._AGG_FINISHERS[m.group(1)](F.col(vcol))
        return None

    def group(
        self,
        finish: Callable[[Column], Column] | None = None,
        limit_per_key: int | None = None,
        finish_fn: Callable[[list], object] | None = None,
        finish_type: T.DataType | None = None,
    ) -> "Query":
        """key -> sorted list of values (reference group, index.js:64-89,
        intent not bugs). ``finish`` — the reference's declared-but-
        unused reduce finalizer (index.js:64) — is a Column fn applied
        to the collected array, e.g.
        ``q.group(finish=lambda r: F.size(r))``.

        ``finish_fn`` is the arbitrary-Python realization of the same
        finalizer (the reference's finish is a JS closure): an
        Arrow-batched pandas UDF over the collected array —
        ``finish_fn(values: list) -> result``, with ``finish_type``
        declaring the result type (JSON-string encoded when omitted,
        like ``map_fn``). Mutually exclusive with ``finish``; unlike
        recognized Column finishers it always materializes the
        per-key array first, so pair it with ``limit_per_key`` on
        hot-keyed data.

        Hash aggregation (map-side partial + final) replaces the
        reference's sort-based adjacent-key grouping with identical
        logical results and no required global sort.

        Scale note: when ``finish`` is a recognized order-insensitive
        aggregate (``array_min``/``array_max``/``size``), the plan is a
        direct ``agg`` — no unbounded per-key ``collect_list`` array
        ever exists, and the aggregation combines map-side. The raw
        collect form is inherent to the reference's group-to-array
        semantics; for hot keys whose full value list cannot fit one
        executor, ``limit_per_key=N`` keeps only the FIRST N values per
        key in the deterministic (doc_key, emit_pos) order — truncation
        happens BEFORE the collect via a rank filter (WindowGroupLimit
        pre-truncates map-side), so the oversized array never exists
        anywhere in the plan.
        """
        if finish is not None and finish_fn is not None:
            raise ValueError("pass finish OR finish_fn, not both")
        df = self._df
        vcol = self._vcol
        if limit_per_key is not None:
            # BOTH order columns or refuse: with only one present, ties
            # on it would make the kept-N set nondeterministic — the
            # documented (doc_key, emit_pos) truncation order needs the
            # full compound key
            missing = {"doc_key", "emit_pos"} - set(df.columns)
            if missing:
                raise ValueError(
                    "limit_per_key needs BOTH (doc_key, emit_pos) order "
                    f"columns for deterministic truncation; missing: "
                    f"{sorted(missing)}"
                )
            w = Window.partitionBy("key").orderBy("doc_key", "emit_pos")
            df = (
                df.withColumn("_rk", F.row_number().over(w))
                .where(F.col("_rk") <= limit_per_key)
                .drop("_rk")
            )
        if finish is not None:
            agg = self._finish_as_agg(finish, vcol)
            if agg is not None:
                return self._with(
                    df.groupBy("key").agg(agg.alias("result"))
                )
        order_cols = [c for c in ("doc_key", "emit_pos") if c in df.columns]
        if order_cols:
            # field comparator: sorting the struct wholesale fails
            # analysis when the value type contains a MapType (structs
            # with maps are unorderable); the order columns alone are
            # the documented deterministic order anyway
            collected = F.array_sort(
                F.collect_list(F.struct(*order_cols, vcol)),
                struct_order_cmp(*order_cols),
            )
            results = F.transform(collected, lambda s: s[vcol])
        elif _contains_type(df.schema[vcol].dataType, T.MapType):
            # No order columns AND a map-bearing value type: the
            # default array_sort comparator fails analysis on MapType
            # (INVALID_ORDERING_TYPE — maps are unorderable, so no
            # deterministic value order exists here anyway). Collect
            # unordered; callers needing determinism must carry the
            # (doc_key, emit_pos) order columns, whose comparator
            # above never inspects the value.
            collected = F.collect_list(F.struct(vcol))
            results = F.transform(collected, lambda s: s[vcol])
        else:
            # struct-wrap so NULL values survive into the results
            # array (bare collect_list drops them — the order-cols
            # path above keeps them, and the two plans must agree)
            collected = F.array_sort(F.collect_list(F.struct(vcol)))
            results = F.transform(collected, lambda s: s[vcol])
        grouped = df.groupBy("key").agg(results.alias("results"))
        if finish is not None:
            grouped = grouped.select("key", finish(F.col("results")).alias("result"))
        elif finish_fn is not None:
            jsonify = finish_type is None
            out_type = finish_type or T.StringType()

            @F.pandas_udf(out_type)
            def apply(res: pd.Series) -> pd.Series:
                out = [finish_fn(list(v)) for v in res]
                if jsonify:
                    out = [json.dumps(v, sort_keys=True) for v in out]
                return pd.Series(out, dtype=object)

            grouped = grouped.select("key", apply("results").alias("result"))
        return self._with(grouped)

    # ------------------------------------------------------------- actions

    def count(self) -> int:
        return self._df.count()

    def end(self, sort: bool = True) -> list:
        """Terminal collect (reference Query.end / callback results,
        index.js:90-94). Driver-side by design — for bulk output use
        ``.df`` and write distributed."""
        df = self._df
        if sort and "key" in df.columns:
            df = df.orderBy("key")
        return df.collect()
