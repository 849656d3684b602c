"""SparkSession factory tuned for this engine.

Local mode is the test bed; the config is chosen so the same code runs
unchanged on a multi-executor cluster (AQE on, shuffle partitions sized
to cores, Arrow on for the pandas-UDF paths, UTC so results compare
bit-for-bit with the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ceiling of the derived spark.driver.memory default, in GiB
_DRIVER_MEMORY_CAP_GB = 48


def _default_driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` when SPARK_DRIVER_MEMORY is unset: half
    the machine's physical memory in whole GiB (at least 1g, at most
    48g). In local mode the driver JVM hosts every executor, so a heap
    ceiling above physical memory lets it grow until the kernel
    OOM-kills it; the other half is left to the Python workers and
    the OS. Falls back to the cap where ``os.sysconf`` cannot report
    physical memory."""
    if phys_bytes is None:
        try:
            phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, OSError, ValueError):
            return f"{_DRIVER_MEMORY_CAP_GB}g"
    gib = phys_bytes // 2 // (1 << 30)
    return f"{max(1, min(_DRIVER_MEMORY_CAP_GB, gib))}g"


def _conf_met(key: str, requested: str, effective: str | None) -> bool:
    """True iff a live session's ``effective`` conf value satisfies a
    ``requested`` one. ``*.extraJavaOptions`` is met when every
    requested option appears in the effective value: PySpark prepends
    its own ``--add-opens`` flags, so the two are never equal."""
    if effective is None:
        return False
    if key.endswith(".extraJavaOptions"):
        have = str(effective).split()
        return all(opt in have for opt in str(requested).split())
    return str(effective).lower() == str(requested).lower()


def get_spark(
    app_name: str = "level_mapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    # Python workers are separate processes: they must be able to import
    # this package (and any module defining user map closures) by name.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    extra = os.environ.get("PYTHONPATH", "")
    if repo_root not in extra.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{extra}" if extra else repo_root
        )
    # One BLAS thread per Python worker: the Arrow/numpy kernels
    # (blocked cosine, LSH bucketing) run in up-to-ncores parallel
    # workers; letting each spawn ncores BLAS threads oversubscribes
    # the box ncores× (measured: 0.6 s -> 4.6 s swings on the blocked
    # near-dup at sf0.1). Parallelism belongs to Spark's task layer.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", n))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Scale-aware shuffle width: AQE can only COALESCE a plain
        # agg/join exchange, never split it, so the pre-AQE width is a
        # hard parallelism/partition-size ceiling — on a 100 TB
        # cluster set SPARK_INITIAL_PARTITIONS wide (~input-bytes /
        # advisory-size) and AQE right-sizes every exchange DOWN by
        # bytes. The default stays = shuffle width: the r13 A/B
        # (scripts/tfidf_scale_probe.py + full bench both widths)
        # measured initial=8x ncores COSTING 1.5 s across the sf0.1
        # set (3x on sub-second sketch-rollup folds — 256 map-side
        # buckets of overhead on KB-sized shuffles) while the feared
        # sf1.0 agg exponent was ALREADY sublinear at fixed width
        # (tfidf 3.9x, inverted_index 4.0x wall for 10x data) — the
        # r12 13.2x reading was driver-box band plus the single-file
        # corpus's 2-split input ceiling, not reduce-side width.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get(
                "SPARK_INITIAL_PARTITIONS", str(shuffle_partitions)
            ),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # off by default (tests/bench spin many sessions); probes that
        # read the /api/v1 stage metrics REST surface set
        # SPARK_GRAFT_UI=true (scripts/endurance_probe.py)
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
    )
    # static conf (UI retention, codegen cache, ...) must land before
    # the context exists — probes pass it here rather than mutating a
    # live session
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate() returning a PRE-EXISTING session silently ignores
    # every static conf above (ADVICE r11): a probe that asked for
    # spark.ui.enabled or retention confs would then crash on
    # uiWebUrl=None or silently under-count spill. Fail loudly instead
    # of mis-measuring — the caller must stop the existing session (or
    # run in a fresh process) to get the confs it asked for.
    # Only STATIC confs need this mismatch check (ADVICE r16): the
    # env-driven shuffle width above is a modifiable runtime conf
    # that getOrCreate() propagates to a pre-existing session, so it
    # is deliberately absent here. A future env knob that
    # sets a STATIC conf must be added to ``requested`` like
    # SPARK_GRAFT_UI below, or a reused session will silently ignore
    # it.
    requested = dict(extra_conf or {})
    if os.environ.get("SPARK_GRAFT_UI"):
        requested["spark.ui.enabled"] = os.environ["SPARK_GRAFT_UI"]
    stale = {}
    # read through sparkContext.getConf(): spark.conf.get RAISES on
    # static confs an existing session never set, and swallowing that
    # into "skip the key" is exactly the silent under-count this guard
    # exists to prevent (ADVICE r12). A fresh session built above has
    # every requested conf in its SparkConf, so ABSENCE here always
    # means getOrCreate() returned a pre-existing session that ignored
    # the request — flag it like a mismatch.
    sc_conf = spark.sparkContext.getConf()
    for k, v in requested.items():
        got = sc_conf.get(k, None)
        if not _conf_met(k, v, got):
            stale[k] = (v, got)
    if stale:
        raise RuntimeError(
            "get_spark(): getOrCreate() returned an existing "
            "SparkSession whose static conf does not match the "
            f"request {stale} (requested, effective). Static confs "
            "cannot change on a live session — stop it first "
            "(spark.stop()) or run in a fresh process."
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
