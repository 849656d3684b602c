"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload kv_mixed --seed 1 --seconds 5 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` prints the per-layer metrics of a traced run
(its end-to-end figures go to stderr, for the tracing overhead) and
writes the spans to ``.perfbench_out/``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``.

Run hygiene: Spark gets a fixed number of task slots (at most
``nproc``) and ``SPARK_DRIVER_MEMORY`` defaults to 2g. The store,
Spark's local dirs and every temp file live under
``.perfbench_work/`` in the repository, which is removed on every
exit path, after the session and its JVM have stopped.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

MAX_SLOTS = 4


def process_start() -> float:
    """Wall-clock time this process started (kernel start time), so
    ``setup_s`` includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.time()


T_START = process_start()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

END_TO_END = {
    "setup_s": "s",
    "build_s": "s",
    "read_p50_ms": "ms",
    "update_p50_s": "s",
    "store_bytes_per_doc": "B",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def slots() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(MAX_SLOTS, n))


def configure_env(work: str, n_slots: int) -> None:
    """Point every temp and Spark dir into ``work``; pin the session
    knobs the program reads from the environment to their defaults."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # read by every JVM spark-submit starts, the launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_SHUFFLE_PARTITIONS"] = str(n_slots)
    os.environ["SPARK_GRAFT_UI"] = "false"
    for knob in ("SPARK_GRAFT_PREFER_SMJ", "SPARK_GRAFT_PARQUET_CODEC", "SPARK_INITIAL_PARTITIONS"):
        os.environ.pop(knob, None)


def start_spark(work: str, n_slots: int):
    from level_mapreduce_spark import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{n_slots}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    # fails (and the run exits non-zero) where the program is absent
    import level_mapreduce_spark

    if not os.path.abspath(level_mapreduce_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"level_mapreduce_spark imported from outside {ROOT}")
    from perfbench import workloads
    from perfbench.trace import Recorder, per_layer_names

    if args.workload not in workloads.WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    n_slots = slots()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    spark = None
    try:
        configure_env(work, n_slots)
        spark = start_spark(work, n_slots)
        rec = Recorder(spark, trace=bool(args.trace))
        print(f"session up after {time.time() - T_START:.1f} s", file=sys.stderr)
        run = workloads.Run(
            spark=spark,
            store=os.path.join(work, "store"),
            seed=args.seed,
            seconds=args.seconds,
            rec=rec,
        )
        e2e = workloads.WORKLOADS[args.workload](run)
        e2e["setup_s"] = run.setup_end - T_START
        run.mark("checks done")
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            rec.write_spans(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there

    print(f"run took {time.time() - T_START:.1f} s", file=sys.stderr)
    for err in run.errors:
        print(f"CHECK FAILED: {err}", file=sys.stderr)
    print(f"inputs digest {args.workload} seed {args.seed}: {run.digest}", file=sys.stderr)
    print(
        "end-to-end" + (" (traced)" if args.trace else "") + ": "
        + json.dumps({k: round(v, 6) for k, v in sorted(e2e.items())}),
        file=sys.stderr,
    )
    if args.trace:
        values = rec.per_layer()
        metrics = {n: {"value": values[n], "unit": u} for n, u in per_layer_names()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": not run.errors,
                "attempted": rec.attempted,
                "failed": rec.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
