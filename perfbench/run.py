"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload etl_month --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is the
separate traced run that reports the per-layer metrics.  The last stdout
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--workload all`` runs every workload, each in a fresh process (a
workload's session state, e.g. ``save_as_table``'s session-wide
``partitionOverwriteMode``, must not reach another's numbers), and prints
their results.

Inputs are generated from ``--seed``; all scratch files (inputs, lake,
warehouse, checkpoints, Spark local dirs, event log) live under
``perfbench/_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_month", "analytics_mix")

#: Set-ups measured per run; setup_s is their median.
SETUPS = 3


def _layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit.  Each traced run reports all
    of them; a layer a workload does not exercise reads 0."""
    from mix import GRAPH_QUERIES, MODULES

    units = {
        "session.cold_setup_s": "s", "session.build_s": "s",
        "session.first_job_s": "s", "gen.input_s": "s",
        "lake.extract_s": "s", "lake.jobs": "count", "lake.input_bytes": "B",
        "lake.output_bytes": "B", "lake.files": "count",
        "lake.shuffle_bytes": "B", "lake.spill_bytes": "B",
        "lake.bytes_ratio": "ratio",
        "load.count_s": "s", "load.time_s": "s", "load.count_plan_s": "s",
        "load.count_task_skew": "ratio", "load.shuffle_bytes": "B",
        "load.jobs": "count", "export.s": "s",
    }
    for m in MODULES:
        for f, u in (("construct_s", "s"), ("plan_s", "s"),
                     ("execute_s", "s"), ("jobs", "count"),
                     ("eager_jobs", "count"), ("stages", "count"),
                     ("shuffle_bytes", "B"), ("spill_bytes", "B")):
            units[f"mix.{m}.{f}"] = u
    for q in GRAPH_QUERIES:
        for f, u in (("construct_s", "s"), ("execute_s", "s"),
                     ("jobs", "count"), ("eager_jobs", "count")):
            units[f"mix.{q}.{f}"] = u
    for q in ("bars", "rollup"):
        for p in ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                  "latestOffset", "getBatch"):
            units[f"stream.{q}.{p}_ms"] = "ms"
    units.update({
        "stream.bars.state_rows": "count",
        "stream.bars.state_mem_bytes": "B",
        "stream.bars.state_commit_ms": "ms",
        "stream.bars.rows_dropped_by_watermark": "count",
        "stream.bars.tasks_per_batch": "count",
        "stream.rollup.upsert_s": "s",
        "stream.rollup.state_bytes": "B",
        "jvm.peak_rss_mb": "MB", "jvm.gc_s": "s",
        "trace.overhead_frac": "ratio",
    })
    return units


def log(msg: str) -> None:
    """Progress on stderr, stamped with the seconds since process start."""
    print(f"perfbench [{time.perf_counter() - PROCESS_START:6.1f} s] {msg}",
          file=sys.stderr, flush=True)


LAYER_UNITS = _layer_units()
END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s"}


class Ctx:
    """What a workload gets: the session, its seed and time budget, the
    tracer and op accounting, and the dicts it fills in."""

    def __init__(self, spark, args, work: str):
        from common import Jobs, Ops, Tracer

        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.tracer = Tracer(f"{args.workload}-{args.seed}", bool(args.trace))
        self.ops = Ops(Jobs(spark, self.tracer))
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.notes: list[tuple[str, float, str]] = []
        self.finishers: list = []
        self.log = log

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def trace_overhead(self, plain: list, traced: list) -> None:
        from common import median

        self.layers["trace.overhead_frac"] = median(traced) / median(plain) - 1

    def guarded(self, what: str, fn, *args) -> None:
        """Run an output check; an exception in it is a failed check."""
        try:
            fn(*args)
        except Exception as e:  # noqa: BLE001
            self.ops.check(False, f"{what}: {type(e).__name__}: {e}"[:500])


def _session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _start(conf: dict[str, str]):
    """build_session + the first finished job; returns (spark, build_s,
    first_job_s)."""
    from btc_usdt_etl_pipeline_spark.session import build_session

    ncpu = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = build_session("perfbench", master=f"local[{ncpu}]",
                          extra_conf=conf)
    t_built = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, t_built - t, time.perf_counter() - t_built


def _stop_jvm() -> None:
    """Stop the active session and the driver JVM, and wait for the JVM
    to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_workload(args) -> dict:
    import common

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    try:
        conf = _session_conf(work, bool(args.trace))
        spark, build_s, job_s = _start(conf)
        cold_s = time.perf_counter() - PROCESS_START
        log("session ready")
        # setup_s: the median of SETUPS fresh sessions (stop → build →
        # first job) in this process.  The first, cold start also pays
        # the JVM launch and interpreter imports and is reported apart.
        setups = []
        for _ in range(SETUPS):
            spark.stop()
            spark, b, j = _start(conf)
            setups.append(b + j)
        ctx = Ctx(spark, args, work)
        ctx.e2e["setup_s"] = common.median(setups)
        ctx.layers.update({"session.cold_setup_s": cold_s,
                           "session.build_s": build_s,
                           "session.first_job_s": job_s})
        module = {"etl_month": "etl", "analytics_mix": "mix"}[args.workload]
        log("set-ups done")
        gc0 = common.jvm_gc_s(spark)
        __import__(module).run(ctx)
        if args.trace:
            ctx.layers["jvm.gc_s"] = common.jvm_gc_s(spark) - gc0
            ctx.layers["jvm.peak_rss_mb"] = common.peak_rss_mb(
                common.jvm_pid(spark))
        _stop_jvm()
        log("session stopped")
        if args.trace:
            ev = common.EventLog(os.path.join(work, "eventlog"))
            for finish in ctx.finishers:
                finish(ev)
            ctx.tracer.write(os.path.join(HERE, "_work",
                                          f"spans-{args.workload}.jsonl"))
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    ctx.notes.append(("failed_frac", ctx.ops.failed / ctx.ops.attempted, "ratio"))
    for name, value, unit in ctx.notes:
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    for err in ctx.ops.errors:
        print(f"{args.workload} FAILED {err}")
    units = LAYER_UNITS if args.trace else END_TO_END_UNITS
    values = ctx.layers if args.trace else ctx.e2e
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u}
               for k, u in units.items()}
    return {"correct": ctx.ops.failed == 0, "attempted": ctx.ops.attempted,
            "failed": ctx.ops.failed, "metrics": metrics}


def run_all(args) -> int:
    results = {}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                              check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{w}: exit {proc.returncode}", file=sys.stderr)
            return 1
        print("\n".join(lines[:-1]))
        results[w] = json.loads(lines[-1])
        for name, m in results[w]["metrics"].items():
            print(f"{w} {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(results))
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    result = run_workload(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
