"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload daily_batch --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The run generates its inputs
from the seed in a child process, then sets the session up three times
with ``session.get_spark`` on ``local[$SPARK_GRAFT_CPUS]`` (default:
all usable cores; the first set-up starts the JVM) and reports the
median, runs one untimed warm-up cycle, measures about ``--seconds``
of cycles, checks every output, and prints one JSON line last on
stdout:

    {"correct": …, "attempted": …, "failed": …, "metrics": {…}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables
Spark's event log and the span wrappers and reports the per-layer
metrics instead. A per-run detail record (the workload's own named
figures, peak RSS, error rate, host steal and iowait) goes to stderr.
Every file the run writes lives under ``.perfbench_work/`` in the
checkout and is removed on exit. Exit code: 0 when every output is
correct, 1 when an output check failed or an operation raised, 2 when
the checkout has no program to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
DRIVER_MEMORY = "2g"
END_TO_END = {"setup_s": "s", "cycle_s": "s"}
#: Per-layer metrics and their units; a workload that bypasses a layer
#: reports 0 for it.
PER_LAYER = {
    "session.start_s": "s", "functions.python_boot_s": "s", "trace.cycle_s": "s",
    "exec.cpu_s": "s", "exec.gc_s": "s",
    "operators.cutoff_s": "s", "operators.cutoff_jobs": "count",
    "sources.scan_bytes": "bytes", "sources.scan_rows": "count",
    "operators.dedup_shuffle_bytes": "bytes", "operators.spill_bytes": "bytes",
    "sources.write_partitioned_s": "s", "sources.write_bytes": "bytes",
    "sources.write_files": "count", "sources.validate_s": "s",
    "runner.self_s": "s", "runner.jobs": "count", "runner.stages": "count",
    "runner.bootstrap_s": "s", "runner.overwrite_run_s": "s", "runner.append_run_s": "s",
    "plans.rollup_s": "s", "operators.asof_s": "s", "operators.asof_task_skew": "ratio",
    "operators.zscore_s": "s",
    "streaming.trigger_p50_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.plan_ms": "ms", "streaming.commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms": "ms", "streaming.python_s": "s",
    "streaming.python_bytes": "bytes",
    "ingest.epoch_p50_ms": "ms", "ingest.epoch_jobs": "count", "ingest.epoch_files": "count",
    "ingest.state_dirs": "count", "ingest.maintain_s": "s", "ingest.bytes_per_doc": "bytes",
    "ingest.accept_ratio": "ratio",
}


def host_ticks() -> tuple[int, int]:
    """(steal, iowait) clock ticks from /proc/stat's aggregate line."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8]), int(parts[5])


def hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.sql.streaming.checkpointLocation": f"{work}/checkpoints",
    }
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def set_up(get_spark, conf: dict, work: str) -> tuple[object, float]:
    """One set-up: the session plus neutral warm-up jobs that touch no
    workload input — a shuffle job, a Python worker pool and a three-row
    file stream, the same for every workload. Returns the session and
    the seconds ``get_spark`` took."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t0
    n = int(spark.sparkContext.defaultParallelism)
    spark.range(0, 10_000, 1, n).groupBy((F.col("id") % 7).alias("k")).count().collect()

    def ident(batches):
        yield from batches

    spark.range(0, n, 1, n).mapInArrow(ident, "id long").collect()
    wdir = os.path.join(work, "warm_stream")
    shutil.rmtree(wdir, ignore_errors=True)
    spark.range(3).select(
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"), F.col("id").alias("v")
    ).write.parquet(os.path.join(wdir, "in"))
    q = (
        spark.readStream.schema("ts timestamp, v long").parquet(os.path.join(wdir, "in"))
        .groupBy(F.window("ts", "1 second")).count()
        .writeStream.format("memory").queryName("perfbench_warm").outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(wdir, "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    spark.catalog.dropTempView("perfbench_warm")
    return spark, session_s


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import workloads
    from workloads import PKG, median

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "runner.py")):
        print(f"no {PKG} package under {root}; run from a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run, install_trace, layers, cycle_s = workloads.WORKLOADS[args.workload]
    # A fixed cycle count per run (about --seconds of work at the
    # nominal speed): a time-bounded loop would change the count, and
    # with it the median, whenever a cycle crosses the boundary.
    cycles = max(1, round(args.seconds / cycle_s))
    trace = bool(args.trace)

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "inputs"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    spark = None
    try:
        inputs = os.path.join(work, "inputs")
        subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), args.workload, str(args.seed), inputs],
            check=True, timeout=170,
        )
        with open(os.path.join(inputs, "expected.json")) as fh:
            info = json.load(fh)

        from importlib import import_module

        get_spark = import_module(f"{PKG}.session").get_spark
        conf = session_conf(work, trace)
        setups, start_s = [], 0.0
        for i in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark, session_s = set_up(get_spark, conf, work)
            setups.append(time.perf_counter() - t0)
            if i == 0:
                start_s = session_s
        # Untimed warm-up: one cycle of the workload itself, so class
        # loading, code generation and most JIT compilation are done
        # before the timed cycles (the first cycle in a JVM is about
        # twice as slow as the next and varies the most). Its outputs
        # are checked like every other cycle's.
        warm = workloads.Ctx(spark, inputs, os.path.join(work, "warm"), info, 1, None)
        os.makedirs(warm.work)
        run(warm)
        warmup_s = sum(warm.res.cycle_s)

        tracer = None
        if trace:
            from spans import Tracer

            tracer = Tracer(spark)
            if install_trace is not None:
                install_trace(workloads.Ctx(spark, inputs, work, info, cycles, tracer))
        ctx = workloads.Ctx(spark, inputs, os.path.join(work, "run"), info, cycles, tracer)
        os.makedirs(ctx.work)
        ticks0, wall0 = host_ticks(), time.perf_counter()
        run(ctx)
        wall = time.perf_counter() - wall0
        ticks1 = host_ticks()
        res = ctx.res
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = hwm_mb(jvm_pid) + hwm_mb("self")
        if tracer is not None:
            tracer.unwrap_all()
        stop_jvm(spark)
        spark = None

        clk = os.sysconf("SC_CLK_TCK")
        if trace:
            from spans import EventLog

            log = EventLog(os.path.join(work, "eventlog"))
            log.attribute(tracer)
            values = {k: 0.0 for k in PER_LAYER}
            values.update(layers(ctx, log))
            values["session.start_s"] = start_s
            values["trace.cycle_s"] = median(res.cycle_s)
            metrics = {k: {"value": float(values[k]), "unit": u} for k, u in PER_LAYER.items()}
        else:
            values = {
                "setup_s": median(setups),
                "cycle_s": median(res.cycle_s),
            }
            metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
        failed = res.failed + warm.res.failed
        mismatches = warm.res.mismatches + res.mismatches
        attempted = max(1, res.attempted + warm.res.attempted)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            **res.named,
            "cycles_s": [round(c, 3) for c in res.cycle_s],
            "cycles_cpu_s": [round(c, 3) for c in res.cycle_cpu_s],
            "peak_rss_mb": round(rss, 1),
            "error_rate": failed / attempted,
            "setup_samples_s": [round(s, 3) for s in setups],
            "warmup_s": round(warmup_s, 3),
            "measure_wall_s": round(wall, 3),
            "host_steal_cores": round((ticks1[0] - ticks0[0]) / clk / wall, 3),
            "host_iowait_cores": round((ticks1[1] - ticks0[1]) / clk / wall, 3),
            "mismatches": mismatches,
        }
        print(json.dumps(detail), file=sys.stderr)
        correct = failed == 0 and not mismatches and res.attempted > 0
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
