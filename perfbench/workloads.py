"""The two workloads. Each is a closed loop with one driving process:
the next operation starts when the previous one returned. A workload
repeats a fixed cycle of operations ``ctx.cycles`` times on fresh
output, state and checkpoint dirs, and checks every output against
``reference.py``.

* ``daily_batch`` — one cycle is the reference's daily job as three
  ``runner.run_pipeline`` calls on one output dir (cold bootstrap,
  daily overwrite after a new day lands, 1st-of-month ``append`` after
  the month's last day lands; ``schedule.write_mode_for`` picks the
  mode), then three collected read-only queries over the landed
  readings: ``plans.pipeline.sensor_hourly_rollup``, an as-of
  calibration join and a batch rolling z-score. Operations: runs and
  queries.
* ``stream_epochs`` — one cycle drains two ``availableNow`` streams
  one file per trigger: readings through
  ``streaming.anomaly.stream_rolling_zscore`` (``applyInPandasWithState``,
  Python workers) with ``streaming.observability.drain_with_progress``,
  then documents through ``streaming.ingest.stream_ingest`` with
  ``operators.dedup_incremental.ingest_batch``. Operations: triggers
  and epochs.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from importlib import import_module

import reference
from spans import (
    CPU_NS,
    GC_MS,
    IN_BYTES,
    IN_ROWS,
    OUT_BYTES,
    PY_BOOT,
    PY_INIT,
    PY_RECV,
    PY_RUN,
    PY_SENT,
    SHUF_W,
    SPILL_DISK,
    SPILL_MEM,
    EventLog,
    Tracer,
)

PKG = "sensorstream_scalable_sensor_data_pipeline_spark"
DRAIN_TIMEOUT_S = 120
#: A run stops early after this many failed operations.
MAX_FAILURES = 3


#: JVM thread-name prefixes of the JIT compiler threads.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as fh:
        raw = fh.read()
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 1 :].split()


def tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants (the JVM,
    the Python worker daemon and its workers), live and reaped, minus
    the JVM's JIT compiler threads: compilation keeps running through
    the first cycles of a JVM and moved the total by 10-20 % between
    identical runs. The JVM keeps its compiler threads for its whole
    life (``-XX:-UseDynamicNumberOfCompilerThreads``), so their time
    is never lost with an exited thread."""
    clk = os.sysconf("SC_CLK_TCK")
    stats: dict[int, tuple[int, float, str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            name, rest = _stat(f"/proc/{d}/stat")
        except OSError:
            continue  # exited while listing
        stats[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]) / clk, name)
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [os.getpid()]
    while todo:
        p = todo.pop()
        if p not in stats:
            continue
        total += stats[p][1]
        todo.extend(kids.get(p, []))
        if stats[p][2] == "java":
            for tid in os.listdir(f"/proc/{p}/task"):
                try:
                    name, rest = _stat(f"/proc/{p}/task/{tid}/stat")
                except OSError:
                    continue
                if name.startswith(JIT_THREADS):
                    total -= (int(rest[11]) + int(rest[12])) / clk
    return total


@dataclass
class Result:
    cycle_s: list = field(default_factory=list)
    cycle_cpu_s: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    mismatches: list = field(default_factory=list)
    #: seconds of each operation, by kind (run phase, query, stream)
    ops: dict = field(default_factory=dict)
    #: the workload's own named figures, for the detail record
    named: dict = field(default_factory=dict)
    #: figures gathered while running, for the per-layer metrics
    layer: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    inputs: str
    work: str
    info: dict
    cycles: int
    tracer: Tracer | None
    res: Result = field(default_factory=Result)

    def more(self) -> bool:
        return len(self.res.cycle_s) < self.cycles and self.res.failed < MAX_FAILURES

    def op(self, kind: str, fn, *args, **kwargs):
        """Run one timed operation; returns (value, seconds, cpu
        seconds), or None after counting the failure."""
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            with self.tracer.span(kind) if self.tracer else contextlib.nullcontext():
                out = fn(*args, **kwargs)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.res.failed += 1
            self.res.attempted += 1
            return None
        s = time.perf_counter() - t0
        self.res.ops.setdefault(kind, []).append(s)
        return out, s, tree_cpu_s() - c0

    def check(self, name: str, got: dict, ops: int) -> None:
        """Compare a digest with the expected one; a mismatch fails
        the ``ops`` operations whose output it covers."""
        want = self.info["expected"][name]
        if got != want:
            self.res.failed += ops
            self.res.mismatches.append({"check": name, "got": got, "want": want})

    def expect_triggers(self, name: str, got: int, want: int) -> None:
        """A drain runs one trigger per input file; each missing or
        extra trigger is a failed operation."""
        if got != want:
            self.res.failed += abs(want - got)
            self.res.mismatches.append({"check": name, "got": got, "want": want})


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _files_under(path: str) -> set[str]:
    out = set()
    for d, _, fs in os.walk(path):
        out.update(os.path.join(d, f) for f in fs if not f.startswith((".", "_")))
    return out


def _bytes_under(path: str) -> int:
    return sum(os.path.getsize(p) for p in _files_under(path))


def _data_triggers(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p.get("numInputRows")]


# ---------------------------------------------------------- daily_batch


def _series_digest(out: str) -> dict:
    """Read the materialised series with DuckDB, not Spark."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        cols = con.execute(
            "SELECT sensor_id, epoch_us(datetime), sensor_value, tagpath, year, month "
            f"FROM read_parquet('{out}/series/*/*/*/*.parquet', hive_partitioning=true)"
        ).fetchnumpy()
    finally:
        con.close()
    return reference.digest(list(cols.values()))


def daily_batch(ctx: Ctx) -> None:
    runner = import_module(f"{PKG}.runner")
    schedule = import_module(f"{PKG}.schedule")
    config = import_module(f"{PKG}.config")
    pipeline = import_module(f"{PKG}.plans.pipeline")
    asof = import_module(f"{PKG}.operators.asof")
    anomaly = import_module(f"{PKG}.operators.anomaly")
    tables = import_module(f"{PKG}.sources.tables")
    spark, res, days = ctx.spark, ctx.res, ctx.info["day_files"]
    sizes = ctx.info["sizes"]
    h = sizes["history_days"]
    first = dt.date(2024, 1, 1)
    # bootstrap on day h, the daily overwrite the next day, and the
    # append run on April 1st after March 31st has landed
    runs = [
        ("bootstrap", first + dt.timedelta(days=h), days[:h]),
        ("overwrite", first + dt.timedelta(days=h + 1), [days[h]]),
        ("append", first + dt.timedelta(days=h + 2), [days[h + 1]]),
    ]
    readings_cols = ("event_id", "user_id", "ts", "value")

    def rollup(inp):
        return pipeline.sensor_hourly_rollup(spark, inp).toPandas()[
            ["tagpath", "hour", "sum_value", "n_readings", "last_seen"]
        ]

    def asof_join(inp):
        cal = tables.normalize_event_ts(spark.read.parquet(os.path.join(inp, "calibration.parquet")))
        left = tables.load_table(spark, inp, "events").select(*readings_cols)
        df = asof.asof_join(left, cal, on="user_id", time_col="ts", value_cols=["offset", "gain"])
        return df.toPandas()[[*readings_cols, "offset", "gain"]]

    def zscore(inp):
        left = tables.load_table(spark, inp, "events").select(*readings_cols)
        df = anomaly.rolling_zscore(
            left, on="user_id", time_col="ts", value_col="value", window_seconds=sizes["window_s"]
        )
        return df.toPandas()[[*readings_cols, "zscore", "is_anomaly"]]

    queries = [("rollup", "plans.rollup", rollup), ("asof", "operators.asof", asof_join),
               ("zscore", "operators.zscore", zscore)]
    cycle = 0
    while ctx.more():
        base = os.path.join(ctx.work, f"c{cycle}")
        inp = os.path.join(base, "in")
        events = os.path.join(inp, "events.parquet")
        os.makedirs(events)
        for f in ("customer.parquet", "calibration.parquet"):
            os.link(os.path.join(ctx.inputs, f), os.path.join(inp, f))
        out = os.path.join(base, "out")
        wall = cpu = 0.0
        ok = True
        for phase, run_date, files in runs:
            for f in files:
                os.link(os.path.join(ctx.inputs, "landing", f), os.path.join(events, f))
            cfg = config.PipelineConfig(
                input_dir=inp, output_dir=out, write_mode=schedule.write_mode_for(run_date)
            )
            # `now` pins the cutoff to the data, not the wall clock
            now = dt.datetime.combine(run_date, dt.time())
            r = ctx.op(f"run.{phase}", runner.run_pipeline, spark, cfg, now=now)
            if r is None:
                ok = False
                break
            res.attempted += 1
            wall, cpu = wall + r[1], cpu + r[2]
            ctx.check(phase, _series_digest(out), 1)
        for name, span, fn in queries if ok else []:
            r = ctx.op(span, fn, inp)
            if r is None:
                ok = False
                break
            res.attempted += 1
            wall, cpu = wall + r[1], cpu + r[2]
            ctx.check(name, reference.digest([r[0][c].to_numpy() for c in r[0].columns]), 1)
        if not ok:
            break
        res.cycle_s.append(wall)
        res.cycle_cpu_s.append(cpu)
        cycle += 1
    names = {"run.bootstrap": "bootstrap_s", "run.overwrite": "overwrite_run_s",
             "run.append": "append_run_s", "plans.rollup": "rollup_s",
             "operators.asof": "asof_s", "operators.zscore": "zscore_s"}
    res.named = {v: median(res.ops.get(k, [])) for k, v in names.items()}
    res.named["cycles"] = cycle


def daily_batch_trace(ctx: Ctx) -> None:
    """Rebind the runner's collaborators to span-recording wrappers."""
    runner = import_module(f"{PKG}.runner")
    tr = ctx.tracer

    def files_before(rec, args, kwargs):
        rec["_before"] = _files_under(args[1])

    def files_after(rec, args, kwargs):
        rec["files"] = len(_files_under(args[1]) - rec.pop("_before"))

    tr.wrap(runner, "compute_cutoff_pruned", "operators.cutoff")
    tr.wrap(runner, "write_partitioned", "sources.write_partitioned",
            on_enter=files_before, on_exit=files_after)
    tr.wrap(runner, "validate_output", "sources.validate_output")


def daily_batch_layers(ctx: Ctx, log: EventLog) -> dict:
    tr = ctx.tracer
    cycles = max(1, len(ctx.res.cycle_s))

    def per_cycle(prefix: str) -> float:
        return sum(tr.seconds(prefix)) / cycles

    run_jobs = log.jobs_under(tr, tr.named("run."))
    run_stages = log.stage_ids(run_jobs)
    all_stages = log.stage_ids(log.jobs_under(tr, tr.named("")))
    return {
        "operators.cutoff_s": per_cycle("operators.cutoff"),
        "operators.cutoff_jobs": len(log.jobs_under(tr, tr.named("operators.cutoff"))) / cycles,
        "sources.scan_bytes": log.total(run_stages, IN_BYTES) / cycles,
        "sources.scan_rows": log.total(run_stages, IN_ROWS) / cycles,
        "operators.dedup_shuffle_bytes": log.total(run_stages, SHUF_W) / cycles,
        "operators.spill_bytes": log.total(all_stages, SPILL_MEM, SPILL_DISK) / cycles,
        "exec.cpu_s": log.total(all_stages, CPU_NS) / 1e9 / cycles,
        "exec.gc_s": log.total(all_stages, GC_MS) / 1e3 / cycles,
        "sources.write_partitioned_s": per_cycle("sources.write_partitioned"),
        "sources.write_bytes": log.total(run_stages, OUT_BYTES) / cycles,
        "sources.write_files": sum(s["files"] for s in tr.named("sources.write_partitioned")) / cycles,
        "sources.validate_s": per_cycle("sources.validate_output"),
        "runner.self_s": sum(tr.self_time(s) for s in tr.named("run.")) / cycles,
        "runner.jobs": len(run_jobs) / cycles,
        "runner.stages": len(run_stages) / cycles,
        "runner.bootstrap_s": median(tr.seconds("run.bootstrap")),
        "runner.overwrite_run_s": median(tr.seconds("run.overwrite")),
        "runner.append_run_s": median(tr.seconds("run.append")),
        "plans.rollup_s": median(tr.seconds("plans.rollup")),
        "operators.asof_s": median(tr.seconds("operators.asof")),
        "operators.zscore_s": median(tr.seconds("operators.zscore")),
        "operators.asof_task_skew": median(
            [log.task_skew(log.stage_ids(log.jobs_under(tr, [s]))) for s in tr.named("operators.asof")]
        ),
    }


# -------------------------------------------------------- stream_epochs


def _anomaly_drain(ctx: Ctx, anomaly, obs, tables, phys, landing: str):
    window_s = ctx.info["sizes"]["window_s"]
    raw = ctx.spark.readStream.schema(phys).option("maxFilesPerTrigger", 1).parquet(landing)
    scored = anomaly.stream_rolling_zscore(
        tables.normalize_event_ts(raw),
        on="sensor_id", time_col="ts", value_col="value", window_seconds=window_s,
    )
    return obs.drain_with_progress(scored, "append", DRAIN_TIMEOUT_S)


def _ingest_drain(ctx: Ctx, ingest, ingest_fn, landing: str, base: str, run_id: str):
    src = (
        ctx.spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = ingest.stream_ingest(
        ctx.spark, src, os.path.join(base, "state"), os.path.join(base, "ckpt"),
        run_id=run_id, ingest_fn=ingest_fn,
        maintain_max_batch_dirs=ctx.info["sizes"]["maintain_max_batch_dirs"],
    )
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"ingest drain still running after {DRAIN_TIMEOUT_S}s")
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return [json.loads(p.json) for p in q.recentProgress]


def stream_epochs(ctx: Ctx) -> None:
    anomaly = import_module(f"{PKG}.streaming.anomaly")
    obs = import_module(f"{PKG}.streaming.observability")
    tables = import_module(f"{PKG}.sources.tables")
    ingest = import_module(f"{PKG}.streaming.ingest")
    dedup_inc = import_module(f"{PKG}.operators.dedup_incremental")
    spark, res = ctx.spark, ctx.res
    sizes = ctx.info["sizes"]
    readings = os.path.join(ctx.inputs, "readings")
    docs = os.path.join(ctx.inputs, "docs")
    phys = spark.read.parquet(readings).schema
    ingest_fn = dedup_inc.ingest_batch
    if ctx.tracer is not None:
        ingest_fn = ctx.tracer.wrapped(
            ingest_fn, "ingest.epoch",
            on_enter=lambda rec, a, k: rec.update(_before=_files_under(a[2])),
            on_exit=lambda rec, a, k: rec.update(files=len(_files_under(a[2]) - rec.pop("_before"))),
        )
    trig_ms, epoch_ms = [], []
    n_read = n_docs = 0
    read_s = docs_s = 0.0
    cycle = 0
    while ctx.more():
        base = os.path.join(ctx.work, f"c{cycle}")
        r = ctx.op("streaming.drain", _anomaly_drain, ctx, anomaly, obs, tables, phys, readings)
        if r is None:
            break
        (table, progress), s1, c1 = r
        data = _data_triggers(progress)
        res.attempted += len(data)
        trig_ms += [float(p["durationMs"]["triggerExecution"]) for p in data]
        n_read += sum(int(p["numInputRows"]) for p in data)
        read_s += s1
        pdf = table.toPandas()
        if progress:
            spark.catalog.dropTempView(progress[0]["name"])
        ctx.expect_triggers("triggers", len(data), sizes["files"])
        ctx.check(
            "scores",
            reference.digest([pdf[c].to_numpy() for c in ("sensor_id", "ts_us", "value", "zscore", "is_anomaly")]),
            len(data),
        )

        r = ctx.op("ingest.drain", _ingest_drain, ctx, ingest, ingest_fn, docs, base, f"bench{cycle}")
        if r is None:
            break
        progress_i, s2, c2 = r
        data_i = _data_triggers(progress_i)
        res.attempted += len(data_i)
        epoch_ms += [float(p["durationMs"]["triggerExecution"]) for p in data_i]
        # numInputRows counts each re-read of a foreachBatch batch; the
        # documents offered are the input files' rows
        n_docs += ctx.info["docs"]
        docs_s += s2
        state_dir = os.path.join(base, "state")
        acc = ingest.accepted_corpus(spark, state_dir).select("doc_id", "text").toPandas()
        ctx.expect_triggers("epochs", len(data_i), sizes["doc_files"])
        ctx.check("accepted", reference.digest([acc["doc_id"].to_numpy(), acc["text"].to_numpy(object)]), len(data_i))

        res.cycle_s.append(s1 + s2)
        res.cycle_cpu_s.append(c1 + c2)
        if ctx.tracer is not None:
            lay = res.layer
            lay.setdefault("progress", []).extend(data)
            lay.setdefault("state_dirs", []).append(
                sum(1 for d in os.listdir(os.path.join(state_dir, "fingerprints")) if d.startswith("batch="))
            )
            lay.setdefault("state_bytes", []).append(_bytes_under(state_dir))
            lay.setdefault("accepted", []).append(len(acc))
            lay.setdefault("offered", []).append(ctx.info["docs"])
        cycle += 1
    res.named = {
        "trigger_p50_ms": median(trig_ms),
        "stream_readings_per_s": n_read / read_s if read_s else 0.0,
        "epoch_p50_ms": median(epoch_ms),
        "ingest_docs_per_s": n_docs / docs_s if docs_s else 0.0,
        "cycles": cycle,
    }


def stream_epochs_trace(ctx: Ctx) -> None:
    dedup_inc = import_module(f"{PKG}.operators.dedup_incremental")
    # ingest_batch looks maintain_state up as a module global per call
    ctx.tracer.wrap(dedup_inc, "maintain_state", "ingest.maintain")


def stream_epochs_layers(ctx: Ctx, log: EventLog) -> dict:
    tr, lay, named = ctx.tracer, ctx.res.layer, ctx.res.named
    prog = lay.get("progress", [])
    n_trig = max(1, len(prog))
    cycles = max(1, len(ctx.res.cycle_s))
    stream_stages = log.stage_ids(log.jobs_under(tr, tr.named("streaming.drain")))
    all_stages = log.stage_ids(log.jobs_under(tr, tr.named("")))

    def dur(*keys: str) -> float:
        return median([sum(float(p["durationMs"].get(k, 0)) for k in keys) for p in prog])

    def state(key: str, agg=max) -> float:
        vals = [float(op.get(key) or 0) for p in prog for op in p.get("stateOperators") or []]
        return agg(vals) if vals else 0.0

    epochs = tr.named("ingest.epoch")
    accepted = sum(lay.get("accepted", []))
    return {
        "streaming.trigger_p50_ms": named["trigger_p50_ms"],
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.plan_ms": dur("queryPlanning"),
        "streaming.commit_ms": dur("walCommit", "commitOffsets"),
        "streaming.state_rows": state("numRowsTotal"),
        "streaming.state_bytes": state("memoryUsedBytes"),
        "streaming.state_commit_ms": state("commitTimeMs", median),
        "functions.python_boot_s": median(
            [log.total([s], PY_BOOT, PY_INIT) / 1e3 for s in stream_stages if PY_INIT in log.stages[s]]
        ),
        "streaming.python_s": log.total(stream_stages, PY_RUN) / 1e3 / n_trig,
        "streaming.python_bytes": log.total(stream_stages, PY_SENT, PY_RECV) / n_trig,
        "ingest.epoch_p50_ms": named["epoch_p50_ms"],
        "ingest.epoch_jobs": median([len(log.jobs_under(tr, [e])) for e in epochs]),
        "ingest.epoch_files": median([e["files"] for e in epochs]),
        "ingest.state_dirs": float(max(lay.get("state_dirs", [0]))),
        "ingest.maintain_s": sum(tr.seconds("ingest.maintain")) / max(1, len(epochs)),
        "ingest.bytes_per_doc": sum(lay.get("state_bytes", [])) / max(1, accepted),
        "ingest.accept_ratio": accepted / max(1, sum(lay.get("offered", []))),
        "exec.cpu_s": log.total(all_stages, CPU_NS) / 1e9 / cycles,
        "exec.gc_s": log.total(all_stages, GC_MS) / 1e3 / cycles,
    }


#: name → (run, install trace wrappers, per-layer figures, nominal
#: seconds of one warm cycle on a 4-core host)
WORKLOADS = {
    "daily_batch": (daily_batch, daily_batch_trace, daily_batch_layers, 6.5),
    "stream_epochs": (stream_epochs, stream_epochs_trace, stream_epochs_layers, 8.7),
}
