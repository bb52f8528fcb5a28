"""Spans recorded around calls into the program, and Spark's event log
attributed to them.

The traced run wraps public functions from outside: ``Tracer.wrap``
rebinds a module attribute (``runner.write_partitioned`` …) to a
wrapper that records a span — name, start, end, parent — and tags
every Spark job the call starts with the span id through the
``perfbench.span`` local property. Jobs started on a thread that does
not carry the property (streaming micro-batches) fall back to the
innermost span whose interval holds the job's submission time. After
the session stops, ``EventLog`` folds the JSON event log's stage
counters into per-span totals.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

SPAN_PROP = "perfbench.span"

# Stage accumulables (Spark's task metrics and the Python SQL metrics).
CPU_NS = "internal.metrics.executorCpuTime"
RUN_MS = "internal.metrics.executorRunTime"
GC_MS = "internal.metrics.jvmGCTime"
IN_BYTES = "internal.metrics.input.bytesRead"
IN_ROWS = "internal.metrics.input.recordsRead"
SHUF_W = "internal.metrics.shuffle.write.bytesWritten"
SPILL_MEM = "internal.metrics.memoryBytesSpilled"
SPILL_DISK = "internal.metrics.diskBytesSpilled"
OUT_BYTES = "internal.metrics.output.bytesWritten"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


class Tracer:
    """In-memory span recorder; spans are plain dicts."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        prev = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, prev)

    def wrapped(self, fn, name: str, on_enter=None, on_exit=None):
        """``fn`` inside a span; the optional hooks see (span, args)."""

        def call(*args, **kwargs):
            with self.span(name) as rec:
                if on_enter:
                    on_enter(rec, args, kwargs)
                out = fn(*args, **kwargs)
                if on_exit:
                    on_exit(rec, args, kwargs)
                return out

        return call

    def wrap(self, module, attr: str, name: str, **hooks) -> None:
        orig = getattr(module, attr)
        setattr(module, attr, self.wrapped(orig, name, **hooks))
        self._restore.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._restore:
            module, attr, orig = self._restore.pop()
            setattr(module, attr, orig)

    def named(self, prefix: str) -> list[dict]:
        """Finished spans whose name starts with ``prefix``."""
        return [s for s in self.spans if s["name"].startswith(prefix) and "end" in s]

    def seconds(self, prefix: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(prefix)]

    def self_time(self, span: dict) -> float:
        """Span duration minus the time its direct children cover."""
        kids = [s for s in self.spans if s["parent"] == span["id"] and "end" in s]
        return (span["end"] - span["start"]) - sum(k["end"] - k["start"] for k in kids)

    def descendants(self, span: dict) -> set[int]:
        out, todo = {span["id"]}, [span["id"]]
        while todo:
            p = todo.pop()
            for s in self.spans:
                if s["parent"] == p and s["id"] not in out:
                    out.add(s["id"])
                    todo.append(s["id"])
        return out


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class EventLog:
    """Jobs, and per-stage sums of task metrics, of one application's
    event log."""

    def __init__(self, log_dir: str) -> None:
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if not files:
            raise FileNotFoundError(f"no event log under {log_dir}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.task_ms: dict[int, list[float]] = {}
        with open(max(files, key=os.path.getmtime)) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    self.jobs[e["Job ID"]] = {
                        "span": props.get(SPAN_PROP),
                        "submit": e["Submission Time"] / 1000.0,
                        "stages": e.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerTaskEnd":
                    # per-task deltas: a stage's accumulable *value* can
                    # be cumulative over every stage that shares the
                    # metric (a streaming operator's SQL metrics)
                    ti = e.get("Task Info") or {}
                    acc = self.stages.setdefault(e["Stage ID"], {})
                    for a in ti.get("Accumulables", []):
                        name = a.get("Name", "")
                        acc[name] = acc.get(name, 0.0) + _num(a.get("Update"))
                    if ti.get("Finish Time") and ti.get("Launch Time"):
                        self.task_ms.setdefault(e["Stage ID"], []).append(
                            ti["Finish Time"] - ti["Launch Time"]
                        )

    def attribute(self, tracer: Tracer) -> None:
        """Give every job a span id: its tag, else the innermost span
        whose interval holds the job's submission time."""
        for job in self.jobs.values():
            if job["span"] is not None:
                job["span"] = int(job["span"])
                continue
            best = None
            for s in tracer.spans:
                if s["start"] <= job["submit"] <= s.get("end", float("inf")):
                    if best is None or s["start"] >= best["start"]:
                        best = s
            job["span"] = best["id"] if best else None

    def jobs_under(self, tracer: Tracer, spans: list[dict]) -> list[dict]:
        """Jobs attributed to ``spans`` or to any span below them."""
        ids = {i for s in spans for i in tracer.descendants(s)}
        return [j for j in self.jobs.values() if j["span"] in ids]

    def stage_ids(self, jobs: list[dict]) -> list[int]:
        return sorted({s for j in jobs for s in j["stages"] if s in self.stages})

    def total(self, stage_ids, *names: str) -> float:
        return sum(self.stages[s].get(n, 0.0) for s in stage_ids for n in names)

    def task_skew(self, stage_ids) -> float:
        """max ÷ median task time in the stage that ran longest."""
        if not stage_ids:
            return 0.0
        sid = max(stage_ids, key=lambda s: self.stages[s].get(RUN_MS, 0.0))
        times = self.task_ms.get(sid) or [0.0]
        med = statistics.median(times)
        return max(times) / med if med > 0 else 0.0
