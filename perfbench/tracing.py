"""Spans around the benchmark's calls into each layer, plus observers
that read Spark's own counters. Nothing in the program is changed:
batch work is tagged with ``setJobGroup`` and read back from the
AppStatusStore (present with the UI off), streams report through a
``StreamingQueryListener``."""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager, nullcontext
from datetime import datetime


class Tracer:
    """In-memory spans: name, start, end (perf_counter seconds), parent
    span id and operation id. Written out once, at the end of the run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # perf_counter + offset = epoch seconds; aligns Spark's epoch
        # timestamps with the spans
        self.epoch_offset = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        if rec["op"] is None and rec["parent"] is not None:
            rec["op"] = self.spans[rec["parent"]]["op"]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int, op: str | None) -> int:
        """Record a span measured elsewhere (a stream trigger)."""
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "op": op, "parent": parent,
                           "start": start, "end": end})
        return sid

    def to_perf(self, epoch_s: float) -> float:
        return epoch_s - self.epoch_offset


class NullTracer:
    """Stands in for Tracer on untraced operations."""

    def span(self, name: str, op: str | None = None):
        return nullcontext()


# -- streams -----------------------------------------------------------


def make_stream_listener():
    """A StreamingQueryListener that keeps the run id of every query
    started and every progress report. The pull_stream workload times
    its operations (triggers) from these reports, traced or not."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.run_ids: list[str] = []
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            with self.lock:
                self.run_ids.append(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "timestamp": p.timestamp,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state": [{"bytes": s.memoryUsedBytes, "commit_ms": s.commitTimeMs}
                          for s in p.stateOperators],
            }
            with self.lock:
                self.progress.append(rec)

        def onQueryTerminated(self, event):
            pass

        def take(self) -> tuple[list[str], list[dict]]:
            with self.lock:
                out = (self.run_ids, self.progress)
                self.run_ids, self.progress = [], []
            return out

    return Listener()


def drain_listener_bus(spark) -> None:
    """Block until Spark has delivered every queued listener event,
    including progress reports to Python listeners."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def epoch_of(iso: str) -> float:
    """Epoch seconds of a progress timestamp like 2026-01-01T00:00:00.123Z."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


# Order in which a micro-batch spends the parts of durationMs; the
# trace lays them out back to back inside the trigger's span.
TRIGGER_PARTS = (
    ("sources.pull", ("latestOffset", "getBatch")),
    ("streaming.offset_log", ("walCommit", "commitOffsets")),
    ("streaming.planning", ("queryPlanning",)),
    ("streaming.add_batch", ("addBatch",)),
)


def trigger_spans(tracer: Tracer, parent: int, op: str, progress: list[dict]) -> None:
    for p in progress:
        d = p["duration_ms"]
        start = tracer.to_perf(epoch_of(p["timestamp"]))
        tid = tracer.add("streaming.trigger", start, start + d.get("triggerExecution", 0) / 1e3,
                         parent, op)
        t = start
        for name, keys in TRIGGER_PARTS:
            dur = sum(d.get(k, 0) for k in keys) / 1e3
            tracer.add(name, t, t + dur, tid, op)
            t += dur


# -- Spark counters ----------------------------------------------------


def status_snapshot(spark) -> tuple[list[dict], dict[int, dict]]:
    """Every retained job and stage from the AppStatusStore, as JSON
    (two JVM calls, not one per field)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    drain_listener_bus(spark)
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(scala_module.__getattr__("MODULE$"))
    everything = jvm.java.util.ArrayList()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(everything)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(everything, False, False, no_quantiles, everything)))
    by_id: dict[int, dict] = {}
    for s in stages:
        # keep the latest attempt of each stage
        if s["stageId"] not in by_id or s["attemptId"] > by_id[s["stageId"]]["attemptId"]:
            by_id[s["stageId"]] = s
    return jobs, by_id


def counters_for(jobs: list[dict], stages: dict[int, dict], groups: set[str]) -> dict:
    """Sum Spark's task metrics over the jobs whose group is in
    ``groups``; each stage counts once even when several jobs list it."""
    mine = [j for j in jobs if j.get("jobGroup") in groups]
    stage_ids = {sid for j in mine for sid in j["stageIds"]}
    ran = [stages[s] for s in stage_ids if s in stages and stages[s]["status"] != "SKIPPED"]

    def total(key):
        return sum(s.get(key, 0) or 0 for s in ran)

    return {
        "jobs": len(mine),
        "job_windows": [(j.get("submissionTime"), j.get("completionTime")) for j in mine],
        "stages": len(ran),
        "tasks": total("numTasks"),
        "task_run_s": total("executorRunTime") / 1e3,
        "task_cpu_s": total("executorCpuTime") / 1e9,
        "gc_s": total("jvmGcTime") / 1e3,
        "input_bytes": total("inputBytes"),
        "input_records": total("inputRecords"),
        "shuffle_write_bytes": total("shuffleWriteBytes"),
        "shuffle_read_bytes": total("shuffleReadBytes"),
        "shuffle_records": total("shuffleWriteRecords"),
        "spill_bytes": total("diskBytesSpilled"),
        "result_bytes": total("resultSize"),
        "failed_tasks": total("numFailedTasks"),
    }


def jobs_started_within(job_windows, lo_epoch: float, hi_epoch: float) -> int:
    """Jobs submitted (epoch ms) between two epoch-second instants."""
    return sum(1 for a, _ in job_windows if a and lo_epoch * 1e3 <= a <= hi_epoch * 1e3)
