"""Metric names, units and the arithmetic behind them: percentiles with
sample counts, span self time, and the run accounting that turns
operation outcomes into error_rate."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

# name -> unit. BENCHMARK.json lists exactly these (a self-test pins it).
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}
# The wall-time figures a user waits on. They are printed on every
# summary line and are per-layer metrics of the traced run, but they
# carry no bound: on a shared host, time stolen by other guests moves
# them by up to 2x within minutes (see README.md).
WALL = {
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "rows/s",
}
# error_rate is failed / attempted over the same operations. It is 0 on
# a healthy run, and a bound relative to a median of 0 means nothing,
# so it is printed on the summary line and carried by the result line's
# "attempted" and "failed" fields instead of sitting in END_TO_END.
ERROR_RATE_UNIT = "ratio"

PER_LAYER = {
    **WALL,
    "session.get_spark_s": "s",
    "session.ensure_package_shipped_s": "s",
    "registry.load_all_query_modules_s": "s",
    "setup.cold_pass_s": "s",
    "setup.warmup_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.exec_s": "s",
    "registry.rows_examined_per_row_out": "ratio",
    "operators.relational.exec_s": "s",
    "operators.windows.exec_s": "s",
    "functions.dedup.exec_s": "s",
    "compat.run_s": "s",
    "compat.source_s": "s",
    "compat.pairs_out": "count",
    "compat.combine_ratio": "ratio",
    "compat.shuffle_bytes_per_pair": "B",
    "compat.result_keys": "count",
    "compat.collect_bytes": "B",
    "sources.scan_bytes": "B",
    "sources.scan_rows": "count",
    "sources.pull_s": "s",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.offset_log_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.start_stop_s": "s",
    "streaming.rows_per_trigger": "count",
    "streaming.empty_trigger_ratio": "ratio",
    "streaming.state_bytes": "B",
    "streaming.stage_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy_ratio": "ratio",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_records": "count",
    "spark.spill_bytes": "B",
    "spark.result_bytes": "B",
    "spark.failed_tasks": "count",
    "jvm.peak_rss_mb": "MB",
    "python.peak_rss_mb": "MB",
    "trace.op_p50_s": "s",
    "trace.overhead_s": "s",
}

TAIL_BEYOND = 10


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(samples) -> dict:
    """The highest percentile that still has at least TAIL_BEYOND
    samples above it, with the sample count. When there are too few
    samples for that percentile to reach the median, the maximum stands
    in and ``beyond`` (samples past the reported value) reads 0, so a
    reader can tell the two apart."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return {"value": 0.0, "percentile": 0.0, "samples": 0, "beyond": 0}
    i = n - 1 - TAIL_BEYOND
    if i < (n - 1) / 2:
        i = n - 1
    return {
        "value": float(xs[i]),
        "percentile": round(100.0 * (i + 1) / n, 2),
        "samples": n,
        "beyond": n - 1 - i,
    }


def self_times(spans) -> dict[str, float]:
    """Per span name, the summed self time: each span's duration minus
    the part of its interval that its direct children cover (children
    clipped to the parent, overlaps counted once)."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(lo, c["start"]), min(hi, c["end"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo) - covered
    return out


@dataclass
class Accounting:
    """Outcome of every timed operation. An exception and a wrong
    answer both count as a failure."""

    latencies: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    # per operation name: declared input rows, and the wall time of each run
    rows: dict[str, int] = field(default_factory=dict)
    walls: dict[str, list[float]] = field(default_factory=dict)
    # per round: process-tree CPU seconds and operations attempted
    round_cpu_s: dict[int, float] = field(default_factory=dict)
    round_ops: dict[int, int] = field(default_factory=dict)

    def record(self, rec: dict) -> None:
        """One operation's record: op, round, samples, ok, rows, wall_s, cpu_s."""
        n = max(1, len(rec["samples"]))
        self.attempted += n
        if not rec["ok"]:
            self.failed += n
        self.latencies.extend(rec["samples"])
        self.rows[rec["op"]] = rec["rows"]
        self.walls.setdefault(rec["op"], []).append(rec["wall_s"])
        r = rec["round"]
        self.round_cpu_s[r] = self.round_cpu_s.get(r, 0.0) + rec["cpu_s"]
        self.round_ops[r] = self.round_ops.get(r, 0) + n

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    @property
    def rows_per_s(self) -> float:
        """Declared rows of one round over the wall time of a typical
        round: each operation's median wall time, summed. A median per
        operation keeps one stalled run of one operation from moving the
        figure."""
        busy = sum(median(w) for w in self.walls.values())
        return sum(self.rows.values()) / busy if busy else 0.0

    @property
    def cpu_s_per_op(self) -> float:
        """Median over rounds of the round's CPU seconds per operation.
        Every round does the same work, so a round that met a burst of
        load from elsewhere on the machine is outvoted."""
        return median([self.round_cpu_s[r] / self.round_ops[r] for r in self.round_cpu_s])

    def end_to_end(self, setup_s: float, peak_rss_mb: float) -> dict:
        return {
            "setup_s": setup_s,
            "cpu_s_per_op": self.cpu_s_per_op,
            "peak_rss_mb": peak_rss_mb,
        }

    def wall_metrics(self) -> dict:
        return {
            "op_p50_s": median(self.latencies),
            "op_tail_s": tail(self.latencies)["value"],
            "rows_per_s": self.rows_per_s,
        }


def as_metrics(values: dict, units: dict) -> dict:
    """{name: {"value", "unit"}} for exactly the names in ``units``;
    a layer the workload never exercised reads 0."""
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
