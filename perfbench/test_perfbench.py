"""Self-tests of the benchmark harness on tiny, Spark-free inputs.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import compare  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402
import worker  # noqa: E402
from tracing import Tracer  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def test_metric_names_and_units_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == stats.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == stats.PER_LAYER
    assert all(stats.END_TO_END.values()) and all(stats.PER_LAYER.values())
    assert [w["name"] for w in SPEC["workloads"]] == list(worker.workloads.SIZES)
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def _rec(op, samples, ok=True, rows=10, wall_s=1.0, cpu_s=2.0, rnd=0):
    return {"op": op, "round": rnd, "samples": samples, "ok": ok, "rows": rows,
            "wall_s": wall_s, "cpu_s": cpu_s}


def test_result_metrics_cover_exactly_the_declared_names():
    acct = stats.Accounting()
    acct.record(_rec("a", [1.0, 2.0], wall_s=3.0, cpu_s=4.0))
    e2e = stats.as_metrics(acct.end_to_end(5.0, 100.0), stats.END_TO_END)
    assert set(e2e) == set(stats.END_TO_END)
    assert all(v["unit"] == stats.END_TO_END[k] for k, v in e2e.items())
    assert e2e["cpu_s_per_op"]["value"] == 2.0  # 4 CPU seconds over two samples


def test_cpu_per_op_is_the_median_round():
    acct = stats.Accounting()
    for rnd, cpu in enumerate((3.0, 9.0, 4.0)):  # round 1 met a burst of load
        acct.record(_rec("a", [1.0], cpu_s=cpu, rnd=rnd))
        acct.record(_rec("b", [1.0, 1.0], cpu_s=cpu, rnd=rnd))
    assert acct.cpu_s_per_op == 8.0 / 3
    assert set(acct.wall_metrics()) == set(stats.WALL) and set(stats.WALL) <= set(stats.PER_LAYER)
    layers = stats.as_metrics({"spark.jobs": 3}, stats.PER_LAYER)
    assert set(layers) == set(stats.PER_LAYER)
    assert layers["spark.jobs"]["value"] == 3.0 and layers["compat.run_s"]["value"] == 0.0


def test_tail_reports_percentile_with_sample_count():
    t = stats.tail(range(1, 31))
    assert t == {"value": 20.0, "percentile": 66.67, "samples": 30, "beyond": 10}
    t = stats.tail(range(1, 22))  # 21 samples: the tail reaches the median
    assert (t["value"], t["beyond"], t["samples"]) == (11.0, 10, 21)
    t = stats.tail([3.0, 1.0, 2.0])  # too few: the maximum, nothing beyond
    assert (t["value"], t["percentile"], t["beyond"], t["samples"]) == (3.0, 100.0, 0, 3)
    assert stats.tail([])["samples"] == 0


def test_rows_per_s_takes_each_operations_median_wall_time():
    acct = stats.Accounting()
    for wall in (1.0, 9.0, 1.2):  # one stalled run of "a"
        acct.record(_rec("a", [wall], rows=100, wall_s=wall))
    acct.record(_rec("b", [0.8], rows=60, wall_s=0.8))
    assert abs(acct.rows_per_s - 160 / (1.2 + 0.8)) < 1e-9


def _span(sid, name, start, end, parent=None, op="op-0"):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "op": op}


def test_self_time_on_synthetic_span_tree():
    spans = [
        _span(0, "root", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 6.0, 0),      # overlaps a: counted once
        _span(3, "c", 8.0, 12.0, 0),     # runs past root: clipped at 10
        _span(4, "d", 2.0, 3.0, 1),
        _span(5, "a", 20.0, 21.0, None),  # same name sums
    ]
    got = stats.self_times(spans)
    assert got["root"] == 10.0 - (5.0 + 2.0)
    assert got["a"] == (3.0 - 1.0) + 1.0
    assert got["b"] == 3.0 and got["c"] == 4.0 and got["d"] == 1.0


class _FakeSpark:
    sparkContext = SimpleNamespace(setJobGroup=lambda *a: None)


class _FakeWorkload:
    ops = ("good", "wrong", "boom")

    def __init__(self):
        self.man = {"rows": {"good": 10, "wrong": 10, "boom": 10},
                    "expected": {"good": 1, "wrong": 1, "boom": 1}}

    def round(self):
        return list(self.ops)

    def rows(self, op):
        return self.man["rows"][op]

    def run(self, op, tracer, ctx):
        if op == "boom":
            raise RuntimeError("injected failure")
        return (1 if op == "good" else 2), None

    def check(self, op, result):
        return result == self.man["expected"][op]


def test_injected_wrong_answer_raises_error_rate():
    acct = stats.Accounting()
    records = worker.timed_loop(_FakeSpark(), _FakeWorkload(), 1, False, Tracer(), acct)
    assert [r["ok"] for r in records] == [True, False, False]
    assert records[1]["error"] == "wrong answer"
    assert "injected failure" in records[2]["error"]
    assert (acct.attempted, acct.failed) == (3, 2)
    assert acct.error_rate > 0


def test_layer_metrics_arithmetic(monkeypatch):
    tr = Tracer()
    tr.spans = [
        _span(0, "session.get_spark", 0.0, 5.0, op=None),
        _span(1, "setup.cold_pass", 5.0, 9.0, op=None),
        _span(2, "op", 10.0, 12.0, op="op-1"),
        _span(3, "registry.build", 10.0, 10.5, 2, "op-1"),
        _span(4, "registry.exec", 10.5, 12.0, 2, "op-1"),
        _span(5, "op", 12.0, 13.0, op="op-2"),
        _span(6, "compat.run", 12.0, 13.0, 5, "op-2"),
        _span(7, "compat.source", 12.0, 12.1, 6, "op-2"),
        _span(8, "op", 13.0, 15.0, op="op-3"),
        _span(9, "streaming.run_to_completion", 13.0, 15.0, 8, "op-3"),
    ]
    trig = {"rows": 50, "state": [{"bytes": 100, "commit_ms": 20}],
            "duration_ms": {"triggerExecution": 400, "latestOffset": 10, "getBatch": 20,
                            "walCommit": 30, "commitOffsets": 40, "queryPlanning": 50,
                            "addBatch": 200}}
    records = [
        {**_rec("q", [1.5], wall_s=1.5), "op_id": "op-0", "traced": False, "ctx": {}},
        {**_rec("q", [2.0], wall_s=2.0), "op_id": "op-1", "traced": True,
         "ctx": {"module": "operators.relational", "rows_out": 4}},
        {**_rec("dice", [1.0], wall_s=1.0), "op_id": "op-2", "traced": True,
         "ctx": {"pairs_out": 100, "result_keys": 2}},
        {**_rec("events", [0.4, 0.4], wall_s=2.0), "op_id": "op-3", "traced": True,
         "ctx": {"run_ids": ["run-a"], "progress": [trig, dict(trig, rows=0)],
                 "run_span": tr.spans[9]}},
    ]
    t_build = (10.2 + tr.epoch_offset) * 1e3
    jobs = [
        {"jobGroup": "op-1", "stageIds": [0], "submissionTime": t_build,
         "completionTime": t_build + 100},
        {"jobGroup": "op-2", "stageIds": [1]},
        {"jobGroup": "run-a", "stageIds": [2]},
    ]

    def stage(sid, **kw):
        base = {"stageId": sid, "attemptId": 0, "status": "COMPLETE", "numTasks": 4,
                "executorRunTime": 4000, "executorCpuTime": 2e9, "jvmGcTime": 0,
                "inputBytes": 0, "inputRecords": 0, "outputBytes": 0,
                "shuffleWriteBytes": 0, "shuffleReadBytes": 0, "shuffleWriteRecords": 0,
                "diskBytesSpilled": 0, "resultSize": 0, "numFailedTasks": 0}
        return sid, {**base, **kw}

    stages = dict([stage(0, inputRecords=400), stage(1, shuffleWriteRecords=5,
                                                      shuffleWriteBytes=300), stage(2)])
    monkeypatch.setattr(worker, "status_snapshot", lambda spark: (jobs, stages))
    out = worker.layer_metrics(records, tr, cores=4, spark=None)
    assert set(out) <= set(stats.PER_LAYER)
    assert out["session.get_spark_s"] == 5.0 and out["setup.cold_pass_s"] == 4.0
    assert out["registry.build_s"] == 0.5 and out["registry.exec_s"] == 1.5
    assert out["registry.build_jobs"] == 1
    assert out["registry.rows_examined_per_row_out"] == 100.0
    assert out["operators.relational.exec_s"] == 2.0
    assert out["compat.combine_ratio"] == 0.05 and out["compat.shuffle_bytes_per_pair"] == 3.0
    assert abs(out["compat.source_s"] - 0.1) < 1e-9
    assert out["sources.pull_s"] == 0.03 and out["streaming.offset_log_s"] == 0.07
    assert out["streaming.empty_trigger_ratio"] == 0.5
    assert abs(out["streaming.start_stop_s"] - 1.2) < 1e-9
    assert out["spark.core_busy_ratio"] == 0.5  # 4 s of tasks over 1 s x 4 cores, median
    # traced samples 2.0, 1.0, 0.4, 0.4 (median 0.7) against untraced 1.5
    assert abs(out["trace.overhead_s"] - (0.7 - 1.5)) < 1e-9
    assert out["op_p50_s"] == 1.5 and out["rows_per_s"] == 10 / 1.5  # untraced rounds only


def test_inputs_are_a_function_of_the_seed(tmp_path):
    sizes = {"dice_rows": 500, "keyed_rows": 400, "keyed_keys": 50,
             "ordered_rows": 300, "ordered_keys": 7, "files": 2}
    a = inputs.write_compat_inputs(str(tmp_path / "a"), 3, sizes)
    b = inputs.write_compat_inputs(str(tmp_path / "b"), 3, sizes)
    c = inputs.write_compat_inputs(str(tmp_path / "c"), 4, sizes)
    assert a == b and a != c
    for name in ("dice", "keyed", "ordered"):
        fa = sorted(os.listdir(tmp_path / "a" / name))
        assert fa == sorted(os.listdir(tmp_path / "b" / name))
        for f in fa:
            assert (tmp_path / "a" / name / f).read_bytes() == (tmp_path / "b" / name / f).read_bytes()
    assert sum(a["expected"]["dice"].values()) == 500
    assert sum(a["expected"]["keyed"].values()) > 0


def _write_run(path: Path, workload: str, metrics: dict) -> None:
    summary = {"perfbench": {"workload": workload}}
    result = {"correct": True, "attempted": 1, "failed": 0,
              "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()}}
    path.write_text(json.dumps(summary) + "\n" + json.dumps(result) + "\n")


def test_compare_flags_a_regression(tmp_path, capsys):
    for label, cpu in (("base", 1.0), ("new", 1.5)):
        d = tmp_path / label
        d.mkdir()
        for i, jitter in enumerate((0.0, 0.01, -0.01, 0.02)):
            _write_run(d / f"r{i}.txt", "pull_stream", {"cpu_s_per_op": cpu + jitter})
    assert compare.main([str(tmp_path / "base")]) == 0
    assert "steady" in capsys.readouterr().out
    assert compare.main([str(tmp_path / "base"), str(tmp_path / "new")]) == 1
    assert "regressed" in capsys.readouterr().out
