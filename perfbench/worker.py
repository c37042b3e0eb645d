"""One measured benchmark process: set the program up, run the cold
pass, then run a fixed number of whole rounds of the workload's
operations in a closed loop with one client. Writes its
findings as JSON to --out; run.py turns them into the result line.

Started by run.py in a fresh process per run, so the program's
per-process memos (staged stream chunks, the shipped
package zip) always fill inside the measured set-up.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import pickle
import sys
import time
import traceback

T_START = time.perf_counter()

import proctree  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from tracing import (  # noqa: E402
    NullTracer,
    Tracer,
    counters_for,
    jobs_started_within,
    make_stream_listener,
    status_snapshot,
    trigger_spans,
)

SETUP_SPANS = {
    "session.get_spark": "session.get_spark_s",
    "registry.load_all_query_modules": "registry.load_all_query_modules_s",
    "session.ensure_package_shipped": "session.ensure_package_shipped_s",
    "setup.cold_pass": "setup.cold_pass_s",
    "setup.warmup": "setup.warmup_s",
}
# Untimed rounds after the cold pass. The JVM compiles most of the hot
# code during the first runs of each operation, and that compiling is
# CPU time of the process tree: over five rounds after the cold pass, a
# pull_stream round cost 15.1, 10.6, 8.5, 8.9 and 9.0 CPU seconds, a
# batch round 12.5, 10.6, 9.4, 8.4 and 8.3. One warm-up round takes the
# steepest step out of the timed rounds.
WARMUP_ROUNDS = 1

def spark_conf(trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # Start the heap at 1 GiB. From the JVM's small default, G1 grows
        # the heap when GC takes too long, which depends on how loaded
        # the machine is. That made peak memory jump by up to 50%
        # between runs of the same input.
        "spark.driver.extraJavaOptions": "-Xms1g",
    }
    if trace:
        # keep every job and stage of the run for the end-of-run read
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    return conf


def run_op(spark, wl, op: str, op_id: str, tracer) -> dict:
    """One closed-loop operation: submit, wait for the answer, check it."""
    spark.sparkContext.setJobGroup(op_id, op)
    ctx: dict = {}
    rec = {"op": op, "op_id": op_id, "ctx": ctx, "error": None}
    cpu0 = proctree.cpu_s(os.getpid())
    t0 = time.perf_counter()
    try:
        with tracer.span("op", op=op_id):
            result, samples = wl.run(op, tracer, ctx)
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = proctree.cpu_s(os.getpid()) - cpu0
        rec["samples"] = [rec["wall_s"]] if samples is None else samples
        rec["ok"] = wl.check(op, result)
        if not rec["ok"]:
            rec["error"] = "wrong answer"
    except Exception:  # a failed operation is counted, and the loop goes on
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = proctree.cpu_s(os.getpid()) - cpu0
        rec["samples"], rec["ok"] = [], False
        rec["error"] = traceback.format_exc(limit=4)
        print(rec["error"], file=sys.stderr, flush=True)
    return rec


def timed_loop(spark, wl, rounds: int, trace: bool, tracer: Tracer, acct: stats.Accounting):
    """Exactly ``rounds`` whole rounds, so every run times the same
    operations at the same point of the JVM's warm-up, however fast the
    machine is. A traced run alternates untraced and traced rounds."""
    records: list[dict] = []
    for r in range(rounds):
        traced = trace and r % 2 == 1
        for op in wl.round():
            op_id = f"op-{len(records)}"
            rec = run_op(spark, wl, op, op_id, tracer if traced else NullTracer())
            rec["round"], rec["traced"], rec["rows"] = r, traced, wl.rows(op)
            records.append(rec)
            acct.record(rec)
            if traced and "progress" in rec["ctx"] and "run_span" in rec["ctx"]:
                trigger_spans(tracer, rec["ctx"]["run_span"]["id"], op_id, rec["ctx"]["progress"])
    return records


def _durations(tracer: Tracer, name: str) -> dict[str, float]:
    return {s["op"]: s["end"] - s["start"] for s in tracer.spans if s["name"] == name and s["op"]}


def layer_metrics(records, tracer: Tracer, cores: int, spark) -> dict:
    """Per-layer figures from the traced rounds. Each is a median over
    the operations that exercise the layer (0 when none does)."""
    med = stats.median
    out: dict[str, float] = {}
    for span_name, metric in SETUP_SPANS.items():
        out[metric] = sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == span_name)
    stage = [s["end"] - s["start"] for s in tracer.spans if s["name"] == "streaming.stage"]
    out["streaming.stage_s"] = stage[0] if stage else 0.0

    traced = [r for r in records if r["traced"] and r["ok"]]
    plain = stats.Accounting()
    for r in records:
        if not r["traced"]:
            plain.record(r)
    out.update(plain.wall_metrics())
    out["trace.op_p50_s"] = med([x for r in traced for x in r["samples"]])
    out["trace.overhead_s"] = out["trace.op_p50_s"] - out["op_p50_s"]

    jobs, stages = status_snapshot(spark)
    for r in traced:
        r["counters"] = counters_for(jobs, stages, {r["op_id"], *r["ctx"].get("run_ids", [])})
    c = {r["op_id"]: r["counters"] for r in traced}

    build, execd = _durations(tracer, "registry.build"), _durations(tracer, "registry.exec")
    df_ops = [r for r in traced if "module" in r["ctx"]]
    if df_ops:
        out["registry.build_s"] = med([build[r["op_id"]] for r in df_ops])
        out["registry.exec_s"] = med([execd[r["op_id"]] for r in df_ops])
        out["registry.build_jobs"] = med([
            jobs_started_within(c[r["op_id"]]["job_windows"],
                                *_build_window(tracer, r["op_id"])) for r in df_ops])
        out["registry.rows_examined_per_row_out"] = med([
            c[r["op_id"]]["input_records"] / max(1, r["ctx"]["rows_out"]) for r in df_ops])
        for module in {r["ctx"]["module"] for r in df_ops}:
            out[f"{module}.exec_s"] = med([r["wall_s"] for r in df_ops if r["ctx"]["module"] == module])

    compat_ops = [r for r in traced if "pairs_out" in r["ctx"]]
    if compat_ops:
        run_s, src_s = _durations(tracer, "compat.run"), _durations(tracer, "compat.source")
        out["compat.run_s"] = med([run_s[r["op_id"]] for r in compat_ops])
        out["compat.source_s"] = med([src_s.get(r["op_id"], 0.0) for r in compat_ops])
        out["compat.pairs_out"] = med([r["ctx"]["pairs_out"] for r in compat_ops])
        # pyspark writes each shuffle record as a pickled batch of
        # pairs, so the record ratio counts batches; the bytes per
        # emitted pair are the volume the combiner saves
        out["compat.combine_ratio"] = med([
            c[r["op_id"]]["shuffle_records"] / r["ctx"]["pairs_out"] for r in compat_ops])
        out["compat.shuffle_bytes_per_pair"] = med([
            c[r["op_id"]]["shuffle_write_bytes"] / r["ctx"]["pairs_out"] for r in compat_ops])
        out["compat.result_keys"] = med([r["ctx"]["result_keys"] for r in compat_ops])
        out["compat.collect_bytes"] = med([c[r["op_id"]]["result_bytes"] for r in compat_ops])

    if traced:
        out["sources.scan_bytes"] = med([c[r["op_id"]]["input_bytes"] for r in traced])
        out["sources.scan_rows"] = med([c[r["op_id"]]["input_records"] for r in traced])
        for key in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                    "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_records",
                    "spill_bytes", "result_bytes"):
            out[f"spark.{key}"] = med([c[r["op_id"]][key] for r in traced])
        out["spark.core_busy_ratio"] = med([
            c[r["op_id"]]["task_run_s"] / (r["wall_s"] * cores) for r in traced])
        out["spark.failed_tasks"] = sum(c[r["op_id"]]["failed_tasks"] for r in traced)

    streams = [r for r in traced if "progress" in r["ctx"]]
    triggers = [p for r in streams for p in r["ctx"]["progress"]]
    if triggers:
        def part(*keys):
            return med([sum(p["duration_ms"].get(k, 0) for k in keys) / 1e3 for p in triggers])

        out["sources.pull_s"] = part("latestOffset", "getBatch")
        out["streaming.trigger_s"] = part("triggerExecution")
        out["streaming.add_batch_s"] = part("addBatch")
        out["streaming.planning_s"] = part("queryPlanning")
        out["streaming.offset_log_s"] = part("walCommit", "commitOffsets")
        out["streaming.state_commit_s"] = med([
            sum(s["commit_ms"] for s in p["state"]) / 1e3 for p in triggers])
        out["streaming.rows_per_trigger"] = med([p["rows"] for p in triggers])
        out["streaming.empty_trigger_ratio"] = sum(1 for p in triggers if not p["rows"]) / len(triggers)
        out["streaming.state_bytes"] = max(sum(s["bytes"] for s in p["state"]) for p in triggers)
        out["streaming.start_stop_s"] = med([
            (r["ctx"]["run_span"]["end"] - r["ctx"]["run_span"]["start"])
            - sum(r["samples"]) for r in streams])
    return out


def _build_window(tracer: Tracer, op_id: str) -> tuple[float, float]:
    s = next(s for s in tracer.spans if s["name"] == "registry.build" and s["op"] == op_id)
    return s["start"] + tracer.epoch_offset, s["end"] + tracer.epoch_offset


def shutdown(spark) -> None:
    """Stop Spark and wait for its JVM to exit, so no process outlives
    the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from pyspark import cloudpickle

    import jobs

    cloudpickle.register_pickle_by_value(jobs)
    with open(f"{args.data}/manifest.json") as f:
        manifest = json.load(f)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tracer = Tracer()
    with tracer.span("session.get_spark"):
        from fsharp_mapreduce_spark import session

        spark = session.get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf=spark_conf(bool(args.trace)),
        )
    with tracer.span("registry.load_all_query_modules"):
        from fsharp_mapreduce_spark import registry

        registry.load_all_query_modules()
    with tracer.span("session.ensure_package_shipped"):
        session.ensure_package_shipped(spark)
    listener = None
    if args.workload == "pull_stream":
        listener = make_stream_listener()
        spark.streams.addListener(listener)
    wl = workloads.make(args.workload, spark, args.data, manifest, args.seed, listener)
    with tracer.span("setup.cold_pass"):
        for op in wl.ops:
            wl.run(op, tracer, {})
    with tracer.span("setup.warmup"):
        for _ in range(WARMUP_ROUNDS):
            for op in wl.ops:
                wl.run(op, NullTracer(), {})
    setup_s = time.perf_counter() - T_START

    with open(f"{args.data}/expected.pkl", "rb") as f:
        manifest["expected"] = pickle.load(f)
    acct = stats.Accounting()
    rounds = workloads.rounds_for(args.workload, args.seconds, bool(args.trace))
    t_timed = time.perf_counter()
    records = timed_loop(spark, wl, rounds, bool(args.trace), tracer, acct)
    out = {
        "setup_s": setup_s,
        "timed_s": time.perf_counter() - t_timed,
        "acct": dataclasses.asdict(acct),
        "rounds": records[-1]["round"] + 1,
        "per_op_p50_s": {
            op: stats.median([x for r in records if r["op"] == op for x in r["samples"]])
            for op in wl.ops},
        "errors": [r["error"] for r in records if r["error"]][:5],
        "java_version": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark_version": spark.version,
    }
    if args.trace:
        out["per_layer"] = layer_metrics(records, tracer, cores, spark)
        traced_ops = {r["op_id"] for r in records if r["traced"]}
        kept = [s for s in tracer.spans if s["op"] is None or s["op"] in traced_ops]
        out["self_times"] = stats.self_times(kept)
        out["spans"] = kept
        out["ops"] = [
            {"op_id": r["op_id"], "op": r["op"], "round": r["round"], "ok": r["ok"],
             "wall_s": r["wall_s"], "samples": r["samples"], "counters": r.get("counters"),
             **{k: v for k, v in r["ctx"].items() if k in ("module", "rows_out", "pairs_out",
                                                           "result_keys", "run_ids")}}
            for r in records if r["traced"]
        ]
    if listener is not None:
        spark.streams.removeListener(listener)
    with open(args.out, "w") as f:
        json.dump(out, f, default=str)
    shutdown(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
