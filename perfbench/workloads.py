"""The two workloads. Each exposes one round of named operations, runs
one operation through the program's public entry points, and checks its
answer against the expected answer the harness computed from the same
seeded inputs.

Input sizes are set for a 4-core, 15 GiB machine; see README.md for
why each workload exists and what it stresses.
"""

from __future__ import annotations

import random

from inputs import DATAFRAME_QUERIES, canonical_rows

COMPAT_JOBS = ("dice", "keyed", "ordered")

SIZES = {
    "batch": {
        "dice_rows": 120_000,
        "keyed_rows": 60_000,
        "keyed_keys": 40_000,
        "ordered_rows": 50_000,
        "ordered_keys": 500,
        "files": 4,
        "sf": 0.01,
    },
    # 4 triggers a stream
    "pull_stream": {"events_rows": 20_000, "events_chunks": 4},
}

# Wall time of one warm round on a 4-core machine. A run times
# round(seconds / ROUND_S) whole rounds: a fixed amount of work, so a
# run on a slower or busier machine times the same operations at the
# same point of the JVM's warm-up instead of fewer of them.
ROUND_S = {"batch": 6.0, "pull_stream": 3.5}


def rounds_for(workload: str, seconds: float, trace: bool) -> int:
    """Rounds a run times; a traced run needs an untraced and a traced one."""
    return max(2 if trace else 1, round(seconds / ROUND_S[workload]))


class Workload:
    """One round is every operation once, in a seeded order."""

    ops: tuple[str, ...] = ()

    def __init__(self, spark, data_dir: str, manifest: dict, seed: int):
        self.spark = spark
        self.data_dir = data_dir
        self.man = manifest
        self.rng = random.Random(seed)

    def round(self) -> list[str]:
        order = list(self.ops)
        self.rng.shuffle(order)
        return order

    def rows(self, op: str) -> int:
        return self.man["rows"][op]


class Batch(Workload):
    """One closed loop over the two batch paths.

    MapReduce jobs through compat.job.MapReduceJob.run over parquet read
    by table_source: the dice golden job (two keys, so the map-side
    combine removes the shuffle), a keyed fold over ~1e5 keys (shuffle
    and collect bound) and an ordered fold (zipWithIndex, persist,
    sort). Here the RDD and Python pickling path does the work.

    Registry queries over generated tables: a relational, a window and
    a dedup operator. Here Catalyst, the JVM and Arrow do the work and
    compat is unused."""

    ops = COMPAT_JOBS + tuple(DATAFRAME_QUERIES)

    def run(self, op: str, tracer, ctx: dict):
        if op in COMPAT_JOBS:
            return self._job(op, tracer, ctx), None
        return self._query(op, tracer, ctx), None

    def check(self, op: str, result) -> bool:
        expected = self.man["expected"][op]
        if op in COMPAT_JOBS:
            return result == expected
        rows, columns = result
        return canonical_rows([tuple(r) for r in rows], columns) == expected

    def _job(self, op: str, tracer, ctx: dict) -> dict:
        import jobs
        from fsharp_mapreduce_spark.compat.job import (
            MapReduceJob,
            dice_map_fn,
            dice_reduce_fn,
            table_source,
        )

        source = table_source(f"{self.data_dir}/{op}")

        def traced_source(spark):
            with tracer.span("compat.source"):
                return source(spark)

        kw = {"source": traced_source, "zero": 0, "merge_fn": jobs.add}
        if op == "dice":
            kw.update(map_fn=dice_map_fn, reduce_fn=dice_reduce_fn, group_on="value")
        elif op == "keyed":
            kw.update(map_fn=jobs.keyed_map_fn, reduce_fn=jobs.keyed_reduce_fn)
        else:
            kw.update(map_fn=jobs.ordered_map_fn, reduce_fn=jobs.ordered_step, ordered=True)
        with tracer.span("compat.run"):
            result = MapReduceJob(**kw).run(self.spark)
        # every job's map fn emits exactly one pair per input row
        ctx["pairs_out"] = self.rows(op)
        ctx["result_keys"] = len(result)
        return result

    def _query(self, op: str, tracer, ctx: dict):
        from fsharp_mapreduce_spark.registry import QUERIES

        spec = QUERIES[op]
        ctx["module"] = spec.fn.__module__.removeprefix("fsharp_mapreduce_spark.")
        with tracer.span("registry.build"):
            df = spec.fn(self.spark, self.data_dir)
        with tracer.span("registry.exec"):
            rows = df.collect()
        ctx["rows_out"] = len(rows)
        return rows, df.columns


class PullStream(Workload):
    """The loader's batched pull semantics: generated events staged as
    chunk files (stage_as_chunked_files, memoised per process), read
    one chunk per trigger (read_pull_stream), counted per tumbling hour
    and driven to completion by streaming.loader.run_to_completion. An
    operation is one micro-batch trigger, timed from the query's own
    progress reports."""

    ops = ("events",)

    def __init__(self, spark, data_dir, manifest, seed, listener):
        super().__init__(spark, data_dir, manifest, seed)
        self.listener = listener

    def run(self, op: str, tracer, ctx: dict):
        from pyspark.sql import functions as F

        from fsharp_mapreduce_spark.registry import table
        from fsharp_mapreduce_spark.streaming.loader import (
            read_pull_stream,
            run_to_completion,
            stage_as_chunked_files,
        )
        from tracing import drain_listener_bus

        with tracer.span("streaming.stage"):
            staged = stage_as_chunked_files(
                table(self.spark, self.data_dir, "events"),
                n_chunks=self.man["sizes"]["events_chunks"],
                memo_key=(self.data_dir, "events"))
        agg = (read_pull_stream(self.spark, staged)
               .withWatermark("ts", "1 hour")
               .groupBy(F.window("ts", "1 hour"), "event_type")
               .agg(F.count(F.lit(1)).alias("n")))
        with tracer.span("streaming.run_to_completion") as run_span:
            out = run_to_completion(agg, "perfbench_events", output_mode="complete")
        with tracer.span("streaming.collect"):
            rows = out.collect()
        drain_listener_bus(self.spark)
        ctx["run_ids"], ctx["progress"] = self.listener.take()
        if run_span is not None:
            ctx["run_span"] = run_span
        samples = [p["duration_ms"].get("triggerExecution", 0) / 1e3 for p in ctx["progress"]]
        return {(r.window.start, r.event_type): r.n for r in rows}, samples

    def check(self, op: str, result) -> bool:
        return result == self.man["expected"][op]


def make(name: str, spark, data_dir: str, manifest: dict, seed: int, listener=None) -> Workload:
    if name == "batch":
        return Batch(spark, data_dir, manifest, seed)
    if name == "pull_stream":
        return PullStream(spark, data_dir, manifest, seed, listener)
    raise ValueError(f"unknown workload {name!r}")
