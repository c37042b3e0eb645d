"""Loader pull-stream semantics on Structured Streaming.

The reference's Loader is a batched pull source: the orchestrator asks
``Gimme chunkSize`` and gets ≤ chunkSize records until the source is
exhausted (Loader.fs:32-38, Orchestrator.fs:74-88), with flow control
by map-acks. Structured Streaming's micro-batch engine is the exact
analogue: ``maxFilesPerTrigger``/``maxOffsetsPerTrigger`` caps a
trigger's intake (≡ Gimme chunkSize), offsets+checkpoints replace the
``toSkip`` cursor (Loader.fs:14,38), and backpressure is the trigger
loop itself. ``handleResults`` (Orchestrator.fs:175) maps to
``foreachBatch``.
"""

from __future__ import annotations

import math
import os
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from fsharp_mapreduce_spark.scratch import scratch_dir


# staged-dir memo: restaging the SAME fixture slice for every query
# invocation re-writes identical parquet chunks (measured ~1s of
# st01's wall-clock) and piles up temp dirs. Keyed by the caller's
# declared identity (sf_dir + slice tag + layout); per-process, so a
# regenerated fixture in the NEXT driver round can't be served stale.
_staged_memo: dict[tuple, str] = {}

# Schema memo for read_pull_stream, keyed by the staged directory's
# real path. Inferring a parquet schema runs a Spark job, and every
# stream started over the same staged files would run it again.
# stage_as_chunked_files drops a directory's entry before it writes
# there; staged files are written by Spark, so they read back with the
# schema they were written with.
_schema_memo: dict[str, StructType] = {}


def stage_as_chunked_files(
    df: DataFrame,
    n_chunks: int,
    out_dir: str | None = None,
    order_by: list[str] | None = None,
    memo_key: tuple | None = None,
) -> str:
    """Materialize a DataFrame as ``n_chunks`` parquet files so a file
    stream with maxFilesPerTrigger=1 replays it in n_chunks pulls —
    the test harness for Gimme-chunkSize semantics.

    ``order_by`` stages the chunks in sorted order (chunk i strictly
    precedes chunk i+1) and stamps strictly increasing file mtimes so
    the file source replays them in that order — an event-time-ordered
    source, which is what watermark semantics assume. Without it,
    chunks are a random partition of the input (an out-of-order
    source). The global sort here is harness-only code on fixture-
    sized data, not an engine path."""
    key = None
    if memo_key is not None:
        if out_dir is not None:
            # the memo key omits out_dir, so a later hit would return
            # the FIRST call's directory and silently never populate
            # the requested one (code-review r4)
            raise ValueError(
                "stage_as_chunked_files: memo_key and out_dir are "
                "mutually exclusive — a memo hit bypasses out_dir"
            )
        key = (memo_key, n_chunks, tuple(order_by or ()))
        cached = _staged_memo.get(key)
        if cached is not None and os.path.isdir(cached):
            return cached
    out_dir = out_dir or scratch_dir("fsmr_stream_")
    _schema_memo.pop(os.path.realpath(out_dir), None)
    # The memo is populated ONLY after the staging write (and mtime
    # pinning) completes: a failed/interrupted write must not leave a
    # memo entry pointing at an empty or partial dir that later calls
    # would silently stream (ADVICE r3).
    if order_by is None:
        df.repartition(n_chunks).write.mode("overwrite").parquet(out_dir)
        if key is not None:
            _staged_memo[key] = out_dir
        return out_dir

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.orderBy(*order_by)
    # persist: each of the n_chunks filtered writes below would
    # otherwise re-execute the scan + global sort from scratch —
    # n_chunks full sorts instead of one (code-review r4; harness-only
    # fixture-sized data, but the staging wall-clock is paid by every
    # first streaming-query invocation)
    chunked = df.withColumn("__chunk", F.ntile(n_chunks).over(w)).persist()
    # try/finally: a failed chunk write must still release the cached
    # sorted corpus — without it the persist leaks for the session
    # lifetime (ADVICE r4)
    try:
        seen: set[str] = set()
        for i in range(1, n_chunks + 1):
            (
                chunked.where(F.col("__chunk") == i)
                .drop("__chunk")
                .coalesce(1)
                .write.mode("append")
                .parquet(out_dir)
            )
            # FileStreamSource orders new files by modification time;
            # pin it explicitly (sub-second writes can collide).
            now = 1_700_000_000 + i * 10
            for f in os.listdir(out_dir):
                p = os.path.join(out_dir, f)
                if f.endswith(".parquet") and p not in seen:
                    os.utime(p, (now, now))
                    seen.add(p)
    finally:
        chunked.unpersist()
    if key is not None:  # all chunks staged + mtimes pinned → memoizable
        _staged_memo[key] = out_dir
    return out_dir


def read_pull_stream(
    spark: SparkSession, staged_dir: str, chunk_files: int = 1
) -> DataFrame:
    """readStream over the staged chunk files, one chunk per trigger."""
    key = os.path.realpath(staged_dir)
    schema = _schema_memo.get(key)
    if schema is None:
        schema = _schema_memo[key] = spark.read.parquet(staged_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", chunk_files)
        .parquet(staged_dir)
    )


# State/shuffle partition count for the bounded fixture replays. A
# streaming query runs one state-store task per shuffle partition PER
# TRIGGER, and each writes its own delta file and commits it, so the
# session default (one per core) pays that many task launches, files
# and commits on every few-thousand-row micro-batch. At that size an
# extra partition adds CPU and files and buys no parallelism: on a
# 4-core host, a warm local[2] session running a 4-trigger st01-shaped
# stream of 2,500-row triggers at 1 partition instead of 2 wrote 46
# checkpoint files instead of 62, forked 56 `chmod` instead of 73 (one
# per file created, without libhadoop), used 1.8 s of JVM CPU instead
# of 2.2 s, and kept the same trigger wall time. Fit partitions to the
# data in flight, not to the box: results are partition-count-invariant
# (stream-batch parity oracles, and tests/test_streaming.py's
# partition-invariance test runs the multi-partition state path).
STREAM_FIXTURE_SHUFFLE_PARTITIONS = 1

# applyInPandasWithState queries are the exception: their per-trigger
# cost is the PYTHON worker loop over state keys (one fold call per key
# through the Arrow bridge), so partitions buy key-level parallelism.
# Measured fresh-process A/B on st04: parts=8 → 6.0-7.1 s, parts=2 →
# 10.7-11.3 s — opposite direction to every JVM-stateful row.
STREAM_PANDAS_STATE_PARTITIONS = 8


@contextmanager
def stream_shuffle_sizing(
    spark: SparkSession, n: int = STREAM_FIXTURE_SHUFFLE_PARTITIONS
):
    """Scope spark.sql.shuffle.partitions to a streaming run (the
    count is baked into the query's state layout at start()); restores
    the session value afterwards — same set/restore discipline as
    st09's provider-class flip."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_completion(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
):
    """Drive a bounded stream to exhaustion into an in-memory sink and
    return the final result table (the batch-equivalent answer). The
    reference's completion detection (ack counting,
    Orchestrator.fs:142-163) is Spark's processAllAvailable.
    ``shuffle_partitions`` overrides the fixture default for queries
    with a different parallelism economics (the pandas-stateful pair —
    see STREAM_PANDAS_STATE_PARTITIONS)."""
    # explicit None check (ADVICE r11): `or` would silently turn an
    # erroneous 0/falsy override into the fixture default instead of
    # failing loudly — partition counts must be ≥ 1
    if shuffle_partitions is None:
        shuffle_partitions = STREAM_FIXTURE_SHUFFLE_PARTITIONS
    if shuffle_partitions < 1:
        raise ValueError(
            f"run_to_completion: shuffle_partitions must be >= 1, "
            f"got {shuffle_partitions!r}"
        )
    with stream_shuffle_sizing(
        stream_df.sparkSession,
        shuffle_partitions,
    ):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return stream_df.sparkSession.table(query_name)


def n_chunks_for(total_rows: int, chunk_size: int) -> int:
    return max(1, math.ceil(total_rows / chunk_size))
