"""Stream/batch parity: every streaming query's answer over the
bounded, chunk-replayed events fixture must equal the straight batch
computation — the property the reference's chunked Loader relies on
implicitly (Loader.fs:32-38: chunked pulls must not change the
answer)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from fsharp_mapreduce_spark.registry import QUERIES, load_all_query_modules, table
from fsharp_mapreduce_spark.streaming.loader import stage_as_chunked_files
from tests.conftest import SF_SMOKE

load_all_query_modules()


def rows_as_set(df):
    return {tuple(r) for r in df.collect()}


def test_tumbling_agg_stream_equals_batch(spark):
    stream = QUERIES["st01_stream_tumbling_agg"].fn(spark, SF_SMOKE)
    ev = table(spark, SF_SMOKE, "events")
    batch = ev.groupBy(
        F.window("ts", "1 hour").getField("start").alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    assert rows_as_set(stream) == rows_as_set(batch)


def test_stream_dedup_equals_batch_distinct(spark):
    stream = QUERIES["st02_stream_dedup"].fn(spark, SF_SMOKE)
    ev = table(spark, SF_SMOKE, "events")
    batch = ev.dropDuplicates(["event_id"]).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique")
    )
    assert rows_as_set(stream) == rows_as_set(batch)


def test_session_window_stream_equals_batch(spark):
    """Streaming session_window (state-store merged across 4
    micro-batches) equals batch session_window over the same events."""
    stream = QUERIES["st03_stream_session_window"].fn(spark, SF_SMOKE)
    ev = table(spark, SF_SMOKE, "events")
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window").getField("start").alias("session_start"),
            F.col("session_window").getField("end").alias("session_end"),
            "n_events",
        )
    )
    assert rows_as_set(stream) == rows_as_set(batch)


def test_stateful_fold_stream_equals_batch(spark):
    stream = QUERIES["st04_stream_stateful_running_max"].fn(spark, SF_SMOKE)
    ev = table(spark, SF_SMOKE, "events")
    batch = {
        r.user_id: (r.n, r.mx, r.sm)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("value"), 4).alias("mx"),
            F.sum("value").alias("sm"),
        )
        .collect()
    }
    got = {r.user_id: (r.n_events, r.max_value, r.total_value) for r in stream.collect()}
    assert set(got) == set(batch)
    for uid, (n, mx, sm) in batch.items():
        gn, gmx, gsm = got[uid]
        assert gn == n
        assert math.isclose(gmx, mx, abs_tol=1e-4)
        # Python-side sequential sum vs JVM sum: same values, possibly
        # different order — tolerance, not equality.
        assert math.isclose(gsm, sm, rel_tol=1e-9, abs_tol=1e-3)


def test_chunked_replay_is_chunked(spark):
    """The staging harness really does replay in n_chunks micro-batches
    (≡ n Gimme pulls), and ordered staging yields time-ordered chunks."""
    ev = table(spark, SF_SMOKE, "events").select("event_id", "ts")
    staged = stage_as_chunked_files(ev, n_chunks=4, order_by=["ts"])
    import glob

    files = sorted(
        glob.glob(f"{staged}/*.parquet"), key=lambda p: __import__("os").path.getmtime(p)
    )
    assert len(files) == 4
    bounds = []
    for f in files:
        r = spark.read.parquet(f).agg(F.min("ts"), F.max("ts")).collect()[0]
        bounds.append((r[0], r[1]))
    for (lo1, hi1), (lo2, hi2) in zip(bounds, bounds[1:]):
        assert hi1 <= lo2, f"chunks out of order: {bounds}"


def test_checkpoint_restart_exactly_once(spark):
    """Kill-and-restart durability the reference entirely lacks (no
    retries/supervision, SURVEY §4 fault-tolerance row): a streaming
    aggregation driven over part of the source, STOPPED, then
    restarted from its checkpoint after more data arrives must (a)
    resume from the recorded offsets — never reprocessing the files it
    already consumed — and (b) land on exactly the batch answer.
    Double-processing would inflate the merged totals; skipped data
    would deflate them, so totals equality pins exactly-once."""
    import tempfile

    ev = table(spark, SF_SMOKE, "events").select("event_id", "value")
    from fsharp_mapreduce_spark.scratch import scratch_dir

    src = scratch_dir("fsmr_ckpt_src_")
    ck = scratch_dir("fsmr_ckpt_meta_")
    sink = scratch_dir("fsmr_ckpt_sink_")

    def add_chunk(i: int) -> None:
        ev.where(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def handle(batch_df, batch_id):
        (
            batch_df.groupBy()
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("sv"),
                F.sum("event_id").alias("se"),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sink)
        )

    def run_phase() -> None:
        schema = spark.read.parquet(src).schema
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            s.writeStream.foreachBatch(handle)
            .option("checkpointLocation", ck)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    add_chunk(0)
    add_chunk(1)
    run_phase()  # consumes chunks 0-1, checkpoint records their offsets
    mid = spark.read.parquet(sink).agg(F.sum("n")).collect()[0][0]
    add_chunk(2)
    add_chunk(3)
    run_phase()  # restart: must process ONLY chunks 2-3

    partials = spark.read.parquet(sink)
    got = partials.agg(F.sum("n"), F.sum("sv"), F.sum("se")).collect()[0]
    want = ev.agg(
        F.count(F.lit(1)), F.sum("value"), F.sum("event_id")
    ).collect()[0]
    assert got[0] == want[0], "row count off: re/under-processing after restart"
    assert got[2] == want[2], "event_id checksum off"
    assert math.isclose(got[1], want[1], rel_tol=1e-9)
    # phase 1 really did consume only its half
    assert 0 < mid < want[0]


def test_stateful_stream_on_rocksdb_state_store(spark):
    """The state store backend that survives 100 TB-scale state:
    re-run a state-store-backed streaming dedup with the RocksDB
    provider (off-heap, spill-to-disk, incremental checkpoints)
    instead of the default in-memory HDFS-backed store, and require
    the identical batch-parity answer. Pins that the engine's stateful
    operators are backend-agnostic and the scale backend actually
    works in this build."""
    import tempfile

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = table(spark, SF_SMOKE, "events")
        staged = stage_as_chunked_files(ev, n_chunks=4)
        from fsharp_mapreduce_spark.streaming.loader import (
            read_pull_stream,
            run_to_completion,
        )

        s = read_pull_stream(spark, staged)
        deduped = (
            s.dropDuplicates(["event_id"])
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_unique"))
        )
        out = run_to_completion(deduped, "st_rocksdb_out", output_mode="complete")
        got = {r.event_type: r.n_unique for r in out.collect()}
        want = {
            r.event_type: r.n
            for r in ev.groupBy("event_type")
            .agg(F.countDistinct("event_id").alias("n"))
            .collect()
        }
        assert got == want
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_st10_dedup_within_watermark_equals_batch_distinct(spark):
    """st10 feeds every event twice; the 48h delay exceeds the fixture
    span so nothing expires mid-run — answer = batch distinct."""
    stream = QUERIES["st10_dedup_within_watermark"].fn(spark, SF_SMOKE)
    ev = table(spark, SF_SMOKE, "events")
    batch = (
        ev.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    assert rows_as_set(stream) == rows_as_set(batch)


def test_dedup_within_watermark_ttl_readmits_expired_key(spark):
    """The TTL semantics st10's docstring defers here: a duplicate
    arriving AFTER the watermark passes the first copy's event time +
    delay is re-admitted (state expired — bounded state is the whole
    point); a duplicate within the delay is dropped. Four ordered
    micro-batches (maxFilesPerTrigger=1): K@00:00 (+in-delay dup),
    X@05:00 advances the watermark to 04:00 > K's expiry, Y@06:00 is
    the spacer batch in which eviction actually runs (measured: the
    store evicts a key one batch AFTER the watermark passes its
    expiry, and an arriving duplicate refreshes the key's state before
    eviction — so re-admission needs a key-free batch in between),
    then K@10:00 must be emitted AGAIN."""
    import tempfile

    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [StructField("ts", TimestampType()), StructField("k", StringType())]
    )
    from fsharp_mapreduce_spark.scratch import scratch_dir

    d = scratch_dir("fsmr_st10_ttl_")
    from datetime import datetime

    def chunk(i, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{d}/c{i}")

    chunk(0, [(datetime(2026, 1, 1, 0, 0), "K"), (datetime(2026, 1, 1, 0, 30), "K")])
    chunk(1, [(datetime(2026, 1, 1, 5, 0), "X")])
    chunk(2, [(datetime(2026, 1, 1, 6, 0), "Y")])
    chunk(3, [(datetime(2026, 1, 1, 10, 0), "K")])
    # one staged dir, lexicographic file order = chunk order
    import glob
    import shutil

    staged = scratch_dir("fsmr_st10_staged_")
    import os
    import time as _time

    base = _time.time()
    for i in range(4):
        src = glob.glob(f"{d}/c{i}/part-*.parquet")[0]
        dst = f"{staged}/{i:03d}.parquet"
        shutil.copy(src, dst)
        # FileStreamSource orders new files by MODIFICATION TIME, not
        # name — sub-ms copy times tie and the replay order (the whole
        # point of this test) becomes arbitrary. Pin strictly
        # increasing mtimes, oldest first.
        os.utime(dst, (base + i * 10, base + i * 10))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["k"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("st10_ttl")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = [(r["k"], r["ts"]) for r in spark.sql("SELECT * FROM st10_ttl").collect()]
    ks = sorted(t for k, t in out if k == "K")
    # K emitted twice (00:00 survivor + 10:00 re-admission after
    # expiry); the 00:30 in-delay duplicate dropped; X and Y once.
    assert len(ks) == 2, out
    assert ks[0] == datetime(2026, 1, 1, 0, 0) and ks[1] == datetime(2026, 1, 1, 10, 0)
    assert len([k for k, _ in out if k == "X"]) == 1
    assert len([k for k, _ in out if k == "Y"]) == 1


def test_pull_stream_checkpoint_restart_resumes_cursor(spark):
    """st11's recovery claim, exercised: stop the custom-source stream
    mid-run, restart from the checkpoint, and the final complete-mode
    aggregate must equal the full-source answer with the cursor
    RESUMED, not rewound — the second run may replay at most the one
    in-flight pull (its offset commit can race the stop), never the
    chunks already committed."""
    import tempfile
    import time as _time

    from pyspark.sql import functions as FF

    from fsharp_mapreduce_spark.sources.pull_source import register_pull_source

    register_pull_source(spark)
    rows, chunk = 120_000, 8_192
    from fsharp_mapreduce_spark.scratch import scratch_dir

    ck = scratch_dir("fsmr_pull_ck_")

    def start(query_name):
        src = (
            spark.readStream.format("gimme_dice")
            .option("rows", rows)
            .option("chunk", chunk)
            .load()
        )
        outcome = FF.when(FF.col("roll") == 3, "Win").otherwise("Lose")
        agg = src.groupBy(outcome.alias("outcome")).agg(
            FF.count(FF.lit(1)).alias("n")
        )
        return (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(query_name)
            .option("checkpointLocation", ck)
            .trigger(processingTime="0 seconds")
            .start()
        )

    q1 = start("pull_ck_a")
    try:
        # wait until at least 2 micro-batches committed, then stop
        deadline = _time.time() + 60
        while _time.time() < deadline:
            done = [p for p in q1.recentProgress if p["numInputRows"] > 0]
            if len(done) >= 2:
                break
            _time.sleep(0.2)
        assert len(done) >= 2, "stream never progressed"
    finally:
        q1.stop()
    consumed_first = sum(p["numInputRows"] for p in q1.recentProgress)
    assert 0 < consumed_first < rows, "phase 1 should stop mid-source"

    q2 = start("pull_ck_b")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = {
        r["outcome"]: r["n"]
        for r in spark.sql("SELECT * FROM pull_ck_b").collect()
    }
    assert got["Win"] + got["Lose"] == rows
    assert got["Win"] == sum(1 for i in range(rows) if (i % 6) + 1 == 3)
    consumed_second = sum(p["numInputRows"] for p in q2.recentProgress)
    # resumed: second run covers the remainder, plus at most the one
    # in-flight pull from the race with stop()
    assert consumed_second <= rows - consumed_first + chunk


def test_st13_late_null_emission(spark):
    """Pins the LEFT OUTER stream-stream join's null-emission timing:
    an unmatched click must NOT appear while its match window is still
    open (the engine can't yet know it's unmatched), and MUST appear —
    with nulls — once the watermark passes click_ts + 30min. The
    watermark is advanced by the same flush-sentinel mechanism the
    registered st13 query uses."""
    import datetime as dt

    from fsharp_mapreduce_spark.streaming.loader import (
        read_pull_stream,
        run_to_completion,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, "click", 0.0),
        (1, base + dt.timedelta(minutes=10), "purchase", 5.0),
        (2, base + dt.timedelta(minutes=20), "click", 0.0),
    ]
    schema = "user_id int, ts timestamp, event_type string, value double"

    def run(with_sentinel: bool, name: str):
        rws = list(rows)
        if with_sentinel:
            far = base + dt.timedelta(days=10)
            rws += [(-1, far, "click", 0.0), (-2, far, "purchase", 0.0)]
        staged = stage_as_chunked_files(
            spark.createDataFrame(rws, schema), n_chunks=2, order_by=["ts"]
        )
        clicks = (
            read_pull_stream(spark, staged)
            .withWatermark("ts", "1 hour")
            .where(F.col("event_type") == "click")
            .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        )
        purchases = (
            read_pull_stream(spark, staged)
            .withWatermark("ts", "1 hour")
            .where(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("value").alias("p_value"),
            )
        )
        joined = clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
            "left_outer",
        )
        out = run_to_completion(joined, name, output_mode="append")
        return {
            (r["c_user"], r["p_ts"] is not None)
            for r in out.where(F.col("c_user") >= 0).collect()
        }

    open_window = run(False, "st13_null_open")
    assert (1, True) in open_window, "matched pair must emit immediately"
    assert (2, False) not in open_window, (
        "null row emitted while the match window was still open"
    )
    closed = run(True, "st13_null_closed")
    assert (1, True) in closed
    assert (2, False) in closed, (
        "watermark closed user 2's window but no null row was emitted"
    )
    assert (1, False) not in closed, "matched click must not also emit a null row"


def test_st13_stream_equals_batch_left_join(spark):
    """Registered st13 vs its batch LEFT JOIN twin on the smoke
    fixture (the driver's parity check at the gate SF)."""
    load_all_query_modules()
    got = {
        (r.user_id, r.n_pairs, r.n_unmatched, r.attributed_value)
        for r in QUERIES["st13_stream_left_outer_join"].fn(spark, SF_SMOKE).collect()
    }
    ev = table(spark, SF_SMOKE, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    batch = (
        c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
            "left_outer",
        )
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count("p_ts").cast("bigint").alias("n_pairs"),
            F.sum(F.col("p_ts").isNull().cast("long")).cast("bigint").alias("n_unmatched"),
            F.round(F.coalesce(F.sum("p_value"), F.lit(0.0)), 4).alias("attributed_value"),
        )
    )
    want = {
        (r.user_id, r.n_pairs, r.n_unmatched, r.attributed_value)
        for r in batch.collect()
    }
    assert got == want


def test_st14_stream_equals_batch_ann(spark):
    """Streamed ANN serving must answer exactly what the batch index
    probe answers: the union of per-micro-batch top-k results equals
    s02's inline pipeline (every query vector lives in exactly one
    micro-batch; top-k is per-query), including ranks and rounded
    sims."""
    load_all_query_modules()
    got = {
        (r.query_id, r.neighbor_id, r.rank, r.sim)
        for r in QUERIES["st14_stream_ann_probe"].fn(spark, SF_SMOKE).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.rank, r.sim)
        for r in QUERIES["s02_knn_lsh"].fn(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_st16_stream_drift_equals_batch(spark):
    """st16's micro-batch-accumulated drift audit must be row-identical
    to t36's one-shot batch computation — the partial count log loses
    nothing (stream/batch parity on the model-table path, not just on
    row streams)."""
    from fsharp_mapreduce_spark.registry import QUERIES

    batch = QUERIES["t36_distribution_drift"].fn(spark, SF_SMOKE).collect()
    stream = QUERIES["st16_stream_drift_audit"].fn(spark, SF_SMOKE).collect()
    assert [r.asDict() for r in batch] == [r.asDict() for r in stream]


def test_st17_orphan_purchase_emission(spark):
    """Pins the FULL OUTER stream-stream join's orphan-emission
    timing on BOTH sides: a purchase no click can claim must NOT
    appear while a preceding on-time click could still arrive, and
    MUST appear — with click-side nulls — once the watermark proves
    none can; unmatched clicks keep st13's null-emission behavior."""
    import datetime as dt

    from fsharp_mapreduce_spark.streaming.loader import (
        read_pull_stream,
        run_to_completion,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, "click", 0.0),
        (1, base + dt.timedelta(minutes=10), "purchase", 5.0),
        (2, base + dt.timedelta(minutes=20), "click", 0.0),
        (3, base + dt.timedelta(minutes=25), "purchase", 7.0),  # orphan
    ]
    schema = "user_id int, ts timestamp, event_type string, value double"

    def run(with_sentinel: bool, name: str):
        rws = list(rows)
        if with_sentinel:
            far = base + dt.timedelta(days=10)
            rws += [(-1, far, "click", 0.0), (-2, far, "purchase", 0.0)]
        staged = stage_as_chunked_files(
            spark.createDataFrame(rws, schema), n_chunks=2, order_by=["ts"]
        )
        clicks = (
            read_pull_stream(spark, staged)
            .withWatermark("ts", "1 hour")
            .where(F.col("event_type") == "click")
            .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        )
        purchases = (
            read_pull_stream(spark, staged)
            .withWatermark("ts", "1 hour")
            .where(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("value").alias("p_value"),
            )
        )
        joined = clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
            "full_outer",
        )
        out = run_to_completion(joined, name, output_mode="append")
        uid = F.coalesce(F.col("c_user"), F.col("p_user"))
        return {
            (r["uid"], r["c_ts"] is not None, r["p_ts"] is not None)
            for r in out.where(uid >= 0)
            .withColumn("uid", uid)
            .select("uid", "c_ts", "p_ts")
            .collect()
        }

    open_window = run(False, "st17_orphan_open")
    assert (1, True, True) in open_window, "matched pair must emit immediately"
    assert (3, False, True) not in open_window, (
        "orphan purchase emitted while a preceding click could still arrive"
    )
    assert (2, True, False) not in open_window, (
        "unmatched click emitted while its match window was still open"
    )
    closed = run(True, "st17_orphan_closed")
    assert (1, True, True) in closed
    assert (3, False, True) in closed, (
        "watermark closed user 3's window but no orphan-purchase row emitted"
    )
    assert (2, True, False) in closed, (
        "watermark closed user 2's window but no null click row emitted"
    )
    assert (1, True, False) not in closed and (1, False, True) not in closed, (
        "matched rows must not also emit outer-null twins"
    )


def test_st17_stream_equals_batch_full_join(spark):
    """Registered st17 vs its batch FULL JOIN twin on the smoke
    fixture (the driver's parity check at the gate SF)."""
    load_all_query_modules()
    got = {
        (
            r.user_id,
            r.n_pairs,
            r.n_unmatched_clicks,
            r.n_orphan_purchases,
            r.attributed_value,
        )
        for r in QUERIES["st17_stream_full_outer_join"].fn(spark, SF_SMOKE).collect()
    }
    ev = table(spark, SF_SMOKE, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    matched = F.col("c_ts").isNotNull() & F.col("p_ts").isNotNull()
    batch = (
        c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
            "full_outer",
        )
        .groupBy(F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"))
        .agg(
            F.sum(matched.cast("long")).cast("bigint").alias("n_pairs"),
            F.sum(F.col("p_ts").isNull().cast("long")).cast("bigint")
            .alias("n_unmatched_clicks"),
            F.sum(F.col("c_ts").isNull().cast("long")).cast("bigint")
            .alias("n_orphan_purchases"),
            F.round(
                F.coalesce(F.sum(F.when(matched, F.col("p_value"))), F.lit(0.0)), 4
            ).alias("attributed_value"),
        )
    )
    want = {
        (
            r.user_id,
            r.n_pairs,
            r.n_unmatched_clicks,
            r.n_orphan_purchases,
            r.attributed_value,
        )
        for r in batch.collect()
    }
    assert got == want


def test_st18_decay_fold_is_order_independent():
    """st18's re-anchoring algebra: folding batches in ANY order gives
    the same decayed sum as the direct Σ 0.5^((T_end − t_i)/H)
    definition — including a batch OLDER than the carried anchor
    (factor > 1 path). This is the property that frees st18 from the
    replay-order contract the watermark queries need."""
    import itertools

    import numpy as np

    from fsharp_mapreduce_spark.streaming.queries import DECAY_HALF_LIFE_US as H

    rng = np.random.default_rng(7)
    ts = np.sort(rng.integers(0, 48 * 3600 * 1_000_000, size=30))
    t_end = int(ts.max()) + 3600 * 1_000_000
    direct = float(np.exp2(-(t_end - ts).astype("float64") / H).sum())

    batches = [ts[:10], ts[10:20], ts[20:]]

    def fold_batches(order):
        sm, anchor, n = 0.0, 0, 0
        for b in order:
            tmax = int(b.max())
            contrib = float(np.exp2(-(tmax - b).astype("float64") / H).sum())
            if n == 0:
                sm, anchor = contrib, tmax
            else:
                na = max(anchor, tmax)
                sm = sm * 2.0 ** (-(na - anchor) / H) + contrib * 2.0 ** (
                    -(na - tmax) / H
                )
                anchor = na
            n += len(b)
        return sm * 2.0 ** (-(t_end - anchor) / H)

    for perm in itertools.permutations(batches):
        got = fold_batches(perm)
        assert abs(got - direct) < 1e-9 * max(1.0, direct), (got, direct)


def test_st19_semi_emission_and_uniqueness(spark):
    """Pins the LEFT SEMI stream-stream join's two load-bearing
    semantics: (a) EAGER emission — a click whose purchase has
    arrived emits without any watermark advancement (no sentinel in
    this fixture, watermark never passes the data), in contrast to
    the outer joins' null rows; (b) AT-MOST-ONCE — a click matched by
    THREE purchases emits exactly one row (an inner join would emit
    three); (c) membership — an unconverted click never emits."""
    import datetime as dt

    from fsharp_mapreduce_spark.streaming.loader import (
        read_pull_stream,
        run_to_completion,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, "click", 0.0),
        (1, base + dt.timedelta(minutes=5), "purchase", 5.0),
        (1, base + dt.timedelta(minutes=10), "purchase", 6.0),
        (1, base + dt.timedelta(minutes=15), "purchase", 7.0),
        (2, base + dt.timedelta(minutes=20), "click", 0.0),  # unconverted
        # purchase BEFORE its click in event time never matches
        (3, base + dt.timedelta(minutes=1), "purchase", 9.0),
        (3, base + dt.timedelta(minutes=2), "click", 0.0),
    ]
    schema = "user_id int, ts timestamp, event_type string, value double"
    staged = stage_as_chunked_files(
        spark.createDataFrame(rows, schema), n_chunks=2, order_by=["ts"]
    )
    clicks = (
        read_pull_stream(spark, staged)
        .where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        read_pull_stream(spark, staged)
        .where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_semi",
    )
    out = run_to_completion(joined, "st19_semi_pin", output_mode="append")
    got = [(r["c_user"],) for r in out.collect()]
    assert got.count((1,)) == 1, got  # one row despite three matches
    assert (2,) not in got, got  # unconverted click filtered
    assert (3,) not in got, got  # purchase-before-click never confirms


def test_st20_st21_join_matrix_consistency(spark):
    """The new matrix cells agree with their siblings on the smoke
    fixture: (1) st21 (anti) and st19 (semi) PARTITION the clicking
    users — every user with ≥1 click lands in at least one, and the
    per-user click totals add up (n_unconverted + n_converted_clicks
    = total clicks); (2) st20 (right outer) accounts for every
    purchase: Σ(n_pairs + n_orphans) ≥ the purchase count, with
    equality exactly when no purchase matches two clicks — so we pin
    the orphan+matched-purchase coverage instead: every purchasing
    user appears."""
    from fsharp_mapreduce_spark.registry import QUERIES, table

    semi = {
        r["user_id"]: r["n_converted_clicks"]
        for r in QUERIES["st19_stream_semi_join"].fn(spark, SF_SMOKE).collect()
    }
    anti = {
        r["user_id"]: r["n_unconverted"]
        for r in QUERIES["st21_stream_anti_join"].fn(spark, SF_SMOKE).collect()
    }
    ev = table(spark, SF_SMOKE, "events")
    clicks = {
        r["user_id"]: r["n"]
        for r in ev.where("event_type = 'click'")
        .groupBy("user_id").count().withColumnRenamed("count", "n").collect()
    }
    assert set(clicks) == set(semi) | set(anti)
    for u, n in clicks.items():
        assert semi.get(u, 0) + anti.get(u, 0) == n, (u, n, semi.get(u), anti.get(u))

    right = QUERIES["st20_stream_right_outer_join"].fn(spark, SF_SMOKE).collect()
    purchasers = {
        r["user_id"]
        for r in ev.where("event_type = 'purchase'").select("user_id").distinct().collect()
    }
    assert {r["user_id"] for r in right} == purchasers
    # every output row accounts its purchases: pairs + orphans ≥ 1
    assert all(r["n_pairs"] + r["n_orphans"] >= 1 for r in right)


def test_st22_stream_pii_audit_equals_batch(spark):
    """st22's per-micro-batch PII audit must be row-identical to the
    one-shot batch aggregation of t49's detector over the same planted
    corpus — the compliance stage loses nothing to chunked replay, and
    the stream sees every match class the batch detector sees."""
    from fsharp_mapreduce_spark.functions.text import pii_plant_expr, pii_redact

    docs = table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", pii_plant_expr().alias("text")
    )
    det = pii_redact(docs)
    batch = det.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            (
                (F.col("n_email") + F.col("n_phone") + F.col("n_ipv4") + F.col("n_ssn"))
                > 0
            ).cast("long")
        )
        .cast("bigint")
        .alias("n_docs_with_pii"),
        F.sum("n_email").cast("bigint").alias("n_email"),
        F.sum("n_phone").cast("bigint").alias("n_phone"),
        F.sum("n_ipv4").cast("bigint").alias("n_ipv4"),
        F.sum("n_ssn").cast("bigint").alias("n_ssn"),
    )
    stream = QUERIES["st22_stream_pii_audit"].fn(spark, SF_SMOKE)
    assert rows_as_set(stream) == rows_as_set(batch)
    # non-vacuous: the planted corpus has PII in every class
    totals = batch.agg(
        F.sum("n_email"), F.sum("n_phone"), F.sum("n_ipv4"), F.sum("n_ssn")
    ).collect()[0]
    assert all(v > 0 for v in totals), totals


def test_st23_stream_profile_audit_equals_batch(spark):
    """st23's per-micro-batch profile must be row-identical to the
    one-shot batch aggregation of the same planted corpus — the
    Analyzer stage loses nothing to chunked replay — and the null
    plant must be non-vacuous (some source really has missing text)
    while leaving the n_chars/doc_id ranges intact."""
    from fsharp_mapreduce_spark.streaming.queries import ST23_NULL_PLANT_MOD

    docs = table(spark, SF_SMOKE, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.when(F.col("doc_id") % ST23_NULL_PLANT_MOD == 0, F.lit(None))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    batch = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_text"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )
    stream = QUERIES["st23_stream_profile_audit"].fn(spark, SF_SMOKE)
    assert rows_as_set(stream) == rows_as_set(batch)
    rows = batch.collect()
    assert sum(r.n_null_text for r in rows) > 0, rows
    assert all(r.n_null_text < r.n_docs for r in rows), rows
    assert all(r.min_chars <= r.max_chars for r in rows), rows


def _st01_shape(stream):
    return stream.withWatermark("ts", "1 hour").groupBy(
        F.window("ts", "1 hour").getField("start").alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))


def test_stream_answer_is_partition_count_invariant(spark):
    """The fixture default runs state in one partition; the same stream
    over several state partitions (keyed exchange, one state store per
    partition) must land on the same batch answer."""
    from fsharp_mapreduce_spark.streaming.loader import (
        read_pull_stream,
        run_to_completion,
    )

    ev = table(spark, SF_SMOKE, "events")
    staged = stage_as_chunked_files(ev, n_chunks=4, memo_key=(SF_SMOKE, "events"))
    want = rows_as_set(_st01_shape(ev))
    for parts in (1, 4):
        out = run_to_completion(
            _st01_shape(read_pull_stream(spark, staged)),
            f"st01_parts_{parts}",
            shuffle_partitions=parts,
        )
        assert rows_as_set(out) == want, parts


def test_stream_checkpoints_fork_no_readlink(spark, tmp_path):
    """Spark's default FileContext checkpoint manager asks the local
    file system whether each renamed file is a symlink, and without
    libhadoop every ask forks `readlink` (248 over this 4-trigger
    stream). A local get_spark session checkpoints through the
    FileSystem-based manager, which forks none. Process starts are
    read from a JFR recording of the session's JVM."""
    from fsharp_mapreduce_spark import session
    from fsharp_mapreduce_spark.streaming.loader import (
        read_pull_stream,
        run_to_completion,
    )

    manager = "spark.sql.streaming.checkpointFileManagerClass"
    assert session.worker_conf("local[2]", None)[manager].endswith(
        ".FileSystemBasedCheckpointFileManager"
    )
    assert manager not in session.worker_conf("spark://h:7077", None)

    ev = table(spark, SF_SMOKE, "events")
    staged = stage_as_chunked_files(ev, n_chunks=4, memo_key=(SF_SMOKE, "events"))
    jvm = spark._jvm
    recording = jvm.jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try:
        run_to_completion(_st01_shape(read_pull_stream(spark, staged)), "st01_forks")
        # a known fork, so an empty recording cannot pass
        jvm.java.lang.Runtime.getRuntime().exec("true").waitFor()
    finally:
        recording.stop()
    dump = jvm.java.io.File(str(tmp_path / "forks.jfr")).toPath()
    recording.dump(dump)
    recording.close()
    programs = [
        str(e.getString("command")).split()[0].rsplit("/", 1)[-1]
        for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    ]
    assert "true" in programs
    assert programs.count("readlink") == 0, programs.count("readlink")


def test_pull_stream_schema_is_inferred_once_per_staging(spark):
    """A second read_pull_stream over the same staged directory starts
    no Spark job (its schema is memoised); restaging the directory with
    another schema is seen by the next read."""
    from fsharp_mapreduce_spark.scratch import scratch_dir
    from fsharp_mapreduce_spark.streaming.loader import read_pull_stream

    sc = spark.sparkContext
    out_dir = scratch_dir("fsmr_schema_memo_")

    def read(group: str):
        """Jobs the read started, and the columns it sees."""
        sc.setJobGroup(group, group)
        try:
            columns = read_pull_stream(spark, out_dir).schema.fieldNames()
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), columns

    ev = table(spark, SF_SMOKE, "events")
    stage_as_chunked_files(ev.select("event_id", "ts"), n_chunks=2, out_dir=out_dir)
    assert read("schema-memo-first") == (1, ["event_id", "ts"])
    assert read("schema-memo-second") == (0, ["event_id", "ts"])

    stage_as_chunked_files(ev.select("event_id", "value"), n_chunks=2, out_dir=out_dir)
    assert read("schema-memo-restaged") == (1, ["event_id", "value"])
