"""Distributed-ranking semantics tests: global_row_numbers must equal
the single-partition window row_number on arbitrary data — including
tie runs that straddle range-partition boundaries, partition counts
that don't divide the data, and more partitions than rows."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fsharp_mapreduce_spark.operators.windows import global_row_numbers


@pytest.mark.parametrize("n_parts", [1, 7, 32, 100])
def test_global_row_numbers_matches_window(spark, n_parts):
    rng = random.Random(7)
    # 21 distinct values over 5000 rows: every range boundary lands
    # inside a tie run, the case the unique-tiebreak contract covers.
    rows = [(i, rng.randint(0, 20)) for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, v long")
    sort_cols = [F.col("v").desc(), F.col("id")]
    got = {
        (r.id, r.rn)
        for r in global_row_numbers(df, sort_cols, n_partitions=n_parts).collect()
    }
    want = {
        (r.id, r.rn)
        for r in df.withColumn(
            "rn", F.row_number().over(W.orderBy(*sort_cols)).cast("bigint")
        ).collect()
    }
    assert got == want


def test_global_row_numbers_empty(spark):
    df = spark.createDataFrame([], "id long, v long")
    assert global_row_numbers(df, [F.col("v")], n_partitions=8).count() == 0


def test_q31_ranks_survive_cache_release_between_build_and_action(spark):
    """Code-review r4: global_row_numbers' staging is a CORRECTNESS
    barrier, not a perf cache — monotonically_increasing_id and range-
    boundary sampling are not stable across re-expanded plan copies.
    Build q31, let ANOTHER registry query trigger the scoped-cache
    release, then materialize: ranks must still be exactly right."""
    from fsharp_mapreduce_spark.registry import (
        QUERIES,
        load_all_query_modules,
        release_scoped_caches,
    )
    from tests.conftest import SF_SMOKE

    load_all_query_modules()

    df = QUERIES["q31_global_ranks_scalable"].fn(spark, SF_SMOKE)
    # simulate the interleaving: a second query build releases caches
    QUERIES["q01_pricing_summary"].fn(spark, SF_SMOKE)
    release_scoped_caches()
    spark.catalog.clearCache()
    got = {r.o_orderkey: (r.rn, r.rnk, r.dense_rnk) for r in df.collect()}
    # straight single-pass reference via a plain global window
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    u = W.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    w = W.orderBy(F.col("o_totalprice").desc())
    want = {
        r.o_orderkey: (r.rn, r.rnk, r.dense_rnk)
        for r in o.select(
            "o_orderkey",
            F.row_number().over(u).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("dense_rnk"),
        ).collect()
    }
    assert got == want


def test_q63_rewrite_matches_brute_force_and_tie_semantics(spark):
    """q63's first-occurrence rewrite against a brute-force python
    recomputation on a crafted frame with the hazards named: ts TIES
    where a NEW type appears (both tied rows must read the post-tie
    count — RANGE semantics), a repeated type (count must not move),
    and interleaved users."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(minutes=0), "a"),
        (1, base + dt.timedelta(minutes=1), "a"),  # repeat: no move
        (1, base + dt.timedelta(minutes=2), "b"),
        (1, base + dt.timedelta(minutes=2), "c"),  # tie introducing 'c'
        (1, base + dt.timedelta(minutes=3), "b"),
        (2, base + dt.timedelta(minutes=0), "z"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    import tempfile

    from fsharp_mapreduce_spark.scratch import scratch_dir

    d = scratch_dir("fsmr_t_win_")
    df.write.parquet(f"{d}/events.parquet")
    from fsharp_mapreduce_spark.registry import QUERIES

    got = {
        (r.user_id, r.n_types): r.first_reached
        for r in QUERIES["q63_running_distinct"].fn(spark, d).collect()
    }
    # brute force: per row, distinct types over all rows with ts <= row.ts
    per_row = {}
    for u, ts, _et in rows:
        seen = {e for (u2, t2, e) in rows if u2 == u and t2 <= ts}
        k = (u, len(seen))
        per_row[k] = min(per_row.get(k, ts), ts)
    assert got == per_row, (got, per_row)
    # the tie at minute 2 must read 3 for user 1 (RANGE semantics)
    assert (1, 3) in got and got[(1, 3)] == base + dt.timedelta(minutes=2)


def test_q67_bag_multiplicity_laws(spark):
    """exceptAll/intersectAll on planted multisets obey the
    SQL-standard multiplicity algebra: max(m_a−m_b, 0) and
    min(m_a, m_b) per value — including values absent from one side
    and values with equal counts (which must vanish from except_all
    but keep full multiplicity in intersect_all)."""
    a = spark.createDataFrame(
        [("x",)] * 3 + [("y",)] * 2 + [("z",)] * 1, "v string"
    )
    b = spark.createDataFrame([("x",)] * 1 + [("y",)] * 2 + [("w",)] * 4, "v string")
    ex = sorted(r.v for r in a.exceptAll(b).collect())
    ia = sorted(r.v for r in a.intersectAll(b).collect())
    assert ex == ["x", "x", "z"], ex  # 3-1 x, 2-2 y -> gone, 1-0 z
    assert ia == ["x", "y", "y"], ia  # min(3,1) x, min(2,2) y


def test_q69_exact_percentile_bisection_matches_sorted_list(spark):
    """exact_percentile_scalable == the k-th smallest of the sorted
    values (k = ceil(p*n)), on adversarial data: irrational-ish
    doubles (bisection can't land on round bucket edges), heavy ties
    (a single value owning 40% of the mass spans rank boundaries),
    and negatives. Also pins the bounded-state claim structurally:
    no percentile()/ObjectHashAggregate ever enters the plan — the
    only aggregates are count/min/max histograms."""
    import math

    from fsharp_mapreduce_spark.operators.relational import (
        exact_percentile_scalable,
    )

    vals = [math.sqrt(i) * ((-1) ** i) for i in range(1, 2001)]
    vals += [7.25] * 1300  # heavy tie block
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = exact_percentile_scalable(df, "x", percentiles=(0.01, 0.5, 0.9, 0.99))
    s = sorted(vals)
    n = len(vals)
    for p, k, v in got:
        assert k == max(1, math.ceil(p * n))
        assert v == s[k - 1], (p, k, v, s[k - 1])


def test_q70_grouped_bisection_matches_per_group_sorted_lists(spark):
    """grouped_exact_percentile: per-group k-th smallest matches the
    sorted per-group lists on uneven group sizes, adversarial doubles,
    and groups that converge at different rounds (one 2-element group
    converges immediately; one heavy-tie group stalls rank inside a
    single repeated value; one 3000-element irrational group bisects
    the full depth)."""
    import math

    from fsharp_mapreduce_spark.operators.relational import (
        grouped_exact_percentile,
    )

    groups = {
        "tiny": [4.5, -1.25],
        "ties": [3.125] * 900 + [math.pi * i for i in range(1, 101)],
        "wide": [math.sqrt(i) * ((-1) ** i) * 1e6 for i in range(1, 3001)],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, x double")
    got = [
        (r["g"], r["k"], r["value"])
        for r in grouped_exact_percentile(df, "g", "x", p=0.5).collect()
    ]
    assert [g for g, _, _ in got] == sorted(groups)
    for g, k, v in got:
        s = sorted(groups[g])
        assert k == max(1, math.ceil(0.5 * len(s)))
        assert v == s[k - 1], (g, k, v, s[k - 1])


def test_q69_log_spaced_doubles_exact_via_terminal_fallback(spark):
    """Log-spaced doubles (2^-200 .. 2^200) defeat LINEAR range
    narrowing — 1024x per pass crosses ~10 of 400 binades — which is
    exactly the distribution where the pre-fix bisection silently
    returned a wrong value after exhausting its pass budget. The
    convergence contract now finishes these exactly via the bounded
    terminal collect."""
    import math

    from fsharp_mapreduce_spark.operators.relational import (
        exact_percentile_scalable,
    )

    vals = [2.0**e for e in range(-200, 201)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = exact_percentile_scalable(df, "x", percentiles=(0.5, 0.9))
    s = sorted(vals)
    for p, k, v in got:
        assert k == max(1, math.ceil(p * len(vals)))
        assert v == s[k - 1], (p, v, s[k - 1])


def test_q69_nonconvergence_raises_not_silent(spark, monkeypatch):
    """With the exact-fallback window shrunk below the data size, the
    same log-spaced distribution must RAISE after the pass budget —
    never return the current range minimum as if it were exact (the
    round-7 ADVICE defect)."""
    from fsharp_mapreduce_spark.operators import relational

    monkeypatch.setattr(relational, "Q69_EXACT_FALLBACK_ROWS", 8)
    vals = [2.0**e for e in range(-500, 501)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    with pytest.raises(RuntimeError, match="no convergence"):
        relational.exact_percentile_scalable(df, "x", percentiles=(0.5,))


def test_q69_candidate_plan_size_bounded_across_rounds(spark, monkeypatch):
    """Each bisection pass narrows the candidates to one bucket of the
    previous pass's. The analyzed plan of the candidate set after the
    LAST pass of the nonconvergence input (the full pass budget) may
    exceed the one after pass 2 only by a constant, and Catalyst's size
    estimate for it must stay flat (the q70 checks below, for the
    global loop)."""
    from fsharp_mapreduce_spark.operators import relational

    sizes, estimate_digits = [], []
    range_candidates = relational._range_candidates

    def spy(*args):
        cand = range_candidates(*args)
        qe = cand._jdf.queryExecution()
        sizes.append(len(qe.analyzed().toString()))
        estimate_digits.append(len(str(qe.optimizedPlan().stats().sizeInBytes())))
        return cand

    monkeypatch.setattr(relational, "_range_candidates", spy)
    monkeypatch.setattr(relational, "Q69_EXACT_FALLBACK_ROWS", 8)
    vals = [2.0**e for e in range(-500, 501)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    with pytest.raises(RuntimeError, match="no convergence"):
        relational.exact_percentile_scalable(df, "x", percentiles=(0.5,))
    assert len(sizes) == relational.Q69_MAX_PASSES
    # slack for expression ids gaining digits, never a pass's predicate
    assert sizes[-1] - sizes[1] <= 64, sizes
    assert estimate_digits[-1] <= estimate_digits[1] + 2, estimate_digits


def test_q69_subnormal_width_range_underflow_guard(spark):
    """A range whose width/buckets underflows to 0.0 would make the
    linear bucket expression divide by zero (NaN buckets -> null group
    keys); the guard must finish exactly instead of crashing."""
    from fsharp_mapreduce_spark.operators.relational import (
        exact_percentile_scalable,
    )

    lo = 5e-324  # min subnormal; hi - lo = 1e-323, /1024 underflows
    vals = [lo, 2 * lo, 3 * lo]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = exact_percentile_scalable(df, "x", percentiles=(0.5,))
    assert got == [(0.5, 2, 2 * lo)], got


def test_q69_subnormal_width_too_many_candidates_raises(spark, monkeypatch):
    """Underflowed bucket width with a candidate set too large to
    collect exactly must refuse loudly."""
    from fsharp_mapreduce_spark.operators import relational

    monkeypatch.setattr(relational, "Q69_EXACT_FALLBACK_ROWS", 4)
    lo = 5e-324
    vals = [lo] * 6 + [2 * lo] * 6
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    with pytest.raises(RuntimeError, match="underflow"):
        relational.exact_percentile_scalable(df, "x", percentiles=(0.5,))


def test_q70_non_string_group_key_roundtrips(spark):
    """The broadcast bounds/pick schemas take the group field's type
    from the input schema — an INT group key must work end-to-end
    (the round-7 ADVICE hardcoded-'g string' defect)."""
    import math

    from fsharp_mapreduce_spark.operators.relational import (
        grouped_exact_percentile,
    )

    groups = {
        1: [math.sqrt(i) for i in range(1, 6001)],  # deep enough to bisect
        2: [7.5, -1.0, 3.25],
        -3: [0.0],
    }
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g int, x double")
    got = [
        (r["g"], r["k"], r["value"])
        for r in grouped_exact_percentile(df, "g", "x", p=0.5).collect()
    ]
    assert [g for g, _, _ in got] == sorted(groups)
    for g, k, v in got:
        s = sorted(groups[g])
        assert k == max(1, math.ceil(0.5 * len(s)))
        assert v == s[k - 1], (g, k, v, s[k - 1])


def test_q70_unbounded_group_cardinality_one_million_groups(spark):
    """r10 (VERDICT r9 #6): the bisection state is DataFrame-resident
    — no O(groups) driver dict, no catalog cap. One MILLION synthetic
    groups (3 values each: g, g+1M, g+2M → per-group median g+1M)
    resolve exactly on the vanilla JVM. Verified by total count, an
    exact closed-form checksum over every group's k and median, and a
    spot-check sample — a single wrong group breaks the sums."""
    from fsharp_mapreduce_spark.operators.relational import (
        grouped_exact_percentile,
    )

    n_g = 1_000_000
    df = spark.range(3 * n_g).selectExpr(
        f"id % {n_g} AS g", "CAST(id AS DOUBLE) AS x"
    )
    out = grouped_exact_percentile(df, "g", "x", p=0.5)
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sk"),
        F.sum("value").alias("sv"),
    ).first()
    assert agg["n"] == n_g
    assert agg["sk"] == 2 * n_g  # k = ceil(0.5 * 3) = 2, every group
    # sum over g of (g + n_g) = n_g*(n_g-1)/2 + n_g^2
    assert agg["sv"] == float(n_g * (n_g - 1) // 2 + n_g * n_g)
    spot = {
        r["g"]: (r["k"], r["value"])
        for r in out.where(F.col("g").isin(0, 1, 499_999, n_g - 1)).collect()
    }
    assert spot == {
        0: (2, float(n_g)),
        1: (2, float(1 + n_g)),
        499_999: (2, float(499_999 + n_g)),
        n_g - 1: (2, float(n_g - 1 + n_g)),
    }


def test_q70_log_spaced_group_exact_and_nonconvergence(spark, monkeypatch):
    """Per-group convergence contract: a log-spaced group finishes
    exactly via the terminal collect; with the fallback window shrunk
    below the group size it must raise, never emit its current lo."""
    import math

    from fsharp_mapreduce_spark.operators import relational

    vals = [2.0**e for e in range(-300, 301)]
    rows = [("log", v) for v in vals] + [("easy", float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, x double")
    got = {
        r["g"]: r["value"]
        for r in relational.grouped_exact_percentile(df, "g", "x", p=0.5).collect()
    }
    s = sorted(vals)
    assert got["log"] == s[math.ceil(0.5 * len(vals)) - 1]
    assert got["easy"] == 4.0

    monkeypatch.setattr(relational, "Q69_EXACT_FALLBACK_ROWS", 8)
    with pytest.raises(RuntimeError, match="no convergence"):
        relational.grouped_exact_percentile(df, "g", "x", p=0.5)


def test_q70_candidate_plan_size_bounded_across_rounds(spark, monkeypatch):
    """Each bisection round rebuilds its candidate set from the previous
    round's. That chain must not carry its lineage along: the analyzed
    plan of the candidate set after the LAST round of the nonconvergence
    input (the full pass budget) may exceed the one after round 2 only
    by a constant, not by the rounds in between. Catalyst's size
    estimate for it must not compound either (a checkpoint inherits
    it; an inner-join chain multiplies it every round)."""
    from fsharp_mapreduce_spark.operators import relational

    sizes, estimate_digits = [], []
    round_candidates = relational._round_candidates

    def spy(prev_cand, bounds):
        cand = round_candidates(prev_cand, bounds)
        qe = cand._jdf.queryExecution()
        sizes.append(len(qe.analyzed().toString()))
        estimate_digits.append(len(str(qe.optimizedPlan().stats().sizeInBytes())))
        return cand

    monkeypatch.setattr(relational, "_round_candidates", spy)
    monkeypatch.setattr(relational, "Q69_EXACT_FALLBACK_ROWS", 8)
    vals = [2.0**e for e in range(-300, 301)]
    rows = [("log", v) for v in vals] + [("easy", float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, x double")
    with pytest.raises(RuntimeError, match="no convergence"):
        relational.grouped_exact_percentile(df, "g", "x", p=0.5)
    assert len(sizes) > relational.Q69_MAX_PASSES
    # slack for expression ids gaining digits, never a round's subtree
    assert sizes[-1] - sizes[1] <= 64, sizes
    assert estimate_digits[-1] <= estimate_digits[1] + 2, estimate_digits
