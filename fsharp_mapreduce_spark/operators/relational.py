"""Relational operator library (SURVEY.md §2c) — scans, filter/project,
joins (broadcast/semi/anti/range), aggregations (incl. distinct,
cube/rollup/grouping sets), set ops, scalar functions, pivot, and the
reproduced dice query.

The reference has NO dedicated operators for any of this (its whole
surface is the generic map/reduce kernel, Common.fs:23-45); a reference
user would hand-write each as map/reduce closures. Here each is the
idiomatic Catalyst-optimized DataFrame plan: filters/projections push
into the parquet scan, small dims broadcast, aggregations get map-side
partial combine — all things the reference cannot do (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fsharp_mapreduce_spark.registry import register, table
from fsharp_mapreduce_spark.scratch import scratch_dir


def _rnd(col, n=4):
    return F.round(col, n)


# ---------------------------------------------------------------------------
# Scans / filter / projection
# ---------------------------------------------------------------------------


@register(
    "q02_filter_project",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_returnflag = 'N'
    """,
    tags=("scan", "filter", "project"),
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective filter + narrow projection. Both the predicate and the
    5-column read schema must reach the parquet scan (pushdown audit in
    tests/test_plans.py)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_quantity") > 45)
            & (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_returnflag") == "N")
        )
        .select(
            "l_orderkey",
            "l_partkey",
            "l_quantity",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4)                                       AS sum_qty,
           ROUND(SUM(l_extendedprice), 4)                                  AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)               AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
           ROUND(AVG(l_quantity), 6)      AS avg_qty,
           ROUND(AVG(l_extendedprice), 6) AS avg_price,
           ROUND(AVG(l_discount), 6)      AS avg_disc,
           COUNT(*)                       AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "groupby"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the hash-aggregate workhorse.
    Spark runs partial (map-side) aggregation then a final stage — the
    upgrade over the reference's per-pair shuffle (Worker.fs:81)."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _rnd(F.sum("l_quantity")).alias("sum_qty"),
            _rnd(F.sum("l_extendedprice")).alias("sum_base_price"),
            _rnd(F.sum(disc_price)).alias("sum_disc_price"),
            _rnd(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            _rnd(F.avg("l_quantity"), 6).alias("avg_qty"),
            _rnd(F.avg("l_extendedprice"), 6).alias("avg_price"),
            _rnd(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q09_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(DISTINCT l_suppkey) AS distinct_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "distinct"),
)
def q09_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column distinct aggregation (expand + two-phase agg in
    Spark; the reference user would need one MR pass per distinct)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q10_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "cube"),
)
def q10_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over returnflag × linestatus (all 2^2 grouping sets)."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        _rnd(F.sum("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q11_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           ROUND(SUM(o_totalprice), 4) AS sum_price,
           COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "rollup"),
)
def q11_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy: (status, priority) → (status) → ()."""
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        _rnd(F.sum("o_totalprice")).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q12_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           ROUND(AVG(o_totalprice), 6) AS avg_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    tags=("agg", "grouping_sets"),
)
def q12_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets — SQL path through Spark (same Catalyst
    Expand node the DataFrame cube/rollup emit)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               ROUND(AVG(o_totalprice), 6) AS avg_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "q03_broadcast_dim_join",
    oracle="""
    SELECT r_name AS region, n_name AS nation,
           COUNT(*) AS n_customers,
           ROUND(AVG(c_acctbal), 6) AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    tags=("join", "broadcast"),
)
def q03_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join through two tiny dims. Both dims are explicitly
    broadcast — zero shuffles on the fact side until the final agg."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _rnd(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
        )
    )


@register(
    "q04_revenue_by_nation",
    oracle="""
    SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name, YEAR(o_orderdate)
    """,
    tags=("join", "agg"),
)
def q04_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join (lineitem ⋈ orders on orderkey) followed by
    dim hops — with the aggregation PUSHED BELOW the join: lineitem is
    pre-aggregated to one (orderkey, revenue, count) row before
    joining, so the fact-fact exchange carries |orders| compact rows
    instead of |lineitem| wide ones (~4× fewer rows here, far more at
    TPC-H row widths; measured 30% faster at sf0.1). Legal because
    revenue/count are algebraic over the join key and orders⋈lineitem
    is key-to-foreign-key (no fan-out on the aggregated side). At
    100 TB both facts additionally bucket on orderkey so even the
    compact exchange disappears; dims broadcast."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
        .agg(
            _rnd(F.sum("rev")).alias("revenue"),
            F.sum("cnt").alias("n_items"),
        )
    )


@register(
    "q05_semi_join",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers_with_orders
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_totalprice > 100000)
    GROUP BY c_mktsegment
    """,
    tags=("join", "semi"),
)
def q05_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS): customers holding at least one big order."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 100000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_with_orders"))
    )


@register(
    "q06_anti_join",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers_without_orders
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
    tags=("join", "anti"),
)
def q06_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI (NOT EXISTS): customers with no orders at all."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_without_orders"))
    )


@register(
    "q07_range_join",
    oracle="""
    SELECT band, COUNT(*) AS n_parts, ROUND(AVG(p_retailprice), 6) AS avg_price
    FROM part
    JOIN (VALUES ('budget', 900.0, 930.0),
                 ('mid',    930.0, 970.0),
                 ('premium',970.0, 1000.0)) AS bands(band, lo, hi)
      ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band
    """,
    tags=("join", "range"),
)
def q07_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join against a small band table. The band side is
    broadcast so the non-equi condition becomes a broadcast
    nested-loop join — the only sane physical plan for theta joins."""
    p = table(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [("budget", 900.0, 930.0), ("mid", 930.0, 970.0), ("premium", 970.0, 1000.0)],
        "band string, lo double, hi double",
    )
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            _rnd(F.avg("p_retailprice"), 6).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations / distinct
# ---------------------------------------------------------------------------


@register(
    "q18_union",
    oracle="""
    SELECT kind, COUNT(*) AS n, ROUND(SUM(acctbal), 4) AS total_bal
    FROM (
      SELECT 'customer' AS kind, c_acctbal AS acctbal FROM customer
      UNION ALL
      SELECT 'supplier' AS kind, s_acctbal AS acctbal FROM supplier
    )
    GROUP BY kind
    """,
    tags=("setop", "union"),
)
def q18_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two heterogenous sources normalized to one schema
    (the reference analogue: concatenating two loaders)."""
    c = table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("kind"), F.col("c_acctbal").alias("acctbal")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"), F.col("s_acctbal").alias("acctbal")
    )
    return (
        c.unionByName(s)
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"), _rnd(F.sum("acctbal")).alias("total_bal"))
    )


@register(
    "q19_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
    tags=("setop", "intersect"),
)
def q19_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics): nations having both customers
    and suppliers."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "q20_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
    tags=("setop", "except"),
)
def q20_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics): nations with customers but no
    suppliers."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@register(
    "q21_distinct",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS qty_int
    FROM lineitem
    """,
    tags=("distinct",),
)
def q21_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates over a 3-column projection (hash-agg distinct)."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_returnflag", "l_linestatus", F.col("l_quantity").cast("bigint").alias("qty_int")
    ).dropDuplicates()


# ---------------------------------------------------------------------------
# Scalar function library / CASE / pivot / dice
# ---------------------------------------------------------------------------


@register(
    "q22_scalar_functions",
    oracle="""
    SELECT o_orderkey,
           UPPER(o_orderstatus)                            AS status_upper,
           SUBSTR(o_orderpriority, 1, 1)                   AS prio_code,
           CONCAT(o_orderstatus, '-', o_orderpriority)     AS status_prio,
           CAST(LENGTH(o_orderpriority) AS BIGINT)         AS prio_len,
           CAST(YEAR(o_orderdate) AS BIGINT)               AS order_year,
           CAST(MONTH(o_orderdate) AS BIGINT)              AS order_month,
           o_totalprice / 1000.0                           AS price_k,
           ABS(o_totalprice - 150000.0)                    AS dist_from_150k,
           CAST(o_orderkey % 97 AS BIGINT)                 AS key_mod
    FROM orders
    WHERE o_orderkey < 1000
    """,
    tags=("scalar",),
)
def q22_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar functions — the reference user calls
    .NET BCL inside closures (Example-Job.fs:53,69); here they are
    codegen'd JVM expressions, never Python."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_upper"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.length("o_orderpriority").cast("bigint").alias("prio_len"),
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        # No rounding: scalar IEEE ops are bit-identical across engines
        # (rounding only exists to kill aggregation-order noise).
        (F.col("o_totalprice") / 1000.0).alias("price_k"),
        F.abs(F.col("o_totalprice") - 150000.0).alias("dist_from_150k"),
        (F.col("o_orderkey") % 97).cast("bigint").alias("key_mod"),
    )


@register(
    "q23_case_bucketize",
    oracle="""
    SELECT CASE WHEN l_quantity < 10 THEN 'low'
                WHEN l_quantity < 30 THEN 'mid'
                ELSE 'high' END AS qty_bucket,
           COUNT(*) AS n,
           ROUND(SUM(l_extendedprice), 4) AS total_price
    FROM lineitem
    GROUP BY 1
    """,
    tags=("scalar", "case"),
)
def q23_case_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/WHEN bucketing + frequency count — the generalized form of
    the example job's Win/Lose projection (Example-Job.fs:52-54)."""
    li = table(spark, sf_dir, "lineitem")
    bucket = (
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 30, "mid")
        .otherwise("high")
    )
    return (
        li.groupBy(bucket.alias("qty_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _rnd(F.sum("l_extendedprice")).alias("total_price"),
        )
    )


@register(
    "q28_pivot",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'O'), 4) AS qty_open,
           ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'F'), 4) AS qty_filled
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("pivot",),
)
def q28_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns (explicit value list so Spark
    skips the extra distinct-values job)."""
    li = table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(_rnd(F.sum("l_quantity")))
    )
    return out.select(
        "l_returnflag",
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_filled"),
    )


@register(
    "q27_dice_frequency",
    oracle="""
    SELECT CASE WHEN (event_id % 6) + 1 = 3 THEN 'Win' ELSE 'Lose' END AS outcome,
           COUNT(*) AS n
    FROM events
    GROUP BY 1
    """,
    tags=("mapreduce", "flagship"),
)
def q27_dice_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's golden query (Example-Job.fs:52-61) made
    deterministic: die face derived from event_id instead of
    System.Random, Win on face 3, frequency-counted. Same plan shape
    as the compat path: project → hash-aggregate."""
    ev = table(spark, sf_dir, "events")
    roll = (F.col("event_id") % 6) + 1
    outcome = F.when(roll == 3, "Win").otherwise("Lose")
    return ev.groupBy(outcome.alias("outcome")).agg(F.count(F.lit(1)).alias("n"))


@register(
    "q29_quantiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("aggregation", "quantiles"),
)
def q29_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (linear interpolation — the
    cross-engine definition DuckDB's quantile_cont shares). At 100 TB
    the same plan swaps `percentile` for `percentile_approx`
    (t-digest): a bounded-memory mergeable sketch with identical call
    shape, at the cost of oracle-exactness; the exact form here keeps
    the differential gate byte-tight."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            _rnd(F.percentile("l_extendedprice", F.lit(q)), 4).alias(f"p{int(q * 100)}")
            for q in (0.25, 0.50, 0.75, 0.95)
        ]
    )


def salted_sum(df: DataFrame, key: str, val_col, n_salt: int = 16):
    """Two-phase skew-safe aggregation: fan each hot key across
    ``n_salt`` sub-keys (random salt), partially aggregate, then
    aggregate the partials. For algebraic aggregates (sum/count/min)
    Spark's map-side partial aggregation already compresses a hot key
    to one row per task — the salt buys nothing. The pattern earns its
    keep when per-key state does NOT compress map-side (collect_list /
    collect_set, exact count-distinct, percentile buffers): there, one
    hot key funnels its entire state through a single reducer, AQE
    can't help (it splits skewed JOIN partitions, not aggregation
    groups), and the salt spreads that state over n_salt reducers.
    Registered on an algebraic agg anyway so the oracle can pin the
    rewrite's correctness (identical answer by sum-associativity)."""
    salted = df.withColumn("_salt", (F.rand(seed=7) * n_salt).cast("int"))
    partial = salted.groupBy(key, "_salt").agg(
        F.sum(val_col).alias("_s"), F.count(F.lit(1)).alias("_c")
    )
    return partial.groupBy(key).agg(
        F.sum("_s").alias("_sum"), F.sum("_c").alias("_n")
    )


@register(
    "q30_salted_skew_agg",
    oracle="""
    SELECT l_returnflag AS grp,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("aggregation", "skew", "salting"),
)
def q30_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salting pattern on a deliberately low-cardinality key
    (3 distinct l_returnflag values ≡ the reference example's 2-key
    reduce, Example-Job.fs:53-54, where effective reduce parallelism
    collapses to the key count — the reference has no combiners,
    SURVEY.md §4 skew row). 3 keys × 16 salts = 48-way reduce fan-out;
    see salted_sum's docstring for when this genuinely beats Spark's
    own map-side partial aggregation. Answer is oracle-identical to
    the plain groupBy by sum-associativity."""
    li = table(spark, sf_dir, "lineitem")
    merged = salted_sum(
        li, "l_returnflag", F.col("l_extendedprice") * (1 - F.col("l_discount"))
    )
    return merged.select(
        F.col("l_returnflag").alias("grp"),
        F.round("_sum", 2).alias("revenue"),
        F.col("_n").alias("n"),
    )


@register("q32_approx_distinct", oracle=None, tags=("aggregation", "sketch", "hll"))
def q32_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts per group — THE
    100 TB cardinality operator: fixed ~kB of mergeable sketch state
    per group regardless of cardinality, map-side combined, vs exact
    count-distinct whose per-key state grows with the distinct set
    and funnels through the shuffle (q30's docstring names that skew
    pathology). rsd=0.02 ≈ 1.5 kB of registers per group.

    Rows-only at the gate BY NATURE: Spark's HLL++ and DuckDB's HLL
    are different sketches with different estimates — there is no
    cross-engine value to hash-match. The estimate-vs-exact relative
    error (≤ 5%) and the sketch's group-merge consistency are pinned
    by tests/test_oracle_differential.py::test_approx_distinct_error.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q34_correlated_subquery",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice AS price
    FROM orders o
    WHERE o.o_totalprice > 2 * (
            SELECT AVG(o2.o_totalprice) FROM orders o2
            WHERE o2.o_custkey = o.o_custkey
          )
      AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45
          )
    """,
    tags=("subquery", "decorrelation"),
)
def q34_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery + correlated EXISTS, written as
    straight SQL: orders worth more than 2× their customer's average
    that also contain a ≥45-quantity line. Catalyst DECORRELATES both
    (RewriteCorrelatedScalarSubquery → aggregate+join;
    RewriteSubquery → left-semi join), so the physical plan is two
    shuffles and a semi join — no per-row subquery execution exists at
    any scale. The reference could only express this as two chained
    MR passes (SURVEY.md §2c joins row)."""
    load_tables_sql = table(spark, sf_dir, "orders"), table(spark, sf_dir, "lineitem")
    load_tables_sql[0].createOrReplaceTempView("orders")
    load_tables_sql[1].createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice AS price
        FROM orders o
        WHERE o.o_totalprice > 2 * (
                SELECT AVG(o2.o_totalprice) FROM orders o2
                WHERE o2.o_custkey = o.o_custkey
              )
          AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45
              )
        """
    )


@register(
    "q35_udtf_tokenize",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
      WHERE doc_id < 50
    )
    SELECT doc_id,
           CAST(i - 1 AS BIGINT) AS pos,
           ws[i] AS token
    FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM t)
    """,
    tags=("udtf", "lateral"),
)
def q35_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Python UDTF (Spark 4 `@udtf`) in a LATERAL join — the
    modern form of the reference's map fn (`obj -> KV list`,
    Worker.fs:20: one input row, arbitrarily many output rows, shipped
    as a pickled closure). Registered on a bounded slice because a
    row-at-a-time Python UDTF is the SLOW path by design — the engine's
    hot paths express the same explode as Catalyst generators (t16) or
    Arrow batches; this query exists to cover the API surface and pin
    its semantics against the oracle."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, token string")
    class Tokenize:
        def eval(self, text: str):
            for i, t in enumerate((text or "").lower().split(" ")):
                yield i, t

    spark.udtf.register("fsmr_tokenize", Tokenize)
    table(spark, sf_dir, "documents").where(F.col("doc_id") < 50).select(
        "doc_id", "text"
    ).createOrReplaceTempView("q35_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM q35_docs d, LATERAL fsmr_tokenize(d.text) t
        """
    )


@register(
    "q36_array_functions",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
      FROM lineitem WHERE l_orderkey < 200
      GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           CAST(len(qs) AS BIGINT) AS n_items,
           ROUND(qs[1], 4) AS q_min,
           ROUND(qs[-1], 4) AS q_max,
           ROUND(list_reduce(list_prepend(0.0, qs), (a, b) -> a + b), 4)
             AS q_sum,
           ROUND(list_reduce(list_prepend(0.0, list_reverse_sort(qs)[1:2]),
                             (a, b) -> a + b), 4)
             AS top2_sum
    FROM per_order
    """,
    tags=("array", "higher_order"),
)
def q36_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order scalar functions over grouped data:
    collect_list → sort_array (collect order is shuffle-dependent, the
    sort restores determinism) → element_at / slice / aggregate fold.
    The fold runs in index order on both engines, so even the float
    sums are bit-comparable. This is the array-column manipulation
    surface (the reference's closest analogue is .NET list code inside
    closures, Example-Job.fs:46-49)."""
    li = table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    qs = F.sort_array(F.collect_list("l_quantity"))
    per_order = li.groupBy("l_orderkey").agg(qs.alias("qs"))
    fold = lambda col: F.aggregate(col, F.lit(0.0), lambda a, b: a + b)  # noqa: E731
    # positive-index slice of the DESC sort: clamps identically in both
    # engines when the array has one element (negative-start slicing
    # does not)
    top2 = F.slice(F.sort_array("qs", False), 1, 2)
    return per_order.select(
        "l_orderkey",
        F.size("qs").cast("bigint").alias("n_items"),
        F.round(F.element_at("qs", 1), 4).alias("q_min"),
        F.round(F.element_at("qs", -1), 4).alias("q_max"),
        F.round(fold(F.col("qs")), 4).alias("q_sum"),
        F.round(fold(top2), 4).alias("top2_sum"),
    )


@register(
    "q37_approx_quantiles", oracle=None, tags=("aggregation", "sketch", "quantiles")
)
def q37_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles per group (`percentile_approx`,
    Greenwald-Khanna/t-digest-style mergeable sketch) — q29's exact
    twin with bounded memory: per-group state is the sketch's
    compression budget (accuracy 10 000 ≈ tens of kB), not the value
    set, so one hot group cannot funnel its values through a single
    reducer (q30's skew pathology). The 100 TB default; q29's exact
    form remains the oracle-tight variant.

    Rows-only at the gate BY NATURE (DuckDB's approx_quantile is a
    different sketch); the estimate-vs-exact relative error is pinned
    by tests/test_oracle_differential.py::test_approx_quantiles_error.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(
                F.percentile_approx("l_extendedprice", F.lit(q), F.lit(10000)), 4
            ).alias(f"ap{int(q * 100)}")
            for q in (0.25, 0.50, 0.75, 0.95)
        ]
    )


@register(
    "q33_full_outer_join",
    oracle="""
    WITH rich_c AS (
      SELECT c_nationkey AS nk, COUNT(*) AS n_cust
      FROM customer WHERE c_acctbal > 9000 GROUP BY 1
    ),
    poor_s AS (
      SELECT s_nationkey AS nk, COUNT(*) AS n_supp
      FROM supplier WHERE s_acctbal < 0 GROUP BY 1
    )
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(c.n_cust, 0) AS n_rich_customers,
           COALESCE(s.n_supp, 0) AS n_poor_suppliers,
           CAST(c.nk IS NOT NULL AS BIGINT) AS has_customers,
           CAST(s.nk IS NOT NULL AS BIGINT) AS has_suppliers
    FROM rich_c c FULL OUTER JOIN poor_s s ON c.nk = s.nk
    """,
    tags=("join", "outer"),
)
def q33_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with genuinely unmatched rows on both sides
    (selective filters make some nations customer-only and some
    supplier-only): completes the join-type surface next to
    inner/broadcast (q03/q04), semi (q05), anti (q06), range (q07) and
    as-of (q08). Null-side handling is explicit — COALESCE'd counts
    plus presence flags — because outer-join nulls are where
    hand-rolled MR joins silently drop rows (the reference user's
    2-pass tagged-union join has no null semantics at all)."""
    c = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    j = c.join(s, c.c_nk == s.s_nk, "full_outer")
    return j.select(
        F.coalesce("c_nk", "s_nk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_rich_customers"),
        F.coalesce("n_supp", F.lit(0)).alias("n_poor_suppliers"),
        F.col("c_nk").isNotNull().cast("bigint").alias("has_customers"),
        F.col("s_nk").isNotNull().cast("bigint").alias("has_suppliers"),
    )


@register(
    "q41_recursive_calendar",
    oracle="""
    WITH RECURSIVE cal(m, mx) AS (
      SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS TIMESTAMP),
             CAST(date_trunc('month', MAX(o_orderdate)) AS TIMESTAMP)
      FROM orders
      UNION ALL
      SELECT m + INTERVAL 1 MONTH, mx FROM cal WHERE m < mx
    )
    SELECT CAST(m AS DATE) AS month,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0), 4) AS revenue
    FROM cal LEFT JOIN orders
      ON CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) = cal.m
    GROUP BY m
    """,
    tags=("sql", "recursive_cte", "calendar"),
)
def q41_recursive_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE) — calendar
    densification: generate every month between the first and last
    order date BY RECURSION, then left-join monthly order counts, so
    gap months surface as zero rows (the densification reports need
    that batch group-bys silently drop). The recursion is
    METADATA-sized — ~80 single-row iterative steps on the driver-side
    loop, nothing corpus-shaped recurses — and the fact-side join +
    agg stay ordinary distributed operators; depth is bounded by the
    date span. The fixture's ~84-month span sits uncomfortably close
    to spark.sql.cteRecursionLevelLimit's default of 100 — a corpus
    spanning >8.3 years would fail at runtime — so the limit is raised
    explicitly (5000 months ≈ 400 years; still metadata-sized,
    ADVICE r4). The override is scoped, not leaked into the shared
    session (ADVICE r5): the limit is consumed at EXECUTION time, so
    the ~84-row result is eagerly materialized (localCheckpoint)
    inside the try/finally — restoring before returning a lazy plan
    would re-impose the default at collect time. DuckDB runs the
    identical recursive SQL — the one query in the registry where
    BOTH engines execute the same text verbatim."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    prev = spark.conf.get("spark.sql.cteRecursionLevelLimit", None)
    spark.conf.set("spark.sql.cteRecursionLevelLimit", "5000")
    try:
        return spark.sql(
            """
        WITH RECURSIVE cal(m, mx) AS (
          SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS TIMESTAMP),
                 CAST(date_trunc('month', MAX(o_orderdate)) AS TIMESTAMP)
          FROM orders
          UNION ALL
          SELECT m + INTERVAL 1 MONTH, mx FROM cal WHERE m < mx
        )
        SELECT CAST(m AS DATE) AS month,
               CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
               ROUND(COALESCE(SUM(o_totalprice), 0), 4) AS revenue
        FROM cal LEFT JOIN orders
          ON CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) = cal.m
        GROUP BY m
        """
        ).localCheckpoint(eager=True)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.cteRecursionLevelLimit")
        else:
            spark.conf.set("spark.sql.cteRecursionLevelLimit", prev)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_on: "Column",
    n_salt: int = 16,
) -> DataFrame:
    """Skew-safe shuffle join: replicate the small side across
    ``n_salt`` sub-keys and salt the big side deterministically
    (``pmod(xxhash64(salt_on), n_salt)``), so a hot join key's rows
    spread over n_salt reducers instead of funneling through one.

    When to reach for it — in order of preference at 100 TB:
    1. broadcast the small side (q03): kills the shuffle entirely;
       only impossible when the small side exceeds broadcast limits;
    2. AQE skew-join (on by default here): splits oversized SHUFFLE
       partitions at runtime — but it can only split what one join key
       doesn't atomically own; a single key holding 30% of the fact
       table still lands on one reducer;
    3. THIS: the only rewrite that subdivides a single hot KEY, at the
       cost of n_salt× replication of the small side (bounded:
       |small|·n_salt rows ride the shuffle).
    The salt is a pure function of ``salt_on`` (pick a high-
    cardinality column), so the rewrite is deterministic and
    retry/partitioning-invariant. Result ≡ the unsalted join: every
    big row meets exactly the one small replica carrying its salt."""
    salted_big = big.withColumn("_salt", F.pmod(F.xxhash64(salt_on), F.lit(n_salt)))
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    # shuffle_hash hint: the pattern targets the can't-broadcast case,
    # so the demo must pin the SHUFFLE join shape (otherwise Spark
    # rightly broadcasts the fixture-sized small side and the salt
    # demonstrates nothing)
    return salted_big.join(
        salted_small.hint("shuffle_hash"), [key, "_salt"]
    ).drop("_salt")


@register(
    "q42_salted_skew_join",
    oracle="""
    SELECT e.event_type,
           COUNT(*) AS n,
           ROUND(SUM(e.value * d.weight), 4) AS weighted_value
    FROM events e
    JOIN (SELECT event_type, CAST(LENGTH(event_type) AS BIGINT) AS weight
          FROM events GROUP BY event_type) d
      ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
    tags=("join", "skew", "salting"),
)
def q42_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salting pattern on a JOIN (q30 is its aggregation twin):
    events join a low-cardinality event_type dimension — the shape
    where every row of a hot key lands on one reducer in a plain
    shuffle join. `salted_join` spreads each key over 16 sub-keys
    (deterministic xxhash64 salt on user_id) and replicates the dim
    16×; the exchange is keyed (event_type, _salt), plan-pinned by
    tests/test_plans.py::test_q42_salted_join_spreads_key. Answer is
    oracle-identical to the unsalted join."""
    ev = table(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(
        F.length(F.first("event_type")).cast("bigint").alias("weight")
    )
    joined = salted_join(
        ev.select("event_type", "value", "user_id"),
        dim,
        "event_type",
        salt_on=F.col("user_id"),
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("value") * F.col("weight")), 4).alias("weighted_value"),
    )


_Q43_SQL = """
SELECT n.n_name AS nation, t.c_name AS customer, t.bal
FROM nation n,
LATERAL (
  SELECT c_name, ROUND(c_acctbal, 2) AS bal
  FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name
  LIMIT 2
) t
"""


@register(
    "q43_lateral_topk_join",
    oracle=_Q43_SQL,
    tags=("join", "lateral", "decorrelation", "topk"),
)
def q43_lateral_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery join — top-2 customers per nation
    written the way an analyst writes it (a per-row dependent
    subquery), executed the way a distributed engine must: Catalyst's
    decorrelation rewrites the LATERAL into a windowed per-key top-k
    plus a broadcast equi-join (verified in the plan — no
    per-outer-row re-execution of the inner query anywhere), so the
    apparent O(|nation| × |customer|) correlation costs one pass over
    customer. The second query sharing q41's 'both engines run the
    IDENTICAL SQL text verbatim' property — DuckDB executes the same
    string as its own LATERAL."""
    table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_Q43_SQL)


def skew_report(df: DataFrame, key) -> DataFrame:
    """One-row skew diagnosis for a prospective shuffle key — the
    audit you run BEFORE a 100 TB groupBy/join to decide between a
    plain shuffle, AQE, salting (q30/q42) or a broadcast: total rows,
    distinct keys, the hottest key's row count and share, p50/p99
    per-key sizes and the p99/p50 ratio. Two keyed aggregations (the
    per-key count is itself map-side combined), output is one row —
    the diagnostic costs one pass regardless of table size."""
    per_key = df.groupBy(F.col(key).alias("k")).agg(F.count(F.lit(1)).alias("n"))
    return per_key.agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("n").cast("bigint").alias("max_key_rows"),
        _rnd(F.max("n") / F.sum("n"), 6).alias("max_share"),
        _rnd(F.percentile("n", F.lit(0.5)), 4).alias("p50_key_rows"),
        _rnd(F.percentile("n", F.lit(0.99)), 4).alias("p99_key_rows"),
        _rnd(
            F.percentile("n", F.lit(0.99)) / F.percentile("n", F.lit(0.5)), 6
        ).alias("skew_ratio"),
    )


@register(
    "q45_skew_audit",
    oracle="""
    WITH per_key AS (
      SELECT user_id AS k, COUNT(*) AS n FROM events GROUP BY user_id
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(n) AS BIGINT) AS max_key_rows,
           ROUND(MAX(n) * 1.0 / SUM(n), 6) AS max_share,
           ROUND(quantile_cont(n, 0.5), 4) AS p50_key_rows,
           ROUND(quantile_cont(n, 0.99), 4) AS p99_key_rows,
           ROUND(quantile_cont(n, 0.99) / quantile_cont(n, 0.5), 6) AS skew_ratio
    FROM per_key
    """,
    tags=("aggregation", "skew", "diagnostics"),
)
def q45_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`skew_report` on the event stream's user_id — the diagnosis
    half of the skew story (q30 salted agg and q42 salted join are
    the remediation half): one cheap pass answers "is this key safe
    to shuffle on, and if not, how hot is the hot key?". Exact
    percentiles for the oracle gate (the q29 rule); at 100 TB the
    same plan swaps percentile for percentile_approx."""
    return skew_report(table(spark, sf_dir, "events"), "user_id")


def semi_reduce(fat: DataFrame, keys: DataFrame, fat_key: str, key_col: str) -> DataFrame:
    """Semi-join reduction: shrink the fat side of a big-big join
    BEFORE it shuffles, by broadcasting just the join KEYS of the
    (filtered) other side and applying them as a map-side LEFT SEMI.

    The 100 TB scenario this exists for: fact ⋈ filtered-dim where the
    filtered dim is too wide/large to broadcast for the payload join,
    but its distinct keys (8 bytes each) fit comfortably — 10M bigint
    keys ≈ 80 MB. The semi runs inside the fact table's scan stage
    (no exchange of fat rows that can't match), so the payload
    shuffle join only moves survivors. This is the exact-key version
    of what Spark's runtime bloom-filter join
    (spark.sql.optimizer.runtime.bloomFilter.enabled) and dynamic
    partition pruning do automatically in narrower cases; when even
    the distinct keys outgrow the broadcast budget, swap this exact
    key list for a bloom filter — same plan shape, bounded false
    positives re-checked by the payload join anyway."""
    k = keys.select(F.col(key_col)).distinct()
    return fat.join(
        F.broadcast(k), fat[fat_key] == k[key_col], "left_semi"
    )


@register(
    "q46_semijoin_reduction",
    oracle="""
    SELECT CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
    tags=("join", "semi_join_reduction", "runtime_filter"),
)
def q46_semijoin_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-order revenue by month via `semi_reduce`: lineitem is
    pre-filtered by a broadcast LEFT SEMI on the distinct filtered
    order keys (map-side, inside the scan stage), then the payload
    join runs as a SHUFFLE hash join over survivors only — the
    can't-broadcast-the-payload case pinned with a shuffle_hash hint
    exactly like q42 (at fixture scale Spark would rightly broadcast
    the whole filtered orders side and the reduction would demonstrate
    nothing). Answer ≡ the plain join+filter; the priority predicate
    is pushed into the orders parquet scan on both uses
    (tests/test_plans.py::test_q46_semi_reduce_shape)."""
    li = table(spark, sf_dir, "lineitem")
    urgent = table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    reduced = semi_reduce(li, urgent, "l_orderkey", "o_orderkey")
    joined = reduced.join(
        urgent.hint("shuffle_hash"),
        reduced["l_orderkey"] == urgent["o_orderkey"],
    )
    return joined.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        _rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue"
        ),
    )


@register(
    "q47_grouped_stats",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr,
           ROUND(covar_samp(l_extendedprice, l_quantity), 4) AS price_qty_covar,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           ROUND(stddev_samp(l_extendedprice), 4) AS price_stddev,
           ROUND(var_samp(l_quantity), 4) AS qty_var
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("aggregation", "statistics", "regression"),
)
def q47_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group statistical aggregates — correlation, sample
    covariance, OLS slope/intercept/R², stddev/variance — the
    exploratory-analysis family q01 omits. All eight are one-pass
    co-moment aggregates (Welford-style partial states that merge
    associatively), so the whole result costs ONE keyed exchange with
    map-side partial combine: at 100 TB each partition reduces to a
    handful of co-moment scalars per group before anything shuffles.
    The same shape a reference user would need ~8 hand-written
    reduce closures for. Plan-pinned single-exchange
    (tests/test_plans.py::test_q47_stats_single_exchange)."""
    li = table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _rnd(F.corr(y, x), 6).alias("price_qty_corr"),
        _rnd(F.covar_samp(y, x)).alias("price_qty_covar"),
        _rnd(F.regr_slope(y, x)).alias("slope"),
        _rnd(F.regr_intercept(y, x)).alias("intercept"),
        _rnd(F.regr_r2(y, x), 6).alias("r2"),
        _rnd(F.stddev_samp(y)).alias("price_stddev"),
        _rnd(F.var_samp(x)).alias("qty_var"),
    )


def write_agg_state(partials: DataFrame, path: str) -> None:
    """Materialize mergeable aggregation state (the materialized-view
    pattern): write per-key PARTIALS — sums, counts, co-moments,
    sketch states — never finalized ratios/averages, so later batches
    merge associatively without touching history rows."""
    partials.write.mode("overwrite").parquet(path)


def merge_agg_state(
    state: DataFrame, batch_partials: DataFrame, keys: list[str]
) -> DataFrame:
    """Merge stored partials with a new batch's partials: union + one
    keyed re-aggregation over STATE-SIZED inputs (key cardinality, not
    row cardinality). Every non-key column must be sum-mergeable."""
    merged = state.unionByName(batch_partials)
    sums = [F.sum(c).alias(c) for c in merged.columns if c not in keys]
    return merged.groupBy(*keys).agg(*sums)


@register(
    "q49_incremental_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS revenue
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("aggregation", "incremental", "materialized_view"),
)
def q49_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance, the t30/s13 asymmetry
    applied to a materialized view: revenue by (priority, month) where
    history (< 1998) was folded ONCE into on-disk per-key partials
    (sum + count — associative state, never finalized averages) and
    absorbing the new batch costs O(batch) + O(state): the merged plan
    scans the state parquet plus ONLY the batch slice of orders (the
    cutoff predicate is a pushed parquet filter — plan-pinned; history
    rows are never re-read). The ORACLE is the full recompute over all
    of orders — the value-hash match IS the proof that
    partial-fold-then-merge equals the one-shot aggregate. For
    avg/variance keep (sum, count, M2) co-moments; for distinct
    counts keep HLL sketch state — same merge discipline.

    The history/batch split is EXHAUSTIVE: NULL order dates (which
    satisfy neither side of a plain `<`/`>=` pair) ride with the
    batch, so the recompute equivalence holds on any data, not just
    null-free fixtures. State lands in a fresh mkdtemp dir per
    invocation (the st08 sink discipline) — concurrent runs never
    overwrite each other's partials mid-read."""
    import tempfile

    o = table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "o_orderpriority",
            F.date_trunc("month", F.col("o_orderdate")).alias("order_month"),
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_totalprice").alias("revenue_sum"),
        )

    state_path = scratch_dir("fsmr_aggstate_")
    write_agg_state(partials(o.where(F.col("o_orderdate") < cutoff)), state_path)

    state = spark.read.parquet(state_path)
    batch = partials(
        o.where((F.col("o_orderdate") >= cutoff) | F.col("o_orderdate").isNull())
    )
    merged = merge_agg_state(state, batch, ["o_orderpriority", "order_month"])
    return merged.select(
        "o_orderpriority",
        "order_month",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        _rnd(F.col("revenue_sum")).alias("revenue"),
    )


@register(
    "q50_local_supplier_revenue",
    oracle="""
    SELECT n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
    tags=("join", "composite", "tpch"),
)
def q50_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume) — the composite flagship that
    exercises the whole relational stack in ONE plan: a six-table join
    (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region) with
    a selective date predicate, a region filter that prunes through
    two dimension hops, and a grouped revenue aggregate. The
    scale-ordering is explicit: every table enters pre-projected to
    its join keys + payload (column pruning to the scans), the date
    range is a pushed parquet filter on orders, region→nation
    collapses to a broadcast 5-row dimension, and the fact-fact
    lineitem⋈orders join shuffles only pruned columns — Catalyst/AQE
    choose broadcast vs shuffle per side by size, exactly what a
    hand-scheduled reference job cannot re-plan at runtime."""
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = (
        table(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net"),
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _rnd(F.sum("net")).alias("revenue"),
    )


def scd2_upsert(
    dim: DataFrame, updates: DataFrame, key: str, ts_col: str
) -> DataFrame:
    """Slowly-changing-dimension type-2 MERGE: apply an update batch
    to a versioned dimension (columns: ``key``, tracked attributes,
    ``valid_from``, ``valid_to`` NULL-when-current, ``is_current``),
    closing the current version of each genuinely-changed key at the
    update's timestamp and opening a new current version — history
    rows keep full audit lineage, point-in-time joins stay exact.

    O(affected keys) by construction: history rows pass through
    untouched (no join, no shuffle — in a lakehouse they stay on disk
    via `merge_upsert`'s partition-overwrite discipline); only the
    CURRENT slice joins the batch, keyed on ``key`` (broadcast when
    the batch is small — the nightly-CDC norm). No-op updates (every
    tracked attribute equal) are detected and dropped, so re-running
    yesterday's feed creates zero spurious versions — the merge is
    idempotent.

    Contract (the `merge_upsert` discipline): the batch must carry at
    least one tracked attribute and AT MOST ONE row per key — two
    changes to one key in a window would close the current version
    twice and open two "current" rows; collapse the feed to
    latest-per-key first."""
    attrs = [c for c in updates.columns if c not in (key, ts_col)]
    if not attrs:
        raise ValueError(
            f"scd2_upsert: updates carries no tracked attribute columns "
            f"besides ({key}, {ts_col})"
        )
    n_dup_keys = (
        updates.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .limit(1)
        .count()
    )
    if n_dup_keys:
        raise ValueError(
            "scd2_upsert: updates contains multiple rows for one key; "
            "collapse to latest-per-key before merging"
        )
    cur = dim.where(F.col("is_current"))
    hist = dim.where(~F.col("is_current"))
    cmp_cols = [
        (F.col(f"u.{a}").eqNullSafe(F.col(f"c.{a}"))) for a in attrs
    ]
    all_equal = cmp_cols[0]
    for c in cmp_cols[1:]:
        all_equal = all_equal & c
    effective = (
        updates.alias("u")
        .join(cur.alias("c"), F.col(f"u.{key}") == F.col(f"c.{key}"), "left")
        .where(F.col(f"c.{key}").isNull() | ~all_equal)
        .select("u.*")
    )
    eff_keys = effective.select(key, ts_col)
    closed = (
        cur.join(eff_keys, key, "inner")
        .withColumn("valid_to", F.col(ts_col))
        .withColumn("is_current", F.lit(False))
        .drop(ts_col)
    )
    untouched = cur.join(eff_keys.select(key), key, "left_anti")
    opened = (
        effective.withColumnRenamed(ts_col, "valid_from")
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )
    return (
        hist.unionByName(closed)
        .unionByName(untouched)
        .unionByName(opened.select(*hist.columns))
    )


@register(
    "q51_scd2_upsert",
    oracle="""
    WITH base AS (SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal FROM customer)
    SELECT c_custkey, acctbal,
           TIMESTAMP '1995-01-01' AS valid_from,
           TIMESTAMP '1997-06-01' AS valid_to,
           FALSE AS is_current
    FROM base WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT c_custkey, acctbal,
           TIMESTAMP '1995-01-01', CAST(NULL AS TIMESTAMP), TRUE
    FROM base WHERE c_custkey % 10 <> 0
    UNION ALL
    SELECT c_custkey, ROUND(ROUND(c_acctbal, 2) + 100.0, 2),
           TIMESTAMP '1997-06-01', CAST(NULL AS TIMESTAMP), TRUE
    FROM customer WHERE c_custkey % 10 = 0
    """,
    tags=("dimension", "scd2", "cdc", "merge"),
)
def q51_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`scd2_upsert` on the customer dimension: the initial load is
    version 1 (valid_from 1995-01-01, current); a deterministic CDC
    batch (every 10th customer's balance +100 at 1997-06-01) closes
    those keys' first versions and opens new current ones. The oracle
    states the expected FINAL version table directly — closed rows
    carry the batch timestamp as valid_to, untouched keys remain
    open, new versions are current — so the hash match proves the
    merge semantics, not just row counts."""
    c = table(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.lit("1995-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = c.where(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.round(F.round("c_acctbal", 2) + 100.0, 2).alias("acctbal"),
        F.lit("1997-06-01").cast("timestamp").alias("ts"),
    )
    return scd2_upsert(dim, updates, "c_custkey", "ts")


@register(
    "q53_unpivot_metrics",
    oracle="""
    SELECT l_returnflag, metric, val FROM (
      SELECT l_returnflag,
             ROUND(SUM(l_quantity), 4) AS sum_qty,
             ROUND(SUM(l_extendedprice), 4) AS sum_price,
             ROUND(AVG(l_discount), 6) AS avg_disc
      FROM lineitem GROUP BY 1
    ) UNPIVOT INCLUDE NULLS (val FOR metric IN (sum_qty, sum_price, avg_disc))
    """,
    tags=("reshape", "unpivot", "melt"),
)
def q53_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt — the inverse reshape of q28's pivot: a wide
    per-flag metrics row becomes (flag, metric, val) long form, the
    shape feature stores and plotting layers ingest. Spark's native
    `DataFrame.unpivot` plans an Expand over the already-aggregated
    3-row input (metadata-sized — the reshape itself costs nothing at
    any scale; the only exchange is the upstream aggregation's). Both
    engines run their native unpivot — INCLUDE NULLS on the DuckDB side,
    because Spark's unpivot keeps NULL metric values and DuckDB's
    default drops them; values pre-rounded per metric so the
    long-form hash is cross-engine stable."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        _rnd(F.sum("l_quantity")).alias("sum_qty"),
        _rnd(F.sum("l_extendedprice")).alias("sum_price"),
        _rnd(F.avg("l_discount"), 6).alias("avg_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "avg_disc"],
        "metric",
        "val",
    )


@register(
    "q54_mad_outlier_audit",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(ABS(value - med), 0.5) AS mad
      FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(ANY_VALUE(d.med), 6) AS med,
           ROUND(ANY_VALUE(m2.mad), 6) AS mad,
           CAST(SUM(CASE WHEN ABS(d.value - d.med) > 3.0 * 1.4826 * m2.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m2 USING (event_type)
    GROUP BY 1
    """,
    tags=("aggregation", "robust_statistics", "outliers"),
)
def q54_mad_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit per event type — median absolute deviation
    with the 1.4826 normal-consistency constant and the classic 3σ̂
    rule: |x − med| > 3·1.4826·MAD. The robust complement to q47's
    moment statistics (one wild sensor value shifts a mean/stddev
    fence arbitrarily; it moves a median/MAD fence not at all). Plan:
    two keyed percentile aggregations; the per-group medians/MADs are
    dimension-sized tables that broadcast back onto the fact stream —
    the fact table is scanned, never shuffled, for the deviation and
    audit passes (plan-pinned). Exact percentiles for the oracle gate
    (the q29/q45 rule); at 100 TB the same plan swaps in
    percentile_approx."""
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad")
    )
    fence = F.lit(3.0) * F.lit(1.4826) * F.col("mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            _rnd(F.first("med"), 6).alias("med"),
            _rnd(F.first("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.abs(F.col("value") - F.col("med")) > fence, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


def bloom_reduce(
    fat: DataFrame,
    keys: DataFrame,
    fat_key: str,
    key_col: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter join reduction — `semi_reduce`'s big-build-side
    sibling: shrink the fat side of a join BEFORE it shuffles by
    broadcasting a FIXED-SIZE bit array of the other side's keys
    instead of the keys themselves.

    When `semi_reduce`'s exact key list outgrows the broadcast budget
    (1B distinct bigint keys = 8 GB), the bloom bitmap stays at
    n_bits/8 bytes REGARDLESS of key cardinality — the classic
    runtime-filter trade: bounded false positives (re-checked for
    free by the payload join that follows, so the final answer stays
    exact) in exchange for a broadcast whose size the planner
    controls. This is the hand-rolled, plan-inspectable form of
    Spark's `spark.sql.optimizer.runtime.bloomFilter.enabled`
    injection (which only fires under its own selectivity/size
    heuristics).

    Mechanics — everything stays JVM-side expression code:
    - build: the keys' distinct values hash through ``n_hashes``
      seeded xxhash64 draws; set bits aggregate into a ≤ n_bits/64-row
      (word → 64-bit lane) table via ``bit_or(shiftleft(1, bit))`` —
      two key-grain exchanges on the SMALL side only;
    - probe: the fat side joins the broadcast word table once per
      seed (map-side BroadcastHashJoin inside its scan stage, no fat
      row moves) with the bit test in the join condition — a row
      survives only if ALL ``n_hashes`` bits are set.

    Defaults (65 536 bits, 3 hashes) give <1% false positives up to
    ~6k keys; size n_bits ≈ 10–15 bits per expected distinct key at
    the target scale."""
    m = n_bits
    distinct_keys = keys.select(F.col(key_col).alias("_bk")).distinct()
    positions = distinct_keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.lit(i), F.col("_bk")), F.lit(m))
                    for i in range(n_hashes)
                ]
            )
        ).alias("_pos")
    )
    bitmap = positions.groupBy(
        F.shiftright(F.col("_pos"), 6).alias("_word")
    ).agg(
        F.bit_or(F.expr("shiftleft(1L, CAST(_pos % 64 AS INT))")).alias("_bits")
    )

    probe = fat
    for i in range(n_hashes):
        pos = F.pmod(F.xxhash64(F.lit(i), F.col(fat_key)), F.lit(m))
        probe = probe.withColumn(f"_w{i}", F.shiftright(pos, 6)).withColumn(
            f"_t{i}", pos.bitwiseAND(F.lit(63)).cast("int")
        )
    for i in range(n_hashes):
        lane = bitmap.select(
            F.col("_word").alias(f"_word{i}"), F.col("_bits").alias(f"_bits{i}")
        )
        probe = probe.join(
            F.broadcast(lane),
            (F.col(f"_w{i}") == F.col(f"_word{i}"))
            & (F.expr(f"(shiftright(_bits{i}, _t{i}) & 1L) = 1L")),
            "inner",
        )
    drop = [c for i in range(n_hashes) for c in (f"_w{i}", f"_t{i}", f"_word{i}", f"_bits{i}")]
    return probe.drop(*drop)


@register(
    "q56_bloom_join_pruning",
    oracle="""
    SELECT CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o.o_totalprice), 4) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'AUTOMOBILE'
    GROUP BY 1
    """,
    tags=("join", "bloom_filter", "runtime_filter"),
)
def q56_bloom_join_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automobile-segment order revenue by month via `bloom_reduce`:
    orders are pre-filtered by a broadcast BLOOM bitmap of the
    filtered customers' keys (three map-side BroadcastHashJoins
    against a ≤1024-row word table, inside the orders scan stage),
    then the payload join — pinned to a SHUFFLE hash join exactly
    like q46, since at fixture scale Spark would rightly broadcast
    the whole filtered customer side — runs over survivors only and
    re-checks the bloom stage's false positives, so the answer is
    exactly the plain join's. The segment predicate is pushed into
    the customer parquet scan on both uses; the bloom stage's pruning
    is count-pinned (survivors strictly between the exact matches and
    the full fact table) in tests/test_plans.py."""
    orders = table(spark, sf_dir, "orders")
    autos = table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "AUTOMOBILE"
    )
    reduced = bloom_reduce(orders, autos, "o_custkey", "c_custkey")
    joined = reduced.join(
        autos.hint("shuffle_hash"),
        reduced["o_custkey"] == autos["c_custkey"],
    )
    return joined.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        _rnd(F.sum("o_totalprice")).alias("revenue"),
    )


@register(
    "q57_cohort_retention",
    oracle="""
    WITH am AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('month', ts) AS TIMESTAMP) AS activity_month
      FROM events
    ),
    co AS (
      SELECT user_id, MIN(activity_month) AS cohort_month
      FROM am GROUP BY user_id
    )
    SELECT co.cohort_month,
           CAST(datediff('month', co.cohort_month, am.activity_month) AS BIGINT)
             AS month_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM am JOIN co USING (user_id)
    GROUP BY 1, 2
    """,
    tags=("aggregation", "cohort", "retention"),
)
def q57_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the product-analytics staple: users
    cohorted by their FIRST active month, counted in every later
    month they return (cohort_month × month_offset → distinct users).
    Plan: ONE user-keyed exchange folds each user to (first month,
    distinct active months) — per-user state bounded by the calendar,
    not the event count, thanks to map-side partial collect_set — and
    the exploded user-months feed one final small keyed aggregate. No
    self-join of the event table against its own firsts and no
    distinct-exchange of raw events, the two shapes that die first at
    100 TB; a year of months is ≤12 rows per user regardless of how
    many billions of events the user emitted."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("month", F.col("ts")).alias("activity_month")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("activity_month").alias("cohort_month"),
        F.collect_set("activity_month").alias("months"),
    )
    exploded = per_user.select(
        "cohort_month", F.explode("months").alias("activity_month")
    )
    return exploded.groupBy(
        "cohort_month",
        F.months_between(F.col("activity_month"), F.col("cohort_month"))
        .cast("bigint")
        .alias("month_offset"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))


# ---------------------------------------------------------------------------
# q62: sole-late-supplier audit (TPC-H Q21 shape)
# ---------------------------------------------------------------------------

Q62_LATE_DAYS = 365
Q62_TOP_K = 25


def sole_late_supplier(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    late_days: int = Q62_LATE_DAYS,
    k: int = Q62_TOP_K,
) -> DataFrame:
    """TPC-H Q21 ("suppliers who kept orders waiting") re-expressed
    without its classic double self-join. The textbook form correlates
    lineitem against itself twice (EXISTS a co-supplier / NOT EXISTS a
    late co-supplier) — two extra shuffles of the FACT table plus
    per-row subquery semantics. Here both correlations collapse into
    ONE per-order aggregate over the same join we already need:

      n_supp = count(*)            over per-(order, supplier) rows  (≥2 ⇒ co-supplier)
      n_late = count_if(late)      over the same rows               (=1 ⇒ sole late)

    The fact table is read and shuffled ONCE: a per-(orderkey,
    suppkey) pre-aggregate (map-side partial combine) collapses the
    fact to supplier-participation grain, is scoped_persist'd, and
    BOTH correlation consumers — the per-order qualifier and the
    late-pair extraction — read that staged table instead of
    re-scanning lineitem (a naive two-consumer lineage executes the
    fact join twice; plan-pinned). Using plain count(*) on the
    pre-aggregated grain also avoids countDistinct's Expand plan.
    The final name lookup happens AFTER TakeOrderedAndProject: the
    k-row result broadcasts against supplier/nation, never the
    reverse — at TPC-H sf100k supplier is 1B rows and must not be
    broadcast, while k stays 25.

    The oracle is deliberately the OTHER formulation (EXISTS / NOT
    EXISTS in DuckDB), so a hash match is evidence the aggregate
    rewrite is semantics-preserving, not just self-consistent.
    Reference contract: the generic fold kernel (Common.fs:23-45)
    would need three chained map/reduce jobs for this shape.
    """
    o = orders.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
        ).alias("is_late"),
    )
    from fsharp_mapreduce_spark.registry import scoped_persist

    grp = scoped_persist(
        j.groupBy("l_orderkey", "l_suppkey").agg(
            F.max("is_late").alias("late")
        )
    )
    per_order = (
        grp.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum(F.col("late").cast("int")).alias("n_late_supp"),
        )
        .where((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .select("l_orderkey")
    )
    late_pairs = grp.where("late").select("l_orderkey", "l_suppkey")
    waits = (
        late_pairs.join(per_order, "l_orderkey")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "l_suppkey")
        .limit(k)
    )
    named = (
        F.broadcast(waits)
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    return named.select(
        F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
        "s_name",
        "n_name",
        "numwait",
    ).orderBy(F.col("numwait").desc(), "s_suppkey")


@register(
    "q62_sole_late_supplier",
    oracle=f"""
    WITH f AS (
      SELECT l.l_orderkey, l.l_suppkey,
             l.l_shipdate > o.o_orderdate + INTERVAL {Q62_LATE_DAYS} DAY AS is_late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    ),
    w AS (
      SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
      FROM f l1
      WHERE l1.is_late
        AND EXISTS (
          SELECT 1 FROM f l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
        )
        AND NOT EXISTS (
          SELECT 1 FROM f l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.is_late
        )
    ),
    top AS (
      SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait
      FROM w GROUP BY 1
      ORDER BY numwait DESC, l_suppkey LIMIT {Q62_TOP_K}
    )
    SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name, n.n_name, t.numwait
    FROM top t
    JOIN supplier s ON t.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    ORDER BY t.numwait DESC, s.s_suppkey
    """,
    tags=("join", "semi", "anti", "aggregate", "tpch"),
)
def q62_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sole_late_supplier` over the fixture: finished ('F') orders
    where exactly one of ≥2 participating suppliers shipped >
    {Q62_LATE_DAYS} days after the order date — that supplier "kept
    the order waiting". Top-{Q62_TOP_K} suppliers by blocked-order
    count, suppkey tiebreak (unique ordering; counts are integer-exact
    so no rounding rules apply). The Spark plan aggregates the
    correlation away (one fact shuffle); the oracle keeps TPC-H's
    textbook EXISTS/NOT-EXISTS form — a value-hash match validates
    the rewrite itself."""
    return sole_late_supplier(
        table(spark, sf_dir, "lineitem"),
        table(spark, sf_dir, "orders"),
        table(spark, sf_dir, "supplier"),
        table(spark, sf_dir, "nation"),
    )


@register(
    "q65_value_concentration",
    oracle="""
    WITH v AS (
      SELECT l_partkey,
             SUM(l_extendedprice * (1 - l_discount)) AS val
      FROM lineitem GROUP BY 1
    ),
    t AS (SELECT 1.25 * AVG(val) AS th, SUM(val) AS total FROM v)
    SELECT l_partkey,
           ROUND(val, 4) AS part_value,
           ROUND(val / total, 6) AS revenue_share
    FROM v, t
    WHERE val > th
    """,
    tags=("aggregation", "scalar_subquery", "tpch"),
)
def q65_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11's shape (important-stock identification): a grouped
    aggregate filtered against a GLOBAL scalar aggregate of itself —
    parts whose revenue exceeds 1.25× the average part's revenue,
    with each survivor's share of total revenue. Q11's literal
    fraction (0.0001/SF) makes selectivity collapse as data grows;
    the mean-relative threshold keeps the answer scale-invariant
    (~1-12% of parts at every tested SF) while preserving the shape
    that matters: the inner aggregate reduces to ONE row that is
    broadcast into the filter — never a re-scan of the fact table
    per comparison, and never a second lineitem pass (the per-part
    value table is persisted and serves both the threshold reduction
    and the filter — Catalyst re-expands shared subtrees otherwise;
    plan-pinned single lineitem scan in tests/test_plans.py).
    Boundary safety is measured, not hoped: the minimum |val − th|
    gap is ≥5.4 across sf0.001-0.5 vs ~1e-5 float-sum noise, so the
    filter cannot flip cross-engine. The reference would need one MR
    pass to build part values, a driver-side scalar, and a second
    full pass to filter (SURVEY.md §2c aggregations row)."""
    from fsharp_mapreduce_spark.registry import scoped_persist

    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    v = scoped_persist(
        li.groupBy("l_partkey").agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "val"
            )
        )
    )
    t = v.agg(
        (F.lit(1.25) * F.avg("val")).alias("th"), F.sum("val").alias("total")
    )
    return (
        v.crossJoin(F.broadcast(t))
        .where(F.col("val") > F.col("th"))
        .select(
            "l_partkey",
            F.round("val", 4).alias("part_value"),
            F.round(F.col("val") / F.col("total"), 6).alias("revenue_share"),
        )
    )


@register(
    "q66_grouped_agg_udaf",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MEDIAN(o_totalprice), 4) AS median_price,
           ROUND(MAX(o_totalprice) - MIN(o_totalprice), 4) AS price_range
    FROM orders GROUP BY 1
    """,
    tags=("aggregation", "udaf", "pandas_udf"),
)
def q66_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native vectorized UDAF — the one UDF surface the suite covered
    only through the compat fold API (SURVEY §2c UDF/UDAF/UDTF row):
    a GROUPED_AGG `pandas_udf` participating in an ordinary
    `groupBy().agg()`, planned as ArrowAggregatePython — Spark 4's
    AggregateInPandas (whole group → one Arrow batch → scalar back). The statistic is
    chosen to JUSTIFY that plan: the exact median is not decomposable
    into mergeable partials, so a per-group batch is the honest cost
    — and the grain is priority (5 groups), so each batch is bounded
    by group size, the documented hazard of this operator class (a
    GROUPED_AGG does NO partial aggregation; for decomposable stats
    use built-ins — q01, for corpus-grain quantiles use q29's exact /
    q37's bounded-memory sketch). np.median's even-count interpolation
    (mean of the two middle order statistics) is the same rule DuckDB
    MEDIAN and Spark's percentile(0.5) apply, so the value is
    order-statistic-exact cross-engine, not a float-sum race; pinned
    equal to Spark's own percentile in tests. Cited reference parity:
    the reference's only aggregation is the reduce fold
    (Worker.fs:46-103) — a median there needs the ordered escape
    hatch (compat `reduce_ordered`); this is the Spark-native form."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType

    # explicit functionType: the module's postponed-annotation mode
    # keeps pyspark's hint inference from seeing pd.Series -> float
    @F.pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def exact_median(v):
        return float(np.median(v.to_numpy()))

    from fsharp_mapreduce_spark.registry import scoped_persist

    # Spark refuses to mix a GROUPED_AGG pandas UDF with non-pandas
    # aggregates in one agg() (INVALID_PANDAS_UDF_PLACEMENT) — the
    # production pattern is two aggregations over one persisted scan,
    # re-joined at group grain (bounded rows, broadcast)
    o = scoped_persist(
        table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    )
    med = o.groupBy("o_orderpriority").agg(
        F.round(exact_median(F.col("o_totalprice")), 4).alias("median_price")
    )
    rest = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.max("o_totalprice") - F.min("o_totalprice"), 4).alias(
            "price_range"
        ),
    )
    return rest.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority", "n", "median_price", "price_range"
    )


@register(
    "q67_bag_set_ops",
    oracle="""
    WITH a AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty_int
      FROM lineitem WHERE l_orderkey % 3 <> 0
    ),
    b AS (
      SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty_int
      FROM lineitem WHERE l_orderkey % 2 <> 0
    ),
    ex AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b),
    ia AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
    SELECT 'except_all' AS op, l_returnflag, qty_int,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ex GROUP BY 2, 3
    UNION ALL
    SELECT 'intersect_all' AS op, l_returnflag, qty_int,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ia GROUP BY 2, 3
    """,
    tags=("setop", "bag_semantics"),
)
def q67_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG-semantics set operations — the multiplicity-preserving
    complement of q19/q20's distinct forms: `exceptAll` keeps
    max(m_a − m_b, 0) copies of each value, `intersectAll` keeps
    min(m_a, m_b) — the algebra of multiset RECONCILIATION (comparing
    two extracts of the same feed where duplicate counts ARE the
    signal: an except-distinct would report "no difference" between a
    file with 3 copies and one with 300). Two overlapping
    deterministic slices of lineitem play the extracts; the result is
    compacted to per-value multiplicities so the answer is
    value-grain. Catalyst plans both as count-aggregated joins
    (Generate × replication under the hood) — keyed exchanges only,
    no distinct collapse anywhere before the multiplicity math. Both
    engines implement the identical SQL-standard bag rules, so the
    hash match is exact-integer."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", F.col("l_quantity").cast("bigint").alias("qty_int")
    )
    a = li.where(F.col("l_orderkey") % 3 != 0).select("l_returnflag", "qty_int")
    b = li.where(F.col("l_orderkey") % 2 != 0).select("l_returnflag", "qty_int")

    def compact(df: DataFrame, op: str) -> DataFrame:
        return df.groupBy("l_returnflag", "qty_int").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        ).select(F.lit(op).alias("op"), "l_returnflag", "qty_int", "n")

    return compact(a.exceptAll(b), "except_all").unionByName(
        compact(a.intersectAll(b), "intersect_all")
    )


# ---------------------------------------------------------------------------
# q69: exact percentile with BOUNDED memory — the iterative bisection
# answer to q29's decade-scale hazard
# ---------------------------------------------------------------------------

Q69_PERCENTILES = (0.5, 0.9, 0.99)
Q69_BUCKETS = 1024
Q69_MAX_PASSES = 24
# Once a candidate set shrinks below this, finish with an exact sorted
# collect instead of more histogram passes — this is what makes the
# bisection CONVERGE on adversarial value distributions (log-spaced
# doubles shrink the linear range 1024x per pass but can need hundreds
# of passes to reach lo == hi; the candidate COUNT almost always
# collapses much sooner). 4096 doubles is ~64 KB of driver memory.
Q69_EXACT_FALLBACK_ROWS = 4096


def _kth_smallest_collected(df_v: DataFrame, rem: int) -> float:
    """Exact rem-th smallest of a candidate set the CALLER has proven
    is ≤ Q69_EXACT_FALLBACK_ROWS rows (or a chunk-bounded multiple) —
    the bounded terminal step of the histogram bisection."""
    vals = sorted(r["v"] for r in df_v.select("v").collect())
    return vals[rem - 1]


def exact_percentile_scalable(
    df: DataFrame,
    col: str,
    percentiles=Q69_PERCENTILES,
    buckets: int = Q69_BUCKETS,
) -> list[tuple[float, int, float]]:
    """EXACT k-th-smallest (k = ceil(p·n), 1-indexed — the discrete
    percentile) with O(buckets) aggregation state, by iterative
    histogram bisection. This is the missing third point on the
    percentile trade-off line the round-6 verdict flagged:

    - q29 `percentile`: exact, ONE pass, but ObjectAggregation holds
      every value — measured OOM of a 1 GB JVM at sf0.5;
    - q37 `percentile_approx`: bounded t-digest state, one pass,
      approximate;
    - q69 (this): exact AND bounded — each pass is one map-side-
      combined histogram over the current value range (≤{1024} cells
      of 16-byte state per partition), the driver walks the cumulative
      counts to the bucket containing rank k, and the range shrinks to
      that bucket's actual [min, max]. The range narrows ≥buckets× per
      pass in LINEAR width — 2-4 passes on real data — but log-spaced
      adversarial doubles can defeat linear narrowing (1024× linear ≈
      10 binades of ~2000), so convergence is GUARANTEED by the exact
      terminal step instead: once the candidate set is ≤
      {Q69_EXACT_FALLBACK_ROWS} rows it is collected and sorted, and a
      pass budget that exhausts with a larger set raises RuntimeError
      rather than returning an inexact value.

    Float-boundary discipline: bucket MEMBERSHIP is always decided by
    the same JVM expression that built the histogram (the filter
    carries `bucket_expr == i`, never a driver-recomputed range
    check), so no row can fall between driver arithmetic and executor
    arithmetic. The returned value is an ELEMENT of the column —
    bit-comparable against the oracle's ORDER BY/OFFSET form.

    At 100 TB: ~3-6 full scans, each a codegen'd filter + 1024-cell
    hash aggregate — the honest trade against q29's single-pass
    unbounded state; scans are cheap, per-executor state is the
    bottleneck a 1000-node cluster actually hits. The per-pass
    `.collect()` is a ≤{1024}-row histogram (driver-bounded by
    construction, the t12 iterative-driver pattern)."""
    from fsharp_mapreduce_spark.registry import scoped_persist

    c = F.col(col).cast("double")
    base = df.select(c.alias("v")).where(F.col("v").isNotNull())
    base = scoped_persist(base)
    first = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    ).first()
    n = first["n"]
    out: list[tuple[float, int, float]] = []
    import math

    # r11 (driver-synchronous job-count trim, guide §1.2 step 1): each
    # pass's histogram now carries per-bucket (cnt, MIN, MAX) in ONE
    # map-side-combined aggregate, so the picked bucket's [mn, mx] ARE
    # the next [lo, hi] — the old separate min/max re-anchor scan (one
    # extra full job per pass per percentile) is gone. Identical
    # doubles by construction: grouping by the bucket expression and
    # taking MIN/MAX per group aggregates exactly the rows the old
    # `cur.where(b_expr == i).agg(min, max)` scanned. The FIRST pass is
    # additionally shared across percentiles — all start from the same
    # [lo, hi], so its histogram is the same table walked to different
    # ranks (3 first-pass scans fold into 1).
    def _hist(cur: DataFrame, lo: float, w: float):
        b_expr = F.least(
            F.floor((F.col("v") - F.lit(lo)) / F.lit(w)).cast("int"),
            F.lit(buckets - 1),
        )
        return sorted(
            (r["b"], r["cnt"], r["mn"], r["mx"])
            for r in cur.groupBy(b_expr.alias("b"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
            )
            .collect()
        )

    shared_first_hist = None
    if n and first["lo"] != first["hi"]:
        w0 = (first["hi"] - first["lo"]) / buckets
        if w0 > 0.0 and math.isfinite(w0):
            shared_first_hist = _hist(base, first["lo"], w0)

    for p in percentiles:
        k = max(1, math.ceil(p * n))
        lo, hi, rem = first["lo"], first["hi"], k
        cur = base
        val = None
        first_pass = True
        for _ in range(Q69_MAX_PASSES):
            if lo == hi:
                val = lo
                break
            w = (hi - lo) / buckets
            if not (w > 0.0 and math.isfinite(w)):
                # Subnormal-width range: (hi - lo)/buckets underflowed to
                # 0.0 (or hi - lo overflowed). The linear bucket expression
                # would divide by zero → NaN buckets → null group keys, so
                # bisection cannot narrow further; finish exactly if the
                # candidate set is driver-bounded, else refuse loudly.
                cnt = cur.count()
                if cnt > Q69_EXACT_FALLBACK_ROWS:
                    raise RuntimeError(
                        f"exact_percentile_scalable: bucket width underflowed "
                        f"with {cnt} candidates in [{lo!r}, {hi!r}] — range "
                        f"too narrow to bisect, candidate set too large to "
                        f"collect exactly"
                    )
                val = _kth_smallest_collected(cur, rem)
                break
            hist = (
                shared_first_hist
                if first_pass and shared_first_hist is not None
                else _hist(cur, lo, w)
            )
            first_pass = False
            if sum(cnt for _, cnt, _, _ in hist) <= Q69_EXACT_FALLBACK_ROWS:
                val = _kth_smallest_collected(cur, rem)
                break
            cum = 0
            for i, cnt, mn, mx in hist:
                if cum + cnt >= rem:
                    rem -= cum
                    break
                cum += cnt
            b_expr = F.least(
                F.floor((F.col("v") - F.lit(lo)) / F.lit(w)).cast("int"),
                F.lit(buckets - 1),
            )
            cur = cur.where(b_expr == F.lit(i))
            lo, hi = mn, mx
        if val is None:
            # Passes exhausted without lo == hi. This is reachable on
            # log-spaced adversarial doubles (e.g. 2^-500 .. 2^500): the
            # range shrinks 1024x per pass in LINEAR width, which crosses
            # only ~10 of ~2000 binades — never return the current lo as
            # if it were the exact answer.
            cnt = cur.count()
            if cnt > Q69_EXACT_FALLBACK_ROWS:
                raise RuntimeError(
                    f"exact_percentile_scalable: no convergence after "
                    f"{Q69_MAX_PASSES} passes ({cnt} candidates remain in "
                    f"[{lo!r}, {hi!r}]); raise buckets/passes for this "
                    f"distribution"
                )
            val = _kth_smallest_collected(cur, rem)
        out.append((p, k, val))
    return out


@register(
    "q69_exact_percentile_scalable",
    oracle=f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM lineitem
                WHERE l_extendedprice IS NOT NULL),
    ks AS (
      SELECT p, GREATEST(1, CAST(ceil(p * n) AS BIGINT)) AS k
      FROM (VALUES (0.5), (0.9), (0.99)) t(p), nn
    ),
    s AS (
      SELECT l_extendedprice AS v,
             ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    )
    SELECT CAST(ks.p AS DOUBLE) AS pct, ks.k AS k, s.v AS value
    FROM ks JOIN s ON s.rn = ks.k
    """,
    tags=("aggregation", "quantiles", "iterative", "bounded-memory"),
)
def q69_exact_percentile_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`exact_percentile_scalable` over l_extendedprice: the exact
    discrete p50/p90/p99 (k = ceil(p·n)-th smallest) computed with
    bounded aggregation state — the operator that replaces q29 when
    the corpus outgrows ObjectAggregation. Oracle = the definitional
    ORDER BY + ROW_NUMBER form, so the hash match pins both the rank
    arithmetic and the element-exact value recovery."""
    rows = exact_percentile_scalable(
        table(spark, sf_dir, "lineitem"), "l_extendedprice"
    )
    return spark.createDataFrame(
        [(float(p), int(k), float(v)) for p, k, v in rows],
        "pct double, k bigint, value double",
    )


# ---------------------------------------------------------------------------
# q70: GROUPED exact percentile with bounded memory — q29's true
# decade-scale replacement (q69 generalized from global to per-group,
# all groups bisecting simultaneously)
# ---------------------------------------------------------------------------

Q70_P = 0.5


def _round_candidates(prev_cand: DataFrame, bounds: DataFrame) -> DataFrame:
    """The (g, v) rows of ``prev_cand`` inside their group's [lo, hi] in
    ``bounds``, checkpointed so each bisection round starts a fresh
    lineage. Two things would otherwise grow without bound over the
    rounds: the plan (a persisted DataFrame keeps its lineage, so every
    round embeds all earlier ones), and Catalyst's size estimate — an
    inner join is sized as the PRODUCT of its inputs and a checkpoint
    inherits its plan's estimate, so chaining candidates through inner
    joins compounds it every round (24 rounds spent minutes multiplying
    BigInts, then OOM'd the JVM). A left-semi join is sized as its left
    side, so the estimate stays flat."""
    c, b = prev_cand.alias("c"), bounds.alias("b")
    return (
        c.join(
            b,
            (F.col("c.g") == F.col("b.g"))
            & F.col("c.v").between(F.col("b.lo"), F.col("b.hi")),
            "left_semi",
        )
        .localCheckpoint()
    )


def grouped_exact_percentile(
    df: DataFrame,
    group_col: str,
    val_col: str,
    p: float = Q70_P,
    buckets: int = Q69_BUCKETS,
) -> DataFrame:
    """Exact per-group k-th smallest (k = ceil(p\u00b7n_g)) with O(groups \u00d7
    buckets) aggregation state and — r10 (VERDICT r9 #6) — NO driver-
    side per-group state at all: the (lo, hi, k) bisection state is a
    DataFrame, the per-group cumulative-histogram walk is a window
    function, and exact terminal resolution is a keyed row_number()
    pick, so group cardinality is unbounded (the previous revision
    held a driver dict per group behind a 100k fail-fast cap). Every
    group bisects SIMULTANEOUSLY: one keyed (group, bucket) histogram
    pass per round over only the still-active groups' candidate rows;
    groups converge (lo == hi) independently and drop out.

    Soundness of the BETWEEN re-selection (the grouped version cannot
    chain per-group lineage the way q69 does): the chosen bucket's
    [mn, mx] are member values; (v \u2212 lo)/w is monotone in v, and mn,
    mx floor to the same bucket index, so every group row in
    [mn, mx] floors to that index too — BETWEEN mn AND mx selects
    exactly the bucket's rows. The bucket INDEX and its [mn, mx] come
    from the same JVM aggregation (bounds ride the state join), so
    nothing off-plan ever decides membership; the bucket width
    (hi\u2212lo)/buckets is likewise a JVM double expression.

    Round chaining: each round's candidate set is rebuilt from the
    PREVIOUS round's checkpointed candidates, not the full base —
    sound because a group active at round r+1 has bounds inside its
    round-r bucket, so its candidate rows are a subset of the round-r
    set. One pass per round over a geometrically shrinking set
    (localCheckpoint stores MEMORY_AND_DISK — the round-1 set is the
    active-corpus slice and may spill at scale), the final assembly
    reads the checkpoints instead of re-executing every round's
    base-join subtree, and each round's plan stays constant-size.

    Scale contract: the per-round exchange is (group, bucket)-keyed
    with map-side combine — state \u2264 groups \u00d7 {1024} cells regardless
    of row count (q29's per-group ObjectAggregation state is O(n_g)
    and OOMs at decade scale). The driver sees only per-round scalars
    (loop-control counts and bounded \u22645-row failure samples); the
    state table joins against the base per round — broadcast while it
    fits (AQE), shuffle when the catalog is genuinely huge. Rounds
    are shared across groups (max over groups of the q69 bound, 2-4
    typical).

    Convergence contract (mirrors q69): a group finishes either at
    lo == hi, or via an exact keyed row_number pick once its
    candidate set is \u2264 {Q69_EXACT_FALLBACK_ROWS} rows; a group whose
    bucket width underflows — or that exhausts the pass budget — with
    a larger candidate set raises RuntimeError rather than silently
    returning its current lower bound.

    Returns a DataFrame (g, k, value), ordered by g."""
    from functools import reduce as _reduce

    from pyspark.sql.window import Window

    from fsharp_mapreduce_spark.registry import scoped_persist

    base = scoped_persist(
        df.select(
            F.col(group_col).alias("g"), F.col(val_col).cast("double").alias("v")
        ).where(F.col("v").isNotNull())
    )
    init = scoped_persist(
        base.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .select(
            "g",
            "lo",
            "hi",
            F.greatest(F.lit(1).cast("bigint"), F.ceil(F.lit(float(p)) * F.col("n")))
            .cast("bigint")
            .alias("k0"),
        )
    )
    init.count()
    state = init.select("g", "lo", "hi", F.col("k0").alias("k"))
    fallback = Q69_EXACT_FALLBACK_ROWS
    done_parts: list[DataFrame] = []
    rn_w = Window.partitionBy("g").orderBy("v")
    cum_w = Window.partitionBy("g").orderBy("b")

    def _exact_part(scand: DataFrame, groups_df: DataFrame) -> DataFrame:
        """(g, value): the remaining-rank-th smallest candidate of each
        listed group — the definitional pick, keyed and distributed."""
        return (
            scand.join(groups_df.select("g"), "g", "left_semi")
            .withColumn("rn", F.row_number().over(rn_w))
            .where(F.col("rn") == F.col("k"))
            .select("g", F.col("v").alias("value"))
        )

    def _fail(bad_rows, why: str):
        sample = ", ".join(repr(r["g"]) for r in bad_rows[:5])
        cnts = sorted((int(r["cnt"]) for r in bad_rows), reverse=True)[:5]
        raise RuntimeError(
            f"grouped_exact_percentile: {why} for group(s) {sample} with "
            f"candidate sets above {fallback} rows (counts {cnts}); raise "
            f"buckets/passes for this distribution"
        )

    # Candidate-set chaining: each round's candidate rows are a SUBSET
    # of the previous round's (a group still active at round r+1
    # narrowed its bounds to the picked bucket's [mn, mx] ⊆ its round-r
    # [lo, hi], and groups that left are dropped by the state join), so
    # round r+1 filters the checkpointed round-r candidate set instead
    # of re-scanning the full base.
    prev_cand = base
    for _ in range(Q69_MAX_PASSES):
        done_parts.append(
            state.where(F.col("lo") == F.col("hi")).select(
                "g", F.col("lo").alias("value")
            )
        )
        active = (
            state.where(F.col("lo") != F.col("hi"))
            .withColumn("w", (F.col("hi") - F.col("lo")) / F.lit(float(buckets)))
            .withColumn(
                # NOT (w > 0 AND finite): NaN is checked explicitly
                # because Spark ORDERS NaN above every double, so a
                # bare `w > 0` would wave NaN widths through
                "uf",
                F.isnan("w")
                | (F.col("w") <= F.lit(0.0))
                | (F.col("w") == F.lit(float("inf"))),
            )
        )
        prev_cand = _round_candidates(prev_cand, active)
        scand = prev_cand.join(active, "g")
        # A fused single-probe variant (counts keyed on (g, uf), one agg
        # answering emptiness + the underflow pre-check) measured q70
        # 4.0 s → 5.6 s at sf0.1: it forces full eager materialization
        # inside the driver loop where isEmpty/limit-collect
        # short-circuit. The lazy probes stay.
        counts = scoped_persist(
            prev_cand.groupBy("g").agg(F.count(F.lit(1)).alias("cnt"))
        )
        if counts.isEmpty():
            break
        bad = (
            counts.join(active.where(F.col("uf")).select("g"), "g", "left_semi")
            .where(F.col("cnt") > fallback)
            .limit(6)
            .collect()
        )
        if bad:
            _fail(bad, "bucket width underflowed")
        done_parts.append(
            _exact_part(scand, counts.where(F.col("cnt") <= fallback))
        )
        # bisect the rest: one keyed (group, bucket) histogram carrying
        # each bucket's min/max, a window cumulative walk picks the
        # bucket, and its [mn, mx] re-anchor the group — nothing
        # driver-side, and no second pass over the candidates
        bis = scand.where(~F.col("uf")).join(
            counts.where(F.col("cnt") > fallback).select("g"), "g", "left_semi"
        )
        b_expr = F.least(
            F.floor((F.col("v") - F.col("lo")) / F.col("w")).cast("int"),
            F.lit(buckets - 1),
        )
        hist = bis.groupBy("g", "k", b_expr.alias("b")).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        # localCheckpoint (eager), not persist: the next round's active,
        # scand, counts and bis all re-reference state, so without
        # truncation the logical plan grows EXPONENTIALLY in rounds.
        # Same pattern as the CC loop (functions/dedup.py).
        state = (
            hist.withColumn("cb", F.sum("cnt").over(cum_w) - F.col("cnt"))
            .where(
                (F.col("cb") < F.col("k"))
                & (F.col("k") <= F.col("cb") + F.col("cnt"))
            )
            .select(
                "g",
                F.col("mn").alias("lo"),
                F.col("mx").alias("hi"),
                (F.col("k") - F.col("cb")).alias("k"),
            )
            .localCheckpoint()
        )
        if state.count() == 0:
            break
    else:
        # pass budget exhausted: finish converged / small groups, but a
        # still-large candidate set must refuse loudly (never emit the
        # current lower bound as if it were exact)
        done_parts.append(
            state.where(F.col("lo") == F.col("hi")).select(
                "g", F.col("lo").alias("value")
            )
        )
        rem = state.where(F.col("lo") != F.col("hi"))
        # same chaining: rem's bounds are within the last pass's
        # candidate set, so filter the checkpoint, not the base
        cand = _round_candidates(prev_cand, rem)
        counts = scoped_persist(
            cand.groupBy("g").agg(F.count(F.lit(1)).alias("cnt"))
        )
        bad = counts.where(F.col("cnt") > fallback).limit(6).collect()
        if bad:
            _fail(bad, f"no convergence after {Q69_MAX_PASSES} passes")
        done_parts.append(_exact_part(cand.join(rem, "g"), counts))
    done = _reduce(DataFrame.unionByName, done_parts)
    return (
        init.join(done, "g")
        .select("g", F.col("k0").alias("k"), "value")
        .orderBy("g")
    )


@register(
    "q70_grouped_exact_percentile",
    oracle=f"""
    WITH nn AS (
      SELECT l_returnflag AS g, COUNT(*) AS n FROM lineitem
      WHERE l_extendedprice IS NOT NULL GROUP BY 1
    ),
    s AS (
      SELECT l_returnflag AS g, l_extendedprice AS v,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice) AS rn
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    )
    SELECT nn.g AS l_returnflag,
           GREATEST(1, CAST(ceil({Q70_P} * nn.n) AS BIGINT)) AS k,
           s.v AS p50
    FROM nn JOIN s
      ON s.g = nn.g
     AND s.rn = GREATEST(1, CAST(ceil({Q70_P} * nn.n) AS BIGINT))
    """,
    tags=("aggregation", "quantiles", "iterative", "bounded-memory", "grouped"),
)
def q70_grouped_exact_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`grouped_exact_percentile` over l_extendedprice by l_returnflag:
    the exact per-group discrete median with (groups × 1024)-bounded
    aggregation state and DataFrame-resident bisection state (r10 —
    group cardinality unbounded) — what q29 becomes when a group's
    value set no longer fits an ObjectAggregation buffer. Oracle = the
    per-group ROW_NUMBER element lookup."""
    out = grouped_exact_percentile(
        table(spark, sf_dir, "lineitem"), "l_returnflag", "l_extendedprice"
    )
    return out.select(
        F.col("g").cast("string").alias("l_returnflag"),
        F.col("k"),
        F.col("value").alias("p50"),
    )
