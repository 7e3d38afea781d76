"""Relational query surface (SURVEY.md §2.2 first table).

All stock DataFrame ops — Catalyst handles pushdown/pruning/join
selection. Float aggregates are rounded identically in the Spark
query and the oracle so parallel-vs-sequential summation order can't
flip the driver's value hash.

Scale notes (100 TB): every query here shuffles only on its group/
join keys; dimension joins (region/nation/customer at star-schema
ratios) stay broadcast; top-k per group uses window + row_number
which AQE executes with partial shuffles per partition key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from galaxy_spark.registry import register
from galaxy_spark.tables import load_table


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: scan-heavy group-agg; the engine's batch flagship.

    Plan shape to preserve at scale: parquet scan with the shipdate
    predicate pushed down, partial hash-agg before the (4-group)
    shuffle, whole-stage codegen end to end.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (o_orderpriority standing in for o_shippriority).

    customer is the small side -> broadcast into orders; the big
    orders⋈lineitem join shuffles on orderkey only after both scans'
    date predicates are pushed down. Fully deterministic top-10 via
    total tie-break (revenue, date, key).
    """
    cutoff = F.lit("1995-03-15").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "join_revenue_by_nation",
    oracle="""
    SELECT n_name, r_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name
    """,
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact ⋈ chain of broadcast dims, revenue per nation.

    nation/region/customer are broadcast (no shuffle of lineitem on
    dim keys); the only wide shuffle is the final small group-by.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name", "r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (customers with no orders)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join_semi_active_suppliers",
    oracle="""
    SELECT s_suppkey, s_name, ROUND(s_acctbal, 2) AS acctbal
    FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey
                  AND l_quantity > 45)
    """,
)
def join_semi_active_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (suppliers with at least one big-quantity item)."""
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return sup.join(li, sup.s_suppkey == li.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal")
    )


@register(
    "join_full_outer_nation_balance",
    oracle="""
    SELECT n.n_nationkey, cs.c_total, ss.s_total
    FROM nation n
    LEFT JOIN (SELECT c_nationkey, ROUND(SUM(c_acctbal), 2) AS c_total
               FROM customer GROUP BY c_nationkey) cs
      ON n.n_nationkey = cs.c_nationkey
    LEFT JOIN (SELECT s_nationkey, ROUND(SUM(s_acctbal), 2) AS s_total
               FROM supplier GROUP BY s_nationkey) ss
      ON n.n_nationkey = ss.s_nationkey
    """,
)
def join_full_outer_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer joins with pre-aggregated (map-side-combinable) inputs."""
    nation = load_table(spark, sf_dir, "nation")
    cs = (load_table(spark, sf_dir, "customer")
          .groupBy("c_nationkey")
          .agg(F.round(F.sum("c_acctbal"), 2).alias("c_total")))
    ss = (load_table(spark, sf_dir, "supplier")
          .groupBy("s_nationkey")
          .agg(F.round(F.sum("s_acctbal"), 2).alias("s_total")))
    return (
        nation.join(cs, nation.n_nationkey == cs.c_nationkey, "left")
        .join(ss, nation.n_nationkey == ss.s_nationkey, "left")
        .select("n_nationkey", "c_total", "s_total")
    )


@register(
    "agg_rollup_region_nation",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           ROUND(SUM(c_acctbal), 2) AS total_balance
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region -> nation -> grand total)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"),
             F.round(F.sum("c_acctbal"), 2).alias("total_balance"))
    )


@register(
    "agg_cube_order_status",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dimensions."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "agg_count_distinct_parts",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi count-distinct (expand + two-phase agg under the hood)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


@register(
    "window_topk_customers_per_nation",
    oracle="""
    SELECT n_name, c_custkey, ROUND(c_acctbal, 2) AS acctbal,
           CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT n_name, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY n_name
                                  ORDER BY c_acctbal DESC, c_custkey) AS rk
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    ) t WHERE rk <= 3
    """,
)
def window_topk_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number (deterministic tie-break).

    At scale this is the canonical top-k pattern: single shuffle on
    the partition key, per-partition heap sort, no global sort.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("n_name", "c_custkey",
                F.round("c_acctbal", 2).alias("acctbal"), "rk")
    )


@register(
    "window_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_total,
           LAG(o_orderkey) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
    FROM orders
    """,
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate + lag with an explicit rows frame."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
        .alias("running_total"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )


@register(
    "setops_part_brands",
    oracle="""
    (SELECT DISTINCT p_brand FROM part WHERE p_size < 20
     INTERSECT
     SELECT DISTINCT p_brand FROM part WHERE p_retailprice > 1200)
    UNION ALL
    (SELECT DISTINCT p_brand FROM part WHERE p_size >= 45
     EXCEPT
     SELECT DISTINCT p_brand FROM part WHERE p_type LIKE 'SMALL%')
    """,
)
def setops_part_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL in one plan."""
    part = load_table(spark, sf_dir, "part")
    small = part.filter(F.col("p_size") < 20).select("p_brand").distinct()
    pricey = part.filter(F.col("p_retailprice") > 1200).select("p_brand").distinct()
    big = part.filter(F.col("p_size") >= 45).select("p_brand").distinct()
    small_type = part.filter(F.col("p_type").startswith("SMALL")).select("p_brand").distinct()
    return small.intersect(pricey).unionAll(big.exceptAll(small_type))


@register(
    "scalar_functions_showcase",
    oracle="""
    SELECT o_orderkey,
           UPPER(SUBSTR(o_orderstatus, 1, 1)) AS status_u,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           CONCAT('P-', o_orderpriority) AS pri_tag,
           ROUND(sqrt(o_totalprice), 4) AS price_sqrt,
           CAST(length(o_orderpriority) AS INTEGER) AS pri_len
    FROM orders WHERE o_orderkey % 100 = 0
    """,
)
def scalar_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar functions (all JVM-side codegen)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        F.upper(F.substring("o_orderstatus", 1, 1)).alias("status_u"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.concat(F.lit("P-"), F.col("o_orderpriority")).alias("pri_tag"),
        F.round(F.sqrt("o_totalprice"), 4).alias("price_sqrt"),
        F.length("o_orderpriority").alias("pri_len"),
    )


@register(
    "join_asof_latest_order",
    oracle="""
    WITH o AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def join_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attach each event's most recent prior order.

    Spark has no native ASOF JOIN; operators.joins.asof_join builds
    it as union + one keyed window pass (no row explosion — see that
    module's scale notes). Ties on (custkey, orderdate) are resolved
    to the max orderkey on both sides for determinism.
    """
    from galaxy_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.desc("o_orderkey"))
    orders = (load_table(spark, sf_dir, "orders")
              .select("o_custkey", "o_orderdate", "o_orderkey")
              .withColumn("__rk", F.row_number().over(w))
              .filter(F.col("__rk") == 1).drop("__rk"))
    return asof_join(
        ev, orders,
        left_on="user_id", right_on="o_custkey",
        left_time="ts", right_time="o_orderdate",
        right_payload=["o_orderkey", "o_orderdate"],
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_orderdate")


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT n_name, c_mktsegment, COUNT(*) AS n_customers,
           ROUND(SUM(c_acctbal), 2) AS total_balance
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (c_mktsegment))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with non-hierarchical sets (not a rollup/cube):
    per-nation totals and per-segment totals in one pass."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = cust.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    return joined.groupingSets(
        [["n_name"], ["c_mktsegment"]], "n_name", "c_mktsegment"
    ).agg(F.count("*").alias("n_customers"),
          F.round(F.sum("c_acctbal"), 2).alias("total_balance"))


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           TRUE AS hll_within_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per return flag.

    HLL sketch estimates are engine-specific, so the value emitted is
    the exact distinct count plus ``hll_within_bound`` = whether the
    HLL estimate landed within 5x the configured rsd of the exact
    count. The oracle expects TRUE on every row — a drifting or
    broken HLL flips the flag and fails the driver hash, so the
    sketch stays load-bearing while the output is deterministic.

    Plan (r5): dedup (flag, partkey) FIRST — map-side partial
    distinct, one pair-keyed shuffle — then sketch + count the
    already-distinct pairs. HLL registers are duplicate-insensitive,
    so the estimate is IDENTICAL to sketching the raw multiset
    (verified), while the single-agg form planned a row-doubling
    Expand for the mixed distinct/non-distinct aggregate: measured
    3.5 s -> 1.0 s at sf0.1. At 100 TB the pair dedup is also the
    shape that survives skew (partial aggregation absorbs hot flags
    before the shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_returnflag", "l_partkey").distinct()
    agg = pairs.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx"),
        F.count("*").alias("n_parts"))
    return agg.select(
        "l_returnflag", "n_parts",
        (F.abs(F.col("approx") - F.col("n_parts"))
         <= F.greatest(F.lit(0.05) * F.col("n_parts"), F.lit(2.0)))
        .alias("hll_within_bound"))


@register(
    "agg_pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
           CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation): order counts per priority x status.
    Explicit value list -> single-pass conditional aggregation, no
    second job to discover pivot values."""
    orders = load_table(spark, sf_dir, "orders")
    out = (orders.groupBy("o_orderpriority")
           .pivot("o_orderstatus", ["F", "O", "P"])
           .count().na.fill(0))
    return out.select(
        "o_orderpriority",
        F.col("F").alias("n_f"), F.col("O").alias("n_o"),
        F.col("P").alias("n_p"))


@register(
    "agg_percentiles_price",
    oracle="""
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90,
           ROUND(quantile_cont(o_totalprice, 0.99), 2) AS p99
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_percentiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``). ``approx_percentile`` (t-digest) is
    the 100 TB path — same call shape, engine-specific values, so
    the exact variant carries the oracle."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 2).alias("p99"),
    )


@register(
    "agg_stats_quantity_price",
    oracle="""
    SELECT l_linestatus,
           ROUND(stddev_pop(l_quantity), 2) AS sd_qty,
           ROUND(corr(l_quantity, l_extendedprice), 3) AS corr_qty_price,
           ROUND(covar_pop(l_quantity, l_discount), 3) AS cov_qty_disc
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_stats_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/corr/covar) — distributed
    merge formulas vs DuckDB's sequential pass agree to far more
    than the rounded precision."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.stddev_pop("l_quantity"), 2).alias("sd_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 3)
         .alias("corr_qty_price"),
        F.round(F.covar_pop("l_quantity", "l_discount"), 3)
         .alias("cov_qty_disc"),
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                        FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    threshold). Expressed via SQL so Catalyst performs the
    decorrelation rewrite (subquery -> aggregated join) — the plan to
    preserve at scale is ONE extra aggregate on l_partkey feeding a
    broadcast-able join, not a per-row subquery execution."""
    from galaxy_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                            FROM lineitem l2
                            WHERE l2.l_partkey = p_partkey)
    """)


@register(
    "window_range_frame_90d",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
               RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS n_orders_90d,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
               RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW), 2)
             AS spend_90d
    FROM orders
    """,
)
def window_range_frame_90d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame: per customer, rolling 90-day order count
    and spend (value-range frame over epoch seconds, not row
    counts — duplicate order dates share one frame)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.unix_timestamp("o_orderdate"))
         .rangeBetween(-90 * 86400, Window.currentRow))
    return orders.select(
        "o_orderkey", "o_custkey",
        F.count("*").over(w).alias("n_orders_90d"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_90d"),
    )


@register(
    "agg_decimal_exact_revenue",
    oracle="""
    SELECT l_returnflag,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)))
                      AS DOUBLE), 2) AS total_price,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)))
                      AS DOUBLE), 2) AS total_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_decimal_exact_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal-exact aggregation — the engine's UseDecimal guarantee
    (reference: ``internal/sync_server/sync.go:52`` keeps binlog
    decimals exact, never floats). The SUM runs over DecimalType so
    partial aggregation is associative and exact at any partition
    count; only the *emitted* value is cast to double + rounded,
    because DecimalType outputs hash differently across engines
    (Spark DECIMAL(24,2) vs DuckDB DECIMAL(38,2)) even when equal."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(14,2)"))
                 .cast("double"), 2).alias("total_price"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(14,2)"))
                 .cast("double"), 2).alias("total_qty"),
    )


@register(
    "join_full_outer_daily_activity",
    oracle="""
    SELECT CAST(COALESCE(o.d, e.d) AS TIMESTAMP) AS day,
           o.n_orders, e.n_events
    FROM (SELECT date_trunc('day', o_orderdate) AS d,
                 COUNT(*) AS n_orders FROM orders GROUP BY 1) o
    FULL OUTER JOIN
         (SELECT date_trunc('day', ts) AS d,
                 COUNT(*) AS n_events FROM events GROUP BY 1) e
      ON o.d = e.d
    """,
)
def join_full_outer_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True FULL OUTER join with both null sides populated (order
    days 1995-2001 vs event days 2024 — disjoint domains, so every
    row exercises one outer side)."""
    orders = (load_table(spark, sf_dir, "orders")
              .groupBy(F.date_trunc("day", "o_orderdate").alias("od"))
              .agg(F.count("*").alias("n_orders")))
    events = (load_table(spark, sf_dir, "events")
              .groupBy(F.date_trunc("day", "ts").alias("ed"))
              .agg(F.count("*").alias("n_events")))
    return (orders.join(events, orders.od == events.ed, "full_outer")
            .select(F.coalesce("od", "ed").alias("day"),
                    "n_orders", "n_events"))


@register(
    "unpivot_nation_balances",
    oracle="""
    WITH t AS (
        SELECT n_nationkey,
               (SELECT ROUND(SUM(c_acctbal), 2) FROM customer
                WHERE c_nationkey = n_nationkey) AS customer_total,
               (SELECT ROUND(SUM(s_acctbal), 2) FROM supplier
                WHERE s_nationkey = n_nationkey) AS supplier_total
        FROM nation
    )
    SELECT n_nationkey, side, total
    FROM t UNPIVOT INCLUDE NULLS
        (total FOR side IN (customer_total, supplier_total))
    """,
)
def unpivot_nation_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-nation balance columns -> long
    (nationkey, side, total) rows, nulls preserved."""
    nation = load_table(spark, sf_dir, "nation")
    cust = (load_table(spark, sf_dir, "customer")
            .groupBy("c_nationkey")
            .agg(F.round(F.sum("c_acctbal"), 2).alias("customer_total")))
    sup = (load_table(spark, sf_dir, "supplier")
           .groupBy("s_nationkey")
           .agg(F.round(F.sum("s_acctbal"), 2).alias("supplier_total")))
    wide = (nation.join(cust, nation.n_nationkey == cust.c_nationkey, "left")
            .join(sup, nation.n_nationkey == sup.s_nationkey, "left")
            .select("n_nationkey", "customer_total", "supplier_total"))
    return wide.unpivot(
        ["n_nationkey"], ["customer_total", "supplier_total"],
        "side", "total")


@register(
    "agg_having_repeat_customers",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           ROUND(AVG(o_totalprice), 2) AS avg_price
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 20 AND AVG(o_totalprice) > 100000
    """,
)
def agg_having_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation predicate): repeat
    customers with high average spend. Catalyst folds the HAVING
    into the aggregate's output filter — no second pass."""
    orders = load_table(spark, sf_dir, "orders")
    # the HAVING predicate applies to the RAW average exactly as the
    # oracle's does — filtering the rounded output column instead
    # diverges in the (100000, 100000.005) window (r9 review; the
    # rounding is presentation, not predicate)
    return (orders.groupBy("o_custkey")
            .agg(F.count("*").alias("n_orders"),
                 F.avg("o_totalprice").alias("raw_avg"))
            .filter((F.col("n_orders") >= 20)
                    & (F.col("raw_avg") > 100000))
            .select("o_custkey", "n_orders",
                    F.round("raw_avg", 2).alias("avg_price")))


@register(
    "join_min_price_per_order",
    oracle="""
    SELECT l.l_orderkey, CAST(MIN(l.l_linenumber) AS BIGINT) AS linenumber,
           ROUND(t.m, 2) AS min_price
    FROM lineitem l
    JOIN (SELECT l_orderkey, MIN(l_extendedprice) AS m
          FROM lineitem GROUP BY l_orderkey) t
      ON l.l_orderkey = t.l_orderkey AND l.l_extendedprice = t.m
    GROUP BY l.l_orderkey, t.m
    """,
)
def join_min_price_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-per-group join-back (the decorrelated 'argmin' pattern,
    TPC-H Q2's shape): each order's cheapest line item. One
    aggregation + one self-join on the group key; deterministic
    tie-break via MIN(linenumber)."""
    li = load_table(spark, sf_dir, "lineitem")
    mins = li.groupBy(F.col("l_orderkey").alias("mk")).agg(
        F.min("l_extendedprice").alias("m"))
    return (li.join(mins, (li.l_orderkey == mins.mk)
                    & (li.l_extendedprice == mins.m))
            .groupBy("l_orderkey", "m")
            .agg(F.min("l_linenumber").cast("long").alias("linenumber"))
            .select("l_orderkey", "linenumber",
                    F.round("m", 2).alias("min_price")))


@register(
    "agg_histogram_prices",
    oracle="""
    WITH b AS (
        SELECT CAST(least(floor(o_totalprice / 50000), 9) AS INTEGER)
                 AS bucket
        FROM orders
    )
    SELECT bucket,
           CAST(bucket * 50000.0 AS DOUBLE) AS lo,
           CAST((bucket + 1) * 50000.0 AS DOUBLE) AS hi,
           COUNT(*) AS n_orders
    FROM b GROUP BY bucket
    """,
)
def agg_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order prices (10 x 50k buckets,
    overflow clamped to the last) — single-pass numeric binning, the
    profiling primitive for any quality dashboard."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000),
                     F.lit(9)).cast("int")
    return (orders.select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias("n_orders"))
            .select("bucket",
                    (F.col("bucket") * 50000.0).alias("lo"),
                    ((F.col("bucket") + 1) * 50000.0).alias("hi"),
                    "n_orders"))


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter + global aggregate. Every predicate
    reaches the parquet scan (range + between + comparison all
    pushdown-eligible); no shuffle beyond the single-row final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return (li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
             .alias("revenue"),
             F.count("*").alias("n_items")))


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate >= o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority counts of orders with at least
    one slow-shipping line item — a correlated EXISTS with a
    column-to-column date condition, executed as a left-semi join
    (the Catalyst decorrelation)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem")
    # timestamp-preserving interval add, NOT F.date_add (which
    # truncates the timestamp-typed o_orderdate to a midnight DATE
    # while the oracle adds INTERVAL 60 DAY at full precision —
    # divergent on any non-midnight order timestamp, r9 review;
    # current data is all-midnight so values are unchanged)
    slow = orders.join(
        li, (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate")
           >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi")
    return slow.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"))


@register(
    "q14_promo_effect",
    oracle="""
    SELECT ROUND(100.00 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4)
             AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: broadcast dim join + conditional ratio aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
            .agg(F.round(100.0 * F.sum(promo) / F.sum(rev), 4)
                 .alias("promo_revenue_pct")))


@register(
    "window_global_row_index",
    oracle="""
    SELECT o_orderkey,
           CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey)
                AS BIGINT) AS row_idx
    FROM orders
    """,
)
def window_global_row_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global row numbering over a total order — computed WITHOUT a
    single-reducer window (operators.util.with_global_row_index:
    range partition + per-partition offsets). The oracle is the
    naive global ROW_NUMBER; the implementations must agree
    exactly."""
    from galaxy_spark.operators.util import with_global_row_index

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate")
    return with_global_row_index(
        orders, ["o_orderdate", "o_orderkey"]).select(
        "o_orderkey", "row_idx")


@register(
    "q18_large_volume_customer",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
           o_totalprice, big.total_qty
    FROM (SELECT l_orderkey, SUM(l_quantity) AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(l_quantity) > 300) big
    JOIN orders ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate the fact table, filter on the
    aggregate (HAVING), then join the small qualifying set back to
    orders/customer. Scale: ONE wide op on the 100 TB side (the
    l_orderkey agg, map-side partial); the HAVING is selective, so
    the join-back broadcasts the qualifying keys instead of
    shuffling orders. Quantity sums are integer-valued doubles —
    exact in any summation order, so the >300 cut is deterministic.
    No LIMIT: the driver's compare is order-insensitive, and a
    ties-at-the-boundary LIMIT would be engine-dependent."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
             .agg(F.sum("l_quantity").alias("total_qty"))
             .filter(F.col("total_qty") > 300))
    return (F.broadcast(big)
            .join(orders, big.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    "o_totalprice", "total_qty"))


# ------------------------------------------------------------------
# ------------------------------------------------------------------
# TPC-H breadth pack (r5): the remaining classic plan shapes not yet
# covered — CASE-bucket join agg (Q12), disjunctive multi-predicate
# join (Q19), NOT EXISTS + scalar-subquery threshold (Q22).
# (Q4/Q6/Q14/Q18 shapes already exist above.) Column substitutions
# where the driver's schema lacks TPC-H columns are noted per query.
# ------------------------------------------------------------------


@register(
    "q12_priority_by_returnflag",
    oracle="""
    SELECT l_returnflag,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + CASE-bucketed counting (l_returnflag
    standing in for the absent l_shipmode). COUNT(CASE ...) rather
    than SUM(CASE ...) keeps both engines in BIGINT — the r4
    HUGEINT-hash lesson, now a convention."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.filter(
                (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")))
            .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("l_returnflag")
            .agg(F.count(F.when(high, 1)).alias("high_line_count"),
                 F.count(F.when(~high, 1)).alias("low_line_count")))


@register(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive brand/size/quantity predicates
    over a broadcast part join. Catalyst extracts the common
    p_partkey = l_partkey conjunct so the OR never degrades the join
    to a cartesian; the per-side residues (p_brand/p_size vs
    l_quantity) are pushed below the join where each scan can use
    them."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    b = F.col("p_brand")
    sz = F.col("p_size")
    q = F.col("l_quantity")
    cond = (((b == "Brand#12") & sz.between(1, 5) & q.between(1, 11))
            | ((b == "Brand#23") & sz.between(1, 10) & q.between(10, 20))
            | ((b == "Brand#34") & sz.between(1, 15) & q.between(20, 30)))
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(18,6)")
    return (li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
            .filter(cond)
            .agg(F.round(F.sum(disc).cast("double"), 2).alias("revenue")))


@register(
    "q22_idle_customer_balance",
    oracle="""
    WITH pos AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
               / COUNT(*) AS ab
        FROM customer
        WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9)
    )
    SELECT c_nationkey AS nation, COUNT(*) AS numcust,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE), 2)
               AS totacctbal
    FROM customer
    WHERE c_nationkey IN (1, 3, 5, 7, 9)
      AND c_acctbal > (SELECT ab FROM pos)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    """,
)
def q22_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich customers (balance above the positive
    average of their nation group — c_nationkey standing in for the
    absent phone country code) who have never ordered. NOT EXISTS
    folds to a LEFT ANTI join on o_custkey; the average threshold is
    an exact decimal sum divided once as a double, so the scalar
    subquery broadcast compares identically in both engines."""
    from galaxy_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        WITH pos AS (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
                   / COUNT(*) AS ab
            FROM customer
            WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9)
        )
        SELECT c_nationkey AS nation, COUNT(*) AS numcust,
               ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE), 2)
                   AS totacctbal
        FROM customer
        WHERE c_nationkey IN (1, 3, 5, 7, 9)
          AND c_acctbal > (SELECT ab FROM pos)
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_nationkey
    """)


@register(
    "agg_equidepth_bins",
    oracle="""
    WITH ranked AS (
        SELECT o_totalprice,
               ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
               COUNT(*) OVER () AS n
        FROM orders
    )
    SELECT CAST((rn - 1) * 10 // n + 1 AS INTEGER) AS bin,
           COUNT(*) AS n_orders,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM ranked GROUP BY 1
    """,
)
def agg_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH decile histogram of order totals (each bin holds
    ~n/10 rows; `agg_histogram_prices` is the equi-WIDTH
    counterpart). bin = floor((rank-1)*10/n) + 1 over the total
    order (price, orderkey) — an explicit formula rather than
    NTILE, whose ceil/floor group-size split differs between
    engines' documentation corners; the explicit arithmetic is
    integer-exact everywhere (both factors < 2^53, and an integer
    quotient k is hit only when n | (rank-1)*10, where the double
    division is exact).

    Shape at scale: the global rank uses
    ``util.with_global_row_index`` — range-partition + per-partition
    counts + broadcast offsets — NOT the single-reducer
    ``row_number() OVER (ORDER BY ...)``; the scalar n rides a
    1-row broadcast; the final 10-group agg partial-aggregates
    map-side.
    """
    from galaxy_spark.operators import util

    orders = load_table(spark, sf_dir, "orders") \
        .select("o_totalprice", "o_orderkey")
    # return_total reuses the per-partition counts the indexer
    # already collected — the separate orders.agg(count) +
    # crossJoin ran a whole extra corpus scan for a number the
    # operator had in hand (r9 review; the operator's own
    # docstring advertises exactly this)
    ranked, n = util.with_global_row_index(
        orders, ["o_totalprice", "o_orderkey"], index_col="rn",
        return_total=True)
    return (
        ranked
        .withColumn("bin", (F.floor((F.col("rn") - 1) * 10 / F.lit(n)) + 1)
                    .cast("int"))
        .groupBy("bin")
        .agg(F.count("*").alias("n_orders"),
             F.round(F.min("o_totalprice"), 2).alias("min_price"),
             F.round(F.max("o_totalprice"), 2).alias("max_price"))
    )


@register(
    "agg_quantile_sketch_bound",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           TRUE AS median_within_bound
    FROM events WHERE value IS NOT NULL GROUP BY event_type
    """,
)
def agg_quantile_sketch_bound(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """approx_percentile (the KLL/GK-family quantile sketch behind
    Spark's approximate percentiles) certified by RANK error, the
    bound the sketch actually guarantees: the returned median
    candidate's true rank fraction must sit within eps of 0.5.
    Engine sketches differ (DuckDB's approx_quantile is t-digest),
    so like the HLL row the emitted value is the deterministic
    verdict — TRUE on every group — and a drifting sketch flips the
    hash.

    Shape at scale: one partial-aggregated sketch pass per group
    (the sketch is a mergeable bounded summary — the same reason
    CMS/HLL scale), then one broadcast join of the 5 candidate
    medians back onto the scan for the exact rank count. The exact
    count is the certification instrument, not the production path.
    """
    # NULL values are invisible to percentile_approx, so they must
    # be invisible to the rank-fraction denominator too (r9 review:
    # counting them deflates the fraction and flips the flag on a
    # NULL-bearing regen even when the sketch is correct)
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull()))
    ap = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("ap"))
    ranked = (ev.join(F.broadcast(ap), "event_type")
              .groupBy("event_type")
              .agg(F.count("*").alias("n_events"),
                   F.sum(F.when(F.col("value") <= F.col("ap"), 1)
                         .otherwise(0)).alias("n_le")))
    return ranked.select(
        "event_type", "n_events",
        (F.abs(F.col("n_le") / F.col("n_events") - 0.5) <= 0.01)
        .alias("median_within_bound"))


@register(
    "window_functions_showcase",
    oracle="""
    WITH w AS (
        SELECT o_orderpriority AS prio, o_orderkey,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
               NTILE(4) OVER pw AS quartile,
               ROUND(PERCENT_RANK() OVER pw, 6) AS pct_rank,
               ROUND(CUME_DIST() OVER pw, 6) AS cume,
               LAG(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT), 1, 0)
                   OVER pw AS prev_cents,
               LEAD(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT), 1, 0)
                   OVER pw AS next_cents,
               FIRST_VALUE(o_orderkey) OVER pw AS first_key,
               NTH_VALUE(o_orderkey, 2) OVER
                   (PARTITION BY o_orderpriority ORDER BY o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING) AS second_key
        FROM orders
        WINDOW pw AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
    )
    SELECT prio, o_orderkey, cents, quartile, pct_rank, cume,
           prev_cents, next_cents, first_key, second_key
    FROM w
    """,
)
def window_functions_showcase(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """The remaining analytic-window surface certified in one query:
    NTILE, PERCENT_RANK, CUME_DIST, LAG/LEAD with defaults,
    FIRST_VALUE, and full-frame NTH_VALUE, partitioned by order
    priority and ordered by the UNIQUE order key — uniqueness makes
    every one of these deterministic (rank functions over ties are
    engine-unordered; over a key they are pure functions of the
    data). PERCENT_RANK and CUME_DIST are small-integer divisions
    (exact IEEE on both engines), rounded at 1e-6 by convention.

    Shape at scale: all eight functions share ONE partition+sort —
    a single exchange on the 5-value priority key and one sort per
    partition (Spark computes the whole set in one Window node;
    the full-frame NTH_VALUE adds an unbounded-following frame over
    the same sort, not a second exchange). The 5-partition key is
    deliberately coarse: per-reducer work is |orders|/5, the
    documented window skew hazard, which is the point — this query
    is also the regression canary for that plan shape.
    """
    od = load_table(spark, sf_dir, "orders")
    pw = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
    full = pw.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return od.select(
        F.col("o_orderpriority").alias("prio"),
        "o_orderkey",
        cents.alias("cents"),
        F.ntile(4).over(pw).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(pw), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(pw), 6).alias("cume"),
        F.lag(cents, 1, 0).over(pw).alias("prev_cents"),
        F.lead(cents, 1, 0).over(pw).alias("next_cents"),
        F.first("o_orderkey").over(pw).alias("first_key"),
        F.nth_value("o_orderkey", 2).over(full).alias("second_key"))


@register(
    "agg_exact_quantiles_scalable",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS vc
        FROM events WHERE value IS NOT NULL
    ), hist AS (
        SELECT event_type, vc, CAST(COUNT(*) AS BIGINT) AS c
        FROM v GROUP BY 1, 2
    ), n_per AS (
        SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
        FROM hist GROUP BY 1
    ), cum AS (
        SELECT event_type, vc, c,
               CAST(SUM(c) OVER (PARTITION BY event_type
                                 ORDER BY vc) AS BIGINT) AS cum
        FROM hist
    )
    SELECT cum.event_type, n_per.n,
           CAST(MIN(CASE WHEN cum >= (n + 3) // 4 THEN vc END)
                AS BIGINT) AS p25_cents,
           CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN vc END)
                AS BIGINT) AS p50_cents,
           CAST(MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN vc END)
                AS BIGINT) AS p90_cents,
           CAST(MIN(CASE WHEN cum >= (19 * n + 19) // 20 THEN vc END)
                AS BIGINT) AS p95_cents
    FROM cum JOIN n_per ON cum.event_type = n_per.event_type
    GROUP BY 1, 2
    """,
)
def agg_exact_quantiles_scalable(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """EXACT quantile VECTOR (p25/p50/p90/p95) per group in ONE
    histogram pass — the exact-selection generalization of
    ``quality_mad_outliers``'s single median, and the exact twin that
    certifies the approximate tiers (``agg_percentiles_price``'s
    percentile_approx, ``agg_histogram_quantile_value_bound``'s
    fixed bins): quantize to int64 cents, build the per-group
    DISTINCT-VALUE histogram (partial-aggregated — heavy groups
    collapse to their value cardinality map-side), one running-count
    window over the distinct values only, then every requested
    quantile reads off the SAME cumulative frame as a conditional
    MIN (ceil(p*n) crossing) in one final aggregation — k quantiles
    cost one pass, not k sorts.

    Every boundary is integer arithmetic (ceil(p*n) as
    (num*n + den - 1) // den floor-division with both engines'
    semantics pinned), so the hash cannot drift on rounding. At unbounded
    value cardinality the histogram swaps for the mergeable
    fixed-bin sketch; this exact form is its certification
    instrument — same contract as the MAD row.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("vc"))
    hist = v.groupBy("event_type", "vc").agg(F.count("*").alias("c"))
    n_per = hist.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"))
    w = (Window.partitionBy("event_type").orderBy("vc")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (hist.withColumn("cum", F.sum("c").over(w))
           .join(F.broadcast(n_per), "event_type"))

    def q_at(num: int, den: int, out: str):
        # ceil(num*n/den) crossing = (num*n + den - 1) // den — as
        # Spark's `div` operator (true INTEGER division on longs):
        # F.floor over `/` routes the dividend through a DOUBLE and
        # loses exactness once num*n + den - 1 exceeds 2^53, while
        # the oracle's // never does (r9 ADVICE)
        k = F.expr(f"({num} * n + {den - 1}) div {den}")
        return F.min(F.when(F.col("cum") >= k, F.col("vc"))) \
            .cast("long").alias(out)

    return (cum.groupBy("event_type", "n")
            .agg(q_at(1, 4, "p25_cents"), q_at(1, 2, "p50_cents"),
                 q_at(9, 10, "p90_cents"), q_at(19, 20, "p95_cents")))


@register(
    "join_interval_overlap",
    oracle="""
    WITH iv AS (
        SELECT o_custkey AS c, o_orderkey AS k,
               CAST(o_orderdate AS DATE) AS s,
               CAST(o_orderdate AS DATE)
               + CAST(CAST(FLOOR(o_totalprice) AS BIGINT) % 14 + 1
                      AS INTEGER) AS e
        FROM orders
    )
    SELECT a.c AS custkey,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(MAX(date_diff('day', GREATEST(a.s, b.s),
                              LEAST(a.e, b.e)) + 1) AS INTEGER)
               AS max_overlap_days
    FROM iv a JOIN iv b
      ON a.c = b.c AND a.k < b.k AND a.s <= b.e AND b.s <= a.e
    GROUP BY a.c
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL OVERLAP self-join: per customer, pairs of orders
    whose validity windows overlap (predicate ``s1 <= e2 AND s2 <=
    e1``) — the third member of the temporal-join family next to
    as-of (join_asof_latest_order) and range-band
    (join_range_followup_events); the general two-sided form
    neither of those expresses. Output is aggregated per customer
    (overlap count + widest overlap in days) so result size tracks
    customers, not pairs.

    The interval END is derived (o_orderdate + 1..14 days keyed on
    floor(o_totalprice) % 14): this testdata carries no natural
    end-date column, and a VARIED deterministic width is what makes
    the predicate a genuine interval test rather than a fixed-band
    |d1-d2| <= c join. floor-before-cast on both sides — Spark's
    double->BIGINT cast truncates while DuckDB's rounds, the
    one-ulp trap that flips every derived width.

    Scale shape: the quadratic predicate is confined by EQUI-KEY
    BLOCKING — the join shuffles once on the customer key and
    evaluates intervals only within a customer's orders (bounded
    groups), the same discipline as every dedup blocking tier. An
    interval join with no key would instead block by overlapping
    date buckets (explode each interval to its covering buckets,
    equi-join on bucket, dedup pairs) — noted here because THAT is
    the 100 TB fallback; at this schema the key exists."""
    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_custkey").alias("c"),
        F.col("o_orderkey").alias("k"),
        F.to_date("o_orderdate").alias("s"),
        F.date_add(
            F.to_date("o_orderdate"),
            (F.floor("o_totalprice").cast("long") % 14 + 1)
            .cast("int")).alias("e"))
    a, b = iv.alias("a"), iv.alias("b")
    overlap_days = (F.datediff(F.least(F.col("a.e"), F.col("b.e")),
                               F.greatest(F.col("a.s"), F.col("b.s")))
                    + F.lit(1))
    return (a.join(b, (F.col("a.c") == F.col("b.c"))
                   & (F.col("a.k") < F.col("b.k"))
                   & (F.col("a.s") <= F.col("b.e"))
                   & (F.col("b.s") <= F.col("a.e")))
            .groupBy(F.col("a.c").alias("custkey"))
            .agg(F.count("*").cast("long").alias("n_overlaps"),
                 F.max(overlap_days).cast("integer")
                 .alias("max_overlap_days")))


@register(
    "join_lateral_topk_orders",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey,
           t.o_orderdate, t.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_orderdate, o_totalprice
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC
        LIMIT 2) t
    """,
)
def join_lateral_topk_orders(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Correlated LATERAL join: each customer's two most recent
    orders — the per-row-subquery surface (SQL:1999 LATERAL /
    CROSS APPLY) modern engines expose and report generators lean
    on. Expressed as actual LATERAL SQL on BOTH engines, not a
    window rewrite, to certify the decorrelation path itself.

    Shape at scale: Catalyst decorrelates the per-customer LIMIT
    subquery into a WindowGroupLimit (a PARTIAL top-2 per o_custkey
    below the exchange — map-side, so at most 2 rows per customer
    per task ever shuffle) + row_number filter + an equi-join back
    to customer; nothing resembling a per-row subquery execution
    survives in the physical plan (pinned in test_plans). Ties
    break on o_orderkey DESC, so the emitted row set is
    deterministic on both engines."""
    load_table(spark, sf_dir, "customer") \
        .createOrReplaceTempView("lat_customer")
    load_table(spark, sf_dir, "orders") \
        .createOrReplaceTempView("lat_orders")
    return spark.sql("""
        SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey,
               t.o_orderdate, t.o_totalprice
        FROM lat_customer c, LATERAL (
            SELECT o_orderkey, o_orderdate, o_totalprice
            FROM lat_orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC
            LIMIT 2) t
    """)


@register(
    "customer_rfm_segments",
    oracle="""
    WITH per_c AS (
        SELECT o_custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_day,
               CAST(COUNT(*) AS BIGINT) AS f,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS m_cents
        FROM orders GROUP BY 1
    ), anchor AS (
        SELECT MAX(last_day) AS d0 FROM per_c
    ), rfm AS (
        SELECT o_custkey,
               date_diff('day', last_day, d0) AS r_days, f, m_cents
        FROM per_c CROSS JOIN anchor
    ), bucketed AS (
        SELECT CAST(NTILE(4) OVER (ORDER BY r_days, o_custkey)
                    AS INTEGER) AS r_bucket,
               CAST(NTILE(4) OVER (ORDER BY f DESC, o_custkey)
                    AS INTEGER) AS f_bucket,
               CAST(NTILE(4) OVER (ORDER BY m_cents DESC, o_custkey)
                    AS INTEGER) AS m_bucket,
               m_cents
        FROM rfm
    )
    SELECT r_bucket, f_bucket, m_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(m_cents) / 100.0, 2) AS total_monetary
    FROM bucketed GROUP BY 1, 2, 3
    """,
)
def customer_rfm_segments(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles)
    — the classic customer-value grid every CRM/churn pipeline
    starts from: days since last order, order count, and lifetime
    spend, each cut into exact quartiles, then customers counted
    per (r, f, m) cell.

    Cross-engine determinism: NTILE is row-count arithmetic over a
    TOTAL order — every ORDER BY carries the customer key as the
    tiebreak, so both engines assign identical buckets; money
    folds as integer cents with one terminal ROUND.

    Shape at scale: one orders scan -> per-customer partial-agged
    rollup (|customers| rows), a 1-row anchor broadcast, then
    three NTILE windows. The windows are GLOBAL sorts of the
    per-customer frame — exact quartiles are a total-order
    statistic, priced like the equi-depth histogram
    (``agg_equidepth_bins``); the 100 TB variant swaps exact NTILE
    for percentile_approx thresholds broadcast back (the
    mixture-balancing discipline) at the cost of boundary
    exactness, which the oracle cannot certify — so the registered
    form keeps the exact statistic over the compact per-customer
    frame, never over raw orders."""
    o = load_table(spark, sf_dir, "orders")
    per_c = (o.groupBy("o_custkey")
             .agg(F.max(F.to_date("o_orderdate")).alias("last_day"),
                  F.count("*").cast("long").alias("f"),
                  F.sum(F.round(F.col("o_totalprice") * 100, 0)
                        .cast("long")).cast("long").alias("m_cents"))
             # anchor + ranking both consume it — one upstream scan
             .localCheckpoint(eager=False))
    anchor = per_c.agg(F.max("last_day").alias("d0"))
    rfm = (per_c.crossJoin(F.broadcast(anchor))
           .select("o_custkey",
                   F.datediff(F.col("d0"), F.col("last_day"))
                   .alias("r_days"), "f", "m_cents"))
    r_b = F.ntile(4).over(
        Window.orderBy("r_days", "o_custkey")).cast("int")
    f_b = F.ntile(4).over(
        Window.orderBy(F.col("f").desc(), "o_custkey")).cast("int")
    m_b = F.ntile(4).over(
        Window.orderBy(F.col("m_cents").desc(),
                       "o_custkey")).cast("int")
    return (rfm.select(r_b.alias("r_bucket"), f_b.alias("f_bucket"),
                       m_b.alias("m_bucket"), "m_cents")
            .groupBy("r_bucket", "f_bucket", "m_bucket")
            .agg(F.count("*").cast("long").alias("n_customers"),
                 F.round(F.sum("m_cents") / 100.0, 2)
                 .alias("total_monetary")))


@register(
    "customer_order_cadence",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               date_diff('day',
                   LAG(CAST(o_orderdate AS DATE)) OVER (
                       PARTITION BY o_custkey
                       ORDER BY CAST(o_orderdate AS DATE),
                                o_orderkey),
                   CAST(o_orderdate AS DATE)) AS gap
        FROM orders
    ), per_c AS (
        SELECT o_custkey,
               CAST(COUNT(gap) AS BIGINT) AS n_gaps,
               CAST(SUM(gap) AS BIGINT) AS sum_gap,
               CAST(MAX(gap) AS BIGINT) AS max_gap
        FROM gaps WHERE gap IS NOT NULL GROUP BY 1
    )
    SELECT c_mktsegment AS mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(n_gaps) AS BIGINT) AS n_gaps,
           ROUND(SUM(sum_gap) * 1.0 / SUM(n_gaps), 2)
               AS avg_gap_days,
           CAST(MAX(max_gap) AS BIGINT) AS max_gap_days
    FROM per_c JOIN customer ON c_custkey = o_custkey
    GROUP BY 1
    """,
)
def customer_order_cadence(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Inter-purchase cadence per market segment: for every
    repeat customer, the day gaps between consecutive orders
    (LAG over the customer's order timeline), rolled up to
    segment-level repeat-customer counts, average and maximum gap
    — the reorder-cycle statistic behind replenishment forecasts
    and churn-risk windows ("customer is N× past their usual
    gap").

    Cross-engine determinism: the LAG runs over (orderdate,
    orderkey) — a TOTAL order, so same-day orders produce the
    same gap multiset in both engines (a date tie contributes a 0
    gap wherever it lands); gaps fold as BIGINT sums with ONE
    terminal rounded division.

    Shape at scale: one orders scan -> per-customer window
    (partitionBy custkey — the natural key distribution, no
    global sort) -> per-customer partial agg (|customers| rows)
    -> broadcast-joined segment rollup (25-row output). The
    window and both aggs share the custkey exchange; customer
    joins AFTER the rollup, |customers| rows not |orders|."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rows = o.select("o_custkey",
                    F.to_date("o_orderdate").alias("day"),
                    "o_orderkey")
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    gaps = (rows.select(
        "o_custkey",
        F.datediff(F.col("day"), F.lag("day").over(w))
        .alias("gap"))
        .filter(F.col("gap").isNotNull()))
    per_c = (gaps.groupBy("o_custkey")
             .agg(F.count("*").cast("long").alias("n_gaps"),
                  F.sum("gap").cast("long").alias("sum_gap"),
                  F.max("gap").cast("long").alias("max_gap")))
    return (per_c
            .join(c.select(
                F.col("c_custkey").alias("o_custkey"),
                "c_mktsegment"), "o_custkey")
            .groupBy(F.col("c_mktsegment").alias("mktsegment"))
            .agg(F.count("*").cast("long").alias("n_customers"),
                 F.sum("n_gaps").cast("long").alias("n_gaps"),
                 F.round(F.sum("sum_gap") * F.lit(1.0)
                         / F.sum("n_gaps"), 2)
                 .alias("avg_gap_days"),
                 F.max("max_gap").cast("long")
                 .alias("max_gap_days")))
