"""Relational core: projections, filters, joins, aggregations, windows,
sorts, set ops (SURVEY.md §2 P1-P5, F1-F4, X1, D1, A1-carry, U1/U2 + §2.1).

The reference implements only a literal cross product (X1,
``species_range_etl.py:101-127``), an anti-join-shaped idempotency check (D1,
``:117-120``), a grouped geometric aggregation (A1, ``:205``) and union-alls
(U1/U2, ``:206-225``); everything else here is the standard relational
surface the engine provides on top (SURVEY.md §2.1).

Scale notes (local[32] tests, 1000-executor design):
- Dimension joins (nation/region/customer at dim scale) broadcast — either
  via the 64 MB autoBroadcastJoinThreshold or an explicit ``F.broadcast``.
- The 3-row literal threshold fan-out (X1) is expressed as ``explode`` of a
  literal array: zero join, zero shuffle — strictly better than the
  broadcast-nested-loop the reference's nested Python loop implies.
- Aggregations are plain ``groupBy``: Catalyst plans partial (map-side)
  aggregation automatically, so the only full shuffle is on the group key.
- Top-k per group uses window + filter; AQE handles skewed groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table

# --------------------------------------------------------------------------
# Flagship: the species-range workload shape on the fixture tables.
# --------------------------------------------------------------------------


def flagship_threshold_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core dataflow shape (X1 -> F3 -> A1 carry), relationally.

    Mirrors ``species_range_etl.py:101-127,199-227``: each raster (here:
    lineitem row with presence = l_quantity/50) is fanned out across the
    literal thresholds [0.25, 0.5, 0.75], kept where presence >= threshold,
    then dissolved per (species := l_returnflag, threshold) with an area-like
    measure and a first()-style attribute carry (deterministic ``min``).

    Plan shape: explode(literal array) -> filter -> partial+final hash agg ->
    sort.  No join, one shuffle (the groupBy), sort folded by AQE.

    Measured alternative (rejected): a conditional-aggregate + stack()
    formulation that avoids the 3x row fan-out runs SLOWER steady-state
    (1.6-1.8s vs 1.1-1.6s at sf0.1, order-controlled) — the exploded rows
    are narrow and the map-side partials collapse to 9 groups per
    partition anyway, while 9 wide conditional buffers per input row cost
    more CPU than the fan-out saves.  The shuffle is 9 groups either way.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.withColumn(
            "threshold", F.explode(F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
        )
        .where((F.col("l_quantity") / F.lit(50.0)) >= F.col("threshold"))
        .groupBy(F.col("l_returnflag").alias("species"), "threshold")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "range_area"
            ),
            F.count(F.lit(1)).alias("cell_count"),
            # min over a STRING buffer forces SortAggregate; min(ascii) keeps
            # the whole aggregate in HashAggregate (fixed-width buffer) and is
            # identical for the single-char status flag.
            F.expr("char(min(ascii(l_linestatus)))").alias("status_carry"),
        )
        .orderBy("species", "threshold")
    )


FLAGSHIP_ORACLE = """
SELECT l_returnflag AS species,
       threshold,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS range_area,
       count(*) AS cell_count,
       chr(min(ascii(l_linestatus))) AS status_carry
FROM lineitem
-- DOUBLE cast: bare VALUES literals are DECIMAL(3,2) in DuckDB, which
-- stringifies as '0.50' vs Spark's double '0.5' under fetchall()
CROSS JOIN (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                   (CAST(0.75 AS DOUBLE))) AS t(threshold)
WHERE l_quantity / 50.0 >= threshold
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Aggregation family
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate; the canonical partial-agg plan.

    Predicate + 7-column projection both reach the parquet scan
    (PushedFilters / ReadSchema); the groupBy shuffles 4 groups only.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group — two-phase distinct aggregation."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("distinct_suppliers"),
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


AGG_DISTINCT_ORACLE = """
SELECT l_returnflag,
       count(DISTINCT l_suppkey) AS distinct_suppliers,
       count(DISTINCT l_partkey) AS distinct_parts,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping-id — multi-level aggregate in one pass."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .orderBy(
            F.col("gid"),
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


AGG_ROLLUP_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
        .where(F.col("n_orders") > 100)
        .orderBy("o_orderpriority")
    )


AGG_HAVING_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(avg(o_totalprice), 2) AS avg_price
FROM orders
GROUP BY o_orderpriority
HAVING count(*) > 100
ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Join family
# --------------------------------------------------------------------------


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-k.

    customer is dimension-sized -> broadcast; orders|x|lineitem shuffles on
    the order key.  LIMIT with a full ORDER BY is a TakeOrderedAndProject —
    no global sort materialization.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15").cast("timestamp")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            # customer is SF-proportional — no forced hint (rule 59)
            customer.where(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .where((F.col("o_orderdate") < cutoff) & (F.col("l_shipdate") > cutoff))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            # exact DECIMAL sum, so rounding at a .005 boundary agrees
            # with the oracle; the double cast keeps the output schema
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(15,2)")
                    * (1 - F.col("l_discount").cast("decimal(15,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


Q3_ORACLE = """
SELECT l_orderkey,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                      * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2)
            AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way snowflake join with the c/s nation alignment.

    region -> nation -> supplier chain is all broadcast; only the
    lineitem|x|orders equi-join shuffles.
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            # customer/supplier are SF-proportional — no forced hint
            # (rule 59); nation/region below stay hinted (25/5 rows)
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


Q5_ORACLE = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def join_left_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving empty groups (nations with no customers)."""
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    return (
        nation.join(customer, F.col("n_nationkey") == F.col("c_nationkey"), "left")
        .groupBy("n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.round(F.coalesce(F.sum("c_acctbal"), F.lit(0.0)), 2).alias("total_acctbal"),
        )
        .orderBy("n_name")
    )


JOIN_LEFT_ORACLE = """
SELECT n_name,
       count(c_custkey) AS n_customers,
       round(coalesce(sum(c_acctbal), 0.0), 2) AS total_acctbal
FROM nation
LEFT JOIN customer ON n_nationkey = c_nationkey
GROUP BY n_name
ORDER BY n_name
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): orders that contain a high-discount item."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    hot = lineitem.where(F.col("l_discount") >= 0.09)
    return (
        orders.join(hot, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice"))
        .orderBy("o_orderkey")
    )


JOIN_SEMI_ORACLE = """
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_discount >= 0.09)
ORDER BY o_orderkey
"""


def join_anti_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join — operator D1, the reference's idempotency skip.

    ``species_range_etl.py:117-120`` skips work whose output already exists
    on disk; relationally that is work-list ANTI JOIN materialized-keys.
    Here the 'already materialized sink' is simulated as every third order.
    """
    orders = load_table(spark, sf_dir, "orders")
    materialized = orders.where(F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    return (
        orders.join(materialized, "o_orderkey", "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("pending_orders"))
        .orderBy("o_orderstatus")
    )


JOIN_ANTI_ORACLE = """
SELECT o_orderstatus, count(*) AS pending_orders
FROM orders
WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join over two aggregated key sets with null-side coalesce."""
    orders = load_table(spark, sf_dir, "orders")
    early = (
        orders.where(F.col("o_orderdate") < F.lit("1996-06-01").cast("timestamp"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("early_orders"))
    )
    late = (
        orders.where(F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("late_orders"))
    )
    return (
        early.join(late, "o_custkey", "full_outer")
        .select(
            "o_custkey",
            F.coalesce("early_orders", F.lit(0)).alias("early_orders"),
            F.coalesce("late_orders", F.lit(0)).alias("late_orders"),
        )
        .orderBy("o_custkey")
    )


JOIN_FULL_ORACLE = """
SELECT coalesce(e.o_custkey, l.o_custkey) AS o_custkey,
       coalesce(e.early_orders, 0) AS early_orders,
       coalesce(l.late_orders, 0) AS late_orders
FROM (SELECT o_custkey, count(*) AS early_orders FROM orders
      WHERE o_orderdate < TIMESTAMP '1996-06-01' GROUP BY o_custkey) e
FULL OUTER JOIN (SELECT o_custkey, count(*) AS late_orders FROM orders
      WHERE o_orderdate >= TIMESTAMP '2000-06-01' GROUP BY o_custkey) l
ON e.o_custkey = l.o_custkey
ORDER BY o_custkey
"""


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number top-k per group (top 3 orders per customer by price)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select(
            "o_custkey",
            "rnk",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
        .orderBy("o_custkey", "rnk")
    )


WINDOW_TOPK_ORACLE = """
SELECT o_custkey, rnk, o_orderkey, round(o_totalprice, 2) AS o_totalprice
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
      FROM orders)
WHERE rnk <= 3
ORDER BY o_custkey, rnk
"""


def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum per partition with a deterministic total order."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


WINDOW_RUNNING_ORACLE = """
SELECT o_custkey,
       o_orderkey,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
ORDER BY o_custkey, o_orderkey
"""


def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() — per-user event value delta in event-time order."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            "user_id",
            "event_id",
            F.round(
                F.col("value") - F.lag("value", 1, 0.0).over(w), 2
            ).alias("value_delta"),
        )
        .orderBy("user_id", "event_id")
    )


WINDOW_LAG_ORACLE = """
SELECT user_id,
       event_id,
       round(value - lag(value, 1, 0.0) OVER (
           PARTITION BY user_id ORDER BY ts, event_id), 2) AS value_delta
FROM events
ORDER BY user_id, event_id
"""


def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank vs dense_rank over ties (part sizes within a brand)."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_size").desc())
    return (
        part.select(
            "p_brand",
            "p_partkey",
            "p_size",
            F.rank().over(w).cast("long").alias("size_rank"),
            F.dense_rank().over(w).cast("long").alias("size_dense_rank"),
        )
        .orderBy("p_brand", "size_rank", "p_partkey")
    )


WINDOW_RANK_ORACLE = """
SELECT p_brand, p_partkey, p_size,
       CAST(rank() OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS BIGINT)
           AS size_rank,
       CAST(dense_rank() OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS BIGINT)
           AS size_dense_rank
FROM part
ORDER BY p_brand, size_rank, p_partkey
"""


# --------------------------------------------------------------------------
# Sorts / limits / set ops
# --------------------------------------------------------------------------


def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: ORDER BY + LIMIT -> TakeOrderedAndProject (no full sort)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("l_extendedprice"),
        )
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(20)
    )


SORT_LIMIT_ORACLE = """
SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 20
"""


def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key sets — U1/U2 plus dedup semantics."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    a = orders.where(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("custkey")
    )
    b = customer.where(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("custkey")
    )
    return a.union(b).distinct().orderBy("custkey")


SETOP_UNION_ORACLE = """
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
UNION
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
ORDER BY custkey
"""


def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers active in both halves of the date range."""
    orders = load_table(spark, sf_dir, "orders")
    mid = F.lit("1998-06-01").cast("timestamp")
    a = orders.where(F.col("o_orderdate") < mid).select(
        F.col("o_custkey").alias("custkey")
    )
    b = orders.where(F.col("o_orderdate") >= mid).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b).orderBy("custkey")


SETOP_INTERSECT_ORACLE = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-06-01'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-06-01'
ORDER BY custkey
"""


def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers with accounts but no orders at all."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    a = customer.select(F.col("c_custkey").alias("custkey"))
    b = orders.select(F.col("o_custkey").alias("custkey"))
    return a.subtract(b).orderBy("custkey")


SETOP_EXCEPT_ORACLE = """
SELECT c_custkey AS custkey FROM customer
EXCEPT
SELECT o_custkey AS custkey FROM orders
ORDER BY custkey
"""


def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — multiset semantics: a customer appearing m times
    in the first half and n in the second yields min(m, n) rows, not 1.
    Spark plans ``intersectAll`` as a count-annotated aggregate + join +
    generate (no row-pair matching); the rollup makes the multiset
    cardinalities the checkable observable."""
    orders = load_table(spark, sf_dir, "orders")
    mid = F.lit("1998-06-01").cast("timestamp")
    a = orders.where(F.col("o_orderdate") < mid).select(
        F.col("o_custkey").alias("custkey")
    )
    b = orders.where(F.col("o_orderdate") >= mid).select(
        F.col("o_custkey").alias("custkey")
    )
    return (
        a.intersectAll(b)
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .orderBy("custkey")
    )


SETOP_INTERSECT_ALL_ORACLE = """
WITH i AS (
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate < TIMESTAMP '1998-06-01'
    INTERSECT ALL
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-06-01'
)
SELECT custkey, count(*) AS n_copies FROM i GROUP BY 1 ORDER BY 1
"""


def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset semantics: m occurrences minus n occurrences
    leaves max(m - n, 0) rows per key (DISTINCT except would leave 0 or
    1).  Same count-annotated physical strategy as intersectAll."""
    orders = load_table(spark, sf_dir, "orders")
    mid = F.lit("1998-06-01").cast("timestamp")
    a = orders.where(F.col("o_orderdate") < mid).select(
        F.col("o_custkey").alias("custkey")
    )
    b = orders.where(F.col("o_orderdate") >= mid).select(
        F.col("o_custkey").alias("custkey")
    )
    return (
        a.exceptAll(b)
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .orderBy("custkey")
    )


SETOP_EXCEPT_ALL_ORACLE = """
WITH e AS (
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate < TIMESTAMP '1998-06-01'
    EXCEPT ALL
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-06-01'
)
SELECT custkey, count(*) AS n_copies FROM e GROUP BY 1 ORDER BY 1
"""


def sort_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL placement in ORDER BY, pinned explicitly — a real dialect
    trap: Spark's ASC default is NULLS FIRST, DuckDB/Postgres default is
    NULLS LAST, so any cross-engine sort over a nullable key silently
    disagrees unless the placement is spelled out.  Both directions are
    exercised (ASC NULLS LAST, DESC NULLS FIRST) with a unique tiebreak."""
    orders = load_table(spark, sf_dir, "orders")
    key = F.nullif((F.col("o_orderkey") % 7).cast("long"), F.lit(0))
    ranked = orders.select(
        key.alias("k"), F.col("o_orderkey").alias("okey")
    )
    asc = ranked.orderBy(F.col("k").asc_nulls_last(), "okey").limit(20)
    desc = ranked.orderBy(F.col("k").desc_nulls_first(), "okey").limit(20)
    return (
        asc.select(F.lit("asc_nl").alias("dir"), "k", "okey")
        .unionByName(desc.select(F.lit("desc_nf").alias("dir"), "k", "okey"))
        .orderBy("dir", "okey")
    )


SORT_NULLS_ORACLE = """
WITH r AS (
    SELECT nullif(o_orderkey % 7, 0) AS k, o_orderkey AS okey FROM orders
), a AS (
    SELECT 'asc_nl' AS dir, k, okey FROM r
    ORDER BY k ASC NULLS LAST, okey LIMIT 20
), d AS (
    SELECT 'desc_nf' AS dir, k, okey FROM r
    ORDER BY k DESC NULLS FIRST, okey LIMIT 20
)
SELECT * FROM a UNION ALL SELECT * FROM d ORDER BY dir, okey
"""


# One SQL text, two engines: Spark 4 and DuckDB both speak correlated
# LATERAL with ORDER BY + LIMIT, so the query below runs verbatim as the
# plan AND the oracle — the strongest possible dialect-parity statement.
JOIN_LATERAL_TOPK_SQL = """
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
FROM customer c, LATERAL (
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 2
) o
ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey
"""


def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: each customer's top-2 orders by price.

    The interesting part is what Catalyst DOES with it: the naive reading
    is a per-customer re-scan of orders (quadratic); Spark decorrelates
    the LATERAL into a ``WindowGroupLimit`` over orders partitioned by
    ``o_custkey`` — a partial group-limit BEFORE the shuffle, the exchange
    on the customer key, a final group-limit, then one broadcast join back
    to customer.  That is exactly the hand-written ``window_topk_per_group``
    plan, derived automatically from the declarative form — the engine's
    argument for writing the intent, not the algorithm.  Scale: one
    shuffle of the (pre-limited) fact table; the dimension broadcasts.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(JOIN_LATERAL_TOPK_SQL)


_IV_BIN_DAYS = 16  # covers a 10-day window with <= 2 bins per interval


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: urgent vs low-priority big-ticket orders
    whose 10-day fulfilment windows intersect (the temporal analogue of a
    spatial intersects join — Spark has no native interval join).

    Thin caller of the generic bin-and-refine operator
    `operators/intervals.py::interval_join` (property-pinned there against
    the all-pairs theta join): each side maps its window onto 16-day
    epoch bins (<= 2 bins per 10-day interval), the equi-join on the bin
    gives candidates, the exact theta predicate refines, and the
    reporting-bin guard makes each pair appear exactly once.  At 100 TB
    this is one co-partitioned equi-join shuffle on an 8-byte key; the
    all-pairs theta join the oracle runs would be a broadcast-nested-loop
    that never finishes.
    """
    from ..operators.intervals import interval_join

    orders = load_table(spark, sf_dir, "orders")

    def windows(prefix: str, tag: str) -> DataFrame:
        d = F.to_date("o_orderdate")
        return orders.where(
            F.col("o_orderpriority").startswith(prefix)
            & (F.col("o_totalprice") > 450000)
        ).select(
            F.col("o_orderkey").alias(f"{tag}_key"),
            d.alias(f"{tag}_s"),
            F.date_add(d, 10).alias(f"{tag}_e"),
        )

    pairs = interval_join(
        windows("1", "a"),
        windows("5", "b"),
        ("a_s", "a_e"),
        ("b_s", "b_e"),
        bin_size=_IV_BIN_DAYS,
    )
    return (
        pairs.select(
            "a_key",
            "b_key",
            (
                F.datediff(
                    F.least("a_e", "b_e"), F.greatest("a_s", "b_s")
                )
                + 1
            )
            .cast("long")
            .alias("overlap_days"),
        )
        .orderBy("a_key", "b_key")
    )


JOIN_INTERVAL_OVERLAP_ORACLE = """
WITH a AS (
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS s,
           CAST(o_orderdate AS DATE) + 10 AS e
    FROM orders WHERE o_orderpriority LIKE '1%' AND o_totalprice > 450000
), b AS (
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS s,
           CAST(o_orderdate AS DATE) + 10 AS e
    FROM orders WHERE o_orderpriority LIKE '5%' AND o_totalprice > 450000
)
SELECT a.o_orderkey AS a_key, b.o_orderkey AS b_key,
       CAST(date_diff('day', greatest(a.s, b.s), least(a.e, b.e)) + 1
            AS BIGINT) AS overlap_days
FROM a JOIN b ON a.s <= b.e AND b.s <= a.e
ORDER BY a_key, b_key
"""


def scrape_pipeline_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FRONT DOOR (S1 list fetch -> S3 scrape -> F1
    availability filter -> S4 zip fetch -> T1 expand -> T3 ASCII decode)
    driven end-to-end against a REAL in-process HTTP server, under a
    driver hash (r10: these stages previously had live-socket pytest
    coverage only, `tests/test_live_http.py`).

    The served content is derived from the NATION fixture so the oracle
    is cross-engine: one species per nation row (name =
    lower(replace(n_name,' ','-'))-nationkey), each page carrying one
    available scenario (zip on the SECOND <li>, the reference's
    hardcoded index) and one "Image not available" block the F1 filter
    must drop BEFORE any fetch; each zip holds a 3x2 ASCII grid whose
    live values are (k, k+1, k+2, k+3, k+5) for nationkey k — so the
    final per-species (n_scenarios, n_available, n_cells, total) rollup
    is value-sensitive to every stage: a framing, filter, unzip, or
    decode defect anywhere breaks the hash against
    ``5*k + 11``.

    The 25-row nation dimension is materialized driver-side to build
    the server fixture — bounded by construction (a fixed-size
    dimension, the same class as the k-centroid collects).  Executors
    fetch from 127.0.0.1, which is exact in local mode; this lane is a
    local-fixture drive of the HTTP machinery, not a distributed-crawl
    claim (that posture is the WARC lane's).
    """
    import io
    import threading
    import urllib.request
    import zipfile
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from ..pipeline.raster import decode_ascii_members, expand_zip
    from ..sources.scrape import scrape_scenarios
    from ..sources.species_list import fetch_species_list

    nation = load_table(spark, sf_dir, "nation").select(
        "n_name", "n_nationkey"
    )
    keys = {
        f"{r.n_name.lower().replace(' ', '-')}-{r.n_nationkey}": int(
            r.n_nationkey
        )
        for r in nation.collect()
    }
    tsv = "".join(f"{sp}\t{sp}\t{sp}\tsrc\n" for sp in sorted(keys))

    def _asc(k: int) -> str:
        return (
            "ncols 3\nnrows 2\nxllcorner 0.0\nyllcorner 0.0\n"
            f"cellsize 1.0\nNODATA_value -9999\n{k} {k + 1} {k + 2}\n"
            f"{k + 3} -9999 {k + 5}\n"
        )

    def _page(sp: str) -> str:
        return (
            '<html><body><div class="thumbnail-file-group"><h4>GFDL 4.5'
            ' 2080</h4><div class="thumbnail-file-group-02"><ul>'
            f'<li><a href="img/{sp}.png">preview</a></li>'
            f'<li><a href="files/{sp}.zip">download</a></li>'
            '</ul></div></div>'
            '<div class="thumbnail-file-group"><h4>HadGEM 8.5 2080</h4>'
            "<p>Image not available</p>"
            '<div class="thumbnail-file-group-02"><ul>'
            '<li><a href="img/none.png">p</a></li>'
            '<li><a href="files/none.zip">d</a></li>'
            "</ul></div></div></body></html>"
        )

    class _Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib API name)
            parts = self.path.strip("/").split("/")
            if self.path == "/speciesList.txt":
                body = tsv.encode()
            elif parts[0] == "atlas" and len(parts) == 2 and parts[1] in keys:
                body = _page(parts[1]).encode()
            elif (
                parts[0] == "files"
                and parts[-1].endswith(".zip")
                and parts[-1].removesuffix(".zip") in keys
            ):
                sp = parts[-1].removesuffix(".zip")
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w") as zf:
                    zf.writestr(f"{sp}_pred_2080.txt", _asc(keys[sp]))
                body = buf.getvalue()
            else:
                self.send_error(404)
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"

    def get_text(url: str) -> str:
        with urllib.request.urlopen(url, timeout=30) as r:
            return r.read().decode()

    try:
        species = fetch_species_list(
            spark, f"{base}/speciesList.txt", get_text
        )
        scenarios = scrape_scenarios(
            species, get_text, url_template=f"{base}/atlas/{{species}}"
        )
        scen_agg = (
            scenarios.where(F.col("error").isNull())
            .groupBy("species")
            .agg(
                F.count(F.lit(1)).alias("n_scenarios"),
                F.sum(F.col("available").cast("long")).alias("n_available"),
            )
        )
        import pandas as pd

        def fetch_fn(batches):
            for pdf in batches:
                out = []
                for sp, rel in zip(pdf["species"], pdf["zip_url"]):
                    with urllib.request.urlopen(
                        f"{base}/{rel}", timeout=30
                    ) as r:
                        out.append({"path": f"{sp}.zip", "content": r.read()})
                yield pd.DataFrame(out, columns=["path", "content"])

        archives = (
            scenarios.where(F.col("available"))
            .select("species", "zip_url")
            .mapInPandas(fetch_fn, "path string, content binary")
        )
        cells = decode_ascii_members(expand_zip(archives))
        cell_agg = (
            cells.where(F.col("error").isNull())
            .groupBy(
                F.regexp_extract("file", r"^(.*)_pred_2080\.txt$", 1).alias(
                    "species"
                )
            )
            .agg(
                F.count(F.lit(1)).alias("n_cells"),
                F.sum("value").alias("total"),
            )
        )
        out = scen_agg.join(cell_agg, "species").localCheckpoint(eager=True)
    finally:
        srv.shutdown()
        srv.server_close()
    return out.orderBy("species")


SCRAPE_PIPELINE_LIVE_ORACLE = """
SELECT lower(replace(n_name, ' ', '-')) || '-' || n_nationkey AS species,
       CAST(2 AS BIGINT) AS n_scenarios,
       CAST(1 AS BIGINT) AS n_available,
       CAST(5 AS BIGINT) AS n_cells,
       CAST(5 * n_nationkey + 11 AS DOUBLE) AS total
FROM nation
ORDER BY species
"""


QUERIES = {
    "scrape_pipeline_live": scrape_pipeline_live,
    "join_lateral_topk": join_lateral_topk,
    "join_interval_overlap": join_interval_overlap,
    "flagship_threshold_rollup": flagship_threshold_rollup,
    "setop_intersect_all": setop_intersect_all,
    "setop_except_all": setop_except_all,
    "sort_nulls_ordering": sort_nulls_ordering,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_volume": q5_region_volume,
    "agg_distinct": agg_distinct,
    "agg_rollup": agg_rollup,
    "agg_having": agg_having,
    "join_left_counts": join_left_counts,
    "join_semi": join_semi,
    "join_anti_idempotent": join_anti_idempotent,
    "join_full_outer": join_full_outer,
    "window_topk_per_group": window_topk_per_group,
    "window_running_total": window_running_total,
    "window_lag_delta": window_lag_delta,
    "window_rank_dense": window_rank_dense,
    "sort_limit_topk": sort_limit_topk,
    "setop_union_distinct": setop_union_distinct,
    "setop_intersect": setop_intersect,
    "setop_except": setop_except,
}

ORACLES = {
    "scrape_pipeline_live": SCRAPE_PIPELINE_LIVE_ORACLE,
    "join_lateral_topk": JOIN_LATERAL_TOPK_SQL,
    "join_interval_overlap": JOIN_INTERVAL_OVERLAP_ORACLE,
    "flagship_threshold_rollup": FLAGSHIP_ORACLE,
    "q1_pricing_summary": Q1_ORACLE,
    "q3_shipping_priority": Q3_ORACLE,
    "q5_region_volume": Q5_ORACLE,
    "agg_distinct": AGG_DISTINCT_ORACLE,
    "agg_rollup": AGG_ROLLUP_ORACLE,
    "agg_having": AGG_HAVING_ORACLE,
    "join_left_counts": JOIN_LEFT_ORACLE,
    "join_semi": JOIN_SEMI_ORACLE,
    "join_anti_idempotent": JOIN_ANTI_ORACLE,
    "join_full_outer": JOIN_FULL_ORACLE,
    "window_topk_per_group": WINDOW_TOPK_ORACLE,
    "window_running_total": WINDOW_RUNNING_ORACLE,
    "window_lag_delta": WINDOW_LAG_ORACLE,
    "window_rank_dense": WINDOW_RANK_ORACLE,
    "sort_limit_topk": SORT_LIMIT_ORACLE,
    "setop_union_distinct": SETOP_UNION_ORACLE,
    "setop_intersect": SETOP_INTERSECT_ORACLE,
    "setop_except": SETOP_EXCEPT_ORACLE,
    "setop_intersect_all": SETOP_INTERSECT_ALL_ORACLE,
    "setop_except_all": SETOP_EXCEPT_ALL_ORACLE,
    "sort_nulls_ordering": SORT_NULLS_ORACLE,
}
