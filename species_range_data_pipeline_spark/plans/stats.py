"""Statistical aggregates, ordered-set style aggregates, and a MERGE-style
CDC upsert — §2.1 standard surface with no reference counterpart (the
reference's only aggregate is the geometric dissolve,
``species_range_etl.py:205``).

Parity discipline (see tests/test_oracle_parity.py): every float is rounded
in BOTH engines; every ordering that feeds an order-sensitive function gets
a unique tie-break key; arg_max/min use a UNIQUE ordering column so the
chosen row is well-defined in both engines.

Scale notes: all of these are single fact-shuffle groupBy plans; the merge
upsert joins fact-to-changes on the (already unique) order key, which at
cluster scale is the textbook case for pre-bucketed storage on the merge
key (see operators/bucketing.py) — the full-outer join then needs no
exchange at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.materialize import materialize_once


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddev/variance/correlation/covariance per group.

    Rounded to 3 decimals: Spark and DuckDB use different streaming-moment
    algorithms, identical only to ~1e-9 relative error.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            # + 0.0 normalizes the signed zero a round() can produce —
            # str(-0.0) != str(0.0) under the driver's value hash.
            (F.round(F.stddev_samp("l_extendedprice"), 3) + 0.0).alias("price_stddev"),
            (F.round(F.var_samp("l_quantity"), 3) + 0.0).alias("qty_var"),
            (F.round(F.corr("l_quantity", "l_extendedprice"), 3) + 0.0).alias(
                "qty_price_corr"
            ),
            (F.round(F.covar_samp("l_discount", "l_tax"), 6) + 0.0).alias(
                "disc_tax_covar"
            ),
        )
        .orderBy("l_returnflag")
    )


AGG_STATS_ORACLE = """
SELECT l_returnflag,
       round(stddev_samp(l_extendedprice), 3) + 0.0 AS price_stddev,
       round(var_samp(l_quantity), 3) + 0.0 AS qty_var,
       round(corr(l_quantity, l_extendedprice), 3) + 0.0 AS qty_price_corr,
       round(covar_samp(l_discount, l_tax), 6) + 0.0 AS disc_tax_covar
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (argmax/argmin) with a UNIQUE ordering key.

    Status of the newest/oldest order per priority, 'newest' proxied by the
    unique o_orderkey so the selected row is deterministic — max_by over a
    tied ordering column is undefined in both engines.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.expr("max_by(o_orderstatus, o_orderkey)").alias("newest_status"),
            F.expr("min_by(o_orderstatus, o_orderkey)").alias("oldest_status"),
            F.max("o_orderkey").alias("max_orderkey"),
        )
        .orderBy("o_orderpriority")
    )


AGG_MINMAX_BY_ORACLE = """
SELECT o_orderpriority,
       arg_max(o_orderstatus, o_orderkey) AS newest_status,
       arg_min(o_orderstatus, o_orderkey) AS oldest_status,
       max(o_orderkey) AS max_orderkey
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg): distinct values sorted then
    joined, so the concatenation is order-stable in both engines."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias(
                "statuses"
            ),
            F.countDistinct("l_linestatus").alias("n_statuses"),
        )
        .orderBy("l_returnflag")
    )


AGG_STRING_CONCAT_ORACLE = """
SELECT l_returnflag,
       string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
       count(DISTINCT l_linestatus) AS n_statuses
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def agg_count_if_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional count + boolean aggregates (count_if / bool_and / bool_or)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_linestatus")
        .agg(
            F.expr("count_if(l_discount > 0.05)").cast("long").alias("n_discounted"),
            F.expr("bool_and(l_quantity > 0)").alias("all_positive_qty"),
            F.expr("bool_or(l_tax > 0.07)").alias("any_high_tax"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_linestatus")
    )


AGG_COUNT_IF_ORACLE = """
SELECT l_linestatus,
       CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
       bool_and(l_quantity > 0) AS all_positive_qty,
       bool_or(l_tax > 0.07) AS any_high_tax,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def window_percent_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-distribution windows: percent_rank, cume_dist, lead.

    Ordering is (o_totalprice, o_orderkey) — unique — so lead() has a
    well-defined neighbor and cume_dist equals row_number/n in both engines.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.where(F.col("o_totalprice") > 450000)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round(F.percent_rank().over(w), 6).alias("price_pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("price_cume_dist"),
            F.lead("o_orderkey", 1, -1).over(w).alias("next_orderkey"),
        )
        .orderBy("o_orderpriority", "o_orderkey")
    )


WINDOW_PERCENT_ORACLE = """
SELECT o_orderpriority,
       o_orderkey,
       round(percent_rank() OVER w, 6) AS price_pct_rank,
       round(cume_dist() OVER w, 6) AS price_cume_dist,
       lead(o_orderkey, 1, -1) OVER w AS next_orderkey
FROM orders
WHERE o_totalprice > 450000
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderpriority, o_orderkey
"""


def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (CDC upsert) semantics via full-outer join.

    Stock Spark has no MERGE without a lakehouse table format, but the
    operation is a join: changes = updates (10% price bump on every 10th
    order) + inserts (re-keyed copies of every 17th order, status 'N');
    MERGE = target FULL OUTER changes ON key, coalescing change-side values.
    Post-merge totals per status are the observable.

    At scale: bucket both sides on the merge key (operators/bucketing.py)
    and the join is exchange-free; with AQE on, the skew-join split handles
    hot keys.
    """
    orders = load_table(spark, sf_dir, "orders")
    # r18 note: a one-scan conditional-struct-explode change derivation
    # (filter + explode(array_compact(array(upd, ins)))) was built and
    # interleave-measured at 1.11-1.47x the union form locally — the
    # per-row Generate costs more than the saved column-pruned scan —
    # and reverted (guide §1.1: empirical loop beats the ideal-plan
    # guess).  At production scale the change stream is an external CDC
    # feed (one pass by construction), so the union below is fixture
    # plumbing, not the scale path.
    updates = orders.where(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("c_orderkey"),
        (F.col("o_totalprice") * 1.1).alias("c_totalprice"),
        F.col("o_orderstatus").alias("c_orderstatus"),
    )
    inserts = orders.where(F.col("o_orderkey") % 17 == 3).select(
        (F.col("o_orderkey") + 100000000).alias("c_orderkey"),
        F.col("o_totalprice").alias("c_totalprice"),
        F.lit("N").alias("c_orderstatus"),
    )
    changes = updates.unionByName(inserts)
    return (
        orders.join(
            changes, F.col("o_orderkey") == F.col("c_orderkey"), "full_outer"
        )
        .select(
            F.coalesce("c_orderstatus", "o_orderstatus").alias("status"),
            F.coalesce("c_totalprice", "o_totalprice").alias("price"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("price"), 2).alias("total_price"),
        )
        .orderBy("status")
    )


MERGE_UPSERT_ORACLE = """
WITH changes AS (
    SELECT o_orderkey AS c_orderkey,
           o_totalprice * 1.1 AS c_totalprice,
           o_orderstatus AS c_orderstatus
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT o_orderkey + 100000000, o_totalprice, 'N'
    FROM orders WHERE o_orderkey % 17 = 3)
SELECT coalesce(c_orderstatus, o_orderstatus) AS status,
       count(*) AS n_orders,
       round(sum(coalesce(c_totalprice, o_totalprice)), 2) AS total_price
FROM orders
FULL OUTER JOIN changes ON o_orderkey = c_orderkey
GROUP BY 1
ORDER BY 1
"""


def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance via partial-state merge.

    The MV is 'revenue + line count + max price per (returnflag, year)'.
    A full refresh rescans everything; the incremental path keeps the MV as
    MERGEABLE partials (sum as exact integer cents, count, max), aggregates
    ONLY the delta partition (here: lines shipped from 1998-01-01), and
    merges state with a union + re-aggregate — sum-of-sums, sum-of-counts,
    max-of-maxes.  At 100 TB the delta scan is the day's partition, not the
    table; every aggregate here is algebraic (decomposable), which is the
    property that makes the merge exact.  The query RETURNS the merged MV;
    the oracle recomputes it from scratch — incremental must equal full.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    keys = [F.col("l_returnflag").alias("returnflag"),
            F.year("l_shipdate").cast("long").alias("ship_year")]

    def partials(df, extra_keys=()):
        return df.groupBy(*keys, *extra_keys).agg(
            F.sum(cents).alias("rev_units"),
            F.count(F.lit(1)).alias("n_lines"),
            F.max("l_extendedprice").alias("max_price"),
        )

    # r18 (guide §1.2): base and delta are disjoint predicates over the
    # SAME table, and two partials() lineages meant two full lineitem
    # scans in the physical plan.  Splitting by a grouping flag instead
    # keeps the partial-state-merge structure with ONE scan and one
    # exchange.  NULL-shipdate note (ADVICE r18): rows with NULL
    # l_shipdate were dropped by BOTH old disjoint predicates
    # (< cutoff / >= cutoff) but are RETAINED here under is_base=NULL —
    # a semantic widening that matches the unfiltered oracle (the old
    # base∪delta form was latently wrong if nulls ever appear; the
    # fixture has none, so rows are identical at every fixture scale).
    # A production 'stored MV + delta' deployment must route
    # null-shipdate rows to one side explicitly.  In production the
    # base side is the STORED MV, not a rescan — there the two-frame
    # partials()+union shape (exercised by the delta side) is the real
    # plan.  r19 cold-protocol A/B (0ba482d:scripts/r19_cold_ab.py, fresh
    # process per cell, 3 alternations): flag-split 0.79-0.91 s warm
    # median vs 0.74-0.98 s for the two-scan form — >=flat, kept
    # (VERDICT r18 #6; the driver's 0.85 reading was the contaminated
    # 32-core environment).
    side_state = partials(
        lineitem,
        extra_keys=[(F.col("l_shipdate") < cutoff).alias("is_base")],
    ).drop("is_base")
    return (
        side_state.groupBy("returnflag", "ship_year")
        .agg(
            F.round(F.sum("rev_units") / 10000.0, 2).alias("revenue"),
            F.sum("n_lines").alias("n_lines"),
            F.max("max_price").alias("max_price"),
        )
        .orderBy("returnflag", "ship_year")
    )


MV_INCREMENTAL_ORACLE = """
SELECT l_returnflag AS returnflag,
       CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) / 10000.0, 2) AS revenue,
       count(*) AS n_lines,
       max(l_extendedprice) AS max_price
FROM lineitem
GROUP BY 1, 2
ORDER BY returnflag, ship_year
"""


def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregates (Spark 3.5+ surface).

    ``count(DISTINCT k)`` plans an Expand + a shuffle keyed on (group, k) —
    the shuffled volume scales with the number of DISTINCT VALUES.  The
    bitmap plan shuffles fixed-size bitmap blobs keyed by (group, bucket)
    with map-side OR-combine: exact (not a sketch), mergeable (the partial
    state composes across batches — the same property mv_incremental_refresh
    exploits), and at 100 TB the shuffle is bounded by
    groups × buckets × 4 KB regardless of row count.  bitmap_bucket_number /
    bitmap_bit_position split the key domain into 32768-bit buckets;
    sum(bitmap_count(or-merged buckets)) is the exact distinct count.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    per_bucket = (
        lineitem.select(
            "l_returnflag",
            F.bitmap_bucket_number("l_partkey").alias("bucket"),
            F.bitmap_bit_position("l_partkey").alias("pos"),
        )
        .groupBy("l_returnflag", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    return (
        per_bucket.groupBy("l_returnflag")
        .agg(
            F.sum(F.bitmap_count("bm")).alias("n_distinct_parts"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
        .orderBy("l_returnflag")
    )


AGG_BITMAP_DISTINCT_ORACLE = """
-- bucket mirrors Spark's bitmap_bucket_number: ceil(k/32768) for k >= 1,
-- bucket 0 for k = 0 (the fixture's partkeys start at 0)
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_parts,
       CAST(count(DISTINCT CASE WHEN l_partkey <= 0 THEN 0
                                ELSE (l_partkey - 1) // 32768 + 1 END) AS BIGINT)
           AS n_buckets
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch distinct counts (Apache DataSketches, Spark 3.5+).

    The APPROXIMATE sibling of agg_bitmap_distinct for key domains too wide
    for bitmaps: per-nation customer sketches merged upward with
    hll_union_agg — the partial state is a compact sketch whose size is
    set by lgConfigK, not the key cardinality, and re-aggregating sketches
    gives rollups without rescanning the fact table.  DataSketches HLL has
    no cross-engine twin in DuckDB, but the estimate is deterministic per
    corpus, so a scale-keyed VALUES pin (plans/pinned.py) lets the driver hash-check it value-level;
    tests/test_plans.py bounds the estimate against the exact
    count (±3%).
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # customer is SF-proportional: no forced broadcast hint (the
    # optimizer auto-broadcasts under the threshold at fixture scale
    # and degrades to a shuffle join beyond it — SCALE.md rule 59)
    joined = orders.join(
        customer.select("c_custkey", "c_nationkey"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    # r18 (guide §2.4): per_nation feeds both the per-nation estimates
    # and the merged total as separate lineages — the orders⋈customer
    # join and sketch aggregation ran twice.  The nation-cardinality
    # sketch frame is materialized once (lazy localCheckpoint); the
    # rollup-without-rescan property the docstring sells is now also
    # what the plan does.
    per_nation = joined.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("o_custkey", F.lit(14)).alias("sk")
    ).transform(materialize_once)
    per = per_nation.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.hll_sketch_estimate("sk").alias("n_customers_est"),
    )
    total = per_nation.agg(
        F.lit(-1).cast("long").alias("nationkey"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_customers_est"),
    )
    return per.unionByName(total).orderBy("nationkey")


_BOTTOMK = 256


def sketch_quantile_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a deterministic bottom-k-by-hash row
    sample — the MERGEABLE quantile sibling of the HLL (distinct) and CMS
    (frequency) sketches.

    The sketch: per group, the k rows whose ``xxhash64(event_id)`` is
    smallest.  Because the hash is a fixed function of the row identity,
    this is (a) a uniform random sample of the group's rows, (b) fully
    DETERMINISTIC across engines, partitionings, and retries (no RNG
    state), and (c) mergeable by construction: bottom-k of a union is the
    bottom-k of the parts' bottom-ks, so partial sketches compose across
    batches/shards exactly like the other sketches' states.  Quantiles of
    the sample estimate quantiles of the group with rank error
    ~1.96*sqrt(p(1-p)/k).

    The plan here ranks by hash per group (window) and aggregates the
    surviving sample; at 100 TB the same sketch is built with bounded
    state via the two-phase slice (per-partition bottom-k, then bottom-k
    of the concatenation) or treeAggregate — the DEFINITION is what makes
    that refinement exact.  DuckDB has no xxhash64 twin, but the sketch
    is fully deterministic per corpus (fixed hash of event_id, pinned
    tie-break), so the estimates carry a scale-keyed VALUES oracle
    (pinned scales: 10k + 100k events = sf0.01 + sf0.1; other scales
    fail loudly via row-count mismatch, guarded by test_registry.py's
    pinned-scale check).  ``tests/test_plans.py`` additionally bounds
    the estimates against exact population quantiles in rank space.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.xxhash64("event_id"), "event_id"
    )
    sample = events.select(
        "event_type", "value", F.row_number().over(w).alias("rnk")
    ).where(F.col("rnk") <= _BOTTOMK)
    return (
        sample.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sample"),
            F.round(
                F.expr("percentile(value, 0.5)"), 4
            ).alias("p50_est"),
            F.round(
                F.expr("percentile(value, 0.9)"), 4
            ).alias("p90_est"),
        )
        .orderBy("event_type")
    )


# Deterministic bottom-k-by-xxhash64 sample -> the estimates are a pure
# function of the corpus.  Scale-keyed VALUES (subtitle_cue_stats trick),
# pinned for events cardinalities 10000 (sf0.01) and 100000 (sf0.1).
SKETCH_QUANTILE_BOTTOMK_ORACLE = """
SELECT event_type, n_sample, p50_est, p90_est FROM (VALUES
    (10000,  'click',    CAST(256 AS BIGINT), CAST(34.6 AS DOUBLE),    CAST(134.265 AS DOUBLE)),
    (10000,  'error',    CAST(256 AS BIGINT), CAST(36.94 AS DOUBLE),   CAST(114.905 AS DOUBLE)),
    (10000,  'purchase', CAST(256 AS BIGINT), CAST(32.21 AS DOUBLE),   CAST(109.955 AS DOUBLE)),
    (10000,  'signup',   CAST(256 AS BIGINT), CAST(30.195 AS DOUBLE),  CAST(135.23 AS DOUBLE)),
    (10000,  'view',     CAST(256 AS BIGINT), CAST(32.835 AS DOUBLE),  CAST(102.47 AS DOUBLE)),
    (100000, 'click',    CAST(256 AS BIGINT), CAST(35.975 AS DOUBLE),  CAST(102.155 AS DOUBLE)),
    (100000, 'error',    CAST(256 AS BIGINT), CAST(32.96 AS DOUBLE),   CAST(112.39 AS DOUBLE)),
    (100000, 'purchase', CAST(256 AS BIGINT), CAST(37.67 AS DOUBLE),   CAST(116.245 AS DOUBLE)),
    (100000, 'signup',   CAST(256 AS BIGINT), CAST(35.9 AS DOUBLE),    CAST(112.66 AS DOUBLE)),
    (100000, 'view',     CAST(256 AS BIGINT), CAST(36.32 AS DOUBLE),   CAST(116.605 AS DOUBLE))
) AS t(n_events, event_type, n_sample, p50_est, p90_est)
WHERE n_events = (SELECT count(*) FROM events)
ORDER BY event_type
"""


def ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test over a deterministic user split — the
    experiment-analysis aggregate (variant = user_id parity; conversion =
    the user clicked at least once).

    One aggregate pass builds per-variant (n_users, n_converted) as exact
    integers; the z statistic and pooled rate are closed-form floats OF
    those integers, so both engines compute bit-identical doubles before
    the final rounding.  Shape: groupBy(user) -> groupBy(variant) -> 1-row
    cross of the two variants — the last two steps are dimension-sized, so
    at 100 TB only the first aggregate touches the fact table.
    """
    events = load_table(spark, sf_dir, "events")
    # conversion = clicks strictly outnumber views for the user: ~coin-flip
    # at ANY scale factor ("has any click" saturates to 1.0 at this event
    # density and degenerates the z denominator)
    per_user = events.groupBy("user_id").agg(
        (
            F.count_if(F.col("event_type") == "click")
            > F.count_if(F.col("event_type") == "view")
        )
        .cast("int")
        .alias("converted")
    )
    variants = per_user.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    a = variants.where(F.col("variant") == 0).select(
        F.col("n_users").alias("n_a"), F.col("n_converted").alias("c_a")
    )
    b = variants.where(F.col("variant") == 1).select(
        F.col("n_users").alias("n_b"), F.col("n_converted").alias("c_b")
    )
    p_a = F.col("c_a") / F.col("n_a")
    p_b = F.col("c_b") / F.col("n_b")
    pooled = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(
        pooled * (1 - pooled) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    z = F.when(se > 0, (p_a - p_b) / se).otherwise(F.lit(0.0))
    return a.crossJoin(b).select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        F.round(z, 4).alias("z_score"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


AB_TEST_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           CASE WHEN count_if(event_type = 'click') > count_if(event_type = 'view')
                THEN 1 ELSE 0 END AS converted
    FROM events GROUP BY user_id
), variants AS (
    SELECT user_id % 2 AS variant,
           count(*) AS n_users,
           sum(converted) AS n_converted
    FROM per_user GROUP BY 1
), a AS (
    SELECT CAST(n_users AS BIGINT) n_a, CAST(n_converted AS BIGINT) c_a
    FROM variants WHERE variant = 0
), b AS (
    SELECT CAST(n_users AS BIGINT) n_b, CAST(n_converted AS BIGINT) c_b
    FROM variants WHERE variant = 1
)
SELECT n_a, c_a, n_b, c_b,
       round(c_a / CAST(n_a AS DOUBLE), 6) AS rate_a,
       round(c_b / CAST(n_b AS DOUBLE), 6) AS rate_b,
       round(CASE WHEN se = 0 THEN 0.0 ELSE
             (c_a / CAST(n_a AS DOUBLE) - c_b / CAST(n_b AS DOUBLE)) / se END, 4)
           AS z_score,
       abs(CASE WHEN se = 0 THEN 0.0 ELSE
           (c_a / CAST(n_a AS DOUBLE) - c_b / CAST(n_b AS DOUBLE)) / se END) > 1.96
           AS significant_95
FROM a CROSS JOIN b,
     LATERAL (SELECT sqrt((c_a + c_b) / CAST(n_a + n_b AS DOUBLE)
                          * (1 - (c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                          * (1.0 / n_a + 1.0 / n_b)) AS se) s
"""


def sketch_cms_brand_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch frequency estimates (Spark's bundled CMS aggregate).

    The frequency sibling of `sketch_hll_distinct`: one pass builds a
    mergeable sketch of the part-brand stream (map-side partials merge like
    any algebraic agg; sketch width is set by eps/confidence, not key
    cardinality), then the driver probes the 25 brand keys.  Overestimates
    only, by <= eps*N with the configured confidence — the heavy-hitters
    screening that replaces a full groupBy when only a known key set's
    counts are needed.  No DuckDB twin, but deterministic per corpus ->
    a scale-keyed VALUES pin (plans/pinned.py) lets the driver hash-check it value-level;
    tests/test_plans.py bounds every estimate: exact <= est <= exact+eps*N.
    """
    part = load_table(spark, sf_dir, "part")
    sk_bytes, n_rows = (
        part.agg(
            F.count_min_sketch("p_brand", F.lit(0.001), F.lit(0.99), F.lit(42)).alias("sk"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
    )
    jvm = spark.sparkContext._jvm
    sketch = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(sk_bytes)
    )
    brands = [f"Brand#{i}" for i in range(1, 26)]  # the fixture's domain
    rows = [(b, int(sketch.estimateCount(b))) for b in brands]
    return spark.createDataFrame(rows, "brand string, n_est long").orderBy("brand")


def agg_entropy_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-concentration profile per event_type: Shannon entropy
    and Gini impurity of the per-user activity share — the screening
    aggregate behind skew detection (a key whose user distribution has
    near-zero entropy is the key that breaks the shuffle at 100 TB; compare
    ``join_skew_salted``).

    Two-level aggregate: per-(type,user) counts, then per-type moments —
    both hash aggregates, both map-side-combinable, no window.  Gini stays
    in exact bigint arithmetic (sum n, sum n²) until one final division;
    entropy is the only float sum and is rounded to 3 decimals (cross-
    engine libm log2 agrees far past that).
    """
    events = load_table(spark, sf_dir, "events")
    per = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        per.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n").alias("total"),
            F.sum(F.col("n") * F.col("n")).alias("sq"),
            F.sum(F.col("n") * F.log2("n")).alias("nlog"),
        )
        .select(
            "event_type",
            "n_users",
            F.round(
                F.lit(1.0)
                - F.col("sq") / (F.col("total").cast("double") * F.col("total")),
                6,
            ).alias("gini"),
            F.round(
                F.log2(F.col("total").cast("double"))
                - F.col("nlog") / F.col("total"),
                3,
            ).alias("entropy"),
        )
        .orderBy("event_type")
    )


AGG_ENTROPY_GINI_ORACLE = """
WITH per AS (
  SELECT event_type, user_id, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       count(*) AS n_users,
       round(1.0 - CAST(sum(n * n) AS DOUBLE)
                   / (CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE)), 6) AS gini,
       round(log2(CAST(sum(n) AS DOUBLE))
             - sum(n * log2(n)) / CAST(sum(n) AS DOUBLE), 3) AS entropy
FROM per
GROUP BY event_type
ORDER BY event_type
"""


def cdf_row_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed over the manifest table format, end to end.

    Builds a real on-disk manifest table from a deterministic slice of
    ``orders``, drives the full DML triad against it (append, DELETE,
    UPDATE — ``sources/manifest_table.py``), then reads the row-level
    change feed (``read_changes``) and rolls it up per (commit, change
    type).  The oracle recomputes the SAME change history relationally
    from the fixture — the feed reconstructed from the commit log must
    equal the ground-truth effect of each DML statement:

    - v1 append  -> inserts of the appended slice
    - v2 DELETE  -> deletes of exactly the predicate-matching rows
    - v3 UPDATE  -> delete(pre-image) + insert(post-image) pairs

    Money rides as exact integer cents so sums are order-independent.
    Scale: the feed reads only files each commit touched (never the
    table), and the diff is one group-by-all-columns over those files —
    see ``read_changes`` for the multiset-difference contract.
    """
    import tempfile

    from ..sources.manifest_table import (
        delete_where,
        read_changes,
        update_where,
        write_manifest_table,
    )

    import shutil

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix="cdf_row_changes_")
    try:
        write_manifest_table(
            orders.where(F.col("o_orderkey") % 20 == 0).coalesce(1), path
        )
        write_manifest_table(
            orders.where(F.col("o_orderkey") % 20 == 7).coalesce(1), path
        )
        delete_where(spark, path, [("o_orderstatus", "=", "F")])
        update_where(
            spark, path, [("o_orderkey", "<", 2000)], {"cents": "cents * 2"}
        )
        result = (
            read_changes(spark, path, from_version=0)
            .groupBy("_commit_version", "_change_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").alias("sum_cents"),
            )
            .orderBy("_commit_version", "_change_type")
        )
        # materialize the (4-row) rollup so the working table can be
        # deleted NOW — returning the lazy plan would leak one
        # TPC-H-slice directory under /tmp per invocation
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(path, ignore_errors=True)


CDF_ROW_CHANGES_ORACLE = """
WITH o AS (
    SELECT o_orderkey AS k, o_orderstatus AS s,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
), t1 AS (  -- table after v1 (base %20=0 plus appended %20=7)
    SELECT * FROM o WHERE k % 20 = 0 OR k % 20 = 7
), t2 AS (  -- table after the v2 DELETE
    SELECT * FROM t1 WHERE s <> 'F'
), ch AS (
    SELECT 1 AS v, 'insert' AS ct, cents FROM o WHERE k % 20 = 7
    UNION ALL
    SELECT 2, 'delete', cents FROM t1 WHERE s = 'F'
    UNION ALL
    SELECT 3, 'delete', cents FROM t2 WHERE k < 2000
    UNION ALL
    SELECT 3, 'insert', cents * 2 FROM t2 WHERE k < 2000
)
SELECT CAST(v AS INTEGER) AS _commit_version, ct AS _change_type,
       count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
FROM ch
GROUP BY 1, 2
ORDER BY 1, 2
"""


def delta_read_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-format interop under a driver hash (VERDICT r15 next #6):
    a Delta Lake table LAYOUT — parquet data files plus hand-written
    ``_delta_log/*.json`` commits per the public protocol spec — is
    staged from the orders fixture, mutated across three commits, and
    read back through the engine's read-only Delta reader
    (``sources/delta_log.py::read_delta_table``), exercising add/remove
    replay, string-serialized partitionValues restored as typed
    columns, and VERSION AS OF time travel:

    - v0: orders partitioned by ``o_orderpriority`` (one add per
      partition, hive-style relative paths);
    - v1: the ``1-URGENT`` partition's file removed (a DELETE);
    - v2: a selective rewrite adds back only urgent orders with
      ``cents > 15_000_000``.

    The result rolls up BOTH snapshots (version 0 and latest) per
    priority, so the hash pins the replay at two points in history.
    The oracle recomputes both states relationally from the fixture.
    Scale: the reader is ONE parquet scan over live files plus a
    broadcast (basename -> partitionValues) map join — log-sized, never
    data-sized; file skipping feeds the manifest pruner (zone maps +
    exact partition ranges).
    """
    import glob
    import os
    import shutil
    import tempfile
    from urllib.parse import unquote

    from ..sources.delta_log import read_delta_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="delta_read_snapshot_")
    table = os.path.join(root, "table")
    try:
        # --- stage v0: one data file per priority, hive-style layout
        stage = os.path.join(root, "stage0")
        orders.coalesce(1).write.partitionBy("o_orderpriority").parquet(
            stage
        )
        os.makedirs(os.path.join(table, "_delta_log"), exist_ok=True)
        adds = []
        for i, pdir in enumerate(
            sorted(glob.glob(os.path.join(stage, "o_orderpriority=*")))
        ):
            prio = unquote(os.path.basename(pdir).split("=", 1)[1])
            (src,) = glob.glob(os.path.join(pdir, "part-*.parquet"))
            # basename-unique like real Delta's uuid file names (the
            # reader keys its partition-value map on basenames)
            rel = (
                f"o_orderpriority={os.path.basename(pdir).split('=', 1)[1]}"
                f"/part-00000-{i:04d}.parquet"
            )
            os.makedirs(
                os.path.dirname(os.path.join(table, rel)), exist_ok=True
            )
            shutil.copyfile(src, os.path.join(table, rel))
            adds.append((rel, prio))
        import json as _json

        def _commit(version: int, actions: list[dict]) -> None:
            p = os.path.join(table, "_delta_log", f"{version:020d}.json")
            with open(p, "w") as fh:
                for a in actions:
                    fh.write(_json.dumps(a) + "\n")

        def _add(rel: str, prio: str) -> dict:
            return {
                "add": {
                    "path": rel,
                    "partitionValues": {"o_orderpriority": prio},
                    "size": os.path.getsize(os.path.join(table, rel)),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }

        _commit(
            0,
            [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {
                    "metaData": {
                        "id": "0" * 32,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": orders.schema.json(),
                        "partitionColumns": ["o_orderpriority"],
                        "configuration": {},
                    }
                },
                *[_add(rel, prio) for rel, prio in adds],
            ],
        )
        # --- v1: DELETE the urgent partition
        (urgent_rel,) = [r for r, p in adds if p == "1-URGENT"]
        _commit(1, [{"remove": {"path": urgent_rel, "dataChange": True}}])
        # --- v2: selective rewrite (urgent AND cents > 15M comes back)
        stage2 = os.path.join(root, "stage2")
        orders.where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("cents") > 15_000_000)
        ).select("o_orderkey", "cents").coalesce(1).write.parquet(stage2)
        (src,) = glob.glob(os.path.join(stage2, "part-*.parquet"))
        rel2 = "o_orderpriority=1-URGENT/part-00001.parquet"
        shutil.copyfile(src, os.path.join(table, rel2))
        _commit(2, [_add(rel2, "1-URGENT")])

        # --- read both snapshots back through the Delta reader
        def _rollup(df: DataFrame, label: str) -> DataFrame:
            return df.groupBy("o_orderpriority").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("sum_cents"),
            ).select(F.lit(label).alias("snapshot"), "*")

        result = (
            _rollup(read_delta_table(spark, table, version=0), "v0")
            .unionByName(_rollup(read_delta_table(spark, table), "latest"))
            .orderBy("snapshot", "o_orderpriority")
        )
        # materialize the (~10-row) rollup so the staged table can be
        # deleted NOW (the cdf_row_changes discipline — never leak /tmp)
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


DELTA_READ_SNAPSHOT_ORACLE = """
WITH o AS (
    SELECT o_orderpriority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
), snaps AS (
    SELECT 'v0' AS snapshot, o_orderpriority, cents FROM o
    UNION ALL
    SELECT 'latest', o_orderpriority, cents
    FROM o
    WHERE o_orderpriority <> '1-URGENT' OR cents > 15000000
)
SELECT snapshot, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM snaps
GROUP BY snapshot, o_orderpriority
ORDER BY snapshot, o_orderpriority
"""


def iceberg_read_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-layout interop under a driver hash — the append-history
    twin of ``delta_read_snapshot`` (which covers delete+rewrite on a
    Delta log): an Iceberg Hadoop-layout table is staged from the
    orders fixture per the public table spec — ``vN.metadata.json`` +
    version-hint, snapshot manifest LISTS and manifests as real Avro
    OCFs (rendered by the engine's own ``avro_ocf.write_avro``), and
    COMPLETE parquet data files (identity-partition column stored
    in-file, the spec's key difference from hive/Delta layouts) — then
    read back through ``sources/iceberg_log.py::read_iceberg_table``:

    - snapshot 1: every ``o_orderkey % 3 == 0`` order, one data file
      per ``o_orderstatus`` identity partition;
    - snapshot 2: appends the ``% 3 == 1`` slice (snapshot-1 files
      carried as EXISTING entries, new files as ADDED — the manifest
      statuses a real writer emits).

    The result rolls up BOTH snapshots per status, so the hash pins
    snapshot isolation and the manifest-entry status semantics; the
    oracle recomputes both states relationally.  Scale: the manifest
    walk is metadata-sized, the read is ONE parquet scan per snapshot
    with no partition-reconstruction join (files are complete).
    """
    import glob
    import json as _json
    import os
    import shutil
    import tempfile

    from ..sources.avro_ocf import write_avro
    from ..sources.iceberg_log import read_iceberg_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="iceberg_read_snapshot_")
    table = os.path.join(root, "table")
    mdir = os.path.join(table, "metadata")
    ddir = os.path.join(table, "data")
    os.makedirs(mdir)
    os.makedirs(ddir)
    try:
        statuses = sorted(
            r["o_orderstatus"]
            for r in orders.select("o_orderstatus").distinct().collect()
        )  # bounded dimension (3 values) — the centroids/codebook rule

        def _stage(slice_df: DataFrame, tag: str) -> list[tuple[str, str, int]]:
            """One COMPLETE parquet per status; [(path, status, rows)]."""
            out = []
            for st in statuses:
                part = slice_df.where(F.col("o_orderstatus") == st)
                n = part.count()
                if n == 0:
                    continue
                stage = os.path.join(root, f"stage_{tag}_{st}")
                part.coalesce(1).write.parquet(stage)
                (src,) = glob.glob(os.path.join(stage, "part-*.parquet"))
                dst = os.path.join(ddir, f"{tag}-{st}.parquet")
                shutil.copyfile(src, dst)
                out.append((dst, st, n))
            return out

        mlist_schema = {
            "type": "record",
            "name": "manifest_file",
            "fields": [
                {"name": "manifest_path", "type": "string"},
                {"name": "manifest_length", "type": "long"},
                {"name": "partition_spec_id", "type": "int"},
                {"name": "content", "type": "int"},
                {"name": "added_snapshot_id", "type": "long"},
            ],
        }
        man_schema = {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int"},
                {
                    "name": "snapshot_id",
                    "type": ["null", "long"],
                    "default": None,
                },
                {
                    "name": "data_file",
                    "type": {
                        "type": "record",
                        "name": "r2",
                        "fields": [
                            {"name": "content", "type": "int"},
                            {"name": "file_path", "type": "string"},
                            {"name": "file_format", "type": "string"},
                            {
                                "name": "partition",
                                "type": {
                                    "type": "record",
                                    "name": "r102",
                                    "fields": [
                                        {
                                            "name": "o_orderstatus",
                                            "type": ["null", "string"],
                                            "default": None,
                                        }
                                    ],
                                },
                            },
                            {"name": "record_count", "type": "long"},
                            {"name": "file_size_in_bytes", "type": "long"},
                        ],
                    },
                },
            ],
        }

        def _manifest(name: str, entries) -> str:
            p = os.path.join(mdir, name)
            write_avro(
                [
                    {
                        "status": st,
                        "snapshot_id": None,
                        "data_file": {
                            "content": 0,
                            "file_path": fp,
                            "file_format": "PARQUET",
                            "partition": {"o_orderstatus": pv},
                            "record_count": n,
                            "file_size_in_bytes": os.path.getsize(fp),
                        },
                    }
                    for st, fp, pv, n in entries
                ],
                man_schema,
                p,
            )
            return p

        def _snapshot(snap_id: int, manifests: list[str]) -> dict:
            mlist = os.path.join(mdir, f"snap-{snap_id}.avro")
            write_avro(
                [
                    {
                        "manifest_path": m,
                        "manifest_length": os.path.getsize(m),
                        "partition_spec_id": 0,
                        "content": 0,
                        "added_snapshot_id": snap_id,
                    }
                    for m in manifests
                ],
                mlist_schema,
                mlist,
            )
            return {
                "snapshot-id": snap_id,
                "timestamp-ms": 1700000000000 + snap_id,
                "manifest-list": mlist,
                "summary": {"operation": "append"},
            }

        base = _stage(orders.where(F.col("o_orderkey") % 3 == 0), "s1")
        m1 = _manifest("m1.avro", [(1, fp, st, n) for fp, st, n in base])
        appended = _stage(orders.where(F.col("o_orderkey") % 3 == 1), "s2")
        m2 = _manifest(
            "m2.avro",
            [(0, fp, st, n) for fp, st, n in base]  # existing
            + [(1, fp, st, n) for fp, st, n in appended],  # added
        )
        snaps = [_snapshot(100, [m1]), _snapshot(200, [m2])]
        iceberg_fields = [
            {"id": 1, "name": "o_orderkey", "required": False, "type": "long"},
            {
                "id": 2,
                "name": "o_orderstatus",
                "required": False,
                "type": "string",
            },
            {"id": 3, "name": "cents", "required": False, "type": "long"},
        ]
        with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
            _json.dump(
                {
                    "format-version": 2,
                    "table-uuid": "0" * 32,
                    "location": table,
                    "last-column-id": 3,
                    "schemas": [
                        {
                            "type": "struct",
                            "schema-id": 0,
                            "fields": iceberg_fields,
                        }
                    ],
                    "current-schema-id": 0,
                    "partition-specs": [
                        {
                            "spec-id": 0,
                            "fields": [
                                {
                                    "name": "o_orderstatus",
                                    "transform": "identity",
                                    "source-id": 2,
                                    "field-id": 1000,
                                }
                            ],
                        }
                    ],
                    "default-spec-id": 0,
                    "snapshots": snaps,
                    "current-snapshot-id": 200,
                },
                fh,
            )
        with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
            fh.write("1")

        def _rollup(df: DataFrame, label: str) -> DataFrame:
            return df.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("sum_cents"),
            ).select(F.lit(label).alias("snapshot"), "*")

        result = (
            _rollup(
                read_iceberg_table(spark, table, snapshot_id=100), "s1"
            )
            .unionByName(_rollup(read_iceberg_table(spark, table), "latest"))
            .orderBy("snapshot", "o_orderstatus")
        )
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


ICEBERG_READ_SNAPSHOT_ORACLE = """
WITH o AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
), snaps AS (
    SELECT 's1' AS snapshot, o_orderstatus, cents
    FROM o WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 'latest', o_orderstatus, cents
    FROM o WHERE o_orderkey % 3 IN (0, 1)
)
SELECT snapshot, o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM snaps
GROUP BY snapshot, o_orderstatus
ORDER BY snapshot, o_orderstatus
"""


def delta_read_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed interop over a foreign ``_delta_log`` under a
    driver hash (VERDICT r16 next #4) — ``cdf_row_changes``' twin for
    the Delta layout, reconstructed from the commit log alone via
    ``delta_log.read_delta_changes`` (the manifest feed's multiset
    algebra).  The staged history exercises every step shape:

    - v0: one data file per ``o_orderpriority`` partition (position-
      ordered, protocol v3 + deletionVectors);
    - v1: the ``1-URGENT`` file removed — a pure-delete step;
    - v2: the ``2-HIGH`` file REWRITTEN with ``cents`` doubled where
      ``o_orderkey % 10 == 0`` — the net-multiset-diff step (carried
      rows must cancel; each update = delete pre-image + insert
      post-image);
    - v3: a DELETION VECTOR on the ``3-MEDIUM`` file masking rows with
      ``o_orderkey % 11 == 0`` — the DV-aware step (removed-under-old-
      DV vs added-under-new-DV nets to exactly the newly-masked rows).

    The result rolls up the feed per (version, change type); the
    oracle restates all three steps relationally.  Scale: each step
    reads only the files it touched; the diff is one shuffle.
    """
    import json as _json
    import os
    import shutil
    import tempfile

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..sources.delta_log import read_delta_changes
    from ..sources.dv import make_uuid_descriptor

    pdf = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .toPandas()
        .sort_values("o_orderkey", kind="mergesort")
        .reset_index(drop=True)
    )
    root = tempfile.mkdtemp(prefix="delta_read_changes_")
    table = os.path.join(root, "table")
    os.makedirs(os.path.join(table, "_delta_log"))
    try:
        schema_json = _json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": n, "type": t, "nullable": True, "metadata": {}}
                    for n, t in (
                        ("o_orderkey", "long"),
                        ("o_orderpriority", "string"),
                        ("cents", "long"),
                    )
                ],
            }
        )

        def _commit(version: int, actions: list[dict]) -> None:
            p = os.path.join(table, "_delta_log", f"{version:020d}.json")
            with open(p, "w") as fh:
                for a in actions:
                    fh.write(_json.dumps(a) + "\n")

        def _write(rel: str, grp) -> None:
            fpath = os.path.join(table, rel)
            os.makedirs(os.path.dirname(fpath), exist_ok=True)
            _pq.write_table(
                _pa.table(
                    {
                        "o_orderkey": _pa.array(
                            grp["o_orderkey"], _pa.int64()
                        ),
                        "cents": _pa.array(grp["cents"], _pa.int64()),
                    }
                ),
                fpath,
            )

        def _add(rel: str, prio: str, dv: dict | None = None) -> dict:
            a = {
                "path": rel,
                "partitionValues": {"o_orderpriority": prio},
                "size": os.path.getsize(os.path.join(table, rel)),
                "modificationTime": 0,
                "dataChange": True,
            }
            if dv is not None:
                a["deletionVector"] = dv
            return {"add": a}

        groups = {
            prio: grp.reset_index(drop=True)
            for prio, grp in pdf.groupby("o_orderpriority", sort=True)
        }
        rel_of = {
            prio: f"o_orderpriority={prio}/part-{i:04d}.parquet"
            for i, prio in enumerate(sorted(groups))
        }
        for prio, grp in groups.items():
            _write(rel_of[prio], grp)
        _commit(
            0,
            [
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["deletionVectors"],
                        "writerFeatures": ["deletionVectors"],
                    }
                },
                {
                    "metaData": {
                        "id": "0" * 32,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_json,
                        "partitionColumns": ["o_orderpriority"],
                        "configuration": {},
                    }
                },
                *[_add(rel_of[p], p) for p in sorted(groups)],
            ],
        )
        # v1: pure delete of the urgent partition's file
        _commit(
            1,
            [{"remove": {"path": rel_of["1-URGENT"], "dataChange": True}}],
        )
        # v2: rewrite 2-HIGH with cents doubled where key % 10 == 0
        high = groups["2-HIGH"].copy()
        high.loc[high["o_orderkey"] % 10 == 0, "cents"] *= 2
        rel_high2 = "o_orderpriority=2-HIGH/part-rewrite.parquet"
        _write(rel_high2, high)
        _commit(
            2,
            [
                _add(rel_high2, "2-HIGH"),
                {"remove": {"path": rel_of["2-HIGH"], "dataChange": True}},
            ],
        )
        # v3: DV on 3-MEDIUM masking key % 11 == 0 positions
        med = groups["3-MEDIUM"]
        mask = [int(p) for p in med.index[med["o_orderkey"] % 11 == 0]]
        dv = make_uuid_descriptor(table, mask)
        _commit(
            3,
            [
                _add(rel_of["3-MEDIUM"], "3-MEDIUM", dv),
                {"remove": {"path": rel_of["3-MEDIUM"], "dataChange": True}},
            ],
        )

        result = (
            read_delta_changes(spark, table, 0)
            .groupBy("_commit_version", "_change_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").alias("sum_cents"),
            )
            .orderBy("_commit_version", "_change_type")
        )
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


DELTA_READ_CHANGES_ORACLE = """
WITH o AS (
    SELECT o_orderkey, o_orderpriority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
), ch AS (
    SELECT 1 AS v, 'delete' AS ct, cents FROM o
    WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT 2, 'delete', cents FROM o
    WHERE o_orderpriority = '2-HIGH' AND o_orderkey % 10 = 0
    UNION ALL
    SELECT 2, 'insert', cents * 2 FROM o
    WHERE o_orderpriority = '2-HIGH' AND o_orderkey % 10 = 0
    UNION ALL
    SELECT 3, 'delete', cents FROM o
    WHERE o_orderpriority = '3-MEDIUM' AND o_orderkey % 11 = 0
)
SELECT CAST(v AS INTEGER) AS _commit_version, ct AS _change_type,
       count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
FROM ch
GROUP BY 1, 2
ORDER BY 1, 2
"""


def delta_read_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta deletion-vector interop under a driver hash (VERDICT r16
    next #3) — the merge-on-read twin of ``delta_read_snapshot`` (which
    covers remove/add rewrite history): a Delta-layout table is staged
    from the orders fixture with a protocol-v3 ``deletionVectors`` log,

    - v0: one COMPLETE parquet data file per ``o_orderpriority``
      partition, rows written in ascending ``o_orderkey`` order (so
      row positions are deterministic);
    - v1: each file's version is replaced (same-commit remove + add)
      by one carrying a DELETION VECTOR masking every row with
      ``o_orderkey % 7 == 0`` — real spec-shaped DVs: Z85-encoded
      storageType='u' files with CRC-checked RoaringBitmapArray
      payloads for most partitions, and an INLINE ('i') descriptor for
      the lexicographically first partition so both storage types sit
      under the hash.

    Read back through ``read_delta_table``: the masked positions are
    filtered via a broadcast anti-join on ``_metadata.row_index``
    (``delta_log._apply_deletion_vectors``), composed with the
    partition-value restore join.  The rollup pins BOTH versions, so
    the hash covers the (path, DV uid) action keying, the Z85 +
    roaring decode (``sources/dv.py``), and time travel across a DV
    commit; the oracle recomputes both states relationally.
    """
    import json as _json
    import os
    import shutil
    import tempfile

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..sources.delta_log import read_delta_table
    from ..sources.dv import make_inline_descriptor, make_uuid_descriptor

    pdf = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .toPandas()
        .sort_values("o_orderkey", kind="mergesort")
        .reset_index(drop=True)
    )
    root = tempfile.mkdtemp(prefix="delta_read_dv_")
    table = os.path.join(root, "table")
    os.makedirs(os.path.join(table, "_delta_log"))
    try:
        schema_json = _json.dumps(
            {
                "type": "struct",
                "fields": [
                    {
                        "name": n,
                        "type": t,
                        "nullable": True,
                        "metadata": {},
                    }
                    for n, t in (
                        ("o_orderkey", "long"),
                        ("o_orderpriority", "string"),
                        ("cents", "long"),
                    )
                ],
            }
        )

        def _commit(version: int, actions: list[dict]) -> None:
            p = os.path.join(
                table, "_delta_log", f"{version:020d}.json"
            )
            with open(p, "w") as fh:
                for a in actions:
                    fh.write(_json.dumps(a) + "\n")

        adds = []  # (rel, priority, positions-to-mask)
        for i, (prio, grp) in enumerate(
            pdf.groupby("o_orderpriority", sort=True)
        ):
            grp = grp.reset_index(drop=True)
            rel = f"o_orderpriority={prio}/part-{i:04d}.parquet"
            fpath = os.path.join(table, rel)
            os.makedirs(os.path.dirname(fpath), exist_ok=True)
            _pq.write_table(
                _pa.table(
                    {
                        "o_orderkey": _pa.array(
                            grp["o_orderkey"], _pa.int64()
                        ),
                        "cents": _pa.array(grp["cents"], _pa.int64()),
                    }
                ),
                fpath,
            )
            mask = [int(p) for p in grp.index[grp["o_orderkey"] % 7 == 0]]
            adds.append((rel, prio, mask))

        def _add(rel: str, prio: str, dv: dict | None) -> dict:
            a = {
                "path": rel,
                "partitionValues": {"o_orderpriority": prio},
                "size": os.path.getsize(os.path.join(table, rel)),
                "modificationTime": 0,
                "dataChange": True,
            }
            if dv is not None:
                a["deletionVector"] = dv
            return {"add": a}

        _commit(
            0,
            [
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["deletionVectors"],
                        "writerFeatures": ["deletionVectors"],
                    }
                },
                {
                    "metaData": {
                        "id": "0" * 32,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_json,
                        "partitionColumns": ["o_orderpriority"],
                        "configuration": {},
                    }
                },
                *[_add(rel, prio, None) for rel, prio, _m in adds],
            ],
        )
        # v1: every file's version replaced by one carrying its DV
        # (inline for the first partition, 'u' files for the rest)
        actions = []
        for j, (rel, prio, mask) in enumerate(adds):
            dv = (
                make_inline_descriptor(mask)
                if j == 0
                else make_uuid_descriptor(table, mask)
            )
            actions.append(_add(rel, prio, dv))
            actions.append({"remove": {"path": rel, "dataChange": True}})
        _commit(1, actions)

        def _rollup(df: DataFrame, label: str) -> DataFrame:
            return df.groupBy("o_orderpriority").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("sum_cents"),
            ).select(F.lit(label).alias("snapshot"), "*")

        result = (
            _rollup(read_delta_table(spark, table, version=0), "v0")
            .unionByName(_rollup(read_delta_table(spark, table), "latest"))
            .orderBy("snapshot", "o_orderpriority")
        )
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


DELTA_READ_DV_ORACLE = """
WITH o AS (
    SELECT o_orderkey, o_orderpriority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
), snaps AS (
    SELECT 'v0' AS snapshot, o_orderpriority, cents FROM o
    UNION ALL
    SELECT 'latest', o_orderpriority, cents
    FROM o WHERE o_orderkey % 7 <> 0
)
SELECT snapshot, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM snaps
GROUP BY snapshot, o_orderpriority
ORDER BY snapshot, o_orderpriority
"""


def iceberg_read_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 merge-on-read interop under a driver hash (VERDICT
    r16 next #2) — the row-level-delete twin of ``iceberg_read_snapshot``
    (append history): an Iceberg Hadoop-layout table is staged from the
    orders fixture with TWO snapshots,

    - snapshot 1: every ``o_orderkey % 3 == 0`` order, one COMPLETE
      parquet data file per ``o_orderstatus`` identity partition, rows
      written in ascending ``o_orderkey`` order (so row positions are
      deterministic);
    - snapshot 2: a DELETE manifest (``content=1`` in the manifest
      list) whose position-delete file — ordinary parquet of
      ``(file_path, pos)`` per the spec — masks every row with
      ``o_orderkey % 7 == 0``, the data manifests carried as EXISTING;

    then read back through ``read_iceberg_table``: the mask is applied
    as a BROADCAST left-anti join on ``_metadata.file_path``/
    ``row_index`` (``iceberg_log._apply_position_deletes``), so the
    result rolls up BOTH snapshots per status and the hash pins that
    position deletes subtract exactly the masked rows while time travel
    before the delete still sees them.  The oracle recomputes both
    states relationally (``% 7 != 0`` is the delete predicate).  Scale:
    one data scan + a log-sized broadcast delete side; the staged table
    is deleted before returning (the cdf_row_changes discipline).
    """
    import json as _json
    import os
    import shutil
    import tempfile

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..sources.avro_ocf import write_avro
    from ..sources.iceberg_log import read_iceberg_table

    pdf = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .where(F.col("o_orderkey") % 3 == 0)
        .toPandas()
        .sort_values("o_orderkey", kind="mergesort")
        .reset_index(drop=True)
    )
    root = tempfile.mkdtemp(prefix="iceberg_read_deletes_")
    table = os.path.join(root, "table")
    mdir = os.path.join(table, "metadata")
    ddir = os.path.join(table, "data")
    os.makedirs(mdir)
    os.makedirs(ddir)
    try:
        # --- stage: one position-ordered data file per status, and the
        # (file_path, pos) delete rows for o_orderkey % 7 == 0
        data_entries = []  # (file_path, status, n_rows)
        del_rows: list[tuple[str, int]] = []
        for st, grp in pdf.groupby("o_orderstatus", sort=True):
            grp = grp.reset_index(drop=True)
            fp = os.path.join(ddir, f"s1-{st}.parquet")
            _pq.write_table(
                _pa.table(
                    {
                        "o_orderkey": _pa.array(
                            grp["o_orderkey"], _pa.int64()
                        ),
                        "o_orderstatus": _pa.array(grp["o_orderstatus"]),
                        "cents": _pa.array(grp["cents"], _pa.int64()),
                    }
                ),
                fp,
            )
            data_entries.append((fp, st, len(grp)))
            for pos in grp.index[grp["o_orderkey"] % 7 == 0]:
                del_rows.append((fp, int(pos)))
        pd_path = os.path.join(ddir, "pos-deletes.parquet")
        _pq.write_table(
            _pa.table(
                {
                    "file_path": _pa.array([f for f, _ in del_rows]),
                    "pos": _pa.array([p for _, p in del_rows], _pa.int64()),
                }
            ),
            pd_path,
        )

        man_schema = {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int"},
                {
                    "name": "snapshot_id",
                    "type": ["null", "long"],
                    "default": None,
                },
                {
                    "name": "data_file",
                    "type": {
                        "type": "record",
                        "name": "r2",
                        "fields": [
                            {"name": "content", "type": "int"},
                            {"name": "file_path", "type": "string"},
                            {"name": "file_format", "type": "string"},
                            {
                                "name": "partition",
                                "type": {
                                    "type": "record",
                                    "name": "r102",
                                    "fields": [
                                        {
                                            "name": "o_orderstatus",
                                            "type": ["null", "string"],
                                            "default": None,
                                        }
                                    ],
                                },
                            },
                            {"name": "record_count", "type": "long"},
                            {"name": "file_size_in_bytes", "type": "long"},
                        ],
                    },
                },
            ],
        }
        mlist_schema = {
            "type": "record",
            "name": "manifest_file",
            "fields": [
                {"name": "manifest_path", "type": "string"},
                {"name": "manifest_length", "type": "long"},
                {"name": "partition_spec_id", "type": "int"},
                {"name": "content", "type": "int"},
                {"name": "added_snapshot_id", "type": "long"},
            ],
        }

        def _manifest(name, entries, content):
            p = os.path.join(mdir, name)
            write_avro(
                [
                    {
                        "status": st,
                        "snapshot_id": None,
                        "data_file": {
                            "content": content,
                            "file_path": fp,
                            "file_format": "PARQUET",
                            "partition": {"o_orderstatus": pv},
                            "record_count": n,
                            "file_size_in_bytes": os.path.getsize(fp),
                        },
                    }
                    for st, fp, pv, n in entries
                ],
                man_schema,
                p,
            )
            return p

        def _snapshot(snap_id, manifests, contents):
            mlist = os.path.join(mdir, f"snap-{snap_id}.avro")
            write_avro(
                [
                    {
                        "manifest_path": m,
                        "manifest_length": os.path.getsize(m),
                        "partition_spec_id": 0,
                        "content": c,
                        "added_snapshot_id": snap_id,
                    }
                    for m, c in zip(manifests, contents)
                ],
                mlist_schema,
                mlist,
            )
            return {
                "snapshot-id": snap_id,
                "timestamp-ms": 1700000000000 + snap_id,
                "manifest-list": mlist,
                "summary": {
                    "operation": "append" if snap_id == 100 else "delete"
                },
            }

        m1 = _manifest(
            "m1.avro", [(1, fp, st, n) for fp, st, n in data_entries], 0
        )
        m1b = _manifest(
            "m1b.avro", [(0, fp, st, n) for fp, st, n in data_entries], 0
        )
        md = _manifest(
            "md.avro", [(1, pd_path, None, len(del_rows))], 1
        )
        snaps = [
            _snapshot(100, [m1], [0]),
            _snapshot(200, [m1b, md], [0, 1]),
        ]
        with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
            _json.dump(
                {
                    "format-version": 2,
                    "table-uuid": "0" * 32,
                    "location": table,
                    "last-column-id": 3,
                    "schemas": [
                        {
                            "type": "struct",
                            "schema-id": 0,
                            "fields": [
                                {
                                    "id": 1,
                                    "name": "o_orderkey",
                                    "required": False,
                                    "type": "long",
                                },
                                {
                                    "id": 2,
                                    "name": "o_orderstatus",
                                    "required": False,
                                    "type": "string",
                                },
                                {
                                    "id": 3,
                                    "name": "cents",
                                    "required": False,
                                    "type": "long",
                                },
                            ],
                        }
                    ],
                    "current-schema-id": 0,
                    "partition-specs": [
                        {
                            "spec-id": 0,
                            "fields": [
                                {
                                    "name": "o_orderstatus",
                                    "transform": "identity",
                                    "source-id": 2,
                                    "field-id": 1000,
                                }
                            ],
                        }
                    ],
                    "default-spec-id": 0,
                    "snapshots": snaps,
                    "current-snapshot-id": 200,
                },
                fh,
            )
        with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
            fh.write("1")

        def _rollup(df: DataFrame, label: str) -> DataFrame:
            return df.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("sum_cents"),
            ).select(F.lit(label).alias("snapshot"), "*")

        result = (
            _rollup(
                read_iceberg_table(spark, table, snapshot_id=100), "s1"
            )
            .unionByName(_rollup(read_iceberg_table(spark, table), "latest"))
            .orderBy("snapshot", "o_orderstatus")
        )
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def iceberg_read_changes_lane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot change data feed over an Iceberg layout
    under a driver hash — ``delta_read_changes``' twin
    (``iceberg_log.iceberg_read_changes``, the manifest-walk multiset
    algebra).  Staged history over the orders fixture:

    - snapshot 100: every ``o_orderkey % 3 == 0`` order, one
      position-ordered COMPLETE data file per ``o_orderstatus``;
    - snapshot 200: appends the ``% 3 == 1`` slice (pure-insert step);
    - snapshot 300: a DELETE manifest whose position-delete file masks
      every present row with ``o_orderkey % 7 == 0`` (the
      delete-coverage-change step: affected files diff under
      old-vs-new delete sets and carried rows cancel).

    The result rolls up the feed per (snapshot, change type); the
    oracle restates both steps relationally.
    """
    import json as _json
    import os
    import shutil
    import tempfile

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..sources.avro_ocf import write_avro
    from ..sources.iceberg_log import iceberg_read_changes

    pdf = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .where(F.col("o_orderkey") % 3 < 2)
        .toPandas()
        .sort_values("o_orderkey", kind="mergesort")
        .reset_index(drop=True)
    )
    root = tempfile.mkdtemp(prefix="iceberg_read_changes_")
    table = os.path.join(root, "table")
    mdir = os.path.join(table, "metadata")
    ddir = os.path.join(table, "data")
    os.makedirs(mdir)
    os.makedirs(ddir)
    try:
        def _stage(slice_pdf, tag):
            out = []
            dels = []
            for st, grp in slice_pdf.groupby("o_orderstatus", sort=True):
                grp = grp.reset_index(drop=True)
                fp = os.path.join(ddir, f"{tag}-{st}.parquet")
                _pq.write_table(
                    _pa.table(
                        {
                            "o_orderkey": _pa.array(
                                grp["o_orderkey"], _pa.int64()
                            ),
                            "o_orderstatus": _pa.array(grp["o_orderstatus"]),
                            "cents": _pa.array(grp["cents"], _pa.int64()),
                        }
                    ),
                    fp,
                )
                out.append((fp, st, len(grp)))
                for pos in grp.index[grp["o_orderkey"] % 7 == 0]:
                    dels.append((fp, int(pos)))
            return out, dels

        s1, d1 = _stage(pdf[pdf["o_orderkey"] % 3 == 0], "s1")
        s2, d2 = _stage(pdf[pdf["o_orderkey"] % 3 == 1], "s2")
        del_rows = d1 + d2
        pd_path = os.path.join(ddir, "pos-deletes.parquet")
        _pq.write_table(
            _pa.table(
                {
                    "file_path": _pa.array([f for f, _ in del_rows]),
                    "pos": _pa.array(
                        [p for _, p in del_rows], _pa.int64()
                    ),
                }
            ),
            pd_path,
        )

        man_schema = {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int"},
                {
                    "name": "snapshot_id",
                    "type": ["null", "long"],
                    "default": None,
                },
                {
                    "name": "data_file",
                    "type": {
                        "type": "record",
                        "name": "r2",
                        "fields": [
                            {"name": "content", "type": "int"},
                            {"name": "file_path", "type": "string"},
                            {"name": "file_format", "type": "string"},
                            {
                                "name": "partition",
                                "type": {
                                    "type": "record",
                                    "name": "r102",
                                    "fields": [
                                        {
                                            "name": "o_orderstatus",
                                            "type": ["null", "string"],
                                            "default": None,
                                        }
                                    ],
                                },
                            },
                            {"name": "record_count", "type": "long"},
                            {"name": "file_size_in_bytes", "type": "long"},
                        ],
                    },
                },
            ],
        }
        mlist_schema = {
            "type": "record",
            "name": "manifest_file",
            "fields": [
                {"name": "manifest_path", "type": "string"},
                {"name": "manifest_length", "type": "long"},
                {"name": "partition_spec_id", "type": "int"},
                {"name": "content", "type": "int"},
                {"name": "added_snapshot_id", "type": "long"},
            ],
        }

        def _manifest(name, entries, content):
            p = os.path.join(mdir, name)
            write_avro(
                [
                    {
                        "status": st,
                        "snapshot_id": None,
                        "data_file": {
                            "content": content,
                            "file_path": fp,
                            "file_format": "PARQUET",
                            "partition": {"o_orderstatus": pv},
                            "record_count": n,
                            "file_size_in_bytes": os.path.getsize(fp),
                        },
                    }
                    for st, fp, pv, n in entries
                ],
                man_schema,
                p,
            )
            return p

        def _snapshot(snap_id, manifests, contents):
            mlist = os.path.join(mdir, f"snap-{snap_id}.avro")
            write_avro(
                [
                    {
                        "manifest_path": m,
                        "manifest_length": os.path.getsize(m),
                        "partition_spec_id": 0,
                        "content": c,
                        "added_snapshot_id": snap_id,
                    }
                    for m, c in zip(manifests, contents)
                ],
                mlist_schema,
                mlist,
            )
            return {
                "snapshot-id": snap_id,
                "timestamp-ms": 1700000000000 + snap_id,
                "manifest-list": mlist,
                "summary": {"operation": "append"},
            }

        m1 = _manifest("m1.avro", [(1, fp, st, n) for fp, st, n in s1], 0)
        m2 = _manifest(
            "m2.avro",
            [(0, fp, st, n) for fp, st, n in s1]
            + [(1, fp, st, n) for fp, st, n in s2],
            0,
        )
        md = _manifest("md.avro", [(1, pd_path, None, len(del_rows))], 1)
        snaps = [
            _snapshot(100, [m1], [0]),
            _snapshot(200, [m2], [0]),
            _snapshot(300, [m2, md], [0, 1]),
        ]
        with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
            _json.dump(
                {
                    "format-version": 2,
                    "table-uuid": "0" * 32,
                    "location": table,
                    "last-column-id": 3,
                    "schemas": [
                        {
                            "type": "struct",
                            "schema-id": 0,
                            "fields": [
                                {
                                    "id": 1,
                                    "name": "o_orderkey",
                                    "required": False,
                                    "type": "long",
                                },
                                {
                                    "id": 2,
                                    "name": "o_orderstatus",
                                    "required": False,
                                    "type": "string",
                                },
                                {
                                    "id": 3,
                                    "name": "cents",
                                    "required": False,
                                    "type": "long",
                                },
                            ],
                        }
                    ],
                    "current-schema-id": 0,
                    "partition-specs": [
                        {
                            "spec-id": 0,
                            "fields": [
                                {
                                    "name": "o_orderstatus",
                                    "transform": "identity",
                                    "source-id": 2,
                                    "field-id": 1000,
                                }
                            ],
                        }
                    ],
                    "default-spec-id": 0,
                    "snapshots": snaps,
                    "current-snapshot-id": 300,
                },
                fh,
            )
        with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
            fh.write("1")

        result = (
            iceberg_read_changes(spark, table, 100)
            .groupBy("_snapshot_id", "_change_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").alias("sum_cents"),
            )
            .orderBy("_snapshot_id", "_change_type")
        )
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


ICEBERG_READ_CHANGES_ORACLE = """
WITH o AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
), ch AS (
    SELECT 200 AS sid, 'insert' AS ct, cents FROM o
    WHERE o_orderkey % 3 = 1
    UNION ALL
    SELECT 300, 'delete', cents FROM o
    WHERE o_orderkey % 3 < 2 AND o_orderkey % 7 = 0
)
SELECT CAST(sid AS BIGINT) AS _snapshot_id, ct AS _change_type,
       count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
FROM ch
GROUP BY 1, 2
ORDER BY 1, 2
"""


ICEBERG_READ_DELETES_ORACLE = """
WITH o AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
), snaps AS (
    SELECT 's1' AS snapshot, o_orderstatus, cents
    FROM o WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 'latest', o_orderstatus, cents
    FROM o WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0
)
SELECT snapshot, o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM snaps
GROUP BY snapshot, o_orderstatus
ORDER BY snapshot, o_orderstatus
"""


def delta_read_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name-mode column-mapping interop under a driver hash (VERDICT
    r17 next #2) — the rename-history twin of ``delta_read_dv``: a
    Delta-layout table is staged from the orders fixture with
    ``delta.columnMapping.mode=name`` (minReaderVersion=2),

    - v0: one parquet data file per ``o_orderpriority`` partition
      written under PHYSICAL column names (``col-k``/``col-c``), with
      ``add.stats`` and ``partitionValues`` keyed by physical names
      and ``metaData.partitionColumns`` logical — exactly the split
      the public protocol's column-mapping section prescribes;
    - v1: RENAME ``cents`` -> ``cents_total`` (a metaData-only commit:
      the logical name changes, ``delta.columnMapping.physicalName``
      stays ``col-c``) — illegal evolution without mapping, the exact
      layout the pre-r18 reader refused.

    Read back through ``read_delta_table`` at BOTH versions: the scan
    reads physical names and aliases to logical, the partition restore
    resolves the physical-keyed partitionValues, and a zone-map filter
    on the renamed logical column prunes through the mapping
    (pruned-file list pinned in ``tests/test_delta_log.py``).  The
    rollup pins both snapshots under one hash; the oracle recomputes
    them relationally (the rename changes NAMES, never values).
    """
    import json as _json
    import os
    import shutil
    import tempfile

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..sources.delta_log import read_delta_table

    pdf = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .toPandas()
        .sort_values("o_orderkey", kind="mergesort")
        .reset_index(drop=True)
    )
    root = tempfile.mkdtemp(prefix="delta_read_cm_")
    table = os.path.join(root, "table")
    os.makedirs(os.path.join(table, "_delta_log"))
    try:
        def _schema_json(cents_logical: str) -> str:
            fields = [
                ("o_orderkey", "col-k", "long", 1),
                ("o_orderpriority", "col-p", "string", 2),
                (cents_logical, "col-c", "long", 3),
            ]
            return _json.dumps(
                {
                    "type": "struct",
                    "fields": [
                        {
                            "name": lg,
                            "type": t,
                            "nullable": True,
                            "metadata": {
                                "delta.columnMapping.physicalName": ph,
                                "delta.columnMapping.id": i,
                            },
                        }
                        for lg, ph, t, i in fields
                    ],
                }
            )

        def _meta(cents_logical: str) -> dict:
            return {
                "metaData": {
                    "id": "0" * 32,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _schema_json(cents_logical),
                    "partitionColumns": ["o_orderpriority"],
                    "configuration": {
                        "delta.columnMapping.mode": "name",
                        "delta.columnMapping.maxColumnId": "3",
                    },
                }
            }

        def _commit(version: int, actions: list[dict]) -> None:
            pth = os.path.join(table, "_delta_log", f"{version:020d}.json")
            with open(pth, "w") as fh:
                for a in actions:
                    fh.write(_json.dumps(a) + "\n")

        adds = []
        for i, (prio, grp) in enumerate(
            pdf.groupby("o_orderpriority", sort=True)
        ):
            grp = grp.reset_index(drop=True)
            rel = f"o_orderpriority={prio}/part-{i:04d}.parquet"
            fpath = os.path.join(table, rel)
            os.makedirs(os.path.dirname(fpath), exist_ok=True)
            _pq.write_table(
                _pa.table(
                    {
                        "col-k": _pa.array(grp["o_orderkey"], _pa.int64()),
                        "col-c": _pa.array(grp["cents"], _pa.int64()),
                    }
                ),
                fpath,
            )
            adds.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {"col-p": prio},
                        "size": os.path.getsize(fpath),
                        "modificationTime": 0,
                        "dataChange": True,
                        "stats": _json.dumps(
                            {
                                "numRecords": int(len(grp)),
                                "minValues": {
                                    "col-k": int(grp["o_orderkey"].min()),
                                    "col-c": int(grp["cents"].min()),
                                },
                                "maxValues": {
                                    "col-k": int(grp["o_orderkey"].max()),
                                    "col-c": int(grp["cents"].max()),
                                },
                                "nullCount": {"col-k": 0, "col-c": 0},
                            }
                        ),
                    }
                }
            )
        _commit(
            0,
            [
                {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
                _meta("cents"),
                *adds,
            ],
        )
        _commit(1, [_meta("cents_total")])  # RENAME cents -> cents_total

        def _rollup(df: DataFrame, cents_col: str, label: str) -> DataFrame:
            return df.groupBy("o_orderpriority").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(cents_col).alias("sum_cents"),
            ).select(F.lit(label).alias("snapshot"), "*")

        result = (
            _rollup(read_delta_table(spark, table, version=0), "cents", "v0")
            .unionByName(
                _rollup(read_delta_table(spark, table), "cents_total", "renamed")
            )
            .orderBy("snapshot", "o_orderpriority")
        )
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


DELTA_READ_COLUMN_MAPPING_ORACLE = """
WITH o AS (
    SELECT o_orderkey, o_orderpriority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
), snaps AS (
    SELECT 'v0' AS snapshot, o_orderpriority, cents FROM o
    UNION ALL
    SELECT 'renamed', o_orderpriority, cents FROM o
)
SELECT snapshot, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM snaps
GROUP BY snapshot, o_orderpriority
ORDER BY snapshot, o_orderpriority
"""


def delta_read_column_mapping_id(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ID-mode column-mapping interop under a driver hash —
    ``delta_read_column_mapping``'s twin for the mode whose source of
    truth is the PARQUET FIELD ID: the same staged rename history
    (physical ``col-k``/``col-p``/``col-c``, physical-keyed stats and
    partitionValues, logical partitionColumns), but
    ``delta.columnMapping.mode=id`` and every data file's footer
    carries ``PARQUET:field_id`` metadata matching the schema's
    ``delta.columnMapping.id``.  The read resolves by physical name
    and VERIFIES each scanned file's footer ids agree (mismatched or
    absent ids refuse — pinned in ``tests/test_delta_log.py``); the
    rollup pins both snapshots, the oracle recomputes them
    relationally.
    """
    import json as _json
    import os
    import shutil
    import tempfile

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..sources.delta_log import read_delta_table

    pdf = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .toPandas()
        .sort_values("o_orderkey", kind="mergesort")
        .reset_index(drop=True)
    )
    root = tempfile.mkdtemp(prefix="delta_read_cm_id_")
    table = os.path.join(root, "table")
    os.makedirs(os.path.join(table, "_delta_log"))
    try:
        def _schema_json(cents_logical: str) -> str:
            fields = [
                ("o_orderkey", "col-k", "long", 1),
                ("o_orderpriority", "col-p", "string", 2),
                (cents_logical, "col-c", "long", 3),
            ]
            return _json.dumps(
                {
                    "type": "struct",
                    "fields": [
                        {
                            "name": lg,
                            "type": t,
                            "nullable": True,
                            "metadata": {
                                "delta.columnMapping.physicalName": ph,
                                "delta.columnMapping.id": i,
                            },
                        }
                        for lg, ph, t, i in fields
                    ],
                }
            )

        def _meta(cents_logical: str) -> dict:
            return {
                "metaData": {
                    "id": "0" * 32,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _schema_json(cents_logical),
                    "partitionColumns": ["o_orderpriority"],
                    "configuration": {
                        "delta.columnMapping.mode": "id",
                        "delta.columnMapping.maxColumnId": "3",
                    },
                }
            }

        def _commit(version: int, actions: list[dict]) -> None:
            pth = os.path.join(table, "_delta_log", f"{version:020d}.json")
            with open(pth, "w") as fh:
                for a in actions:
                    fh.write(_json.dumps(a) + "\n")

        adds = []
        for i, (prio, grp) in enumerate(
            pdf.groupby("o_orderpriority", sort=True)
        ):
            grp = grp.reset_index(drop=True)
            rel = f"o_orderpriority={prio}/part-{i:04d}.parquet"
            fpath = os.path.join(table, rel)
            os.makedirs(os.path.dirname(fpath), exist_ok=True)
            arrays = {
                "col-k": _pa.array(grp["o_orderkey"], _pa.int64()),
                "col-c": _pa.array(grp["cents"], _pa.int64()),
            }
            schema = _pa.schema(
                [
                    _pa.field(
                        n,
                        arrays[n].type,
                        metadata={
                            b"PARQUET:field_id": str(fid).encode()
                        },
                    )
                    for n, fid in (("col-k", 1), ("col-c", 3))
                ]
            )
            _pq.write_table(
                _pa.table(arrays, schema=schema), fpath
            )
            adds.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {"col-p": prio},
                        "size": os.path.getsize(fpath),
                        "modificationTime": 0,
                        "dataChange": True,
                        "stats": _json.dumps(
                            {
                                "numRecords": int(len(grp)),
                                "minValues": {
                                    "col-k": int(grp["o_orderkey"].min()),
                                    "col-c": int(grp["cents"].min()),
                                },
                                "maxValues": {
                                    "col-k": int(grp["o_orderkey"].max()),
                                    "col-c": int(grp["cents"].max()),
                                },
                                "nullCount": {"col-k": 0, "col-c": 0},
                            }
                        ),
                    }
                }
            )
        _commit(
            0,
            [
                {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
                _meta("cents"),
                *adds,
            ],
        )
        _commit(1, [_meta("cents_total")])  # RENAME cents -> cents_total

        def _rollup(df: DataFrame, cents_col: str, label: str) -> DataFrame:
            return df.groupBy("o_orderpriority").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(cents_col).alias("sum_cents"),
            ).select(F.lit(label).alias("snapshot"), "*")

        result = (
            _rollup(read_delta_table(spark, table, version=0), "cents", "v0")
            .unionByName(
                _rollup(read_delta_table(spark, table), "cents_total", "renamed")
            )
            .orderBy("snapshot", "o_orderpriority")
        )
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# identical values to the name-mode lane — the machinery under test is
# the field-id verification path
DELTA_READ_COLUMN_MAPPING_ID_ORACLE = DELTA_READ_COLUMN_MAPPING_ORACLE


def iceberg_read_eq_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 EQUALITY-delete interop under a driver hash (VERDICT
    r17 next #3) — the value-keyed twin of ``iceberg_read_deletes``
    (position deletes): an Iceberg Hadoop-layout table is staged from
    the orders fixture with THREE snapshots,

    - snapshot 100 (data sequence number 1): every ``o_orderkey % 3 ==
      0`` order, one parquet file per ``o_orderstatus`` identity
      partition;
    - snapshot 200 (seq 2): an equality-delete file
      (``content=2``, ``equality_ids=[1]`` -> the ``o_orderkey``
      column) holding every present key with ``o_orderkey % 5 == 0``;
    - snapshot 300 (seq 3): an APPEND that RE-INSERTS the deleted keys
      with doubled cents — the Flink/CDC upsert pattern.  Its data
      sequence number (3) exceeds the delete's (2), so the spec's
      strictly-smaller scoping keeps these rows even though their keys
      match the delete values — the exact rule a naive unscoped
      anti-join gets wrong.

    Read back through ``read_iceberg_table`` at all three snapshots
    (``iceberg_log._apply_equality_deletes``: broadcast null-safe
    anti-join + broadcast (file -> sequence number) map join); the
    rollup pins time travel across the delete AND the scoping; the
    oracle recomputes the three states relationally.  Sequence numbers
    ride the manifest-LIST entries and inherit per the spec.
    """
    import json as _json
    import os
    import shutil
    import tempfile

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..sources.avro_ocf import write_avro
    from ..sources.iceberg_log import read_iceberg_table

    pdf = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .where(F.col("o_orderkey") % 3 == 0)
        .toPandas()
        .sort_values("o_orderkey", kind="mergesort")
        .reset_index(drop=True)
    )
    root = tempfile.mkdtemp(prefix="iceberg_read_eq_deletes_")
    table = os.path.join(root, "table")
    mdir = os.path.join(table, "metadata")
    ddir = os.path.join(table, "data")
    os.makedirs(mdir)
    os.makedirs(ddir)
    try:
        def _write(name: str, grp) -> str:
            fp = os.path.join(ddir, name)
            _pq.write_table(
                _pa.table(
                    {
                        "o_orderkey": _pa.array(
                            grp["o_orderkey"], _pa.int64()
                        ),
                        "o_orderstatus": _pa.array(grp["o_orderstatus"]),
                        "cents": _pa.array(grp["cents"], _pa.int64()),
                    }
                ),
                fp,
            )
            return fp

        data_entries = []  # (file_path, status, n_rows)
        for st, grp in pdf.groupby("o_orderstatus", sort=True):
            grp = grp.reset_index(drop=True)
            fp = _write(f"s1-{st}.parquet", grp)
            data_entries.append((fp, st, len(grp)))

        # equality-delete file: the keys to delete (values, not
        # positions — the whole point of the format)
        killed = pdf[pdf["o_orderkey"] % 5 == 0]
        ed_path = os.path.join(ddir, "eq-deletes.parquet")
        _pq.write_table(
            _pa.table(
                {"o_orderkey": _pa.array(killed["o_orderkey"], _pa.int64())}
            ),
            ed_path,
        )

        # snapshot 300's re-insert of the killed keys, cents doubled
        revived = killed.copy()
        revived["cents"] *= 2
        rv_path = _write("s3-revived.parquet", revived)

        man_schema = {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int"},
                {
                    "name": "snapshot_id",
                    "type": ["null", "long"],
                    "default": None,
                },
                {
                    "name": "sequence_number",
                    "type": ["null", "long"],
                    "default": None,
                },
                {
                    "name": "data_file",
                    "type": {
                        "type": "record",
                        "name": "r2",
                        "fields": [
                            {"name": "content", "type": "int"},
                            {"name": "file_path", "type": "string"},
                            {"name": "file_format", "type": "string"},
                            {
                                "name": "partition",
                                "type": {
                                    "type": "record",
                                    "name": "r102",
                                    "fields": [
                                        {
                                            "name": "o_orderstatus",
                                            "type": ["null", "string"],
                                            "default": None,
                                        }
                                    ],
                                },
                            },
                            {"name": "record_count", "type": "long"},
                            {"name": "file_size_in_bytes", "type": "long"},
                            {
                                "name": "equality_ids",
                                "type": [
                                    "null",
                                    {"type": "array", "items": "int"},
                                ],
                                "default": None,
                            },
                        ],
                    },
                },
            ],
        }
        mlist_schema = {
            "type": "record",
            "name": "manifest_file",
            "fields": [
                {"name": "manifest_path", "type": "string"},
                {"name": "manifest_length", "type": "long"},
                {"name": "partition_spec_id", "type": "int"},
                {"name": "content", "type": "int"},
                {
                    "name": "sequence_number",
                    "type": ["null", "long"],
                    "default": None,
                },
                {"name": "added_snapshot_id", "type": "long"},
            ],
        }

        def _manifest(name, entries, content, eq_ids=None):
            p = os.path.join(mdir, name)
            write_avro(
                [
                    {
                        "status": st,
                        "snapshot_id": None,
                        "sequence_number": None,  # inherit from the list
                        "data_file": {
                            "content": content,
                            "file_path": fp,
                            "file_format": "PARQUET",
                            "partition": {"o_orderstatus": pv},
                            "record_count": n,
                            "file_size_in_bytes": os.path.getsize(fp),
                            "equality_ids": eq_ids,
                        },
                    }
                    for st, fp, pv, n in entries
                ],
                man_schema,
                p,
            )
            return p

        def _snapshot(snap_id, manifests, contents, seqs, op):
            mlist = os.path.join(mdir, f"snap-{snap_id}.avro")
            write_avro(
                [
                    {
                        "manifest_path": m,
                        "manifest_length": os.path.getsize(m),
                        "partition_spec_id": 0,
                        "content": c,
                        "sequence_number": sq,
                        "added_snapshot_id": snap_id,
                    }
                    for m, c, sq in zip(manifests, contents, seqs)
                ],
                mlist_schema,
                mlist,
            )
            return {
                "snapshot-id": snap_id,
                "timestamp-ms": 1700000000000 + snap_id,
                "manifest-list": mlist,
                "summary": {"operation": op},
            }

        m1 = _manifest(
            "m1.avro", [(1, fp, st, n) for fp, st, n in data_entries], 0
        )
        md = _manifest(
            "md.avro",
            [(1, ed_path, None, len(killed))],
            2,
            eq_ids=[1],
        )
        m3 = _manifest(
            "m3.avro", [(1, rv_path, None, len(revived))], 0
        )
        snaps = [
            _snapshot(100, [m1], [0], [1], "append"),
            _snapshot(200, [m1, md], [0, 1], [1, 2], "delete"),
            _snapshot(300, [m1, md, m3], [0, 1, 0], [1, 2, 3], "append"),
        ]
        with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
            _json.dump(
                {
                    "format-version": 2,
                    "table-uuid": "0" * 32,
                    "location": table,
                    "last-column-id": 3,
                    "schemas": [
                        {
                            "type": "struct",
                            "schema-id": 0,
                            "fields": [
                                {
                                    "id": 1,
                                    "name": "o_orderkey",
                                    "required": False,
                                    "type": "long",
                                },
                                {
                                    "id": 2,
                                    "name": "o_orderstatus",
                                    "required": False,
                                    "type": "string",
                                },
                                {
                                    "id": 3,
                                    "name": "cents",
                                    "required": False,
                                    "type": "long",
                                },
                            ],
                        }
                    ],
                    "current-schema-id": 0,
                    "partition-specs": [
                        {
                            "spec-id": 0,
                            "fields": [
                                {
                                    "name": "o_orderstatus",
                                    "transform": "identity",
                                    "source-id": 2,
                                    "field-id": 1000,
                                }
                            ],
                        }
                    ],
                    "default-spec-id": 0,
                    "snapshots": snaps,
                    "current-snapshot-id": 300,
                },
                fh,
            )
        with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
            fh.write("1")

        def _rollup(df: DataFrame, label: str) -> DataFrame:
            return df.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("sum_cents"),
            ).select(F.lit(label).alias("snapshot"), "*")

        result = (
            _rollup(read_iceberg_table(spark, table, snapshot_id=100), "s1")
            .unionByName(
                _rollup(
                    read_iceberg_table(spark, table, snapshot_id=200), "s2"
                )
            )
            .unionByName(_rollup(read_iceberg_table(spark, table), "latest"))
            .orderBy("snapshot", "o_orderstatus")
        )
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


ICEBERG_READ_EQ_DELETES_ORACLE = """
WITH o AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    WHERE o_orderkey % 3 = 0
), snaps AS (
    SELECT 's1' AS snapshot, o_orderstatus, cents FROM o
    UNION ALL
    SELECT 's2', o_orderstatus, cents FROM o WHERE o_orderkey % 5 <> 0
    UNION ALL
    SELECT 'latest', o_orderstatus, cents FROM o WHERE o_orderkey % 5 <> 0
    UNION ALL
    SELECT 'latest', o_orderstatus, cents * 2
    FROM o WHERE o_orderkey % 5 = 0
)
SELECT snapshot, o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM snaps
GROUP BY snapshot, o_orderstatus
ORDER BY snapshot, o_orderstatus
"""


def delta_read_v2_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta V2 UUID-NAMED CHECKPOINT interop under a driver hash
    (VERDICT r17 next #6): a Delta-layout table is staged from the
    orders fixture whose ONLY record of its early history is a v2
    checkpoint —

    - v0: one parquet file per ``o_orderpriority`` partition;
    - a v2 checkpoint at version 0 (``0...0.checkpoint.<uuid>.parquet``
      holding checkpointMetadata/protocol/metaData plus a ``sidecar``
      action; the add actions live in a sidecar parquet under
      ``_delta_log/_sidecars/`` per the public spec), after which the
      v0 JSON commit is DELETED (log cleanup);
    - v1: a JSON commit removing the ``1-URGENT`` partition's file.

    Read back through ``read_delta_table`` at version 0 (reconstructed
    purely from the checkpoint + sidecar) and latest (checkpoint +
    JSON tail); the rollup pins both under one hash.  The oracle
    recomputes the two states relationally.
    """
    import json as _json
    import os
    import shutil
    import tempfile

    import pandas as _pd
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..sources.delta_log import read_delta_table

    pdf = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .toPandas()
        .sort_values("o_orderkey", kind="mergesort")
        .reset_index(drop=True)
    )
    root = tempfile.mkdtemp(prefix="delta_read_v2ck_")
    table = os.path.join(root, "table")
    log = os.path.join(table, "_delta_log")
    os.makedirs(os.path.join(log, "_sidecars"))
    try:
        schema_json = _json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": n, "type": t, "nullable": True, "metadata": {}}
                    for n, t in (
                        ("o_orderkey", "long"),
                        ("o_orderpriority", "string"),
                        ("cents", "long"),
                    )
                ],
            }
        )
        adds = []
        rel_of = {}
        for i, (prio, grp) in enumerate(
            pdf.groupby("o_orderpriority", sort=True)
        ):
            grp = grp.reset_index(drop=True)
            rel = f"o_orderpriority={prio}/part-{i:04d}.parquet"
            rel_of[prio] = rel
            fpath = os.path.join(table, rel)
            os.makedirs(os.path.dirname(fpath), exist_ok=True)
            _pq.write_table(
                _pa.table(
                    {
                        "o_orderkey": _pa.array(
                            grp["o_orderkey"], _pa.int64()
                        ),
                        "cents": _pa.array(grp["cents"], _pa.int64()),
                    }
                ),
                fpath,
            )
            adds.append(
                {
                    "path": rel,
                    "partitionValues": {"o_orderpriority": prio},
                    "size": os.path.getsize(fpath),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            )

        uid = "7b9c1de2-58f3-4a21-9f60-aaaaaaaaaaaa"
        sc_name = f"{uid}-sidecar-1.parquet"
        _pq.write_table(
            _pa.Table.from_pandas(
                _pd.DataFrame({"add": adds, "remove": [None] * len(adds)}),
                preserve_index=False,
            ),
            os.path.join(log, "_sidecars", sc_name),
        )
        main = _pd.DataFrame(
            {
                "checkpointMetadata": [{"version": 0}, None, None, None],
                "protocol": [
                    None,
                    {"minReaderVersion": 1, "minWriterVersion": 2},
                    None,
                    None,
                ],
                "metaData": [
                    None,
                    None,
                    {
                        "id": "0" * 32,
                        "format": {"provider": "parquet"},
                        "schemaString": schema_json,
                        "partitionColumns": ["o_orderpriority"],
                    },
                    None,
                ],
                "sidecar": [
                    None,
                    None,
                    None,
                    {"path": sc_name, "sizeInBytes": 1},
                ],
            }
        )
        _pq.write_table(
            _pa.Table.from_pandas(main, preserve_index=False),
            os.path.join(log, f"{0:020d}.checkpoint.{uid}.parquet"),
        )
        # the v0 JSON never needs to exist: cleanup already happened
        with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
            fh.write(
                _json.dumps(
                    {
                        "remove": {
                            "path": rel_of["1-URGENT"],
                            "dataChange": True,
                        }
                    }
                )
                + "\n"
            )

        def _rollup(df: DataFrame, label: str) -> DataFrame:
            return df.groupBy("o_orderpriority").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("sum_cents"),
            ).select(F.lit(label).alias("snapshot"), "*")

        result = (
            _rollup(read_delta_table(spark, table, version=0), "v0")
            .unionByName(_rollup(read_delta_table(spark, table), "latest"))
            .orderBy("snapshot", "o_orderpriority")
        )
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


DELTA_READ_V2_CHECKPOINT_ORACLE = """
WITH o AS (
    SELECT o_orderpriority,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
), snaps AS (
    SELECT 'v0' AS snapshot, o_orderpriority, cents FROM o
    UNION ALL
    SELECT 'latest', o_orderpriority, cents
    FROM o WHERE o_orderpriority <> '1-URGENT'
)
SELECT snapshot, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM snaps
GROUP BY snapshot, o_orderpriority
ORDER BY snapshot, o_orderpriority
"""


def delta_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Delta-layout WRITER driven end-to-end under a driver hash
    (``sources/delta_write.py`` — the interop export sink): the orders
    fixture is written as a real Delta table through the full commit
    machinery and read back by the repo's own foreign-log reader, so
    the hash pins writer and reader against each other AND against the
    relational oracle.  History exercised:

    - v0: append the ``o_orderkey % 2 == 0`` slice, partitioned by
      ``o_orderstatus`` (Spark distributed write; partition values
      ride the log, footer-derived stats ride ``add.stats``);
    - v1: append the ``% 2 == 1`` slice;
    - checkpoint at v1 (classic parquet + ``_last_checkpoint``);
    - v2: OVERWRITE with the ``% 3 == 0`` slice (tombstones every
      live file) — so the final read replays checkpoint + JSON tail.

    The read back is FILTERED on the partition column (only the
    ``'F'`` files are opened — zone-map/partition pruning over
    self-written stats) and rolled up; the oracle restates the final
    snapshot relationally.
    """
    import os
    import shutil
    import tempfile

    from ..sources.delta_log import read_delta_table
    from ..sources.delta_write import (
        write_delta_checkpoint,
        write_delta_table,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="delta_write_roundtrip_")
    table = os.path.join(root, "table")
    try:
        write_delta_table(
            orders.where(F.col("o_orderkey") % 2 == 0),
            table,
            partition_by=["o_orderstatus"],
        )
        write_delta_table(
            orders.where(F.col("o_orderkey") % 2 == 1),
            table,
            partition_by=["o_orderstatus"],
        )
        write_delta_checkpoint(table)
        write_delta_table(
            orders.where(F.col("o_orderkey") % 3 == 0),
            table,
            mode="overwrite",
            partition_by=["o_orderstatus"],
        )
        result = (
            read_delta_table(
                spark, table, filters=[("o_orderstatus", "=", "F")]
            )
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


DELTA_WRITE_ROUNDTRIP_ORACLE = """
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents
FROM orders
WHERE o_orderkey % 3 = 0 AND o_orderstatus = 'F'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def iceberg_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Iceberg-layout WRITER driven end-to-end under a driver hash
    (``sources/iceberg_write.py`` — ``delta_write_roundtrip``'s twin):
    the orders fixture is written as a real Hadoop-layout Iceberg v2
    table (Spark distributed write with COMPLETE data files, Avro
    manifests carrying footer-derived bounds, identity partitioning)
    and read back by the repo's own reader.  History exercised:

    - snapshot 1: append the ``o_orderkey % 2 == 0`` slice,
      partitioned by ``o_orderstatus``;
    - snapshot 2: append the ``% 2 == 1`` slice (manifest-list reuse —
      the fast-append shape);
    - snapshot 3: OVERWRITE with the ``% 3 == 0`` slice (history kept;
      old files leave the live set).

    The read back is FILTERED on the partition column (manifest-tuple
    pruning over self-written metadata opens only the ``'F'`` files)
    and rolled up; the oracle restates the final snapshot.
    """
    import os
    import shutil
    import tempfile

    from ..sources.iceberg_log import read_iceberg_table
    from ..sources.iceberg_write import write_iceberg_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="iceberg_write_roundtrip_")
    table = os.path.join(root, "table")
    try:
        write_iceberg_table(
            orders.where(F.col("o_orderkey") % 2 == 0),
            table,
            partition_by=["o_orderstatus"],
        )
        write_iceberg_table(
            orders.where(F.col("o_orderkey") % 2 == 1),
            table,
            partition_by=["o_orderstatus"],
        )
        write_iceberg_table(
            orders.where(F.col("o_orderkey") % 3 == 0),
            table,
            mode="overwrite",
            partition_by=["o_orderstatus"],
        )
        result = (
            read_iceberg_table(
                spark, table, filters=[("o_orderstatus", "=", "F")]
            )
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# same final snapshot as the Delta writer lane — the machinery under
# test differs (Avro manifests + snapshot metadata vs JSON commit log)
ICEBERG_WRITE_ROUNDTRIP_ORACLE = DELTA_WRITE_ROUNDTRIP_ORACLE


def delta_dml_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DML over a self-written Delta layout under a
    driver hash (``sources/delta_dml.py``): the orders fixture is
    written partitioned by ``o_orderstatus``, then

    - DELETE WHERE ``o_orderkey < 1000`` (touched files rewritten
      without their matching rows — untouched files never opened);
    - UPDATE SET ``cents = cents * 2`` WHERE ``o_orderkey < 2000``
      (survivors in 1000..1999 doubled in place).

    The final snapshot is read back through the foreign-log reader and
    rolled up; the oracle restates delete-then-update relationally.
    """
    import os
    import shutil
    import tempfile

    from ..sources.delta_dml import delta_delete_where, delta_update_where
    from ..sources.delta_log import read_delta_table
    from ..sources.delta_write import write_delta_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="delta_dml_cow_")
    table = os.path.join(root, "table")
    try:
        write_delta_table(orders, table, partition_by=["o_orderstatus"])
        delta_delete_where(spark, table, [("o_orderkey", "<", 1000)])
        delta_update_where(
            spark,
            table,
            [("o_orderkey", "<", 2000)],
            {"cents": F.col("cents") * 2},
        )
        result = (
            read_delta_table(spark, table)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


DELTA_DML_COW_ORACLE = """
WITH o AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    WHERE o_orderkey >= 1000
)
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(CASE WHEN o_orderkey < 2000 THEN cents * 2
                     ELSE cents END) AS BIGINT) AS sum_cents
FROM o
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def iceberg_dml_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DML over a self-written Iceberg layout under a
    driver hash (``iceberg_write.iceberg_delete_where``): the orders
    fixture is written partitioned by ``o_orderstatus``, a DELETE
    WHERE ``o_orderkey < 1000`` lands as a v2 POSITION-DELETE file at
    the new sequence number (no data file rewritten), and a
    post-delete append re-inserts a known slice — which must ESCAPE
    the mask by sequence-number scoping.  The final snapshot is read
    back (delete mask applied by the reader) and rolled up; the
    oracle restates mask + re-insert relationally.
    """
    import os
    import shutil
    import tempfile

    from ..sources.iceberg_log import read_iceberg_table
    from ..sources.iceberg_write import (
        iceberg_delete_where,
        write_iceberg_table,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="iceberg_dml_mor_")
    table = os.path.join(root, "table")
    try:
        write_iceberg_table(
            orders, table, partition_by=["o_orderstatus"]
        )
        iceberg_delete_where(spark, table, [("o_orderkey", "<", 1000)])
        write_iceberg_table(
            orders.where(F.col("o_orderkey") < 500),
            table,
            partition_by=["o_orderstatus"],
        )
        result = (
            read_iceberg_table(spark, table)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("sum_cents"),
            )
            .orderBy("o_orderstatus")
        )
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


ICEBERG_DML_MOR_ORACLE = """
WITH o AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
), live AS (
    SELECT * FROM o WHERE o_orderkey >= 1000
    UNION ALL
    SELECT * FROM o WHERE o_orderkey < 500  -- re-insert escapes the mask
)
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM live
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def lakehouse_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance ops over self-written lakehouse tables under ONE
    driver hash — Delta OPTIMIZE (``delta_dml.delta_optimize``:
    bin-packing rewrite under dataChange=false, deletion vectors
    materialized) and Iceberg compaction
    (``iceberg_write.iceberg_compact``: merge-on-read masks folded
    away, fresh manifest list, history kept).  Each layout:

    - write the orders slice partitioned by ``o_orderstatus`` in MANY
      small files (repartition(8) before the write);
    - Delta: DELETE one key then OPTIMIZE; Iceberg: MoR-DELETE one
      key range then COMPACT;
    - read back and roll up with a ``layout`` tag.

    Compaction must change NOTHING logically — the oracle is the same
    relational rollup for both layouts (post-delete), so any row the
    maintenance op loses or resurrects breaks the hash.
    """
    import os
    import shutil
    import tempfile

    from ..sources.delta_dml import delta_delete_where, delta_optimize
    from ..sources.delta_log import read_delta_table
    from ..sources.delta_write import write_delta_table
    from ..sources.iceberg_log import read_iceberg_table
    from ..sources.iceberg_write import (
        iceberg_compact,
        iceberg_delete_where,
        write_iceberg_table,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .repartition(8)
    )
    root = tempfile.mkdtemp(prefix="lakehouse_compaction_")
    try:
        dtbl = os.path.join(root, "delta")
        write_delta_table(orders, dtbl, partition_by=["o_orderstatus"])
        delta_delete_where(spark, dtbl, [("o_orderkey", "<", 1000)])
        delta_optimize(spark, dtbl)
        d = (
            read_delta_table(spark, dtbl)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("sum_cents"),
            )
            .select(F.lit("delta").alias("layout"), "*")
        )

        itbl = os.path.join(root, "iceberg")
        write_iceberg_table(
            orders, itbl, partition_by=["o_orderstatus"]
        )
        iceberg_delete_where(spark, itbl, [("o_orderkey", "<", 1000)])
        iceberg_compact(spark, itbl)
        i = (
            read_iceberg_table(spark, itbl)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("sum_cents"),
            )
            .select(F.lit("iceberg").alias("layout"), "*")
        )
        result = d.unionByName(i).orderBy("layout", "o_orderstatus")
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


LAKEHOUSE_COMPACTION_ORACLE = """
WITH o AS (
    SELECT o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
    WHERE o_orderkey >= 1000
), roll AS (
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM o GROUP BY o_orderstatus
)
SELECT l.layout, r.o_orderstatus, r.n_orders, r.sum_cents
FROM roll r CROSS JOIN (VALUES ('delta'), ('iceberg')) AS l(layout)
ORDER BY l.layout, r.o_orderstatus
"""


QUERIES = {
    "ab_test_conversion": ab_test_conversion,
    "cdf_row_changes": cdf_row_changes,
    "delta_read_snapshot": delta_read_snapshot,
    "iceberg_read_snapshot": iceberg_read_snapshot,
    "iceberg_read_deletes": iceberg_read_deletes,
    "iceberg_read_eq_deletes": iceberg_read_eq_deletes,
    "delta_read_dv": delta_read_dv,
    "delta_read_column_mapping": delta_read_column_mapping,
    "delta_read_column_mapping_id": delta_read_column_mapping_id,
    "delta_read_v2_checkpoint": delta_read_v2_checkpoint,
    "delta_read_changes": delta_read_changes,
    "delta_write_roundtrip": delta_write_roundtrip,
    "iceberg_write_roundtrip": iceberg_write_roundtrip,
    "delta_dml_cow": delta_dml_cow,
    "iceberg_dml_mor": iceberg_dml_mor,
    "lakehouse_compaction": lakehouse_compaction,
    "iceberg_read_changes": iceberg_read_changes_lane,
    "sketch_cms_brand_counts": sketch_cms_brand_counts,
    "agg_entropy_gini": agg_entropy_gini,
    "agg_bitmap_distinct": agg_bitmap_distinct,
    "sketch_hll_distinct": sketch_hll_distinct,
    "sketch_quantile_bottomk": sketch_quantile_bottomk,
    "agg_stats": agg_stats,
    "mv_incremental_refresh": mv_incremental_refresh,
    "agg_minmax_by": agg_minmax_by,
    "agg_string_concat": agg_string_concat,
    "agg_count_if_bool": agg_count_if_bool,
    "window_percent_dist": window_percent_dist,
    "merge_upsert": merge_upsert,
}

from .pinned import (  # noqa: E402
    SKETCH_CMS_BRAND_COUNTS_ORACLE,
    SKETCH_HLL_DISTINCT_ORACLE,
)

ORACLES = {
    "ab_test_conversion": AB_TEST_ORACLE,
    "cdf_row_changes": CDF_ROW_CHANGES_ORACLE,
    "delta_read_snapshot": DELTA_READ_SNAPSHOT_ORACLE,
    "iceberg_read_snapshot": ICEBERG_READ_SNAPSHOT_ORACLE,
    "iceberg_read_deletes": ICEBERG_READ_DELETES_ORACLE,
    "iceberg_read_eq_deletes": ICEBERG_READ_EQ_DELETES_ORACLE,
    "delta_read_dv": DELTA_READ_DV_ORACLE,
    "delta_read_column_mapping": DELTA_READ_COLUMN_MAPPING_ORACLE,
    "delta_read_column_mapping_id": DELTA_READ_COLUMN_MAPPING_ID_ORACLE,
    "delta_read_v2_checkpoint": DELTA_READ_V2_CHECKPOINT_ORACLE,
    "delta_read_changes": DELTA_READ_CHANGES_ORACLE,
    "delta_write_roundtrip": DELTA_WRITE_ROUNDTRIP_ORACLE,
    "iceberg_write_roundtrip": ICEBERG_WRITE_ROUNDTRIP_ORACLE,
    "delta_dml_cow": DELTA_DML_COW_ORACLE,
    "iceberg_dml_mor": ICEBERG_DML_MOR_ORACLE,
    "lakehouse_compaction": LAKEHOUSE_COMPACTION_ORACLE,
    "iceberg_read_changes": ICEBERG_READ_CHANGES_ORACLE,
    "agg_entropy_gini": AGG_ENTROPY_GINI_ORACLE,
    "agg_bitmap_distinct": AGG_BITMAP_DISTINCT_ORACLE,
    "agg_stats": AGG_STATS_ORACLE,
    "mv_incremental_refresh": MV_INCREMENTAL_ORACLE,
    "agg_minmax_by": AGG_MINMAX_BY_ORACLE,
    "agg_string_concat": AGG_STRING_CONCAT_ORACLE,
    "agg_count_if_bool": AGG_COUNT_IF_ORACLE,
    "window_percent_dist": WINDOW_PERCENT_ORACLE,
    "merge_upsert": MERGE_UPSERT_ORACLE,
    "sketch_quantile_bottomk": SKETCH_QUANTILE_BOTTOMK_ORACLE,
    "sketch_hll_distinct": SKETCH_HLL_DISTINCT_ORACLE,
    "sketch_cms_brand_counts": SKETCH_CMS_BRAND_COUNTS_ORACLE,
}
