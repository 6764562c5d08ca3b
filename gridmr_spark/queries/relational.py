"""Relational core: scans, projection/filter, the join family, aggregation
family incl. rollup/cube/grouping sets (SURVEY.md §2.D rows 1-8).

Scale notes applied throughout:
- Dimension tables (region/nation/supplier/part, and the inline band table)
  are broadcast — no shuffle for the small side even at 100 TB fact scale.
- Fact-fact joins (lineitem ⋈ orders) shuffle on the join key; AQE handles
  skew splitting and partition coalescing at runtime.
- All double aggregates use exact DECIMAL accumulation (functions.numeric)
  so results are order-independent — required for the oracle hash AND for
  run-to-run reproducibility on a real cluster.
- Per-row double arithmetic (a single multiply) is IEEE-deterministic and
  stays in plain double: only *reductions* need the decimal trick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gridmr_spark.catalog import load_table
from gridmr_spark.functions.localdata import local_df
from gridmr_spark.functions.numeric import davg, dmoney, dsum
from gridmr_spark.queries import query
from gridmr_spark.sources import scratch_dir

# ---------------------------------------------------------------------------
# Q1-style pricing summary (TPC-H Q1 adaptation; full agg family over one scan)
# ---------------------------------------------------------------------------

_Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(l_extendedprice) AS DOUBLE) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(l_discount) AS DOUBLE) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", oracle=_Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan -> filter (pushed to parquet) -> 2-key hash agg with partial
    (map-side) aggregation; 8 aggregates over one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(12,2)")
    ep = dmoney("l_extendedprice", 2).cast("decimal(12,2)")
    disc = dmoney("l_discount", 2).cast("decimal(12,2)")
    tax = dmoney("l_tax", 2).cast("decimal(12,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(ep * (one - disc)).cast("double").alias("sum_disc_price"),
            F.sum(ep * (one - disc) * (one + tax)).cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Projection + filter (predicate pushdown / column pruning showcase)
# ---------------------------------------------------------------------------

_FILTER_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity,
       l_extendedprice * (1 - l_discount) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
  AND l_discount > 0.05
  AND l_quantity < 25
"""


@query("filter_project", oracle=_FILTER_ORACLE)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective filter + narrow projection. The shipdate/discount/quantity
    predicates and the 6-column ReadSchema reach the parquet scan
    (PushedFilters in .explain) — at 100 TB this is the difference between
    scanning terabytes and scanning everything."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-06-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_discount") > 0.05)
            & (F.col("l_quantity") < 25)
        ).select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Star join: fact ⋈ fact shuffle join + broadcast dimension chain
# ---------------------------------------------------------------------------

_STAR_ORACLE = """
SELECT r_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


@query("join_star_revenue", oracle=_STAR_ORACLE)
def join_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per (region, nation): lineitem⋈orders is the one real shuffle
    (both sides hashed on orderkey); customer is mid-size (AQE decides);
    nation/region are explicit broadcasts — zero shuffle for the dims."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    one = F.lit(1).cast("decimal(12,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(dmoney("l_extendedprice", 2).cast("decimal(12,2)") * (one - dmoney("l_discount", 2).cast("decimal(12,2)")))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Semi / anti joins
# ---------------------------------------------------------------------------

_SEMI_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
"""


@query("join_semi", oracle=_SEMI_ORACLE)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one 300k+ order — left_semi join (EXISTS):
    probe side streams, no duplication, build side reduced by the filter
    before the join (Catalyst pushes it below)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


_ANTI_ORACLE = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


@query("join_anti", oracle=_ANTI_ORACLE)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders — left_anti join (NOT EXISTS)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# Theta / range join against an inline dimension (non-equi join)
# ---------------------------------------------------------------------------

_BAND_ORACLE = """
WITH bands(band, lo, hi) AS (
  VALUES ('small', 0.0, 100000.0), ('medium', 100000.0, 250000.0), ('large', 250000.0, 1000000000.0)
)
SELECT band, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
"""


@query("join_range_band", oracle=_BAND_ORACLE)
def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join: orders against a tiny broadcast band table.
    Broadcast nested-loop with 3 rows on the build side — O(n·3) scans, no
    shuffle; the scalable pattern for interval dimension tables."""
    orders = load_table(spark, sf_dir, "orders")
    bands = local_df(
        spark,
        [("small", 0.0, 100000.0), ("medium", 100000.0, 250000.0), ("large", 250000.0, 1e9)],
        "band string, lo double, hi double",
    )
    return (
        orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sum_price"))
    )


_BUCKETED_INTERVAL_ORACLE = """
WITH i AS (
  SELECT o_orderkey AS i_key, o_orderdate AS start_ts,
         o_orderdate + INTERVAL 7 DAY AS end_ts
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT i.i_key,
       COUNT(*) AS n_points,
       CAST(SUM(CAST(p.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM i JOIN orders p
  ON p.o_orderdate >= i.start_ts AND p.o_orderdate < i.end_ts
GROUP BY i.i_key
"""


@query("join_range_bucketed", oracle=_BUCKETED_INTERVAL_ORACLE)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join where BOTH sides are fact-sized — the case
    join_range_band's broadcast dimension cannot cover. Runs through
    operators/joins.interval_join_bucketed: 7-day time buckets turn the
    range predicate into an equi-join on bucket id + exact residual filter
    (lossless — the oracle is the naive range join, so the hash gate proves
    it). Interval side here: every 97th order opened to a week-long window;
    point side: all orders."""
    from gridmr_spark.operators.joins import interval_join_bucketed

    orders = load_table(spark, sf_dir, "orders")
    intervals = (
        orders.where(F.col("o_orderkey") % 97 == 0)
        .select(
            F.col("o_orderkey").alias("i_key"),
            F.col("o_orderdate").alias("start_ts"),
            (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("end_ts"),
        )
    )
    points = orders.select("o_orderdate", "o_totalprice")
    joined = interval_join_bucketed(
        points, intervals, "o_orderdate", "start_ts", "end_ts",
        bucket_seconds=7 * 86400,
    )
    return joined.groupBy("i_key").agg(
        F.count(F.lit(1)).alias("n_points"),
        dsum("o_totalprice").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Distinct aggregation family
# ---------------------------------------------------------------------------

_DISTINCT_ORACLE = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(DISTINCT o_orderpriority) AS n_priorities
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@query("agg_distinct", oracle=_DISTINCT_ORACLE)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregation (expand-based plan in Spark)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
        )
    )


@query("agg_approx_distinct", oracle=None)  # HLL++ estimates differ per engine
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB-scale substitute
    for exact COUNT DISTINCT. Rows-only check (estimates are
    engine-specific); tests/test_relational.py bounds the error vs exact."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
    )


# ---------------------------------------------------------------------------
# Engineered moments: exact variance via decimal sums (order-independent
# replacement for stddev/variance, which are sequence-dependent in double)
# ---------------------------------------------------------------------------

_MOMENTS_ORACLE = """
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty_sq
FROM lineitem
GROUP BY l_returnflag
"""


@query("agg_moments", oracle=_MOMENTS_ORACLE)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sufficient statistics (n, Σx, Σx²) with exact accumulation — variance
    and stddev derive deterministically downstream. This is the
    reproducible-at-any-parallelism way to do moments at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    q = dmoney("l_quantity", 2)
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q).cast("double").alias("sum_qty"),
        F.sum(q * q).cast("double").alias("sum_qty_sq"),
    )


# ---------------------------------------------------------------------------
# Rollup / cube / grouping sets
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT r_name, n_name, COUNT(*) AS n_cust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


@query("agg_rollup", oracle=_ROLLUP_ORACLE)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region->nation hierarchy (subtotals + grand total)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"), dsum("c_acctbal").alias("sum_acctbal"))
    )


_CUBE_ORACLE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query("agg_cube", oracle=_CUBE_ORACLE)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) — all 4 grouping-set combinations."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sum_price")
    )


_GSETS_ORACLE = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
"""


@query("agg_grouping_sets", oracle=_GSETS_ORACLE)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface (same Catalyst Expand plan
    as cube/rollup)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


# ---------------------------------------------------------------------------
# Set operations + distinct
# ---------------------------------------------------------------------------

_SETOPS_ORACLE = """
SELECT 'both' AS side, n_nationkey AS nationkey FROM (
  SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
  INTERSECT
  SELECT DISTINCT s_nationkey FROM supplier
) t
UNION ALL
SELECT 'customer_only' AS side, n_nationkey AS nationkey FROM (
  SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
  EXCEPT
  SELECT DISTINCT s_nationkey FROM supplier
) t
"""


@query("set_ops", oracle=_SETOPS_ORACLE)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over nation-key sets."""
    cust_n = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    ).distinct()
    supp_n = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    ).distinct()
    both = cust_n.intersect(supp_n).select(F.lit("both").alias("side"), "nationkey")
    only = cust_n.exceptAll(supp_n).select(F.lit("customer_only").alias("side"), "nationkey")
    return both.unionAll(only)


# ---------------------------------------------------------------------------
# As-of join (time-series point-in-time lookup; Spark has no native operator)
# ---------------------------------------------------------------------------

# DuckDB has native ASOF JOIN — the perfect oracle. The CTE floors ts to
# microseconds to mirror Spark's nanos->micros read truncation exactly.
_ASOF_ORACLE = """
WITH ev AS (
  SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, user_id, event_type, value FROM events
), clicks AS (
  SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts, value FROM ev WHERE event_type = 'purchase'
)
SELECT c.event_id, c.user_id, c.ts, p.ts AS asof_ts, p.value AS asof_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


@query("join_asof", oracle=_ASOF_ORACLE)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click joined to the user's most recent prior (or simultaneous)
    purchase — union+window as-of join: ONE shuffle on user_id + one
    in-partition sort, independent of table sizes (operators/joins.py)."""
    from gridmr_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    out = asof_join(clicks, purchases, on="user_id", ts="ts", right_payload=["value"])
    return out.select(
        "event_id", "user_id", "ts", "asof_ts", F.col("asof_value")
    )


# Tolerance variant: matches farther back than 30 minutes null out. The
# CASE must null BOTH payload columns off the same predicate.
_ASOF_TOL_ORACLE = """
WITH ev AS (
  SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, user_id, event_type, value FROM events
), clicks AS (
  SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts, value FROM ev WHERE event_type = 'purchase'
)
SELECT c.event_id, c.user_id, c.ts,
       CASE WHEN p.ts >= c.ts - INTERVAL 30 MINUTE THEN p.ts END AS asof_ts,
       CASE WHEN p.ts >= c.ts - INTERVAL 30 MINUTE THEN p.value END AS asof_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


@query("join_asof_tolerance", oracle=_ASOF_TOL_ORACLE)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join with a 30-minute tolerance: a prior purchase
    older than the window nulls out instead of matching — the point-in-time
    lookup shape where stale context is worse than none (feature stores,
    market data). Same union+window plan as join_asof; the tolerance is one
    post-window predicate, not a second pass."""
    from gridmr_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    out = asof_join(
        clicks, purchases, on="user_id", ts="ts", right_payload=["value"],
        tolerance="30 MINUTES",
    )
    return out.select("event_id", "user_id", "ts", "asof_ts", "asof_value")


_ASOF_FWD_ORACLE = """
WITH ev AS (
  SELECT event_id, make_timestamp(epoch_us(ts)) AS ts, user_id, event_type, value FROM events
), clicks AS (
  SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts, value FROM ev WHERE event_type = 'purchase'
)
SELECT c.event_id, c.user_id, c.ts, p.ts AS asof_ts, p.value AS asof_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts <= p.ts
"""


@query("join_asof_forward", oracle=_ASOF_FWD_ORACLE)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click attached to the user's NEXT purchase
    at-or-after the click — attribution's "did the click convert" shape.
    Implemented as the time-mirror of the backward plan (descending sort,
    same single shuffle; operators/joins.py:asof_join direction='forward');
    DuckDB's native ASOF with c.ts <= p.ts is the oracle."""
    from gridmr_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    out = asof_join(
        clicks, purchases, on="user_id", ts="ts", right_payload=["value"],
        direction="forward",
    )
    return out.select("event_id", "user_id", "ts", "asof_ts", "asof_value")


_DEDUP_ROWS_ORACLE = """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
"""


@query("distinct_rows", oracle=_DEDUP_ROWS_ORACLE)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates == SELECT DISTINCT (shuffle on all projected cols)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderstatus", "o_orderpriority").dropDuplicates()


# ---------------------------------------------------------------------------
# TPC-H Q3 shape: shipping-priority top-10 (join + agg + deterministic top-k)
# ---------------------------------------------------------------------------

_Q3_ORACLE = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query("q3_shipping_priority", oracle=_Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 adaptation: segment filter pushed to the customer scan, two
    fact joins, grouped revenue, top-10 via TakeOrderedAndProject (orderkey
    tiebreak keeps the limit deterministic)."""
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(12,2)")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                dmoney("l_extendedprice", 2).cast("decimal(12,2)")
                * (one - dmoney("l_discount", 2).cast("decimal(12,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: regional supplier volume (5-way join, dims broadcast)
# ---------------------------------------------------------------------------

_Q5_ORACLE = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


@query("q5_local_supplier_volume", oracle=_Q5_ORACLE)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 adaptation: the classic star join with a same-nation
    (customer=supplier) constraint. supplier/nation/region broadcast; the
    region filter prunes the nation build side before it ships."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    one = F.lit(1).cast("decimal(12,2)")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                dmoney("l_extendedprice", 2).cast("decimal(12,2)")
                * (one - dmoney("l_discount", 2).cast("decimal(12,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Pivot (wide aggregation)
# ---------------------------------------------------------------------------

_PIVOT_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
FROM orders
GROUP BY o_orderpriority
"""


@query("pivot_status", oracle=_PIVOT_ORACLE)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with explicit value list (never let pivot scan for
    distinct values at 100 TB — pass them)."""
    orders = load_table(spark, sf_dir, "orders")
    p = orders.groupBy("o_orderpriority").pivot("o_orderstatus", ["O", "F", "P"]).count()
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).alias("n_finished"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_pending"),
    )


# ---------------------------------------------------------------------------
# Exact percentiles (interpolated) — deterministic because the quantile
# fractions are binary-exact and l_quantity values are small integers, so
# the interpolation arithmetic is exact in double on both engines.
# ---------------------------------------------------------------------------

_PCT_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS qty_p25,
       quantile_cont(l_quantity, 0.5)  AS qty_p50,
       quantile_cont(l_quantity, 0.75) AS qty_p75
FROM lineitem
GROUP BY l_returnflag
"""


@query("agg_percentiles", oracle=_PCT_ORACLE)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group. At 100 TB prefer
    percentile_approx (t-digest, mergeable); the exact form is the oracle
    and fine for grouped data that fits per-group sort memory."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("qty_p25"),
        F.percentile("l_quantity", 0.5).alias("qty_p50"),
        F.percentile("l_quantity", 0.75).alias("qty_p75"),
    )


# ---------------------------------------------------------------------------
# Subqueries (scalar + correlated EXISTS) via the SQL surface
# ---------------------------------------------------------------------------

# Same ANSI text runs on both engines (avg via exact decimal sum / count).
_SUBQ_SQL = """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE c.c_acctbal > (
        SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        FROM customer c2
      )
  AND EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
      )
"""


@query("subquery_scalar_exists", oracle=_SUBQ_SQL)
def subquery_scalar_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery + correlated EXISTS (Catalyst rewrites EXISTS to a
    left-semi join; the scalar subquery becomes a broadcast one-row join)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SUBQ_SQL)


# ---------------------------------------------------------------------------
# Pandas UDF (Arrow-vectorized) — the sanctioned custom-logic escape hatch
# ---------------------------------------------------------------------------

_PUDF_ORACLE = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue_udf
FROM lineitem
WHERE l_orderkey < 2000
"""


@query("pandas_udf_revenue", oracle=_PUDF_ORACLE)
def pandas_udf_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas_udf: Arrow batches in, numpy per-row arithmetic out.
    Per-row IEEE double ops are bit-identical to the JVM/DuckDB expression,
    so even the UDF path is oracle-checkable. (Use built-ins when the
    expression is this simple — this query exists to pin the UDF contract.)"""
    from pyspark.sql.functions import pandas_udf

    # No type hints: `from __future__ import annotations` stringifies them,
    # which pandas_udf's hint inference rejects; hint-less defaults to SCALAR.
    @pandas_udf("double")
    def revenue(ep, disc):
        return ep * (1 - disc)

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        revenue("l_extendedprice", "l_discount").alias("revenue_udf"),
    )


_SQL_API_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc_revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
"""


@query("sql_api_revenue", oracle=_SQL_API_ORACLE)
def sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql(...) entry path: registers the catalog table as a temp
    view and runs the query as SQL text — proving the SQL dialect surface
    (not just the DataFrame API) works against the same tables with the
    same decimal-exact conventions. Catalyst compiles both to the same
    plan, and the oracle hash confirms it."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc_revenue,
               COUNT(*) AS n_lines
        FROM lineitem_v
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_returnflag
        """
    )


# ---------------------------------------------------------------------------
# Z-order layout key (operators/layout.py) — oracle-checked bit math
# ---------------------------------------------------------------------------

def _zorder_oracle() -> str:
    from gridmr_spark.operators.layout import morton_key_sql

    return f"""
SELECT o_orderkey,
       ({morton_key_sql('(o_custkey % 1024)', '(o_orderkey % 1024)', 10)}) AS zkey
FROM orders WHERE o_orderkey < 2000
"""


@query("layout_zorder_key", oracle=_zorder_oracle())
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) key over (customer bucket, order bucket) — the
    multi-dimensional clustering key a lakehouse Z-ORDER write sorts by so
    data skipping prunes on BOTH filter columns. Pure shift/mask integer
    expressions inside whole-stage codegen; the layout benefit itself
    (tighter per-file min/max on both dimensions than a single-column sort)
    is measured in tests/test_layout.py."""
    from gridmr_spark.operators.layout import morton_key

    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    return orders.select(
        "o_orderkey",
        morton_key(F.col("o_custkey") % 1024, F.col("o_orderkey") % 1024, 10).alias("zkey"),
    )


# ---------------------------------------------------------------------------
# CDC upsert (MERGE INTO semantics on plain parquet)
# ---------------------------------------------------------------------------

_MERGE_ORACLE = """
WITH target AS (
  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey < 5000
), updates AS (
  SELECT o_orderkey, o_custkey, CAST(o_totalprice + 100.0 AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey < 5000 AND o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, CAST(o_totalprice AS DOUBLE)
  FROM orders WHERE o_orderkey < 5000 AND o_orderkey % 100 = 0
)
SELECT * FROM updates
UNION ALL
SELECT t.* FROM target t WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM updates)
"""


@query("merge_upsert_cdc", oracle=_MERGE_ORACLE)
def merge_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain parquet (the CDC-apply primitive a
    lakehouse table format provides natively): updates win over target rows
    with the same key, unmatched updates insert, everything else carries
    over — rendered as one anti-join + union, the shape that rewrites only
    matched files when paired with partition pruning at scale. The update
    batch here is synthesized deterministically from the target (every 10th
    key mutated, every 100th key re-inserted shifted) so the gate can check
    the merge exactly. Per-row +100.0 on a double is IEEE-identical across
    engines (single op, no reordering)."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 5000)
    target = orders.select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )
    updates = (
        target.where(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 100.0)
        .unionAll(
            target.where(F.col("o_orderkey") % 100 == 0)
            .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
        )
    )
    kept = target.join(updates.select("o_orderkey"), "o_orderkey", "left_anti")
    return updates.unionAll(kept.select(*updates.columns))


# ---------------------------------------------------------------------------
# Full-outer and null-safe joins (outer-join family completion)
# ---------------------------------------------------------------------------

_FULL_OUTER_ORACLE = """
WITH s AS (
  SELECT s_nationkey AS nationkey, COUNT(*) AS s_cnt
  FROM supplier WHERE s_acctbal > 5000 GROUP BY s_nationkey
), c AS (
  SELECT c_nationkey AS nationkey, COUNT(*) AS c_cnt
  FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY c_nationkey
)
SELECT COALESCE(s.nationkey, c.nationkey) AS nationkey,
       COALESCE(s_cnt, 0) AS s_cnt,
       COALESCE(c_cnt, 0) AS c_cnt
FROM s FULL OUTER JOIN c ON s.nationkey = c.nationkey
"""


@query("join_full_outer", oracle=_FULL_OUTER_ORACLE)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two pre-aggregated sides (rich suppliers vs
    BUILDING customers per nation): nations present on only one side
    survive with a zero count on the other. Aggregate-before-join keeps the
    outer join's shuffle to one row per key per side — at 100 TB you outer-
    join the rollups, never the raw facts. Counts are COALESCE'd to 0 so
    the output is NULL-free (nullable int64 degrades to float64 in pandas,
    which would make the driver hash engine-sensitive)."""
    supp = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("s_cnt"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count(F.lit(1)).alias("c_cnt"))
    )
    j = supp.join(cust, supp.s_nk == cust.c_nk, "full_outer")
    return j.select(
        F.coalesce("s_nk", "c_nk").alias("nationkey"),
        F.coalesce("s_cnt", F.lit(0)).alias("s_cnt"),
        F.coalesce("c_cnt", F.lit(0)).alias("c_cnt"),
    )


_NULL_SAFE_ORACLE = """
WITH a AS (
  SELECT CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderkey % 100 END AS k, o_orderkey
  FROM orders WHERE o_orderkey < 2000
), b AS (
  SELECT CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderkey % 100 END AS k, o_orderkey
  FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 4000
)
SELECT COALESCE(a.k, -1) AS k, COUNT(*) AS n_pairs
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
GROUP BY 1
"""


@query("join_null_safe", oracle=_NULL_SAFE_ORACLE)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (<=> / IS NOT DISTINCT FROM): NULL keys MATCH
    each other instead of silently dropping, the semantics ETL needs when
    joining on optional attributes. Spark plans eqNullSafe as an ordinary
    hash join (NULL hashes like any value under <=>), so the shape scales
    like any equi join; the NULL bucket is the classic skew key — salt it
    or pre-split if NULLs dominate. The key is COALESCE'd to -1 only in the
    OUTPUT projection (after the join) to keep the result NULL-free for
    the dtype-stable hash."""
    orders = load_table(spark, sf_dir, "orders")
    k = F.when(F.col("o_orderkey") % 10 == 0, F.lit(None).cast("bigint")).otherwise(
        F.col("o_orderkey") % 100
    )
    a = orders.where(F.col("o_orderkey") < 2000).select(k.alias("ka"))
    b = orders.where((F.col("o_orderkey") >= 2000) & (F.col("o_orderkey") < 4000)).select(
        k.alias("kb")
    )
    return (
        a.join(b, a.ka.eqNullSafe(b.kb))
        .groupBy(F.coalesce("ka", F.lit(-1)).alias("k"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Bucketed (pre-shuffled) fact-fact join — zero-Exchange SortMergeJoin
# ---------------------------------------------------------------------------

_BUCKETED_JOIN_ORACLE = """
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@query("layout_bucketed_join", oracle=_BUCKETED_JOIN_ORACLE)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join with BOTH sides pre-bucketed on the join key: the
    SortMergeJoin planner consumes the bucketing output partitioning and
    drops BOTH shuffle exchanges (asserted in tests/test_plans.py). This is
    the 100 TB strategy for a join repeated every run — pay the shuffle
    once at write time, never again at read time. The `merge` hint pins SMJ
    so the demonstration doesn't silently degrade to a broadcast join on
    small SFs; at real scale neither side is broadcastable anyway."""
    import hashlib

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    t_li, t_ord = f"bkt_lineitem_{key}", f"bkt_orders_{key}"
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # external bucketed tables (explicit path: warehouse.dir is a static conf)
    # at fresh scratch paths; the names are keyed by sf_dir and overwritten,
    # left registered so the returned plan can still scan them when the
    # driver collects.
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
        "path", scratch_dir("bkt_li")
    ).saveAsTable(t_li)
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
        "path", scratch_dir("bkt_ord")
    ).saveAsTable(t_ord)
    joined = spark.table(t_li).hint("merge").join(
        spark.table(t_ord), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum("l_quantity").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# SCD2 history build: change log -> validity-interval dimension rows
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH changes AS (
  SELECT o_custkey AS cust_id, o_orderpriority AS attr, o_orderdate AS ts, o_orderkey AS seq
  FROM orders
), ordered AS (
  SELECT cust_id, attr, ts, seq,
         LAG(attr) OVER w AS prev_attr
  FROM changes
  WINDOW w AS (PARTITION BY cust_id ORDER BY ts, seq)
), transitions AS (
  SELECT cust_id, attr, ts, seq FROM ordered
  WHERE prev_attr IS NULL OR attr <> prev_attr
)
SELECT cust_id, attr,
       CAST(ts AS TIMESTAMP) AS valid_from,
       CAST(LEAD(ts) OVER w2 AS TIMESTAMP) AS valid_to,
       CAST(CASE WHEN LEAD(ts) OVER w2 IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
FROM transitions
WINDOW w2 AS (PARTITION BY cust_id ORDER BY ts, seq)
"""


def _scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared builder for the SCD2 queries below (history build + lookup)."""
    orders = load_table(spark, sf_dir, "orders")
    changes = orders.select(
        F.col("o_custkey").alias("cust_id"),
        F.col("o_orderpriority").alias("attr"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
    )
    w = Window.partitionBy("cust_id").orderBy("ts", "seq")
    transitions = (
        changes.withColumn("prev_attr", F.lag("attr").over(w))
        .where(F.col("prev_attr").isNull() | (F.col("attr") != F.col("prev_attr")))
        .drop("prev_attr")
    )
    nxt = F.lead("ts").over(w)
    return transitions.select(
        "cust_id",
        "attr",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().cast("int").alias("is_current"),
    )


@query("merge_scd2_history", oracle=_SCD2_ORACLE)
def merge_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 built from a change log: per key,
    consecutive repeats collapse (lag filter), each surviving transition
    opens a validity interval closed by the next one (lead); the open
    interval is the current row. Orders stand in for the change stream
    (customer x order-priority over order dates, orderkey as the
    deterministic same-instant tiebreak). Two windows over the same
    (key, ts) sort — Catalyst evaluates them in one shuffle+sort pass; the
    history build is a single scan of the log, the MERGE-style upsert
    against an existing dimension is merge_upsert_cdc's job."""
    return _scd2_history(spark, sf_dir)


# Point-in-time lookup over the SCD2 history: the AS OF read that makes the
# validity intervals useful. DuckDB rebuilds the same history inline.
_SCD2_ASOF_ORACLE = """
WITH changes AS (
  SELECT o_custkey AS cust_id, o_orderpriority AS attr, o_orderdate AS ts, o_orderkey AS seq
  FROM orders
), ordered AS (
  SELECT cust_id, attr, ts, seq,
         LAG(attr) OVER w AS prev_attr
  FROM changes
  WINDOW w AS (PARTITION BY cust_id ORDER BY ts, seq)
), transitions AS (
  SELECT cust_id, attr, ts, seq FROM ordered
  WHERE prev_attr IS NULL OR attr <> prev_attr
), hist AS (
  SELECT cust_id, attr,
         CAST(ts AS TIMESTAMP) AS valid_from,
         CAST(LEAD(ts) OVER w2 AS TIMESTAMP) AS valid_to
  FROM transitions
  WINDOW w2 AS (PARTITION BY cust_id ORDER BY ts, seq)
)
SELECT cust_id, attr, valid_from
FROM hist
WHERE valid_from <= TIMESTAMP '1996-06-01 00:00:00'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '1996-06-01 00:00:00')
"""


@query("merge_scd2_asof_lookup", oracle=_SCD2_ASOF_ORACLE)
def merge_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS OF read over the SCD2 history: each customer's attribute value in
    force at a fixed instant — valid_from <= t < valid_to (open interval =
    still current). The interval predicate is a plain filter over the
    history build (shared _scd2_history plan); on a stored SCD2 dimension
    partitioned by valid_from date this prunes to the touched partitions."""
    t = F.lit("1996-06-01 00:00:00").cast("timestamp")
    hist = _scd2_history(spark, sf_dir)
    return (
        hist.where(
            (F.col("valid_from") <= t)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
        )
        .select("cust_id", "attr", "valid_from")
    )


# ---------------------------------------------------------------------------
# Equi-depth (quantile-bucket) histogram via ntile
# ---------------------------------------------------------------------------

_EQUIDEPTH_ORACLE = """
WITH t AS (
  SELECT o_totalprice,
         NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT decile,
       COUNT(*) AS n_orders,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM t GROUP BY decile
"""


@query("agg_equidepth_histogram", oracle=_EQUIDEPTH_ORACLE)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram: ntile(10) assigns equal-COUNT buckets (the
    complement of agg_histogram's equal-WIDTH buckets), then per-decile
    count/bounds/decimal-sum. ntile's row-split rule (floor division of n,
    remainder to the leading buckets) is engine-identical given the total
    order, which the orderkey tiebreak provides. The global sort is the
    scale cost — at 100 TB replace the exact ntile with approx_percentile
    cut points + a width_bucket-style assignment; the report shape stays."""
    from gridmr_spark.functions.numeric import dsum

    # The global sort no longer lands in ONE task: the previous
    # Window.orderBy(no partition) ntile moved every order row to a single
    # partition (guide §2's scale-killer — this was the one flagged site
    # on a FACT table). The two-level global row number sorts range
    # partitions in parallel and ntile is a pure function of
    # (row_number, n, buckets) under the same unique total order, so the
    # deciles are row-identical.
    from gridmr_spark.functions.ranking import global_row_number, ntile_from_rn

    orders = load_table(spark, sf_dir, "orders")
    numbered, n = global_row_number(
        orders.select("o_totalprice", "o_orderkey"),
        [F.asc("o_totalprice"), F.asc("o_orderkey")],
        out="_rn",
    )
    return (
        numbered.select(
            "o_totalprice", ntile_from_rn(F.col("_rn"), n, 10).alias("decile")
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# CDC apply with ordered ops incl. DELETE (the full change-log semantics)
# ---------------------------------------------------------------------------

_CDC_DELETES_ORACLE = """
WITH target AS (
  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey < 5000
), log AS (
  SELECT 1 AS seq, 'U' AS op, o_orderkey, o_custkey,
         CAST(o_totalprice + 100.0 AS DOUBLE) AS o_totalprice
  FROM target WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT 2, 'D', o_orderkey, o_custkey, o_totalprice
  FROM target WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT 3, 'I', o_orderkey + 10000000, o_custkey, o_totalprice
  FROM target WHERE o_orderkey % 100 = 0
), latest AS (
  SELECT * FROM (
    SELECT log.*, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
    FROM log
  ) WHERE rn = 1
)
SELECT o_orderkey, o_custkey, o_totalprice
FROM latest WHERE op <> 'D'
UNION ALL
SELECT t.* FROM target t
WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM log)
"""


@query("merge_cdc_with_deletes", oracle=_CDC_DELETES_ORACLE)
def merge_cdc_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full change-data-capture apply: an ORDERED log of insert/update/
    DELETE ops collapses to the latest op per key (one window over the log,
    which is small — never over the target), deletes drop the key, survivors
    override or extend the target via anti-join + union. This is the piece
    merge_upsert_cdc lacks (no tombstones there); together they are MERGE
    WHEN MATCHED [THEN DELETE] on plain parquet. Keys divisible by 70
    receive an update THEN a delete — proving op order, not just op
    presence, decides the outcome."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 5000)
    target = orders.select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )
    log = (
        target.where(F.col("o_orderkey") % 10 == 0)
        .select(F.lit(1).alias("seq"), F.lit("U").alias("op"), "o_orderkey", "o_custkey",
                (F.col("o_totalprice") + 100.0).alias("o_totalprice"))
        .unionAll(
            target.where(F.col("o_orderkey") % 7 == 0)
            .select(F.lit(2).alias("seq"), F.lit("D").alias("op"), "o_orderkey", "o_custkey",
                    "o_totalprice")
        )
        .unionAll(
            target.where(F.col("o_orderkey") % 100 == 0)
            .select(F.lit(3).alias("seq"), F.lit("I").alias("op"),
                    (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"), "o_custkey",
                    "o_totalprice")
        )
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("seq"))
    latest = log.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    survivors = latest.where(F.col("op") != "D").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    untouched = target.join(log.select("o_orderkey"), "o_orderkey", "left_anti")
    return survivors.unionAll(untouched.select("o_orderkey", "o_custkey", "o_totalprice"))


# ---------------------------------------------------------------------------
# Runtime bloom-filter join pruning
# ---------------------------------------------------------------------------

_BLOOM_JOIN_ORACLE = """
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS sum_price
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY o.o_orderpriority
"""


@query("join_bloom_runtime", oracle=_BLOOM_JOIN_ORACLE)
def join_bloom_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle join guarded by a RUNTIME BLOOM FILTER (Spark's
    InjectRuntimeFilter): the selective dimension side first aggregates a
    bloom filter over its join keys; Catalyst injects
    might_contain(bloom, xxhash64(l_orderkey)) into the FACT scan's filter,
    so ~4/5 of fact rows die at the scan instead of riding the shuffle —
    the row-level sibling of dynamic partition pruning for joins where the
    fact is not partitioned on the join key. At 100 TB this is the
    difference between shuffling the whole fact table and shuffling the
    matching fifth.

    Spark injects the filter only when the dimension is too big to
    broadcast BY SIZE (hints don't count: a broadcast join prunes through
    its hash table already, so bloom targets genuine shuffle joins). At
    test scale the dim fits in a broadcast and this query correctly plans
    as a broadcast join — the bloom-injection property is therefore proven
    in tests/test_plans.py under the production-shaped confs
    (autoBroadcastJoinThreshold=-1 to express "the dim is big",
    applicationSideScanSizeThreshold=0 to express "the fact is big"),
    asserting the bloom subquery lands in the fact scan's filter."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Spark 4 SQL surface: LATERAL subquery join, recursive CTE
# ---------------------------------------------------------------------------

_LATERAL_TOPK_ORACLE = """
SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
FROM customer c
CROSS JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 3
) l
WHERE c.c_mktsegment = 'AUTOMOBILE'
"""


@query("join_lateral_topk", oracle=_LATERAL_TOPK_ORACLE)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — the SQL-standard
    spelling of per-group top-k (top-3 orders by price per AUTOMOBILE
    customer), new surface in Spark 4's SQL front end. DuckDB runs the
    identical statement, so the oracle checks Spark's decorrelation
    end-to-end, not a rewritten twin.

    Scale shape: Catalyst decorrelates the lateral subquery into a
    window/rank over a single orders shuffle partitioned by o_custkey —
    the same physical plan as window_topk_per_group, NOT one subquery
    execution per outer row (which would be O(customers) jobs). The
    per-group LIMIT bounds output at 3 rows/customer regardless of order
    history length. o_totalprice passes through unmodified (no float
    arithmetic), so the cross-engine hash is bit-stable."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_LATERAL_TOPK_ORACLE)


# DuckDB dialect: integer division is //; Spark's is DIV. Same tree walk.
_RECURSIVE_CTE_ORACLE = """
WITH RECURSIVE anc(p_partkey, root, depth) AS (
  SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey < 10
  UNION ALL
  SELECT p.p_partkey, a.root, a.depth + 1
  FROM part p JOIN anc a ON p.p_partkey // 10 = a.p_partkey
  WHERE p.p_partkey >= 10
)
SELECT root, COUNT(*) AS n_parts, CAST(MAX(depth) AS BIGINT) AS max_depth
FROM anc GROUP BY root
"""


@query("sql_recursive_cte", oracle=_RECURSIVE_CTE_ORACLE)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE — Spark 4.1's recursive common table expression,
    walking the implicit decimal tree over part (parent(p) = p DIV 10,
    guarded by p >= 10 because partkeys are 0-based and 0 DIV 10 = 0
    would self-loop): every part reaches a single-digit root, and the
    query reports per-root subtree size and height. DuckDB executes the
    same recursion (// for integer division), so the oracle validates
    Spark's iterative UNION ALL semantics, not a closed-form rewrite.

    Scale shape: each recursion level is one hash join of the current
    frontier against the part scan — depth is log10(max key) (~7 levels
    at 100 TB key ranges), and the frontier is a proper tree level, never
    the accumulated result, so work per level is bounded by level size.
    This is the declarative twin of the driver-looped iteration pattern
    graph_pagerank uses; for UNBOUNDED iteration counts the loop form
    with localCheckpoint remains the right tool (recursion level is
    capped, default 100)."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_RECURSIVE_CTE_ORACLE.replace("//", "DIV"))


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (mergeable partial state)
# ---------------------------------------------------------------------------

_INC_MERGE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@query("agg_incremental_merge", oracle=_INC_MERGE_ORACLE)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/incremental.py): the
    grouped lineitem aggregate is maintained as PERSISTED partial state
    (count + exact DECIMAL sums per group) over history
    (l_shipdate < 1998-09-01), then the refresh merges that stored state
    with partials of the DELTA only (>= 1998-09-01). Each call writes the
    history state to a fresh scratch path and refreshes from it, so the
    timed call pays both halves: no state carries over between calls or
    runs. The oracle recomputes the aggregate over the FULL table — the
    hash match is the claim:
    incremental maintenance is indistinguishable from recompute, because
    DECIMAL partial sums form an exact commutative monoid (Spark's own
    partial/final agg split, lifted across runs).

    Scale shape: refresh cost is O(delta + |groups|) with history never
    rescanned — the difference between re-aggregating 100 TB nightly and
    aggregating the day's append. tests/test_incremental.py proves the
    refresh plan reads the state artifact + a shipdate-pruned delta scan,
    and that merge order / increment granularity cannot change a bit."""
    from gridmr_spark.operators.incremental import (
        finalize_aggs,
        merge_partial_aggs,
        partial_aggs,
    )

    keys = ["l_returnflag", "l_linestatus"]
    sums = {"qty": "l_quantity", "price": "l_extendedprice"}
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-09-01").cast("date")

    path = scratch_dir("incagg")
    base = partial_aggs(li.where(F.col("l_shipdate") < cutoff), keys, sums)
    base.coalesce(1).write.parquet(path)

    stored = spark.read.parquet(path)
    delta = partial_aggs(li.where(F.col("l_shipdate") >= cutoff), keys, sums)
    return finalize_aggs(merge_partial_aggs([stored, delta], keys), keys)


# Retraction-capable incremental view maintenance: the maintained answer is
# the post-CDC logical table re-aggregated from scratch (the oracle), but
# the engine only ever touched the stored partial state + the CDC delta.
_INC_CDC_ORACLE = """
WITH final_rows AS (
  SELECT o_orderpriority,
         CAST(o_totalprice AS DOUBLE)
           + CASE WHEN o_orderkey % 3 <> 1 AND o_orderkey % 10 = 7
                  THEN 100.0 ELSE 0.0 END AS price
  FROM orders
  WHERE (o_orderkey % 3 IN (0, 2) AND o_orderkey % 10 <> 0)
     OR o_orderkey % 3 = 1
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_total
FROM final_rows
GROUP BY o_orderpriority
"""


@query("incremental_agg_view_cdc", oracle=_INC_CDC_ORACLE)
def incremental_agg_view_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance under a CDC feed WITH DELETES and
    UPDATES (operators/incremental.py: cdc_partial_aggs) — the retraction
    algebra agg_incremental_merge lacks: inserts weight +1, deletes −1,
    updates are the standard retract+insert pair, and the signed DECIMAL
    monoid merges with stored append-only state through the unchanged
    merge_partial_aggs. Day 0 persists partial state over the base orders
    (o_orderkey % 3 in (0,2)) to a fresh scratch path, inside every call;
    day 1 applies a CDC batch that INSERTS the
    %3=1 rows, DELETES base rows with %10=0, and UPDATES base rows with
    %10=7 (price +100.00). The oracle recomputes the post-CDC table from
    scratch — the hash match proves a view maintained through retractions
    is indistinguishable from recompute, including fully-deleted groups
    vanishing (n_rows nets to 0, dropped by finalize_aggs(drop_empty)).

    Scale shape: refresh cost is O(|CDC batch| + |groups|) regardless of
    history — the nightly-merge posture for a 100 TB fact table where
    rows are also corrected and forgotten (GDPR deletes), not only
    appended. A malformed op code raises in-plan (raise_error), never
    silently corrupts state."""
    from gridmr_spark.operators.incremental import (
        cdc_partial_aggs,
        finalize_aggs,
        merge_partial_aggs,
        partial_aggs,
    )

    keys = ["o_orderpriority"]
    sums = {"total": "o_totalprice"}
    orders = load_table(spark, sf_dir, "orders")
    base_pred = (F.col("o_orderkey") % 3).isin(0, 2)
    base = orders.where(base_pred)

    path = scratch_dir("incaggcdc")
    partial_aggs(base, keys, sums).coalesce(1).write.parquet(path)
    stored = spark.read.parquet(path)

    cols = ["o_orderpriority", "o_totalprice"]
    inserts = orders.where(F.col("o_orderkey") % 3 == 1).select(
        F.lit("I").alias("op"), *cols
    )
    deletes = base.where(F.col("o_orderkey") % 10 == 0).select(
        F.lit("D").alias("op"), *cols
    )
    upd_src = base.where(F.col("o_orderkey") % 10 == 7)
    upd_retract = upd_src.select(F.lit("D").alias("op"), *cols)
    upd_insert = upd_src.select(
        F.lit("I").alias("op"),
        F.col("o_orderpriority"),
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
    )
    cdc = inserts.unionByName(deletes).unionByName(upd_retract).unionByName(upd_insert)

    merged = merge_partial_aggs([stored, cdc_partial_aggs(cdc, keys, sums)], keys)
    return finalize_aggs(merged, keys, drop_empty=True)


_OLS_ORACLE = """
WITH j AS (
  SELECT c.c_mktsegment AS segment,
         CAST(date_diff('day', DATE '1995-01-01', CAST(o.o_orderdate AS DATE)) AS BIGINT) AS x,
         CAST(FLOOR(o.o_totalprice * 100.0) AS BIGINT) AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), s AS (
  SELECT segment,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sx2
  FROM j GROUP BY segment
)
SELECT segment, n, sx, sy,
       CAST(FLOOR((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * 1000000000.0) AS BIGINT) AS slope_q
FROM s
"""


@query("agg_groupwise_ols", oracle=_OLS_ORACLE)
def agg_groupwise_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS regression (order value vs. order date per
    market segment) from the five sufficient statistics n, Σx, Σy, Σxy,
    Σx² — regression as a single mergeable aggregation, never an iterative
    solver. Determinism: x is an integer day offset and y integer cents
    (floor(price*100), mirrored), so every sum is an EXACT integer (ranges
    verified: Σxy < 2^53 even at sf1000) and the final slope is one
    identical double expression on identical integers in both engines —
    the moment-sums idiom agg_moments established, extended to a model
    fit. Scale shape: broadcast customer dim onto the orders scan, one
    combine-reduced group-by; adding intercept/R² is more columns on the
    same pass."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long").alias("y"),
    )
    s = j.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    nd, sxd = F.col("n").cast("double"), F.col("sx").cast("double")
    syd, sxyd, sx2d = (
        F.col("sy").cast("double"),
        F.col("sxy").cast("double"),
        F.col("sx2").cast("double"),
    )
    return s.select(
        "segment", "n", "sx", "sy",
        F.floor(
            (nd * sxyd - sxd * syd) / (nd * sx2d - sxd * sxd) * F.lit(1000000000.0)
        )
        .cast("long")
        .alias("slope_q"),
    )


_IVM_JOIN_ORACLE = """
SELECT c.c_mktsegment, COUNT(*) AS n_rows,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


@query("incremental_join_view", oracle=_IVM_JOIN_ORACLE)
def incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (segment revenue over
    orders ⋈ customer) under TWO-SIDED appends, by the classic delta
    algebra: with A = A₀∪ΔA, B = B₀∪ΔB,

        V(A,B) = V(A₀,B₀)[persisted] ⊕ agg(ΔA⋈B₀) ⊕ agg(A₀⋈ΔB) ⊕ agg(ΔA⋈ΔB)

    — history joins history once per maintained state; each refresh
    touches only delta-sized join inputs plus |groups| rows of stored
    state. Each call builds V(A₀,B₀) into a fresh scratch path, then
    refreshes from it, so no state carries over between calls or runs.
    ΔA is the new orders (o_orderdate >= 2000-01-01), ΔB the newly-arrived
    customers (c_custkey % 10 = 7 — so old orders referencing them land in
    the A₀⋈ΔB term, the case append-only-fact intuition misses). State is the
    same DECIMAL partial-agg monoid as agg_incremental_merge (exact,
    order-independent merges), so the oracle — a FULL recompute over the
    complete join — hash-matches the incrementally-maintained answer
    bit for bit. At 100 TB the three delta joins are each
    delta-broadcast-sized, vs. re-joining the full fact to the full dim
    nightly."""
    from gridmr_spark.operators.incremental import (
        finalize_aggs,
        merge_partial_aggs,
        partial_aggs,
    )

    keys = ["c_mktsegment"]
    sums = {"revenue": "o_totalprice"}
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cutoff = F.lit("2000-01-01").cast("date")
    a_old = orders.where(F.col("o_orderdate").cast("date") < cutoff)
    a_new = orders.where(F.col("o_orderdate").cast("date") >= cutoff)
    b_old = cust.where(F.col("c_custkey") % 10 != 7)
    b_new = cust.where(F.col("c_custkey") % 10 == 7)

    def joined(a, b):
        return a.join(F.broadcast(b), a["o_custkey"] == b["c_custkey"])

    path = scratch_dir("ivmjoin")
    base = partial_aggs(joined(a_old, b_old), keys, sums)
    base.coalesce(1).write.parquet(path)

    stored = spark.read.parquet(path)
    deltas = [
        partial_aggs(joined(a_new, b_old), keys, sums),
        partial_aggs(joined(a_old, b_new), keys, sums),
        partial_aggs(joined(a_new, b_new), keys, sums),
    ]
    return finalize_aggs(merge_partial_aggs([stored, *deltas], keys), keys)
