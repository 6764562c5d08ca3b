"""Additional function-surface queries: array aggregation (collect_list/set
with deterministic ordering), distribution window functions, edit-distance
fuzzy matching, and array set operations."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gridmr_spark.catalog import load_table
from gridmr_spark.queries import query

# ---------------------------------------------------------------------------
# Array aggregation: collect_list/collect_set made deterministic by sorting
# (collect order is partition-dependent; only the sorted form is comparable)
# ---------------------------------------------------------------------------

_COLLECT_ORACLE = """
SELECT n_regionkey,
       array_to_string(list_sort(list(n_name)), '|') AS nations_sorted,
       len(list_distinct(list(n_regionkey))) AS n_distinct_keys
FROM nation
GROUP BY n_regionkey
"""


@query("agg_collect", oracle=_COLLECT_ORACLE)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list -> sort_array per group (array_agg). Raw collect order
    is partition-dependent — sorting is what makes it deterministic, at any
    parallelism, which is the only safe way to use it at 100 TB.

    The sorted array is serialized with a '|' separator: array-typed output
    columns crash the driver gate's pandas canonicalizer, and a flat string
    compares identically across engines."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.concat_ws("|", F.sort_array(F.collect_list("n_name"))).alias("nations_sorted"),
        F.size(F.array_distinct(F.collect_list("n_regionkey"))).alias("n_distinct_keys"),
    )


# ---------------------------------------------------------------------------
# Distribution window functions: percent_rank / cume_dist
# ---------------------------------------------------------------------------

_DIST_ORACLE = """
SELECT s_suppkey,
       PERCENT_RANK() OVER (ORDER BY s_acctbal, s_suppkey) AS bal_pct_rank,
       CUME_DIST()    OVER (ORDER BY s_acctbal, s_suppkey) AS bal_cume_dist
FROM supplier
"""


@query("window_distribution", oracle=_DIST_ORACLE)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank = (rank-1)/(n-1), cume_dist = rank/n — single integer
    division each, engine-deterministic. Unpartitioned window: fine for a
    dimension table; partition it for facts."""
    supp = load_table(spark, sf_dir, "supplier")
    # Previously an unpartitioned WindowExec (single-partition sort of the
    # table, guide §2). Under a UNIQUE total order (the s_suppkey tiebreak)
    # rank == row_number and cume_dist's "rows <= current" == row_number,
    # so both reduce to the same integer divisions on a two-level global
    # row number — bit-identical doubles, computed on parallel range
    # partitions.
    from gridmr_spark.functions.ranking import global_row_number

    numbered, n = global_row_number(
        supp, [F.asc("s_acctbal"), F.asc("s_suppkey")], out="_rn"
    )
    pct = (
        (F.col("_rn") - 1).cast("double") / F.lit(float(n - 1))
        if n > 1
        else F.lit(0.0)
    )
    return numbered.select(
        "s_suppkey",
        pct.alias("bal_pct_rank"),
        (F.col("_rn").cast("double") / F.lit(float(n))).alias("bal_cume_dist"),
    )


# ---------------------------------------------------------------------------
# Fuzzy matching: Levenshtein edit-distance pairs
# ---------------------------------------------------------------------------

_FUZZY_ORACLE = """
SELECT a.s_suppkey AS id1, b.s_suppkey AS id2,
       levenshtein(a.s_name, b.s_name) AS dist
FROM supplier a JOIN supplier b
  ON a.s_suppkey < b.s_suppkey
 AND abs(length(a.s_name) - length(b.s_name)) <= 2
WHERE levenshtein(a.s_name, b.s_name) <= 2
"""


@query("fuzzy_levenshtein_pairs", oracle=_FUZZY_ORACLE)
def fuzzy_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical name pairs by edit distance <= 2 — the record-linkage
    primitive, via depth-2 symmetric-deletion blocking
    (operators/text.symdelete_fuzzy_pairs): ~len²/2 deletion-variant keys
    per string, shuffle equi-join on the key, DP verify only on collisions.
    The oracle keeps the NAIVE theta-join definition (its length-band
    prefilter is implied by dist <= 2), so the hash gate proves the blocked
    plan loses no pair. Until round 4 this query WAS the broadcast
    theta-join — correct for dims, quadratic on facts; the blocked form is
    linear and AQE-skew-safe at any size."""
    from gridmr_spark.operators.text import symdelete_fuzzy_pairs

    supp = load_table(spark, sf_dir, "supplier")
    return symdelete_fuzzy_pairs(supp, "s_suppkey", "s_name", max_dist=2)


# The oracle is deliberately the NAIVE quadratic definition (DuckDB is fine
# with it at sf0.01): hash-equality then proves the Spark side's
# symmetric-deletion blocking loses no pair — the completeness claim, not
# just self-consistency of the blocked plan.
_FUZZY_BLOCKED_ORACLE = """
SELECT a.s_suppkey AS id1, b.s_suppkey AS id2,
       levenshtein(a.s_name, b.s_name) AS dist
FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 1
"""


@query("fuzzy_blocked_pairs", oracle=_FUZZY_BLOCKED_ORACLE)
def fuzzy_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance<=1 name pairs via symmetric-deletion blocking
    (operators/text.symdelete_fuzzy_pairs) — the FACT-TABLE-safe fuzzy
    matcher: key blowup + shuffle equi-join, both linear, where
    fuzzy_levenshtein_pairs' broadcast theta-join is dim-sized-only. The
    oracle is the unblocked quadratic definition, so the driver's hash gate
    verifies the blocking is lossless."""
    from gridmr_spark.operators.text import symdelete_fuzzy_pairs

    supp = load_table(spark, sf_dir, "supplier")
    return symdelete_fuzzy_pairs(supp, "s_suppkey", "s_name")


# ---------------------------------------------------------------------------
# Event analytics: cohort retention and conversion funnel
# ---------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('month', min(ts)) AS TIMESTAMP) AS cohort_month
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('month', ts) AS TIMESTAMP) AS activity_month
  FROM events
)
SELECT cohort_month, activity_month, COUNT(*) AS n_users
FROM firsts JOIN activity USING (user_id)
GROUP BY cohort_month, activity_month
"""


@query("events_cohort_retention", oracle=_COHORT_ORACLE)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention matrix: users bucketed by first-seen month,
    counted per active month. Two aggregations + one equi-join on user_id —
    all shuffles on the (high-cardinality, well-distributed) user key."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).alias("cohort_month")
    )
    activity = ev.select(
        "user_id", F.date_trunc("month", F.col("ts")).alias("activity_month")
    ).distinct()
    return (
        firsts.join(activity, "user_id")
        .groupBy("cohort_month", "activity_month")
        .agg(F.count("*").alias("n_users"))
    )


_FUNNEL_ORACLE = """
WITH s1 AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id
), s2 AS (
  SELECT e.user_id, s1.t_view,
         min(CASE WHEN e.event_type = 'click' AND e.ts >= s1.t_view THEN e.ts END) AS t_click
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  GROUP BY e.user_id, s1.t_view
), s3 AS (
  SELECT e.user_id, s2.t_view, s2.t_click,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts >= s2.t_click THEN e.ts END) AS t_purchase
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  GROUP BY e.user_id, s2.t_view, s2.t_click
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached_view,
       CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached_click,
       CAST(SUM(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached_purchase
FROM s3
"""


@query("events_funnel", oracle=_FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> later click -> later purchase) —
    per-user stage timestamps via conditional min aggregation (one pass per
    stage), no self-joins over the fact table. Window-free and shuffle-
    bounded by the user key."""
    ev = load_table(spark, sf_dir, "events")
    t_view = F.min(F.when(F.col("event_type") == "view", F.col("ts")))
    stage1 = ev.groupBy("user_id").agg(t_view.alias("t_view"))
    with_view = ev.join(stage1, "user_id")
    t_click = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") >= F.col("t_view")),
            F.col("ts"),
        )
    )
    stage2 = with_view.groupBy("user_id", "t_view").agg(t_click.alias("t_click"))
    with_click = ev.join(stage2, "user_id")
    t_purchase = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t_click")),
            F.col("ts"),
        )
    )
    stage3 = with_click.groupBy("user_id", "t_view", "t_click").agg(
        t_purchase.alias("t_purchase")
    )
    return stage3.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0)).alias("reached_view"),
        F.sum(F.when(F.col("t_click").isNotNull(), 1).otherwise(0)).alias("reached_click"),
        F.sum(F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)).alias("reached_purchase"),
    )


# Oracle ts goes through make_timestamp(epoch_us(...)) because Spark reads
# the NANOS parquet column floor-truncated to micros (catalog._load_events).
# SUM(brk) is CAST AS BIGINT: DuckDB widens integer SUM to HUGEINT, which
# lands in pandas as float64/object and breaks the dtype-sensitive hash.
_SESSIONIZE_ORACLE = """
WITH ev AS (
  SELECT user_id, make_timestamp(epoch_us(ts)) AS ts, event_id
  FROM events
), marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('microsecond', lag(ts) OVER w, ts) > 600000000
              THEN 1 ELSE 0 END AS brk
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end
FROM numbered
GROUP BY user_id, session_id
"""


@query("events_sessionize", oracle=_SESSIONIZE_ORACLE)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: a new session starts after a >10 min
    silence; islands are numbered per user by a running sum of break flags.
    The batch twin of stream_session_10m — same session semantics, derived
    with lag + cumulative-sum windows instead of session_window state. One
    shuffle on user_id serves both window passes AND the final aggregation
    (same partitioning, no re-exchange); (ts, event_id) ordering makes the
    numbering deterministic under ties."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "brk",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
                > 600_000_000
            ),
            1,
        ).otherwise(0),
    )
    numbered = marked.withColumn(
        "session_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return numbered.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# Array set operations (order-normalized for cross-engine comparison)
# ---------------------------------------------------------------------------

_ARRSET_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_sort(list_distinct(list_filter(
           string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> ''))) AS toks
  FROM documents WHERE doc_id < 20
)
SELECT doc_id,
       array_to_string(list_sort(list_intersect(toks, ['key','agg','row','scan','table'])), '|') AS kw_hits,
       len(list_filter(toks, x -> NOT list_contains(['key','agg','row','scan','table'], x))) AS n_non_kw,
       list_contains(toks, 'spark') AS mentions_spark
FROM t
"""


@query("array_set_ops", oracle=_ARRSET_ORACLE)
def array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array_intersect / array_except-style ops against a keyword list,
    sort-normalized (engines don't guarantee matching element order) and
    '|'-joined so the driver gate can hash the column."""
    from gridmr_spark.operators.dedup import normalize_tokens

    kw = F.array(*[F.lit(x) for x in ("key", "agg", "row", "scan", "table")])
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    toks = F.array_sort(F.array_distinct(normalize_tokens("text")))
    return docs.select(
        "doc_id",
        F.concat_ws("|", F.array_sort(F.array_intersect(toks, kw))).alias("kw_hits"),
        F.size(F.array_except(toks, kw)).alias("n_non_kw"),
        F.array_contains(toks, "spark").alias("mentions_spark"),
    )


@query("agg_hll_mergeable", oracle=None)  # sketch bytes: error-bound tested
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (DataSketches): per-priority sketches of the
    customer set, re-aggregated with hll_union_agg into a total — WITHOUT
    touching raw data again. This two-level shape is the 100 TB cardinality
    pattern: sketch once per partition/day, answer any rollup by merging
    kilobyte sketches. approx_count_distinct can't do this — its sketch is
    consumed inside one aggregation. Error bound vs exact distinct is
    asserted in tests/test_mr_compat.py."""
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.count("*").alias("n_orders"),
    )
    per_prio = per.select(
        "o_orderpriority",
        F.hll_sketch_estimate("sk").alias("approx_customers"),
        "n_orders",
    )
    total = per.agg(
        F.lit("ALL").alias("o_orderpriority"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_customers"),
        F.sum("n_orders").alias("n_orders"),
    )
    return per_prio.unionByName(total)


# ---------------------------------------------------------------------------
# Heavy hitters: approx_top_k sketch (exact when it tracks >= distinct keys)
# ---------------------------------------------------------------------------

_HEAVY_HITTERS_ORACLE = """
SELECT event_type AS item, COUNT(*) AS cnt
FROM events GROUP BY event_type
"""


@query("agg_heavy_hitters", oracle=_HEAVY_HITTERS_ORACLE)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the approx_top_k sketch (Spark 4): single-pass,
    mergeable, fixed memory — the 100 TB way to ask "what are the hottest
    keys" without a full groupBy over a high-cardinality column. Here k (5)
    >= the column's distinct count, where the sketch is EXACT by
    construction, so the DuckDB gate can hash-check it against plain
    GROUP BY counts; beyond that capacity the counts become approximate
    (Misra-Gries style) and the check would be error-bound, like the HLL
    queries. Output exploded to (item, cnt) rows — the sketch's array-of-
    struct form doesn't survive the driver's canonicalizer."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.agg(F.expr("approx_top_k(event_type, 5)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("item"), F.col("e.count").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Width-bucket histogram — the OLAP numeric-distribution primitive
# ---------------------------------------------------------------------------

_HISTOGRAM_ORACLE = """
WITH b AS (
  SELECT least(greatest(CAST(floor((CAST(o_totalprice AS DOUBLE) - 0.0) / 25000.0) AS BIGINT),
                        CAST(0 AS BIGINT)), CAST(19 AS BIGINT)) AS bucket,
         o_totalprice
  FROM orders
)
SELECT bucket,
       CAST(bucket AS DOUBLE) * 25000.0 AS lo,
       (CAST(bucket AS DOUBLE) + 1.0) * 25000.0 AS hi,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM b GROUP BY bucket
"""


@query("agg_histogram", oracle=_HISTOGRAM_ORACLE)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram over order totals: 20 buckets of 25k with
    clamped tails — one narrow groupBy on a derived integer key, the exact
    shape a 100 TB profile pass wants (partial aggregation, 20 output
    rows, no sort). The bucket id is a single subtract+divide+floor on the
    double, which is IEEE-identical across engines, so boundary values land
    in the same bucket on both sides; the in-bucket sum goes through the
    decimal-exact path like every money aggregate here."""
    orders = load_table(spark, sf_dir, "orders")
    width, nb = 25000.0, 20
    bucket = F.least(
        F.greatest(
            F.floor((F.col("o_totalprice").cast("double") - 0.0) / width),
            F.lit(0).cast("bigint"),
        ),
        F.lit(nb - 1).cast("bigint"),
    )
    from gridmr_spark.functions.numeric import dsum

    return (
        orders.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .select(
            "bucket",
            (F.col("bucket").cast("double") * width).alias("lo"),
            ((F.col("bucket").cast("double") + 1.0) * width).alias("hi"),
            "cnt",
            "sum_price",
        )
    )


# ---------------------------------------------------------------------------
# Winsorized (percentile-clipped) aggregation — robust stats for pipelines
# ---------------------------------------------------------------------------

_WINSORIZE_ORACLE = """
WITH b AS (
  SELECT l_returnflag,
         quantile_disc(l_extendedprice, 0.01) AS p01,
         quantile_disc(l_extendedprice, 0.99) AS p99
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       COUNT(*) AS n_rows,
       COUNT(*) FILTER (l_extendedprice < p01 OR l_extendedprice > p99) AS n_clipped,
       CAST(SUM(CAST(CASE WHEN l_extendedprice < p01 THEN p01
                          WHEN l_extendedprice > p99 THEN p99
                          ELSE l_extendedprice END AS DECIMAL(18,2))) AS DOUBLE) AS sum_winsorized,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_raw
FROM lineitem l JOIN b USING (l_returnflag)
GROUP BY l.l_returnflag
"""


@query("agg_winsorize", oracle=_WINSORIZE_ORACLE)
def agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized aggregation: clip a value column to its per-group
    [p01, p99] percentile band, then aggregate — the robust-statistics
    screen a feature/reward pipeline applies before outliers poison a mean.

    DISCRETE percentiles on purpose: percentile_disc returns an actual data
    value (2-decimal money here), so the clipped column stays decimal-exact
    and the sum is engine-portable — an interpolated percentile_cont
    boundary would drag the whole sum into last-ulp double territory.

    Boundary computation is ONE ranked pass, not two percentile_disc
    aggregates: each WITHIN GROUP aggregate buffers and sorts the group
    independently (measured 2x the single-percentile cost), whereas one
    row_number window + the row-count table yields BOTH boundaries from a
    single sort. percentile_disc(p) == the value at row position
    ceil(p*n) in value order: that position falls inside some value's
    duplicate-run [a, b], whose cume_dist b/n >= ceil(pn)/n >= p, while any
    smaller value ends at a-1 < ceil(pn) so its cume_dist < p — the
    definitional "smallest value with cume_dist >= p". (Row-number ties
    inside a run are harmless: every position in the run carries the same
    value.) Then broadcast the tiny boundary table back onto the fact scan
    and clip + decimal-sum in one agg.

    Scale note, stated plainly: the per-group window sort still sees one
    group per task — fine at test SF, wrong for a single 100 TB group.
    There the boundary pass (and only it) swaps to
    approx_percentile(col, [0.01, 0.99], 10000) — t-digest sketch, mergeable
    map-side, bounded memory; the clip + decimal-sum stage is unchanged.
    The exact-disc form is registered because boundaries that are actual
    data values keep the oracle hash bit-exact.
    """
    from gridmr_spark.functions.numeric import dsum

    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("_n"))
    wr = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = li.select(
        "l_returnflag", "l_extendedprice", F.row_number().over(wr).alias("_rn")
    ).join(F.broadcast(counts), "l_returnflag")
    k01 = F.ceil(F.lit(0.01) * F.col("_n"))
    k99 = F.ceil(F.lit(0.99) * F.col("_n"))
    bounds = (
        ranked.where((F.col("_rn") == k01) | (F.col("_rn") == k99))
        .groupBy("l_returnflag")
        .agg(
            F.min(F.when(F.col("_rn") == k01, F.col("l_extendedprice"))).alias("p01"),
            F.min(F.when(F.col("_rn") == k99, F.col("l_extendedprice"))).alias("p99"),
        )
    )
    clipped = F.when(F.col("l_extendedprice") < F.col("p01"), F.col("p01")).when(
        F.col("l_extendedprice") > F.col("p99"), F.col("p99")
    ).otherwise(F.col("l_extendedprice"))
    is_clipped = (F.col("l_extendedprice") < F.col("p01")) | (
        F.col("l_extendedprice") > F.col("p99")
    )
    return (
        li.join(F.broadcast(bounds), "l_returnflag")
        .select("l_returnflag", "l_extendedprice", clipped.alias("_w"), is_clipped.alias("_c"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_c").cast("long")).alias("n_clipped"),
            dsum("_w").alias("sum_winsorized"),
            dsum("l_extendedprice").alias("sum_raw"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series burst detection: hourly counts vs trailing-window mean
# ---------------------------------------------------------------------------

_BURST_ORACLE = """
WITH h AS (
  -- ts truncated to micros (make_timestamp(epoch_us(...))) to match what
  -- Spark reads from legacy-nanos testdata; see streaming_batch.py.
  SELECT CAST(time_bucket(INTERVAL '1 hour', make_timestamp(epoch_us(ts))) AS TIMESTAMP)
           AS hour_start,
         event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), t AS (
  SELECT hour_start, event_type, n,
         SUM(n)   OVER w AS tsum,
         COUNT(n) OVER w AS tcnt
  FROM h
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
               ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
)
SELECT hour_start, event_type, CAST(n AS BIGINT) AS n_events,
  CASE WHEN tcnt >= 3
       THEN (CAST(n AS DOUBLE) * CAST(tcnt AS DOUBLE)) / CAST(tsum AS DOUBLE)
       END AS burst_ratio,
  CAST(CASE WHEN tcnt >= 3
       THEN ((CAST(n AS DOUBLE) * CAST(tcnt AS DOUBLE)) / CAST(tsum AS DOUBLE)) >= 1.5
       ELSE FALSE END AS INT) AS is_burst
FROM t
"""


@query("events_burst_detection", oracle=_BURST_ORACLE)
def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly burst detection per event type: each hour's count against the
    mean of the trailing 6 hours (ROWS frame excludes the current hour),
    flagged when >= 1.5x with at least 3 hours of history. The ratio is
    (n * tcnt) / tsum — integers into ONE double division, the same
    evaluation both engines perform, instead of a stddev z-score whose
    running-moment arithmetic is engine-specific. Plan: one hash agg to
    hours (tiny), one window over the aggregated frame — the fact table is
    never windowed directly."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(-6, -1)
    )
    tsum = F.sum("n").over(w)
    tcnt = F.count("n").over(w)
    ratio = F.when(
        tcnt >= 3, (F.col("n").cast("double") * tcnt.cast("double")) / tsum.cast("double")
    )
    return hourly.select(
        "hour_start",
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        ratio.alias("burst_ratio"),
        F.coalesce((ratio >= 1.5), F.lit(False)).cast("int").alias("is_burst"),
    )


# ---------------------------------------------------------------------------
# Event transition matrix: consecutive event-type pairs per user
# ---------------------------------------------------------------------------

_TRANSITION_ORACLE = """
WITH ordered AS (
  -- ORDER BY micros-truncated ts so same-microsecond ordering matches the
  -- Spark side under legacy-nanos testdata (convention: streaming_batch.py).
  SELECT user_id, event_type,
         LAG(event_type) OVER (
           PARTITION BY user_id
           ORDER BY make_timestamp(epoch_us(ts)), event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
FROM ordered
WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
"""


@query("events_transition_matrix", oracle=_TRANSITION_ORACLE)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over per-user event streams
    (lag by event time with the id tiebreak, pair up, count) — the
    journey-analysis primitive behind next-action models and funnel
    discovery. One shuffle on user_id for the window, one hash agg on the
    (tiny) type-pair space."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


# ---------------------------------------------------------------------------
# Robust statistics: median / MAD / outlier gate (3-sigma-free anomaly rule)
# ---------------------------------------------------------------------------

# Both engines compute exact interpolated percentiles over identical input
# sets, but their even-n interpolation EXPRESSIONS may differ in the last
# ulp ((a+b)/2 vs a+(b-a)*0.5), so med/mad quantize through DECIMAL(18,6)
# and back to DOUBLE — noise ~1e-13, quantum 1e-6. The outlier count
# compares raw values against 3*mad from the QUANTIZED stats, so both
# engines apply bit-identical thresholds.
_ROBUST_ORACLE = """
WITH med AS (
  SELECT event_type,
         CAST(CAST(quantile_cont(value, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS med
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type,
         CAST(CAST(quantile_cont(abs(e.value - m.med), 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS mad
  FROM events e JOIN med m ON e.event_type = m.event_type
  GROUP BY e.event_type
)
SELECT m.event_type, m.med, d.mad,
       CAST(SUM(CASE WHEN abs(e.value - m.med) > 3.0 * d.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM events e
JOIN med m ON e.event_type = m.event_type
JOIN mad d ON e.event_type = d.event_type
GROUP BY m.event_type, m.med, d.mad
"""


@query("agg_robust_mad", oracle=_ROBUST_ORACLE)
def agg_robust_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group statistics: exact median, median absolute deviation,
    and the |x - med| > 3*MAD outlier count — the skew-immune anomaly gate
    (mean/stddev both move with the outliers they're supposed to flag; the
    median pair doesn't). Plan: two grouped exact percentiles with a
    broadcast join of the tiny per-type stats between them, then one
    counting pass — three aggregations over the fact, zero driver actions.
    At 100 TB swap percentile for approx_percentile per group and keep the
    identical downstream rule."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).cast("decimal(18,6)").cast("double").alias("med")
    )
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5))
        .cast("decimal(18,6)").cast("double").alias("mad")
    )
    stats = med.join(mad, "event_type")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                F.when(F.abs(F.col("value") - F.col("med")) > 3.0 * F.col("mad"), 1).otherwise(0)
            ).cast("bigint").alias("n_outliers")
        )
        .select("event_type", "med", "mad", "n_outliers")
    )


# ---------------------------------------------------------------------------
# Time-series resample: hourly spine + gap fill + last-observation-carried-
# forward (the time_bucket_gapfill capability)
# ---------------------------------------------------------------------------

_RESAMPLE_ORACLE = """
WITH hourly AS (
  SELECT event_type,
         CAST(time_bucket(INTERVAL '1 hour', make_timestamp(epoch_us(ts))) AS TIMESTAMP) AS hour,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(value) AS DOUBLE) AS mean_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, MIN(hour) AS lo, MAX(hour) AS hi FROM hourly GROUP BY event_type
), spine AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
  FROM bounds
)
SELECT s.event_type, s.hour,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_events,
       LAST_VALUE(h.mean_value IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value_locf
FROM spine s LEFT JOIN hourly h
  ON s.event_type = h.event_type AND s.hour = h.hour
"""


@query("events_resample_locf", oracle=_RESAMPLE_ORACLE)
def events_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with gap fill: a generated hourly spine per
    event type (sequence over the type's observed [min, max] hour), left
    join of the hourly aggregate, counts zero-filled and the mean value
    carried forward over gaps (LOCF) — what feature pipelines and
    dashboards need from irregular event streams (TimescaleDB's
    time_bucket_gapfill shape). The spine is GENERATED, never scanned: its
    row count is hours x types regardless of fact size, and the window runs
    over that tiny grid. Hourly means go through the decimal-exact davg
    convention so the carried values hash identically."""
    from gridmr_spark.functions.numeric import dmoney

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(dmoney("value", 2)).cast("double")
            / F.count("value").cast("double")
        ).alias("mean_value"),
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
        )
    )
    joined = spine.join(hourly, ["event_type", "hour"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "hour",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        F.last("mean_value", ignorenulls=True).over(w).alias("value_locf"),
    )


_QUANTILE_SKETCH_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       quantile_disc(value, 0.5)  AS p50,
       quantile_disc(value, 0.9)  AS p90,
       quantile_disc(value, 0.99) AS p99
FROM events GROUP BY event_type
"""


@query("agg_quantile_sketch", oracle=_QUANTILE_SKETCH_ORACLE)
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate quantiles (approx_percentile, a GK-style
    sketch): per event type, the p50/p90/p99 estimates at relative accuracy
    1/acc with acc=10000. At sf0.01 every group is ~2k rows < acc, so the
    sketch stores every value and returns EXACT discrete percentiles
    (actual data elements) — the same exact-regime trick agg_heavy_hitters
    uses — letting DuckDB quantile_disc hash-check it bit-for-bit. Beyond
    the sketch's capacity the estimates go approximate, where the
    guarantee reverts to tests/test_udx.py's rank-error bound (each
    estimate within n/acc ranks of exact). The sketch's merge is
    associative, so partial aggregation works map-side and the same
    operator serves streaming state."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("p50"),
        F.percentile_approx("value", F.lit(0.9), F.lit(10000)).alias("p90"),
        F.percentile_approx("value", F.lit(0.99), F.lit(10000)).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Time-series subsequence matching: top-k windows nearest a query pattern
# ---------------------------------------------------------------------------

_SUBSEQ_ORACLE = """
WITH h AS (
  SELECT event_type,
         CAST(time_bucket(INTERVAL '1 hour', make_timestamp(epoch_us(ts))) AS TIMESTAMP) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), w AS (
  SELECT event_type, hour, n,
         LEAD(n, 1) OVER win AS n1, LEAD(n, 2) OVER win AS n2,
         LEAD(n, 3) OVER win AS n3, LEAD(n, 4) OVER win AS n4,
         LEAD(n, 5) OVER win AS n5
  FROM h WINDOW win AS (PARTITION BY event_type ORDER BY hour)
), d AS (
  SELECT event_type, hour,
         (n-20)*(n-20) + (n1-25)*(n1-25) + (n2-30)*(n2-30)
           + (n3-25)*(n3-25) + (n4-20)*(n4-20) + (n5-15)*(n5-15) AS dist
  FROM w WHERE n5 IS NOT NULL
)
SELECT event_type, hour, CAST(dist AS BIGINT) AS dist, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dist, hour) AS rnk
  FROM d
) WHERE rnk <= 5
"""


@query("events_subsequence_match", oracle=_SUBSEQ_ORACLE)
def events_subsequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence search: the 5 six-hour windows of each
    type's hourly-count series closest (squared distance) to a query
    pattern — the motif/shape-matching primitive behind 'find me periods
    that look like this launch spike'. Distances are INTEGER arithmetic on
    counts, so both engines agree bit-exactly with no quantization. Plan:
    one hash agg to hours (tiny), LEADs + ranking over the aggregated
    series — the fact table is scanned once and never windowed directly;
    at 100 TB the series length is hours x types regardless of fact
    size."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    win = Window.partitionBy("event_type").orderBy("hour")
    pattern = [20, 25, 30, 25, 20, 15]
    leads = [F.col("n")] + [F.lead("n", i).over(win) for i in range(1, 6)]
    dist = None
    for c, p in zip(leads, pattern):
        term = (c - p) * (c - p)
        dist = term if dist is None else dist + term
    d = (
        hourly.select("event_type", "hour", F.lead("n", 5).over(win).alias("_n5"),
                      dist.alias("dist"))
        .where(F.col("_n5").isNotNull())
    )
    rnk = Window.partitionBy("event_type").orderBy("dist", "hour")
    return (
        d.withColumn("rnk", F.row_number().over(rnk))
        .where(F.col("rnk") <= 5)
        .select("event_type", "hour", F.col("dist").cast("bigint").alias("dist"),
                F.col("rnk").cast("int").alias("rnk"))
    )


_ER_ORACLE = """
WITH RECURSIVE p AS (
  SELECT a.s_suppkey AS id1, b.s_suppkey AS id2
  FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
  WHERE levenshtein(a.s_name, b.s_name) <= 2
), e AS (
  SELECT id1 AS s, id2 AS d FROM p UNION SELECT id2, id1 FROM p
), r(a, b) AS (
  SELECT s_suppkey, s_suppkey FROM supplier
  UNION
  SELECT r.a, e.d FROM r JOIN e ON r.b = e.s
), comp AS (
  SELECT a AS s_suppkey, MIN(b) AS entity_id FROM r GROUP BY a
)
SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_records,
       arg_min(s.s_name, s.s_suppkey) AS canonical_name
FROM comp JOIN supplier s USING (s_suppkey)
GROUP BY entity_id
"""


@query("er_resolve_entities", oracle=_ER_ORACLE)
def er_resolve_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: symmetric-deletion-blocked fuzzy
    match (edit distance <= 2 on supplier names) -> connected components
    over the match graph (transitive closure: a~b, b~c puts a,c in one
    entity) -> per-entity canonical record (min-key record's name) with
    cluster size. This composes three already-oracle-checked layers —
    lossless fuzzy blocking (fuzzy_levenshtein_pairs), the pointer-jumping
    CC operator (dedup_clusters_cc), and min_by representative selection
    (pipeline_training_data) — and the recursive-CTE oracle proves the
    COMPOSITION end-to-end, the pipeline an MDM/record-linkage user
    actually ships. Scale: blocking is linear with an equi-join shuffle,
    CC runs in one task up to graph.SMALL_GRAPH_EDGES match edges (sparse:
    near-identical names only), the final group-by keys on entity id."""
    from gridmr_spark.operators.graph import connected_components
    from gridmr_spark.operators.text import symdelete_fuzzy_pairs

    supp = load_table(spark, sf_dir, "supplier")
    pairs = symdelete_fuzzy_pairs(supp, "s_suppkey", "s_name", max_dist=2)
    comp = connected_components(
        supp.select(F.col("s_suppkey").alias("id")),
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst")),
    )
    return (
        comp.join(supp, comp["id"] == supp["s_suppkey"])
        .groupBy(F.col("component").alias("entity_id"))
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.min_by("s_name", "s_suppkey").alias("canonical_name"),
        )
    )


_FUNNEL_TIME_ORACLE = """
WITH c AS (
  SELECT user_id, MIN(ts) AS t0 FROM events WHERE event_type = 'click' GROUP BY 1
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t1
  FROM events e JOIN c ON c.user_id = e.user_id AND e.ts >= c.t0
  WHERE e.event_type = 'purchase'
  GROUP BY 1
), d AS (
  SELECT c.user_id,
         CAST(FLOOR(epoch(p.t1)) AS BIGINT) - CAST(FLOOR(epoch(c.t0)) AS BIGINT) AS ds
  FROM c JOIN p USING (user_id)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       CAST(SUM(ds) AS BIGINT) AS sum_s,
       CAST(CAST(quantile_cont(ds, 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS p50_s,
       CAST(CAST(quantile_cont(ds, 0.9) AS DECIMAL(18,6)) AS DOUBLE) AS p90_s
FROM d
"""


@query("events_funnel_conversion_time", oracle=_FUNNEL_TIME_ORACLE)
def events_funnel_conversion_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency distribution: per user, seconds from first click to
    the first purchase at-or-after it; report conversion count, exact
    total, and interpolated p50/p90 — the time-to-convert metric the plain
    funnel (events_funnel, step counts) does not answer. Deltas are exact
    integer seconds (floor-epoch on both engines), percentiles are
    interpolated-exact and quantized through DECIMAL(18,6) (the
    agg_robust_mad contract). Shape: two keyed min-aggregates and one
    user-keyed join — no window over the raw event stream, so the funnel
    cost is two map-side-combined passes at any scale."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    c = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"), F.min("t0").alias("t0"))
    )
    d = p.select(
        (F.unix_timestamp("t1") - F.unix_timestamp("t0")).cast("long").alias("ds")
    )
    dec = "decimal(18,6)"
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.sum("ds").cast("long").alias("sum_s"),
        F.expr("percentile(ds, 0.5)").cast(dec).cast("double").alias("p50_s"),
        F.expr("percentile(ds, 0.9)").cast(dec).cast("double").alias("p90_s"),
    )


_DECAY_TAU_S = 604800  # one-week half-life scale (seconds)

_LTV_DECAY_ORACLE = f"""
WITH mx AS (
  SELECT CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS tmax FROM events
), d AS (
  SELECT user_id,
         CAST(FLOOR(value * exp(-(CAST(tmax - CAST(FLOOR(epoch(ts)) AS BIGINT) AS DOUBLE)
                                  / {_DECAY_TAU_S}.0)) * 1000000000.0) AS BIGINT) AS dq
  FROM events CROSS JOIN mx
  WHERE event_type = 'purchase'
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(dq) AS BIGINT) AS decayed_q
FROM d GROUP BY user_id
"""


@query("events_ltv_decay", oracle=_LTV_DECAY_ORACLE)
def events_ltv_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement value per user (the decayed-
    counter feature: recent purchases count fully, week-old ones at 1/e of
    a week's decay) — the standard recency-weighted LTV/feature-store
    primitive, computed as one scan + one single-row max-timestamp
    broadcast. Each row's contribution value*exp(-(tmax-t)/tau) is one
    mirrored double expression over floor-epoch integer seconds, quantized
    BEFORE the per-user sum (the nanolog discipline applied to exp), so
    the aggregate is an order-insensitive integer sum and the oracle
    hash-exact. Incremental refresh note: decayed counters shift uniformly
    under tmax' = tmax + dt (multiply by exp(-dt/tau)), so production
    maintains the raw sum keyed by a FIXED epoch and rescales at read —
    same plan, different constant."""
    all_ev = load_table(spark, sf_dir, "events")
    ev = all_ev.where(F.col("event_type") == "purchase")
    # "now" anchors to the whole stream's frontier, not just purchases
    mx = all_ev.agg(F.unix_timestamp(F.max("ts")).cast("long").alias("tmax"))
    dq = F.floor(
        F.col("value")
        * F.exp(
            -(
                (F.col("tmax") - F.unix_timestamp("ts").cast("long")).cast("double")
                / F.lit(float(_DECAY_TAU_S))
            )
        )
        * F.lit(1000000000.0)
    ).cast("long")
    return (
        ev.crossJoin(F.broadcast(mx))
        .select("user_id", dq.alias("dq"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("dq").cast("long").alias("decayed_q"),
        )
    )
