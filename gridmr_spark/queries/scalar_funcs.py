"""Scalar function surface: string / date / math / JSON / array functions
(SURVEY.md §2.D row 12). The reference only ever exposed B1/B2-style string
munging inside user binaries; here the whole pyspark.sql.functions surface is
first-class and codegen'd.

Cross-engine determinism rules baked into these queries (and documented for
the 100 TB posture, where reproducibility = debuggability):
- round() on raw doubles is engine-dependent near ties -> round on DECIMAL.
- libm-backed fns (ln/exp/pow) differ in last ulp between JVM and C -> the
  oracle-checked surface sticks to correctly-rounded IEEE ops (sqrt, abs,
  floor/ceil) and exact integer/decimal arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gridmr_spark.catalog import load_table
from gridmr_spark.queries import query
from gridmr_spark.session import session_conf

# ---------------------------------------------------------------------------
# String functions over part names
# ---------------------------------------------------------------------------

_STRING_ORACLE = """
SELECT p_partkey,
       upper(p_brand) AS brand_upper,
       substring(p_name, 1, 8) AS name_prefix,
       length(p_name) AS name_len,
       replace(p_type, ' ', '_') AS type_snake,
       concat(p_brand, ':', p_type) AS brand_type,
       ltrim(rtrim(p_name)) AS name_trim,
       regexp_extract(p_type, '([A-Z]+)', 1) AS first_word,
       CASE WHEN p_name LIKE '%a%' THEN 1 ELSE 0 END AS has_a
FROM part
WHERE p_size BETWEEN 10 AND 20
"""


@query("string_funcs", oracle=_STRING_ORACLE)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").where(F.col("p_size").between(10, 20))
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.ltrim(F.rtrim(F.col("p_name"))).alias("name_trim"),
        F.regexp_extract("p_type", "([A-Z]+)", 1).alias("first_word"),
        F.when(F.col("p_name").like("%a%"), 1).otherwise(0).cast("int").alias("has_a"),
    )


# ---------------------------------------------------------------------------
# Date/time functions over orders
# ---------------------------------------------------------------------------

_DATE_ORACLE = """
SELECT o_orderkey,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
       CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS order_month,
       CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS order_day,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(date_diff('day', o_orderdate, TIMESTAMP '1998-12-31 00:00:00') AS BIGINT) AS days_to_eoy,
       strftime(o_orderdate, '%Y-%m') AS ym
FROM orders
WHERE o_orderkey < 1000
"""


@query("date_funcs", oracle=_DATE_ORACLE)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 1000)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("order_day"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("bigint")
        .alias("days_to_eoy"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


# ---------------------------------------------------------------------------
# Math functions over lineitem
# ---------------------------------------------------------------------------

_MATH_ORACLE = """
SELECT l_orderkey, l_linenumber,
       abs(l_extendedprice - 50000.0) AS dist_from_50k,
       floor(l_quantity) AS qty_floor,
       ceil(l_extendedprice / 1000.0) AS price_kilo_ceil,
       sqrt(l_quantity) AS qty_sqrt,
       CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)), 1) AS DOUBLE) AS discount_amt,
       CAST(l_partkey % 7 AS BIGINT) AS partkey_mod
FROM lineitem
WHERE l_orderkey < 500
"""


@query("math_funcs", oracle=_MATH_ORACLE)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 50000.0).alias("dist_from_50k"),
        F.floor("l_quantity").cast("double").alias("qty_floor"),
        F.ceil(F.col("l_extendedprice") / 1000.0).cast("double").alias("price_kilo_ceil"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.round(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * F.col("l_discount").cast("decimal(18,2)"),
            1,
        )
        .cast("double")
        .alias("discount_amt"),
        (F.col("l_partkey") % 7).cast("bigint").alias("partkey_mod"),
    )


# ---------------------------------------------------------------------------
# JSON functions over events.props
# ---------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
       CAST(json_extract_string(props, '$.missing') AS BIGINT) AS missing_value,
       CAST(json_valid(props) AS INT) AS is_valid
FROM events
WHERE event_id < 2000
"""


@query("json_funcs", oracle=_JSON_ORACLE)
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object / from_json over the props JSON column — schema-on-read
    for semi-structured event payloads."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
        F.get_json_object("props", "$.missing").cast("bigint").alias("missing_value"),
        F.when(F.try_parse_json(F.col("props")).isNotNull(), 1).otherwise(0).alias("is_valid"),
    )


# ---------------------------------------------------------------------------
# Array functions over embeddings
# ---------------------------------------------------------------------------

_ARRAY_ORACLE = """
SELECT vec_id,
       len(embedding) AS dim,
       embedding[1] AS first_elem,
       len(embedding[1:4]) AS head4_len,
       embedding[1:4][4] AS head4_last,
       CAST(list_sum(CAST(embedding[1:8] AS DOUBLE[])) AS DOUBLE) AS head8_sum
FROM embeddings
WHERE vec_id < 100
"""


@query("array_funcs", oracle=_ARRAY_ORACLE)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """size/element_at/slice/aggregate over array<float> — the embedding
    column toolkit; F.aggregate is a codegen'd fold, no Python UDF.

    The 8-element double sum is sequential in both engines (left fold), so
    bit-identical. The slice is probed with scalar len/element_at outputs
    rather than emitted raw: float arrays can't be hashed by the driver
    gate's canonicalizer, and float->string serialization isn't
    format-stable across engines, while scalar floats compare numerically."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    head4 = F.slice("embedding", 1, 4)
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.element_at("embedding", 1).alias("first_elem"),
        F.size(head4).cast("bigint").alias("head4_len"),
        F.element_at(head4, 4).alias("head4_last"),
        F.aggregate(
            F.slice("embedding", 1, 8),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double"),
        ).alias("head8_sum"),
    )


# ---------------------------------------------------------------------------
# Map functions (map construction + lookup; output scalars, since the two
# engines' client representations of a raw MAP differ)
# ---------------------------------------------------------------------------

_MAP_ORACLE = """
WITH m AS (
  SELECT event_id,
         MAP {'k': CAST(json_extract_string(props, '$.k') AS BIGINT),
              'twice': CAST(json_extract_string(props, '$.k') AS BIGINT) * 2} AS props_map
  FROM events WHERE event_id < 1000
)
SELECT event_id,
       CAST(cardinality(props_map) AS INT) AS n_keys,
       array_to_string(list_sort(map_keys(props_map)), '|') AS keys_sorted,
       map_extract(props_map, 'k')[1] AS k_val,
       map_extract(props_map, 'missing')[1] AS missing_val
FROM m
"""


@query("map_funcs", oracle=_MAP_ORACLE)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """create_map / map_keys / element_at over a typed map column built from
    the JSON props (MapType is the schema for ragged key-value metadata).
    Key list is sorted + '|'-joined so the driver gate can hash it."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 1000)
    k = F.get_json_object("props", "$.k").cast("bigint")
    m = F.create_map(F.lit("k"), k, F.lit("twice"), k * 2)
    return ev.select(
        "event_id",
        F.size(m).alias("n_keys"),
        F.concat_ws("|", F.sort_array(F.map_keys(m))).alias("keys_sorted"),
        F.element_at(m, "k").alias("k_val"),
        F.element_at(m, "missing").alias("missing_val"),
    )


# ---------------------------------------------------------------------------
# Unpivot (wide -> long; the inverse of pivot_status)
# ---------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT o_orderpriority,
         COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
         COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, 'n_open' AS status_col, n_open AS n FROM wide
UNION ALL
SELECT o_orderpriority, 'n_finished' AS status_col, n_finished AS n FROM wide
"""


@query("unpivot_status", oracle=_UNPIVOT_ORACLE)
def unpivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot via stack(): wide aggregate columns back to long rows."""
    orders = load_table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
    )
    return wide.selectExpr(
        "o_orderpriority",
        "stack(2, 'n_open', n_open, 'n_finished', n_finished) AS (status_col, n)",
    )


# ---------------------------------------------------------------------------
# Conditional / null-handling surface
# ---------------------------------------------------------------------------

_COND_ORACLE = """
SELECT e.event_id,
       CASE WHEN e.value > 100 THEN 'high' WHEN e.value > 10 THEN 'mid' ELSE 'low' END AS value_band,
       coalesce(nullif(e.event_type, 'error'), 'ERR') AS type_or_err,
       CAST(e.value IS NULL AS INT) AS value_is_null,
       greatest(e.value, 0.0) AS value_clamped,
       ifnull(CAST(json_extract_string(e.props, '$.absent') AS DOUBLE), -1.0) AS absent_or_default
FROM events e
WHERE e.event_id < 3000
"""


@query("conditional_funcs", oracle=_COND_ORACLE)
def conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 3000)
    return ev.select(
        "event_id",
        F.when(F.col("value") > 100, "high")
        .when(F.col("value") > 10, "mid")
        .otherwise("low")
        .alias("value_band"),
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")), F.lit("ERR")).alias(
            "type_or_err"
        ),
        F.col("value").isNull().cast("int").alias("value_is_null"),
        F.greatest(F.col("value"), F.lit(0.0)).alias("value_clamped"),
        F.coalesce(
            F.get_json_object("props", "$.absent").cast("double"), F.lit(-1.0)
        ).alias("absent_or_default"),
    )


# ---------------------------------------------------------------------------
# Regexp function surface (extract-all / count / replace-groups / split)
# ---------------------------------------------------------------------------

_REGEX_ORACLE = """
SELECT p_partkey,
       array_to_string(regexp_extract_all(p_name, '[a-z]+'), '|') AS words,
       CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INT) AS n_vowels,
       regexp_replace(p_type, '^(\\w+)$', 'type_\\1') AS type_tagged,
       array_to_string(string_split_regex(p_name, '\\s+'), '|') AS split_ws
FROM part
WHERE p_partkey < 500
"""


@query("regex_funcs", oracle=_REGEX_ORACLE)
def regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all / count-via-len / group-referencing replace /
    regex split — all codegen'd JVM expressions (list outputs '|'-joined
    for the driver gate). Both engines use RE2-ish syntax for this subset;
    group references are normalized ($1 in Spark, \\1 in DuckDB)."""
    part = load_table(spark, sf_dir, "part").where(F.col("p_partkey") < 500)
    return part.select(
        "p_partkey",
        F.concat_ws("|", F.regexp_extract_all("p_name", F.lit("[a-z]+"), 0)).alias("words"),
        F.size(F.regexp_extract_all("p_name", F.lit("[aeiou]"), 0)).alias("n_vowels"),
        F.regexp_replace("p_type", r"^(\w+)$", r"type_$1").alias("type_tagged"),
        F.concat_ws("|", F.split(F.col("p_name"), r"\s+")).alias("split_ws"),
    )


# ---------------------------------------------------------------------------
# Error-safe (try_*) function surface — ELT robustness: bad rows become NULL
# ---------------------------------------------------------------------------

_TRY_ORACLE = """
SELECT event_id,
       CASE WHEN event_id % 5 = 0 THEN NULL
            ELSE value / (event_id % 5) END AS safe_ratio,
       TRY_CAST(event_type AS DOUBLE) AS bad_cast_null,
       coalesce(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE), -1.0) AS k_or_default,
       string_split(event_type, 'i')[3] AS third_or_null
FROM events
WHERE event_id < 3000
"""


@query("try_funcs", oracle=_TRY_ORACLE)
def try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The error-safe function family: try_divide (zero divisor -> NULL,
    not an exception), try_cast (malformed -> NULL), try_element_at
    (out-of-range -> NULL). In ANSI mode a single malformed row kills a
    100 TB job at hour N — the try_* forms are how production pipelines
    quarantine bad rows as NULLs and keep the job alive; the oracle spells
    each out as the equivalent CASE/TRY_CAST/defaulting expression."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 3000)
    return ev.select(
        "event_id",
        F.try_divide(F.col("value"), F.col("event_id") % 5).alias("safe_ratio"),
        F.col("event_type").try_cast("double").alias("bad_cast_null"),
        F.coalesce(
            F.get_json_object("props", "$.k").try_cast("double"), F.lit(-1.0)
        ).alias("k_or_default"),
        F.try_element_at(F.split("event_type", "i"), F.lit(3)).alias("third_or_null"),
    )


# ---------------------------------------------------------------------------
# Spark 4 surface: VARIANT, SQL pipe syntax, collations
# ---------------------------------------------------------------------------

_VARIANT_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       CAST(SUM(CASE WHEN json_extract_string(props, '$.missing') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
FROM events
GROUP BY event_type
"""


@query("events_variant_props", oracle=_VARIANT_ORACLE)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads through the VARIANT type (Spark 4): props
    parses ONCE into the binary variant encoding, then typed path
    extraction (variant_get with a target type) feeds ordinary aggregates.
    vs json_funcs' get_json_object (per-path string re-parse): variant
    parses each payload once and stores a traversable binary — at 100 TB
    the difference between p parses per row (p = paths touched) and one.
    try_variant_get returns NULL on absent paths, mirroring JSON
    extraction semantics; integer-only output for the hash gate."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return (
        ev.select(
            "event_type",
            F.try_variant_get(v, "$.k", "bigint").alias("k"),
            F.try_variant_get(v, "$.missing", "bigint").alias("m"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.sum(F.when(F.col("m").isNull(), 1).otherwise(0)).alias("n_missing"),
        )
    )


_PIPE_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
"""


@query("sql_pipe_syntax", oracle=_PIPE_ORACLE)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME relational semantics through Spark 4's SQL pipe syntax
    (|> operators compose top-down like DataFrame calls) — API-surface
    parity evidence beside sql_api_revenue's classic SQL entry: one
    logical plan family, three authoring surfaces (DataFrame, ANSI SQL,
    pipe SQL), one Catalyst optimization path."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_pipe")
    return spark.sql(
        """
        FROM orders_pipe
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n_orders, sum_price
        """
    )


_COLLATION_ORACLE = """
SELECT lower(p_type) AS type_ci,
       COUNT(*) AS n_parts,
       CAST(SUM(CASE WHEN lower(p_brand) = 'brand#17' THEN 1 ELSE 0 END) AS BIGINT) AS n_brand17
FROM part
GROUP BY lower(p_type)
"""


@query("string_collation_ci", oracle=_COLLATION_ORACLE)
def string_collation_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping/comparison via Spark 4 collations: the
    UTF8_LCASE collation makes '=' and GROUP BY case-insensitive INSIDE
    the engine — no per-row lower() materialization in user code, and the
    collation travels with the column through joins and aggregates.
    The output key is normalized with lower() only so both engines print
    one canonical spelling (DuckDB has no column collations); the
    grouping itself runs on the collated column."""
    part = load_table(spark, sf_dir, "part")
    ptype_ci = F.collate(F.col("p_type"), "UTF8_LCASE")
    return (
        part.groupBy(ptype_ci.alias("type_ci_grp"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(
                F.when(
                    F.collate(F.col("p_brand"), "UTF8_LCASE") == F.lit("BRAND#17"),
                    1,
                ).otherwise(0)
            ).alias("n_brand17"),
        )
        .select(
            F.lower(F.col("type_ci_grp")).cast("string").alias("type_ci"),
            "n_parts",
            "n_brand17",
        )
    )


# ---------------------------------------------------------------------------
# URL functions over synthesized document URLs
# ---------------------------------------------------------------------------

# DuckDB has no parse_url; the oracle re-parses the SAME url string with
# regexes, so the two engines agree only if Spark's parser extracts exactly
# the components the grammar says.
_URL_ORACLE = r"""
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.org/docs/' || CAST(doc_id AS VARCHAR)
           || '?lang=' || lang || '&v=2' AS url
  FROM documents
)
SELECT doc_id,
       regexp_extract(url, 'https://([^/?#]+)', 1) AS host,
       regexp_extract(url, 'https://[^/?#]+(/[^?#]*)', 1) AS path,
       regexp_extract(url, '\?([^#]*)', 1) AS qs,
       regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param,
       CAST(NULL AS VARCHAR) AS bad_host
FROM u
"""


@query("url_funcs", oracle=_URL_ORACLE)
def url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component extraction — parse_url / try_parse_url (HOST, PATH,
    QUERY, QUERY:key), the function family an LLM crawl pipeline leans on
    for host-level dedup caps and tracking-param stripping. URLs are
    synthesized deterministically from document columns (same
    bytes-from-columns trick as the WAV/PNG queries), then parsed with
    Spark's real URI parser; the DuckDB oracle re-parses the same strings
    with regexes, so the hash match proves parser semantics, not string
    concatenation. try_parse_url on a scheme-less string documents the
    NULL-not-throw contract (its ANSI sibling parse_url raises).

    Scale shape: pure codegen'd scalar expressions in one scan — no
    shuffle, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.org/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
        F.lit("&v=2"),
    )
    return docs.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("qs"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.try_parse_url(F.lit("not a url"), F.lit("HOST")).alias("bad_host"),
    )


# ---------------------------------------------------------------------------
# SQL scripting (Spark 4: BEGIN/END, DECLARE, WHILE) and parameterized SQL
# ---------------------------------------------------------------------------

_SCRIPTING_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue_1995,
       COUNT(*) AS n_items
FROM lineitem
WHERE year(l_shipdate) = 1995
"""


@query("sql_scripting_loop", oracle=_SCRIPTING_ORACLE)
def sql_scripting_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4's procedural surface: BEGIN/END blocks,
    DECLARE'd variables, WHILE) — 1995 revenue accumulated month by month
    through a loop of scalar subqueries into a DECIMAL variable. The
    DuckDB oracle computes the whole year in one aggregate: exact decimal
    accumulation makes twelve monthly partial sums bit-equal to one
    yearly sum, so the hash match proves the script's control flow and
    variable semantics, not just the final SELECT.

    Each iteration is its own Spark job over a month-pruned scan — the
    right tool when refresh logic is genuinely sequential (backfills,
    convergence loops); for a plain partition the single-pass GROUP BY
    remains 12x cheaper."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_s")
    with session_conf(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
            BEGIN
              DECLARE m INT DEFAULT 1;
              DECLARE total DECIMAL(18,2) DEFAULT 0.00;
              DECLARE n BIGINT DEFAULT 0;
              DECLARE dt DECIMAL(18,2) DEFAULT 0.00;
              DECLARE dn BIGINT DEFAULT 0;
              WHILE m <= 12 DO
                -- tuple SET: both accumulators from ONE month-pruned scan
                SET (dt, dn) = (
                  SELECT COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 0.00),
                         COUNT(*)
                  FROM lineitem_s
                  WHERE year(l_shipdate) = 1995 AND month(l_shipdate) = m);
                SET total = total + dt;
                SET n = n + dn;
                SET m = m + 1;
              END WHILE;
              SELECT CAST(total AS DOUBLE) AS revenue_1995, n AS n_items;
            END
            """
        )


_PARAM_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
WHERE o_orderstatus = 'F' AND o_orderdate >= DATE '1994-01-01'
GROUP BY o_orderpriority
"""


@query("sql_parameterized", oracle=_PARAM_ORACLE)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL with named parameter markers (spark.sql(...,
    args={...})): values bind as literals in the PARSED plan, not via
    string interpolation — the injection-safe templating surface a
    multi-tenant 100 TB warehouse standardizes on. Constant folding and
    partition/filter pushdown see the bound literal exactly as if it were
    inlined (same plan, same pruning), which string-assembled SQL only
    achieves by trusting its callers."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_p")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders_p
        WHERE o_orderstatus = :status AND o_orderdate >= :cutoff
        GROUP BY o_orderpriority
        """,
        args={"status": "F", "cutoff": "1994-01-01"},
    )


# ---------------------------------------------------------------------------
# VARIANT type (Spark 4's semi-structured flagship) over a synthesized payload
# ---------------------------------------------------------------------------

# One deterministic nested-JSON template rendered by both engines from
# integer/string event fields only (no doubles: float-to-string formatting
# is engine-specific and has no place in a hash-compared fixture). Fields:
# event_type (string), id_str / n_str (stringified ints).
_VARIANT_TEMPLATE: list[tuple[str, str]] = [
    ("lit", '{"meta":{"type":"'),
    ("field", "event_type"),
    ("lit", '","id":'),
    ("field", "id_str"),
    ("lit", '},"n":'),
    ("field", "n_str"),
    ("lit", ',"tags":["a","'),
    ("field", "event_type"),
    ("lit", '"]}'),
]


def _variant_json_spark() -> Column:
    fields = {
        "event_type": F.col("event_type"),
        "id_str": F.col("event_id").cast("string"),
        "n_str": (F.col("event_id") % 7).cast("string"),
    }
    return F.concat(
        *[F.lit(v) if k == "lit" else fields[v] for k, v in _VARIANT_TEMPLATE]
    )


def _variant_json_sql() -> str:
    fields = {
        "event_type": "event_type",
        "id_str": "CAST(event_id AS VARCHAR)",
        "n_str": "CAST(event_id % 7 AS VARCHAR)",
    }
    return " || ".join(
        "'" + v.replace("'", "''") + "'" if k == "lit" else fields[v]
        for k, v in _VARIANT_TEMPLATE
    )


_VARIANT_ORACLE = f"""
WITH j AS (SELECT event_id, {_variant_json_sql()} AS doc FROM events
           WHERE event_id < 2000)
SELECT event_id,
       json_extract_string(doc, '$.meta.type') AS meta_type,
       CAST(json_extract(doc, '$.meta.id') AS BIGINT) AS meta_id,
       CAST(json_extract(doc, '$.n') AS BIGINT) AS n_val,
       json_extract_string(doc, '$.tags[1]') AS tag2,
       CAST(json_extract(doc, '$.absent') AS BIGINT) AS absent,
       CAST(json_extract(doc, '$.n') AS BIGINT) AS rt_n
FROM j
"""


@query("variant_funcs", oracle=_VARIANT_ORACLE)
def variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT — Spark 4's open-ended semi-structured type: parse_json into
    a binary variant, path-extract with variant_get (typed), tolerant
    extraction with try_variant_get (missing path -> NULL, no error), and
    a to_json round trip re-extracted with get_json_object to prove the
    variant encoding preserves values. Unlike get_json_object (re-parses
    the string per extraction), a VARIANT column parses ONCE at ingest and
    every downstream extraction reads the binary encoding — the schema-on-
    read shape a 100 TB semi-structured lake wants. The oracle replays the
    same paths with DuckDB's JSON extractors over the same synthesized
    payload (shared template, integer/string fields only)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000)
    v = ev.select(
        "event_id", F.parse_json(_variant_json_spark()).alias("v")
    )
    return v.select(
        "event_id",
        F.variant_get("v", "$.meta.type", "string").alias("meta_type"),
        F.variant_get("v", "$.meta.id", "bigint").alias("meta_id"),
        F.variant_get("v", "$.n", "bigint").alias("n_val"),
        F.variant_get("v", "$.tags[1]", "string").alias("tag2"),
        F.try_variant_get("v", "$.absent", "bigint").alias("absent"),
        F.get_json_object(F.to_json(F.col("v")), "$.n")
        .cast("bigint")
        .alias("rt_n"),
    )
