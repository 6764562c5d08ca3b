"""Spark 4 SQL front-end surface: LATERAL subquery joins, recursive CTEs,
parse_url, and the Observation API (single-pass pipeline metrics).

Correctness of each registered query is covered by the registry-wide
oracle/driver-gate tests; this file pins the PROPERTIES that make the
surface scale-safe:
- the lateral top-k decorrelates into one windowed shuffle, not a
  per-outer-row subquery execution;
- recursion terminates level-by-level (frontier semantics, not
  accumulated-set re-join) and respects the documented depth;
- try_parse_url returns NULL instead of raising (the ANSI contract);
- observe() metrics equal a direct aggregation while adding zero jobs
  beyond the one materializing action.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from gridmr_spark.queries import load_all

REG = load_all()


def test_lateral_topk_decorrelates_to_window(spark, sf_oracle):
    df = REG["join_lateral_topk"].fn(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # per-group LIMIT bound: no customer contributes more than 3 rows
    over = (
        df.groupBy("c_custkey").count().where(F.col("count") > 3).count()
    )
    assert over == 0


def test_recursive_cte_counts_every_part_once(spark, sf_oracle):
    """The decimal tree is a partition of the part table: every partkey
    appears under exactly one single-digit root."""
    from gridmr_spark.catalog import load_table

    df = REG["sql_recursive_cte"].fn(spark, sf_oracle)
    total = df.agg(F.sum("n_parts")).collect()[0][0]
    n_parts = load_table(spark, sf_oracle, "part").count()
    assert total == n_parts
    # depth really recursed: sf0.01 has partkeys >= 1000, so height >= 3
    assert df.agg(F.max("max_depth")).collect()[0][0] >= 3


def test_recursive_cte_frontier_semantics(spark):
    """Each level joins only the previous FRONTIER: a linear chain of n
    nodes completes in exactly n levels and yields one row per node (an
    accumulated-set re-join would duplicate rows combinatorially)."""
    spark.range(0, 12).selectExpr("id AS node", "id - 1 AS parent").where(
        "node > 0"
    ).createOrReplaceTempView("chain_edges")
    rows = spark.sql(
        """
        WITH RECURSIVE walk(node, depth) AS (
          SELECT CAST(0 AS BIGINT), 0
          UNION ALL
          SELECT e.node, w.depth + 1
          FROM chain_edges e JOIN walk w ON e.parent = w.node
        )
        SELECT node, depth FROM walk
        """
    ).collect()
    assert len(rows) == 12
    assert all(r.node == r.depth for r in rows)


def test_try_parse_url_null_contract(spark):
    row = spark.sql(
        "SELECT try_parse_url('not a url', 'HOST') AS bad,"
        "       try_parse_url('https://h.example/p', 'HOST') AS good"
    ).collect()[0]
    assert row.bad is None
    assert row.good == "h.example"


def test_observed_metrics_match_direct_aggregation(spark, sf_oracle):
    from gridmr_spark.catalog import load_table

    got = REG["pipeline_observed_metrics"].fn(spark, sf_oracle).collect()[0]
    docs = load_table(spark, sf_oracle, "documents")
    n_tok = F.size(F.filter(F.split(F.col("text"), " "), lambda w: w != ""))
    direct = docs.select(n_tok.alias("n_tok")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("n_tok") < 8, 1).otherwise(0)).alias("n_short"),
        F.sum(F.when(F.col("n_tok") >= 8, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("n_tok") >= 8, F.col("n_tok")).otherwise(0)).alias("tok_kept"),
    ).collect()[0]
    assert (got.n_total, got.n_short, got.n_kept, got.tok_kept) == (
        direct.n_total, direct.n_short, direct.n_kept, direct.tok_kept,
    )
    assert got.n_total == got.n_short + got.n_kept


def test_sql_table_function(spark):
    """SQL table functions (CREATE FUNCTION ... RETURNS TABLE ... RETURN
    SELECT): a catalog-defined TVF usable in FROM, inlined into the plan
    like any subquery — no Python UDTF boundary."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gridmr_int_seq(n INT) "
        "RETURNS TABLE(x INT) RETURN SELECT explode(sequence(1, n))"
    )
    got = spark.sql(
        "SELECT SUM(x) AS s, COUNT(*) AS c FROM gridmr_int_seq(10)"
    ).first()
    assert (got["s"], got["c"]) == (55, 10)


def test_sql_udf_is_inlined_into_plan(spark, sf_oracle):
    """The scalar SQL UDF must dissolve at resolution: the optimized plan
    contains the expanded arithmetic, not a black-box UDF call — the
    property that keeps catalog-shared business logic optimizable."""
    from gridmr_spark.plans import physical_plan
    from gridmr_spark.queries import load_all

    df = load_all()["sql_udf_revenue"].fn(spark, sf_oracle)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    # the function body, textually expanded into the Project/aggregate:
    assert "cast(l_extendedprice" in plan and "decimal(12,2)" in plan
    # and no opaque call survives resolution
    assert "gridmr_disc_price" not in plan


def test_sql_scripting_loop_leaves_session_conf_alone(spark, sf_oracle, duck):
    """The scripting query enables SQL scripting for its own call only: the
    session's conf is the same after it as before, and it still matches its
    oracle."""
    from gridmr_spark.testing import compare_query

    spark.conf.unset("spark.sql.scripting.enabled")
    before = spark.conf.getAll
    q = REG["sql_scripting_loop"]
    df = q.fn(spark, sf_oracle)
    assert spark.conf.getAll == before
    assert compare_query(df, duck, q.oracle) == []
