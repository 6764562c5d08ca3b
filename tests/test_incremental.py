"""Incremental aggregate maintenance (operators/incremental.py): merge
algebra (order/granularity invariance) and the no-history-rescan plan
property. Value correctness vs full recompute is the registered query's
oracle."""

from __future__ import annotations

from urllib.parse import urlparse

import pyspark.sql.functions as F

from gridmr_spark.catalog import load_table
from gridmr_spark.operators.incremental import (
    finalize_aggs,
    merge_partial_aggs,
    partial_aggs,
)

KEYS = ["l_returnflag", "l_linestatus"]
SUMS = {"qty": "l_quantity", "price": "l_extendedprice"}


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_merge_is_order_and_granularity_invariant(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    s1 = li.where(F.col("l_orderkey") % 3 == 0)
    s2 = li.where(F.col("l_orderkey") % 3 == 1)
    s3 = li.where(F.col("l_orderkey") % 3 == 2)
    p1, p2, p3 = (partial_aggs(s, KEYS, SUMS) for s in (s1, s2, s3))

    all_at_once = finalize_aggs(merge_partial_aggs([p1, p2, p3], KEYS), KEYS)
    reordered = finalize_aggs(merge_partial_aggs([p3, p1, p2], KEYS), KEYS)
    # staged: merge (1,2) first, persist-shape state, then merge 3
    staged12 = merge_partial_aggs([p1, p2], KEYS)
    staged = finalize_aggs(merge_partial_aggs([staged12, p3], KEYS), KEYS)
    one_shot = finalize_aggs(partial_aggs(li, KEYS, SUMS), KEYS)

    expect = _canon(one_shot)
    assert _canon(all_at_once) == expect
    assert _canon(reordered) == expect
    assert _canon(staged) == expect


def test_refresh_plan_reads_state_not_history(spark, sf_smoke, tmp_path):
    """The refresh reads the persisted state artifact plus a delta scan
    whose parquet filter is pushed — history rows are excluded at the scan,
    not post-hoc."""
    li = load_table(spark, sf_smoke, "lineitem")
    cutoff = F.lit("1998-09-01").cast("date")
    state_path = str(tmp_path / "state")
    partial_aggs(li.where(F.col("l_shipdate") < cutoff), KEYS, SUMS).write.parquet(state_path)

    stored = spark.read.parquet(state_path)
    delta = partial_aggs(li.where(F.col("l_shipdate") >= cutoff), KEYS, SUMS)
    refreshed = finalize_aggs(merge_partial_aggs([stored, delta], KEYS), KEYS)

    # state artifact scanned (checked on the input files: the plan string
    # cuts long scan locations short)
    scanned = [urlparse(f).path for f in refreshed.inputFiles()]
    assert any(f.startswith(state_path + "/") for f in scanned), scanned
    plan = refreshed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "l_shipdate" in plan, plan
    # delta partials see only post-cutoff rows
    n_delta = li.where(F.col("l_shipdate") >= cutoff).count()
    assert delta.agg(F.sum("n_rows")).collect()[0][0] == n_delta


def test_decimal_state_is_exact_across_many_increments(spark, sf_smoke):
    """Merging 10 single-slice increments equals the one-shot aggregate
    bit-for-bit (a float accumulator would drift)."""
    li = load_table(spark, sf_smoke, "lineitem")
    parts = [
        partial_aggs(li.where(F.col("l_orderkey") % 10 == i), KEYS, SUMS)
        for i in range(10)
    ]
    merged = finalize_aggs(merge_partial_aggs(parts, KEYS), KEYS)
    one_shot = finalize_aggs(partial_aggs(li, KEYS, SUMS), KEYS)
    assert _canon(merged) == _canon(one_shot)


# -- CDC retraction algebra (cdc_partial_aggs) -------------------------------


def _rows(spark, data):
    return spark.createDataFrame(data, "op string, g string, v double")


def test_cdc_retraction_matches_recompute(spark):
    from gridmr_spark.operators.incremental import cdc_partial_aggs

    base = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("b", 5.0)], "g string, v double"
    )
    stored = partial_aggs(base, ["g"], {"v": "v"})
    # delete one 'a' row, update the other (20 -> 25), insert a 'c' row
    cdc = _rows(
        spark,
        [("D", "a", 10.0), ("D", "a", 20.0), ("I", "a", 25.0), ("I", "c", 1.0)],
    )
    got = finalize_aggs(
        merge_partial_aggs([stored, cdc_partial_aggs(cdc, ["g"], {"v": "v"})], ["g"]),
        ["g"],
        drop_empty=True,
    )
    want = finalize_aggs(
        partial_aggs(
            spark.createDataFrame(
                [("a", 25.0), ("b", 5.0), ("c", 1.0)], "g string, v double"
            ),
            ["g"],
            {"v": "v"},
        ),
        ["g"],
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_cdc_fully_deleted_group_vanishes(spark):
    from gridmr_spark.operators.incremental import cdc_partial_aggs

    base = spark.createDataFrame([("a", 10.0), ("b", 5.0)], "g string, v double")
    stored = partial_aggs(base, ["g"], {"v": "v"})
    cdc = _rows(spark, [("D", "b", 5.0)])
    merged = merge_partial_aggs(
        [stored, cdc_partial_aggs(cdc, ["g"], {"v": "v"})], ["g"]
    )
    # without drop_empty the tombstone is visible (n_rows 0, sum 0)
    tomb = {r.g: (r.n_rows, float(r.v)) for r in merged.collect()}
    assert tomb["b"] == (0, 0.0)
    out = finalize_aggs(merged, ["g"], drop_empty=True)
    assert [r.g for r in out.collect()] == ["a"]


def test_cdc_unknown_op_raises_in_plan(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from gridmr_spark.operators.incremental import cdc_partial_aggs

    cdc = _rows(spark, [("X", "a", 1.0)])
    with pytest.raises((Py4JJavaError, PySparkException)):
        cdc_partial_aggs(cdc, ["g"], {"v": "v"}).collect()
