"""Behavioral tests for the retrieval/corpus-analytics family: BM25
ordering, KMV approximate regime + merge law, skyline vs brute force,
JL distance preservation, zone-map pruning."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from gridmr_spark.queries import load_all

REG = load_all()


def test_bm25_ranks_are_contiguous_and_ordered(spark, sf_smoke):
    out = REG["search_bm25_topk"].fn(spark, sf_smoke).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q, "no BM25 results at all"
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
        # ordered by (score desc, doc_id asc) — the deterministic contract
        key = [(-r["score_q"], r["doc_id"]) for r in rows]
        assert key == sorted(key), f"query {qid} not in contract order"
        assert all(r["n_terms"] >= 1 for r in rows)


def test_bm25_more_matched_terms_beats_fewer_at_same_tf(spark, tmp_path):
    """A doc matching both probe terms must outscore a doc of the SAME
    length matching one (idf terms are positive in this corpus)."""
    import os

    import pandas as pd

    # tiny corpus through the same scoring shape: reuse the query fn by
    # staging a one-table sf_dir
    d = str(tmp_path)
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["alpha beta", "alpha gamma", "delta gamma", "delta beta"],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [10] * 4,
        }
    ).to_parquet(os.path.join(d, "documents.parquet"))
    from gridmr_spark.queries import retrieval as R

    # run the registered query over the staged dir with one probe query
    old = R._BM25_QUERIES
    try:
        R._BM25_QUERIES = [(0, "alpha beta")]
        out = {r["doc_id"]: r for r in REG["search_bm25_topk"].fn(spark, d).collect()}
    finally:
        R._BM25_QUERIES = old
    assert out[1]["n_terms"] == 2
    assert out[1]["score_q"] > out[2]["score_q"]  # both terms beats one
    assert out[1]["score_q"] > out[4]["score_q"]


def test_kmv_approximate_regime_error_bound(spark, sf_smoke):
    """k=8 sketches over the real corpus: the Jaccard estimate must land
    within 3 standard errors (sqrt(J(1-J)/k)) of the exact value computed
    from the k=10**6 (full-set) run."""
    from gridmr_spark.catalog import load_table
    from gridmr_spark.queries.retrieval import kmv_sketch_pairs

    docs = load_table(spark, sf_smoke, "documents")
    exact = {
        (r["lang_a"], r["lang_b"]): r["jaccard_q"] / 1e9
        for r in kmv_sketch_pairs(docs, 1_000_000).collect()
    }
    approx = {
        (r["lang_a"], r["lang_b"]): r["jaccard_q"] / 1e9
        for r in kmv_sketch_pairs(docs, 8).collect()
    }
    assert set(approx) == set(exact)
    for pair, j_true in exact.items():
        se = math.sqrt(max(j_true * (1 - j_true), 0.01) / 8)
        assert abs(approx[pair] - j_true) <= 3 * se + 1e-9, (
            f"{pair}: est {approx[pair]} vs true {j_true}"
        )


def test_kmv_merge_law(spark):
    """k-truncation merge: sketch(X ∪ Y) == truncate_k(merge of the two
    sketches) — the property that makes KMV mergeable with bounded state."""
    rng = random.Random(7)
    xs = sorted(rng.sample(range(10**9), 40))
    ys = sorted(rng.sample(range(10**9), 40))
    k = 12
    sk = lambda vals: sorted(set(vals))[:k]
    merged = sorted(set(sk(xs)) | set(sk(ys)))[:k]
    full = sorted(set(xs) | set(ys))[:k]
    assert merged == full
    # and through the Spark expression used by the query
    df = spark.createDataFrame([(sk(xs), sk(ys))], "ska array<long>, skb array<long>")
    got = df.select(
        F.slice(F.array_sort(F.array_union("ska", "skb")), 1, k).alias("un")
    ).collect()[0]["un"]
    assert got == full


def test_skyline_matches_bruteforce_random(spark):
    from gridmr_spark.queries.retrieval import pareto_front

    rng = random.Random(13)
    rows = [(i, rng.randint(0, 12), float(rng.randint(0, 40))) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, big long, small double")
    got = {r["id"] for r in pareto_front(df, maximize="big", minimize="small").collect()}
    want = {
        i
        for (i, b, s) in rows
        if not any(
            qb >= b and qs <= s and (qb > b or qs < s) for (_, qb, qs) in rows
        )
    }
    assert got == want


def test_skyline_skips_nulls(spark):
    """Nulls in either column: a null ``maximize`` key and a group whose
    ``minimize`` values are all null must not break the driver-side
    threshold scan, and the frontier equals the skyline of the rows that
    have no nulls (a row with a null in either column is never kept)."""
    from gridmr_spark.queries.retrieval import pareto_front

    rng = random.Random(29)
    rows = [(i, rng.randint(0, 12), float(rng.randint(0, 40))) for i in range(200)]
    rows += [(200 + i, None, float(i)) for i in range(5)]   # null maximize
    rows += [(300 + i, 99, None) for i in range(3)]         # all-null group
    rows += [(400 + i, rng.randint(0, 12), None) for i in range(5)]
    df = spark.createDataFrame(rows, "id long, big long, small double")
    got = {r["id"] for r in pareto_front(df, maximize="big", minimize="small").collect()}
    full = [(i, b, s) for (i, b, s) in rows if b is not None and s is not None]
    want = {
        i
        for (i, b, s) in full
        if not any(
            qb >= b and qs <= s and (qb > b or qs < s) for (_, qb, qs) in full
        )
    }
    assert got == want


def test_jl_projection_preserves_norms(spark, sf_smoke):
    """Rademacher-sign JL property: E[||Pv||^2] = d_out * ||v||^2, so the
    per-vector ratio ||Pv||^2 / (8 * ||v||^2) concentrates around 1. (A
    pairwise-distance *correlation* test is the wrong probe here: for
    near-iid random vectors all pairwise distances concentrate to the same
    value, so the true spread is smaller than the sketch's ~1/sqrt(8)
    distortion by construction.)"""
    import numpy as np

    out = REG["vector_jl_projection"].fn(spark, sf_smoke)
    proj = {
        r["vec_id"]: np.array([r[f"p{j}"] for j in range(8)])
        for r in out.where(F.col("vec_id") < 60).collect()
    }
    from gridmr_spark.catalog import load_table

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_smoke, "embeddings")
        .where(F.col("vec_id") < 60)
        .collect()
    }
    ratios = np.array(
        [
            np.sum(proj[i] ** 2) / (8.0 * np.sum(emb[i] ** 2))
            for i in sorted(proj)
            if np.sum(emb[i] ** 2) > 0
        ]
    )
    assert len(ratios) >= 30
    # chi^2_8/8-shaped: individual ratios spread, the mean concentrates
    assert 0.75 <= float(ratios.mean()) <= 1.25, ratios.mean()
    assert float((ratios > 0.05).mean()) > 0.95  # no systematic collapse


def test_zonemap_prunes_files(spark, sf_smoke, tmp_path):
    from gridmr_spark.catalog import load_table
    from gridmr_spark.operators.layout import zonemap_pruned_read, zonemap_write

    orders = load_table(spark, sf_smoke, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )
    path = str(tmp_path / "zonemap")
    zonemap_write(orders, path, "o_totalprice", n_files=16)
    df, n_hit, n_total = zonemap_pruned_read(
        spark, path, "o_totalprice", 400000.0, 450000.0
    )
    assert n_total == 16
    assert 1 <= n_hit <= 4, f"range-clustered zones should prune, read {n_hit}"
    want = orders.where(
        (F.col("o_totalprice") >= 400000.0) & (F.col("o_totalprice") <= 450000.0)
    )
    assert df.count() == want.count()
    got_keys = {r["o_orderkey"] for r in df.collect()}
    want_keys = {r["o_orderkey"] for r in want.collect()}
    assert got_keys == want_keys
    # zones are disjoint (range partitioning): stats intervals don't overlap
    stats = sorted(
        (r["zmin"], r["zmax"])
        for r in spark.read.parquet(path + "/zonestats").collect()
    )
    for (_amin, amax), (bmin, _bmax) in zip(stats, stats[1:]):
        assert amax <= bmin
    # fully-selective predicate: NO zone overlaps -> empty frame with the
    # data schema, zero files read (regression: used to crash on a
    # zero-path spark.read.parquet)
    df0, n_hit0, n_total0 = zonemap_pruned_read(
        spark, path, "o_totalprice", -2.0, -1.0
    )
    assert (n_hit0, n_total0) == (0, 16)
    assert df0.count() == 0
    assert df0.schema == df.schema


def test_zonemap_empty_stats_raises(spark, tmp_path):
    """A zone map listing ZERO files is a broken layout: the pruned read
    must fail with a clear error, not a TypeError from probing a file
    that isn't there (round-7 advice)."""
    import pytest as _pytest

    from gridmr_spark.operators.layout import zonemap_pruned_read

    path = str(tmp_path / "emptyzm")
    stats_schema = "file string, zmin double, zmax double"
    spark.createDataFrame([], stats_schema).write.mode("overwrite").parquet(
        path + "/zonestats"
    )
    with _pytest.raises(ValueError, match="no files"):
        zonemap_pruned_read(spark, path, "x", 0.0, 1.0)


# ---------------------------------------------------------------------------
# search_eval_ndcg invariants
# ---------------------------------------------------------------------------


def test_eval_ndcg_invariants(spark, sf_oracle):
    """The metric laws NDCG/MRR must satisfy regardless of data: the ideal
    DCG dominates the system DCG, NDCG lands in (0, 1e6], MRR is one of the
    five literal reciprocal-rank weights (or 0), and qrel counts are
    consistent with a non-empty match set per probe query."""
    from gridmr_spark.queries.retrieval import _RR_W, search_eval_ndcg

    rows = search_eval_ndcg(spark, sf_oracle).collect()
    assert len(rows) == 4  # one row per probe query
    for r in rows:
        assert r.dcg_q <= r.idcg_q
        assert 0 < r.ndcg_microq <= 1_000_000
        assert r.rr_q in {0, *_RR_W}
        assert r.n_rel2 + r.n_rel1 > 0


def test_eval_ndcg_perfect_ranking_scores_one(spark, sf_oracle):
    """If every rel-2 doc out-scores every rel-1 doc in BM25's top five for
    some query, that query's NDCG must be exactly 1e6 — checks the
    ideal-from-counts construction against the realized ranking."""
    from gridmr_spark.queries.retrieval import _EVAL_K, _bm25_agg, search_eval_ndcg
    from pyspark.sql import Window

    agg, _d = _bm25_agg(spark, sf_oracle)
    w = Window.partitionBy("qid").orderBy(F.desc("score_q"), F.asc("doc_id"))
    top = (
        agg.withColumn("rel", F.least(F.col("n_terms"), F.lit(2)))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _EVAL_K)
        .collect()
    )
    counts = {}
    for r in agg.withColumn("rel", F.least(F.col("n_terms"), F.lit(2))).collect():
        c = counts.setdefault(r.qid, [0, 0])
        c[0] += r.rel == 2
        c[1] += r.rel == 1
    by_q = {}
    for r in top:
        by_q.setdefault(r.qid, []).append(r)
    metrics = {r.query_id: r for r in search_eval_ndcg(spark, sf_oracle).collect()}
    for qid, rows in by_q.items():
        rels = [r.rel for r in sorted(rows, key=lambda x: x.rnk)]
        n2 = counts[qid][0]
        ideal = [2] * min(n2, _EVAL_K) + [1] * max(0, _EVAL_K - n2)
        ideal = ideal[: len(rels)]
        if rels == ideal:
            assert metrics[qid].ndcg_microq == 1_000_000
        else:
            assert metrics[qid].ndcg_microq < 1_000_000
