"""Embedding similarity-search queries (LLM-pipeline north star).

The exact paths are oracle-checked bit-for-bit: Spark's F.aggregate fold and
DuckDB's list_reduce fold are both sequential left folds in double, so the
cosine values are identical (verified, not assumed). The LSH path is the
100 TB plan and is recall-tested against the exact path in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gridmr_spark.catalog import load_table
from gridmr_spark.operators.similarity import RandomHyperplaneLSH, cosine_topk
from gridmr_spark.queries import query

# Sequential double fold for the DuckDB side (bit-identical to F.aggregate).
_DOT = "list_reduce(list_transform(list_zip({a}, {b}), t -> t[1]*t[2]), (x,y) -> x+y)"
_NORM = "sqrt(list_reduce(list_transform({a}, x -> x*x), (x,y) -> x+y))"
_COS = f"({_DOT} / ({_NORM.format(a='{a}')} * {_NORM.format(a='{b}')}))"


def _cos_sql(a: str, b: str) -> str:
    return _COS.format(a=a, b=b)


_TOPK_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.v', 'c.v')} AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_cos_sql('q.v', 'c.v')} DESC, c.vec_id
         ) AS rnk
  FROM e q JOIN e c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
) t WHERE rnk <= 5
"""


@query("similarity_topk", oracle=_TOPK_ORACLE)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for 10 query vectors: broadcast the
    query side, scan candidates once, rank per query. The right plan when
    |queries| << |candidates| — no shuffle of the candidate table."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    cands = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"))
    return cosine_topk(
        queries, cands, k=5,
        q_id="query_id", q_vec="q_vec", c_id="neighbor_id", c_vec="c_vec",
    )


_NEAR_PAIRS_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 1000)
SELECT a.vec_id AS id1, b.vec_id AS id2, {_cos_sql('a.v', 'b.v')} AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_cos_sql('a.v', 'b.v')} >= 0.4
"""


@query("similarity_near_pairs", oracle=_NEAR_PAIRS_ORACLE)
def similarity_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.4) — exact
    all-pairs as the correctness baseline. O(n²) by declared intent, so the
    registered query bounds its input (vec_id < 1000: the full table at the
    correctness SF, a fixed-size sample beyond) — the quadratic oracle must
    never be the thing that grows with the data; the LSH variant below is
    the scale path (same output shape)."""
    from gridmr_spark.functions.vectors import fold_cosine

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 1000)
    a = emb.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            # vectorized fold twin, bit-identical to the HOF fold;
            # filter_safe: the filter below references the UDF column, so
            # without the flag pushdown duplicates the evaluation (§4.4)
            fold_cosine("va", "vb", filter_safe=True).alias("cosine"),
        )
        .where(F.col("cosine") >= 0.4)
    )


_EMB_DEDUP_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 500),
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE {_cos_sql('a.v', 'b.v')} >= 0.4
)
SELECT vec_id FROM e WHERE vec_id NOT IN (SELECT id2 FROM pairs)
"""


@query("dedup_embedding_cosine", oracle=_EMB_DEDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate REMOVAL (the dedup flavor of
    similarity_near_pairs): any vector whose cosine to a lower-id vector is
    >= 0.4 is dropped; lower ids survive as cluster representatives. The
    keep-rule is a pure anti-join against the pair list, so the same rule
    rides on the LSH candidate generator at scale — only the pair source
    changes, never the survivor logic. Input bounded tighter than the pairs
    oracle (vec_id < 500): pair-generation exactness is already proven at
    <1000 by similarity_near_pairs; this query proves the survivor rule."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    dropped = (
        _bounded_pairs(spark, sf_dir)
        .select(F.col("id2").alias("vec_id"))
        .distinct()
    )
    return emb.select("vec_id").join(dropped, "vec_id", "left_anti")


_EMB_CC_ORACLE = f"""
WITH RECURSIVE
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 500),
p AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM e a JOIN e b ON a.vec_id <> b.vec_id
  WHERE {_cos_sql('a.v', 'b.v')} >= 0.4
),
r(a, b) AS (
  SELECT vec_id, vec_id FROM e
  UNION
  SELECT r.a, p.id2 FROM r JOIN p ON r.b = p.id1
)
SELECT a AS vec_id, MIN(b) AS component FROM r GROUP BY a
"""


@query("dedup_clusters_cc", oracle=_EMB_CC_ORACLE)
def dedup_clusters_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERING via connected components over the
    embedding-cosine pair graph: a~b and b~c land a,c in one cluster even
    when cos(a,c) is under threshold — the transitive semantics the
    anti-join removal above can't give. Spark side iterates min-label
    propagation (operators/graph.py, lineage-checkpointed per round); the
    oracle is the same closure via DuckDB WITH RECURSIVE. Pair input
    bounded tighter than the pairs oracle (vec_id < 500: pair exactness is
    similarity_near_pairs' job, this query proves the closure); at scale
    the pair source is the LSH candidate generator, the cluster loop is
    unchanged."""
    from gridmr_spark.operators.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    pairs = _bounded_pairs(spark, sf_dir)
    return connected_components(
        emb.select("vec_id"), pairs, id_col="vec_id", src_col="id1", dst_col="id2"
    ).select(F.col("id").alias("vec_id"), "component")


def _fold_rerank(
    sel: DataFrame, emb: DataFrame, k: int, q_col: str = "q_id", c_col: str = "c_id"
) -> DataFrame:
    """Selection by the fast path, VALUES by the canonical fold.

    ``sel`` carries the (query, neighbor) pairs some vectorized path picked
    (GEMM / IVF / PQ — BLAS summation order differs from the sequential
    fold in the last ulps, so their scores are not oracle-hash-comparable);
    this joins the pairs back to the embeddings, recomputes cosine as the
    sequential double fold (bit-identical to DuckDB's list_reduce), and
    re-ranks with the family tiebreak. When the fast path's selection is
    EXACT (full GEMM, IVF probing every cell, PQ re-ranking every
    candidate), the output is byte-identical to the brute-force SQL oracle
    — which is what turns those paths from rows-only into hash-checked.
    Cost: |sel| = |queries|*k rows join back twice — broadcast-hinted, a
    rounding error against the selection scan at any scale.

    Tie stability: callers pass SLACK — the fast path selects k+slack
    candidates (top-8 for k=5) and this fold re-rank keeps the true top-k
    of them, so a ulp-level near-tie at the k boundary (where BLAS order
    and fold order can disagree about which of two ~equal cosines is
    larger) is resolved by the FOLD scores the oracle also uses, not by
    whichever candidate the BLAS build happened to rank k-th. A
    disagreement would have to span more than `slack` rank positions to
    change the output — impossible for last-ulp summation differences."""
    from gridmr_spark.functions.vectors import fold_cosine

    eq = emb.select(F.col("vec_id").alias(q_col), F.col("embedding").alias("_qraw"))
    ec = emb.select(F.col("vec_id").alias(c_col), F.col("embedding").alias("_craw"))
    j = (
        eq.join(F.broadcast(sel.select(q_col, c_col)), q_col)
        .join(ec, c_col)
        .select(
            q_col,
            c_col,
            # vectorized fold twin — bit-identical to the HOF fold
            fold_cosine("_qraw", "_craw").alias("cosine"),
        )
    )
    w = Window.partitionBy(q_col).orderBy(F.desc("cosine"), F.asc(c_col))
    return j.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


@query("similarity_lsh_topk", oracle=None)  # approximate: recall-tested in tests/
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate all-pairs top-5 via random-hyperplane LSH with multi-probe
    (hamming-1) buckets and 24 OR-amplified tables — the sub-quadratic 100 TB
    path. bits scales with table size (target ~8 vectors/bucket) so bucket
    occupancy — and with it candidate volume and executor memory — stays
    constant as the data grows; tables/probes then buy recall at fixed cost.
    Tuning measured at sf0.1 on near-random vectors (the worst case for any
    cosine LSH): occupancy-8 buckets + 24 tables give recall 0.96 of the
    exact top-5 (vs 0.54 for the previous occupancy-2/12-table point) at
    comparable wall time — candidates/query stays ~(bits+1)*8*tables,
    independent of n."""
    import math

    from gridmr_spark.catalog import table_rows

    emb = load_table(spark, sf_dir, "embeddings")
    # n from parquet footer metadata: sizing a parameter must not cost a
    # full count() scan (at 100 TB that is an extra pass over the table).
    n = table_rows(sf_dir, "embeddings")
    bits = max(4, math.ceil(math.log2(max(n, 64) / 8)))
    lsh = RandomHyperplaneLSH(dim=64, bits=bits, tables=24, seed=42)
    # Hot-bucket cap at 4x the occupancy target: bounds candidate volume on
    # near-duplicate-dense data (see topk_in_buckets docstring); per-table
    # survivor choice keeps recall via OR-amplification.
    return lsh.topk_in_buckets(emb, "vec_id", "embedding", k=5, max_bucket_members=32)


_GEMM_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT q_id, c_id, cosine, rnk FROM (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         {_cos_sql('q.v', 'c.v')} AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_cos_sql('q.v', 'c.v')} DESC, c.vec_id
         ) AS rnk
  FROM e q JOIN e c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 1000
) t WHERE rnk <= 5
"""

_GEMM_FULL_ORACLE = _GEMM_ORACLE.replace("  WHERE q.vec_id < 1000\n", "")


@query("similarity_topk_gemm", oracle=_GEMM_ORACLE)
def similarity_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-query exact top-5 via the vectorized GEMM path (mapInPandas +
    numpy matrix multiply) — ~100x the scalar-fold throughput; the
    production exact-search plan. The operator's contract is "query side
    small enough to broadcast", so the registered query enforces it: only a
    bounded query set (vec_id < 1000) is collected, never the whole table —
    the candidate side streams through executors at any scale.

    SELECTION comes from the GEMM; the reported cosines are re-attached via
    the sequential fold (_fold_rerank), so the result is hash-checked
    against the brute-force SQL oracle — GEMM selection is exact, only its
    BLAS summation order was ever non-comparable. tests/test_similarity.py
    additionally asserts operator-level set-equality with the fold path."""
    from gridmr_spark.operators.similarity import cosine_topk_gemm

    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.where(F.col("vec_id") < 1000)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    # k+3 slack: boundary ties resolved by fold scores (see _fold_rerank)
    return _fold_rerank(cosine_topk_gemm(q.toPandas(), c, k=8), emb, k=5)


@query("similarity_ivf_topk", oracle=None)  # approximate: recall-tested in tests/
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate all-pairs top-5 via an IVF index (seeded k-means cells,
    nprobe nearest cells searched per query, assign_n=2 cell-overlap base
    assignment) — the centroid-based scale path, complementary to
    hyperplane LSH: better for clustered data, and the cell layout doubles
    as a partitioning key for co-located storage.

    Parameters scale with the table (footer-metadata rows, no count job):
    k = ceil(sqrt(n)) keeps cells balanced; nprobe = ceil(0.36*k) with
    assign_n=2 measured recall@5 ~0.94 vs the exact top-5 on near-random
    vectors (the worst case for a centroid index) at both n=500 and
    n=2000 — the tests/test_similarity.py floor is 0.8. On clustered
    real-world embeddings the same settings search far less of the space."""
    import math

    from gridmr_spark.catalog import table_rows
    from gridmr_spark.operators.similarity import IVFIndex

    emb = load_table(spark, sf_dir, "embeddings")
    n = table_rows(sf_dir, "embeddings")
    k_cells = max(4, math.ceil(math.sqrt(max(n, 1))))
    ivf = IVFIndex(
        k=k_cells, nprobe=max(2, math.ceil(0.36 * k_cells)), iters=4,
        seed=42, assign_n=2,
    )
    return ivf.topk(emb, "vec_id", "embedding", k=5)


@query("similarity_ivf_exact_regime", oracle=_GEMM_ORACLE)
def similarity_ivf_exact_regime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search in its EXACT PARAMETER REGIME (round 14): nprobe =
    k_cells means every query probes every cell, so each (query, base)
    pair shares at least one cell and `IVFIndex.topk_for_queries`
    (operators/similarity.py) is provably identical to brute force —
    which puts the whole IVF machinery (seeded Lloyd fit, assign_n=2
    cell-overlap layout, cogrouped per-cell GEMM, cross-cell max-cosine
    dedupe, (cosine desc, cid asc) tiebreak) under the SAME full DuckDB
    hash oracle as the exact GEMM paths, instead of only a recall floor.
    Selection comes from the IVF cells; reported cosines re-attach via
    the sequential fold (_fold_rerank, k+3 slack) exactly like
    similarity_topk_gemm. The production regime (nprobe << k, measured
    recall 0.94 floor 0.8) stays registered as similarity_ivf_topk.

    Query side bounded (vec_id < 1000, the cosine_topk_gemm contract):
    the exact regime is deliberately a full scan per query — this row
    buys gate coverage of the machinery, not a scale claim; the scale
    claim is the approximate row's job."""
    import math

    from gridmr_spark.catalog import table_rows
    from gridmr_spark.operators.similarity import IVFIndex

    emb = load_table(spark, sf_dir, "embeddings")
    n = table_rows(sf_dir, "embeddings")
    k_cells = max(4, math.ceil(math.sqrt(max(n, 1))))
    ivf = IVFIndex(k=k_cells, nprobe=k_cells, iters=4, seed=42, assign_n=2)
    sel = ivf.topk_for_queries(
        emb.where(F.col("vec_id") < 1000), emb, "vec_id", "embedding", k=8
    ).select(F.col("qid").alias("q_id"), F.col("cid").alias("c_id"))
    return _fold_rerank(sel, emb, k=5)


@query("similarity_topk_gemm_blocked", oracle=_GEMM_FULL_ORACLE)
def similarity_topk_gemm_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-matrix GEMM exact top-5 over the FULL query side — the shape
    that removes cosine_topk_gemm's 'query side must fit the driver' limit:
    a 2-D cogrouped (query-block × candidate-block) grid where every cell is
    one numpy GEMM, all cells in parallel in a single Spark job — nothing is
    ever collected to the driver. tests/test_similarity.py asserts equality
    with the single-collect result. Grid sizing comes from parquet footer
    metadata (table_rows), not a count() job — planning is job-free.

    Like similarity_topk_gemm: GEMM selects, the sequential fold re-attaches
    the reported cosines (_fold_rerank), so the full all-pairs result is
    hash-checked against the brute-force SQL oracle."""
    from gridmr_spark.catalog import table_rows
    from gridmr_spark.operators.similarity import cosine_topk_gemm_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    sel = cosine_topk_gemm_blocked(
        # k+3 slack: boundary ties resolved by fold scores (see _fold_rerank)
        q, c, k=8, block_rows=1024, n_rows=table_rows(sf_dir, "embeddings")
    )
    return _fold_rerank(sel, emb, k=5)


# ---------------------------------------------------------------------------
# Graph analytics over the near-dup pair graph (exact, integer outputs)
# ---------------------------------------------------------------------------

_PAIRS_500_SQL = f"""
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 500) a
  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 500) b
    ON a.vec_id < b.vec_id
  WHERE {_cos_sql('a.v', 'b.v')} >= 0.4
"""


def _bounded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected unique pairs (id1 < id2) of the bounded cosine graph —
    shared edge source for the graph-analytics queries below."""
    from gridmr_spark.functions.vectors import fold_cosine

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    a = emb.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            # vectorized fold twin (bit-identical); filter_safe stops the
            # threshold filter duplicating the evaluation (§4.4)
            fold_cosine("va", "vb", filter_safe=True).alias("_cos"),
        )
        .where(F.col("_cos") >= 0.4)
        .select("id1", "id2")
    )


_TRIANGLE_ORACLE = f"""
WITH p AS ({_PAIRS_500_SQL})
SELECT COUNT(*) AS n_triangles
FROM p ab JOIN p bc ON ab.id2 = bc.id1
          JOIN p ac ON ac.id1 = ab.id1 AND ac.id2 = bc.id2
"""


@query("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count on the near-dup graph (each triangle a<b<c
    counted once via the ordered-edge convention). Two equi-joins on the
    edge list — at scale this is the standard "order vertices by degree"
    pattern's skeleton; integer output, so the oracle check is exact.
    Near-dup clusters are near-cliques, so triangle density is the cheap
    cluster-quality signal (clique of size k -> C(k,3) triangles)."""
    p = _bounded_pairs(spark, sf_dir).localCheckpoint()  # 3 self-reads, 1 derivation
    ab = p.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    bc = p.select(F.col("id1").alias("b"), F.col("id2").alias("c"))
    ac = p.select(F.col("id1").alias("a"), F.col("id2").alias("c"))
    return (
        ab.join(bc, "b")
        .join(ac, ["a", "c"])
        .agg(F.count("*").alias("n_triangles"))
    )


_DEGREE_ORACLE = f"""
WITH p AS ({_PAIRS_500_SQL}),
d AS (
  SELECT id, COUNT(*) AS degree FROM (
    SELECT id1 AS id FROM p UNION ALL SELECT id2 AS id FROM p
  ) GROUP BY id
)
SELECT degree, COUNT(*) AS n_vertices FROM d GROUP BY degree
"""


@query("graph_degree_distribution", oracle=_DEGREE_ORACLE)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup graph (isolated vertices excluded —
    they have no edge rows). Two cheap aggregations; the shape check a
    dedup pipeline runs before clustering to spot pathological hubs (a
    stop-shingle-like hot document would show as a high-degree outlier)."""
    p = _bounded_pairs(spark, sf_dir).localCheckpoint()  # 2 self-reads below
    ends = p.select(F.col("id1").alias("id")).unionAll(p.select(F.col("id2").alias("id")))
    deg = ends.groupBy("id").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_vertices"))


def _pagerank_oracle_sql(iters: int = 6, damping: float = 0.85) -> str:
    """Unrolled power-iteration PageRank in plain SQL: one CTE pair
    (dangling-mass scalar + in-message aggregate) per iteration, chained —
    no recursion needed, so DuckDB's no-aggregates-in-recursive-CTE rule
    never applies. Mirrors operators/graph.pagerank term for term, with the
    SAME expression shapes ((1-d)/n + d*dm/n, then + d*msgs) so both
    engines run identical IEEE-754 operation sequences; the residual
    summation-order noise (~1e-15 relative) is absorbed by the shared
    DECIMAL(18,9) quantization of the output. The pair CTE is MATERIALIZED:
    DuckDB otherwise inlines it into every round's two references to the
    previous round, re-running the 125k-pair cosine join 2^iters times
    (63 s vs 1.2 s at sf0.01, same rows)."""
    parts = [
        "WITH v AS (SELECT vec_id AS id FROM embeddings WHERE vec_id < 500),",
        f"p AS MATERIALIZED ({_PAIRS_500_SQL}),",
        "e AS (SELECT id1 AS src, id2 AS dst FROM p"
        " UNION ALL SELECT id2 AS src, id1 AS dst FROM p),",
        "deg AS (SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS deg FROM e GROUP BY src),",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM v),",
        "r0 AS (SELECT v.id, 1.0 / nn.n AS rank FROM v CROSS JOIN nn),",
    ]
    for i in range(iters):
        parts.append(
            f"d{i} AS (SELECT COALESCE(SUM(r.rank), 0.0) AS dm"
            f" FROM r{i} r LEFT JOIN deg ON r.id = deg.id WHERE deg.id IS NULL),\n"
            f"m{i} AS (SELECT e.dst AS id, SUM(r.rank / deg.deg) AS m"
            f" FROM e JOIN r{i} r ON e.src = r.id JOIN deg ON deg.id = e.src"
            f" GROUP BY e.dst),\n"
            f"r{i + 1} AS (SELECT v.id,"
            f" ((1.0 - {damping}) / nn.n + {damping} * d{i}.dm / nn.n)"
            f" + {damping} * COALESCE(m{i}.m, 0.0) AS rank"
            f" FROM v CROSS JOIN nn CROSS JOIN d{i}"
            f" LEFT JOIN m{i} ON v.id = m{i}.id),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT id AS vec_id,"
        f" CAST(CAST(rank AS DECIMAL(18,9)) AS DOUBLE) AS rank FROM r{iters}"
    )
    return "\n".join(parts)


@query("graph_pagerank", oracle=_pagerank_oracle_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the (symmetrized) near-dup graph — the centrality
    signal that ranks cluster representatives by connectedness (a more
    duplicated document ranks higher than a fringe member). Iterative power
    method per operators/graph.py; verified against a NumPy power iteration
    in tests/test_graph.py AND against an unrolled-iteration DuckDB oracle
    (_pagerank_oracle_sql). Ranks quantize through DECIMAL(18,9)
    and back to DOUBLE on both sides: the engines sum float contributions
    in different orders, so raw doubles agree only to ~1e-15 relative —
    far inside the 1e-9 quantum — and the final double cast keeps the
    pandas dtype float64 on both sides of the driver's gate (a bare
    DECIMAL lands as object/Decimal from Spark but float64 from DuckDB)."""
    from gridmr_spark.operators.graph import pagerank

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    p = _bounded_pairs(spark, sf_dir)
    both = p.unionAll(p.select(F.col("id2").alias("id1"), F.col("id1").alias("id2")))
    return pagerank(
        emb.select("vec_id"), both, id_col="vec_id", src_col="id1", dst_col="id2", iters=6
    ).select(
        F.col("id").alias("vec_id"),
        F.col("rank").cast("decimal(18,9)").cast("double").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Embedding storage path: symmetric int8 quantization (4x smaller vectors)
# ---------------------------------------------------------------------------

_QUANTIZE_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
)
SELECT vec_id, scale,
  array_to_string(
    list_transform(v, x -> CAST(CAST(floor(COALESCE(x / NULLIF(scale, 0.0), 0.0) + 0.5) AS BIGINT) AS VARCHAR)),
    ',') AS q_csv,
  list_max(list_transform(v, x ->
    abs(CAST(floor(COALESCE(x / NULLIF(scale, 0.0), 0.0) + 0.5) AS BIGINT) * scale - x))) AS max_abs_err
FROM s
"""


@query("vector_quantize_int8", oracle=_QUANTIZE_ORACLE)
def vector_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column — the
    storage/bandwidth path at 100 TB: scale = max|v|/127, q = round(v/scale)
    in [-127,127], plus the per-vector max reconstruction error. 4x smaller
    than float32 at ~0.4% of the value range in error, which downstream ANN
    (IVF/LSH candidate generation) tolerates; exact rerank fetches fp32 for
    the shortlist only.

    Deterministic on purpose: rounding is floor(x+0.5) (half-toward-+inf) —
    identical in both engines — NOT round(), whose half-away-from-zero vs
    banker's tie rules differ across engines on negative values. All ops are
    per-element JVM expressions; the quantized vector serializes to csv for
    the driver gate (array columns defeat its canonicalizer)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = (
        F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    )
    df = emb.select("vec_id", v.alias("v"), scale.alias("scale"))
    q = F.transform(
        F.col("v"),
        lambda x: F.floor(
            F.coalesce(x / F.nullif(F.col("scale"), F.lit(0.0)), F.lit(0.0)) + F.lit(0.5)
        ).cast("long"),
    )
    err = F.array_max(
        F.zip_with(q, F.col("v"), lambda qi, xi: F.abs(qi * F.col("scale") - xi))
    )
    return df.select(
        "vec_id",
        "scale",
        F.concat_ws(",", F.transform(q, lambda x: x.cast("string"))).alias("q_csv"),
        err.alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# K-means assignment step (clustering the embedding table)
# ---------------------------------------------------------------------------

_KMEANS_ASSIGN_ORACLE = f"""
WITH c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
           FROM embeddings WHERE vec_id < 8),
     e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
     assign AS (
       SELECT vec_id, cell FROM (
         SELECT e.vec_id, c.cell,
                ROW_NUMBER() OVER (
                  PARTITION BY e.vec_id
                  ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cell
                ) AS rnk
         FROM e CROSS JOIN c
       ) t WHERE rnk = 1
     )
SELECT vec_id, cell,
       COUNT(*) OVER (PARTITION BY cell) AS n_members
FROM assign
"""


@query("cluster_kmeans_assign", oracle=_KMEANS_ASSIGN_ORACLE)
def cluster_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact k-means assignment step over the embedding table: each
    vector goes to its max-cosine centroid (first 8 vectors as the seeded
    codebook — deterministic, so the oracle can name the same centroids).
    The scale shape: centroids broadcast (k rows — k-means centroids always
    fit), similarity is the JVM-side F.aggregate fold (bit-identical to the
    DuckDB fold, proven by the similarity family), assignment is a k-row
    window per vector, and cluster sizes ride a second window — one scan,
    one shuffle on vec_id, one on cell; integer-only output so the hash
    gate sees no float noise. Iterating this step (re-averaging centroids
    per cell) is Lloyd's algorithm; IVFIndex.fit_centroids runs exactly
    that loop on a sample."""
    from gridmr_spark.functions.vectors import fold_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cv")
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cell",
        # vectorized fold twin — bit-identical to the HOF fold
        fold_cosine(F.col("embedding"), F.col("cv")).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cell"))
    assign = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select("vec_id", "cell")
    )
    return assign.withColumn(
        "n_members", F.count("*").over(Window.partitionBy("cell"))
    )


@query("similarity_pq_topk", oracle=None)  # approximate: recall-tested in tests/
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via product quantization + exact re-rank — the
    memory-compressed third ANN leg beside hyperplane LSH (buckets) and IVF
    (cells). Candidates live as m=16 codes (16 bytes vs 256 for the raw
    float32 vector); ADC scores each Arrow batch with table lookups; the
    top-96 shortlist per query is re-ranked exactly against raw vectors.
    Measured on near-random vectors (the ANN worst case): recall@5 0.97 at
    sf0.1 and 0.99 at sf0.01 vs the exact fold; the test floor is 0.85.
    Query side bounded by the driver-fit contract (vec_id < 1000), like
    the GEMM paths; the candidate side streams at any scale."""
    from gridmr_spark.operators.similarity import ProductQuantizer

    emb = load_table(spark, sf_dir, "embeddings")
    return ProductQuantizer().topk(emb, "vec_id", "embedding", k=5, query_bound=1000)


_PERSISTED_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT qid, cid, cosine, rnk FROM (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         {_cos_sql('q.v', 'c.v')} AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_cos_sql('q.v', 'c.v')} DESC, c.vec_id
         ) AS rnk
  FROM e q JOIN e c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 1000
) t WHERE rnk <= 5
"""


@query("similarity_pq_persisted", oracle=_PERSISTED_ORACLE)
def similarity_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search from PERSISTED index artifacts (operators/ann_index.py):
    fit/search separation. Production builds the index nightly (codebook
    fit + full-table encode, the expensive parts) and searches it many
    times; here the first call per sf materializes <scratch>/codebooks.parquet
    + codes.parquet and every search reads ONLY those artifacts plus the
    re-rank survivors' raw vectors. The codes artifact is ~m bytes/vector —
    the 100 TB-corpus index that fits in cluster RAM.

    EXACT-REGIME parameter point (hash-checked): shortlist = n, so stage 2
    re-ranks every candidate exactly and the ADC stage only orders the
    shortlist — the search result is the true top-5 whatever the codebook
    quality, and with _fold_rerank re-attaching fold cosines it is
    byte-identical to the brute-force oracle. The full machinery still
    executes (codes read, LUT gather, shortlist merge). The APPROXIMATE
    regime (shortlist=96) is similarity_pq_topk's job; fidelity of
    persisted-vs-in-memory at that regime stays proven in
    tests/test_ann_index.py, which also proves zero-fit search (spy)."""
    import hashlib as _h
    import os as _os
    import tempfile as _t

    from gridmr_spark.catalog import table_rows
    from gridmr_spark.operators.ann_index import PersistedPQ

    emb = load_table(spark, sf_dir, "embeddings")
    key = _h.md5(f"{sf_dir}:pqidx".encode()).hexdigest()[:12]
    path = _os.path.join(_t.gettempdir(), f"gridmr_pqidx_{key}")
    # shortlist is a SEARCH-time knob (build artifacts are regime-free)
    idx = PersistedPQ(shortlist=max(96, table_rows(sf_dir, "embeddings")))
    if not _os.path.isdir(_os.path.join(path, "codes.parquet")):
        idx.build(emb, "vec_id", "embedding", path)
    # k+3 slack: boundary ties resolved by fold scores (see _fold_rerank)
    sel = idx.search(emb, "vec_id", "embedding", path, k=8, query_bound=1000)
    return _fold_rerank(sel, emb, k=5, q_col="qid", c_col="cid")


_IVF_PERSISTED_ORACLE = _PERSISTED_ORACLE.replace("  WHERE q.vec_id < 1000\n", "")


@query("similarity_ivf_persisted", oracle=_IVF_PERSISTED_ORACLE)
def similarity_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search from PERSISTED artifacts: centroids + cell-partitioned
    postings written once (repartitioned by cell, so each cell's rows are
    contiguous on disk — at scale a probed search reads nprobe file ranges
    instead of re-assigning and re-shuffling the base table), searched
    with zero fit work.

    EXACT-REGIME parameter point (hash-checked): nprobe = k — every query
    probes every cell, so coverage is total and the top-5 is exact; with
    _fold_rerank re-attaching fold cosines the result is byte-identical to
    the brute-force oracle. nprobe is a SEARCH-time knob — the persisted
    artifacts are identical to the probed regime's, which remains
    similarity_ivf_topk's job (same sqrt(n) cell sizing, measured recall
    ~0.94, floor 0.8); tests/test_ann_index.py keeps proving probed-regime
    fidelity of persisted-vs-in-memory row-for-row."""
    import hashlib as _h
    import math as _m
    import os as _os
    import tempfile as _t

    from gridmr_spark.catalog import table_rows
    from gridmr_spark.operators.ann_index import PersistedIVF

    emb = load_table(spark, sf_dir, "embeddings")
    n = table_rows(sf_dir, "embeddings")
    k_cells = max(4, _m.ceil(_m.sqrt(max(n, 1))))
    idx = PersistedIVF(
        k=k_cells, nprobe=k_cells, iters=4,  # nprobe=k: probe every cell
        seed=42, assign_n=2,
    )
    key = _h.md5(f"{sf_dir}:ivfidx".encode()).hexdigest()[:12]
    path = _os.path.join(_t.gettempdir(), f"gridmr_ivfidx_{key}")
    if not _os.path.isdir(_os.path.join(path, "postings.parquet")):
        idx.build(emb, "vec_id", "embedding", path)
    sel = idx.search(
        # k+3 slack: boundary ties resolved by fold scores (see _fold_rerank)
        spark, emb.select("vec_id", "embedding"), "vec_id", "embedding", path, k=8
    )
    return _fold_rerank(sel, emb, k=5, q_col="qid", c_col="cid")


@query("similarity_ivf_append", oracle=_IVF_PERSISTED_ORACLE)
def similarity_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental add to a PERSISTED IVF index
    (operators/ann_index.py:PersistedIVF.append): the index is built on
    the even-id half, the odd-id half is APPENDED — assigned to the
    STORED centroids, no refit, postings appended in place — and the
    search runs over the appended state. EXACT-REGIME parameter point
    (nprobe = k probes every cell), so the result must be the true top-5
    over the UNION — the same brute-force oracle as
    similarity_ivf_persisted, now proving the append path end to end by
    hash. Fixed-centroid row-equality to a from-scratch union build and
    the occupancy-skew drift guard are proven in tests/test_ann_index.py;
    §D carries recall telemetry at the appended state. At 100 TB this is
    the nightly-ingest shape: O(|new| * k) assignment + one append write,
    never a corpus re-encode."""
    import hashlib as _h
    import math as _m
    import os as _os
    import shutil as _sh
    import tempfile as _t

    from gridmr_spark.catalog import table_rows
    from gridmr_spark.operators.ann_index import PersistedIVF

    emb = load_table(spark, sf_dir, "embeddings")
    n = table_rows(sf_dir, "embeddings")
    k_cells = max(4, _m.ceil(_m.sqrt(max(n, 1))))
    idx = PersistedIVF(k=k_cells, nprobe=k_cells, iters=4, seed=42, assign_n=2)
    key = _h.md5(f"{sf_dir}:ivfappend".encode()).hexdigest()[:12]
    path = _os.path.join(_t.gettempdir(), f"gridmr_ivf_append_{key}")
    # build+append must happen EXACTLY once per run: a stale appended
    # index would double the odd half on re-append, so rebuild fresh
    _sh.rmtree(path, ignore_errors=True)
    idx.build(emb.where(F.col("vec_id") % 2 == 0), "vec_id", "embedding", path)
    idx.append(emb.where(F.col("vec_id") % 2 == 1), "vec_id", "embedding", path)
    sel = idx.search(
        spark, emb.select("vec_id", "embedding"), "vec_id", "embedding", path, k=8
    )
    return _fold_rerank(sel, emb, k=5, q_col="qid", c_col="cid")


_JL_IN_DIM, _JL_OUT_DIM = 64, 8

# One projected coordinate as DuckDB SQL: sequential left fold (prepended
# 0.0 so the fold order is IDENTICAL to F.aggregate's zero + t1 + t2 ...),
# Rademacher sign from the first md5 hex digit's parity of "i_j".
def _jl_sql(j: int) -> str:
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {_JL_IN_DIM}), i -> v[CAST(i AS INT)] * "
        "(1.0 - 2.0 * CAST(CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || "
        f"'_{j}'), 1, 1)) AS UBIGINT) % 2 AS DOUBLE)))), (x, y) -> x + y)"
    )


_JL_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id, {", ".join(f"{_jl_sql(j)} AS p{j}" for j in range(_JL_OUT_DIM))}
FROM e
"""


@query("vector_jl_projection", oracle=_JL_ORACLE)
def vector_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 8 dims with a
    DETERMINISTIC Rademacher (±1) matrix derived from md5 parity of
    "i_j" — no materialized matrix, no randomness to ship: any executor
    (or any other engine) reconstructs the same projection from the
    formula, which is how a 100 TB re-run stays reproducible. Each output
    coordinate is a sequential left fold (F.aggregate) over the input
    dims, bit-identical to the DuckDB list_reduce twin — the same
    verified-not-assumed float contract as similarity_topk.

    Why it matters: JL projection is the cheap front half of embedding
    pipelines (coarse clustering, LSH seeding, dedup pre-filters) — an
    8-dim sketch cuts downstream shuffle bytes 8x while preserving
    pairwise geometry (distance-ratio property test in
    tests/test_retrieval.py). Per-row work is dim_in*dim_out JVM
    expression evaluations, embarrassingly parallel, no shuffle at all."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def _coord(j: int):
        def term(acc, i):
            parity = (
                F.conv(
                    F.substring(F.md5(F.concat(i.cast("string"), F.lit(f"_{j}"))), 1, 1),
                    16, 10,
                ).cast("long") % 2
            ).cast("double")
            return acc + F.element_at(F.col("v"), i.cast("int")) * (
                F.lit(1.0) - F.lit(2.0) * parity
            )

        return F.aggregate(
            F.sequence(F.lit(1), F.lit(_JL_IN_DIM)), F.lit(0.0), term
        ).alias(f"p{j}")

    return emb.select("vec_id", *[_coord(j) for j in range(_JL_OUT_DIM)])


_BFS_ROUNDS = 4

_BFS_ORACLE = f"""
WITH RECURSIVE p AS ({_PAIRS_500_SQL}),
e AS (SELECT id1 AS s, id2 AS d FROM p UNION ALL SELECT id2 AS s, id1 AS d FROM p),
walk(id, dist) AS (
  SELECT vec_id AS id, 0 AS dist FROM embeddings WHERE vec_id < 5
  UNION
  SELECT e.d AS id, w.dist + 1 AS dist
  FROM walk w JOIN e ON e.s = w.id
  WHERE w.dist < {_BFS_ROUNDS}
)
SELECT id, CAST(MIN(dist) AS BIGINT) AS dist FROM walk GROUP BY id
"""


@query("graph_bfs_distance", oracle=_BFS_ORACLE)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the near-dup graph: hop distance (capped at
    4 rounds) from the seed set {vec_id < 5} — the "how far does this
    contamination/duplication spread" primitive. Distributed shape: the
    frontier pattern — each round joins ONLY the newly-discovered frontier
    against the edge list (never the whole visited set), anti-joins out
    already-known vertices, and localCheckpoints to keep lineage flat;
    rounds are data-independent (fixed cap) so the job graph is static.
    At 100 TB edge scale each round is one shuffle join keyed on vertex
    id — the same co-location the CC operator uses, and the frontier
    shrinks geometrically on high-expansion graphs. The oracle is the
    DuckDB recursive-CTE walk with MIN(dist) — exact integer outputs."""
    p = _bounded_pairs(spark, sf_dir)
    e = (
        p.select(F.col("id1").alias("s"), F.col("id2").alias("d"))
        .union(p.select(F.col("id2").alias("s"), F.col("id1").alias("d")))
        .localCheckpoint()
    )
    seeds = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("id"), F.lit(0).cast("long").alias("dist"))
    )
    dist = seeds.localCheckpoint()
    frontier = dist
    for r in range(1, _BFS_ROUNDS + 1):
        cand = (
            frontier.join(e, frontier["id"] == e["s"])
            .select(F.col("d").alias("id"))
            .distinct()
        )
        new = (
            cand.join(dist.select("id"), "id", "left_anti")
            .select("id", F.lit(r).cast("long").alias("dist"))
            .localCheckpoint()
        )
        dist = dist.union(new).localCheckpoint()
        frontier = new
    return dist


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup via cluster-bounded cosine pruning
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.35  # fixture threshold; production near-dup regime ~0.95

# k = max(8, ceil(sqrt(n))) balances the two cost terms: brute-force
# assignment is n*k folds, within-cell pairs are ~n^2/k — k=sqrt(n) makes
# both n^1.5 (measured: fixed k=8 ran 138 s at sf1, alpha 1.43; sqrt-k cut
# it to the recorded row). ceil is computed in exact integers on the Spark
# side and ceil(sqrt(double)) in DuckDB — identical for any n below 2^52.
_SEMDEDUP_K = "GREATEST(8, CAST(ceil(sqrt((SELECT COUNT(*) FROM e))) AS BIGINT))"

_SEMDEDUP_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < {_SEMDEDUP_K}),
assign AS (
  SELECT vec_id, cell, v FROM (
    SELECT e.vec_id, c.cell, e.v,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cell
           ) AS rnk
    FROM e CROSS JOIN c) t WHERE rnk = 1
),
dup AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_cos_sql('a.v', 'b.v')} >= {_SEMDEDUP_TAU}
)
SELECT a.vec_id, a.cell,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept
FROM assign a LEFT JOIN dup d ON a.vec_id = d.vec_id
"""


@query("dedup_semdedup", oracle=_SEMDEDUP_ORACLE)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    clustering embeddings, then pruning within-cluster pairs above a
    cosine threshold — near-duplicate MEANING, which MinHash/SimHash
    (surface text) cannot see. Assignment reuses the kmeans-assign shape
    (centroids broadcast, max-cosine via a k-row window); candidate pairs
    are a self-equi-join ON THE CELL, so no cross-cluster pair is ever
    generated — that bounding is the paper's entire point. Keeps the
    min-id member of each close pair (deterministic stand-in for the
    paper's keep-farthest-from-centroid rule, which needs no tie policy).
    Scale: k = max(8, ceil(sqrt(n))) seed centroids balance brute-force
    assignment (n*k) against within-cell pairs (~n^2/k) at n^1.5 — the
    paper's operating regime for one-shot clustering; production pushes
    further to linear with k ~ n/c plus an ANN-assisted assignment (the
    IVF cogroup-GEMM, operators/ann_index.py). Measured: fixed k=8 was
    5.1 s sf0.1 / 138.5 s sf1 (alpha 1.43, quadratic candidate growth);
    sqrt-k is the recorded SCALING.md row. The fixture tau (0.35)
    exercises the prune path on the synthetic table's cosine range (max
    within-cell cosine 0.49, no true near-dups); production uses ~0.95.
    All cosines are the sequential double fold — bit-identical between
    engines, so the >= tau boundary is exact."""
    import math

    from gridmr_spark.functions.vectors import fold_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()  # bounded driver action: one scalar, prices k below
    r = math.isqrt(max(n, 1))
    k = max(8, r if r * r == n else r + 1)  # exact-integer ceil(sqrt(n))
    cent = emb.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cv")
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cell",
        "embedding",
        # vectorized fold twin — bit-identical to the HOF fold
        fold_cosine(F.col("embedding"), F.col("cv")).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cell"))
    assign = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select("vec_id", "cell", "embedding")
    )
    a = assign.select(
        F.col("vec_id").alias("aid"), "cell", F.col("embedding").alias("av")
    )
    b = assign.select(
        F.col("vec_id").alias("bid"), "cell", F.col("embedding").alias("bv")
    )
    dup = (
        a.join(b, "cell")
        .where(F.col("aid") < F.col("bid"))
        # vectorized fold twin (bit-identical to the HOF fold);
        # filter_safe: the tau filter references the UDF column (§4.4)
        .select(
            F.col("bid"),
            fold_cosine("av", "bv", filter_safe=True).alias("_cos"),
        )
        .where(F.col("_cos") >= _SEMDEDUP_TAU)
        .select(F.col("bid").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return assign.join(dup, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.when(F.col("is_dup").isNull(), 1).otherwise(0).cast("int").alias("kept"),
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep)
# ---------------------------------------------------------------------------

_HARDNEG_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
           FROM embeddings)
SELECT anchor_id, negative_id, neg_label, cosine, rnk FROM (
  SELECT a.vec_id AS anchor_id, n.vec_id AS negative_id,
         n.label AS neg_label,
         {_cos_sql('a.v', 'n.v')} AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY {_cos_sql('a.v', 'n.v')} DESC, n.vec_id
         ) AS rnk
  FROM e a JOIN e n ON a.label <> n.label
  WHERE a.vec_id < 10
) t WHERE rnk <= 5
"""


@query("similarity_hard_negatives", oracle=_HARDNEG_ORACLE)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each anchor, the top-5 most-similar
    vectors with a DIFFERENT label — the negatives that sit closest to
    the decision boundary, which contrastive/embedding training pairs
    with each anchor (easy random negatives teach nothing). Same scan
    shape as similarity_topk (anchors broadcast, corpus scanned once,
    per-anchor k-row window) plus the label-mismatch predicate; at 100 TB
    the scan is the ANN shortlist instead (similarity_ivf_topk) with the
    label filter applied to the shortlist — mining is a top-k variant,
    not a new plan family. Cosines are the sequential double fold, so the
    oracle hash-compares them bit-for-bit."""
    from gridmr_spark.functions.vectors import fold_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("av"),
        F.col("label").alias("a_label"),
    )
    scored = (
        emb.join(F.broadcast(anchors), F.col("label") != F.col("a_label"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("neg_label"),
            # vectorized fold twin — bit-identical to the HOF fold
            fold_cosine(F.col("av"), F.col("embedding")).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("negative_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("anchor_id", "negative_id", "neg_label", "cosine",
                F.col("rnk").cast("bigint").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation fidelity (dimension-reduction eval)
# ---------------------------------------------------------------------------

_MRL_DIMS = 16
_MRL_K = 5
_MRL_NQ = 8

_MRL_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
et AS (SELECT vec_id, list_slice(v, 1, {_MRL_DIMS}) AS v FROM e),
full_rk AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_cos_sql('q.v', 'c.v')} DESC, c.vec_id
         ) AS rnk
  FROM e q JOIN e c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {_MRL_NQ}
), trunc_rk AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_cos_sql('q.v', 'c.v')} DESC, c.vec_id
         ) AS rnk
  FROM et q JOIN et c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {_MRL_NQ}
)
SELECT f.query_id, CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_overlap,
       CAST(FLOOR(CAST(COUNT(t.neighbor_id) AS DOUBLE) / {_MRL_K}.0 * 1000000.0) AS BIGINT)
         AS recall_microq
FROM (SELECT * FROM full_rk WHERE rnk <= {_MRL_K}) f
LEFT JOIN (SELECT * FROM trunc_rk WHERE rnk <= {_MRL_K}) t
  ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
GROUP BY f.query_id
"""


@query("vector_mrl_recall", oracle=_MRL_ORACLE)
def vector_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation fidelity: recall@5 of the cosine ranking over
    the FIRST {_MRL_DIMS} dimensions against the full 64-dim ranking, per
    query vector. This is the storage-side eval an embedding store runs
    before committing to MRL-style truncation (Kusupati et al. 2022 —
    4x fewer bytes and FLOPs per comparison IF fidelity holds); it is to
    dimension reduction what the PQ/IVF recall floors (BASELINE §D) are to
    quantization, and the JL-projection query's ranking-level complement.

    Both rankings are exact sequential folds (the repo's bit-identical
    cosine contract), both top-5 cuts are WindowGroupLimit with id
    tiebreaks, and recall is a count — the whole evaluation is
    hash-exact, no floors needed. Scale shape: two broadcast-query scans
    of the candidate table (the similarity_topk plan twice), overlap is a
    k-bounded join on (query, neighbor)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _MRL_NQ)

    def ranked(qdf: DataFrame, cdf: DataFrame) -> DataFrame:
        return cosine_topk(
            qdf.select(F.col("vec_id").alias("query_id"), F.col("v").alias("q_vec")),
            cdf.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("c_vec")),
            k=_MRL_K, q_id="query_id", q_vec="q_vec", c_id="neighbor_id", c_vec="c_vec",
        ).select("query_id", "neighbor_id")

    full = ranked(
        queries.select("vec_id", F.col("embedding").alias("v")),
        emb.select("vec_id", F.col("embedding").alias("v")),
    )
    trunc = ranked(
        queries.select("vec_id", F.slice("embedding", 1, _MRL_DIMS).alias("v")),
        emb.select("vec_id", F.slice("embedding", 1, _MRL_DIMS).alias("v")),
    )
    hit = trunc.withColumn("hit", F.lit(1))
    return (
        full.join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("hit").cast("long").alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            F.floor(F.col("n_overlap").cast("double") / F.lit(float(_MRL_K)) * F.lit(1000000.0))
            .cast("long")
            .alias("recall_microq"),
        )
    )


_SSSP_ROUNDS = 4

# Deterministic symmetric integer edge weight derivable in both engines.
_SSSP_W_SQL = "(1 + (s + d) % 5)"

_SSSP_ORACLE = f"""
WITH RECURSIVE p AS ({_PAIRS_500_SQL}),
e AS (
  SELECT id1 AS s, id2 AS d FROM p UNION ALL SELECT id2 AS s, id1 AS d FROM p
), ew AS (
  SELECT s, d, CAST({_SSSP_W_SQL} AS BIGINT) AS w FROM e
), walk(id, dist, hops) AS (
  SELECT vec_id AS id, CAST(0 AS BIGINT) AS dist, 0 AS hops
  FROM embeddings WHERE vec_id < 5
  UNION
  SELECT ew.d AS id, w2.dist + ew.w AS dist, w2.hops + 1 AS hops
  FROM walk w2 JOIN ew ON ew.s = w2.id
  WHERE w2.hops < {_SSSP_ROUNDS}
)
SELECT id, CAST(MIN(dist) AS BIGINT) AS dist_w FROM walk GROUP BY id
"""


@query("graph_sssp_weighted", oracle=_SSSP_ORACLE)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-source shortest path (Bellman-Ford, {_SSSP_ROUNDS}
    relaxation rounds) over the near-dup graph with deterministic integer
    edge weights 1 + (s+d) % 5 — BFS's weighted sibling: hop count becomes
    accumulated cost, the primitive behind influence radius with
    per-edge strength. Each round relaxes the FULL tentative-distance
    table against the edge list (one keyed shuffle join + min aggregate),
    so the round cost is O(|E|) and the job graph is static (fixed cap,
    lineage flattened by localCheckpoint). {_SSSP_ROUNDS} rounds bound the
    answer to paths of <= {_SSSP_ROUNDS} edges — the same contract as the
    recursive-CTE oracle, exact integer outputs."""
    p = _bounded_pairs(spark, sf_dir)
    e = (
        p.select(F.col("id1").alias("s"), F.col("id2").alias("d"))
        .union(p.select(F.col("id2").alias("s"), F.col("id1").alias("d")))
        .select("s", "d", (1 + (F.col("s") + F.col("d")) % 5).cast("long").alias("w"))
        .localCheckpoint()
    )
    dist = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("id"), F.lit(0).cast("long").alias("dist"))
        .localCheckpoint()
    )
    for _ in range(_SSSP_ROUNDS):
        cand = dist.join(e, dist["id"] == e["s"]).select(
            F.col("d").alias("id"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = (
            dist.union(cand)
            .groupBy("id")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint()
        )
    return dist.select("id", F.col("dist").alias("dist_w"))


# ---------------------------------------------------------------------------
# Clustering-quality evaluation (silhouette-style, exact integer grid)
# ---------------------------------------------------------------------------

_SIL_GRID = 1024  # quantization grid: floor(x * 1024) per coordinate

_SIL_ORACLE = f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        e -> CAST(FLOOR(e * {_SIL_GRID}.0) AS BIGINT)) AS xq
  FROM embeddings
), n_per AS (
  SELECT label AS c, CAST(COUNT(*) AS BIGINT) AS n_c FROM q GROUP BY label
), ex AS (
  SELECT label AS c, u.d, u.x FROM q,
         LATERAL (SELECT UNNEST(xq) AS x, generate_subscripts(xq, 1) AS d) u
), cent AS (
  SELECT c, list(s ORDER BY d) AS sarr FROM (
    SELECT c, d, CAST(SUM(x) AS BIGINT) AS s FROM ex GROUP BY c, d
  ) GROUP BY c
), scored AS (
  SELECT q.vec_id, q.label, cent.c,
         CAST(list_reduce(list_transform(list_zip(q.xq, cent.sarr),
              t -> (t[1] * n_per.n_c - t[2]) * (t[1] * n_per.n_c - t[2])),
              (a, b) -> a + b) AS DOUBLE)
           / CAST(n_per.n_c * n_per.n_c AS DOUBLE) AS dist2
  FROM q CROSS JOIN cent JOIN n_per ON n_per.c = cent.c
), ab AS (
  SELECT vec_id, label,
         MIN(CASE WHEN c = label THEN dist2 END) AS a,
         MIN(CASE WHEN c <> label THEN dist2 END) AS b
  FROM scored GROUP BY vec_id, label
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN b > a THEN 1 ELSE 0 END) AS BIGINT) AS n_well,
       CAST(SUM(CAST(FLOOR((b - a) * 1000000.0) AS BIGINT)) AS BIGINT) AS margin_sum_q
FROM ab GROUP BY label
"""


@query("cluster_silhouette_eval", oracle=_SIL_ORACLE)
def cluster_silhouette_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation (silhouette-style) of the embedding
    LABELS: per label, how many vectors sit closer to their own label's
    centroid than to any other label's (n_well), plus the summed
    between-minus-within margin. The eval a curation pipeline runs on any
    clustering it plans to exploit (SemDeDup cells, IVF coarse quantizer,
    topic buckets) before trusting it.

    Exactness: coordinates are quantized to an integer grid
    (floor(x*{_SIL_GRID})), centroids kept as EXACT (sum-vector, count)
    pairs, and the squared distance to centroid c evaluated as the
    integer fold sum((x_d*n_c - s_cd)^2) divided once by n_c^2 — the only
    float op is that mirrored division, so cross-engine hashes need no
    tolerance. Same trick as the repo's DECIMAL sums: never average, fold
    integers.

    Scale shape: the centroid model is |labels| x dim integers built by
    one map-side-combined aggregation; scoring is |vecs| x |labels| folds
    against a BROADCAST centroid table (the cluster_kmeans_assign shape —
    no posexplode blow-up); the verdict aggregate is label-bounded."""
    emb = load_table(spark, sf_dir, "embeddings")
    return silhouette_eval(emb)


def silhouette_eval(emb: DataFrame) -> DataFrame:
    """The integer-grid silhouette plan on any (vec_id, label, embedding)
    frame — exposed so tests can feed planted clusterings."""
    grid = F.lit(float(_SIL_GRID))
    q = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda e: F.floor(e * grid).cast("long"),
        ).alias("xq"),
    )
    n_per = q.groupBy(F.col("label").alias("c")).agg(
        F.count(F.lit(1)).cast("long").alias("n_c")
    )
    ex = q.select(F.col("label").alias("c"), F.posexplode("xq").alias("d", "x"))
    cent = (
        ex.groupBy("c", "d")
        .agg(F.sum("x").cast("long").alias("s"))
        .groupBy("c")
        .agg(F.array_sort(F.collect_list(F.struct("d", "s"))).alias("ds"))
        .select("c", F.col("ds.s").alias("sarr"))
        .join(n_per, "c")
    )
    fold = F.aggregate(
        F.zip_with(
            F.col("xq"),
            F.col("sarr"),
            lambda x, s: (x * F.col("n_c") - s) * (x * F.col("n_c") - s),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = q.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "c",
        (fold.cast("double") / (F.col("n_c") * F.col("n_c")).cast("double")).alias("dist2"),
    )
    ab = scored.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("c") == F.col("label"), F.col("dist2"))).alias("a"),
        F.min(F.when(F.col("c") != F.col("label"), F.col("dist2"))).alias("b"),
    )
    return ab.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(F.when(F.col("b") > F.col("a"), 1).otherwise(0)).cast("long").alias("n_well"),
        F.sum(F.floor((F.col("b") - F.col("a")) * F.lit(1000000.0)).cast("long"))
        .cast("long")
        .alias("margin_sum_q"),
    )


# ---------------------------------------------------------------------------
# Binary (sign) quantization + Hamming top-k — the 32x-compression ANN regime
# ---------------------------------------------------------------------------

_SIG_SQL = (
    "list_sum(list_transform(range(0, 32), i -> "
    "CASE WHEN embedding[i + {lo} + 1] >= 0 THEN 1::BIGINT << i ELSE 0::BIGINT END))"
)

_HAMMING_ORACLE = f"""
WITH s AS (
  SELECT vec_id,
         {_SIG_SQL.format(lo=0)} AS sig0,
         {_SIG_SQL.format(lo=32)} AS sig1
  FROM embeddings
)
SELECT qid, cid, hamming, rnk FROM (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         CAST(bit_count(xor(q.sig0, c.sig0)) + bit_count(xor(q.sig1, c.sig1)) AS BIGINT) AS hamming,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY bit_count(xor(q.sig0, c.sig0)) + bit_count(xor(q.sig1, c.sig1)), c.vec_id
         ) AS rnk
  FROM s q JOIN s c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 200
) t WHERE rnk <= 5
"""


@query("vector_binary_hamming", oracle=_HAMMING_ORACLE)
def vector_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary quantization ANN: sign-quantize 64-dim embeddings into two
    packed 32-bit words (32x compression vs float32) and rank neighbors
    by HAMMING distance — XOR + popcount, pure integer whole-stage
    codegen, no float compare anywhere, so the oracle replays the packing
    and ranking verbatim and the hash gate is exact by construction (ties
    broken by candidate id). Query side bounded to vec_id < 200: the
    all-pairs compare is the correctness baseline, same contract as
    similarity_near_pairs; the production path buckets signatures by word
    prefix (multi-index Hamming) and re-ranks the shortlist with exact
    cosine — tests/test_similarity.py measures that two-stage recall.
    Scale story: 1e9 vectors = 8 GB of signatures (memory-resident per
    executor) vs 256 GB of floats; the Hamming scan is bandwidth-bound
    integer SIMD, the expensive cosine touches only the shortlist."""
    from gridmr_spark.operators.similarity import binary_signature, hamming_topk

    emb = load_table(spark, sf_dir, "embeddings")
    sigs = emb.select("vec_id", *binary_signature("embedding", dim=64))
    q = sigs.where(F.col("vec_id") < 200).withColumnRenamed("vec_id", "qid")
    c = sigs.withColumnRenamed("vec_id", "cid")
    return hamming_topk(q, c, k=5, n_words=2, q_id="qid", c_id="cid")


# ---------------------------------------------------------------------------
# 1-NN classification eval: confusion matrix + per-class P/R/F1
# ---------------------------------------------------------------------------

_NN_EVAL_ORACLE = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ref AS (SELECT * FROM e WHERE vec_id < 500),
qry AS (SELECT * FROM e WHERE vec_id >= 500),
nn AS (
  SELECT vec_id, true_label, pred_label FROM (
    SELECT q.vec_id, q.label AS true_label, r.label AS pred_label,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_cos_sql('q.v', 'r.v')} DESC, r.vec_id
           ) AS rnk
    FROM qry q CROSS JOIN ref r
  ) t WHERE rnk = 1
)
SELECT CAST(true_label AS BIGINT) AS true_label,
       CAST(pred_label AS BIGINT) AS pred_label,
       CAST(COUNT(*) AS BIGINT) AS n
FROM nn GROUP BY 1, 2
"""


def _nn_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return nn_confusion_from(emb)


def nn_confusion_from(emb: DataFrame, ref_cut: int = 500) -> DataFrame:
    """Shared 1-NN assignment + confusion matrix: reference = labeled
    vectors vec_id < ref_cut (broadcast), queries = the held-out rest,
    argmax cosine with reference-id tie-break — ONE definition for both
    eval queries so the tie rule / split boundary can never diverge
    between them. Output: (true_label, pred_label, n), at most
    |classes|^2 rows."""
    ref = emb.where(F.col("vec_id") < ref_cut).select(
        F.col("vec_id").alias("rid"), F.col("label").alias("pred_label"),
        F.col("embedding").alias("r_vec"),
    )
    qry = emb.where(F.col("vec_id") >= ref_cut).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("true_label"),
        F.col("embedding").alias("q_vec"),
    )
    nn = cosine_topk(
        qry, ref, k=1,
        q_id="qid", q_vec="q_vec", c_id="rid", c_vec="r_vec",
        exclude_self=False,
    )
    # cosine_topk keeps only (q_id, c_id, cosine, rnk); re-attach labels
    labeled = (
        nn.join(qry.select("qid", "true_label"), "qid")
        .join(ref.select("rid", "pred_label"), "rid")
    )
    return labeled.groupBy(
        F.col("true_label").cast("long").alias("true_label"),
        F.col("pred_label").cast("long").alias("pred_label"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


def nn_shortlist_confusion(
    emb: DataFrame, m: int, ref_cut: int = 500, dim: int = 64
) -> DataFrame:
    """1-NN confusion matrix through a HAMMING SHORTLIST: per query, the
    m reference vectors closest in Hamming distance over packed sign
    signatures (32x-compressed, XOR+popcount integer codegen against the
    broadcast labeled reference), then exact cosine re-rank of those m
    only — the standard two-stage ANN economics applied to the eval
    harness, where the brute-force scan is |queries| x |ref| float folds.

    At m >= |ref| the shortlist is everything, so the result must equal
    ``nn_confusion_from`` BIT-FOR-BIT (the cosine expression below is
    the same ``with_norm``/``_dot`` fold ``cosine_topk`` uses, and both
    tie-break chains end in reference id) — the exactness canary the
    persisted-index queries established. Production m trades recall for
    a |ref|/m cut in float work; measured in BASELINE.md §D."""
    best = nn_shortlist_predictions(emb, m, ref_cut, dim)
    return best.groupBy(
        F.col("true_label").cast("long").alias("true_label"),
        F.col("pred_label").cast("long").alias("pred_label"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


def nn_shortlist_predictions(
    emb: DataFrame, m: int, ref_cut: int = 500, dim: int = 64
) -> DataFrame:
    """Per-query (qid, true_label, pred_label) through the two-stage plan
    — the shared core of ``nn_shortlist_confusion`` and the granularity
    telemetry needs to measure assignment AGREEMENT between shortlist
    sizes (two confusion matrices can't recover per-query agreement).
    Hamming shortlist window, then the exact-cosine re-rank whose tie
    chain ends in reference id (the ``cosine_topk`` rule)."""
    from gridmr_spark.operators.similarity import (
        _dot,
        binary_signature,
        with_norm,
    )

    sigc = [f"sig{w}" for w in range(-(-dim // 32))]
    ref = emb.where(F.col("vec_id") < ref_cut).select(
        F.col("vec_id").alias("rid"), F.col("label").alias("pred_label"),
        F.col("embedding").alias("r_vec"), *binary_signature("embedding", dim),
    )
    ref = ref.select(
        "rid", "pred_label", "r_vec", *[F.col(c).alias(f"r_{c}") for c in sigc]
    )
    qry = emb.where(F.col("vec_id") >= ref_cut).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("true_label"),
        F.col("embedding").alias("q_vec"), *binary_signature("embedding", dim),
    )
    qry = qry.select(
        "qid", "true_label", "q_vec", *[F.col(c).alias(f"q_{c}") for c in sigc]
    )
    ham = None
    for c in sigc:
        term = F.bit_count(F.col(f"q_{c}").bitwiseXOR(F.col(f"r_{c}")))
        ham = term if ham is None else ham + term
    pairs = qry.crossJoin(F.broadcast(ref)).withColumn("_ham", ham)
    hwin = Window.partitionBy("qid").orderBy(F.asc("_ham"), F.asc("rid"))
    short = pairs.withColumn("_hrnk", F.row_number().over(hwin)).where(
        F.col("_hrnk") <= m
    )
    # JVM fold kept here deliberately: the shortlist rows already carry
    # both vectors through the hamming window's shuffle, so routing the
    # cosine through Arrow would ship ~0.5 KB/pair across the Python
    # boundary for no net win at the m = |ref| canary regime (measured:
    # 2.5 s JVM fold vs 2.9 s pandas-UDF in the round-14 sweep).
    short = with_norm(short, "q_vec", "_qv", "_qn")
    short = with_norm(short, "r_vec", "_cv", "_cn")
    scored = short.withColumn(
        "cosine", _dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
    )
    cwin = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("rid"))
    return (
        scored.withColumn("_rnk", F.row_number().over(cwin))
        .where(F.col("_rnk") == 1)
        .select("qid", "true_label", "pred_label")
    )


@query("eval_1nn_confusion", oracle=_NN_EVAL_ORACLE)
def eval_1nn_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation staple: 1-nearest-neighbor classification of the
    held-out vectors (vec_id >= 500) against the labeled reference set
    (vec_id < 500), reported as the CONFUSION MATRIX — the artifact every
    accuracy / per-class precision-recall / F1 number derives from with
    plain arithmetic. The neighbor search is the bounded-reference
    broadcast shape (reference broadcasts, queries scan once — the
    cosine_topk plan at k=1); cosines are the sequential double fold, so
    the argmax and every tie (broken by reference id) are bit-identical
    in both engines and the matrix is hash-exact. At 100 TB the
    reference set is the small curated labeled corpus (always
    broadcastable); the query side is the full corpus, embarrassingly
    parallel, no shuffle beyond the final label-pair count."""
    return _nn_confusion_matrix(spark, sf_dir)


@query("eval_1nn_shortlist", oracle=_NN_EVAL_ORACLE)
def eval_1nn_shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHORTLISTED 1-NN eval — the documented brute-force-eval lever,
    now implemented: per query, a Hamming top-m shortlist over packed
    sign signatures (integer XOR+popcount against the broadcast labeled
    reference) feeds an exact cosine re-rank of m candidates instead of
    the full |ref| float scan. Registered AT THE EXACTNESS CANARY REGIME
    m = |ref| (the persisted-index pattern): the shortlist passes
    everything through, so the oracle is eval_1nn_confusion's brute-force
    SQL verbatim and hash-equality proves the two-stage plumbing
    (shortlist window, re-rank tie chain ending in reference id,
    confusion fold) introduces zero drift. Production m (a recall/compute
    dial: float folds drop |ref|/m-fold) is measured on the same harness
    in BASELINE.md §D and floor-tested in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return nn_shortlist_confusion(emb, m=500)


_NN_F1_ORACLE = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ref AS (SELECT * FROM e WHERE vec_id < 500),
qry AS (SELECT * FROM e WHERE vec_id >= 500),
nn AS (
  SELECT vec_id, true_label, pred_label FROM (
    SELECT q.vec_id, q.label AS true_label, r.label AS pred_label,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_cos_sql('q.v', 'r.v')} DESC, r.vec_id
           ) AS rnk
    FROM qry q CROSS JOIN ref r
  ) t WHERE rnk = 1
),
cls AS (SELECT DISTINCT label FROM e),
m AS (
  SELECT c.label,
         CAST(SUM(CASE WHEN nn.true_label = c.label AND nn.pred_label = c.label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN nn.true_label <> c.label AND nn.pred_label = c.label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN nn.true_label = c.label AND nn.pred_label <> c.label THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM cls c CROSS JOIN nn GROUP BY c.label
)
SELECT CAST(label AS BIGINT) AS label, tp, fp, fn,
       CAST(CASE WHEN 2*tp + fp + fn = 0 THEN 0
            ELSE FLOOR(CAST(2*tp AS DOUBLE) / CAST(2*tp + fp + fn AS DOUBLE) * 1000000000.0)
       END AS BIGINT) AS f1_q
FROM m
"""


@query("eval_1nn_f1", oracle=_NN_F1_ORACLE)
def eval_1nn_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall folded to F1 over the same 1-NN
    assignment as eval_1nn_confusion: tp/fp/fn are exact integers per
    class, F1 = 2tp/(2tp+fp+fn) with ONE mirrored double division
    nanoquantized — the repo's standard recipe for hash-exact ratios.
    Classes with no predictions and no members score 0 by convention
    (the 2tp+fp+fn=0 guard). Together with the confusion matrix this is
    the complete classification-eval surface a labeled-data pipeline
    reports per run."""
    emb = load_table(spark, sf_dir, "embeddings")
    # derive tp/fp/fn from the (<= |classes|^2-row) confusion MATRIX, not
    # the per-query assignment: same numbers, and the class cross-join
    # touches a few dozen rows instead of the whole query side
    matrix = _nn_confusion_matrix(spark, sf_dir)
    classes = emb.select(F.col("label").cast("long").alias("label")).distinct()
    m = classes.crossJoin(matrix).groupBy("label").agg(
        F.sum(
            F.when(
                (F.col("true_label") == F.col("label"))
                & (F.col("pred_label") == F.col("label")),
                F.col("n"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("tp"),
        F.sum(
            F.when(
                (F.col("true_label") != F.col("label"))
                & (F.col("pred_label") == F.col("label")),
                F.col("n"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("fp"),
        F.sum(
            F.when(
                (F.col("true_label") == F.col("label"))
                & (F.col("pred_label") != F.col("label")),
                F.col("n"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("fn"),
    )
    denom = 2 * F.col("tp") + F.col("fp") + F.col("fn")
    return m.select(
        F.col("label").cast("long").alias("label"),
        "tp", "fp", "fn",
        F.when(denom == 0, F.lit(0).cast("long")).otherwise(
            F.floor(
                (2 * F.col("tp")).cast("double") / denom.cast("double") * F.lit(1000000000.0)
            ).cast("long")
        ).alias("f1_q"),
    )
