"""Retrieval & corpus-analytics queries: BM25 keyword search, KMV-sketch
corpus-overlap set algebra, and a Pareto (skyline) frontier.

These extend the LLM-pipeline surface with the *search* side of a data
engine — the reference (SebasUr/GridMR) only ships wordcount-shaped
map/reduce jobs (`docs/` examples), but a user curating training data
needs to QUERY the corpus too: "which documents best match this probe
query" (BM25), "how much does corpus A overlap corpus B" (KMV distinct
sketches), "which candidates are not dominated on two axes" (skyline).

Determinism contract (same as the rest of the repo): every float that
reaches an aggregation is first quantized to an integer (floor(x * 1e9))
so sums are order-insensitive and engine-exact; every division/multiply
chain is written in the SAME order in the Spark plan and the DuckDB
oracle so the IEEE doubles are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gridmr_spark.catalog import load_table
from gridmr_spark.functions.localdata import local_df
from gridmr_spark.queries import query

# ---------------------------------------------------------------------------
# BM25 keyword retrieval
# ---------------------------------------------------------------------------

# Probe queries over the synthetic corpus vocabulary. Literal and fixed so
# both engines see the same set; in production this is a small parameter
# table (always broadcast).
_BM25_QUERIES: list[tuple[int, str]] = [
    (0, "hash join table"),
    (1, "window agg row"),
    (2, "fast scan filter value"),
    (3, "spark data column"),
]
_BM25_K1 = 1.2  # same literal parses to the same IEEE double in both engines
_BM25_B = 0.75  # exactly representable
_BM25_TOPK = 5

_BM25_QUERY_VALUES = ", ".join(
    f"({qid}, '{text}')" for qid, text in _BM25_QUERIES
)

# Shared CTE chain (everything through the per-(query, doc) aggregate);
# search_bm25_topk and search_rrf_fusion both build on it.
_BM25_CTES = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
                     w -> w <> '') AS t
  FROM documents
), d AS (
  SELECT doc_id, len(t) AS dl, t FROM toks WHERE len(t) > 0
), tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(t) AS tok FROM d) GROUP BY doc_id, tok
), df AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM d
), q AS (
  SELECT qid, unnest(list_filter(string_split(qtext, ' '), w -> w <> '')) AS tok
  FROM (VALUES {_BM25_QUERY_VALUES}) AS v(qid, qtext)
), scored AS (
  SELECT q.qid, tf.doc_id,
         CAST(FLOOR(
           ((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
           * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
              / (CAST(tf AS DOUBLE)
                 + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))
           * 1000000000.0) AS BIGINT) AS qscore
  FROM q
  JOIN tf ON tf.tok = q.tok
  JOIN df ON df.tok = q.tok
  JOIN d ON d.doc_id = tf.doc_id
  CROSS JOIN stats
), agg AS (
  SELECT qid, doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(qscore) AS BIGINT) AS score_q
  FROM scored GROUP BY qid, doc_id
)
"""

_BM25_ORACLE = rf"""{_BM25_CTES}
SELECT CAST(qid AS BIGINT) AS query_id, doc_id, n_terms, score_q, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_q DESC, doc_id ASC) AS rnk
  FROM agg
) WHERE rnk <= {_BM25_TOPK}
"""


@query("search_bm25_topk", oracle=_BM25_ORACLE)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: top-5 documents per probe query, scored with
    the Robertson/Sparck-Jones formula over an inverted index built in one
    pass (the same explode→(doc,term)-count→document-frequency shape as
    text_tfidf_topterms).

    idf uses the raw rational (N - df + 0.5)/(df + 0.5) rather than its
    log: ln differs in final ulps across libm implementations and BM25
    SUMS per-term scores, so unlike tf-idf's per-term ranking the
    monotone-transform trick does not apply — instead each per-term score
    is nanolog-quantized (floor(score*1e9) as BIGINT) before the sum, the
    repo-standard order-insensitive exact aggregation.

    Scale shape: the term dictionary (df) and corpus stats are vocabulary-
    bounded (Heaps' law) and broadcast; the query set is a literal
    broadcast table; the only wide shuffle is the (doc,term) count — the
    same one every index build pays. Top-k per query is WindowGroupLimit,
    never a global sort. At 100 TB with a real query LOG (millions of
    queries) the q⋈tf join becomes the classic impact-ordered postings
    problem; the plan here is the batch-scoring shape (query set ≪ corpus)
    which is what training-data curation runs."""
    agg, _d = _bm25_agg(spark, sf_dir)
    w = Window.partitionBy("qid").orderBy(F.desc("score_q"), F.asc("doc_id"))
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _BM25_TOPK)
        .select(
            F.col("qid").alias("query_id"), "doc_id", "n_terms", "score_q", "rnk"
        )
    )


def _bm25_agg(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The shared BM25 plan through the per-(query, doc) aggregate; returns
    (agg[qid, doc_id, n_terms, score_q], d[doc_id, dl])."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]+", " ")), " "),
            lambda w: w != "",
        ).alias("t"),
    ).where(F.size("t") > 0)
    # Catalyst has no common-subtree reuse across join inputs: without
    # materialization the tokenize pipeline runs once PER REFERENCE (tf
    # feeds scored + df, d feeds tf + dl + stats — 3-4 full re-tokenizes
    # in one plan). Two eager checkpoints make each stage run once
    # (guide §1.2 step 1: don't compute things twice).
    d = toks.select(
        "doc_id", F.size("t").cast("long").alias("dl"), "t"
    ).localCheckpoint(eager=True)
    tf = (
        d.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    stats = d.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
    )
    q = local_df(spark, _BM25_QUERIES, "qid long, qtext string").select(
        "qid", F.explode(F.filter(F.split("qtext", " "), lambda w: w != "")).alias("tok")
    )
    tfd = F.col("tf").cast("double")
    dfd = F.col("df").cast("double")
    nd = F.col("n").cast("double")
    dld = F.col("dl").cast("double")
    score = (
        ((nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5)))
        * (
            (tfd * F.lit(_BM25_K1 + 1.0))
            / (tfd + F.lit(_BM25_K1) * (F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * (dld / F.col("avgdl"))))
        )
    )
    scored = (
        q.join(tf, "tok")
        .join(F.broadcast(df_t), "tok")
        .join(d.select("doc_id", "dl"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "qid", "doc_id",
            F.floor(score * F.lit(1000000000.0)).cast("long").alias("qscore"),
        )
    )
    agg = scored.groupBy("qid", "doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"), F.sum("qscore").alias("score_q")
    )
    return agg, d.select("doc_id", "dl")


_RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
_RRF_TOPK = 5

_RRF_ORACLE = rf"""{_BM25_CTES}
, bm AS (
  SELECT qid, doc_id,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_q DESC, doc_id ASC) AS r1
  FROM agg
), prior AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY dl DESC, doc_id ASC) AS r2 FROM d
), fused AS (
  SELECT bm.qid, bm.doc_id, bm.r1, prior.r2,
         CAST(FLOOR((1.0 / ({_RRF_K}.0 + CAST(bm.r1 AS DOUBLE))
                     + 1.0 / ({_RRF_K}.0 + CAST(prior.r2 AS DOUBLE)))
                    * 1000000000.0) AS BIGINT) AS rrf_q
  FROM bm JOIN prior USING (doc_id)
)
SELECT CAST(qid AS BIGINT) AS query_id, doc_id,
       CAST(r1 AS BIGINT) AS r1, CAST(r2 AS BIGINT) AS r2, rrf_q, rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf_q DESC, doc_id ASC) AS rnk
  FROM fused
) WHERE rnk <= {_RRF_TOPK}
"""


@query("search_rrf_fusion", oracle=_RRF_ORACLE)
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the BM25 relevance
    ranking fused with a query-independent document prior (here: length
    rank — the slot a quality-classifier or embedding ranking plugs into)
    by RRF score 1/(60+r1) + 1/(60+r2), the standard trick for combining
    heterogeneous rankings without score calibration. Ranks come from
    row_number windows (deterministic tiebreaks), the fused score is one
    mirrored double expression on integer ranks quantized to BIGINT, so
    the oracle is hash-exact. Scale shape: reuses the BM25 aggregate
    (vocabulary-bounded dictionaries, one wide shuffle); the prior ranking
    is a global sort of doc STATISTICS (two window columns), not content,
    and fusing is an equi-join on doc_id. This is the retrieval stack's
    answer-merging layer — BM25 + ANN rankings fuse identically."""
    from gridmr_spark.functions.ranking import global_row_number

    agg, d = _bm25_agg(spark, sf_dir)
    w_bm = Window.partitionBy("qid").orderBy(F.desc("score_q"), F.asc("doc_id"))
    bm = agg.select("qid", "doc_id", F.row_number().over(w_bm).alias("r1"))
    # The prior is a rank over EVERY document — previously a
    # Window.orderBy with no partition, i.e. a single-partition sort of
    # the whole doc-stats table (the WindowExec all-to-one warning, guide
    # §2). The two-level global_row_number keeps the identical total
    # order ((dl desc, doc_id) is unique) while sorting range partitions
    # in parallel.
    numbered, _n = global_row_number(
        d, [F.desc("dl"), F.asc("doc_id")], out="r2"
    )
    prior = numbered.select("doc_id", "r2")
    fused = bm.join(prior, "doc_id").select(
        "qid", "doc_id", "r1", "r2",
        F.floor(
            (
                F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("r1").cast("double"))
                + F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("r2").cast("double"))
            )
            * F.lit(1000000000.0)
        )
        .cast("long")
        .alias("rrf_q"),
    )
    w_f = Window.partitionBy("qid").orderBy(F.desc("rrf_q"), F.asc("doc_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(w_f))
        .where(F.col("rnk") <= _RRF_TOPK)
        .select(
            F.col("qid").alias("query_id"), "doc_id",
            F.col("r1").cast("long").alias("r1"),
            F.col("r2").cast("long").alias("r2"),
            "rrf_q", "rnk",
        )
    )


# ---------------------------------------------------------------------------
# Token-distribution drift between corpus halves
# ---------------------------------------------------------------------------

_DRIFT_TOPK = 20

_DRIFT_ORACLE = rf"""
WITH t AS (
  SELECT CASE WHEN length(source) = 4 THEN 'a' ELSE 'b' END AS grp,
         unnest(list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
                w -> w <> '')) AS tok
  FROM documents
), c AS (
  SELECT tok,
         CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM t GROUP BY tok
), tot AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb FROM c
), s AS (
  SELECT tok, na, nb,
         CAST(FLOOR((CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)
                     - CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)) * 1000000000.0) AS BIGINT) AS diff_q
  FROM c CROSS JOIN tot
)
SELECT tok, na, nb, diff_q, rk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY abs(diff_q) DESC, tok ASC) AS rk FROM s
) WHERE rk <= {_DRIFT_TOPK}
"""


@query("text_token_drift", oracle=_DRIFT_ORACLE)
def text_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus halves (sources
    src0-src9 vs src10-src19): per-token occurrence-rate difference,
    top-20 by magnitude — the distribution-shift monitor a training
    pipeline runs between ingest batches (did the new crawl's language
    shift under us?). The rate difference is one mirrored double
    expression on exact integer counts, quantized; ranking deterministic.
    Scale shape: one exploded count aggregation (map-side combined,
    vocabulary-bounded output), a single-row totals broadcast, and a
    top-k over the vocabulary — never a second corpus scan. Swapping the
    rate difference for chi-square or PSI is one expression change on the
    same sufficient statistics."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.when(F.length("source") == 4, F.lit("a")).otherwise(F.lit("b")).alias("grp"),
        F.explode(
            F.filter(
                F.split(F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]+", " ")), " "),
                lambda w: w != "",
            )
        ).alias("tok"),
    )
    c = t.groupBy("tok").agg(
        F.sum(F.when(F.col("grp") == "a", 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("grp") == "b", 1).otherwise(0)).cast("long").alias("nb"),
    )
    tot = c.agg(
        F.sum("na").cast("long").alias("ta"), F.sum("nb").cast("long").alias("tb")
    )
    s = c.crossJoin(F.broadcast(tot)).select(
        "tok", "na", "nb",
        F.floor(
            (
                F.col("na").cast("double") / F.col("ta").cast("double")
                - F.col("nb").cast("double") / F.col("tb").cast("double")
            )
            * F.lit(1000000000.0)
        )
        .cast("long")
        .alias("diff_q"),
    )
    # Global top-k via TakeOrderedAndProject + a k-row ranking window —
    # never an unpartitioned WindowExec over the vocabulary (guide §2).
    from gridmr_spark.functions.ranking import ranked_topk

    return ranked_topk(
        s, [F.abs(F.col("diff_q")).desc(), F.asc("tok")], _DRIFT_TOPK, out="rk"
    ).select("tok", "na", "nb", "diff_q", "rk")


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketches: corpus-overlap set algebra
# ---------------------------------------------------------------------------

_KMV_K = 64  # >= per-language distinct-token counts at test SFs => exact regime

# 60-bit md5-portable hash (same idiom as simhash / sampling oracles).
_KMV_H_SQL = "CAST(CAST(('0x' || substr(md5(tok), 1, 15)) AS UBIGINT) AS BIGINT)"

_KMV_ORACLE = rf"""
WITH toks AS (
  SELECT DISTINCT lang,
         unnest(list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
                w -> w <> '')) AS tok
  FROM documents
), h AS (
  SELECT DISTINCT lang, {_KMV_H_SQL} AS h FROM toks
), sk AS (
  SELECT lang, h FROM (
    SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h ASC) AS rn FROM h
  ) WHERE rn <= {_KMV_K}
), s AS (
  SELECT lang, list_sort(list(h)) AS sk FROM sk GROUP BY lang
), pairs AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b, a.sk AS ska, b.sk AS skb
  FROM s a JOIN s b ON a.lang < b.lang
), m AS (
  SELECT lang_a, lang_b,
         CAST(len(ska) AS BIGINT) AS ka,
         CAST(len(skb) AS BIGINT) AS kb,
         list_slice(list_sort(list_distinct(list_concat(ska, skb))), 1, {_KMV_K}) AS un,
         list_intersect(ska, skb) AS inter
  FROM pairs
)
SELECT lang_a, lang_b, ka, kb,
       CAST(len(un) AS BIGINT) AS k_union,
       CAST(len(list_intersect(un, inter)) AS BIGINT) AS k_inter,
       CAST(FLOOR(CAST(len(list_intersect(un, inter)) AS DOUBLE)
                  / CAST(len(un) AS DOUBLE) * 1000000000.0) AS BIGINT) AS jaccard_q
FROM m
"""


@query("sketch_kmv_overlap", oracle=_KMV_ORACLE)
def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap set algebra via KMV (k-minimum-values) distinct
    sketches: for every pair of language sub-corpora, estimate |A|, |B|,
    |A∪B| and |A∩B| over distinct TOKENS from two k=64 sketches instead of
    re-scanning either corpus. The KMV estimator: keep the k smallest
    hash values per set; union-sketch = k smallest of the concatenation
    (pure k-truncation — sketches are mergeable with bounded state, the
    same contract as HLL but supporting INTERSECTION via
    J = |union_sk ∩ A_sk ∩ B_sk| / |union_sk|.

    Driver-gate regime: k=64 >= every per-language distinct-token count at
    test SFs, so every sketch is the full hashed set and the outputs are
    EXACTLY the distinct cardinalities — same exact-regime trick as
    agg_heavy_hitters / agg_quantile_sketch. The approximate regime
    (k=8 over the same data) is covered by an error-bound pytest, and the
    k-truncation merge law (merge(sk(X), sk(Y)) == sk(X∪Y)) by a property
    test.

    Scale shape: one wide shuffle (DISTINCT (lang, token)); the per-corpus
    top-k-smallest is vocabulary-bounded input and k-bounded output; the
    pair join is #corpora² over k-length arrays — driver-tiny. Hash is the
    repo-standard 60-bit md5 (engine-portable); production would swap
    xxhash64 (`F.xxhash64`) with the same plan."""
    docs = load_table(spark, sf_dir, "documents")
    return kmv_sketch_pairs(docs, _KMV_K)


def kmv_sketch_pairs(docs: DataFrame, k: int) -> DataFrame:
    """The KMV plan on any (lang, text) frame at sketch size ``k`` — the
    query uses the exact regime; tests/test_retrieval.py uses k=8 for the
    approximate-regime error bound and the k-truncation merge law."""
    toks = (
        docs.select(
            "lang",
            F.explode(
                F.filter(
                    F.split(F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]+", " ")), " "),
                    lambda w: w != "",
                )
            ).alias("tok"),
        )
        .distinct()
        .select("lang", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long").alias("h"))
        .distinct()
    )
    w = Window.partitionBy("lang").orderBy(F.asc("h"))
    sk = (
        toks.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .groupBy("lang")
        .agg(F.sort_array(F.collect_list("h")).alias("sk"))
    )
    a = sk.select(F.col("lang").alias("lang_a"), F.col("sk").alias("ska"))
    b = sk.select(F.col("lang").alias("lang_b"), F.col("sk").alias("skb"))
    pairs = a.join(F.broadcast(b), F.col("lang_a") < F.col("lang_b"))
    un = F.slice(F.array_sort(F.array_union("ska", "skb")), 1, k)
    inter = F.array_intersect("ska", "skb")
    k_inter = F.size(F.array_intersect(un, inter)).cast("long")
    k_union = F.size(un).cast("long")
    return pairs.select(
        "lang_a", "lang_b",
        F.size("ska").cast("long").alias("ka"),
        F.size("skb").cast("long").alias("kb"),
        k_union.alias("k_union"),
        k_inter.alias("k_inter"),
        F.floor(k_inter.cast("double") / k_union.cast("double") * F.lit(1000000000.0))
        .cast("long")
        .alias("jaccard_q"),
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline)
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = """
SELECT p.p_partkey, p.p_size, CAST(p.p_retailprice AS DOUBLE) AS p_retailprice
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
    AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice)
)
"""


@query("skyline_pareto_front", oracle=_SKYLINE_ORACLE)
def skyline_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) over part: rows not dominated on
    (maximize p_size, minimize p_retailprice). The textbook formulation is
    a quadratic NOT EXISTS self-join (the oracle); the distributed plan is
    O(n) after one narrow aggregation:

      1. group by p_size -> min price per size (bounded: #distinct sizes),
      2. one ordered window over that TINY grouped table: running min of
         price over strictly larger sizes,
      3. broadcast the per-size thresholds back onto the fact scan;
         a row survives iff no strictly-larger size has price <= its own
         AND it achieves its own size's minimum price (ties both kept —
         dominance requires strict improvement on one axis).

    So the fact table is scanned once, shuffled once (the size group-by,
    combiner-reduced to <=#sizes rows), and the quadratic comparison never
    materializes — the skyline join is a broadcast of a dimension the size
    of the distinct-key count. At 100 TB this is the difference between a
    cartesian self-join and a pushdown-friendly single pass."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_size", F.col("p_retailprice").cast("double").alias("p_retailprice")
    )
    return pareto_front(part, maximize="p_size", minimize="p_retailprice")


def pareto_front(df: DataFrame, maximize: str, minimize: str) -> DataFrame:
    """Skyline of ``df`` on (maximize ↑, minimize ↓) via the grouped-
    threshold plan described in skyline_pareto_front (ties on both axes
    all survive — dominance requires strict improvement on one axis).

    The running min over strictly-larger ``maximize`` groups is computed
    DRIVER-SIDE: the grouped table is bounded by the distinct-value count
    of ``maximize`` and the very next step broadcasts it — anything small
    enough to broadcast to every executor is small enough to prefix-scan
    on the driver — so the unpartitioned running-min window (a
    single-partition WindowExec, guide §2) is gone and the threshold
    build costs one collect instead of an extra exchange+sort."""
    from pyspark.sql.types import StructField, StructType

    g = df.groupBy(maximize).agg(F.min(minimize).alias("gmin"))
    # A null key never joins back and a null minimum dominates nothing;
    # a row whose own minimize is null fails every comparison, so it drops.
    rows = [r for r in g.collect() if r[maximize] is not None]
    rows.sort(key=lambda r: r[maximize], reverse=True)
    out_rows, run = [], None
    for r in rows:
        out_rows.append((r[maximize], r["gmin"], run))
        if r["gmin"] is not None:
            run = r["gmin"] if run is None else min(run, r["gmin"])
    schema = StructType(
        list(g.schema.fields)
        + [StructField("run_min", g.schema["gmin"].dataType, True)]
    )
    thresholds = df.sparkSession.createDataFrame(out_rows, schema)
    joined = df.join(F.broadcast(thresholds), maximize)
    dominated = (
        F.col("run_min").isNotNull() & (F.col("run_min") <= F.col(minimize))
    ) | (F.col("gmin") < F.col(minimize))
    return joined.where(~dominated).select(*df.columns)


# ---------------------------------------------------------------------------
# Ranking-quality evaluation (NDCG@k, MRR) of the BM25 ranking vs gold qrels
# ---------------------------------------------------------------------------

_EVAL_K = 5
# Integer DCG discount weights floor(1e9 / log2(r+1)) and reciprocal-rank
# weights floor(1e9 / r), r = 1..5, precomputed in Python and inlined as
# LITERALS in both engines — zero libm calls in either plan, so the sums
# are pure integer arithmetic and hash-exact by construction.
_DCG_W = [1000000000, 630929753, 500000000, 430676558, 386852807]
_RR_W = [1000000000, 500000000, 333333333, 250000000, 200000000]

_WT_VALUES = ", ".join(
    f"({r + 1}, CAST({_DCG_W[r]} AS BIGINT), CAST({_RR_W[r]} AS BIGINT))"
    for r in range(_EVAL_K)
)

_EVAL_ORACLE = rf"""{_BM25_CTES}
, rel AS (
  SELECT qid, doc_id, score_q, LEAST(n_terms, 2) AS rel FROM agg
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score_q DESC, doc_id ASC) AS rnk
  FROM rel
), wt AS (
  SELECT * FROM (VALUES {_WT_VALUES}) AS v(r, w, rr)
), sys AS (
  SELECT qid,
         CAST(SUM((CASE WHEN rel = 2 THEN 3 ELSE 1 END) * w) AS BIGINT) AS dcg_q,
         CAST(MAX(CASE WHEN rel = 2 THEN rr ELSE 0 END) AS BIGINT) AS rr_q
  FROM ranked JOIN wt ON wt.r = ranked.rnk
  WHERE ranked.rnk <= {_EVAL_K}
  GROUP BY qid
), counts AS (
  SELECT qid,
         CAST(SUM(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel2,
         CAST(SUM(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel1
  FROM rel GROUP BY qid
), ideal AS (
  SELECT qid,
         CAST(SUM((CASE WHEN r <= n_rel2 THEN 3
                        WHEN r <= n_rel2 + n_rel1 THEN 1
                        ELSE 0 END) * w) AS BIGINT) AS idcg_q
  FROM counts CROSS JOIN wt GROUP BY qid
)
SELECT CAST(sys.qid AS BIGINT) AS query_id, n_rel2, n_rel1, dcg_q, idcg_q,
       CAST(FLOOR(CAST(dcg_q AS DOUBLE) / CAST(idcg_q AS DOUBLE) * 1000000.0) AS BIGINT)
         AS ndcg_microq,
       rr_q
FROM sys JOIN counts ON sys.qid = counts.qid JOIN ideal ON sys.qid = ideal.qid
"""


@query("search_eval_ndcg", oracle=_EVAL_ORACLE)
def search_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline ranking-quality evaluation of the BM25 retrieval stack:
    NDCG@5 and MRR per probe query against deterministic gold relevance
    judgments (rel = min(#matched distinct query terms, 2) — graded qrels
    derivable from the corpus itself, so both engines agree bit-for-bit).

    The eval harness every retrieval deployment runs next to the engine:
    DCG@5 = sum(gain(rel_r) * 1/log2(r+1)), IDCG from the full qrel counts
    (ideal ranking = all rel-2 docs, then rel-1 — computed from COUNTS, not
    a second ranking pass), NDCG = DCG/IDCG in micro units, MRR = 1/rank of
    the first rel-2 document in the top 5 (0 if absent). The log2 discounts
    and reciprocal ranks are five integer LITERALS precomputed at authoring
    time — the plan contains no transcendental calls, so the oracle is
    hash-exact with no quantization caveats.

    Scale shape: everything downstream of the BM25 aggregate is per-query
    (4 rows here; bounded by the eval-suite size in production — thousands,
    never corpus-scale): one WindowGroupLimit for the system top-k, one
    count aggregate for the qrels, a 5-row broadcast for positions. The
    corpus-scale work is exactly the one inverted-index pass BM25 already
    pays; evaluation adds zero extra corpus scans."""
    agg, _d = _bm25_agg(spark, sf_dir)
    # agg feeds three consumers (system ranking, qrel counts, and through
    # counts the ideal DCG) — materialize once so the BM25 index build
    # doesn't replay per consumer (the jaccard_pairs localCheckpoint
    # rationale; measured ~2x on the registered query).
    agg = agg.localCheckpoint(eager=True)
    rel = agg.withColumn("rel", F.least(F.col("n_terms"), F.lit(2)))
    w = Window.partitionBy("qid").orderBy(F.desc("score_q"), F.asc("doc_id"))
    ranked = rel.withColumn("rnk", F.row_number().over(w))
    dcg_w = F.array(*[F.lit(x).cast("long") for x in _DCG_W])
    rr_w = F.array(*[F.lit(x).cast("long") for x in _RR_W])
    top = ranked.where(F.col("rnk") <= _EVAL_K)
    sys_m = top.groupBy("qid").agg(
        F.sum(
            F.when(F.col("rel") == 2, F.lit(3)).otherwise(F.lit(1))
            * F.element_at(dcg_w, F.col("rnk"))
        )
        .cast("long")
        .alias("dcg_q"),
        F.max(
            F.when(F.col("rel") == 2, F.element_at(rr_w, F.col("rnk"))).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("rr_q"),
    )
    counts = rel.groupBy("qid").agg(
        F.sum(F.when(F.col("rel") == 2, 1).otherwise(0)).cast("long").alias("n_rel2"),
        F.sum(F.when(F.col("rel") == 1, 1).otherwise(0)).cast("long").alias("n_rel1"),
    )
    pos = spark.range(1, _EVAL_K + 1).select(
        F.col("id").cast("int").alias("r"),
        F.element_at(dcg_w, F.col("id").cast("int")).alias("w"),
    )
    ideal = (
        counts.crossJoin(F.broadcast(pos))
        .groupBy("qid")
        .agg(
            F.sum(
                F.when(F.col("r") <= F.col("n_rel2"), F.lit(3))
                .when(F.col("r") <= F.col("n_rel2") + F.col("n_rel1"), F.lit(1))
                .otherwise(F.lit(0))
                * F.col("w")
            )
            .cast("long")
            .alias("idcg_q")
        )
    )
    return (
        sys_m.join(counts, "qid")
        .join(ideal, "qid")
        .select(
            F.col("qid").cast("long").alias("query_id"),
            "n_rel2",
            "n_rel1",
            "dcg_q",
            "idcg_q",
            F.floor(
                F.col("dcg_q").cast("double") / F.col("idcg_q").cast("double")
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("ndcg_microq"),
            "rr_q",
        )
    )
