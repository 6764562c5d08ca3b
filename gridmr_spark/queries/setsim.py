"""Set-similarity join queries: prefix-filtered exact Jaccard pairs.

Completes the near-dup family's exact-algorithms corner: `dedup_ngram_jaccard`
is the full inverted-index join (ground truth, shuffles every posting),
`dedup_minhash_lsh` is the probabilistic banding path (linear shuffle, recall
< 1 in general), and `dedup_setsim_prefix` here is the EXACT sub-quadratic
middle — prefix filtering (AllPairs/PPJoin, Bayardo et al. WWW'07) shuffles
only the prefix postings yet provably finds every pair above the threshold.

The oracle is the quadratic Jaccard DEFINITION (same CTE chain as
dedup_ngram_jaccard's), so a green driver row is a machine-checked proof of
the lossless-filtering theorem on this corpus — not just a self-consistency
check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gridmr_spark.catalog import load_table
from gridmr_spark.operators import setsim
from gridmr_spark.queries import query

# Exact quadratic Jaccard >= 1/2 over distinct 3-word shingles — the
# definition, with sizes/intersection surfaced and the repo-standard
# nanoquantized score. The threshold gate is pure integer arithmetic
# (2*I >= U) so the boundary is engine-exact.
_SETSIM_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), t -> t <> '') AS ws
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(ws)-2),
         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2, s1.sz AS sz1, s2.sz AS sz2, c AS n_common,
       CAST(FLOOR(CAST(c AS DOUBLE) / CAST(s1.sz + s2.sz - c AS DOUBLE)
                  * 1000000000.0) AS BIGINT) AS jaccard_q
FROM common
JOIN sizes s1 ON id1 = s1.doc_id
JOIN sizes s2 ON id2 = s2.doc_id
WHERE 2 * c >= s1.sz + s2.sz - c
"""


@query("dedup_setsim_prefix", oracle=_SETSIM_ORACLE)
def dedup_setsim_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs (3-shingle Jaccard >= 0.5) via PREFIX-FILTERED
    set-similarity join: candidates come from equi-joining only each
    document's first ``sz - ceil(tau*sz) + 1`` shingles under a fixed
    pseudo-random global order, then exact verification on sorted shingle
    arrays. Provably lossless (prefix-filter theorem) — the oracle is the
    unfiltered quadratic definition, so hash-equality IS the proof.

    vs dedup_ngram_jaccard: same answer, but the candidate join moves only
    prefix postings (half at tau=0.5, ~10% at the tau=0.9 production
    regime) and hot shingles collide only when sampled into both prefixes.
    vs dedup_minhash_lsh: no recall loss, no signature computation; LSH
    still wins when tau is low and documents are huge (prefixes stay long).
    At 100 TB you run THIS for tau >= 0.8 contract-grade dedup and LSH for
    exploratory clustering — both are one `queries()` call apart here."""
    docs = load_table(spark, sf_dir, "documents")
    return setsim.prefix_filter_pairs(docs, "doc_id", "text", n=3, tau_num=1, tau_den=2)


# Near-dup SURVIVORSHIP: the step after pair-finding — cluster the pair
# graph transitively, keep ONE representative per cluster (longest text,
# ties to the smallest id). The oracle recomputes pairs from the quadratic
# definition, closes them with a recursive CTE, and picks representatives
# with the same deterministic rule — so one hash row proves the lossless
# pair search, the transitive closure, AND the keep-rule end to end.
_KEEP_BEST_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), t -> t <> '') AS ws
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(ws)-2),
         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), p AS (
  SELECT id1, id2 FROM common
  JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
  WHERE 2 * c >= s1.sz + s2.sz - c
), e AS (
  SELECT id1 AS s, id2 AS d FROM p UNION SELECT id2, id1 FROM p
), r(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, e.d FROM r JOIN e ON r.b = e.s
), comp AS (
  SELECT a AS doc_id, MIN(b) AS cluster_id FROM r GROUP BY a
), ranked AS (
  SELECT c.cluster_id, d.doc_id, length(d.text) AS n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY length(d.text) DESC, d.doc_id) AS rnk
  FROM comp c JOIN documents d USING (doc_id)
)
SELECT cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(CASE WHEN rnk = 1 THEN doc_id END) AS BIGINT) AS kept_doc_id,
       CAST(MIN(CASE WHEN rnk = 1 THEN n_chars END) AS BIGINT) AS kept_chars
FROM ranked GROUP BY cluster_id
"""


@query("dedup_keep_best", oracle=_KEEP_BEST_ORACLE)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate SURVIVORSHIP — the decision step real dedup ships:
    exact sub-quadratic pair search (prefix filter, lossless by theorem)
    -> connected components over the pair graph (a~b, b~c puts a,c in one
    cluster even below pairwise threshold) -> ONE representative per
    cluster by a deterministic quality rule (longest text, ties to the
    smallest doc_id). Composes three proven layers and the oracle replays
    the COMPOSITION (quadratic pairs + recursive-CTE closure + the same
    keep rule), so the green row certifies the end-to-end decision, not
    the parts.

    DIGEST PRE-COLLAPSE (round 10, SCALING.md's own mitigation, now the
    default): exact duplicates (identical text, hence identical shingle
    sets) are collapsed to one representative per md5(text) BEFORE pair
    search, and each copy is re-attached by a star edge to its
    representative. Only SHINGLE-BEARING docs (>= n tokens) collapse: a
    shingle-less doc pairs with nothing under the definition — not even
    its byte-identical twin — so starring it would merge what the oracle
    keeps separate. With that guard components are provably unchanged —
    a copy's Jaccard to ANY document equals its representative's, so
    every lost edge (x, y) is re-derived via x—rep(x)—y — but a k-copy
    clique now
    contributes k-1 star edges instead of C(k,2) near-dup edges AND its
    shingles enter the posting lists once, which is exactly what turned
    the sf1 tiled corpus (10-copy cliques) superlinear before
    (tests/test_setsim.py pins the equivalence; SCALING.md records the
    measured alpha drop). Scale: the collapse is one narrow
    groupBy(digest); pair search moves prefix postings of UNIQUE texts
    only; CC solves the sparse dup graph in one task while its edge count
    is at most ``graph.SMALL_GRAPH_EDGES`` (pointer-jumping rounds, one
    job each, above it); survivorship is one aggregate over clusters —
    every stage keyed, nothing quadratic, nothing driver-side."""
    docs = load_table(spark, sf_dir, "documents")
    return keep_best_survivorship(docs)


def keep_best_survivorship(
    docs: DataFrame,
    collapse_exact: bool = True,
    tau_num: int = 1,
    tau_den: int = 2,
) -> DataFrame:
    """The dedup_keep_best plan on any (doc_id, text) frame — exposed so
    tests can prove the digest pre-collapse changes nothing but cost
    (``collapse_exact=False`` runs the pre-round-10 all-docs pair
    search). ``tau_num/tau_den`` is the Jaccard threshold dial SCALING.md
    names as the lever on dup-dense corpora: a higher tau shrinks both
    the prefix postings AND the surviving cliques (measured there at
    tau = 4/5 on the tiled sf1 corpus). The pair graph's components come
    from ``connected_components``: one task while the graph is small,
    distributed pointer-jumping rounds above ``SMALL_GRAPH_EDGES``."""
    from pyspark.sql import functions as F

    from gridmr_spark.operators.graph import connected_components

    if not collapse_exact:
        pairs = setsim.prefix_filter_pairs(
            docs, "doc_id", "text", n=3, tau_num=tau_num, tau_den=tau_den
        )
        comp = connected_components(
            docs.select(F.col("doc_id").alias("id")),
            pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst")),
        )
        return _rank_survivors(docs, comp)
    comp = _near_dup_components(docs, tau_num=tau_num, tau_den=tau_den).select(
        "id", F.col("cluster_id").alias("component")
    )
    return _rank_survivors(docs, comp)


def _rank_survivors(docs: DataFrame, comp: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    members = comp.join(docs, comp["id"] == docs["doc_id"]).select(
        F.col("component").alias("cluster_id"),
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
    )
    # The keep rule (longest text, ties to the smallest doc_id) is an
    # argmax, so ONE hash aggregate with max_by replaces the old
    # window-rank + re-aggregate: same shuffle key, but partial map-side
    # aggregation instead of a full per-partition sort, and no second agg.
    # (n_chars, -doc_id) is a unique ordering per cluster, so max_by is
    # deterministic and picks exactly the old rnk = 1 row.
    best = F.max_by(
        F.struct("doc_id", "n_chars"),
        F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("_nd")),
    )
    return members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        best.getField("doc_id").cast("long").alias("kept_doc_id"),
        best.getField("n_chars").cast("long").alias("kept_chars"),
    )


# Leakage-safe split: the eval-hygiene op every training pipeline needs —
# if a near-duplicate of a validation document sits in train, the eval is
# contaminated no matter how good the exact-dedup was. Assignment must
# therefore be BY NEAR-DUP CLUSTER, not by document: cluster the pair
# graph transitively, hash the CLUSTER id into train/val. The oracle
# replays the whole composition (quadratic pairs -> recursive-CTE closure
# -> the identical 60-bit md5 split rule) so one hash row certifies that
# no near-dup pair can ever straddle the split.
_LEAKAGE_SPLIT_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), t -> t <> '') AS ws
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(ws)-2),
         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(COUNT(*) AS BIGINT) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), p AS (
  SELECT id1, id2 FROM common
  JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
  WHERE 2 * c >= s1.sz + s2.sz - c
), e AS (
  SELECT id1 AS s, id2 AS d FROM p UNION SELECT id2, id1 FROM p
), r(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, e.d FROM r JOIN e ON r.b = e.s
), comp AS (
  SELECT a AS doc_id, MIN(b) AS cluster_id FROM r GROUP BY a
)
SELECT doc_id, cluster_id,
       CASE WHEN CAST(CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) % 10 < 8
            THEN 'train' ELSE 'val' END AS split
FROM comp
"""


@query("pipeline_leakage_safe_split", oracle=_LEAKAGE_SPLIT_ORACLE)
def pipeline_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val split with a NO-NEAR-DUP-LEAKAGE guarantee: documents are
    clustered by the exact near-dup relation (lossless prefix-filtered
    pair search -> transitive closure), and the deterministic 80/20
    assignment hashes the CLUSTER id — so a validation document's
    near-duplicates land in validation BY CONSTRUCTION, the property
    per-document hashing cannot give (Lee et al.'s dedup-eval-leakage
    observation turned into a split rule). The md5-60-bit hash rule is
    engine-portable, so the oracle replays pairs + closure + rule and the
    hash row proves the guarantee end to end. Scale: the pair graph and
    CC are the proven dedup_keep_best machinery (digest pre-collapse,
    connected components in one task for a small dup graph); the split
    itself is one hash map — no new shuffle beyond the clustering the
    pipeline already runs."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    comp = _near_dup_components(docs)
    split_hash = (
        F.conv(
            F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 15), 16, 10
        ).cast("long") % 10
    )
    return comp.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        F.when(split_hash < 8, F.lit("train")).otherwise(F.lit("val")).alias("split"),
    )


def _near_dup_components(
    docs: DataFrame, tau_num: int = 1, tau_den: int = 2
) -> DataFrame:
    """(id, cluster_id) under the exact near-dup relation (3-shingle
    Jaccard >= tau, default 1/2) with the digest pre-collapse front — the
    clustering core shared by dedup_keep_best and
    pipeline_leakage_safe_split.

    Only SHINGLE-BEARING docs (>= n tokens) participate in the collapse:
    a doc with an empty shingle set can never pair with anything under
    the definition — not even its byte-identical twin — so a star edge
    there would merge what the quadratic oracle keeps separate."""
    from pyspark.sql import functions as F

    from gridmr_spark.operators.dedup import word_shingles
    from gridmr_spark.operators.graph import connected_components

    # ONE tokenize+shingle pass over all docs serves the whole composition:
    # eligibility (a doc has >= 1 shingle <=> >= n tokens, so the old
    # size(normalize_tokens) >= n re-tokenization is a distinct over this
    # table), the digest pre-collapse (md5 needs no tokens at all — and a
    # digest group is homogeneous in eligibility, identical text having
    # identical token counts, so semi-joining the groups against shingle-
    # bearing ids yields exactly the old eligible-docs collapse), and the
    # pair search (postings = this table minus the collapsed copies, which
    # is precisely word_shingles(rep_docs) since shingling is per-doc).
    sh_all = word_shingles(docs, "doc_id", "text", 3).localCheckpoint(eager=True)
    eligible_ids = sh_all.select(F.col("id").alias("doc_id")).distinct()
    digests = docs.select("doc_id", F.md5("text").alias("_digest")).join(
        eligible_ids, "doc_id", "left_semi"
    )
    reps = digests.groupBy("_digest").agg(F.min("doc_id").alias("rep_id"))
    # copies feeds TWO consumers (the postings anti-join and the star
    # edges) — materialize once. Tiny frame (dup docs only).
    copies = (
        digests.join(reps, "_digest")
        .where(F.col("doc_id") != F.col("rep_id"))
        .select("doc_id", "rep_id")
        .localCheckpoint(eager=True)
    )
    rep_sh = sh_all.join(
        copies.select(F.col("doc_id").alias("id")), "id", "left_anti"
    )
    pairs = setsim.prefix_filter_pairs(
        docs, "doc_id", "text", n=3, tau_num=tau_num, tau_den=tau_den, sh=rep_sh
    )
    star = copies.select(
        F.col("rep_id").alias("src"), F.col("doc_id").alias("dst")
    )
    edges = pairs.select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    ).unionByName(star)
    return connected_components(
        docs.select(F.col("doc_id").alias("id")), edges
    ).select("id", F.col("component").alias("cluster_id"))
