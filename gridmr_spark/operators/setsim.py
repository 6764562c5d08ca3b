"""Exact set-similarity join via prefix filtering (AllPairs / PPJoin family).

The third exact near-dup path next to the full inverted-index join
(``dedup.jaccard_pairs``) and the probabilistic MinHash-LSH banding
(``dedup.minhash_dedup_pairs``): candidates are generated by joining only
each document's PREFIX tokens under a fixed global token order, then
verified exactly — provably LOSSLESS for a Jaccard threshold, unlike LSH,
while shuffling a fraction of the postings the full join moves.

Why this exists at 100 TB: the full inverted-index self-join shuffles one
posting per (doc, shingle); prefix filtering shuffles only
``|A| - ceil(tau*|A|) + 1`` postings per document (half of them at
tau = 0.5, ~a tenth at tau = 0.9 — the regime real near-dedup runs at),
and the candidate-pair aggregate shrinks quadratically with that factor
because hot tokens only collide when they land in BOTH prefixes.

Correctness (Chaudhuri et al. ICDE'06; Bayardo, Ma & Srikant WWW'07
"Scaling Up All Pairs Similarity Search" — public literature): if
J(A,B) >= tau then |A∩B| >= ceil(tau*|A|) (because J >= tau forces
I >= tau*(|A|+|B|)/(1+tau) >= tau*|A| whenever |B| >= tau*|A|, and pairs
with |B| < tau*|A| cannot reach tau at all), and under ANY fixed total
order of the token universe the first ``|X| - ceil(tau*|X|) + 1`` tokens
of each side must then share an element. Two global orders are offered
(``order=``): document-frequency ASCENDING (the default — the classic
AllPairs rarest-token-first pruning heuristic, one extra
vocabulary-bounded aggregation) and ``(md5(token), token)`` (zero extra
passes, pseudo-random). Any order is equally CORRECT — the theorem holds
for every fixed total order, which the oracle equality (driver gate vs
the quadratic Jaccard definition) proves on real data; the order only
changes how FEW candidate pairs survive the filter, which
``tests/test_setsim.py`` measures directly.

Reference parity note: SebasUr/GridMR has no similarity operator at all
(its data plane is wordcount-shaped map/reduce over text lines,
cpp/worker/src/common/fs.cc); this operator is part of the §2.D "beyond
the reference" LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gridmr_spark.operators.dedup import word_shingles


# Bucket count of the token-id assignment below. Any value works; ids are
# rn * _TID_BUCKETS + bucket, injective because bucket < _TID_BUCKETS.
_TID_BUCKETS = 1 << 14


def _tid_postings(sh: DataFrame, order: str) -> DataFrame:
    """Postings re-keyed to an injective NUMERIC token id: (id, tid, ord1)
    with one row per (doc, shingle) of the input.

    After this point the shingle STRING never travels again (optimization
    guide §2.3, narrower types): the candidate self-join, the per-doc
    sorted sets, and the verify intersection all operate on longs — the
    same joins/sorts/intersections at a fraction of the bytes and of the
    per-row compare cost (the verify stage is hash-per-element; long
    hashing is ~10x cheaper than hashing 25-char shingle strings).

    The id is deterministic and distributed: tokens hash into
    ``_TID_BUCKETS`` buckets, a bucket-partitioned window numbers each
    bucket's DISTINCT shingles in lexicographic order, and
    ``tid = rn * _TID_BUCKETS + bucket`` — injective (bucket < the
    modulus), reproducible across recomputation (total order within each
    bucket), and never a single-partition sort (a global row_number would
    be; this is a keyed window over the vocabulary, the same scale class
    as the df dictionary itself).

    ``ord1`` is the prefix-selection order key (any fixed total order is
    CORRECT; see module note):

    - ``"df"``: document frequency ASCENDING — the classic AllPairs
      rarest-token-first heuristic; prefixes hold the tokens with the
      SHORTEST posting lists, candidate volume shrinks quadratically.
    - ``"hash"``: ``md5(shingle)`` — pseudo-random, decorrelated from
      content, no df aggregation.

    Ties in ``ord1`` break by tid — fixed, which is all the theorem needs.
    """
    vocab = sh.groupBy("shingle").agg(F.count("*").cast("long").alias("tdf"))
    bucket = F.pmod(F.xxhash64("shingle"), F.lit(_TID_BUCKETS))
    wb = Window.partitionBy("_b").orderBy("shingle")
    dic = (
        vocab.withColumn("_b", bucket)
        .withColumn("tid", F.row_number().over(wb).cast("long") * _TID_BUCKETS + F.col("_b"))
    )
    if order == "df":
        dic = dic.select("shingle", "tid", F.col("tdf").alias("ord1"))
    elif order == "hash":
        dic = dic.select("shingle", "tid", F.md5("shingle").alias("ord1"))
    else:
        raise ValueError(f"order must be 'df' or 'hash', got {order!r}")
    return sh.join(dic, "shingle").select("id", "tid", "ord1")


def _prefix_of(shn: DataFrame, tau_num: int, tau_den: int) -> DataFrame:
    """Prefix selection over already-tid-keyed postings (id, tid, ord1)."""
    w = Window.partitionBy("id").orderBy(F.asc("ord1"), F.asc("tid"))
    sizes = shn.groupBy("id").agg(F.count("*").cast("long").alias("sz"))
    # ceil(tau * sz) in exact integer arithmetic, then prefix length
    # p = sz - ceil(tau*sz) + 1.
    need = F.floor((F.col("sz") * tau_num + tau_den - 1) / tau_den).cast("long")
    return (
        shn.withColumn("rn", F.row_number().over(w))
        .join(sizes, "id")
        .where(F.col("rn") <= F.col("sz") - need + 1)
        .select("id", "tid")
    )


def _prefix_candidates(prefix: DataFrame) -> DataFrame:
    """Distinct (id1, id2), id1 < id2, of docs whose prefixes share a token:
    the self equi-join of the (id, tid) prefix postings."""
    return (
        prefix.select(F.col("id").alias("id1"), "tid")
        .join(prefix.select(F.col("id").alias("id2"), "tid"), "tid")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    tau_num: int = 1,
    tau_den: int = 2,
    order: str = "df",
) -> DataFrame:
    """The UNVERIFIED candidate pairs (id1 < id2) the prefix filter
    generates — exposed separately so the pruning power of a token order
    is measurable (tests assert df-ascending <= hash-order candidates)."""
    sh = word_shingles(df, id_col, text_col, n)
    shn = _tid_postings(sh, order).localCheckpoint(eager=True)
    return _prefix_candidates(_prefix_of(shn, tau_num, tau_den))


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    tau_num: int = 1,
    tau_den: int = 2,
    order: str = "df",
    sh: DataFrame | None = None,
) -> DataFrame:
    """All document pairs with shingle-set Jaccard >= tau_num/tau_den,
    found via prefix filtering and verified exactly.

    Returns (id1, id2, sz1, sz2, n_common, jaccard_q) with id1 < id2;
    jaccard_q = floor(1e9 * J) on exact integer counts. The threshold is a
    RATIONAL so the final gate is pure integer arithmetic
    (tau_den * I >= tau_num * U) — no float compare at the boundary.

    Plan shape (one scan, narrow stages after it):
      1. distinct (doc, shingle) postings — the same first shuffle every
         index build pays (map-side combined);
      2. tid re-key: vocabulary-bounded df aggregation + bucket-windowed
         injective numeric id, postings equi-joined once against the
         dictionary (``_tid_postings``) — every later stage moves LONGS,
         never shingle strings (guide §2.3 narrower types);
      3. per-doc prefix selection: one keyed window (partitionBy doc) —
         no global ordering state; ``order="df"`` (the default) makes
         prefixes hold the RAREST tokens;
      4. candidate generation: self equi-join of PREFIX postings only,
         distinct (id1, id2);
      5. verify: candidates equi-join back to per-doc sorted tid arrays
         (two keyed joins), exact |A∩B| via array_intersect on longs.
    Skew note: a token hot in many PREFIXES still fans out quadratically
    within its posting list — production caps it exactly like
    ``jaccard_pairs(max_shingle_df=...)`` drops stop-shingles, or salts the
    verify join; at tau >= 0.8 prefixes are short enough that the classic
    length filter (sz2 <= sz1/tau) already bounds the blow-up.
    """
    # Callers that already hold the (id, shingle) postings of df pass them
    # via ``sh`` (the same contract minhash_dedup_pairs offers) so a
    # composition tokenizes once across all its stages.
    if sh is None:
        sh = word_shingles(df, id_col, text_col, n)
    # tid-keyed postings feed THREE consumers (prefix window, candidate
    # join via it, per-doc sets) — materialize once; the shingle string
    # is gone from here on (narrow longs only).
    shn = _tid_postings(sh, order).localCheckpoint(eager=True)
    cand = _prefix_candidates(_prefix_of(shn, tau_num, tau_den))
    sets = shn.groupBy("id").agg(
        F.sort_array(F.collect_list("tid")).alias("toks"),
        F.count("*").cast("long").alias("sz"),
    )
    joined = cand.join(
        sets.select(
            F.col("id").alias("id1"), F.col("toks").alias("t1"), F.col("sz").alias("sz1")
        ),
        "id1",
    ).join(
        sets.select(
            F.col("id").alias("id2"), F.col("toks").alias("t2"), F.col("sz").alias("sz2")
        ),
        "id2",
    )
    inter = F.size(F.array_intersect("t1", "t2")).cast("long")
    union = F.col("sz1") + F.col("sz2") - F.col("n_common")
    return (
        joined.withColumn("n_common", inter)
        .where(F.col("n_common") * tau_den >= union * tau_num)
        .select(
            "id1",
            "id2",
            "sz1",
            "sz2",
            "n_common",
            F.floor(
                F.col("n_common").cast("double") / union.cast("double") * F.lit(1000000000.0)
            )
            .cast("long")
            .alias("jaccard_q"),
        )
    )
