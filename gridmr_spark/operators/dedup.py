"""Deduplication operators for LLM training-data pipelines: exact,
n-gram Jaccard (exact pairwise), MinHash+LSH (approximate, the 100 TB path),
and SimHash.

Design for scale:
- Exact dedup: hash-groupBy on the dedup key — one shuffle, map-side combine.
- Jaccard pairs: inverted-index self-join on shingles (NOT a cross join) —
  candidate pairs are generated only for docs sharing a shingle. Ultra-common
  shingles create join skew at scale; callers can cap document frequency via
  ``max_shingle_df`` (drops stop-shingles, standard MinHashLSH practice).
- MinHash/LSH: fixed-width signature (k minhashes) per doc computed in ONE
  groupBy pass (k aggregate columns, all JVM-side); banding turns near-dup
  search into an equi-join on (band_id, band_hash) — linear shuffle, no n².
- SimHash: 64-bit signature via per-bit weighted majority — one explode +
  one groupBy; Hamming-distance candidate pairs join on rotated bit-blocks.

Everything is built-in-function based (xxhash64, pmod, bitwise ops) — no
Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 2^31-1 (Mersenne prime): permutation universe for minhash. Products
# a*h + b stay < 2^62 — no bigint overflow without 128-bit arithmetic.
_MERSENNE = 2147483647


def normalize_tokens(text_col: str = "text"):
    """lowercased alphanumeric tokens, empties removed (reference-parity
    normalization: cpp/worker/map.cc:12-21)."""
    return F.filter(
        F.split(F.lower(F.regexp_replace(F.col(text_col), "[^a-zA-Z0-9]+", " ")), " "),
        lambda t: t != "",
    )


def _shingle_idx(n: int):
    # Guard: sequence(0, x) with x<0 would produce a DESCENDING sequence in
    # Spark, not an empty one — short docs need an explicit empty array.
    return F.when(F.size("ws") >= n, F.sequence(F.lit(0), F.size("ws") - n)).otherwise(
        F.array().cast("array<int>")
    )


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) pairs — distinct word n-grams per document.

    SHAPE MATTERS: tokenization materializes in its own projection and the
    explode sits directly over the shingle expression in the next one. An
    extra intermediate projection (e.g. naming the shingle array before
    exploding) measured 15x slower — Catalyst's project-collapse inlines the
    tokenizer into every lambda slice, re-running the regex per shingle.
    """
    toks = df.select(F.col(id_col).alias("id"), normalize_tokens(text_col).alias("ws"))
    return toks.select(
        "id",
        F.explode(
            F.array_distinct(
                F.transform(_shingle_idx(n), lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i + 1, n)))
            )
        ).alias("shingle"),
    )


def shingle_halves(
    old: DataFrame, new: DataFrame, id_col: str, text_col: str, n: int = 3
) -> list[DataFrame]:
    """[sh_old, sh_new]: the materialized (id, shingle) tables of two
    corpora. The halves are independent jobs, so they materialize
    concurrently — the second's tasks back-fill the first's straggler
    tail (optimization guide §2.6)."""
    from gridmr_spark.operators.parallel import run_parallel

    return run_parallel(
        lambda: word_shingles(old, id_col, text_col, n).localCheckpoint(eager=True),
        lambda: word_shingles(new, id_col, text_col, n).localCheckpoint(eager=True),
    )


def _shingle_sizes(sh: DataFrame) -> DataFrame:
    """|distinct shingles| per doc, aggregated from the exploded shingle
    table. Deliberately NOT a per-row size(array_distinct(...)) projection:
    that variant measured 4x SLOWER end-to-end, because the inner join's
    inferred isnotnull(sz) constraint gets pushed below the projection with
    the whole shingle expression substituted in — including the tokenizer
    inlined into the lambda (re-run per shingle index) — so every row pays
    the quadratic expression twice. Aggregating `sh` reuses work the join
    already does, with map-side combine."""
    return sh.groupBy("id").agg(F.count("*").alias("sz"))


def _jaccard_at_least(
    common: DataFrame, sizes1: DataFrame, sizes2: DataFrame, threshold: float
) -> DataFrame:
    """(id1, id2, jaccard) for the rows of ``common`` (id1, id2, c = |A∩B|)
    with jaccard = c / (sz1 + sz2 - c) >= threshold; ``sizes1``/``sizes2``
    are the (id, sz) shingle counts of the id1 and id2 sides."""
    s1 = sizes1.select(F.col("id").alias("id1"), F.col("sz").alias("sz1"))
    s2 = sizes2.select(F.col("id").alias("id2"), F.col("sz").alias("sz2"))
    return (
        common.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1",
            "id2",
            (F.col("c").cast("double") / (F.col("sz1") + F.col("sz2") - F.col("c")).cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep the min-id representative per duplicate group (deterministic,
    unlike dropDuplicates' arbitrary winner). One shuffle on the key."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via inverted-index join.

    jaccard(A,B) = |A∩B| / (|A|+|B|-|A∩B|); the intersection count comes from
    a self-join on shingle, so only co-occurring docs are compared. The
    division is a single double op on exact integers — engine-deterministic.

    The shingle table feeds THREE consumers (both self-join sides + the
    size aggregate), so it is materialized ONCE via localCheckpoint —
    lineage is cut, the tokenizer/explode never re-runs, and the blocks are
    released automatically when the result DataFrame is garbage-collected
    (unlike the round-1 cache(), which pinned executor storage for the
    session; unpersist() can't be called here because the caller hasn't
    materialized the lazy result yet).
    """
    sh = word_shingles(df, id_col, text_col, n).localCheckpoint(eager=True)
    if max_shingle_df is not None:
        hot = sh.groupBy("shingle").count().where(F.col("count") > max_shingle_df)
        sh = sh.join(hot.select("shingle"), "shingle", "left_anti")
    sizes = _shingle_sizes(sh)
    a = sh.select(F.col("id").alias("id1"), "shingle")
    b = sh.select(F.col("id").alias("id2"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("c"))
    )
    return _jaccard_at_least(common, sizes, sizes, threshold)


def _perm_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation parameters, a odd, in [1, P)."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE) | 1, rng.randrange(0, _MERSENNE)) for _ in range(k)]


def minhash_signatures_from_shingles(sh: DataFrame, k: int = 64) -> DataFrame:
    """k-wide MinHash signature per doc from an (id, shingle) table, one
    groupBy pass.

    base = xxhash64(shingle) mod P; h_i = (a_i*base + b_i) mod P; sig_i =
    min over shingles. All JVM expressions — the k aggregates compile into
    one hash-aggregate operator. Taking the shingle TABLE (not the raw
    docs) lets callers that also need the shingles for exact verification
    tokenize once and reuse the materialized table for both stages."""
    base = F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE))
    aggs = [
        F.min(F.pmod(F.lit(a) * base + F.lit(b), F.lit(_MERSENNE))).alias(f"mh{i}")
        for i, (a, b) in enumerate(_perm_params(k))
    ]
    return sh.groupBy(F.col("id")).agg(*aggs)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 64
) -> DataFrame:
    """k-wide MinHash signature per doc (tokenizes internally; see
    minhash_signatures_from_shingles for the shingle-reusing form)."""
    return minhash_signatures_from_shingles(word_shingles(df, id_col, text_col, n), k)


def _stacked_bands(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """(id, band_id, band_hash) rows — one per (doc, band)."""
    if k % bands != 0:
        raise ValueError(
            f"k={k} must be divisible by bands={bands}: a remainder would "
            "silently drop the trailing minhash columns and degrade recall"
        )
    rows = k // bands
    band_cols = [
        F.xxhash64(*[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select("id", *band_cols)
    return banded.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("band_hash"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "bb.band_id", "bb.band_hash")


def lsh_candidate_pairs(sig: DataFrame, k: int = 64, bands: int = 16) -> DataFrame:
    """Band the signature and equi-join on (band, band_hash): docs agreeing
    on all rows of any band become candidates. rows_per_band = k/bands tunes
    the precision/recall tradeoff (16 bands × 4 rows ≈ s-curve at j≈0.5)."""
    return _band_self_join(_stacked_bands(sig, k, bands))


def _band_self_join(stacked: DataFrame) -> DataFrame:
    """Distinct (id1, id2) pairs, id1 < id2, of docs sharing a
    (band_id, band_hash) bucket of an (id, band_id, band_hash) table."""
    other = stacked.select(
        F.col("id").alias("id2"), F.col("band_id"), F.col("band_hash")
    )
    return (
        stacked.join(other, ["band_id", "band_hash"])
        .where(F.col("id") < F.col("id2"))
        .select(F.col("id").alias("id1"), "id2")
        .distinct()
    )


def minhash_dedup_incremental(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    sh_old: DataFrame | None = None,
    sh_new: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dedup: NEW documents checked against the OLD corpus
    only — the nightly-ingest shape. Bipartite banding: candidates are
    (old, new) band collisions exclusively; no old×old pair is ever
    generated, so a day's ingest costs O(|new| + collisions), not a rebuild
    of the historical pair set. In production the old side's signatures and
    shingles are precomputed artifacts of previous runs — the plan below
    recomputes them only because the test corpus is one table.

    Output: (id1=old, id2=new, jaccard >= threshold), exact-verified like
    minhash_dedup_pairs."""
    # Each half tokenizes ONCE (materialized), feeding its signature pass
    # and its verify-join leg — in production the old half is a precomputed
    # artifact and this checkpoint is a table read. Callers that already
    # hold the (id, shingle) tables pass BOTH via sh_old/sh_new (MUST be
    # materialized) so a composition like the nightly pipeline shingles
    # each half exactly once across all its stages.
    if (sh_old is None) != (sh_new is None):
        raise ValueError("pass both sh_old and sh_new, or neither")
    if sh_old is None:
        sh_old, sh_new = shingle_halves(old, new, id_col, text_col, n)
    sig_old = minhash_signatures_from_shingles(sh_old, k)
    sig_new = minhash_signatures_from_shingles(sh_new, k)
    a = _stacked_bands(sig_old, k, bands).select(
        F.col("id").alias("id1"), "band_id", "band_hash"
    )
    b = _stacked_bands(sig_new, k, bands).select(
        F.col("id").alias("id2"), "band_id", "band_hash"
    )
    # Candidate set feeds three consumers (two id semi-filters + the final
    # pair semi-join) — materialize once so the banding join runs once.
    cand = (
        a.join(b, ["band_id", "band_hash"]).select("id1", "id2").distinct()
        .localCheckpoint(eager=True)
    )
    # Semi-filter each shingle leg down to candidate documents BEFORE the
    # shingle equi-join: without this the verify stage scales with the full
    # bipartite inverted index (sum over shingles of df_old*df_new), not
    # with band collisions — which is the cost contract documented above.
    # Filtering by ids is a superset of the final (id1, id2) semi-join, so
    # the result is unchanged.
    old_leg = (
        sh_old.select(F.col("id").alias("id1"), "shingle")
        .join(cand.select("id1").distinct(), "id1", "left_semi")
    )
    new_leg = (
        sh_new.select(F.col("id").alias("id2"), "shingle")
        .join(cand.select("id2").distinct(), "id2", "left_semi")
    )
    common = (
        old_leg.join(new_leg, "shingle")
        .join(cand, ["id1", "id2"], "left_semi")
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("c"))
    )
    return _jaccard_at_least(common, _shingle_sizes(sh_old), _shingle_sizes(sh_new), threshold)


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    sh: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates -> exact Jaccard verification (the standard two-stage
    near-dup pipeline). Output matches jaccard_pairs up to LSH recall; at
    100 TB this replaces the inverted-index join's worst-case blowup with a
    bounded candidate set."""
    # ONE tokenize+shingle pass, materialized: the table feeds the signature
    # aggregation AND both verify-join legs AND the size aggregate — without
    # the checkpoint each consumer re-runs the tokenizer over the raw text.
    if sh is None:
        sh = word_shingles(df, id_col, text_col, n).localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(
        minhash_signatures_from_shingles(sh, k), k, bands
    ).localCheckpoint(eager=True)
    return verify_jaccard_pairs(sh, cand, threshold)


def verify_jaccard_pairs(sh: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair set against an
    (id, shingle) table: output ⊆ exact pairs, with the exact jaccard
    attached — the shared verify stage of every candidate generator
    (batch LSH, incremental bipartite, streaming band state). Both legs
    are semi-filtered to candidate documents before the shingle equi-join
    so verification scales with candidate volume, not with the full
    inverted-index join."""
    sizes = _shingle_sizes(sh)
    cand_ids = cand.select(F.col("id1").alias("id")).union(
        cand.select(F.col("id2").alias("id"))
    ).distinct()
    shc = sh.join(cand_ids, "id", "left_semi")
    a = shc.select(F.col("id").alias("id1"), "shingle")
    b = shc.select(F.col("id").alias("id2"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("id1") < F.col("id2"))
        .join(cand, ["id1", "id2"], "left_semi")
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("c"))
    )
    return _jaccard_at_least(common, sizes, sizes, threshold)


def simhash64(df: DataFrame, id_col: str, text_col: str, n_bits: int = 64, hash_col=None) -> DataFrame:
    """n_bits-wide SimHash per document: per-bit weighted majority over token
    hashes (token weight = term frequency). Near-dups have small Hamming
    distance. One explode + one n_bits-agg groupBy, all bitwise JVM
    expressions.

    ``hash_col`` maps the ``tok`` column to a >= n_bits-entropy integer;
    default is xxhash64 (fastest JVM path). Oracle-minded callers can pass an
    engine-portable hash (e.g. md5-hex → long) so an external SQL engine can
    reproduce the signature bit-for-bit."""
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(normalize_tokens(text_col)).alias("tok")
    )
    weighted = toks.groupBy("id", "tok").agg(F.count("*").alias("w"))
    h_expr = F.xxhash64("tok") if hash_col is None else hash_col
    # Project the token hash ONCE per (id, tok) row: referencing the raw
    # expression inside all n_bits aggregates plants n_bits copies in both
    # the partial and final agg (audited: 240 md5/conv sites in the plan
    # at n_bits=60 with the portable md5 hash) and each row pays the hash
    # n_bits times.
    weighted = weighted.select("id", "w", h_expr.alias("_h"))
    h = F.col("_h")
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.col("w")).otherwise(-F.col("w"))
        ).alias(f"b{j}")
        for j in range(n_bits)
    ]
    per_bit = weighted.groupBy("id").agg(*bit_aggs)
    sig = None
    for j in range(n_bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        shifted = F.shiftleft(term, j)
        sig = shifted if sig is None else sig.bitwiseXOR(shifted)
    return per_bit.select("id", sig.alias("simhash"))


def simhash_near_pairs(
    sig: DataFrame, max_hamming: int = 3, blocks: int = 4, n_bits: int = 64
) -> DataFrame:
    """Candidate pairs with Hamming(simhash) <= max_hamming via the
    pigeonhole block trick: split n_bits bits into `blocks` blocks; any pair
    within distance < blocks must agree on >= 1 whole block -> equi-join per
    block, then exact popcount filter. Linear-ish shuffle, no cross join."""
    if max_hamming >= blocks:
        raise ValueError(
            f"max_hamming={max_hamming} must be < blocks={blocks}: the "
            "pigeonhole guarantee (some block untouched by any flipped bit) "
            "only holds below the block count — raise blocks instead"
        )
    if n_bits % blocks != 0:
        raise ValueError(f"blocks={blocks} must divide n_bits={n_bits}")
    width = n_bits // blocks
    mask = (1 << width) - 1
    # The signature subplan (explode + two wide aggregations) feeds BOTH legs
    # of every per-block join — 2*blocks consumers. Materialize it ONCE
    # (localCheckpoint, eager): without this Spark re-derives the signatures
    # from the raw text 2*blocks times (audited: 8 scans / 34 hashAggs at
    # blocks=4). The signature table is one narrow row per doc — tiny
    # relative to recomputing the tokenize+agg pipeline per leg.
    blocked = sig.select(
        "id",
        "simhash",
        *[
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias(f"blk{b}")
            for b in range(blocks)
        ],
    ).localCheckpoint(eager=True)
    pairs = None
    for b in range(blocks):
        left = blocked.select(
            F.col("id").alias("id1"), F.col("simhash").alias("sh1"), F.col(f"blk{b}").alias("blk")
        )
        right = blocked.select(
            F.col("id").alias("id2"), F.col("simhash").alias("sh2"), F.col(f"blk{b}").alias("blk")
        )
        p = left.join(right, "blk").where(F.col("id1") < F.col("id2")).select("id1", "id2", "sh1", "sh2")
        pairs = p if pairs is None else pairs.unionAll(p)
    pairs = pairs.distinct()
    ham = F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2")))
    return pairs.select("id1", "id2", ham.alias("hamming")).where(F.col("hamming") <= max_hamming)
