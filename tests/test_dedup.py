"""Dedup operator semantics: planted duplicates, MinHash-LSH recall vs the
exact Jaccard ground truth, SimHash vs a pure-Python reference."""

from __future__ import annotations

import pytest

from gridmr_spark.operators import dedup


@pytest.fixture(scope="module")
def planted_docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank every sunny morning"
    near = base.replace("sunny", "rainy")  # 1-word edit => high jaccard
    far = "completely different content about spark shuffles and adaptive query execution plans"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, near),  # near dup of 1
        (4, far),
        (5, "short doc"),  # < 3 tokens after shingling guard
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_deterministic_keeper(planted_docs):
    out = dedup.exact_dedup(planted_docs, ["text"], "doc_id").collect()
    groups = {r.keep_id: r.n_copies for r in out}
    assert groups[1] == 2  # min-id keeper of the duplicate pair
    assert groups[3] == 1 and groups[4] == 1


def test_jaccard_pairs_finds_planted(planted_docs):
    pairs = {(r.id1, r.id2): r.jaccard for r in dedup.jaccard_pairs(
        planted_docs, "doc_id", "text", n=3, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0  # near dup
    assert not any({a, b} & {4, 5} for a, b in pairs)  # no false pairs


def test_short_doc_produces_no_shingles(planted_docs):
    sh = dedup.word_shingles(planted_docs, "doc_id", "text", n=3)
    assert sh.where("id = 5").count() == 0  # 2 tokens < n: guard, not sequence(0,-1)


def test_minhash_lsh_recall_on_real_data(spark, sf_oracle):
    """LSH(64 sigs, 16 bands) must recover >= 90% of true jaccard>=0.5 pairs
    on the sf0.01 documents, with exact-verify removing all false positives."""
    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    exact = {(r.id1, r.id2) for r in dedup.jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5).collect()}
    approx = {(r.id1, r.id2) for r in dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", n=3, k=64, bands=16, threshold=0.5).collect()}
    assert approx <= exact  # exact-verify stage kills false positives
    assert len(exact) > 0, "test data should contain planted near-dups"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(exact)} true pairs"


def _simhash_reference(text: str) -> set[int]:
    """Pure-Python SimHash twin of operators.dedup.simhash64 — same xxhash64
    seed/semantics are NOT reproduced here (impl-defined in Spark), so the
    test checks structural properties, not equality of signatures."""
    import re
    from collections import Counter

    toks = [t for t in re.sub(r"[^a-zA-Z0-9]+", " ", text.lower()).split() if t]
    return Counter(toks)


@pytest.mark.slow
def test_simhash_properties(spark, planted_docs):
    sig = {r.id: r.simhash for r in dedup.simhash64(planted_docs, "doc_id", "text").collect()}
    assert sig[1] == sig[2]  # identical text -> identical signature
    ham_near = bin(sig[1] ^ sig[3]).count("1")
    ham_far = bin(sig[1] ^ sig[4]).count("1")
    assert ham_near < ham_far, f"near dup hamming {ham_near} !< unrelated {ham_far}"
    # blocks must exceed max_hamming for the pigeonhole guarantee (enforced
    # by simhash_near_pairs; blocks=4 with max_hamming=6 silently lost recall)
    pairs = {(r.id1, r.id2): r.hamming for r in dedup.simhash_near_pairs(
        dedup.simhash64(planted_docs, "doc_id", "text"), max_hamming=6, blocks=8).collect()}
    assert pairs.get((1, 2)) == 0


def test_simhash_guards(spark, planted_docs):
    import pytest as _pytest

    sig = dedup.simhash64(planted_docs, "doc_id", "text")
    with _pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_pairs(sig, max_hamming=6, blocks=4)
    with _pytest.raises(ValueError, match="divisible by bands"):
        dedup.lsh_candidate_pairs(sig, k=64, bands=13)


def test_simhash_deterministic_across_runs(spark, sf_oracle):
    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet").limit(50)
    a = {r.id: r.simhash for r in dedup.simhash64(docs, "doc_id", "text").collect()}
    b = {r.id: r.simhash for r in dedup.simhash64(docs.repartition(7), "doc_id", "text").collect()}
    assert a == b  # partitioning must not change signatures


def test_incremental_minhash_is_strictly_bipartite(spark, sf_oracle):
    """Every output pair must be (old, new) — no old x old or new x new pair
    may ever be generated, and results must agree with the full-corpus pair
    set restricted to the bipartite cut."""
    from pyspark.sql import functions as F
    from gridmr_spark.catalog import load_table
    from gridmr_spark.operators.dedup import jaccard_pairs, minhash_dedup_incremental

    docs = load_table(spark, sf_oracle, "documents")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    out = minhash_dedup_incremental(old, new, "doc_id", "text", n=3, k=64, bands=16, threshold=0.5)
    rows = out.collect()
    assert all(r.id1 % 2 == 0 and r.id2 % 2 == 1 for r in rows)
    # full-corpus exact pairs, restricted to the cut (either orientation)
    full = jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    cut = {
        (a, b) if a % 2 == 0 else (b, a)
        for a, b in ((r.id1, r.id2) for r in full)
        if (a % 2) != (b % 2)
    }
    assert {(r.id1, r.id2) for r in rows} == cut


def _shingles3(text: str) -> set[str]:
    import re

    ws = [t for t in re.sub(r"[^a-zA-Z0-9]+", " ", text.lower()).split(" ") if t]
    return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}


@pytest.fixture(scope="module")
def jaccard_boundary_docs(spark):
    """Doc 2 has 18 shingles; doc 3 shares 9 of them and has no others
    (J = 9/18 = 0.5 exactly); doc 5 shares the same 9 plus one of its own
    (J = 9/19, just below). Doc 4 shares nothing."""
    base = [f"w{i}" for i in range(20)]
    rows = [
        (2, " ".join(base)),
        (3, " ".join(base[:11])),
        (4, " ".join(f"u{i}" for i in range(12))),
        (5, " ".join(base[:11] + ["x"])),
    ]
    return rows, spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_tail_at_the_threshold(jaccard_boundary_docs):
    """The shared Jaccard tail keeps J == threshold and drops J just below
    it, identically for the full inverted-index join and for the verify
    stage fed every id1 < id2 pair as candidates."""
    from pyspark.sql import functions as F

    rows, docs = jaccard_boundary_docs
    sets = {i: _shingles3(t) for i, t in rows}
    assert len(sets[2] & sets[3]) / len(sets[2] | sets[3]) == 0.5
    assert len(sets[2] & sets[5]) / len(sets[2] | sets[5]) == 9 / 19
    want = {
        (a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        for a in sets for b in sets
        if a < b and len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.5
    }
    assert (2, 3) in want and (2, 5) not in want

    full = {(r.id1, r.id2): r.jaccard for r in dedup.jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5).collect()}
    sh = dedup.word_shingles(docs, "doc_id", "text", n=3).localCheckpoint(eager=True)
    ids = sh.select("id").distinct()
    every = ids.select(F.col("id").alias("id1")).crossJoin(
        ids.select(F.col("id").alias("id2"))
    ).where(F.col("id1") < F.col("id2"))
    verified = {(r.id1, r.id2): r.jaccard for r in dedup.verify_jaccard_pairs(
        sh, every, 0.5).collect()}
    assert full == verified == want


def test_incremental_shingle_tables_are_both_or_neither(jaccard_boundary_docs):
    """minhash_dedup_incremental gives the same rows whether it shingles
    the halves itself or is handed both tables, and refuses just one."""
    from pyspark.sql import functions as F

    rows, docs = jaccard_boundary_docs
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    # 32 bands of 2 rows: a J = 0.5 pair collides with probability ~1.
    kw = dict(n=3, k=64, bands=32, threshold=0.5)
    own = dedup.minhash_dedup_incremental(old, new, "doc_id", "text", **kw)
    sh_old, sh_new = dedup.shingle_halves(old, new, "doc_id", "text", 3)
    handed = dedup.minhash_dedup_incremental(
        old, new, "doc_id", "text", sh_old=sh_old, sh_new=sh_new, **kw
    )
    got = sorted(map(tuple, own.collect()))
    assert got == sorted(map(tuple, handed.collect())) == [(2, 3, 0.5)]
    with pytest.raises(ValueError, match="both"):
        dedup.minhash_dedup_incremental(old, new, "doc_id", "text", sh_old=sh_old, **kw)
