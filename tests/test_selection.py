"""DSIR importance-resampling semantics on corpora with known structure."""

from __future__ import annotations

from pyspark.sql import functions as F

from gridmr_spark.queries.selection import dsir_scores


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, is_target boolean")


def test_disjoint_vocab_separates_perfectly(spark):
    """Target docs use one vocabulary, raw docs another: every target-like
    document must out-score every raw-like document, and a held-out doc
    written in the target vocabulary must score above one written in the
    raw vocabulary (the actual selection use case)."""
    rows = [
        (0, "quantum proof theorem lemma axiom corollary", True),
        (1, "theorem axiom quantum lemma proof proof", True),
        (2, "buy cheap pills click here free offer", False),
        (3, "click free offer buy here cheap cheap", False),
        # held-out docs (not used for the model fit flags, just scored):
        (10, "lemma theorem corollary axiom", False),
        (11, "free pills click offer", True),
    ]
    scores = {r.doc_id: r.score_q for r in dsir_scores(_frame(spark, rows)).collect()}
    # in-model separation
    assert min(scores[0], scores[1]) > max(scores[2], scores[3])
    # held-out docs score by their CONTENT, not their flag
    assert scores[10] > scores[11]


def test_scores_scale_with_length(spark):
    """Score is a per-occurrence sum: doubling a document's text doubles
    its score (the length bias DSIR normalizes away downstream — the test
    pins the additive contract the normalization relies on)."""
    base = "alpha beta gamma delta"
    rows = [(0, base, True), (1, base + " " + base, True), (2, "x y z w", False)]
    got = {r.doc_id: r for r in dsir_scores(_frame(spark, rows)).collect()}
    assert got[1].n_tok == 2 * got[0].n_tok
    assert abs(got[1].score_q - 2 * got[0].score_q) <= 1  # floor-quantize slack


def test_uniform_corpus_yields_no_ranking(spark):
    """If target and raw share the same distribution there is no signal:
    every document must receive the IDENTICAL score (selection degenerates
    to the deterministic doc_id tiebreak instead of inventing a ranking).
    The absolute level is a smoothing artifact (Laplace +1 against small
    counts) — what matters is that it cannot separate documents."""
    text = "same words every time"
    rows = [(i, text, i % 2 == 0) for i in range(8)]
    scored = dsir_scores(_frame(spark, rows))
    distinct = scored.select("score_q").distinct().count()
    assert distinct == 1


def test_dataset_card_additivity(spark, sf_oracle):
    """The ALL rollup row must equal the sum of the per-lang rows on every
    additive column, and the duplicate count must match the dedup_exact
    digest definition computed independently."""
    from pyspark.sql import functions as F

    from gridmr_spark.catalog import load_table
    from gridmr_spark.queries.selection import pipeline_dataset_card

    rows = {r.lang: r for r in pipeline_dataset_card(spark, sf_oracle).collect()}
    langs = [k for k in rows if k != "ALL"]
    total = rows["ALL"]
    for col in ("n_docs", "n_tokens", "n_chars", "n_dup_docs"):
        assert getattr(total, col) == sum(getattr(rows[lg], col) for lg in langs)
    docs = load_table(spark, sf_oracle, "documents")
    n_dup_direct = (
        docs.groupBy(F.md5("text").alias("d"))
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(F.sum("c"))
        .collect()[0][0]
    ) or 0
    assert total.n_dup_docs == n_dup_direct
    # n_sources is NOT additive across langs (sources span langs) — it is
    # a distinct count; the rollup must be >= the per-lang max.
    assert total.n_sources >= max(rows[lg].n_sources for lg in langs)


def test_weighted_reservoir_is_statistically_weighted(spark):
    """A-ES law on a controlled frame: across many md5-seeded items, heavy
    items (w=100) must be selected far more often than light ones (w=1)
    when they compete 50/50 for k slots; and the sample is exactly k with
    no duplicates."""
    from gridmr_spark.queries.selection import _RESERVOIR_K

    from gridmr_spark.queries.selection import sample_weighted_reservoir  # noqa: F401
    # replicate the keying on a synthetic frame via the same query logic:
    # build documents-shaped input where doc_id parity decides the weight.
    import pyspark.sql.functions as F

    n = 2000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, 100).otherwise(1).cast("long").alias("n_chars"),
    )
    u = (
        (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
         .cast("double") + F.lit(1.0)) / F.lit(4294967296.0)
    )
    keyed = df.select(
        "doc_id",
        F.floor(F.log(u) / F.col("n_chars").cast("double") * F.lit(1e9))
        .cast("long").alias("key_q"),
    )
    top = keyed.orderBy(F.desc("key_q"), F.asc("doc_id")).limit(50).collect()
    assert len({r.doc_id for r in top}) == 50
    heavy = sum(1 for r in top if r.doc_id % 2 == 0)
    # with a 100:1 weight ratio the heavy class should dominate the sample
    assert heavy >= 45


def test_shard_export_layout_and_reproducibility(spark, sf_smoke):
    """Physical export contract: one directory per shard, every document
    in exactly one shard, and a re-run reproduces identical membership."""
    import glob as g

    from gridmr_spark.queries.textops import pipeline_shard_export

    df1 = pipeline_shard_export(spark, sf_smoke)
    m1 = {tuple(r) for r in df1.collect()}
    roots = {f.split("/shard_id=")[0] for f in df1.inputFiles()}
    assert len(roots) == 1, roots
    out = roots.pop().removeprefix("file://")
    dirs = sorted(g.glob(out + "/shard_id=*"))
    assert 1 <= len(dirs) <= 16
    back = spark.read.parquet(out)
    total = back.count()
    distinct = back.select("doc_id").distinct().count()
    assert total == distinct  # each doc exported exactly once
    m2 = {tuple(r) for r in pipeline_shard_export(spark, sf_smoke).collect()}
    assert m1 == m2  # deterministic shard membership across runs
