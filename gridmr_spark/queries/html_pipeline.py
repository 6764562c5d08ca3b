"""HTML main-text extraction queries — the Common-Crawl-shaped bridge the
round-7 verdict ranked as the largest genuinely-missing operator: raw
crawl HTML (WARC payloads) → clean main text the ``text_*`` / dedup
operators consume.

The reference has no HTML stage (its data plane is plain text,
cpp/worker/src/common/fs.cc:42-53); these queries exist for the repo's
north star, the 100 TB LLM training-data pipeline. Extraction logic lives
in ``operators/html.py`` as ONE shared spec rendered into both a Spark
Column fold and the equivalent DuckDB SQL, so the hash oracle replays the
whole pipeline bit-for-bit.

Fixture strategy: the ``documents`` table is wrapped in a deterministic
synthetic page (head chrome, nav links, headings, an entity-rich
paragraph, a too-short note, a comment, a footer — every boilerplate rule
has a probe) by the SAME template on both engines; the extractor then has
to recover exactly the document text + the entity paragraph and drop all
chrome. ``pipeline_warc_to_docs`` additionally routes the page bytes
through the WARC sink/source with record-straddling splits, proving the
full crawl path end-to-end: synth page → WARC → byte-range ingest →
extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gridmr_spark.catalog import load_table
from gridmr_spark.operators import html as H
from gridmr_spark.queries import query
from gridmr_spark.sources import scratch_dir

def _spark_fields() -> dict:
    # built lazily: classic-mode Columns need an active SparkContext, and
    # this module is imported at registry-load time before any session
    return {"doc_id": F.col("doc_id").cast("string"), "text": F.col("text")}


_SQL_FIELDS = {"doc_id": "CAST(doc_id AS VARCHAR)", "text": "text"}

_PAGE_SQL = H.synth_page_sql(_SQL_FIELDS)

_EXTRACT_ORACLE = f"""
WITH page AS (SELECT doc_id, {_PAGE_SQL} AS html FROM documents)
SELECT doc_id,
       {H.html_title_sql('html')} AS title,
       {H.main_text_sql('html')} AS main_text,
       CAST(len({H.main_text_blocks_sql('html')}) AS BIGINT) AS n_blocks,
       CAST(length({H.main_text_sql('html')}) AS BIGINT) AS n_chars
FROM page
"""


@query("text_html_extract", oracle=_EXTRACT_ORACLE)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal over synthetic crawl pages: block-segmenting
    tag strip + entity decode + per-block word-count filter
    (operators/html.py, jusText/boilerpipe family reduced to its
    regex-expressible core). Recovers the document body + the entity
    paragraph; drops nav/headings/footer/short notes/script/style/comment
    chrome. Every step is a per-row JVM regexp inside whole-stage codegen
    — no UDF, no shuffle: at 100 TB this is a pure map over the scan."""
    docs = load_table(spark, sf_dir, "documents")
    page = docs.select("doc_id", H.synth_page(_spark_fields()).alias("html"))
    return page.select(
        "doc_id",
        H.html_title(F.col("html")).alias("title"),
        H.main_text(F.col("html")).alias("main_text"),
        F.size(H.main_text_blocks(F.col("html"))).cast("long").alias("n_blocks"),
        F.length(H.main_text(F.col("html"))).cast("long").alias("n_chars"),
    )


_LINKS_ORACLE = f"""
WITH page AS (SELECT doc_id, {_PAGE_SQL} AS html FROM documents),
links AS (
  SELECT doc_id, unnest({H.extract_links_sql('html')}) AS href FROM page
)
SELECT href, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM links GROUP BY href
"""


@query("text_html_links", oracle=_LINKS_ORACLE)
def text_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperlink extraction (the URL-frontier feed of a crawler): all href
    values per page via native regexp_extract_all, exploded and counted.
    The explode is a narrow map; the count is one hash aggregation on the
    href — the only shuffle, partial-aggregated map-side, and the key
    domain (distinct URLs) is what a frontier has to shuffle at any
    scale anyway."""
    docs = load_table(spark, sf_dir, "documents")
    page = docs.select("doc_id", H.synth_page(_spark_fields()).alias("html"))
    return (
        page.select(
            "doc_id", F.explode(H.extract_links(F.col("html"))).alias("href")
        )
        .groupBy("href")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_WARC_DOCS_ORACLE = f"""
WITH page AS (SELECT doc_id, {_PAGE_SQL} AS html FROM documents)
SELECT doc_id,
       {H.html_title_sql('html')} AS title,
       CAST(len({H.main_text_blocks_sql('html')}) AS BIGINT) AS n_blocks,
       CAST(length({H.main_text_sql('html')}) AS BIGINT) AS n_chars,
       md5({H.main_text_sql('html')}) AS main_md5
FROM page
"""


@query("pipeline_warc_to_docs", oracle=_WARC_DOCS_ORACLE)
def pipeline_warc_to_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full crawl ingest path, end to end: synthetic pages are written
    as WARC/1.0 response records through the custom ``format("warc")``
    sink, read back through the record-boundary-safe byte-range reader
    with splits smaller than the file (records straddle chunk
    boundaries), payloads decoded, and main text extracted — the oracle
    replays page construction + extraction directly from parquet, so a
    green hash proves WARC transport is byte-exact AND extraction is
    correct in one row. md5(main_text) stands in for the text itself to
    keep the comparison row small; n_blocks/n_chars stay readable.

    Round-10 re-pricing: the 8 s bench row was ~500 Python-DataSource
    tasks from 10 KB stress chunks, not record-parse cost (full parse of
    the same input at production-shaped chunks: 0.53 s) — see
    source_warc_ingest's docstring and COVERAGE.md; straddling stays
    stress-tested at pathological chunks in tests/test_warc.py."""
    from gridmr_spark.sources import warc as W

    W.register(spark)
    path = scratch_dir("warcdocs")
    docs = load_table(spark, sf_dir, "documents")
    (
        docs.select(
            F.concat(F.lit("http://synth.example/page/"), F.col("doc_id")).alias(
                "target_uri"
            ),
            F.encode(H.synth_page(_spark_fields()), "utf-8").alias("payload"),
        )
        .write.format("warc")
        .mode("overwrite")
        .save(path)
    )
    back = (
        spark.read.format("warc")
        .option("chunk_mb", 0.25)  # < file size at every SF: real straddling
        .option("path", path)
        .load()
    )
    html = F.decode(F.col("payload"), "utf-8")
    return back.select(
        F.regexp_extract("target_uri", r"/page/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        H.html_title(html).alias("title"),
        F.size(H.main_text_blocks(html)).cast("long").alias("n_blocks"),
        F.length(H.main_text(html)).cast("long").alias("n_chars"),
        F.md5(F.encode(H.main_text(html), "utf-8")).alias("main_md5"),
    )


# ---------------------------------------------------------------------------
# Crawl -> corpus end-to-end: extract -> token filter -> exact dedup -> stats
# ---------------------------------------------------------------------------

# Every 5th page renders a constant placeholder body instead of its document
# text — the crawl-reality fixture (error/template pages) that collapses to
# ONE digest so the dedup stage has real work on a dup-free corpus.
_PLACEHOLDER = "service unavailable please retry this page later soon"

_MIN_TOKENS = 10

# token count spec over an expression — identical to operators/text.tokenize:
# lower, non-alnum runs -> space, whitespace split, drop empties
_NTOK_SQL = (
    "len(list_filter(string_split(lower(regexp_replace({e}, "
    "'[^a-zA-Z0-9]+', ' ', 'g')), ' '), x -> x <> ''))"
)

_CONTENT_SQL = {
    "doc_id": "CAST(doc_id AS VARCHAR)",
    "text": f"CASE WHEN doc_id % 5 = 0 THEN '{_PLACEHOLDER}' ELSE text END",
}

_CRAWL_CORPUS_ORACLE = f"""
WITH page AS (SELECT doc_id, lang, {H.synth_page_sql(_CONTENT_SQL)} AS html
              FROM documents),
ext AS (SELECT doc_id, lang, {H.main_text_sql('html')} AS main_text FROM page),
tok AS (SELECT doc_id, lang, main_text,
               CAST({_NTOK_SQL.format(e='main_text')} AS BIGINT) AS n_tok
        FROM ext),
kept AS (SELECT * FROM tok WHERE n_tok >= {_MIN_TOKENS}),
uniq AS (
  SELECT md5(main_text) AS digest, lang, MIN(doc_id) AS keep_id,
         CAST(COUNT(*) AS BIGINT) AS n_copies, MIN(n_tok) AS n_tok
  FROM kept GROUP BY md5(main_text), lang
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       CAST(SUM(n_copies - 1) AS BIGINT) AS n_dupes_removed
FROM uniq GROUP BY lang
"""


@query("pipeline_crawl_to_corpus", oracle=_CRAWL_CORPUS_ORACLE)
def pipeline_crawl_to_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl data plane end-to-end in ONE plan: synthetic pages ->
    main-text extraction (operators/html.py) -> token-count keep filter ->
    exact dedup on the extracted text's digest (per lang shard, min-id
    keeper) -> per-lang corpus accounting (docs kept, tokens, dupes
    removed). The placeholder fixture (every 5th page renders a constant
    error body) gives the dedup stage real work: those pages collapse to
    one digest per shard. Scale shape: extract + tokenize are one codegen'd
    map over the scan; the digest group-by is the narrow 128-bit-key
    shuffle (dedup_exact_digest's argument); the final agg keys on lang.
    No stage widens: at 100 TB this is scan -> map -> two partial-agg'd
    shuffles, the same plan at any size."""
    from gridmr_spark.operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    content = F.when(
        F.col("doc_id") % 5 == 0, F.lit(_PLACEHOLDER)
    ).otherwise(F.col("text"))
    fields = {"doc_id": F.col("doc_id").cast("string"), "text": content}
    ext = docs.select(
        "doc_id",
        "lang",
        H.main_text(H.synth_page(fields)).alias("main_text"),
    )
    tok = ext.withColumn(
        "n_tok", F.size(text_ops._tokens_col("main_text")).cast("bigint")
    )
    kept = tok.where(F.col("n_tok") >= _MIN_TOKENS)
    uniq = kept.groupBy(F.md5("main_text").alias("digest"), "lang").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_tok").alias("n_tok"),
    )
    return uniq.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
        F.sum(F.col("n_copies") - 1).alias("n_dupes_removed"),
    )
