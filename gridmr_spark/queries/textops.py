"""Text-processing queries over ``documents`` — the reference's entire
de-facto query library (word count) plus the LLM-pipeline text analysis and
dedup surface (SURVEY.md §2.B, §2.D last row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gridmr_spark.catalog import load_table
from gridmr_spark.operators import dedup as dedup_ops
from gridmr_spark.operators import text as text_ops
from gridmr_spark.queries import query

# ---------------------------------------------------------------------------
# Word count — the flagship. Faithful Spark rendering of the reference's only
# end-to-end workload: normalize (map.cc:12-16) -> tokenize+emit (map.cc:17-21)
# -> hash groupBy + sum (reduce.cc:10-22). Spark improves on the reference by
# doing map-side partial aggregation (the reference ships every `word\t1`
# across the shuffle — SURVEY.md §4.1).
# ---------------------------------------------------------------------------

WORDCOUNT_ORACLE = """
SELECT word, count(*) AS cnt
FROM (
  SELECT unnest(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' ')) AS word
  FROM documents
) t
WHERE word <> ''
GROUP BY word
"""


@query("wordcount", oracle=WORDCOUNT_ORACLE)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count over documents.text (reference parity: cpp/worker/map.cc:12-21
    + cpp/worker/reduce.cc:10-22, composed per SURVEY.md §2.B B4)."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.word_count(docs, "text")


# ---------------------------------------------------------------------------
# Dedup family (exact + n-gram Jaccard oracle-checked; MinHash/SimHash
# approximate — recall/equivalence tested in tests/test_dedup.py)
# ---------------------------------------------------------------------------

_DEDUP_EXACT_ORACLE = """
SELECT text, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY text
"""


@query("dedup_exact", oracle=_DEDUP_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the full text, deterministic min-id
    representative. One shuffle; at 100 TB group on a digest (xxhash64/sha2)
    instead of the raw text to shrink shuffle width — same plan shape."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.exact_dedup(docs, ["text"], "doc_id")


# DuckDB mirror of word_shingles + inverted-index Jaccard (3-word shingles).
_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), t -> t <> '') AS ws
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(ws)-2),
         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
  FROM toks
), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2, CAST(c AS DOUBLE)/CAST(s1.sz + s2.sz - c AS DOUBLE) AS jaccard
FROM common
JOIN sizes s1 ON id1 = s1.doc_id
JOIN sizes s2 ON id2 = s2.doc_id
WHERE CAST(c AS DOUBLE)/CAST(s1.sz + s2.sz - c AS DOUBLE) >= 0.5
"""


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: 3-word shingles, inverted-index self-join,
    Jaccard >= 0.5. The ground truth the approximate paths are tested
    against."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


@query("dedup_minhash_lsh", oracle=_JACCARD_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16 bands × 4 rows) candidates -> exact-Jaccard
    verify at 0.5 — the linear-shuffle near-dedup for 100 TB.

    The oracle is the EXACT Jaccard-pairs SQL: the verify stage guarantees
    output ⊆ exact pairs, so hash-equality additionally asserts LSH recall
    is 1.0 on this dataset (verified at sf0.001 and sf0.01 — the planted
    near-dup pairs all have jaccard well above the 16x4 banding s-curve
    midpoint). A stronger check than the rows-only row it replaces; recall
    on adversarial data is separately floor-tested in tests/test_dedup.py."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.minhash_dedup_pairs(docs, "doc_id", "text", n=3, k=64, bands=16, threshold=0.5)


_CONTAMINATION_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), t -> t <> '') AS ws
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(ws)-2),
         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
  FROM toks
), bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
)
SELECT s.doc_id, COUNT(*) AS n_hits
FROM sh s JOIN bench USING (shingle)
WHERE s.doc_id % 97 <> 0
GROUP BY s.doc_id
"""


@query("dedup_contamination_check", oracle=_CONTAMINATION_ORACLE)
def dedup_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any n-gram
    with the held-out eval set (docs with doc_id % 97 == 0 stand in for it).
    n=3 here because the synthetic corpus has a ~31-word vocabulary (longer
    shingles almost never collide); production decontamination uses 8-13.
    The eval side's distinct shingles BROADCAST — an eval suite is tiny
    relative to a 100 TB corpus, so the scan streams through a map-side
    hash probe with ZERO shuffle of training shingles; n_hits counts the
    distinct overlapping n-grams per flagged doc. This is the asymmetric
    sibling of the Jaccard self-join: contamination needs any-overlap
    against a small reference, not all-pairs similarity."""
    docs = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % 97 == 0
    bench_sh = (
        dedup_ops.word_shingles(docs.where(is_bench), "doc_id", "text", 3)
        .select("shingle")
        .distinct()
    )
    train_sh = dedup_ops.word_shingles(docs.where(~is_bench), "doc_id", "text", 3)
    return (
        train_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


_SIMHASH_ORACLE = r"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> '')) AS tok
  FROM documents
), weighted AS (
  SELECT id, tok,
         COUNT(*) AS w,
         CAST(CAST(('0x' || substr(md5(tok), 1, 15)) AS UBIGINT) AS BIGINT) AS h
  FROM toks GROUP BY id, tok
), bits AS (
  SELECT id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN w ELSE -w END) AS s
  FROM weighted CROSS JOIN range(60) t(j)
  GROUP BY id, j
), sig AS (
  SELECT id, CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY id
)
SELECT a.id AS id1, b.id AS id2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash near-dup pairs at Hamming distance <= 3 via the
    pigeonhole block join (4 × 15-bit blocks).

    Token hash here is the first 60 bits of md5 — engine-portable, so the
    DuckDB oracle recomputes the identical signature and verifies the
    pigeonhole join against brute-force all-pairs Hamming (exhaustive at
    oracle scale; the guarantee under test is that blocking loses nothing
    below the block count). Production callers default to xxhash64 64-bit
    signatures (operators/dedup.py:simhash64) — same plan shape, faster
    hash; equivalence of the two paths is pytest-covered."""
    docs = load_table(spark, sf_dir, "documents")
    portable_hash = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    sig = dedup_ops.simhash64(docs, "doc_id", "text", n_bits=60, hash_col=portable_hash)
    return dedup_ops.simhash_near_pairs(sig, max_hamming=3, blocks=4, n_bits=60)


_BINARY_HAMMING_PAIRS_ORACLE = r"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> '')) AS tok
  FROM documents
), weighted AS (
  SELECT id, tok,
         COUNT(*) AS w,
         CAST(CAST(('0x' || substr(md5(tok), 1, 15)) AS UBIGINT) AS BIGINT) AS h
  FROM toks GROUP BY id, tok
), bits AS (
  SELECT id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN w ELSE -w END) AS s
  FROM weighted CROSS JOIN range(60) t(j)
  GROUP BY id, j
), sig AS (
  SELECT id, CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY id
)
SELECT a.id AS id_1, b.id AS id_2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
"""


@query("dedup_binary_hamming_pairs", oracle=_BINARY_HAMMING_PAIRS_ORACLE)
def dedup_binary_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus x corpus near-dup pairs over PACKED binary signatures
    (Hamming radius 4) via multi-index banding — the generic
    ``hamming_pairs`` self-join (operators/similarity.py) that
    ``hamming_topk`` documents as the production path when NEITHER side
    is broadcastable: 60 signature bits packed into two 32-bit words
    (the ``binary_signature`` layout every quantized-embedding corpus
    stores), partitioned into 5 contiguous 12-bit bands; radius-4 pairs
    must agree on >= 1 band (pigeonhole, radius < bands), so candidates
    come from ONE narrow-key equi-join, never an n^2 compare.

    The oracle is brute-force all-pairs Hamming over the identical
    md5-portable signature — hash equality proves the banding is
    LOSSLESS, the setsim playbook applied to Hamming space. Bands 2 and
    3 deliberately straddle the word boundary (bits 24-36, 36-48),
    pinning the cross-word bit extraction. At 1e9 signatures (8 GB
    packed) the same plan holds: explode x5, hash-join on 12-bit-band
    buckets, XOR+popcount verify — all integer codegen, shuffle bounded
    by true collision volume (measured on planted clusters in
    tests/test_similarity.py)."""
    from gridmr_spark.operators.similarity import hamming_pairs

    docs = load_table(spark, sf_dir, "documents")
    portable_hash = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    sig = dedup_ops.simhash64(docs, "doc_id", "text", n_bits=60, hash_col=portable_hash)
    # the signature subplan feeds both legs of every band join —
    # materialize once (same rationale as simhash_near_pairs)
    packed = sig.select(
        "id",
        F.col("simhash").bitwiseAND(F.lit((1 << 32) - 1)).alias("sig0"),
        F.shiftright(F.col("simhash"), 32).alias("sig1"),
    ).localCheckpoint(eager=True)
    return hamming_pairs(
        packed, "id", n_words=2, radius=4, total_bits=60, bands=5
    )


# ---------------------------------------------------------------------------
# Text analysis: language ID, quality scoring, token counting, fingerprints
# ---------------------------------------------------------------------------

# The oracle mirrors the Spark plan structurally — a dictionary-table join,
# weight sums, ROW_NUMBER argmax with the priority tie-break — and its
# VALUES rows are generated from the SAME Python table the Spark side
# broadcasts, so the two can never drift.
_LANGID_DICT_VALUES = ",\n    ".join(
    f"('{t}', '{lang}', {w})" for t, lang, w in text_ops.DEFAULT_LANG_DICTIONARY
)
_LANGID_PRIO_VALUES = ", ".join(
    f"('{lang}', {i})" for i, lang in enumerate(text_ops.LANG_PRIORITY)
)
_LANGID_ORACLE = r"""
WITH dict(token, lang, weight) AS (VALUES
    {dict_values}
), prio(lang, rk) AS (VALUES {prio_values}
), t AS (
  SELECT doc_id, lang AS labeled_lang, text,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> '') AS toks
  FROM documents
), tok AS (
  SELECT doc_id, unnest(toks) AS token FROM t
), sc AS (
  SELECT doc_id, d.lang, SUM(d.weight) AS score
  FROM tok JOIN dict d USING (token) GROUP BY doc_id, d.lang
), best AS (
  SELECT doc_id, lang FROM (
    SELECT doc_id, sc.lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, rk ASC) AS rn
    FROM sc JOIN prio USING (lang)
  ) WHERE rn = 1
)
SELECT t.doc_id, t.labeled_lang,
  CASE WHEN regexp_matches(t.text, '[\x{{4e00}}-\x{{9fff}}]') THEN 'zh'
       ELSE COALESCE(b.lang, 'und') END AS predicted_lang
FROM t LEFT JOIN best b USING (doc_id)
""".format(dict_values=_LANGID_DICT_VALUES, prio_values=_LANGID_PRIO_VALUES)


@query("text_lang_id", oracle=_LANGID_ORACLE)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via the dictionary-table broadcast join
    (operators/text.py:lang_id_join): explode tokens, broadcast-join the
    (token, lang, weight) lexicon, sum weights per (doc, lang), argmax with
    the LANG_PRIORITY tie-break; CJK wins outright, no match => 'und'.
    The lexicon is data — a fastText-scale table drops in unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    pred = text_ops.lang_id_join(docs, "doc_id", "text")
    return docs.select("doc_id", F.col("lang").alias("labeled_lang")).join(
        pred, "doc_id"
    )


_QUALITY_ORACLE = r"""
WITH t AS (
  SELECT doc_id, length(text) AS n_chars_calc, text,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> '') AS toks
  FROM documents
), f AS (
  SELECT doc_id, n_chars_calc,
    len(toks) AS n_tokens,
    len(list_distinct(toks)) AS n_distinct_tokens,
    CASE WHEN len(toks) > 0
         THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)/CAST(len(toks) AS DOUBLE)
         ELSE 0.0 END AS avg_token_len,
    CASE WHEN len(toks) > 0
         THEN CAST(len(list_filter(toks, x -> list_contains(
              ['the','a','of','and','is','to','in','der','die','das','und','ist','nicht',
               'el','la','los','las','y','es','que','le','les','et','est','une'], x))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE)
         ELSE 0.0 END AS stopword_ratio,
    CASE WHEN length(text) > 0
         THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]+', '', 'g')) AS DOUBLE)/CAST(length(text) AS DOUBLE)
         ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(toks) > 0
         THEN CAST(len(list_distinct(toks)) AS DOUBLE)/CAST(len(toks) AS DOUBLE)
         ELSE 0.0 END AS distinct_ratio
  FROM t
)
SELECT doc_id AS id, n_chars_calc, n_tokens, n_distinct_tokens, avg_token_len,
       stopword_ratio, punct_ratio, distinct_ratio,
       CAST(n_tokens >= 10 AND avg_token_len >= 2.0 AND avg_token_len <= 12.0
            AND punct_ratio < 0.2 AND distinct_ratio > 0.1 AS INT) AS keep
FROM f
"""


@query("text_quality", oracle=_QUALITY_ORACLE)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training quality filter features + keep/drop flag per document."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.quality_features(docs, "doc_id", "text")


_REPETITION_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> '') AS toks
  FROM documents
), base AS (
  SELECT doc_id,
         CAST(length(array_to_string(toks, ' ')) AS BIGINT) AS n_chars_norm,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         toks
  FROM t
), g2c AS (
  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram, COUNT(*) AS cnt
  FROM base, unnest(generate_series(1, len(toks) - 1)) AS s(i)
  GROUP BY doc_id, gram
), top2 AS (
  SELECT doc_id, CAST(cnt * length(gram) AS BIGINT) AS top2_chars
  FROM (SELECT doc_id, gram, cnt,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
        FROM g2c)
  WHERE rn = 1
), g3c AS (
  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS gram, COUNT(*) AS cnt
  FROM base, unnest(generate_series(1, len(toks) - 2)) AS s(i)
  GROUP BY doc_id, gram
), dup3 AS (
  SELECT doc_id, CAST(SUM(cnt * 3) AS BIGINT) AS dup3_tokens
  FROM g3c WHERE cnt >= 2 GROUP BY doc_id
)
SELECT b.doc_id AS id, b.n_chars_norm, b.n_tokens,
  CASE WHEN b.n_chars_norm > 0
       THEN CAST(COALESCE(t2.top2_chars, 0) AS DOUBLE) / CAST(b.n_chars_norm AS DOUBLE)
       ELSE 0.0 END AS top2_share,
  CASE WHEN b.n_tokens > 0
       THEN CAST(COALESCE(d3.dup3_tokens, 0) AS DOUBLE) / CAST(b.n_tokens AS DOUBLE)
       ELSE 0.0 END AS dup3_frac,
  CAST((CASE WHEN b.n_chars_norm > 0
             THEN CAST(COALESCE(t2.top2_chars, 0) AS DOUBLE) / CAST(b.n_chars_norm AS DOUBLE)
             ELSE 0.0 END) <= 0.20
       AND
       (CASE WHEN b.n_tokens > 0
             THEN CAST(COALESCE(d3.dup3_tokens, 0) AS DOUBLE) / CAST(b.n_tokens AS DOUBLE)
             ELSE 0.0 END) <= 0.30 AS INT) AS keep
FROM base b
LEFT JOIN top2 t2 USING (doc_id)
LEFT JOIN dup3 d3 USING (doc_id)
"""


@query("text_repetition_filters", oracle=_REPETITION_ORACLE)
def text_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition filters: share of characters
    in the most common word 2-gram + fraction of tokens inside duplicated
    3-grams, with a keep/drop gate (operators/text.py:repetition_features).
    The standard pre-training screen for boilerplate/spam documents that
    per-token quality stats miss."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.repetition_features(docs, "doc_id", "text")


_TOKEN_COUNT_ORACLE = r"""
SELECT doc_id AS id,
  len(list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> '')) AS ws_tokens,
  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_tokens
FROM documents
"""


@query("text_token_count", oracle=_TOKEN_COUNT_ORACLE)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish (GPT-2 pre-tokenizer shaped) token counts."""
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.token_counts(docs, "doc_id", "text")


_FINGERPRINT_ORACLE = """
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
                 list_transform(regexp_extract_all(text, '.'), ch -> CAST(ascii(ch) AS BIGINT))),
    (acc, c) -> (acc * 31 + c) % 2147483647
  ) AS fingerprint
FROM documents
"""


@query("text_fingerprint", oracle=_FINGERPRINT_ORACLE)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (engine-portable: no
    impl-defined hash functions, just modular arithmetic over codepoints)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text_ops.fingerprint("text").alias("fingerprint"))


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"

_PII_ORACLE = rf"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-123-4567' AS t
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(t, '{_PHONE_RE}')) AS n_phones,
       regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
FROM aug
"""


@query("text_pii_redact", oracle=_PII_ORACLE)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora: count and redact email / phone
    spans with codegen'd regexp_replace — no UDF, so the scan+rewrite is one
    whole-stage pipeline that streams at full scan speed on 100 TB. The
    patterns stay in the RE2-compatible subset (no backrefs/lookaround) so
    Java and RE2 engines agree token-for-token, which the oracle hash
    proves. A deterministic synthetic contact line is appended first so the
    redaction provably fires on every row."""
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-123-4567"),
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(_EMAIL_RE), 0)).cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(_PHONE_RE), 0)).cast("bigint").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
        ).alias("redacted"),
    )


_TOP_SHARE_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> '')) AS tok
  FROM documents
), per AS (
  SELECT doc_id, tok, COUNT(*) AS cnt FROM t GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(MAX(cnt) AS BIGINT) AS top_cnt,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS top_share
FROM per GROUP BY doc_id
"""


@query("text_top_token_share", oracle=_TOP_SHARE_ORACLE)
def text_top_token_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signal used by quality filters: the share of a document's
    tokens taken by its single most frequent token. Distributed shape —
    explode to (doc, token) rows, two hash aggregations with map-side
    partials; no per-document state ever exceeds one row per distinct
    token, so a pathological 1 GB document cannot skew an executor the way
    a collect_list-based variant would. Zero-token documents drop out on
    both sides (explode and unnest both emit no rows)."""
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select("doc_id", F.explode(text_ops._tokens_col("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return per.groupBy("doc_id").agg(
        F.max("cnt").alias("top_cnt"),
        F.sum("cnt").alias("n_tokens"),
        (F.max("cnt").cast("double") / F.sum("cnt").cast("double")).alias("top_share"),
    )


# ---------------------------------------------------------------------------
# Multimodal columns (binary payload + typed metadata; decode via mapInPandas)
# ---------------------------------------------------------------------------

_MULTIMODAL_META_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS byte_len,
       md5(text) AS payload_md5,
       CAST(octet_length(encode(text)) % 640 + 16 AS INT) AS width,
       CAST(octet_length(encode(text)) % 480 + 16 AS INT) AS height
FROM documents
"""


@query("multimodal_meta", oracle=_MULTIMODAL_META_ORACLE)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata extraction: payload byte length, content
    digest, typed dimensions — all JVM-side over the binary column."""
    from gridmr_spark.operators.multimodal import attach_payload

    docs = load_table(spark, sf_dir, "documents")
    media = attach_payload(docs, "doc_id", "text")
    return media.select(
        "doc_id",
        F.length("payload").cast("bigint").alias("byte_len"),
        F.md5("payload").alias("payload_md5"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


_MULTIMODAL_DECODE_ORACLE = r"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
), bytes AS (
  SELECT doc_id,
         CAST(('0x' || substr(hx, CAST(2 * t.i + 1 AS INT), 2)) AS INTEGER) AS byte
  FROM b, unnest(generate_series(0, n - 1)) AS t(i)
), agg AS (
  SELECT doc_id,
         SUM(byte) AS s,
         concat_ws(',',
           CAST(COUNT(*) FILTER (byte % 8 = 0) AS VARCHAR),
           CAST(COUNT(*) FILTER (byte % 8 = 1) AS VARCHAR),
           CAST(COUNT(*) FILTER (byte % 8 = 2) AS VARCHAR),
           CAST(COUNT(*) FILTER (byte % 8 = 3) AS VARCHAR),
           CAST(COUNT(*) FILTER (byte % 8 = 4) AS VARCHAR),
           CAST(COUNT(*) FILTER (byte % 8 = 5) AS VARCHAR),
           CAST(COUNT(*) FILTER (byte % 8 = 6) AS VARCHAR),
           CAST(COUNT(*) FILTER (byte % 8 = 7) AS VARCHAR)) AS feature_csv
  FROM bytes GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n AS BIGINT) AS byte_len,
       CAST(b.n % 640 + 16 AS INT) AS width,
       CAST(b.n % 480 + 16 AS INT) AS height,
       CASE WHEN b.n = 0 THEN 0.0 ELSE CAST(a.s AS DOUBLE) / b.n END AS mean_byte,
       COALESCE(a.feature_csv, '0,0,0,0,0,0,0,0') AS feature_csv
FROM b LEFT JOIN agg a USING (doc_id)
"""


@query("multimodal_decode", oracle=_MULTIMODAL_DECODE_ORACLE)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode/feature-extract via mapInPandas (deterministic
    fake codec — the real decoder drops into the same seam; see
    operators/multimodal.py). Values verified against a pure-Python
    reference in tests/test_multimodal.py AND a DuckDB oracle that re-derives
    the byte statistics by expanding the utf-8 payload through hex pairs
    (integer byte sum / histogram, so every value is exact in both engines).

    The 8-dim feature vector (whole-number byte-histogram counts) is
    serialized to a comma-joined int string: the driver gate's pandas
    canonicalizer can't sort array columns, and int-formatted counts are
    representation-stable."""
    from gridmr_spark.operators.multimodal import attach_payload, decode_image_features

    docs = load_table(spark, sf_dir, "documents")
    feats = decode_image_features(attach_payload(docs, "doc_id", "text"))
    return feats.select(
        "doc_id",
        "byte_len",
        "width",
        "height",
        "mean_byte",
        F.concat_ws(
            ",", F.transform("feature", lambda x: x.cast("int").cast("string"))
        ).alias("feature_csv"),
    )


_PNG_DECODE_ORACLE = r"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         (octet_length(encode(text)) // 16) * 16 AS n
  FROM documents
  WHERE octet_length(encode(text)) >= 16
), bytes AS (
  SELECT doc_id,
         CAST(('0x' || substr(hx, CAST(2 * t.i + 1 AS INT), 2)) AS INTEGER) AS byte
  FROM b, unnest(generate_series(0, n - 1)) AS t(i)
)
SELECT doc_id,
       CAST(16 AS INT) AS width,
       CAST(COUNT(*) // 16 AS INT) AS height,
       CAST(SUM(byte) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_byte,
       concat_ws(',',
         CAST(COUNT(*) FILTER (byte % 8 = 0) AS VARCHAR),
         CAST(COUNT(*) FILTER (byte % 8 = 1) AS VARCHAR),
         CAST(COUNT(*) FILTER (byte % 8 = 2) AS VARCHAR),
         CAST(COUNT(*) FILTER (byte % 8 = 3) AS VARCHAR),
         CAST(COUNT(*) FILTER (byte % 8 = 4) AS VARCHAR),
         CAST(COUNT(*) FILTER (byte % 8 = 5) AS VARCHAR),
         CAST(COUNT(*) FILTER (byte % 8 = 6) AS VARCHAR),
         CAST(COUNT(*) FILTER (byte % 8 = 7) AS VARCHAR)) AS feature_csv
FROM bytes GROUP BY doc_id
"""


@query("multimodal_png_decode", oracle=_PNG_DECODE_ORACLE)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec image decode, container-independent: each document's
    utf-8 bytes are packed into a genuine 8-bit grayscale PNG (scanline
    filters cycling 0-4, zlib-compressed — operators/multimodal.py:
    png_encode_gray), then decode_image_features(fake=False) parses the
    chunk stream, inflates, and unfilters every scanline with numpy
    (png_decode_gray; PIL is only needed for non-PNG formats). The DuckDB
    oracle recomputes width/height/mean/histogram straight from the text
    bytes, so the hash match proves the full PNG roundtrip — filter
    arithmetic included — is lossless. Unlike multimodal_decode (fake
    codec, plumbing-only), this row is real-decoder evidence."""
    from gridmr_spark.operators.multimodal import decode_image_features, encode_png_media

    # Same explicit-parallelism rule as multimodal_jpeg_decode: CPU-bound
    # Python codec stages must not inherit the small file's one partition.
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    feats = decode_image_features(encode_png_media(docs, "doc_id", "text", width=16), fake=False)
    return feats.select(
        "doc_id",
        "width",
        "height",
        "mean_byte",
        F.concat_ws(
            ",", F.transform("feature", lambda x: x.cast("int").cast("string"))
        ).alias("feature_csv"),
    )


_JPEG_DECODE_ORACLE = r"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         (octet_length(encode(text)) // 16) * 16 AS n
  FROM documents
  WHERE octet_length(encode(text)) >= 16
), bytes AS (
  SELECT doc_id,
         CAST(('0x' || substr(hx, CAST(2 * t.i + 1 AS INT), 2)) AS INTEGER) AS byte
  FROM b, unnest(generate_series(0, n - 1)) AS t(i)
)
SELECT doc_id,
       CAST(128 AS INT) AS width,
       CAST((COUNT(*) // 16) * 8 AS INT) AS height,
       CAST(SUM(byte) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_byte,
       concat_ws(',',
         CAST(64 * COUNT(*) FILTER (byte % 8 = 0) AS VARCHAR),
         CAST(64 * COUNT(*) FILTER (byte % 8 = 1) AS VARCHAR),
         CAST(64 * COUNT(*) FILTER (byte % 8 = 2) AS VARCHAR),
         CAST(64 * COUNT(*) FILTER (byte % 8 = 3) AS VARCHAR),
         CAST(64 * COUNT(*) FILTER (byte % 8 = 4) AS VARCHAR),
         CAST(64 * COUNT(*) FILTER (byte % 8 = 5) AS VARCHAR),
         CAST(64 * COUNT(*) FILTER (byte % 8 = 6) AS VARCHAR),
         CAST(64 * COUNT(*) FILTER (byte % 8 = 7) AS VARCHAR)) AS feature_csv
FROM bytes GROUP BY doc_id
"""


@query("multimodal_jpeg_decode", oracle=_JPEG_DECODE_ORACLE)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec JPEG decode, the lossy-format twin of
    multimodal_png_decode: each document's utf-8 bytes become the 8x8-block
    values of a genuine baseline JFIF JPEG (full DCT + zigzag + Annex-K
    Huffman pipeline, operators/jpeg.py), then
    decode_image_features(fake=False) Huffman-decodes, dequantizes, and
    IDCTs every block. Block-constant content with DC step 8 makes the
    round trip EXACTLY lossless (all AC = 0 and the DC quantization
    divides exactly; float DCT error vanishes under integer rounding), so
    the DuckDB oracle re-derives every decoded pixel statistic from the
    text bytes — each byte appears as 64 identical pixels (width 128 = 16
    blocks/row, mean unchanged, histogram counts x64). Arbitrary-content
    fidelity (the codec is not a constant-block toy) is PSNR-floored in
    tests/test_multimodal.py."""
    from gridmr_spark.operators.multimodal import decode_image_features, encode_jpeg_media

    # Codec work is CPU-bound Python: spread it across every core. The
    # small local parquet otherwise scans as ONE partition and the whole
    # encode+decode pipeline runs single-threaded (measured 43 s -> ~4 s
    # here); at 100 TB the scan has thousands of splits and this
    # repartition is a no-op in spirit, but a Python-heavy stage should
    # always be explicit about its parallelism rather than inheriting
    # whatever the upstream file layout happened to produce.
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    feats = decode_image_features(
        encode_jpeg_media(docs, "doc_id", "text", blocks_per_row=16), fake=False
    )
    return feats.select(
        "doc_id",
        "width",
        "height",
        "mean_byte",
        F.concat_ws(
            ",", F.transform("feature", lambda x: x.cast("int").cast("string"))
        ).alias("feature_csv"),
    )


_FRAME_SAMPLE_ORACLE = """
WITH media AS (
  SELECT doc_id, octet_length(encode(text)) % 30 + 1 AS n_frames FROM documents
)
SELECT doc_id, CAST(f.frame_idx AS INT) AS frame_idx
FROM media, unnest(generate_series(0, n_frames - 1)) AS f(frame_idx)
WHERE f.frame_idx % 5 = 0
"""


@query("multimodal_frame_sample", oracle=_FRAME_SAMPLE_ORACLE)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: explode the frame index space from
    typed metadata, keep every 5th — the row-multiplying step a real decoder
    plugs into. Pure sequence+explode (JVM-side); the payload column rides
    along by reference and is dropped here so the gate hashes only the
    sampling decision."""
    from gridmr_spark.operators.multimodal import attach_payload, sample_frames

    docs = load_table(spark, sf_dir, "documents")
    media = attach_payload(docs, "doc_id", "text", kind="video")
    return sample_frames(media, every_nth=5).select(
        "doc_id", F.col("frame_idx").cast("int").alias("frame_idx")
    )


# The fake resize is strided byte subsampling + zero-pad (see
# operators/multimodal.py:resize_images) — pure integer index arithmetic,
# so DuckDB can rebuild the exact output bytes by striding over hex pairs.
# Compared as lowercase hex strings: DuckDB's md5 only takes VARCHAR, and
# hex equality is the same assertion with no digest in the middle.
_MULTIMODAL_RESIZE_ORACLE = r"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
), p AS (
  SELECT doc_id, hx, n, greatest(1, n // 4096) AS step FROM b
), chosen AS (
  SELECT doc_id, t.i,
         substr(hx, CAST(2 * t.i * step + 1 AS INT), 2) AS pair
  FROM p, unnest(generate_series(0, least((n + step - 1) // step, 4096) - 1)) AS t(i)
), agg AS (
  SELECT doc_id, string_agg(pair, '' ORDER BY i) AS hx_sub FROM chosen GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(64 AS INT) AS out_width,
       CAST(64 AS INT) AS out_height,
       lower(rpad(COALESCE(a.hx_sub, ''), 8192, '0')) AS resized_hex
FROM b LEFT JOIN agg a USING (doc_id)
"""


@query("multimodal_resize", oracle=_MULTIMODAL_RESIZE_ORACLE)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched resize stub (deterministic byte subsampling standing in
    for the PIL seam; see operators/multimodal.py). Output carries the
    target dims + the resized payload as lowercase hex so the driver gate
    (and the DuckDB oracle, which re-derives the stride arithmetic over hex
    pairs) can sort and hash the rows byte-exactly."""
    from gridmr_spark.operators.multimodal import attach_payload, resize_images

    docs = load_table(spark, sf_dir, "documents")
    resized = resize_images(attach_payload(docs, "doc_id", "text"), 64, 64)
    return resized.select(
        "doc_id",
        "out_width",
        "out_height",
        F.lower(F.hex("resized")).alias("resized_hex"),
    )


# ---------------------------------------------------------------------------
# End-to-end training-data pipeline (the composition the engine exists for)
# ---------------------------------------------------------------------------

_PIPELINE_ORACLE = r"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, text, toks,
    len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to','in'], x))) AS s_en,
    len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht'], x))) AS s_de,
    len(list_filter(toks, x -> list_contains(['el','la','los','las','y','es','que'], x))) AS s_es,
    len(list_filter(toks, x -> list_contains(['le','la','les','et','est','que','une'], x))) AS s_fr
  FROM t
), langed AS (
  SELECT doc_id, text, toks FROM s
  WHERE NOT regexp_matches(text, '[\x{4e00}-\x{9fff}]')
    AND s_en > 0 AND s_en >= greatest(s_de, s_es, s_fr)
), quality AS (
  SELECT doc_id, text FROM langed
  WHERE len(toks) >= 10
    AND CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)/CAST(len(toks) AS DOUBLE) >= 2.0
    AND CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)/CAST(len(toks) AS DOUBLE) <= 12.0
    AND CAST(length(regexp_replace(text,'[a-zA-Z0-9\s]+','','g')) AS DOUBLE)/CAST(length(text) AS DOUBLE) < 0.2
    AND CAST(len(list_distinct(toks)) AS DOUBLE)/CAST(len(toks) AS DOUBLE) > 0.1
), grp AS (
  SELECT lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')) AS norm_text,
         MIN(doc_id) AS doc_id, COUNT(*) AS n_copies,
         arg_min(text, doc_id) AS rep_text
  FROM quality GROUP BY 1
)
SELECT doc_id, n_copies,
  len(list_filter(string_split(lower(regexp_replace(rep_text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> '')) AS ws_tokens,
  len(regexp_extract_all(rep_text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_tokens
FROM grp
"""


@query("pipeline_training_data", oracle=_PIPELINE_ORACLE)
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pre-training data pipeline, end-to-end in ONE declarative
    plan: language gate (keep predicted 'en') -> quality gate (the keep flag
    from quality_features) -> exact dedup on normalized text (min-id
    representative survives) -> token accounting for the survivors. Each
    stage is the already-oracle-checked operator; this query proves the
    COMPOSITION matches DuckDB end-to-end, which is the integration a real
    user runs. Plan shape: ONE scan of documents through codegen'd filters,
    ONE shuffle (the dedup group-by on norm_text) — min_by carries the
    representative's raw text through the aggregate, so no join-back pass
    recomputes the gates. At 100 TB the only wide exchange is the dedup
    group-by, exactly where it must be."""
    docs = load_table(spark, sf_dir, "documents")
    kept = (
        docs.where(text_ops.lang_id("text") == "en")
        .where(text_ops.quality_keep("text"))
        .select("doc_id", "text")
    )
    reps = kept.groupBy(text_ops.normalize_text("text").alias("norm_text")).agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").alias("n_copies"),
        F.min_by("text", "doc_id").alias("rep_text"),
    )
    ws, bpe = text_ops.token_count_cols("rep_text")
    return reps.select(
        "doc_id",
        "n_copies",
        ws.cast("bigint").alias("ws_tokens"),
        bpe.cast("bigint").alias("bpe_tokens"),
    )


_TFIDF_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> '')) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY doc_id, tok
), df AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
), s AS (
  SELECT doc_id, tf.tok, tf, df,
         CAST(tf AS DOUBLE) * (CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) AS score
  FROM tf JOIN df USING (tok) CROSS JOIN n
)
SELECT doc_id, tok, tf, df, score
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rk FROM s)
WHERE rk <= 3
"""


@query("text_tfidf_topterms", oracle=_TFIDF_ORACLE)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by a tf-idf-style score.
    Distributed shape: explode -> (doc,term) counts -> term document-
    frequency dictionary -> join back -> per-doc top-k via WindowGroupLimit.
    The corpus size joins in as a broadcast single-row scalar, and the term
    dictionary is broadcast-sized in practice (vocabulary grows
    sub-linearly in corpus size — Heaps' law). The score uses N/df raw
    rather than ln(N/df): one division and one multiply are IEEE-identical
    across engines, while libm log differs in final ulps and would break
    the value hash; the RANKING is the same either way since ln is
    monotone. Ties break on the term for full determinism."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(text_ops._tokens_col("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    s = (
        tf.join(F.broadcast(df_t), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "tok", "tf", "df",
            (F.col("tf").cast("double") * (F.col("n").cast("double") / F.col("df").cast("double"))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        s.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "tok", "tf", "df", "score")
    )


_CHUNK_W, _CHUNK_S = 50, 40  # window / stride (10-token overlap)

_CHUNK_ORACLE = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
)
SELECT doc_id,
       start // {_CHUNK_S} AS chunk_id,
       array_to_string(list_slice(toks, start + 1, start + {_CHUNK_W}), ' ') AS chunk_text
FROM (SELECT doc_id, toks, unnest(range(0, n, {_CHUNK_S})) AS start FROM s)
"""


@query("text_chunk_windows", oracle=_CHUNK_ORACLE)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking for LLM training: split each document into
    overlapping 50-token windows at stride 40 — the fan-out step between
    raw documents and training sequences. Pure codegen (sequence/transform/
    slice/posexplode), no UDF, and the explode keeps rows independent so the
    output re-partitions freely downstream; per-document state never
    exceeds one token array. Zero-token documents emit no chunks on either
    engine."""
    docs = load_table(spark, sf_dir, "documents")
    toks = text_ops._tokens_col("text")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), ((n - F.lit(1)) / F.lit(_CHUNK_S)).cast("int") * _CHUNK_S, F.lit(_CHUNK_S))
    chunks = F.transform(
        starts, lambda st: F.array_join(F.slice(toks, st + 1, _CHUNK_W), " ")
    )
    return (
        docs.where(n > 0)
        .select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk_text"))
        .select("doc_id", F.col("chunk_id").cast("bigint").alias("chunk_id"), "chunk_text")
    )


_BATCH_BUDGET = 2048  # tokens per packed batch

_BATCH_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tok,
         CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM t
)
SELECT doc_id, lang, n_tok,
       (cum - n_tok) // {_BATCH_BUDGET} AS batch_id
FROM c
"""


@query("pipeline_token_batching", oracle=_BATCH_ORACLE)
def pipeline_token_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget packing: documents are assigned, in deterministic
    doc_id order WITHIN each language shard, to consecutive batches of
    ~2048 tokens (batch_id = exclusive running total // budget) — the
    sequence-packing step that turns filtered documents into fixed-budget
    training batches. The running sum is a partitioned window (one shuffle
    on lang, no global single-partition window), so shards pack in
    parallel; all math is exact integers, hence oracle-checkable
    bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(text_ops._tokens_col("text")).cast("bigint")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = docs.select("doc_id", "lang", n_tok.alias("n_tok")).withColumn(
        "cum", F.sum("n_tok").over(w)
    )
    return c.select(
        "doc_id", "lang", "n_tok",
        F.floor((F.col("cum") - F.col("n_tok")) / _BATCH_BUDGET).alias("batch_id"),
    )


# ---------------------------------------------------------------------------
# Deterministic sampling / splits (training-data pipeline staples)
# ---------------------------------------------------------------------------

# Engine-portable pseudo-randomness: md5 of the id — identical hex on every
# engine, so sampling decisions are reproducible AND oracle-checkable
# (rand()/hash() would differ per engine and per run). At 100 TB this is
# also the property you want operationally: re-running the pipeline samples
# the SAME rows, so downstream caches/dedup stay valid.

_STRATIFIED_ORACLE = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) t WHERE rn <= 50
"""


@query("sample_stratified_cap", oracle=_STRATIFIED_ORACLE)
def sample_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language cap (<=50 docs/lang) via row_number over the md5 order —
    the per-source downsampling step of corpus assembly. One shuffle on the
    stratum key; WindowGroupLimit pushes the cap below the shuffle, so each
    map task ships at most 50 rows per stratum it sees, not its whole
    partition."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 50)
        .select("doc_id", "lang")
    )


_SPLIT_ORACLE = """
WITH h AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 100 AS bucket
  FROM documents
)
SELECT lang,
       CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM h GROUP BY lang, split
"""


@query("sample_train_val_test", oracle=_SPLIT_ORACLE)
def sample_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment from the first 32
    md5 bits of the doc id — stable under reruns, insertions elsewhere, and
    engine choice (the split a membership file would otherwise pin).
    Output: per (lang, split) doc counts."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.groupBy("lang", split.alias("split")).agg(F.count("*").alias("n_docs"))


# ---------------------------------------------------------------------------
# Per-source (domain) caps: quality gate + bounded docs per origin
# ---------------------------------------------------------------------------

_DOMAIN_CAPS_ORACLE = r"""
WITH t AS (
  SELECT doc_id, source, length(text) AS n_chars_calc, text,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> '') AS toks
  FROM documents
), f AS (
  SELECT doc_id, source, n_chars_calc,
    len(toks) AS n_tokens,
    CASE WHEN len(toks) > 0
         THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)/CAST(len(toks) AS DOUBLE)
         ELSE 0.0 END AS avg_token_len,
    CASE WHEN length(text) > 0
         THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]+', '', 'g')) AS DOUBLE)/CAST(length(text) AS DOUBLE)
         ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(toks) > 0
         THEN CAST(len(list_distinct(toks)) AS DOUBLE)/CAST(len(toks) AS DOUBLE)
         ELSE 0.0 END AS distinct_ratio
  FROM t
), kept AS (
  SELECT doc_id, source, n_chars_calc,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars_calc DESC, doc_id) AS rk
  FROM f
  WHERE n_tokens >= 10 AND avg_token_len >= 2.0 AND avg_token_len <= 12.0
    AND punct_ratio < 0.2 AND distinct_ratio > 0.1
)
SELECT doc_id, source, n_chars_calc, rk FROM kept WHERE rk <= 25
"""


@query("pipeline_domain_caps", oracle=_DOMAIN_CAPS_ORACLE)
def pipeline_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-origin document caps, the anti-domination rule of web-scale corpus
    building (no single domain/dump may flood the mix): quality-gate first
    (the same codegen'd keep predicate as text_quality, no scored-frame
    join-back), then keep the top 25 docs per source ranked by length with a
    deterministic id tiebreak. One filter + one windowed rank over the
    (source)-partitioned stream; at 100 TB the WindowGroupLimit pushdown
    keeps per-partition state at 25 rows, not the whole group."""
    docs = load_table(spark, sf_dir, "documents")
    kept = docs.where(text_ops.quality_keep("text")).select(
        "doc_id", "source", F.length("text").cast("bigint").alias("n_chars_calc")
    )
    w = Window.partitionBy("source").orderBy(F.desc("n_chars_calc"), F.asc("doc_id"))
    return (
        kept.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 25)
        .select("doc_id", "source", "n_chars_calc", "rk")
    )


# ---------------------------------------------------------------------------
# Corpus-familiarity score: mean token document-frequency per doc
# ---------------------------------------------------------------------------

_CORPUS_FREQ_ORACLE = r"""
WITH tk AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> '')) AS tok
  FROM documents
), df AS (
  SELECT tok, COUNT(DISTINCT doc_id) AS dfc FROM tk GROUP BY tok
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(dfc) AS BIGINT) AS sum_df,
       CAST(SUM(dfc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_token_df
FROM tk t JOIN df USING (tok)
GROUP BY t.doc_id
"""


@query("text_corpus_freq_score", oracle=_CORPUS_FREQ_ORACLE)
def text_corpus_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-familiarity quality signal: the mean document-frequency of a
    document's tokens — the exact-arithmetic stand-in for LM perplexity
    scoring (documents full of corpus-rare tokens score low and get routed
    to review; log-prob scoring would hit cross-engine libm differences, a
    frequency ratio is integer sums + one division). Plan: token explode,
    distinct (doc, token) -> document-frequency dictionary (tiny — shared
    vocabulary), broadcast it back onto the token stream, one agg. Same
    dictionary-join shape as TF-IDF, different statistic."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", F.explode(text_ops._tokens_col("text")).alias("tok"))
    df_tbl = (
        tk.select("doc_id", "tok").distinct().groupBy("tok").agg(F.count(F.lit(1)).alias("dfc"))
    )
    return (
        tk.join(F.broadcast(df_tbl), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("dfc").cast("bigint").alias("sum_df"),
            (F.sum("dfc").cast("double") / F.count(F.lit(1)).cast("double")).alias("mean_token_df"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental (cross-corpus) near-dedup: new ingest vs historical corpus
# ---------------------------------------------------------------------------

_INCREMENTAL_DEDUP_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), t -> t <> '') AS ws
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(ws)-2),
         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
  FROM toks
), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
  GROUP BY 1, 2
)
SELECT id1, id2, CAST(c AS DOUBLE)/CAST(s1.sz + s2.sz - c AS DOUBLE) AS jaccard
FROM common
JOIN sizes s1 ON id1 = s1.doc_id
JOIN sizes s2 ON id2 = s2.doc_id
WHERE CAST(c AS DOUBLE)/CAST(s1.sz + s2.sz - c AS DOUBLE) >= 0.5
"""


@query("dedup_incremental_minhash", oracle=_INCREMENTAL_DEDUP_ORACLE)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: the odd-id half of documents plays the new
    ingest, the even-id half the historical corpus; MinHash bands join
    bipartite (old x new only — no old x old pair is ever generated), then
    exact Jaccard verifies at 0.5. The oracle is the exact bipartite
    Jaccard SQL — hash-equality therefore also asserts band recall 1.0 on
    this data, same argument as dedup_minhash_lsh. The nightly-ingest
    shape: a day's ingest costs O(new + collisions), not a corpus rebuild
    (operators/dedup.py: minhash_dedup_incremental)."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    return dedup_ops.minhash_dedup_incremental(
        old, new, "doc_id", "text", n=3, k=64, bands=16, threshold=0.5
    )


_DIGEST_DEDUP_ORACLE = """
SELECT md5(text) AS text_digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


@query("dedup_exact_digest", oracle=_DIGEST_DEDUP_ORACLE)
def dedup_exact_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on a 128-bit digest instead of the raw text — the
    100 TB shape SCALING.md prescribes: the shuffle carries 32 hex chars +
    key per row instead of whole documents, collapsing shuffle width by the
    mean document size. Same min-id representative rule as dedup_exact
    (hash-collision probability at 128 bits is ignorable against 100 TB row
    counts); md5 on both engines makes the digest itself oracle-exact."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_digest")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


_AUDIO_ENERGY_ORACLE = r"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
), bytes AS (
  SELECT doc_id,
         t.i,
         CAST(('0x' || substr(hx, CAST(2 * t.i + 1 AS INT), 2)) AS INTEGER) AS byte
  FROM b, unnest(generate_series(0, (n // 256) * 256 - 1)) AS t(i)
)
SELECT doc_id,
       CAST(i // 256 AS INT) AS frame_idx,
       CAST(SUM((byte - 128) * (byte - 128)) AS BIGINT) AS energy
FROM bytes
GROUP BY doc_id, i // 256
"""


@query("multimodal_audio_energy", oracle=_AUDIO_ENERGY_ORACLE)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality plumbing: frame the payload into 256-byte windows and
    emit per-frame energy (sum of squared centered 8-bit samples) via
    Arrow-batched mapInPandas — the VAD/segmentation primitive, with the
    real PCM decoder slotting into the marked seam
    (operators/multimodal.py:audio_frame_energy). Integer arithmetic
    end-to-end, so DuckDB re-derives every frame energy exactly from hex
    pairs."""
    from gridmr_spark.operators.multimodal import attach_payload, audio_frame_energy

    docs = load_table(spark, sf_dir, "documents")
    media = attach_payload(docs, "doc_id", "text", kind="audio")
    return audio_frame_energy(media, frame_bytes=256)


# ---------------------------------------------------------------------------
# CCNet-style paragraph-level dedup: drop repeated chunks corpus-wide
# ---------------------------------------------------------------------------

_PARA_DEDUP_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), t -> t <> '') AS ws
  FROM documents
), chunks AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(ws[i*10+1 : i*10+10], ' ') AS chunk
  FROM toks, UNNEST(generate_series(0, GREATEST(CAST(CEIL(len(ws)/10.0) AS BIGINT), 1) - 1)) AS u(i)
), ranked AS (
  SELECT doc_id, chunk_idx, chunk,
         ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
  FROM chunks
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(STRING_AGG(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE rn = 1), '')
         AS cleaned_text
FROM ranked
GROUP BY doc_id
"""


@query("dedup_paragraphs", oracle=_PARA_DEDUP_ORACLE)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style sub-document dedup: the corpus is chunked (10-token
    windows standing in for paragraphs — the synthetic text has no newline
    structure) and every chunk that already occurred EARLIER in the corpus
    (first occurrence = min (doc_id, chunk_idx)) is dropped; each document
    is then reassembled from its surviving chunks. This removes boilerplate
    repeated ACROSS documents, which document-level dedup can never see.

    Plan: tokenize once, explode to chunks (rows ~ tokens/10), ONE shuffle
    on the chunk text for the first-occurrence window (at 100 TB, shuffle a
    64-bit xxhash of the chunk instead of the text and join survivors
    back), one shuffle on doc_id to reassemble. No pair joins anywhere —
    cost is linear in corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(text_ops.tokenize("text"), lambda t: t != "")
    n_chunks = F.greatest(F.ceil(F.size("ws") / F.lit(10.0)), F.lit(1)).cast("bigint")
    chunks = (
        docs.select("doc_id", toks.alias("ws"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(F.slice(F.col("ws"), i * 10 + 1, 10), " "),
                )
            ).alias("chunk_idx", "chunk"),
        )
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    kept_sorted = F.array_sort(
        F.collect_list(F.when(F.col("rn") == 1, F.struct("chunk_idx", "chunk")))
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(kept_sorted, lambda s: s["chunk"]), " "
        ).alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# Importance-weighted sampling: quality-proportional deterministic Bernoulli
# ---------------------------------------------------------------------------

_IMPORTANCE_ORACLE = """
WITH h AS (
  SELECT doc_id, source, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
           / 4294967296.0 AS u,
         LEAST(GREATEST(n_chars / 400.0, 0.05), 1.0) AS w
  FROM documents
)
SELECT source,
       COUNT(*) AS n_kept,
       CAST(SUM(CAST(w AS DECIMAL(18,9))) AS DOUBLE) AS sum_weight
FROM h WHERE u < w
GROUP BY source
"""


@query("sample_importance_weighted", oracle=_IMPORTANCE_ORACLE)
def sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional deterministic sampling — the training-mix
    primitive (upsample long/high-quality documents, downsample boilerplate)
    without an RNG: keep a row iff uniform(md5(doc_id)) < weight, where the
    weight here is a length proxy clipped to [0.05, 1]. Deterministic under
    reruns, partitioning, and engine choice (same first-32-md5-bits uniform
    as sample_train_val_test); E[kept] = sum of weights, which the output
    reports per source for calibration. Pure scan + filter + one tiny
    aggregate — no shuffle of the payload."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double") / F.lit(4294967296.0)
    )
    w = F.least(F.greatest(F.col("n_chars") / F.lit(400.0), F.lit(0.05)), F.lit(1.0))
    return (
        docs.where(u < w)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(w.cast("decimal(18,9)")).cast("double").alias("sum_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Token entropy: distribution-shape quality signal
# ---------------------------------------------------------------------------

# H = -sum((c/n) ln (c/n)) = ln(n) - sum(c*ln c)/n — the single-aggregate
# identity, so one grouped pass computes it. Both engines evaluate the SAME
# expression shape; ln() may differ in the last ulp between libms and the
# sum order differs, so the result quantizes through DECIMAL(18,9) and
# back to DOUBLE (noise ~1e-15, quantum 1e-9).
_ENTROPY_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), t -> t <> '')) AS tok
  FROM documents
), counts AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_distinct,
       CAST(CAST(
         ln(CAST(SUM(c) AS DOUBLE))
           - SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE)
         AS DECIMAL(18,9)) AS DOUBLE) AS entropy
FROM counts GROUP BY doc_id
"""


@query("text_token_entropy", oracle=_ENTROPY_ORACLE)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution — the
    distribution-shape quality signal (near-zero entropy = keyword-stuffed
    or boilerplate; high entropy relative to ln(n_distinct) = natural
    prose). Computed with the single-aggregate identity
    H = ln(n) - sum(c ln c)/n, so the plan is explode + two hash
    aggregations — one shuffle on (doc_id, token), one on doc_id, nothing
    quadratic."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("doc_id", F.explode(text_ops.tokenize("text")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").cast("double")
    return counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        (
            F.log(n) - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))) / n
        ).cast("decimal(18,9)").cast("double").alias("entropy"),
    )


_ARROW_STATS_ORACLE = r"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
), bytes AS (
  SELECT doc_id,
         CAST(('0x' || substr(hx, CAST(2 * t.i + 1 AS INT), 2)) AS INTEGER) AS byte
  FROM b, unnest(generate_series(0, n - 1)) AS t(i)
)
SELECT b.doc_id,
       CAST(b.n AS BIGINT) AS byte_len,
       CAST(COALESCE(SUM(y.byte), 0) AS BIGINT) AS byte_sum,
       CAST(COALESCE(MIN(y.byte), 0) AS INT) AS min_byte,
       CAST(COALESCE(MAX(y.byte), 0) AS INT) AS max_byte
FROM b LEFT JOIN bytes y USING (doc_id)
GROUP BY b.doc_id, b.n
"""


@query("multimodal_arrow_byte_stats", oracle=_ARROW_STATS_ORACLE)
def multimodal_arrow_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy payload statistics via mapInArrow
    (operators/multimodal.arrow_byte_stats): sums/mins/maxs for every row
    of a batch computed by ONE reduceat over the Arrow values buffer —
    no pandas objects, no per-row Python, bytes never copied out of the
    buffer the JVM shipped. Completes the Python-boundary ladder the repo
    demonstrates: pandas_udf < mapInPandas/applyInPandas < mapInArrow.
    Oracle re-derives the integer stats through DuckDB hex-pair expansion
    (exact in both engines)."""
    from gridmr_spark.operators.multimodal import arrow_byte_stats, attach_payload

    docs = load_table(spark, sf_dir, "documents")
    return arrow_byte_stats(attach_payload(docs, "doc_id", "text"))


# ---------------------------------------------------------------------------
# Containment near-dup: |A ∩ B| / |A| — the subset/quotation detector
# ---------------------------------------------------------------------------

_CONTAINMENT_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), t -> t <> '') AS ws
  FROM documents WHERE doc_id < 200
), sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(generate_series(1, len(ws)-2),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
  FROM toks WHERE len(ws) >= 3
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.id1, c.id2,
       CAST(c.c AS DOUBLE) / CAST(s1.sz AS DOUBLE) AS containment
FROM common c
JOIN sizes s1 ON c.id1 = s1.doc_id
WHERE CAST(c.c AS DOUBLE) / CAST(s1.sz AS DOUBLE) >= 0.5
"""


@query("dedup_containment_pairs", oracle=_CONTAINMENT_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT |A∩B|/|A| — the asymmetric cousin of Jaccard
    that catches a document EMBEDDED in a larger one (quotes, boilerplate
    wrappers, near-supersets), which symmetric Jaccard under-scores because
    the union is dominated by the big side. Ordered pairs (id1 contained in
    id2). Same inverted-index join shape as dedup_ngram_jaccard — shuffle
    on the shingle, never all-pairs — and the same input bound (the
    quadratic-capable exact form is the oracle for a banded variant at
    scale). One tokenize pass feeds shingles and sizes."""
    from gridmr_spark.operators.dedup import _shingle_sizes, word_shingles

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    sh = word_shingles(docs, "doc_id", "text", 3).localCheckpoint(eager=True)
    sizes = _shingle_sizes(sh)
    a = sh.select(F.col("id").alias("id1"), "shingle")
    b = sh.select(F.col("id").alias("id2"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("id1") != F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        common.join(sizes.select(F.col("id").alias("id1"), F.col("sz").alias("sz1")), "id1")
        .select(
            "id1", "id2",
            (F.col("c").cast("double") / F.col("sz1").cast("double")).alias("containment"),
        )
        .where(F.col("containment") >= 0.5)
    )


# ---------------------------------------------------------------------------
# End-to-end near-dup clustering: minhash pairs -> components -> survivors
# ---------------------------------------------------------------------------

_MINHASH_CC_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), t -> t <> '') AS ws
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(ws)-2),
         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
  FROM toks
), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
p AS (
  SELECT id1, id2 FROM common
  JOIN sizes s1 ON id1 = s1.doc_id
  JOIN sizes s2 ON id2 = s2.doc_id
  WHERE CAST(c AS DOUBLE)/CAST(s1.sz + s2.sz - c AS DOUBLE) >= 0.5
),
r(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, p.id2 FROM r JOIN p ON r.b = p.id1
)
SELECT a AS doc_id, MIN(b) AS component,
       CAST(a = MIN(b) AS INT) AS is_representative
FROM r GROUP BY a
"""


def _with_representative(cc: DataFrame) -> DataFrame:
    """(doc_id, component, is_representative) from a components frame
    (id, component): the min id of each cluster represents it."""
    return cc.select(
        F.col("id").alias("doc_id"),
        "component",
        (F.col("id") == F.col("component")).cast("int").alias("is_representative"),
    )


@query("dedup_minhash_clusters", oracle=_MINHASH_CC_ORACLE)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup pipeline end-to-end over the full documents
    table: MinHash+LSH candidate pairs (verified exact-Jaccard >= 0.5) →
    connected components (pointer-jumping min-label) → one representative
    per cluster (min doc_id). Composes the two proven pieces at their
    production settings — banded candidates (linear shuffle, measured
    alpha 1.03 at 10x) feeding the size-chosen cluster solve — where
    dedup_clusters_cc proves the closure on a bounded embedding graph.
    Oracle: DuckDB WITH RECURSIVE closure over the exact Jaccard pair
    definition (minhash verify output equals exact pairs at test SF, which
    dedup_minhash_lsh's own oracle proves). Integer-only output."""
    from gridmr_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_ops.minhash_dedup_pairs(
        docs, "doc_id", "text", n=3, k=64, bands=16, threshold=0.5
    )
    cc = connected_components(
        docs.select("doc_id"), pairs.select("id1", "id2"),
        id_col="doc_id", src_col="id1", dst_col="id2",
    )
    return _with_representative(cc)


def _incremental_day(spark: SparkSession, sf_dir: str, on_prior=None):
    """The nightly incremental-dedup day both incremental cluster queries
    run: the even-id half of documents is yesterday's corpus, the odd-id
    half today's ingest. Returns (new, prior, day_pairs):

    - prior: yesterday's components (id, component), from old x old
      MinHash pairs + connected components; ``on_prior(prior)`` runs on
      it inside the same driver thread (the pipeline commits it there);
    - day_pairs: the day's (id1, id2) edges, bipartite old x new from
      `minhash_dedup_incremental` plus new x new, materialized.

    Each half is shingled exactly ONCE for all three pair searches
    (word_shingles is deterministic, so the output is identical; at
    100 TB this is the contract that lets the old half be a precomputed
    artifact). The halves materialize concurrently, as do the prior build
    and the day's pair searches (guide §2.6 back-fill)."""
    from gridmr_spark.operators.graph import connected_components
    from gridmr_spark.operators.parallel import run_parallel

    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    sh_old, sh_new = dedup_ops.shingle_halves(old, new, "doc_id", "text", 3)

    def _prior():
        pairs = dedup_ops.minhash_dedup_pairs(
            old, "doc_id", "text", n=3, k=64, bands=16, threshold=0.5, sh=sh_old
        )
        prior = connected_components(
            old.select("doc_id"), pairs.select("id1", "id2"),
            id_col="doc_id", src_col="id1", dst_col="id2",
        )
        if on_prior is not None:
            on_prior(prior)
        return prior

    def _day():
        # Materialized ONCE: incremental_components reads its edge frame
        # from several consumers (endpoint probe, contraction, relabel) —
        # an uncheckpointed day_pairs would re-run the bipartite verify
        # join per consumer.
        return (
            dedup_ops.minhash_dedup_incremental(
                old, new, "doc_id", "text", n=3, k=64, bands=16, threshold=0.5,
                sh_old=sh_old, sh_new=sh_new,
            )
            .select("id1", "id2")
            .union(
                dedup_ops.minhash_dedup_pairs(
                    new, "doc_id", "text", n=3, k=64, bands=16, threshold=0.5, sh=sh_new
                ).select("id1", "id2")
            )
            .localCheckpoint(eager=True)
        )

    prior, day_pairs = run_parallel(_prior, _day)
    return new, prior, day_pairs


@query("dedup_incremental_clusters", oracle=_MINHASH_CC_ORACLE)
def dedup_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CLUSTER maintenance (operators/graph.py:
    incremental_components): the even-id half plays yesterday's corpus
    with its components already assigned (a prior full run); the odd-id
    half is today's ingest. The day's pairs (bipartite old x new from
    `minhash_dedup_incremental` plus new x new) recluster only AFFECTED
    components via quotient-graph contraction — CC runs on a graph of
    O(day's pairs) supernodes, and untouched components' rows pass
    through a broadcast relabel join unshuffled (plan asserted in
    tests/test_graph_incremental.py). The oracle is the FULL recompute
    over all documents (same recursive closure as dedup_minhash_clusters)
    — hash equality proves the incremental shortcut is exact, not
    approximately right."""
    from gridmr_spark.operators.graph import incremental_components

    new, prior, day_pairs = _incremental_day(spark, sf_dir)
    updated = incremental_components(
        prior, new.select(F.col("doc_id").alias("id")),
        day_pairs, src_col="id1", dst_col="id2",
    )
    return _with_representative(updated)


@query("pipeline_incremental_dedup_table", oracle=_MINHASH_CC_ORACLE)
def pipeline_incremental_dedup_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION shape of nightly dedup-state maintenance, end to
    end: day-0's cluster assignment lives in a ManifestTable; day-1's
    ingest produces pairs (`minhash_dedup_incremental` bipartite +
    new x new); `incremental_components(changed_only=True)` emits ONLY
    the rows whose label changed (new docs + members of merged
    components — day-sized by the broadcast relabel construction); and
    `merge_by_key` upserts exactly that bounded set into the table as
    one atomic, time-travelable snapshot. The read-back state is the
    query output, and the oracle is the FULL recompute over all
    documents — one hash row therefore proves the whole composition:
    incremental reclustering is exact AND the bounded write-back loses
    nothing. Yesterday's state stays readable at the prior version (the
    audit trail a data-governance review wants). At 100 TB: the pair
    search is banded, the recluster is day-sized, the table rewrite is
    copy-on-write bounded by partitioning — no stage rescans history."""
    from gridmr_spark.operators.graph import incremental_components
    from gridmr_spark.sources import scratch_dir
    from gridmr_spark.sources.table_format import ManifestTable

    t = ManifestTable(scratch_dir("dedup_state"))
    # v1, the day-0 state, commits in the prior build's thread, so it
    # overlaps the day's pair searches.
    new, _prior, day_pairs = _incremental_day(spark, sf_dir, on_prior=t.commit)
    changed = incremental_components(
        t.read(spark), new.select(F.col("doc_id").alias("id")),
        day_pairs, src_col="id1", dst_col="id2", changed_only=True,
    )
    t.merge_by_key(spark, changed, key="id")  # v2: day-1 state, bounded write
    return _with_representative(t.read(spark))


# ---------------------------------------------------------------------------
# Quality classifier: broadcast linear model inference as a DataFrame op
# ---------------------------------------------------------------------------

_CLASSIFIER_ORACLE = r"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> '') AS toks
  FROM documents
), f AS (
  SELECT doc_id,
    CASE WHEN len(toks) > 0
         THEN CAST(len(list_filter(toks, x -> list_contains(
              ['the','a','of','and','is','to','in','der','die','das','und','ist','nicht',
               'el','la','los','las','y','es','que','le','les','et','est','une'], x))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE)
         ELSE 0.0 END AS stop_ratio,
    CASE WHEN len(toks) > 0
         THEN CAST(len(list_distinct(toks)) AS DOUBLE)/CAST(len(toks) AS DOUBLE)
         ELSE 0.0 END AS distinct_ratio,
    CASE WHEN length(text) > 0
         THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]+', '', 'g')) AS DOUBLE)/CAST(length(text) AS DOUBLE)
         ELSE 0.0 END AS punct_ratio,
    CAST(least(len(toks), 200) AS DOUBLE) / 200.0 AS len_feat
  FROM t
), z AS (
  SELECT doc_id,
         -1.5 + 6.0*stop_ratio + 3.0*distinct_ratio - 8.0*punct_ratio + 2.0*len_feat AS z
  FROM f
)
SELECT doc_id,
       CAST(CAST(1.0/(1.0 + exp(-z)) AS DECIMAL(18,9)) AS DOUBLE) AS quality_score,
       CASE WHEN CAST(CAST(1.0/(1.0 + exp(-z)) AS DECIMAL(18,9)) AS DOUBLE) >= 0.5
            THEN 1 ELSE 0 END AS keep
FROM z
"""


@query("text_quality_classifier", oracle=_CLASSIFIER_ORACLE)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR-MODEL INFERENCE as a pure DataFrame op: a fastText-style
    quality classifier (hand-set weights standing in for trained ones)
    scored entirely JVM-side — features are the proven-exact quality
    ratios, the logit is one arithmetic expression, sigmoid quantized
    through DECIMAL(18,9) for cross-engine hash equality (the PageRank
    discipline). The 100 TB point: model inference with a weight vector
    that fits a broadcast needs NO Python boundary at all — the model IS
    the plan; swapping trained weights swaps literals (or a broadcast
    join for wide sparse models, as text_lang_id does for its lexicon)."""
    from gridmr_spark.operators.text import STOPWORDS, _tokens_col

    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens_col("text")
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    stop_arr = F.array(*[F.lit(m) for m in STOPWORDS])
    stop_ratio = F.when(
        n_tokens > 0,
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("double")
        / n_tokens.cast("double"),
    ).otherwise(F.lit(0.0))
    distinct_ratio = F.when(
        n_tokens > 0,
        F.size(F.array_distinct(toks)).cast("double") / n_tokens.cast("double"),
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        n_chars > 0,
        F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9\\s]+", "")).cast("double")
        / n_chars.cast("double"),
    ).otherwise(F.lit(0.0))
    len_feat = F.least(n_tokens, F.lit(200)).cast("double") / F.lit(200.0)
    z = (
        F.lit(-1.5)
        + F.lit(6.0) * stop_ratio
        + F.lit(3.0) * distinct_ratio
        - F.lit(8.0) * punct_ratio
        + F.lit(2.0) * len_feat
    )
    score = (
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))
        .cast("decimal(18,9)")
        .cast("double")
    )
    return docs.select(
        "doc_id",
        score.alias("quality_score"),
        F.when(score >= 0.5, F.lit(1)).otherwise(F.lit(0)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Real audio container decode: RIFF/WAVE round-trip (stdlib wave)
# ---------------------------------------------------------------------------

_WAV_DECODE_ORACLE = r"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
  FROM documents
), bytes AS (
  SELECT doc_id,
         t.i,
         CAST(('0x' || substr(hx, CAST(2 * t.i + 1 AS INT), 2)) AS INTEGER) AS byte
  FROM b, unnest(generate_series(0, (n // 256) * 256 - 1)) AS t(i)
)
SELECT bytes.doc_id,
       8000 AS sample_rate,
       CAST(b.n AS BIGINT) AS n_samples,
       CAST(i // 256 AS INT) AS frame_idx,
       CAST(SUM((byte - 128) * (byte - 128)) AS BIGINT) AS energy
FROM bytes JOIN b ON bytes.doc_id = b.doc_id
GROUP BY bytes.doc_id, b.n, i // 256
"""


@query("multimodal_wav_decode", oracle=_WAV_DECODE_ORACLE)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-container audio decode, the WAV twin of multimodal_png_decode:
    each document's utf-8 bytes become 8-bit mono PCM inside a genuine
    RIFF/WAVE file (stdlib wave — no librosa/ffmpeg dependency), then
    wav_frame_energy parses the header (channels/width/rate validated),
    extracts the PCM, and emits per-256-sample frame energies. The DuckDB
    oracle re-derives sample count and every frame energy straight from
    the text bytes, so the hash match proves the container round-trip is
    lossless — closing the 'real audio codec' seam multimodal_audio_energy
    (raw-byte plumbing) left open."""
    from gridmr_spark.operators.multimodal import encode_wav_media, wav_frame_energy

    docs = load_table(spark, sf_dir, "documents")
    media = encode_wav_media(docs, "doc_id", "text", sample_rate=8000)
    return wav_frame_energy(media, frame_samples=256)


_BIGRAM_LM_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
                     w -> w <> '') AS t
  FROM documents
), bg AS (
  SELECT doc_id, t[CAST(g.i AS INT)] AS w1, t[CAST(g.i + 1 AS INT)] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2
), b AS (
  SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2
), u AS (
  SELECT w1, COUNT(*) AS cu FROM bg GROUP BY w1
)
SELECT bg.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(CAST(FLOOR(ln(CAST(cb AS DOUBLE) / CAST(cu AS DOUBLE)) * 1000000000) AS BIGINT))
         AS BIGINT) AS sum_qlog
FROM bg JOIN b USING (w1, w2) JOIN u USING (w1)
GROUP BY bg.doc_id
"""


@query("text_bigram_lm_score", oracle=_BIGRAM_LM_ORACLE)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model scoring — the KenLM-shaped perplexity
    signal real pretraining pipelines gate on, as a pure DataFrame plan:
    tokenize once (same tokenizer as wordcount), explode bigrams, count
    the corpus bigram table B(w1,w2) and its left-marginal U(w1) (two
    aggregations over one exploded frame), join each bigram occurrence
    back to its MLE log-probability ln(B/U), and report per doc the
    bigram count plus the sum of nanolog-quantized log-probs
    (floor(ln*1e9) as BIGINT — integer sums are order-insensitive and
    engine-exact, the same trick as the PageRank/classifier oracles;
    avg log-prob = sum_qlog / n_bigrams / 1e9 for consumers).

    Scale shape: the bigram table is vocab-bounded (broadcast when small;
    shuffled equi-join on zipf-skewed keys otherwise — exactly what AQE
    skew split handles, see test_aqe_splits_skewed_join); the doc side
    streams. No Python in the plan."""
    docs = load_table(spark, sf_dir, "documents")
    tdf = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]+", " ")), " "),
            lambda w: w != "",
        ).alias("t"),
    ).where(F.size("t") >= 2)
    bg = tdf.select(
        "doc_id",
        F.expr(
            "explode(zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
            " (a, b) -> struct(a AS w1, b AS w2)))"
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    b = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    u = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    scored = (
        bg.join(b, ["w1", "w2"]).join(u, ["w1"])
        .select(
            "doc_id",
            F.floor(
                F.log(F.col("cb").cast("double") / F.col("cu").cast("double"))
                * F.lit(1000000000.0)
            ).cast("long").alias("qlog"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("qlog").alias("sum_qlog"),
    )


# ---------------------------------------------------------------------------
# Observation API: single-pass pipeline accounting
# ---------------------------------------------------------------------------

_OBSERVED_ORACLE = """
SELECT COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN n_tok < 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       CAST(SUM(CASE WHEN n_tok >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN n_tok >= 8 THEN n_tok ELSE 0 END) AS BIGINT) AS tok_kept
FROM (
  SELECT len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tok
  FROM documents
) t
"""


@query("pipeline_observed_metrics", oracle=_OBSERVED_ORACLE)
def pipeline_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline accounting via the Observation API (``df.observe``):
    total / dropped / kept document counts and the kept-token total are
    collected as named aggregates ON THE SAME PASS that executes the
    filter pipeline — Spark's accumulator-backed answer to "how many rows
    did each stage drop", the number every data-curation run must report.

    Scale shape: this is the whole point — at 100 TB a separate
    count-per-stage would re-scan the corpus once per metric;
    observe() piggybacks the aggregates on the one materializing action
    for zero extra scans and no extra shuffle (metrics merge driver-side
    like accumulators). The observed metrics are integers only, so the
    cross-engine hash is exact. The returned frame is the metrics row
    itself (driver-built, 1 row), the shape a pipeline report consumes."""
    from pyspark.sql import Observation

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split(F.col("text"), " "), lambda w: w != ""))
    staged = docs.select(n_tok.alias("n_tok"))
    obs = Observation("pipeline_metrics")
    observed = staged.observe(
        obs,
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("n_tok") < 8, 1).otherwise(0)).cast("long").alias("n_short"),
        F.sum(F.when(F.col("n_tok") >= 8, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("n_tok") >= 8, F.col("n_tok")).otherwise(0)).cast("long").alias("tok_kept"),
    )
    # The action that would materialize the curated output downstream; the
    # metrics ride on it. count() stands in for the production write.
    observed.where(F.col("n_tok") >= 8).count()
    m = obs.get
    from gridmr_spark.functions.localdata import local_df

    return local_df(
        spark,
        [(int(m["n_total"]), int(m["n_short"]), int(m["n_kept"]), int(m["tok_kept"]))],
        "n_total long, n_short long, n_kept long, tok_kept long",
    )


# ---------------------------------------------------------------------------
# BPE tokenizer: distributed fit + encode, lossless round-trip oracle
# ---------------------------------------------------------------------------

_BPE_ORACLE = """
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       array_to_string(toks, ' ') AS detok
FROM (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
                     w -> w <> '') AS toks
  FROM documents
) t
"""


@query("text_bpe_tokenize", oracle=_BPE_ORACLE)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained BPE subword tokenization (operators/bpe.py): fit the merge
    table on the corpus word-frequency aggregation (the only corpus-sized
    pass; the merge loop is vocab-bounded driver work), then encode every
    document with Arrow-batched mapInPandas.

    Exact-regime oracle, same pattern as agg_quantile_sketch: with
    num_merges past convergence (no pair left to merge), BPE segmentation
    closes over whole words, so n_tokens equals the whitespace token count
    and detok equals the normalization-canonical text — both DuckDB-
    derivable. The hash match therefore proves fit + encode + round-trip
    end-to-end (a wrong merge table or a mis-applied rank would fragment
    some word and break BOTH columns). Sub-convergent segmentation
    behavior (the production regime) is pinned by tests/test_bpe.py
    invariants: token monotonicity, words <= tokens <= chars, artifact
    save/load identity, rank-greedy order."""
    from gridmr_spark.operators.bpe import encode_bpe, fit_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = fit_bpe(docs, "text", num_merges=300)
    return encode_bpe(docs, merges, "doc_id", "text")


# ---------------------------------------------------------------------------
# Content-defined chunking: rolling-hash boundaries, shift-robust dedup
# ---------------------------------------------------------------------------

_CDC_ORACLE = """
WITH chars AS (
  SELECT doc_id, text, CAST(g.i - 1 AS BIGINT) AS pos,
         CAST(ascii(substr(text, CAST(g.i AS INT), 1)) AS BIGINT) AS code
  FROM documents, unnest(generate_series(1, len(text))) AS g(i)
), hashed AS (
  SELECT doc_id, text, pos,
         CASE WHEN pos >= 7 AND (
              code
            + 31 * lag(code, 1, 0) OVER w
            + 961 * lag(code, 2, 0) OVER w
            + 29791 * lag(code, 3, 0) OVER w
            + 923521 * lag(code, 4, 0) OVER w
            + 28629151 * lag(code, 5, 0) OVER w
            + 887503681 * lag(code, 6, 0) OVER w
            + 27512614111 * lag(code, 7, 0) OVER w) % 64 = 0
           THEN 1 ELSE 0 END AS flag
  FROM chars
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), idx AS (
  SELECT doc_id, text, pos,
         CAST(COALESCE(SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS chunk_idx
  FROM hashed
), chunks AS (
  SELECT doc_id, chunk_idx,
         substr(MIN(text), CAST(MIN(pos) + 1 AS INT), CAST(COUNT(*) AS INT)) AS chunk,
         COUNT(*) AS n_chars
  FROM idx GROUP BY doc_id, chunk_idx
)
SELECT doc_id, chunk_idx, n_chars, md5(chunk) AS chunk_md5,
       CAST(COUNT(*) OVER (PARTITION BY chunk) AS BIGINT) AS dup_count
FROM chunks
"""


@query("text_cdc_chunks", oracle=_CDC_ORACLE)
def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (LBFS/rsync/restic-style): a degree-7
    polynomial rolling hash over the character stream cuts a chunk
    boundary wherever hash % 64 == 0, and each chunk's corpus-wide
    duplicate count comes from one grouping over chunk content. The
    property fixed windows (text_chunk_windows) lack: INSERTING one
    character re-aligns only the chunk containing the edit — every
    downstream boundary re-synchronizes within one window — so
    sub-document dedup survives shifts, the reason backup/dedup systems
    define chunks by content, not offsets.

    All integer arithmetic in exact BIGINT (max term ~3.5e12, 8-term sum
    far under 2^63) — the DuckDB oracle replays the identical recurrence,
    lag defaults and all, so the hash match proves boundary placement,
    chunk reassembly (contiguity => substr), and the duplicate counts.

    Scale shape: chars explode scan-locally; the rolling hash is 8 lag
    windows inside ONE window spec (single sort per doc partition, no
    Python); chunk reassembly groups on (doc, chunk) — bounded rows —
    and dedup counting shuffles chunk digests, which is the minimum any
    content-addressed store pays. At 100 TB the explode is the cost: in
    production the same recurrence compiles to a mapInPandas over byte
    arrays; the declarative form here keeps the oracle bit-exact."""
    from gridmr_spark.operators.text import cdc_chunks

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return cdc_chunks(docs)


# ---------------------------------------------------------------------------
# Duplicate-span profiling (ExactSubstr shape): k-gram repeat coverage
# ---------------------------------------------------------------------------

_DUP_SPANS_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
                     w -> w <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS pos,
         array_to_string(t[CAST(g.i AS INT):CAST(g.i + 9 AS INT)], ' ') AS shingle
  FROM toks, unnest(generate_series(1, len(t) - 9)) AS g(i)
  WHERE len(t) >= 10
), cnt AS (
  SELECT shingle, COUNT(*) AS c FROM sh GROUP BY shingle
), dup AS (
  SELECT sh.doc_id, sh.pos FROM sh JOIN cnt USING (shingle) WHERE c > 1
), cov AS (
  SELECT doc_id, pos,
         GREATEST(0, pos + 10 - GREATEST(
           COALESCE(MAX(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0),
           pos)) AS added
  FROM dup
), agg AS (
  SELECT doc_id, COUNT(*) AS n_dup_shingles, CAST(SUM(added) AS BIGINT) AS covered
  FROM cov GROUP BY doc_id
)
SELECT toks.doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       COALESCE(agg.n_dup_shingles, 0) AS n_dup_shingles,
       COALESCE(agg.covered, 0) AS covered
FROM toks LEFT JOIN agg ON toks.doc_id = agg.doc_id
"""


@query("dedup_duplicate_spans", oracle=_DUP_SPANS_ORACLE)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring duplication profile — the ExactSubstr
    measurement from Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"): for every document, how many of its token
    positions sit inside a 10-gram that occurs more than once in the
    corpus. Unlike document/paragraph dedup this localizes duplication to
    SPANS (quotes, licenses, templates), the unit that paper removes.

    Pipeline: shingles are built in ARRAY land (transform over sequence +
    slice + array_join — no explode until the shingle frame), counted
    corpus-wide, and repeated shingles' [pos, pos+10) intervals are
    union-measured per document with the running-max-end window trick —
    all exact integer arithmetic, replayed verbatim by the DuckDB oracle
    (left join keeps zero-duplication docs in the result).

    Scale shape: the shingle shuffle is the dominant cost and is the same
    shape as dedup_ngram_jaccard's inverted index — at 100 TB one hashes
    the shingle (xxhash64) instead of shipping strings, and caps hot
    shingles the way max_shingle_df does; the interval union is one
    window over each doc's duplicated positions only."""
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the two shared frames, same as text_remove_duplicate_spans:
    # toks feeds the shingle build AND the final size join, sh feeds the
    # corpus count AND the duplicated-position join — unmaterialized, the
    # tokenizer and the shingler each run once per consumer.
    toks = docs.select(
        "doc_id",
        F.filter(text_ops.tokenize("text"), lambda w: w != "").alias("t"),
    ).localCheckpoint(eager=True)
    sh = toks.where(F.size("t") >= 10).select(
        "doc_id",
        F.posexplode(
            F.expr("transform(sequence(0, size(t) - 10), i -> array_join(slice(t, i + 1, 10), ' '))")
        ).alias("pos", "shingle"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "shingle").localCheckpoint(eager=True)

    cnt = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("c"))
    dup = sh.join(cnt.where(F.col("c") > 1), "shingle").select("doc_id", "pos")

    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cov = dup.select(
        "doc_id", "pos",
        F.greatest(
            F.lit(0),
            F.col("pos") + 10
            - F.greatest(
                F.coalesce(F.max(F.col("pos") + 10).over(wprev), F.lit(0)),
                F.col("pos"),
            ),
        ).alias("added"),
    )
    agg = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_shingles"),
        F.sum("added").cast("long").alias("covered"),
    )
    return (
        toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.coalesce("n_dup_shingles", F.lit(0)).cast("long").alias("n_dup_shingles"),
            F.coalesce("covered", F.lit(0)).cast("long").alias("covered"),
        )
    )


# ---------------------------------------------------------------------------
# Duplicate-span REMOVAL (ExactSubstr, the other half): keep the canonical
# first occurrence of every repeated 10-gram, cut every other occurrence,
# and reconstruct the cleaned token stream.
# ---------------------------------------------------------------------------

_REMOVE_SPANS_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
                     w -> w <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS pos,
         array_to_string(t[CAST(g.i AS INT):CAST(g.i + 9 AS INT)], ' ') AS shingle
  FROM toks, unnest(generate_series(1, len(t) - 9)) AS g(i)
  WHERE len(t) >= 10
), ranked AS (
  SELECT doc_id, pos,
         ROW_NUMBER() OVER (PARTITION BY shingle ORDER BY doc_id, pos) AS rn,
         COUNT(*) OVER (PARTITION BY shingle) AS c
  FROM sh
), dropped AS (
  SELECT doc_id, pos FROM ranked WHERE c > 1 AND rn > 1
), rem AS (
  SELECT DISTINCT doc_id, r.p
  FROM dropped, unnest(generate_series(pos, pos + 9)) AS r(p)
), tokpos AS (
  SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS p, t[g.i] AS w
  FROM toks, unnest(generate_series(1, len(t))) AS g(i)
), kept AS (
  SELECT tokpos.doc_id, tokpos.p, tokpos.w
  FROM tokpos ANTI JOIN rem USING (doc_id, p)
), ka AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
         md5(string_agg(w, ' ' ORDER BY p)) AS kept_digest
  FROM kept GROUP BY doc_id
)
SELECT toks.doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(t) AS BIGINT) - COALESCE(ka.kept_tokens, 0) AS removed_tokens,
       COALESCE(ka.kept_tokens, CAST(0 AS BIGINT)) AS kept_tokens,
       COALESCE(ka.kept_digest, md5('')) AS kept_digest
FROM toks LEFT JOIN ka USING (doc_id)
"""


@query("text_remove_duplicate_spans", oracle=_REMOVE_SPANS_ORACLE)
def text_remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring REMOVAL — the second half of Lee et al. 2022's
    ExactSubstr (dedup_duplicate_spans above is the measurement half): for
    every 10-gram that occurs more than once in the corpus, keep the
    canonical first occurrence (min (doc_id, pos) lexicographic — the
    paper keeps one arbitrary occurrence; a total order makes it
    deterministic and oracle-replayable) and cut the token span of every
    other occurrence. The output carries an md5 digest of each document's
    reconstructed kept-token stream, so the driver hash proves the actual
    cleaned TEXT, not just the counts.

    Pipeline: the shingle index is shared shape with dedup_duplicate_spans;
    the canonical keeper is one `min(struct(doc_id, pos))` inside the same
    count aggregate (no extra shuffle, no window sort); non-keeper spans
    explode to removed positions (10x the duplicated occurrences ONLY),
    and reconstruction is a position anti-join + one sorted collect per doc.

    Scale shape: identical to the measurement query's inverted index — at
    100 TB hash the shingle (xxhash64) instead of shipping strings and cap
    degenerate hot shingles; the removal explode is bounded by true span
    volume, and reconstruction is doc-local (collect_list within one doc's
    rows, never cross-doc). The token and shingle frames are materialized
    (localCheckpoint): toks feeds three consumers and sh two — without
    the checkpoints each re-runs the tokenizer/shingler from the parquet
    scan, measured 1.7x the whole query at sf0.1 (word_shingles'
    project-collapse lesson, applied at the frame level)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(text_ops.tokenize("text"), lambda w: w != "").alias("t"),
    ).localCheckpoint(eager=True)
    sh = toks.where(F.size("t") >= 10).select(
        "doc_id",
        F.posexplode(
            F.expr("transform(sequence(0, size(t) - 10), i -> array_join(slice(t, i + 1, 10), ' '))")
        ).alias("pos", "shingle"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "shingle").localCheckpoint(eager=True)

    cnt = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("c"),
        F.min(F.struct("doc_id", "pos")).alias("keep"),
    )
    dropped = (
        sh.join(cnt.where(F.col("c") > 1), "shingle")
        .where(
            ~(
                (F.col("doc_id") == F.col("keep.doc_id"))
                & (F.col("pos") == F.col("keep.pos"))
            )
        )
        .select("doc_id", "pos")
    )
    rem = dropped.select(
        "doc_id", F.explode(F.expr("sequence(pos, pos + 9)")).alias("p")
    ).distinct()

    tokpos = toks.select(
        "doc_id", F.posexplode("t").alias("p", "w")
    ).select("doc_id", F.col("p").cast("long").alias("p"), "w")
    kept = tokpos.join(rem, ["doc_id", "p"], "left_anti")
    ka = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("kept_tokens"),
        F.md5(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(p, w))), x -> x.w)"),
                " ",
            )
        ).alias("kept_digest"),
    )
    return (
        toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
        .join(ka, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("kept_tokens", F.lit(0))).cast("long").alias("removed_tokens"),
            F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
            F.coalesce("kept_digest", F.md5(F.lit(""))).alias("kept_digest"),
        )
    )


# ---------------------------------------------------------------------------
# Decision-tree model inference compiled to CASE expressions
# ---------------------------------------------------------------------------

_TREE_ORACLE = """
WITH f AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tok,
         len(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS n_distinct,
         len(text) AS n_chars
  FROM documents
)
SELECT doc_id,
       CASE WHEN n_tok < 56 THEN
              CASE WHEN n_distinct < 20 THEN 0 ELSE 1 END
            ELSE
              CASE WHEN n_chars < 306 THEN 2
                   WHEN n_distinct < 28 THEN 3 ELSE 4 END
       END AS leaf,
       CASE WHEN n_tok < 56 THEN
              CASE WHEN n_distinct < 20 THEN 0 ELSE 1 END
            ELSE
              CASE WHEN n_chars < 306 THEN 1
                   WHEN n_distinct < 28 THEN 0 ELSE 1 END
       END AS keep
FROM f
"""


@query("ml_tree_inference", oracle=_TREE_ORACLE)
def ml_tree_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-tree model inference COMPILED TO THE PLAN: a depth-3 tree
    over integer document features (token count, distinct-token count,
    char length) becomes nested CASE WHEN expressions — the
    model-to-SQL compilation pattern production scoring uses so that a
    trained tree/GBDT runs at 100 TB as pure whole-stage-codegen'd
    branching, no model server, no Python, no UDF. Output is the leaf id
    (the audit trail: WHICH rule fired) plus the keep/drop label. The
    sibling of text_quality_classifier (linear model as plan): together
    they cover the two standard quality-gate model shapes. Thresholds are
    shipped model constants (training happens offline; a refit only
    re-emits the expression), all-integer comparisons so the oracle twin
    is trivially exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    f = docs.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length("text").alias("n_chars"),
    )
    left = F.when(F.col("n_distinct") < 20, F.lit(0)).otherwise(F.lit(1))
    leaf = F.when(
        F.col("n_tok") < 56, left
    ).otherwise(
        F.when(F.col("n_chars") < 306, F.lit(2))
        .when(F.col("n_distinct") < 28, F.lit(3))
        .otherwise(F.lit(4))
    )
    keep = F.when(
        F.col("n_tok") < 56, left
    ).otherwise(
        F.when(F.col("n_chars") < 306, F.lit(1))
        .when(F.col("n_distinct") < 28, F.lit(0))
        .otherwise(F.lit(1))
    )
    return f.select(
        "doc_id",
        leaf.cast("int").alias("leaf"),
        keep.cast("int").alias("keep"),
    )


_AHASH_ORACLE = r"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         (octet_length(encode(text)) // 16) * 16 AS n
  FROM documents
  WHERE octet_length(encode(text)) >= 128
), px AS (
  SELECT doc_id, n // 16 AS h,
         CAST(('0x' || substr(hx, CAST(2 * t.i + 1 AS INT), 2)) AS BIGINT) AS byte,
         t.i // 16 AS y, t.i % 16 AS x
  FROM b, unnest(generate_series(0, n - 1)) AS t(i)
), blk AS (
  SELECT doc_id, ((y * 8) // h) * 8 + (x // 2) AS j,
         CAST(SUM(byte) AS BIGINT) AS bsum, CAST(COUNT(*) AS BIGINT) AS bcnt
  FROM px GROUP BY doc_id, ((y * 8) // h) * 8 + (x // 2)
), tot AS (
  SELECT doc_id, CAST(SUM(bsum) AS BIGINT) AS tsum, CAST(SUM(bcnt) AS BIGINT) AS tcnt
  FROM blk GROUP BY doc_id
), hsh AS (
  SELECT blk.doc_id,
    CAST(SUM(CASE WHEN bsum * tcnt > tsum * bcnt AND j >= 32
                  THEN (CAST(1 AS BIGINT) << CAST(j - 32 AS INT)) ELSE 0 END) AS BIGINT) AS ahash_hi,
    CAST(SUM(CASE WHEN bsum * tcnt > tsum * bcnt AND j < 32
                  THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS ahash_lo
  FROM blk JOIN tot ON blk.doc_id = tot.doc_id
  GROUP BY blk.doc_id
)
SELECT ahash_hi, ahash_lo, CAST(COUNT(*) AS BIGINT) AS n_images,
       MIN(doc_id) AS rep_doc_id
FROM hsh GROUP BY ahash_hi, ahash_lo
"""


@query("multimodal_image_ahash_dedup", oracle=_AHASH_ORACLE)
def multimodal_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup over REAL decoded images: every document's
    bytes become a genuine grayscale PNG (encode_png_media), the stdlib
    codec decodes it back to pixels, and image_ahash computes the
    classic 64-bit average-hash (8x8 block means vs the image mean,
    compared by integer cross-multiplication — division-free, so
    bit-exact). Images sharing an aHash are perceptual duplicates; the
    query groups them into clusters with a min-id representative — the
    image-corpus twin of dedup_exact_digest. The DuckDB oracle recomputes
    the hash from the ORIGINAL text bytes, so a hash match proves
    PNG-encode -> real-decode -> blockwise aHash is exactly lossless
    end to end.

    Scale shape: the codec stage is Arrow-batched mapInPandas with
    explicit parallelism (no shuffle), the cluster group-by keys on the
    8-byte hash — the narrowest possible dedup shuffle. A Hamming-ball
    (near-duplicate) variant is the existing simhash pigeonhole machinery
    pointed at these two BIGINT halves."""
    from gridmr_spark.operators.multimodal import encode_png_media, image_ahash

    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    hashed = image_ahash(encode_png_media(docs, "doc_id", "text", width=16))
    return hashed.groupBy("ahash_hi", "ahash_lo").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.min("doc_id").alias("rep_doc_id"),
    )


# ---------------------------------------------------------------------------
# Temperature-based mixture sampling (pretraining data mixing)
# ---------------------------------------------------------------------------

_TEMP_K = 4  # cap multiplier: per-shard quota = floor(K * sqrt(n_shard))

_TEMP_MIX_ORACLE = f"""
WITH sized AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(FLOOR({_TEMP_K} * sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)
           AS quota
  FROM documents GROUP BY lang
),
ranked AS (
  SELECT d.doc_id, d.lang, s.n_docs, s.quota,
         ROW_NUMBER() OVER (
           PARTITION BY d.lang
           ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
         ) AS rn
  FROM documents d JOIN sized s USING (lang)
)
SELECT doc_id, lang, n_docs, quota
FROM ranked WHERE rn <= quota
"""


@query("sample_temperature_mixture", oracle=_TEMP_MIX_ORACLE)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture sampling — the pretraining data-mixing
    step that downweights head domains so tail domains survive: each lang
    shard keeps at most floor(K * n^alpha) docs (alpha=0.5 here), so the
    218-doc head keeps ~27% while the 64-doc tail keeps ~50% — the
    sqrt-temperature curve of multilingual-pretraining practice. Selection
    within a shard is md5-ordered (the repo's engine-portable
    pseudo-randomness: deterministic, reproducible, oracle-checkable; a
    re-run samples the SAME rows so downstream caches stay valid). The
    quota is a per-shard monomial — no cross-shard normalization — so
    every number is engine-exact (sqrt is IEEE correctly-rounded, floor is
    integer); the proportional-renormalization variant is one broadcast
    multiply away and changes nothing structural. Plan: one count agg,
    one broadcast join of shard sizes, one per-shard window — shuffles on
    lang only."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
    ).withColumn(
        "quota",
        F.floor(_TEMP_K * F.sqrt(F.col("n_docs").cast("double"))).cast("bigint"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.join(F.broadcast(sized), "lang")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.col("quota"))
        .select("doc_id", "lang", "n_docs", "quota")
    )


_TRIGRAM_LM_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text, '[^a-zA-Z0-9]+', ' ', 'g')), ' '),
                     w -> w <> '') AS t
  FROM documents
), tg AS (
  SELECT doc_id, t[CAST(g.i AS INT)] AS w1, t[CAST(g.i + 1 AS INT)] AS w2,
         t[CAST(g.i + 2 AS INT)] AS w3
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
  WHERE len(t) >= 3
), c3 AS (SELECT w1, w2, w3, COUNT(*) AS n3 FROM tg GROUP BY 1, 2, 3),
p2c AS (SELECT w1, w2, COUNT(*) AS np FROM tg GROUP BY 1, 2),
s2 AS (SELECT w2, w3, COUNT(*) AS ns FROM tg GROUP BY 1, 2),
u2 AS (SELECT w2, COUNT(*) AS nu FROM tg GROUP BY 1),
u3 AS (SELECT w3, COUNT(*) AS n1 FROM tg GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nt FROM tg)
SELECT tg.doc_id,
       COUNT(*) AS n_trigrams,
       CAST(SUM(CAST(FLOOR(ln(
           0.7 * (CAST(n3 AS DOUBLE) / CAST(np AS DOUBLE))
           + 0.25 * (CAST(ns AS DOUBLE) / CAST(nu AS DOUBLE))
           + 0.05 * (CAST(n1 AS DOUBLE) / nt)
         ) * 1000000000) AS BIGINT)) AS BIGINT) AS sum_qlog
FROM tg
JOIN c3 USING (w1, w2, w3) JOIN p2c USING (w1, w2)
JOIN s2 USING (w2, w3) JOIN u2 USING (w2) JOIN u3 USING (w3)
CROSS JOIN tot
GROUP BY tg.doc_id
"""


@query("text_trigram_lm_interpolated", oracle=_TRIGRAM_LM_ORACLE)
def text_trigram_lm_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated trigram language-model scoring — the bigram signal's
    production upgrade (Jelinek-Mercer interpolation, the classic n-gram
    smoothing): each position scores
    ln(0.7*p3 + 0.25*p2 + 0.05*p1) with MLE components
    p3 = c(w1w2w3)/c(w1w2·), p2 = c(·w2w3)/c(·w2·), p1 = c(··w3)/N, all
    counted over the SAME exploded trigram frame, so unseen trigrams in a
    held-out doc would back off to bigram/unigram mass instead of -inf —
    the property that makes interpolation usable as a quality gate.

    Engine contract: every probability is one division of exact integer
    counts, the mixture is a literal-weighted sum evaluated in the same
    order in both engines, and the only transcendental is one mirrored
    ln, nanolog-quantized before the per-doc integer sum (the
    text_bigram_lm_score idiom). Scale shape: five vocabulary-bounded
    count dimensions joined back onto the streaming trigram frame
    (broadcast when small, AQE-skew-handled equi-joins otherwise) plus a
    one-row total broadcast; no Python anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    tdf = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]+", " ")), " "),
            lambda w: w != "",
        ).alias("t"),
    ).where(F.size("t") >= 3)
    tg = tdf.select(
        "doc_id",
        F.expr(
            "explode(zip_with("
            " zip_with(slice(t, 1, size(t) - 2), slice(t, 2, size(t) - 2),"
            "          (a, b) -> struct(a AS w1, b AS w2)),"
            " slice(t, 3, size(t) - 2),"
            " (p, c) -> struct(p.w1 AS w1, p.w2 AS w2, c AS w3)))"
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2", "g.w3")
    # tg feeds SEVEN consumers (five count dims, the total, and the final
    # probe) — materialize once so tokenize+explode doesn't replay per
    # consumer (the jaccard_pairs localCheckpoint rationale). Dim joins are
    # left to AQE: vocabulary-bounded here, but at real n-gram-vocab scale
    # they stop being broadcastable and AQE picks the right strategy.
    tg = tg.localCheckpoint(eager=True)
    c3 = tg.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("n3"))
    p2c = tg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("np"))
    s2 = tg.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("ns"))
    u2 = tg.groupBy("w2").agg(F.count(F.lit(1)).alias("nu"))
    u3 = tg.groupBy("w3").agg(F.count(F.lit(1)).alias("n1"))
    tot = tg.agg(F.count(F.lit(1)).cast("double").alias("nt"))
    mix = (
        F.lit(0.7) * (F.col("n3").cast("double") / F.col("np").cast("double"))
        + F.lit(0.25) * (F.col("ns").cast("double") / F.col("nu").cast("double"))
        + F.lit(0.05) * (F.col("n1").cast("double") / F.col("nt"))
    )
    scored = (
        tg.join(c3, ["w1", "w2", "w3"])
        .join(p2c, ["w1", "w2"])
        .join(s2, ["w2", "w3"])
        .join(u2, ["w2"])
        .join(u3, ["w3"])
        .crossJoin(F.broadcast(tot))
        .select("doc_id", F.floor(F.log(mix) * F.lit(1000000000.0)).cast("long").alias("qlog"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.sum("qlog").alias("sum_qlog"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter corpus membership — incremental-ingest dedup at 100 TB
# ---------------------------------------------------------------------------

_BLOOM_M, _BLOOM_K = 2048, 3

_BLOOM_POS_SQL = (
    "CAST(CAST(('0x' || substr(md5(dg || ':' || CAST(i AS VARCHAR)), 1, 15)) AS UBIGINT) "
    f"% {_BLOOM_M} AS BIGINT)"
)

_BLOOM_ORACLE = f"""
WITH corpus AS (
  SELECT DISTINCT md5(text) AS dg FROM documents WHERE doc_id % 2 = 0
),
cpos AS (
  SELECT {_BLOOM_POS_SQL} AS p FROM corpus, range(0, {_BLOOM_K}) t(i)
),
bloom AS (
  SELECT p // 32 AS word, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
  FROM cpos GROUP BY 1
),
probe AS (SELECT doc_id, md5(text) AS dg FROM documents),
ppos AS (
  SELECT doc_id, dg, {_BLOOM_POS_SQL} AS p FROM probe, range(0, {_BLOOM_K}) t(i)
),
hits AS (
  SELECT doc_id, dg,
         bool_and(COALESCE((bits & (1::BIGINT << CAST(p % 32 AS INT))) <> 0, FALSE)) AS maybe
  FROM ppos LEFT JOIN bloom ON ppos.p // 32 = bloom.word
  GROUP BY doc_id, dg
)
SELECT h.doc_id, h.maybe AS maybe_in_bloom,
       (c.dg IS NOT NULL) AS truly_in_corpus
FROM hits h LEFT JOIN corpus c ON h.dg = c.dg
"""


@query("dedup_bloom_membership", oracle=_BLOOM_ORACLE)
def dedup_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership against a historical corpus (operators/
    bloom.py): even-keyed documents form the "history", a 2048-bit / 3-hash
    filter of their text digests is built RELATIONALLY (explode + bit_or,
    map-side combined) and broadcast, and every document probes it. Output
    carries both the filter's verdict and exact ground truth (digest
    semi-join), so the driver hash proves three things at once: the
    bit-for-bit filter construction (the oracle rebuilds it in SQL from
    the same md5 hash family), ZERO false negatives (every truly-in row
    must be maybe-in — a single miss flips a row), and the exact
    false-positive set at this geometry (deliberately small m so FPs
    exist and are pinned by the hash, not assumed away).

    The 100 TB story: the history never joins the ingest batch — its
    few-GB bitmap does, broadcast; only the maybe-set (true dups + the
    designed ~1% FP margin) goes to the exact confirmation join. Filters
    for new partitions build independently and OR together
    (bloom_merge), so the daily rebuild is O(batch), not O(history)."""
    from gridmr_spark.operators.bloom import bloom_build, bloom_contains

    docs = load_table(spark, sf_dir, "documents")
    corpus = (
        docs.where(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("dg"))
        .distinct()
    )
    bloom = bloom_build(corpus, "dg", m_bits=_BLOOM_M, k_hashes=_BLOOM_K)
    probe = docs.select("doc_id", F.md5("text").alias("dg"))
    flagged = bloom_contains(
        probe, "dg", bloom, m_bits=_BLOOM_M, k_hashes=_BLOOM_K
    )
    truth = corpus.withColumn("truly", F.lit(True))
    return (
        flagged.join(truth, "dg", "left")
        .select(
            "doc_id",
            "maybe_in_bloom",
            F.coalesce("truly", F.lit(False)).alias("truly_in_corpus"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic shard export — the trainer-handoff step of the pipeline
# ---------------------------------------------------------------------------

_N_SHARDS = 16

_SHARD_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CAST(CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT)
              AS BIGINT) AS h,
         len(list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '),
                         x -> x <> '')) AS n_tok
  FROM documents
)
SELECT CAST(h % {_N_SHARDS} AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(h % 1000000007) AS BIGINT) AS sum_h_mod
FROM t GROUP BY 1
"""


@query("pipeline_shard_export", oracle=_SHARD_ORACLE)
def pipeline_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard export — the LAST step of the data
    pipeline, where the corpus leaves Spark for the trainer: every
    document gets a seeded engine-portable shuffle key (60-bit md5 of
    'shard:doc_id'), shards are the key mod N (statistically even, NO
    global window — an ntile over a global order would funnel 100 TB
    through one partition), the shards are PHYSICALLY written
    (partitionBy(shard_id) parquet, one directory per shard, the layout
    trainers stream), and the result is the read-back per-shard manifest:
    doc/token counts plus two checksums (sum of ids, sum of hash
    residues) that pin the exact assignment. The oracle recomputes shard
    assignment and manifest straight from the source table, so a green
    hash proves the export wrote every document to its correct shard
    exactly once. Re-running reproduces byte-identical shard membership —
    the property that keeps downstream tokenizer caches and resume-from-
    shard training valid."""
    from gridmr_spark.sources import scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))), 1, 15),
        16, 10,
    ).cast("long")
    n_tok = F.size(text_ops._tokens_col("text")).cast("long")
    sharded = docs.select(
        "doc_id",
        (h % _N_SHARDS).alias("shard_id"),
        (h % 1000000007).alias("h_mod"),
        n_tok.alias("n_tok"),
    )
    out = scratch_dir("shards")
    sharded.write.partitionBy("shard_id").mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy(F.col("shard_id").cast("long").alias("shard_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
        F.sum("h_mod").cast("long").alias("sum_h_mod"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch token frequencies — mergeable frequency estimation
# ---------------------------------------------------------------------------

_CM_W, _CM_D = 8, 2

_CM_COL_SQL = (
    "CAST(CAST(('0x' || substr(md5({tok} || '#' || CAST(i AS VARCHAR)), 1, 15)) AS UBIGINT) "
    f"% {_CM_W} AS BIGINT)"
)

_COUNTMIN_ORACLE = f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '),
                x -> x <> '')) AS tok
  FROM documents
),
exact AS (SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY tok),
pos AS (
  SELECT {_CM_COL_SQL.format(tok='tok')} AS col, i AS row FROM toks, range(0, {_CM_D}) t(i)
),
sketch AS (SELECT row, col, COUNT(*) AS cnt FROM pos GROUP BY row, col),
est AS (
  SELECT e.tok, MIN(s.cnt) AS est_cnt
  FROM exact e, range(0, {_CM_D}) t(i)
  JOIN sketch s
    ON s.row = i AND s.col = {_CM_COL_SQL.format(tok='e.tok')}
  GROUP BY e.tok
)
SELECT e.tok, CAST(e.exact_cnt AS BIGINT) AS exact_cnt,
       CAST(est.est_cnt AS BIGINT) AS est_cnt
FROM exact e JOIN est ON e.tok = est.tok
"""


@query("agg_countmin_freq", oracle=_COUNTMIN_ORACLE)
def agg_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (operators/bloom.countmin_build) over the corpus
    token stream at a DELIBERATELY tight geometry (w=8, d=2 — every token
    collides, so every estimate genuinely overestimates), checked per token
    against the exact count. The oracle replays the sketch bit-for-bit
    from the same md5 hash family, so the hash gate pins both the
    estimator's exact state AND the one-sided error property (est >=
    exact always; a single underestimate flips a row). The scale story is
    the sketch's whole point: a 100 TB corpus's token frequencies live in
    w*d counters (here 16 to force collisions; production ~2M = a few MB), built in one
    map-side-combined pass, mergeable across partitions/days by summed
    union — the frequency sibling of the Bloom membership filter."""
    from gridmr_spark.operators.bloom import countmin_build, countmin_estimate

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text_ops._tokens_col("text")).alias("tok")).where(
        F.col("tok") != ""
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    sketch = countmin_build(toks, "tok", width=_CM_W, depth=_CM_D)
    return countmin_estimate(
        exact, "tok", sketch, width=_CM_W, depth=_CM_D, out_col="est_cnt"
    ).select("tok", "exact_cnt", "est_cnt")


@query("stream_countmin_merge", oracle=_COUNTMIN_ORACLE)
def stream_countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING maintenance of the count-min sketch: documents arrive in
    micro-batches, each batch builds its own partial sketch (one
    map-side-combined pass over the batch), and the partial MERGES into
    the sketch stored in a manifest table by summed union under an
    idempotent replace — so a replayed batch cannot double-count, and the
    sketch after the stream equals the batch-built sketch over the whole
    corpus. The oracle is agg_countmin_freq's: the final estimates joined
    to exact counts, recomputed from the raw table — a green hash proves
    the incremental merge algebra AND exactly-once delivery in one row.
    This is the production shape for corpus statistics at 100 TB: the
    state is width*depth counters regardless of stream volume, each batch
    costs O(batch), and every refresh is a time-travelable snapshot."""
    from gridmr_spark.operators.bloom import countmin_build, countmin_estimate
    from gridmr_spark.sources import scratch_dir
    from gridmr_spark.sources.table_format import ManifestTable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = scratch_dir("cmstream")
    src, ck, tbl = f"{base}/src", f"{base}/ck", f"{base}/tbl"
    docs.repartition(4).write.mode("overwrite").parquet(src)
    t = ManifestTable(tbl)

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        toks = batch_df.select(F.explode(text_ops._tokens_col("text")).alias("tok")).where(
            F.col("tok") != ""
        )
        delta = countmin_build(toks, "tok", width=_CM_W, depth=_CM_D)
        if t.current_version() is not None:
            merged = (
                t.read(batch_df.sparkSession)
                .unionByName(delta)
                .groupBy("row", "col")
                .agg(F.sum("cnt").cast("long").alias("cnt"))
            )
        else:
            merged = delta.select("row", "col", F.col("cnt").cast("long").alias("cnt"))
        t.replace(merged.localCheckpoint(eager=True), idempotency_key=f"b-{batch_id}")

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.outputMode("append")
        .foreachBatch(refresh)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sketch = t.read(spark)
    toks = docs.select(F.explode(text_ops._tokens_col("text")).alias("tok")).where(
        F.col("tok") != ""
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    return countmin_estimate(
        exact, "tok", sketch, width=_CM_W, depth=_CM_D, out_col="est_cnt"
    ).select("tok", "exact_cnt", "est_cnt")


_BLOOM_INC_ORACLE = f"""
WITH d AS (
  SELECT doc_id, md5(text) AS dg, doc_id % 4 AS day FROM documents
),
pos AS (
  SELECT day, {_BLOOM_POS_SQL} AS p FROM d, range(0, {_BLOOM_K}) t(i)
),
probe AS (
  SELECT doc_id, day, {_BLOOM_POS_SQL} AS p FROM d, range(0, {_BLOOM_K}) t(i)
),
hit AS (
  SELECT pr.doc_id, pr.day,
         bool_and(EXISTS (
           SELECT 1 FROM pos ps WHERE ps.p = pr.p AND ps.day < pr.day
         )) AS maybe
  FROM probe pr GROUP BY pr.doc_id, pr.day
)
SELECT doc_id, CAST(day AS BIGINT) AS day, (NOT maybe) AS is_new FROM hit
"""


@query("dedup_bloom_incremental", oracle=_BLOOM_INC_ORACLE)
def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION daily-ingest dedup shape, end to end: documents
    arrive in four ordered "days" (doc_id mod 4 — deterministic), each
    day's batch probes the Bloom filter accumulated over ALL PRIOR days
    (is_new = not maybe-in-filter; zero false negatives means nothing new
    is ever wrongly dropped — FPs wrongly flag a few new docs as dups,
    the designed trade), and then merges its own bitmap into the state
    (bloom_merge — O(m) bitmap OR, O(batch) build). The history itself is
    never rejoined: state is the m-bit bitmap, constant regardless of
    corpus size. The oracle replays every day's filter state from the raw
    table (positions contributed by strictly-earlier days), so the hash
    row pins the whole fold — per-day state evolution included. The
    4-iteration driver loop is bounded by the declared day count, the
    same contract as the incremental-aggregate family."""
    from gridmr_spark.operators.bloom import bloom_build, bloom_contains, bloom_merge

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("dg"), (F.col("doc_id") % 4).alias("day")
    )
    bloom = None
    outs = []
    for day in range(4):
        batch = docs.where(F.col("day") == day).select("doc_id", "dg")
        if bloom is None:
            flagged = batch.select(
                "doc_id", F.lit(False).alias("maybe_in_bloom")
            )
        else:
            flagged = bloom_contains(
                batch, "dg", bloom, m_bits=_BLOOM_M, k_hashes=_BLOOM_K
            ).select("doc_id", "maybe_in_bloom")
        outs.append(flagged.withColumn("day", F.lit(day).cast("long")))
        day_bloom = bloom_build(
            batch.select("dg").distinct(), "dg", m_bits=_BLOOM_M, k_hashes=_BLOOM_K
        ).localCheckpoint(eager=True)
        bloom = day_bloom if bloom is None else bloom_merge(bloom, day_bloom)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select("doc_id", "day", (~F.col("maybe_in_bloom")).alias("is_new"))


# ---------------------------------------------------------------------------
# Readability scoring (Flesch-style, integer-exact) — the quality-filter axis
# ---------------------------------------------------------------------------

# Vowel-group syllable heuristic: syllables(word) ~ number of maximal
# [aeiouy]+ runs (min 1 per non-empty word) — the standard dictionary-free
# approximation, expressed as pure regex/length arithmetic so both engines
# compute IDENTICAL counts: runs = len(w) - len(remove [aeiouy] chars)
# counts vowel CHARS; collapsing runs first then counting chars counts
# GROUPS. We collapse via regexp_replace([aeiouy]+ -> 'a') then count 'a'.

_SENT_SPLIT = r"[.!?]+"

_READ_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(regexp_replace(text,'[^a-zA-Z0-9]+',' ','g')),' '), x -> x <> '') AS toks,
         len(list_filter(string_split(text, ''), c -> c IN ('.', '!', '?'))) AS n_enders
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(GREATEST(n_enders, 1) AS BIGINT) AS n_sents,
         CAST(list_sum(list_transform(toks,
              w -> GREATEST(length(regexp_replace(regexp_replace(w, '[aeiouy]+', 'a', 'g'), '[^a]', '', 'g')), 1)
         )) AS BIGINT) AS n_syll
  FROM t WHERE len(toks) > 0
)
SELECT doc_id, n_words, n_sents, n_syll,
       CAST(FLOOR((206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
             - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)))
            * 1000000.0) AS BIGINT) AS flesch_q
FROM m
"""


@query("text_readability_flesch", oracle=_READ_ORACLE)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (the classic readability quality
    filter: production corpus curation drops both extremes). Dictionary-
    free syllable heuristic — count maximal [aeiouy]+ runs per token by
    collapsing each run to one char and counting (min 1 per word) — and a
    sentence count from terminal punctuation (min 1), all exact integers;
    the Flesch formula's constants are double literals applied ONCE per
    row and microquantized, so the hash is engine-exact (the repo's
    mirrored-arithmetic recipe). One scan, no shuffle until the implicit
    exchange-free per-row projection — embarrassingly parallel at any
    corpus size."""
    toks = text_ops._tokens_col("text")
    n_enders = F.length(F.regexp_replace("text", r"[^.!?]", ""))
    syll = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.length(
                F.regexp_replace(F.regexp_replace(w, "[aeiouy]+", "a"), "[^a]", "")
            ),
            F.lit(1),
        ).cast("long"),
    )
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.greatest(n_enders, F.lit(1)).cast("long").alias("n_sents"),
        syll.alias("n_syll"),
    ).where(F.col("n_words") > 0)
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sents").cast("double"))
        - F.lit(84.6) * (F.col("n_syll").cast("double") / F.col("n_words").cast("double"))
    )
    return m.select(
        "doc_id", "n_words", "n_sents", "n_syll",
        F.floor(flesch * F.lit(1000000.0)).cast("long").alias("flesch_q"),
    )


# ---------------------------------------------------------------------------
# Corpus version diff — the ops tool for "what changed between crawls"
# ---------------------------------------------------------------------------

_CORPUS_DIFF_ORACLE = """
WITH v1 AS (
  SELECT doc_id, md5(text) AS dg FROM documents WHERE doc_id % 10 <> 9
),
v2 AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]' ELSE text END) AS dg
  FROM documents WHERE doc_id % 10 <> 0
),
j AS (
  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
         CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN v1.dg <> v2.dg THEN 'changed'
              ELSE 'unchanged' END AS change
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT change, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
FROM j GROUP BY change
"""


@query("pipeline_corpus_diff", oracle=_CORPUS_DIFF_ORACLE)
def pipeline_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus VERSION diff — the release-engineering view every dataset
    refresh ships with: two crawl versions (simulated deterministically:
    v1 drops the 9-mod-10 ids, v2 drops the 0-mod-10 ids and edits every
    7th document) compare by (doc_id, content digest) through ONE
    full-outer join, classifying every document as added / removed /
    changed / unchanged, rolled up with id checksums that pin the exact
    membership of each class. The digest comparison means the diff never
    moves document TEXT across the shuffle — only ids and 32-byte
    digests, the same narrow-shuffle trick as dedup_exact_digest. At
    100 TB this is an id-keyed sort-merge join of two digest manifests
    (each buildable incrementally by the manifest table's diff), not a
    content scan."""
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.where(F.col("doc_id") % 10 != 9).select(
        "doc_id", F.md5("text").alias("dg1")
    )
    v2 = docs.where(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [edited]")))
            .otherwise(F.col("text"))
        ).alias("dg2"),
    )
    j = v1.join(v2, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("dg1").isNull(), F.lit("added"))
        .when(F.col("dg2").isNull(), F.lit("removed"))
        .when(F.col("dg1") != F.col("dg2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )
    return j.groupBy("change").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.sum("doc_id").cast("long").alias("sum_doc_id"),
    )
