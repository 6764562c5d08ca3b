"""Streaming MinHash near-duplicate detection: LSH band state as a
transformWithStateInPandas operator.

The batch near-dup pipeline (operators/dedup.py: minhash_dedup_pairs) sees
the whole corpus at once; an INGEST pipeline sees documents as they arrive
and must flag each one against everything seen so far without a full
rescan. The streaming shape here:

1. **Stateless signature** (`minhash_bands_stateless`): tokens → distinct
   word n-gram shingles → k MinHash values → band hashes, all computed
   row-locally with array expressions — no groupBy, so the map is legal in
   a streaming plan and produces bit-identical signatures to the batch
   aggregate form (same xxhash64-mod-Mersenne permutations,
   `_perm_params`).
2. **Band state** (`BandPairProcessor`): keyed by (band_id, band_hash),
   a ListState of the doc ids seen in the bucket. Each arriving doc emits
   one candidate pair per stored bucket member, as (min, max) — so the
   emitted PAIR SET is arrival-order independent and equals the batch
   bucket self-join exactly (each colliding pair is emitted by whichever
   member arrives second; same-batch collisions are ordered locally).
   Emission is eager and final: a candidate pair can never be retracted
   by later data, so no watermark gating is needed (timeMode None).
3. **Verification** stays exact and BATCH-shaped (stream side: foreachBatch
   against the document store; here: `verify_jaccard_pairs`): candidates
   are approximate, the verify join is not.

State per bucket grows with bucket size, and pair emission is quadratic
per bucket — that is LSH's contract (buckets are small when the banding is
tuned). ``cap`` bounds both for adversarial buckets: a full bucket still
COMPARES new arrivals against its members but stops admitting new ones
(documented recall dial; None = exact).

Reference parity: the reference has no streaming at all (SURVEY.md §2.D);
this extends the §2.D streaming row to the dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from gridmr_spark.operators.dedup import (
    _MERSENNE,
    _band_self_join,
    _perm_params,
    _shingle_idx,
    _stacked_bands,
    minhash_dedup_pairs,
    normalize_tokens,
)


def minhash_bands_stateless(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, band_id, band_hash) rows computed WITHOUT any shuffle: the
    shingle set, the k MinHash minima, and the band hashes are all array
    expressions over each row — streaming-legal and bit-identical to
    `minhash_signatures_from_shingles` + `_stacked_bands` (same base hash,
    same permutation parameters, same band packing).

    Docs with no shingles (< n tokens) are dropped: they have no minima
    and would otherwise all collide on the null signature."""
    toks = docs.select(F.col(id_col).alias("id"), normalize_tokens(text_col).alias("ws"))
    shd = toks.select(
        "id",
        F.array_distinct(
            F.transform(_shingle_idx(n), lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i + 1, n)))
        ).alias("sh"),
    ).where(F.size("sh") > 0)
    based = shd.select(
        "id",
        F.transform("sh", lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE))).alias("hs"),
    )
    sig = based.select(
        "id",
        *[
            F.array_min(
                F.transform("hs", lambda x: F.pmod(F.lit(a) * x + F.lit(b), F.lit(_MERSENNE)))
            ).alias(f"mh{i}")
            for i, (a, b) in enumerate(_perm_params(k))
        ],
    )
    return _stacked_bands(sig, k, bands)


_PAIR_OUT = "id1 long, id2 long"


class BandPairProcessor(StatefulProcessor):
    """Per-(band_id, band_hash) bucket membership with pair emission.

    State: the bucket's doc ids (ListState of one long). Each incoming doc
    not already in the bucket emits (min, max) against every stored member
    — the emitted pair SET is therefore exactly the batch bucket
    self-join's, independent of arrival order and batch boundaries (a pair
    is produced once, by the later arrival; re-delivery of a known id
    produces nothing). Pairs are final on emission: later data can only
    ADD pairs, never invalidate one, so no watermark/timer machinery is
    involved (timeMode None).

    ``cap``: buckets at the cap still compare arrivals against members but
    stop admitting them — bounding state and per-arrival work on
    adversarial hot buckets at a MEASURED recall cost (pairs among
    post-cap arrivals are missed; per-clique analytic recall is
    1 - C(n-cap,2)/C(n,2)). BASELINE.md §D carries the telemetry:
    recall 1.0 at every cap >= 4 on the natural sf0.1 corpus, and
    0.769 / 0.967 / 0.998 at cap 4/8/16 on the planted-10-clique
    dup-dense tiling — cap=16 is a safe state bound; None = exact."""

    def __init__(self, cap: int | None = None):
        self.cap = cap

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.seen = handle.getListState("seen", "id long")

    def handleInputRows(self, key, rows, timerValues: TimerValues):
        import pandas as pd

        pdf = pd.concat(list(rows), ignore_index=True)
        if pdf.empty:
            return
        known = [int(r[0]) for r in self.seen.get()]
        members = set(known)
        out1: list[int] = []
        out2: list[int] = []
        admitted: list[int] = []
        for d in sorted({int(x) for x in pdf["id"]}):
            if d in members:
                continue
            for s in members:
                out1.append(min(s, d))
                out2.append(max(s, d))
            if self.cap is None or len(members) < self.cap:
                members.add(d)
                admitted.append(d)
        if admitted:
            self.seen.appendList([(d,) for d in admitted])
        if out1:
            yield pd.DataFrame(
                {
                    "id1": pd.Series(out1, dtype="int64"),
                    "id2": pd.Series(out2, dtype="int64"),
                }
            )

    def handleExpiredTimer(self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo):
        return
        yield  # pragma: no cover - generator protocol, no timers registered

    def close(self) -> None:
        pass


def stream_minhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    cap: int | None = None,
) -> DataFrame:
    """Streaming form: banded docs through BandPairProcessor. Output rows
    (id1, id2) may repeat across bands (each band bucket emits its own
    collisions); the downstream verify stage deduplicates — a streaming
    `distinct` here would add a second stateful operator for nothing."""
    b = minhash_bands_stateless(docs, id_col, text_col, n, k, bands)
    return b.groupBy("band_id", "band_hash").transformWithStateInPandas(
        statefulProcessor=BandPairProcessor(cap),
        outputStructType=_PAIR_OUT,
        outputMode="Append",
        timeMode="None",
    )


def minhash_candidates_batch(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Batch twin of the processor's emitted pair set: bucket self-join on
    (band_id, band_hash), id1 < id2, distinct.

    The banded frame is checkpointed before the self-join: the stateless
    signature expression (k array passes per row) is the dominant cost,
    and without materialization BOTH join legs would recompute it — 10x
    the whole pipeline's runtime, measured at sf0.1."""
    b = minhash_bands_stateless(docs, id_col, text_col, n, k, bands).localCheckpoint(
        eager=True
    )
    return _band_self_join(b)


def neardup_flags_batch(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-document near-dup FLAGS under first-seen semantics: a document
    is a duplicate iff some EARLIER document (smaller id — id order is
    arrival order in the ingest framing) verifies at jaccard >= threshold;
    `first_dup_of` is the earliest such partner. Candidates come from the
    same band structure the streaming processor maintains; verification is
    exact, so output ⊆ exact pairs and (at LSH recall 1.0, which the
    oracle hash asserts on this data) the flags equal the exact-Jaccard
    definition."""
    # minhash_dedup_pairs builds signatures in the batch AGGREGATE form
    # (explode + 64 running minima in one whole-stage-codegen hash agg),
    # not the row-local array form: the two are bit-identical
    # (tests/test_stream_neardup.py proves candidate-set equality), and the
    # aggregate form measures ~5x faster at sf0.1 — the stateless form
    # exists because a streaming plan cannot contain the groupBy, not
    # because it is the better batch plan.
    pairs = minhash_dedup_pairs(docs, id_col, text_col, n, k, bands, threshold)
    dup = pairs.groupBy("id2").agg(F.min("id1").cast("long").alias("first_dup_of"))
    return (
        docs.select(F.col(id_col).cast("long").alias("doc_id"))
        .join(dup.select(F.col("id2").alias("doc_id"), "first_dup_of"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("first_dup_of").isNull(), F.lit(0))
            .otherwise(F.lit(1))
            .cast("int")
            .alias("is_dup"),
            "first_dup_of",
        )
    )
