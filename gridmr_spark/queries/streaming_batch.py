"""Batch-parity queries for the streaming windows (SURVEY.md §7.1 step 5 /
§7.3 risk 5): the same tumbling/sliding/session aggregations the streaming
module runs, executed in batch mode so DuckDB can oracle-check them. The
streaming-mode == batch-mode equivalence is asserted in tests/test_streaming.py.

Timestamp precision note: events.ts is nanos in parquet; Spark reads it
floor-truncated to micros (catalog._load_events). Hour/30-min bucket
membership is unaffected (truncation never crosses a second boundary), and
the session-gap oracle compares with date_diff('microsecond'), which equals
the floored-micros difference — so both engines see identical session splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gridmr_spark.catalog import load_table
from gridmr_spark.functions.localdata import local_df
from gridmr_spark.queries import query
from gridmr_spark.session import session_conf
from gridmr_spark.sources import scratch_dir
from gridmr_spark.streaming.windows import session_agg, sliding_agg, tumbling_agg

_TUMBLING_ORACLE = """
SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


@query("stream_tumbling_1h", oracle=_TUMBLING_ORACLE)
def stream_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type (batch mode of the streaming
    agg — identical code path, see gridmr_spark/streaming/windows.py)."""
    return tumbling_agg(load_table(spark, sf_dir, "events"))


# Each event belongs to exactly two 1h/30min sliding windows: the 30-min
# bucket it falls in and the previous one.
_SLIDING_ORACLE = """
WITH starts AS (
  SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) AS TIMESTAMP) AS window_start, event_type FROM events
  UNION ALL
  SELECT CAST(time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS TIMESTAMP), event_type FROM events
)
SELECT window_start, event_type, COUNT(*) AS n_events
FROM starts
GROUP BY 1, 2
"""


@query("stream_sliding_1h_30m", oracle=_SLIDING_ORACLE)
def stream_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes, per event_type."""
    return sliding_agg(load_table(spark, sf_dir, "events"))


# Gaps-and-islands mirror of session_window: new session when the
# microsecond-exact gap >= 10 minutes (or first event).
_SESSION_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN date_diff('microsecond',
                             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                             ts) >= 600000000
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), islands AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
)
SELECT CAST(min(ts) AS TIMESTAMP) AS session_start, user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM islands
GROUP BY user_id, session_id
"""


@query("stream_session_10m", oracle=_SESSION_ORACLE)
def stream_session_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 10-minute-gap session windows (session_window in batch mode;
    the DuckDB oracle is the classic gaps-and-islands rewrite)."""
    return session_agg(load_table(spark, sf_dir, "events"))


_STREAM_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type, value FROM events
"""


@query("stream_dedup_exact", oracle=_STREAM_DEDUP_ORACLE)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as a stream operator (batch mode of
    streaming/windows.dedup_within_watermark): in streaming mode the same
    builder uses dropDuplicatesWithinWatermark, whose state is bounded by
    the watermark horizon instead of growing with history — the only way
    exact dedup survives an unbounded 100 TB ingest. Stream==batch equality
    is asserted in tests/test_streaming.py."""
    from gridmr_spark.streaming.windows import dedup_within_watermark

    return dedup_within_watermark(load_table(spark, sf_dir, "events"))


_STATIC_ENRICH_ORACLE = """
SELECT CAST(time_bucket(INTERVAL '1 hour', e.ts) AS TIMESTAMP) AS window_start,
       COALESCE(c.c_mktsegment, 'unknown') AS segment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


@query("stream_static_enrich", oracle=_STATIC_ENRICH_ORACLE)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join + windowed agg in batch mode: events enriched with
    the customer's market segment (broadcast dimension, stateless in
    streaming), tumbling 1h count/sum per segment. Stream==batch equality is
    asserted in tests/test_streaming.py."""
    from gridmr_spark.streaming.windows import static_enrich_agg

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"), F.col("c_mktsegment").alias("segment")
    )
    return static_enrich_agg(load_table(spark, sf_dir, "events"), dim)


# Oracle truncates ts to micros (make_timestamp(epoch_us(...))) because Spark
# reads the NANOS column floor-truncated to micros (catalog._load_events);
# interval-boundary comparisons must see identical instants on both engines.
_INTERVAL_JOIN_ORACLE = """
WITH clicks AS (
  SELECT user_id AS c_user, make_timestamp(epoch_us(ts)) AS c_ts, event_id AS c_id
  FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id AS p_user, make_timestamp(epoch_us(ts)) AS p_ts, event_id AS p_id
  FROM events WHERE event_type = 'purchase'
)
SELECT c_id, p_id
FROM clicks JOIN purchases
  ON c_user = p_user
 AND p_ts >= c_ts
 AND p_ts <= c_ts + INTERVAL 30 MINUTE
"""


@query("stream_interval_join", oracle=_INTERVAL_JOIN_ORACLE)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the watermarked stream-stream interval join (clicks x
    purchases within 30 minutes per user; stream==batch equality asserted in
    tests/test_streaming.py). In streaming mode the watermark bounds join
    state to the interval horizon — the property that makes stream-stream
    joins feasible on unbounded input. In batch the range rides the equi-join
    on user_id as a residual, so there is no cross product."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("c_id", "p_id")


# Cents arithmetic uses BANKER'S rounding end-to-end: the stateful stream
# accumulates int((value*100).round()) via pandas/numpy (half-to-even),
# Spark's rint() and DuckDB's round_even() are the same IEEE
# round-half-to-even on the identical value*100 double — three engines, one
# rounding rule, bit-identical totals.
_STATEFUL_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round_even(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM events
GROUP BY user_id
"""


@query("stream_stateful_totals", oracle=_STATEFUL_ORACLE)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/windows.running_user_totals_stateful — the
    applyInPandasWithState custom stateful operator (arbitrary per-key
    state beyond built-in windows: CDC accumulators, online features).
    State is one (count, cents) pair per user, exact integer arithmetic at
    any Arrow chunking; stream==batch equality is asserted in
    tests/test_streaming.py, and this batch twin carries the DuckDB oracle
    for the driver gate."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.expr("CAST(rint(value * 100) AS BIGINT)")).cast("double") / 100.0
        ).alias("total_value"),
    )


# Identical ordering ((ts, event_id)) and integer-cents arithmetic as the
# transformWithStateInPandas processor; round_even == Spark rint == numpy
# rint, so all three engines agree bit-for-bit.
_TWS_SESSIONS_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
              OR date_diff('microsecond', LAG(ts) OVER w, ts) >= 600000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
)
SELECT user_id,
       CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       CAST(MAX(ts) AS TIMESTAMP) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round_even(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM islands
GROUP BY user_id, sid
"""


@query("stream_tws_sessions", oracle=_TWS_SESSIONS_ORACLE)
def stream_tws_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/tws.py:user_sessions_tws — per-user
    10-minute-gap sessions via transformWithStateInPandas (Spark 4's
    arbitrary-stateful successor to applyInPandasWithState: typed state
    handles, EVENT-TIME TIMERS closing the final session of a quiet key,
    optional TTL, RocksDB state store). The processor's semantics are
    proven against this twin by driving it directly through a fake state
    handle in tests/test_tws.py (multi-batch splits + timer expiry), and
    the LIVE readStream path — unblocked in round 6 by compat/pbshim —
    carries the same oracle as stream_tws_sessions_live."""
    from gridmr_spark.streaming.tws import user_sessions_batch

    return user_sessions_batch(load_table(spark, sf_dir, "events"))


# Target distinct keys per RocksDB state store (see _run_tws_live).
_STATE_KEYS_PER_STORE = 128


def _run_tws_live(spark, sf_dir: str, tag: str, sentinel_row, build_stream):
    """Shared live-run harness for the transformWithStateInPandas queries:
    stage events (+ one far-future sentinel row so the final watermark
    passes every pending horizon) as parquet, run build_stream(readStream)
    availableNow through the RocksDB state store into a parquet sink,
    return the sink minus the sentinel. Returns None when no protobuf
    runtime exists anywhere (callers fall back to their batch twin)."""
    import os

    from gridmr_spark.compat.pbshim import ensure_protobuf

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value", "event_type"
    )
    if not ensure_protobuf():
        return None
    base = scratch_dir(tag)
    src, ck, sink = (os.path.join(base, d) for d in ("src", "ck", "out"))
    sentinel = local_df(
        spark,
        [sentinel_row],
        "event_id long, user_id long, ts timestamp, value double, event_type string",
    )
    ev.unionByName(sentinel).write.parquet(src)
    # Size the stream's STATE partitions to state volume, not to cores
    # (guide §2/§5). Structured Streaming pins the state-store partition
    # count to spark.sql.shuffle.partitions at the FIRST start of a
    # checkpoint; the session default (ncpus) therefore creates ncpus
    # RocksDB store instances per micro-batch, and for KBs of session
    # state the per-store open/snapshot/commit overhead (measured ~24 s
    # summed across 32 stores per batch in the r14 phase instrumentation)
    # dwarfs the state work itself — the stream ran SLOWER at 32 cores
    # than at 8 (PERF_r14 scaling 0.51). The checkpoint here is fresh per
    # call (a new scratch path), so nothing pins the count and it can
    # derive from the state's actual driver: the number of DISTINCT KEYS
    # (state per key is O(sessions inside one watermark delay) — bounded),
    # at _STATE_KEYS_PER_STORE keys per store, clamped to [1, session
    # shuffle partitions].
    # Too few partitions serializes the per-key Python processor work
    # (measured 30.6 s at ONE partition — the pandas-per-key cost needs
    # parallelism); too many pays per-store commit overhead for
    # near-empty stores (14.4 s at 32 in PERF_r14). The key count comes
    # from one column-pruned approx_count_distinct over the just-staged
    # parquet — trivial next to the staging write itself. At 100 TB the
    # same rule saturates the clamp (the cluster's configured
    # parallelism), so this is scale-adaptive sizing, not a local tune.
    n_keys = int(
        spark.read.parquet(src)
        .agg(F.approx_count_distinct("user_id").alias("k"))
        .first()["k"]
    )
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_state = max(1, min(sess_parts, -(-n_keys // _STATE_KEYS_PER_STORE)))
    with session_conf(spark, {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.shuffle.partitions": str(n_state),
    }):
        q = (
            build_stream(spark.readStream.schema(ev.schema).parquet(src))
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: df.write.mode("append").parquet(sink))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(sink).where(F.col("user_id") >= 0)


import datetime as _dt

_SENTINEL = (int(-1), int(-1), _dt.datetime(2100, 1, 1), 0.0, "x")


@query("stream_tws_sessions_live", oracle=_TWS_SESSIONS_ORACLE)
def stream_tws_sessions_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL transformWithStateInPandas stream through the driver's
    oracle gate: events re-staged as parquet plus one far-future sentinel
    user (so the final watermark passes every true session's close
    horizon), readStream -> SessionProcessor on the RocksDB state store ->
    availableNow -> parquet sink; the returned frame is the sink minus the
    sentinel. Same gaps-and-islands oracle as the batch twin — a green
    hash here is end-to-end evidence that the watermark-gated ListState
    processor, the Python<->JVM protobuf state server (compat/pbshim),
    timers, and exactly-once sink delivery reproduce the batch answer on
    driver data, not just on test fixtures."""
    from gridmr_spark.streaming.tws import user_sessions_batch, user_sessions_tws

    out = _run_tws_live(spark, sf_dir, "twslive", _SENTINEL, user_sessions_tws)
    if out is None:
        # No protobuf runtime anywhere: fall back to the oracle-identical
        # batch twin rather than crash the gate (documented degraded mode).
        return user_sessions_batch(load_table(spark, sf_dir, "events"))
    return out.drop("event_type")


_TWS_FIRST_SEEN_ORACLE = """
SELECT user_id, event_type, CAST(MIN(ts) AS TIMESTAMP) AS first_ts
FROM events GROUP BY user_id, event_type
"""


@query("stream_tws_first_seen_live", oracle=_TWS_FIRST_SEEN_ORACLE)
def stream_tws_first_seen_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapState through the same live harness: per-user FIRST occurrence
    of each event type (streaming/tws.py: FirstSeenProcessor), emission
    watermark-gated so an emitted minimum can never be lowered by a
    still-admissible late event — Append-mode exactly-once without
    retraction. Completes the typed-state family end to end on driver
    data: ValueState (r4 running totals), ListState (sessions), MapState
    (this row), all against exact SQL oracles."""
    from gridmr_spark.streaming.tws import (
        user_type_first_seen_batch,
        user_type_first_seen_tws,
    )

    out = _run_tws_live(
        spark, sf_dir, "twsfirst", _SENTINEL, user_type_first_seen_tws
    )
    if out is None:
        return user_type_first_seen_batch(load_table(spark, sf_dir, "events"))
    return out  # sentinel already excluded by user_id >= 0


_INTERVAL_JOIN_LEFT_ORACLE = """
SELECT c.event_id AS c_id, p.event_id AS p_id
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


@query("stream_interval_join_left", oracle=_INTERVAL_JOIN_LEFT_ORACLE)
def stream_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the watermarked LEFT OUTER stream-stream interval join
    — the state-eviction-hard variant of stream_interval_join: a click with
    no purchase within 30 minutes must still emit (with nulls), but only
    once the watermark proves no matching purchase can arrive. Stream ==
    batch equality is asserted live in
    tests/test_streaming.py::test_stream_stream_left_join_matches_batch.

    Scale shape: same bounded state as the inner join (watermark horizon
    bounds both buffers); the null-emission bookkeeping is per-buffered-row,
    not per-key-history. In batch the range rides the user_id equi-join as
    a residual — no cross product."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left",
    ).select("c_id", "p_id")


# Streaming MinHash near-dup flags (batch twin of streaming/neardup.py).
# Oracle = exact-Jaccard first-seen flags; the verify stage guarantees
# output ⊆ exact pairs, so the hash additionally asserts LSH recall 1.0 on
# this data (same argument as dedup_minhash_lsh).
_STREAM_NEARDUP_ORACLE = """
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
), pairs AS (
  SELECT id1, id2
  FROM common
  JOIN sizes s1 ON id1 = s1.doc_id
  JOIN sizes s2 ON id2 = s2.doc_id
  WHERE CAST(c AS DOUBLE)/CAST(s1.sz + s2.sz - c AS DOUBLE) >= 0.5
), dup AS (
  SELECT id2 AS doc_id, CAST(MIN(id1) AS BIGINT) AS first_dup_of
  FROM pairs GROUP BY id2
)
SELECT d.doc_id,
       CAST(CASE WHEN dup.first_dup_of IS NULL THEN 0 ELSE 1 END AS INT) AS is_dup,
       dup.first_dup_of
FROM documents d LEFT JOIN dup USING (doc_id)
"""


@query("stream_dedup_minhash", oracle=_STREAM_NEARDUP_ORACLE)
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup as a STREAM operator (batch mode of
    streaming/neardup.py): documents arriving on an unbounded ingest are
    flagged against everything seen so far — MinHash signatures and LSH
    band hashes computed row-locally (stateless, streaming-legal, NO
    groupBy), band buckets kept as transformWithStateInPandas ListState
    emitting candidate pairs eagerly (pairs are final on emission — no
    watermark needed), exact-Jaccard verify downstream. This batch twin
    runs the identical band structure declaratively; stream==batch
    candidate equality is asserted live in tests/test_stream_neardup.py
    (fake-handle multi-batch + real readStream when protobuf is present).

    Output: (doc_id, is_dup, first_dup_of) under first-seen semantics —
    a doc is a dup iff an EARLIER doc verifies at jaccard >= 0.5; the
    oracle replays that definition exactly (verify ⊆ exact pairs, and
    hash-equality asserts LSH recall 1.0 on this corpus, the
    dedup_minhash_lsh argument).

    Scale shape: state per band bucket is the member id list; pair
    emission is the bucket self-join LSH contracts for — the ``cap``
    dial bounds adversarial hot buckets (documented recall cost). The
    streaming operator shuffles (id, band_id, band_hash) only — the
    narrow-key posture dedup_binary_hamming_pairs uses."""
    from gridmr_spark.streaming.neardup import neardup_flags_batch

    return neardup_flags_batch(load_table(spark, sf_dir, "documents"))
