"""Structured Streaming windows over the events table (SURVEY.md §2.D row 13).

The aggregation builders below are plain DataFrame transformations, so the
SAME code runs in batch mode (for the DuckDB oracle / driver gate) and in
streaming mode (readStream + watermark + availableNow); tests assert the two
modes agree. That one-definition-two-modes property is the point of
Structured Streaming — there is no separate streaming operator dialect.

Watermark policy: `withWatermark("ts", delay)` bounds state: windows older
than max(event time) - delay are finalized and dropped from the state store.
In append mode late events beyond the watermark are discarded — the late-data
policy the reference never had. At 100 TB-scale ingest, state size is
O(active windows × groups), independent of history length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gridmr_spark.catalog import table_path

# Post-normalization schema (ts already micros): what read_events_stream emits.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# Raw parquet schema when ts is TIMESTAMP(NANOS), which Spark reads as long
# under the legacy nanosAsLong conf (see catalog._load_events).
_RAW_SCHEMA_NANOS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _events_ts_is_legacy_nanos(path: str) -> bool:
    """Probe the parquet footer (driver-side metadata read, no Spark job)
    for the physical ts type: nanos needs the long-read + div-1000 path,
    micros passes straight through. readStream requires the schema up
    front, so the probe must happen before the stream starts."""
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        inner = [f for f in os.listdir(path) if f.endswith(".parquet")]
        path = os.path.join(path, inner[0])
    import pyarrow as pa

    t = pq.ParquetFile(path).schema_arrow.field("ts").type
    # Type-predicate, not string equality: a tz-adjusted nanos column
    # renders as "timestamp[ns, tz=UTC]" and would otherwise compare
    # unequal, route to the micros branch, and fail the readStream opaquely.
    return pa.types.is_timestamp(t) and t.unit == "ns"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (file source = replayable stream;
    swap for kafka/kinesis in production — the downstream plan is identical).

    The file stream source requires a *directory*; the testdata table is a
    single file, so stage a symlink directory (no data copy).
    """
    import os

    from gridmr_spark.sources import scratch_dir

    src = os.path.abspath(table_path(sf_dir, "events"))
    stage = scratch_dir("stream")
    os.makedirs(stage)
    os.symlink(src, os.path.join(stage, "events.parquet"))
    if _events_ts_is_legacy_nanos(src):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.readStream.schema(_RAW_SCHEMA_NANOS).format("parquet").load(stage)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(stage)


def tumbling_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Per (1h tumbling window, event_type): count + exact decimal sum."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def sliding_agg(events: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding windows: each event lands in width/slide windows (2 here)."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def session_agg(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Per-user session windows (gap-based). window.start == first event ts;
    a new session starts when the inter-event gap is >= the gap interval."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events", "sum_value")
    )


def static_enrich_agg(events: DataFrame, dim: DataFrame, width: str = "1 hour") -> DataFrame:
    """Stream-static enrichment: events joined to a STATIC dimension table
    (user -> market segment), then tumbling count/sum per (window, segment).

    In streaming mode the static side of a stream-static join is stateless —
    Spark re-broadcasts the batch DataFrame into each micro-batch, no
    watermark or join state involved; only the downstream window agg keeps
    state. That's the standard "enrich the firehose with a dimension" shape:
    at 100 TB/day ingest the dimension stays a broadcast, the stream never
    shuffles for the join. Same builder runs in batch for the DuckDB oracle;
    stream==batch equality is asserted in tests/test_streaming.py.

    `dim` columns: cust_id (join key), segment.
    """
    enriched = events.join(F.broadcast(dim), events.user_id == dim.cust_id, "left")
    return (
        enriched.groupBy(
            F.window("ts", width).alias("w"),
            F.coalesce(F.col("segment"), F.lit("unknown")).alias("segment"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "segment", "n_events", "sum_value")
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: tuple[str, ...] = ("user_id", "event_type", "value"),
    delay: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication: ``dropDuplicatesWithinWatermark`` keeps
    dedup state only for the watermark horizon, so state is O(distinct keys
    within `delay`), not O(all history) — the property that makes exact
    dedup on an unbounded stream feasible (plain dropDuplicates on a stream
    would grow state forever).

    In batch mode the same builder degrades to dropDuplicates over the full
    (bounded) input; the two agree whenever every duplicate of a key arrives
    within the watermark horizon — asserted in tests/test_streaming.py.
    """
    cols = list(keys)
    if events.isStreaming:
        return (
            events.withWatermark("ts", delay)
            .dropDuplicatesWithinWatermark(cols)
            .select(*cols)
        )
    return events.select(*cols).dropDuplicates()


def url_frontier_dedup(events: DataFrame, delay: str = "2 hours") -> DataFrame:
    """Streaming crawl frontier: canonicalize discovered URLs
    (operators/urls.py — a stateless per-row expression fold, so it runs
    unchanged in a micro-batch) and emit each canonical URL once, with
    dedup state bounded by the watermark horizon. This is the stream form
    of crawl_url_canonical_dedup's gate: a crawler's link stream is
    unbounded, so only horizon-bounded state survives — a URL re-discovered
    after the horizon re-emits (a re-fetch, the crawl-recency trade every
    frontier makes).

    The URL column is the deterministic fixture derived from event_id; in
    batch mode the builder degrades to DISTINCT over the bounded input —
    stream==batch asserted in tests/test_streaming.py."""
    from gridmr_spark.operators import urls as U

    urls = events.select(
        "ts",
        U.canonical_url(U.synth_url(F.col("event_id"))).alias("canonical_url"),
    )
    if events.isStreaming:
        return (
            urls.withWatermark("ts", delay)
            .dropDuplicatesWithinWatermark(["canonical_url"])
            .select("canonical_url")
        )
    return urls.select("canonical_url").dropDuplicates()


def running_user_totals_stateful(events: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-user running (count, sum) emitted after every micro-batch — the
    arbitrary-state escape hatch beyond built-in windows (e.g. CDC-style
    accumulators, custom sessionization, online features).

    State is one (count, sum) pair per user — O(users), bounded; at scale
    the state store shards with the shuffle partitioning on user_id.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    output_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, cents long"

    def update(key, pdfs, state):
        # State in integer CENTS: exact at any Arrow chunking / batch split
        # (adding rounded doubles per chunk would drift in the last ulps).
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, cents))
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )


def run_stream_to_memory(
    spark: SparkSession,
    agg: DataFrame,
    query_name: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Drive a streaming aggregation to completion with availableNow (process
    everything currently available, then stop) into an in-memory table.
    Returns the materialized result for comparison against batch mode."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_stream_foreach_batch(
    spark: SparkSession,
    agg: DataFrame,
    sink_path: str,
    output_mode: str = "complete",
) -> None:
    """foreachBatch sink: every micro-batch is handed to ordinary BATCH
    writers — the escape hatch for sinks Structured Streaming has no native
    connector for (JDBC upserts, MERGE INTO a lakehouse table, multi-table
    transactions). The idempotence contract that makes it exactly-once at
    the sink: a replayed batch_id must overwrite, not append — here each
    batch owns the ``batch=<id>`` subdirectory and rewrites it wholesale,
    so re-delivery after a failure converges to the same files."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{sink_path}/batch={batch_id}")

    q = (
        agg.writeStream.outputMode(output_mode)
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
