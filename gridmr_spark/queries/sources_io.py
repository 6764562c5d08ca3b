"""File-format round-trip queries (SURVEY.md §2.D row 1 made driver-visible).

Round 1 proved the csv/json/text readers via pytest round-trips only; these
queries put the same fidelity claim through the driver's DuckDB gate: each
writes a table slice out through ``sources.write`` in the target format,
reads it back through the matching ``sources.read_*``, and returns the
re-read rows — the oracle is the straight SQL over the original parquet, so
a green row proves write+read is value-exact, not just "parses".

Each call writes under a fresh ``sources.scratch_dir`` path, so repeated
or concurrent calls never share files and none outlives the process.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gridmr_spark import sources
from gridmr_spark.catalog import load_table
from gridmr_spark.functions.localdata import local_df
from gridmr_spark.queries import query
from gridmr_spark.sources import scratch_dir


_CSV_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


@query("source_csv_roundtrip", oracle=_CSV_ORACLE)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source fidelity: write the nation dimension as headered
    CSV (directory-of-parts), read it back with an EXPLICIT schema (never
    inferSchema in production — it double-scans), return the re-read rows.
    Quoting is exercised too: n_name is free text."""
    path = scratch_dir("csv")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    sources.write(nation, path, fmt="csv")
    return sources.read_csv(
        spark, path, schema="n_nationkey int, n_name string, n_regionkey int"
    )


_ORC_ORACLE = """
SELECT s_suppkey, s_name, s_nationkey,
       CAST(s_acctbal AS DOUBLE) AS s_acctbal
FROM supplier
"""


@query("source_orc_roundtrip", oracle=_ORC_ORACLE)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source fidelity (the third columnar format Spark ships a
    vectorized reader for). DuckDB cannot read ORC, so the oracle is the
    straight SQL over the ORIGINAL parquet — a green row therefore proves
    the ORC write+read is value-exact end to end, doubles included."""
    path = scratch_dir("orc")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", F.col("s_acctbal").cast("double").alias("s_acctbal")
    )
    sources.write(supp, path, fmt="orc")
    return spark.read.orc(path)


_PRUNE_ORACLE = """
SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       o_orderpriority
FROM orders
WHERE o_orderpriority = '1-URGENT'
"""


@query("source_partition_pruning", oracle=_PRUNE_ORACLE)
def source_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write + partition-PRUNED read: orders land in
    one directory per o_orderpriority, and the equality filter on the
    partition column is satisfied from directory names alone — the scan
    never opens the other partitions' files (`PartitionFilters` in the
    plan, asserted by tests/test_plans.py). At 100 TB this is the
    difference between reading 1/5th of the table and all of it; the same
    mechanics serve date-partitioned event logs. Value parity vs the
    unpartitioned original proves the layout round-trip loses nothing."""
    path = scratch_dir("part")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderpriority",
    )
    sources.write(orders, path, partition_by=["o_orderpriority"])
    back = sources.read_parquet(spark, path).where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    # partition columns surface last on read-back; restore declared order
    return back.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")


_COMPACT_ORACLE = """
SELECT n_nationkey, n_name FROM nation
"""


@query("layout_compact_files", oracle=_COMPACT_ORACLE)
def layout_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the standing maintenance job of every big
    table: first manufacture the antipattern (nation exploded across 16
    tiny part files), then compact with a round-robin repartition write
    into 2 right-sized files. At 100 TB uncompacted small files dominate
    task-scheduling and NameNode/listing overhead, and compaction is why
    scan parallelism stays aligned with maxPartitionBytes. The gate proves
    the rewrite is lossless; tests/test_mr_compat.py asserts the file
    counts actually collapse."""
    path_small = scratch_dir("smallfiles")
    path_compact = scratch_dir("compacted")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nation.repartition(16).write.mode("overwrite").parquet(path_small)
    small = sources.read_parquet(spark, path_small)
    small.repartition(2).write.mode("overwrite").parquet(path_compact)
    return sources.read_parquet(spark, path_compact)


_EVOLVE_ORACLE = """
SELECT c_custkey, c_name, CAST(NULL AS VARCHAR) AS c_mktsegment
FROM customer WHERE c_custkey < 300
UNION ALL
SELECT c_custkey, c_name, c_mktsegment
FROM customer WHERE c_custkey >= 300 AND c_custkey < 600
"""


@query("source_schema_evolution", oracle=_EVOLVE_ORACLE)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: an old batch written WITHOUT c_mktsegment
    and a new batch written WITH it are scanned together under
    mergeSchema=true — the widened schema applies retroactively and old
    rows surface NULL for the added column, exactly the additive-column
    evolution a long-lived ingest pipeline accumulates. (Default reads
    take the schema of one footer for speed; merging is opt-in because it
    reads every footer — fine per-batch, priced accordingly at 100k
    files.)"""
    p1, p2 = scratch_dir("evo1"), scratch_dir("evo2")
    cust = load_table(spark, sf_dir, "customer")
    cust.where(F.col("c_custkey") < 300).select("c_custkey", "c_name").write.mode(
        "overwrite"
    ).parquet(p1)
    cust.where((F.col("c_custkey") >= 300) & (F.col("c_custkey") < 600)).select(
        "c_custkey", "c_name", "c_mktsegment"
    ).write.mode("overwrite").parquet(p2)
    merged = spark.read.option("mergeSchema", "true").parquet(p1, p2)
    return merged.select("c_custkey", "c_name", "c_mktsegment")


_JSON_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment,
       CAST(c_acctbal AS DOUBLE) AS c_acctbal
FROM customer
WHERE c_custkey < 500
"""


@query("source_json_roundtrip", oracle=_JSON_ORACLE)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source fidelity, including a double column:
    Jackson's shortest-round-trip rendering guarantees the re-read double is
    bit-identical, which the value hash then proves. Explicit read schema,
    as JSON inference scans everything."""
    path = scratch_dir("json")
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 500).select(
        "c_custkey", "c_name", "c_mktsegment", F.col("c_acctbal").cast("double").alias("c_acctbal")
    )
    sources.write(cust, path, fmt="json")
    return sources.read_json(
        spark, path,
        schema="c_custkey long, c_name string, c_mktsegment string, c_acctbal double",
    )


_PYDS_ORACLE = """
WITH g AS (
  SELECT i AS row_id, i % 97 AS service,
         CASE (i * 7) % 4 WHEN 0 THEN 'debug' WHEN 1 THEN 'info'
                          WHEN 2 THEN 'warn' ELSE 'error' END AS level,
         CAST((i * i) % 1000 AS DOUBLE) / 10.0 AS latency_ms
  FROM (SELECT unnest(generate_series(0, 19999)) AS i)
)
SELECT service, level,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(latency_ms AS DECIMAL(18,1))) AS DOUBLE) AS sum_latency
FROM g GROUP BY service, level
"""


@query("source_python_datasource", oracle=_PYDS_ORACLE)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector through the Python DataSource API
    (sources/pyds.py): a partitioned synthetic-log source registered as
    format("synthlog") — the Spark-4 extension point for readers Spark
    lacks (REST services, bespoke formats, feature stores). partitions()
    splits the scan into independent row ranges, so ingestion parallelism
    is a source property, not a post-read repartition. Every generated
    value is modular arithmetic on the row id, so the DuckDB oracle
    re-derives the whole dataset with generate_series and the hash gate
    proves end-to-end connector fidelity."""
    from gridmr_spark.sources import pyds

    pyds.register(spark)
    df = (
        spark.read.format("synthlog")
        .option("rows", 20000)
        .option("partitions", 16)
        .load()
    )
    return df.groupBy("service", "level").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("latency_ms").cast("decimal(18,1)")).cast("double").alias("sum_latency"),
    )


_PYDS_STREAM_ORACLE = """
WITH g AS (
  SELECT i AS row_id, i % 97 AS service,
         CASE (i * 7) % 4 WHEN 0 THEN 'debug' WHEN 1 THEN 'info'
                          WHEN 2 THEN 'warn' ELSE 'error' END AS level,
         CAST((i * i) % 1000 AS DOUBLE) / 10.0 AS latency_ms
  FROM (SELECT unnest(generate_series(0, 11999)) AS i)
)
SELECT service, level,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(latency_ms AS DECIMAL(18,1))) AS DOUBLE) AS sum_latency
FROM g GROUP BY service, level
"""


@query("source_stream_datasource", oracle=_PYDS_STREAM_ORACLE)
def source_stream_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING side of the Python DataSource connector
    (sources/pyds.py:SynthLogStreamReader): readStream over the custom
    source — engine-checkpointed row-id offsets, per-micro-batch
    partitions() splits — into a windowless streaming aggregation and a
    memory sink, drained with availableNow. The DuckDB oracle re-derives
    the full dataset, so the hash match proves offset planning loses and
    duplicates nothing. Restart/exactly-once and the DataSource WRITER
    (manifest-committed JSON-lines sink) are exercised in
    tests/test_pyds_stream.py."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from gridmr_spark.sources import pyds

    pyds.register(spark)
    agg = (
        spark.readStream.format("synthlog")
        .option("rows", 12000)
        .option("partitions", 8)
        .load()
        .groupBy("service", "level")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("latency_ms").cast("decimal(18,1)")).cast("double").alias("sum_latency"),
        )
    )
    name = f"synthlog_stream_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


_DPP_ORACLE = """
WITH dim AS (
  SELECT DISTINCT o_orderpriority AS priority FROM orders
), hot AS (
  SELECT priority FROM dim WHERE priority IN ('1-URGENT', '2-HIGH')
)
SELECT h.priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders o JOIN hot h ON o.o_orderpriority = h.priority
GROUP BY h.priority
"""


@query("source_dynamic_partition_pruning", oracle=_DPP_ORACLE)
def source_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the join-driven sibling of
    source_partition_pruning's static case: the fact is partitioned on the
    join key, the filter lives on the DIMENSION side only, and Catalyst
    injects a runtime `dynamicpruning` subquery into the fact scan's
    PartitionFilters (reusing the broadcast), so only the dimension-selected
    partitions are ever read. At 100 TB this is what keeps
    "join facts to this month's dim slice" from scanning every partition —
    no literal predicate on the fact exists to push statically. Plan
    property asserted in tests/test_plans.py."""
    path = scratch_dir("dpp")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderpriority",
    )
    sources.write(orders, path, partition_by=["o_orderpriority"])
    fact = sources.read_parquet(spark, path)
    dim = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("priority")).distinct()
        .where(F.col("priority").isin("1-URGENT", "2-HIGH"))
    )
    return (
        fact.join(F.broadcast(dim), fact["o_orderpriority"] == dim["priority"])
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        )
    )


_XML_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment,
       CAST(c_acctbal AS DOUBLE) AS c_acctbal
FROM customer
WHERE c_custkey < 500
"""


_WARC_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS content_length,
       md5(text) AS payload_md5
FROM documents
"""


@query("source_warc_ingest", oracle=_WARC_ORACLE)
def source_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC round-trip through the custom ``format("warc")`` DataSource
    (sources/warc.py) — the de-facto LLM-pipeline ingest format (Common
    Crawl ships WARC). The documents table is written as standard WARC/1.0
    response records (one .warc file per task), then read back through the
    RECORD-BOUNDARY-SAFE byte-range reader with a chunk_mb below the file
    size so records still straddle split boundaries (the reference's
    line-safe ~N MB input splits, cpp/worker/src/common/fs.cc:28-53,
    generalized to structured records). The oracle re-derives every
    record's identity, octet length, and payload md5 from the original
    parquet, so a green row proves exactly-once, byte-exact ingestion
    across splits.

    Round-10 re-pricing (the r9 'JVM record splitter' flag, resolved by
    MEASUREMENT): profiling showed the cost was never the per-record
    Python parse — it was the 10 KB stress chunks this query used to
    force straddling, i.e. ~500 Python-DataSource TASKS for a 5 MB input
    (0.53 s vs 4.31 s for the same full parse at production-shaped
    chunks — task fan-out, not parse). Boundary straddling is a
    correctness property, proven at pathological chunk sizes in
    tests/test_warc.py; the registered query now prices the operator at
    a chunk that still splits every SF's file (several straddles) without
    the task storm. A JVM-side splitter would shave task STARTUP, not
    record parse — documented in COVERAGE.md with the numbers."""
    from gridmr_spark.sources import warc as W

    W.register(spark)
    path = scratch_dir("warc")
    docs = load_table(spark, sf_dir, "documents")
    docs.select(
        F.concat(F.lit("http://synth.example/doc/"), F.col("doc_id")).alias("target_uri"),
        F.encode("text", "utf-8").alias("payload"),
    ).write.format("warc").mode("overwrite").save(path)
    back = (
        spark.read.format("warc")
        .option("chunk_mb", 0.25)  # < file size at every SF: real straddling
        .option("path", path)
        .load()
    )
    return back.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        "content_length",
        F.md5("payload").alias("payload_md5"),
    )


@query("source_xml_roundtrip", oracle=_XML_ORACLE)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source fidelity through Spark 4's NATIVE xml format (the
    former spark-xml package, now built in): one row element per record
    under a root tag, explicit read schema (XML inference scans
    everything, same rule as JSON). The double column round-trips
    bit-identically, which the value hash proves — completing the format
    family parquet/csv/json/orc/text(+http)/xml plus the custom Python
    DataSource."""
    path = scratch_dir("xml")
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 500).select(
        "c_custkey", "c_name", "c_mktsegment", F.col("c_acctbal").cast("double").alias("c_acctbal")
    )
    cust.write.format("xml").option("rootTag", "customers").option("rowTag", "customer").mode(
        "overwrite"
    ).save(path)
    return (
        spark.read.format("xml")
        .option("rowTag", "customer")
        .schema("c_custkey long, c_name string, c_mktsegment string, c_acctbal double")
        .load(path)
    )


_ZONEMAP_ORACLE = """
SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
FROM orders
WHERE o_totalprice >= 400000.0 AND o_totalprice <= 450000.0
"""


@query("layout_zonemap_skip", oracle=_ZONEMAP_ORACLE)
def layout_zonemap_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level data skipping via an explicit zone map (the Delta/Iceberg
    file-statistics pattern): orders is written range-clustered on
    o_totalprice with a per-file min/max sidecar table; a range predicate
    then selects overlapping files from the TINY stats parquet and opens
    only those — parquet row-group stats prune within a file, the zone map
    prunes whole files before the scan is even planned. Because the write
    is range-partitioned the zones are disjoint: this predicate touches
    ~1-2 of 16 files (asserted by tests/test_layout.py), independent of
    table size. The oracle is the plain filter over the original table, so
    a green row proves the clustered-write -> prune -> exact-filter loop
    is lossless."""
    from gridmr_spark.operators.layout import zonemap_pruned_read, zonemap_write

    path = scratch_dir("zonemap")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )
    zonemap_write(orders, path, "o_totalprice", n_files=16)
    df, _n_hit, _n_total = zonemap_pruned_read(spark, path, "o_totalprice", 400000.0, 450000.0)
    return df


# ---------------------------------------------------------------------------
# Manifest table format: time travel + incremental reads
# ---------------------------------------------------------------------------

_SUM_CENTS_SQL = "CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)"

_TT_ORACLE = f"""
SELECT CAST(1 AS BIGINT) AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_SUM_CENTS_SQL} AS sum_cents
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT), {_SUM_CENTS_SQL}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
UNION ALL
SELECT CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT), {_SUM_CENTS_SQL}
FROM orders
"""


def _manifest_orders_table(spark: SparkSession, sf_dir: str):
    """Build a fresh 3-version manifest table over
    orders: v1 = keys % 3 == 0, v2 appends % 3 == 1, v3 appends % 3 == 2."""
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("mtable")
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for m in (0, 1, 2):
        t.commit(orders.where(F.col("o_orderkey") % 3 == m))
    return t


def _cents_agg() -> list:
    return [
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    ]


@query("table_time_travel", oracle=_TT_ORACLE)
def table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel on the manifest table format
    (`sources/table_format.py`): build three commits over orders, then read
    each HISTORICAL version and aggregate it — proving every snapshot stays
    exactly readable after later commits (the manifest file list IS the
    table state; data files are immutable). The oracle re-derives each
    snapshot from the base table with the cumulative modulo filters.

    Scale shape: time travel costs one manifest fetch regardless of table
    size — the reads here scan only the files each version's manifest
    lists, which the driver can verify because v1's aggregate is unchanged
    by v2/v3's arrival. Commit is data-first + atomic manifest rename, so
    torn writes leave only orphan files no reader resolves
    (tests/test_table_format.py)."""
    t = _manifest_orders_table(spark, sf_dir)
    parts = [
        t.read(spark, v).agg(*_cents_agg()).select(
            F.lit(v).cast("long").alias("version"), "n_rows", "sum_cents"
        )
        for v in t.versions()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_SQL_READ_ORACLE = f"""
SELECT 'v1' AS label, CAST(COUNT(*) AS BIGINT) AS n_rows, {_SUM_CENTS_SQL} AS sum_cents
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT 'v2', CAST(COUNT(*) AS BIGINT), {_SUM_CENTS_SQL}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
UNION ALL
SELECT 'current', CAST(COUNT(*) AS BIGINT), {_SUM_CENTS_SQL}
FROM orders
UNION ALL
SELECT 'asof_v2', CAST(COUNT(*) AS BIGINT), {_SUM_CENTS_SQL}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
UNION ALL
SELECT 'appends', CAST(3 AS BIGINT), CAST(0 AS BIGINT)
"""

_SQL_READ_AGG = "CAST(COUNT(*) AS BIGINT) AS n_rows, " + _SUM_CENTS_SQL + " AS sum_cents"


@query("table_sql_read", oracle=_SQL_READ_ORACLE)
def table_sql_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest table's SQL read surface
    (`ManifestTable.register_sql`, sources/table_format.py): the 3-commit
    orders table is registered as temp views and then queried with PURE
    SQL — current snapshot (`mt_orders`), version travel
    (`mt_orders_v1/_v2` = VERSION AS OF), timestamp travel (a view pinned
    via `version_at`, = TIMESTAMP AS OF), and the commit-log metadata view
    (`mt_orders_history`). The oracle re-derives every snapshot from the
    base table with the cumulative modulo filters, so a green row proves
    the SQL spelling resolves the exact same file lists as the Python API.

    Scale shape: each view is a LAZY native parquet plan over the
    manifest's file list — registration reads no data, and the SQL reader
    keeps full pushdown/codegen (the reason this is a view helper, not a
    Python batch DataSource: batch rows through Python workers would
    forfeit the JVM vectorized reader)."""
    t = _manifest_orders_table(spark, sf_dir)
    t.register_sql(spark, "mt_orders")
    # TIMESTAMP AS OF the instant between v2's and v3's commits -> v2
    ts2, ts3 = t._raw(2)["ts"], t._raw(3)["ts"]
    t.sql_view(spark, "mt_orders_asof", at_ts=(ts2 + ts3) / 2.0)
    return spark.sql(f"""
        SELECT 'v1' AS label, {_SQL_READ_AGG} FROM mt_orders_v1
        UNION ALL
        SELECT 'v2', {_SQL_READ_AGG} FROM mt_orders_v2
        UNION ALL
        SELECT 'current', {_SQL_READ_AGG} FROM mt_orders
        UNION ALL
        SELECT 'asof_v2', {_SQL_READ_AGG} FROM mt_orders_asof
        UNION ALL
        SELECT 'appends',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM mt_orders_history
                WHERE operation = 'append') AS n_rows,
               CAST(0 AS BIGINT) AS sum_cents
    """)


_INC_ORACLE = f"""
SELECT CAST(o_orderkey % 3 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_SUM_CENTS_SQL} AS sum_cents
FROM orders WHERE o_orderkey % 3 IN (1, 2)
GROUP BY 1
"""


@query("table_incremental_read", oracle=_INC_ORACLE)
def table_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (changes-only) read between two snapshots of the
    manifest table: diff(v1, v3) resolves exactly the files ADDED by v2 and
    v3 — O(delta) input with zero rescan of v1's data, the storage-side
    contract that `agg_incremental_merge`'s delta-only refresh consumes.
    The oracle recomputes the delta rows from the base table; bucketing by
    o_orderkey % 3 shows the diff contains precisely the two appended
    commits and none of the v1 rows."""
    t = _manifest_orders_table(spark, sf_dir)
    delta = t.diff(spark, 1, 3)
    return (
        delta.groupBy((F.col("o_orderkey") % 3).cast("long").alias("bucket"))
        .agg(*_cents_agg())
    )


_COMPACT_ORACLE = f"""
SELECT CAST(o_orderkey % 3 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_SUM_CENTS_SQL} AS sum_cents
FROM orders
GROUP BY 1
"""


@query("table_compact_expire", oracle=_COMPACT_ORACLE)
def table_compact_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional maintenance on the manifest table: compact the
    3-commit orders table into few files (a new 'compact' snapshot whose
    manifest points at the rewritten files; originals become unreferenced),
    then EXPIRE everything but the latest snapshot — deleting the old
    manifests and the now-orphaned data files — and read the survivor.
    The oracle is the full base table: a green row proves rewrite + expiry
    is byte-lossless for the current snapshot while old files physically
    disappear (file-count/deletion assertions live in
    tests/test_table_format.py).

    At 100 TB this pair is the storage-maintenance loop every streaming
    ingest needs: micro-batch commits make small files, compaction folds
    them into scan-efficient ones WITHOUT blocking readers (snapshot
    isolation), expiry bounds metadata and reclaims space."""
    t = _manifest_orders_table(spark, sf_dir)
    t.compact(spark, target_partitions=2)
    t.expire(keep_last=1)
    snap = t.read(spark)
    return (
        snap.groupBy((F.col("o_orderkey") % 3).cast("long").alias("bucket"))
        .agg(*_cents_agg())
    )


_STREAM_SINK_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY event_type
"""


@query("stream_table_sink", oracle=_STREAM_SINK_ORACLE)
def stream_table_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE Structured Streaming ingestion into the manifest table:
    readStream over the events parquet, foreachBatch commits each
    micro-batch with idempotency_key='batch-<id>' (a replayed batch maps to
    its existing version — exactly-once at the sink), availableNow until
    drained, then the final snapshot is read back and aggregated. The
    oracle aggregates the source directly, so a green row proves the
    stream→commit→snapshot path is row-lossless and duplicate-free.
    Restart-with-growth exactly-once is separately proven in
    tests/test_table_format.py."""
    from gridmr_spark.sources.table_format import ManifestTable

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    base = scratch_dir("streamtbl")
    src, ck, tbl = f"{base}/src", f"{base}/ck", f"{base}/tbl"
    ev.write.mode("overwrite").parquet(src)
    t = ManifestTable(tbl)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        t.commit(batch_df, idempotency_key=f"batch-{batch_id}")

    q = (
        spark.readStream.schema(ev.schema)
        .parquet(src)
        .writeStream.outputMode("append")
        .foreachBatch(commit_batch)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = t.read(spark)
    return snap.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.floor(F.col("value") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    )


_DELETE_ORACLE = f"""
SELECT CAST(1 AS BIGINT) AS stage, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_SUM_CENTS_SQL} AS sum_cents
FROM orders
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT), {_SUM_CENTS_SQL}
FROM orders WHERE o_orderkey % 5 <> 0
"""


@query("table_delete_rows", oracle=_DELETE_ORACLE)
def table_delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE on the manifest table (copy-on-write): build the
    3-commit orders table, delete every fifth order key, and aggregate the
    snapshot BEFORE (stage 1 — read via time travel AFTER the delete
    committed, proving history survives) and AFTER (stage 2). The oracle
    recomputes both populations from the base table. Deleted rows stay
    physically present in the old files until `expire` reclaims them —
    logical deletion now, physical deletion when retention allows, both
    auditable in the manifest log."""
    t = _manifest_orders_table(spark, sf_dir)
    v_before = t.current_version()
    t.delete_where(spark, F.col("o_orderkey") % 5 == 0)
    parts = []
    for stage, v in ((1, v_before), (2, t.current_version())):
        parts.append(
            t.read(spark, v).agg(*_cents_agg()).select(
                F.lit(stage).cast("long").alias("stage"), "n_rows", "sum_cents"
            )
        )
    return parts[0].unionByName(parts[1])


@query("stream_table_changelog", oracle=_COMPACT_ORACLE)
def stream_table_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest table as a LIVE STREAMING SOURCE (the read-side twin of
    stream_table_sink): a Python DataSource whose checkpointed offset is
    the table VERSION and whose micro-batches are exactly the files each
    append added — the Delta-style table-changelog contract on this
    format. The 3-commit orders table streams availableNow into a parquet
    sink; the sink aggregate must equal the base table (oracle), proving
    the version-offset batching is row-lossless with no duplication.
    Rewrite snapshots (compact/overwrite) refuse to stream by default —
    their files are not appends (tests cover both the refusal and
    on_rewrite=skip). Restart-with-growth exactly-once is in
    tests/test_table_format.py."""
    from gridmr_spark.sources.table_format import register_changelog_source

    t = _manifest_orders_table(spark, sf_dir)
    register_changelog_source(spark)
    run = scratch_dir("chglog")
    ck, sink = f"{run}/ck", f"{run}/out"
    q = (
        spark.readStream.format("mtable_changelog")
        .option("path", t.root)
        .load()
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: df.write.mode("append").parquet(sink))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(sink)
        .groupBy((F.col("o_orderkey") % 3).cast("long").alias("bucket"))
        .agg(*_cents_agg())
    )


_DPO_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
GROUP BY o_orderpriority
"""


@query("source_dynamic_partition_overwrite", oracle=_DPO_ORACLE)
def source_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the standard BACKFILL write mode:
    mode('overwrite') with partitionOverwriteMode=dynamic replaces ONLY the
    hive partitions present in the incoming frame and leaves every other
    partition untouched (static mode would truncate the whole table).
    Staged here: write three priority partitions with a poisoned marker
    (odd keys only) for two of them, then backfill exactly those two with
    the correct full data — the oracle over the base table can only match
    if the backfill replaced the poisoned partitions completely AND left
    the third partition alone.

    At 100 TB this is how daily re-runs land: recompute one day/priority,
    overwrite that partition atomically-per-partition, never rewrite the
    table. The conf is set per-write via the DataFrameWriter option (no
    session-state leak — the round-7 remote.py lesson)."""
    path = scratch_dir("dpo")
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM"]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).where(F.col("o_orderpriority").isin(pris))
    # seed: MEDIUM complete; URGENT/HIGH poisoned (odd keys only)
    seed = orders.where(
        (F.col("o_orderpriority") == pris[2]) | (F.col("o_orderkey") % 2 == 1)
    )
    seed.write.partitionBy("o_orderpriority").mode("overwrite").parquet(path)
    # backfill: the two poisoned partitions, full data, DYNAMIC overwrite
    backfill = orders.where(F.col("o_orderpriority").isin(pris[:2]))
    (
        backfill.write.partitionBy("o_orderpriority")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )
    got = spark.read.parquet(path)
    return got.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("o_orderkey") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_even"),
    )


_UPSERT_VIEW_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY event_type
"""


@query("stream_table_upsert_view", oracle=_UPSERT_VIEW_ORACLE)
def stream_table_upsert_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MATERIALIZED VIEW maintained in the manifest table: each
    micro-batch folds its per-key partial aggregate into the table's
    current totals and REPLACES the table content in one idempotent
    overwrite snapshot (merge = full-outer on key + coalesced integer
    sums — the `agg_incremental_merge` algebra with the table format as
    the state store). A replayed batch maps to its existing version via
    the idempotency key, so the view is exactly-once under retries. The
    final table must equal the direct batch aggregate of the source
    (oracle) — proving the incremental fold, not just the plumbing.

    At 100 TB this is the standing-dashboard pattern: the view's size is
    key-cardinality bounded regardless of stream volume, each refresh
    costs O(batch + |view|), and every historical refresh is a readable
    snapshot (auditable lineage of a live aggregate)."""
    from gridmr_spark.sources.table_format import ManifestTable

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    base = scratch_dir("upsertview")
    src, ck, tbl = f"{base}/src", f"{base}/ck", f"{base}/tbl"
    # several source files => availableNow may deliver multiple batches
    ev.repartition(4).write.mode("overwrite").parquet(src)
    t = ManifestTable(tbl)

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.floor(F.col("value") * F.lit(100.0)).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
        if t.current_version() is not None:
            cur = t.read(batch_df.sparkSession)
            merged = (
                cur.join(delta.withColumnsRenamed(
                    {"n_events": "d_n", "sum_cents": "d_s"}), "event_type", "full_outer")
                .select(
                    "event_type",
                    (F.coalesce("n_events", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
                    .cast("long")
                    .alias("n_events"),
                    (F.coalesce("sum_cents", F.lit(0)) + F.coalesce("d_s", F.lit(0)))
                    .cast("long")
                    .alias("sum_cents"),
                )
            )
        else:
            merged = delta
        t.replace(merged.localCheckpoint(eager=True), idempotency_key=f"batch-{batch_id}")

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.outputMode("append")
        .foreachBatch(refresh)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return t.read(spark)


_MERGE_TBL_ORACLE = """
WITH merged AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000.0 ELSE o_totalprice END
           AS o_totalprice
  FROM orders
  UNION ALL
  SELECT -o_orderkey, 1.0 FROM orders WHERE o_orderkey % 1000 = 0
)
SELECT CAST(o_orderkey % 7 = 0 AS BOOLEAN) AS is_updated_key,
       CAST(o_orderkey < 0 AS BOOLEAN) AS is_inserted,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM merged GROUP BY 1, 2
"""


@query("table_merge_upsert", oracle=_MERGE_TBL_ORACLE)
def table_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional MERGE INTO the manifest table: updates (+1000.00 on
    every seventh order key) and inserts (NEGATED keys — disjoint from the
    base table's positive key space at ANY scale factor, unlike a fixed
    "+10M" offset that collides once max(o_orderkey) reaches it) land as
    ONE atomic overwrite snapshot via merge_by_key — update-wins, insert-
    unmatched, untouched rows carried over, history time-travelable. The
    oracle recomputes the merged population from the base table; grouping
    by (updated-key?, inserted?) proves each merge class independently
    (wrong carry-over, missed update, and dropped insert each break a
    different row)."""
    t = _manifest_orders_table(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    updates = orders.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice")
    )
    inserts = orders.where(F.col("o_orderkey") % 1000 == 0).select(
        (-F.col("o_orderkey")).alias("o_orderkey"),
        F.lit(1.0).alias("o_totalprice"),
    )
    t.merge_by_key(spark, updates.unionByName(inserts), "o_orderkey")
    snap = t.read(spark)
    return snap.groupBy(
        (F.col("o_orderkey") % 7 == 0).alias("is_updated_key"),
        (F.col("o_orderkey") < 0).alias("is_inserted"),
    ).agg(*_cents_agg())


_STATS_PRUNED_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_SUM_CENTS_SQL} AS sum_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders WHERE o_orderkey BETWEEN 100 AND 5000
"""


@query("table_stats_pruned_read", oracle=_STATS_PRUNED_ORACLE)
def table_stats_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level zone-map pruning: every commit records each data
    file's per-column [min, max] (parquet footer stats, harvested at WRITE
    time into the manifest), and ``read_pruned`` scans only the files
    whose range intersects the predicate — the Iceberg/Delta
    file-skipping core, on this format. The table is built as four
    key-range commits, each range-repartitioned so files carry tight
    o_orderkey spans; the [100, 5000] probe then touches a fraction of
    the files (tests/test_table_format.py asserts the actual skip count)
    while the oracle recomputes from the raw table — a green hash proves
    pruning is INVISIBLE to results, the whole point of stats-based
    skipping. At 100 TB this plus the residual predicate is what turns
    "scan the table" into "scan the overlapping files", with the decision
    made from one manifest JSON — zero footer I/O, zero file listing."""
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("mtable_stats")
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0]  # bounded scalar
    step = -(-mx // 4)
    for i in range(4):
        batch = orders.where(F.col("o_orderkey") >= i * step)
        if i < 3:  # last batch is unbounded so keys == 4*step are kept
            batch = batch.where(F.col("o_orderkey") < (i + 1) * step)
        t.commit(batch.repartitionByRange(2, "o_orderkey"))
    pruned = t.read_pruned(spark, "o_orderkey", lo=100, hi=5000)
    return pruned.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("sum_cents"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )


_ZORDER_PRUNED_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_SUM_CENTS_SQL} AS sum_cents,
       CAST(MIN(o_custkey) AS BIGINT) AS min_cust,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders
WHERE o_custkey BETWEEN 100 AND 160 AND o_orderkey BETWEEN 1000 AND 20000
"""


@query("table_zorder_pruned", oracle=_ZORDER_PRUNED_ORACLE)
def table_zorder_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER on the manifest table, then a TWO-dimensional
    stats-pruned read: orders land in key order (per-file o_custkey spans
    wide open), compact(zorder_by=(o_custkey, o_orderkey)) rewrites the
    snapshot clustered on the Morton interleave in ONE transactional
    snapshot, and read_pruned(preds={both columns}) skips every file
    whose manifest stats miss EITHER range — the Delta OPTIMIZE ZORDER +
    data-skipping composition on this format. The oracle recomputes the
    2-D range aggregate from the raw table, proving the rewrite is
    lossless and the pruning invisible; tests assert the actual file-skip
    counts and that z-ordered pruning beats the key-ordered layout on the
    second dimension. At 100 TB this is how "this customer, this key
    range" probes touch a handful of files instead of a full partition
    scan — and the maintenance op that builds it is itself a snapshot,
    time-travelable and concurrency-safe like every other commit."""
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("mtable_zorder")
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # ingest clustered on the PRIMARY key only: o_custkey spans stay wide
    t.commit(orders.repartitionByRange(8, "o_orderkey"))
    t.compact(spark, target_partitions=8, zorder_by=("o_custkey", "o_orderkey"))
    pruned = t.read_pruned(
        spark, preds={"o_custkey": (100, 160), "o_orderkey": (1000, 20000)}
    )
    return pruned.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
        .cast("long")
        .alias("sum_cents"),
        F.min("o_custkey").cast("long").alias("min_cust"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )


# Ingest hygiene: corrupt-record QUARANTINE. Real JSONL feeds carry a
# malformed-line tail (truncated writes, encoding junk); the operational
# contract is route-don't-crash — parse what parses, quarantine the rest
# with counts, never silently drop. Both engines build the IDENTICAL line
# text by string concat (no serializer drift), corrupt every 7th line by
# truncation, and classify by their native validity test (Spark PERMISSIVE
# _corrupt column == DuckDB json_valid — both mark the truncated object
# malformed), so the hash row proves the routing split end to end.
_JSONL_QUARANTINE_ORACLE = """
WITH lines AS (
  SELECT doc_id,
         '{"doc_id": ' || doc_id || ', "n_chars": ' || length(text) || '}' AS line
  FROM documents
), fed AS (
  SELECT CASE WHEN doc_id % 7 = 0
              THEN substr(line, 1, length(line) - 2)
              ELSE line END AS line
  FROM lines
), routed AS (
  SELECT CASE WHEN json_valid(line) THEN 'ok' ELSE 'quarantined' END AS status,
         CASE WHEN json_valid(line) THEN CAST(line->>'$.n_chars' AS BIGINT) END AS n_chars,
         CASE WHEN json_valid(line) THEN CAST(line->>'$.doc_id' AS BIGINT) END AS doc_id
  FROM fed
)
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM routed GROUP BY status
"""


def _quarantine_rollup(parsed: DataFrame) -> DataFrame:
    """The routing + accounting tail shared by the whole quarantine family
    (JSONL/CSV/XML): route on the parsed struct's _corrupt flag — never on
    field nullness, since a parser may PARTIALLY fill a corrupt record —
    then the two-row ok/quarantined rollup. One definition so the
    accounting contract cannot drift between formats."""
    routed = parsed.select(
        F.when(F.col("r._corrupt").isNull(), F.lit("ok"))
        .otherwise(F.lit("quarantined"))
        .alias("status"),
        F.when(F.col("r._corrupt").isNull(), F.col("r.n_chars")).alias("n_chars"),
        F.when(F.col("r._corrupt").isNull(), F.col("r.doc_id")).alias("doc_id"),
    )
    return routed.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
    )


_CSV_QUARANTINE_ORACLE = """
WITH lines AS (
  SELECT doc_id,
         CAST(doc_id AS VARCHAR) || ',' || CAST(length(text) AS VARCHAR) AS line
  FROM documents
), fed AS (
  SELECT CASE WHEN doc_id % 7 = 0 THEN line || 'xx' ELSE line END AS line
  FROM lines
), routed AS (
  SELECT CASE WHEN TRY_CAST(split_part(line, ',', 2) AS BIGINT) IS NOT NULL
              THEN 'ok' ELSE 'quarantined' END AS status,
         TRY_CAST(split_part(line, ',', 2) AS BIGINT) AS n_chars,
         CASE WHEN TRY_CAST(split_part(line, ',', 2) AS BIGINT) IS NOT NULL
              THEN TRY_CAST(split_part(line, ',', 1) AS BIGINT) END AS doc_id
  FROM fed
)
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM routed GROUP BY status
"""


@query("source_csv_quarantine", oracle=_CSV_QUARANTINE_ORACLE)
def source_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest hygiene, same route-don't-crash contract as
    `source_jsonl_quarantine`: `from_csv` in PERMISSIVE mode with a
    corrupt-record column classifies each line by the REAL parser (a
    type-mangled numeric field — every 7th line gets a non-numeric tail —
    marks the whole line corrupt), ok lines flow through with extracted
    fields, quarantined lines are counted and never field-trusted. The
    oracle rebuilds the identical line text and classifies with DuckDB's
    own TRY_CAST of the mangled field, so the hash row proves both
    engines' parsers draw the same ok/quarantine boundary."""
    docs = load_table(spark, sf_dir, "documents")
    line = F.concat_ws(",", F.col("doc_id"), F.length("text"))
    fed = docs.select(
        F.when(F.col("doc_id") % 7 == 0, F.concat(line, F.lit("xx")))
        .otherwise(line)
        .alias("line")
    )
    parsed = fed.select(
        F.from_csv(
            "line",
            "doc_id bigint, n_chars bigint, _corrupt string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("r")
    )
    return _quarantine_rollup(parsed)


_XML_QUARANTINE_ORACLE = r"""
WITH lines AS (
  SELECT doc_id,
         '<r><doc_id>' || doc_id || '</doc_id><n_chars>' || length(text)
         || '</n_chars></r>' AS line
  FROM documents
), fed AS (
  SELECT CASE WHEN doc_id % 7 = 0
              THEN substr(line, 1, length(line) - 4)
              ELSE line END AS line
  FROM lines
), routed AS (
  SELECT CASE WHEN line LIKE '%</r>' THEN 'ok' ELSE 'quarantined' END AS status,
         CASE WHEN line LIKE '%</r>'
              THEN TRY_CAST(regexp_extract(line, '<n_chars>(\d+)</n_chars>', 1) AS BIGINT) END AS n_chars,
         CASE WHEN line LIKE '%</r>'
              THEN TRY_CAST(regexp_extract(line, '<doc_id>(\d+)</doc_id>', 1) AS BIGINT) END AS doc_id
  FROM fed
)
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM routed GROUP BY status
"""


@query("source_xml_quarantine", oracle=_XML_QUARANTINE_ORACLE)
def source_xml_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest hygiene completing the quarantine family
    (JSONL/CSV/XML — every PERMISSIVE-capable text source): `from_xml`
    classifies each record by real well-formedness (every 7th record's
    closing root tag is truncated away, leaving an unclosed element),
    routed exactly like the siblings. The oracle classifies by the
    structural invariant the corruption breaks (a well-formed record ends
    with its root close tag) and extracts fields by regex — independent
    logic drawing the same boundary, proven by hash."""
    docs = load_table(spark, sf_dir, "documents")
    line = F.concat(
        F.lit("<r><doc_id>"), F.col("doc_id"),
        F.lit("</doc_id><n_chars>"), F.length("text"),
        F.lit("</n_chars></r>"),
    )
    fed = docs.select(
        F.when(
            F.col("doc_id") % 7 == 0,
            line.substr(F.lit(1), F.length(line) - 4),
        )
        .otherwise(line)
        .alias("line")
    )
    parsed = fed.select(
        F.from_xml(
            "line",
            "doc_id bigint, n_chars bigint, _corrupt string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("r")
    )
    return _quarantine_rollup(parsed)


@query("source_jsonl_quarantine", oracle=_JSONL_QUARANTINE_ORACLE)
def source_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-JSONL routing with Spark's PERMISSIVE corrupt-record
    column: lines that parse flow through with their extracted fields,
    lines that don't land in quarantine WITH accounting — the
    crash-is-not-an-option contract of a production feed (Spark's
    badRecordsPath semantics expressed through
    ``from_json(columnNameOfCorruptRecord)``). The line text is built by
    identical string concat in both engines and every 7th line is
    truncated mid-object; classification parity holds because PERMISSIVE
    marks exactly the lines DuckDB's ``json_valid`` rejects. Fields of
    quarantined lines are never trusted (Jackson may PARTIALLY parse a
    truncated object — the _corrupt flag, not field nullness, is the
    routing key). One narrow map + one 2-row aggregate: at 100 TB this
    is a free rider on the ingest scan."""
    docs = load_table(spark, sf_dir, "documents")
    line = F.concat(
        F.lit('{"doc_id": '), F.col("doc_id"),
        F.lit(', "n_chars": '), F.length("text"),
        F.lit("}"),
    )
    fed = docs.select("doc_id", line.alias("line")).select(
        F.when(
            F.col("doc_id") % 7 == 0,
            F.col("line").substr(F.lit(1), F.length("line") - 2),
        )
        .otherwise(F.col("line"))
        .alias("line")
    )
    schema = "doc_id bigint, n_chars bigint, _corrupt string"
    parsed = fed.select(
        F.from_json(
            "line",
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("r")
    )
    return _quarantine_rollup(parsed)


# ---------------------------------------------------------------------------
# Branches, tags, write-audit-publish on the manifest table
# ---------------------------------------------------------------------------

_WAP_ORACLE = f"""
SELECT 'main_before_publish' AS label, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_SUM_CENTS_SQL} AS sum_cents
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT 'branch_staged', CAST(COUNT(*) AS BIGINT), {_SUM_CENTS_SQL}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
UNION ALL
SELECT 'tag_release1', CAST(COUNT(*) AS BIGINT), {_SUM_CENTS_SQL}
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT 'main_after_publish', CAST(COUNT(*) AS BIGINT), {_SUM_CENTS_SQL}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
UNION ALL
SELECT 'publish_delta', CAST(COUNT(*) AS BIGINT), {_SUM_CENTS_SQL}
FROM orders WHERE o_orderkey % 3 = 1
"""


@query("table_wap_publish", oracle=_WAP_ORACLE)
def table_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish on the manifest table
    (`ManifestTable.create_branch/publish_branch/create_tag`,
    sources/table_format.py — Iceberg's WAP pattern, absent from the
    reference's bare shared-FS data plane): v1 of an orders table is
    tagged `release-1`, a day's delta is committed to an `audit` BRANCH
    (with a CHECK constraint as the audit gate), and only after the
    audited read does `publish_branch` fast-forward main — one atomic,
    metadata-only snapshot.

    The five output rows prove each leg against the base-table oracle:
    staged rows are INVISIBLE to main (`main_before_publish` still = v1),
    visible on the branch handle (`branch_staged`), the tag keeps pinning
    v1 after publish (`tag_release1`), main sees the audited union after
    publish (`main_after_publish`), and — because the branch history was
    appends-only — the publish lands as a CROSSABLE append whose
    `diff(v1, v2)` is exactly the staged delta (`publish_delta`),
    so incremental consumers never rescan.

    Scale shape: branch create, tag create, and publish are all O(#groups)
    manifest writes — zero data movement at any table size; the branch
    shares the main table's immutable data/group planes, and main-table
    GC (expire/vacuum) treats branch and tag references as live
    (tests/test_table_refs.py)."""
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("wap")
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t.commit(orders.where(F.col("o_orderkey") % 3 == 0))
    t.create_tag("release-1")

    b = t.create_branch("audit")
    b.commit(
        orders.where(F.col("o_orderkey") % 3 == 1),
        check="o_totalprice >= 0",  # the audit gate, enforced on the branch
    )

    def leg(label: str, df: DataFrame) -> DataFrame:
        return df.agg(*_cents_agg()).select(
            F.lit(label).alias("label"), "n_rows", "sum_cents"
        )

    parts = [
        leg("main_before_publish", t.read(spark)),
        leg("branch_staged", b.read(spark)),
    ]
    v_pub = t.publish_branch("audit")
    parts += [
        leg("tag_release1", t.read_tag(spark, "release-1")),
        leg("main_after_publish", t.read(spark, v_pub)),
        leg("publish_delta", t.diff(spark, 1, v_pub)),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Row-level change feed across table rewrites, feeding incremental state
# ---------------------------------------------------------------------------

# The post-rewrite logical table is the SAME algebra incremental_agg_view_cdc
# proves (base %3 in (0,2), minus the %10=0 deletes, +100.00 on the %10=7
# updates, plus the %3=1 inserts) — reached here through REAL table rewrites
# + the row-diff feed instead of a constructed CDC batch. The oracle is
# imported, not copied: the two driver rows deliberately pin the same
# contract and must never drift apart.
from gridmr_spark.queries.relational import _INC_CDC_ORACLE as _CHANGEFEED_AGG_ORACLE


@query("table_changefeed_agg", oracle=_CHANGEFEED_AGG_ORACLE)
def table_changefeed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CHANGE FEED across table rewrites
    (`ManifestTable.changefeed`, sources/table_format.py — Delta's CDF for
    the ranges `diff` refuses), composed end to end with retraction-
    capable view maintenance: v1 commits the base orders, v2 DELETES rows
    (delete_where %10=0), v3 MERGES updates (+100.00 on %10=7) and inserts
    (the %3=1 rows) in one upsert — then `changefeed(1, 3)` emits the
    multiset row diff as I/D rows, which is exactly the encoding
    `cdc_partial_aggs` consumes, and the stored v1 partial state merged
    with the feed's signed partials hash-matches a from-scratch recompute
    of v3 (the oracle). One green row therefore proves the feed is
    row-exact through delete+merge rewrites AND that the maintenance
    algebra composes with it.

    Scale shape: the feed's exceptAll passes read only the range's
    FILE-LEVEL delta (immutable files shared by both snapshots cancel out
    of the multiset diff), and the rewrites themselves are partial COW —
    so the compare is bounded by the rewrites' footprint, not the table
    size; appends-only ranges keep `diff`'s O(delta) fast path. The
    downstream maintenance stays O(|feed| + |groups|)."""
    from gridmr_spark.operators.incremental import (
        cdc_partial_aggs,
        finalize_aggs,
        merge_partial_aggs,
        partial_aggs,
    )
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("cfeed")
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = orders.where((F.col("o_orderkey") % 3).isin(0, 2))
    t.commit(base)                                            # v1
    t.delete_where(spark, F.col("o_orderkey") % 10 == 0)      # v2
    upserts = base.where(F.col("o_orderkey") % 10 == 7).select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
    ).unionByName(orders.where(F.col("o_orderkey") % 3 == 1))
    v3 = t.merge_by_key(spark, upserts, "o_orderkey")         # v3

    keys = ["o_orderpriority"]
    sums = {"total": "o_totalprice"}
    stored = partial_aggs(t.read(spark, 1), keys, sums)
    feed = t.changefeed(spark, 1, v3)
    merged = merge_partial_aggs(
        [stored, cdc_partial_aggs(feed, keys, sums, op_col="_op")], keys
    )
    return finalize_aggs(merged, keys, drop_empty=True)


# ---------------------------------------------------------------------------
# Changefeed over a mixed append+rewrite history, bounded by the rewrite's
# file footprint
# ---------------------------------------------------------------------------

_CHANGEFEED_REWRITE_ORACLE = f"""
SELECT 'I' AS _op, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows, {_SUM_CENTS_SQL} AS sum_cents
FROM orders
WHERE o_orderkey % 3 = 1
  AND NOT (o_orderkey % 6 = 1 AND o_orderkey % 1000 = 7)
GROUP BY o_orderpriority
UNION ALL
SELECT 'D' AS _op, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows, {_SUM_CENTS_SQL} AS sum_cents
FROM orders
WHERE o_orderkey % 3 IN (0, 2) AND o_orderkey % 1000 = 7
GROUP BY o_orderpriority
"""


@query("table_changefeed_rewrite", oracle=_CHANGEFEED_REWRITE_ORACLE)
def table_changefeed_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed across a MIXED append+rewrite history with FILE-LEVEL
    LINEAGE (`ManifestTable.changefeed`, sources/table_format.py): v1
    commits the base orders (%3 in (0,2)), v2 appends half the %3=1 rows
    (%6=1), v3 partially DELETES a narrow key band (%1000=7 — the
    partial-COW verb rewrites only the files that actually hold a match,
    carrying every other file forward by manifest reference), v4 appends
    the other half (%6=4). `changefeed(1, 4)` emits the exact I/D multiset
    diff; the aggregate per (_op, priority) hash-matches a from-scratch
    SQL re-derivation of both sides.

    Scale shape: immutable files present in BOTH snapshots cancel out of
    the multiset diff algebraically, so the feed scans only the range's
    file-set delta — the appends' files plus the delete's true footprint —
    never the two full snapshots. On a 100-TB table a 0.1% delete feeds
    a compare over ~0.1% of files plus the appended deltas."""
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("cfrw")
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    t.commit(orders.where((F.col("o_orderkey") % 3).isin(0, 2)))   # v1
    t.commit(orders.where(F.col("o_orderkey") % 6 == 1))           # v2 append
    t.delete_where(spark, F.col("o_orderkey") % 1000 == 7)         # v3 partial COW
    v4 = t.commit(orders.where(F.col("o_orderkey") % 6 == 4))      # v4 append
    feed = t.changefeed(spark, 1, v4)
    return (
        feed.groupBy("_op", "o_orderpriority")
        .agg(*_cents_agg())
        .select("_op", "o_orderpriority", "n_rows", "sum_cents")
    )


# ---------------------------------------------------------------------------
# Bloom-indexed point lookup on the manifest table
# ---------------------------------------------------------------------------

_BLOOM_PRUNED_ORACLE = f"""
WITH k AS (SELECT MAX(o_orderkey) AS pk FROM orders)
SELECT CAST(k.pk AS BIGINT) AS probe_key,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_SUM_CENTS_SQL} AS sum_cents,
       CAST(1 AS INT) AS bloom_pruned
FROM orders, k WHERE o_orderkey = k.pk GROUP BY k.pk
"""


@query("table_bloom_pruned_read", oracle=_BLOOM_PRUNED_ORACLE)
def table_bloom_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file BLOOM index on the manifest table
    (`ManifestTable.commit(bloom_cols=...)` / `pruned_files(point=...)`,
    sources/table_format.py): orders land in 16 round-robin files, so
    every file spans the FULL o_orderkey range and min/max zone maps
    prune nothing — the exact case Parquet/Iceberg bloom filters exist
    for. The commit stores a ~16-bits-per-key bloom per file; the point
    probe skips every file whose bloom excludes the key (FP ~1% at k=7,
    deterministic given the data), and the residual equality keeps the
    result exact. The `bloom_pruned` flag asserts files were actually
    skipped INSIDE the hashed result, so the driver row fails if bloom
    pruning ever silently degrades to scan-everything.

    Scale shape: a point lookup on a 100 TB unclustered key costs
    O(matching files ~= 1 + FP) data reads instead of a full scan;
    commit-time cost is one column read of the DELTA per indexed column,
    and the index rides the (immutable, shared) group manifests like the
    min/max stats do. Key-clustered tables still prune GROUPS first via
    the equality-tightened range (point implies lo = hi = value)."""
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("bloomtbl")
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t.commit(orders.repartition(16), bloom_cols=["o_orderkey"])

    key = int(orders.agg(F.max("o_orderkey")).collect()[0][0])
    n_total = len(t.pruned_files(point=None, preds={}))
    n_kept = len(t.pruned_files(point={"o_orderkey": key}))
    return (
        t.read_pruned(spark, point={"o_orderkey": key})
        .agg(*_cents_agg())
        .select(
            F.lit(key).cast("long").alias("probe_key"),
            "n_rows",
            "sum_cents",
            F.lit(1 if n_kept < n_total else 0).cast("int").alias("bloom_pruned"),
        )
    )


# ---------------------------------------------------------------------------
# Metadata-only aggregates on the manifest table
# ---------------------------------------------------------------------------

_META_AGG_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders
"""


@query("table_metadata_agg", oracle=_META_AGG_ORACLE)
def table_metadata_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*)/MIN/MAX answered from manifest METADATA alone
    (`ManifestTable.metadata_agg`, sources/table_format.py): the 3-commit
    orders table's group entries carry per-group row totals and column
    summary envelopes, so the five aggregates come from O(#groups) JSON —
    no group manifest, no parquet footer, no data read
    (tests/test_table_format.py asserts `group_opens` stays zero). The
    oracle recomputes the same aggregates by scanning the base table, so
    the hash match proves the metadata numbers are EXACT, not estimates —
    files are immutable and every write path (append, compact, merge,
    delete, rewrite) re-derives its files' stats and row counts at commit.

    Scale shape: `SELECT COUNT(*) FROM t` on a 100 TB table costs a
    catalog read — the Iceberg/Delta answer to the most common warehouse
    query there is; conservatism is structural (a group predating row
    counts nulls the total rather than under-counting)."""
    t = _manifest_orders_table(spark, sf_dir)
    agg = t.metadata_agg()
    cols = agg["columns"]
    row = (
        int(agg["n_rows"]),
        int(cols["o_orderkey"][0]),
        int(cols["o_orderkey"][1]),
        float(cols["o_totalprice"][0]),
        float(cols["o_totalprice"][1]),
    )
    return local_df(
        spark,
        [row],
        "n_rows long, min_key long, max_key long, min_price double, max_price double",
    )


# ---------------------------------------------------------------------------
# Merge-on-read deletion vectors
# ---------------------------------------------------------------------------

_DV_ORACLE = f"""
WITH live AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 1000 <> 7
), appended AS (
  SELECT o_orderkey + 10000000 AS o_orderkey, o_totalprice FROM orders
), allrows AS (
  SELECT * FROM live UNION ALL SELECT * FROM appended
)
SELECT 'after_dv' AS label, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_SUM_CENTS_SQL} AS sum_cents,
       CAST(1 AS INT) AS zero_rewrite, CAST(1 AS INT) AS meta_exact
FROM live
UNION ALL
SELECT 'after_append', CAST(COUNT(*) AS BIGINT), {_SUM_CENTS_SQL},
       CAST(1 AS INT), CAST(1 AS INT)
FROM allrows
UNION ALL
SELECT 'materialized', CAST(COUNT(*) AS BIGINT), {_SUM_CENTS_SQL},
       CAST(1 AS INT), CAST(1 AS INT)
FROM allrows
"""


@query("table_delete_vectors", oracle=_DV_ORACLE)
def table_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ deletion vectors
    (`ManifestTable.delete_where(mode='dv')`, sources/table_format.py —
    Iceberg v2 / Delta DV semantics): the GDPR-shaped case copy-on-write
    handles worst — a low-selectivity delete (%1000=7) on a key that is
    round-robin-spread across EVERY file, where COW (even partial) would
    rewrite the whole table. The DV delete records O(matched rows)
    (file, position) pairs and touches no data file: the `zero_rewrite`
    flag inside the hashed result asserts the post-delete file set is
    IDENTICAL to the pre-delete one. Reads subtract the DV set with one
    broadcast anti-join on scan provenance; a subsequent append carries
    the DV (deleted rows stay deleted); `compact()` materializes it
    away, after which the read is plain scans again — three legs prove
    delete / carry / materialize against a from-scratch SQL
    re-derivation. `meta_exact` pins that metadata-only COUNT stays
    exact mid-DV (the manifest carries the live deleted-row count).

    Scale shape: delete cost is one predicate-pushed scan + O(matched)
    DV bytes; read overhead is one broadcast anti-join until the next
    rewrite/compaction naturally materializes; rewrite verbs compact the
    DV set to surviving files so counts stay exact."""
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("dvtbl")
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t.commit(orders)                                                   # v1
    files_before = list(t._manifest(1)["files"])
    v2 = t.delete_where(spark, F.col("o_orderkey") % 1000 == 7, mode="dv")
    zero_rewrite = int(t._manifest(v2)["files"] == files_before)
    meta_exact = int(t.metadata_agg(v2)["n_rows"] == t.read(spark, v2).count())
    v3 = t.commit(
        orders.select(
            (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
            "o_totalprice",
        )
    )
    v4 = t.compact(spark, target_partitions=8)

    def leg(label: str, version: int) -> DataFrame:
        return t.read(spark, version).agg(*_cents_agg()).select(
            F.lit(label).alias("label"),
            "n_rows",
            "sum_cents",
            F.lit(zero_rewrite).cast("int").alias("zero_rewrite"),
            F.lit(meta_exact).cast("int").alias("meta_exact"),
        )

    return (
        leg("after_dv", v2)
        .unionByName(leg("after_append", v3))
        .unionByName(leg("materialized", v4))
    )


# ---------------------------------------------------------------------------
# CDC changelog stream across table rewrites
# ---------------------------------------------------------------------------

_STREAM_CDC_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR((o_totalprice +
            CASE WHEN o_orderkey % 1000 = 500 THEN 100.0 ELSE 0.0 END)
            * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders
WHERE o_orderkey % 1000 <> 7
GROUP BY o_orderpriority
"""


@query("stream_table_cdc_feed", oracle=_STREAM_CDC_ORACLE)
def stream_table_cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog STREAM across table rewrites
    (`format('mtable_changelog').option('on_rewrite', 'cdc')`,
    sources/table_format.py): the version-offset micro-batch source
    streams appends as 'I' rows and every rewrite version as its
    FILE-SET delta — added files 'I', removed files 'D', which under the
    partial-COW verbs is the rewrite's true footprint, not the snapshot.
    The feed is net-exact (a row rewritten unchanged is a cancelling D+I
    pair), so folding the whole stream with signed weights reproduces
    the final snapshot's aggregate exactly through append + partial
    delete + stats-planned merge — proven by the oracle's from-scratch
    re-derivation. This closes the loop the batch `changefeed` opened:
    incremental view maintenance is now fully streaming across arbitrary
    rewrites, checkpointed by table version.

    Scale shape: per-version stream volume is O(that version's file
    delta); a 0.1% delete streams ~0.1% of files as D plus its rewrite
    as I. Minimal-feed consumers use batch `changefeed()`."""
    from gridmr_spark.sources.table_format import (
        ManifestTable,
        register_changelog_source,
    )

    base = scratch_dir("cdcstream")
    t = ManifestTable(f"{base}/tbl")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    t.commit(orders.where((F.col("o_orderkey") % 3).isin(0, 2)))      # v1
    t.commit(orders.where(F.col("o_orderkey") % 3 == 1))              # v2
    t.delete_where(spark, F.col("o_orderkey") % 1000 == 7)            # v3 partial
    ups = orders.where(F.col("o_orderkey") % 1000 == 500).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(100.0)
    )
    t.merge_by_key(spark, ups, "o_orderkey")                          # v4 planned

    register_changelog_source(spark)
    sink = f"{base}/feed"
    q = (
        spark.readStream.format("mtable_changelog")
        .option("path", t.root)
        .option("on_rewrite", "cdc")
        .load()
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: df.write.mode("append").parquet(sink))
        .option("checkpointLocation", f"{base}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    feed = spark.read.parquet(sink)
    w = F.when(F.col("_op") == "I", F.lit(1)).otherwise(F.lit(-1))
    return (
        feed.groupBy("o_orderpriority")
        .agg(
            F.sum(w).cast("long").alias("n_rows"),
            F.sum(w * F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
        .where(F.col("n_rows") != 0)
    )


# ---------------------------------------------------------------------------
# Bin-packing compaction: pay only the small-file debt
# ---------------------------------------------------------------------------

_COMPACT_SMALL_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, {_SUM_CENTS_SQL} AS sum_cents,
       CAST(1 AS INT) AS healthy_carried, CAST(1 AS INT) AS debt_packed
FROM orders
"""


@query("table_compact_small", oracle=_COMPACT_SMALL_ORACLE)
def table_compact_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIN-PACKING compaction (`ManifestTable.compact_small`,
    sources/table_format.py — Iceberg's rewrite_data_files with a size
    threshold): one healthy file plus four micro-batch slivers; the
    maintenance pass rewrites ONLY the slivers into one packed file and
    carries the healthy file forward by manifest reference. The
    `healthy_carried` / `debt_packed` flags live INSIDE the hashed result,
    so the driver row fails if the op ever silently degrades to a full
    rewrite (healthy file replaced) or stops packing (sliver survives).

    Scale shape: selection is metadata-only (manifest file sizes); cost
    is O(small-file debt) reads + writes — a nightly pass over a
    streaming-ingest table pays for the day's micro-batches, never the
    table. Full rewrite remains `compact` (z-order/global clustering)."""
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("binpack")
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t.commit(orders.where(F.col("o_orderkey") % 5 != 0).coalesce(1))  # healthy
    for m in range(4):                                                # debt
        t.commit(
            orders.where(
                (F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 4 == m)
            ).coalesce(1)
        )
    healthy = set(t._added_files(1))
    debt = {f for v in range(2, 6) for f in t._added_files(v)}
    v = t.compact_small(spark, small_mb=0.1, target_mb=128)
    after = set(t._manifest(v)["files"])
    carried = int(healthy <= after)
    packed = int(not (debt & after) and len(after) == len(healthy) + 1)
    return t.read(spark, v).agg(*_cents_agg()).select(
        "n_rows",
        "sum_cents",
        F.lit(carried).cast("int").alias("healthy_carried"),
        F.lit(packed).cast("int").alias("debt_packed"),
    )


# ---------------------------------------------------------------------------
# Catalog-wide SQL savepoints + cross-table write-audit-publish
# ---------------------------------------------------------------------------

_CATALOG_SQL_ORACLE = """
WITH j AS (
  SELECT l.l_orderkey AS k, CAST(l.l_quantity AS DECIMAL(18,2)) AS q
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT 'savepoint_v1' AS label, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(q) AS DOUBLE) AS sum_qty
FROM j WHERE k % 2 = 0
UNION ALL
SELECT 'savepoint_v2', CAST(COUNT(*) AS BIGINT), CAST(SUM(q) AS DOUBLE) FROM j
"""


@query("catalog_sql_read", oracle=_CATALOG_SQL_ORACLE)
def catalog_sql_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface for the multi-table catalog
    (`TableCatalog.register_sql`, sources/catalog_txn.py): one call
    registers EVERY table of a pinned catalog version as temp views, so a
    SQL user joins a CONSISTENT cross-table savepoint — the guarantee
    single-table `ManifestTable.register_sql` cannot give, because its
    views advance per table. Here catalog v1 pins the even halves of
    orders+lineitem; a transaction appends the odd halves and publishes
    catalog v2; registering BOTH savepoints and running the same SQL join
    against each yields the v1 numbers from the v1 views even though both
    underlying tables have advanced (and a post-registration direct table
    commit leaks into neither).

    Scale shape: registration is O(#tables) manifest JSON reads, zero
    data; each view is the same lazy pinned-file-list parquet plan every
    table read uses."""
    from gridmr_spark.sources.catalog_txn import TableCatalog
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("catsql")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("double").alias("l_quantity")
    )
    t_o = ManifestTable(os.path.join(root, "orders"))
    t_l = ManifestTable(os.path.join(root, "lineitem"))
    t_o.commit(orders.where(F.col("o_orderkey") % 2 == 0))
    t_l.commit(li.where(F.col("l_orderkey") % 2 == 0))
    cat = TableCatalog(root)
    cat.create({"orders": t_o, "lineitem": t_l})
    txn = cat.begin()
    txn.commit_table("orders", orders.where(F.col("o_orderkey") % 2 == 1))
    txn.commit_table("lineitem", li.where(F.col("l_orderkey") % 2 == 1))
    v2 = txn.commit()

    cat.register_sql(spark, at=1, prefix="cv1_")
    cat.register_sql(spark, at=v2, prefix="cv2_")
    # a DIRECT table commit after registration must leak into neither view
    t_o.commit(orders.limit(10))

    def leg(label: str, prefix: str) -> DataFrame:
        return spark.sql(
            f"""SELECT '{label}' AS label, CAST(COUNT(*) AS LONG) AS n_rows,
                       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                           AS sum_qty
                FROM {prefix}lineitem l
                JOIN {prefix}orders o ON l.l_orderkey = o.o_orderkey"""
        )

    return leg("savepoint_v1", "cv1_").unionByName(leg("savepoint_v2", "cv2_"))


_WAP_MULTI_ORACLE = """
WITH j AS (
  SELECT l.l_orderkey AS k, CAST(l.l_quantity AS DECIMAL(18,2)) AS q
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT 'v1_join' AS label, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(q) AS DOUBLE) AS sum_qty
FROM j WHERE k % 2 = 0
UNION ALL
SELECT 'after_failed_wap', CAST(COUNT(*) AS BIGINT), CAST(SUM(q) AS DOUBLE)
FROM j WHERE k % 2 = 0
UNION ALL
SELECT 'wap_audit_join', CAST(COUNT(*) AS BIGINT), CAST(SUM(q) AS DOUBLE) FROM j
UNION ALL
SELECT 'mid_wap_catalog', CAST(COUNT(*) AS BIGINT), CAST(SUM(q) AS DOUBLE)
FROM j WHERE k % 2 = 0
UNION ALL
SELECT 'published_join', CAST(COUNT(*) AS BIGINT), CAST(SUM(q) AS DOUBLE) FROM j
"""


@query("table_wap_multi", oracle=_WAP_MULTI_ORACLE)
def table_wap_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TABLE write-audit-publish (`TableCatalog.begin_wap` /
    `CatalogWap`, sources/catalog_txn.py) — the composition of branch
    refs with the catalog's one-publish gate: each table's writes stage
    on a branch forked at its CATALOG PIN; auditors query the staged
    cross-table state; publish fast-forwards every table and flips ONE
    catalog version. Five legs prove the contract end to end: a first WAP
    stages a bad lineitem batch (negative quantities), the audit catches
    it and aborts — `after_failed_wap` shows every catalog reader still
    at the v1 cross-table state (hash-equal to `v1_join`, the oracle
    re-derives it from base tables). A second WAP stages the valid odd
    halves of BOTH tables: `wap_audit_join` (the staged cross-table
    read) already equals the final published numbers — the audit sees
    exactly what publish will make visible — while `mid_wap_catalog`
    still shows v1; `published_join` is the atomically flipped state.

    Scale shape: branch staging is metadata + ordinary appends; the
    failed WAP costs zero data movement to undo (branches dropped,
    catalog untouched); publish is O(#tables) manifest writes + one
    exclusive catalog create."""
    from gridmr_spark.sources.catalog_txn import TableCatalog
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("wapmulti")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("double").alias("l_quantity")
    )
    t_o = ManifestTable(os.path.join(root, "orders"))
    t_l = ManifestTable(os.path.join(root, "lineitem"))
    t_o.commit(orders.where(F.col("o_orderkey") % 2 == 0))
    t_l.commit(li.where(F.col("l_orderkey") % 2 == 0))
    cat = TableCatalog(root)
    cat.create({"orders": t_o, "lineitem": t_l})

    def cat_leg(label: str, at: int | None = None) -> DataFrame:
        return _qty_join_leg(label, cat.read(spark, "lineitem", at=at),
                             cat.read(spark, "orders", at=at))

    parts = [cat_leg("v1_join", 1)]

    wap1 = cat.begin_wap()
    wap1.stage("orders", orders.where(F.col("o_orderkey") % 2 == 1))
    wap1.stage(
        "lineitem",
        li.where(F.col("l_orderkey") % 2 == 1)
        .withColumn("l_quantity", -F.col("l_quantity")),
    )
    # AUDIT: negative quantities are invalid -> abort, publish never runs
    # (explicit raise, not `assert` — the audit must survive python -O)
    if wap1.read(spark, "lineitem").where(F.col("l_quantity") < 0).count() == 0:
        raise AssertionError("WAP audit expected staged negative quantities")
    wap1.abort()
    parts.append(cat_leg("after_failed_wap"))

    wap2 = cat.begin_wap()
    wap2.stage("orders", orders.where(F.col("o_orderkey") % 2 == 1))
    wap2.stage("lineitem", li.where(F.col("l_orderkey") % 2 == 1))
    parts.append(
        _qty_join_leg(
            "wap_audit_join",
            wap2.read(spark, "lineitem"),
            wap2.read(spark, "orders"),
        )
    )
    parts.append(cat_leg("mid_wap_catalog"))
    v_pub = wap2.publish()
    parts.append(cat_leg("published_join", v_pub))

    out = parts[0]
    for pp in parts[1:]:
        out = out.unionByName(pp)
    return out


def _qty_join_leg(label: str, l: DataFrame, o: DataFrame) -> DataFrame:
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .select(F.lit(label).alias("label"), "n_rows", "sum_qty")
    )


# ---------------------------------------------------------------------------
# Multi-table transactional catalog: cross-table snapshot isolation
# ---------------------------------------------------------------------------

_CATALOG_TXN_ORACLE = """
WITH j AS (
  SELECT l.l_orderkey AS k, CAST(l.l_quantity AS DECIMAL(18,2)) AS q
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT 'v1_join' AS label, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(q) AS DOUBLE) AS sum_qty
FROM j WHERE k % 2 = 0
UNION ALL
SELECT 'mid_txn_join', CAST(COUNT(*) AS BIGINT), CAST(SUM(q) AS DOUBLE)
FROM j WHERE k % 2 = 0
UNION ALL
SELECT 'v2_join', CAST(COUNT(*) AS BIGINT), CAST(SUM(q) AS DOUBLE) FROM j
"""


@query("catalog_txn_read", oracle=_CATALOG_TXN_ORACLE)
def catalog_txn_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table snapshot isolation through the transactional catalog
    (`sources/catalog_txn.py`): orders and lineitem live in two manifest
    tables whose VISIBLE versions are pinned by one catalog manifest. A
    transaction stages the odd-key half of BOTH tables as ordinary table
    commits, and the `mid_txn_join` leg — evaluated after the orders
    append has durably landed in its table but before the catalog
    publish — proves catalog readers still join the OLD orders against
    the OLD lineitem (identical to `v1_join`): no reader can ever see new
    facts against old dimensions or vice versa, the anomaly per-table
    atomicity cannot rule out. `commit()` flips both pins in one
    exclusive-create catalog snapshot (`v2_join` = the full join), and
    catalog versions time-travel the whole PIN SET, not one table.

    Scale shape: the catalog adds one O(#tables) JSON read per query plan
    and one exclusive-create per transaction — table-format metadata
    economics unchanged; staged-but-unpublished table versions are
    harmless history (the orphan-until-referenced posture, one level up).
    Conflicts are catalog-version OCC, same retry contract as racing
    table commits (tests/test_catalog_txn.py)."""
    from gridmr_spark.sources.catalog_txn import TableCatalog
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("cattxn")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("double").alias("l_quantity")
    )
    t_o = ManifestTable(os.path.join(root, "orders"))
    t_l = ManifestTable(os.path.join(root, "lineitem"))
    t_o.commit(orders.where(F.col("o_orderkey") % 2 == 0))
    t_l.commit(li.where(F.col("l_orderkey") % 2 == 0))
    cat = TableCatalog(root)
    cat.create({"orders": t_o, "lineitem": t_l})

    def leg(label: str, at: int | None) -> DataFrame:
        o = cat.read(spark, "orders", at=at)
        l = cat.read(spark, "lineitem", at=at)
        return (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_qty"),
            )
            .select(F.lit(label).alias("label"), "n_rows", "sum_qty")
        )

    parts = [leg("v1_join", 1)]
    txn = cat.begin()
    txn.commit_table("orders", orders.where(F.col("o_orderkey") % 2 == 1))
    # the orders append is DURABLE in its table here — and invisible:
    parts.append(leg("mid_txn_join", None))
    txn.commit_table("lineitem", li.where(F.col("l_orderkey") % 2 == 1))
    v2 = txn.commit()
    parts.append(leg("v2_join", v2))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Changefeed across ADDITIVE SCHEMA EVOLUTION (Delta-CDF typed-NULL align)
# ---------------------------------------------------------------------------

_CHANGEFEED_EVOLVE_ORACLE = f"""
WITH v1 AS (
  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
  FROM orders WHERE o_orderkey % 3 = 0
),
v2rows AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 3 = 1
),
v3 AS (
  SELECT * FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2rows)
  WHERE o_orderkey % 10 <> 1
),
ins AS (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v1),
del AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v3)
SELECT 'I' AS _op, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_SUM_CENTS_SQL} AS sum_cents
FROM ins GROUP BY o_orderstatus
UNION ALL
SELECT 'D' AS _op, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_SUM_CENTS_SQL} AS sum_cents
FROM del GROUP BY o_orderstatus
"""


@query("table_changefeed_evolve", oracle=_CHANGEFEED_EVOLVE_ORACLE)
def table_changefeed_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed across an ADDITIVE SCHEMA CHANGE
    (`ManifestTable.changefeed`, sources/table_format.py) — Delta-CDF
    semantics instead of round-12's refusal: v1 commits orders in the
    ORIGINAL two-column shape (%3=0), v2 appends the %3=1 rows with a
    NEW o_orderstatus column (the ALTER TABLE ADD COLUMN a long-lived
    corpus table hits), v3 partially COW-deletes a narrow band (%10=1)
    whose matches straddle BOTH shapes — the rewrite itself carries the
    UNION of its input schemas. `changefeed(1, 3)` aligns the older
    snapshot with typed NULLs for the added column, so pre-evolution
    deletes surface as D(key, price, NULL) while post-evolution inserts
    carry their real status; the per-(_op, status) aggregate
    hash-matches a from-scratch aligned EXCEPT ALL in SQL.

    Scale shape: the alignment costs ONE footer-union probe over the
    range's file-set delta (bounded by the feed's own footprint, never
    the table) and the compare still reads only delta files — a 100-TB
    table's add-column commit is a metadata event for the feed, not a
    rescan. Incompatible changes (type change on a shared name) still
    refuse loudly."""
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("cfevolve")
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders")
    t.commit(
        orders.where(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey", "o_totalprice"
        )
    )                                                               # v1 old shape
    t.commit(
        orders.where(F.col("o_orderkey") % 3 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        )
    )                                                               # v2 +column
    v3 = t.delete_where(spark, F.col("o_orderkey") % 10 == 1)       # v3 both shapes
    feed = t.changefeed(spark, 1, v3)
    return (
        feed.groupBy("_op", "o_orderstatus")
        .agg(*_cents_agg())
        .select("_op", "o_orderstatus", "n_rows", "sum_cents")
    )


# ---------------------------------------------------------------------------
# TYPE-WIDENING schema evolution (Iceberg promotion matrix, round 14)
# ---------------------------------------------------------------------------

_SCHEMA_WIDENING_ORACLE = """
WITH v1 AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS price,
         CAST(CAST(o_totalprice AS DECIMAL(9,2)) AS DECIMAL(15,2)) AS d
  FROM orders WHERE o_orderkey % 3 = 0
),
v2 AS (
  SELECT o_orderkey + 3000000000 AS k,
         o_totalprice AS price,
         CAST(o_totalprice AS DECIMAL(15,2)) AS d
  FROM orders WHERE o_orderkey % 3 = 1
),
v3 AS (
  SELECT * FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
  WHERE k % 10 <> 1
)
SELECT CAST(k % 7 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(price * 100.0) AS BIGINT)) AS BIGINT) AS sum_price_cents,
       CAST(SUM(CAST(d * 100 AS BIGINT)) AS BIGINT) AS sum_d_cents,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k
FROM v3 GROUP BY 1
"""


@query("table_schema_widening", oracle=_SCHEMA_WIDENING_ORACLE)
def table_schema_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE-WIDENING schema evolution on the manifest table
    (`_widened_struct` / `_merged_read`, sources/table_format.py, round
    14) — Iceberg's safe-promotion matrix instead of additive-only: v1
    commits orders (%3=0) in a NARROW shape (int key, float price,
    decimal(9,2)), v2 appends %3=1 rows in the WIDENED shape (bigint keys
    pushed past int range by +3e9 — the promotion a table does because it
    must — double price, decimal(15,2)), and v3 partially COW-deletes a
    band (k%10=1) whose matches straddle BOTH cohorts, so the rewrite
    itself runs under the widened union schema. The merged read serves
    every row at the widest type with the narrow cohort up-cast AT THE
    SCAN (no rewrite of old files); the per-bucket aggregate (counts,
    exact cents, exact decimal cents, min/max across both cohorts)
    hash-matches DuckDB running the same widening with explicit CASTs.

    Scale shape: the widening is a METADATA event — old files are never
    rewritten; the widened read is still ONE parquet scan (Spark 4's
    readers up-cast int->long / float->double / decimal precision in
    place, SPARK-40876), and the fallback schema probe costs a footer
    sweep only on the set actually read, only when the distributed
    footer merge refuses. Genuinely incompatible changes (int->string,
    decimal scale change) still refuse loudly."""
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("widen")
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders")
    t.commit(
        orders.where(F.col("o_orderkey") % 3 == 0).select(
            F.col("o_orderkey").cast("int").alias("k"),
            F.col("o_totalprice").cast("float").alias("price"),
            F.col("o_totalprice").cast("decimal(9,2)").alias("d"),
        )
    )                                                   # v1 narrow cohort
    t.commit(
        orders.where(F.col("o_orderkey") % 3 == 1).select(
            (F.col("o_orderkey") + F.lit(3_000_000_000)).alias("k"),
            F.col("o_totalprice").alias("price"),
            F.col("o_totalprice").cast("decimal(15,2)").alias("d"),
        )
    )                                                   # v2 widened cohort
    t.delete_where(spark, F.col("k") % 10 == 1)         # v3 straddling COW
    df = t.read(spark, merge_schema=True)
    return (
        df.groupBy((F.col("k") % 7).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.floor(F.col("price") * F.lit(100.0)).cast("long"))
            .cast("long")
            .alias("sum_price_cents"),
            F.sum((F.col("d") * 100).cast("long")).cast("long").alias("sum_d_cents"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .select("bucket", "n_rows", "sum_price_cents", "sum_d_cents", "min_k", "max_k")
    )


# ---------------------------------------------------------------------------
# PARTITION-SPEC evolution without rewrite (round 14)
# ---------------------------------------------------------------------------

_SPEC_EVOLUTION_ORACLE = f"""
SELECT CAST(month(o_orderdate) AS BIGINT) AS mon,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_SUM_CENTS_SQL} AS sum_cents
FROM orders
WHERE month(o_orderdate) BETWEEN 4 AND 6
GROUP BY 1
"""


@query("table_partition_spec_evolution", oracle=_SPEC_EVOLUTION_ORACLE)
def table_partition_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SPEC EVOLUTION at O(new data) — Iceberg's spec evolution
    on the manifest table (group ``spec`` stamps + per-cohort pruning,
    sources/table_format.py, round 14): v1 commits half of orders
    partitioned by month(o_orderdate); v2 commits the other half under a
    CHANGED spec, quarter(o_orderdate) — a metadata event that rewrites
    ZERO old files (tests/test_spec_evolution.py pins the v1 file set
    carried verbatim). The read probes ONE logical interval expressed per
    spec — months 4..6 == quarter 2 — via
    ``pt_preds={{month: (4,6), quarter: (2,2)}}``, so EACH cohort prunes
    at the group-summary level under its own transform (the scan-set
    test proves both cohorts prune), and the per-month aggregate
    hash-matches DuckDB filtering the raw table.

    Scale shape: spec change on a 100-TB table costs O(new data): old
    cohorts keep their files, stats, and stamped spec; reads stay
    metadata-exact (no residual row filter when every cohort is covered
    by pt_preds); compact(partition_by=...) remains the explicit
    full-rewrite verb that retires old cohorts."""
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("specevo")
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders")
    t.commit(
        orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_orderdate", "o_totalprice"
        ),
        partition_by="month(o_orderdate)",
    )                                                   # v1: old spec
    t.commit(
        orders.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_orderdate", "o_totalprice"
        ),
        partition_by="quarter(o_orderdate)",
    )                                                   # v2: spec CHANGE, new data only
    df = t.read_pruned(
        spark,
        pt_preds={"month(o_orderdate)": (4, 6), "quarter(o_orderdate)": (2, 2)},
    )
    return (
        df.groupBy(F.month("o_orderdate").cast("long").alias("mon"))
        .agg(*_cents_agg())
        .select("mon", "n_rows", "sum_cents")
    )


# ---------------------------------------------------------------------------
# Column RENAME via stable field IDs (round 14 stretch)
# ---------------------------------------------------------------------------

_RENAME_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_totalprice AS price,
         CASE WHEN o_orderkey % 3 = 1 THEN o_orderstatus END AS o_orderstatus
  FROM orders WHERE o_orderkey % 3 IN (0, 1)
),
v AS (SELECT * FROM base WHERE NOT (price < 20000))
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(price * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM v GROUP BY 1
"""


@query("table_rename_column", oracle=_RENAME_ORACLE)
def table_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN RENAME as a metadata operation (`rename_column` + stable
    field IDs, sources/table_format.py, round 14): v1 commits a third of
    orders on a FIELD-IDS table (every written column carries its
    ``PARQUET:field_id``), v2 renames o_totalprice -> price touching
    ZERO data files, v3 appends more rows under the NEW name plus an
    ADDED column (o_orderstatus), and v4 partially COW-deletes on the
    renamed column with matches in BOTH cohorts — the rewrite scans
    pre-rename files by ID under the current names. The merged read
    serves one schema (current names, typed-NULL backfill for the added
    column) and the per-status aggregate hash-matches DuckDB computing
    the same pipeline on the raw table with the rename applied as SQL
    aliases.

    Scale shape: rename is O(1) metadata at any table size (Iceberg's
    field-id contract; Spark's fieldId readers up-cast/re-name in the
    scan itself — one pass, no rewrite). Stats stay first-class: group
    manifests stamp their write-time name<->id map, so pruning and
    metadata_agg translate current-name predicates to each cohort's
    as-written stats key — old cohorts keep SKIPPING files (skip-count
    pinned in tests/test_rename_fieldids.py); never-recycled names make
    the translation collision-free."""
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("rename")
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders")
    t.commit(
        orders.where(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey", "o_totalprice"
        ),
        field_ids=True,
    )                                                   # v1: old name
    t.rename_column("o_totalprice", "price")            # v2: metadata-only
    t.commit(
        orders.where(F.col("o_orderkey") % 3 == 1).select(
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            "o_orderstatus",
        )
    )                                                   # v3: new name + added col
    t.delete_where(spark, F.col("price") < 20000)       # v4: COW on the NEW name
    df = t.read(spark, merge_schema=True)
    return (
        df.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.floor(F.col("price") * F.lit(100.0)).cast("long"))
            .cast("long")
            .alias("sum_cents"),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        )
        .select("o_orderstatus", "n_rows", "sum_cents", "min_key", "max_key")
    )


# ---------------------------------------------------------------------------
# Column DROP via field IDs (round 14 stretch, completes ALTER TABLE)
# ---------------------------------------------------------------------------

_DROP_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_totalprice,
         CASE WHEN o_orderkey % 3 = 1 THEN o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 3 IN (0, 1)
),
v AS (SELECT * FROM base WHERE o_orderkey % 10 <> 4)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM v GROUP BY 1
"""


@query("table_drop_column", oracle=_DROP_ORACLE)
def table_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN DROP as a metadata operation (`drop_column`,
    sources/table_format.py, round 14 — with add/widen/rename this
    completes the ALTER TABLE surface): v1 commits a field-ids table
    WITH o_orderstatus, v2 DROPS it touching zero files (the bytes stay
    in v1's files; reads stop projecting them by field id), v3 appends
    rows that never had it plus a NEW column (o_orderpriority — proving
    fresh ids never reuse the dropped id), v4 partially COW-deletes
    across both cohorts. The merged read serves the final shape — no
    dropped column anywhere, typed NULLs for the new column on old rows
    — and the aggregate hash-matches DuckDB computing the same pipeline
    with the drop applied as a projection.

    Scale shape: drop is O(1) metadata at any size; physical erasure of
    the dropped bytes remains the explicit compact + expire + vacuum
    two-step (same discipline as row deletes)."""
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("dropcol")
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders")
    t.commit(
        orders.where(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        ),
        field_ids=True,
    )                                                   # v1: has o_orderstatus
    t.drop_column("o_orderstatus")                      # v2: metadata-only
    t.commit(
        orders.where(F.col("o_orderkey") % 3 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
    )                                                   # v3: new col, fresh id
    t.delete_where(spark, F.col("o_orderkey") % 10 == 4)  # v4: both cohorts
    df = t.read(spark, merge_schema=True)
    assert "o_orderstatus" not in df.columns
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long"))
            .cast("long")
            .alias("sum_cents"),
        )
        .select("o_orderpriority", "n_rows", "sum_cents")
    )


# ---------------------------------------------------------------------------
# add_files: zero-copy adoption of external parquet (round 14)
# ---------------------------------------------------------------------------

_ADD_FILES_ORACLE = f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_SUM_CENTS_SQL} AS sum_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders GROUP BY 1
"""


@query("table_add_files", oracle=_ADD_FILES_ORACLE)
def table_add_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZERO-COPY ADOPTION of external parquet (`ManifestTable.add_files`,
    sources/table_format.py, round 14 — Iceberg's add_files/migrate): v1
    commits half of orders normally; an EXTERNAL directory holds the
    other half as plain parquet written by another system, and v2 adopts
    those files BY REFERENCE — one footer-metadata pass per file
    (executor-side for large adopts), no data copied, the external paths
    land verbatim in the group manifest with stats and row counts. The
    snapshot read over both cohorts hash-matches DuckDB over the raw
    table; the maintenance ownership guard (only <root>/data is ever
    deleted) keeps the adopted files the caller's property.

    Scale shape: migrating a 100-TB parquet lake into the table format
    costs O(#files) FOOTER reads — not a byte of data movement; stats
    pruning, metadata aggregates, incremental reads and every rewrite
    verb work on the adopted cohort immediately, and a later compact()
    completes ownership migration at the caller's pace."""
    import glob as _glob

    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("adopt")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    ext_dir = os.path.join(root, "external_lake")
    orders.where(F.col("o_orderkey") % 2 == 1).write.parquet(ext_dir)
    t = ManifestTable(os.path.join(root, "tbl"))
    t.commit(orders.where(F.col("o_orderkey") % 2 == 0))        # v1 owned half
    ext = sorted(_glob.glob(os.path.join(ext_dir, "*.parquet")))
    v = t.add_files(spark, ext)                                 # v2 adopted half
    assert set(ext) <= set(t._manifest(v)["files"])             # by reference
    return (
        t.read(spark)
        .groupBy("o_orderstatus")
        .agg(
            *_cents_agg(),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        )
        .select("o_orderstatus", "n_rows", "sum_cents", "min_key", "max_key")
    )


# ---------------------------------------------------------------------------
# DV-aware metadata stats: MIN/MAX exactness THROUGH a dv-delete history
# ---------------------------------------------------------------------------

_META_AGG_DV_ORACLE = """
WITH k AS (SELECT MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM orders),
v2 AS (
  SELECT o_orderkey FROM orders, k
  WHERE NOT (o_orderkey % 1000 = 500 AND o_orderkey > k.mn AND o_orderkey < k.mx)
),
v3 AS (SELECT * FROM v2 WHERE o_orderkey <> (SELECT MAX(o_orderkey) FROM v2))
SELECT 'interior_dv' AS label, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
       CAST(1 AS INT) AS meta_exact
FROM v2
UNION ALL
SELECT 'extreme_dv', CAST(COUNT(*) AS BIGINT), CAST(MIN(o_orderkey) AS BIGINT),
       CAST(MAX(o_orderkey) AS BIGINT), CAST(0 AS INT)
FROM v3
UNION ALL
SELECT 'materialized', CAST(COUNT(*) AS BIGINT), CAST(MIN(o_orderkey) AS BIGINT),
       CAST(MAX(o_orderkey) AS BIGINT), CAST(1 AS INT)
FROM v3
"""


@query("table_metadata_agg_dv", oracle=_META_AGG_DV_ORACLE)
def table_metadata_agg_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata MIN/MAX kept EXACT through a deletion-vector history
    (`ManifestTable.metadata_agg` + dv ``del_env``,
    sources/table_format.py) — round 12 went conservatively unknown on
    EVERY dv delete; now the delete's own scan observes the deleted
    rows' per-column envelope for free, and metadata answers stay exact
    whenever no deleted row can sit at an extreme. Three legs, with the
    exactness FLAG inside the hashed result so the driver row fails if
    the discipline silently degrades (or silently over-claims):

    - ``interior_dv``: a strictly-interior DV delete (%1000=500, never
      the min/max key) — COUNT and MIN/MAX all straight from metadata,
      flag 1.
    - ``extreme_dv``: DV-deleting the live max key — metadata honestly
      reports the key column UNKNOWN (flag 0); min/max re-derived by a
      scan so the values still hash-match the oracle.
    - ``materialized``: ``materialize_dv`` retires the DV set and
      re-derives file stats — metadata exact again (flag 1) with the
      post-delete envelope.

    Scale shape: the envelope ride-along costs zero extra I/O (an
    ``observe`` on the DV delete's existing predicate scan), the check
    is O(#columns) JSON at answer time, and a GDPR-trickle table keeps
    millisecond COUNT/MIN/MAX answers instead of degrading to full
    scans until someone compacts."""
    from gridmr_spark.sources.table_format import ManifestTable

    root = scratch_dir("metadv")
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    t.commit(orders.repartition(8))                                  # v1
    mn, mx = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    t.delete_where(
        spark,
        (F.col("o_orderkey") % 1000 == 500)
        & (F.col("o_orderkey") > mn)
        & (F.col("o_orderkey") < mx),
        mode="dv",
    )                                                                # v2 interior

    def meta_leg(label: str) -> tuple:
        agg = t.metadata_agg()
        cols = agg["columns"]
        exact = 1 if "o_orderkey" in cols else 0
        if exact:
            lo, hi = int(cols["o_orderkey"][0]), int(cols["o_orderkey"][1])
        else:  # honest fallback: the values come from a scan, flag says so
            lo, hi = (
                t.read(spark)
                .agg(F.min("o_orderkey"), F.max("o_orderkey"))
                .first()
            )
        return (label, int(agg["n_rows"]), int(lo), int(hi), exact)

    rows = [meta_leg("interior_dv")]
    live_max = int(t.read(spark).agg(F.max("o_orderkey")).first()[0])
    t.delete_where(spark, F.col("o_orderkey") == live_max, mode="dv")  # v3 extreme
    rows.append(meta_leg("extreme_dv"))
    t.materialize_dv(spark, target_rows=0)                             # v4 retire
    rows.append(meta_leg("materialized"))
    return local_df(
        spark,
        rows,
        "label string, n_rows long, min_key long, max_key long, meta_exact int",
    )


# ---------------------------------------------------------------------------
# Catalog-level CDC: the multi-table savepoint as aligned signed streams
# ---------------------------------------------------------------------------

_CATALOG_CDC_ORACLE = f"""
WITH o_live AS (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 10 <> 1
),
l_live AS (
  SELECT l_orderkey, l_quantity FROM lineitem WHERE l_orderkey % 3 IN (0, 1)
),
j AS (
  SELECT o.o_totalprice FROM l_live l JOIN o_live o ON l.l_orderkey = o.o_orderkey
)
SELECT 'orders_live' AS label, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_SUM_CENTS_SQL} AS sum_cents
FROM o_live
UNION ALL
SELECT 'lineitem_live', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(FLOOR(l_quantity * 100.0) AS BIGINT)) AS BIGINT)
FROM l_live
UNION ALL
SELECT 'join_state', CAST(COUNT(*) AS BIGINT), {_SUM_CENTS_SQL}
FROM j
"""


@query("stream_catalog_cdc_feed", oracle=_CATALOG_CDC_ORACLE)
def stream_catalog_cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATALOG-LEVEL CDC (`format('mcatalog_changelog')`,
    sources/table_format.py; catalog from sources/catalog_txn.py): one
    signed changelog stream PER TABLE whose offsets are CATALOG
    versions, so the legs of every table ALIGN on the same multi-table
    savepoints and the engine's offset checkpoint makes the whole
    savepoint exactly-once — the round-12 pieces (cross-table pins,
    per-version file deltas, signed CDC splits) composed into Delta-CDF-
    for-a-catalog. History: cv1 creates orders+lineitem (the %3=0
    thirds), cv2 is ONE cross-table transaction appending the %3=1
    thirds to BOTH, cv3 partially COW-deletes an orders band (%10=1) —
    lineitem's pin does not move, so its cv3 leg contributes ZERO
    splits. Both availableNow streams fold under the signed algebra to
    the published live states; the result returns each folded state's
    aggregate plus the folded CROSS-TABLE join, all hash-matched against
    a from-scratch SQL re-derivation.

    Scale shape: each leg costs the table's pin-to-pin FILE delta (an
    unmoved pin costs nothing); offsets are O(1) catalog JSON reads; no
    snapshot is ever rescanned. A 100-table catalog streams as 100
    bounded aligned feeds, not one table-size rescan per flip."""
    from gridmr_spark.sources.catalog_txn import TableCatalog
    from gridmr_spark.sources.table_format import (
        ManifestTable,
        register_changelog_source,
    )

    root = scratch_dir("catcdc")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    from gridmr_spark.operators.parallel import run_parallel

    t_o = ManifestTable(os.path.join(root, "orders"))
    t_l = ManifestTable(os.path.join(root, "lineitem"))
    # The two tables' seed commits are independent jobs — overlap them
    # (guide §2.6 back-fill), as are the two availableNow feeds below.
    run_parallel(
        lambda: t_o.commit(orders.where(F.col("o_orderkey") % 3 == 0)),
        lambda: t_l.commit(li.where(F.col("l_orderkey") % 3 == 0)),
    )
    cat = TableCatalog(root)
    cat.create({"orders": t_o, "lineitem": t_l})                      # cv1
    txn = cat.begin()
    txn.commit_table("orders", orders.where(F.col("o_orderkey") % 3 == 1))
    txn.commit_table("lineitem", li.where(F.col("l_orderkey") % 3 == 1))
    txn.commit()                                                      # cv2
    txn = cat.begin()
    txn.delete_where("orders", spark, F.col("o_orderkey") % 10 == 1)
    txn.commit()                                                      # cv3

    register_changelog_source(spark)

    def feed(table: str) -> DataFrame:
        run = os.path.join(root, f"run_{table}")
        sink = os.path.join(run, "out")
        q = (
            spark.readStream.format("mcatalog_changelog")
            .option("path", root)
            .option("table", table)
            .load()
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: df.write.mode("append").parquet(sink))
            .option("checkpointLocation", os.path.join(run, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(sink)

    def fold(f: DataFrame, cols: list[str], w: str) -> DataFrame:
        # net multiplicity per distinct row (lineitem legitimately holds
        # duplicate (key, quantity) pairs — the Z-set weight preserves them)
        return (
            f.withColumn("s", F.when(F.col("_op") == "I", 1).otherwise(-1))
            .groupBy(*cols)
            .agg(F.sum("s").cast("long").alias(w))
            .where(F.col(w) != 0)
        )

    f_o, f_l = run_parallel(lambda: feed("orders"), lambda: feed("lineitem"))
    o_live = fold(f_o, ["o_orderkey", "o_totalprice"], "n_o")
    l_live = fold(f_l, ["l_orderkey", "l_quantity"], "n_l")
    o_cents = F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long")
    l_cents = F.floor(F.col("l_quantity") * F.lit(100.0)).cast("long")
    o_leg = o_live.agg(
        F.sum("n_o").cast("long").alias("n_rows"),
        F.sum(F.col("n_o") * o_cents).cast("long").alias("sum_cents"),
    ).select(F.lit("orders_live").alias("label"), "n_rows", "sum_cents")
    l_leg = l_live.agg(
        F.sum("n_l").cast("long").alias("n_rows"),
        F.sum(F.col("n_l") * l_cents).cast("long").alias("sum_cents"),
    ).select(F.lit("lineitem_live").alias("label"), "n_rows", "sum_cents")
    j_leg = (
        l_live.join(o_live, l_live["l_orderkey"] == o_live["o_orderkey"])
        .agg(
            F.sum(F.col("n_l") * F.col("n_o")).cast("long").alias("n_rows"),
            F.sum(F.col("n_l") * F.col("n_o") * o_cents)
            .cast("long")
            .alias("sum_cents"),
        )
        .select(F.lit("join_state").alias("label"), "n_rows", "sum_cents")
    )
    return o_leg.unionByName(l_leg).unionByName(j_leg)


# ---------------------------------------------------------------------------
# Hidden partitioning: transform-value pruning before any file stat
# ---------------------------------------------------------------------------

_PARTITION_PRUNED_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, {_SUM_CENTS_SQL} AS sum_cents,
       CAST(1 AS INT) AS partition_pruned
FROM orders
WHERE YEAR(o_orderdate) * 100 + MONTH(o_orderdate) BETWEEN 199606 AND 199608
"""


@query("table_partition_pruned_read", oracle=_PARTITION_PRUNED_ORACLE)
def table_partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIDDEN PARTITIONING (`ManifestTable.commit(partition_by=...)`,
    sources/table_format.py) — Iceberg's partition-spec transform on
    this format: orders commit with the transform
    ``year(o_orderdate)*100 + month(o_orderdate)``, which writes one
    file set per month and records each file's single transform VALUE as
    a reserved ``__pt`` [v, v] stat in the group manifest. A
    three-month probe prunes at the GROUP-SUMMARY level before any group
    manifest or per-file stat is consulted, and the predicate needs NO
    residual — every row of a kept file shares the file's partition
    value by construction. Two audits ride INSIDE the hashed result:
    ``partition_pruned`` proves files were skipped AND that the scan's
    actual plan-level file list (``df.inputFiles()``) names no file
    outside the three pruned months.

    Scale shape: the date-partitioned 100-TB fact table's canonical
    read — a month probe costs O(that month's files) with the partition
    check done on O(#groups) manifest JSON; source columns stay in the
    data files, so time travel, changefeed, DV deletes, and SQL views
    all compose with the layout unchanged."""
    from gridmr_spark.sources.table_format import ManifestTable, _norm

    root = scratch_dir("pttbl")
    t = ManifestTable(root)
    orders = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    t.commit(
        orders, partition_by="year(o_orderdate) * 100 + month(o_orderdate)"
    )
    lo, hi = 199606, 199608
    kept = t.pruned_files(preds={"__pt": (lo, hi)})
    n_total = len(t._manifest(1)["files"])
    df = t.read_pruned(spark, preds={"__pt": (lo, hi)})
    scanned = {
        _norm(p[len("file:"):] if p.startswith("file:") else p)
        for p in df.inputFiles()
    }
    in_bounds = scanned <= {_norm(f) for f in kept}
    pruned_ok = 1 if (0 < len(kept) < n_total and in_bounds) else 0
    return df.agg(*_cents_agg()).select(
        "n_rows", "sum_cents", F.lit(pruned_ok).cast("int").alias("partition_pruned")
    )
