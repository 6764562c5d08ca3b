"""gridmr_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of SebasUr/GridMR, re-expressed Spark-first.

The reference (/root/reference) is a MapReduce harness: split -> map ->
hash-partition -> shuffle -> reduce -> concat, with all record-level logic in
user binaries (see SURVEY.md). This package provides:

- ``session``     — tuned SparkSession factory (AQE on, UTC, Arrow).
- ``catalog``     — loaders for the synthetic star-schema tables.
- ``sources``     — text/csv/json/parquet readers + single-file sink
                    (reference parity: final.txt concat, ControlServiceImpl.java:397-427).
- ``compat``      — the MapReduce-compat job API: ``run_job`` (Python
                    callables over Arrow batches: mapInArrow map ->
                    repartition by key -> mapInArrow reduce, lazy) and
                    ``pipe_job`` (stdin/stdout binaries on the same pipeline;
                    reference contract cpp/worker/src/mapreduce/mapper.cc:45-103).
- ``operators``   — DataFrame-native operator library: joins (as-of/range),
                    dedup (exact/minhash/simhash/jaccard), similarity search,
                    text analysis, top-k windows.
- ``streaming``   — Structured Streaming windows (tumbling/sliding/session,
                    watermark late-data policy) over the events table.
- ``queries``     — the registry that backs ``__spark_entry__.py``: every
                    operator exposed as (spark, sf_dir) -> DataFrame plus a
                    DuckDB oracle SQL string.
"""

__version__ = "0.1.0"

from gridmr_spark.session import get_spark  # noqa: F401
