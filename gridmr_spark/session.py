"""SparkSession factory tuned for the target: correctness at small SF
locally, efficiency at 100 TB on a real cluster.

Local mode is a single JVM; on a cluster the same settings hold except
memory sizing. AQE is always on so runtime stats drive partition
coalescing, skew-join splitting, and join-strategy demotion.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import SparkSession

# The directory that holds the ``gridmr_spark`` package.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_worker_path(path: str) -> None:
    """Append ``path`` to the PYTHONPATH of Spark's Python workers.

    Two channels, because the JVM may already be running:

    - os.environ PYTHONPATH: covers workers of any SparkSession whose JVM
      starts AFTER this call (``get_spark`` calls this pre-build).
    - SparkContext.environment of the ACTIVE context, if any: PySpark
      captures this dict into every subsequently-created Python function's
      envVars, and the worker factory merges that PYTHONPATH into the
      worker's — which covers an outside harness that built the session
      before importing this package.

    Idempotent."""
    parts = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if path not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join(parts + [path])
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc_parts = [p for p in sc.environment.get("PYTHONPATH", "").split(os.pathsep) if p]
        if path not in sc_parts:
            sc.environment["PYTHONPATH"] = os.pathsep.join(sc_parts + [path])


@contextmanager
def session_conf(spark: SparkSession, conf: Mapping[str, str]) -> Iterator[None]:
    """Set ``conf`` on the session for the length of a ``with`` block, then
    put back each key's prior value, unsetting a key that was unset before.
    Spark conf is session state, so a per-job setting made any other way
    outlives the job."""
    was_set = spark.conf.getAll
    prior = {k: was_set.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def get_spark(app_name: str = "gridmr_spark", cpus: int | None = None) -> SparkSession:
    """Build the tuned session, or return the one already running in this
    process untouched: its conf, app name and log level stay as they are
    (only the worker paths below are exported to it).

    Settings rationale (scale posture, SURVEY.md §7.1 step 7):
    - AQE + coalescePartitions + skewJoin: runtime re-planning is the main
      defense at 100 TB (skewed keys, misestimated join sides).
    - shuffle.partitions defaults to cores locally; on a real cluster AQE's
      coalescing makes the initial number mostly irrelevant as long as it is
      high enough, so production would set it ~2-3x total cores.
    - Arrow enabled: every pandas_udf / toPandas crossing is vectorized.
    - UTC session timezone: deterministic timestamp semantics (and parity
      with the DuckDB oracle, which is TZ-naive).
    - maxPartitionBytes 128m: the scan-side split size (replaces the
      reference's client-side line-safe splitter, tools/gridmr_submit.py:22-54).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # BLAS thread discipline for Python workers (guide §4): every worker
    # process inherits this env via the JVM. Without it, N concurrent
    # pandas-UDF tasks each spin an ncpus-wide OpenBLAS pool (N*ncpus
    # threads) and small batched GEMMs spend more time in thread handoff
    # than math — measured 0.1 s vs up to 4.3 s run-to-run for the same
    # (94k, 64) @ (64, 64) IDCT under oversubscription. Task-level
    # parallelism comes from Spark; per-task math stays single-threaded.
    # setdefault so an operator explicitly tuned for threaded BLAS (or a
    # cluster deployment) can still override from the outside.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # Before the JVM starts: make a protobuf runtime importable (current
    # process + future Python workers via PYTHONPATH) so the
    # transformWithStateInPandas state server can run. No-op when protobuf
    # is properly installed or no vendored runtime exists.
    from gridmr_spark.compat.pbshim import ensure_protobuf

    ensure_protobuf()
    # Python workers unpickle ``gridmr_spark`` functions by reference, so
    # they must import the package whatever the driver's working directory.
    export_worker_path(_PACKAGE_PARENT)
    if SparkContext._active_spark_context is not None:
        return SparkSession.active()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
