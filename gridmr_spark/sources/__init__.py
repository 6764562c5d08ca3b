"""Sources & sinks (SURVEY.md §2.D row 1 + §2.A A1/A2/A10 parity).

The reference reads line-oriented text from a shared POSIX filesystem
(fs.cc:42-53) with client-side ~N MB line-safe splits
(tools/gridmr_submit.py:22-54) and concatenates reducer outputs into one
final.txt (ControlServiceImpl.java:397-427). Spark subsumes all of it:
any Hadoop-compatible FS, automatic line-safe split planning via
maxPartitionBytes, and directory-of-parts output with an explicit
single-file compat flag.

Scratch files a query writes and reads back live under ``scratch_dir``:
GridMR keys every job's files by a fresh job id, so no job reads another
job's leftovers, and each call here gets a fresh path the same way.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_scratch_lock = threading.Lock()
_scratch_root: str | None = None
_scratch_seq = itertools.count()


def scratch_dir(tag: str) -> str:
    """A fresh path, not yet created, for one query's scratch files.

    Every path sits under one directory per process, made on first use by
    ``tempfile.mkdtemp(prefix="gridmr-")`` (so it follows ``TMPDIR``) and
    removed at interpreter exit. Nothing under it outlives the process, so
    no call can see files an earlier call or run left behind. The caller
    creates the path (a Spark write, ``os.makedirs``, a table root)."""
    global _scratch_root
    with _scratch_lock:
        if _scratch_root is None:
            _scratch_root = tempfile.mkdtemp(prefix="gridmr-")
            atexit.register(shutil.rmtree, _scratch_root, ignore_errors=True)
        return os.path.join(_scratch_root, f"{tag}-{next(_scratch_seq)}")


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented text scan: DataFrame[value: string], one row per line.

    The scan split size is the session's maxPartitionBytes (GridMR's
    GRIDMR_CHUNK_SIZE_MB, A1; ``session_conf`` scopes a per-job value).
    Spark's splits are line-safe by construction — records spanning split
    boundaries are handled by the reader, so the reference's client-side
    splitter is unnecessary.

    http(s):// URIs are accepted for A2 parity (the reference curl-fetches
    split inputs, cpp/worker/src/common/fs.cc:42-47): the file is fetched
    once via sc.addFile — which distributes it to every executor's
    SparkFiles root — then scanned like any local file. Meant for modest
    side inputs, exactly like the reference's per-split fetch; bulk data
    belongs on a shared FS/object store.
    """
    if path.startswith(("http://", "https://")):
        path = _fetch_url(spark, path)
    return spark.read.text(path)


def _fetch_url(spark: SparkSession, url: str) -> str:
    """Fetch an http(s) URI through Spark's file-distribution channel
    (sc.addFile handles the download + cluster-wide distribution; executors
    resolve the same name via SparkFiles.get). Returns a file: path usable
    by any reader. Repeated adds of the same URL are idempotent per session.
    """
    from pyspark import SparkFiles

    sc = spark.sparkContext
    name = url.rstrip("/").rsplit("/", 1)[-1] or "download"
    sc.addFile(url)
    local = SparkFiles.get(name)
    return f"file://{local}"


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None, **options
) -> DataFrame:
    """CSV with explicit schema preferred (inferSchema double-scans at scale)."""
    opts = {"header": "true", **options}
    reader = spark.read.options(**opts)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None, **options
) -> DataFrame:
    """JSON-lines; pass a schema in production (inference scans everything)."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    single_file: bool = False,
) -> None:
    """Directory-of-parts by default (the scalable norm). single_file=True is
    the explicit GridMR final.txt compat flag (A10) — coalesce(1) serializes
    the write through one task, only sane for small outputs."""
    out = df.coalesce(1) if single_file else df
    writer = out.write.mode(mode)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    getattr(writer, fmt)(path)
