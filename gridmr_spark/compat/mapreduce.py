r"""MapReduce-compat job API — the reference's user-facing contract on Spark.

GridMR's entire execution model (SURVEY.md §2.A) is: split text input ->
stream lines through a user *mapper* (stdout lines `key\tvalue`) ->
hash-partition keys into R buckets -> materialize -> stream each bucket
through a user *reducer* -> concatenate reducer outputs. This module keeps
that contract bug-for-bug while running on Spark's shuffle:

- Tab codec: key = prefix before the FIRST tab, value = the remainder;
  lines with no tab are silently dropped (mapper.cc:87-90).
- Reducer input is the WHOLE partition as an unsorted line stream — GridMR
  byte-concatenates the map outputs with no sort and no grouping
  (reducer.cc:56-66), so a compat reducer must do its own accumulation
  (as cpp/worker/reduce.cc:10-22 does with a hash map).
- Output is the UNION ALL of reducer outputs (final.txt concat,
  ControlServiceImpl.java:397-427); order across partitions is undefined,
  matching the reference's nondeterministic output order.
- ``pipe_job`` runs actual executables over stdin/stdout via RDD.pipe —
  the literal binary contract (mapper.cc:45-103), minus the
  compile-on-worker step (ship prebuilt binaries via sc.addFile).

``run_job`` is a lazy DataFrame pipeline with declared schemas, so no job
infers a schema and the map stage runs once, under the caller's action:
``read.text`` -> ``mapInArrow`` mapper (one call per line) ->
``repartition(R, key)`` (an explicit count AQE never coalesces) ->
``mapInArrow`` reducer (one call per partition, over all its Arrow batches).
Map tasks follow Spark's file-split packing, not one task per file: 8 x 1 MiB
shards become 4 map tasks at ``local[4]``.

Only key CO-LOCATION is contractual, not bucket assignment: GridMR uses
impl-defined std::hash (SURVEY.md §7.2 explicitly rejects reproducing it),
so ``run_job`` uses Spark's Murmur3 and ``pipe_job`` Python's portable_hash.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.rdd import RDD
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Reducer output lines per Arrow batch handed back to the JVM.
_REDUCE_BATCH_LINES = 10_000


def parse_tab_kv(lines: Iterable[str]) -> Iterator[tuple[str, str]]:
    """`key\tvalue` codec with tabless-line drop (mapper.cc:87-90 parity)."""
    for line in lines:
        line = line.rstrip("\n")
        idx = line.find("\t")
        if idx == -1:
            continue  # silently dropped, as the reference does
        yield line[:idx], line[idx + 1 :]


def _pylist(column: pa.Array) -> list:
    """``column.to_pylist()``, but a string column goes through numpy's
    object array: the same Python strs (None for nulls), ~15x faster."""
    if pa.types.is_string(column.type):
        return column.to_numpy(zero_copy_only=False).tolist()
    return column.to_pylist()


def _as_lines_df(spark: SparkSession, source: DataFrame | RDD | str) -> DataFrame:
    if isinstance(source, str):
        return spark.read.text(source)
    if isinstance(source, RDD):
        return spark.createDataFrame(source.map(lambda line: (line,)), "value string")
    if len(source.columns) != 1:
        raise ValueError("line-oriented input needs exactly one string column")
    return source


def _as_lines_rdd(spark: SparkSession, source: DataFrame | RDD | str) -> RDD:
    if isinstance(source, str):
        return spark.sparkContext.textFile(source)
    if isinstance(source, RDD):
        return source
    return _as_lines_df(spark, source).rdd.map(lambda r: r[0])


def run_job(
    spark: SparkSession,
    source: DataFrame | RDD | str,
    map_fn: Callable[[str], Iterable[str]],
    reduce_fn: Callable[[Iterator[str]], Iterable[str]],
    n_reducers: int = 4,
) -> DataFrame:
    """Run a GridMR-shaped job with Python callables.

    map_fn: line -> iterable of output lines (tab-separated KV).
    reduce_fn: iterator over ONE partition's lines (unsorted, ungrouped —
    the concat-stream contract) -> iterable of output lines.
    Returns DataFrame[value: string] = UNION ALL of reducer outputs. Lazy:
    no Spark job runs until the caller's action.
    """
    def _map(batches):
        for batch in batches:
            out = []
            for line in _pylist(batch.column(0)):
                for kv in map_fn(line):
                    kv = kv.rstrip("\n")
                    if "\t" in kv:  # tabless lines are dropped (mapper.cc:87-90)
                        out.append(kv)
            yield pa.RecordBatch.from_arrays([pa.array(out, pa.string())], ["line"])

    def _reduce(batches):
        lines = itertools.chain.from_iterable(_pylist(b.column(0)) for b in batches)
        out = iter(reduce_fn(lines))
        while chunk := list(itertools.islice(out, _REDUCE_BATCH_LINES)):
            yield pa.RecordBatch.from_arrays([pa.array(chunk, pa.string())], ["value"])

    # An explicit-count repartition guarantees key co-location (A5) and is
    # not coalesced by AQE; values stay unsorted (A8).
    return (
        _as_lines_df(spark, source)
        .mapInArrow(_map, "line string")
        .repartition(max(1, n_reducers), F.substring_index("line", "\t", 1))
        .mapInArrow(_reduce, "value string")
    )


def pipe_job(
    spark: SparkSession,
    source: DataFrame | RDD | str,
    map_cmd: str,
    reduce_cmd: str,
    n_reducers: int = 4,
) -> DataFrame:
    """Run a GridMR job with actual executables over the stdin/stdout pipe
    contract (A3/A4/A9 parity). Commands run once per partition; stdout
    lines are parsed with the same tab codec. Ship binaries to executors
    with spark.sparkContext.addFile + SparkFiles.get when not on a shared FS.
    """
    lines = _as_lines_rdd(spark, source)
    kv = lines.pipe(map_cmd).mapPartitions(parse_tab_kv)
    partitioned = kv.partitionBy(max(1, n_reducers))
    out = partitioned.map(lambda kvp: f"{kvp[0]}\t{kvp[1]}").pipe(reduce_cmd)
    return out.map(lambda line: (line,)).toDF(["value"])


def wordcount_map(line: str) -> Iterator[str]:
    """Reference mapper (cpp/worker/map.cc:12-21): normalize, tokenize,
    emit `word\t1`."""
    import re

    for tok in re.sub(r"[^a-zA-Z0-9]+", " ", line).lower().split():
        yield f"{tok}\t1"


def wordcount_reduce(lines: Iterator[str]) -> Iterator[str]:
    """Reference reducer (cpp/worker/reduce.cc:10-22): hash-map accumulate
    over the unsorted partition stream, emit `word\tsum`."""
    acc: dict[str, int] = {}
    for k, v in parse_tab_kv(lines):
        acc[k] = acc.get(k, 0) + int(v)
    for k, s in acc.items():
        yield f"{k}\t{s}"
