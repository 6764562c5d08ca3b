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

Both entry points are one lazy DataFrame pipeline with declared schemas, so
the map stage runs once, under the caller's action: ``read.text`` ->
``mapInArrow`` map -> ``repartition(R, key)`` (an explicit count AQE never
coalesces) -> ``mapInArrow`` reduce, each stage one call per partition over
its whole line stream. ``run_job`` maps with a Python callable per line;
``pipe_job`` pipes each partition through an executable — the literal binary
contract (mapper.cc:45-103), minus the compile-on-worker step (ship prebuilt
binaries via sc.addFile). Map tasks follow Spark's file-split packing: 8 x
1 MiB shards become 4 map tasks at ``local[4]``.

Only key CO-LOCATION is contractual, not bucket assignment: GridMR uses
impl-defined std::hash (SURVEY.md §7.2 explicitly rejects reproducing it),
so both entry points use Spark's Murmur3.
"""

from __future__ import annotations

import shlex
import subprocess
import tempfile
from collections.abc import Callable, Iterable, Iterator
from functools import partial
from itertools import chain, islice

import pyarrow as pa
from pyspark.rdd import RDD
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Output lines per Arrow batch handed back to the JVM.
_BATCH_LINES = 10_000


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


def _line_stage(fn: Callable[[Iterator[str]], Iterable[str]]):
    """A ``mapInArrow`` function that runs ``fn`` once per partition: the
    partition's batches become one line stream (GridMR's per-split stdin,
    A4/A9) and ``fn``'s output lines go back in 10k-line batches."""

    def stage(batches):
        lines = chain.from_iterable(_pylist(b.column(0)) for b in batches)
        out = iter(fn(lines))
        while chunk := list(islice(out, _BATCH_LINES)):
            yield pa.RecordBatch.from_arrays([pa.array(chunk, pa.string())], ["value"])

    return stage


def _job(spark, source, map_part, reduce_part, n_reducers: int) -> DataFrame:
    """The one GridMR dataflow; ``map_part`` and ``reduce_part`` each take a
    partition's line stream to output lines. Map output keeps only
    ``key\tvalue`` lines, trailing newlines stripped (mapper.cc:87-90)."""

    def keyed(lines):
        for kv in map_part(lines):
            kv = kv.rstrip("\n")
            if "\t" in kv:
                yield kv

    # An explicit-count repartition guarantees key co-location (A5) and is
    # not coalesced by AQE; values stay unsorted (A8).
    return (
        _as_lines_df(spark, source)
        .mapInArrow(_line_stage(keyed), "value string")
        .repartition(max(1, n_reducers), F.substring_index("value", "\t", 1))
        .mapInArrow(_line_stage(reduce_part), "value string")
    )


def _pipe(cmd: str, lines: Iterable[str]) -> Iterator[str]:
    """Stream one partition through ``cmd`` (GridMR's per-split popen,
    mapper.cc:74), which inherits the worker's environment. Its stdin is the
    partition spooled to a temp file, as GridMR materializes a split before
    piping it, so the child need not read it all. A non-zero exit fails."""
    with tempfile.TemporaryFile() as spool:
        spool.writelines(str(line).rstrip("\n").encode() + b"\n" for line in lines)
        spool.seek(0)
        with subprocess.Popen(shlex.split(cmd), stdin=spool, stdout=subprocess.PIPE) as proc:
            for out in proc.stdout:
                yield out.decode().rstrip("\n")
    if proc.returncode:
        raise RuntimeError(f"{cmd!r} exited with code {proc.returncode}")


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
    flat_map = lambda lines: chain.from_iterable(map(map_fn, lines))  # noqa: E731
    return _job(spark, source, flat_map, reduce_fn, n_reducers)


def pipe_job(
    spark: SparkSession,
    source: DataFrame | RDD | str,
    map_cmd: str,
    reduce_cmd: str,
    n_reducers: int = 4,
) -> DataFrame:
    """Run a GridMR job with actual executables over the stdin/stdout pipe
    contract (A3/A4/A9 parity): each command runs once per partition
    (``shlex``-split, no shell) on the same skeleton and with the same tab
    codec as ``run_job``, and is just as lazy. Ship binaries to executors
    with spark.sparkContext.addFile + SparkFiles.get when not on a shared FS.
    """
    return _job(spark, source, partial(_pipe, map_cmd), partial(_pipe, reduce_cmd), n_reducers)


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
