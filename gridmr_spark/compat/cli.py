r"""Submit-style CLI — the reference's user entry point re-expressed.

GridMR usage (tools/gridmr_submit.py:88-93):
    python gridmr_submit.py <map.cc> <reduce.cc> <input.txt> <n_reducers>
    (split input -> scp to cluster -> HTTP submit -> poll -> scp result)

Here the cluster IS the SparkSession, so the same job is:
    python -m gridmr_spark.compat.cli <map_cmd> <reduce_cmd> <input> <out_dir> \
        [--reducers 4] [--single-file] [--compile]

map_cmd/reduce_cmd are executables honoring the stdin/stdout `key\tvalue`
contract (README.md:220 of the reference). --compile accepts .cc/.cpp
sources and builds them with g++ first (worker-side compile parity:
cpp/worker/src/mapreduce/mapper.cc:18-43). Output is a text directory of
parts, or one final.txt-style file with --single-file (A10 parity).
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys


def compile_if_source(cmd: str) -> str:
    """.cc/.cpp -> compile with g++ -O2 (static first, dynamic fallback),
    mirroring ensure_mapper_binary in the reference."""
    if not cmd.endswith((".cc", ".cpp")):
        return cmd
    from gridmr_spark.sources import scratch_dir

    out_dir = scratch_dir("bin")
    os.makedirs(out_dir)
    out = os.path.join(out_dir, "a.out")
    static = ["g++", "-O2", "-std=c++17", "-static", cmd, "-o", out]
    dynamic = ["g++", "-O2", "-std=c++17", cmd, "-o", out]
    if subprocess.run(static, capture_output=True).returncode != 0:
        res = subprocess.run(dynamic, capture_output=True)
        if res.returncode != 0:
            raise RuntimeError(f"compile failed for {cmd}: {res.stderr.decode()[:500]}")
    return out


def resolve_binary(spark, uri: str) -> str:
    """URI -> runnable local command, mirroring the reference's
    ensure_mapper_binary / ensure_reducer_binary
    (cpp/worker/src/mapreduce/mapper.cc:18-43, reducer.cc:69-72):
    http(s) URIs are fetched (via sc.addFile, which also distributes the
    file cluster-wide), .cc/.cpp sources are compiled static-then-dynamic,
    and the result is chmod +x."""
    import stat

    if uri.startswith(("http://", "https://")):
        from gridmr_spark.sources import _fetch_url

        uri = _fetch_url(spark, uri).removeprefix("file://")
    uri = compile_if_source(uri)  # suffix-triggered, as in the reference
    if os.path.exists(uri):
        os.chmod(uri, os.stat(uri).st_mode | stat.S_IXUSR | stat.S_IXGRP)
    return uri


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="gridmr-submit", description="Run a GridMR-contract job on Spark"
    )
    ap.add_argument("map_cmd", help="mapper executable (or .cc/.cpp with --compile)")
    ap.add_argument("reduce_cmd", help="reducer executable (or .cc/.cpp with --compile)")
    ap.add_argument("input", help="input text file/dir/glob")
    ap.add_argument("output", help="output directory")
    ap.add_argument("--reducers", type=int, default=4, help="R (default 4, as the reference)")
    ap.add_argument("--single-file", action="store_true", help="final.txt-style single part")
    ap.add_argument(
        "--compile",
        action="store_true",
        help="accepted for compatibility; .cc/.cpp sources always compile "
        "(suffix-triggered, as the reference worker does)",
    )
    ap.add_argument("--chunk-mb", type=int, default=None, help="split size (GRIDMR_CHUNK_SIZE_MB)")
    args = ap.parse_args(argv)

    from gridmr_spark import sources
    from gridmr_spark.compat.mapreduce import pipe_job
    from gridmr_spark.session import get_spark, session_conf

    # MR_REDUCE_BIN_URI overrides the reducer command, exactly as the
    # reference worker honors it (reducer.cc:71: envOr falls back to the
    # submitted binary URI).
    map_cmd = args.map_cmd
    reduce_cmd = os.environ.get("MR_REDUCE_BIN_URI", args.reduce_cmd)

    spark = get_spark("gridmr_submit")
    map_cmd = resolve_binary(spark, map_cmd)
    reduce_cmd = resolve_binary(spark, reduce_cmd)
    conf = {}
    if args.chunk_mb is not None:
        conf["spark.sql.files.maxPartitionBytes"] = str(args.chunk_mb * 1024 * 1024)
    with session_conf(spark, conf):  # the split size is this job's alone
        lines = sources.read_text(spark, args.input)
        out = pipe_job(spark, lines, map_cmd, reduce_cmd, n_reducers=args.reducers)
        sources.write(out, args.output, fmt="text", single_file=args.single_file)
    print(f"job complete: {args.output}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
