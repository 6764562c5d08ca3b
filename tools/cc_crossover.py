"""Time one ``connected_components`` call in each regime, by edge count.

The size that picks the regime (``graph.SMALL_GRAPH_EDGES``) should sit
where the one-task solver stops beating the distributed round loop. This
script builds graphs of 2^k random edges over 2^(k+1) vertex ids, each
edge inside one block of 8 consecutive ids: many small components and
isolated vertices, the shape of a near-duplicate pair graph. Components
this small settle in a few rounds, the distributed loop's best case. Each
graph is built once with ``long`` and once with ``string`` ids, and
``connected_components(v, e).count()`` is timed with the constant forced
each way. Edges and vertices are materialized before the clock starts, so
only the call and its action are timed.

After each one-task call it also reads the peak resident set (``VmHWM``)
of the session's Python worker processes. Workers are reused, so the
reading is the peak over every call so far; sizes run in ascending order,
so it bounds the largest graph solved so far.

Usage: python tools/cc_crossover.py [--exp 14 17 20] [--reps 3] [--cpus 4]
Prints one JSON line per (edges, id type, regime): median and per-run
seconds, and for the one-task regime the worker peak RSS in MB.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from gridmr_spark.operators import graph  # noqa: E402
from gridmr_spark.session import get_spark  # noqa: E402


def _worker_peak_rss_mb() -> float:
    """Max VmHWM over this user's PySpark daemon/worker processes."""
    peak = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return round(peak / 1024, 1)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--exp", type=int, nargs="+", default=[14, 17, 20])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()

    spark = get_spark("cc_crossover", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    default = graph.SMALL_GRAPH_EDGES
    for k in sorted(args.exp):
        m, n = 1 << k, 1 << (k + 1)
        for id_type in ("long", "string"):
            src = F.floor(F.rand(k) * n)
            dst = src - src % 8 + F.floor(F.rand(k + 100) * 8)
            e = (
                spark.range(m)
                .select(src.cast(id_type).alias("src"), dst.cast(id_type).alias("dst"))
                .localCheckpoint()
            )
            v = spark.range(n).select(F.col("id").cast(id_type)).localCheckpoint()
            for regime, limit in (("one_task", 1 << 62), ("distributed", 0)):
                graph.SMALL_GRAPH_EDGES = limit
                runs = []
                for _ in range(args.reps):
                    t0 = time.perf_counter()
                    rows = graph.connected_components(v, e).count()
                    runs.append(round(time.perf_counter() - t0, 3))
                out = {
                    "edges": m,
                    "id_type": id_type,
                    "regime": regime,
                    "median_s": statistics.median(runs),
                    "runs_s": runs,
                    "rows": rows,
                }
                if regime == "one_task":
                    out["worker_peak_rss_mb"] = _worker_peak_rss_mb()
                print(json.dumps(out), flush=True)
    graph.SMALL_GRAPH_EDGES = default
    spark.stop()


if __name__ == "__main__":
    main()
