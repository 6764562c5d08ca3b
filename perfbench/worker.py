"""One benchmark run inside a fresh process: start the session, run one
cold pass, discard a warm-up pass, then time identical warm passes.

Started by ``run.py`` with the run's hermetic environment; it writes its
per-pass records as JSON to ``--out``.

Usage (normally through run.py)::

    python3 perfbench/worker.py --workload dedup_chain --data DIR --out FILE \
        --spawn-time T --seconds 22 --trace 0
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import eventlog  # noqa: E402
from perfbench.trace import Tracer, descendants, host_steal_s, tree_cpu  # noqa: E402

WARMUP_PASSES = 1
MIN_TIMED_PASSES = 3  # the median of three shrugs off one pass hit by host steal


def run_pass(wl, tracer: Tracer, idx: int, kind: str) -> dict:
    """One pass: timed outputs, then the untimed output check."""
    me = os.getpid()
    tracer.begin_pass(idx)
    cpu0, steal0 = tree_cpu(me), host_steal_s()
    t0 = time.time()
    rec = {"pass": idx, "kind": kind, "traced": tracer.enabled, "ok": False, "problems": []}
    outputs = None
    try:
        outputs = wl.run_pass()
    except Exception:  # a failed pass is counted, never dropped
        rec["problems"] = [traceback.format_exc(limit=5)]
    t1 = time.time()
    cpu1, steal1 = tree_cpu(me), host_steal_s()
    rec.update(
        t0=t0,
        t1=t1,
        wall_s=t1 - t0,
        cpu={k: cpu1[k] - cpu0[k] for k in cpu0},
        steal_s=steal1 - steal0,
    )
    rec["cpu_s"] = sum(rec["cpu"].values())
    if outputs is not None:
        t_check = time.time()
        try:
            rec["problems"] = wl.check(outputs)
        except Exception:
            rec["problems"] = [traceback.format_exc(limit=5)]
        rec["ok"] = not rec["problems"]
        rec["check_s"] = time.time() - t_check
    return rec


def _median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(wl, tracer: Tracer, passes: list[dict], log_path: str | None,
                  slots: int) -> dict:
    """Per-layer medians over the timed passes of a traced run."""
    log = eventlog.read(log_path) if log_path else eventlog.EventLog()
    per_pass = []
    for rec in passes:
        idx, lo, hi = rec["pass"], int(rec["t0"] * 1000), int(rec["t1"] * 1000)
        spans = [s for s in tracer.spans if s.pass_idx == idx]
        spans_ms = [(s.group, s.name, int(s.t0 * 1000), int(s.t1 * 1000)) for s in spans]
        ev = eventlog.pass_metrics(log, lo, hi, slots, spans_ms)

        def total(prefix: str) -> float:
            return sum(s.t1 - s.t0 for s in spans if s.name.startswith(prefix))

        top = [(a, b) for s, (_, _, a, b) in zip(spans, spans_ms)
               if s.parent is None and s.main_thread]
        m = {
            "pass.build_s": total("build:"),
            "pass.exec_s": total("exec:"),
            "operators.materializations": tracer.counts.get(idx, {}).get(
                "operators.materializations", 0),
            "operators.run_parallel_s": eventlog.covered_ms(
                [(a, b) for _, n, a, b in spans_ms if n == "operators.run_parallel"],
                lo, hi) / 1000.0,
            "sources.commit_s": total("sources.commit"),
            "sources.merge_by_key_s": total("sources.merge_by_key"),
            "cpu.driver_s": rec["cpu"]["driver"],
            "cpu.jvm_s": rec["cpu"]["jvm"],
            "cpu.py_workers_s": rec["cpu"]["py_workers"],
            "host.steal_s": rec["steal_s"],
            "trace.span_coverage": eventlog.covered_ms(top, lo, hi) / max(1, hi - lo),
        }
        for k in ("jobs", "tasks_per_job", "map_tasks", "no_job_s", "slot_occupancy",
                  "executor_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "unlabelled_jobs"):
            m[f"spark.{k}"] = ev[k]
        m.update(wl.layer_metrics(idx, ev))
        per_pass.append(m)
    return {k: _median([m[k] for m in per_pass]) for k in per_pass[0]} if per_pass else {}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--seconds", type=float, default=22.0)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)

    tracer = Tracer(enabled=bool(args.trace))
    if tracer.enabled:
        tracer.install()  # before any gridmr_spark.queries import
    from gridmr_spark.session import get_spark

    t = time.time()
    spark = get_spark()
    t_ready = time.time()
    result = {"setup_s": t_ready - args.spawn_time, "session_start_s": t_ready - t,
              "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "0")), "passes": []}
    from perfbench.workloads import WORKLOADS  # after set-up: not part of setup_s

    tracer.bind(spark)
    wl = WORKLOADS[args.workload](spark, args.data, tracer)
    wl.prepare()
    passes = result["passes"]
    passes.append(run_pass(wl, tracer, 0, "cold"))
    for _ in range(WARMUP_PASSES):
        passes.append(run_pass(wl, tracer, len(passes), "warmup"))
    # The timed-pass count is fixed per workload for a given --seconds
    # (seconds / the workload's nominal pass time), not read off the clock:
    # CPU per pass still falls pass by pass as the JIT warms up, so a count
    # that followed host speed would move the median with it. A traced run
    # times ABBA blocks of traced and untraced passes (same mean position
    # on that curve) for trace.overhead; the event log stays on throughout.
    n = max(MIN_TIMED_PASSES, math.ceil(args.seconds / wl.nominal_pass_s))
    block = (True, False, False, True) if tracer.enabled else (False,)
    for _ in range(math.ceil(n / len(block))):
        for traced in block:
            tracer.enabled = traced
            passes.append(run_pass(wl, tracer, len(passes), "timed"))
    result["pids"] = descendants(os.getpid())
    spark.stop()

    if args.trace:
        logs = glob.glob(os.path.join(os.environ["PERFBENCH_EVENTLOG_DIR"], "*"))
        timed = [p for p in passes if p["kind"] == "timed"]
        on = [p for p in timed if p["traced"]]
        off = [p["wall_s"] for p in timed if not p["traced"]]
        layers = layer_metrics(wl, tracer, on, logs[0] if logs else None, result["cpus"])
        layers["trace.overhead"] = _median([p["wall_s"] for p in on]) / _median(off)
        layers["session.start_s"] = result["session_start_s"]
        # load_table's first-call cost (schema inference) is what it adds
        # to cold_pass_s, so it is read from the cold pass
        layers["catalog.load_table_s"] = sum(
            s.t1 - s.t0 for s in tracer.spans
            if s.pass_idx == 0 and s.name == "catalog.load_table")
        result["layers"] = layers
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
