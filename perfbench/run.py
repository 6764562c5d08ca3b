"""Benchmark entry point: one run of one workload, closed loop, one client.

    python3 perfbench/run.py --workload dedup_chain --seed 1 --seconds 22 --trace 0

Run from the root of a checkout. The run

1. makes a hermetic scratch directory under ``.perfbench_runs/`` holding
   TMPDIR, SPARK_LOCAL_DIRS, the warehouse, the event log and the inputs,
   and deletes it at the end;
2. writes the seeded inputs (``workloads.<W>.generate``);
3. starts ``worker.py`` in a fresh process with the checkout on
   PYTHONPATH (so Spark's Python workers import the package from any
   cwd), cwd set to the scratch directory and ``local[nproc]`` slots;
4. prints one detail line per pass (wall, CPU split, host steal, check
   result), a summary line and, last, the result JSON.

With ``--trace 1`` the worker runs with Spark's event log on and times
traced and untraced passes (benchmark-side spans and job groups on or
off); the last line then holds the per-layer metrics.

Exit code 0 only when every run finished and printed its result; a pass
that fails or returns a wrong output is counted in ``failed``.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import shlex  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import descendants  # noqa: E402

RUN_DEADLINE_S = 175  # a run must end within 180 s
END_TO_END = ("setup_s", "cold_pass_s", "pass_s", "pass_cpu_s")
# The per-layer metrics of BENCHMARK.json: the ones both benchmark
# workloads exercise. Layer-specific numbers (catalog, run_parallel,
# sources, compat) are on the "layers" detail line.
PER_LAYER = {
    "session.start_s": "s", "pass.build_s": "s", "pass.exec_s": "s",
    "operators.materializations": "count", "spark.map_tasks": "count",
    "cpu.driver_s": "s", "cpu.jvm_s": "s", "cpu.py_workers_s": "s", "host.steal_s": "s",
    "spark.jobs": "count", "spark.tasks_per_job": "count", "spark.no_job_s": "s",
    "spark.slot_occupancy": "ratio", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.unlabelled_jobs": "count",
    "trace.overhead": "ratio", "trace.span_coverage": "ratio",
}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def _reap(proc: subprocess.Popen, pids: list[int]) -> None:
    """Stop the worker's process group and every process it reported
    (the JVM and PySpark daemon run in their own groups), then wait."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGTERM)
            except ProcessLookupError:
                pass
    proc.wait()
    give_up = time.time() + 10
    while any(_alive(p) for p in pids) and time.time() < give_up:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def start_worker(run_dir: str, env: dict, args: list[str], deadline: float) -> dict:
    """Run worker.py once in a fresh process; return its JSON result."""
    out = os.path.join(run_dir, "worker.json")
    log = os.path.join(run_dir, "worker.log")
    spawn = time.time()
    with open(log, "w") as logf:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"),
             "--out", out, "--spawn-time", repr(spawn), *args],
            cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
    result = None
    try:
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        if proc.returncode == 0 and os.path.exists(out):
            with open(out) as f:
                result = json.load(f)
    finally:  # also on SIGTERM (see main): a live worker's tree is stopped too
        _reap(proc, result["pids"] if result else descendants(proc.pid))
    if result is None:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"worker failed (exit {proc.returncode}):\n{tail}")
    return result


def hermetic_env(run_dir: str, trace: bool) -> dict:
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    cpus = len(os.sched_getaffinity(0))
    confs = [
        f"spark.sql.warehouse.dir={dirs['warehouse']}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    ]
    if trace:
        confs += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                  "spark.eventLog.rolling.enabled=false",
                  f"spark.eventLog.dir=file://{dirs['eventlog']}"]
    env.update(
        # the short-lived JVM spark-submit starts first to build the command
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONPATH=os.pathsep.join([ROOT, *filter(None, [env.get("PYTHONPATH")])]),
        PYTHONDONTWRITEBYTECODE="1",
        PERFBENCH_EVENTLOG_DIR=dirs["eventlog"],
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {shlex.quote(c)}" for c in confs)
        + " pyspark-shell",
    )
    return env


def summarize(res: dict) -> dict:
    """End-to-end numbers; in a traced run, from its untraced passes."""
    timed = [p for p in res["passes"]
             if p["kind"] == "timed" and p["ok"] and not p["traced"]]
    cold = res["passes"][0]
    return {
        "cold_pass_s": cold["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in timed) if timed else None,
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in timed) if timed else None,
        "timed_passes": len(timed),
    }


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    # SIGTERM unwinds through the finally blocks: the worker's processes
    # are stopped and the run directory is deleted.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=22)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gridmr_spark")):
        print("gridmr_spark package not found next to perfbench/", file=sys.stderr)
        return 2

    deadline = time.time() + RUN_DEADLINE_S
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        data = os.path.join(run_dir, "data")
        os.makedirs(data)
        WORKLOADS[args.workload].generate(args.seed, data)
        env = hermetic_env(run_dir, bool(args.trace))
        result = start_worker(run_dir, env, [
            "--workload", args.workload, "--data", data, "--seconds", str(args.seconds),
            "--trace", str(args.trace)], deadline)
    except RuntimeError as e:
        print(e, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it

    passes = result["passes"]
    for p in passes:
        print(json.dumps({
            "pass": p["pass"], "kind": p["kind"], "traced": p["traced"],
            "ok": p["ok"], "wall_s": round(p["wall_s"], 4), "cpu_s": round(p["cpu_s"], 4),
            "check_s": round(p.get("check_s", 0.0), 3),
            "cpu": {k: round(v, 3) for k, v in p["cpu"].items()},
            "host_steal_s": round(p["steal_s"], 3),
            "problems": [x[:300] for x in p["problems"]],
        }))
    attempted = len(passes)
    failed = sum(not p["ok"] for p in passes)
    summary = summarize(result)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cpus": result["cpus"],
                      **summary}))
    if args.trace:
        layers = result["layers"]
        print(json.dumps({"layers": layers}))
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = dict(summary, setup_s=result["setup_s"])
        metrics = {k: {"value": values[k], "unit": "s"} for k in END_TO_END
                   if values[k] is not None}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
