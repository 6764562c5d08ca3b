#!/usr/bin/env python3
"""Record, per registry query, what a "same plans, less code" change must
keep fixed: the normalized formatted physical plan, the number of Spark
jobs started while the query's DataFrame is being built (eager
checkpoints, commits, counts), and the oracle verdict.

Usage:

    python tools/plan_identity.py --sf SF_DIR --out before.json QUERY [QUERY ...]
    # ... apply the change (or run the same command from a second checkout)
    python tools/plan_identity.py --sf SF_DIR --out after.json QUERY [QUERY ...]
    python tools/plan_identity.py --compare before.json after.json

``SF_DIR`` holds the generated tables (e.g. the sf0.01 test data). Every
record is taken at ``CPUS`` = 4 local slots: shuffle partitions follow
from the slot count and show in the plan, so records are only comparable
at one setting. ``--compare`` prints one line per query and exits
non-zero when a plan, a job count or an oracle verdict differs.

Normalization: expression ids (``#12``), ``plan_id=N``, bracketed operator
ids (``[3]``) and random hex parts of file names are replaced by
placeholders, so two builds of the same plan compare equal across
sessions. Construction jobs
are counted by job group: the query's own group plus any job that started
with no group in the meantime (driver threads that do not inherit the
caller's group), so the count is comparable across both kinds of build.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = 4

_NORMALIZE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\[\d+\]"), "[N]"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "UUID"),
    (re.compile(r"(?<=[_-])[0-9a-f]{8,}(?![0-9a-z])"), "HEX"),
]


def normalize_plan(plan: str) -> str:
    for pat, rep in _NORMALIZE:
        plan = pat.sub(rep, plan)
    return plan


def _jobs_of(sc, group: str | None) -> set[int]:
    return set(sc.statusTracker().getJobIdsForGroup(group))


def _drain_listener_bus(sc) -> None:
    """Job-start events reach the status tracker asynchronously."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
    except Exception:
        time.sleep(1.0)


def record(names: list[str], sf_dir: str) -> dict[str, dict]:
    from gridmr_spark.plans import physical_plan
    from gridmr_spark.queries import load_all
    from gridmr_spark.session import get_spark
    from gridmr_spark.testing import compare_query, duckdb_connect

    spark = get_spark("plan_identity", cpus=CPUS)
    sc = spark.sparkContext
    reg = load_all()
    con = duckdb_connect(sf_dir)
    out: dict[str, dict] = {}
    try:
        for name in names:
            group = f"plan_identity:{name}"
            _drain_listener_bus(sc)
            ungrouped_before = _jobs_of(sc, None)
            sc.setJobGroup(group, name)
            try:
                df = reg[name].fn(spark, sf_dir)
            finally:
                sc.setJobGroup("plan_identity:oracle", "oracle")
            _drain_listener_bus(sc)
            jobs = len(_jobs_of(sc, group)) + len(_jobs_of(sc, None) - ungrouped_before)
            plan = normalize_plan(physical_plan(df))
            oracle = reg[name].oracle
            problems = compare_query(df, con, oracle) if oracle else None
            out[name] = {
                "plan": plan,
                "construction_jobs": jobs,
                "oracle": "n/a" if oracle is None else ("pass" if not problems else "; ".join(problems)),
            }
            plan_sha1 = hashlib.sha1(plan.encode()).hexdigest()
            print(f"{name}: jobs={jobs} plan={plan_sha1[:12]} oracle={out[name]['oracle']}", flush=True)
    finally:
        con.close()
        spark.stop()
    return out


def compare(before: dict[str, dict], after: dict[str, dict]) -> bool:
    same = True
    for name in sorted(set(before) | set(after)):
        a, b = before.get(name), after.get(name)
        if a is None or b is None:
            print(f"{name}: only in {'after' if a is None else 'before'}")
            same = False
            continue
        plan_ok = a["plan"] == b["plan"]
        jobs_ok = a["construction_jobs"] == b["construction_jobs"]
        oracle_ok = a["oracle"] == b["oracle"] and b["oracle"] in ("pass", "n/a")
        same &= plan_ok and jobs_ok and oracle_ok
        print(
            f"{name}: plan {'same' if plan_ok else 'DIFFERS'}, "
            f"jobs {a['construction_jobs']}->{b['construction_jobs']}, "
            f"oracle {a['oracle']}->{b['oracle']}"
        )
    return same


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--out")
    ap.add_argument("--sf")
    ap.add_argument("--compare", nargs=2, metavar=("BEFORE", "AFTER"))
    args = ap.parse_args()
    if args.compare:
        with open(args.compare[0]) as f1, open(args.compare[1]) as f2:
            return 0 if compare(json.load(f1), json.load(f2)) else 1
    if not args.queries or not args.out or not args.sf:
        ap.error("give --sf, --out and at least one query name (or --compare BEFORE AFTER)")
    result = record(args.queries, args.sf)
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
