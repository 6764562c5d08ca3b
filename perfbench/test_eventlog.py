"""Event-log parser test on a small recorded log.

``testdata/eventlog_small.jsonl`` was recorded from a local[2] session with
the event log on, then trimmed to the fields ``eventlog.py`` reads. It holds
four jobs:

- jobs 0 and 1 ran on the main thread under the job group ``pb-0-1``: a
  ``groupBy().count().collect()``, which AQE splits into a map job and a
  result job;
- jobs 2 and 3 ran a ``count()`` from a plain ``threading.Thread``, which
  does not inherit the group, just as a ``run_parallel`` worker does not.

Run: ``python3 -m pytest perfbench/test_eventlog.py -q -p no:cacheprovider``
"""

from __future__ import annotations

import os
import sys

import pytest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "eventlog_small.jsonl")
T0, T1 = 1792225331000, 1792225332400  # a window holding all four jobs


@pytest.fixture(scope="module")
def log():
    return eventlog.read(LOG)


def test_parse_jobs_tasks_and_groups(log):
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert [log.jobs[j].group for j in range(4)] == ["pb-0-1", "pb-0-1", None, None]
    assert all(j.end_ms >= j.submit_ms for j in log.jobs.values())
    assert len(log.tasks) == 6
    assert sorted(t.task_type for t in log.tasks).count("ShuffleMapTask") == 4
    # stage 1 is listed by job 1 but skipped there; every stage maps to the
    # first job that lists it
    assert log.stage_job() == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3, 5: 3}


def test_pass_metrics_counts_and_busy_time(log):
    m = eventlog.pass_metrics(log, T0, T1, slots=2, spans=[("pb-0-1", "build:q", T0, T1)])
    assert m["jobs"] == 4
    assert m["tasks"] == 6
    assert m["tasks_per_job"] == pytest.approx(1.5)
    assert m["map_tasks"] == 4
    # jobs run for 547 + 207 + 76 + 80 = 910 ms of the 1400 ms window
    assert m["no_job_s"] == pytest.approx(0.490)
    # task durations 336 + 357 + 158 + 49 + 51 + 62 = 1013 ms over 2 slots
    assert m["slot_occupancy"] == pytest.approx(1013 / 2800)
    assert m["executor_cpu_s"] > 0
    assert m["shuffle_write_mb"] > 0


def test_unlabelled_jobs_go_to_the_innermost_open_span(log):
    spans = [
        ("pb-0-1", "build:q", T0, T1),
        ("pb-0-9", "operators.run_parallel", 1792225332000, 1792225332350),
    ]
    m = eventlog.pass_metrics(log, T0, T1, slots=2, spans=spans)
    assert m["unlabelled_jobs"] == 2
    assert m["by_span"]["build:q"] == {"jobs": 2, "ShuffleMapTask": 2, "ResultTask": 1}
    assert m["by_span"]["operators.run_parallel"] == {
        "jobs": 2, "ShuffleMapTask": 2, "ResultTask": 1,
    }


def test_window_keeps_only_jobs_submitted_inside_it(log):
    m = eventlog.pass_metrics(log, 1792225331600, 1792225332000, slots=2, spans=[])
    assert m["jobs"] == 1 and m["tasks"] == 1
    assert m["unlabelled_jobs"] == 0  # job 1 carries a benchmark group
    assert m["by_span"] == {"(none)": {"jobs": 1, "ResultTask": 1}}


def test_covered_ms_merges_and_clips():
    assert eventlog.covered_ms([(0, 10), (5, 20), (30, 40)], 0, 35) == 25
    assert eventlog.covered_ms([(50, 60)], 0, 35) == 0
    assert eventlog.covered_ms([], 0, 10) == 0


def test_compat_map_tasks_do_not_depend_on_the_launching_span(log):
    """The word-count pass counts every map task of the pass, whether the
    map stage ran under run_job (schema inference) or under the final
    collect."""
    from perfbench.trace import Tracer
    from perfbench.workloads import MrWordcount

    wl = MrWordcount(None, "", Tracer(enabled=False))
    for name in ("build:compat.run_job", "exec:collect"):
        m = eventlog.pass_metrics(log, T0, T1, slots=2, spans=[("pb-0-1", name, T0, T1)])
        assert wl.layer_metrics(0, m)["compat.map_tasks"] == 4
