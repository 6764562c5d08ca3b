"""Per-process scratch paths (sources.scratch_dir): every call gets a path
of its own, so no query reads files an earlier call or run left behind."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pytest

from gridmr_spark.queries import load_all
from gridmr_spark.sources import scratch_dir
from gridmr_spark.testing import compare_query

REG = load_all()


def test_scratch_dir_paths_are_fresh_under_one_process_dir():
    a, b = scratch_dir("t"), scratch_dir("t")
    assert a != b
    assert not os.path.exists(a) and not os.path.exists(b)
    root = os.path.dirname(a)
    assert os.path.dirname(b) == root
    assert os.path.basename(root).startswith("gridmr-")
    assert os.path.dirname(root) == tempfile.gettempdir()


def test_scratch_dir_paths_stay_unique_across_threads():
    """Queries call scratch_dir from run_parallel threads."""
    from concurrent.futures import ThreadPoolExecutor

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as ex:
            futures = [ex.submit(lambda: [scratch_dir("t") for _ in range(200)])
                       for _ in range(16)]
            paths = [p for f in futures for p in f.result(timeout=60)]
    finally:
        sys.setswitchinterval(interval)
    assert len(set(paths)) == len(paths) == 16 * 200
    assert len({os.path.dirname(p) for p in paths}) == 1


def test_scratch_dir_is_removed_at_exit(tmp_path):
    code = (
        "import os\n"
        "from gridmr_spark.sources import scratch_dir\n"
        "p = scratch_dir('x')\n"
        "os.makedirs(p)\n"
        "open(os.path.join(p, 'f'), 'w').close()\n"
        "print(p)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=repo,
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert out.startswith(str(tmp_path))
    assert os.listdir(tmp_path) == []


@pytest.mark.parametrize(
    "name, index_class",
    [("similarity_ivf_persisted", "PersistedIVF"), ("similarity_pq_persisted", "PersistedPQ")],
)
def test_persisted_index_is_built_on_every_call(
    spark, duck, sf_oracle, monkeypatch, name, index_class
):
    from gridmr_spark.operators import ann_index

    cls = getattr(ann_index, index_class)
    build = cls.build
    paths = []

    def spy(self, *args, **kwargs):
        paths.append(args[3])  # (df, id_col, vec_col, path, ...)
        return build(self, *args, **kwargs)

    monkeypatch.setattr(cls, "build", spy)
    q = REG[name]
    for call in (1, 2):
        problems = compare_query(q.fn(spark, sf_oracle), duck, q.oracle)
        assert not problems, f"{name} call {call}: " + "; ".join(problems)
        assert len(paths) == call
    assert paths[0] != paths[1]
