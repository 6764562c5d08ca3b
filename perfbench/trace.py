"""Benchmark-side tracing: spans around calls into the program's layers,
call counters, and host/process CPU counters read from ``/proc``.

Nothing here changes the program. Spans are recorded by the benchmark
around the public functions it calls, and by wrappers it installs on a
few public functions (``Tracer.install``) before the query modules are
imported — the query modules bind ``load_table`` at import, so a wrapper
installed later would never see their calls.

Each span sets a Spark job group (``pb-<pass>-<seq>``) on the calling
thread, so the event log attributes the jobs it launches. Jobs launched
from ``operators.parallel.run_parallel`` threads lose the group (job
groups are thread-local); the event-log parser attributes those by time
window instead and counts them as unlabelled.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time
from collections import Counter
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """Cumulative CPU time the hypervisor gave to other guests, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


def _read_stat(pid: str) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own CPU s, reaped-children CPU s) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None  # exited between listdir and open
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    own = (int(rest[11]) + int(rest[12])) / CLK_TCK
    reaped = (int(rest[13]) + int(rest[14])) / CLK_TCK
    return comm, int(rest[1]), own, reaped


def _proc_table() -> dict[int, tuple[str, int, float, float]]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _read_stat(d)
            if st is not None:
                out[int(d)] = st
    return out


def _children(stats: dict) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in stats.items():
        out.setdefault(ppid, []).append(pid)
    return out


def tree_cpu(root_pid: int) -> dict[str, float]:
    """CPU seconds of the process tree under ``root_pid``, split by kind:
    ``driver`` (the benchmark's own Python process), ``jvm`` (the Spark
    JVM) and ``py_workers`` (every process under the JVM — the PySpark
    daemon and its forked workers — plus what the JVM reaped). Reaped
    children count through their parent's ``cutime``/``cstime``."""
    stats = _proc_table()
    children = _children(stats)
    out = {"driver": 0.0, "jvm": 0.0, "py_workers": 0.0}
    if root_pid not in stats:
        return out
    _, _, own, reaped = stats[root_pid]
    out["driver"] = own + reaped
    stack = [(c, False) for c in children.get(root_pid, [])]
    while stack:
        pid, under_jvm = stack.pop()
        comm, _, own, reaped = stats[pid]
        if comm == "java" and not under_jvm:
            out["jvm"] += own
            out["py_workers"] += reaped
            under_jvm = True
        else:
            out["py_workers"] += own + reaped
        stack.extend((c, under_jvm) for c in children.get(pid, []))
    return out


def descendants(root_pid: int) -> list[int]:
    """Every live process under ``root_pid`` (any depth)."""
    children = _children(_proc_table())
    out, stack = [], list(children.get(root_pid, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


@dataclass
class Span:
    pass_idx: int
    seq: int
    name: str
    t0: float
    t1: float
    group: str | None
    parent: int | None  # seq of the enclosing span on the same thread
    main_thread: bool


class Tracer:
    """Records spans and counters per pass. Disabled, every method is a
    no-op that still runs the wrapped call, so untraced runs time the
    program alone."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[int, Counter] = {}
        self.pass_idx = -1
        self._seq = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def begin_pass(self, idx: int) -> None:
        self.pass_idx = idx

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts.setdefault(self.pass_idx, Counter())[name] += n

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        with self._lock:
            self._seq += 1
            seq = self._seq
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        group = f"pb-{self.pass_idx}-{seq}"
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(group, name)
        stack.append(seq)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(Span(self.pass_idx, seq, name, t0, t1, group, parent,
                                       threading.current_thread() is threading.main_thread()))

    def wrap(self, owner, attr: str, span: str | None = None, count: str | None = None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span and/or
        bumps a counter around each call."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if count:
                tracer.count(count)
            if span is None:
                return fn(*args, **kwargs)
            with tracer.span(span):
                return fn(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the layer entry points the workloads reach indirectly.
        Must run before ``gridmr_spark.queries`` is imported."""
        import sys

        from pyspark.sql.classic.dataframe import DataFrame

        from gridmr_spark import catalog
        from gridmr_spark.operators import parallel
        from gridmr_spark.sources.table_format import ManifestTable

        if any(m.startswith("gridmr_spark.queries") for m in sys.modules):
            raise RuntimeError("install() must run before gridmr_spark.queries is imported")
        self.wrap(catalog, "load_table", span="catalog.load_table")
        self.wrap(parallel, "run_parallel", span="operators.run_parallel")
        for meth in ("localCheckpoint", "checkpoint", "persist", "cache"):
            self.wrap(DataFrame, meth, count="operators.materializations")
        for meth in ("commit", "merge_by_key", "read"):
            self.wrap(ManifestTable, meth, span=f"sources.{meth}")
