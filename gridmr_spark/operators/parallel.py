"""Driver-side job overlap for independent eager materializations.

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls them
sequentially (optimization guide §2.6). Multi-stage compositions in this
repo materialize independent sub-pipelines (shingle tables, candidate
sets, pair searches) with eager ``localCheckpoint`` calls — running those
from a small thread pool lets the next job's tasks back-fill executors
freed by the current job's tail instead of idling through it.

Default FIFO scheduling is exactly the back-fill behaviour wanted here.
Job groups/descriptions are thread-local; each thunk starts with its own
copy of the caller's (one ``inheritable_thread_target`` per thunk: the
wrapper clones the properties once, and every function it wraps shares
that clone), so its jobs carry the caller's label, and a thunk that sets
its own leaves its siblings' alone.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")


def run_parallel(*thunks: Callable[[], T]) -> list[T]:
    """Run the thunks concurrently (one driver thread each) and return
    their results in argument order. Exceptions propagate to the caller.

    Only for INDEPENDENT eager materializations — thunks must not depend
    on one another's results. 2-3 jobs in flight is the sweet spot (enough
    to fill the tail, not enough to fight for executors), which is what
    call sites pass.
    """
    if len(thunks) == 1:
        return [thunks[0]()]
    spark = SparkSession.active()
    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(inheritable_thread_target(spark)(t)) for t in thunks]
        return [f.result() for f in futures]
