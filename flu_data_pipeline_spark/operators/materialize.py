"""Driver-side materialization helpers shared by the plans and the pipeline.

:func:`overlap` runs mutually independent blocking driver actions
(eager checkpoints, probe collects, per-table loads) concurrently, so
the scheduler back-fills executors freed by one job's stragglers with
the next job's tasks instead of idling between them.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def overlap(*thunks):
    """Run independent Spark driver actions concurrently and return
    their results in call order.

    Each thunk runs the exact job it would run sequentially — same plan,
    same shuffles, same results — only the wall-clock overlap changes.
    Spark's scheduler accepts concurrent jobs from driver threads (FIFO:
    earlier submissions get resources first, later ones back-fill).

    PySpark pins every Python thread to its own JVM thread, so a plain
    worker thread would submit its jobs without the caller's local
    properties (job description, job group, scheduler pool). Each thunk
    is therefore wrapped with :func:`pyspark.inheritable_thread_target`
    on the calling thread, which copies those properties at wrap time.

    Exceptions propagate exactly as in the sequential form: the first
    failing thunk's error raises at its position's ``result()``. Zero
    or one thunk runs inline on the calling thread.
    """
    if len(thunks) <= 1:
        return [t() for t in thunks]
    # with the active session the wrapper also carries its tags; without
    # one (no Spark started) the plain form returns the thunk unchanged
    session = SparkSession.getActiveSession()
    wrap = inheritable_thread_target(session) if session else inheritable_thread_target
    targets = [wrap(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=len(targets)) as pool:
        futures = [pool.submit(t) for t in targets]
        return [f.result() for f in futures]
