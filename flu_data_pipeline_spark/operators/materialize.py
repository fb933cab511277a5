"""Driver-side materialization helpers shared by the plans and the pipeline.

:func:`overlap` runs mutually independent blocking driver actions
(eager checkpoints, probe collects, per-table loads) concurrently, so
the scheduler back-fills executors freed by one job's stragglers with
the next job's tasks instead of idling between them.
:func:`job_label` names the jobs a block submits, so the status store
and the Spark UI attribute them.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

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
    The session form copies them once per wrapper, not once per thunk,
    so every thunk gets its own wrapper: with one shared copy, a thunk
    that sets its own job description (:func:`job_label`) would relabel
    the jobs of the others.

    Exceptions propagate exactly as in the sequential form: the first
    failing thunk's error raises at its position's ``result()``. Zero
    or one thunk runs inline on the calling thread.
    """
    if len(thunks) <= 1:
        return [t() for t in thunks]
    # with the active session the wrapper also carries its tags; without
    # one (no Spark started) the plain form returns the thunk unchanged
    session = SparkSession.getActiveSession()
    targets = [
        inheritable_thread_target(session)(t) if session else inheritable_thread_target(t)
        for t in thunks
    ]
    with ThreadPoolExecutor(max_workers=len(targets)) as pool:
        futures = [pool.submit(t) for t in targets]
        return [f.result() for f in futures]


@contextmanager
def job_label(spark: SparkSession, label: str):
    """Every job submitted inside the block, from this thread or from
    threads it starts through :func:`overlap`, carries ``label`` as its
    job description, after the description this thread already carries
    (``outer/label``) if it has one. The previous description is
    restored on exit."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"{prev}/{label}" if prev else label)
    try:
        yield
    finally:
        sc.setJobDescription(prev)
