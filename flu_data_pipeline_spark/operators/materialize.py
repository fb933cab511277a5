"""Driver-side materialization helpers shared by the plans and the pipeline.

The materialization rule: every driver-side boundary of a plan (a frame
pinned so later plans read it instead of recomputing it, or so a loop's
lineage stops growing) goes through :func:`barrier`, and nothing else in
the package calls ``localCheckpoint``, ``checkpoint`` or ``persist``
(a test fails on those literals outside this module). The policy is a
local checkpoint: executor storage, no reliable-storage write, released
with the session. The one other cache is ``sources.writers``'
``idempotent_append``, scoped to a single append and unpersisted by it.

:func:`barrier` pins a frame and names the jobs it runs.
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
from pyspark.sql import DataFrame, SparkSession


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


def barrier(df: DataFrame, label: str, *, eager: bool = True) -> DataFrame:
    """``df`` materialized as a local checkpoint, with every job the
    checkpoint submits labelled ``label`` through :func:`job_label`
    (``outer/label`` under an outer label, such as the query name
    ``bench.py`` sets).

    ``eager=True`` computes the whole frame at the call. ``eager=False``
    defers only the final stage: under AQE the checkpoint still plans
    the final adaptive plan at the call, so every shuffle stage of the
    frame's plan runs there, as jobs carrying the label. The final stage
    runs when a consumer first reads the frame, under the consumer's
    label. Either way the returned frame's plan is a scan of the
    checkpointed rows, so later plans do not recompute or re-plan it.
    """
    with job_label(df.sparkSession, label):
        return df.localCheckpoint(eager=eager)
