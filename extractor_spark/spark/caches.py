"""Registry for persisted/checkpointed intermediates that back LAZY query
results (LSH signature DFs, connected-components label checkpoints).

A query that returns a DataFrame built on a persisted intermediate cannot
unpersist it before returning — the result hasn't been computed yet.  The
contract: the producer registers the intermediate here; consumers call
``retire_all()`` (via ``queries.release_query_caches``) after collecting.
Each producer also retires its own predecessor on re-invocation, so the
live set is bounded by the number of distinct cache-producing queries, not
by invocation count.

Every localCheckpoint in the package goes through :func:`local_checkpoint`.
``DataFrame.unpersist()`` is a no-op for a checkpoint (its blocks belong
to the internal RDD, not the cache manager; verified on Spark 4.1: only
the RDD's own ``unpersist`` releases them), so the function returns the
checkpointed frame together with a :class:`JvmRddHandle` on that RDD,
read from the frame's own ``LogicalRDD`` plan node.  The handle belongs
to the frame, so checkpoints taken concurrently on several driver threads
never see each other's handles.

OWNERSHIP
---------
``LIVE`` is a session-global registry with SINGLE-THREADED intent: queries
are invoked sequentially (driver harness, bench.py, tests), and
``retire_all()`` deliberately clears everything a consumer has finished
with.  A concurrent caller could retire another in-flight query's
checkpoint — callers that interleave cache-producing work inside a larger
job must use :func:`scope` (curate does), which retires only registrations
made inside the with-block.  Pinned by tests/test_caches_scope.py.
"""

from __future__ import annotations

import contextlib

LIVE: list = []


def register(handle) -> None:
    """``handle`` is anything with .unpersist(): a persisted DataFrame or a
    JvmRddHandle from :func:`local_checkpoint`."""
    LIVE.append(handle)


def retire_all() -> None:
    while LIVE:
        try:
            LIVE.pop().unpersist()
        except Exception:
            pass


@contextlib.contextmanager
def scope():
    """Scoped ownership: retires (on exit, including on error) only the
    caches registered INSIDE the with-block.  Registrations made before
    entry — owned by pending lazy query results elsewhere — are untouched.
    This is the sanctioned way for a composite job to consume
    cache-producing sub-queries without the session-global ``retire_all``
    footgun (round-3 verdict item 7)."""
    mark = len(LIVE)
    try:
        yield
    finally:
        while len(LIVE) > mark:
            try:
                LIVE.pop().unpersist()
            except Exception:
                pass


class JvmRddHandle:
    """Unpersist wrapper around a JVM RDD (the only way to release a
    localCheckpoint's blocks)."""

    def __init__(self, jrdd):
        self._jrdd = jrdd

    def unpersist(self) -> None:
        self._jrdd.unpersist(False)


def local_checkpoint(df, eager: bool = True):
    """``df.localCheckpoint(eager)`` → ``(frame, handle)``, where ``handle``
    releases exactly the blocks behind ``frame`` (the RDD its analyzed
    ``LogicalRDD`` plan reads).  Lazy checkpoints are marked at call time,
    so the handle is valid before the first action materializes them."""
    out = df.localCheckpoint(eager=eager)
    plan = out._jdf.queryExecution().analyzed()
    if plan.nodeName() != "LogicalRDD":
        raise RuntimeError(
            f"localCheckpoint produced a {plan.nodeName()} plan, not a LogicalRDD"
        )
    return out, JvmRddHandle(plan.rdd())
