"""Scale-adaptive execution tuning for iterative operators (r6).

The power-iteration / merge-loop operators (pagerank, trustrank, HITS,
connected components, BPE learning) run O(rounds) Spark jobs over a state
frame whose size is set by the DATA (hosts, vocabulary words), not the
cluster.  With the session-wide ``spark.sql.shuffle.partitions`` (= core
count) every round schedules full-width stages — at bench scale that is
32 tasks per stage for a 53-row state, and the fixed per-task/per-stage
overhead dominates the loop (guide §2: make partitioning scale-adaptive,
derive it from input size rather than a constant tuned for either local
mode or the cluster).

``loop_partitions`` derives the loop's shuffle width from the state/edge
row count; ``scoped_loop_conf`` applies it for the duration of the loop
and restores the session conf afterwards.  In the tiny regime (≤4
partitions) AQE is also scoped off: its per-shuffle materialize/replan
barrier costs more than any re-optimization can save on single-digit-
partition exchanges, while at probe scale (e.g. 2M edges → full width)
AQE and its skew handling stay on.

``checkpoint_loop`` is the round protocol all of those loops run: a lazy
checkpoint of the new state, one materializing action, release of the
parent generation only after that action, and a stop on the caller's
test or a round cap.

Correctness note: partition-count changes can reorder floating-point
additions inside aggregations (±ulps).  Integer/min/max loops (CC, BPE)
are exactly order-independent; the double-summing graph loops are pinned
by their same-iterate numpy twins (±1e-12) and verified output-identical
at the driver SFs (OPTIMIZATION_r06.md).
"""

from __future__ import annotations

import itertools
import math
from contextlib import contextmanager

from . import caches

# Target state/edge rows per shuffle partition inside iterative loops.
# ~50k host- or word-sized rows is well under a MB-scale partition; the
# cap at defaultParallelism keeps probe-scale runs (2M edges) at full
# cluster width.
ROWS_PER_PARTITION = 50_000


def loop_partitions(sc, n_rows: int, rows_per_partition: int = ROWS_PER_PARTITION) -> int:
    """Shuffle width for an iterative loop over ``n_rows``-row state."""
    if n_rows <= 0:
        return 1
    return max(1, min(sc.defaultParallelism, math.ceil(n_rows / rows_per_partition)))


@contextmanager
def scoped_loop_conf(spark, n_parts: int, codegen: bool = True):
    """Scope ``spark.sql.shuffle.partitions`` (and, in the tiny regime,
    AQE) to an iterative loop; always restores the previous values.

    The scope mutates SESSION-GLOBAL conf: every plan compiled on any
    driver thread while it is open sees it.  Loops that run concurrently
    on threads must therefore share ONE scope, entered before the threads
    start — webgraph.spam_mass_ranks, the only such caller, runs both of
    its loops on one setup with one width.

    ``codegen=False`` (graph loops only) additionally disables whole-stage
    and expression codegen IN THE TINY REGIME: every round's plan embeds
    fresh literals (the previous round's scalar), so Janino compiles new
    classes each round with zero cache hits — tens of ms per stage to
    execute over a host-sized frame where interpreted evaluation is
    trivially cheap.  Execution strategy only, results identical (same
    expression tree, same FP op order).  Loops whose per-row work is
    heavy (BPE's symbol-array fold, incdedup's signature hashing) keep
    codegen — there the compiled inner loop pays for itself."""
    conf = spark.conf
    old_parts = conf.get("spark.sql.shuffle.partitions")
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    no_cg = not codegen and n_parts <= 4
    if no_cg:
        old_wscg = conf.get("spark.sql.codegen.wholeStage")
        old_fact = conf.get("spark.sql.codegen.factoryMode")
    conf.set("spark.sql.shuffle.partitions", str(n_parts))
    if n_parts <= 4:
        conf.set("spark.sql.adaptive.enabled", "false")
    if no_cg:
        conf.set("spark.sql.codegen.wholeStage", "false")
        conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try:
        yield
    finally:
        conf.set("spark.sql.shuffle.partitions", old_parts)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
        if no_cg:
            conf.set("spark.sql.codegen.wholeStage", old_wscg)
            conf.set("spark.sql.codegen.factoryMode", old_fact)


def checkpoint_loop(state, handle, step, action, max_rounds: int | None = None):
    """Run an iterative operator's rounds with flat lineage and bounded
    checkpoint storage; returns the final generation's ``(frame, handle)``.

    ``state``/``handle`` are the first generation, as returned by
    ``caches.local_checkpoint``.  Each round:

    1. ``step(state)`` builds the next generation, which takes a LAZY
       localCheckpoint (no job of its own);
    2. ``action(new)`` runs the round's one Spark job — it reads every
       partition, so the checkpoint blocks it stores as a side effect are
       complete — and returns True to stop;
    3. only then is the parent generation released: the lazy checkpoint's
       computation reads it, and a lineage-truncated RDD cannot be
       recomputed once unpersisted.  Peak state storage is two rounds.

    The loop ends when ``action`` returns True or after ``max_rounds``
    rounds (None = until ``action`` stops it).  The caller owns the final
    handle: it registers it (``caches.register``) when the frame backs a
    lazy result, or releases it."""
    rounds = itertools.count() if max_rounds is None else range(max_rounds)
    for _ in rounds:
        new, new_handle = caches.local_checkpoint(step(state), eager=False)
        stop = action(new)
        handle.unpersist()
        state, handle = new, new_handle
        if stop:
            break
    return state, handle
