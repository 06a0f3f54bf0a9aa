"""Shared-frame pin lifecycle — THE one idiom for materialize-once
frames (VERDICT r13 items 3/4).

The rule
--------
A frame consumed by 2+ downstream plan branches is pinned with
:func:`pin` — a **lazy** ``persist()`` plus registration for later
release.  ``persist()`` keeps the builder plan-only (Spark's cache
manager registers the entry immediately but computes nothing until the
first action, and every later consumer — even in a *different* plan —
is rewritten onto the in-memory relation during analysis), whereas
``localCheckpoint(eager=False)`` fires a Spark job at call time on this
build, silently making "plan-only" builders eager.

``localCheckpoint`` remains sanctioned ONLY where the lineage itself
must be severed, not merely shared:

- iterative fixpoints that rebind a frame each round (``graph.py``
  connected components / PageRank / label propagation, ``text.py``'s
  BPE merge loop, q126's power iteration) — without a cut the plan
  doubles per round;
- optimizer isolation where a derived join key's expression tree sends
  constraint inference into heap blowup (``similarity.py``'s
  ``_assigned_corpus`` / recall-audit corpus, the q62 centroid-frame
  lesson) — documented at each site;
- streaming micro-batch pins (``eager=True`` by design: foreachBatch
  must materialize the batch before the source advances).

Release
-------
Pins registered here are released by the job-shaped caller that owns
the action: ``CurateJob`` stages release on stage completion (stages
hand off through parquet, so a stage's pins are dead the moment its
write lands), the streaming faces release per micro-batch in
``streaming.events.for_each_batch`` (the gate re-pins per batch —
without release a long-running query accumulates one cache entry set
per batch, ADVICE r13), and ``scripts/sweep.py``
releases per query so a full catalog sweep's storage-memory high-water
stays one-query-sized.  ``release_pins`` only drops cache entries —
lineage is intact, so a late consumer recomputes instead of breaking.
A pin belongs to the thread that made it: ``release_pins`` drops only
the calling thread's pins, so a stage ending in one thread never drops
the cache of a frame another thread (a catalog query beside a
``CurateJob``, a streaming face) is still using.
``bench.py`` releases between every timed window so each measurement
computes the full query from the parquet inputs (cache-manager plan
matching would otherwise let a warm run — or a later query sharing a
subtree — read the previous window's cached intermediates).  Sessions
that skip release fall back to LRU eviction + MEMORY_AND_DISK spill,
now an explicit choice rather than an accident.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_OWNED = threading.local()  # .pins: the calling thread's registered frames


def _pins() -> list[DataFrame]:
    if not hasattr(_OWNED, "pins"):
        _OWNED.pins = []
    return _OWNED.pins


def pin(df: DataFrame) -> DataFrame:
    """Lazily persist ``df`` and register it for :func:`release_pins`
    in the calling thread.

    Returns the persisted frame (same object).  Safe to call on an
    already-persisted frame — Spark's cache manager keeps one entry per
    logical plan, and release unpersists idempotently."""
    out = df.persist()
    _pins().append(out)
    return out


def release_pins() -> int:
    """Unpersist every frame the calling thread registered since its
    last release.

    Non-blocking (``blocking=False``): the executor-side block drop is
    async, which is fine — the point is dropping the *reference* so the
    store never accumulates unboundedly.  Frames whose JVM is already
    gone are skipped.  Returns the number of pins released."""
    pins = _pins()
    released, pins[:] = pins[:], []
    n = 0
    for df in released:
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:  # dead JVM / already-stopped session
            pass
    return n


def releasing(fn):
    """Wrap a job-shaped callable so its pins are released on exit —
    ``streaming.events.for_each_batch`` wraps every micro-batch in it,
    dropping the batch's cache entries after its writes land (success
    or failure) instead of accumulating one set per batch for the life
    of the streaming query."""

    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        finally:
            release_pins()

    return wrapped


def pinned_count() -> int:
    """Number of the calling thread's registered (unreleased) pins —
    test hook."""
    return len(_pins())
