"""The one place operators pin and release twice-consumed intermediates.

The repo's r5 law: no ReusedExchange forms across a broadcast boundary,
so a frame with several consumers must be materialized once.  ``pin``
is that materialization, in one of two forms each call site picks by
measurement:

- ``level=None`` — a LAZY ``localCheckpoint``, right for the
  count/posting-sized intermediates: the checkpoint captures the frame
  AFTER AQE's partition coalescing, so downstream stages run at the
  size-appropriate partition count — a persisted plan instead pins the
  raw shuffle partitioning
  (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is
  false by default), which at bench scale meant 64-task stages over
  kilobyte frames (measured: pmi's scoring phase 3.3 s persisted vs
  0.5 s checkpointed); and the logical plan truncates to a
  ``LogicalRDD``, so every downstream analysis pass stops re-walking
  the upstream tree.
- a ``StorageLevel`` — ``persist(level)``, right where the frame is a
  join side that needs size statistics (a ``LogicalRDD`` has none, and
  broadcast joins flip to sort-merge: measured lm_score 2.3 s -> 4.5 s)
  or must survive executor churn mid-query.

A checkpoint pin is NOT lineage-recoverable: once its blocks are
released (or lost with an executor) every frame built on it fails
instead of recomputing.  So a frame built inside a :func:`scope` is
valid only inside it — run its actions before the scope exits.

Ownership: every pin registers into the innermost open :func:`scope`,
which releases them all on exit (exception path included).  A pin
made outside any scope registers nothing and keeps no reference — it
lives for the session, and Spark's CacheManager serves a later equal
plan from it (a repeated query reuses the count frames a warm-up run
pinned).

``release()`` frees the blocks NOW: ``DataFrame.unpersist()`` is a
CacheManager no-op for a checkpointed frame (its blocks are RDD-level
cache behind the ``LogicalRDD`` node — measured: ``getRDDStorageInfo``
still lists the RDD after the DataFrame-level call), so release goes
through the RDD.  Releasing twice is harmless.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator, Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame

__all__ = ["pin", "release", "scope", "StorageLevel"]

# per thread: streaming foreachBatch handlers run on their own threads
_open = threading.local()


def _stack() -> list[list[DataFrame]]:
    """This thread's open scopes, innermost last."""
    if not hasattr(_open, "stack"):
        _open.stack = []
    return _open.stack


def pin(df: DataFrame, level: Optional[StorageLevel] = None) -> DataFrame:
    """Materialize ``df`` once for several consumers: a lazy local
    checkpoint (``level=None``; the first action materializes it) or
    ``persist(level)``.  Registers the pinned frame into the innermost
    open :func:`scope`, if any."""
    out = (df.localCheckpoint(eager=False) if level is None
           else df.persist(level))
    stack = _stack()
    if stack:
        stack[-1].append(out)
    return out


def release(df: DataFrame) -> None:
    """Free a pinned frame's storage blocks immediately (RDD-level;
    falls back to the DataFrame call for persisted frames)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            plan.rdd().unpersist(False)
            return
    except Exception:
        pass
    df.unpersist()


@contextmanager
def scope() -> Iterator[list[DataFrame]]:
    """Release, on exit, every frame pinned inside the block (newest
    first — a persisted frame built on an earlier one goes before it,
    so the CacheManager never re-plans a dependent).  Yields the live
    list of those frames."""
    pins: list[DataFrame] = []
    stack = _stack()
    stack.append(pins)
    try:
        yield pins
    finally:
        stack.pop()
        for df in reversed(pins):
            release(df)
