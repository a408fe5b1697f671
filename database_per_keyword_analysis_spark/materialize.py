"""Lifecycle registry for materialized query intermediates.

Several query paths materialize a bounded intermediate during query
CONSTRUCTION — ``persist()`` for tables whose lineage must stay
visible to plan pins, ``localCheckpoint()`` for lineage truncation —
because per-branch column pruning makes shared subtrees non-identical
and every DataFrame reference would otherwise re-execute its entire
upstream (the round-14 plan-duplication finding: 14-88 duplicate fact
scans per query).  Two lifecycle facts follow (r14 verdict items 2/4):

1. ``persist()`` registers the subtree in Catalyst's CacheManager and
   NOTHING unpersists it — the returned DataFrame outlives its query.
   In a long-lived session invoking many queries the entries
   accumulate, and every later query's plan compilation scans the
   growing CacheManager for subtree matches: a measured ~30% planner
   drag at 12 leaked entries (OPTIMIZATION_r14.md).  The bench works
   around this with ``spark.catalog.clearCache()`` between samples,
   but library consumers don't run the bench.

2. ``localCheckpoint()`` blocks are freed by Spark's ContextCleaner
   once the Python references die, but they hold executor storage
   until then, and the checkpoint is NOT fault-tolerant: blocks live
   only on executors, so at cluster scale a lost node fails the job
   (acceptable for the bounded tables chosen — each is at most one
   corpus pass and cheap to rebuild; use reliable ``checkpoint()`` /
   write-to-parquet where re-run cost matters).

This module is the release seam: every ``persist()`` a query path
issues is registered here via :func:`track`, and a consumer that is
done with a query's returned DataFrame calls
:func:`release_materialized` to drop every registered cache entry (the
DataFrames themselves stay valid — a re-consumed plan silently
recomputes from its parquet inputs).  ``spark.catalog.clearCache()``
is the blunter equivalent (it also drops caches the CALLER created);
this seam only touches what query construction registered.
"""

from __future__ import annotations

import threading
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

# Strong references on purpose: the JVM-side CacheManager entry exists
# whether or not Python still holds the DataFrame, so a weakref that
# died would strand the entry with no handle left to unpersist it.
# Queries built on several threads of one session share the registry,
# so every read and write holds _LOCK.
_PERSISTED: list["DataFrame"] = []
_LOCK = threading.Lock()


def track(df: "DataFrame") -> "DataFrame":
    """Register a persisted DataFrame for later release; returns it
    unchanged so call sites stay one expression."""
    with _LOCK:
        _PERSISTED.append(df)
    return df


def release_materialized() -> int:
    """Unpersist every DataFrame a query path registered since the
    last call and drop the registry.  Blocking=False: block deletion
    proceeds async on the executors while the caller moves on.  Also
    nudges the GC so ContextCleaner can reap localCheckpoint blocks
    whose Python handles died with the released queries.  Returns the
    number of entries released."""
    import gc

    # take the entries and empty the registry in one step, so an entry
    # tracked while this call unpersists stays for the next release
    with _LOCK:
        taken = _PERSISTED[:]
        _PERSISTED.clear()
    n = 0
    for df in taken:
        try:
            df.unpersist()
            n += 1
        except Exception:
            # a stopped/replaced SparkSession invalidates the handle;
            # its cache died with the session, nothing to release
            pass
    gc.collect()
    return n


def n_tracked() -> int:
    """Current registry size (tests/telemetry)."""
    with _LOCK:
        return len(_PERSISTED)
