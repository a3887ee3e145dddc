"""Scoped lifetimes for query-path persists.

Several lazy operators persist an internal subtree that multiple
branches of the RETURNED plan share (one corpus scan instead of 2-4).
The function returns an unexecuted plan, so it cannot unpersist before
returning — and without cleanup those caches outlive the query and
accumulate over a long-lived session (Spark only LRU-evicts under
pressure).

``tie_cache_lifetimes`` binds each internal cache to the returned
DataFrame: when the caller drops its last reference to the result, a
weakref finalizer unpersists the caches. Unpersisting is always safe —
it only removes caching; any still-live derived plan recomputes the
subtree. The finalizer also runs at interpreter shutdown, where the
JVM may already be gone, hence the broad except.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame


def tie_cache_lifetimes(result: DataFrame, *caches: DataFrame) -> DataFrame:
    """Unpersist ``caches`` when ``result`` is garbage-collected.

    Callers must hold the returned DataFrame until the action that reads the
    caches has run. A DataFrame derived from it (``result.select(...)``) does
    not keep ``result`` alive: once the last reference to ``result`` goes, the
    caches are unpersisted early and the action recomputes their subtrees.
    """

    def _release(cs=list(caches)) -> None:
        for c in cs:
            try:
                c.unpersist()
            except Exception:
                pass  # session already stopped / JVM gone

    weakref.finalize(result, _release)
    return result
