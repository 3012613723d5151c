"""Scoped release of the relations the engine persists.

Repeat calls over the same input deliberately keep their cache entries:
Spark's CacheManager keys entries by logical plan, so a repeat call
reuses one entry, and a blanket per-call unpersist was measured slower
(PageRank 3.3 s → 5.7 s warm). A library consumer iterating over many
DISTINCT inputs (graphs, corpora) accretes one entry set per input;
``release_caches()`` frees exactly those, without the collateral
eviction of ``spark.catalog.clearCache()``, which would also drop
caches the engine never created (a user's own persists). Do not call it
between repeat probes of the same input: that re-pays the build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    """persist() + register for release_caches()."""
    _TRACKED.append(df)
    return df.persist()


def release_caches() -> int:
    """Unpersist every relation registered by ``_persist_tracked``;
    return the count. unpersist() on an already-evicted entry is a
    Spark no-op, so double release is safe."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped: nothing left to release
    return n
