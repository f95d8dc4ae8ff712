"""Registry of persisted intermediate DataFrames.

Several operators persist an intermediate that the RETURNED (lazy)
DataFrame still depends on (`_shared_overlay_parts`' refined candidate
set, `join_nearest`'s exploded l2 side, dissolve's last merge round, the
dedup pipelines' doc-gram-hash tables). Unpersisting before the caller
consumes the result would silently recompute the dominant stage, so they
cannot be freed inside the operator — but DataFrame persists are not
GC-cleaned either, so a long-lived session running many ops accumulates
executor storage until LRU eviction.

Operators register such frames here, along with their broadcasts
(``index.pairing``) and local checkpoints; batch callers should invoke
:func:`release_caches` once results are consumed (written / collected).
"""
from __future__ import annotations

from pyspark.sql import DataFrame

_CACHES: list[DataFrame] = []
_RELEASERS: list = []


def track(df: DataFrame) -> DataFrame:
    """Record an ALREADY-persisted frame for deferred release."""
    _CACHES.append(df)
    return df


def track_release(fn) -> None:
    """Record an arbitrary cleanup callback (e.g. a broadcast unpersist)
    to run at the next :func:`release_caches`."""
    _RELEASERS.append(fn)


def local_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` whose checkpoint blocks are
    released at the next :func:`release_caches`. The returned frame
    cannot be recomputed after that (its lineage is cut)."""
    out = df.localCheckpoint(eager=True)
    rdd = out._jdf.queryExecution().logical().rdd()
    track_release(lambda: rdd.unpersist(False))
    return out


def release_caches() -> None:
    """Unpersist every registered intermediate (idempotent)."""
    while _CACHES:
        try:
            _CACHES.pop().unpersist()
        except Exception:  # pragma: no cover - session already stopped
            pass
    while _RELEASERS:
        try:
            _RELEASERS.pop()()
        except Exception:  # pragma: no cover - session already stopped
            pass
