"""Session-cache pin registry (r22, guide §5 "unpersist when done").

Several operators persist a frame that their RETURNED lazy plan still
reads (simhash signatures feeding both sides of a band self-join, the
k-means corpus re-scanned by the caller's final assignment, PQ's
normalized vectors).  Those pins cannot be released before the caller's
final action — the engine never runs that action — so in r21 they were
persisted with the handle discarded, and a long-lived embedding session
accumulated pinned executor blocks on every call (r21 VERDICT/ADVICE).

This registry bounds that: each pin site registers its frame under a
stable tag, and pinning under a tag RELEASES the previous generation
first.  A long-lived session therefore holds at most one pinned frame
per site instead of one per call, and :func:`release_all` gives
embedding applications an explicit drain (the bench's per-key
``spark.catalog.clearCache()`` already drops the blocks; ``unpersist``
on an already-cleared frame is a no-op).

If a caller still holds a previous generation's DataFrame, releasing its
pin is safe: Spark recomputes the un-cached plan — slower, never wrong.

One lock guards the registry: release → persist → store is atomic per
call, so two threads pinning under one tag cannot both miss the earlier
pin and leave the overwritten frame persisted with no handle.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_PINNED: dict[str, DataFrame] = {}
_LOCK = threading.RLock()


def pin(tag: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` under ``tag``, releasing the tag's previous pin."""
    with _LOCK:
        release(tag)
        df.persist()
        _PINNED[tag] = df
    return df


def release(tag: str) -> None:
    """Unpersist and forget the frame pinned under ``tag`` (no-op if none)."""
    with _LOCK:
        old = _PINNED.pop(tag, None)
        if old is not None:
            try:
                old.unpersist()
            except Exception:  # pragma: no cover - session already stopped
                pass


def release_all() -> None:
    """Drain every registered pin — the long-lived-session escape hatch."""
    with _LOCK:
        for tag in list(_PINNED):
            release(tag)
