"""Session-cache pin registry (r22, guide §5 "unpersist when done").

Several operators persist a frame that their RETURNED lazy plan still
reads (simhash signatures feeding both sides of a band self-join, the
k-means corpus re-scanned by the caller's final assignment, PQ's
normalized vectors).  Those pins cannot be released before the caller's
final action — the engine never runs that action — so in r21 they were
persisted with the handle discarded, and a long-lived embedding session
accumulated pinned executor blocks on every call (r21 VERDICT/ADVICE).

This registry bounds that: each pin site registers its frame under its
own tag, and pinning under a tag RELEASES the previous generation
first.  A long-lived session therefore holds at most one pinned frame
per site instead of one per call, and :func:`release_all` gives
embedding applications an explicit drain (the bench's per-key
``spark.catalog.clearCache()`` already drops the blocks; ``unpersist``
on an already-cleared frame is a no-op).

:func:`pin` materializes what it persists (one ``count()``), and a
repeated pin of unchanged work reuses it with no Spark job: the tag's
frame is still in the CacheManager, the two analyzed plans are
``sameResult``, and every input file has the path, size and
``mtime_ns`` it had when pinned.  The file check is needed because the
CacheManager matches a plan, not the data under it: a fresh read of a
parquet file rewritten in place is ``sameResult`` to the cached read
and would be served the old rows.  A rewrite that keeps both the size
and the ``mtime_ns`` is not detected.  A plan Spark cannot prove equal
(an unseeded ``rand()``, a freshly built Python UDF, a frame over a new
RDD) or a source whose data the driver cannot check (a remote file, a
non-file relation) never reuses.  :func:`snapshot` reports what is held.

If a caller still holds a previous generation's DataFrame, releasing its
pin is safe: Spark recomputes the un-cached plan — slower, never wrong.

One lock guards the registry: check → release → persist → count → store
is atomic per call, so two threads pinning under one tag cannot both
miss the earlier pin and leave the overwritten frame persisted with no
handle.
"""

from __future__ import annotations

import logging
import os
import threading
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

_PINNED: dict[str, DataFrame] = {}
# tag -> {input file path: (size, mtime_ns)} when the pin materialized
_FILES: dict[str, dict[str, tuple[int, int]] | None] = {}
_LOCK = threading.RLock()
_log = logging.getLogger(__name__)


# leaves whose plan equality (``sameResult``) already means equal rows:
# their data lives in the plan or in an immutable RDD
_SELF_CONTAINED = frozenset({"LocalRelation", "LogicalRDD", "Range", "OneRowRelation"})


def _input_files(df: DataFrame) -> dict[str, tuple[int, int]] | None:
    """Size and ``mtime_ns`` of every file the analyzed plan reads; None
    when a leaf's data cannot be checked on the driver (a remote file, a
    non-file source), which rules reuse out.  The analyzed plan, not
    ``inputFiles()``: a cached frame's optimized plan reads the cache."""
    out: dict[str, tuple[int, int]] = {}
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        kind = leaf.getClass().getSimpleName()
        if kind in _SELF_CONTAINED:
            continue
        if (
            kind != "LogicalRelation"
            or leaf.relation().getClass().getSimpleName() != "HadoopFsRelation"
        ):
            return None
        for uri in leaf.relation().inputFiles():
            url = urlparse(uri)
            if url.scheme not in ("", "file"):
                return None
            try:
                st = os.stat(unquote(url.path))
            except OSError:
                return None
            out[uri] = (st.st_size, st.st_mtime_ns)
    return out


def _held(df: DataFrame) -> bool:
    """Whether the CacheManager still holds ``df``'s plan."""
    try:
        level = df.storageLevel
    except Exception:  # pragma: no cover - session already stopped
        return False
    return level.useMemory or level.useDisk


def _reusable(tag: str, df: DataFrame) -> bool:
    """The tag holds materialized work that ``df`` would recompute: the
    same result, over unchanged files, still cached in ``df``'s own
    session (a pin made by a stopped session does not count)."""
    old = _PINNED.get(tag)
    files = _FILES.get(tag)
    return (
        old is not None
        and files is not None
        and old._jdf.queryExecution().analyzed().sameResult(
            df._jdf.queryExecution().analyzed()
        )
        and _held(df)
        and _input_files(df) == files
    )


def pin(tag: str, df: DataFrame) -> DataFrame:
    """Persist and materialize ``df`` under ``tag``, releasing the tag's
    previous pin — or, when that pin holds the same unchanged work,
    return ``df`` served by its cache without a Spark job."""
    with _LOCK:
        if _reusable(tag, df):
            # the registry keeps the newest handle to the shared cache
            _PINNED[tag].is_cached = False
            df.is_cached = True
            _PINNED[tag] = df
            _log.debug("pin %s: reused", tag, extra={"tag": tag, "action": "reuse"})
            return df
        release(tag)
        files = _input_files(df)  # before the count: a later rewrite misses
        # drop any cached copy of this plan first: persist() would keep
        # it, and it may hold rows of files rewritten since
        df.unpersist()
        df.persist()
        try:
            df.count()
        except BaseException:
            df.unpersist()
            raise
        _PINNED[tag] = df
        _FILES[tag] = files
        _log.debug("pin %s: persisted", tag, extra={"tag": tag, "action": "persist"})
    return df


def release(tag: str) -> None:
    """Unpersist and forget the frame pinned under ``tag`` (no-op if none)."""
    with _LOCK:
        old = _PINNED.pop(tag, None)
        _FILES.pop(tag, None)
        if old is not None:
            _log.debug("pin %s: released", tag, extra={"tag": tag, "action": "release"})
            try:
                old.unpersist()
            except Exception:  # pragma: no cover - session already stopped
                pass


def release_all() -> None:
    """Drain every registered pin — the long-lived-session escape hatch."""
    with _LOCK:
        for tag in list(_PINNED):
            release(tag)


def snapshot() -> list[tuple[str, bool, int]]:
    """``(tag, materialized, n_input_files)`` for each held pin, by tag.
    ``materialized`` is whether the CacheManager still holds the frame
    (a ``clearCache()`` drops it); ``n_input_files`` is -1 when the
    inputs could not be stat-ed."""
    with _LOCK:
        return [
            (tag, _held(df), -1 if _FILES[tag] is None else len(_FILES[tag]))
            for tag, df in sorted(_PINNED.items())
        ]
