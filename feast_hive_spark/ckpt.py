"""App-scoped tracker for localCheckpoint-backed DataFrames (r10,
r9 ADVICE #4/#5).

Several operators return eagerly/lazily localCheckpoint-ed frames —
``minhash_band_sweep``'s materialized readout, the fuzzy family's
``rep_pairs`` barrier. Their MEMORY_AND_DISK blocks are RDD-level
cache on the checkpointed RDD, NOT registered with the CacheManager,
so ``spark.catalog.clearCache()`` / ``unpersist()`` never touch them:
in a long-lived session repeated builds accumulate storage until the
JVM happens to GC the RDD handle and the ContextCleaner notices (the
r8/r9 slow-leak findings). Driver-side rows are never pinned here:
``plans.local.local_frame`` makes them a LocalRelation, which holds
no blocks.

``track(df)`` records the frame; ``release(spark)`` frees every
tracked frame of the CURRENT application. CRITICAL ordering contract:
a localCheckpoint TRUNCATES lineage, so a released frame cannot be
recomputed — ``release`` may run only after every cache that could
hand the frame back is dropped. ``registry.reset(spark)`` is the one
place that order is written; call it rather than ``release``
directly. Entries from other (stopped) applications are pruned on
insert, mirroring plans/memo.py.
"""

from __future__ import annotations

import threading

_LOCK = threading.Lock()
_TRACKED: list = []  # (app_id, DataFrame) — newest last
_MAX = 256  # overflow falls back to ContextCleaner timing


def free_local_checkpoint(df) -> None:
    """Release the blocks behind a localCheckpoint-ed DataFrame by
    reaching the ``LogicalRDD``'s underlying RDD through the JVM
    plan. Best effort: on any internals mismatch the blocks are left
    to the ContextCleaner."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def track(df):
    """Record a checkpoint-backed frame for later ``release``;
    returns ``df`` for call-site chaining."""
    try:
        app = df.sparkSession.sparkContext.applicationId
    except Exception:
        return df
    with _LOCK:
        _TRACKED[:] = [e for e in _TRACKED if e[0] == app][-(_MAX - 1):]
        _TRACKED.append((app, df))
    return df


def release(spark) -> int:
    """Free every tracked frame of ``spark``'s application; returns
    the number released. Callers go through ``registry.reset``, which
    drops the caches first (see the module docstring). Connect
    sessions (no sparkContext) return 0 — the documented no-op,
    matching ``track``'s guard."""
    try:
        app = spark.sparkContext.applicationId
    except Exception:
        return 0
    with _LOCK:
        mine = [df for aid, df in _TRACKED if aid == app]
        _TRACKED[:] = [e for e in _TRACKED if e[0] != app]
    for df in mine:
        free_local_checkpoint(df)
    return len(mine)
