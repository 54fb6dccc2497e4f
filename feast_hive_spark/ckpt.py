"""App-scoped tracker for localCheckpoint-backed DataFrames (r10,
r9 ADVICE #4/#5).

Several operators return (or pin) eagerly/lazily localCheckpoint-ed
frames — ``minhash_band_sweep``'s materialized readout, the fuzzy
family's ``rep_pairs`` barrier. Their MEMORY_AND_DISK blocks are
RDD-level cache on the checkpointed RDD, NOT registered with the
CacheManager, so ``spark.catalog.clearCache()`` / ``unpersist()``
never touch them: in a long-lived session repeated builds accumulate
storage until the JVM happens to GC the RDD handle and the
ContextCleaner notices (the r8/r9 slow-leak findings).

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


def snapshot() -> set:
    """Identity snapshot of every currently tracked frame; pass to
    ``release_scope`` to free only frames tracked AFTER this point.
    Lets a build-materialized operator (e.g. ``minhash_band_sweep``)
    free the per-build pins its internals created (``pin_local_rows``
    broadcast copies) once its readout is materialized, WITHOUT
    touching session-memoized checkpoints created earlier — releasing
    those would hand dead, non-recomputable frames back through the
    plan memo."""
    with _LOCK:
        return {id(df) for _, df in _TRACKED}


def release_scope(spark, snap: set, keep: tuple = ()) -> int:
    """Free frames of ``spark``'s application tracked since ``snap``
    (from ``snapshot()``), except those in ``keep``. Safe ONLY for
    frames nothing memoizes: the caller asserts the scope created
    them for a plan that has since been eagerly materialized."""
    try:
        app = spark.sparkContext.applicationId
    except Exception:
        return 0
    keep_ids = {id(k) for k in keep}
    with _LOCK:
        mine = [
            df
            for aid, df in _TRACKED
            if aid == app and id(df) not in snap and id(df) not in keep_ids
        ]
        dead = {id(df) for df in mine}
        _TRACKED[:] = [e for e in _TRACKED if id(e[1]) not in dead]
    for df in mine:
        free_local_checkpoint(df)
    return len(mine)


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


def pin_local_rows(spark, rows, cols, ddl):
    """Materialize a small driver-computed row list as a DataFrame the
    rest of the plan can scan cheaply (r13 optimization round).

    A bare ``createDataFrame(list)`` plans as applySchemaToPythonRDD
    over ``defaultParallelism`` slices of PICKLED rows: every
    downstream execution re-crosses the Python boundary in 32
    near-empty tasks, once per consumer subtree (measured ~2.1 s for a
    55k-row list on cold workers, ~0.3-0.7 s warm, PER RUN). Here the
    rows go driver->JVM once as Arrow batches (no executor-side Python
    at all), then an eager single-partition localCheckpoint pins them
    as JVM internal rows: downstream reads are a 1-task in-memory scan
    (~10 ms). Builders are expected to be memoized by the caller, so
    the one checkpoint job runs once per build; ``track`` keeps the
    blocks reclaimable under the bench hygiene order.

    Fallbacks keep every environment working: no pandas/Arrow -> plain
    pickled createDataFrame; Connect session (no localCheckpoint) ->
    un-pinned frame.
    """
    df = None
    try:
        import pandas as pd

        key = "spark.sql.execution.arrow.pyspark.enabled"
        try:
            prev = spark.conf.get(key)
        except Exception:
            prev = None
        spark.conf.set(key, "true")
        try:
            pdf = pd.DataFrame(list(rows), columns=list(cols))
            df = spark.createDataFrame(pdf, schema=ddl)
        finally:
            if prev is not None and prev != "true":
                spark.conf.set(key, prev)
    except Exception:
        df = None
    if df is None:
        df = spark.createDataFrame(list(rows), ddl)
    try:
        return track(df.coalesce(1).localCheckpoint(eager=True))
    except Exception:
        return df
