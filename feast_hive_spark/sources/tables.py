"""Canonical loader for the driver's testdata tables.

Handles one physical-format wart: older testdata drops store
``events.ts`` as parquet TIMESTAMP(NANOS), which Spark's vectorized
reader rejects (PARQUET_TYPE_ILLEGAL); newer drops store
TIMESTAMP(MICROS). ``read_parquet_micros`` checks the footer and only
for a real NANOS column reads with
``spark.sql.legacy.parquet.nanosAsLong=true`` (a runtime conf) and
rebuilds the timestamp at microsecond precision JVM-side —
``timestamp_micros(ns div 1000)`` — which stays inside whole-stage
codegen and keeps the scan fully distributed (no driver-side Arrow
detour). DuckDB oracles cast the same column with
``CAST(ts AS TIMESTAMP)`` (ns -> us truncation), so both engines see
identical microsecond values.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — the ones Spark can
    read only as bigint. Footer-only check via pyarrow, no data read.
    INT96 (Spark's default outputTimestampType), which pyarrow would
    otherwise also report as ``timestamp[ns]``, is coerced to micros
    here: Spark reads it natively as TIMESTAMP."""
    try:
        import pyarrow as pa
        import pyarrow.dataset as ds

        fmt = ds.ParquetFileFormat(coerce_int96_timestamp_unit="us")
        schema = ds.dataset(path, format=fmt).schema
    except Exception:  # noqa: BLE001 - fall through to Spark's own error
        return []
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def read_parquet_micros(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with every TIMESTAMP(NANOS) column
    rebuilt as a microsecond TIMESTAMP.

    Only when the footer shows such a column is
    ``spark.sql.legacy.parquet.nanosAsLong`` set on the session — and
    then deliberately NOT restored: the physical parquet reader
    re-derives its hadoopConf from the session conf at ACTION time, so
    unsetting it here would make the (lazy) frame itself throw
    PARQUET_TYPE_ILLEGAL at execution. Cost of keeping it: a later
    caller-owned read of a TIMESTAMP(NANOS) parquet in this session
    surfaces bigint instead of erroring."""
    nano_cols = nanos_ts_columns(path)
    if nano_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nano_cols:
        # integer div: float division would lose precision above 2^53 ns
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


# Memoized per (SESSION, sf_dir, table): every caller in one session
# gets the SAME DataFrame. The memo pays by skipping the schema-
# inference job that each `spark.read.parquet(path)` runs: measured at
# sf0.01 on a 4-CPU host, 1 job and ~95-130 ms per repeated read,
# against <1 ms for a hit. It is NOT what lets
# `spark.catalog.cacheTable(view)` reach later plans: two independent
# reads of one path are `sameResult`, so the CacheManager substitutes
# the cached relation into a fresh read too
# (test_cache_table_substitutes_into_fresh_parquet_read). The
# testdata is immutable, so reuse is safe. Keyed by SESSION (r12 —
# was app id): a DataFrame is bound to the session that read it, so a
# `newSession()` sibling must get its OWN frames or register_views
# would install views into the WRONG session's catalog. FIFO-capped
# (16 sessions x 10 tables).
_DF_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_DF_CACHE_MAX = 160


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with normalized schema."""
    # Harden against caller-supplied sessions (the verify driver builds
    # its own SparkSession without our factory): timestamps must be
    # plain TIMESTAMP interpreted at UTC regardless of session
    # defaults. Re-pinned on CACHE HITS too (r12) — a caller that
    # flipped the session tz between builds would otherwise have later
    # SQL-text TIMESTAMP literals parsed in its zone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    key = (_session_key(spark), os.path.abspath(sf_dir), name)
    hit = _DF_CACHE.get(key)
    if hit is not None:
        return hit
    df = read_parquet_micros(spark, f"{sf_dir}/{name}.parquet")
    # Opt-in (bench): the sf<=0.1 testdata files are single-row-group
    # parquet, so file splitting cannot raise scan parallelism past
    # ~1 task/table no matter the split confs — an artifact of tiny
    # files, not of the engine (cluster-scale tables have thousands of
    # row groups). Re-spread once before the table is pinned in cache
    # so map-side work uses the machine; semantics are unchanged
    # (every consumer orders explicitly where order matters).
    # Spec: "16" (all tables) or "documents=32,lineitem=8" (per table:
    # CPU-heavy scans want width, shuffle-dominated ones stay narrow).
    nparts = os.environ.get("SPARK_GRAFT_SCAN_PARTITIONS")
    if nparts:
        if "=" in nparts:
            per = dict(
                kv.split("=", 1) for kv in nparts.split(",") if "=" in kv
            )
            n = per.get(name)
        else:
            n = nparts
        if n:
            df = df.repartition(int(n))
    if len(_DF_CACHE) >= _DF_CACHE_MAX:
        # prefer evicting frames of decidably-dead sessions (pyid
        # fallback keys whose proxy left _PY_KEYS) before FIFO-evicting
        # a live session's frame — an evicted live frame costs its
        # next read the schema-inference job again (perf only, never
        # wrong results). py4j keys have no cheap liveness probe.
        for k in [
            k
            for k in _DF_CACHE
            if k[0].startswith("pyid-") and k[0] not in _PY_KEYS
        ]:
            del _DF_CACHE[k]
    while len(_DF_CACHE) >= _DF_CACHE_MAX:
        _DF_CACHE.pop(next(iter(_DF_CACHE)))
    _DF_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: read_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for QuerySource / SQL)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    key = _session_key(spark)
    while len(_VIEWS_FOR) >= 16:
        _VIEWS_FOR.pop(next(iter(_VIEWS_FOR)))
    _VIEWS_FOR[key] = os.path.abspath(sf_dir)
    return dfs


# current warehouse dir whose views are registered, per live SESSION —
# lets SQL-text registry queries skip the ~50 ms (warm) / ~0.6 s
# (cold-sniff) re-registration on every build. A tier switch (new
# sf_dir, e.g. bench_scale alternating scales) re-registers. Keyed by
# the JVM session object (NOT the app id): temp views are
# session-scoped, so a sibling ``spark.newSession()`` in the same app
# must register its OWN views rather than inherit the marker.
_VIEWS_FOR: dict[str, str] = {}


_PY_KEYS: "weakref.WeakValueDictionary[str, SparkSession]" = (
    weakref.WeakValueDictionary()
)


def _session_key(spark: SparkSession) -> str:
    # py4j target id of the JVM SparkSession: stable per session
    # object, distinct across newSession() siblings, no round trip.
    # Spark Connect sessions have no _jsparkSession — fall back to the
    # Python proxy's identity, pinned through a WeakValueDictionary so
    # a GC-recycled id() can never alias a dead session's marker (the
    # dead entry vanishes with its referent).
    jvm = getattr(spark, "_jsparkSession", None)
    if jvm is not None:
        return jvm._target_id
    key = f"pyid-{id(spark)}"
    if _PY_KEYS.get(key) is not spark:
        _PY_KEYS[key] = spark
        _VIEWS_FOR.pop(key, None)  # id reuse: drop any stale marker
        for k in [k for k in _DF_CACHE if k[0] == key]:
            del _DF_CACHE[k]  # ...and any stale frames (r12)
    return key


_CONNECT_VIEW_SEQ = 0
_CONNECT_VIEW_LOCK = threading.Lock()


def bind_sql_view(df: DataFrame, stable_name: str) -> str:
    """Bind ``df`` to a temp view for a SQL-text plan build; return
    the name the SQL should reference.

    Classic py4j sessions analyze ``spark.sql`` EAGERLY, so a stable
    engine-reserved name is safe — the returned plan resolved the
    view at analysis time, later overwrites cannot reach it — and
    stable names are what keeps CacheManager substitution intact (r9:
    ``{df}`` placeholders silently defeat it). Spark Connect sessions
    analyze LAZILY server-side: a later ``createOrReplaceTempView``
    on the same name would silently redirect a not-yet-executed plan
    to the new DataFrame — wrong results, no error (r9 ADVICE). So
    under Connect (no ``_jsparkSession``) each build gets a UNIQUE
    name instead: correctness is preserved; only the warm-path
    cache-substitution stability of the stable name is lost, and one
    temp view per build stays registered (droppable by the caller
    after the plan has executed, never before).
    """
    spark = df.sparkSession
    if getattr(spark, "_jsparkSession", None) is None:
        global _CONNECT_VIEW_SEQ
        with _CONNECT_VIEW_LOCK:
            _CONNECT_VIEW_SEQ += 1
            name = f"{stable_name}_c{_CONNECT_VIEW_SEQ}"
    else:
        name = stable_name
    df.createOrReplaceTempView(name)
    return name


def ensure_views(spark: SparkSession, sf_dir: str) -> None:
    """Idempotent per-(session, warehouse-dir) view registration.

    The SQL-text registry queries build their plans with ONE
    ``spark.sql`` round trip against these views (one analysis pass —
    measured ~4-8x cheaper than an equivalent eagerly-re-analyzed
    DataFrame chain, see registry.py). This is the Spark analogue of
    the warehouse catalog every baseline already has: the DuckDB
    oracle runner likewise registers its views once, outside any
    timed window. Caveat: a caller replacing one of the table-named
    temp views with different content must call ``register_views``
    itself — this fast path only tracks the warehouse dir."""
    if _VIEWS_FOR.get(_session_key(spark)) == os.path.abspath(sf_dir):
        return
    register_views(spark, sf_dir)
