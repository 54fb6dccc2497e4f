"""Point-in-time (as-of) join — the engine's flagship query program.

Re-expression of the reference's 195-line Jinja2 HiveQL template
(feast_hive/hive.py:527-721) as one generated Spark SQL statement over
prepared DataFrame inputs. Semantics
(prose spec at hive.py:567-582, :639-644, :656-658, :681-684,
:701-704): for each entity row ``(keys…, entity_ts)`` and each feature
view, among feature rows with equal keys and
``event_ts ∈ [entity_ts - ttl, entity_ts]`` (no lower bound when
``ttl == 0``, guards hive.py:595/:602/:614/:622), pick the max
``event_ts``, tie-break max ``created_timestamp``; left-join back to
the entity rows (missing -> NULL, duplicates preserved).

Spark-first plan (SURVEY §2.3 J1-J6, §4):

1. The entity df is ingested natively (``spark.createDataFrame`` /
   ``spark.sql``) — the reference's dominant cost, a chunked
   row-literal ``INSERT INTO`` upload (hive.py:394-460), disappears.
   Nothing stands in for its temp table (hive.py:532): the entity df
   and its deduped key sides are read uncached, so a retrieval pins no
   storage and needs no release. Caching them only added jobs (13
   against 8 for a 2-view retrieval with a 600-row pandas entity) at
   the same latency.
2. **Coarse bounds pushdown (kept, manual — J2):** Catalyst cannot
   derive data-dependent bounds across a join, so we compute
   ``min/max(entity_ts)`` with one tiny driver job and inject them as
   *literal* filters on each feature scan. At 100 TB this is what
   turns a full feature-table scan into parquet row-group skipping /
   partition pruning on the timestamp column.
3. **Entity dedup before the join (kept — A1):** ``dropDuplicates``
   on (keys, entity_ts) shrinks the join's build side.
4. **One argmax aggregation replaces the reference's J4+J5+A3+A4
   dedup cascade** (2 aggregates + 2 self-joins): ``max_by(features,
   struct(event_ts, created_ts, tiebreaks))`` grouped by
   ``(keys…, entity_ts)``. Partial aggregation runs MAP-SIDE, so a
   whale entity key collapses to one row per partition before the
   shuffle — skew-immune at 100 TB (a row_number window without
   WindowGroupLimit's streaming top-1 funnels every matching row of a
   hot key through one shuffle partition; tests/test_pit_skew.py
   shows both). We join on the raw ``(keys…, entity_ts)`` tuple, NOT
   the collision-prone separator-less string rid of hive.py:537-544.
5. **Broadcast the (deduped) entity side** when small: the feature
   table — the 100 TB side — then streams through a BroadcastHashJoin
   with zero shuffle; the only shuffle in the whole per-fv pipeline is
   the argmax hash partition. Above ``_BROADCAST_MAX_ROWS`` (1M)
   entity rows the hints are dropped and AQE picks sort-merge.
6. **The whole retrieval is ONE ``spark.sql`` statement** (one parse,
   one analysis pass), built from one template like the reference's
   (hive.py:527-721) — one nesting level per feature view.

Physical plan per feature view: Scan(feature, pushed time filter) ->
BroadcastHashJoin(entity keys) + range condition ->
partial_max_by -> Exchange -> max_by -> broadcast left-join assembly.
Exactly one shuffle per fv, with map-side combine.
"""

from __future__ import annotations

import math
import threading
from dataclasses import dataclass, field
from datetime import timedelta
from typing import Mapping, Optional, Sequence, Union

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feast_hive_spark.plans.bcast import _estimated_bytes
from feast_hive_spark.retrieval import RetrievalJob
from feast_hive_spark.sources.tables import bind_sql_view
from feast_hive_spark.sources.source import DataSource

DEFAULT_ENTITY_DF_EVENT_TIMESTAMP_COL = "event_timestamp"

_ENTITY_TS = "__entity_ts"
_EVENT_TS = "__event_ts"
_CREATED_TS = "__created_ts"

# The broadcast policy of get_historical_features: hint the entity-side
# joins as broadcasts up to this many entity rows ...
_BROADCAST_MAX_ROWS = 1_000_000
# ... unless every feature side is estimated below this size.
_SMALL_FEATURES_BYTES = 64 << 20

# Guards the overwrite-views-then-sql window in _join_fvs_sql:
# concurrent plan builds on one SparkSession must not interleave the
# __pit_sql_* temp-view bindings.
_SQL_VIEW_LOCK = threading.Lock()


def _bt(name: str) -> str:
    """Backtick-quote an identifier for composed SQL fragments."""
    return "`" + name.replace("`", "``") + "`"


class EntityTimestampInferenceException(Exception):
    def __init__(self) -> None:
        super().__init__(
            "Unable to infer the event timestamp column from the entity "
            f"dataframe: provide a column named "
            f"'{DEFAULT_ENTITY_DF_EVENT_TIMESTAMP_COL}' or exactly one "
            "timestamp-typed column."
        )


class EntityDFMissingColumnsError(Exception):
    """Parity with FeastEntityDFMissingColumnsError
    (reference validation, hive.py:218-224; tested
    tests/test_all.py:402-418)."""

    def __init__(self, expected: Sequence[str], missing: Sequence[str]):
        super().__init__(
            f"The entity dataframe is missing columns {list(missing)}; "
            f"expected at least {list(expected)}."
        )


class InvalidEntityType(Exception):
    def __init__(self, t: type):
        super().__init__(
            f"The entity dataframe has unsupported type {t}; expected "
            "a Spark DataFrame, a pandas DataFrame, or a SQL string."
        )


@dataclass
class FeatureView:
    """Metadata driving one as-of-joined feature set.

    ``join_keys`` maps feature-table column -> entity-df column (the
    reference's ``entity_selections``, "col AS join_key"); a plain
    sequence means same-named columns. ``ttl_seconds == 0`` means NO
    lower time bound (hive.py:595), not a zero-width window.
    """

    name: str
    source: Union[DataSource, DataFrame]
    join_keys: Union[Mapping[str, str], Sequence[str]] = field(default_factory=list)
    features: Sequence[str] = field(default_factory=list)
    ttl_seconds: float = 0
    event_timestamp_column: Optional[str] = None
    created_timestamp_column: Optional[str] = None

    def __post_init__(self) -> None:
        # Normalize TTL to whole seconds ONCE so the coarse pushdown
        # bound (J2) and the per-row join window (J3) use the same
        # value. Ceil, not truncate: int(0.5) == 0 would silently flip
        # a sub-second TTL to "no lower bound at all".
        self.ttl_seconds = math.ceil(self.ttl_seconds)

    def key_map(self) -> dict[str, str]:
        if isinstance(self.join_keys, Mapping):
            return dict(self.join_keys)
        return {k: k for k in self.join_keys}

    def resolve_df(self, spark: SparkSession) -> DataFrame:
        if isinstance(self.source, DataSource):
            return self.source.to_df(spark)
        return self.source

    def event_ts_col(self) -> str:
        if self.event_timestamp_column:
            return self.event_timestamp_column
        if isinstance(self.source, DataSource) and self.source.event_timestamp_column:
            return self.source.event_timestamp_column
        raise ValueError(f"FeatureView {self.name}: event_timestamp_column required")

    def created_ts_col(self) -> Optional[str]:
        if self.created_timestamp_column:
            return self.created_timestamp_column
        if isinstance(self.source, DataSource):
            return self.source.created_timestamp_column or None
        return None

    def output_name(self, feat: str, full_feature_names: bool) -> str:
        # hive.py:590/:713 — "{fv}__{feature}" when full_feature_names
        return f"{self.name}__{feat}" if full_feature_names else feat


def normalize_timestamps(pdf: pd.DataFrame) -> pd.DataFrame:
    """Normalize tz-aware / mixed-tz pandas timestamp columns to naive
    UTC — the reference's ``_format_datetime`` semantics
    (hive.py:355-360; mixed-flavor fixture feast_tests_funcs.py:15-30).
    Pandas-legal mixed-tz object columns are Spark-hostile, so this is
    applied at the ``createDataFrame`` boundary.
    """
    out = pdf.copy()
    for col in out.columns:
        s = out[col]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            out[col] = s.dt.tz_convert("UTC").dt.tz_localize(None)
        elif s.dtype == object and s.map(lambda v: isinstance(v, pd.Timestamp)).all() and len(s):
            out[col] = (
                pd.to_datetime(s, utc=True).dt.tz_localize(None)
            )
    return out


def entity_df_to_spark(
    spark: SparkSession, entity_df: Union[DataFrame, pd.DataFrame, str]
) -> DataFrame:
    """Ingest the entity df — replaces the reference's upload operators
    S3/S4 (hive.py:363-460) with native ingestion; SQL strings stay
    fully lazy (no CTAS materialization)."""
    if isinstance(entity_df, DataFrame):
        return entity_df
    if isinstance(entity_df, pd.DataFrame):
        return spark.createDataFrame(normalize_timestamps(entity_df))
    if isinstance(entity_df, str):
        return spark.sql(entity_df)
    raise InvalidEntityType(type(entity_df))


def infer_event_timestamp_col(df: DataFrame, provided: Optional[str] = None) -> str:
    """Reference step 3 (hive.py:214 via feast offline_utils): prefer
    an explicit/'event_timestamp' column, else the unique
    timestamp-typed column."""
    if provided:
        if provided not in df.columns:
            raise EntityDFMissingColumnsError([provided], [provided])
        return provided
    if DEFAULT_ENTITY_DF_EVENT_TIMESTAMP_COL in df.columns:
        return DEFAULT_ENTITY_DF_EVENT_TIMESTAMP_COL
    ts_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
    ]
    if len(ts_cols) == 1:
        return ts_cols[0]
    raise EntityTimestampInferenceException()


def _validate_entity_df(
    entity_df: DataFrame, feature_views: Sequence[FeatureView], entity_ts_col: str
) -> None:
    """Reference step 4 (hive.py:218-224): every expected join key +
    the event timestamp column must exist; error parity with
    test_all.py:402-418."""
    expected = {entity_ts_col}
    for fv in feature_views:
        expected.update(fv.key_map().values())
    missing = sorted(expected - set(entity_df.columns))
    if missing:
        raise EntityDFMissingColumnsError(sorted(expected), missing)


def _entity_bounds(sdf: DataFrame, entity_ts_col: str):
    """min/max(entity_ts) + row count in ONE Spark job (J2 bounds →
    literal pushdown, fused with the broadcast guard)."""
    return (
        sdf.select(F.col(entity_ts_col).alias(_ENTITY_TS))
        .agg(
            F.min(_ENTITY_TS).alias("mn"),
            F.max(_ENTITY_TS).alias("mx"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .first()
    )


def get_historical_features(
    spark: SparkSession,
    entity_df: Union[DataFrame, pd.DataFrame, str],
    feature_views: Sequence[FeatureView],
    full_feature_names: bool = False,
    entity_event_timestamp_col: Optional[str] = None,
    tiebreak_columns: Sequence[str] = (),
    on_demand_transforms=None,
) -> RetrievalJob:
    """Build the lazy multi-feature-view PIT retrieval job
    (reference entry point 1, hive.py:192-269).

    ``tiebreak_columns``: extra descending-order columns applied after
    (event_ts, created_ts) in each feature view's argmax, making row
    choice deterministic under full timestamp ties (the reference fans
    tied rows out through an inner join, hive.py:685-696 — a bug-shaped
    behavior we deliberately do not reproduce; see SURVEY §7 risks).

    Broadcast policy (no option; both physical shapes return the same
    rows). The entity-side joins are hinted as broadcasts while the
    entity row count stays at or under ``_BROADCAST_MAX_ROWS`` — the
    count rides the bounds job, and the guard means a huge entity df
    cannot OOM every executor; above it, AQE picks sort-merge with the
    range filter applied post-join. The hints are also dropped (r10)
    when EVERY feature view's bounds-filtered, column-pruned side is
    estimated below ``_SMALL_FEATURES_BYTES`` (Catalyst's own
    sizeInBytes statistic — no job): every broadcast exchange is a
    separate driver-collect job on every execution of the plan, and on
    a small feature side that job floor costs more than the shuffle it
    avoids (measured at sf0.1: flagship exec 0.195 s / 3 jobs
    forced-broadcast vs 0.109 s / 2 jobs unhinted). At cluster scale a
    real feature table blows past 64 MB and keeps the broadcast shape.
    """
    sdf = entity_df_to_spark(spark, entity_df)
    entity_ts_col = infer_event_timestamp_col(sdf, entity_event_timestamp_col)
    _validate_entity_df(sdf, feature_views, entity_ts_col)

    def build() -> DataFrame:
        ent = sdf.withColumn(_ENTITY_TS, F.col(entity_ts_col))

        # J2 kept manual: one tiny job for global bounds -> literal
        # pushdown filters on every feature scan.  The broadcast-guard
        # row count rides the SAME aggregate — one driver-blocking job
        # here, not three — over a single-column, column-pruned scan
        # (at 100 TB it reads one column's pages).
        bounds = _entity_bounds(sdf, entity_ts_col)
        parts = [
            _prepare_fv(
                fv, idx, spark, bounds, full_feature_names, tiebreak_columns
            )
            for idx, fv in enumerate(feature_views)
        ]
        do_broadcast = bounds["cnt"] <= _BROADCAST_MAX_ROWS
        if do_broadcast:
            try:
                if all(
                    _estimated_bytes(p.feat) < _SMALL_FEATURES_BYTES
                    for p in parts
                ):
                    do_broadcast = False
            except Exception:
                pass  # stats unavailable: keep the broadcast path

        # A1 hoisted: build the deduped entity-key side ONCE per
        # distinct join-key tuple. Catalyst's exchange reuse does not
        # fire across the per-view branches (fresh expr IDs per
        # resolve defeat the canonical match), so every view sharing a
        # key tuple reads the SAME bound view, and Spark can reuse its
        # dedup exchange within the one statement.
        ekeys_by_tuple: dict[tuple, DataFrame] = {}
        for part in parts:
            t = tuple(part.entity_cols)
            if t not in ekeys_by_tuple:
                ekeys_by_tuple[t] = ent.select(*t, _ENTITY_TS).dropDuplicates()
        return _join_fvs_sql(spark, ent, parts, ekeys_by_tuple, do_broadcast)

    return RetrievalJob(build, on_demand_transforms=on_demand_transforms)


@dataclass
class _FvPart:
    """Per-feature-view prepared inputs for the join step: the
    projected+bounds-filtered feature frame plus the SQL fragments the
    assembly needs. Features travel under positional internal names
    (``cols``) and get their user-visible ``out_names`` back only in
    the outermost SELECT, so colliding output names never meet inside
    the statement; ``tiebreaks`` are positional internal names too."""

    feat: DataFrame
    entity_cols: list
    cols: list
    out_names: list
    created_ts: Optional[str]
    tiebreaks: list
    range_cond: str


def _prepare_fv(
    fv: FeatureView,
    idx: int,
    spark: SparkSession,
    bounds,
    full_feature_names: bool,
    tiebreak_columns: Sequence[str],
) -> _FvPart:
    key_map = fv.key_map()  # feature col -> entity col
    event_ts = fv.event_ts_col()
    created_ts = fv.created_ts_col()

    feat = fv.resolve_df(spark)
    # a join key is constant within its group: ordering by it is a no-op
    tiebreaks = [
        c for c in tiebreak_columns if c in feat.columns and c not in key_map
    ]
    cols = [f"__pit_o{idx}_{i}" for i in range(len(fv.features))]
    tb_cols = [f"__pit_t{idx}_{i}" for i in range(len(tiebreaks))]
    # Subquery projection (hive.py:584-591): event/created ts under
    # internal names, join keys renamed to entity-side names, features
    # and tiebreaks under positional internal names (a tiebreak may
    # share a renamed key's name). Pure projection — column
    # pruning reaches the scan. ONE selectExpr call: plan CONSTRUCTION
    # here is dominated by py4j round-trips (~0.4 ms each; a
    # Column-API projection costs one per col/alias, ~190 per feature
    # view profiled at r6), and a warm retrieval loop pays it per call.
    sel = [f"{_bt(event_ts)} AS {_EVENT_TS}"]
    if created_ts:
        sel.append(f"{_bt(created_ts)} AS {_CREATED_TS}")
    sel.extend(f"{_bt(fcol)} AS {_bt(ecol)}" for fcol, ecol in key_map.items())
    sel.extend(f"{_bt(name)} AS {col}" for name, col in zip(fv.features, cols))
    sel.extend(f"{_bt(c)} AS {t}" for c, t in zip(tiebreaks, tb_cols))
    feat = feat.selectExpr(*sel)

    # J2: literal coarse bounds — ttl==0 -> upper bound only
    # (hive.py:594-605). Timestamps stay F.lit (NOT SQL-string
    # literals): a TIMESTAMP'...' literal parses in the SESSION tz
    # while the Row->datetime->lit roundtrip uses the OS tz on both
    # legs, so only the latter is exact when session tz != OS tz —
    # and a shifted COARSE bound would wrongly exclude matching rows.
    if bounds is not None and bounds["mx"] is not None:
        cond = F.col(_EVENT_TS) <= F.lit(bounds["mx"])
        if fv.ttl_seconds:
            lower = bounds["mn"] - timedelta(seconds=fv.ttl_seconds)
            cond = cond & (F.col(_EVENT_TS) >= F.lit(lower))
        feat = feat.filter(cond)

    range_cond = f"{_EVENT_TS} <= {_ENTITY_TS}"
    if fv.ttl_seconds:
        # micros arithmetic, not `ts - INTERVAL n SECOND`: timestamp -
        # CalendarInterval routes through non-codegen datetime logic
        # and measurably dominates the whole join stage (~2x on the
        # flagship bench query); long compares are exact to the micro
        # and stay inside whole-stage codegen
        range_cond += (
            f" AND unix_micros({_EVENT_TS}) >= "
            f"unix_micros({_ENTITY_TS}) - {fv.ttl_seconds * 1_000_000}"
        )

    return _FvPart(
        feat=feat,
        entity_cols=list(key_map.values()),
        cols=cols,
        out_names=[fv.output_name(f, full_feature_names) for f in fv.features],
        created_ts=created_ts,
        tiebreaks=tb_cols,
        range_cond=range_cond,
    )


def _join_fvs_sql(
    spark: SparkSession,
    acc: DataFrame,
    parts: Sequence[_FvPart],
    ekeys_by_tuple: Mapping[tuple, DataFrame],
    broadcast: bool,
) -> DataFrame:
    """J3+W1+J6 for every feature view, assembled as ONE ``spark.sql``
    statement: one nesting level per view, so an n-view retrieval pays
    ONE parse + ONE analysis pass (r9: pit_multi_feature_view cold
    build −1 sql −2 temp views vs per-view statements). Per view: equi
    join on the deduped entity keys (a CROSS JOIN of the deduped
    timestamps for an entity-less view, matching the
    rid=cast(entity_ts) semantics of hive.py:543-544), the range
    predicate, the ``max_by(struct(features), struct(ordering))``
    argmax (a plain GROUP BY for a view with no features), and a
    USING-style left assembly with the join keys leading the schema —
    each level emits ``[keys, _ENTITY_TS, acc-rest, features]``. The
    outermost SELECT drops ``_ENTITY_TS`` and restores the
    user-visible feature names, which may repeat at top level.

    Ordering keys are micros longs, not raw timestamps: the max_by
    comparator runs per joined row, and long compares codegen tighter
    than timestamp ones (measured on the flagship bench query);
    unix_micros is a monotone transform, so the argmax and NULL
    placement are unchanged.

    Manual reused view names instead of spark.sql's {df} placeholders,
    for two measured reasons: the placeholder formatter creates AND
    drops a uniquely-named temp view per DataFrame argument (6 catalog
    round trips/build for a 2-view retrieval — half the SQL-path cost
    profiled at r8), and a placeholder-resolved plan no longer
    sameResult-matches cached tables, silently disabling
    CacheManager substitution (measured at r9 on tfidf — stable
    createOrReplaceTempView names keep cache reuse intact). The
    overwrite+sql window is guarded by a module lock so two
    concurrent plan builds on one session cannot interleave view
    bindings; the ``__pit_sql_*`` names are engine-reserved (a user
    temp view with one of these names is overwritten by plan
    construction), and the returned plan resolved the views at
    analysis time, so later overwrites cannot reach it."""
    latest_hint = "/*+ BROADCAST(latest) */ " if broadcast else ""
    ek_hint = "/*+ BROADCAST(ek) */ " if broadcast else ""
    acc_cols = list(acc.columns)
    out_name: dict[str, str] = {}  # internal feature col -> output name
    with _SQL_VIEW_LOCK:
        # bind_sql_view: stable engine-reserved names under classic
        # py4j (eager analysis; cache substitution intact), UNIQUE
        # per-build names under Spark Connect, where lazy spark.sql
        # would let a later rebind silently redirect this plan
        # (r9 ADVICE).
        acc_sql = bind_sql_view(acc, "__pit_sql_acc")
        # one view per distinct key tuple: views sharing a tuple share
        # its dedup
        ek_views = {
            t: bind_sql_view(ek, f"__pit_sql_ek{i}")
            for i, (t, ek) in enumerate(ekeys_by_tuple.items())
        }
        for idx, part in enumerate(parts):
            fview = bind_sql_view(part.feat, f"__pit_sql_f{idx}")
            ekv = ek_views[tuple(part.entity_cols)]
            out_name.update(zip(part.cols, part.out_names))
            keys = [_bt(c) for c in part.entity_cols]
            group = ", ".join([*keys, _ENTITY_TS])
            if keys:
                ek_join = f"JOIN {ekv} ek USING ({', '.join(keys)})"
            else:
                ek_join = f"CROSS JOIN {ekv} ek"
            matched = f"""FROM {fview} f {ek_join}
                WHERE {part.range_cond}
                GROUP BY {group}"""
            if part.cols:
                ord_sql = [f"unix_micros({_EVENT_TS})"]
                if part.created_ts:
                    ord_sql.append(f"unix_micros({_CREATED_TS})")
                ord_sql.extend(part.tiebreaks)
                best = ", ".join(f"__best.{c} AS {c}" for c in part.cols)
                latest = f"""
              SELECT {group}, {best}
              FROM (
                SELECT {ek_hint}{group},
                       max_by(struct({', '.join(part.cols)}),
                              struct({', '.join(ord_sql)})) AS __best
                {matched}
              )"""
            else:
                latest = f"SELECT {ek_hint}{group} {matched}"
            acc_rest = [
                c
                for c in acc_cols
                if c not in part.entity_cols and c != _ENTITY_TS
            ]
            proj = ", ".join(
                [
                    group,
                    *(f"a.{_bt(c)}" for c in acc_rest),
                    *(f"latest.{c}" for c in part.cols),
                ]
            )
            acc_sql = f"""(
            SELECT {latest_hint}{proj}
            FROM {acc_sql} a
            LEFT JOIN ({latest}) latest
            USING ({group})
            )"""
            # track the accumulated schema without a py4j round trip
            acc_cols = [*part.entity_cols, _ENTITY_TS, *acc_rest, *part.cols]
        # P4: drop internal columns (the reference's regex column
        # exclusion, hive.py:706) — everything else (incl. passthrough
        # entity columns) survives under its user-visible name.
        out = ", ".join(
            f"{c} AS {_bt(out_name[c])}" if c in out_name else _bt(c)
            for c in acc_cols
            if c != _ENTITY_TS
        )
        return spark.sql(f"SELECT {out} FROM {acc_sql}")
