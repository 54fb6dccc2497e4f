"""Event-analytics + data-layout registry entries: time-range rolling
windows, cohort retention, event transition matrices, a gated
salted-join parity demo, and Z-order layout quality — each with a
DuckDB oracle twin sharing the same constants.

Importing this module populates feast_hive_spark.registry.REGISTRY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import threading

from feast_hive_spark import ckpt
from feast_hive_spark.functions import round_half_away_long
from feast_hive_spark.functions import text as X
from feast_hive_spark.operators import layout as L
from feast_hive_spark.operators.skew import salted_join
from feast_hive_spark.plans.memo import (
    job_memo,
    job_memo_peek,
    plan_memo,
    plan_memo_peek,
)
from feast_hive_spark.plans.bcast import sql_broadcast_hint
from feast_hive_spark.registry import register
from feast_hive_spark.sources.tables import bind_sql_view, ensure_views, read_table

# guards the overwrite-stable-view window of events_scalar_report's
# cached-aggregate binding (same protocol as plans/pit._SQL_VIEW_LOCK)
_ESR_VIEW_LOCK = threading.Lock()

_ROLL_SECONDS = 7 * 86400
_Z_BITS = 8
_Z_BUCKET_SHIFT = 2 * _Z_BITS - 6  # top 6 bits -> 64 buckets


@register(
    "events_rolling_7d",
    f"""
SELECT event_id, user_id,
       ROUND(CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) OVER (
         PARTITION BY user_id
         ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
         RANGE BETWEEN {_ROLL_SECONDS} PRECEDING AND CURRENT ROW
       ) AS DOUBLE) / 1000000, 4) AS roll7_value
FROM events
""",
)
def events_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE rolling aggregate: per event, the 7-day trailing sum
    of ``value`` for its user. The frame is a true range frame over
    epoch seconds (ties share a frame, so the result is order-
    independent); values are fixed to micro-unit BIGINTs before the
    window sum so the cross-engine total is exact under any
    within-frame order. One shuffle, keyed by user."""
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-_ROLL_SECONDS, 0)
    )
    micro = round_half_away_long(F.col("value") * 1000000)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum(micro).over(w).cast("double") / 1000000, 4).alias(
            "roll7_value"
        ),
    )


_ACF_MAX_LAG = 7


@register(
    "daily_value_autocorrelation",
    f"""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
), st AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS s FROM d
), l AS (
  SELECT x,
         {", ".join(f"lead(x, {k}) OVER (ORDER BY day) AS x{k}" for k in range(1, _ACF_MAX_LAG + 1))}
  FROM d
), den AS (
  SELECT SUM((n * x - s) * (n * x - s)) AS dd FROM l, st
)
{" UNION ALL ".join(
    f"SELECT CAST({k} AS BIGINT) AS lag, "
    f"ROUND(CAST(SUM(CASE WHEN x{k} IS NOT NULL THEN (n * x - s) * (n * x{k} - s) END) AS DOUBLE) "
    f"/ CAST(dd AS DOUBLE), 6) AS acf FROM l, st, den GROUP BY dd"
    for k in range(1, _ACF_MAX_LAG + 1)
)}
""",
)
def daily_value_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily total-value series at lags 1..7
    (the seasonality diagnostic). The mean never materializes:
    deviations are cross-multiplied to (n*x - S) integers and both
    the lag covariance and the variance are EXACT decimal(38)/HUGEINT
    sums, so the final double ratio is the same two integers divided
    in both engines. The series itself is #days rows (one daily
    pre-aggregate collapses the events map-side); the ordered lag
    window runs on that tiny series, where a single-partition window
    is the correct plan."""
    ev = read_table(spark, sf_dir, "events")
    # cached (r13, guide §1.3): daily feeds the (n, s) scalar AND the
    # lag table, and lags feeds the variance scalar AND the lag
    # covariances — uncached, the events scan executed 4x per run.
    # Both frames are day-domain-sized.
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("x")
    ).cache()
    st = F.broadcast(
        daily.agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("x").cast("decimal(38,0)").alias("s"),
        )
    )
    w = Window.orderBy("day")
    lags = daily.select(
        "x",
        *[F.lead("x", k).over(w).alias(f"x{k}") for k in range(1, _ACF_MAX_LAG + 1)],
    ).crossJoin(st).cache()
    dev = F.col("n") * F.col("x").cast("decimal(38,0)") - F.col("s")
    den = F.broadcast(lags.agg(F.sum(dev * dev).alias("dd")))
    entries = [
        F.struct(
            F.lit(k).cast("long").alias("lag"),
            F.sum(
                F.when(
                    F.col(f"x{k}").isNotNull(),
                    dev
                    * (
                        F.col("n") * F.col(f"x{k}").cast("decimal(38,0)")
                        - F.col("s")
                    ),
                )
            ).alias("num"),
        )
        for k in range(1, _ACF_MAX_LAG + 1)
    ]
    nums = lags.agg(F.array(*entries).alias("__a")).select(
        F.explode("__a").alias("e")
    )
    return nums.crossJoin(den).select(
        F.col("e.lag").alias("lag"),
        F.round(
            F.col("e.num").cast("double") / F.col("dd").cast("double"), 6
        ).alias("acf"),
    )


@register(
    "rolling_zscore_flags",
    f"""
WITH m AS (
  SELECT event_id, user_id,
         CAST(round(value * 1000) AS BIGINT) AS u,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
), w AS (
  SELECT event_id, user_id, u,
         COUNT(*) OVER fr AS n,
         SUM(u) OVER fr AS s,
         SUM(u * u) OVER fr AS sq
  FROM m
  WINDOW fr AS (PARTITION BY user_id ORDER BY es
                RANGE BETWEEN {_ROLL_SECONDS} PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, CAST(n AS BIGINT) AS n_win,
       (CAST(n AS HUGEINT) * u - CAST(s AS HUGEINT))
         * (CAST(n AS HUGEINT) * u - CAST(s AS HUGEINT))
       > 9 * (CAST(n AS HUGEINT) * CAST(sq AS HUGEINT)
              - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS flagged
FROM w
""",
)
def rolling_zscore_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly flags: per event, whether its value
    sits more than 3 sigma from its user's 7-day trailing mean — the
    streaming-monitoring shape in batch. The z-test is evaluated in
    EXACT integer arithmetic: milli-unit BIGINTs feed the range
    window (order-independent sums), and the comparison
    ``(n*u - s)^2 > 9*(n*sq - s^2)`` is cross-multiplied into
    decimal(38)/HUGEINT so no engine ever divides — flags are
    bit-identical cross-engine. ONE user-keyed shuffle; count, sum
    and sum-of-squares share the frame."""
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-_ROLL_SECONDS, 0)
    )
    u = round_half_away_long(F.col("value") * 1000)
    base = ev.select(
        "event_id",
        "user_id",
        u.alias("u"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(u).over(w).alias("s"),
        F.sum(u * u).over(w).alias("sq"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    nn, s, sq, uu = d(F.col("n")), d(F.col("s")), d(F.col("sq")), d(F.col("u"))
    dev = nn * uu - s
    flagged = (dev * dev) > (9 * (nn * sq - s * s))
    return base.select(
        "event_id",
        "user_id",
        F.col("n").cast("long").alias("n_win"),
        flagged.alias("flagged"),
    )


@register(
    "cohort_retention_weekly",
    """
WITH f AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
)
SELECT CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
       CAST(date_diff('day',
             CAST(date_trunc('week', f.first_ts) AS DATE),
             CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT) AS week_offset,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e
JOIN f ON e.user_id = f.user_id
GROUP BY 1, 2
""",
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by the Monday of their
    first event, distinct-user counts at each week offset. Two
    shuffles (first-event agg, cohort-cell agg); the per-user firsts
    join is broadcast-eligible because it is one row per user."""
    ev = read_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohort = F.to_date(F.date_trunc("week", F.col("first_ts")))
    wk = F.to_date(F.date_trunc("week", F.col("ts")))
    return (
        ev.join(firsts, "user_id")
        .groupBy(
            cohort.alias("cohort_week"),
            F.floor(F.datediff(wk, cohort) / 7).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "event_transition_matrix",
    """
WITH nxt AS (
  SELECT event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS next_type
  FROM events
)
SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
FROM nxt
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user. The (ts, event_id) order key is a total order
    (event_id unique), so LEAD is deterministic cross-engine. One
    user-keyed window shuffle + one transition-cell aggregate."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# natural-log-of-2 as a shared double literal (same cross-engine
# float-literal rule as registry_corpus._LN2)
import math as _math

_LN2 = repr(_math.log(2.0))


@register(
    "event_entropy_rate",
    f"""
WITH nxt AS (
  SELECT event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS next_type
  FROM events
), cells AS (
  SELECT event_type AS s, next_type AS t, COUNT(*) AS n
  FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2
), marg AS (
  SELECT s, SUM(n) AS ns FROM cells GROUP BY s
), tot AS (
  SELECT SUM(ns) AS nn, COUNT(*) AS n_states FROM marg
), terms AS (
  SELECT CAST(ROUND(cells.n * (ln(CAST(ns AS DOUBLE)) - ln(CAST(cells.n AS DOUBLE)))
                    * 1000000) AS BIGINT) AS tmicro
  FROM cells JOIN marg ON cells.s = marg.s
)
SELECT CAST(nn AS BIGINT) AS n_transitions,
       CAST(n_states AS BIGINT) AS n_states,
       ROUND(SUM(tmicro) / 1e6 / nn / {_LN2}, 6) AS entropy_rate_bits,
       ROUND(1e0 - SUM(tmicro) / 1e6 / nn
                   / ln(CAST(n_states AS DOUBLE)), 6) AS predictability
FROM terms CROSS JOIN tot
GROUP BY nn, n_states
""",
)
def event_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain —
    H = Σ_s π(s)·H(next|s) over the empirical transition matrix — the
    information-theoretic behavioral-predictability score (Song et
    al., 'Limits of Predictability in Human Mobility') plus its
    normalized complement 1 − H/log2(k). Each (s,t) cell contributes
    n·(ln n_s − ln n_st), micro-fixed to BIGINT before the fold (the
    char_entropy_by_lang pattern), so both engines sum identical
    integers; ln 2 is a shared repr() double literal. Scale shape:
    one user-keyed window shuffle (the transition extraction — the
    only corpus-sized stage, identical to event_transition_matrix),
    then everything runs on k² cells. Requires ≥2 observed source
    states (ln k in the normalizer); the events fixture has 5."""
    ensure_views(spark, sf_dir)
    # k²-cell transition table cached (r13, guide §1.3): Spark
    # inlines CTEs, so the all-SQL form re-ran the corpus-sized
    # user-keyed window + rollup under BOTH marg and terms — two full
    # transition extractions per run. The arithmetic below is the
    # identical SQL text per fragment.
    cells = spark.sql("""
        SELECT event_type AS s, next_type AS t, count(*) AS n
        FROM (SELECT event_type,
                     LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS next_type
              FROM events)
        WHERE next_type IS NOT NULL GROUP BY 1, 2
    """).cache()
    marg = cells.groupBy("s").agg(F.expr("sum(n) AS ns"))
    tot = marg.agg(
        F.expr("sum(ns) AS nn"), F.expr("count(*) AS n_states")
    )
    terms = cells.join(marg, "s").select(
        F.expr(
            "cast(round(n * (ln(cast(ns AS DOUBLE)) - ln(cast(n AS DOUBLE)))"
            " * 1000000) AS BIGINT)"
        ).alias("tmicro")
    )
    return (
        terms.crossJoin(F.broadcast(tot))
        .groupBy("nn", "n_states")
        .agg(
            F.expr(
                f"round(sum(tmicro) / 1e6 / nn / {_LN2}, 6)"
                " AS entropy_rate_bits"
            ),
            F.expr(
                "round(1e0 - sum(tmicro) / 1e6 / nn"
                " / ln(cast(n_states AS DOUBLE)), 6) AS predictability"
            ),
        )
        .select(
            F.expr("cast(nn AS BIGINT) AS n_transitions"),
            F.expr("cast(n_states AS BIGINT) AS n_states"),
            "entropy_rate_bits",
            "predictability",
        )
    )


@register(
    "salted_join_segments",
    """
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(ROUND(e.value * 1000000) AS BIGINT)) AS DOUBLE) / 1000000, 4) AS sum_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def salted_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated parity proof for operators/skew.py:salted_join — the
    salted fact×dim join must produce row-identical results to the
    plain SQL join (the oracle). The dim (customer) is replicated
    salt× so a hot user key spreads over salt shuffle partitions;
    micro-unit fixed-point keeps the aggregated sum exact."""
    ev = read_table(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, cust, on=["user_id"], salt=8)
    micro = round_half_away_long(F.col("value") * 1000000)
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(micro).cast("double") / 1000000, 4).alias("sum_value"),
    )


def _zorder_oracle() -> str:
    terms = []
    for b in range(_Z_BITS):
        for i, g in enumerate(("xi", "yi")):
            terms.append(f"((({g} >> {b}) & 1) << {b * 2 + (1 - i)})")
    zexpr = " | ".join(terms)
    gmax = (1 << _Z_BITS) - 1
    return f"""
WITH mm AS (
  SELECT min(user_id) AS mn0, max(user_id) AS mx0,
         min(value) AS mn1, max(value) AS mx1 FROM events
),
g AS (
  SELECT user_id, value,
    CASE WHEN CAST(mx0 - mn0 AS DOUBLE) > 0
      THEN CAST(floor((user_id - mn0) / CAST(mx0 - mn0 AS DOUBLE) * {gmax}) AS BIGINT)
      ELSE 0 END AS xi,
    CASE WHEN CAST(mx1 - mn1 AS DOUBLE) > 0
      THEN CAST(floor((value - mn1) / CAST(mx1 - mn1 AS DOUBLE) * {gmax}) AS BIGINT)
      ELSE 0 END AS yi
  FROM events, mm
),
z AS (SELECT user_id, value, {zexpr} AS zv FROM g)
SELECT zv >> {_Z_BUCKET_SHIFT} AS zbucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(user_id) AS min_user, MAX(user_id) AS max_user,
       ROUND(MIN(value), 4) AS min_value, ROUND(MAX(value), 4) AS max_value
FROM z
GROUP BY zbucket
"""


@register("zorder_layout_quality", _zorder_oracle())
def zorder_layout_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit: Morton-interleave (user_id, value) onto
    an 8-bit grid, bucket by the key's top 6 bits (= 64 contiguous
    z-ranges ≈ output files), and report each bucket's per-column
    min/max — the zone-map tightness a reader's pruning would see.
    The key is pure codegen bit algebra; bounds are one broadcast
    1-row aggregate (operators/layout.py)."""
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    keyed = L.zorder_keys(ev, ["user_id", "value"], bits=_Z_BITS)
    return keyed.groupBy(
        F.shiftright(F.col("__z"), _Z_BUCKET_SHIFT).alias("zbucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


@register(
    "data_quality_lineitem",
    """
WITH s AS (
  SELECT COUNT(*) AS n,
    SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v0,
    SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS v1,
    SUM(CASE WHEN l_discount IS NULL OR l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS v2,
    SUM(CASE WHEN l_returnflag IS NULL OR l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS v3,
    SUM(CASE WHEN l_linestatus IS NULL OR NOT regexp_matches(l_linestatus, '^[OF]$') THEN 1 ELSE 0 END) AS v4,
    COUNT(DISTINCT l_orderkey) AS d0
  FROM lineitem
)
SELECT 'not_null(l_orderkey)' AS rule, n AS n_rows, CAST(v0 AS BIGINT) AS n_violations, v0 = 0 AS passed FROM s
UNION ALL
SELECT 'in_range(l_quantity)', n, CAST(v1 AS BIGINT), v1 = 0 FROM s
UNION ALL
SELECT 'in_range(l_discount)', n, CAST(v2 AS BIGINT), v2 = 0 FROM s
UNION ALL
SELECT 'accepted_values(l_returnflag)', n, CAST(v3 AS BIGINT), v3 = 0 FROM s
UNION ALL
SELECT 'matches(l_linestatus)', n, CAST(v4 AS BIGINT), v4 = 0 FROM s
UNION ALL
SELECT 'unique(l_orderkey)', n, CAST(n - d0 AS BIGINT), (n - d0) = 0 FROM s
""",
)
def data_quality_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite (the deequ shape) over lineitem:
    six rules — null, two ranges, accepted values, regex, uniqueness —
    compiled into ONE scan-wide aggregate (+ one count-distinct);
    output is #rules rows (operators/quality.py)."""
    from feast_hive_spark.operators import quality as Q

    li = read_table(spark, sf_dir, "lineitem")
    return Q.check_constraints(
        li,
        [
            Q.not_null("l_orderkey"),
            Q.in_range("l_quantity", 1, 50),
            Q.in_range("l_discount", 0, 0.1),
            Q.accepted_values("l_returnflag", ["A", "N", "R"]),
            Q.matches("l_linestatus", "^[OF]$"),
            Q.unique("l_orderkey"),
        ],
    )


@register(
    "winsorized_event_values",
    """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
)
SELECT e.event_type,
  CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(MIN(lo), 4) AS lo_bound,
  ROUND(MIN(hi), 4) AS hi_bound,
  CAST(SUM(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
  ROUND(CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000, 4) AS mean_raw,
  ROUND(CAST(SUM(CAST(ROUND(LEAST(GREATEST(value, lo), hi) * 1000000) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000, 4) AS mean_winsorized
FROM events e
JOIN b ON e.event_type = b.event_type
GROUP BY e.event_type
""",
)
def winsorized_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-clipped robust stats per event type: exact [5,95]
    percentile bounds (one #groups-row aggregate, broadcast back),
    codegen clipping, micro-unit fixed-point means
    (operators/quality.py:winsorize_stats)."""
    from feast_hive_spark.operators import quality as Q

    ev = read_table(spark, sf_dir, "events")
    return Q.winsorize_stats(ev, "event_type", "value", 0.05, 0.95)


@register(
    "asof_forward_daily",
    """
WITH u AS (
  SELECT user_id, ts AS uts, value, event_id, 1 AS is_event FROM events
  UNION ALL
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP), NULL, -1, 0 FROM events
),
w AS (
  SELECT user_id, uts, is_event,
    first_value(CASE WHEN is_event = 1 THEN uts END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY uts ASC, is_event ASC, event_id ASC
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts,
    first_value(CASE WHEN is_event = 1 THEN value END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY uts ASC, is_event ASC, event_id ASC
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_value
  FROM u
)
SELECT user_id, uts AS probe_ts, next_ts, ROUND(next_value, 4) AS next_value
FROM w WHERE is_event = 0
""",
)
def asof_forward_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (merge_asof direction='forward'): for every
    (user, day-start) probe, the first event at or after it —
    unbounded horizon, ONE user-keyed window shuffle, no range join
    (plans/asof.py). Probes sort before coincident events; event_id
    totalizes the tie order cross-engine."""
    from feast_hive_spark.plans.asof import asof_forward_join

    ev = read_table(spark, sf_dir, "events")
    probes = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("probe_ts")
    ).distinct()
    out = asof_forward_join(
        probes, ev, ["user_id"], "probe_ts", "ts", ["value"],
        tiebreak_col="event_id",
    )
    return out.select(
        "user_id", "probe_ts", "next_ts",
        F.round("next_value", 4).alias("next_value"),
    )


@register(
    "referential_integrity_audit",
    """
SELECT 'lineitem->orders' AS constraint,
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_child,
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_orphans,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) = 0 AS ok
UNION ALL
SELECT 'lineitem->part',
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey)) AS BIGINT),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey)) = 0
UNION ALL
SELECT 'orders->customer',
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) = 0
""",
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema FK audit (operators/quality.foreign_key_check):
    three child->parent checks unioned into one DataFrame, each a
    key-columns-only left join (strategy left to AQE: dim parents
    broadcast, fact parents shuffle) plus one aggregate."""
    from feast_hive_spark.operators.quality import foreign_key_check

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    p = read_table(spark, sf_dir, "part")
    c = read_table(spark, sf_dir, "customer")
    checks = [
        foreign_key_check(li, o, ["l_orderkey"], ["o_orderkey"], "lineitem->orders"),
        foreign_key_check(li, p, ["l_partkey"], ["p_partkey"], "lineitem->part"),
        foreign_key_check(o, c, ["o_custkey"], ["c_custkey"], "orders->customer"),
    ]
    out = checks[0]
    for ch in checks[1:]:
        out = out.unionByName(ch)
    return out


@register(
    "negative_samples_users",
    """
WITH pos AS (
  SELECT DISTINCT user_id, event_id % 1000 AS item FROM events
), usr AS (
  SELECT DISTINCT user_id FROM events
), gen AS (
  SELECT user_id, unnest(range(0, 40)) AS slot FROM usr
), cand AS (
  SELECT user_id, slot,
         CAST(('0x' || substr(md5('neg:' || CAST(user_id AS VARCHAR) || ':' || CAST(slot AS VARCHAR)), 1, 12)) AS BIGINT) % 1000 AS item
  FROM gen
), ok AS (
  SELECT c.user_id, c.slot, c.item
  FROM cand c LEFT JOIN pos p
    ON c.user_id = p.user_id AND c.item = p.item
  WHERE p.item IS NULL
), ded AS (
  SELECT user_id, slot, item,
         ROW_NUMBER() OVER (PARTITION BY user_id, item ORDER BY slot) AS dup
  FROM ok
), r AS (
  SELECT user_id, slot, item,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY slot) AS rk
  FROM ded WHERE dup = 1
)
SELECT user_id, CAST(rk AS BIGINT) AS neg_rank, CAST(item AS BIGINT) AS item
FROM r WHERE rk <= 5
""",
)
def negative_samples_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling
    (operators/curate.negative_samples): 5 hash-drawn non-interacted
    items per user from a 1000-item space (items = event_id % 1000),
    positives rejected against the collected per-user set,
    hash-collision candidates deduped to their first slot. No RNG
    anywhere — the twin reproduces the exact sample from the shared
    md5 formula."""
    from feast_hive_spark.operators.curate import negative_samples

    ev = read_table(spark, sf_dir, "events")
    inter = ev.select(
        "user_id", (F.col("event_id") % 1000).alias("item")
    )
    return negative_samples(
        inter, "user_id", "item", n_items=1000, k=5
    )


@register(
    "user_event_sequences",
    """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       md5(string_agg(event_type, ' ' ORDER BY ts, event_id)) AS seq_fp
FROM events GROUP BY user_id
""",
)
def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event history fingerprints
    (operators/sequences.event_sequences): ONE key shuffle collects
    each history, ordering via array_sort over (ts, event_id, item)
    structs, fingerprint in codegen — the stable sample key for
    sequence-model training data."""
    from feast_hive_spark.operators.sequences import event_sequences

    ev = read_table(spark, sf_dir, "events")
    return event_sequences(ev, "user_id", "ts", "event_type", "event_id")


@register(
    "skipgram_event_pairs",
    """
WITH o AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS pos
  FROM events
)
SELECT a.event_type AS item_a, b.event_type AS item_b,
       CAST(COUNT(*) AS BIGINT) AS n
FROM o a JOIN o b
  ON a.user_id = b.user_id AND b.pos BETWEEN a.pos + 1 AND a.pos + 3
GROUP BY 1, 2
""",
)
def skipgram_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence corpus (window 3) for item2vec-style
    training (operators/sequences.skipgram_pairs): pair generation in
    JVM higher-order functions over each user's collected history —
    one shuffle, no self-join (the DuckDB twin IS the naive
    self-join, which is the contrast: identical output, half the
    shuffles)."""
    from feast_hive_spark.operators.sequences import skipgram_pairs

    ev = read_table(spark, sf_dir, "events")
    return skipgram_pairs(
        ev, "user_id", "ts", "event_type", "event_id", window=3
    )


@register(
    "click_attribution_batch",
    """
WITH p AS (
  SELECT user_id, event_id AS probe_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, event_id AS click_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
)
SELECT p.probe_id, c.click_id
FROM p LEFT JOIN c
  ON p.user_id = c.user_id
 AND c.c_ts >= p.p_ts - INTERVAL 1800 SECOND
 AND c.c_ts <= p.p_ts
""",
)
def click_attribution_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase attribution, batch form: every purchase LEFT
    OUTER joined to the same user's clicks in the preceding 30
    minutes (NULL when none) — the closed-window completion twin of
    streaming.stream_click_attribution, whose watermarked outer join
    is the live path. Equality on user_id keys the join; the interval
    is the residual condition."""
    ev = read_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("probe_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (p["user_id"] == c["c_user"])
        & (F.unix_micros("c_ts") >= F.unix_micros("p_ts") - F.lit(1800 * 1_000_000))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    return p.join(c, cond, "leftOuter").select("probe_id", "click_id")


@register(
    "next_item_training_samples",
    """
WITH h0 AS (
  SELECT event_id, user_id, event_type,
         list(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS hist0
  FROM events
), h AS (
  SELECT event_id, user_id, event_type,
         COALESCE(hist0, CAST([] AS VARCHAR[])) AS hist
  FROM h0
)
SELECT user_id, event_id,
       CAST(len(hist[greatest(1, len(hist) - 4):len(hist)]) AS BIGINT) AS n_context,
       md5(COALESCE(array_to_string(hist[greatest(1, len(hist) - 4):len(hist)], ' '), '')) AS ctx_fp,
       event_type AS label
FROM h
""",
)
def next_item_training_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-recommendation dataset prep
    (operators/sequences.next_item_samples): every event becomes
    (last-5-items context fingerprint, label) via ONE key-window
    shuffle — collect_list over a BOUNDED sliding frame
    (rows between -5 and -1), O(context) per row even on whale keys.
    Context travels as a 16-byte md5, not an array. (The DuckDB twin
    keeps the unbounded-prefix + tail-slice formulation — byte-
    identical output, and DuckDB's list window doesn't pay Spark's
    per-row buffer copy.)"""
    from feast_hive_spark.operators.sequences import next_item_samples

    ev = read_table(spark, sf_dir, "events")
    return next_item_samples(
        ev, "user_id", "ts", "event_type", "event_id", context=5
    )


@register(
    "group_split_no_leakage",
    """
WITH t AS (
  SELECT user_id, event_id,
         CASE WHEN CAST(('0x' || substr(md5('split:' || CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % 10000 < 8000 THEN 'train'
              WHEN CAST(('0x' || substr(md5('split:' || CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % 10000 < 9000 THEN 'val'
              ELSE 'test' END AS split
  FROM events
)
SELECT split,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS no_leakage
FROM t GROUP BY split
""",
)
def group_split_no_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware (leakage-safe) split: hashing the GROUP key
    (user_id) instead of the row id puts every row of a user in
    exactly one fold — the split you need when correlated rows (same
    user/document/session) would otherwise leak train information
    into eval. The emitted no_leakage verdict recomputes the
    guarantee inside the query: distinct users summed per split must
    equal global distinct users (each user in exactly one fold)."""
    from feast_hive_spark.operators.curate import hash_split

    ev = read_table(spark, sf_dir, "events")
    labeled = hash_split(ev, "user_id", (0.8, 0.1, 0.1))
    # 3-row split table cached (r13, guide §1.3): per feeds the
    # readout AND the leakage-check sum — uncached, the events scan +
    # distinct-user expand aggregate executed twice
    per = labeled.groupBy("split").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    ).cache()
    total = F.broadcast(
        ev.agg(F.countDistinct("user_id").alias("__g"))
    )
    chk = F.broadcast(
        per.agg(F.sum("n_users").alias("__s"))
    )
    return (
        per.crossJoin(total)
        .crossJoin(chk)
        .select(
            "split",
            "n_users",
            "n_events",
            (F.col("__s") == F.col("__g")).alias("no_leakage"),
        )
    )


@register(
    "key_skew_report_suppkey",
    """
WITH keyed AS (
  SELECT CAST(l_suppkey AS VARCHAR) AS key_value, COUNT(*) AS n_rows
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT SUM(n_rows) AS total_rows, COUNT(*) AS n_keys FROM keyed
), top AS (
  SELECT key_value, n_rows,
         ROW_NUMBER() OVER (ORDER BY n_rows DESC, key_value) AS rank
  FROM keyed ORDER BY n_rows DESC, key_value LIMIT 10
), ts AS (
  SELECT SUM(n_rows) AS top_rows FROM top
)
SELECT CAST(rank AS BIGINT) AS rank, key_value,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST((n_rows * 10000) // total_rows AS BIGINT) AS share_bp,
       CAST(total_rows AS BIGINT) AS total_rows,
       CAST(n_keys AS BIGINT) AS n_keys,
       CAST((top_rows * 10000) // total_rows AS BIGINT) AS top_share_bp
FROM top, tot, ts
""",
)
def key_skew_report_suppkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew pre-flight (operators/skew.key_skew_report): the
    heaviest supplier keys in lineitem with row shares and whole-space
    concentration — the read you do before choosing plain shuffle vs
    salting vs AQE skew split. One map-side-collapsed count, one
    TakeOrdered top-N, two 1-row broadcasts."""
    from feast_hive_spark.operators.skew import key_skew_report

    li = read_table(spark, sf_dir, "lineitem")
    return key_skew_report(li, ["l_suppkey"], top_n=10)


_CDC_CUTOFF = "2024-01-15"


@register(
    "cdc_apply_user_state",
    f"""
WITH snap AS (
  SELECT user_id, ts, value FROM (
    SELECT user_id, ts, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts < TIMESTAMP '{_CDC_CUTOFF}'
  ) WHERE rn = 1
), allr AS (
  SELECT user_id, ts, 'upsert' AS op, value,
         CAST(-1 AS BIGINT) AS tb, 0 AS src
  FROM snap
  UNION ALL
  SELECT user_id, ts,
         CASE WHEN event_type = 'purchase' THEN 'delete' ELSE 'upsert' END,
         value, event_id, 1
  FROM events WHERE ts >= TIMESTAMP '{_CDC_CUTOFF}'
), win AS (
  SELECT user_id, ts, op, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, src DESC, tb DESC) AS rn
  FROM allr
)
SELECT user_id, ROUND(value, 4) AS value, ts
FROM win WHERE rn = 1 AND op <> 'delete'
""",
)
def cdc_apply_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDC compaction (plans/asof.apply_cdc): a pre-cutoff
    latest-per-user snapshot plus a post-cutoff change stream where
    purchases act as deletes — MERGE INTO expressed as ONE
    skew-immune max_by aggregate over the union, deletes filtered
    from the winners. The Hudi/Delta-style upsert cycle,
    engine-native."""
    from feast_hive_spark.plans.asof import apply_cdc

    ev = read_table(spark, sf_dir, "events")
    cutoff = F.lit(_CDC_CUTOFF).cast("timestamp")
    pre = ev.filter(F.col("ts") < cutoff)
    snapshot = (
        pre.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("ts", "value"), F.struct("ts", "event_id")
            ).alias("__s")
        )
        .select("user_id", F.col("__s.ts").alias("ts"), F.col("__s.value").alias("value"))
    )
    changes = ev.filter(F.col("ts") >= cutoff).select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "purchase", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    out = apply_cdc(
        snapshot, changes, ["user_id"], "ts", "op", ["value"],
        tiebreak_col="event_id",
    )
    return out.select(
        "user_id", F.round("value", 4).alias("value"), "ts"
    )


@register(
    "heavy_hitter_users",
    """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY user_id HAVING COUNT(*) >= 70
""",
)
def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass heavy-hitter detection (operators/skew.heavy_hitters):
    candidates from a 20% deterministic row sample, exact counts for
    candidates only via a broadcast semi filter — never a full
    distinct-value shuffle. The DuckDB twin is the exact single-pass
    HAVING query, so the hash gate certifies the sampling pass missed
    no true hitter on this dataset (deterministic hash: it either
    always holds or always fails)."""
    from feast_hive_spark.operators.skew import heavy_hitters

    ev = read_table(spark, sf_dir, "events")
    return heavy_hitters(
        ev, "user_id", "event_id", min_count=70, sample_bp=2000
    )


@register(
    "asof_nearest_daily",
    """
WITH u AS (
  SELECT user_id, ts AS uts, value, event_id, 1 AS is_event FROM events
  UNION ALL
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP), NULL, -1, 0 FROM events
),
w AS (
  -- one packed struct per direction: nearest_value always comes from
  -- the SAME source row as nearest_ts (matched-row semantics, like
  -- pandas merge_asof — a NULL value in the nearest row stays NULL)
  SELECT user_id, uts, is_event,
    last_value(CASE WHEN is_event = 1
        THEN struct_pack(ts := uts, v := value) END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY uts ASC, is_event ASC, event_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bk,
    first_value(CASE WHEN is_event = 1
        THEN struct_pack(ts := uts, v := value) END IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY uts ASC, is_event ASC, event_id ASC
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fw
  FROM u
),
pick AS (
  SELECT user_id, uts, is_event,
         struct_extract(fw, 'ts') IS NULL OR (struct_extract(bk, 'ts') IS NOT NULL
           AND epoch(uts) - epoch(struct_extract(bk, 'ts'))
               <= epoch(struct_extract(fw, 'ts')) - epoch(uts)) AS use_bk,
         bk, fw
  FROM w
)
SELECT user_id, uts AS probe_ts,
       struct_extract(CASE WHEN use_bk THEN bk ELSE fw END, 'ts') AS nearest_ts,
       ROUND(struct_extract(CASE WHEN use_bk THEN bk ELSE fw END, 'v'), 4) AS nearest_value
FROM pick WHERE is_event = 0
""",
)
def asof_nearest_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join (merge_asof direction='nearest'):
    for every (user, day-start) probe, the event with minimum |Δt| —
    backward and forward candidates ride ONE union + ONE key-window
    shuffle, the closer side picked in codegen (backward wins exact
    ties; plans/asof.asof_nearest_join)."""
    from feast_hive_spark.plans.asof import asof_nearest_join

    ev = read_table(spark, sf_dir, "events")
    probes = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("probe_ts")
    ).distinct()
    out = asof_nearest_join(
        probes, ev, ["user_id"], "probe_ts", "ts", ["value"],
        tiebreak_col="event_id",
    )
    return out.select(
        "user_id", "probe_ts", "nearest_ts",
        F.round("nearest_value", 4).alias("nearest_value"),
    )


@register(
    "scd2_user_event_history",
    """
WITH chg AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
  FROM events
), vers AS (
  SELECT user_id, event_type, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS valid_to
  FROM chg WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type, valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM vers
""",
)
def scd2_user_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build (plans/asof.scd2_build):
    collapse consecutive same-attribute change events per user, then
    assign validity intervals — one key shuffle feeds both the lag
    change-filter and the lead interval window. The warehouse
    dimension-history shape Hive users hand-write with HiveQL
    windows."""
    from feast_hive_spark.plans.asof import scd2_build

    ev = read_table(spark, sf_dir, "events")
    return scd2_build(
        ev, ["user_id"], "ts", ["event_type"], tiebreak_col="event_id"
    )


_DELTA_OLD = "2024-01-20"
_DELTA_NEW = "2024-01-31"


@register(
    "materialize_delta",
    f"""
WITH s_old AS (
  SELECT user_id, event_id AS old_id
  FROM events WHERE ts < TIMESTAMP '{_DELTA_OLD}'
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
),
s_new AS (
  SELECT user_id, event_id AS new_id, value AS new_value
  FROM events WHERE ts < TIMESTAMP '{_DELTA_NEW}'
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
)
SELECT n.user_id,
       CASE WHEN o.old_id IS NULL THEN 'new' ELSE 'updated' END AS change_type,
       o.old_id, n.new_id, ROUND(n.new_value, 4) AS new_value
FROM s_new n LEFT JOIN s_old o ON n.user_id = o.user_id
WHERE o.old_id IS NULL OR o.old_id <> n.new_id
""",
)
def materialize_delta_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-materialization delta (the reference's
    materialize_incremental consumer semantics): keys whose
    latest-per-key row changed between two snapshot cutoffs. Both
    snapshots are skew-immune max_by aggregates; the diff is one
    key-cardinality left join (plans/asof.py:materialize_delta)."""
    from feast_hive_spark.plans.asof import materialize_delta

    ev = read_table(spark, sf_dir, "events")
    out = materialize_delta(
        ev, ["user_id"], "ts", "event_id", "value", _DELTA_OLD, _DELTA_NEW
    )
    return out.select(
        "user_id", "change_type", "old_id", "new_id",
        F.round("new_value", 4).alias("new_value"),
    )


_FUZZY_MAX_DIST = 4


def _fuzzy_part_collapsed(spark: SparkSession, sf_dir: str):
    """Shared exact-collapse front end for the fuzzy part-matching
    family (r8 verdict #3): records identical on the full compared
    tuple ``(p_name, p_brand, p_type)`` are collapsed to one
    representative (min key) BEFORE the blocked edit-distance
    self-join, exactly like the dedup family's ``_exact_collapse`` —
    the r6/r7 scale harness showed why: key-shifted duplicate records
    (the 10x/100x multiplication, or any real catalog re-ingesting
    the same vendor feed) grow blocks linearly and the within-block
    comparison count QUADRATICALLY, while distinct-tuple work stays
    constant. Returns ``(mem, rep_pairs)``: the (key, group) member
    table and the representative-level fuzzy pairs
    ``(gk_a, gk_b, name_a, name_b, dist)``. Comparisons are
    distinct-tuple-sized; everything downstream is output-sized."""
    part = read_table(spark, sf_dir, "part")
    gk = F.md5(F.concat_ws("\x1f", "p_name", "p_brand", "p_type"))
    mem = part.select(F.col("p_partkey").alias("__mkey"), gk.alias("__gk"))
    reps = (
        part.select("p_partkey", "p_name", "p_brand", "p_type", gk.alias("__gk"))
        .groupBy("__gk", "p_name", "p_brand", "p_type")
        .agg(F.min("p_partkey").alias("p_partkey"))
    )
    a = reps.select(
        F.col("__gk").alias("gk_a"), F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"), "p_brand", "p_type",
    )
    b = reps.select(
        F.col("__gk").alias("gk_b"), F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"), "p_brand", "p_type",
    )
    # bounded edit distance, computed ONCE: the threshold form of
    # levenshtein runs the banded O(len * k) recurrence (returning -1
    # past the bound) instead of the full O(len^2) matrix the old
    # filter+projection pair evaluated twice. Distances for surviving
    # pairs are exact, so the oracle twin's unbounded formulation
    # agrees. (A length-gap prefilter was measured SLOWER here — the
    # extra predicate costs more than the few pairs it rejects.)
    rep_pairs = (
        a.join(b, ["p_brand", "p_type"])
        .filter(
            (F.col("key_a") < F.col("key_b"))
            & (F.col("name_a") != F.col("name_b"))
        )
        .withColumn(
            "dist",
            F.levenshtein("name_a", "name_b", _FUZZY_MAX_DIST).cast("long"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= _FUZZY_MAX_DIST))
        .select("gk_a", "gk_b", "key_a", "key_b", "name_a", "name_b", "dist")
    )
    return mem, reps, rep_pairs


@register(
    "fuzzy_part_name_pairs",
    f"""
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM part a
JOIN part b
  ON a.p_brand = b.p_brand AND a.p_type = b.p_type
 AND a.p_partkey < b.p_partkey
WHERE a.p_name <> b.p_name
  AND levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
""",
)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy match: near-identical part names by
    edit distance, BLOCKED on (brand, type) so the quadratic
    comparison runs within small blocks instead of all-pairs — the
    classic record-linkage shape. levenshtein is a JVM intrinsic;
    the self-join is an equi join on the blocking key (a skewed block
    would call for the salted_join utility).

    Comparisons run on records collapsed by the full compared tuple
    (``_fuzzy_part_collapsed``); member-level pairs are expanded back
    through two output-sized group joins, ordered (least, greatest)
    with names following their keys — row-for-row identical to the
    uncollapsed join (identical tuples never pair: ``name_a <>
    name_b``; cross-group expansion hits every member combination
    exactly once because every cross-group member pair satisfies the
    block + distance predicates its representatives did). NOTE: under
    duplicate multiplication the OUTPUT itself grows quadratically
    (every copy of A near-matches every copy of B — real pairs, not
    waste); the collapse keeps the levenshtein/compare volume at
    distinct-tuple size, which is the scale-safe shape."""
    mem, _reps, rep_pairs = _fuzzy_part_collapsed(spark, sf_dir)
    # RDD barrier on the rep-level pairs: without it, column pruning
    # rewrites `dist` as levenshtein(name_a, name_b) ABOVE the
    # expansion joins, re-running the edit distance once per EXPANDED
    # row — the r9 100x tier caught it pinning one core for 25+ min
    # recomputing 600M levenshteins the rep level had computed 23k of.
    # Lazy localCheckpoint: materialized by the first execution (the
    # ~rep-pair-count rows are tiny), opaque to the optimizer. The
    # blocks are ckpt-tracked (r9 advice: checkpoint storage is
    # invisible to clearCache and otherwise waits on GC timing).
    rep_pairs = ckpt.track(rep_pairs.localCheckpoint(eager=False))
    # Explicit expansion width: AQE sizes the join stage from the
    # tiny rep-level shuffle bytes and would run the (output-sized,
    # possibly x10000 larger) member expansion 1-2 wide; an explicit
    # partition count on the member side is respected by AQE. No
    # forced broadcast — rep pairs are unbounded in a real catalog.
    P = spark.sparkContext.defaultParallelism
    ma = mem.select(
        F.col("__gk").alias("gk_a"), F.col("__mkey").alias("__ka")
    ).repartition(P, "gk_a")
    mb = mem.select(F.col("__gk").alias("gk_b"), F.col("__mkey").alias("__kb"))
    ordered = F.col("__ka") < F.col("__kb")
    return (
        ma.join(rep_pairs, "gk_a")
        .join(mb, "gk_b")
        .select(
            F.least("__ka", "__kb").alias("key_a"),
            F.greatest("__ka", "__kb").alias("key_b"),
            F.when(ordered, F.col("name_a")).otherwise(F.col("name_b")).alias("name_a"),
            F.when(ordered, F.col("name_b")).otherwise(F.col("name_a")).alias("name_b"),
            "dist",
        )
    )


@register(
    "price_quantity_corr",
    """
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS BIGINT)) AS sx,
         SUM(CAST(ROUND(l_extendedprice) AS BIGINT)) AS sy,
         SUM(CAST(l_quantity AS BIGINT) * CAST(ROUND(l_extendedprice) AS BIGINT)) AS sxy,
         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
         SUM(CAST(ROUND(l_extendedprice) AS BIGINT) * CAST(ROUND(l_extendedprice) AS BIGINT)) AS syy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       ROUND(
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
         6) AS corr_qty_price
FROM s
""",
)
def price_quantity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs (whole-dollar) price per
    return flag, computed from EXACT integer moment sums — the
    cross-engine-stable alternative to float-accumulator corr():
    partial aggregation folds the five sums map-side, the double
    formula runs once per group on identical integers. The price
    rounding is the codegen-arithmetic half-away-from-zero form
    (``sign(x) * floor(|x| + 0.5)``, see
    functions.round_half_away_long) — Spark SQL ``round`` would pay a
    per-row BigDecimal. One-``spark.sql`` build (see
    registry.q1_pricing_summary)."""
    ensure_views(spark, sf_dir)
    return spark.sql("""
        WITH s AS (
          SELECT l_returnflag,
                 count(*) AS n,
                 sum(cast(l_quantity AS BIGINT)) AS sx,
                 sum(cast(sign(l_extendedprice)
                          * floor(abs(l_extendedprice) + 0.5D) AS BIGINT)) AS sy,
                 sum(cast(l_quantity AS BIGINT)
                     * cast(sign(l_extendedprice)
                            * floor(abs(l_extendedprice) + 0.5D) AS BIGINT)) AS sxy,
                 sum(cast(l_quantity AS BIGINT) * cast(l_quantity AS BIGINT)) AS sxx,
                 sum(cast(sign(l_extendedprice)
                          * floor(abs(l_extendedprice) + 0.5D) AS BIGINT)
                     * cast(sign(l_extendedprice)
                            * floor(abs(l_extendedprice) + 0.5D) AS BIGINT)) AS syy
          FROM lineitem
          GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               cast(n AS BIGINT) AS n,
               round((cast(n AS DOUBLE) * sxy - cast(sx AS DOUBLE) * sy)
                     / (sqrt(cast(n AS DOUBLE) * sxx - cast(sx AS DOUBLE) * sx)
                        * sqrt(cast(n AS DOUBLE) * syy - cast(sy AS DOUBLE) * sy)),
                     6) AS corr_qty_price
        FROM s
    """)


@register(
    "chi2_event_type_segment",
    """
WITH obs AS (
  SELECT e.event_type, c.c_mktsegment AS segment, COUNT(*) AS o
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
  GROUP BY e.event_type, c.c_mktsegment
),
tot AS (
  SELECT SUM(o) AS n FROM obs
),
margins AS (
  SELECT obs.event_type, obs.segment, obs.o,
         rt.row_tot, ct.col_tot, tot.n
  FROM obs
  JOIN (SELECT event_type, SUM(o) AS row_tot FROM obs GROUP BY event_type) rt
    ON obs.event_type = rt.event_type
  JOIN (SELECT segment, SUM(o) AS col_tot FROM obs GROUP BY segment) ct
    ON obs.segment = ct.segment
  CROSS JOIN tot
),
cells AS (
  SELECT CAST(ROUND(
           pow(o - CAST(row_tot AS DOUBLE) * col_tot / n, 2)
           / (CAST(row_tot AS DOUBLE) * col_tot / n) * 1000000) AS BIGINT) AS cm,
         o
  FROM margins
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(o) AS BIGINT) AS n_obs,
       ROUND(CAST(SUM(cm) AS DOUBLE) / 1000000, 4) AS chi2
FROM cells
""",
)
def chi2_event_type_segment(
    spark: SparkSession, sf_dir: str, *, standalone: bool = False
) -> DataFrame:
    """Chi-square independence statistic between event type and
    customer segment. Default path (r11, r10 verdict #1): slice the
    SHARED memoized events scalar aggregate (``_esr_g`` — gid=9, the
    (event_type, segment) grouping set): the marginal window sums run
    over the ~25-cell slice of the one-fact-scan GROUPING SETS
    checkpoint, and the 1-row statistic is folded at BUILD time
    (``_esr_fold`` — job_memo'd collect, LocalRelation result), so
    exec never pays a job launch for a contingency-table-sized
    answer.

    ``standalone=True`` keeps the specialized single-query kernel:
    one inner-join observed-count aggregate over the fact, nothing
    user-level — the right call when ONLY the chi2 statistic is
    needed at extreme scale (the shared aggregate also materializes
    the funnel's per-user grouping set, ~n_users rows the chi2-only
    consumer doesn't want to pay for). Both paths emit micro-unit
    BIGINT cell contributions so the final sum is order-independent
    cross-engine; oracle-gated via the default path."""
    if not standalone:
        return _esr_fold(
            spark, sf_dir, "esr_chi2_fold", _ESR_CHI2_SQL,
            lambda: chi2_event_type_segment(spark, sf_dir, standalone=True),
        )
    ensure_views(spark, sf_dir)
    c_hint = sql_broadcast_hint(spark, sf_dir, {"c": "customer"})
    return spark.sql(f"""
        WITH obs AS (
          SELECT {c_hint}
                 e.event_type, c.c_mktsegment AS segment, count(*) AS o
          FROM events e JOIN customer c ON e.user_id = c.c_custkey
          GROUP BY e.event_type, c.c_mktsegment
        ),
        cells AS (
          SELECT cast(round(pow(o - cast(sum(o) OVER (PARTITION BY event_type)
                                         AS DOUBLE)
                                    * sum(o) OVER (PARTITION BY segment)
                                    / sum(o) OVER (), 2)
                            / (cast(sum(o) OVER (PARTITION BY event_type)
                                    AS DOUBLE)
                               * sum(o) OVER (PARTITION BY segment)
                               / sum(o) OVER ())
                            * 1000000) AS BIGINT) AS cm,
                 o
          FROM obs
        )
        SELECT count(*) AS n_cells,
               sum(o) AS n_obs,
               round(cast(sum(cm) AS DOUBLE) / 1000000, 4) AS chi2
        FROM cells
    """)


@register(
    "funnel_view_click_purchase",
    """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
)
SELECT CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
FROM firsts
""",
)
def funnel_view_click_purchase(
    spark: SparkSession, sf_dir: str, *, standalone: bool = False
) -> DataFrame:
    """Ordered funnel conversion (view -> click -> purchase). Default
    path (r11, r10 verdict #1): slice the SHARED memoized events
    scalar aggregate (``_esr_g`` — gid=14, the (user_id) grouping
    set, which carries the per-user first-occurrence times as
    conditional mins): the 1-row stage-count reduce runs over the
    already-materialized user-level checkpoint and is folded at BUILD
    time (``_esr_fold``) — no fact rescan in a warm session, no job
    launch at exec.

    ``standalone=True`` keeps the specialized kernel: ONE
    conditional-min aggregate over the fact (no join with customer,
    no histogram/chi2 grouping sets) then the tiny reduce — two
    aggregates total, the first folding map-side per user."""
    if not standalone:
        return _esr_fold(
            spark, sf_dir, "esr_funnel_fold", _ESR_FUNNEL_SQL,
            lambda: funnel_view_click_purchase(
                spark, sf_dir, standalone=True
            ),
        )
    ensure_views(spark, sf_dir)
    return spark.sql("""
        WITH firsts AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                 min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                 min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
          FROM events
          GROUP BY user_id
        )
        SELECT sum(cast(t_view IS NOT NULL AS BIGINT)) AS n_view,
               sum(cast(t_view IS NOT NULL AND t_click > t_view AS BIGINT))
                 AS n_view_click,
               sum(cast(t_view IS NOT NULL AND t_click > t_view
                        AND t_purchase > t_click AS BIGINT))
                 AS n_view_click_purchase
        FROM firsts
    """)


_HIST_BINS = 32


def _footer_min_max(df: DataFrame, col: str):
    """Exact min/max of a DOUBLE column from parquet FOOTER statistics
    — an O(#files) driver-side metadata read instead of a full column
    scan (what every warehouse's zone-map probe does; at 100 TB this
    is the difference between touching footers and touching data).
    Returns None whenever exactness cannot be guaranteed: any row
    group without has_min_max, a NaN-polluted stat (legacy writers
    recorded NaN into double stats), a non-double physical type, a
    missing column, or a non-file source — callers fall back to the
    aggregate job. Null handling matches F.min/F.max (stats ignore
    nulls; all-null row groups report no min/max and only force the
    fallback when the WHOLE table would otherwise look empty)."""
    try:
        import pyarrow.parquet as pq

        from urllib.parse import unquote, urlparse

        files = []
        for f in df.inputFiles():
            if f.startswith("file:"):
                files.append(unquote(urlparse(f).path))
            elif "://" in f or f.startswith("hdfs:") or f.startswith("s3"):
                return None  # non-local source: let the job handle it
            else:
                files.append(f)
        if not files:
            return None
        mn = mx = None
        for path in files:
            pf = pq.ParquetFile(path)
            names = [
                pf.metadata.schema.column(i).name
                for i in range(pf.metadata.num_columns)
            ]
            if col not in names:
                return None
            ci = names.index(col)
            if pf.metadata.schema.column(ci).physical_type != "DOUBLE":
                return None
            for rg in range(pf.metadata.num_row_groups):
                cm = pf.metadata.row_group(rg).column(ci)
                st = cm.statistics
                if st is None:
                    return None
                if st.num_values == 0:
                    continue  # all-null row group: F.min ignores it too
                if not st.has_min_max:
                    return None
                # `+ 0.0` canonicalizes -0.0 -> 0.0: footer stats may
                # record the negative-zero REPRESENTATION where the
                # aggregate returns +0.0 (observed at sf0.1); the two
                # compare equal and the bin arithmetic is invariant
                # (x - (-0.0) == x - 0.0 bit-for-bit), but the probe
                # should hand back the same value the job would
                lo, hi = float(st.min) + 0.0, float(st.max) + 0.0
                if lo != lo or hi != hi:  # NaN-polluted stats
                    return None
                mn = lo if mn is None or lo < mn else mn
                mx = hi if mx is None or hi > mx else mx
        return (mn, mx)
    except Exception:
        return None


def _esr_bounds(spark: SparkSession, ev: DataFrame):
    """Memoized min/max probe over ``events.value`` (the PIT P9
    bounds-memo pattern) — shared by the fused aggregate and the
    standalone histogram so both bin against bit-identical literals.
    The probe itself reads parquet FOOTER statistics when they are
    exact (``_footer_min_max`` — zero Spark jobs) and falls back to
    the one-pass aggregate otherwise; both produce the identical
    values (pinned by test_footer_bounds_match_aggregate)."""
    def probe():
        fm = _footer_min_max(ev, "value")
        if fm is not None:
            return fm
        return ev.agg(
            F.min("value").alias("mn"), F.max("value").alias("mx")
        ).first()

    row = job_memo(spark, ev, ("value_histogram_bounds", _HIST_BINS), probe)
    return row[0], row[1]


def _esr_bin_sql(mn, mx) -> str:
    """SQL bin expression against literal bounds, same IEEE-double op
    order as the DuckDB oracles: (v - mn) / span * BINS."""
    if mn is not None and mx is not None and mx > mn:
        span = float(mx) - float(mn)
        return (
            f"least({_HIST_BINS - 1}, cast(floor((e.value - {float(mn)!r})"
            f" / {span!r} * {_HIST_BINS}) AS BIGINT))"
        )
    return "cast(0 AS BIGINT)"  # empty or constant column: bin 0


def _esr_g(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-or-reuse the fused events scalar aggregate: ONE fact scan
    -> broadcast customer left-join -> GROUP BY GROUPING SETS ((bin),
    (event_type, segment), (user_id)), materialized behind a lazy
    ``localCheckpoint`` barrier and plan_memo'd, so within a warm
    session the three scalar reports (histogram / chi2 / funnel) and
    the fused report itself all slice the SAME materialized aggregate
    (r10 verdict #1: serve the trio FROM the fused aggregate, not
    alongside it). The memo key is the grouping-sets plan + the input
    file listing — a mutated source rebuilds.

    grouping_id() over (bin, event_type, segment, user_id):
    hist=0b0111, chi2=0b1001, funnel=0b1110."""
    ensure_views(spark, sf_dir)
    ev = read_table(spark, sf_dir, "events")
    bin_sql = _esr_bin_sql(*_esr_bounds(spark, ev))
    c_hint = sql_broadcast_hint(spark, sf_dir, {"c": "customer"})
    g_plan = spark.sql(f"""
        SELECT {c_hint}
               {bin_sql} AS bin,
               e.event_type, c.c_mktsegment AS segment, e.user_id,
               grouping_id() AS gid,
               count(*) AS n, min(e.value) AS mn_v, max(e.value) AS mx_v,
               min(CASE WHEN e.event_type = 'view' THEN e.ts END)
                 AS t_view,
               min(CASE WHEN e.event_type = 'click' THEN e.ts END)
                 AS t_click,
               min(CASE WHEN e.event_type = 'purchase' THEN e.ts END)
                 AS t_p
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY GROUPING SETS (
          ({bin_sql}),
          (e.event_type, c.c_mktsegment),
          (e.user_id))
    """)
    # lazy barrier: materializes on the first execution, reused by
    # every slice and by warm rebuilds (plan_memo); blocks tracked
    # for explicit release
    return plan_memo(
        spark,
        [g_plan],
        ("events_scalar_report_g", _HIST_BINS),
        lambda: ckpt.track(g_plan.localCheckpoint(eager=False)),
    )


def _esr_slice(spark: SparkSession, g: DataFrame, sql: str) -> DataFrame:
    """Run ``sql`` (with ``{g}`` placeholder) against the fused
    aggregate under the stable-view-under-lock protocol (see
    plans/pit._join_fvs_sql): classic sessions resolve at analysis
    time; Connect sessions get a unique name from bind_sql_view."""
    with _ESR_VIEW_LOCK:
        gview = bind_sql_view(g, "__esr_g")
        return spark.sql(sql.format(g=gview))


def _esr_g_peek(spark: SparkSession, sf_dir: str) -> "DataFrame | None":
    """Return the SHARED fused aggregate if this session already
    built it (both the bounds memo AND the checkpoint memo must be
    warm), else None — without running any job. The peek re-derives
    the exact grouping-sets plan text (analysis only) so the memo
    key comparison is the same canonicalized-plan check a build would
    use."""
    ensure_views(spark, sf_dir)
    ev = read_table(spark, sf_dir, "events")
    b = job_memo_peek(spark, ev, ("value_histogram_bounds", _HIST_BINS))
    if b is None:
        return None
    bin_sql = _esr_bin_sql(b[0], b[1])
    c_hint = sql_broadcast_hint(spark, sf_dir, {"c": "customer"})
    g_plan = spark.sql(f"""
        SELECT {c_hint}
               {bin_sql} AS bin,
               e.event_type, c.c_mktsegment AS segment, e.user_id,
               grouping_id() AS gid,
               count(*) AS n, min(e.value) AS mn_v, max(e.value) AS mx_v,
               min(CASE WHEN e.event_type = 'view' THEN e.ts END)
                 AS t_view,
               min(CASE WHEN e.event_type = 'click' THEN e.ts END)
                 AS t_click,
               min(CASE WHEN e.event_type = 'purchase' THEN e.ts END)
                 AS t_p
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY GROUPING SETS (
          ({bin_sql}),
          (e.event_type, c.c_mktsegment),
          (e.user_id))
    """)
    return plan_memo_peek(
        spark, [g_plan], ("events_scalar_report_g", _HIST_BINS)
    )


def _esr_fold(
    spark: SparkSession,
    sf_dir: str,
    token: str,
    sql: str,
    standalone_build,
) -> DataFrame:
    """Serve one trio report as a BUILD-TIME fold (the ols_price_model
    pattern): collect the bounded result (32 histogram bins / 1
    summary row — k-sized by construction, never fact-sized) under
    job_memo and return it as a LocalRelation. Exec is then a
    driver-local LocalTableScan (no job launch — the per-job
    scheduler floor alone is ~4x the DuckDB twins' entire runtime);
    the real cost sits in the first build, where bench.py's
    prepare_cold grades it and the build_materialized flag labels it.

    Source selection (r10 verdict #1, including its fallback clause):
    if the session ALREADY holds the shared fused aggregate
    (``_esr_g_peek`` hit — events_scalar_report or a trio sibling
    built it), fold from its slice: zero additional fact scans
    however many of the three reports are requested. Otherwise fold
    from the SPECIALIZED standalone kernel: a cold single-query
    session pays exactly the one specialized scan — never the fused
    aggregate's user-level grouping set it didn't ask for. Both
    sources are oracle-equivalent (pinned by
    test_fused_report_matches_standalone and the r11 served-from-
    report test). job_memo keys on the chosen source PLAN, so the
    captured build-time audit records the real pipeline and a changed
    slice can never serve a stale fold."""
    g = _esr_g_peek(spark, sf_dir)
    if g is not None:
        sliced = _esr_slice(spark, g, sql)
    else:
        sliced = standalone_build()
    rows = job_memo(spark, [sliced], (token,), sliced.collect)
    return local_frame(spark, rows, sliced.schema)


from feast_hive_spark.plans.local import (  # noqa: E402
    local_frame,
    sorted_readout as _sorted_readout,
)


_ESR_HIST_SQL = """
    SELECT bin, n, round(mn_v, 4) AS lo, round(mx_v, 4) AS hi
    FROM {g} WHERE gid = 7
"""

_ESR_CHI2_SQL = """
    SELECT count(*) AS n_cells, sum(n) AS n_obs,
           round(cast(sum(cm) AS DOUBLE) / 1000000, 4) AS chi2
    FROM (
      SELECT cast(round(pow(n - cast(sum(n) OVER (PARTITION BY event_type)
                                     AS DOUBLE)
                                * sum(n) OVER (PARTITION BY segment)
                                / sum(n) OVER (), 2)
                        / (cast(sum(n) OVER (PARTITION BY event_type)
                                AS DOUBLE)
                           * sum(n) OVER (PARTITION BY segment)
                           / sum(n) OVER ())
                        * 1000000) AS BIGINT) AS cm, n
      FROM {g} WHERE gid = 9 AND segment IS NOT NULL
    )
"""

_ESR_FUNNEL_SQL = """
    SELECT sum(cast(t_view IS NOT NULL AS BIGINT)) AS n_view,
           sum(cast(t_view IS NOT NULL AND t_click > t_view AS BIGINT))
             AS n_view_click,
           sum(cast(t_view IS NOT NULL AND t_click > t_view
                    AND t_p > t_click AS BIGINT)) AS n_view_click_purchase
    FROM {g} WHERE gid = 14
"""


@register(
    "events_scalar_report",
    f"""
WITH mm AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
hist AS (
  SELECT CASE WHEN mx > mn THEN
           LEAST({_HIST_BINS - 1},
                 CAST(floor((value - mn) / CAST(mx - mn AS DOUBLE)
                            * {_HIST_BINS}) AS BIGINT))
         ELSE 0 END AS bin,
         COUNT(*) AS n, ROUND(MIN(value), 4) AS lo, ROUND(MAX(value), 4) AS hi
  FROM events, mm GROUP BY 1
),
obs AS (
  SELECT e.event_type, c.c_mktsegment AS segment, COUNT(*) AS o
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
  GROUP BY e.event_type, c.c_mktsegment
),
cells AS (
  SELECT CAST(ROUND(pow(o - CAST(rt AS DOUBLE) * ct / n, 2)
                    / (CAST(rt AS DOUBLE) * ct / n) * 1000000) AS BIGINT) AS cm,
         o
  FROM (SELECT o, SUM(o) OVER (PARTITION BY event_type) AS rt,
               SUM(o) OVER (PARTITION BY segment) AS ct,
               SUM(o) OVER () AS n
        FROM obs)
),
firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_p
  FROM events GROUP BY user_id
)
SELECT 'hist' AS section, CAST(bin AS VARCHAR) AS k,
       CAST(n AS DOUBLE) AS v1, lo AS v2, hi AS v3
FROM hist
UNION ALL
SELECT 'chi2', '', CAST(COUNT(*) AS DOUBLE), CAST(SUM(o) AS DOUBLE),
       ROUND(CAST(SUM(cm) AS DOUBLE) / 1000000, 4)
FROM cells
UNION ALL
SELECT 'funnel', '',
       CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE),
       CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                THEN 1 ELSE 0 END) AS DOUBLE),
       CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                AND t_p > t_click THEN 1 ELSE 0 END) AS DOUBLE)
FROM firsts
""",
)
def events_scalar_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused one-scan report over the ``events`` fact: the value
    histogram, the event-type x segment chi-square statistic, and the
    view->click->purchase funnel — the three scalar reports a
    training-data pipeline reads together — computed from a SINGLE
    pass via GROUP BY GROUPING SETS ((bin), (event_type, segment),
    (user_id)).

    Shape: one fact scan -> broadcast customer left-join (segment) ->
    Expand(x3) -> one shuffled grouping-sets aggregate, materialized
    ONCE behind a lazy ``localCheckpoint`` barrier (``g``,
    ckpt-tracked, plan_memo'd); the three report branches slice the
    materialized aggregate (3x ``Scan ExistingRDD`` in the result
    plan, zero fact rescans). The barrier is what makes "one fact
    scan" TRUE: two subtler designs measurably fail —
    (a) a plain UNION over the pipeline lets Catalyst push each
    branch's ``gid`` filter below the final aggregate, SPECIALIZING
    the three exchanges so ``ReuseExchange``/AQE stage reuse cannot
    fire (the only reused exchanges were the customer broadcast), and
    (b) ``.cache()`` + three same-statement view references hits a
    measured Spark 4.1 cache-substitution quirk: for a cached
    GROUPING SETS aggregate only the FIRST reference substitutes
    (plain aggregates substitute all three; minimal repro in
    tests/test_plan_properties.py). The materialized aggregate is
    bounded by 32 + #types*#segments + n_users rows — user-level,
    far smaller than the fact; blocks are tracked for explicit
    release (``feast_hive_spark.ckpt``). Histogram bounds are literal
    (the memoized P9-style probe shared with ``value_histogram``), so
    the bin expression is a pure per-row function. The grouping-sets
    build pipeline stays auditable via the memo's build-time capture
    (audit_plans BUILDTIME_AUDIT).

    Scale note: the three separate reports pay three full fact SCANS
    per refresh; this pays one scan + map-side expand that partial
    aggregation collapses before the shuffle. Measured crossover in
    SCALING.md (sf1: 0.75 s vs 1.29 s summed; sf10: 1.93 vs 2.04 —
    both BEFORE this cache pin, i.e. while still paying 3 scans).

    The left join keeps no-customer events (funnel and histogram
    cover ALL events, matching their standalone twins); the chi2
    branch filters ``segment IS NOT NULL``, matching the standalone
    inner join. grouping_id() over (bin, event_type, segment,
    user_id): hist=0b0111, chi2=0b1001, funnel=0b1110.

    r11: the aggregate build lives in ``_esr_g`` and is SHARED with
    the trio entries — ``value_histogram``,
    ``chi2_event_type_segment`` and ``funnel_view_click_purchase``
    fold from the same memoized aggregate, so a warm session pays the
    fact scan once however the three reports are requested. The
    report itself is also folded at build time (``_esr_fold`` — its
    34-row-bounded union is k-sized): exec is a LocalTableScan.
    Unlike the trio, a cold report build has no cheaper specialized
    kernel — the fused aggregate IS its specialized plan — so the
    fold always builds ``_esr_g`` on miss."""
    g = _esr_g(spark, sf_dir)
    sliced = _esr_slice(spark, g, """
        SELECT 'hist' AS section, cast(bin AS STRING) AS k,
               cast(n AS DOUBLE) AS v1, round(mn_v, 4) AS v2,
               round(mx_v, 4) AS v3
        FROM {g} WHERE gid = 7
        UNION ALL
        SELECT 'chi2', '', cast(count(*) AS DOUBLE), cast(sum(n) AS DOUBLE),
               round(cast(sum(cm) AS DOUBLE) / 1000000, 4)
        FROM (
          SELECT cast(round(pow(n - cast(sum(n) OVER (PARTITION BY event_type)
                                         AS DOUBLE)
                                    * sum(n) OVER (PARTITION BY segment)
                                    / sum(n) OVER (), 2)
                            / (cast(sum(n) OVER (PARTITION BY event_type)
                                    AS DOUBLE)
                               * sum(n) OVER (PARTITION BY segment)
                               / sum(n) OVER ())
                            * 1000000) AS BIGINT) AS cm, n
          FROM {g} WHERE gid = 9 AND segment IS NOT NULL
        )
        UNION ALL
        SELECT 'funnel', '',
               cast(sum(cast(t_view IS NOT NULL AS BIGINT)) AS DOUBLE),
               cast(sum(cast(t_view IS NOT NULL AND t_click > t_view
                             AS BIGINT)) AS DOUBLE),
               cast(sum(cast(t_view IS NOT NULL AND t_click > t_view
                             AND t_p > t_click AS BIGINT)) AS DOUBLE)
        FROM {g} WHERE gid = 14
        """)
    rows = job_memo(spark, [sliced], ("esr_report_fold",), sliced.collect)
    return local_frame(spark, rows, sliced.schema)


@register(
    "outlier_zscore_counts",
    """
WITH m AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s1,
         SUM(CAST(ROUND(value * 100) AS BIGINT) * CAST(ROUND(value * 100) AS BIGINT)) AS s2
  FROM events GROUP BY event_type
),
z AS (
  SELECT e.event_type, e.value,
         CAST(m.s1 AS DOUBLE) / m.n / 100 AS mu,
         sqrt(CAST(m.s2 AS DOUBLE) / m.n / 100 / 100
              - pow(CAST(m.s1 AS DOUBLE) / m.n / 100, 2)) AS sigma
  FROM events e JOIN m ON e.event_type = m.event_type
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN abs((value - mu) / sigma) > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       ROUND(MIN(mu), 4) AS mean_value
FROM z
GROUP BY event_type
""",
)
def outlier_zscore_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection per event type with exact integer
    moment sums (the price_quantity_corr pattern): mean and variance
    come from centi-unit BIGINT sums so mu/sigma are bit-identical
    cross-engine; flagging is then a deterministic per-row compare.
    Two passes over the fact (moments, then flags) with the moments
    table broadcast back."""
    ev = read_table(spark, sf_dir, "events")
    # centi-units: squared sums stay far from long overflow even at
    # billions of rows (2e4^2 * 1e9 = 4e17 < 9.2e18)
    centi = round_half_away_long(F.col("value") * 100)
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(centi).alias("s1"),
        F.sum(centi * centi).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n") / 100
    sigma = F.sqrt(
        F.col("s2").cast("double") / F.col("n") / 100 / 100
        - F.pow(mu, F.lit(2.0))
    )
    z = ev.join(F.broadcast(m), "event_type").select(
        "event_type", "value", mu.alias("mu"), sigma.alias("sigma")
    )
    return z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.abs((F.col("value") - F.col("mu")) / F.col("sigma")) > 3).cast("long")
        ).alias("n_outliers"),
        F.round(F.min("mu"), 4).alias("mean_value"),
    )


@register(
    "sliding_distinct_users",
    """
SELECT CAST(to_timestamp((floor(epoch(CAST(ts AS TIMESTAMP)) / 43200) - i) * 43200)
            AS TIMESTAMP) AS window_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events, range(0, 2) r(i)
GROUP BY 1
""",
)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct-user counts (1-day window, 12h slide):
    the windowed COUNT(DISTINCT) class — Spark's two-phase distinct
    aggregate runs per replicated window bucket; the DuckDB twin
    spells out the replication with an explicit range(2) lateral."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day", "12 hours"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(F.col("window.start").alias("window_start"), "n_users")
    )


@register(
    "value_histogram",
    f"""
WITH mm AS (
  SELECT min(value) AS mn, max(value) AS mx FROM events
)
SELECT CASE WHEN mx > mn THEN
         LEAST({_HIST_BINS - 1},
               CAST(floor((value - mn) / CAST(mx - mn AS DOUBLE) * {_HIST_BINS}) AS BIGINT))
       ELSE 0 END AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(value), 4) AS lo,
       ROUND(MAX(value), 4) AS hi
FROM events, mm
GROUP BY 1
""",
)
def value_histogram(
    spark: SparkSession, sf_dir: str, *, standalone: bool = False
) -> DataFrame:
    """Fixed-bin histogram of the event value distribution. Default
    path (r11, r10 verdict #1): slice the SHARED memoized events
    scalar aggregate (``_esr_g`` — gid=7, the (bin) grouping set) and
    fold the 32-row result at BUILD time (``_esr_fold`` — job_memo'd
    collect, LocalRelation): no fact rescan, no exchange, no job
    launch at exec.

    ``standalone=True`` keeps the specialized kernel: bounds from ONE
    memoized min/max probe at build time (the PIT P9 bounds-memo
    pattern, ``plans/memo.job_memo`` — keyed on the input plan + file
    listing, so a mutated source re-probes), then bin assignment
    against LITERAL bounds in codegen (incl. the span>0
    degenerate-range guard — a constant column gets bin 0, not NaN)
    and one bin-keyed count aggregate whose partial collapses the
    fact map-side. This is the right call when ONLY the histogram is
    needed at extreme scale: the shared aggregate also materializes
    the funnel's per-user grouping set (~n_users rows) and pays the
    customer broadcast join, neither of which the histogram needs.
    Both paths bin against the SAME memoized literal bounds with the
    same IEEE-double op order, so they are bit-identical.

    Why literals instead of a broadcast 1-row ``mm`` subquery: the
    broadcast build was a full extra job on EVERY execution of the
    plan (measured 0.044 s — an entire per-job floor at sf0.1; exec
    0.139 -> 0.071 s with literals), while the probe runs once per
    (plan, files) per session.  At cluster scale the win compounds:
    literal bounds make the bin expression a pure per-row function of
    ``value`` (no stage barrier before the fact scan), and the
    one-pass probe itself is the aggregate parquet footer statistics
    already answer map-side."""
    if not standalone:
        return _esr_fold(
            spark, sf_dir, "esr_hist_fold", _ESR_HIST_SQL,
            lambda: value_histogram(spark, sf_dir, standalone=True),
        )
    ensure_views(spark, sf_dir)
    ev = read_table(spark, sf_dir, "events")
    mn, mx = _esr_bounds(spark, ev)
    if mn is not None and mx is not None and mx > mn:
        # same IEEE-double op order as the oracle: (v - mn) / span * B
        span = F.lit(float(mx) - float(mn))
        bin_col = F.least(
            F.lit(_HIST_BINS - 1).cast("long"),
            F.floor(
                (F.col("value") - F.lit(float(mn))) / span * _HIST_BINS
            ).cast("long"),
        )
    else:  # empty or constant column: everything lands in bin 0
        bin_col = F.lit(0).cast("long")
    return (
        ev.groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


_HLL_RSD = 0.02  # HyperLogLog++ target relative standard deviation


@register(
    "approx_distinct_users_bounded",
    """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS within_bounds
FROM events GROUP BY event_type
""",
)
def approx_distinct_users_bounded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB cardinality path, tolerance-gated: per event type,
    ``approx_count_distinct`` (HyperLogLog++, rsd=2%; fixed-size
    mergeable sketch — the map-side partial is ~KBs regardless of
    cardinality, vs COUNT DISTINCT's full value shuffle) is checked
    against the exact count computed in the same scan.  The query
    EMITS the bound verdict (|approx-exact|/exact <= 3*rsd) rather
    than the approximate value, so the DuckDB twin is a plain exact
    aggregate + TRUE — the hash gate then proves the sketch's error
    bound held, which is exactly the property the scale path relies
    on.

    Physical shape: the distinct rollup is explicit (groupBy (type,
    user) first) because Catalyst's single-distinct rewrite of
    ``countDistinct + approx_count_distinct`` in ONE agg runs the HLL
    partial at the (type, user) level — a 410-slot register array PER
    (type, user) GROUP through the hash map and exchange (~GBs at
    sf0.1). Over the deduped frame the sketch partial exists only per
    (partition, type), and HLL is duplicate-insensitive so the
    registers — and the verdict — are bit-identical."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.select("event_type", "user_id").distinct()
    return (
        per_user.groupBy("event_type")
        .agg(
            F.count("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id", rsd=_HLL_RSD).alias("__appx"),
        )
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("__appx") - F.col("n_exact"))
                / F.col("n_exact").cast("double")
                <= 3 * _HLL_RSD
            ).alias("within_bounds"),
        )
    )


@register(
    "sketch_rollup_daily_users",
    """
SELECT event_type,
       CAST(COUNT(DISTINCT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS BIGINT) AS n_buckets,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS within_bounds
FROM events GROUP BY event_type
""",
)
def sketch_rollup_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch rollup pattern, tolerance-gated: one HLL
    sketch of user_id per (event_type, day) — the fixed-size artifact
    a production pipeline persists at ingest — then a rollup that
    UNIONS the sketches per event type and estimates, never rescanning
    raw events.  At 100 TB the rollup touches #days rows per group
    instead of the event log.  The verdict (|est-exact|/exact <=
    3*RSE, exact recomputed independently here) is what the hash gate
    certifies; the DuckDB twin is the exact aggregate + TRUE."""
    from feast_hive_spark.operators import sketches as SK

    ev = read_table(spark, sf_dir, "events")
    daily = SK.hll_daily_sketches(ev, ["event_type"], "ts", "user_id")
    roll = SK.hll_rollup(daily, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return roll.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "n_buckets",
        "n_exact",
        (
            F.abs(F.col("approx_distinct") - F.col("n_exact"))
            / F.col("n_exact").cast("double")
            <= 3 * SK.HLL_RSE
        ).alias("within_bounds"),
    )


_PCTL_ACCURACY = 10_000  # approx_percentile rank error eps = 1/accuracy


@register(
    "approx_percentile_rank_bounded",
    """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
FROM orders GROUP BY o_orderstatus
""",
)
def approx_percentile_rank_bounded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB percentile path, tolerance-gated: per order status,
    ``approx_percentile`` (Greenwald-Khanna-style mergeable summary;
    partials of bounded size vs exact percentile's per-group sort) is
    checked against its published guarantee — the returned value's
    RANK lies within eps*N of the target rank, eps = 1/accuracy.  The
    rank of each approximate value is recomputed exactly in a second
    pass (count of rows <= v, via a broadcast of the #groups-row
    sketch output), and the query emits the verdict booleans, so the
    DuckDB twin is COUNT(*) + TRUE and the hash gate proves the rank
    bound held."""
    o = read_table(spark, sf_dir, "orders")
    eps = 1.0 / _PCTL_ACCURACY
    appx = o.groupBy("o_orderstatus").agg(
        F.expr(
            f"approx_percentile(o_totalprice, array(0.5, 0.9), {_PCTL_ACCURACY})"
        ).alias("__v")
    )
    j = o.join(F.broadcast(appx), "o_orderstatus")
    agg = j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("o_totalprice") <= F.col("__v")[0], 1).otherwise(0)
        ).alias("__rk50"),
        F.sum(
            F.when(F.col("o_totalprice") <= F.col("__v")[1], 1).otherwise(0)
        ).alias("__rk90"),
    )

    def rank_ok(rk: str, p: float):
        n = F.col("n").cast("double")
        # +/-1 absorbs the floor/ceil ambiguity at the exact target rank
        return (F.col(rk) >= (p - eps) * n - 1) & (
            F.col(rk) <= (p + eps) * n + 1
        )

    return agg.select(
        "o_orderstatus",
        "n",
        rank_ok("__rk50", 0.5).alias("p50_rank_ok"),
        rank_ok("__rk90", 0.9).alias("p90_rank_ok"),
    )


@register(
    "seasonal_daily_decomposition",
    """
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
), dow AS (
  SELECT dayofweek(day) AS dw,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM d GROUP BY 1
), r AS (
  SELECT d.day, d.x, dow.dw,
         CAST(round(d.x - CAST(dow.sx AS DOUBLE) / dow.n) AS BIGINT)
           AS resid_milli
  FROM d JOIN dow ON dayofweek(d.day) = dow.dw
), st AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(resid_milli) AS HUGEINT) AS s,
         CAST(SUM(resid_milli * resid_milli) AS HUGEINT) AS ss
  FROM r
)
SELECT CAST(r.day AS TIMESTAMP) AS day,
       CAST(r.dw AS BIGINT) AS day_of_week,
       ROUND(r.x / 1000.0, 3) AS daily_value,
       ROUND(r.resid_milli / 1000.0, 3) AS residual,
       CAST(st.n * r.resid_milli - st.s AS DOUBLE)
         * (st.n * r.resid_milli - st.s)
         > 4.0 * (st.n * st.ss - st.s * st.s) AS is_anomaly
FROM r, st
""",
)
def seasonal_daily_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-seasonal decomposition of the daily value series:
    day-of-week profile means removed, residuals flagged at 2 sigma —
    the STL-lite anomaly screen a metrics pipeline runs before
    alerting. All comparisons run in exact integer arithmetic: milli
    units for the series, and the 2-sigma test is cross-multiplied to
    ``(n*r - s)^2 > 4 (n*ss - s^2)`` so no engine ever divides (the
    same trick as the rolling z-score flags). The day-of-week profile
    is a 7-row broadcast; the residual scan is one pass."""
    ev = read_table(spark, sf_dir, "events")
    milli = round_half_away_long(F.col("value") * 1000)
    # cached (r13, guide §1.3): d feeds the day-of-week profile AND
    # the residual table, and r feeds the sigma scalar AND the final
    # readout — uncached, the events scan executed 3x per run. Both
    # frames are day-domain-sized.
    d = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(milli).alias("x")
    ).cache()
    dw = F.dayofweek("day")
    dow = d.groupBy(dw.alias("dw")).agg(
        F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n")
    )
    r = d.join(F.broadcast(dow), dw == F.col("dw")).select(
        "day",
        F.col("dw"),
        "x",
        F.round(F.col("x") - F.col("sx").cast("double") / F.col("n"))
        .cast("long")
        .alias("resid_milli"),
    ).cache()
    st = r.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("resid_milli").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("resid_milli") * F.col("resid_milli"))
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    num = (F.col("n") * F.col("resid_milli") - F.col("s")).cast("double")
    return r.crossJoin(F.broadcast(st)).select(
        F.col("day"),
        # DuckDB dayofweek is 0=Sunday..6, Spark is 1=Sunday..7
        (F.col("dw") - 1).cast("long").alias("day_of_week"),
        F.round(F.col("x") / 1000.0, 3).alias("daily_value"),
        F.round(F.col("resid_milli") / 1000.0, 3).alias("residual"),
        (
            num * num
            > F.lit(4.0)
            * (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double")
        ).alias("is_anomaly"),
    )


@register(
    "daily_user_spine_fill",
    """
WITH d AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events WHERE user_id < 50 GROUP BY 1, 2
), bounds AS (
  SELECT MIN(day) AS lo, MAX(day) AS hi FROM d
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
), keys AS (SELECT DISTINCT user_id FROM d)
SELECT k.user_id, CAST(s.day AS TIMESTAMP) AS day,
       COALESCE(d.n_events, 0) AS n_events,
       (d.user_id IS NULL) AS is_gap
FROM keys k CROSS JOIN spine s
LEFT JOIN d ON d.user_id = k.user_id AND d.day = s.day
""",
)
def daily_user_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill (the time-spine scaffold join): every (user,
    day) cell over the observed date range, zero-filled where the
    user had no events — the densification step sequence models and
    dashboards need before windowing. The spine is generated from a
    1-row bounds broadcast (sequence + explode, no driver work); the
    scaffold crossJoin's size IS the output size (keys x days), and
    the actuals attach by a left join AQE can broadcast (the daily
    aggregate is far smaller than the scaffold). Restricted to 50
    users here to keep the oracle-scale output bounded."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    # cached (r13, guide §1.3): d feeds the bounds scalar, the key
    # spine AND the final left join — uncached, the filtered events
    # scan executed 3x per run. (user x day)-domain-sized.
    d = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events")).cache()
    bounds = d.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    keys = d.select("user_id").distinct()
    scaffold = keys.crossJoin(spine)
    return scaffold.join(
        d.withColumnRenamed("n_events", "__n"), ["user_id", "day"], "left"
    ).select(
        "user_id",
        "day",
        F.coalesce("__n", F.lit(0)).cast("long").alias("n_events"),
        F.col("__n").isNull().alias("is_gap"),
    )


@register(
    "fuzzy_part_name_stats",
    f"""
WITH pairs AS (
  SELECT a.p_name AS na, b.p_name AS nb, a.p_brand AS pb, a.p_type AS pt,
         levenshtein(a.p_name, b.p_name) AS dist
  FROM part a
  JOIN part b
    ON a.p_brand = b.p_brand AND a.p_type = b.p_type
   AND a.p_partkey < b.p_partkey
  WHERE a.p_name <> b.p_name
    AND levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
)
SELECT CAST(dist AS BIGINT) AS dist,
       CAST(COUNT(*) AS BIGINT) AS n_member_pairs,
       CAST(COUNT(DISTINCT (least(na, nb), greatest(na, nb), pb, pt))
            AS BIGINT) AS n_rep_pairs
FROM pairs GROUP BY dist
""",
)
def fuzzy_part_name_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-match volume report WITHOUT materializing the pairs: per
    edit distance, the member-level pair count and the distinct-tuple
    (rep-level) pair count. The member count is computed as
    sum(|group_a| x |group_b|) over rep pairs — the quadratic OUTPUT
    of fuzzy_part_name_pairs is *counted* in collapsed (distinct-
    tuple) time, which is the executed demonstration of the
    SCALING.md normalization argument: compare this query's
    second-decade exponent with the pair query's output-driven one.
    Everything here is rep-pair-sized: one group-size aggregate, two
    small joins, one grouped sum."""
    mem, _reps, rep_pairs = _fuzzy_part_collapsed(spark, sf_dir)
    sizes = mem.groupBy("__gk").agg(F.count(F.lit(1)).alias("__n"))
    sa = sizes.select(F.col("__gk").alias("gk_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col("__gk").alias("gk_b"), F.col("__n").alias("__nb"))
    return (
        rep_pairs.join(sa, "gk_a")
        .join(sb, "gk_b")
        .groupBy("dist")
        .agg(
            F.sum(F.col("__na") * F.col("__nb"))
            .cast("long")
            .alias("n_member_pairs"),
            F.count(F.lit(1)).cast("long").alias("n_rep_pairs"),
        )
        .select("dist", "n_member_pairs", "n_rep_pairs")
    )


@register(
    "entity_resolution_parts",
    f"""
WITH pairs AS (
  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
  FROM part a JOIN part b
    ON a.p_brand = b.p_brand AND a.p_type = b.p_type
   AND a.p_partkey < b.p_partkey
  WHERE a.p_name <> b.p_name
    AND levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
), reach AS (
  WITH RECURSIVE r(src, dst) AS (
    SELECT src, dst FROM sym
    UNION
    SELECT r.src, e.dst FROM r JOIN sym e ON r.dst = e.src
  ) SELECT * FROM r
), comp AS (
  SELECT src AS p_partkey, LEAST(src, MIN(dst)) AS entity_id
  FROM reach GROUP BY src
), named AS (
  SELECT c.p_partkey, c.entity_id, p.p_name
  FROM comp c JOIN part p ON c.p_partkey = p.p_partkey
)
SELECT p_partkey, entity_id, p_name,
       (p_name, -p_partkey) = MAX((p_name, -p_partkey))
         OVER (PARTITION BY entity_id) AS canonical
FROM named
""",
)
def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end record linkage: blocked fuzzy match pairs
    (fuzzy_part_name_pairs' blocking + bounded levenshtein) ->
    connected components (large-star/small-star) -> one canonical
    record per entity cluster (max name, lowest-key tiebreak — a
    deterministic stand-in for 'most complete record'). The classic
    dedupe-the-catalog pipeline; each stage reuses the audited
    distributed kernels, and the grouped-argmax canonical pick is the
    skew-immune form (no cluster-keyed window). The twin recomputes
    the fixpoint via recursive CTE."""
    from feast_hive_spark.operators.dedup import connected_components_star

    # Exact-collapse front end (r8 verdict #3): the fuzzy graph is
    # built on distinct (name, brand, type) GROUPS — identical-tuple
    # copies of a record connect to exactly the same neighbors, so the
    # member-level component is the group-level component expanded
    # through membership, and the min-member component id is the
    # min-rep id (each rep IS its group's min member). Unlike the pair
    # query, the whole pipeline here is OUTPUT-LINEAR: CC runs on the
    # distinct-group graph, and every downstream step is one join or
    # aggregate over per-part rows.
    mem, reps, rep_pairs = _fuzzy_part_collapsed(spark, sf_dir)
    comp_rep = connected_components_star(
        rep_pairs.select(
            F.col("key_a").alias("id_a"), F.col("key_b").alias("id_b")
        )
    ).select(
        F.col("doc_id").alias("p_partkey"),
        F.col("component_id").alias("entity_id"),
    )
    # group -> component (+ the group's shared name), then expand to
    # members: parts whose group has no fuzzy neighbor never enter the
    # graph and drop out, exactly like the uncollapsed pipeline.
    comp_g = comp_rep.join(
        reps.select("__gk", "p_partkey", "p_name"), "p_partkey"
    ).select("__gk", "entity_id", "p_name")
    named = mem.join(comp_g, "__gk").select(
        F.col("__mkey").alias("p_partkey"), "entity_id", "p_name"
    )
    best = named.groupBy("entity_id").agg(
        F.max(
            F.struct(F.col("p_name"), (-F.col("p_partkey")).alias("__nk"))
        ).alias("__best")
    )
    # r13 optimization (guide §3.1/§2.4): `best` is one row per entity
    # cluster — a strict contraction of `named`, which is itself at
    # most one row per part — so under the size gate it broadcasts and
    # the member-level `named` rows never shuffle for the join-back
    # (before: Exchange+Sort on both sides feeding a SortMergeJoin).
    # Probe on the base part scan: `named`'s own estimate multiplies
    # through the joins and the checkpointed CC labels (no stats), so
    # Catalyst reads it as unbounded even though the part scan bounds
    # it. Past the gate the optimizer's choice stands.
    from feast_hive_spark.plans.bcast import gated_broadcast

    best = gated_broadcast(best, probe=read_table(spark, sf_dir, "part"))
    return named.join(best, "entity_id").select(
        "p_partkey",
        "entity_id",
        "p_name",
        (
            (F.col("p_name") == F.col("__best.p_name"))
            & (F.col("p_partkey") == -F.col("__best.__nk"))
        ).alias("canonical"),
    )


@register(
    "user_interarrival_stats",
    """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT user_id,
       CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
       ROUND(quantile_cont(gap_us, 0.5) / 1000000, 4) AS median_gap_s,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM g
WHERE gap_us IS NOT NULL
GROUP BY user_id
""",
)
def user_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival statistics (median and max gap in
    seconds) — the session-design / churn-risk signal behind gap
    thresholds. ONE user-keyed exchange serves both the LAG window
    and the per-user aggregate (grouping on the window's partition
    key adds no exchange); gaps are exact integer seconds, and
    Spark's percentile() shares quantile_cont's interpolation
    formula."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts"), F.col("event_id")
    )
    g = ev.select(
        "user_id",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return g.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.round(
            F.expr("percentile(gap_us, 0.5)") / 1_000_000, 4
        ).alias("median_gap_s"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


@register(
    "stream_heavy_hitters_topk",
    """
SELECT event_type AS item,
       CAST(COUNT(*) AS BIGINT) AS est_count,
       CAST(0 AS BIGINT) AS err
FROM events
GROUP BY event_type
ORDER BY est_count DESC, item
LIMIT 5
""",
)
def stream_heavy_hitters_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming heavy hitters: run the space-saving sketch
    (streaming/events.stream_heavy_hitters, applyInPandasWithState)
    over the events stream, then the batch ``topk_from_buckets``
    finisher (r4 verdict #7) — union the per-bucket counters, dedupe
    to each bucket's final emission, global top-k. With capacity >=
    distinct items the sketch is EXACT (err 0), so the DuckDB twin is
    the plain GROUP BY top-k: the hash gate certifies both the sketch
    state machine and the finisher's disjoint-bucket union logic.

    The end-to-end run is memoized per events plan (plans/memo.py): a
    real deployment runs the stream ONCE continuously — replaying the
    whole source per warm rebuild is an artifact of batch-style
    re-invocation, not a cost the streaming pipeline pays."""
    from feast_hive_spark.plans.memo import plan_memo
    from feast_hive_spark.streaming import events as SE

    def run() -> DataFrame:
        stream = SE.read_event_stream(spark, sf_dir)
        counters = SE.stream_heavy_hitters(
            stream, item_col="event_type", capacity=64, n_buckets=4
        )
        SE.run_to_memory(counters, "hh_topk_registry", output_mode="update")
        return SE.topk_from_buckets(spark.table("hh_topk_registry"), k=5)

    return plan_memo(
        spark,
        read_table(spark, sf_dir, "events"),
        ("stream_heavy_hitters_topk",),
        run,
    )


def _pit_entity_sql_oracle() -> str:
    """The batch flagship's own oracle text (registry.pit_entity_sql)
    — imported, not copied, so the streaming probe below is held to
    EXACTLY the semantics the batch retrieval is graded on."""
    from feast_hive_spark.registry import REGISTRY as _R

    return _R["pit_entity_sql"][1]


@register("stream_pit_probe", _pit_entity_sql_oracle())
def stream_pit_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming point-in-time probe: the purchase stream
    as-of-joined against the static click history
    (streaming/events.stream_pit_probe — stream-static LEFT OUTER
    join + per-probe max_by argmax), gated against the SAME DuckDB
    oracle as the batch ``pit_entity_sql`` — one oracle certifying
    that the online path and the batch flagship answer identically.

    Replay runs COMPLETE mode (a terminating file source never moves
    the watermark past its last probes); the continuous deployment
    passes a watermark and gets append + state eviction. Memoized per
    events plan (plans/memo.py): a real deployment runs the stream
    once continuously."""
    from feast_hive_spark.registry import _TTL_7D
    from feast_hive_spark.streaming import events as SE

    def run() -> DataFrame:
        stream = SE.read_event_stream(spark, sf_dir)
        probes = stream.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("probe_id"),
            "user_id",
            F.col("ts").alias("event_timestamp"),
        )
        clicks = read_table(spark, sf_dir, "events").filter(
            F.col("event_type") == "click"
        )
        res = SE.stream_pit_probe(probes, clicks, ttl_seconds=_TTL_7D)
        SE.run_to_memory(res, "__stream_pit_probe", output_mode="complete")
        return spark.table("__stream_pit_probe")

    return plan_memo(
        spark,
        read_table(spark, sf_dir, "events"),
        ("stream_pit_probe",),
        run,
    )


@register(
    "graph_triangle_stats",
    """
WITH raw AS (
  SELECT event_id % 211 AS a, (event_id * 31 + 7) % 211 AS b FROM events
), e AS (
  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
  FROM raw WHERE a <> b
), deg AS (
  SELECT x, COUNT(*) AS d FROM (
    SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e
  ) GROUP BY x
), arcs AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS src,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS dst
  FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v
), wedges AS (
  SELECT a1.src, a1.dst AS n1, a2.dst AS n2
  FROM arcs a1 JOIN arcs a2 ON a1.src = a2.src AND a1.dst < a2.dst
), closing AS (
  SELECT 1 AS one FROM wedges w JOIN e ON e.u = w.n1 AND e.v = w.n2
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_vertices,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM wedges) AS n_wedges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM closing) AS n_triangles,
       CASE WHEN (SELECT COUNT(*) FROM wedges) > 0
            THEN (1000000 * (SELECT CAST(COUNT(*) AS BIGINT) FROM closing))
                 // (SELECT CAST(COUNT(*) AS BIGINT) FROM wedges)
            ELSE CAST(0 AS BIGINT) END AS closure_ppm
""",
)
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented triangle census (operators/graph.triangle_stats)
    over a deterministic modular graph derived from event ids — the
    near-dup-graph cohesion diagnostic, oracle-gated on exact vertex/
    edge/wedge/triangle counts AND the integer closure ratio. The
    oracle replicates the same (degree, id) orientation, so the wedge
    count (an orientation-dependent quantity) is certified too."""
    from feast_hive_spark.operators.graph import triangle_stats

    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        (F.col("event_id") % 211).alias("id_a"),
        ((F.col("event_id") * 31 + 7) % 211).alias("id_b"),
    )
    return triangle_stats(pairs)


@register(
    "eval_split_leave_last",
    """
SELECT event_id,
       CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY user_id
                ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
            ) <= 2 THEN 'eval' ELSE 'train' END AS split
FROM events
""",
)
def eval_split_leave_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free temporal split (operators/curate.
    leave_last_n_split): each user's last 2 events become eval, the
    rest train — the sequential-recommendation protocol a random
    split would corrupt. Deterministic cut via the (ts, event_id)
    tiebreak; oracle certifies every row's label."""
    from feast_hive_spark.operators.curate import leave_last_n_split

    ev = read_table(spark, sf_dir, "events")
    return leave_last_n_split(
        ev, ["user_id"], ["ts", "event_id"], n_eval=2
    ).select("event_id", "split")


@register(
    "corr_matrix_lineitem",
    """
WITH s AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(l_quantity AS BIGINT)) AS s0,
         SUM(CAST(ROUND(l_extendedprice) AS BIGINT)) AS s1,
         SUM(CAST(ROUND(l_discount * 1000) AS BIGINT)) AS s2,
         SUM(CAST(ROUND(l_tax * 1000) AS BIGINT)) AS s3,
         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS p00,
         SUM(CAST(l_quantity AS BIGINT) * CAST(ROUND(l_extendedprice) AS BIGINT)) AS p01,
         SUM(CAST(l_quantity AS BIGINT) * CAST(ROUND(l_discount * 1000) AS BIGINT)) AS p02,
         SUM(CAST(l_quantity AS BIGINT) * CAST(ROUND(l_tax * 1000) AS BIGINT)) AS p03,
         SUM(CAST(ROUND(l_extendedprice) AS BIGINT) * CAST(ROUND(l_extendedprice) AS BIGINT)) AS p11,
         SUM(CAST(ROUND(l_extendedprice) AS BIGINT) * CAST(ROUND(l_discount * 1000) AS BIGINT)) AS p12,
         SUM(CAST(ROUND(l_extendedprice) AS BIGINT) * CAST(ROUND(l_tax * 1000) AS BIGINT)) AS p13,
         SUM(CAST(ROUND(l_discount * 1000) AS BIGINT) * CAST(ROUND(l_discount * 1000) AS BIGINT)) AS p22,
         SUM(CAST(ROUND(l_discount * 1000) AS BIGINT) * CAST(ROUND(l_tax * 1000) AS BIGINT)) AS p23,
         SUM(CAST(ROUND(l_tax * 1000) AS BIGINT) * CAST(ROUND(l_tax * 1000) AS BIGINT)) AS p33
  FROM lineitem
), pairs AS (
  SELECT 'qty' AS col_x, 'price_usd' AS col_y, n, s0 AS sx, s1 AS sy, p00 AS sxx, p11 AS syy, p01 AS sxy FROM s
  UNION ALL SELECT 'qty', 'discount_milli', n, s0, s2, p00, p22, p02 FROM s
  UNION ALL SELECT 'qty', 'tax_milli', n, s0, s3, p00, p33, p03 FROM s
  UNION ALL SELECT 'price_usd', 'discount_milli', n, s1, s2, p11, p22, p12 FROM s
  UNION ALL SELECT 'price_usd', 'tax_milli', n, s1, s3, p11, p33, p13 FROM s
  UNION ALL SELECT 'discount_milli', 'tax_milli', n, s2, s3, p22, p33, p23 FROM s
)
SELECT col_x, col_y, CAST(n AS BIGINT) AS n,
       ROUND(
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
         6) AS corr
FROM pairs
""",
)
def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson matrix over four fix-pointed lineitem measures
    in ONE scan (operators/quality.correlation_matrix): moment sums
    are exact decimal(38,0) integers, the double formula runs per pair
    on identical values — the feature-redundancy screen, cross-engine
    bit-stable unlike float-accumulator corr()."""
    from feast_hive_spark.operators.quality import correlation_matrix

    li = read_table(spark, sf_dir, "lineitem")
    fixed = li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        round_half_away_long(F.col("l_extendedprice")).alias("price_usd"),
        round_half_away_long(F.col("l_discount") * 1000).alias(
            "discount_milli"
        ),
        round_half_away_long(F.col("l_tax") * 1000).alias("tax_milli"),
    )
    return correlation_matrix(
        fixed, ["qty", "price_usd", "discount_milli", "tax_milli"]
    )


@register(
    "stratified_kfold_events",
    """
SELECT event_id, event_type,
       CAST(('0x' || substr(md5('fold:' || CAST(event_id AS VARCHAR)), 1, 12))
            AS BIGINT) % 5 AS fold
FROM events
""",
)
def stratified_kfold_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold assignment (operators/curate.
    stratified_kfold): stateless per-row md5 hash — stable across
    reruns and corpus growth, zero shuffles; the strata column rides
    along for per-(stratum, fold) accounting. Oracle replicates the
    hash arithmetic bit-for-bit."""
    from feast_hive_spark.operators.curate import stratified_kfold

    ev = read_table(spark, sf_dir, "events")
    return stratified_kfold(ev, "event_id", "event_type", k=5)


@register(
    "band_join_part_prices",
    """
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       CAST(ROUND(a.p_retailprice * 100) AS BIGINT)
         - CAST(ROUND(b.p_retailprice * 100) AS BIGINT) AS diff_cents
FROM part a JOIN part b
  ON a.p_partkey < b.p_partkey
 AND abs(a.p_retailprice - b.p_retailprice) <= 0.02
""",
)
def band_join_part_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric band join |x - y| <= eps (operators/skew.band_join):
    bucket both sides at eps width, replicate the left into its
    neighbor buckets, hash-equi-join, exact post-filter — the
    inequality-to-equi rewrite that replaces the
    BroadcastNestedLoopJoin Spark would otherwise plan (O(n*m)
    comparisons). Self-join on part retail price finds near-identical
    price pairs; the oracle is the plain theta join."""
    from feast_hive_spark.operators.skew import band_join

    part = read_table(spark, sf_dir, "part")
    a = part.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_retailprice").alias("price_a"),
    )
    b = part.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_retailprice").alias("price_b"),
    )
    joined = band_join(a, b, "price_a", "price_b", 0.02)
    return joined.filter(F.col("key_a") < F.col("key_b")).select(
        "key_a",
        "key_b",
        (
            round_half_away_long(F.col("price_a") * 100)
            - round_half_away_long(F.col("price_b") * 100)
        ).alias("diff_cents"),
    )


_WS_K = 50


@register(
    "weighted_sample_quality_topk",
    f"""
WITH scored AS (
  SELECT doc_id,
         {X.duck_quality_score('text')} AS quality
  FROM documents
), keyed AS (
  SELECT doc_id, quality,
         ln((CAST(('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) + 1)
            / 281474976710656.0) / quality AS es_key
  FROM scored WHERE quality > 0
)
SELECT doc_id, ROUND(quality, 6) AS quality, ROUND(es_key, 6) AS es_key
FROM keyed
ORDER BY es_key DESC, doc_id
LIMIT {_WS_K}
""",
)
def weighted_sample_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Efraimidis-Spirakis weighted sampling without
    replacement (operators/curate.weighted_sample_wor): inclusion
    probability proportional to quality score, stateless hash-derived
    uniforms, TakeOrdered selection (k rows per partition, never a
    global sort). The oracle replicates the exact double formula, so
    the hash gate certifies the sampled SET, not just its size."""
    from feast_hive_spark.operators.curate import weighted_sample_wor

    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", X.quality_score("text").alias("quality")
    )
    out = weighted_sample_wor(scored, "doc_id", "quality", k=_WS_K)
    return out.select(
        "doc_id",
        F.round("quality", 6).alias("quality"),
        F.round("__es_key", 6).alias("es_key"),
    )


_COVIS_K = 3
_COVIS_CAP = 50


@register(
    "covisitation_topk_items",
    f"""
WITH fs AS (
  SELECT user_id, event_id % 100 AS item, MIN(CAST(ts AS TIMESTAMP)) AS first_seen
  FROM events GROUP BY user_id, event_id % 100
), capped AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY first_seen, item) AS rn
    FROM fs
  ) WHERE rn <= {_COVIS_CAP}
), pairs AS (
  SELECT a.item AS item_a, b.item AS item_b
  FROM capped a JOIN capped b
    ON a.user_id = b.user_id AND a.item <> b.item
), counts AS (
  SELECT item_a, item_b, CAST(COUNT(*) AS BIGINT) AS n_co
  FROM pairs GROUP BY item_a, item_b
)
SELECT item_a, item_b, n_co,
       CAST(ROW_NUMBER() OVER (PARTITION BY item_a
                               ORDER BY n_co DESC, item_b) AS BIGINT) AS rank
FROM counts
QUALIFY rank <= {_COVIS_K}
""",
)
def covisitation_topk_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item covisitation candidate generation (operators/
    sequences.covisitation_topk): whale users capped to their first
    {cap} distinct items BEFORE quadratic pair production; per-item
    top-k via WindowGroupLimit. Items derive from event_id % 100 (the
    event-sequence fixtures' item space)."""
    from feast_hive_spark.operators.sequences import covisitation_topk

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", (F.col("event_id") % 100).alias("item"), "ts"
    )
    return covisitation_topk(
        ev, "user_id", "item", "ts", k=_COVIS_K,
        max_items_per_user=_COVIS_CAP,
    )


_KCORE_K = 28
_KCORE_ROUNDS = 10  # unroll budget; empirical fixpoint <= 7 on fixtures


def _kcore_oracle() -> str:
    """Unrolled k-core peel (the PageRank chained-CTE device): each
    round recomputes degrees on surviving edges and drops nodes under
    k. The peel is monotone and idempotent at the fixpoint, so a
    fixed unroll >= the true round count agrees exactly with Spark's
    converge-and-stop loop."""
    sql = """
WITH raw AS (
  SELECT user_id AS a, 1000000 + event_id % 300 AS b FROM events
), e0 AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
  FROM raw WHERE a <> b
)"""
    prev = "e0"
    for i in range(1, _KCORE_ROUNDS + 1):
        sql += f""",
k{i} AS MATERIALIZED (
  SELECT x FROM (
    SELECT x, COUNT(*) AS d FROM (
      SELECT u AS x FROM {prev} UNION ALL SELECT v AS x FROM {prev}
    ) GROUP BY x
  ) WHERE d >= {_KCORE_K}
),
e{i} AS MATERIALIZED (
  SELECT u, v FROM {prev}
  WHERE u IN (SELECT x FROM k{i}) AND v IN (SELECT x FROM k{i})
)"""
        prev = f"e{i}"
    sql += f"""
SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
  SELECT u AS node FROM {prev} UNION ALL SELECT v AS node FROM {prev}
) GROUP BY node
"""
    return sql


@register("kcore_user_item", _kcore_oracle())
def kcore_user_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (operators/graph.kcore_nodes) of the
    bipartite user-item engagement graph — the density screen that
    separates committed-cohort structure from long-tail noise (and,
    on a near-dup pair graph, a tight duplicate clique from a loose
    chain of borderline matches). Iterative peel with localCheckpoint
    lineage truncation; the oracle unrolls the monotone peel to a
    fixed depth past the fixpoint."""
    from feast_hive_spark.operators.graph import kcore_nodes

    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.col("user_id").alias("id_a"),
        (F.lit(1_000_000) + F.col("event_id") % 300).alias("id_b"),
    )
    return kcore_nodes(pairs, k=_KCORE_K, max_rounds=12)


_PSI_BINS = 10


@register(
    "psi_value_drift",
    f"""
WITH b AS (
  SELECT (MIN(epoch_us(CAST(ts AS TIMESTAMP)))
          + MAX(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid
  FROM events
), ref AS (
  SELECT value FROM events, b
  WHERE epoch_us(CAST(ts AS TIMESTAMP)) <= mid AND value IS NOT NULL
), cur AS (
  SELECT value FROM events, b
  WHERE epoch_us(CAST(ts AS TIMESTAMP)) > mid AND value IS NOT NULL
), mm AS (
  SELECT MIN(value) AS mn, MAX(value) AS mx FROM ref
), rc AS (
  SELECT CASE WHEN mx > mn THEN
           GREATEST(0, LEAST({_PSI_BINS - 1},
             CAST(floor((value - mn) / CAST(mx - mn AS DOUBLE) * {_PSI_BINS}) AS BIGINT)))
         ELSE 0 END AS bin, COUNT(*) AS n_ref
  FROM ref, mm GROUP BY 1
), cc AS (
  SELECT CASE WHEN mx > mn THEN
           GREATEST(0, LEAST({_PSI_BINS - 1},
             CAST(floor((value - mn) / CAST(mx - mn AS DOUBLE) * {_PSI_BINS}) AS BIGINT)))
         ELSE 0 END AS bin, COUNT(*) AS n_cur
  FROM cur, mm GROUP BY 1
), bins AS (SELECT unnest(range({_PSI_BINS})) AS bin
), j AS (
  SELECT b.bin,
         COALESCE(n_ref, 0) AS n_ref,
         COALESCE(n_cur, 0) AS n_cur
  FROM bins b LEFT JOIN rc ON rc.bin = b.bin LEFT JOIN cc ON cc.bin = b.bin
), t AS (
  SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM j
)
SELECT bin,
       CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       CAST(ROUND(((n_ref + 0.5) / (t_ref + 0.5 * {_PSI_BINS})
                   - (n_cur + 0.5) / (t_cur + 0.5 * {_PSI_BINS}))
                  * ln(((n_ref + 0.5) / (t_ref + 0.5 * {_PSI_BINS}))
                       / ((n_cur + 0.5) / (t_cur + 0.5 * {_PSI_BINS})))
                  * 1e9) AS BIGINT) AS contrib_e9
FROM j, t
""",
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event value distribution,
    first half of the time range vs second (operators/profile.
    psi_drift): reference-anchored equal-width bins, Laplace-smoothed
    proportions, per-bin contributions fixed to nano-units BEFORE
    summation (total PSI = sum(contrib_e9)/1e9 — an order-free integer
    sum). The oracle gates every bin's contribution, not just the
    total."""
    from feast_hive_spark.operators.profile import psi_drift

    ev = read_table(spark, sf_dir, "events")
    mid = ev.agg(
        (
            (F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts")))
            / F.lit(2)
        ).cast("long").alias("mid")
    )
    sliced = ev.crossJoin(F.broadcast(mid))
    ref = sliced.filter(F.unix_micros("ts") <= F.col("mid")).select("value")
    cur = sliced.filter(F.unix_micros("ts") > F.col("mid")).select("value")
    return psi_drift(ref, cur, "value", n_bins=_PSI_BINS)


_FH_DIM = 64


@register(
    "feature_hash_events",
    f"""
WITH rows_ AS (
  SELECT event_id,
         CAST(('0x' || substr(md5('fh:event_type=' || event_type), 1, 12)) AS BIGINT) AS h
  FROM events
  UNION ALL
  SELECT event_id,
         CAST(('0x' || substr(md5('fh:user_seg=' || CAST(user_id % 7 AS VARCHAR)), 1, 12)) AS BIGINT) AS h
  FROM events
)
SELECT event_id,
       h % {_FH_DIM} AS feature_idx,
       CAST(SUM((h // {_FH_DIM}) % 2 * 2 - 1) AS BIGINT) AS weight
FROM rows_
GROUP BY event_id, h % {_FH_DIM}
HAVING SUM((h // {_FH_DIM}) % 2 * 2 - 1) <> 0
""",
)
def feature_hash_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick categorical encoding (operators/curate.
    feature_hash_encode): event_type and a derived user segment hash
    into a 64-dim signed sparse space — no vocabulary pass, no
    fitted state; dim chosen small enough that collisions occur and
    the sign-cancellation arithmetic is actually exercised by the
    gate."""
    from feast_hive_spark.operators.curate import feature_hash_encode

    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("user_id") % 7).cast("string").alias("user_seg"),
    )
    return feature_hash_encode(
        ev, "event_id", ["event_type", "user_seg"], dim=_FH_DIM
    )


@register(
    "table_diff_events",
    """
WITH old_ AS (
  SELECT event_id, value FROM events WHERE event_id % 10 <> 0
), new_ AS (
  SELECT event_id,
         CASE WHEN event_type = 'error' THEN value + 1 ELSE value END AS value
  FROM events WHERE event_id % 7 <> 0
)
SELECT COALESCE(o.event_id, n.event_id) AS event_id,
       CASE WHEN o.event_id IS NULL THEN 'added'
            WHEN n.event_id IS NULL THEN 'removed'
            WHEN o.value IS DISTINCT FROM n.value THEN 'changed'
            ELSE 'same' END AS change_type
FROM old_ o FULL OUTER JOIN new_ n ON o.event_id = n.event_id
WHERE CASE WHEN o.event_id IS NULL THEN 'added'
           WHEN n.event_id IS NULL THEN 'removed'
           WHEN o.value IS DISTINCT FROM n.value THEN 'changed'
           ELSE 'same' END <> 'same'
""",
)
def table_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level snapshot diff (operators/quality.table_diff): two
    deterministic 'versions' of events (different modular row drops;
    error-event values bumped in the new version) diffed by key —
    added/removed/changed classification with null-safe compares, one
    full-outer join, output sized to the delta."""
    from feast_hive_spark.operators.quality import table_diff

    ev = read_table(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 10 != 0).select("event_id", "value")
    new = ev.filter(F.col("event_id") % 7 != 0).select(
        "event_id",
        F.when(F.col("event_type") == "error", F.col("value") + 1)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return table_diff(old, new, ["event_id"], ["value"])


_CMS_W = 256
_CMS_D = 4


def _cms_hash(d: int, expr: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('cms{d}:' || {expr}), 1, 12)) AS BIGINT)"
        f" % {_CMS_W}"
    )


@register(
    "cms_user_frequency",
    f"""
WITH pairs AS (
  {" UNION ALL ".join(
      f"SELECT {d} AS row, {_cms_hash(d, 'CAST(user_id AS VARCHAR)')} AS bucket FROM events"
      for d in range(_CMS_D)
  )}
), sketch AS (
  SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs GROUP BY row, bucket
), items AS (
  SELECT DISTINCT user_id FROM events
), probes AS (
  {" UNION ALL ".join(
      f"SELECT user_id AS item, {d} AS row, {_cms_hash(d, 'CAST(user_id AS VARCHAR)')} AS bucket FROM items"
      for d in range(_CMS_D)
  )}
), est AS (
  SELECT item, CAST(MIN(COALESCE(n, 0)) AS BIGINT) AS est_n
  FROM probes LEFT JOIN sketch USING (row, bucket)
  GROUP BY item
), truth AS (
  SELECT user_id AS item, CAST(COUNT(*) AS BIGINT) AS true_n
  FROM events GROUP BY user_id
)
SELECT e.item, t.true_n, e.est_n,
       CAST(e.est_n - t.true_n AS BIGINT) AS overestimate
FROM est e JOIN truth t USING (item)
""",
)
def cms_user_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (operators/sketches.
    cms_build / cms_estimate): a fixed depth x width counter grid
    replaces cardinality-sized exact state; estimates are one-sided
    (est >= true, slack = hash-collision mass). The twin recomputes
    the identical sketch, so the hash gate certifies every estimate
    AND its exact overestimate — stronger than a tolerance bound."""
    from feast_hive_spark.operators.sketches import cms_build, cms_estimate

    ev = read_table(spark, sf_dir, "events")
    sketch = cms_build(ev, "user_id", width=_CMS_W, depth=_CMS_D)
    items = ev.select("user_id").distinct()
    est = cms_estimate(sketch, items, "user_id", width=_CMS_W, depth=_CMS_D)
    truth = ev.groupBy(F.col("user_id").alias("item")).agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    return est.join(truth, "item").select(
        "item", "true_n", "est_n",
        (F.col("est_n") - F.col("true_n")).cast("long").alias("overestimate"),
    )


@register(
    "cms_error_bound_audit",
    f"""
WITH pairs AS (
  {" UNION ALL ".join(
      f"SELECT {d} AS row, {_cms_hash(d, 'CAST(l_suppkey AS VARCHAR)')} AS bucket FROM lineitem"
      for d in range(_CMS_D)
  )}
), sketch AS (
  SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs GROUP BY row, bucket
), items AS (
  SELECT DISTINCT l_suppkey FROM lineitem
), probes AS (
  {" UNION ALL ".join(
      f"SELECT l_suppkey AS item, {d} AS row, {_cms_hash(d, 'CAST(l_suppkey AS VARCHAR)')} AS bucket FROM items"
      for d in range(_CMS_D)
  )}
), est AS (
  SELECT item, CAST(MIN(COALESCE(n, 0)) AS BIGINT) AS est_n
  FROM probes LEFT JOIN sketch USING (row, bucket)
  GROUP BY item
), truth AS (
  SELECT l_suppkey AS item, CAST(COUNT(*) AS BIGINT) AS true_n
  FROM lineitem GROUP BY l_suppkey
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_events FROM lineitem
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
       MIN(tot.n_events) AS n_events,
       CAST(MIN((2 * tot.n_events) // {_CMS_W}) AS BIGINT) AS bound,
       CAST(MIN(e.est_n - t.true_n) AS BIGINT) AS min_overestimate,
       CAST(MAX(e.est_n - t.true_n) AS BIGINT) AS max_overestimate,
       CAST(SUM(CASE WHEN e.est_n - t.true_n > (2 * tot.n_events) // {_CMS_W}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_over_bound
FROM est e JOIN truth t USING (item), tot
""",
)
def cms_error_bound_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS probabilistic-contract audit on a SKEWED key (r5 verdict
    #7): for the l_suppkey stream (the engine's canonical skewed key,
    see key_skew_report_suppkey), certify that the count-min estimate
    brackets the exact count within the analytic Markov bound — per
    item, ``P[est - true > k*N/width] <= k^-depth`` (k=2 here:
    threshold 2N/w, failure prob <= 2^-4 per item). The output is the
    corpus-level audit row (min/max overestimate, how many items
    exceed the bound); the DuckDB twin recomputes the identical
    sketch AND the identical integer bound arithmetic, so the hash
    gate certifies the estimates, the bound, and the violation count
    together. min_overestimate >= 0 doubles as the one-sidedness
    proof (CMS never underestimates)."""
    from feast_hive_spark.operators.sketches import cms_build, cms_estimate

    li = read_table(spark, sf_dir, "lineitem")
    # one fact scan (r13, guide §2.3 — the cms_join_size_audit
    # pattern): the per-item exact rollup is cached and everything
    # else derives from it — the sketch builds WEIGHTED from the
    # rollup (|items| hash evaluations instead of |lineitem|; cell
    # counts are SUM(weight), exactly the expanded stream's counts),
    # the estimate probes its keys, and N is the sum of its counts.
    truth = li.groupBy(F.col("l_suppkey").alias("item")).agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    ).cache()
    sketch = cms_build(
        truth.select(F.col("item").alias("l_suppkey"), "true_n"),
        "l_suppkey", width=_CMS_W, depth=_CMS_D, weight_col="true_n",
    )
    items = truth.select(F.col("item").alias("l_suppkey"))
    est = cms_estimate(sketch, items, "l_suppkey", width=_CMS_W, depth=_CMS_D)
    tot = F.broadcast(
        truth.agg(F.sum("true_n").cast("long").alias("n_events"))
    )
    over = F.col("est_n") - F.col("true_n")
    bound = F.expr(f"(2 * n_events) div {_CMS_W}")
    return (
        est.join(truth, "item")
        .crossJoin(tot)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.min("n_events").alias("n_events"),
            F.min(bound).cast("long").alias("bound"),
            F.min(over).cast("long").alias("min_overestimate"),
            F.max(over).cast("long").alias("max_overestimate"),
            F.sum(
                F.when(over > bound, F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_over_bound"),
        )
    )


_BLOOM_M = 1 << 17  # bits
_BLOOM_K = 2  # hash functions


def _bloom_pos(i: int, expr: str) -> str:
    return (
        f"(CAST(('0x' || substr(md5('bf{i}:' || {expr}), 1, 12)) AS BIGINT)"
        f" % {_BLOOM_M})"
    )


@register(
    "bloom_filter_join_audit",
    f"""
WITH members AS (
  SELECT DISTINCT o_orderkey AS k FROM orders
  WHERE o_orderpriority = '1-URGENT'
), pos AS (
  {" UNION ALL ".join(
      f"SELECT {_bloom_pos(i, 'CAST(k AS VARCHAR)')} AS pos FROM members"
      for i in range(_BLOOM_K)
  )}
), words AS (
  SELECT pos // 32 AS w,
         CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS BIGINT)
           AS mask
  FROM pos GROUP BY 1
), keys AS (
  SELECT DISTINCT l_orderkey AS k FROM lineitem
), probed AS (
  SELECT k,
         {", ".join(
             f"{_bloom_pos(i, 'CAST(k AS VARCHAR)')} AS p{i}"
             for i in range(_BLOOM_K)
         )}
  FROM keys
), checked AS (
  SELECT p.k,
         {" AND ".join(
             f"COALESCE((w{i}.mask >> CAST(p.p{i} % 32 AS INTEGER)) % 2, 0) = 1"
             for i in range(_BLOOM_K)
         )} AS pass,
         m.k IS NOT NULL AS member
  FROM probed p
  {" ".join(
      f"LEFT JOIN words w{i} ON w{i}.w = p.p{i} // 32"
      for i in range(_BLOOM_K)
  )}
  LEFT JOIN members m ON m.k = p.k
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(SUM(CASE WHEN member AND NOT pass THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_neg,
       CAST(SUM(CASE WHEN pass AND NOT member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos
FROM checked
""",
)
def bloom_filter_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning, contract-audited — THE shuffle-
    elimination technique for selective joins at 100 TB: instead of
    shuffling the full probe side against a dimension subset, build a
    131072-bit blocked Bloom filter over the member keys (urgent
    orders), broadcast its <=4096-row word table, and test each probe
    key map-side; only Bloom-positive rows would enter the real join.
    The audit joins the Bloom verdict against exact membership and
    certifies, hash-exactly: zero false negatives (the Bloom
    contract — a false negative silently DROPS join rows), and the
    exact false-positive count (the extra shuffle volume the filter
    admits; both engines build the identical filter from the same md5
    positions so the count matches bit-for-bit, like the CMS audit).

    Scale shape: filter build is one aggregate over member keys into a
    fixed 4096-word table; the probe is two broadcast equi-joins on
    word index + a broadcast membership check — the probe side never
    shuffles on the join key."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    # cached: members feeds the filter build AND the final membership
    # broadcast; words feeds ONE broadcast per hash function — uncached,
    # the orders scan + distinct + explode + bit_or subtree executed
    # once per _BLOOM_K join plus once for membership (r13, guide §1.3;
    # words is <=4096 rows, members the urgent-order key set)
    members = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        .cache()
    )

    def pos(i: int):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"bf{i}:"), F.col("k").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        return F.pmod(h, F.lit(_BLOOM_M))

    positions = members.select(
        F.explode(F.array(*[pos(i) for i in range(_BLOOM_K)])).alias("pos")
    )
    words = positions.groupBy(
        F.expr("pos div 32").alias("w")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(cast(1 as bigint), cast(pos % 32 as int))")
        ).alias("mask")
    ).cache()
    probed = li.select(F.col("l_orderkey").alias("k")).distinct().select(
        "k", *[pos(i).alias(f"p{i}") for i in range(_BLOOM_K)]
    )
    out = probed
    for i in range(_BLOOM_K):
        wi = words.select(
            F.col("w").alias(f"w{i}"), F.col("mask").alias(f"mask{i}")
        )
        out = out.join(
            F.broadcast(wi), F.expr(f"p{i} div 32") == F.col(f"w{i}"), "left"
        )
    hit = [
        F.coalesce(
            F.expr(f"shiftright(mask{i}, cast(p{i} % 32 as int))") % 2,
            F.lit(0),
        )
        == 1
        for i in range(_BLOOM_K)
    ]
    passed = hit[0]
    for h in hit[1:]:
        passed = passed & h
    flagged = out.join(
        F.broadcast(members.withColumn("__is_m", F.lit(1))), "k", "left"
    ).select(
        # left-join miss -> NULL, and NULL & pass would silently drop
        # the row from every CASE branch: force a real boolean
        passed.alias("pass"), F.col("__is_m").isNotNull().alias("member")
    )
    one = F.lit(1)
    zero = F.lit(0)
    return flagged.agg(
        F.count(one).cast("long").alias("n_keys"),
        F.sum(F.when(F.col("member"), one).otherwise(zero))
        .cast("long").alias("n_members"),
        F.sum(F.when(F.col("pass"), one).otherwise(zero))
        .cast("long").alias("n_pass"),
        F.sum(F.when(F.col("member") & ~F.col("pass"), one).otherwise(zero))
        .cast("long").alias("n_false_neg"),
        F.sum(F.when(F.col("pass") & ~F.col("member"), one).otherwise(zero))
        .cast("long").alias("n_false_pos"),
    )


@register(
    "target_encode_oof",
    """
WITH folded AS (
  SELECT event_type,
         CAST(('0x' || substr(md5('te:' || CAST(event_id AS VARCHAR)), 1, 12))
              AS BIGINT) % 5 AS fold,
         CAST(ROUND(value * 1000000) AS BIGINT) AS v_micro
  FROM events
), per_fold AS (
  SELECT event_type, fold,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v_micro) AS BIGINT) AS s
  FROM folded GROUP BY event_type, fold
), tot AS (
  SELECT event_type,
         CAST(SUM(n) AS BIGINT) AS n_tot,
         CAST(SUM(s) AS BIGINT) AS s_tot
  FROM per_fold GROUP BY event_type
)
SELECT f.event_type, f.fold, f.n AS n_rows,
       CAST((t.s_tot - f.s) // (t.n_tot - f.n) AS BIGINT) AS oof_mean_micro
FROM per_fold f JOIN tot t USING (event_type)
WHERE t.n_tot > f.n
""",
)
def target_encode_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe out-of-fold target encoding — the categorical-
    feature workhorse: each (category, fold) cell gets the target mean
    computed from every OTHER fold, so a row never sees its own
    target. Folds are the stateless md5 assignment
    (operators/curate.stratified_kfold convention); means are exact
    integer micro-unit arithmetic ``(sum_cat - sum_fold) div
    (cnt_cat - cnt_fold)`` so the hash gate is bit-exact across
    engines regardless of float summation order.

    Scale shape: one (category, fold) hash aggregate (partial map-side
    combine), then a broadcast join against the category totals — the
    encoded table is |categories| x k rows no matter the corpus size;
    applying it back to rows is a broadcast lookup."""
    from feast_hive_spark.functions import round_half_away_long
    from feast_hive_spark.functions.text import h48

    ev = read_table(spark, sf_dir, "events")
    folded = ev.select(
        "event_type",
        F.pmod(
            h48(F.concat(F.lit("te:"), F.col("event_id").cast("string"))),
            F.lit(5),
        ).alias("fold"),
        round_half_away_long(F.col("value") * 1000000.0).alias("v_micro"),
    )
    per_fold = folded.groupBy("event_type", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_micro").cast("long").alias("s"),
    )
    tot = per_fold.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("s").cast("long").alias("s_tot"),
    )
    return (
        per_fold.join(F.broadcast(tot), "event_type")
        .filter(F.col("n_tot") > F.col("n"))
        .select(
            "event_type",
            "fold",
            F.col("n").alias("n_rows"),
            F.expr("(s_tot - s) div (n_tot - n)")
            .cast("long")
            .alias("oof_mean_micro"),
        )
    )


@register(
    "conversion_lag_stats",
    """
WITH v AS (
  SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_view_us
  FROM events WHERE event_type = 'view' GROUP BY user_id
), p AS (
  SELECT e.user_id,
         MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS first_purchase_us
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= v.first_view_us
  GROUP BY e.user_id
), lags AS (
  SELECT v.user_id,
         (p.first_purchase_us - v.first_view_us) // 1000000 AS lag_s
  FROM v JOIN p ON p.user_id = v.user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       CAST(MIN(lag_s) AS BIGINT) AS min_lag_s,
       ROUND(quantile_cont(lag_s, 0.5), 4) AS p50_lag_s,
       ROUND(quantile_cont(lag_s, 0.9), 4) AS p90_lag_s,
       CAST(MAX(lag_s) AS BIGINT) AS max_lag_s
FROM lags
""",
)
def conversion_lag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion distribution: per user, the lag from first
    view to the first purchase at-or-after it, summarized with exact
    percentiles — the product-funnel latency metric. Two tiny
    per-user aggregates sharing one user-keyed exchange pattern; lags
    are exact integer seconds so quantile_cont/percentile
    interpolation agrees bit-for-bit."""
    ev = read_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("first_view_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.unix_micros("ts") >= F.col("first_view_us"))
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("first_purchase_us"))
    )
    lags = v.join(p, "user_id").select(
        F.expr("(first_purchase_us - first_view_us) div 1000000").alias(
            "lag_s"
        )
    )
    # one percentile(col, array(...)) buffer instead of two (r13,
    # guide §2.3 — see percentile_order_value)
    return lags.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("lag_s").cast("long").alias("min_lag_s"),
        F.expr("percentile(lag_s, array(0.5D, 0.9D))").alias("__ps"),
        F.max("lag_s").cast("long").alias("max_lag_s"),
    ).select(
        "n_converted",
        "min_lag_s",
        F.round(F.col("__ps")[0], 4).alias("p50_lag_s"),
        F.round(F.col("__ps")[1], 4).alias("p90_lag_s"),
        "max_lag_s",
    )


@register(
    "value_ohlc_hourly",
    """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(value ORDER BY CAST(ts AS TIMESTAMP), event_id)
             FILTER (WHERE rn_open = 1), 4) AS open,
       ROUND(MAX(value), 4) AS high,
       ROUND(MIN(value), 4) AS low,
       ROUND(MIN(value ORDER BY CAST(ts AS TIMESTAMP), event_id)
             FILTER (WHERE rn_close = 1), 4) AS close
FROM (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', CAST(ts AS TIMESTAMP))
                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn_open,
         ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', CAST(ts AS TIMESTAMP))
                            ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_close
  FROM events
)
GROUP BY 1
""",
)
def value_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC (open/high/low/close) per hour bucket — the canonical
    time-series downsample. Open/close are ARGMIN/ARGMAX by
    (ts, event_id) via min_by/max_by, so the whole rollup is ONE
    hash aggregate with map-side partials — no window, no second
    shuffle (the oracle's row_number formulation is the
    window-engine equivalent)."""
    ev = read_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(hour.alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min_by("value", ordk), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", ordk), 4).alias("close"),
        )
    )


@register(
    "decayed_item_popularity",
    """
WITH mx AS (
  SELECT MAX(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS maxd
  FROM events
), w AS (
  SELECT event_id % 100 AS item,
         CAST(ROUND(1000 * POW(0.9,
              date_diff('day', CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE), maxd)
         )) AS BIGINT) AS w_milli
  FROM events, mx
)
SELECT item,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(w_milli) AS BIGINT) AS decayed_milli
FROM w
GROUP BY item
""",
)
def decayed_item_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed item popularity (half-life scoring,
    the recsys freshness prior): each event contributes
    ``round(1000 * 0.9^age_days)`` milli-units relative to the newest
    day. The decay factor is an exact integer FIXED BEFORE summation,
    so the aggregate is order-free and cross-engine exact — float
    decay accumulators would diverge by summation order. One scalar
    bounds broadcast + one item-keyed aggregate (partials collapse
    map-side)."""
    ev = read_table(spark, sf_dir, "events")
    mx = ev.agg(
        F.max(F.to_date(F.date_trunc("day", F.col("ts")))).alias("maxd")
    )
    w = ev.crossJoin(F.broadcast(mx)).select(
        (F.col("event_id") % 100).alias("item"),
        F.round(
            1000
            * F.pow(
                F.lit(0.9),
                F.datediff(
                    F.col("maxd"),
                    F.to_date(F.date_trunc("day", F.col("ts"))),
                ),
            )
        )
        .cast("long")
        .alias("w_milli"),
    )
    return w.groupBy("item").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("w_milli").cast("long").alias("decayed_milli"),
    )


@register(
    "calibration_curve_value",
    """
WITH mm AS (
  SELECT MIN(value) AS mn, MAX(value) AS mx FROM events
), binned AS (
  SELECT CASE WHEN mx > mn THEN
           LEAST(9, CAST(floor((value - mn) / CAST(mx - mn AS DOUBLE) * 10) AS BIGINT))
         ELSE 0 END AS bin,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events, mm
  WHERE value IS NOT NULL
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       (1000000 * CAST(SUM(pos) AS BIGINT)) // COUNT(*) AS pos_rate_ppm
FROM binned
GROUP BY bin
""",
)
def calibration_curve_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve: empirical positive rate (purchase share) per
    fixed-width value decile — the reliability diagram behind every
    score-threshold decision. Bin bounds from one broadcast scalar
    aggregate, rates as exact integer ppm (order-free), one bin-keyed
    aggregate with map-side partials."""
    ev = read_table(spark, sf_dir, "events")
    mm = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    binc = F.when(
        F.col("mx") > F.col("mn"),
        F.least(
            F.lit(9),
            F.floor(
                (F.col("value") - F.col("mn"))
                / (F.col("mx") - F.col("mn")).cast("double")
                * 10
            ).cast("long"),
        ),
    ).otherwise(F.lit(0).cast("long"))
    return (
        ev.filter(F.col("value").isNotNull())  # nulls are not a bin
        .crossJoin(F.broadcast(mm))
        .groupBy(binc.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("n_pos"),
        )
        .select(
            "bin",
            "n",
            F.col("n_pos").cast("long").alias("n_pos"),
            F.expr("(1000000 * n_pos) div n").alias("pos_rate_ppm"),
        )
    )


@register(
    "churn_labels",
    """
WITH mx AS (
  SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS corpus_max_us FROM events
), u AS (
  SELECT user_id,
         MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
         COUNT(*) AS n_events
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       (corpus_max_us - last_us) // 86400000000 AS days_inactive,
       CAST(CASE WHEN corpus_max_us - last_us > 7 * 86400000000 THEN 1 ELSE 0 END AS BIGINT) AS churned
FROM u, mx
""",
)
def churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn label generation: per user, integer days since last
    activity relative to the corpus horizon and a 7-day-inactivity
    label — the supervised-target primitive for retention models.
    Exact integer microsecond arithmetic end-to-end; one user-keyed
    aggregate plus a 1-row horizon broadcast."""
    ev = read_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.unix_micros("ts")).alias("corpus_max_us"))
    u = ev.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    day_us = 86_400_000_000
    return u.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.expr(f"(corpus_max_us - last_us) div {day_us}").alias(
            "days_inactive"
        ),
        (
            (F.col("corpus_max_us") - F.col("last_us")) > 7 * day_us
        ).cast("long").alias("churned"),
    )


@register(
    "pit_leakage_audit",
    """
WITH ent AS (
  SELECT event_id AS probe_id, user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS entity_us
  FROM events WHERE event_type = 'purchase'
), naive AS (
  SELECT user_id, MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS latest_us
  FROM events WHERE event_type = 'click' GROUP BY user_id
), j AS (
  SELECT e.probe_id,
         CASE WHEN n.latest_us > e.entity_us THEN 1 ELSE 0 END AS leaky,
         CASE WHEN n.latest_us IS NULL THEN 1 ELSE 0 END AS missing
  FROM ent e LEFT JOIN naive n ON n.user_id = e.user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_entities,
       CAST(SUM(leaky) AS BIGINT) AS n_leaky,
       CAST(SUM(missing) AS BIGINT) AS n_missing,
       (1000000 * CAST(SUM(leaky) AS BIGINT)) // COUNT(*) AS leak_ppm
FROM j
""",
)
def pit_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-leakage audit: how many training rows would a NAIVE
    latest-per-key feature join contaminate with FUTURE data,
    relative to each entity row's timestamp — the quantified argument
    for the engine's flagship point-in-time join (here ~most purchase
    probes would leak, because clicks keep arriving after them). One
    per-key aggregate + one broadcastable join; exact integer
    microsecond compares."""
    ev = read_table(spark, sf_dir, "events")
    ent = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("probe_id"),
        "user_id",
        F.unix_micros("ts").alias("entity_us"),
    )
    naive = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.max(F.unix_micros("ts")).alias("latest_us"))
    )
    j = ent.join(naive, "user_id", "left").select(
        (F.col("latest_us") > F.col("entity_us"))
        .cast("long")
        .alias("leaky"),
        F.col("latest_us").isNull().cast("long").alias("missing"),
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.sum("leaky").cast("long").alias("n_leaky"),
        F.sum("missing").cast("long").alias("n_missing"),
        F.expr("(1000000 * sum(leaky)) div count(1)").alias("leak_ppm"),
    )


_AR_MIN_CO = 5


@register(
    "association_rules_items",
    f"""
WITH baskets AS (
  SELECT DISTINCT user_id, event_id % 100 AS item FROM events
), n_users AS (
  SELECT COUNT(DISTINCT user_id) AS nu FROM baskets
), item_n AS (
  SELECT item, COUNT(*) AS c FROM baskets GROUP BY item
), co AS (
  SELECT a.item AS antecedent, b.item AS consequent, COUNT(*) AS c_ab
  FROM baskets a JOIN baskets b
    ON a.user_id = b.user_id AND a.item <> b.item
  GROUP BY 1, 2
)
SELECT co.antecedent, co.consequent,
       CAST(co.c_ab AS BIGINT) AS n_both,
       (1000000 * co.c_ab) // ia.c AS confidence_ppm,
       (1000000 * co.c_ab * nu.nu) // (ia.c * ic.c) AS lift_ppm
FROM co
JOIN item_n ia ON ia.item = co.antecedent
JOIN item_n ic ON ic.item = co.consequent
CROSS JOIN n_users nu
WHERE co.c_ab >= {_AR_MIN_CO}
""",
)
def association_rules_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over per-user item baskets:
    confidence = P(consequent | antecedent) and lift =
    P(a,b)/(P(a)P(b)), both as exact integer ppm (the cross-
    multiplied formulation — no engine ever divides floats). Basket
    distinct + pair self-join on the user key (per-user baskets
    bounded by the item space), count aggregates collapse map-side;
    min-support prunes the rule list."""
    ev = read_table(spark, sf_dir, "events")
    # basket table cached (r13, guide §1.3): it feeds the user count,
    # the item supports, and BOTH sides of the pair self-join —
    # uncached, the events scan + distinct executed 4x per run
    baskets = ev.select(
        "user_id", (F.col("event_id") % 100).alias("item")
    ).distinct().cache()
    nu = baskets.agg(F.countDistinct("user_id").alias("nu"))
    item_n = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    a = baskets.select(F.col("user_id").alias("__u"), F.col("item").alias("antecedent"))
    b = baskets.select(F.col("user_id").alias("__u"), F.col("item").alias("consequent"))
    co = (
        a.join(b, "__u")
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= _AR_MIN_CO)
    )
    ia = item_n.select(F.col("item").alias("antecedent"), F.col("c").alias("__ca"))
    ic = item_n.select(F.col("item").alias("consequent"), F.col("c").alias("__cc"))
    return (
        co.join(ia, "antecedent")
        .join(ic, "consequent")
        .crossJoin(F.broadcast(nu))
        .select(
            "antecedent",
            "consequent",
            F.col("c_ab").cast("long").alias("n_both"),
            F.expr("(1000000 * c_ab) div __ca").alias("confidence_ppm"),
            F.expr("(1000000 * c_ab * nu) div (__ca * __cc)").alias(
                "lift_ppm"
            ),
        )
    )


@register(
    "ols_price_model",
    """
WITH st AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(q) AS HUGEINT) AS s1, CAST(SUM(d) AS HUGEINT) AS s2,
         CAST(SUM(q*q) AS HUGEINT) AS s11, CAST(SUM(q*d) AS HUGEINT) AS s12,
         CAST(SUM(d*d) AS HUGEINT) AS s22,
         CAST(SUM(y) AS HUGEINT) AS sy, CAST(SUM(q*y) AS HUGEINT) AS s1y,
         CAST(SUM(d*y) AS HUGEINT) AS s2y
  FROM (
    SELECT CAST(round(l_quantity) AS BIGINT) AS q,
           CAST(round(l_discount * 1000000) AS BIGINT) AS d,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS y
    FROM lineitem
  )
), dets AS (
  SELECT n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
         sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y) AS det0,
         n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2) AS det1,
         n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2) AS det2
  FROM st
)
SELECT term, coef FROM (
  SELECT 'intercept' AS term,
         CASE WHEN det <> 0 THEN ROUND(CAST(det0 AS DOUBLE) / CAST(det AS DOUBLE), 6) END AS coef
  FROM dets
  UNION ALL
  SELECT 'quantity',
         CASE WHEN det <> 0 THEN ROUND(CAST(det1 AS DOUBLE) / CAST(det AS DOUBLE), 6) END
  FROM dets
  UNION ALL
  SELECT 'discount_micro',
         CASE WHEN det <> 0 THEN ROUND(CAST(det2 AS DOUBLE) / CAST(det AS DOUBLE), 6) END
  FROM dets
)
""",
)
def ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass OLS: l_extendedprice_cents ~ quantity +
    discount_micro via normal equations + in-plan Cramer solve
    (operators/profile.py:ols_fit_2feature). Single scan, 1-row
    exchange, exact integer sufficient statistics — the closed-form
    linear fit that needs no iteration at any scale. Magnitudes:
    det terms < 2^125 up to ~1e8 rows at these fixed-point units
    (decimal(38,0) / HUGEINT exact)."""
    from feast_hive_spark.operators.profile import ols_fit_2feature

    li = read_table(spark, sf_dir, "lineitem")
    return ols_fit_2feature(
        li,
        F.round(F.col("l_quantity")).cast("long"),
        F.round(F.col("l_discount") * 1000000).cast("long"),
        F.round(F.col("l_extendedprice") * 100).cast("long"),
        names=("quantity", "discount_micro"),
    )


@register(
    "watermark_late_arrival_audit",
    """
WITH arr AS (
  SELECT event_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
  FROM events
), wm AS (
  SELECT event_type, ts_us,
         MAX(ts_us) OVER (ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS wm_us
  FROM arr
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN wm_us - 60000000 > ts_us THEN 1 ELSE 0 END) AS BIGINT) AS n_late_60s,
       CAST(SUM(CASE WHEN wm_us - 300000000 > ts_us THEN 1 ELSE 0 END) AS BIGINT) AS n_late_300s,
       CAST(MAX(wm_us - ts_us) AS BIGINT) AS max_lateness_us
FROM wm GROUP BY event_type
""",
)
def watermark_late_arrival_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermark planning audit: which events WOULD a streaming
    watermark of 60s / 300s drop, given arrival order = event_id
    (the ingestion sequence)? An event is late iff its event time is
    below the watermark at arrival — running max event time over
    STRICTLY preceding arrivals minus the delay; exactly Spark's
    ``withWatermark`` drop rule. This is the batch backtest a
    pipeline runs on history to size the delay before deploying the
    streaming job (streaming/events.py's windowed/sessionize
    operators consume the chosen delay).

    The running max uses the bucketed global prefix scan
    (operators/prefix.py:global_running_max): quantile buckets on the
    arrival column, per-bucket maxima (O(buckets) collect), parallel
    per-bucket windows + broadcast prefix offsets — never a
    single-partition window, so arrival-order scans scale with the
    cluster."""
    from feast_hive_spark.operators.prefix import global_running_max

    ev = read_table(spark, sf_dir, "events")
    arr = ev.select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    wm = global_running_max(
        arr, "event_id", "ts_us", n_buckets=n_part, out_col="wm_us"
    )
    return wm.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(
                F.col("wm_us") - 60_000_000 > F.col("ts_us"), 1
            ).otherwise(0)
        ).cast("long").alias("n_late_60s"),
        F.sum(
            F.when(
                F.col("wm_us") - 300_000_000 > F.col("ts_us"), 1
            ).otherwise(0)
        ).cast("long").alias("n_late_300s"),
        F.max(F.col("wm_us") - F.col("ts_us")).cast("long").alias(
            "max_lateness_us"
        ),
    )


@register(
    "ks_test_click_view_value",
    """
WITH g AS (
  SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
), rs AS (
  SELECT v, SUM(c1) OVER (ORDER BY v) AS s1,
         SUM(c2) OVER (ORDER BY v) AS s2
  FROM g
), n AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM g),
m AS (SELECT MAX(ABS(s1 * n2 - s2 * n1)) AS mx FROM rs, n)
SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_view,
       CAST((2 * mx * 1000000 + n1 * n2) // (2 * n1 * n2) AS BIGINT) AS d_micro
FROM m, n
""",
)
def ks_test_click_view_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic between the
    click and view value distributions — the drift test a feature
    pipeline runs between segments/time windows when binned PSI
    (psi_value_drift) is too coarse. D = max |F1 - F2| over the
    value-grouped counts table, whose running sums come from the
    bucketed global prefix-sum kernel
    (operators/prefix.py:global_running_sums) — quantile buckets,
    one O(buckets) collect, parallel per-bucket cumulative windows;
    never a single-partition ECDF sort. Integer micro arithmetic end
    to end: D_micro = round(max|s1*n2 - s2*n1| * 1e6 / (n1*n2)),
    half-up, exact in both engines."""
    from feast_hive_spark.operators.prefix import global_running_sums

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    # cached (r13, guide §1.3): g feeds the prefix-sum kernel (probe +
    # offsets collect + the final windowed plan) AND the (n1, n2)
    # scalar — uncached, the events scan executed ~4x per run.
    # Value-domain-sized.
    g = ev.groupBy(
        F.round(F.col("value") * 1000000).cast("long").alias("v")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("c1"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("c2"),
    ).cache()
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    rs = global_running_sums(g, "v", ["v"], ["c1", "c2"], n_part)
    n = F.broadcast(
        g.agg(
            F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
        )
    )
    m = (
        rs.crossJoin(n)
        .agg(
            F.max(
                F.abs(
                    F.col("__rs_c1") * F.col("n2")
                    - F.col("__rs_c2") * F.col("n1")
                )
            ).alias("mx"),
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
        )
    )
    return m.selectExpr(
        "CAST(n1 AS LONG) AS n_click",
        "CAST(n2 AS LONG) AS n_view",
        "(2 * mx * 1000000 + n1 * n2) div (2 * n1 * n2) AS d_micro",
    )


@register(
    "cms_join_size_audit",
    f"""
WITH ca AS (
  {" UNION ALL ".join(
      f"SELECT {d} AS row, {_cms_hash(d, 'CAST(user_id AS VARCHAR)')} AS bucket FROM events WHERE event_type = 'click'"
      for d in range(_CMS_D)
  )}
), cb AS (
  {" UNION ALL ".join(
      f"SELECT {d} AS row, {_cms_hash(d, 'CAST(user_id AS VARCHAR)')} AS bucket FROM events WHERE event_type = 'purchase'"
      for d in range(_CMS_D)
  )}
), sa AS (SELECT row, bucket, COUNT(*) AS na FROM ca GROUP BY 1, 2),
sb AS (SELECT row, bucket, COUNT(*) AS nb FROM cb GROUP BY 1, 2),
est AS (
  SELECT MIN(ip) AS est FROM (
    SELECT sa.row, SUM(na * nb) AS ip
    FROM sa JOIN sb ON sa.row = sb.row AND sa.bucket = sb.bucket
    GROUP BY sa.row
  )
), ex AS (
  SELECT SUM(a.c * b.c) AS exact_n,
         SUM(a.c) * SUM(b.c) AS mass
  FROM (SELECT user_id, COUNT(*) AS c FROM events
        WHERE event_type = 'click' GROUP BY 1) a
  JOIN (SELECT user_id, COUNT(*) AS c FROM events
        WHERE event_type = 'purchase' GROUP BY 1) b
  ON a.user_id = b.user_id
)
SELECT CAST(exact_n AS BIGINT) AS exact_n,
       CAST(est AS BIGINT) AS est_n,
       est >= exact_n AND est <= exact_n + 3 * mass / {_CMS_W} AS within_bounds
FROM est, ex
""",
)
def cms_join_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from two count-min sketches (the AGMS-
    style planner probe): est = min over depth rows of the bucket-wise
    inner product, which upper-bounds the exact click⋈purchase
    row count on user_id and stays within e/width * |A|*|B| w.h.p. —
    the "how big is this join" answer a planner gets from two
    fixed-size mergeable sketches WITHOUT rescanning either fact
    table. The twin recomputes the identical sketches, so the hash
    gate certifies the estimate itself, its one-sidedness, AND the
    error bound (operators/sketches.py:cms_inner_product)."""
    from feast_hive_spark.operators.sketches import (
        cms_build,
        cms_inner_product,
    )

    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    buys = ev.filter(F.col("event_type") == "purchase")
    # r13 optimization (guide §2.3/§2.4): both sketches build from the
    # per-user rollups (weight_col) — |users| hash evaluations instead
    # of |events|, and the rollup is shared with the exact side below
    # (identical sketch: cell counts become SUM(count-per-user)). The
    # exact count and both stream totals come from ONE full-outer join
    # pass: SUM(ca*cb) ignores NULL products exactly like the old
    # inner join, and SUM(ca)/SUM(cb) see every row of their side.
    # Before: 12 scans of events across 6 independent aggregate
    # subtrees (45-Exchange plan).
    ga = clicks.groupBy("user_id").agg(F.count(F.lit(1)).alias("ca"))
    gb = buys.groupBy("user_id").agg(F.count(F.lit(1)).alias("cb"))
    est = cms_inner_product(
        cms_build(ga, "user_id", width=_CMS_W, depth=_CMS_D, weight_col="ca"),
        cms_build(gb, "user_id", width=_CMS_W, depth=_CMS_D, weight_col="cb"),
    )
    ex = ga.join(gb, "user_id", "full").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("exact_n"),
        F.sum("ca").alias("ta"),
        F.sum("cb").alias("tb"),
    )
    return est.crossJoin(F.broadcast(ex)).select(
        F.col("exact_n").cast("long").alias("exact_n"),
        F.col("est").cast("long").alias("est_n"),
        (
            (F.col("est") >= F.col("exact_n"))
            & (
                F.col("est")
                <= F.col("exact_n")
                + F.lit(3) * F.col("ta") * F.col("tb") / F.lit(_CMS_W)
            )
        ).alias("within_bounds"),
    )


@register(
    "gini_user_value_concentration",
    """
WITH u AS (
  SELECT user_id, CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY user_id
), r AS (
  SELECT v,
         ROW_NUMBER() OVER (ORDER BY v, user_id) AS rk,
         SUM(v) OVER (ORDER BY v, user_id) AS cum
  FROM u
), n AS (SELECT COUNT(*) AS n, SUM(v) AS tot FROM u),
g AS (
  -- Gini = (2 * sum_i rk_i * v_i) / (n * tot) - (n + 1) / n, exact in
  -- integer numerators: gini_micro = round(1e6 * (2*S - (n+1)*tot) / (n*tot))
  SELECT SUM(rk * v) AS s FROM r
)
SELECT CAST(n AS BIGINT) AS n_users,
       CAST((2 * (2 * CAST(s AS HUGEINT) - (CAST(n AS HUGEINT) + 1) * CAST(tot AS HUGEINT)) * 1000000
             + CAST(n AS HUGEINT) * CAST(tot AS HUGEINT))
            // (2 * CAST(n AS HUGEINT) * CAST(tot AS HUGEINT)) AS BIGINT) AS gini_micro,
       CAST((SELECT MAX(cum) FROM r) AS BIGINT) AS total_value_micro
FROM n, g
""",
)
def gini_user_value_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gini coefficient of per-user event value — the concentration
    readout ("what share of value comes from whale users") every
    monetization/skew analysis starts with. Exact, via the rank
    formulation G = 2·Σ rank_i·v_i / (n·Σv) − (n+1)/n: ranks and
    cumulative sums come from the bucketed global prefix kernels
    (operators/prefix.py) — quantile buckets, O(buckets) collect,
    parallel per-bucket windows; never a single-partition sort.
    Integer micro arithmetic end to end (values fixed to micro, the
    final ratio half-up rounded at 1e-6), so both engines agree
    bit-for-bit."""
    from feast_hive_spark.operators.prefix import global_rank_and_sums

    ev = read_table(spark, sf_dir, "events")
    # NOT cached (r13, measured): the prefix kernels' probe jobs are
    # plan-memoized already, so caching u only added materialization
    # overhead (bench A/B 0.192 -> 0.308 s; reverted).
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 1000000).cast("long")).alias("v")
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # r14 (guide §2.4): rank + running sum share ONE fused kernel —
    # the chained kernels re-probed and re-collected over the already
    # windowed intermediate (2 extra executions of u + a second
    # window exchange); values depend only on the (v, user_id) total
    # order, so the fold is exact.
    summed = global_rank_and_sums(
        u, "v", [F.col("v"), F.col("user_id")], ["v"], n_part,
        rank_col="rk",
    )
    return summed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rk") * F.col("v")).alias("s"),
        F.sum("v").alias("tot"),
        F.max("__rs_v").alias("mx"),
    ).selectExpr(
        "CAST(s AS DECIMAL(38,0)) AS s",
        "CAST(n AS DECIMAL(38,0)) AS n",
        "CAST(tot AS DECIMAL(38,0)) AS tot",
        "mx",
    ).selectExpr(
        "CAST(n AS LONG) AS n_users",
        # exact integer floor division in decimal(38,0): numerator and
        # denominator are exact; the quotient is floored via the
        # remainder identity (x - x % y) / y, which Spark evaluates
        # exactly on decimals (no rounding step)
        "CAST((2 * (2 * s - (n + 1) * tot) * 1000000 + n * tot "
        " - ((2 * (2 * s - (n + 1) * tot) * 1000000 + n * tot) % (2 * n * tot)))"
        " / (2 * n * tot) AS LONG) AS gini_micro",
        "CAST(mx AS LONG) AS total_value_micro",
    )


@register(
    "mad_outlier_counts",
    """
WITH med AS (
  SELECT event_type, ROUND(median(value), 6) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, ROUND(ABS(e.value - m.med), 6) AS adev, m.med
  FROM events e JOIN med m ON e.event_type = m.event_type
), mad AS (
  SELECT event_type, ROUND(median(adev), 6) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ANY_VALUE(d.med) AS med,
       ANY_VALUE(m.mad) AS mad,
       CAST(SUM(CASE WHEN m.mad > 0
                     AND d.adev > 3.5 * 1.4826 * m.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
""",
)
def mad_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation (the
    estimator z-scores can't do: a few extreme values corrupt the
    mean/stddev but not the median): per event type, flag values
    whose |x - median| exceeds 3.5 sigma-equivalents (1.4826 * MAD,
    the normal-consistency constant). Two grouped exact-median passes
    — Spark's percentile() and DuckDB's median share the linear-
    interpolation formula (parity proven by percentile_order_value);
    deviations are 6dp-fixed before the second median so tie sets are
    identical. Both medians are #groups-sized aggregates; at scale
    swap in approx_percentile partials (the tolerance-gated pattern
    of approx_percentile_rank_bounded) without changing the flag
    rule."""
    ev = read_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.round(F.abs(F.col("value") - F.col("med")), 6).alias("adev"),
        "med",
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(adev, 0.5)"), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(
                    (F.col("mad") > 0)
                    & (
                        F.col("adev")
                        > F.lit(3.5) * F.lit(1.4826) * F.col("mad")
                    ),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
    )


@register(
    "covisitation_hitrate_at_k",
    f"""
WITH ev AS (
  SELECT user_id, event_id % 100 AS item, CAST(ts AS TIMESTAMP) AS ts, event_id
  FROM events
), rk AS (
  SELECT user_id, item, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev
), hold AS (
  SELECT user_id,
         MAX(CASE WHEN rn = 2 THEN item END) AS q,
         MAX(CASE WHEN rn = 1 THEN item END) AS t
  FROM rk WHERE rn <= 2 GROUP BY user_id HAVING COUNT(*) >= 2
), fs AS (
  SELECT user_id, item, MIN(ts) AS first_seen
  FROM rk WHERE rn >= 2 GROUP BY user_id, item
), capped AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY first_seen, item) AS crn
    FROM fs
  ) WHERE crn <= {_COVIS_CAP}
), cnts AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_co
  FROM capped a JOIN capped b
    ON a.user_id = b.user_id AND a.item <> b.item
  GROUP BY 1, 2
), model AS (
  SELECT item_a, item_b FROM (
    SELECT item_a, item_b,
           ROW_NUMBER() OVER (PARTITION BY item_a
                              ORDER BY n_co DESC, item_b) AS rank
    FROM cnts
  ) WHERE rank <= {_COVIS_K}
), h AS (
  SELECT CASE WHEN m.item_b IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM hold LEFT JOIN model m ON m.item_a = hold.q AND m.item_b = hold.t
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(hit) AS BIGINT) AS n_hits,
       CAST((2 * SUM(hit) * 1000000 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
         AS hit_rate_micro
FROM h
""",
)
def covisitation_hitrate_at_k(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-last-out hit-rate@{k} of the covisitation candidate
    generator — the offline retrieval-model evaluation: hold out each
    user's last interaction, train covisitation on the rest (the
    held-out event never enters pair production), and score whether
    the held-out item appears in the second-to-last item's top-k
    (operators/sequences.py:covisitation_hitrate_at_k)."""
    from feast_hive_spark.operators.sequences import (
        covisitation_hitrate_at_k as hr,
    )

    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        (F.col("event_id") % 100).alias("item"),
        "ts",
        "event_id",
    )
    return hr(
        ev, "user_id", "item", "ts", "event_id",
        k=_COVIS_K, max_items_per_user=_COVIS_CAP,
    )


#: Poisson(1) inverse-CDF thresholds at 2^20 scale (shared literal
#: table for both engines): u < t[k] => weight k, else 8
_POIS_T = [385750, 771499, 964374, 1028665, 1044738, 1047953, 1048489, 1048565]
_BOOT_R = 16


def _pois_weight_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE {branches} ELSE 8 END"


@register(
    "bootstrap_mean_value_ci",
    f"""
WITH w AS (
  SELECT r.r AS replica,
         {_pois_weight_sql(
             "CAST(('0x' || substr(md5('boot' || CAST(r.r AS VARCHAR) || ':' "
             "|| CAST(event_id AS VARCHAR)), 1, 12)) AS BIGINT) % 1048576"
         )} AS wt,
         CAST(round(value * 1000000) AS BIGINT) AS v
  FROM events, range(0, {_BOOT_R}) r(r)
)
SELECT CAST(replica AS BIGINT) AS replica,
       CAST(SUM(wt) AS BIGINT) AS n_eff,
       CAST((2 * SUM(wt * v) + SUM(wt)) // (2 * SUM(wt)) AS BIGINT) AS mean_micro
FROM w GROUP BY replica
""",
)
def bootstrap_mean_value_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the mean event value — THE bootstrap that
    works at scale (each row draws an independent Poisson(1) weight
    per replica, so resampling is ONE stateless scan; classic
    multinomial resampling needs global coordination). 16 replicas in
    one pass: weights come from a hash-uniform draw through the
    shared Poisson(1) inverse-CDF threshold table, so both engines
    draw IDENTICAL pseudo-resamples and the hash gate certifies every
    replica mean (integer micro, half-up). The CI is read off the
    replica distribution (e.g. min/max of 16 ~ a coarse 94% interval);
    more replicas = more columns of the same scan, never more passes."""
    ev = read_table(spark, sf_dir, "events")
    # r13 (guide §4.2/§2.3): the per-replica work is ONLY the md5 —
    # the rounded value and the ':'||event_id suffix are staged ONCE
    # per event BEFORE the 16-way explode (they were re-computed per
    # exploded row: 16× the BigDecimal rounds and int→string casts),
    # and 'boot'||replica folds to 16 struct literals.
    pre = ev.select(
        F.concat(F.lit(":"), F.col("event_id").cast("string")).alias(
            "__sfx"
        ),
        F.round(F.col("value") * 1000000).cast("long").alias("v"),
    )
    reps = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("replica"), F.lit(f"boot{r}").alias("__p")
                )
                for r in range(_BOOT_R)
            ]
        )
    ).alias("__r")
    base = pre.select(reps, "__sfx", "v").select(
        F.col("__r.replica").alias("replica"), "__r.__p", "__sfx", "v"
    )
    u = X.h48(F.concat(F.col("__p"), F.col("__sfx"))) % 1048576
    wt = F.lit(8)
    for k, t in reversed(list(enumerate(_POIS_T))):
        wt = F.when(u < t, F.lit(k)).otherwise(wt)
    return (
        base.withColumn("wt", wt)
        .groupBy("replica")
        .agg(
            F.sum("wt").cast("long").alias("n_eff"),
            F.expr(
                "(2 * SUM(wt * v) + SUM(wt)) div (2 * SUM(wt))"
            ).cast("long").alias("mean_micro"),
        )
        .select(
            F.col("replica").cast("long").alias("replica"),
            "n_eff",
            "mean_micro",
        )
    )


@register(
    "welch_ttest_click_view",
    """
WITH g AS (
  SELECT event_type,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS HUGEINT) AS s,
         CAST(SUM(CAST(round(value * 1000000) AS BIGINT)
                  * CAST(round(value * 1000000) AS BIGINT)) AS HUGEINT) AS ss
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY event_type
), s AS (
  SELECT
    MAX(CASE WHEN event_type = 'click' THEN CAST(n AS DOUBLE) END) AS n1,
    MAX(CASE WHEN event_type = 'click' THEN CAST(s AS DOUBLE) END) AS s1,
    MAX(CASE WHEN event_type = 'click' THEN CAST(ss AS DOUBLE) END) AS ss1,
    MAX(CASE WHEN event_type = 'view' THEN CAST(n AS DOUBLE) END) AS n2,
    MAX(CASE WHEN event_type = 'view' THEN CAST(s AS DOUBLE) END) AS s2,
    MAX(CASE WHEN event_type = 'view' THEN CAST(ss AS DOUBLE) END) AS ss2
  FROM g
), v AS (
  SELECT n1, n2,
         (ss1 - s1 * s1 / n1) / (n1 - 1) / n1 AS a,
         (ss2 - s2 * s2 / n2) / (n2 - 1) / n2 AS b,
         s1 / n1 - s2 / n2 AS md
  FROM s
)
SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_view,
       ROUND(md / 1000000, 6) AS mean_diff,
       ROUND(md / sqrt(a + b), 6) AS t_stat,
       ROUND((a + b) * (a + b)
             / (a * a / (n1 - 1) + b * b / (n2 - 1)), 4) AS welch_df
FROM v
""",
)
def welch_ttest_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test between click and view values — the
    A/B-test statistic (unequal variances, Welch-Satterthwaite df).
    One grouped aggregate of exact integer micro sums (count, sum,
    sum-of-squares in decimal(38)/HUGEINT); the t statistic is then a
    fixed small double formula over identical exact integers, so both
    engines agree to the 6dp rounding."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    vm = F.round(F.col("value") * 1000000).cast("long")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(vm.cast("decimal(38,0)")).alias("s"),
        F.sum((vm * vm).cast("decimal(38,0)")).alias("ss"),
    )
    s = g.agg(
        *[
            F.max(
                F.when(F.col("event_type") == et, F.col(c).cast("double"))
            ).alias(f"{c}{i}")
            for i, et in ((1, "click"), (2, "view"))
            for c in ("n", "s", "ss")
        ]
    )
    v = s.selectExpr(
        "n1",
        "n2",
        "(ss1 - s1 * s1 / n1) / (n1 - 1) / n1 AS a",
        "(ss2 - s2 * s2 / n2) / (n2 - 1) / n2 AS b",
        "s1 / n1 - s2 / n2 AS md",
    )
    return v.selectExpr(
        "CAST(n1 AS LONG) AS n_click",
        "CAST(n2 AS LONG) AS n_view",
        "round(md / 1000000, 6) AS mean_diff",
        "round(md / sqrt(a + b), 6) AS t_stat",
        "round((a + b) * (a + b) "
        "/ (a * a / (n1 - 1) + b * b / (n2 - 1)), 4) AS welch_df",
    )


_MARKOV_K = 4


def _markov_cte(k: int = _MARKOV_K) -> str:
    """Unrolled absorbing-walk rounds: v_t(s) = P(reach 'purchase'
    within t steps from s), micro-fixed per round so the per-state
    sums are exact integers (same order-independence discipline as
    the logreg sigmoid)."""
    parts = [
        """mnx AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS dst
  FROM events
),
mtc AS (
  SELECT src, dst, COUNT(*) AS c FROM mnx WHERE dst IS NOT NULL
  GROUP BY src, dst
),
mtot AS (SELECT src, SUM(c) AS tot FROM mtc GROUP BY src),
mv0 AS (
  SELECT src AS state,
         CASE WHEN src = 'purchase' THEN 1000000 ELSE 0 END AS v
  FROM mtot
)""",
    ]
    for t in range(1, k + 1):
        parts.append(
            f"""mv{t} AS (
  SELECT m.src AS state,
         CASE WHEN m.src = 'purchase' THEN 1000000
              ELSE CAST((2 * SUM(m.c * p.v) + t.tot) // (2 * t.tot) AS BIGINT)
         END AS v
  FROM mtc m JOIN mv{t-1} p ON p.state = m.dst
  JOIN mtot t ON t.src = m.src
  GROUP BY m.src, t.tot
)"""
        )
    return ",\n".join(parts)


@register(
    "markov_conversion_reach",
    f"""
WITH {_markov_cte()}
SELECT state AS event_type, CAST(v AS BIGINT) AS p_reach_micro
FROM mv{_MARKOV_K}
""",
)
def markov_conversion_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain conversion reach: P(hit 'purchase' within
    {K} transitions) from each starting event type, under the
    empirical first-order transition matrix — the absorbing-walk
    readout behind Markov attribution models. 'purchase' is
    absorbing (v = 1); each unrolled round is one join + group over
    the STATE-SPACE-sized matrix (a handful of rows at any corpus
    size — the corpus is touched exactly once, for the transition
    counts). Per-round values are micro-fixed so the per-state sums
    are exact integers; the SQL twin replays every round
    bit-for-bit."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    # transition matrix cached (r13, guide §1.3): mtc/mtot anchor
    # every unrolled round's joins — uncached, the corpus lead-window
    # re-executed ~2K times; the cache is state-space-sized
    mtc = nxt.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c")).cache()
    mtot = mtc.groupBy("src").agg(F.sum("c").alias("tot")).cache()
    v = mtot.select(
        F.col("src").alias("state"),
        F.when(F.col("src") == "purchase", F.lit(1000000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("v"),
    )
    for _ in range(_MARKOV_K):
        v = (
            mtc.join(v.withColumnRenamed("state", "dst"), "dst")
            .join(mtot, "src")
            .groupBy("src", "tot")
            .agg(F.sum(F.col("c") * F.col("v")).alias("__s"))
            .selectExpr(
                "src AS state",
                "CASE WHEN src = 'purchase' THEN 1000000L "
                "ELSE (2 * __s + tot) div (2 * tot) END AS v",
            )
        )
    return v.select(
        F.col("state").alias("event_type"),
        F.col("v").cast("long").alias("p_reach_micro"),
    )


@register(
    "woe_iv_value_bins",
    """
WITH base AS (
  SELECT CAST(least(greatest(floor(value / 20.0), 0), 4) AS BIGINT) AS bin,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
  FROM events
), b AS (
  SELECT bin, SUM(pos) AS np, SUM(1 - pos) AS nn
  FROM base GROUP BY bin
), t AS (SELECT SUM(np) AS tp, SUM(nn) AS tn FROM b)
SELECT bin,
       CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       CAST(round(ln(((np * 2 + 1) * CAST(tn AS DOUBLE))
                     / ((nn * 2 + 1) * CAST(tp AS DOUBLE))) * 1000000)
            AS BIGINT) AS woe_micro
FROM b, t
""",
)
def woe_iv_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence encoding of binned event value against the
    purchase label — the credit-scoring-style categorical encoder
    (the supervised sibling of target_encode_oof): WoE(bin) =
    ln(P(bin|pos) / P(bin|neg)), computed here with Haldane-style
    +0.5 smoothing ((2n+1)/2 in exact integers) so empty cells stay
    finite and both engines evaluate ln() over the IDENTICAL exact
    rational. One binned aggregate + a 1-row totals broadcast; the
    per-bin WoE table is what a feature pipeline joins back onto the
    fact stream (map-side, broadcast) to encode the column."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        F.least(
            F.greatest(F.floor(F.col("value") / 20.0), F.lit(0)),
            F.lit(4),
        ).cast("long").alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "pos"
        ),
    )
    # 5-row bin table cached (r13, §1.3): feeds the totals scalar
    # AND the readout — uncached, the events scan executed twice
    b = base.groupBy("bin").agg(
        F.sum("pos").alias("np"), F.sum(1 - F.col("pos")).alias("nn")
    ).cache()
    t = b.agg(F.sum("np").alias("tp"), F.sum("nn").alias("tn"))
    return b.crossJoin(F.broadcast(t)).select(
        "bin",
        F.col("np").cast("long").alias("n_pos"),
        F.col("nn").cast("long").alias("n_neg"),
        F.round(
            F.log(
                ((F.col("np") * 2 + 1) * F.col("tn").cast("double"))
                / ((F.col("nn") * 2 + 1) * F.col("tp").cast("double"))
            )
            * 1000000
        ).cast("long").alias("woe_micro"),
    )


#: Benford P(first digit = d) at micro scale, d = 1..9 (shared
#: literal table so both engines compare against identical integers)
_BENFORD_MICRO = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]


@register(
    "benford_first_digit_audit",
    f"""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
), c AS (
  SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
), t AS (SELECT SUM(n) AS tot FROM c),
e AS (
  SELECT * FROM (VALUES {", ".join(f"({i+1}, {p})" for i, p in enumerate(_BENFORD_MICRO))}) AS v(digit, exp_micro)
)
SELECT e.digit, CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
       CAST((2 * COALESCE(c.n, 0) * 1000000 + t.tot) // (2 * t.tot) AS BIGINT) AS obs_micro,
       CAST(e.exp_micro AS BIGINT) AS exp_micro
FROM e LEFT JOIN c ON c.digit = e.digit CROSS JOIN t
""",
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of order totals —
    the fraud/data-generation screen auditors run on financial
    columns: natural multiplicative data follows P(d) = log10(1+1/d),
    and a synthetic or manipulated column deviates visibly. The first
    digit comes from the CENTS integer's decimal string (exact — no
    float log10 in the digit extraction); observed shares are
    half-up micro integers against the shared Benford literal table.
    One grouped count; digit domain is 9 rows at any scale."""
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0
    )
    d = orders.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        ).cast("long").alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("tot"))
    # c is digit-domain-bounded (<=9 rows), so the hard broadcast
    # keeps the join exchange-free
    e = local_frame(
        spark,
        [(i + 1, p) for i, p in enumerate(_BENFORD_MICRO)],
        "digit bigint, exp_micro bigint",
    )
    return (
        e.join(F.broadcast(c), "digit", "left")
        .crossJoin(F.broadcast(t))
        .selectExpr(
            "digit",
            "CAST(COALESCE(n, 0) AS LONG) AS n",
            "(2 * COALESCE(n, 0) * 1000000 + tot) div (2 * tot) AS obs_micro",
            "exp_micro",
        )
    )


@register(
    "top_event_trigrams",
    """
WITH seq AS (
  SELECT event_type AS a,
         LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b,
         LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS c
  FROM events
), tri AS (
  SELECT a, b, c, COUNT(*) AS n
  FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
  GROUP BY a, b, c
)
SELECT a, b, c, CAST(n AS BIGINT) AS n,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, a, b, c) AS BIGINT) AS rank
FROM tri QUALIFY rank <= 10
""",
)
def top_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step behavioral paths (event-type trigrams within
    each user's timeline) — the path-mining readout funnel analysis
    starts from. One user-keyed window produces the trigram stream
    (two LEADs, no self-joins), the count aggregate collapses
    map-side onto the |event_types|^3 domain, and the final top-k
    ranks a domain-sized table."""
    from pyspark.sql import Window as W

    ev = read_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("b").isNotNull() & F.col("c").isNotNull())
    tri = seq.groupBy("a", "b", "c").agg(F.count(F.lit(1)).alias("n"))
    w_top = W.orderBy(F.desc("n"), "a", "b", "c")
    return (
        tri.withColumn("rank", F.row_number().over(w_top))
        .filter(F.col("rank") <= 10)
        .select(
            "a", "b", "c",
            F.col("n").cast("long").alias("n"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


@register(
    "cusum_daily_value_shift",
    """
WITH d AS (
  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         SUM(CAST(round(value * 1000000) AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM events GROUP BY 1
), g AS (SELECT SUM(s) AS ts_, SUM(n) AS tn FROM d),
dev AS (
  -- per-day deviation of the day SUM from its expected share of the
  -- global sum (exact integers scaled by the global count)
  SELECT day, s * tn - n * ts_ AS dev
  FROM d, g
), c AS (
  SELECT day, SUM(dev) OVER (ORDER BY day) AS cusum
  FROM dev
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_days,
       (SELECT day FROM c ORDER BY ABS(cusum) DESC, day LIMIT 1) AS change_day,
       (SELECT CAST(MAX(ABS(cusum)) AS BIGINT) FROM c) AS max_cusum
""",
)
def cusum_daily_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the daily value series: the
    day where the cumulative deviation from the global mean peaks is
    the most likely level-shift point — the standard first look at
    'did this metric move, and when'. Deviations are exact integers
    (day_sum * N - day_n * total_sum, cross-multiplied to avoid any
    division), the running sum is a day-domain window (tiny at any
    corpus size; events are touched once for the day aggregate), and
    the argmax tie-breaks on the earliest day."""
    ev = read_table(spark, sf_dir, "events")
    # cached (r13, guide §1.3): d feeds the global-total scalar AND
    # the deviation table — uncached, the events scan executed twice
    # per run. Day-domain-sized.
    d = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 1000000).cast("long")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).cache()
    g = d.agg(F.sum("s").alias("ts_"), F.sum("n").alias("tn"))
    from pyspark.sql import Window as W

    dev = d.crossJoin(F.broadcast(g)).select(
        "day",
        (F.col("s") * F.col("tn") - F.col("n") * F.col("ts_")).alias("dev"),
    )
    c = dev.withColumn(
        "cusum", F.sum("dev").over(W.orderBy("day"))
    )
    return c.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.min_by(F.col("day"), F.struct(-F.abs(F.col("cusum")), F.col("day"))).alias(
            "change_day"
        ),
        F.max(F.abs(F.col("cusum"))).cast("long").alias("max_cusum"),
    )


# =====================================================================
# r7: model-evaluation + distribution-audit statistics
# =====================================================================


@register(
    "auc_quality_en",
    f"""
WITH d AS (
  SELECT CAST(round({X.duck_quality_score('text')} * 1000000) AS BIGINT) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
g AS (SELECT s, COUNT(*) AS n, SUM(y) AS npos FROM d GROUP BY s),
r AS (SELECT s, n, npos, SUM(n) OVER (ORDER BY s) AS cum FROM g),
a AS (
  SELECT SUM(CAST(npos AS HUGEINT) * (2 * (cum - n) + n + 1)) AS s2,
         SUM(npos) AS p, SUM(n) AS nt
  FROM r
)
SELECT CAST(nt AS BIGINT) AS n_docs,
       CAST(p AS BIGINT) AS n_pos,
       CAST((2 * (CAST(s2 AS HUGEINT) - CAST(p AS HUGEINT) * (p + 1)) * 1000000
             + 2 * CAST(p AS HUGEINT) * (nt - p))
            // (2 * 2 * CAST(p AS HUGEINT) * (nt - p)) AS BIGINT) AS auc_micro
FROM a
""",
)
def auc_quality_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the quality score as a predictor of
    ``lang = 'en'`` — the Mann-Whitney U formulation with midrank tie
    handling: AUC = (Σ avg-rank(pos) − P(P+1)/2) / (P·N). All
    corpus-sized work is one per-score aggregate; ranks come from the
    bucketed global prefix kernel (operators/prefix.py — quantile
    buckets, O(buckets) collect, parallel per-bucket windows, never a
    single-partition sort). Numerators stay exact integers end to end
    (2·U is integral even with midranks), half-up rounded at 1e-6 via
    the same floor-division identity as gini — bit-identical to the
    HUGEINT twin."""
    from feast_hive_spark.operators.prefix import global_running_sums

    docs = read_table(spark, sf_dir, "documents")
    d = docs.select(
        F.round(X.quality_score("text") * 1000000)
        .cast("long")
        .alias("s"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    g = d.groupBy("s").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("npos")
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    r = global_running_sums(g, "s", [F.col("s")], ["n"], n_part)
    a = r.agg(
        F.sum(
            F.col("npos").cast("decimal(38,0)")
            * (2 * (F.col("__rs_n") - F.col("n")) + F.col("n") + 1)
        ).alias("s2"),
        F.sum("npos").cast("decimal(38,0)").alias("p"),
        F.sum("n").cast("decimal(38,0)").alias("nt"),
    )
    return a.selectExpr(
        "CAST(nt AS LONG) AS n_docs",
        "CAST(p AS LONG) AS n_pos",
        # half-up integer rounding of (2U*1e6)/(2*P*N) via the exact
        # decimal floor-division identity (see gini)
        "CAST((2 * (s2 - p * (p + 1)) * 1000000 + 2 * p * (nt - p) "
        " - ((2 * (s2 - p * (p + 1)) * 1000000 + 2 * p * (nt - p)) "
        "    % (2 * 2 * p * (nt - p)))) "
        " / (2 * 2 * p * (nt - p)) AS LONG) AS auc_micro",
    )


@register(
    "calibration_bins_quality",
    f"""
WITH d AS (
  SELECT CAST(round({X.duck_quality_score('text')} * 1000000) AS BIGINT) AS sm,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
b AS (
  SELECT LEAST(sm // 100000, 9) AS bin, COUNT(*) AS n,
         SUM(sm) AS ssum, SUM(y) AS npos
  FROM d GROUP BY 1
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(n AS BIGINT) AS n_docs,
       CAST((CAST(ssum AS HUGEINT) * 2 + n) // (2 * n) AS BIGINT)
         AS mean_quality_micro,
       CAST((CAST(npos AS HUGEINT) * 2000000 + n) // (2 * n) AS BIGINT)
         AS pos_rate_micro
FROM b
""",
)
def calibration_bins_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reliability diagram for the quality score against the
    ``lang='en'`` label: 10 equal-width score bins, each reporting its
    mean predicted score and realized positive rate — the calibration
    readout that tells you whether a [0.6, 0.7) score means ~65%.
    ONE grouped aggregate over exact micro integers; both ratios
    half-up rounded at 1e-6 with integer arithmetic only."""
    docs = read_table(spark, sf_dir, "documents")
    d = docs.select(
        F.round(X.quality_score("text") * 1000000)
        .cast("long")
        .alias("sm"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    b = d.groupBy(
        F.least(F.floor(F.col("sm") / 100000), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sm").cast("decimal(38,0)").alias("ssum"),
        F.sum("y").cast("decimal(38,0)").alias("npos"),
    )
    return b.selectExpr(
        "CAST(bin AS LONG) AS bin",
        "CAST(n AS LONG) AS n_docs",
        "CAST((ssum * 2 + n - ((ssum * 2 + n) % (2 * n))) / (2 * n) "
        " AS LONG) AS mean_quality_micro",
        "CAST((npos * 2000000 + n - ((npos * 2000000 + n) % (2 * n))) "
        " / (2 * n) AS LONG) AS pos_rate_micro",
    )


@register(
    "mutual_information_event_segment",
    """
WITH obs AS (
  SELECT e.event_type, c.c_mktsegment AS segment, COUNT(*) AS o
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
  GROUP BY e.event_type, c.c_mktsegment
),
tot AS (SELECT SUM(o) AS n FROM obs),
margins AS (
  SELECT obs.event_type, obs.segment, obs.o, rt.row_tot, ct.col_tot, tot.n
  FROM obs
  JOIN (SELECT event_type, SUM(o) AS row_tot FROM obs GROUP BY event_type) rt
    ON obs.event_type = rt.event_type
  JOIN (SELECT segment, SUM(o) AS col_tot FROM obs GROUP BY segment) ct
    ON obs.segment = ct.segment
  CROSS JOIN tot
)
SELECT event_type, segment, CAST(o AS BIGINT) AS n_obs,
       CAST(ROUND(CAST(o AS DOUBLE) / n
              * ln((CAST(o AS DOUBLE) * n)
                   / (CAST(row_tot AS DOUBLE) * col_tot))
              * 1000000) AS BIGINT) AS mi_contrib_micro
FROM margins
""",
)
def mutual_information_event_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-cell mutual-information decomposition between event type
    and customer market segment: (p_xy)·ln(p_xy/(p_x·p_y)) for each
    of the 25 contingency cells — the dependence readout whose SUM is
    I(X;Y), reported per cell so every double is rounded exactly once
    (the chi2 twin's micro-unit discipline; no cross-cell double
    sum). Scan-sized work is the single observed-count aggregate;
    marginals re-reduce the 25-row table."""
    ev = read_table(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer")
    # cached: the contingency table (<=25 rows) is re-reduced by tot/
    # rt/ct and joined by the readout — uncached, the events⋈customer
    # scan-aggregate executed 4x per run (r13, guide §1.3)
    obs = (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("event_type", F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("o"))
        .cache()
    )
    tot = obs.agg(F.sum("o").alias("n"))
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("row_tot"))
    ct = obs.groupBy("segment").agg(F.sum("o").alias("col_tot"))
    m = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "segment")
        .crossJoin(F.broadcast(tot))
    )
    contrib = F.round(
        F.col("o").cast("double")
        / F.col("n")
        * F.log(
            (F.col("o").cast("double") * F.col("n"))
            / (F.col("row_tot").cast("double") * F.col("col_tot"))
        )
        * 1000000
    ).cast("long")
    return m.select(
        "event_type",
        "segment",
        F.col("o").cast("long").alias("n_obs"),
        contrib.alias("mi_contrib_micro"),
    )


@register(
    "hill_tail_index",
    """
WITH top AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  ORDER BY o_totalprice DESC, o_orderkey ASC
  LIMIT 200
),
xk AS (SELECT MIN(cents) AS ck FROM top),
lg AS (
  SELECT CAST(ROUND(ln(CAST(cents AS DOUBLE) / ck) * 1000000000) AS BIGINT)
           AS lnano
  FROM top CROSS JOIN xk
),
s AS (SELECT SUM(lnano) AS snano, COUNT(*) AS k FROM lg)
SELECT CAST(k AS BIGINT) AS k,
       (SELECT CAST(ck AS BIGINT) FROM xk) AS xk_cents,
       CAST((CAST(snano AS HUGEINT) * 2 + (k - 1))
            // (2 * (k - 1)) AS BIGINT) AS hill_nano,
       CAST((2000000000000000 + ((CAST(snano AS HUGEINT) * 2 + (k - 1)) // (2 * (k - 1))))
            // (2 * ((CAST(snano AS HUGEINT) * 2 + (k - 1)) // (2 * (k - 1)))) AS BIGINT)
         AS alpha_micro
FROM s
""",
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail index over the k=200
    largest orders: H = mean(ln(x_(i)/x_(k))), alpha = 1/H — the
    heavy-tail exponent that decides whether whale-order skew has
    finite variance (alpha > 2) or will dominate any sample. Top-k is
    a TakeOrderedAndProject on a total order (price DESC, orderkey
    ASC — identical multiset both engines); each log is fixed to
    nano-units before the exact integer sum, so no float summation
    order leaks in. alpha is half-up micro from the nano H."""
    orders = read_table(spark, sf_dir, "orders")
    # cached: the top-200 TakeOrderedAndProject feeds BOTH the xk
    # scalar and the log table — uncached, the full orders sort-limit
    # executed twice per run (r13, guide §1.3; 200 rows)
    top = (
        orders.select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            "o_orderkey",
            "o_totalprice",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(200)
        .select("cents")
        .cache()
    )
    xk = top.agg(F.min("cents").alias("ck"))
    lg = top.crossJoin(F.broadcast(xk)).select(
        F.round(
            F.log(F.col("cents").cast("double") / F.col("ck"))
            * 1000000000
        )
        .cast("long")
        .alias("lnano"),
        "ck",
    )
    s = lg.agg(
        F.sum("lnano").cast("decimal(38,0)").alias("snano"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        F.min("ck").alias("ck"),
    )
    s2 = s.selectExpr(
        "CAST(k AS LONG) AS k",
        "CAST(ck AS LONG) AS xk_cents",
        "CAST((snano * 2 + (k - 1) - ((snano * 2 + (k - 1)) "
        "  % (2 * (k - 1)))) / (2 * (k - 1)) AS LONG) AS hill_nano",
    )
    return s2.selectExpr(
        "k",
        "xk_cents",
        "hill_nano",
        "CAST((2000000000000000 + CAST(hill_nano AS DECIMAL(38,0)) "
        "  - ((2000000000000000 + CAST(hill_nano AS DECIMAL(38,0))) "
        "     % (2 * CAST(hill_nano AS DECIMAL(38,0))))) "
        " / (2 * CAST(hill_nano AS DECIMAL(38,0))) AS LONG) AS alpha_micro",
    )


@register(
    "kaplan_meier_user_retention",
    """
WITH u AS (
  SELECT user_id,
         MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS mn,
         MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS mx
  FROM events GROUP BY user_id
),
gm AS (SELECT MAX(mx) AS g FROM u),
t AS (
  SELECT (mx - mn) // 86400000000 AS t_day,
         CASE WHEN mx < g - 86400000000 THEN 1 ELSE 0 END AS ev
  FROM u CROSS JOIN gm
),
g AS (
  SELECT t_day, COUNT(*) AS c, SUM(ev) AS d FROM t GROUP BY t_day
),
r AS (
  SELECT t_day, c, d,
         SUM(c) OVER () - (SUM(c) OVER (ORDER BY t_day) - c) AS n_risk
  FROM g
),
f AS (
  SELECT t_day, c, d, n_risk,
         CASE WHEN d = 0 THEN 0
              WHEN d < n_risk THEN CAST(ROUND(
                ln(CAST(n_risk - d AS DOUBLE) / n_risk) * 1000000000)
                AS BIGINT)
              ELSE -1000000000000000 END AS lnano
  FROM r
),
s AS (
  SELECT t_day, d, n_risk,
         SUM(lnano) OVER (ORDER BY t_day) AS cum
  FROM f
)
SELECT CAST(t_day AS BIGINT) AS t_day,
       CAST(n_risk AS BIGINT) AS n_at_risk,
       CAST(d AS BIGINT) AS n_deaths,
       CAST(ROUND(exp(CAST(cum AS DOUBLE) / 1000000000) * 1000000)
            AS BIGINT) AS survival_micro
FROM s WHERE d > 0
""",
)
def kaplan_meier_user_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime (days between a
    user's first and last event), right-censoring users still active
    in the final day (the horizon must be tighter than the user
    recency profile: the corpus spans ~30 days but every user's LAST
    event lands within ~2 days of the corpus end, so the classic
    one-week churn horizon marked zero deaths at every test scale and
    the whole estimator ran vacuously — r7 ADVICE):
    S(t) = prod over death-days <= t of
    (1 - d/n_at_risk) — the churn readout ("what fraction of users
    survive past day t") with censoring handled correctly, which a
    naive lifetime histogram gets wrong. Corpus-sized work is ONE
    per-user min/max aggregate; everything after runs on the distinct
    lifetime-day table, which is bounded by the corpus calendar span
    (its single-partition cumulative window is bounded by days, never
    data). Each hazard log is fixed to nano-units BEFORE the
    cumulative sum (exact integer prefix — no float order
    sensitivity, and immune to DuckDB's segment-tree window
    summation order); an all-deaths day gets a -1e15 nano sentinel
    whose exp underflows to exactly 0 in both engines."""
    ev = read_table(spark, sf_dir, "events")
    # user min/max rollup cached (r13, guide §1.3): u feeds the
    # global-horizon scalar AND the lifetime table — uncached, the
    # corpus scan + user aggregate executed twice; user-sized cache
    u = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    ).cache()
    gm = u.agg(F.max("mx").alias("g"))
    t = u.crossJoin(F.broadcast(gm)).select(
        F.floor((F.col("mx") - F.col("mn")) / 86400000000).alias("t_day"),
        F.when(
            F.col("mx") < F.col("g") - 86400000000, 1
        ).otherwise(0).alias("ev"),
    )
    g = t.groupBy("t_day").agg(
        F.count(F.lit(1)).alias("c"), F.sum("ev").alias("d")
    )
    w_all = Window.partitionBy()
    w_cum = Window.orderBy("t_day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = g.select(
        "t_day",
        "c",
        "d",
        (
            F.sum("c").over(w_all) - (F.sum("c").over(w_cum) - F.col("c"))
        ).alias("n_risk"),
    )
    f = r.select(
        "t_day",
        "d",
        "n_risk",
        F.when(F.col("d") == 0, F.lit(0).cast("long"))
        .when(
            F.col("d") < F.col("n_risk"),
            F.round(
                F.log(
                    (F.col("n_risk") - F.col("d")).cast("double")
                    / F.col("n_risk")
                )
                * 1000000000
            ).cast("long"),
        )
        .otherwise(F.lit(-1000000000000000).cast("long"))
        .alias("lnano"),
    )
    s = f.select(
        "t_day",
        "d",
        "n_risk",
        F.sum("lnano").over(w_cum).alias("cum"),
    )
    return s.filter(F.col("d") > 0).select(
        F.col("t_day").cast("long").alias("t_day"),
        F.col("n_risk").cast("long").alias("n_at_risk"),
        F.col("d").cast("long").alias("n_deaths"),
        F.round(
            F.exp(F.col("cum").cast("double") / 1000000000) * 1000000
        )
        .cast("long")
        .alias("survival_micro"),
    )


@register(
    "reservoir_sample_docs_by_lang",
    f"""
WITH keyed AS (
  SELECT lang, doc_id, n_chars,
         CAST(ROUND(
           ln((CAST({X.duck_h48("'rs:' || CAST(doc_id AS VARCHAR)")} AS DOUBLE)
               + 0.5) / 281474976710656.0)
           / GREATEST(n_chars, 1) * 1000000000) AS BIGINT) AS knano
  FROM documents
),
rk AS (
  SELECT lang, doc_id, n_chars, knano,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY knano DESC, doc_id ASC) AS rk
  FROM keyed
)
SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id,
       CAST(n_chars AS BIGINT) AS n_chars
FROM rk WHERE rk <= 5
""",
)
def reservoir_sample_docs_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic weighted reservoir sampling (Efraimidis-
    Spirakis A-Res), 5 docs per language weighted by length: each row
    gets key = ln(u)/w with u a stateless hash-uniform in (0,1) —
    NO RNG state, so any re-execution, any partitioning, any engine
    draws the identical sample; top-5 per group by key. This is the
    one-pass distributed sample every curation pipeline needs where
    "pick proportional to weight without materializing a global
    sort" matters. Keys are nano-fixed before ranking so the order is
    integer-exact cross-engine; the per-lang window takes the
    WindowGroupLimit partial top-k path before the shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    u = (
        X.h48(
            F.concat(F.lit("rs:"), F.col("doc_id").cast("string"))
        ).cast("double")
        + 0.5
    ) / 281474976710656.0
    keyed = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        F.round(
            F.log(u) / F.greatest(F.col("n_chars"), F.lit(1)) * 1000000000
        )
        .cast("long")
        .alias("knano"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("knano").desc(), F.col("doc_id").asc()
    )
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "lang",
            F.col("rk").cast("long").alias("rk"),
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
        )
    )


@register(
    "local_clustering_coefficients",
    """
WITH raw AS (
  SELECT event_id % 211 AS a, (event_id * 31 + 7) % 211 AS b FROM events
), e AS (
  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
  FROM raw WHERE a <> b
), deg AS (
  SELECT x, COUNT(*) AS d FROM (
    SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e
  ) GROUP BY x
), arcs AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS src,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS dst
  FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v
), wedges AS (
  SELECT a1.src, a1.dst AS n1, a2.dst AS n2
  FROM arcs a1 JOIN arcs a2 ON a1.src = a2.src AND a1.dst < a2.dst
), closing AS (
  SELECT src, n1, n2 FROM wedges w
  WHERE EXISTS (SELECT 1 FROM e WHERE e.u = w.n1 AND e.v = w.n2)
), tri AS (
  SELECT node, COUNT(*) AS triangles FROM (
    SELECT src AS node FROM closing
    UNION ALL SELECT n1 FROM closing
    UNION ALL SELECT n2 FROM closing
  ) GROUP BY node
)
SELECT deg.x AS node, CAST(deg.d AS BIGINT) AS degree,
       CAST(COALESCE(tri.triangles, 0) AS BIGINT) AS triangles,
       CAST((2 * 2 * COALESCE(tri.triangles, 0) * 1000000
             + deg.d * (deg.d - 1))
            // (2 * deg.d * (deg.d - 1)) AS BIGINT) AS coeff_micro
FROM deg LEFT JOIN tri ON tri.node = deg.x
WHERE deg.d >= 2
""",
)
def local_clustering_coefficients(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-node local clustering coefficient (operators/graph.
    local_clustering) on the deterministic modular event graph the
    triangle census uses — separates clique-like neighborhoods
    (coeff ~1e6) from star hubs (coeff ~0) node by node. Degree-
    oriented wedge generation bounds hub work at sqrt(2m); the
    closure probe credits all three triangle corners via one explode
    + count. Exact integer micro output, every node hash-gated."""
    from feast_hive_spark.operators.graph import local_clustering

    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        (F.col("event_id") % 211).alias("id_a"),
        ((F.col("event_id") * 31 + 7) % 211).alias("id_b"),
    )
    return local_clustering(pairs)


@register(
    "degree_assortativity_events",
    """
WITH raw AS (
  SELECT event_id % 211 AS a, (event_id * 31 + 7) % 211 AS b FROM events
), e AS (
  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
  FROM raw WHERE a <> b
), deg AS (
  SELECT x, COUNT(*) AS d FROM (
    SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e
  ) GROUP BY x
), m AS (
  SELECT du.d AS dx, dv.d AS dy
  FROM e JOIN deg du ON du.x = e.u JOIN deg dv ON dv.x = e.v
), s AS (
  SELECT COUNT(*) AS e_cnt,
         SUM(dx + dy) AS sx,
         SUM(2 * dx * dy) AS sxy,
         SUM(dx * dx + dy * dy) AS sxx
  FROM m
)
SELECT CAST(e_cnt AS BIGINT) AS n_edges,
       ROUND(CASE WHEN sxx * (e_cnt * 2) <> sx * sx THEN
         (CAST(e_cnt * 2 AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)
         / (CAST(e_cnt * 2 AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
       END, 6) AS assortativity
FROM s
""",
)
def degree_assortativity_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity (Newman's r) of the deterministic modular
    event graph the triangle/clustering census uses — hub-to-hub vs
    hub-to-leaf mixing in one number, from exact integer moment sums
    over ONE edge-sized join (operators/graph.degree_assortativity;
    the same graph family as local_clustering_coefficients so the
    three structure diagnostics compose)."""
    from feast_hive_spark.operators.graph import degree_assortativity

    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        (F.col("event_id") % 211).alias("id_a"),
        ((F.col("event_id") * 31 + 7) % 211).alias("id_b"),
    )
    return degree_assortativity(pairs)


@register(
    "hits_user_item",
    """
WITH e AS (
  SELECT DISTINCT user_id AS u, event_id % 100 AS i FROM events
  WHERE user_id IS NOT NULL
), a1 AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS score FROM e GROUP BY i
), h1 AS (
  SELECT u, CAST(SUM(a1.score) AS BIGINT) AS score
  FROM e JOIN a1 USING (i) GROUP BY u
), a2 AS (
  SELECT i, CAST(SUM(h1.score) AS BIGINT) AS score
  FROM e JOIN h1 USING (u) GROUP BY i
), h2 AS (
  SELECT u, CAST(SUM(a2.score) AS BIGINT) AS score
  FROM e JOIN a2 USING (i) GROUP BY u
), uni AS (
  SELECT 'authority' AS side, CAST(i AS BIGINT) AS node, score FROM a2
  UNION ALL
  SELECT 'hub' AS side, CAST(u AS BIGINT) AS node, score FROM h2
)
SELECT side, node, score,
       CAST(ROW_NUMBER() OVER (PARTITION BY side
                               ORDER BY score DESC, node) AS BIGINT) AS rank
FROM uni
QUALIFY rank <= 15
ORDER BY side, rank
""",
)
def hits_user_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on the user->item
    interaction graph (items = the event-sequence fixtures' event_id
    % 100 space, same as the covisitation family): authorities are
    the items consumed by the most-active users, hubs the users whose
    baskets cover the strongest items — the classic candidate-
    generation prior a recommender pipeline feeds from. Two exact
    integer iterations (unnormalized — per-step normalization is a
    positive scalar, so rankings are identical and the integers are
    engine-reproducible); the SQL twin unrolls all four half-steps,
    hash-certifying every join+sum. Top-15 per side via a
    side-partitioned window (WindowGroupLimit: partial top-k before
    the 2-partition shuffle)."""
    from feast_hive_spark.operators.graph import hits_scores

    ev = read_table(spark, sf_dir, "events")
    edges = ev.filter(F.col("user_id").isNotNull()).select(
        F.col("user_id").alias("u"),
        (F.col("event_id") % 100).alias("i"),
    )
    scores = hits_scores(edges, "u", "i", iters=2)
    w = Window.partitionBy("side").orderBy(
        F.col("score").desc(), F.col("node").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 15)
        .transform(_sorted_readout, "side", "rank", max_rows=10_000)
    )


@register(
    "theilsen_daily_value_trend",
    """
WITH d AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
  FROM events GROUP BY 1
), slopes AS (
  SELECT CAST(b.cents - a.cents AS DOUBLE) / (b.day - a.day) AS slope
  FROM d a JOIN d b ON b.day > a.day
), r AS (
  SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rn,
         COUNT(*) OVER () AS n
  FROM slopes
)
SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_days,
       CAST(MAX(n) AS BIGINT) AS n_pairs,
       ROUND(AVG(slope), 6) AS slope_cents_per_day
FROM r WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
""",
)
def theilsen_daily_value_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil-Sen robust trend of daily event value: the median of all
    pairwise day-to-day slopes — immune to the outlier days that wreck
    an OLS fit of the same series (the standard robust-regression
    estimator, 29.3% breakdown point). Exact cross-engine: daily
    totals are micro-fixed integer cents, every pairwise slope is the
    SAME integer division in both engines (IEEE double division is
    deterministic), and the median picks value-deterministic middle
    ranks. Scale shape: the corpus is reduced to the DAY domain by one
    scan-sized aggregate; the pairwise join and median run on
    calendar-bounded rows (N days -> N^2/2 slopes), never on events."""
    ensure_views(spark, sf_dir)
    # CTE split to cache (r13, guide §1.3 — Spark inlines CTEs): d was
    # referenced by BOTH self-join sides and the n_days scalar, so the
    # events scan executed 3x per run. The SQL text per fragment is
    # unchanged (identical IEEE double division / median picks);
    # day-domain-sized cache.
    d = spark.sql("""
        SELECT unix_micros(ts) div 86400000000 AS day,
               sum(cast(round(value * 100) AS BIGINT)) AS cents
        FROM events GROUP BY 1
    """).cache()
    slopes = (
        d.alias("a")
        .join(d.alias("b"), F.expr("b.day > a.day"))
        .selectExpr(
            "cast(b.cents - a.cents AS DOUBLE) / (b.day - a.day) AS slope"
        )
    )
    w = Window.orderBy("slope")
    r = slopes.select(
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    picked = r.filter(
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("(n + 2) div 2"))
    ).agg(
        F.max("n").cast("long").alias("n_pairs"),
        F.round(F.avg("slope"), 6).alias("slope_cents_per_day"),
    )
    n_days = d.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return picked.crossJoin(F.broadcast(n_days)).select(
        "n_days", "n_pairs", "slope_cents_per_day"
    )


@register(
    "funnel_within_ttl",
    """
WITH v AS (
  SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND epoch_us(CAST(e.ts AS TIMESTAMP)) > v.t_view
    AND epoch_us(CAST(e.ts AS TIMESTAMP)) <= v.t_view + 3600000000
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND epoch_us(CAST(e.ts AS TIMESTAMP)) > c.t_click
    AND epoch_us(CAST(e.ts AS TIMESTAMP)) <= c.t_click + 3600000000
  GROUP BY e.user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_view,
       CAST(COUNT(c.user_id) AS BIGINT) AS n_click_1h,
       CAST(COUNT(p.user_id) AS BIGINT) AS n_purchase_1h
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
""",
)
def funnel_within_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel (view -> click within 1h -> purchase within
    1h of that click): the strict product-analytics variant where each
    stage must land inside a TTL window after the PREVIOUS stage's
    first hit — the unbounded funnel (funnel_view_click_purchase)
    overcounts conversions that took days. Each stage is one
    conditional-min aggregate re-joined on user_id (stage tables
    shrink monotonically, joins keyed by user — no windows over the
    raw stream, no per-user sequence sort); timestamps compare as
    micros longs to stay inside codegen."""
    ensure_views(spark, sf_dir)
    # stage tables cached (r13, guide §1.3): Spark inlines CTEs, so
    # the all-SQL form re-executed v under c, p AND the final join (3
    # builds) and c twice — six event scans per run; with the
    # user-domain-sized v and c cached it is one scan per stage (3).
    # Predicates and aggregates are the identical SQL text.
    v = spark.sql("""
        SELECT user_id, min(unix_micros(ts)) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    """).cache()
    c = (
        spark.sql("""
            SELECT user_id, unix_micros(ts) AS __t
            FROM events WHERE event_type = 'click'
        """)
        .join(v, "user_id")
        .filter("__t > t_view AND __t <= t_view + 3600000000")
        .groupBy("user_id")
        .agg(F.expr("min(__t) AS t_click"))
        .cache()
    )
    p = (
        spark.sql("""
            SELECT user_id, unix_micros(ts) AS __t
            FROM events WHERE event_type = 'purchase'
        """)
        .join(c, "user_id")
        .filter("__t > t_click AND __t <= t_click + 3600000000")
        .groupBy("user_id")
        .agg(F.expr("min(__t) AS t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.expr("cast(count(*) AS BIGINT) AS n_view"),
            F.expr("cast(count(t_click) AS BIGINT) AS n_click_1h"),
            F.expr("cast(count(t_purchase) AS BIGINT) AS n_purchase_1h"),
        )
    )


@register(
    "rfm_user_segments",
    """
WITH g AS (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS gmax FROM events),
u AS (
  SELECT user_id,
         (gmax - MAX(epoch_us(CAST(ts AS TIMESTAMP)))) // 86400000000
           AS recency_days,
         COUNT(*) AS frequency,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS monetary_cents
  FROM events CROSS JOIN g
  GROUP BY user_id, gmax
), scored AS (
  SELECT NTILE(5) OVER (ORDER BY recency_days ASC, user_id) AS r_score,
         NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS f_score,
         NTILE(5) OVER (ORDER BY monetary_cents DESC, user_id) AS m_score,
         monetary_cents
  FROM u
)
SELECT CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       COUNT(*) AS n_users,
       CAST(SUM(monetary_cents) AS BIGINT) AS sum_monetary_cents
FROM scored GROUP BY r_score, f_score, m_score
""",
)
def rfm_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary) — the classic
    behavioral feature block: one scan reduces users to (days since
    last event, event count, exact cents), three NTILE(5) windows
    score them (score 1 = best: most recent / most frequent / highest
    spend; user_id tiebreak makes every quintile boundary
    deterministic cross-engine), then segments aggregate to
    (r, f, m) cells. Scale shape: corpus work is the one user
    aggregate; the windows run on the USER table (rows = users, not
    events) — on a cluster NTILE's single-partition sort is the knee,
    swapped for the bucketed global-rank kernel (quantile_bins) when
    users outgrow one task."""
    ensure_views(spark, sf_dir)
    # ONE events scan (r13, guide §2.3): the global max timestamp is
    # the max of the per-user maxes, so it derives from the cached
    # user rollup instead of a second full scan (the SQL CTE form
    # inlined g into u — two scans). Identical integer arithmetic.
    ev = read_table(spark, sf_dir, "events")
    u0 = ev.groupBy("user_id").agg(
        F.max(F.unix_micros(F.col("ts"))).alias("__umax"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    ).cache()
    g = u0.agg(F.max("__umax").alias("gmax"))
    u = u0.crossJoin(F.broadcast(g)).select(
        "user_id",
        F.expr("(gmax - __umax) div 86400000000").alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    scored = u.select(
        F.ntile(5)
        .over(Window.orderBy(F.asc("recency_days"), F.asc("user_id")))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("frequency"), F.asc("user_id")))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monetary_cents"), F.asc("user_id")))
        .alias("m_score"),
        "monetary_cents",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("monetary_cents").cast("long").alias("sum_monetary_cents"),
    ).select(
        F.col("r_score").cast("long").alias("r_score"),
        F.col("f_score").cast("long").alias("f_score"),
        F.col("m_score").cast("long").alias("m_score"),
        "n_users",
        "sum_monetary_cents",
    )


@register(
    "revenue_lorenz_deciles",
    """
WITH u AS (
  SELECT user_id, SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
  FROM events GROUP BY user_id
), d AS (
  SELECT cents, NTILE(10) OVER (ORDER BY cents DESC, user_id) AS decile
  FROM u
), agg AS (
  SELECT decile, COUNT(*) AS n_users, SUM(cents) AS cents
  FROM d GROUP BY decile
), tot AS (SELECT SUM(cents) AS total FROM agg)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(cents AS BIGINT) AS revenue_cents,
       CAST(SUM(cents) OVER (ORDER BY decile) * 1000000 // total AS BIGINT)
         AS cum_share_micro
FROM agg CROSS JOIN tot
""",
)
def revenue_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve deciles of user revenue concentration (the
    readable companion to the one-number Gini): users ranked by exact
    total cents into deterministic NTILE deciles, each decile's
    revenue and the cumulative share in exact integer micro units
    (integer division against the broadcast 1-row total — no float
    accumulation anywhere). Decile 1 = top spenders; cum_share_micro
    at decile k reads 'the top 10k% of users hold x/1e6 of revenue'.
    Corpus work is one user aggregate; everything after runs on 10
    rows."""
    ensure_views(spark, sf_dir)
    # CTE split to cache (r13, guide §1.3 — Spark inlines CTEs): agg
    # fed BOTH the total scalar and the readout, so the user rollup +
    # NTILE chain (and the events scan under it) executed twice per
    # run. 10-row cache; SQL text per fragment unchanged.
    agg = spark.sql("""
        WITH u AS (
          SELECT user_id, sum(cast(round(value * 100) AS BIGINT)) AS cents
          FROM events GROUP BY user_id
        ), d AS (
          SELECT cents, ntile(10) OVER (ORDER BY cents DESC, user_id) AS decile
          FROM u
        )
        SELECT decile, count(*) AS n_users, sum(cents) AS cents
        FROM d GROUP BY decile
    """).cache()
    tot = agg.agg(F.sum("cents").alias("total"))
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("decile").cast("long").alias("decile"),
        "n_users",
        F.col("cents").alias("revenue_cents"),
        F.expr(
            "(sum(cents) OVER (ORDER BY decile) * 1000000) div total"
        ).alias("cum_share_micro"),
    )


@register(
    "cuped_adjusted_lift",
    f"""
WITH u AS (
  SELECT user_id,
         CAST({X.duck_h48("'cuped:' || CAST(user_id AS VARCHAR)")} % 2
              AS BIGINT) AS grp,
         CAST(COALESCE(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                     < TIMESTAMP '2024-01-15 00:00:00'
                 THEN CAST(ROUND(value * 100) AS BIGINT) END), 0)
              AS BIGINT) AS x,
         CAST(COALESCE(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                     >= TIMESTAMP '2024-01-15 00:00:00'
                 THEN CAST(ROUND(value * 100) AS BIGINT) END), 0)
              AS BIGINT) AS y
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
), pooled AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM u
), grpagg AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS ng,
         CAST(SUM(x) AS BIGINT) AS sxg, CAST(SUM(y) AS BIGINT) AS syg
  FROM u GROUP BY grp
), f AS (
  SELECT g.grp, g.ng, g.sxg, g.syg, p.n, p.sx, p.sy, p.sxy, p.sxx, p.syy,
         (CAST(p.n AS DOUBLE) * p.sxy - CAST(p.sx AS DOUBLE) * p.sy)
           / (CAST(p.n AS DOUBLE) * p.sxx - CAST(p.sx AS DOUBLE) * p.sx)
           AS theta
  FROM grpagg g, pooled p
)
SELECT grp, ng AS n_users,
       CAST(ROUND(1e2 * CAST(syg AS DOUBLE) / ng) AS BIGINT)
         AS mean_y_cents_e2,
       CAST(ROUND(1e2 * (CAST(syg AS DOUBLE) / ng
             - theta * (CAST(sxg AS DOUBLE) / ng
                        - CAST(sx AS DOUBLE) / n))) AS BIGINT)
         AS adj_mean_y_cents_e2,
       CAST(ROUND(1e6
         * ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
         / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)))
         AS BIGINT) AS rho2_ppm
FROM f ORDER BY grp
""",
)
def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al., WSDM
    2013): per deterministic 50/50 user split (md5 hash — the
    engine's stateless assignment primitive), the post-period
    purchase metric mean raw AND adjusted by the pre-period covariate
    (theta = cov(x,y)/var(x) POOLED across both arms, the standard
    unbiased choice), plus rho^2 (the achieved variance-reduction
    fraction) as ppm. All per-user sums are exact integer CENTS; the
    four global moments stay BIGINT (products bounded by
    (1e5-cent user totals)^2 * users — overflow past ~1e18 only
    beyond sf100, documented) and every double expression is
    mirrored token-for-token in the oracle, so the one division
    ordering is identical. Shape: one fact scan -> user-sized
    aggregate -> 1-row moments broadcast against a 2-row group table
    — experiment readout at any event volume."""
    ev = read_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("long")
    u = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("ts") < cut, cents)), F.lit(0)
            )
            .cast("long")
            .alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("ts") >= cut, cents)), F.lit(0)
            )
            .cast("long")
            .alias("y"),
        )
        .select(
            (
                X.h48(F.concat(F.lit("cuped:"), F.col("user_id").cast("string")))
                % 2
            )
            .cast("long")
            .alias("grp"),
            "x",
            "y",
        )
    )
    pooled = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    grpagg = u.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("x").cast("long").alias("sxg"),
        F.sum("y").cast("long").alias("syg"),
    )
    f = grpagg.crossJoin(F.broadcast(pooled))
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    theta = (nd * F.col("sxy") - sxd * F.col("sy")) / (
        nd * F.col("sxx") - sxd * F.col("sx")
    )
    num = nd * F.col("sxy") - sxd * F.col("sy")
    return f.select(
        "grp",
        F.col("ng").alias("n_users"),
        F.round(F.lit(1e2) * F.col("syg").cast("double") / F.col("ng"))
        .cast("long")
        .alias("mean_y_cents_e2"),
        F.round(
            F.lit(1e2)
            * (
                F.col("syg").cast("double") / F.col("ng")
                - theta
                * (
                    F.col("sxg").cast("double") / F.col("ng")
                    - sxd / F.col("n")
                )
            )
        )
        .cast("long")
        .alias("adj_mean_y_cents_e2"),
        F.round(
            F.lit(1e6)
            * (num * num)
            / (
                (nd * F.col("sxx") - sxd * F.col("sx"))
                * (nd * F.col("syy") - syd * F.col("sy"))
            )
        )
        .cast("long")
        .alias("rho2_ppm"),
    ).transform(_sorted_readout, "grp", max_rows=10_000)


@register(
    "mannwhitney_click_view",
    """
WITH e AS (
  SELECT CAST(ROUND(value * 1000000) AS BIGINT) AS vm,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
  FROM events WHERE event_type IN ('click', 'view')
), pv AS (
  SELECT vm, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(is1) AS BIGINT) AS cnt1
  FROM e GROUP BY vm
), rk AS (
  SELECT vm, cnt, cnt1,
         CAST(COALESCE(SUM(cnt) OVER (ORDER BY vm
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS base
  FROM pv
), s AS (
  SELECT CAST(SUM(cnt1) AS BIGINT) AS n1,
         CAST(SUM(cnt - cnt1) AS BIGINT) AS n2,
         CAST(SUM(cnt1 * (2 * base + cnt + 1)) AS BIGINT) AS r1x2,
         CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
  FROM rk
)
SELECT n1 AS n_click, n2 AS n_view,
       ROUND((r1x2 - n1 * (n1 + 1)) / 2.0, 1) AS u_stat,
       ROUND(((r1x2 - n1 * (n1 + 1)) / 2.0 - CAST(n1 AS DOUBLE) * n2 / 2)
             / sqrt((CAST(n1 AS DOUBLE) * n2 / 12)
                    * ((n1 + n2 + 1)
                       - CAST(tie3 AS DOUBLE)
                         / ((CAST(n1 AS DOUBLE) + n2)
                            * (CAST(n1 AS DOUBLE) + n2 - 1)))), 6) AS z_stat
FROM s
""",
)
def mannwhitney_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between click and view
    values — the nonparametric companion to welch_ttest_click_view
    for value distributions too heavy-tailed for a t-test. Average
    ranks are computed EXACTLY in doubled-integer space (2*avg_rank =
    2*rank_base + tie_count + 1 per distinct value), so the doubled
    rank sum, the tie-correction term Sum(t^3 - t), and both group
    sizes are exact BIGINTs; U and the tie-corrected normal z are
    then one small double formula over identical integers in both
    engines. Shape: one fact scan -> distinct-value aggregate ->
    value-domain-sized window cumsum -> 1-row summary; the value
    domain (micro-cents) bounds every post-scan structure."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    e = ev.select(
        F.round(F.col("value") * 1000000).cast("long").alias("vm"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is1"),
    )
    pv = e.groupBy("vm").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("is1").cast("long").alias("cnt1"),
    )
    rk = pv.withColumn(
        "base",
        F.coalesce(
            F.sum("cnt").over(
                Window.orderBy("vm").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).cast("long"),
    )
    s = rk.agg(
        F.sum("cnt1").cast("long").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt1")).cast("long").alias("n2"),
        F.sum(
            F.col("cnt1") * (2 * F.col("base") + F.col("cnt") + 1)
        )
        .cast("long")
        .alias("r1x2"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        )
        .cast("long")
        .alias("tie3"),
    )
    return s.selectExpr(
        "n1 AS n_click",
        "n2 AS n_view",
        "round((r1x2 - n1 * (n1 + 1)) / 2e0, 1) AS u_stat",
        "round(((r1x2 - n1 * (n1 + 1)) / 2e0"
        " - CAST(n1 AS DOUBLE) * n2 / 2)"
        " / sqrt((CAST(n1 AS DOUBLE) * n2 / 12)"
        " * ((n1 + n2 + 1)"
        " - CAST(tie3 AS DOUBLE)"
        " / ((CAST(n1 AS DOUBLE) + n2)"
        " * (CAST(n1 AS DOUBLE) + n2 - 1)))), 6) AS z_stat",
    )


_AMS_ROWS = 16


def _ams_oracle(r: int = _AMS_ROWS) -> str:
    xs = ",\n         ".join(
        "CAST(SUM(CASE WHEN {h} % 2 = 0"
        " THEN c ELSE -c END) AS BIGINT) AS x{i}".format(
            h=X.duck_h48(f"'ams:{i}:' || CAST(user_id AS VARCHAR)"), i=i
        )
        for i in range(r)
    )
    sq = " + ".join(f"x{i} * x{i}" for i in range(r))
    return f"""
WITH u AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY user_id
), sk AS (
  SELECT CAST(SUM(c * c) AS BIGINT) AS exact_f2,
         CAST(SUM(c) AS BIGINT) AS n_events,
         {xs}
  FROM u
)
SELECT n_events, exact_f2,
       CAST(ROUND(({sq}) / {r}.0) AS BIGINT) AS est_f2,
       CAST(ROUND(1e6 * ABS(({sq}) / {r}.0 - exact_f2) / exact_f2)
            AS BIGINT) AS rel_err_ppm
FROM sk
"""


@register("ams_f2_moment_audit", _ams_oracle())
def ams_f2_moment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch audit (Alon, Matias &
    Szegedy, STOC 1996): F2 = Sum_u c_u^2 (the self-join size / skew
    measure of the user key) estimated by 16 signed-sum sketch rows
    (sign = md5 parity per (row, user) — deterministic, engine-
    reproducible) and compared against the exact value in the same
    plan — the error-audit pattern of cms_error_bound_audit for the
    moment family. Every X_i and the exact F2 are exact BIGINTs from
    ONE user-sized aggregate (16 sign expressions in the same pass);
    only the final mean/relative-error divisions are double. In
    production the sketch side is what a fixed-width streaming
    aggregator ships; the audit certifies its error on the actual key
    distribution (ppm), which is what decides whether F2-based skew
    planning (salting thresholds, broadcast decisions) can trust
    it."""
    ev = read_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    sign_exprs = []
    for i in range(_AMS_ROWS):
        par = (
            X.h48(
                F.concat(
                    F.lit(f"ams:{i}:"), F.col("user_id").cast("string")
                )
            )
            % 2
            == 0
        )
        sign_exprs.append(
            F.sum(F.when(par, F.col("c")).otherwise(-F.col("c")))
            .cast("long")
            .alias(f"x{i}")
        )
    sk = u.agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_f2"),
        F.sum("c").cast("long").alias("n_events"),
        *sign_exprs,
    )
    sq = F.col("x0") * F.col("x0")
    for i in range(1, _AMS_ROWS):
        sq = sq + F.col(f"x{i}") * F.col(f"x{i}")
    return sk.select(
        "n_events",
        "exact_f2",
        F.round(sq / F.lit(float(_AMS_ROWS)))
        .cast("long")
        .alias("est_f2"),
        F.round(
            F.lit(1e6)
            * F.abs(sq / F.lit(float(_AMS_ROWS)) - F.col("exact_f2"))
            / F.col("exact_f2")
        )
        .cast("long")
        .alias("rel_err_ppm"),
    )


@register(
    "kruskal_wallis_value_by_type",
    """
WITH e AS (
  SELECT CAST(ROUND(value * 1000000) AS BIGINT) AS vm, event_type AS et
  FROM events
), gt AS (
  SELECT vm, et, CAST(COUNT(*) AS BIGINT) AS cnt_t
  FROM e GROUP BY vm, et
), pv AS (
  SELECT vm, CAST(SUM(cnt_t) AS BIGINT) AS cnt FROM gt GROUP BY vm
), rk AS (
  SELECT vm, cnt,
         CAST(COALESCE(SUM(cnt) OVER (ORDER BY vm
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS base
  FROM pv
), grp AS (
  SELECT gt.et, CAST(SUM(gt.cnt_t) AS BIGINT) AS ng,
         CAST(SUM(gt.cnt_t * (2 * rk.base + rk.cnt + 1)) AS BIGINT) AS r2g
  FROM gt JOIN rk ON gt.vm = rk.vm
  GROUP BY gt.et
), ties AS (
  SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3 FROM pv
), s AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k,
         SUM(CAST(r2g AS DOUBLE) * r2g / (4.0 * ng)) AS sr
  FROM grp
)
SELECT n AS n_obs, k AS n_groups,
       ROUND(12.0 * sr / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1),
             6) AS h_stat,
       ROUND((12.0 * sr / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1))
             / (1.0 - CAST(tie3 AS DOUBLE)
                      / (CAST(n AS DOUBLE) * n * n - n)), 6) AS h_tie_corrected
FROM s, ties
""",
)
def kruskal_wallis_value_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kruskal-Wallis H test of ``value`` across ALL event types — the
    k-group extension of mannwhitney_click_view (one-way ANOVA on
    ranks). Average ranks are exact in doubled-integer space (the MWU
    protocol: 2*avg_rank = 2*rank_base + tie_count + 1 per distinct
    value), so every per-group doubled rank sum R2_g, group size, and
    the tie term Sum(t^3 - t) are exact BIGINTs; H = 12/(N(N+1)) *
    Sum((R2_g/2)^2 / n_g) - 3(N+1) and its tie correction are one
    double formula over identical integers in both engines. Shape:
    one fact scan -> (value, type) aggregate -> value-domain-sized
    rollup + window cumsum -> k-row group aggregate -> 1-row summary;
    the micro-cent value domain bounds every post-scan structure, and
    the global-order window runs on the distinct-value rollup, never
    the fact table."""
    ev = read_table(spark, sf_dir, "events")
    e = ev.select(
        F.round(F.col("value") * 1000000).cast("long").alias("vm"),
        F.col("event_type").alias("et"),
    )
    # (value, type) rollup cached (r13, guide §1.3): gt feeds the
    # value-domain rollup (twice, via rk and ties) and the group
    # aggregate — uncached, the fact scan executed 3x; the cache is
    # value-domain x k sized
    gt = e.groupBy("vm", "et").agg(
        F.count(F.lit(1)).cast("long").alias("cnt_t")
    ).cache()
    pv = gt.groupBy("vm").agg(F.sum("cnt_t").cast("long").alias("cnt"))
    rk = pv.withColumn(
        "base",
        F.coalesce(
            F.sum("cnt").over(
                Window.orderBy("vm").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).cast("long"),
    )
    grp = (
        gt.join(rk, "vm")
        .groupBy("et")
        .agg(
            F.sum("cnt_t").cast("long").alias("ng"),
            F.sum(
                F.col("cnt_t") * (2 * F.col("base") + F.col("cnt") + 1)
            )
            .cast("long")
            .alias("r2g"),
        )
    )
    ties = pv.agg(
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        )
        .cast("long")
        .alias("tie3")
    )
    s = grp.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(
            F.col("r2g").cast("double")
            * F.col("r2g")
            / (F.lit(4.0) * F.col("ng"))
        ).alias("sr"),
    )
    nd = F.col("n").cast("double")
    h = F.lit(12.0) * F.col("sr") / (nd * (F.col("n") + 1)) - F.lit(
        3.0
    ) * (F.col("n") + 1)
    return s.crossJoin(F.broadcast(ties)).select(
        F.col("n").alias("n_obs"),
        F.col("k").alias("n_groups"),
        F.round(h, 6).alias("h_stat"),
        F.round(
            h
            / (
                F.lit(1.0)
                - F.col("tie3").cast("double") / (nd * nd * nd - nd)
            ),
            6,
        ).alias("h_tie_corrected"),
    )


_KMV_K = 128
_KMV_M = 1 << 48  # h48 hash space


def _kmv_oracle(k: int = _KMV_K, m: int = _KMV_M) -> str:
    h = X.duck_h48("'kmv:' || CAST(user_id AS VARCHAR)")
    return f"""
WITH ha AS (
  SELECT DISTINCT {h} AS h FROM events WHERE event_type = 'click'
), hb AS (
  SELECT DISTINCT {h} AS h FROM events WHERE event_type = 'view'
), ska AS (SELECT h FROM ha ORDER BY h LIMIT {k}),
skb AS (SELECT h FROM hb ORDER BY h LIMIT {k}),
kta AS (SELECT MAX(h) AS kth, CAST(COUNT(*) AS BIGINT) AS c FROM ska),
ktb AS (SELECT MAX(h) AS kth, CAST(COUNT(*) AS BIGINT) AS c FROM skb),
na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ha),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hb),
th AS (
  SELECT LEAST(
    CASE WHEN kta.c < {k} THEN {m} ELSE kta.kth END,
    CASE WHEN ktb.c < {k} THEN {m} ELSE ktb.kth END) AS theta
  FROM kta, ktb
), ra AS (SELECT h FROM ska, th WHERE h < theta),
rb AS (SELECT h FROM skb, th WHERE h < theta),
ru AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT h FROM ra UNION SELECT h FROM rb)
), ri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c
  FROM ra JOIN rb USING (h)
), xu AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT h FROM ha UNION SELECT h FROM hb)
), xi AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ha JOIN hb USING (h)
)
SELECT na.n AS n_click,
       CASE WHEN kta.c < {k} THEN na.n
            ELSE CAST(ROUND(({k} - 1) * {m}.0 / kta.kth) AS BIGINT)
       END AS est_click,
       nb.n AS n_view,
       CASE WHEN ktb.c < {k} THEN nb.n
            ELSE CAST(ROUND(({k} - 1) * {m}.0 / ktb.kth) AS BIGINT)
       END AS est_view,
       xu.n AS n_union,
       CAST(ROUND(ru.c * {m}.0 / theta) AS BIGINT) AS est_union,
       xi.n AS n_inter,
       CAST(ROUND(ri.c * {m}.0 / theta) AS BIGINT) AS est_inter,
       CAST(ROUND(1e6 * ABS(ru.c * {m}.0 / theta - xu.n) / xu.n)
            AS BIGINT) AS err_union_ppm
FROM na, nb, kta, ktb, th, ru, ri, xu, xi
"""


@register("kmv_theta_sketch_ops", _kmv_oracle())
def kmv_theta_sketch_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values / theta-sketch set operations audit
    (Beyer et al. 2007; the Apache DataSketches theta model): the
    click-user and view-user sets are sketched by their k=128
    smallest 48-bit hashes; distinct-count, union, and intersection
    estimates come from the sketches alone (union/intersection under
    the COMMON theta = min of the two k-th minima), and each estimate
    is audited against the exact value computed in the same plan —
    the error-audit pattern of cms_error_bound_audit for the
    distinct-count family. Everything is deterministic: the hash is
    the engine's md5-prefix h48, so both engines build byte-identical
    sketches. Shape: two distinct-user aggregates; each k-smallest is
    a TakeOrdered (per-partition top-k, merged — no global sort
    shuffle); every downstream structure is <= k rows or a 1-row
    aggregate, and the final assembly is broadcast crossJoins of
    1-row frames. At 100 TB the sketch side is exactly what a
    streaming aggregator ships per partition (mergeable k-minima);
    the exact side is the audit's ground truth and the only
    corpus-sized aggregate."""
    ev = read_table(spark, sf_dir, "events")

    def hset(et: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == et)
            .select(
                X.h48(
                    F.concat(
                        F.lit("kmv:"), F.col("user_id").cast("string")
                    )
                ).alias("h")
            )
            .distinct()
        )

    # distinct hash sets cached (r13, guide §1.3): each side feeds
    # the sketch cut, the exact count, the union, and the
    # intersection — uncached, the events-scan + distinct executed
    # 4x per side; the cache is distinct-user-sized. The k-row
    # sketches are cached too (kth-minimum cut + theta re-filter).
    ha, hb = hset("click").cache(), hset("view").cache()
    ska = ha.orderBy("h").limit(_KMV_K).cache()
    skb = hb.orderBy("h").limit(_KMV_K).cache()
    kta = ska.agg(
        F.max("h").alias("kth_a"),
        F.count(F.lit(1)).cast("long").alias("ca"),
    )
    ktb = skb.agg(
        F.max("h").alias("kth_b"),
        F.count(F.lit(1)).cast("long").alias("cb"),
    )
    na = ha.agg(F.count(F.lit(1)).cast("long").alias("n_click"))
    nb = hb.agg(F.count(F.lit(1)).cast("long").alias("n_view"))
    xu = (
        ha.union(hb)
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_union"))
    )
    xi = ha.join(hb, "h").agg(
        F.count(F.lit(1)).cast("long").alias("n_inter")
    )
    m = F.lit(_KMV_M).cast("long")
    th = kta.crossJoin(ktb).select(
        F.least(
            F.when(F.col("ca") < _KMV_K, m).otherwise(F.col("kth_a")),
            F.when(F.col("cb") < _KMV_K, m).otherwise(F.col("kth_b")),
        ).alias("theta"),
        "kth_a",
        "ca",
        "kth_b",
        "cb",
    )
    ra = ska.crossJoin(F.broadcast(th.select("theta"))).filter(
        F.col("h") < F.col("theta")
    ).select("h")
    rb = skb.crossJoin(F.broadcast(th.select("theta"))).filter(
        F.col("h") < F.col("theta")
    ).select("h")
    ru = (
        ra.union(rb)
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("cu"))
    )
    ri = ra.join(rb, "h").agg(
        F.count(F.lit(1)).cast("long").alias("ci")
    )
    md = F.lit(float(_KMV_M))
    out = (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(th))
        .crossJoin(F.broadcast(ru))
        .crossJoin(F.broadcast(ri))
        .crossJoin(F.broadcast(xu))
        .crossJoin(F.broadcast(xi))
    )
    est_u = F.col("cu") * md / F.col("theta")
    return out.select(
        "n_click",
        F.when(F.col("ca") < _KMV_K, F.col("n_click"))
        .otherwise(
            F.round(F.lit(_KMV_K - 1) * md / F.col("kth_a")).cast(
                "long"
            )
        )
        .alias("est_click"),
        "n_view",
        F.when(F.col("cb") < _KMV_K, F.col("n_view"))
        .otherwise(
            F.round(F.lit(_KMV_K - 1) * md / F.col("kth_b")).cast(
                "long"
            )
        )
        .alias("est_view"),
        "n_union",
        F.round(est_u).cast("long").alias("est_union"),
        "n_inter",
        F.round(F.col("ci") * md / F.col("theta"))
        .cast("long")
        .alias("est_inter"),
        F.round(
            F.lit(1e6) * F.abs(est_u - F.col("n_union")) / F.col("n_union")
        )
        .cast("long")
        .alias("err_union_ppm"),
    )


@register(
    "conformal_calibration_audit",
    """
WITH o AS (
  SELECT o_orderkey, o_orderpriority AS pr,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc
  FROM orders
), g AS (
  SELECT pr, CAST(SUM(pc) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM o WHERE o_orderkey % 2 = 1 GROUP BY pr
), cal AS (
  SELECT CAST(FLOOR(ABS(o.pc - CAST(g.s AS DOUBLE) / g.c)) AS BIGINT) AS sc
  FROM o JOIN g ON o.pr = g.pr WHERE o.o_orderkey % 2 = 1
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS ncal FROM cal),
d AS (
  SELECT sc, CAST(COUNT(*) AS BIGINT) AS cnt FROM cal GROUP BY sc
), cum AS (
  SELECT sc, CAST(SUM(cnt) OVER (ORDER BY sc) AS BIGINT) AS cc FROM d
), q AS (
  SELECT MIN(sc) AS qhat FROM cum, n
  WHERE cc >= (9 * (ncal + 1) + 9) // 10
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS ntest,
         CAST(SUM(CASE WHEN
           CAST(FLOOR(ABS(o.pc - CAST(g.s AS DOUBLE) / g.c)) AS BIGINT)
             <= q.qhat THEN 1 ELSE 0 END) AS BIGINT) AS cov
  FROM o JOIN g ON o.pr = g.pr, q WHERE o.o_orderkey % 2 = 0
)
SELECT ncal AS n_cal, ntest AS n_test, qhat AS qhat_cents,
       CAST(ROUND(1e6 * cov / ntest) AS BIGINT) AS coverage_ppm,
       CAST(900000 AS BIGINT) AS target_ppm
FROM n, q, t
""",
)
def conformal_calibration_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-conformal prediction calibration audit (Vovk et al.;
    Angelopoulos & Bates 2021 survey): a per-priority mean-price
    predictor is fit on the odd-orderkey calibration half, the
    conformal quantile q_hat is the ceil((n+1)(1-alpha))-th smallest
    absolute residual (alpha = 0.1, rank computed in exact integer
    arithmetic), and the even-orderkey test half reports empirical
    coverage of [prediction +/- q_hat] — the finite-sample >= 90%
    guarantee a training pipeline checks before trusting model
    uncertainty. Residuals are floored to exact cent BIGINTs; the
    order statistic comes from a distinct-score rollup + cumulative
    window (score-domain-sized, never a fact-table sort), so at
    100 TB the only corpus-sized work is two scans and a 5-row
    broadcast join of the group means."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("pr"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
    )
    cal_rows = o.filter(F.col("o_orderkey") % 2 == 1)
    g = cal_rows.groupBy("pr").agg(
        F.sum("pc").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    score = F.floor(
        F.abs(
            F.col("pc") - F.col("s").cast("double") / F.col("c")
        )
    ).cast("long")
    cal = cal_rows.join(F.broadcast(g), "pr").select(score.alias("sc"))
    # score-domain rollup cached (r13, §1.3/§2.4); the calibration
    # count derives from it (SUM of the distinct-score counts ==
    # COUNT(*) of cal) instead of a second corpus-half scan
    d = cal.groupBy("sc").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).cache()
    n = d.agg(F.sum("cnt").cast("long").alias("ncal"))
    cum = d.withColumn(
        "cc",
        F.sum("cnt")
        .over(
            Window.orderBy("sc").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("long"),
    )
    q = (
        cum.crossJoin(F.broadcast(n))
        .filter(
            F.col("cc")
            >= F.expr("(9 * (ncal + 1) + 9) div 10")
        )
        .agg(F.min("sc").alias("qhat"))
    )
    t = (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .join(F.broadcast(g), "pr")
        .crossJoin(F.broadcast(q))
        .agg(
            F.count(F.lit(1)).cast("long").alias("ntest"),
            F.sum(
                F.when(score <= F.col("qhat"), 1).otherwise(0)
            )
            .cast("long")
            .alias("cov"),
        )
    )
    return (
        n.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(t))
        .select(
            F.col("ncal").alias("n_cal"),
            F.col("ntest").alias("n_test"),
            F.col("qhat").alias("qhat_cents"),
            F.round(F.lit(1e6) * F.col("cov") / F.col("ntest"))
            .cast("long")
            .alias("coverage_ppm"),
            F.lit(900000).cast("long").alias("target_ppm"),
        )
    )


_HBOS_BINS = 10


def _hbos_oracle(nb: int = _HBOS_BINS) -> str:
    def bin_of(col: str, mn: str, mx: str) -> str:
        return (
            f"CASE WHEN {mx} > {mn} THEN LEAST(CAST(FLOOR(({col} - {mn})"
            f" / ({mx} - {mn}) * {nb}) AS BIGINT), {nb - 1})"
            " ELSE 0 END"
        )

    bq = bin_of("l_quantity", "mnq", "mxq")
    bp = bin_of("l_extendedprice", "mnp", "mxp")
    bd = bin_of("l_discount", "mnd", "mxd")
    return f"""
WITH b AS (
  SELECT MIN(l_quantity) AS mnq, MAX(l_quantity) AS mxq,
         MIN(l_extendedprice) AS mnp, MAX(l_extendedprice) AS mxp,
         MIN(l_discount) AS mnd, MAX(l_discount) AS mxd
  FROM lineitem
), e AS (
  SELECT l_orderkey, l_linenumber,
         {bq} AS b_q, {bp} AS b_p, {bd} AS b_d
  FROM lineitem, b
), dq AS (SELECT b_q, CAST(COUNT(*) AS BIGINT) AS cq FROM e GROUP BY b_q),
dp AS (SELECT b_p, CAST(COUNT(*) AS BIGINT) AS cp FROM e GROUP BY b_p),
dd AS (SELECT b_d, CAST(COUNT(*) AS BIGINT) AS cd FROM e GROUP BY b_d),
mq AS (SELECT MAX(cq) AS xq FROM dq),
mp AS (SELECT MAX(cp) AS xp FROM dp),
md AS (SELECT MAX(cd) AS xd FROM dd)
SELECT e.l_orderkey, e.l_linenumber, e.b_q, e.b_p, e.b_d,
       ROUND(log10(CAST(xq AS DOUBLE) / cq)
           + log10(CAST(xp AS DOUBLE) / cp)
           + log10(CAST(xd AS DOUBLE) / cd), 6) AS hbos_score
FROM e JOIN dq USING (b_q) JOIN dp USING (b_p) JOIN dd USING (b_d),
     mq, mp, md
ORDER BY hbos_score DESC, e.l_orderkey, e.l_linenumber
LIMIT 20
"""


@register("hbos_outlier_scores", _hbos_oracle())
def hbos_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-Based Outlier Score (Goldstein & Dengel 2012) over
    lineitem (quantity, extendedprice, discount) — the linear-time
    unsupervised outlier filter a data pipeline runs where an
    isolation forest would be overkill: per feature, a 10-bin
    fixed-width histogram; a row's score is the sum over features of
    log10(tallest_bin / its_bin) (0 for rows in the modal bin of
    every feature, large for rows in sparse tails). Top-20 rows by
    (score desc, keys). Shape: one 1-row bounds aggregate broadcast
    back, one scan computing all three bin ids in whole-stage
    codegen, three <=10-row histogram dims broadcast-joined, and a
    TakeOrdered top-20 — no global sort, no window, two scans total
    at any scale. Bin edges and log-sums are identical IEEE doubles
    in both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    b = li.agg(
        F.min("l_quantity").alias("mnq"),
        F.max("l_quantity").alias("mxq"),
        F.min("l_extendedprice").alias("mnp"),
        F.max("l_extendedprice").alias("mxp"),
        F.min("l_discount").alias("mnd"),
        F.max("l_discount").alias("mxd"),
    )

    def bin_of(col: str, mn: str, mx: str):
        span_pos = F.col(mx) > F.col(mn)
        cell = F.least(
            F.floor(
                (F.col(col) - F.col(mn))
                / (F.col(mx) - F.col(mn))
                * _HBOS_BINS
            ).cast("long"),
            F.lit(_HBOS_BINS - 1).cast("long"),
        )
        return F.when(span_pos, cell).otherwise(F.lit(0).cast("long"))

    e = li.crossJoin(F.broadcast(b)).select(
        "l_orderkey",
        "l_linenumber",
        bin_of("l_quantity", "mnq", "mxq").alias("b_q"),
        bin_of("l_extendedprice", "mnp", "mxp").alias("b_p"),
        bin_of("l_discount", "mnd", "mxd").alias("b_d"),
    )
    # all three 10-bin histograms in ONE scan (r13, §2.3/§2.4 — the
    # cms_build posexplode pattern): the explode fans 3x but the
    # (feature, bin) partial aggregate collapses map-side to <= 30
    # rows per partition; cached, so the per-feature dims and their
    # modal-bin maxima never re-scan lineitem (was ~8 scans per run)
    hist = (
        e.select(F.posexplode(F.array("b_q", "b_p", "b_d")).alias("f", "b"))
        .groupBy("f", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .cache()
    )
    dq = hist.filter(F.col("f") == 0).select(
        F.col("b").alias("b_q"), F.col("c").alias("cq")
    )
    dp = hist.filter(F.col("f") == 1).select(
        F.col("b").alias("b_p"), F.col("c").alias("cp")
    )
    dd = hist.filter(F.col("f") == 2).select(
        F.col("b").alias("b_d"), F.col("c").alias("cd")
    )
    mq = dq.agg(F.max("cq").alias("xq"))
    mp = dp.agg(F.max("cp").alias("xp"))
    md = dd.agg(F.max("cd").alias("xd"))
    scored = (
        e.join(F.broadcast(dq), "b_q")
        .join(F.broadcast(dp), "b_p")
        .join(F.broadcast(dd), "b_d")
        .crossJoin(F.broadcast(mq))
        .crossJoin(F.broadcast(mp))
        .crossJoin(F.broadcast(md))
        .select(
            "l_orderkey",
            "l_linenumber",
            "b_q",
            "b_p",
            "b_d",
            F.round(
                F.log10(F.col("xq").cast("double") / F.col("cq"))
                + F.log10(F.col("xp").cast("double") / F.col("cp"))
                + F.log10(F.col("xd").cast("double") / F.col("cd")),
                6,
            ).alias("hbos_score"),
        )
    )
    return scored.orderBy(
        F.col("hbos_score").desc(), "l_orderkey", "l_linenumber"
    ).limit(20)


_ZM_GROUPS = 64
_ZM_PRED_OFF = 300  # predicate window start: min ship day + 300
_ZM_PRED_LEN = 30   # 30-day predicate window


def _zonemap_oracle(ng: int = _ZM_GROUPS) -> str:
    day = "CAST(FLOOR(epoch(l_shipdate) / 86400) AS BIGINT)"

    def layout(name: str, key: str) -> str:
        return f"""
SELECT '{name}' AS layout, g.*
FROM (
  WITH b AS (
    SELECT MIN({key}) AS mn, MAX({key}) AS mx,
           MIN({day}) AS d0
    FROM lineitem
  ), e AS (
    SELECT LEAST(CAST(FLOOR(CAST(({key} - mn) * {ng} AS DOUBLE)
             / (mx - mn + 1)) AS BIGINT), {ng - 1}) AS grp,
           {day} AS d, d0
    FROM lineitem, b
  ), rg AS (
    SELECT grp, MIN(d0) AS d0, CAST(COUNT(*) AS BIGINT) AS nr,
           MIN(d) AS dmin, MAX(d) AS dmax
    FROM e GROUP BY grp
  )
  SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(SUM(CASE WHEN dmax < d0 + {_ZM_PRED_OFF}
                    OR dmin > d0 + {_ZM_PRED_OFF + _ZM_PRED_LEN - 1}
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned_groups,
         CAST(ROUND(1e6 * SUM(CASE WHEN dmax < d0 + {_ZM_PRED_OFF}
                    OR dmin > d0 + {_ZM_PRED_OFF + _ZM_PRED_LEN - 1}
                  THEN 0 ELSE nr END) / SUM(nr)) AS BIGINT)
           AS scan_rows_ppm
  FROM rg
) g
"""

    sel = f"""
SELECT CAST(ROUND(1e6 * SUM(CASE WHEN {day} BETWEEN d0 + {_ZM_PRED_OFF}
          AND d0 + {_ZM_PRED_OFF + _ZM_PRED_LEN - 1} THEN 1 ELSE 0 END)
        / COUNT(*)) AS BIGINT) AS selectivity_ppm
FROM lineitem, (SELECT MIN({day}) AS d0 FROM lineitem) b
"""
    return f"""
WITH sel AS ({sel})
SELECT l.*, sel.selectivity_ppm
FROM (
  {layout('orderkey_order', 'l_orderkey')}
  UNION ALL
  {layout('shipdate_order', day)}
) l, sel
ORDER BY layout
"""


@register("zonemap_pruning_audit", _zonemap_oracle())
def zonemap_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max footer statistics) pruning effectiveness
    audit — the question behind every sort-on-write decision at
    100 TB: for a 30-day shipdate predicate, what fraction of row
    groups does each candidate layout let the reader SKIP? Models a
    range-partitioned write (zorder_repartition's contract) as 64
    equal-width buckets of the layout key, computes each bucket's
    min/max of the predicate column (exactly what a parquet footer
    stores), and reports pruned-group count and the surviving scan
    fraction per layout, against the predicate's true row
    selectivity. ingest-order (orderkey) layouts scatter shipdate
    across every group (scan ~100%); shipdate-sorted layouts prune
    to ~selectivity. All-integer bucket/day arithmetic; one scan per
    layout + a group-domain (<=64 rows) rollup; no windows, no
    shuffle beyond the 64-key aggregate."""
    li = read_table(spark, sf_dir, "lineitem")
    day = F.floor(F.col("l_shipdate").cast("long") / 86400).cast("long")
    d_lo = F.col("d0") + _ZM_PRED_OFF
    d_hi = F.col("d0") + _ZM_PRED_OFF + _ZM_PRED_LEN - 1

    # r14 (guide §2.3): one combined bounds aggregate + a cached
    # day-domain histogram replace 5 full lineitem scans with 3. The
    # shipdate layout's bucket is a function of DAY alone, so its
    # per-group rollup AND the true selectivity both derive from the
    # histogram (counts weighted), bit-identically; only the orderkey
    # layout still needs a row-level pass (its bucket key is not a
    # day function).
    b = F.broadcast(
        li.agg(
            F.min(F.col("l_orderkey")).alias("k_mn"),
            F.max(F.col("l_orderkey")).alias("k_mx"),
            F.min(day).alias("d0"),
            F.max(day).alias("d_mx"),
        )
    )
    day_hist = li.groupBy(day.alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    ).cache()

    def rollup(rg, name: str) -> DataFrame:
        pruned = (F.col("dmax") < d_lo) | (F.col("dmin") > d_hi)
        return rg.agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum(F.when(pruned, 1).otherwise(0))
            .cast("long")
            .alias("n_pruned_groups"),
            F.round(
                F.lit(1e6)
                * F.sum(F.when(pruned, 0).otherwise(F.col("nr")))
                / F.sum("nr")
            )
            .cast("long")
            .alias("scan_rows_ppm"),
        ).select(F.lit(name).alias("layout"), "*")

    def bucket(key, mn, mx):
        return F.least(
            F.floor(
                ((key - mn) * _ZM_GROUPS).cast("double") / (mx - mn + 1)
            ).cast("long"),
            F.lit(_ZM_GROUPS - 1).cast("long"),
        )

    rg_key = (
        li.crossJoin(b)
        .select(
            bucket(F.col("l_orderkey"), F.col("k_mn"), F.col("k_mx"))
            .alias("grp"),
            day.alias("d"),
            "d0",
        )
        .groupBy("grp")
        .agg(
            F.min("d0").alias("d0"),
            F.count(F.lit(1)).cast("long").alias("nr"),
            F.min("d").alias("dmin"),
            F.max("d").alias("dmax"),
        )
    )
    rg_day = (
        day_hist.crossJoin(b)
        .select(
            bucket(F.col("d"), F.col("d0"), F.col("d_mx")).alias("grp"),
            "d",
            "__c",
            "d0",
        )
        .groupBy("grp")
        .agg(
            F.min("d0").alias("d0"),
            F.sum("__c").cast("long").alias("nr"),
            F.min("d").alias("dmin"),
            F.max("d").alias("dmax"),
        )
    )
    sel = day_hist.crossJoin(b).agg(
        F.round(
            F.lit(1e6)
            * F.sum(
                F.when(F.col("d").between(d_lo, d_hi), F.col("__c"))
                .otherwise(0)
            )
            / F.sum("__c")
        )
        .cast("long")
        .alias("selectivity_ppm")
    )
    out = rollup(rg_key, "orderkey_order").unionByName(
        rollup(rg_day, "shipdate_order")
    )
    return out.crossJoin(F.broadcast(sel)).transform(_sorted_readout, "layout", max_rows=10_000)


_PACK_MAX = 65536   # maxSplitBytes analog (64 KB at toy row-width)
_PACK_OC = 1024     # openCostInBytes analog
_PACK_ROW_W = 100   # bytes-per-row proxy for the synthetic inventory


@register(
    "scan_task_packing_report",
    f"""
WITH RECURSIVE files AS (
  SELECT CAST(FLOOR(epoch(l_shipdate) / 86400) AS BIGINT) AS day,
         CAST(COUNT(*) * {_PACK_ROW_W} AS BIGINT) AS sz
  FROM lineitem GROUP BY 1
), f AS (
  SELECT day, sz,
         ROW_NUMBER() OVER (ORDER BY sz DESC, day) AS idx
  FROM files
), st(idx, task, cur) AS (
  SELECT idx, CAST(0 AS BIGINT), sz + {_PACK_OC} FROM f WHERE idx = 1
  UNION ALL
  SELECT f.idx,
         CASE WHEN st.cur + f.sz > {_PACK_MAX}
              THEN st.task + 1 ELSE st.task END,
         CASE WHEN st.cur + f.sz > {_PACK_MAX}
              THEN f.sz + {_PACK_OC}
              ELSE st.cur + f.sz + {_PACK_OC} END
  FROM st JOIN f ON f.idx = st.idx + 1
)
SELECT task AS task_id,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(f.sz) AS BIGINT) AS task_bytes,
       CAST(SUM(f.sz) + COUNT(*) * {_PACK_OC} AS BIGINT)
         AS task_cost_bytes,
       (1000000 * (CAST(SUM(f.sz) AS BIGINT)
                   + COUNT(*) * {_PACK_OC})) // {_PACK_MAX}
         AS fill_ppm
FROM st JOIN f USING (idx)
GROUP BY task
ORDER BY task
""",
)
def scan_task_packing_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scan-task packing plan — Spark's own
    ``FilePartition.getFilePartitions`` bin-packing recurrence
    (sql/execution/datasources/FilePartition.scala: files sorted by
    size desc, next-fit close when currentSize + size >
    maxSplitBytes, every file charged openCostInBytes), applied to a
    synthetic file inventory (one 'file' per lineitem ship-day, size
    = rows x {_PACK_ROW_W}B) with scaled-down constants. This is the
    cost model that decides task count and stragglers for every scan
    the engine plans; auditing it as data answers 'how many tasks
    and how full' BEFORE committing a write layout. The packing
    recurrence is a prefix-dependent reset — not window-expressible
    — so the engine runs it where Spark itself does: sequentially
    over the METADATA (a file inventory is namenode-scale, ~1e5 rows
    per table even at 100 TB; one Arrow batch through a pandas
    kernel, parallel across tables in production), while the
    inventory aggregation itself is a distributed day-domain
    rollup. The DuckDB twin replays the identical recurrence as a
    recursive CTE, step for step."""
    import pandas as pd

    li = read_table(spark, sf_dir, "lineitem")
    files = li.groupBy(
        F.floor(F.col("l_shipdate").cast("long") / 86400)
        .cast("long")
        .alias("day")
    ).agg(
        (F.count(F.lit(1)) * _PACK_ROW_W).cast("long").alias("sz")
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["sz", "day"], ascending=[False, True]
        ).reset_index(drop=True)
        task, cur, out = 0, 0, []
        for z in pdf["sz"]:
            z = int(z)
            if out and cur + z > _PACK_MAX:
                task += 1
                cur = 0
            cur += z + _PACK_OC
            out.append(task)
        pdf["task_id"] = out
        g = pdf.groupby("task_id", as_index=False).agg(
            n_files=("sz", "size"), task_bytes=("sz", "sum")
        )
        g["task_cost_bytes"] = (
            g["task_bytes"] + g["n_files"] * _PACK_OC
        )
        g["fill_ppm"] = (
            1000000 * g["task_cost_bytes"]
        ) // _PACK_MAX
        return g.astype("int64")

    out = files.groupBy(F.lit(1).alias("__one")).applyInPandas(
        lambda _, pdf: _pack(pdf),
        schema=(
            "task_id long, n_files long, task_bytes long, "
            "task_cost_bytes long, fill_ppm long"
        ),
    )
    return _sorted_readout(out, "task_id", max_rows=100_000)


_FS_E9 = 1000000000


def _fs_oracle() -> str:
    def p9(lam: str, ms: list[str], us: list[str]) -> str:
        pm = lam
        pu = f"(1.0 - {lam})"
        for g, m, u in zip(("g1", "g2", "g3"), ms, us):
            pm += f" * (CASE WHEN {g} = 1 THEN {m} ELSE 1.0 - {m} END)"
            pu += f" * (CASE WHEN {g} = 1 THEN {u} ELSE 1.0 - {u} END)"
        return (
            f"CAST(ROUND({_FS_E9}.0 * ({pm}) / (({pm}) + ({pu})))"
            " AS BIGINT)"
        )

    def step(src: str) -> str:
        return f"""
  SELECT SUM(CAST(n AS HUGEINT) * p9) AS s,
         SUM(CAST(n AS HUGEINT) * ({_FS_E9} - p9)) AS t,
         SUM(CAST(n AS HUGEINT) * p9 * g1) AS sf1,
         SUM(CAST(n AS HUGEINT) * p9 * g2) AS sf2,
         SUM(CAST(n AS HUGEINT) * p9 * g3) AS sf3,
         SUM(CAST(n AS HUGEINT) * ({_FS_E9} - p9) * g1) AS tf1,
         SUM(CAST(n AS HUGEINT) * ({_FS_E9} - p9) * g2) AS tf2,
         SUM(CAST(n AS HUGEINT) * ({_FS_E9} - p9) * g3) AS tf3,
         CAST(SUM(n) AS BIGINT) AS ntot
  FROM {src}
"""

    ratios = """
  SELECT CAST(s AS DOUBLE) / ({e9}.0 * ntot) AS lam,
         CAST(sf1 AS DOUBLE) / s AS m1, CAST(sf2 AS DOUBLE) / s AS m2,
         CAST(sf3 AS DOUBLE) / s AS m3,
         CAST(tf1 AS DOUBLE) / t AS u1, CAST(tf2 AS DOUBLE) / t AS u2,
         CAST(tf3 AS DOUBLE) / t AS u3
  FROM {src}
"""
    return f"""
WITH pr AS (
  SELECT CASE WHEN levenshtein(a.p_name, b.p_name) <= 3
              THEN 1 ELSE 0 END AS g1,
         CASE WHEN a.p_size = b.p_size THEN 1 ELSE 0 END AS g2,
         CASE WHEN ABS(CAST(ROUND(a.p_retailprice * 100) AS BIGINT)
                     - CAST(ROUND(b.p_retailprice * 100) AS BIGINT))
                   <= 100 THEN 1 ELSE 0 END AS g3
  FROM part a JOIN part b
    ON a.p_brand = b.p_brand AND a.p_type = b.p_type
   AND a.p_partkey < b.p_partkey
), pat AS (
  SELECT g1, g2, g3, CAST(COUNT(*) AS BIGINT) AS n
  FROM pr GROUP BY g1, g2, g3
), e1 AS (
  SELECT pat.*, {p9('0.1', ['0.9'] * 3, ['0.1'] * 3)} AS p9 FROM pat
), s1 AS ({step('e1')}), r1 AS (
  {ratios.format(e9=_FS_E9, src='s1')}
), e2 AS (
  SELECT pat.*,
         {p9('lam', ['m1', 'm2', 'm3'], ['u1', 'u2', 'u3'])} AS p9
  FROM pat, r1
), s2 AS ({step('e2')}), r2 AS (
  {ratios.format(e9=_FS_E9, src='s2')}
), fld AS (
  SELECT * FROM (VALUES ('name_lev3', 1), ('price_100c', 3),
                        ('size_exact', 2)) AS v(field, fid)
)
SELECT field,
       ROUND(CASE fid WHEN 1 THEN m1 WHEN 2 THEN m2 ELSE m3 END, 6)
         AS m_prob,
       ROUND(CASE fid WHEN 1 THEN u1 WHEN 2 THEN u2 ELSE u3 END, 6)
         AS u_prob,
       ROUND(log2((CASE fid WHEN 1 THEN m1 WHEN 2 THEN m2 ELSE m3 END)
                / (CASE fid WHEN 1 THEN u1 WHEN 2 THEN u2 ELSE u3 END)),
             6) AS w_agree,
       ROUND(log2((1.0 - CASE fid WHEN 1 THEN m1 WHEN 2 THEN m2
                          ELSE m3 END)
                / (1.0 - CASE fid WHEN 1 THEN u1 WHEN 2 THEN u2
                          ELSE u3 END)), 6) AS w_disagree
FROM r2, fld
ORDER BY field
"""


@register("fellegi_sunter_em_weights", _fs_oracle())
def fellegi_sunter_em_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fellegi-Sunter record-linkage weights fit by two deterministic
    EM iterations (Fellegi & Sunter 1969; the Splink/dedupe.com
    model): blocked part pairs (same brand+type) are compared on
    three fields (name levenshtein<=3, exact size, price within
    100 cents); the 8 agreement-pattern counts drive EM from the
    canonical init (lambda=0.1, m=0.9, u=0.1), and the output is the
    per-field m/u probabilities and log2 match weights a linkage
    pipeline thresholds on. Determinism protocol: each E-step
    posterior is quantized to exact 1e-9 integers BEFORE the M-step
    sums, so every cross-pattern aggregate is an exact BIGINT sum
    and both engines walk the identical EM trajectory. Shape: one
    blocked self-join collapsed immediately to an 8-row pattern
    table (the only corpus-sized work — same declared within-block
    semantics as fuzzy_part_name_pairs); both EM iterations are
    8-row arithmetic under broadcast crossJoins."""
    # Exact-collapse front end (the r8 fuzzy-family design): pattern
    # counts need only DISTINCT comparison tuples with multiplicities
    # — identical (name, brand, type, size, price) copies compare
    # identically to everything, so (a) each duplicated group
    # contributes C(cnt, 2) all-agree pairs and (b) cross-group pairs
    # weigh cnt_a * cnt_b. The blocked join runs on distinct tuples
    # (constant across key-shifted tier copies), never raw rows.
    p = read_table(spark, sf_dir, "part")
    g = (
        p.select(
            "p_partkey",
            "p_name",
            "p_brand",
            "p_type",
            "p_size",
            F.round(F.col("p_retailprice") * 100)
            .cast("long")
            .alias("pc"),
        )
        .groupBy("p_name", "p_brand", "p_type", "p_size", "pc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.min("p_partkey").alias("gk"),
        )
        # cached: feeds the within-group count and BOTH sides of the
        # blocked self-join (r13, guide §1.3)
        .cache()
    )
    within = g.agg(
        F.sum(F.col("cnt") * (F.col("cnt") - 1) / 2)
        .cast("long")
        .alias("n")
    ).select(
        F.lit(1).alias("g1"), F.lit(1).alias("g2"),
        F.lit(1).alias("g3"), "n",
    ).filter(F.col("n") > 0)
    a, b = g.alias("a"), g.alias("b")
    cross = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_type") == F.col("b.p_type"))
        & (F.col("a.gk") < F.col("b.gk")),
    ).select(
        F.when(
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 3, 1
        )
        .otherwise(0)
        .alias("g1"),
        F.when(F.col("a.p_size") == F.col("b.p_size"), 1)
        .otherwise(0)
        .alias("g2"),
        F.when(F.abs(F.col("a.pc") - F.col("b.pc")) <= 100, 1)
        .otherwise(0)
        .alias("g3"),
        (F.col("a.cnt") * F.col("b.cnt")).alias("w"),
    )
    # cached: the 8-row pattern table anchors both EM E-steps and the
    # final readout — uncached, the blocked levenshtein self-join
    # re-executed with every consumer (r13, guide §1.3)
    pat = (
        cross.groupBy("g1", "g2", "g3")
        .agg(F.sum("w").cast("long").alias("n"))
        .unionByName(within)
        .groupBy("g1", "g2", "g3")
        .agg(F.sum("n").cast("long").alias("n"))
        .cache()
    )

    def posterior(lam, ms, us):
        pm, pu = lam, F.lit(1.0) - lam
        for g, m, u in zip(("g1", "g2", "g3"), ms, us):
            pm = pm * F.when(F.col(g) == 1, m).otherwise(F.lit(1.0) - m)
            pu = pu * F.when(F.col(g) == 1, u).otherwise(F.lit(1.0) - u)
        return F.round(F.lit(float(_FS_E9)) * pm / (pm + pu)).cast(
            "long"
        )

    def mstep(e: DataFrame) -> DataFrame:
        # pattern counts n reach ~1e10+ past sf1 and p9 is up to 1e9:
        # the product overflows int64 (caught by the sf10 tier sweep),
        # so the M-step sums run in decimal(38,0) — HUGEINT in the
        # twin. Exactness is unchanged; only the width is.
        nd_ = F.col("n").cast("decimal(18,0)")
        p9d = F.col("p9").cast("decimal(10,0)")
        away = F.lit(_FS_E9).cast("decimal(10,0)") - p9d
        s = e.agg(
            F.sum(nd_ * p9d).alias("s"),
            F.sum(nd_ * away).alias("t"),
            *[
                F.sum(nd_ * p9d * F.col(g))
                .alias(f"sf{i}")
                for i, g in enumerate(("g1", "g2", "g3"), 1)
            ],
            *[
                F.sum(nd_ * away * F.col(g))
                .alias(f"tf{i}")
                for i, g in enumerate(("g1", "g2", "g3"), 1)
            ],
            F.sum("n").cast("long").alias("ntot"),
        )
        return s.select(
            (
                F.col("s").cast("double")
                / (F.lit(float(_FS_E9)) * F.col("ntot"))
            ).alias("lam"),
            *[
                (F.col(f"sf{i}").cast("double") / F.col("s")).alias(
                    f"m{i}"
                )
                for i in (1, 2, 3)
            ],
            *[
                (F.col(f"tf{i}").cast("double") / F.col("t")).alias(
                    f"u{i}"
                )
                for i in (1, 2, 3)
            ],
        )

    e1 = pat.withColumn(
        "p9",
        posterior(F.lit(0.1), [F.lit(0.9)] * 3, [F.lit(0.1)] * 3),
    )
    r1 = mstep(e1)
    e2 = pat.crossJoin(F.broadcast(r1)).withColumn(
        "p9",
        posterior(
            F.col("lam"),
            [F.col(f"m{i}") for i in (1, 2, 3)],
            [F.col(f"u{i}") for i in (1, 2, 3)],
        ),
    )
    r2 = mstep(e2.select("g1", "g2", "g3", "n", "p9"))
    # one execution of r2: the 3 per-field rows come off a single
    # explode instead of a 3-way union that re-ran the whole EM chain
    # (and the blocked self-join under it) per branch (r13, §1.3)
    structs = []
    for fname, i in (
        ("name_lev3", 1),
        ("size_exact", 2),
        ("price_100c", 3),
    ):
        m, u = F.col(f"m{i}"), F.col(f"u{i}")
        structs.append(
            F.struct(
                F.lit(fname).alias("field"),
                F.round(m, 6).alias("m_prob"),
                F.round(u, 6).alias("u_prob"),
                F.round(F.log2(m / u), 6).alias("w_agree"),
                F.round(
                    F.log2((F.lit(1.0) - m) / (F.lit(1.0) - u)), 6
                ).alias("w_disagree"),
            )
        )
    out = r2.select(F.explode(F.array(*structs)).alias("__r")).select(
        "__r.*"
    )
    return out.orderBy("field")


_RANSAC_TRIALS = 16
_RANSAC_TOL = 40000  # inlier tolerance, cents (~1 residual sd)


def _ransac_oracle(nt: int = _RANSAC_TRIALS, tol: int = _RANSAC_TOL) -> str:
    def h(i: int, s: str) -> str:
        return X.duck_h48(
            f"'ransac:{i}:{s}:' || CAST(user_id AS VARCHAR)"
        )

    mins = ",\n         ".join(
        f"(MIN(struct_pack(h := {h(i, s)}, x := x, y := y))).x"
        f" AS x{s}{i},\n         "
        f"(MIN(struct_pack(h := {h(i, s)}, x := x, y := y))).y"
        f" AS y{s}{i}"
        for i in range(nt)
        for s in ("a", "b")
    )
    inl = ",\n         ".join(
        f"CAST(SUM(CASE WHEN xa{i} <> xb{i} AND ABS(CAST(y AS DOUBLE)"
        f" - (ya{i} + (CAST(yb{i} AS DOUBLE) - ya{i})"
        f" / (xb{i} - xa{i}) * (x - xa{i}))) <= {tol}"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS inl{i}"
        for i in range(nt)
    )
    t16 = "\n  UNION ALL ".join(
        f"SELECT {i} AS trial, inl{i} AS inl, xa{i} AS x1, ya{i} AS y1,"
        f" xb{i} AS x2, yb{i} AS y2 FROM sc2"
        for i in range(nt)
    )
    return f"""
WITH base AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY user_id
), sc1 AS (
  SELECT {mins}
  FROM base
), sc2 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         {inl},
         {", ".join(
            f"MIN(xa{i}) AS _ka{i}, MIN(ya{i}) AS _kya{i},"
            f" MIN(xb{i}) AS _kxb{i}, MIN(yb{i}) AS _kyb{i}"
            for i in range(nt))}
  FROM base CROSS JOIN sc1
), sc2x AS (
  SELECT n, sx, sy, sxy, sxx,
         {", ".join(
            f"inl{i}, _ka{i} AS xa{i}, _kya{i} AS ya{i},"
            f" _kxb{i} AS xb{i}, _kyb{i} AS yb{i}"
            for i in range(nt))}
  FROM sc2
), t16 AS (
  {t16.replace("FROM sc2", "FROM sc2x")}
), best AS (
  SELECT trial, inl, x1, y1, x2, y2,
         (CAST(y2 AS DOUBLE) - y1) / (x2 - x1) AS slope
  FROM t16 WHERE x1 <> x2
  ORDER BY inl DESC, trial LIMIT 1
), refit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS rn,
         CAST(SUM(x) AS BIGINT) AS rsx, CAST(SUM(y) AS BIGINT) AS rsy,
         CAST(SUM(x * y) AS BIGINT) AS rsxy,
         CAST(SUM(x * x) AS BIGINT) AS rsxx
  FROM base CROSS JOIN best
  WHERE ABS(CAST(y AS DOUBLE) - (y1 + slope * (x - x1))) <= {tol}
)
SELECT best.trial AS best_trial, best.inl AS n_inliers,
       (1000000 * best.inl) // sc2x.n AS inlier_ppm,
       ROUND((CAST(rn AS DOUBLE) * rsxy - CAST(rsx AS DOUBLE) * rsy)
             / (CAST(rn AS DOUBLE) * rsxx
                - CAST(rsx AS DOUBLE) * rsx), 4) AS slope_cents,
       ROUND((rsy - (CAST(rn AS DOUBLE) * rsxy
                     - CAST(rsx AS DOUBLE) * rsy)
                    / (CAST(rn AS DOUBLE) * rsxx
                       - CAST(rsx AS DOUBLE) * rsx) * rsx) / rn, 2)
         AS intercept_cents,
       ROUND((CAST(sc2x.n AS DOUBLE) * sc2x.sxy
              - CAST(sc2x.sx AS DOUBLE) * sc2x.sy)
             / (CAST(sc2x.n AS DOUBLE) * sc2x.sxx
                - CAST(sc2x.sx AS DOUBLE) * sc2x.sx), 4)
         AS ols_all_slope_cents
FROM best, refit, sc2x
"""


@register("ransac_activity_value_model", _ransac_oracle())
def ransac_activity_value_model(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RANSAC robust line fit (Fischler & Bolles 1981) of per-user
    total event value on per-user event count — the robust version
    of the activity->value trend a growth model assumes, immune to
    the whale/outlier users that drag plain OLS: 16 deterministic
    trials, each anchored by the two users minimizing a trial-salted
    md5 (min of a (hash, x, y) struct — exact argmin with a total
    tie-break, so both engines pick identical anchors); inliers
    within a fixed cent tolerance of the 2-point line; the winning
    consensus set is refit by exact-integer OLS, reported next to
    the plain OLS slope the outliers pollute. Shape: one fact scan
    into the user rollup, then a 32-argmin struct aggregate (one
    pass, AMS-style multi-expression), a 16-way conditional inlier
    count against the broadcast 1-row trial table, and the consensus
    refit — all driver-free, user-domain-sized past the rollup;
    every intermediate table past the aggregates is <= 16 rows."""
    ev = read_table(spark, sf_dir, "events")
    # cached: the user rollup feeds the anchor argmin, the inlier
    # counts, and the consensus refit — uncached, the events scan +
    # rollup aggregate executed 3x per run (r13, guide §1.3)
    base = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y"),
    ).cache()

    def h(i: int, s: str):
        return X.h48(
            F.concat(
                F.lit(f"ransac:{i}:{s}:"),
                F.col("user_id").cast("string"),
            )
        )

    mins = []
    for i in range(_RANSAC_TRIALS):
        for s in ("a", "b"):
            mins.append(
                F.min(
                    F.struct(
                        h(i, s).alias("h"),
                        F.col("x").alias("x"),
                        F.col("y").alias("y"),
                    )
                ).alias(f"m{s}{i}")
            )
    sc1 = base.agg(*mins).select(
        *[
            c
            for i in range(_RANSAC_TRIALS)
            for s in ("a", "b")
            for c in (
                F.col(f"m{s}{i}.x").alias(f"x{s}{i}"),
                F.col(f"m{s}{i}.y").alias(f"y{s}{i}"),
            )
        ]
    )
    inl_exprs = []
    for i in range(_RANSAC_TRIALS):
        xa, ya = F.col(f"xa{i}"), F.col(f"ya{i}")
        xb, yb = F.col(f"xb{i}"), F.col(f"yb{i}")
        resid = F.abs(
            F.col("y").cast("double")
            - (
                ya
                + (yb.cast("double") - ya)
                / (xb - xa)
                * (F.col("x") - xa)
            )
        )
        inl_exprs.append(
            F.sum(
                F.when((xa != xb) & (resid <= _RANSAC_TOL), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias(f"inl{i}")
        )
    keep = [
        F.min(F.col(f"{c}{s}{i}")).alias(f"{c}{s}{i}")
        for i in range(_RANSAC_TRIALS)
        for s in ("a", "b")
        for c in ("x", "y")
    ]
    sc2 = base.crossJoin(F.broadcast(sc1)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        *inl_exprs,
        *keep,
    )
    t16 = sc2.select(
        "n",
        "sx",
        "sy",
        "sxy",
        "sxx",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("trial"),
                        F.col(f"inl{i}").alias("inl"),
                        F.col(f"xa{i}").alias("x1"),
                        F.col(f"ya{i}").alias("y1"),
                        F.col(f"xb{i}").alias("x2"),
                        F.col(f"yb{i}").alias("y2"),
                    )
                    for i in range(_RANSAC_TRIALS)
                ]
            )
        ).alias("t"),
    ).select("n", "sx", "sy", "sxy", "sxx", "t.*")
    valid = t16.filter(F.col("x1") != F.col("x2")).withColumn(
        "slope",
        (F.col("y2").cast("double") - F.col("y1"))
        / (F.col("x2") - F.col("x1")),
    )
    best = (
        valid.orderBy(F.col("inl").desc(), "trial")
        .limit(1)
    )
    refit = (
        base.crossJoin(F.broadcast(best))
        .filter(
            F.abs(
                F.col("y").cast("double")
                - (
                    F.col("y1")
                    + F.col("slope") * (F.col("x") - F.col("x1"))
                )
            )
            <= _RANSAC_TOL
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("rn"),
            F.sum("x").cast("long").alias("rsx"),
            F.sum("y").cast("long").alias("rsy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("rsxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("rsxx"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    r_slope = (d("rn") * d("rsxy") - d("rsx") * d("rsy")) / (
        d("rn") * d("rsxx") - d("rsx") * d("rsx")
    )
    return (
        best.crossJoin(F.broadcast(refit))
        .select(
            F.col("trial").alias("best_trial"),
            F.col("inl").alias("n_inliers"),
            F.expr("(1000000 * inl) div n").alias("inlier_ppm"),
            F.round(r_slope, 4).alias("slope_cents"),
            F.round(
                (F.col("rsy") - r_slope * F.col("rsx")) / F.col("rn"),
                2,
            ).alias("intercept_cents"),
            F.round(
                (d("n") * d("sxy") - d("sx") * d("sy"))
                / (d("n") * d("sxx") - d("sx") * d("sx")),
                4,
            ).alias("ols_all_slope_cents"),
        )
    )


_ATT_DAY = 86400
_ATT_WEEK = 604800


@register(
    "exact_matching_att_audit",
    f"""
WITH ev AS (
  SELECT user_id, event_type,
         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS tse,
         CAST(ROUND(value * 100) AS BIGINT) AS vc
  FROM events
), b AS (SELECT MIN(tse) AS t0 FROM ev),
u AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase'
                   AND tse < t0 + {_ATT_DAY} THEN 1 ELSE 0 END)
           AS treated,
         CAST(SUM(CASE WHEN tse < t0 + {_ATT_WEEK} THEN 1 ELSE 0 END)
              AS BIGINT) AS early_n,
         CAST(SUM(CASE WHEN event_type = 'click'
                        AND tse >= t0 + {_ATT_WEEK}
                  THEN vc ELSE 0 END) AS BIGINT) AS y
  FROM ev, b GROUP BY user_id
), su AS (
  SELECT treated, early_n, y, LEAST(4, early_n // 5) AS strat FROM u
), bef AS (
  SELECT CAST(SUM(treated) AS BIGINT) AS nt,
         CAST(SUM(1 - treated) AS BIGINT) AS nc,
         CAST(SUM(CASE WHEN treated = 1 THEN early_n ELSE 0 END)
              AS BIGINT) AS sxt,
         CAST(SUM(CASE WHEN treated = 0 THEN early_n ELSE 0 END)
              AS BIGINT) AS sxc,
         CAST(SUM(CASE WHEN treated = 1 THEN early_n * early_n
                  ELSE 0 END) AS BIGINT) AS sxxt,
         CAST(SUM(CASE WHEN treated = 0 THEN early_n * early_n
                  ELSE 0 END) AS BIGINT) AS sxxc
  FROM su
), strata AS (
  SELECT strat,
         CAST(SUM(treated) AS BIGINT) AS nts,
         CAST(SUM(1 - treated) AS BIGINT) AS ncs,
         CAST(SUM(CASE WHEN treated = 1 THEN y ELSE 0 END) AS BIGINT)
           AS syt,
         CAST(SUM(CASE WHEN treated = 0 THEN y ELSE 0 END) AS BIGINT)
           AS syc,
         CAST(SUM(CASE WHEN treated = 1 THEN early_n ELSE 0 END)
              AS BIGINT) AS sxts,
         CAST(SUM(CASE WHEN treated = 0 THEN early_n ELSE 0 END)
              AS BIGINT) AS sxcs
  FROM su GROUP BY strat
), agg AS (
  SELECT CAST(SUM(nts) AS BIGINT) AS ntm,
         CAST(COUNT(*) AS BIGINT) AS nstrata,
         CAST(SUM(nts * CAST(ROUND(1e6 * (CAST(syt AS DOUBLE) / nts
              - CAST(syc AS DOUBLE) / ncs)) AS BIGINT)) AS BIGINT)
           AS wdy,
         CAST(SUM(nts * CAST(ROUND(1e6 * (CAST(sxts AS DOUBLE) / nts
              - CAST(sxcs AS DOUBLE) / ncs)) AS BIGINT)) AS BIGINT)
           AS wdx
  FROM strata WHERE nts > 0 AND ncs > 0
)
SELECT nt AS n_treated, nc AS n_control,
       nstrata AS n_strata_matched, ntm AS n_treated_matched,
       ROUND(wdy / (1e6 * ntm), 4) AS att_cents,
       ROUND((CAST(sxt AS DOUBLE) / nt - CAST(sxc AS DOUBLE) / nc)
             / sqrt(((CAST(sxxt AS DOUBLE) / nt
                      - (CAST(sxt AS DOUBLE) / nt)
                        * (CAST(sxt AS DOUBLE) / nt))
                     + (CAST(sxxc AS DOUBLE) / nc
                        - (CAST(sxc AS DOUBLE) / nc)
                          * (CAST(sxc AS DOUBLE) / nc))) / 2), 6)
         AS smd_before,
       ROUND((wdx / (1e6 * ntm))
             / sqrt(((CAST(sxxt AS DOUBLE) / nt
                      - (CAST(sxt AS DOUBLE) / nt)
                        * (CAST(sxt AS DOUBLE) / nt))
                     + (CAST(sxxc AS DOUBLE) / nc
                        - (CAST(sxc AS DOUBLE) / nc)
                          * (CAST(sxc AS DOUBLE) / nc))) / 2), 6)
         AS smd_after
FROM bef, agg
""",
)
def exact_matching_att_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-matching average-treatment-effect-on-treated audit — the
    observational companion to cuped_adjusted_lift (Stuart 2010's
    matching framework): treatment = any purchase in the corpus's
    first day, outcome = post-first-week click value, matched
    exactly on a first-week activity stratum; ATT is the
    treated-weighted mean of within-stratum outcome differences over
    strata holding BOTH groups, and the audit reports the covariate
    standardized mean difference before vs after matching (the
    balance check that justifies the causal read). Determinism:
    per-stratum mean differences are quantized to exact 1e-6
    integers before the treated-count-weighted sum, all moments are
    exact BIGINTs. Shape: ONE fact scan into a user-level
    conditional aggregate, then strata-domain (<=5 rows) and 1-row
    arithmetic — nothing beyond the user rollup shuffles."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("tse"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    b = ev.agg(F.min("tse").alias("t0"))
    u = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("tse") < F.col("t0") + _ATT_DAY),
                    1,
                ).otherwise(0)
            ).alias("treated"),
            F.sum(
                F.when(F.col("tse") < F.col("t0") + _ATT_WEEK, 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("early_n"),
            F.sum(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("tse") >= F.col("t0") + _ATT_WEEK),
                    F.col("vc"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
    )
    # user-level table cached (r13, guide §1.3): su feeds the
    # before-matching moments AND the strata rollup — uncached, the
    # fact scan + user aggregate (and the t0 scalar under it)
    # executed twice; the cache is user-sized (4 ints)
    su = u.select(
        "treated",
        "early_n",
        "y",
        F.least(F.lit(4), F.expr("early_n div 5")).alias("strat"),
    ).cache()
    t1 = F.col("treated") == 1
    bef = su.agg(
        F.sum("treated").cast("long").alias("nt"),
        F.sum(1 - F.col("treated")).cast("long").alias("nc"),
        F.sum(F.when(t1, F.col("early_n")).otherwise(0))
        .cast("long")
        .alias("sxt"),
        F.sum(F.when(~t1, F.col("early_n")).otherwise(0))
        .cast("long")
        .alias("sxc"),
        F.sum(
            F.when(t1, F.col("early_n") * F.col("early_n")).otherwise(0)
        )
        .cast("long")
        .alias("sxxt"),
        F.sum(
            F.when(~t1, F.col("early_n") * F.col("early_n")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("sxxc"),
    )
    strata = su.groupBy("strat").agg(
        F.sum("treated").cast("long").alias("nts"),
        F.sum(1 - F.col("treated")).cast("long").alias("ncs"),
        F.sum(F.when(t1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("syt"),
        F.sum(F.when(~t1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("syc"),
        F.sum(F.when(t1, F.col("early_n")).otherwise(0))
        .cast("long")
        .alias("sxts"),
        F.sum(F.when(~t1, F.col("early_n")).otherwise(0))
        .cast("long")
        .alias("sxcs"),
    )
    q6 = lambda e: F.round(F.lit(1e6) * e).cast("long")  # noqa: E731
    agg = strata.filter(
        (F.col("nts") > 0) & (F.col("ncs") > 0)
    ).agg(
        F.sum("nts").cast("long").alias("ntm"),
        F.count(F.lit(1)).cast("long").alias("nstrata"),
        F.sum(
            F.col("nts")
            * q6(
                F.col("syt").cast("double") / F.col("nts")
                - F.col("syc").cast("double") / F.col("ncs")
            )
        )
        .cast("long")
        .alias("wdy"),
        F.sum(
            F.col("nts")
            * q6(
                F.col("sxts").cast("double") / F.col("nts")
                - F.col("sxcs").cast("double") / F.col("ncs")
            )
        )
        .cast("long")
        .alias("wdx"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    sd_pool = F.sqrt(
        (
            (d("sxxt") / d("nt") - (d("sxt") / d("nt")) * (d("sxt") / d("nt")))
            + (
                d("sxxc") / d("nc")
                - (d("sxc") / d("nc")) * (d("sxc") / d("nc"))
            )
        )
        / 2
    )
    return bef.crossJoin(F.broadcast(agg)).select(
        F.col("nt").alias("n_treated"),
        F.col("nc").alias("n_control"),
        F.col("nstrata").alias("n_strata_matched"),
        F.col("ntm").alias("n_treated_matched"),
        F.round(F.col("wdy") / (F.lit(1e6) * F.col("ntm")), 4).alias(
            "att_cents"
        ),
        F.round(
            (d("sxt") / d("nt") - d("sxc") / d("nc")) / sd_pool, 6
        ).alias("smd_before"),
        F.round(
            (F.col("wdx") / (F.lit(1e6) * F.col("ntm"))) / sd_pool, 6
        ).alias("smd_after"),
    )


@register(
    "spearman_activity_value",
    """
WITH f AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY user_id
), dx AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM f GROUP BY x
), rx AS (
  SELECT x, 2 * CAST(COALESCE(SUM(cnt) OVER (ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) + cnt + 1 AS r2
  FROM dx
), dy AS (
  SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM f GROUP BY y
), ry AS (
  SELECT y, 2 * CAST(COALESCE(SUM(cnt) OVER (ORDER BY y
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) + cnt + 1 AS r2
  FROM dy
), j AS (
  SELECT rx.r2 AS a, ry.r2 AS b
  FROM f JOIN rx ON f.x = rx.x JOIN ry ON f.y = ry.y
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(a AS HUGEINT)) AS sa, SUM(CAST(b AS HUGEINT)) AS sb,
         SUM(CAST(a AS HUGEINT) * a) AS saa,
         SUM(CAST(b AS HUGEINT) * b) AS sbb,
         SUM(CAST(a AS HUGEINT) * b) AS sab
  FROM j
), nd AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM dx) AS n_distinct_x,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM dy) AS n_distinct_y
)
SELECT n AS n_users, n_distinct_x, n_distinct_y,
       ROUND((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
              - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                     - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                       - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))),
             6) AS rho_spearman
FROM s, nd
""",
)
def spearman_activity_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation between per-user event count and
    per-user total value — the tie-aware nonparametric companion to
    the Pearson family, sharing the engine's exact-rank protocol:
    doubled average ranks (2*rank_base + tie_count + 1) per DISTINCT
    value are exact BIGINTs from value-domain rollups + domain
    windows (never a row-level sort), and every moment sum runs in
    overflow-safe wide integers (decimal(38) here, HUGEINT in the
    twin — doubled ranks reach ~2n, so squared-rank sums pass 2^63
    beyond ~1e5 users x high tiers). Pearson-on-ranks handles ties
    exactly where the classic 6*Sum(d^2) shortcut silently doesn't.
    Shape: one fact scan into the user rollup, two value-domain
    windows, two user-domain joins, one 1-row moment aggregate."""
    ev = read_table(spark, sf_dir, "events")
    # user rollup cached (r13, guide §1.3): f feeds both rank
    # domains AND the moment join — uncached, the events scan +
    # user aggregate executed 3x; the cache is user-sized (2 longs)
    f = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y"),
    ).select("x", "y").cache()

    def ranks(col: str) -> DataFrame:
        d = f.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        return d.select(
            col,
            (
                2
                * F.coalesce(
                    F.sum("cnt").over(
                        Window.orderBy(col).rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0),
                ).cast("long")
                + F.col("cnt")
                + 1
            ).alias("r2"),
        )

    # rank tables cached: each feeds the moment join AND its
    # distinct-count readout (value-domain-sized)
    rx = ranks("x").withColumnRenamed("r2", "a").cache()
    ry = ranks("y").withColumnRenamed("r2", "b").cache()
    j = f.join(F.broadcast(rx), "x").join(ry, "y").select("a", "b")
    dec = lambda c: F.col(c).cast("decimal(14,0)")  # noqa: E731
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("a")).alias("sa"),
        F.sum(dec("b")).alias("sb"),
        F.sum(dec("a") * dec("a")).alias("saa"),
        F.sum(dec("b") * dec("b")).alias("sbb"),
        F.sum(dec("a") * dec("b")).alias("sab"),
    )
    nd = rx.agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_x")
    ).crossJoin(
        F.broadcast(
            ry.agg(F.count(F.lit(1)).cast("long").alias("n_distinct_y"))
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return s.crossJoin(F.broadcast(nd)).select(
        F.col("n").alias("n_users"),
        "n_distinct_x",
        "n_distinct_y",
        F.round(
            (d("n") * d("sab") - d("sa") * d("sb"))
            / F.sqrt(
                (d("n") * d("saa") - d("sa") * d("sa"))
                * (d("n") * d("sbb") - d("sb") * d("sb"))
            ),
            6,
        ).alias("rho_spearman"),
    )


_BH_Q = 0.1
_BH_SEGS = 10


def _bh_oracle() -> str:
    from feast_hive_spark.functions import norm_sf_sql

    v1 = ("((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)"
          " / (n1 - 1))")
    v2 = ("((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)"
          " / (n2 - 1))")
    return f"""
WITH e AS (
  SELECT user_id % {_BH_SEGS} AS seg,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1,
         CAST(ROUND(value * 1000000) AS BIGINT) AS vm
  FROM events WHERE event_type IN ('click', 'view')
), m AS (
  SELECT seg,
         CAST(SUM(is1) AS BIGINT) AS n1,
         CAST(SUM(1 - is1) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN is1 = 1 THEN vm ELSE 0 END) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN is1 = 0 THEN vm ELSE 0 END) AS BIGINT) AS s2,
         SUM(CASE WHEN is1 = 1 THEN CAST(vm AS HUGEINT) * vm
             ELSE 0 END) AS q1,
         SUM(CASE WHEN is1 = 0 THEN CAST(vm AS HUGEINT) * vm
             ELSE 0 END) AS q2
  FROM e GROUP BY seg
), zt AS (
  SELECT seg, n1, n2,
         (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
         / sqrt({v1} / n1 + {v2} / n2) AS z
  FROM m
), pt AS (
  SELECT seg, n1, n2, z, 2.0 * {norm_sf_sql('ABS(z)')} AS p FROM zt
), rk AS (
  SELECT seg, n1, n2, z, p,
         CAST(ROW_NUMBER() OVER (ORDER BY p, seg) AS BIGINT) AS bh_rank
  FROM pt
), k AS (
  SELECT COALESCE(MAX(CASE WHEN p <= bh_rank * {_BH_Q} / {_BH_SEGS}
                      THEN bh_rank END), 0) AS kmax
  FROM rk
)
SELECT seg, n1 AS n_click, n2 AS n_view,
       ROUND(z, 6) AS z_stat, ROUND(p, 6) AS p_value, bh_rank,
       bh_rank <= kmax AS flagged
FROM rk, k
ORDER BY seg
"""


@register("bh_fdr_segment_tests", _bh_oracle())
def bh_fdr_segment_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over a battery of per-segment
    Welch z-tests (Benjamini & Hochberg 1995) — the multiple-
    comparisons discipline an experimentation platform needs the
    moment it slices one metric by ten segments: per user-id segment,
    a Welch z between click and view values (exact integer moments,
    wide-integer squared sums); two-sided p-values via the shared
    A&S 26.2.17 normal-CDF polynomial (neither engine ships erf, so
    BOTH evaluate the identical literal polynomial — p-values are
    bit-reproducible across the oracle boundary); then the BH
    step-up rule at q=0.1 flags segments below their rank threshold.
    Shape: ONE fact scan into a segment-domain moment aggregate;
    ranking and the step-up max are windows over <= 10 rows."""
    from feast_hive_spark.functions import norm_sf

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    e = ev.select(
        (F.col("user_id") % _BH_SEGS).alias("seg"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
            "is1"
        ),
        F.round(F.col("value") * 1000000).cast("long").alias("vm"),
    )
    vmd = F.col("vm").cast("decimal(18,0)")
    m = e.groupBy("seg").agg(
        F.sum("is1").cast("long").alias("n1"),
        F.sum(1 - F.col("is1")).cast("long").alias("n2"),
        F.sum(F.when(F.col("is1") == 1, F.col("vm")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("is1") == 0, F.col("vm")).otherwise(0))
        .cast("long")
        .alias("s2"),
        F.sum(
            F.when(F.col("is1") == 1, vmd * vmd).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("q1"),
        F.sum(
            F.when(F.col("is1") == 0, vmd * vmd).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("q2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    v1 = (d("q1") - d("s1") * F.col("s1") / F.col("n1")) / (
        F.col("n1") - 1
    )
    v2 = (d("q2") - d("s2") * F.col("s2") / F.col("n2")) / (
        F.col("n2") - 1
    )
    zt = m.select(
        "seg",
        "n1",
        "n2",
        (
            (d("s1") / F.col("n1") - d("s2") / F.col("n2"))
            / F.sqrt(v1 / F.col("n1") + v2 / F.col("n2"))
        ).alias("z"),
    )
    pt = zt.withColumn("p", F.lit(2.0) * norm_sf(F.abs(F.col("z"))))
    rk = pt.withColumn(
        "bh_rank",
        F.row_number()
        .over(Window.orderBy("p", "seg"))
        .cast("long"),
    )
    k = rk.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p")
                    <= F.col("bh_rank") * _BH_Q / _BH_SEGS,
                    F.col("bh_rank"),
                )
            ),
            F.lit(0).cast("long"),
        ).alias("kmax")
    )
    return (
        rk.crossJoin(F.broadcast(k))
        .select(
            "seg",
            F.col("n1").alias("n_click"),
            F.col("n2").alias("n_view"),
            F.round("z", 6).alias("z_stat"),
            F.round("p", 6).alias("p_value"),
            "bh_rank",
            (F.col("bh_rank") <= F.col("kmax")).alias("flagged"),
        )
        .transform(_sorted_readout, "seg", max_rows=10_000)
    )


_PWR_ZA = 1.9599639845400545  # alpha = 0.05 two-sided
_PWR_ZB = 0.8416212335729143  # power = 0.8


def _power_oracle() -> str:
    v1 = ("((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)"
          " / (n1 - 1))")
    v2 = ("((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2)"
          " / (n2 - 1))")
    mde = (f"(({_PWR_ZA!r} + {_PWR_ZB!r})"
           f" * sqrt({v1} / n1 + {v2} / n2) / 1000000.0)")
    return f"""
WITH e AS (
  SELECT user_id % {_BH_SEGS} AS seg,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1,
         CAST(ROUND(value * 1000000) AS BIGINT) AS vm
  FROM events WHERE event_type IN ('click', 'view')
), m AS (
  SELECT seg,
         CAST(SUM(is1) AS BIGINT) AS n1,
         CAST(SUM(1 - is1) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN is1 = 1 THEN vm ELSE 0 END) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN is1 = 0 THEN vm ELSE 0 END) AS BIGINT) AS s2,
         SUM(CASE WHEN is1 = 1 THEN CAST(vm AS HUGEINT) * vm
             ELSE 0 END) AS q1,
         SUM(CASE WHEN is1 = 0 THEN CAST(vm AS HUGEINT) * vm
             ELSE 0 END) AS q2
  FROM e GROUP BY seg
)
SELECT seg, n1 AS n_click, n2 AS n_view,
       ROUND(sqrt({v1}) / 1000000.0, 4) AS sd_click,
       ROUND(sqrt({v2}) / 1000000.0, 4) AS sd_view,
       ROUND({mde}, 6) AS mde_value,
       CAST(ROUND(1e6 * {mde} / (CAST(s2 AS DOUBLE) / n2 / 1000000.0))
            AS BIGINT) AS mde_rel_ppm
FROM m
ORDER BY seg
"""


@register("ab_power_mde_report", _power_oracle())
def ab_power_mde_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment minimum-detectable-effect report — the power
    analysis an experimentation platform runs BEFORE launching: at
    alpha=0.05 (two-sided) and 80% power, MDE = (z_a + z_b) *
    sqrt(v1/n1 + v2/n2) per user-id segment, against the click/view
    arm sizes and variances the segment actually has, plus the MDE
    relative to the control mean (the 'can we even detect a 5% lift
    here' number). Exact integer moments, wide-integer squared sums;
    one fact scan into a segment-domain aggregate, no joins, no
    windows."""
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    e = ev.select(
        (F.col("user_id") % _BH_SEGS).alias("seg"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
            "is1"
        ),
        F.round(F.col("value") * 1000000).cast("long").alias("vm"),
    )
    vmd = F.col("vm").cast("decimal(18,0)")
    m = e.groupBy("seg").agg(
        F.sum("is1").cast("long").alias("n1"),
        F.sum(1 - F.col("is1")).cast("long").alias("n2"),
        F.sum(F.when(F.col("is1") == 1, F.col("vm")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("is1") == 0, F.col("vm")).otherwise(0))
        .cast("long")
        .alias("s2"),
        F.sum(
            F.when(F.col("is1") == 1, vmd * vmd).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("q1"),
        F.sum(
            F.when(F.col("is1") == 0, vmd * vmd).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("q2"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    v1 = (d("q1") - d("s1") * F.col("s1") / F.col("n1")) / (
        F.col("n1") - 1
    )
    v2 = (d("q2") - d("s2") * F.col("s2") / F.col("n2")) / (
        F.col("n2") - 1
    )
    mde = (
        F.lit(_PWR_ZA + _PWR_ZB)
        * F.sqrt(v1 / F.col("n1") + v2 / F.col("n2"))
        / F.lit(1000000.0)
    )
    return m.select(
        "seg",
        F.col("n1").alias("n_click"),
        F.col("n2").alias("n_view"),
        F.round(F.sqrt(v1) / F.lit(1000000.0), 4).alias("sd_click"),
        F.round(F.sqrt(v2) / F.lit(1000000.0), 4).alias("sd_view"),
        F.round(mde, 6).alias("mde_value"),
        F.round(
            F.lit(1e6)
            * mde
            / (d("s2") / F.col("n2") / F.lit(1000000.0))
        )
        .cast("long")
        .alias("mde_rel_ppm"),
    ).transform(_sorted_readout, "seg", max_rows=10_000)


_NEY_BUDGET = 1000


def _neyman_oracle(b: int = _NEY_BUDGET) -> str:
    sd = ("sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)"
          " / (n - 1))")
    return f"""
WITH m AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n_chars) AS BIGINT) AS s,
         SUM(CAST(n_chars AS HUGEINT) * n_chars) AS q
  FROM documents GROUP BY lang
), t AS (
  SELECT lang, n, {sd} AS sd,
         CAST(ROUND(1e6 * n * {sd}) AS BIGINT) AS ns_e6,
         CAST(ROUND(1e3 * n * {sd} * {sd}) AS BIGINT) AS ns2_e3
  FROM m
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(ns_e6) AS BIGINT) AS sns,
         CAST(SUM(ns2_e3) AS BIGINT) AS sns2
  FROM t
)
SELECT lang, n AS n_docs, ROUND(sd, 4) AS sd_chars,
       CAST(ROUND(1e6 * n / nn) AS BIGINT) AS alloc_prop_ppm,
       CAST(ROUND(1e6 * ns_e6 / sns) AS BIGINT) AS alloc_neyman_ppm,
       ({b} * ns_e6) // sns AS n_neyman,
       ROUND((CAST(nn AS DOUBLE) * sns2 * 1e-3)
             / ((CAST(sns AS DOUBLE) * 1e-6)
                * (CAST(sns AS DOUBLE) * 1e-6)), 6) AS deff_gain
FROM t, tot
ORDER BY lang
"""


@register("neyman_allocation_report", _neyman_oracle())
def neyman_allocation_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Neyman-optimal stratified sampling allocation (Neyman 1934)
    over language strata of the document corpus: per stratum, the
    share of a fixed annotation/eval budget proportional to N_h*S_h
    (stratum size x std dev of doc length) vs the naive proportional
    N_h share, plus the design-effect gain V_prop/V_neyman — the
    measured payoff of allocating labelers/eval samples where the
    variance lives. Determinism: N_h*S_h and N_h*S_h^2 are quantized
    to exact fixed-point integers BEFORE the cross-stratum sums, so
    weights and the gain ratio come from identical integers in both
    engines, and the integer-division floor allocation is exact.
    Shape: one scan into a language-domain moment aggregate; all
    downstream structures are #languages rows."""
    docs = read_table(spark, sf_dir, "documents")
    ncd = F.col("n_chars").cast("decimal(18,0)")
    m = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("s"),
        F.sum(ncd * ncd).alias("q"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    sd = F.sqrt(
        (d("q") - d("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    )
    t = m.select(
        "lang",
        "n",
        sd.alias("sd"),
        F.round(F.lit(1e6) * F.col("n") * sd).cast("long").alias(
            "ns_e6"
        ),
        F.round(F.lit(1e3) * F.col("n") * sd * sd)
        .cast("long")
        .alias("ns2_e3"),
    )
    tot = t.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("ns_e6").cast("long").alias("sns"),
        F.sum("ns2_e3").cast("long").alias("sns2"),
    )
    return (
        t.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("n").alias("n_docs"),
            F.round("sd", 4).alias("sd_chars"),
            F.round(F.lit(1e6) * F.col("n") / F.col("nn"))
            .cast("long")
            .alias("alloc_prop_ppm"),
            F.round(F.lit(1e6) * F.col("ns_e6") / F.col("sns"))
            .cast("long")
            .alias("alloc_neyman_ppm"),
            F.expr(f"({_NEY_BUDGET} * ns_e6) div sns").alias(
                "n_neyman"
            ),
            F.round(
                (d("nn") * d("sns2") * F.lit(1e-3))
                / (
                    (d("sns") * F.lit(1e-6))
                    * (d("sns") * F.lit(1e-6))
                ),
                6,
            ).alias("deff_gain"),
        )
        .transform(_sorted_readout, "lang", max_rows=10_000)
    )


_JCE_SPECS = [
    ("orders-lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("part-lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
    ("customer-orders", "customer", "c_custkey", "orders", "o_custkey"),
]


def _jce_oracle() -> str:
    parts = []
    for name, ta, ka, tb, kb in _JCE_SPECS:
        parts.append(f"""
SELECT '{name}' AS join_name, na.n AS n_left, nb.n AS n_right,
       na.d AS ndv_left, nb.d AS ndv_right,
       (na.n * nb.n) // GREATEST(na.d, nb.d) AS est_rows,
       ac.actual AS actual_rows,
       ROUND(CAST(ac.actual AS DOUBLE)
             / ((na.n * nb.n) // GREATEST(na.d, nb.d)), 4) AS err_ratio
FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT {ka}) AS BIGINT) AS d FROM {ta}) na,
     (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT {kb}) AS BIGINT) AS d FROM {tb}) nb,
     (SELECT CAST(SUM(ca * cb) AS BIGINT) AS actual
      FROM (SELECT {ka} AS k, CAST(COUNT(*) AS BIGINT) AS ca
            FROM {ta} GROUP BY {ka}) a
      JOIN (SELECT {kb} AS k, CAST(COUNT(*) AS BIGINT) AS cb
            FROM {tb} GROUP BY {kb}) b USING (k)) ac
""")
    return " UNION ALL ".join(parts) + " ORDER BY join_name"


@register("join_cardinality_estimation_audit", _jce_oracle())
def join_cardinality_estimation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Join cardinality estimation error audit — the System-R /
    Selinger textbook estimate |A ⋈ B| = |A||B| / max(ndv_A, ndv_B)
    (the formula behind every cost-based join-order and broadcast
    decision, Catalyst's included) measured against the TRUE join
    cardinality for the schema's three FK joins. The truth is
    computed WITHOUT executing the join: the key-histogram dot
    product Sum_k c_A(k) * c_B(k) — two grouped rollups and a
    key-domain equi-join, the scale-correct way to size a join
    before running it. err_ratio near 1 certifies the uniformity
    assumption; big deviations are exactly where a cost-based
    optimizer mis-plans (skew). Shape per spec: two scans, two
    key-domain rollups, one domain join, 1-row outputs unioned."""
    out = None
    for name, ta, ka, tb, kb in _JCE_SPECS:
        a = read_table(spark, sf_dir, ta)
        b = read_table(spark, sf_dir, tb)
        # cached (r13, §1.3): each histogram feeds its (n, ndv) fold
        # AND the truth dot-product join — uncached, every fact table
        # scanned+aggregated twice per edge
        ga = a.groupBy(F.col(ka).alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("ca")
        ).cache()
        gb = b.groupBy(F.col(kb).alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("cb")
        ).cache()
        # r13 optimization (guide §2.4): derive (row count, NDV) from
        # the key histogram instead of a second full scan with a
        # COUNT(DISTINCT) expand — SUM(ca) == COUNT(*) (a NULL key is
        # one histogram group whose ca counts its rows) and
        # COUNT(k) == COUNT(DISTINCT key) (skips only the NULL group,
        # exactly like COUNT(DISTINCT)). Halves the scans per spec and
        # removes two expand-aggregates; the histogram was already
        # being built for the truth dot product.
        na = ga.agg(
            F.sum("ca").cast("long").alias("n_left"),
            F.count("k").cast("long").alias("ndv_left"),
        )
        nb = gb.agg(
            F.sum("cb").cast("long").alias("n_right"),
            F.count("k").cast("long").alias("ndv_right"),
        )
        ac = ga.join(gb, "k").agg(
            F.sum(F.col("ca") * F.col("cb"))
            .cast("long")
            .alias("actual_rows")
        )
        row = (
            na.crossJoin(F.broadcast(nb))
            .crossJoin(F.broadcast(ac))
            .select(
                F.lit(name).alias("join_name"),
                "n_left",
                "n_right",
                "ndv_left",
                "ndv_right",
                F.expr(
                    "(n_left * n_right)"
                    " div greatest(ndv_left, ndv_right)"
                ).alias("est_rows"),
                "actual_rows",
                F.round(
                    F.col("actual_rows").cast("double")
                    / F.expr(
                        "(n_left * n_right)"
                        " div greatest(ndv_left, ndv_right)"
                    ),
                    4,
                ).alias("err_ratio"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return _sorted_readout(out, "join_name", max_rows=10_000)
