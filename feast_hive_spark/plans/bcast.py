"""Size-gated broadcast-hint policy (r12).

OSS Spark does NOT demote an explicit broadcast join hint: a user hint
wins over every size statistic, and AQE's OptimizeSkewedJoin /
DynamicJoinSelection rules only re-plan joins the user left to the
optimizer — a hinted broadcast stays a broadcast however large the
build side turns out at runtime. That makes a hard ``F.broadcast(dim)``
on a dimension that grows with the data (customer / part / supplier in
the TPC-H family) not a slowdown at 100x but a driver+executor OOM:
the scale harness's own 100x-grown customer table measured q5 at a
0.870 time exponent from exactly this forced collect-and-ship.

The policy here mirrors the PIT retrieval path's two-armed auto
broadcast (plans/pit.py get_historical_features, r10): pin the plan
with an explicit hint only while the build side is PROVABLY small by
Catalyst's own driver-side size estimate (``optimizedPlan().stats().
sizeInBytes`` — file bytes for scans, no job); past the gate, return
the frame unhinted and let Catalyst/AQE pick the strategy from the
same statistics plus, under AQE, exact runtime sizes.

The gate: 16 MiB of estimated input bytes. Above Spark's 10 MiB
default ``autoBroadcastJoinThreshold`` (so the hint still buys a
deterministic broadcast for the 10-16 MiB dims Catalyst's conservative
default would shuffle — robustly safe on any real executor), but far
below the hundreds-of-MiB zone where a forced broadcast stops being
free insurance and becomes the failure mode. ``GATE_BYTES`` is a
module constant; tests monkeypatch it to reach either arm.

Hard (ungated) ``F.broadcast`` remains correct ONLY for frames whose
size is bounded by SCHEMA, not by data volume: nation/region (fixed
key domains), ungrouped aggregates (1 row), and aggregates grouped by
a low-cardinality enum column. Registry call sites keep hard hints for
those and route every volume-growing dimension through here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GATE_BYTES = 16 << 20


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's own size estimate for a plan (driver-side, no job):
    file-relation bytes for scans, materialized storage size for
    cached relations, pass-through for filters/projections without
    CBO column stats — the same statistic autoBroadcastJoinThreshold
    consults."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def gated_broadcast(df: DataFrame, probe: "DataFrame | None" = None) -> DataFrame:
    """``F.broadcast(df)`` while the size estimate stays under the
    gate; the bare frame (optimizer's choice) otherwise.

    ``probe``: measure THIS frame instead of ``df`` when ``df`` is a
    row-preserving derivation whose own estimate is inflated (Catalyst
    multiplies join children's sizeInBytes, so supplier⋈nation — a
    row-preserving unique-key lookup — estimates far above the
    supplier scan that actually bounds it). The caller asserts the
    bound; pass the base dimension scan.
    """
    try:
        est = _estimated_bytes(probe if probe is not None else df)
    except Exception:  # Connect sessions have no _jdf — never force
        return df
    return F.broadcast(df) if est <= GATE_BYTES else df


def sql_broadcast_hint(
    spark: SparkSession, sf_dir: str, aliases: "dict[str, str]"
) -> str:
    """Hint comment for SQL-text registry queries: keep only the
    aliases whose table scan passes the gate; empty string when none
    do (valid SQL either way — callers interpolate the result right
    after SELECT).

    ``aliases``: ordered {sql_alias: table_name}.
    """
    from feast_hive_spark.sources.tables import read_table

    keep = []
    for alias, table in aliases.items():
        try:
            est = _estimated_bytes(read_table(spark, sf_dir, table))
        except Exception:
            continue
        if est <= GATE_BYTES:
            keep.append(alias)
    return f"/*+ BROADCAST({', '.join(keep)}) */" if keep else ""
