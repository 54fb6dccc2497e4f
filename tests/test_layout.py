"""Tests for operators/layout.py (Z-order clustering keys)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from feast_hive_spark.operators import layout as L


def _sample(spark, n=256):
    return spark.range(n).select(
        F.col("id").alias("rid"),
        (F.col("id") % 16).alias("x"),
        (F.col("id") / 16).cast("long").alias("y"),
    )


def test_zorder_keys_deterministic_and_bounded(spark):
    df = _sample(spark)
    a = {r["rid"]: r["__z"] for r in L.zorder_keys(df, ["x", "y"], bits=4).collect()}
    b = {r["rid"]: r["__z"] for r in L.zorder_keys(df, ["x", "y"], bits=4).collect()}
    assert a == b
    assert all(0 <= z < (1 << 8) for z in a.values())


def test_zorder_interleave_exact():
    # 2-bit grids: x=0b10, y=0b01 -> z bits: x1 y1 x0 y0 = 1 0 0 1
    import pyspark.sql.functions as F  # noqa: F811

    from feast_hive_spark.session import get_spark

    spark = get_spark(app_name="feast_hive_spark_tests")
    df = spark.createDataFrame([(2, 1)], ["gx", "gy"])
    z = df.select(
        L.zvalue([F.col("gx"), F.col("gy")], bits=2).alias("z")
    ).collect()[0]["z"]
    assert z == 0b1001


def test_zorder_buckets_are_locally_tight(spark):
    # a z-bucket (top bits of the key) must span a narrow range of
    # EACH participating column — the pruning property the layout buys
    df = _sample(spark, 1024).select("rid", "x", (F.col("rid") % 64).alias("y"))
    keyed = L.zorder_keys(df, ["x", "y"], bits=6)
    stats = (
        keyed.groupBy(F.shiftright("__z", 8).alias("b"))
        .agg(
            (F.max("x") - F.min("x")).alias("xr"),
            (F.max("y") - F.min("y")).alias("yr"),
        )
        .collect()
    )
    assert len(stats) > 1
    # every bucket's x-range and y-range are far below the global 15/63
    assert max(r["xr"] for r in stats) <= 7
    assert max(r["yr"] for r in stats) <= 31


def test_zorder_repartition_sorted_and_lossless(spark):
    df = _sample(spark, 512)
    out = L.zorder_repartition(df, ["x", "y"], bits=4, num_partitions=4)
    assert sorted(r["rid"] for r in out.collect()) == list(range(512))
    # partitions cover contiguous, locally-sorted z-ranges
    keyed = L.zorder_keys(df, ["x", "y"], bits=4)
    zs = (
        keyed.repartitionByRange(4, F.col("__z"))
        .sortWithinPartitions("__z")
        .select(F.spark_partition_id().alias("p"), "__z")
        .collect()
    )
    by_part = {}
    for r in zs:
        by_part.setdefault(r["p"], []).append(r["__z"])
    for vals in by_part.values():
        assert vals == sorted(vals)
    bounds = sorted((min(v), max(v)) for v in by_part.values())
    for (_, hi), (lo, _) in zip(bounds, bounds[1:]):
        assert hi <= lo


def test_zorder_degenerate_and_guards(spark):
    df = spark.createDataFrame([(1, 5, 1.0), (2, 5, 2.0)], ["rid", "c", "v"])
    # constant column collapses to grid 0 and must not divide by zero
    rows = L.zorder_keys(df, ["c", "v"], bits=4).collect()
    assert all(r["__z"] is not None for r in rows)
    with pytest.raises(ValueError):
        L.zorder_keys(df, [], bits=4)
    with pytest.raises(ValueError):
        L.zorder_keys(df, ["c", "v"], bits=32)
