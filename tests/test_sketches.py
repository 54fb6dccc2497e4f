"""Mergeable-sketch operator tests: the property the 100 TB pattern
rests on is that UNION-of-partial-sketches equals the sketch of the
union — rollups over persisted daily sketches must estimate the same
as a from-scratch sketch over the raw data."""

from datetime import datetime, timedelta

import pandas as pd
import pytest
from pyspark.sql import functions as F

from feast_hive_spark.operators import sketches as SK


@pytest.fixture(scope="module")
def events(spark):
    base = datetime(2024, 3, 1)
    rows = []
    for i in range(5000):
        rows.append(
            {
                "event_type": ["view", "click"][i % 2],
                "ts": base + timedelta(hours=i % 240),  # 10 days
                "user_id": i % 700,  # heavy cross-day overlap
            }
        )
    return spark.createDataFrame(pd.DataFrame(rows))


def test_union_of_daily_sketches_matches_direct_sketch(spark, events):
    daily = SK.hll_daily_sketches(events, ["event_type"], "ts", "user_id")
    rolled = SK.hll_rollup(daily, ["event_type"]).toPandas()
    direct = (
        events.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("user_id"), F.lit(SK.HLL_LG_K))
            ).alias("direct")
        )
        .toPandas()
    )
    m = rolled.merge(direct, on="event_type")
    # identical sketch parameters + deterministic hash -> identical
    # estimates, not merely close ones
    assert (m.approx_distinct == m.direct).all()
    assert (m.n_buckets == 10).all()


def test_rollup_estimate_within_bound(spark, events):
    daily = SK.hll_daily_sketches(events, ["event_type"], "ts", "user_id")
    rolled = SK.hll_rollup(daily, ["event_type"]).toPandas()
    exact = (
        events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_exact"))
        .toPandas()
    )
    m = rolled.merge(exact, on="event_type")
    rel_err = (m.approx_distinct - m.n_exact).abs() / m.n_exact
    assert (rel_err <= 3 * SK.HLL_RSE).all()


def test_cms_one_sided_and_mergeable(spark):
    """CMS invariants: estimates never undercount; a sketch built on
    the union equals the cell-wise SUM of per-partition sketches
    (mergeability — the property that makes it a distributed/
    streaming summary)."""
    import pandas as pd

    from feast_hive_spark.operators.sketches import cms_build, cms_estimate
    from pyspark.sql import functions as F

    pdf = pd.DataFrame({"item": [f"u{i % 37}" for i in range(3000)]})
    df = spark.createDataFrame(pdf)
    sk = cms_build(df, "item", width=64, depth=4)
    items = df.distinct()
    est = cms_estimate(sk, items, "item", width=64, depth=4).toPandas()
    truth = pdf.groupby("item").size()
    for r in est.itertuples():
        assert r.est_n >= truth[r.item]
    # mergeability: sum of two hash-split sketches == full sketch
    a = df.filter(F.crc32(F.col("item")) % 2 == 0)
    b = df.filter(F.crc32(F.col("item")) % 2 == 1)
    merged = (
        cms_build(a, "item", width=64, depth=4)
        .unionByName(cms_build(b, "item", width=64, depth=4))
        .groupBy("row", "bucket")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    full = cms_build(df, "item", width=64, depth=4)
    diff = (
        merged.withColumnRenamed("n", "nm")
        .join(full, ["row", "bucket"], "full_outer")
        .filter(
            F.coalesce("nm", F.lit(0)) != F.coalesce("n", F.lit(0))
        )
        .count()
    )
    assert diff == 0


def test_cms_error_bound_audit_contract(spark, sf_dir):
    """The registry audit row must prove the CMS contract on the
    skewed suppkey stream: one-sided estimates (min overestimate
    >= 0) and a violation rate far under the k^-depth Markov bound
    (k=2, depth=4 -> <= 1/16 expected; allow 2x slack)."""
    from feast_hive_spark.registry import REGISTRY
    import feast_hive_spark.registry_analytics  # noqa: F401

    row = REGISTRY["cms_error_bound_audit"][0](spark, sf_dir).collect()[0]
    assert row["min_overestimate"] >= 0
    assert row["n_items"] > 0
    assert row["n_over_bound"] <= max(1, row["n_items"] * 2 // 16)


def test_cms_inner_product_bounds_exact_join_size(spark):
    # est >= exact always (counters collide upward); on a small
    # domain with width >> cardinality est == exact
    import pyspark.sql.functions as F

    from feast_hive_spark.operators.sketches import (
        cms_build,
        cms_inner_product,
    )

    a = spark.createDataFrame(
        [(i % 7,) for i in range(200)], "k long"
    )
    b = spark.createDataFrame(
        [(i % 5,) for i in range(150)], "k long"
    )
    exact = (
        a.groupBy("k").count().withColumnRenamed("count", "ca")
        .join(b.groupBy("k").count().withColumnRenamed("count", "cb"), "k")
        .agg(F.sum(F.col("ca") * F.col("cb")))
        .first()[0]
    )
    est = cms_inner_product(
        cms_build(a, "k", width=256, depth=4),
        cms_build(b, "k", width=256, depth=4),
    ).first()["est"]
    assert est >= exact
    # min over 4 independent rows: all-4-collide probability is
    # negligible, so the estimate stays within one collision term
    assert est <= exact + 200 * 150 // 256
