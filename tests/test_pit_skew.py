"""Load-level verification of the PIT join's skew-immunity claim.

plans/pit.py argues that the max_by hash/sort aggregate collapses a
whale entity key (one key owning half the feature table) to one row
per map partition BEFORE the shuffle — unlike a row_number window
without Spark's WindowGroupLimit rewrite, which ships every joined row
of the hot key through one shuffle partition.  The plan audit shows
partial_max_by in the plan; this test reads the EXECUTED plan's
shuffle metrics and proves the collapse actually happened at runtime
(the reference has no equivalent — Hive owned execution,
hive.py:192-269)."""

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from feast_hive_spark.plans import pit
from feast_hive_spark.plans.pit import FeatureView, get_historical_features

N_FEAT = 200_000
N_KEYS = 40


from conftest import shuffle_records as _shuffle_records  # noqa: E402


@pytest.fixture(scope="module")
def whale(spark):
    """Feature table where key 1 owns 50% of all rows; 40 entity keys,
    one entity timestamp after every event (so every feature row
    survives the range filter and feeds the aggregate)."""
    base = datetime(2024, 1, 10)
    idx = np.arange(N_FEAT)
    keys = np.where(idx % 2 == 0, 1, (idx % (N_KEYS - 1)) + 2)
    feat = pd.DataFrame(
        {
            "k": keys,
            "ts": [
                base - timedelta(seconds=int(i % 3600 + 1))
                for i in range(N_FEAT)
            ],
            "v": idx.astype("float64"),
        }
    )
    ent = pd.DataFrame(
        {"k": np.arange(1, N_KEYS + 1), "event_timestamp": [base] * N_KEYS}
    )
    return ent, spark.createDataFrame(feat)


def _run(spark, whale):
    ent, feat_df = whale
    fv = FeatureView(
        name="fv",
        source=feat_df,
        join_keys=["k"],
        features=["v"],
        event_timestamp_column="ts",
    )
    job = get_historical_features(spark, ent, [fv])
    df = job.to_spark_df()
    rows = df.collect()
    return df, rows


def test_whale_key_collapses_before_shuffle(spark, whale):
    """No shuffle in the whole PIT plan may move O(N_FEAT)
    records — the partial aggregate must reduce the 200k joined rows
    to <= keys x map-partitions before any exchange."""
    df, rows = _run(spark, whale)
    assert len(rows) == N_KEYS
    recs = _shuffle_records(df)
    parts = spark.sparkContext.defaultParallelism
    bound = N_KEYS * parts * 2  # 2x slack for AQE splits
    assert recs, "expected at least one shuffle exchange in the plan"
    assert max(recs) <= bound, (
        f"a shuffle moved {max(recs)} records (bound {bound}) — "
        "map-side collapse did not happen"
    )


def _row_number_latest(spark, whale):
    """The row_number-window formulation of the same as-of pick, over
    a broadcast entity side so the window's exchange is the only
    shuffle that can move feature rows."""
    ent, feat_df = whale
    w = Window.partitionBy("k", "event_timestamp").orderBy(F.col("ts").desc())
    return (
        feat_df.join(F.broadcast(spark.createDataFrame(ent)), "k")
        .filter(F.col("ts") <= F.col("event_timestamp"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("k", "event_timestamp", "v")
    )


def test_disabled_group_limit_ships_the_whale(spark, whale):
    """Negative control: a row_number window with the WindowGroupLimit
    rewrite disabled really does shuffle every joined row — proving
    the recordsRead metric measures exactly what the collapse test
    claims to prevent (and why the engine uses the max_by strategy)."""
    key = "spark.sql.optimizer.windowGroupLimitThreshold"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "-1")
    try:
        df = _row_number_latest(spark, whale)
        rows = df.collect()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert len(rows) == N_KEYS
    assert max(_shuffle_records(df)) >= N_FEAT


def test_skewed_fixture_broadcast_smj_parity(spark, whale, monkeypatch):
    """Physical-path parity on the skewed fixture itself: broadcast
    entity join and sort-merge fallback return identical results."""
    with monkeypatch.context() as m:
        m.setattr(pit, "_SMALL_FEATURES_BYTES", 0)  # keep the hints
        _, bc = _run(spark, whale)
    with monkeypatch.context() as m:
        m.setattr(pit, "_BROADCAST_MAX_ROWS", 0)  # guard trips
        _, smj = _run(spark, whale)
    key = lambda r: r["k"]
    assert sorted(bc, key=key) == sorted(smj, key=key)
