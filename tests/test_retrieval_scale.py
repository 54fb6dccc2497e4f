"""RetrievalJob surface + scale-path tests: on-demand transforms,
date-partition pruning, sort-merge PIT fallback."""

import os
from datetime import datetime, timedelta

import pandas as pd
import pytest
from pyspark.sql import functions as F

from feast_hive_spark.plans import pit
from feast_hive_spark.plans.pit import FeatureView, get_historical_features
from feast_hive_spark.plans.pull import pull_latest
from feast_hive_spark.retrieval import RetrievalJob

from conftest import cached_rdd_ids


def test_retrieval_job_lazy_and_on_demand(spark):
    """ODFV passthrough parity (hive.py:266-268, :309-311): transforms
    run client-side after collection; job is lazy until to_df."""
    executed = []

    def build():
        executed.append(True)
        return spark.createDataFrame(pd.DataFrame({"a": [1.0, 2.0]}))

    def odfv(pdf):
        pdf["a_plus_one"] = pdf["a"] + 1
        return pdf

    job = RetrievalJob(build, on_demand_transforms=[odfv])
    assert not executed  # lazy
    out = job.to_df()
    assert executed
    assert out["a_plus_one"].tolist() == [2.0, 3.0]

    at = RetrievalJob(build, on_demand_transforms=[odfv]).to_arrow()
    assert "a_plus_one" in at.column_names


def test_pull_latest_date_partition_pruning(spark, tmp_path):
    """date_partition_column (the knob the reference plumbs through
    but never uses, hive_source.py:92/:116) must prune partitions at
    the scan: the physical plan's partition filters include the date
    bounds, and results stay correct."""
    base = datetime(2024, 3, 1)
    pdf = pd.DataFrame(
        {
            "k": [1, 1, 2, 2, 1, 2],
            "ts": [base + timedelta(days=d, hours=1) for d in range(6)],
            "v": [float(i) for i in range(6)],
        }
    )
    pdf["dt"] = pdf["ts"].dt.date.astype(str)
    path = os.path.join(str(tmp_path), "part_events")
    spark.createDataFrame(pdf).write.partitionBy("dt").parquet(path)

    df = spark.read.parquet(path)
    got = pull_latest(
        df,
        ["k"],
        ["v"],
        "ts",
        None,
        base + timedelta(days=1),
        base + timedelta(days=3, hours=2),
        date_partition_column="dt",
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "dt" in plan
    out = got.toPandas()
    by_k = out.set_index("k")["v"]
    assert by_k[1] == 1.0  # day-1 row is k=1's only in-range row
    assert by_k[2] == 3.0  # day-3 row beats day-2 for k=2


@pytest.mark.parametrize("broadcast,max_rows", [
    (True, 1_000_000),    # size arm off -> forced broadcast hints
    ("auto", 1_000_000),  # small feature side -> hints dropped
    ("auto", 1),          # guardrail trips -> sort-merge fallback
])
def test_pit_broadcast_and_smj_paths_agree(
    spark, monkeypatch, broadcast, max_rows
):
    """The broadcast policy's three physical shapes return the same
    rows: forced entity-side broadcasts, hints dropped for a small
    feature side, and the sort-merge fallback past the row-count
    guardrail (``max_rows`` is ``pit._BROADCAST_MAX_ROWS``)."""
    monkeypatch.setattr(pit, "_BROADCAST_MAX_ROWS", max_rows)
    if broadcast is True:
        monkeypatch.setattr(pit, "_SMALL_FEATURES_BYTES", 0)
    base = datetime(2024, 1, 10, 12, 0)
    entity_pdf = pd.DataFrame(
        {
            "k": [1, 2, 3],
            "event_timestamp": [base, base, base + timedelta(hours=2)],
        }
    )
    feature_pdf = pd.DataFrame(
        {
            "k": [1, 2, 3, 3],
            "ts": [
                base - timedelta(hours=1),
                base - timedelta(hours=3),
                base - timedelta(hours=1),
                base + timedelta(hours=1),
            ],
            "v": [1.0, 2.0, 3.0, 4.0],
        }
    )
    fv = FeatureView(
        name="fv",
        source=spark.createDataFrame(feature_pdf),
        join_keys=["k"],
        features=["v"],
        event_timestamp_column="ts",
    )
    got = (
        get_historical_features(spark, entity_pdf, [fv])
        .to_df()
        .set_index("k")["v"]
    )
    assert got.to_dict() == {1: 1.0, 2: 2.0, 3: 4.0}


def test_retrievals_without_close_leave_storage_at_baseline(spark, sf_dir):
    """A PIT retrieval pins nothing: N retrievals in a long-lived
    session, never closed, leave block-manager storage at the
    pre-retrieval baseline. close() stays a callable no-op (twice, and
    through the context manager), the plan still answers afterwards,
    and a pandas-entity plan reads no in-memory relation."""
    from feast_hive_spark.sources.tables import read_table

    ev = read_table(spark, sf_dir, "events")
    entities = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("event_timestamp")
    )
    feats = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("fts"), "value"
    )
    fv = FeatureView(
        name="clicks", source=feats, join_keys=["user_id"],
        features=["value"], event_timestamp_column="fts",
    )
    baseline = cached_rdd_ids(spark)
    jobs = []
    for _ in range(3):
        job = get_historical_features(spark, entities, [fv])
        rows = job.to_spark_df().count()
        assert rows > 0
        jobs.append(job)
    # entries cached by OTHER components may be concurrently evicted
    # (async), so the invariant is set-difference, not count equality
    assert not (cached_rdd_ids(spark) - baseline)
    jobs[0].close()
    jobs[0].close()
    assert jobs[0].to_spark_df().count() == rows
    with get_historical_features(spark, entities, [fv]) as job:
        assert job.to_spark_df().count() == rows
    assert not (cached_rdd_ids(spark) - baseline)

    entity_pdf = entities.limit(20).toPandas()
    df = get_historical_features(spark, entity_pdf, [fv]).to_spark_df()
    assert len(df.collect()) == len(entity_pdf) > 0
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in executed
    assert not (cached_rdd_ids(spark) - baseline)
