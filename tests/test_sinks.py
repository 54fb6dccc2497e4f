"""Online-snapshot sink tests: F4-shaped offline/online consistency
through materialize_online + read_online (reference test shape:
feast_tests_funcs.py:451-501)."""

from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import functions as F

from feast_hive_spark.sinks import materialize_online, read_online


def test_materialize_and_lookup(spark, tmp_path):
    now = datetime(2024, 5, 1, 12, 0, 0)
    pdf = pd.DataFrame(
        {
            "driver_id": [1, 2, 1, 3, 3],
            "value": [0.1, None, 0.3, 4.0, 5.0],
            "ts": [
                now - timedelta(hours=4),
                now,
                now - timedelta(hours=3),
                now - timedelta(hours=4),
                now - timedelta(hours=1),
            ],
            "created_ts": [now] * 5,
        }
    )
    df = spark.createDataFrame(pdf)
    path = str(tmp_path / "online")

    materialize_online(
        df, path, ["driver_id"], ["value"], "ts", "created_ts",
        now - timedelta(hours=5), now - timedelta(hours=2),
    )
    got = read_online(spark, path, ["driver_id"], [(1,), (2,), (3,)])
    # partition pruning on the bucket column must appear in the plan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "__bucket" in plan
    vals = got.toPandas().set_index("driver_id")["value"]
    assert vals[1] == 0.3 and vals[3] == 4.0 and 2 not in vals.index

    # incremental window overwrites the snapshot -> driver 3 -> 5
    materialize_online(
        df, path, ["driver_id"], ["value"], "ts", "created_ts",
        now - timedelta(hours=2), now,
    )
    got2 = read_online(spark, path, ["driver_id"], [(2,), (3,)]).toPandas()
    vals2 = got2.set_index("driver_id")["value"]
    assert vals2[3] == 5.0
    assert pd.isna(vals2[2])  # driver 2's only row has a NULL value


def test_lookup_key_dtype_mismatch(spark, tmp_path):
    """Murmur3 F.hash() is type-sensitive: a snapshot written with
    IntegerType keys must still be found by Python-int lookup keys
    (inferred LongType) - read_online aligns dtypes before bucketing."""
    now = datetime(2024, 5, 1, 12, 0, 0)
    pdf = pd.DataFrame(
        {
            "driver_id": [7, 8, 9],
            "value": [1.0, 2.0, 3.0],
            "ts": [now] * 3,
            "created_ts": [now] * 3,
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "driver_id", F.col("driver_id").cast("int")
    )
    path = str(tmp_path / "online_int")
    materialize_online(
        df, path, ["driver_id"], ["value"], "ts", "created_ts",
        now - timedelta(hours=1), now,
    )
    got = read_online(spark, path, ["driver_id"], [(7,), (9,)]).toPandas()
    vals = got.set_index("driver_id")["value"]
    assert vals[7] == 1.0 and vals[9] == 3.0 and len(vals) == 2


def test_lookup_with_no_keys_is_empty_with_lookup_columns(spark, tmp_path):
    """An empty key list answers an empty frame whose columns, types
    and order match a non-empty lookup (composite keys given in the
    opposite order to the snapshot's columns)."""
    now = datetime(2024, 5, 1, 12, 0, 0)
    pdf = pd.DataFrame(
        {
            "a": [1, 2],
            "b": ["x", "y"],
            "value": [1.0, 2.0],
            "ts": [now] * 2,
            "created_ts": [now] * 2,
        }
    )
    path = str(tmp_path / "online_empty")
    materialize_online(
        spark.createDataFrame(pdf), path, ["b", "a"], ["value"], "ts",
        "created_ts", now - timedelta(hours=1), now,
    )
    hit = read_online(spark, path, ["b", "a"], [("y", 2)])
    assert [tuple(r) for r in hit.collect()] == [("y", 2, 2.0, now, now)]
    empty = read_online(spark, path, ["b", "a"], [])
    assert empty.schema == hit.schema
    assert empty.collect() == []


def test_compact_online(spark, tmp_path):
    """Compaction collapses multi-file buckets to one file without
    changing a single row, and point lookups still work."""
    from pathlib import Path

    from feast_hive_spark.sinks import compact_online

    now = datetime(2024, 5, 1, 12, 0, 0)
    pdf = pd.DataFrame(
        {
            "driver_id": list(range(40)),
            "value": [float(i) for i in range(40)],
            "ts": [now] * 40,
            "created_ts": [now] * 40,
        }
    )
    path = str(tmp_path / "online_many")
    # fabricate the multi-file-per-bucket layout an incremental sink
    # accumulates (AQE coalesces a tiny materialize to 1 file/bucket)
    for chunk in (pdf.driver_id < 20, pdf.driver_id >= 20):
        (
            spark.createDataFrame(pdf[chunk])
            .withColumn("__bucket", F.pmod(F.hash("driver_id"), F.lit(16)))
            .coalesce(1)
            .write.mode("append")
            .partitionBy("__bucket")
            .parquet(path)
        )
    before = spark.read.parquet(path).toPandas().sort_values("driver_id")
    multi = [
        b for b in Path(path).glob("__bucket=*")
        if len([f for f in b.iterdir() if f.suffix == ".parquet"]) > 1
    ]
    assert multi, "fixture should produce multi-file buckets"

    stats = compact_online(spark, path)
    assert any(v > 1 for v in stats.values())
    for b in Path(path).glob("__bucket=*"):
        n = len([f for f in b.iterdir() if f.suffix == ".parquet"])
        assert n == 1, f"{b.name} has {n} files"
    after = spark.read.parquet(path).toPandas().sort_values("driver_id")
    pd.testing.assert_frame_equal(
        before.reset_index(drop=True), after.reset_index(drop=True)
    )
    got = read_online(spark, path, ["driver_id"], [(5,), (17,)]).toPandas()
    assert sorted(got.driver_id.tolist()) == [5, 17]
