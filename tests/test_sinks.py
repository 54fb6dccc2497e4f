"""Online-snapshot sink tests: F4-shaped offline/online consistency
through materialize_online + read_online (reference test shape:
feast_tests_funcs.py:451-501)."""

import random
import re
from datetime import datetime, timedelta
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from conftest import count_jobs
from feast_hive_spark.plans.local import local_frame
from feast_hive_spark.sinks import (
    _buckets,
    _spark_hash,
    materialize_online,
    read_online,
)


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
    # a lookup reads every file of a multi-file bucket
    everyone = read_online(spark, path, ["driver_id"], [(k,) for k in range(40)])
    assert sorted((r.driver_id, r.value) for r in everyone.collect()) == [
        (i, float(i)) for i in range(40)
    ]

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


# ---- lookup semantics: inner-join multiplicity, misses and NULLs ----

_NOW = datetime(2024, 5, 1, 12, 0, 0)


def _snapshot(spark, path):
    """A one-file-per-bucket snapshot keyed by ``driver_id bigint``,
    including a row whose key is NULL."""
    rows = [(1, 0.1), (2, 0.2), (3, 0.3), (None, 9.9)]
    df = spark.createDataFrame(
        [(k, v, _NOW, _NOW) for k, v in rows],
        "driver_id bigint, value double, ts timestamp, created_ts timestamp",
    )
    materialize_online(
        df, path, ["driver_id"], ["value"], "ts", "created_ts",
        _NOW - timedelta(hours=1), _NOW,
    )
    return path


def _bucket_of(spark, key: int) -> int:
    """Spark's own bucket of a bigint key, the one materialize_online wrote."""
    return spark.range(1).select(
        F.pmod(F.hash(F.lit(key).cast("bigint")), F.lit(16))
    ).first()[0]


def test_lookup_repeated_key_answers_once_per_request(spark, tmp_path):
    path = _snapshot(spark, str(tmp_path / "snap"))
    got = read_online(spark, path, ["driver_id"], [(1,), (3,), (1,)])
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, 0.1, _NOW, _NOW), (1, 0.1, _NOW, _NOW), (3, 0.3, _NOW, _NOW),
    ]
    assert got.columns == ["driver_id", "value", "ts", "created_ts"]


def test_lookup_absent_and_null_keys_answer_nothing(spark, tmp_path):
    path = _snapshot(spark, str(tmp_path / "snap"))
    assert read_online(spark, path, ["driver_id"], [(99,)]).collect() == []
    # the snapshot holds a NULL-keyed row; a NULL request still matches
    # nothing, as in an inner join
    got = read_online(spark, path, ["driver_id"], [(None,), (2,)]).collect()
    assert [tuple(r) for r in got] == [(2, 0.2, _NOW, _NOW)]


def test_lookup_key_without_bucket_directory_answers_nothing(spark, tmp_path):
    path = _snapshot(spark, str(tmp_path / "snap"))
    present = {p.name for p in Path(path).glob("__bucket=*")}
    key = next(
        k for k in range(100, 1000)
        if f"__bucket={_bucket_of(spark, k)}" not in present
    )
    assert read_online(spark, path, ["driver_id"], [(key,)]).collect() == []
    got = read_online(spark, path, ["driver_id"], [(key,), (3,)]).collect()
    assert [r.driver_id for r in got] == [3]


def test_lookup_missing_snapshot_names_the_path(spark, tmp_path):
    missing = str(tmp_path / "no_such_snapshot")
    with pytest.raises(Exception, match=re.escape(missing)):
        read_online(spark, missing, ["driver_id"], [(1,)]).collect()


# ---- the driver recomputes Spark's buckets ----


def test_lookup_reads_only_the_requested_buckets(spark, tmp_path):
    """Pruning, seen from the files: a bucket holding a file that is not
    parquet breaks no lookup whose keys hash elsewhere, and breaks the
    same lookup once one of its keys hashes there."""
    path = _snapshot(spark, str(tmp_path / "snap"))
    bad = _bucket_of(spark, 1)
    (Path(path) / f"__bucket={bad}" / "part-garbage.parquet").write_bytes(
        b"not a parquet file"
    )
    others = [k for k in (2, 3) if _bucket_of(spark, k) != bad]
    assert others, "keys 2 and 3 share key 1's bucket"
    got = read_online(spark, path, ["driver_id"], [(k,) for k in others])
    assert sorted(r.driver_id for r in got.collect()) == others
    with pytest.raises(pa.ArrowInvalid):
        read_online(spark, path, ["driver_id"], [(1,), *[(k,) for k in others]])


def test_lookup_builds_without_spark_jobs(spark, tmp_path):
    path = _snapshot(spark, str(tmp_path / "snap"))
    for keys in ([(1,), (3,)], []):
        df, jobs = count_jobs(
            spark, lambda: read_online(spark, path, ["driver_id"], keys)
        )
        assert jobs == 0, keys
        table, jobs = count_jobs(spark, df.toArrow)
        assert jobs <= 1, keys
        assert table.num_rows == len(keys)


_I32 = (-(2**31), 2**31 - 1)
_I64 = (-(2**63), 2**63 - 1)
# every tail length 0-3 over lengths 0-9, multi-byte UTF-8 (whose bytes
# are negative as Java bytes), NUL and a 4-byte code point
_STRINGS = [
    "", None, *("abcdefghi"[:n] for n in range(1, 10)),
    "é", "aé", "日", "ab日", "日本語テキスト", "naïve café", "\x00", "a\U0001d11e",
]


def _assert_parity(spark, ddl, rows, cols):
    """The driver's hash and bucket of ``cols`` equal ``F.hash`` and
    ``pmod(hash, 16)`` over the same rows."""
    df = local_frame(spark, rows, ddl).select(
        "*",
        F.hash(*cols).alias("h"),
        F.pmod(F.hash(*cols), F.lit(16)).alias("b"),
    )
    t = df.toArrow()
    columns = [t[c] for c in cols]
    types = [df.schema[c].dataType for c in cols]
    assert _spark_hash(columns, types).tolist() == t["h"].to_pylist()
    assert _buckets(columns, types, 16).tolist() == t["b"].to_pylist()


@pytest.mark.parametrize("ddl,lo_hi", [("k int", _I32), ("k bigint", _I64)])
def test_driver_hash_matches_spark_for_integers(spark, ddl, lo_hi):
    lo, hi = lo_hi
    rng = random.Random(42)
    keys = [0, 1, -1, *_I32, *lo_hi, None]
    keys += [rng.randint(lo, hi) for _ in range(200)]
    _assert_parity(spark, ddl, [(k,) for k in keys], ["k"])


def test_driver_hash_matches_spark_for_strings(spark):
    rng = random.Random(42)
    alphabet = "ab1é日\U0001d11e"
    keys = _STRINGS + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
        for _ in range(200)
    ]
    _assert_parity(spark, "k string", [(k,) for k in keys], ["k"])


def test_driver_hash_matches_spark_for_two_column_keys(spark):
    rng = random.Random(42)
    ints = [0, -1, *_I32, None] + [rng.randint(*_I32) for _ in range(40)]
    rows = [(s, i) for s in _STRINGS for i in rng.sample(ints, 5)]
    _assert_parity(spark, "s string, i int", rows, ["s", "i"])
    _assert_parity(spark, "s string, i int", rows, ["i", "s"])
