"""Source + type-map tests (reference: test_hive_source
test_all.py:132-185; hive_type_map.py)."""

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import types as T

from feast_hive_spark.sources import (
    DataSourceNoNameException,
    DataSourceNotFoundException,
    ParquetSource,
    QuerySource,
    TableSource,
    source_from_json,
)
from feast_hive_spark.types import (
    ValueType,
    arrow_to_spark_type,
    hive_to_spark_type,
    hive_to_value_type,
    spark_to_arrow_type,
    spark_to_hive_type,
    spark_to_value_type,
)


def test_table_source_schema(spark):
    src = TableSource("events", event_timestamp_column="ts")
    cols = dict(src.get_table_column_names_and_types(spark))
    assert cols["event_id"] == "bigint"
    assert cols["ts"] == "timestamp"
    assert cols["value"] == "double"
    src.validate(spark)


def test_query_source_schema(spark):
    src = QuerySource(
        "SELECT user_id, count(*) AS n FROM events GROUP BY user_id",
        name="agg",
    )
    cols = dict(src.get_table_column_names_and_types(spark))
    assert cols == {"user_id": "bigint", "n": "bigint"}
    assert src.get_table_query_string().startswith("(")


def test_query_source_requires_name():
    with pytest.raises(DataSourceNoNameException):
        QuerySource("SELECT 1")


def test_missing_table_raises(spark):
    src = TableSource("no_such_table_xyz")
    with pytest.raises(DataSourceNotFoundException):
        src.validate(spark)


def test_invalid_query_raises(spark):
    src = QuerySource("SELECT * FROM no_such_table_xyz", name="bad")
    with pytest.raises(DataSourceNotFoundException):
        src.validate(spark)


def test_parquet_source(spark, sf_dir):
    src = ParquetSource(f"{sf_dir}/lineitem.parquet", event_timestamp_column="l_shipdate")
    cols = dict(src.get_table_column_names_and_types(spark))
    assert cols["l_quantity"] == "double"


def test_field_mapping(spark):
    src = TableSource("events", field_mapping={"ts": "event_ts", "user_id": "driver_id"})
    df = src.to_df(spark)
    assert "event_ts" in df.columns and "driver_id" in df.columns
    assert "ts" not in df.columns


def test_source_json_roundtrip():
    for src in [
        TableSource("db.tbl", event_timestamp_column="ts", field_mapping={"a": "b"}),
        QuerySource("SELECT 1 AS x", name="q", created_timestamp_column="c"),
        ParquetSource("/tmp/x.parquet", date_partition_column="dt"),
    ]:
        assert source_from_json(src.to_json()) == src


def test_table_query_string():
    assert TableSource("db.tbl").get_table_query_string() == "`db`.`tbl`"
    assert TableSource("tbl").get_table_query_string() == "`tbl`"


def test_hive_spark_type_roundtrip():
    for hive, spark_t in [
        ("tinyint", T.ByteType()),
        ("smallint", T.ShortType()),
        ("int", T.IntegerType()),
        ("bigint", T.LongType()),
        ("float", T.FloatType()),
        ("double", T.DoubleType()),
        ("timestamp", T.TimestampType()),
        ("date", T.DateType()),
        ("string", T.StringType()),
        ("boolean", T.BooleanType()),
        ("binary", T.BinaryType()),
        ("decimal(10,2)", T.DecimalType(10, 2)),
    ]:
        assert hive_to_spark_type(hive) == spark_t
        assert spark_to_hive_type(spark_t) == hive
    assert hive_to_spark_type("varchar(20)") == T.StringType()
    with pytest.raises(ValueError):
        hive_to_spark_type("struct<oops:int>")


def test_value_types():
    assert hive_to_value_type("int") == ValueType.INT32
    assert hive_to_value_type("bigint") == ValueType.INT64
    assert hive_to_value_type("timestamp") == ValueType.UNIX_TIMESTAMP
    assert spark_to_value_type(T.ArrayType(T.FloatType())) == ValueType.FLOAT_LIST
    assert spark_to_value_type(T.MapType(T.StringType(), T.IntegerType())) == ValueType.UNKNOWN


def test_arrow_mappings():
    assert spark_to_arrow_type(T.TimestampType()) == pa.timestamp("us")
    assert spark_to_arrow_type(T.ArrayType(T.FloatType())) == pa.list_(pa.float32())
    # unsigned widening (hive_type_map.py:53-56)
    assert arrow_to_spark_type(pa.uint8()) == T.ShortType()
    assert arrow_to_spark_type(pa.uint16()) == T.IntegerType()
    assert arrow_to_spark_type(pa.uint32()) == T.LongType()
    assert arrow_to_spark_type(pa.uint64()) == T.DecimalType(38, 0)
    # categorical -> string (hive_type_map.py:43-44)
    assert arrow_to_spark_type(pa.dictionary(pa.int8(), pa.string())) == T.StringType()
    # tz dropped (hive_type_map.py:31-35)
    assert arrow_to_spark_type(pa.timestamp("us", tz="US/Pacific")) == T.TimestampType()


def test_abnormal_df_roundtrip(spark):
    """F5 fixture (test_all.py:211-241): NaN, float32, int32,
    categorical, None-in-string survive ingestion."""
    pdf = pd.DataFrame(
        {
            "a": pd.array([1.0, float("nan"), 3.0], dtype="float64"),
            "c": pd.array([1.0, 1.0, 1.0], dtype="float32"),
            "d": pd.array([3, 3, 3], dtype="int32"),
            "e": pd.Categorical(["test", "train", "test"]),
            "f": ["x", None, "z"],
        }
    )
    pdf2 = pdf.copy()
    pdf2["e"] = pdf2["e"].astype(str)
    df = spark.createDataFrame(pdf2)
    back = df.toPandas()
    assert back["a"].isna().sum() == 1
    assert dict(df.dtypes)["c"] == "float"
    assert dict(df.dtypes)["d"] == "int"
    assert back["f"].isna().sum() == 1


def test_empty_df_keeps_columns(spark):
    """F6: empty result keeps schema (test_all.py:117-129)."""
    df = spark.createDataFrame([], "a int, b int, c string")
    out = df.filter("a > 0").toPandas()
    assert list(out.columns) == ["a", "b", "c"]
    assert len(out) == 0


def test_file_source_csv_json(spark, tmp_path):
    """Generic FileSource: csv (with header/schema options) and json
    round-trip through scan, schema introspection, validation, JSON
    (de)serialization, and a pull_latest end-to-end."""
    from datetime import datetime, timedelta

    import pandas as pd

    from feast_hive_spark.plans.pull import pull_latest
    from feast_hive_spark.sources.source import FileSource

    now = datetime(2024, 4, 1, 10, 0, 0)
    pdf = pd.DataFrame(
        {
            "k": [1, 1, 2],
            "v": [0.5, 0.9, 0.7],
            "ts": [now - timedelta(hours=2), now - timedelta(hours=1), now],
        }
    )
    csv_path = str(tmp_path / "feat_csv")
    spark.createDataFrame(pdf).coalesce(1).write.option("header", True).csv(csv_path)

    src = FileSource(
        csv_path,
        "csv",
        name="feat_csv",
        options={"header": "true", "inferSchema": "true"},
        event_timestamp_column="ts",
    )
    cols = dict(src.get_table_column_names_and_types(spark))
    assert cols["k"] == "int" and cols["v"] == "double"
    src.validate(spark)

    back = source_from_json(src.to_json())
    assert back == src and back.options["header"] == "true"

    got = pull_latest(
        src.to_df(spark), ["k"], ["v"], "ts", None,
        now - timedelta(days=1), now,
    ).toPandas().set_index("k")["v"]
    assert got[1] == 0.9 and got[2] == 0.7

    json_path = str(tmp_path / "feat_json")
    spark.createDataFrame(pdf).coalesce(1).write.json(json_path)
    jsrc = FileSource(json_path, "json", event_timestamp_column="ts")
    assert jsrc.to_df(spark).count() == 3
    assert jsrc.get_table_query_string() == f"json.`{json_path}`"

    with pytest.raises(DataSourceNotFoundException):
        FileSource(str(tmp_path / "nope"), "csv").validate(spark)


def test_ensure_views_tracks_warehouse_dir(spark):
    """ensure_views is a per-(session, dir) no-op on repeat but MUST
    re-register when the warehouse dir changes (bench_scale alternates
    scale tiers in one session) — a stale view would silently serve
    the wrong tier's data to every SQL-text query."""
    from feast_hive_spark.sources.tables import ensure_views

    ensure_views(spark, "/root/testdata/sf0.001")
    n_small = spark.sql("SELECT count(*) AS n FROM lineitem").first()["n"]
    ensure_views(spark, "/root/testdata/sf0.01")
    n_mid = spark.sql("SELECT count(*) AS n FROM lineitem").first()["n"]
    assert n_mid > n_small
    # repeat with the same dir: still the same registration (hit path)
    ensure_views(spark, "/root/testdata/sf0.01")
    assert spark.sql("SELECT count(*) AS n FROM lineitem").first()["n"] == n_mid
    # restore the suite's session-wide views (conftest registered them)
    import tests.conftest as C

    ensure_views(spark, C.SF_DIR)


def test_ensure_views_session_scoped(spark):
    """Temp views are SESSION-scoped: a sibling newSession() in the
    same app must get its own registration (the app-id-keyed marker
    would have skipped it and every SQL-text query would fail with
    TABLE_OR_VIEW_NOT_FOUND), and a non-UTC sibling session must
    still value-match UTC results (read_table re-pins the session tz
    before any TIMESTAMP literal parses)."""
    from feast_hive_spark.registry import REGISTRY
    from feast_hive_spark.sources.tables import ensure_views

    import tests.conftest as C

    base = REGISTRY["q1_pricing_summary"][0](spark, C.SF_DIR).collect()
    sib = spark.newSession()
    sib.conf.set("spark.sql.session.timeZone", "America/New_York")
    # NO cache clearing here (r12): the prepared-plan cache,
    # read_table's frame cache and the plan memo are all
    # SESSION-keyed now, so the sibling build must come out right
    # with every cache warm — clearing them used to mask exactly the
    # app-keyed wrong-session bugs this test exists to catch.
    got = REGISTRY["q1_pricing_summary"][0](sib, C.SF_DIR).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, base))
    # and the original session's views are still intact
    ensure_views(spark, C.SF_DIR)
    assert spark.sql("SELECT count(*) FROM lineitem").first()[0] > 0


def test_session_key_fallback_without_jsparksession():
    """Spark Connect sessions expose no _jsparkSession (r8 advice);
    the key falls back to the Python object identity, stable per
    object, distinct across objects, and a recycled id() purges the
    previous holder's stale view marker (weakref pin mismatch)."""
    from feast_hive_spark.sources import tables as TB

    class FakeConnectSession:
        pass

    s1, s2 = FakeConnectSession(), FakeConnectSession()
    k1, k2 = TB._session_key(s1), TB._session_key(s2)
    assert k1.startswith("pyid-") and k2.startswith("pyid-")
    assert k1 != k2
    assert TB._session_key(s1) == k1  # stable per object
    # id-reuse: simulate a NEW session landing on s1's key after s1
    # died — the weakref pin no longer matches, so the stale marker
    # must be dropped before the key is handed out.
    TB._VIEWS_FOR[k1] = "/stale"
    TB._PY_KEYS.pop(k1, None)  # as if s1 was GC'd
    s3 = FakeConnectSession()
    s3_key = TB._session_key(s3)
    if s3_key != k1:  # the allocator rarely reuses ids on demand:
        TB._PY_KEYS[k1] = s3  # re-pin k1 to the impostor directly
        TB._VIEWS_FOR.pop(k1, None)  # (what _session_key does on mismatch)
    assert k1 not in TB._VIEWS_FOR


def test_bind_sql_view_stable_vs_connect_names(spark, sf_dir):
    """r10 (r9 ADVICE #1): classic py4j sessions get the STABLE
    engine-reserved view name (eager analysis makes rebinds safe and
    keeps cache substitution); a Connect-shaped session (no
    _jsparkSession) must get a UNIQUE name per build, because lazy
    spark.sql would let a later rebind silently redirect an
    unexecuted plan."""
    from feast_hive_spark.sources.tables import bind_sql_view, read_table

    df = read_table(spark, sf_dir, "region")
    assert bind_sql_view(df, "__t_bind_probe") == "__t_bind_probe"
    assert bind_sql_view(df, "__t_bind_probe") == "__t_bind_probe"

    recorded = []

    class FakeConnectSession:
        pass  # no _jsparkSession attribute

    class FakeDF:
        sparkSession = FakeConnectSession()

        def createOrReplaceTempView(self, name):
            recorded.append(name)

    a = bind_sql_view(FakeDF(), "__t_bind_probe")
    b = bind_sql_view(FakeDF(), "__t_bind_probe")
    assert a != b and a.startswith("__t_bind_probe_c")
    assert recorded == [a, b]


def test_cache_table_substitutes_into_fresh_parquet_read(spark, tmp_path):
    """Two independent reads of one parquet path are the same plan to
    Spark's CacheManager, so a cacheTable'd view is substituted into a
    fresh read that never went through read_table's frame memo. The
    memo (``_DF_CACHE``) earns its place by skipping each repeated
    read's schema-inference job, not by enabling this substitution."""
    from feast_hive_spark.sources.tables import read_parquet_micros

    path = str(tmp_path / "t.parquet")
    spark.range(50).selectExpr("id", "id * 2 AS v").write.parquet(path)
    a = read_parquet_micros(spark, path)
    b = read_parquet_micros(spark, path)
    assert a._jdf.queryExecution().analyzed().sameResult(
        b._jdf.queryExecution().analyzed()
    )
    a.createOrReplaceTempView("__subst_probe")
    spark.catalog.cacheTable("__subst_probe")
    try:
        fresh = read_parquet_micros(spark, path).repartition(8)
        plan = fresh._jdf.queryExecution().withCachedData().toString()
        assert "InMemoryRelation" in plan
        assert fresh.count() == 50
    finally:
        spark.catalog.uncacheTable("__subst_probe")
        spark.catalog.dropTempView("__subst_probe")
