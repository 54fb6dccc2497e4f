"""plans/memo.py — plan-keyed memoization of eager driver work.

The memo must (a) HIT on a byte-identical rebuild of the same input
plan + token (the warm-retrieval case the r5 verdict flagged: prepare
jobs re-ran for identical results), (b) MISS when the input plan or
any scalar token component differs, and (c) never change results —
a memoized value must equal the freshly computed one.
"""
import pyspark.sql.functions as F
import pytest

from feast_hive_spark.plans import memo


@pytest.fixture(autouse=True)
def _fresh_memo():
    memo.clear()
    yield
    memo.clear()


def _runs_counter():
    state = {"runs": 0}

    def run():
        state["runs"] += 1
        return state["runs"]

    return state, run


def test_job_memo_hits_on_same_plan_and_token(spark):
    df = spark.range(100).withColumn("v", F.col("id") % 7)
    state, run = _runs_counter()
    a = memo.job_memo(spark, df, ("t", 1), run)
    # rebuild the SAME logical plan from scratch — must still hit
    df2 = spark.range(100).withColumn("v", F.col("id") % 7)
    b = memo.job_memo(spark, df2, ("t", 1), run)
    assert a == b == 1
    assert state["runs"] == 1


def test_job_memo_misses_on_different_token(spark):
    df = spark.range(10)
    state, run = _runs_counter()
    memo.job_memo(spark, df, ("t", 1), run)
    memo.job_memo(spark, df, ("t", 2), run)
    assert state["runs"] == 2


def test_job_memo_misses_on_different_plan(spark):
    state, run = _runs_counter()
    memo.job_memo(spark, spark.range(10), ("t",), run)
    memo.job_memo(spark, spark.range(11), ("t",), run)
    assert state["runs"] == 2


def test_job_memo_misses_on_different_local_data(spark):
    # LocalRelation data participates in sameResult — two entity
    # dataframes with different ROWS must not collide even though
    # their schemas match.
    state, run = _runs_counter()
    d1 = spark.createDataFrame([(1, "a")], "k int, v string")
    d2 = spark.createDataFrame([(2, "b")], "k int, v string")
    memo.job_memo(spark, d1, ("t",), run)
    memo.job_memo(spark, d2, ("t",), run)
    assert state["runs"] == 2


def test_plan_memo_returns_equal_dataframe(spark):
    df = spark.range(50).withColumn("v", F.col("id") * 2)
    builds = {"n": 0}

    def build():
        builds["n"] += 1
        return df.groupBy((F.col("id") % 5).alias("g")).agg(
            F.sum("v").alias("s")
        )

    first = memo.plan_memo(spark, df, ("agg",), build)
    again = memo.plan_memo(spark, df, ("agg",), build)
    assert builds["n"] == 1
    assert sorted(first.collect()) == sorted(again.collect())
    # and the memoized result equals a fresh build
    fresh = build()
    assert sorted(first.collect()) == sorted(fresh.collect())


def test_memo_bounded(spark):
    # the LRU bound must hold: > _MEMO_MAX distinct tokens never grow
    # the store past the cap
    df = spark.range(5)
    for i in range(memo._MEMO_MAX + 10):
        memo.job_memo(spark, df, ("t", i), lambda: i)
    assert len(memo._MEMO) <= memo._MEMO_MAX


def test_quantile_bucket_memoized_end_to_end(spark):
    # the real call site: two quantile_bucket calls over the same
    # plan share one approxQuantile probe, and bucket expressions
    # built from the memoized boundaries still rank correctly
    from feast_hive_spark.operators.prefix import global_row_number

    df = spark.range(1000).withColumn(
        "v", (F.col("id") * 2654435761) % 1000003
    )
    r1 = global_row_number(df, "v", ["v", "id"], 8, out_col="rn")
    r2 = global_row_number(df, "v", ["v", "id"], 8, out_col="rn")
    rows1 = {r["id"]: r["rn"] for r in r1.collect()}
    rows2 = {r["id"]: r["rn"] for r in r2.collect()}
    assert rows1 == rows2
    assert sorted(rows1.values()) == list(range(1, 1001))


def test_registry_prepared_plan_cache(spark, sf_dir):
    from feast_hive_spark import registry as R

    R.clear_prepared()
    fn = R.REGISTRY["q3_shipping_priority"][0]
    a = fn(spark, sf_dir)
    b = fn(spark, sf_dir)
    assert a is b  # prepared-statement hit: same DataFrame handle
    # different sf_dir must miss (never serve another scale's plan)
    assert len({k[2] for k in R._PREPARED}) >= 1
    # cleared -> fresh build
    R.clear_prepared()
    c = fn(spark, sf_dir)
    assert c is not a
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, c.collect()))
    R.clear_prepared()


# --- r6 verdict #8: adversarial identity tests -----------------------
# sameResult is doing load-bearing correctness work: a false-positive
# hit serves a STALE value to a different query. Each case below is a
# way two "similar" inputs must NOT collide.


def test_job_memo_misses_on_same_schema_different_literal(spark):
    # identical schema + identical shape, one literal differs
    state, run = _runs_counter()
    a = spark.range(100).filter(F.col("id") > 5)
    b = spark.range(100).filter(F.col("id") > 6)
    memo.job_memo(spark, a, ("t",), run)
    memo.job_memo(spark, b, ("t",), run)
    assert state["runs"] == 2


def test_job_memo_misses_after_parquet_overwrite(spark, tmp_path):
    # sameResult compares file relations by root path, so an
    # overwritten dir re-read under the same path would HIT on plan
    # identity alone — the inputFiles listing in the key must miss it
    # and the fresh value must be served.
    d = str(tmp_path / "t.parquet")
    spark.range(10).write.mode("overwrite").parquet(d)
    df1 = spark.read.parquet(d)
    v1 = memo.job_memo(spark, df1, ("t",), lambda: df1.count())
    assert v1 == 10
    spark.range(25).write.mode("overwrite").parquet(d)
    df2 = spark.read.parquet(d)
    v2 = memo.job_memo(spark, df2, ("t",), lambda: df2.count())
    assert v2 == 25, "stale memo value served after source overwrite"


def test_job_memo_misses_on_mutated_local_relation(spark):
    state, run = _runs_counter()
    rows = [(1, "a"), (2, "b")]
    a = spark.createDataFrame(rows, "k int, v string")
    memo.job_memo(spark, a, ("t",), run)
    b = spark.createDataFrame([(1, "a"), (2, "c")], "k int, v string")
    memo.job_memo(spark, b, ("t",), run)
    assert state["runs"] == 2


def test_job_memo_still_hits_on_fresh_reread_same_files(spark, tmp_path):
    # the file-listing key must not DESTROY warm hits: re-reading the
    # same untouched dir builds a fresh relation over the same files
    d = str(tmp_path / "t.parquet")
    spark.range(10).write.mode("overwrite").parquet(d)
    state, run = _runs_counter()
    memo.job_memo(spark, spark.read.parquet(d), ("t",), run)
    memo.job_memo(spark, spark.read.parquet(d), ("t",), run)
    assert state["runs"] == 1
