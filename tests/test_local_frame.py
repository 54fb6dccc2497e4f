"""Driver-side rows enter the engine one way: ``plans.local.local_frame``
builds an Arrow table and hands it to ``createDataFrame``, which plans
it as a LocalRelation. These tests pin the type round trip, the
zero-job readout, the block-free result (it survives a checkpoint
release) and the single call path."""

import ast
import datetime as dt
import decimal
from pathlib import Path

import pytest

import feast_hive_spark.registry_corpus  # noqa: F401  (registers queries)
from feast_hive_spark import ckpt, registry
from feast_hive_spark.plans.local import local_frame
from conftest import count_jobs

ENGINE = Path(__file__).resolve().parent.parent / "feast_hive_spark"

_DDL = (
    "ti tinyint, i int, bi bigint, d double, s string, dd date, "
    "ts timestamp, m decimal(12,2), b boolean"
)
_ROWS = [
    (
        -7,
        2_000_000_000,
        2**62 + 1,
        0.1 + 0.2,
        "it's a \\ back'slash",
        dt.date(2024, 2, 29),
        dt.datetime(2024, 3, 10, 2, 30, 0, 123456),
        decimal.Decimal("-1234567890.12"),
        True,
    ),
    (None,) * 9,
    (0, 0, 0, 5e-324, "", dt.date(1970, 1, 1), dt.datetime(1970, 1, 1),
     decimal.Decimal("0.00"), False),
]


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("arrow_conf", ["true", "false"])
def test_local_frame_round_trips_every_type(spark, arrow_conf):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, arrow_conf)
    try:
        df = local_frame(spark, _ROWS, _DDL)
        rows, jobs = count_jobs(spark, df.collect)
    finally:
        spark.conf.set(key, prev)
    assert jobs == 0
    assert _executed(df).startswith("LocalTableScan")
    assert [tuple(r) for r in rows] == _ROWS
    # exact binary round trip of the doubles, not just float equality
    assert repr(rows[0]["d"]) == repr(0.1 + 0.2)
    assert repr(rows[2]["d"]) == repr(5e-324)
    assert df.schema.simpleString() == (
        "struct<ti:tinyint,i:int,bi:bigint,d:double,s:string,dd:date,"
        "ts:timestamp,m:decimal(12,2),b:boolean>"
    )


def test_local_frame_accepts_struct_type_and_empty_rows(spark):
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(_DDL)
    empty = local_frame(spark, [], schema)
    rows, jobs = count_jobs(spark, empty.collect)
    assert rows == [] and jobs == 0
    assert empty.schema == schema
    assert _executed(empty).startswith("LocalTableScan")
    # generators and nested arrays go through the same path
    nested = local_frame(
        spark, ((k, [k, k * 2]) for k in range(3)), "k int, v array<bigint>"
    )
    assert [tuple(r) for r in nested.collect()] == [
        (0, [0, 0]), (1, [1, 2]), (2, [2, 4])
    ]


@pytest.mark.parametrize("name", ["bpe_merge_table", "logreg_quality_weights"])
def test_prepared_local_result_survives_checkpoint_release(
    spark, sf_dir, name
):
    """A prepared registry query whose result is a driver-built frame
    holds no checkpoint blocks, so releasing every tracked checkpoint
    leaves it answering the same rows."""
    build = registry.REGISTRY[name][0]
    try:
        df = build(spark, sf_dir)
        before = sorted(df.collect())
        assert before
        ckpt.release(spark)
        assert build(spark, sf_dir) is df  # still the prepared frame
        assert sorted(df.collect()) == before
    finally:
        # later tests must not be handed frames whose blocks are gone
        registry.reset(spark)


# the only functions allowed to call createDataFrame: the helper, and
# the entity ingest on the feature-store path (pandas and pyarrow
# inputs that carry their own schema)
_ALLOWED = {
    ("plans/local.py", "local_frame"),
    ("plans/pit.py", "entity_df_to_spark"),
}


class _CreateDataFrameCalls(ast.NodeVisitor):
    """(innermost enclosing function, line) of every createDataFrame call."""

    def __init__(self):
        self.scope = ["<module>"]
        self.found = []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        if (
            isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            self.found.append((self.scope[-1], node.lineno))
        self.generic_visit(node)


def _create_dataframe_calls():
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        visitor = _CreateDataFrameCalls()
        visitor.visit(ast.parse(path.read_text(), filename=rel))
        for fn, line in visitor.found:
            yield rel, fn, line


def test_driver_rows_enter_through_local_frame_only():
    calls = list(_create_dataframe_calls())
    stray = [c for c in calls if c[:2] not in _ALLOWED]
    assert not stray, (
        "build driver-side rows with plans.local.local_frame instead of "
        f"createDataFrame: {stray}"
    )
    # the walk must really see the allowed sites, or it checks nothing
    assert {c[:2] for c in calls} == _ALLOWED
