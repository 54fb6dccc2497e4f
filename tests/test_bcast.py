"""Size-gated broadcast policy (plans/bcast.py, r12).

OSS Spark never demotes an explicit broadcast hint (user hints win
over AQE's size checks), so volume-growing dims must only be hinted
while provably small — these tests pin the gate's two arms and the
SQL-hint builder's empty-hint validity.
"""

from feast_hive_spark.plans import bcast
from feast_hive_spark.plans.bcast import gated_broadcast, sql_broadcast_hint


def _hinted(df) -> bool:
    return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()


def test_gate_small_frame_hinted(spark):
    df = spark.range(100).toDF("k")
    assert _hinted(gated_broadcast(df))


def test_gate_zero_drops_hint(spark, monkeypatch):
    df = spark.range(100).toDF("k")
    monkeypatch.setattr(bcast, "GATE_BYTES", 0)
    out = gated_broadcast(df)
    assert out is df and not _hinted(out)


def test_gate_probe_overrides_inflated_estimate(spark, monkeypatch):
    # join estimate multiplies children — far over any sane gate —
    # but the probe (the row-preserving base side) keeps the hint
    big_est = spark.range(200).toDF("k").join(
        spark.range(200).toDF("k"), "k"
    )
    monkeypatch.setattr(bcast, "GATE_BYTES", 4000)
    assert not _hinted(gated_broadcast(big_est))
    assert _hinted(gated_broadcast(big_est, probe=spark.range(10).toDF("k")))


def test_sql_hint_includes_only_gated_tables(spark, sf_dir, monkeypatch):
    hint = sql_broadcast_hint(
        spark, sf_dir, {"c": "customer", "n": "nation", "r": "region"}
    )
    assert hint == "/*+ BROADCAST(c, n, r) */"
    monkeypatch.setattr(bcast, "GATE_BYTES", 0)
    assert sql_broadcast_hint(spark, sf_dir, {"c": "customer"}) == ""


def test_q5_valid_with_empty_hint(spark, sf_dir, monkeypatch):
    # the f-string interpolation must yield valid SQL when the gate
    # strips every alias
    from feast_hive_spark.registry import REGISTRY

    monkeypatch.setattr(bcast, "GATE_BYTES", 0)
    df = REGISTRY["q5_local_supplier_volume"][0](spark, sf_dir)
    assert df.columns == ["n_name", "revenue"]
    df.collect()


def test_default_gate_value():
    assert bcast.GATE_BYTES == 16 << 20
