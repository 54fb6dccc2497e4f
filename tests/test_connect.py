"""Spark Connect coverage (r10 verdict #7).

Two layers:

1. An END-TO-END test against a real local Connect server
   (``SparkSession.builder.remote("local[...]")``). The Connect
   CLIENT requires ``grpcio`` + ``protobuf``, which this container
   does not ship and may not install — the test skips with the exact
   missing dependency, and ``CONNECT.md`` records the resulting
   verification status. If the environment ever gains the deps, this
   test runs without code changes.

2. Connect-SHAPE degradation tests that run everywhere: every layer
   that reaches for py4j internals (``_jsparkSession`` /
   ``sparkContext`` / ``_jdf``) must degrade to correct-but-uncached
   behavior on a session without them, never crash. These pin the
   guards in plans/memo.py, registry.py and ckpt.py.
"""

import pytest

from feast_hive_spark.registry import REGISTRY
import feast_hive_spark.registry_analytics  # noqa: F401
import feast_hive_spark.registry_corpus  # noqa: F401
import feast_hive_spark.registry_ext  # noqa: F401
import feast_hive_spark.registry_rel  # noqa: F401


def _connect_deps_missing():
    try:
        import grpc  # noqa: F401
        import google.protobuf  # noqa: F401
    except ImportError as e:
        return str(e)
    return None


@pytest.mark.skipif(
    _connect_deps_missing() is not None,
    reason=f"Spark Connect client deps unavailable and uninstallable "
    f"in this container: {_connect_deps_missing()}",
)
def test_connect_end_to_end(sf_dir):
    """One PIT retrieval + one SQL-path corpus query through a real
    local Connect server, value-compared against a classic session."""
    from pyspark.sql import SparkSession

    classic = SparkSession.builder.master("local[4]").getOrCreate()
    exp_pit = (
        REGISTRY["pit_entity_sql"][0](classic, sf_dir).toPandas()
    )
    exp_corpus = (
        REGISTRY["text_lang_quality_rollup"][0](classic, sf_dir).toPandas()
    )
    classic.stop()

    remote = SparkSession.builder.remote("local[4]").getOrCreate()
    try:
        got_pit = REGISTRY["pit_entity_sql"][0](remote, sf_dir).toPandas()
        got_corpus = (
            REGISTRY["text_lang_quality_rollup"][0](remote, sf_dir)
            .toPandas()
        )
    finally:
        remote.stop()

    for got, exp in ((got_pit, exp_pit), (got_corpus, exp_corpus)):
        cols = sorted(exp.columns)
        g = got[cols].sort_values(cols).reset_index(drop=True)
        e = exp[cols].sort_values(cols).reset_index(drop=True)
        assert g.equals(e)


class _FakeConnectSession:
    """Session shaped like Spark Connect: no ``_jsparkSession``, and
    ``sparkContext`` raises (as pyspark.sql.connect's does)."""

    @property
    def sparkContext(self):  # noqa: N802 - pyspark name
        raise RuntimeError("sparkContext is not supported on Connect")


class _FakeConnectFrame:
    """DataFrame shaped like Connect's: no ``_jdf``."""

    def __init__(self, session):
        self.sparkSession = session

    @property
    def _jdf(self):
        raise AttributeError("_jdf is not available on Connect")


def test_memo_degrades_unmemoized_on_connect_shape():
    """job_memo/plan_memo must RUN the builder (correct result, no
    caching) on a Connect-shaped session instead of crashing on
    ``sparkContext``/``_jdf``; the peeks must report a miss."""
    from feast_hive_spark.plans import memo

    s = _FakeConnectSession()
    df = _FakeConnectFrame(s)
    calls = []
    out = memo.job_memo(s, [df], ("t",), lambda: calls.append(1) or 42)
    assert out == 42 and calls == [1]
    out2 = memo.job_memo(s, [df], ("t",), lambda: calls.append(2) or 43)
    assert out2 == 43 and calls == [1, 2], "must NOT have memoized"
    assert memo.job_memo_peek(s, [df], ("t",)) is None
    assert memo.plan_memo_peek(s, [df], ("t",)) is None


def test_registry_prepared_cache_bypassed_on_connect_shape():
    """The prepared-plan cache keys on the JVM session, which Connect
    does not expose — a Connect-shaped session must route straight to
    the builder."""
    from feast_hive_spark.registry import register, REGISTRY as REG

    calls = []

    @register("__connect_probe", None)
    def _probe(spark, sf_dir):
        calls.append(sf_dir)
        return "built"

    try:
        s = _FakeConnectSession()
        assert REG["__connect_probe"][0](s, "/x") == "built"
        assert REG["__connect_probe"][0](s, "/x") == "built"
        assert calls == ["/x", "/x"], "must bypass the cache, not crash"
    finally:
        REG.pop("__connect_probe", None)


def test_ckpt_noops_on_connect_shape():
    """ckpt.track/free_local_checkpoint silently degrade on Connect
    (documented limitation: checkpoint blocks fall to the server-side
    ContextCleaner; see CONNECT.md)."""
    from feast_hive_spark import ckpt

    df = _FakeConnectFrame(_FakeConnectSession())
    assert ckpt.track(df) is df  # untracked, returned unchanged
    ckpt.free_local_checkpoint(df)  # must not raise
    # release is the documented no-op too (r12 — it used to reach
    # sparkContext unguarded and raise)
    assert ckpt.release(_FakeConnectSession()) == 0
