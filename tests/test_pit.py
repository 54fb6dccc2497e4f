"""PIT as-of join tests against a pure-Python oracle.

The oracle reimplements the reference's golden oracle
(``find_asof_record``, tests/feast_tests_funcs.py:263-269;
``get_expected_training_df``, :279-367): per entity row, linear scan
keeping the record with max event_ts in [entity_ts - ttl, entity_ts]
matching the key; missing -> NaN/None; comparison row/column-sorted,
dtype-lenient (test_all.py:369-382).
"""

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest

from feast_hive_spark.plans import pit
from feast_hive_spark.plans.pit import (
    EntityDFMissingColumnsError,
    EntityTimestampInferenceException,
    FeatureView,
    get_historical_features,
    infer_event_timestamp_col,
)
from feast_hive_spark.sources import ParquetSource


def find_asof_record(feature_rows, keys, entity_ts, ttl, event_col="ts", created_col=None):
    """Pure-Python as-of oracle (engine-independent)."""
    best = None
    lower = entity_ts - timedelta(seconds=ttl) if ttl else None
    for r in feature_rows:
        if any(r[k] != v for k, v in keys.items()):
            continue
        ts = r[event_col]
        if ts > entity_ts:
            continue
        if lower is not None and ts < lower:
            continue
        if best is None:
            best = r
            continue
        if ts > best[event_col]:
            best = r
        elif ts == best[event_col] and created_col and r[created_col] > best[created_col]:
            best = r
    return best


def _sorted(pdf):
    cols = sorted(pdf.columns)
    return (
        pdf[cols]
        .sort_values(by=cols)
        .reset_index(drop=True)
    )


def assert_frames_match(got, expected):
    got, expected = _sorted(got), _sorted(expected)
    assert list(got.columns) == list(expected.columns)
    assert len(got) == len(expected)
    for c in got.columns:
        g, e = got[c], expected[c]
        if np.issubdtype(g.dtype, np.floating) or np.issubdtype(e.dtype, np.floating):
            g = pd.to_numeric(g, errors="coerce")
            e = pd.to_numeric(e, errors="coerce")
            assert np.allclose(g.fillna(-9e18), e.fillna(-9e18), rtol=1e-9), c
        else:
            assert g.astype(str).tolist() == e.astype(str).tolist(), c


@pytest.fixture(scope="module")
def tiny(spark):
    base = datetime(2024, 1, 10, 12, 0, 0)
    entity_pdf = pd.DataFrame(
        {
            "driver_id": [1, 1, 2, 3, 1],
            "event_timestamp": [
                base,
                base + timedelta(hours=1),
                base,
                base,
                base,  # duplicate entity row — must be preserved
            ],
            "order_id": [100, 101, 102, 103, 104],
        }
    )
    feature_pdf = pd.DataFrame(
        {
            "driver_id": [1, 1, 1, 2, 2, 9],
            "ts": [
                base - timedelta(minutes=30),
                base - timedelta(minutes=10),
                base + timedelta(minutes=30),  # between the two entity ts
                base - timedelta(days=2),  # outside 1-day ttl for entity at base
                base - timedelta(minutes=5),
                base,
            ],
            "created": [
                base - timedelta(minutes=30),
                base - timedelta(minutes=10),
                base + timedelta(minutes=30),
                base - timedelta(days=2),
                base - timedelta(minutes=5),
                base,
            ],
            "conv_rate": [0.1, 0.2, 0.3, 0.4, 0.5, 0.9],
        }
    )
    return entity_pdf, feature_pdf


def _expected(entity_pdf, feature_pdf, ttl, full=False, fv_name="driver_stats"):
    rows = feature_pdf.to_dict("records")
    out = []
    feat_col = f"{fv_name}__conv_rate" if full else "conv_rate"
    for _, er in entity_pdf.iterrows():
        rec = find_asof_record(
            rows,
            {"driver_id": er.driver_id},
            er.event_timestamp,
            ttl,
            created_col="created",
        )
        out.append(
            {
                "driver_id": er.driver_id,
                "event_timestamp": er.event_timestamp,
                "order_id": er.order_id,
                feat_col: rec["conv_rate"] if rec else np.nan,
            }
        )
    return pd.DataFrame(out)


@pytest.mark.parametrize("full_feature_names", [False, True])
@pytest.mark.parametrize("ttl", [0, 86400])
def test_pit_matches_oracle(spark, tiny, ttl, full_feature_names):
    entity_pdf, feature_pdf = tiny
    fv = FeatureView(
        name="driver_stats",
        source=spark.createDataFrame(feature_pdf),
        join_keys=["driver_id"],
        features=["conv_rate"],
        ttl_seconds=ttl,
        event_timestamp_column="ts",
        created_timestamp_column="created",
    )
    job = get_historical_features(
        spark, entity_pdf, [fv], full_feature_names=full_feature_names
    )
    got = job.to_df()
    expected = _expected(entity_pdf, feature_pdf, ttl, full=full_feature_names)
    assert_frames_match(got, expected)


def test_pit_dedup_by_created_ts(spark):
    """Two rows at the same event_ts: the one with the larger
    created_ts must win (reference dedup step, hive.py:645-654)."""
    base = datetime(2024, 1, 10, 12, 0, 0)
    entity_pdf = pd.DataFrame({"k": [1], "event_timestamp": [base]})
    feature_pdf = pd.DataFrame(
        {
            "k": [1, 1],
            "ts": [base - timedelta(hours=1)] * 2,
            "created": [base - timedelta(hours=1), base],
            "v": [111.0, 222.0],
        }
    )
    fv = FeatureView(
        name="fv",
        source=spark.createDataFrame(feature_pdf),
        join_keys=["k"],
        features=["v"],
        event_timestamp_column="ts",
        created_timestamp_column="created",
    )
    got = get_historical_features(spark, entity_pdf, [fv]).to_df()
    assert got["v"].tolist() == [222.0]


@pytest.mark.parametrize(
    "join_keys, rename, tiebreaks, rows, expected",
    [
        (["k"], {}, ["k"], [], {1: 10.0, 2: 30.0}),
        # a full (event_ts) tie on k=1: seq decides, k is a no-op
        (["k"], {}, ["k", "seq"], [(1, 1, 20.0)], {1: 20.0, 2: 30.0}),
        # the tiebreak is a non-key column named like the renamed key
        ({"fk": "k"}, {"k": "fk", "seq": "k"}, ["k"], [(1, 1, 20.0)],
         {1: 20.0, 2: 30.0}),
    ],
    ids=["key_only", "key_and_seq", "named_like_renamed_key"],
)
def test_tiebreak_on_join_key(spark, join_keys, rename, tiebreaks, rows, expected):
    """A tiebreak column that is also the view's join key is constant
    within each group, so it is dropped from the ordering, and a
    tiebreak that shares a renamed key's name still orders. Both used
    to be selected under one name and fail with AMBIGUOUS_REFERENCE."""
    base = datetime(2024, 1, 10, 12, 0)
    entity_pdf = pd.DataFrame({"k": [1, 2], "event_timestamp": [base, base]})
    feature_rows = [(1, 2, -2, 1.0), (1, 1, 0, 10.0), (2, 1, 5, 30.0)]
    feature_rows += [(k, 1, seq, v) for k, seq, v in rows]
    feature_pdf = pd.DataFrame(
        [(k, base - timedelta(hours=h), s, v) for k, h, s, v in feature_rows],
        columns=["k", "ts", "seq", "v"],
    ).rename(columns=rename)
    fv = FeatureView(
        name="fv",
        source=spark.createDataFrame(feature_pdf),
        join_keys=join_keys,
        features=["v"],
        event_timestamp_column="ts",
    )
    got = get_historical_features(
        spark, entity_pdf, [fv], tiebreak_columns=tiebreaks
    ).to_df()
    assert list(got.columns) == ["k", "event_timestamp", "v"]
    assert dict(zip(got["k"], got["v"])) == expected


def test_pit_multiple_feature_views(spark, tiny):
    entity_pdf, feature_pdf = tiny
    fv1 = FeatureView(
        name="a",
        source=spark.createDataFrame(feature_pdf),
        join_keys=["driver_id"],
        features=["conv_rate"],
        event_timestamp_column="ts",
        created_timestamp_column="created",
    )
    other = feature_pdf.assign(acc_rate=feature_pdf.conv_rate * 2)
    fv2 = FeatureView(
        name="b",
        source=spark.createDataFrame(other),
        join_keys=["driver_id"],
        features=["acc_rate"],
        ttl_seconds=3600,
        event_timestamp_column="ts",
        created_timestamp_column="created",
    )
    got = get_historical_features(
        spark, entity_pdf, [fv1, fv2], full_feature_names=True
    ).to_df()
    assert "a__conv_rate" in got.columns and "b__acc_rate" in got.columns
    assert len(got) == len(entity_pdf)


def test_pit_mixed_tz_entity_df(spark):
    """4-flavor tz fixture (feast_tests_funcs.py:15-30): naive, UTC,
    fixed offset, US/Pacific in one column -> normalized to naive UTC."""
    base = pd.Timestamp("2024-01-10 12:00:00")
    entity_pdf = pd.DataFrame(
        {
            "k": [1, 2, 3, 4],
            "event_timestamp": [
                base,
                base.tz_localize("UTC"),
                base.tz_localize("UTC").tz_convert("+01:00"),
                base.tz_localize("UTC").tz_convert("US/Pacific"),
            ],
            "row": [0, 1, 2, 3],
        }
    )
    feature_pdf = pd.DataFrame(
        {"k": [1, 2, 3, 4], "ts": [base - pd.Timedelta(hours=1)] * 4, "v": [1.0, 2.0, 3.0, 4.0]}
    )
    fv = FeatureView(
        name="fv",
        source=spark.createDataFrame(feature_pdf),
        join_keys=["k"],
        features=["v"],
        event_timestamp_column="ts",
    )
    got = get_historical_features(spark, entity_pdf, [fv]).to_df()
    # all four flavors represent the same instant -> all match
    assert sorted(got["v"].tolist()) == [1.0, 2.0, 3.0, 4.0]
    assert got["event_timestamp"].nunique() == 1


def test_pit_missing_column_error(spark, tiny):
    entity_pdf, feature_pdf = tiny
    fv = FeatureView(
        name="fv",
        source=spark.createDataFrame(feature_pdf),
        join_keys={"driver_id": "renamed_id"},
        features=["conv_rate"],
        event_timestamp_column="ts",
    )
    with pytest.raises(EntityDFMissingColumnsError):
        get_historical_features(spark, entity_pdf, [fv])


def test_pit_entity_df_as_sql(spark, tiny):
    entity_pdf, feature_pdf = tiny
    spark.createDataFrame(entity_pdf).createOrReplaceTempView("entity_tbl")
    fv = FeatureView(
        name="fv",
        source=spark.createDataFrame(feature_pdf),
        join_keys=["driver_id"],
        features=["conv_rate"],
        event_timestamp_column="ts",
        created_timestamp_column="created",
    )
    got = get_historical_features(
        spark, "SELECT * FROM entity_tbl", [fv]
    ).to_df()
    expected = _expected(entity_pdf, feature_pdf, ttl=0)
    assert_frames_match(got, expected)


def test_pit_entityless_feature_view(spark):
    """Entity-less fv: global latest row as of each entity ts
    (dummy-entity branch, hive.py:543-544)."""
    base = datetime(2024, 1, 10, 12, 0, 0)
    entity_pdf = pd.DataFrame(
        {"event_timestamp": [base, base + timedelta(hours=2)], "row": [1, 2]}
    )
    feature_pdf = pd.DataFrame(
        {
            "ts": [base - timedelta(hours=1), base + timedelta(hours=1)],
            "v": [10.0, 20.0],
        }
    )
    fv = FeatureView(
        name="global",
        source=spark.createDataFrame(feature_pdf),
        join_keys=[],
        features=["v"],
        event_timestamp_column="ts",
    )
    got = get_historical_features(spark, entity_pdf, [fv]).to_df()
    by_row = got.set_index("row")["v"]
    assert by_row[1] == 10.0 and by_row[2] == 20.0


def test_infer_event_timestamp_col(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"a": [1], "ts_only": [datetime(2024, 1, 1)]})
    )
    assert infer_event_timestamp_col(df) == "ts_only"
    df2 = spark.createDataFrame(pd.DataFrame({"a": [1]}))
    with pytest.raises(EntityTimestampInferenceException):
        infer_event_timestamp_col(df2)


def test_to_arrow_consistency(spark, tiny):
    entity_pdf, feature_pdf = tiny
    fv = FeatureView(
        name="fv",
        source=spark.createDataFrame(feature_pdf),
        join_keys=["driver_id"],
        features=["conv_rate"],
        event_timestamp_column="ts",
        created_timestamp_column="created",
    )
    job = get_historical_features(spark, entity_pdf, [fv])
    pdf = job.to_df()
    at = get_historical_features(spark, entity_pdf, [fv]).to_arrow()
    assert at.num_rows == len(pdf)
    assert set(at.column_names) == set(pdf.columns)
    # native toArrow() keeps Spark-schema fidelity: microsecond
    # timestamps, and no pandas dtype mangling on the value columns
    import pyarrow as pa

    # TIMESTAMP (LTZ) arrives as microsecond + explicit UTC (the
    # session zone the engine pins) - no silent unit/zone mangling
    assert at.schema.field("event_timestamp").type == pa.timestamp("us", tz="UTC")
    assert at.schema.field("conv_rate").type == pa.float64()


def test_to_arrow_nullable_int_fidelity(spark):
    """A nullable integer feature must arrive as an Arrow int64 column
    with a null - NOT float64 with NaN (the toPandas() round-trip
    mangling the native path avoids)."""
    import pyarrow as pa

    from feast_hive_spark.retrieval import RetrievalJob

    df = spark.createDataFrame(
        [(1, None), (2, 7)], "k long, v long"
    )
    at = RetrievalJob(df).to_arrow()
    assert at.schema.field("v").type == pa.int64()
    assert at.column("v").null_count == 1


def test_entity_bounds_memo_exact_and_distinct(spark):
    """Two different entity frames get their own bounds from the one
    fused min/max/count job."""
    import pandas as pd

    from feast_hive_spark.plans import pit as P

    df1 = pd.DataFrame(
        {"user_id": [1, 2], "event_timestamp": pd.to_datetime(["2024-01-01", "2024-02-01"])}
    )
    df2 = pd.DataFrame(
        {"user_id": [1, 2], "event_timestamp": pd.to_datetime(["2023-01-01", "2023-06-01"])}
    )
    s1 = P.entity_df_to_spark(spark, df1)
    s2 = P.entity_df_to_spark(spark, df2)
    b1 = P._entity_bounds(s1, "event_timestamp")
    b2 = P._entity_bounds(s2, "event_timestamp")
    assert b1["mx"].year == 2024 and b2["mx"].year == 2023
    assert b1["cnt"] == b2["cnt"] == 2


def test_concurrent_plan_builds_bind_correct_views(spark):
    """The SQL build path overwrites three session-global temp views
    (__pit_sql_*); concurrent plan builds must not interleave the
    bindings (r8 advice — guarded by plans.pit._SQL_VIEW_LOCK). Two
    threads build DIFFERENT retrievals many times; each result must
    reflect its OWN feature table."""
    import threading

    base = datetime(2024, 3, 1, 12, 0, 0)
    entity_pdf = pd.DataFrame(
        {"k": [1, 2], "event_timestamp": [base, base]}
    )

    def make_fv(tag, value):
        feature_pdf = pd.DataFrame(
            {
                "k": [1, 2],
                "ts": [base - timedelta(hours=1)] * 2,
                "v": [value, value + 1.0],
            }
        )
        return FeatureView(
            name=f"fv_{tag}",
            source=spark.createDataFrame(feature_pdf),
            join_keys=["k"],
            features=["v"],
            event_timestamp_column="ts",
        )

    fva, fvb = make_fv("a", 100.0), make_fv("b", 500.0)
    errs = []

    def run(fv, lo):
        try:
            for _ in range(6):
                got = get_historical_features(
                    spark, entity_pdf, [fv], full_feature_names=False
                ).to_df()
                assert sorted(got["v"].tolist()) == [lo, lo + 1.0]
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    ta = threading.Thread(target=run, args=(fva, 100.0))
    tb = threading.Thread(target=run, args=(fvb, 500.0))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not errs, errs


def test_multi_view_different_key_tuples_single_statement(spark):
    """The r9 whole-retrieval SQL path registers one ekeys view per
    DISTINCT key tuple — two views joining on different entity keys
    must each bind their own dedup table and assemble correctly."""
    base = datetime(2024, 5, 1, 12, 0, 0)
    entity_pdf = pd.DataFrame(
        {
            "user": [1, 1, 2],
            "shop": [10, 20, 10],
            "event_timestamp": [base, base, base + timedelta(hours=1)],
        }
    )
    user_feats = pd.DataFrame(
        {"user": [1, 2], "ts": [base - timedelta(hours=2)] * 2,
         "u_score": [0.5, 0.7]}
    )
    shop_feats = pd.DataFrame(
        {"shop": [10, 20], "ts": [base - timedelta(hours=3)] * 2,
         "s_rank": [3.0, 9.0]}
    )
    fvs = [
        FeatureView(name="u", source=spark.createDataFrame(user_feats),
                    join_keys=["user"], features=["u_score"],
                    event_timestamp_column="ts"),
        FeatureView(name="s", source=spark.createDataFrame(shop_feats),
                    join_keys=["shop"], features=["s_rank"],
                    event_timestamp_column="ts"),
    ]
    got = get_historical_features(
        spark, entity_pdf, fvs, full_feature_names=False
    ).to_df()
    got = got.sort_values(["user", "shop"]).reset_index(drop=True)
    assert got["u_score"].tolist() == [0.5, 0.5, 0.7]
    assert got["s_rank"].tolist() == [3.0, 9.0, 3.0]


def test_small_feature_side_drops_forced_broadcast(spark, monkeypatch):
    """r10 broadcast-policy second arm: with every feature side under
    the size threshold the forced broadcast hints are dropped (Catalyst
    plans freely); with the threshold at 0 the explicit broadcast
    shape is restored. Catalyst's own auto-broadcast is
    silenced for the probe so the two regimes are distinguishable at
    test scale."""
    base = datetime(2024, 1, 10, 12, 0)
    entity_pdf = pd.DataFrame(
        {"k": [1, 2], "event_timestamp": [base, base]}
    )
    feature_pdf = pd.DataFrame(
        {"k": [1, 2], "ts": [base - timedelta(hours=1)] * 2,
         "v": [1.0, 2.0]}
    )
    fv = FeatureView(
        name="fv", source=spark.createDataFrame(feature_pdf),
        join_keys=["k"], features=["v"], event_timestamp_column="ts",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        free = get_historical_features(spark, entity_pdf, [fv]).to_spark_df()
        monkeypatch.setattr(pit, "_SMALL_FEATURES_BYTES", 0)
        forced = get_historical_features(spark, entity_pdf, [fv]).to_spark_df()
        free_plan = free._jdf.queryExecution().executedPlan().toString()
        forced_plan = (
            forced._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" not in free_plan
        assert "BroadcastHashJoin" in forced_plan
        # both physical shapes return identical results
        a = free.toPandas().sort_values("k").reset_index(drop=True)
        b = forced.toPandas().sort_values("k").reset_index(drop=True)
        pd.testing.assert_frame_equal(a[sorted(a.columns)],
                                      b[sorted(b.columns)])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_duplicate_output_names_keep_positions(spark):
    """ADVICE r9 #3: two views emitting the SAME output feature name
    under full_feature_names=False used to fail the one-statement SQL
    assembly with AMBIGUOUS_REFERENCE at the second nesting level.
    Features now travel under positional internal names and get their
    (repeated) output names back only in the outermost SELECT."""
    base = datetime(2024, 1, 10, 12, 0)
    entity_pdf = pd.DataFrame(
        {"k": [1, 2], "event_timestamp": [base, base]}
    )
    f1 = pd.DataFrame(
        {"k": [1, 2], "ts": [base - timedelta(hours=1)] * 2,
         "score": [1.0, 2.0]}
    )
    f2 = pd.DataFrame(
        {"k": [1, 2], "ts": [base - timedelta(hours=1)] * 2,
         "score": [10.0, 20.0]}
    )
    fvs = [
        FeatureView(name="a", source=spark.createDataFrame(f1),
                    join_keys=["k"], features=["score"],
                    event_timestamp_column="ts"),
        FeatureView(name="b", source=spark.createDataFrame(f2),
                    join_keys=["k"], features=["score"],
                    event_timestamp_column="ts"),
    ]
    got = get_historical_features(
        spark, entity_pdf, fvs, full_feature_names=False
    ).to_df()
    assert list(got.columns).count("score") == 2
    by_k = got.sort_values("k").reset_index(drop=True)
    # positional: first 'score' from view a, second from view b
    scores = by_k.loc[:, by_k.columns == "score"]
    assert scores.iloc[:, 0].tolist() == [1.0, 2.0]
    assert scores.iloc[:, 1].tolist() == [10.0, 20.0]
    # and full_feature_names=True gives distinct names
    named = get_historical_features(
        spark, entity_pdf, fvs, full_feature_names=True
    ).to_df()
    assert {"a__score", "b__score"} <= set(named.columns)


_B = datetime(2024, 1, 10, 12, 0)
_H = timedelta(hours=1)


@pytest.mark.parametrize(
    "shape,names,rows",
    [
        (
            # a feature shares its name with a passthrough entity column
            "shadow_entity_col",
            [("a", "score"), ("a", "order_id")],
            [
                (1, _B, 100, 1.0, 7),
                (2, _B, 101, 2.0, 8),
                (2, _B + 2 * _H, 102, 2.5, 9),
                (3, _B, 103, None, None),
            ],
        ),
        (
            # a keyed view with no features ahead of a keyed view
            "featureless_plus_keyed",
            [("a", "score")],
            [
                (1, _B, 100, 1.0),
                (2, _B, 101, 2.0),
                (2, _B + 2 * _H, 102, 2.5),
                (3, _B, 103, None),
            ],
        ),
        (
            # an entity-less (global) view ahead of a keyed view
            "entityless_plus_keyed",
            [("g", "gv"), ("a", "score")],
            [
                (1, _B, 100, 5.0, 1.0),
                (2, _B, 101, 5.0, 2.0),
                (2, _B + 2 * _H, 102, 6.0, 2.5),
                (3, _B, 103, 5.0, None),
            ],
        ),
    ],
    ids=["shadow_entity_col", "featureless_plus_keyed", "entityless_plus_keyed"],
)
def test_view_shapes_assemble_in_one_statement(spark, shape, names, rows):
    """Output names that collide with an entity column, a view with no
    features and a view with no join keys all assemble in the one SQL
    statement: columns in order and values per entity row, under both
    full_feature_names settings."""
    entity_pdf = pd.DataFrame(
        {
            "k": [1, 2, 2, 3],
            "event_timestamp": [_B, _B, _B + 2 * _H, _B],
            "order_id": [100, 101, 102, 103],
        }
    )
    keyed = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 2, 2],
                "ts": [_B - _H, _B - _H, _B + _H],
                "score": [1.0, 2.0, 2.5],
                "order_id": [7, 8, 9],
            }
        )
    )
    other = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2], "ts": [_B - 2 * _H] * 2, "x": [1.0, 2.0]})
    )
    glob = spark.createDataFrame(
        pd.DataFrame({"ts": [_B - _H, _B + _H], "gv": [5.0, 6.0]})
    )

    def fv(name, source, keys, features):
        return FeatureView(
            name=name, source=source, join_keys=keys, features=features,
            event_timestamp_column="ts",
        )

    fvs = {
        "shadow_entity_col": [fv("a", keyed, ["k"], ["score", "order_id"])],
        "featureless_plus_keyed": [
            fv("n", other, ["k"], []),
            fv("a", keyed, ["k"], ["score"]),
        ],
        "entityless_plus_keyed": [
            fv("g", glob, [], ["gv"]),
            fv("a", keyed, ["k"], ["score"]),
        ],
    }[shape]
    for full in (False, True):
        df = get_historical_features(
            spark, entity_pdf, fvs, full_feature_names=full
        ).to_spark_df()
        assert df.columns == ["k", "event_timestamp", "order_id"] + [
            f"{v}__{f}" if full else f for v, f in names
        ]
        assert sorted(tuple(r) for r in df.collect()) == rows


def _feature_parquet(path, values):
    """Write a two-key feature file with UTC microsecond timestamps
    (no nanos column, so only the retrieval path is under test)."""
    pd.DataFrame(
        {
            "k": [1, 2],
            "ts": pd.to_datetime(["2024-01-09", "2024-01-09"], utc=True),
            "v": values,
        }
    ).to_parquet(path, coerce_timestamps="us")


_ENTITY = pd.DataFrame(
    {"k": [1, 2], "event_timestamp": [datetime(2024, 1, 10, 12, 0)] * 2}
)


def _parquet_fv(path):
    return FeatureView(
        name="fv",
        source=ParquetSource(path, event_timestamp_column="ts"),
        join_keys=["k"],
        features=["v"],
    )


def _values(df):
    return [r["v"] for r in sorted(df.collect(), key=lambda r: r["k"])]


def test_sibling_session_retrieval_is_bound_to_that_session(spark, tmp_path):
    """A newSession() sibling (own confs, own temp views) gets a plan
    built in its own session, never the first session's DataFrame."""
    path = str(tmp_path / "feat.parquet")
    _feature_parquet(path, [1.0, 2.0])
    fv = _parquet_fv(path)
    d1 = get_historical_features(spark, _ENTITY, [fv]).to_spark_df()
    sibling = spark.newSession()
    d2 = get_historical_features(sibling, _ENTITY, [fv]).to_spark_df()
    assert d1.sparkSession is spark
    assert d2.sparkSession is sibling
    assert _values(d2) == [1.0, 2.0]


def test_overwritten_parquet_source_serves_new_values(spark, tmp_path):
    """Overwriting a ParquetSource path with new part files is seen by
    the next identical retrieval, with no close() in between."""
    d = tmp_path / "feat"
    d.mkdir()
    _feature_parquet(str(d / "part-a.parquet"), [1.0, 2.0])
    fv = _parquet_fv(str(d))
    first = get_historical_features(spark, _ENTITY, [fv]).to_spark_df()
    assert _values(first) == [1.0, 2.0]
    (d / "part-a.parquet").unlink()
    _feature_parquet(str(d / "part-b.parquet"), [10.0, 20.0])
    second = get_historical_features(spark, _ENTITY, [fv]).to_spark_df()
    assert _values(second) == [10.0, 20.0]


def test_parquet_source_reads_spark_written_timestamps(spark, tmp_path):
    """Spark writes timestamps as INT96 by default; pyarrow reports
    INT96 as timestamp[ns], but Spark reads it back as TIMESTAMP, so
    the nanos-as-long conversion must not touch it."""
    assert spark.conf.get("spark.sql.parquet.outputTimestampType") == "INT96"
    path = str(tmp_path / "feat")
    spark.createDataFrame(
        pd.DataFrame(
            {"k": [1, 2], "ts": [datetime(2024, 1, 9)] * 2, "v": [1.0, 2.0]}
        )
    ).write.parquet(path)
    got = get_historical_features(spark, _ENTITY, [_parquet_fv(path)])
    assert _values(got.to_spark_df()) == [1.0, 2.0]


def test_int96_parquet_source_leaves_nanos_conf_alone(spark, tmp_path):
    """Reading a Spark-written (INT96) ParquetSource must not switch
    nanosAsLong on: a TIMESTAMP(NANOS) file read later in the same
    session would then silently surface as bigint."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    sibling = spark.newSession()  # own confs, untouched by other tests
    assert sibling.conf.get("spark.sql.parquet.outputTimestampType") == "INT96"
    path = str(tmp_path / "feat")
    sibling.createDataFrame(
        pd.DataFrame(
            {"k": [1, 2], "ts": [datetime(2024, 1, 9)] * 2, "v": [1.0, 2.0]}
        )
    ).write.parquet(path)
    before = sibling.conf.get(key)
    got = get_historical_features(sibling, _ENTITY, [_parquet_fv(path)])
    assert _values(got.to_spark_df()) == [1.0, 2.0]
    assert sibling.conf.get(key) == before


def test_parquet_source_reads_nanos_timestamps(spark, tmp_path):
    """A parquet TIMESTAMP(NANOS) column, which Spark's reader rejects
    on its own, reads back through ParquetSource as a TIMESTAMP
    truncated to the microsecond."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    ns = 1_704_758_400_123_456_789  # 2024-01-09 00:00:00.123456789 UTC
    path = str(tmp_path / "feat.parquet")
    pq.write_table(
        pa.table(
            {
                "k": [1, 2],
                "ts": pa.array([ns, ns], pa.timestamp("ns", tz="UTC")),
                "v": [1.0, 2.0],
            }
        ),
        path,
    )
    assert pq.read_schema(path).field("ts").type.unit == "ns"
    fv = _parquet_fv(path)
    df = fv.resolve_df(spark)
    assert dict(df.dtypes)["ts"] == "timestamp"
    micros = {r[0] for r in df.select(F.unix_micros("ts")).collect()}
    assert micros == {ns // 1000}
    got = get_historical_features(spark, _ENTITY, [fv])
    assert _values(got.to_spark_df()) == [1.0, 2.0]
