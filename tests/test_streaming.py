"""Structured Streaming tests: file-source micro-batch -> windowed agg
-> memory sink; results cross-checked against the batch twin."""

import pytest
from pyspark.sql import functions as F

from feast_hive_spark.sources.tables import read_table
from feast_hive_spark.streaming import events as SE


def test_windowed_counts_matches_batch(spark, sf_dir):
    stream = SE.read_event_stream(spark, sf_dir)
    result = SE.windowed_counts(stream, window="1 day", watermark="1 day")
    # complete mode: append would hold back windows the watermark has
    # not passed yet (the stream ends, so they would never emit)
    SE.run_to_memory(result, "win_counts", output_mode="complete")
    got = spark.sql("SELECT * FROM win_counts").toPandas()

    ev = read_table(spark, sf_dir, "events")
    exp = (
        ev.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .toPandas()
    )
    key = ["window_start", "event_type"]
    g = got[key + ["n_events", "sum_value"]].sort_values(key).reset_index(drop=True)
    e = exp[key + ["n_events", "sum_value"]].sort_values(key).reset_index(drop=True)
    assert len(g) == len(e) > 0
    assert (g.n_events.to_numpy() == e.n_events.to_numpy()).all()
    assert (abs(g.sum_value.to_numpy() - e.sum_value.to_numpy()) < 1e-6).all()


def test_sessionize(spark, sf_dir):
    stream = SE.read_event_stream(spark, sf_dir)
    result = SE.sessionize(stream, gap="30 minutes", watermark="1 day")
    SE.run_to_memory(result, "sessions")
    got = spark.sql("SELECT * FROM sessions").toPandas()
    assert len(got) > 0
    assert (got.session_end > got.session_start).all()
    assert (got.n_events >= 1).all()
    # sessions for one user must not overlap
    for _, grp in got.groupby("user_id"):
        g = grp.sort_values("session_start")
        assert (
            g.session_start.iloc[1:].to_numpy() >= g.session_end.iloc[:-1].to_numpy()
        ).all()


def test_stream_to_online_snapshot(spark, sf_dir, tmp_path):
    """foreachBatch streaming materialization: after draining the
    stream, the snapshot equals batch latest-per-key, and point
    lookups work through the online reader."""
    from feast_hive_spark.sinks import read_online

    path = str(tmp_path / "online_stream")
    stream = SE.read_event_stream(spark, sf_dir)
    q = SE.stream_to_online(stream, path, ["user_id"], ["value", "event_type"])
    q.awaitTermination(120)

    ev = read_table(spark, sf_dir, "events")
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc())
    exp = (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .select("user_id", "ts")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    got = (
        spark.read.parquet(path)
        .select("user_id", "ts")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert got.user_id.tolist() == exp.user_id.tolist()
    assert (got.ts.to_numpy() == exp.ts.to_numpy()).all()

    # every key answers, with the snapshot's row
    keys = got.user_id.tolist()
    looked = (
        read_online(spark, path, ["user_id"], [(k,) for k in keys])
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert looked.user_id.tolist() == keys
    assert (looked.ts.to_numpy() == got.ts.to_numpy()).all()


def test_stream_to_online_incremental_buckets(spark, tmp_path):
    """A later micro-batch must rewrite ONLY the buckets its keys hash
    into: every other bucket directory stays byte-identical (the
    O(touched)-not-O(snapshot) property), while the touched key merges
    the new row."""
    import hashlib
    from datetime import datetime, timedelta
    from pathlib import Path

    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    snap = str(tmp_path / "online")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime(2024, 1, 1, 12, 0, 0)

    def write_batch(name, users, ts, value):
        pdf = pd.DataFrame({"user_id": users, "value": [value] * len(users),
                            "ts": [ts] * len(users)})
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            str(src / name)
        )

    def drain():
        stream = (
            spark.readStream.schema("user_id long, value double, ts timestamp")
            .format("parquet").option("path", f"{src}/*").load()
        )
        q = SE.stream_to_online(
            stream, snap, ["user_id"], ["value"], checkpoint_dir=ckpt
        )
        q.awaitTermination(120)

    def bucket_digests():
        out = {}
        for bdir in Path(snap).glob("__bucket=*"):
            h = hashlib.md5()
            for f in sorted(p for p in bdir.rglob("*") if p.is_file()):
                h.update(str(f.relative_to(bdir)).encode())
                h.update(f.read_bytes())
            out[bdir.name] = h.hexdigest()
        return out

    write_batch("b1", list(range(40)), t0, 1.0)
    drain()
    before = bucket_digests()
    assert len(before) > 1  # keys spread over several buckets

    touched_bucket = spark.sql(
        "SELECT pmod(hash(CAST(7 AS BIGINT)), 16)"
    ).first()[0]
    write_batch("b2", [7], t0 + timedelta(hours=1), 99.0)
    drain()
    after = bucket_digests()

    for name, digest in before.items():
        if name != f"__bucket={touched_bucket}":
            assert after[name] == digest, f"{name} was rewritten"
    assert after[f"__bucket={touched_bucket}"] != before[f"__bucket={touched_bucket}"]

    got = spark.read.parquet(snap).toPandas().set_index("user_id")
    assert got.loc[7, "value"] == 99.0 and len(got) == 40


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg with a watermark: once the watermark
    has passed a window's end, a later micro-batch's rows for that
    window are DROPPED (bounded state = the 100 TB property), and the
    closed window's final count excludes them."""
    from datetime import datetime, timedelta

    import pandas as pd

    src = tmp_path / "late_src"
    src.mkdir()
    ckpt = str(tmp_path / "late_ckpt")
    base = datetime(2024, 1, 1, 0, 30, 0)

    def write_file(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "value", "ts", "event_type"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            str(src / name)
        )

    out_dir = str(tmp_path / "late_out")

    def drain():
        stream = (
            spark.readStream.schema(
                "user_id long, value double, ts timestamp, event_type string"
            ).format("parquet").option("path", f"{src}/*").load()
        )
        agg = SE.windowed_counts(stream, window="1 hour", watermark="30 minutes")
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet").option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: two rows in hour-0 window
    write_file("f1", [(1, 1.0, base, "click"), (2, 1.0, base + timedelta(minutes=5), "click")])
    drain()
    # batch 2: advances event time far past hour-0 + watermark -> closes it
    write_file("f2", [(3, 1.0, base + timedelta(hours=3), "click")])
    drain()
    # batch 3: a LATE row for hour-0, beyond the watermark -> dropped
    write_file("f3", [(4, 99.0, base + timedelta(minutes=10), "click")])
    drain()

    got = spark.read.parquet(out_dir).toPandas()
    hour0 = got[got.window_start == base.replace(minute=0)]
    assert len(hour0) == 1
    assert hour0.n_events.iloc[0] == 2  # late row NOT counted
    assert hour0.sum_value.iloc[0] == 2.0


def test_sessionize_batch_twin_matches_streaming(spark, sf_dir):
    """The gaps-and-islands batch sessionization (oracle-gated registry
    entry) and streaming session_window produce the SAME sessions:
    same (user, start), same event counts and sums, and the streaming
    session_end is exactly last_event + gap."""
    from datetime import timedelta

    from feast_hive_spark.registry import REGISTRY
    import feast_hive_spark.registry_ext  # noqa: F401

    stream = SE.read_event_stream(spark, sf_dir)
    result = SE.sessionize(stream, gap="30 minutes", watermark="10 days")
    SE.run_to_memory(result, "sess_twin", output_mode="complete")
    streaming = (
        spark.sql("SELECT * FROM sess_twin")
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    batch = (
        REGISTRY["events_sessionize_batch"][0](spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    assert len(streaming) == len(batch) > 0
    assert (streaming.user_id.to_numpy() == batch.user_id.to_numpy()).all()
    assert (
        streaming.session_start.to_numpy() == batch.session_start.to_numpy()
    ).all()
    assert (streaming.n_events.to_numpy() == batch.n_events.to_numpy()).all()
    assert (
        abs(streaming.sum_value.to_numpy() - batch.sum_value.to_numpy()) < 1e-6
    ).all()
    expected_end = batch.session_last_event + timedelta(minutes=30)
    assert (streaming.session_end.to_numpy() == expected_end.to_numpy()).all()


def test_stream_click_attribution_left_outer(spark, tmp_path):
    """Watermarked stream-stream LEFT OUTER join: matched attribution
    rows equal the batch twin's; NULL rows appear for early unmatched
    purchases once the watermark passes them, and every emitted NULL
    row is correct per the batch twin (trailing-batch NULLs may
    legitimately never flush — documented semantics)."""
    from datetime import datetime, timedelta

    import pandas as pd

    base = datetime(2024, 5, 1, 12, 0, 0)
    rows = []
    eid = 0
    # batch A (early): user 1 click->purchase (match), user 2 purchase
    # with no click (must surface as NULL once watermark passes)
    for u, typ, off in [
        (1, "click", 0), (1, "purchase", 600), (2, "purchase", 700),
    ]:
        rows.append((eid, u, typ, base + timedelta(seconds=off), 1.0)); eid += 1
    # batch B (2h later): advances the watermark far past batch A
    for u, typ, off in [(3, "click", 7200), (3, "purchase", 7300)]:
        rows.append((eid, u, typ, base + timedelta(seconds=off), 1.0)); eid += 1
    # batch C (4h later): advances watermark past batch B
    for u, typ, off in [(4, "purchase", 14400)]:
        rows.append((eid, u, typ, base + timedelta(seconds=off), 1.0)); eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "event_type", "ts", "value"]
    )
    src = str(tmp_path / "attr_src")
    for i, lo in enumerate([(0, 3), (3, 5), (5, 6)]):
        spark.createDataFrame(pdf.iloc[lo[0]:lo[1]]).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )
    ev = spark.createDataFrame(pdf)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = SE.stream_click_attribution(
        stream, window_seconds=1800, watermark="10 minutes"
    )
    SE.run_to_memory(out, "attributed", output_mode="append")
    got = spark.sql(
        "SELECT probe_id, click_id FROM attributed"
    ).toPandas()

    exp = (
        SE_batch_attribution(ev)
        .select("probe_id", "click_id")
        .toPandas()
    )
    got_pairs = set(map(tuple, got.fillna(-1).values.tolist()))
    exp_pairs = set(map(tuple, exp.fillna(-1).values.tolist()))
    # every emitted row is correct
    assert got_pairs <= exp_pairs
    # the matched rows all arrived
    assert {p for p in exp_pairs if p[1] != -1} <= got_pairs
    # the EARLY unmatched purchase flushed as a NULL row (user 2);
    # trailing-batch purchases (user 4) may legitimately be withheld
    assert (2.0, -1) in {
        (p, c) for p, c in got.fillna(-1)[["probe_id", "click_id"]].values
    }


def SE_batch_attribution(ev):
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("probe_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (p["user_id"] == c["c_user"])
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1800 SECOND"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    return p.join(c, cond, "leftOuter")


def test_stream_heavy_hitters_space_saving(spark, sf_dir):
    """Streaming space-saving sketch: with capacity >= distinct items
    the estimates are EXACT (err 0, counts equal the batch groupBy);
    with a tight capacity the guaranteed-heavy item survives and its
    estimate bounds the true count from above by at most err."""
    stream = SE.read_event_stream(spark, sf_dir)
    result = SE.stream_heavy_hitters(
        stream, item_col="event_type", capacity=16, n_buckets=4
    )
    SE.run_to_memory(result, "hh_exact", output_mode="update")
    got = spark.sql(
        "SELECT item, est_count, err FROM hh_exact"
    ).toPandas()
    ev = read_table(spark, sf_dir, "events")
    exp = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert dict(zip(got["item"], got["est_count"])) == exp
    assert (got["err"] == 0).all()

    # tight capacity: per-bucket summaries stay bounded and every
    # estimate still upper-bounds the true count by <= err
    result2 = SE.stream_heavy_hitters(
        stream, item_col="event_type", capacity=2, n_buckets=1
    )
    SE.run_to_memory(result2, "hh_tight", output_mode="update")
    tight = spark.sql("SELECT * FROM hh_tight").toPandas()
    assert len(tight) <= 2
    # the space-saving guarantee: any item with true frequency
    # > N/capacity MUST be present (vacuous on near-uniform data);
    # every surviving estimate brackets truth: true <= est <= true+err
    n_total = sum(exp.values())
    for item, true in exp.items():
        if true > n_total / 2:
            assert item in set(tight["item"])
    for r in tight.itertuples():
        true = exp.get(r.item, 0)
        assert true <= r.est_count <= true + r.err


def test_stream_heavy_hitters_state_across_batches(spark, tmp_path):
    """The sketch state must SURVIVE micro-batch boundaries:
    maxFilesPerTrigger=1 splits the two file drops into two
    micro-batches within one query, and the second batch's emission
    must carry the accumulated counts (exact here, capacity >=
    distinct items)."""
    from datetime import datetime

    import pandas as pd

    src = tmp_path / "hh_src"
    src.mkdir()
    ckpt = str(tmp_path / "hh_ckpt")
    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(name, items):
        pdf = pd.DataFrame(
            {
                "event_id": range(len(items)),
                "ts": [t0] * len(items),
                "user_id": [1] * len(items),
                "event_type": items,
                "value": [1.0] * len(items),
                "props": ["{}"] * len(items),
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    write_batch("b1", ["a"] * 10 + ["b"] * 5)
    write_batch("b2", ["a"] * 3 + ["c"] * 7)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )
        .format("parquet")
        .option("path", f"{src}/*")
        .option("maxFilesPerTrigger", 1)
        .load()
    )
    result = SE.stream_heavy_hitters(
        stream, item_col="event_type", capacity=8, n_buckets=2
    )
    q = (
        result.writeStream.outputMode("update")
        .format("memory")
        .queryName("hh_multi")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # update mode re-emits changed buckets per batch; the max per item
    # is its final accumulated estimate
    got = (
        spark.sql(
            "SELECT item, max(est_count) AS est FROM hh_multi GROUP BY item"
        )
        .toPandas()
        .set_index("item")["est"]
        .to_dict()
    )
    assert got["a"] == 13  # 10 from batch 1 + 3 from batch 2
    assert got["c"] == 7


def test_topk_from_buckets_finisher(spark):
    """The batch finisher must (a) dedupe multi-batch update-mode
    emissions to each bucket's FINAL state via max(), (b) union
    disjoint buckets, (c) rank globally with an item tiebreak."""
    rows = [
        # bucket 0, two emissions for 'a' (counts only grow)
        (0, "a", 5, 0), (0, "a", 9, 0),
        (0, "b", 7, 2),
        # bucket 1
        (1, "c", 9, 1), (1, "d", 1, 0),
    ]
    df = spark.createDataFrame(
        rows, "bucket long, item string, est_count long, err long"
    )
    got = [
        tuple(r) for r in SE.topk_from_buckets(df, k=3).collect()
    ]
    # ties broken by item asc: a(9) before c(9)
    assert got == [("a", 9, 0), ("c", 9, 1), ("b", 7, 2)]


def test_stream_pit_probe_matches_batch(spark, sf_dir):
    """The streaming PIT probe must answer IDENTICALLY to the batch
    flagship path on the closed dataset — both are registered against
    the same DuckDB oracle; this pins them to each other in-process."""
    from feast_hive_spark.registry import REGISTRY
    import feast_hive_spark.registry_analytics  # noqa: F401

    got = (
        REGISTRY["stream_pit_probe"][0](spark, sf_dir)
        .toPandas()
        .sort_values("probe_id")
        .reset_index(drop=True)
    )
    exp = (
        REGISTRY["pit_entity_sql"][0](spark, sf_dir)
        .toPandas()
        .sort_values("probe_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) > 0
    assert (got["probe_id"] == exp["probe_id"]).all()
    gv, ev = got["click_value"], exp["click_value"]
    assert (gv.isna() == ev.isna()).all()
    assert (gv.dropna() - ev.dropna()).abs().max() < 1e-9


def test_stream_pit_probe_watermark_append_evicts(spark, tmp_path):
    """Continuous mode: with a watermark, a probe emits once the
    watermark passes its event time — and the as-of value is the
    latest feature at probe time, not anything that arrived later."""
    from datetime import datetime, timedelta

    import pandas as pd

    base = datetime(2024, 1, 1, 12, 0, 0)
    feats = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [1, 1, 2],
                "ts": [base - timedelta(hours=2), base - timedelta(minutes=5), base],
                "event_id": [100, 101, 102],
                "value": [10.0, 20.0, 30.0],
            }
        )
    )
    src = tmp_path / "pit_src"
    src.mkdir()
    ckpt = str(tmp_path / "pit_ckpt")
    out_dir = str(tmp_path / "pit_out")

    def write_file(name, rows):
        pdf = pd.DataFrame(rows, columns=["probe_id", "user_id", "event_timestamp"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            str(src / name)
        )

    def drain():
        probes = (
            spark.readStream.schema(
                "probe_id long, user_id long, event_timestamp timestamp"
            ).format("parquet").option("path", f"{src}/*").load()
        )
        res = SE.stream_pit_probe(
            probes, feats, ttl_seconds=7 * 86400, watermark="30 minutes"
        )
        q = (
            res.writeStream.outputMode("append")
            .format("parquet").option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # probe for user 1 at base (as-of match = event 101, value 20.0)
    # and user 3 (no features -> NULL)
    write_file("f1", [(1, 1, base), (2, 3, base)])
    drain()
    # a much later probe advances the watermark past `base`
    write_file("f2", [(3, 2, base + timedelta(hours=4))])
    drain()
    # one more drain lets the final no-data batch flush emissions
    write_file("f3", [(4, 2, base + timedelta(hours=9))])
    drain()

    got = spark.read.parquet(out_dir).toPandas().set_index("probe_id")
    assert 1 in got.index and got.loc[1, "click_value"] == 20.0
    assert 2 in got.index and pd.isna(got.loc[2, "click_value"])


def test_stream_span_flags_matches_batch(spark, sf_dir, tmp_path):
    """Streaming duplicate-span flagging (online Lee-et-al check):
    the streaming execution over a file source must emit exactly the
    (doc_id, pos) rows the SAME operator computes on a batch input,
    and every flagged position's k-gram must genuinely exist in the
    index corpus (spot-checked via the batch duplicate machinery)."""
    from feast_hive_spark.sources.tables import read_table
    from feast_hive_spark.streaming.events import (
        run_to_memory,
        stream_duplicate_anchor_flags,
    )

    docs = read_table(spark, sf_dir, "documents")
    arrivals = docs.filter(F.col("doc_id") % 2 == 1)
    index = docs.filter(F.col("doc_id") % 2 == 0)
    exp = sorted(
        map(
            tuple,
            stream_duplicate_anchor_flags(
                arrivals, index, "doc_id", "text", k=8
            ).collect(),
        )
    )
    assert len(exp) > 0, "planted duplicates must flag across the split"
    assert len(exp) == len(set(exp))

    path = str(tmp_path / "docs_stream")
    arrivals.write.parquet(path)
    stream = spark.readStream.schema(docs.schema).parquet(path)
    out = stream_duplicate_anchor_flags(stream, index, "doc_id", "text", k=8)
    assert out.isStreaming
    run_to_memory(out, "span_flags")
    got = sorted(map(tuple, spark.table("span_flags").collect()))
    assert got == exp


def test_stream_value_drift_bins_clamps_and_windows(spark):
    """The drift-bin kernel (same plan batch or streaming): bin
    clamping at n_bins-1, epoch-aligned day windows, per-bin counts."""
    from datetime import datetime

    from feast_hive_spark.streaming.events import stream_value_drift_bins

    df = spark.createDataFrame(
        [
            (datetime(2024, 1, 1, 5, 0), 0.0),     # bin 0
            (datetime(2024, 1, 1, 6, 0), 24.99),   # bin 0
            (datetime(2024, 1, 1, 7, 0), 25.0),    # bin 1
            (datetime(2024, 1, 1, 8, 0), 9999.0),  # clamped to bin 9
            (datetime(2024, 1, 2, 5, 0), 30.0),    # next window, bin 1
        ],
        "ts timestamp, value double",
    )
    got = {
        (r.window_start, r.bin): r.n
        for r in stream_value_drift_bins(df).collect()
    }
    d1, d2 = datetime(2024, 1, 1), datetime(2024, 1, 2)
    assert got == {(d1, 0): 2, (d1, 1): 1, (d1, 9): 1, (d2, 1): 1}
