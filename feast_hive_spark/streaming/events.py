"""Structured Streaming ingest of the events table (SURVEY §7).

The reference has no streaming at all (SURVEY §2.6); this module is
the engine's streaming extension, built on the idiomatic stack:
``readStream`` -> watermark -> windowed aggregation -> sink. The batch
twin of the windowed rollup is registry:events_daily_rollup, so the
semantics are cross-checkable.

Scale notes: windowed aggs with watermarks keep state bounded (late
rows beyond the watermark are dropped); state is hash-partitioned by
(window, keys) across executors. `sessionize` shows
``applyInPandasWithState`` for custom per-key state machines —
timeouts evict idle keys, so state is O(active keys) not O(events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feast_hive_spark.sources.tables import nanos_ts_columns


def _events_schema(ts_as_long: bool) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            # long when parquet stores TIMESTAMP(NANOS); timestamp otherwise
            T.StructField("ts", T.LongType() if ts_as_long else T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one file = one
    micro-batch locally; on a cluster this would be a kafka source
    with the same downstream plan)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    nanos = "ts" in nanos_ts_columns(f"{sf_dir}/events.parquet")
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Layout-aware source path (r10 finding, caught by the tier
    # replay reading 0 rows): pathGlobFilter matches LEAF FILES, so
    # on a Spark-written table DIRECTORY (events.parquet/
    # part-*.parquet) the name filter matched nothing and the stream
    # was silently EMPTY. A directory table gets the direct path; the
    # driver's single-FILE layout keeps the warehouse-dir + filter
    # form (a file path trips the source's basePath-must-be-a-
    # directory check).
    import os

    tbl = f"{sf_dir}/events.parquet"
    reader = spark.readStream.schema(
        _events_schema(ts_as_long=nanos)
    ).format("parquet")
    if os.path.isdir(tbl):
        reader = reader.option("path", tbl)
    else:
        reader = reader.option("path", f"{sf_dir}").option(
            "pathGlobFilter", "events.parquet"
        )
    raw = reader.load()
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling/sliding windowed counts + sums per event_type with
    late-data handling via watermark."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    group_col: str,
    window: str = "1 day",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static enrichment: join the event stream to a static
    dimension (broadcast — Spark re-resolves the static side per
    micro-batch, so a slowly-refreshed dim table picks up updates
    without restarting the query), then windowed counts/sums per
    dimension attribute. The join adds NO streaming state; only the
    windowed aggregate holds state, bounded by the watermark."""
    joined = events.join(F.broadcast(dim), on)
    return (
        joined.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), group_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            group_col,
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user: built-in ``session_window`` (gap-based
    merge of activity), the declarative form of a custom stateful
    operator."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-user running (count, sum) state machine, emitting the updated
    totals on every micro-batch.

    This is the escape hatch for semantics the built-in windowed aggs
    can't express (arbitrary per-key state transitions). State is
    hash-partitioned by key across executors and lives in the state
    store; with a timeout configured, idle keys are evicted so state
    stays O(active keys). Arrow-batched like any Pandas UDF."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact-dedup on arrival keys — idempotent ingest for
    at-least-once upstreams (kafka redeliveries, file re-drops), the
    streaming twin of ``operators/dedup.py:exact_dedup``.

    ``dropDuplicatesWithinWatermark`` keeps one state entry per key
    seen inside the watermark horizon and EVICTS it once event time
    passes key_ts + watermark — state is bounded by the duplicate
    window, not stream lifetime (a plain ``dropDuplicates`` on a
    stream would grow state forever). Duplicates arriving later than
    the watermark are by-contract re-emitted; size the watermark to
    the upstream's redelivery window."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def stream_interval_join(
    events: DataFrame,
    window_seconds: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner self-join with an event-time interval
    condition: every (purchase, click) pair whose timestamps lie
    within ±``window_seconds`` — the streaming twin of the batch
    ``interval_overlap_counts`` decomposition.

    Stream-stream joins REQUIRE an equality predicate (state is keyed
    by it), which is exactly what the batch operator's binned
    decomposition provides: clicks hash into window-sized time bins,
    purchases probe their 3 adjacent bins (sequence+explode), the join
    keys on the bin, and the exact interval predicate runs as the
    residual condition. Both sides carry watermarks and the time
    condition bounds both event times, so Spark derives a finite
    state-retention window per side and evicts buffered rows the
    watermark has passed — state is O(rows per active bin), not
    O(stream). Append-mode output; pairs emit as both sides arrive."""
    bin_us = window_seconds * 1_000_000
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("probe_id"), F.col("ts").alias("p_ts")
        )
        .withWatermark("p_ts", watermark)
        .withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    F.floor((F.unix_micros("p_ts") - bin_us) / bin_us),
                    F.floor((F.unix_micros("p_ts") + bin_us) / bin_us),
                )
            ),
        )
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", watermark)
        .withColumn("__bin", F.floor(F.unix_micros("c_ts") / bin_us))
    )
    cond = (p["__bin"] == c["__bin"]) & F.col("c_ts").between(
        F.col("p_ts") - F.expr(f"INTERVAL {window_seconds} SECOND"),
        F.col("p_ts") + F.expr(f"INTERVAL {window_seconds} SECOND"),
    )
    return p.join(c, cond, "inner").drop("__bin")


def stream_click_attribution(
    events: DataFrame,
    window_seconds: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every purchase, attributed to
    the same user's click(s) in the preceding ``window_seconds`` —
    NULL click columns when no click preceded it.  The canonical
    watermarked outer-join shape: the user_id equality keys the join
    state, the one-sided interval condition (`c_ts` in
    [p_ts - W, p_ts]) bounds BOTH buffers, so state is evicted as the
    watermark passes and never grows with the stream.

    Outer-join semantics worth knowing (and tested): a purchase with
    no click is emitted only once the watermark has moved PAST its
    eviction point — i.e., NULL rows trail the matched rows by up to
    (watermark + window), and rows from the final micro-batches of a
    terminating stream may never flush.  Downstream consumers that
    need completion run a batch twin over the closed window instead;
    the streaming join is for the continuously-attributed live path."""
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("probe_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    cond = (
        (p["user_id"] == c["c_user"])
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {window_seconds} SECOND")
        )
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    return p.join(c, cond, "leftOuter").select(
        "user_id", "probe_id", "p_ts", "click_id", "c_ts"
    )


def stream_pit_probe(
    probes: DataFrame,
    features: DataFrame,
    ttl_seconds: int,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming point-in-time probe — the ONLINE twin of the batch
    flagship (plans/pit.py; reference semantics: feast-hive's PIT
    template, hive.py:527-721 — latest-at-or-before within TTL,
    NULL-preserving left assembly): a stream of entity probes
    as-of-joined against a STATIC feature history; per probe, the
    latest feature row at or before the probe's event time within
    ``ttl_seconds``, NULL on no match.

    Shape: a stream-static LEFT OUTER join (STATELESS — Spark
    re-resolves the static side per micro-batch, so a slowly
    refreshed feature table is picked up without restart) followed by
    one per-probe argmax aggregate, the streaming form of the batch
    plan's keyed ``max_by``. The ordering key is NULL exactly on the
    unmatched branch, so ``max_by``'s null-ignoring semantics yield
    the LEFT-join NULL without a separate code path — the same
    (feature_ts DESC, feature_id DESC) total order as the batch
    retrieval, so both paths are held to ONE oracle
    (registry ``pit_entity_sql``'s SQL, see ``stream_pit_probe`` in
    the registry).

    Modes: pass ``watermark`` for the continuous deployment — the
    aggregate emits a probe once the watermark passes its event time
    and evicts its state (bounded by probe disorder, not stream
    length). The closed-replay smoke/gate path runs COMPLETE mode
    (no watermark): a terminating file replay never advances the
    watermark past its last probes, so append would hold them back
    forever (same rule as windowed_counts' test)."""
    p = probes
    if watermark:
        p = p.withWatermark("event_timestamp", watermark)
    f = features.select(
        F.col("user_id").alias("__f_user"),
        F.col("ts").alias("__f_ts"),
        F.col("event_id").alias("__f_id"),
        F.col("value").alias("__f_value"),
    )
    cond = (
        (p["user_id"] == f["__f_user"])
        & (F.col("__f_ts") <= F.col("event_timestamp"))
        & (
            F.col("__f_ts")
            >= F.col("event_timestamp")
            - F.expr(f"INTERVAL {ttl_seconds} SECOND")
        )
    )
    ordk = F.when(
        F.col("__f_id").isNotNull(), F.struct("__f_ts", "__f_id")
    )
    return (
        p.join(f, cond, "leftOuter")
        .groupBy("probe_id", "user_id", "event_timestamp")
        .agg(F.max_by(F.col("__f_value"), ordk).alias("click_value"))
        .select("probe_id", "user_id", "event_timestamp", "click_value")
    )


def sessionize_stateful(
    events: DataFrame,
    gap_seconds: int = 1800,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful sessionizer via ``applyInPandasWithState`` with
    **event-time timeout eviction** — the full custom-operator shape
    that the built-in ``session_window`` hides: explicit per-key state
    (open session aggregates), explicit close conditions, and state
    that cannot grow unboundedly because idle keys are evicted when
    the watermark passes their session gap.

    A key's open session extends while events arrive within
    ``gap_seconds`` of its last event; an in-batch gap closes and
    emits the previous session immediately; otherwise the session is
    emitted when the event-time timeout fires (watermark >
    last_event + gap). Emitted rows are CLOSED sessions only — the
    exactly-once append-mode contract. State per key is four scalars,
    hash-partitioned across executors."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_seconds * 1_000_000

    def update(key, pdfs, state: GroupState):
        closed = []
        if state.hasTimedOut:
            start_us, last_us, n, s = state.get
            closed.append((key[0], start_us, last_us, n, s))
            state.remove()
        else:
            times, values = [], []
            for pdf in pdfs:
                # pandas ns epoch -> us
                times.extend(int(t.value) // 1000 for t in pd.to_datetime(pdf[ts_col]))
                values.extend(float(v) if v == v else 0.0 for v in pdf[value_col])
            order = sorted(range(len(times)), key=lambda i: times[i])
            if state.exists:
                start_us, last_us, n, s = state.get
            else:
                start_us, last_us, n, s = None, None, 0, 0.0
            for i in order:
                t_us = times[i]
                if last_us is not None and t_us - last_us > gap_us:
                    closed.append((key[0], start_us, last_us, n, s))
                    start_us, last_us, n, s = None, None, 0, 0.0
                if start_us is None:
                    start_us = t_us
                last_us = t_us
                n += 1
                s += values[i]
            if start_us is not None:
                state.update((start_us, last_us, n, s))
                # evict when the watermark passes last_event + gap
                state.setTimeoutTimestamp((last_us + gap_us) // 1000)
        if closed:
            yield pd.DataFrame(
                {
                    key_col: [c[0] for c in closed],
                    "session_start": [pd.Timestamp(c[1], unit="us") for c in closed],
                    "session_last_event": [pd.Timestamp(c[2], unit="us") for c in closed],
                    "n_events": [c[3] for c in closed],
                    "sum_value": [round(c[4], 2) for c in closed],
                }
            )

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=(
            f"{key_col} long, session_start timestamp, "
            "session_last_event timestamp, n_events long, sum_value double"
        ),
        stateStructType="start_us long, last_us long, n long, s double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_to_online(
    events: DataFrame,
    path: str,
    join_key_columns: list[str],
    feature_name_columns: list[str],
    event_timestamp_column: str = "ts",
    n_buckets: int = 16,
    checkpoint_dir: str | None = None,
) -> "object":
    """Continuously materialize latest-per-key features into the
    online snapshot layout (sinks.py) via ``foreachBatch``.

    Each micro-batch computes its own latest-per-key rows, then merges
    them into the snapshot **incrementally**: only the hash buckets
    actually touched by the batch are read back, re-argmaxed, rewritten
    to a temp dir and swapped in per bucket directory — I/O per batch
    is O(touched buckets), not O(snapshot), which is the difference
    between a viable and a runaway sink once the snapshot holds 1e9
    keys. On a lakehouse table this body would be a single MERGE INTO.

    Failure semantics: the merge is an idempotent per-key argmax, so a
    replayed micro-batch (after a crash, driven by the checkpoint)
    converges to the same snapshot — the exactly-once recipe for
    non-transactional sinks. The swap itself renames each old bucket
    dir aside before promoting its replacement and restores it if the
    promotion fails, so no crash window loses previously-committed
    keys. Only a genuinely-missing snapshot path is treated as "first
    batch"; any other read error propagates instead of silently
    discarding history.

    Returns the StreamingQuery (caller stops it)."""
    import shutil
    from pathlib import Path

    from pyspark.errors import AnalysisException
    from pyspark.sql import Window

    bucket_of = F.pmod(
        F.hash(*[F.col(c) for c in join_key_columns]), F.lit(n_buckets)
    )

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        w = Window.partitionBy(*join_key_columns).orderBy(
            F.col(event_timestamp_column).desc()
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(*join_key_columns, *feature_name_columns, event_timestamp_column)
            .withColumn("__bucket", bucket_of)
            .cache()
        )
        touched = sorted(
            r[0] for r in latest.select("__bucket").distinct().collect()
        )
        if not touched:
            latest.unpersist()
            return

        merged = latest
        if Path(path).exists():
            try:
                existing = spark.read.parquet(path).filter(
                    F.col("__bucket").isin([int(b) for b in touched])
                )
                merged = existing.unionByName(latest)
            except AnalysisException:
                # path exists but holds no readable snapshot (e.g. an
                # empty dir from a cancelled first write) -> first batch
                pass
        w2 = Window.partitionBy(*join_key_columns).orderBy(
            F.col(event_timestamp_column).desc()
        )
        final = (
            merged.withColumn("__rn", F.row_number().over(w2))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # Rewrite ONLY the touched buckets into a temp dir (the
        # snapshot is also this batch's read input, so an in-place
        # overwrite would truncate before reading), then swap each
        # bucket directory: old aside -> promote new -> drop old;
        # restore the old dir if promotion fails.
        tmp = path + f".epoch{epoch_id}"
        final.write.mode("overwrite").partitionBy("__bucket").parquet(tmp)
        latest.unpersist()
        Path(path).mkdir(parents=True, exist_ok=True)
        for b in touched:
            new_dir = Path(tmp) / f"__bucket={b}"
            dst = Path(path) / f"__bucket={b}"
            aside = Path(path) / f".__bucket={b}.epoch{epoch_id}.old"
            had_old = dst.exists()
            if had_old:
                dst.rename(aside)
            try:
                shutil.move(str(new_dir), str(dst))
            except BaseException:
                if had_old and not dst.exists():
                    aside.rename(dst)
                raise
            if had_old:
                shutil.rmtree(aside, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    writer = (
        events.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def stream_to_sketches(
    events: DataFrame,
    path: str,
    key_cols: list[str],
    ts_col: str = "ts",
    id_col: str = "user_id",
    checkpoint_dir: str | None = None,
) -> "object":
    """Continuously maintain the per-(key, day) HLL sketch table
    (operators/sketches.py) from an event stream via ``foreachBatch``:
    each micro-batch's rows are sketched and UNIONED into the persisted
    sketch table, so any distinct-count rollup is answerable at any
    time without rescanning history — the streaming half of the
    sketch-once/rollup-forever pattern.

    The merge is a full read-union-rewrite of the sketch table, which
    is sound because the table is tiny by construction (#keys × #days
    rows of ~KB sketches, independent of event volume); at millions of
    keys you'd switch to the bucket-incremental swap exactly as
    ``stream_to_online`` does. The rewrite uses rename-aside promotion
    with START-OF-UPSERT recovery: POSIX rename can't atomically swap
    a non-empty directory, so a crash in the instant between "live
    renamed aside" and "replacement promoted" can leave no live table
    — the next upsert detects the orphaned aside and restores it
    BEFORE reading/merging, so committed history is never rebuilt from
    a lone micro-batch.  (In-process exceptions additionally roll the
    aside back immediately.)

    Exactly-once without transactions: HLL union is semantically
    IDEMPOTENT (the sketch is a set summary — re-observing the same
    items changes no estimate), so a checkpoint-driven replay of a
    micro-batch converges to a table with identical estimates; the
    serialized bytes may differ because DataSketches re-unioning can
    switch internal representation.  Returns the StreamingQuery."""
    import shutil
    from pathlib import Path

    from pyspark.errors import AnalysisException

    from feast_hive_spark.operators.sketches import hll_daily_sketches

    import re

    def _recover(live: "Path") -> None:
        """Crash recovery before any read: if a previous run died
        after renaming the live table aside but before promoting its
        replacement, restore the newest aside; if the live table
        exists, any leftover asides are stale — drop them."""
        asides = sorted(
            live.parent.glob(live.name + ".epoch*.old"),
            key=lambda p: int(
                re.search(r"\.epoch(\d+)\.old$", p.name).group(1)
            ),
        )
        if not asides:
            return
        if live.exists():
            for a in asides:
                shutil.rmtree(a, ignore_errors=True)
        else:
            asides[-1].rename(live)
            for a in asides[:-1]:
                shutil.rmtree(a, ignore_errors=True)

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover(Path(path))
        batch_sk = hll_daily_sketches(batch_df, key_cols, ts_col, id_col)
        merged = batch_sk
        if Path(path).exists():
            try:
                existing = spark.read.parquet(path)
                merged = existing.unionByName(batch_sk)
            except AnalysisException:
                pass  # empty dir from a cancelled first write
        final = (
            merged.groupBy(*key_cols, "day")
            .agg(F.hll_union_agg(F.col("sketch")).alias("sketch"))
            .coalesce(1)
        )
        tmp = path + f".epoch{epoch_id}"
        final.write.mode("overwrite").parquet(tmp)
        aside = path + f".epoch{epoch_id}.old"
        had_old = Path(path).exists()
        if had_old:
            Path(path).rename(aside)
        try:
            Path(tmp).rename(path)
        except BaseException:
            if had_old and not Path(path).exists():
                Path(aside).rename(path)
            raise
        if had_old:
            shutil.rmtree(aside, ignore_errors=True)

    writer = (
        events.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def run_to_memory(result: DataFrame, name: str, output_mode: str = "append") -> None:
    """Drive a streaming plan to completion against the memory sink
    (local smoke path: one parquet file -> one micro-batch)."""
    q = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def stream_heavy_hitters(
    events: DataFrame,
    item_col: str = "event_type",
    capacity: int = 8,
    n_buckets: int = 16,
) -> DataFrame:
    """Streaming heavy hitters via the space-saving sketch — the
    continuous top-k the batch two-pass recount (operators/skew.py)
    cannot give a live stream.

    Items hash into ``n_buckets`` state groups; each group keeps a
    space-saving summary of at most ``capacity`` counters (the
    classic Metwally et al. bound: any item with true frequency
    > N_bucket/capacity is guaranteed present, and every estimate
    overshoots by at most its recorded ``err``). Per micro-batch the
    operator pre-aggregates the Arrow batches (so state transitions
    are per distinct item, not per event) and emits the bucket's
    current counters with their error bounds; a downstream batch
    query unions buckets and takes the global top-k — bucket counts
    are disjoint (an item belongs to exactly one bucket), so no
    cross-bucket merge math is needed.

    State is O(n_buckets x capacity) TOTAL regardless of stream
    length or item cardinality — the whole point of the sketch.
    Output per bucket per batch: (bucket, item, est_count, err).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.exists:
            items, counts, errs = state.get
            summary = {
                it: [c, e] for it, c, e in zip(items, counts, errs)
            }
        else:
            summary = {}
        for pdf in pdfs:
            for it, inc in pdf["__item"].value_counts().items():
                inc = int(inc)
                if it in summary:
                    summary[it][0] += inc
                elif len(summary) < capacity:
                    summary[it] = [inc, 0]
                else:  # evict the minimum, inherit its count as error
                    mn_it = min(summary, key=lambda k: summary[k][0])
                    mn = summary.pop(mn_it)[0]
                    summary[it] = [mn + inc, mn]
        items = sorted(summary)
        state.update(
            (
                items,
                [summary[i][0] for i in items],
                [summary[i][1] for i in items],
            )
        )
        yield pd.DataFrame(
            {
                "bucket": [key[0]] * len(items),
                "item": items,
                "est_count": [summary[i][0] for i in items],
                "err": [summary[i][1] for i in items],
            }
        )

    keyed = events.select(
        F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_buckets)).alias("__bucket"),
        F.col(item_col).cast("string").alias("__item"),
    )
    return keyed.groupBy("__bucket").applyInPandasWithState(
        update,
        outputStructType="bucket long, item string, est_count long, err long",
        stateStructType=(
            "items array<string>, counts array<long>, errs array<long>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def topk_from_buckets(
    bucket_counters: DataFrame,
    k: int,
    bucket_col: str = "bucket",
    item_col: str = "item",
    count_col: str = "est_count",
    err_col: str = "err",
) -> DataFrame:
    """Batch finisher for :func:`stream_heavy_hitters` output — the
    union/top-k step consumers previously had to hand-roll (r4 verdict
    #7), with the disjoint-bucket argument encoded once here.

    An update-mode sink accumulates one row per (bucket, item) PER
    micro-batch. Two sketch facts make the finisher a two-liner:

    - Within a bucket, an item's emitted estimate never decreases
      across batches (increments add; an eviction re-inserts at
      ``evicted_min + inc`` ≥ every earlier estimate it had), so
      ``max(est_count)`` per (bucket, item) IS the final state; the
      matching ``max(err)`` keeps the estimate/error pair from the
      same (final) emission.
    - An item hashes to exactly ONE bucket, so bucket summaries count
      disjoint event sets — the global top-k is a plain sort over the
      unioned counters, no cross-bucket merge math.

    The input is bounded by O(n_buckets x capacity) rows per batch by
    construction (the sketch's whole point), so the final sort is a
    driver-trivial TakeOrdered, never a data-sized shuffle.

    Output: ``(item, est_count, err)``, top ``k`` by estimate with an
    item tiebreak for engine-independent row selection.
    """
    latest = bucket_counters.groupBy(bucket_col, item_col).agg(
        F.max(count_col).alias("est_count"),
        F.max(err_col).alias("err"),
    )
    return (
        latest.select(F.col(item_col).alias("item"), "est_count", "err")
        .orderBy(F.col("est_count").desc(), F.col("item"))
        .limit(k)
    )


def _banded_signatures(
    docs: DataFrame, id_col: str, text_col: str, n: int, bands: int
) -> DataFrame:
    """(id, full signature, band, band key) rows — shared by both
    sides of the stream-static near-dup join. Stateless per row."""
    from feast_hive_spark.functions import text as X

    rows_per_band = len(X.MINHASH_COEFS) // bands
    with_sh = docs.select(
        F.col(id_col), X.tokens_array(text_col).alias("__tk")
    ).select(
        F.col(id_col), X.shingle_hashes_from(F.col("__tk"), n).alias("__sh")
    )
    sigs = with_sh.select(
        id_col, "__sh", X.minhash_signature(F.col("__sh")).alias("__sig")
    )
    band_keys = []
    for bi in range(bands):
        lo = bi * rows_per_band
        band_keys.append(
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col("__sig")[i].cast("string")
                        for i in range(lo, lo + rows_per_band)
                    ],
                )
            )
        )
    return sigs.select(
        id_col,
        "__sh",
        "__sig",
        F.posexplode(F.array(*band_keys)).alias("__band", "__bkey"),
    )


def stream_near_dup_flags(
    doc_stream: DataFrame,
    index_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Streaming near-duplicate detection against a STATIC corpus
    index — online decontamination / dedup-at-ingest: every arriving
    document is MinHash-banded and joined against the banded index
    (a stream-static equi join on the band key: per-microbatch, NO
    streaming state), candidates are verified with exact Jaccard on
    the carried shingle sets, and each (arrival, index) pair is
    emitted exactly once WITHOUT a stateful distinct: both sides
    carry their full signatures, so the duplicate emissions a
    multi-band agreement would cause are cut by keeping only the
    FIRST agreeing band (recomputed row-wise post-join from the two
    signatures — pure expression, no state). The batch twin of the
    verification semantics is operators/dedup.minhash_lsh_pairs; the
    batch twin of the use case is registry:decontaminate_vs_benchmark.

    At scale the static index is precomputed once (and broadcast when
    it fits); per-microbatch cost is banding the arrivals + one equi
    join — no all-pairs anywhere, no state to evict.

    Output (append mode): ``(doc_id, match_id, jaccard)``.
    """
    from feast_hive_spark.functions import text as X

    k = len(X.MINHASH_COEFS)
    rows_per_band = k // bands
    s = _banded_signatures(doc_stream, id_col, text_col, n, bands)
    ix = _banded_signatures(index_docs, id_col, text_col, n, bands).select(
        F.col(id_col).alias("__ix_id"),
        F.col("__sh").alias("__ix_sh"),
        F.col("__sig").alias("__ix_sig"),
        "__band",
        "__bkey",
    )
    joined = s.join(ix, ["__band", "__bkey"])
    first_band = (
        F.array_position(
            F.transform(
                F.sequence(F.lit(1), F.lit(bands)),
                lambda bi: F.slice("__sig", (bi - 1) * rows_per_band + 1, rows_per_band)
                == F.slice("__ix_sig", (bi - 1) * rows_per_band + 1, rows_per_band),
            ),
            F.lit(True),
        )
        - 1
    )
    inter = F.size(F.array_intersect("__sh", "__ix_sh"))
    union = F.size(F.array_union("__sh", "__ix_sh"))
    return (
        joined.filter(F.col("__band") == first_band)
        .withColumn(
            "jaccard",
            F.round(inter.cast("double") / F.greatest(union, F.lit(1)), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col(id_col),
            F.col("__ix_id").alias("match_id"),
            "jaccard",
        )
    )


def read_document_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (one file = one
    micro-batch locally; a cluster deployment points the same plan at
    a kafka/object-store ingest). Layout-aware like
    ``read_event_stream``: a Spark-written table DIRECTORY gets the
    direct path, the driver's single-file layout the warehouse-dir +
    pathGlobFilter form."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("text", StringType()),
        ]
    )
    tbl = f"{sf_dir}/documents.parquet"
    reader = spark.readStream.schema(schema).format("parquet")
    if os.path.isdir(tbl):
        reader = reader.option("path", tbl)
    else:
        reader = reader.option("path", f"{sf_dir}").option(
            "pathGlobFilter", "documents.parquet"
        )
    return reader.load()


def stream_duplicate_anchor_flags(
    doc_stream: DataFrame,
    index_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Streaming duplicate-SPAN flagging against a STATIC corpus —
    the online twin of operators/dedup.duplicate_spans (dedup-at-
    ingest / contamination-at-ingest for the Lee et al. substring
    family): every arriving document's positional k-gram anchors are
    equi-joined (stream-static left semi, per micro-batch, NO
    streaming state) against the DISTINCT anchor set of the index
    corpus, and each corpus-colliding anchor START position is
    emitted once, append mode.

    A shared span of length L >= k surfaces as its L-k+1 consecutive
    start positions; the gaps-and-islands run merge needs a per-doc
    sort, which a stateless streaming stage cannot do — span ASSEMBLY
    stays a (trivial, flag-table-sized) batch step downstream, while
    the expensive part (the corpus-sized anchor index probe) runs
    online. At scale the index is precomputed once; per-micro-batch
    cost is anchoring the arrivals + one equi join — no all-pairs,
    no state to evict, nothing corpus-sized moves.

    The join key is the gram TEXT itself (r13; was a 48-bit hash):
    text equality makes every emitted flag EXACT — a hash collision
    between an arrival gram and an index gram can never false-flag,
    matching the batch family's two-stage verification
    (operators/dedup._dup_anchor_positions_build). The arrival side
    of the per-batch join is micro-batch-sized; the index side is the
    corpus's distinct-gram set either way, and a composite
    (hash, text) key would only ADD shuffle bytes — at true scale the
    cheap pre-filter belongs in front as a bloom/semi stage on
    xxhash64(gram), which subsets candidates without touching the
    final text-equality semantics.

    Output (append): ``(doc_id, pos)``.
    """
    from feast_hive_spark.functions import text as X

    arrivals = doc_stream.select(
        F.col(id_col),
        F.posexplode(
            X.positional_kgrams(X.tokens_array(text_col), k)
        ).alias("pos", "__g"),
    ).select(id_col, F.col("pos").cast("long"), "__g")
    ix = (
        index_docs.select(
            F.explode(
                X.positional_kgrams(X.tokens_array(text_col), k)
            ).alias("__g")
        )
        .distinct()
    )
    return arrivals.join(ix, "__g", "left_semi").select(id_col, "pos")


def stream_value_drift_bins(
    events: DataFrame,
    bin_width: float = 25.0,
    n_bins: int = 10,
    window: str = "1 day",
    watermark: str | None = None,
) -> DataFrame:
    """Streaming half of a PSI drift monitor: per tumbling event-time
    window, the count of events in each fixed value bin
    (``min(floor(value / bin_width), n_bins - 1)``). State is bounded
    by (open windows x n_bins) rows — nothing per-event is retained —
    and with a ``watermark`` the continuous deployment runs append
    mode with state eviction; the bounded replay harness passes
    ``watermark=None`` + complete mode (a terminating file source
    never moves the watermark past its last windows). PSI assembly
    against the static baseline is a windows-x-bins-sized BATCH step
    over this output (registry ``stream_psi_drift``) — the classic
    serving-drift layout: cheap distributed counting at ingest,
    tiny-table scoring at read."""
    src = events.withWatermark("ts", watermark) if watermark else events
    b = (
        F.least(
            F.floor(F.col("value") / F.lit(float(bin_width))),
            F.lit(n_bins - 1).cast("long"),
        )
        .cast("int")
        .alias("bin")
    )
    return (
        src.groupBy(F.window("ts", window), b)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"), "bin", "n"
        )
    )
