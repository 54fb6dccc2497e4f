"""Structured Streaming ingest of the events and documents tables
(SURVEY §7).

The reference has no streaming at all (SURVEY §2.6); this module is
the engine's streaming extension, built on the idiomatic stack:
``readStream`` -> watermark -> windowed aggregation -> sink. The batch
twin of the windowed rollup is registry:events_daily_rollup, so the
semantics are cross-checkable.

Scale notes: windowed aggs with watermarks keep state bounded (late
rows beyond the watermark are dropped); state is hash-partitioned by
(window, keys) across executors. `stream_heavy_hitters` shows
``applyInPandasWithState`` for a custom per-key state machine whose
state is O(buckets x capacity), not O(events). The stream-static
operators (`stream_pit_probe`, `stream_duplicate_anchor_flags`) hold
no streaming state at all.
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
