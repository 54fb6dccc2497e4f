"""Materialization sink: latest-feature snapshots to an online-store
layout.

In the reference, ``materialize`` pulls latest rows (entry point 2)
and Feast core writes them to an online store row by row
(SURVEY §3 entry point 2 — the write side is outside the plugin).
Here the write side is first-class: an idempotent parquet "online
snapshot" keyed by entity, plus a reader that serves point lookups.

Scale notes:
- The snapshot is written with ``partitionBy(bucket)`` where bucket =
  ``pmod(hash(entity_key), n_buckets)`` — at 100 TB a reader fetches
  one bucket directory instead of scanning the snapshot, and writers
  parallelize across buckets. (``hash`` is Spark's Murmur3 — fine
  here because only Spark reads these buckets back.)
- ``mode=overwrite`` + a fixed layout makes re-materialization
  idempotent: re-running a window replaces the snapshot atomically at
  the directory level (the lakehouse-table upgrade would be a Delta/
  Iceberg MERGE, whose jars are not in this image — SURVEY §4 note).
"""

from __future__ import annotations

from datetime import datetime
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feast_hive_spark.plans.pull import pull_latest


def materialize_online(
    source_df: DataFrame,
    path: str,
    join_key_columns: Sequence[str],
    feature_name_columns: Sequence[str],
    event_timestamp_column: str,
    created_timestamp_column: Optional[str],
    start_date: datetime,
    end_date: datetime,
    n_buckets: int = 16,
    tiebreak_columns: Sequence[str] = (),
) -> None:
    """pull_latest over [start, end] -> bucketed parquet snapshot."""
    latest = pull_latest(
        source_df,
        join_key_columns,
        feature_name_columns,
        event_timestamp_column,
        created_timestamp_column,
        start_date,
        end_date,
        tiebreak_columns=tiebreak_columns,
    )
    bucket = F.pmod(
        F.hash(*[F.col(c) for c in join_key_columns]), F.lit(n_buckets)
    ).alias("__bucket")
    (
        latest.withColumn("__bucket", bucket)
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(path)
    )


def compact_online(
    spark: SparkSession, path: str, files_per_bucket: int = 1
) -> dict[str, int]:
    """Small-file compaction for the online snapshot.

    Incremental upserts (streaming/events.py:stream_to_online) leave
    each bucket with one file set per touching batch; point-lookup
    latency then pays one footer read per file. Compaction rewrites
    each bucket directory to ``files_per_bucket`` files with the same
    rename-aside/restore swap the streaming sink uses, so readers never
    observe a partial bucket. Buckets compact independently — on a
    cluster the per-bucket jobs are trivially parallelizable, and a
    bucket untouched since its last compaction can be skipped by the
    caller (mtime check) — I/O is O(compacted buckets), never
    O(snapshot). Returns {bucket_dir_name: files_before}."""
    import shutil
    from pathlib import Path

    out: dict[str, int] = {}
    for bdir in sorted(Path(path).glob("__bucket=*")):
        files_before = len(
            [p for p in bdir.iterdir() if p.is_file() and not p.name.startswith(("_", "."))]
        )
        out[bdir.name] = files_before
        if files_before <= files_per_bucket:
            continue
        tmp = Path(str(bdir) + ".compact")
        (
            spark.read.parquet(str(bdir))
            .coalesce(files_per_bucket)
            .write.mode("overwrite")
            .parquet(str(tmp))
        )
        aside = bdir.parent / f".{bdir.name}.precompact"
        bdir.rename(aside)
        try:
            shutil.move(str(tmp), str(bdir))
        except BaseException:
            if not bdir.exists():
                aside.rename(bdir)
            raise
        shutil.rmtree(aside, ignore_errors=True)
    return out


def read_online(
    spark: SparkSession,
    path: str,
    join_key_columns: Sequence[str],
    entity_keys: Sequence[tuple],
    n_buckets: int = 16,
) -> DataFrame:
    """Point lookups against the snapshot.

    The bucket of each requested key is computed up front and pushed
    as a partition filter — the scan touches only the needed bucket
    directories (partition pruning), then an exact key filter."""
    snap = spark.read.parquet(path)
    rows = [tuple(k) for k in entity_keys]
    if not rows:  # nothing to look up: the lookup's columns, no rows
        rest = [c for c in snap.columns if c not in (*join_key_columns, "__bucket")]
        return snap.select(*join_key_columns, *rest).limit(0)
    keys_df = spark.createDataFrame(rows, list(join_key_columns))
    # Align key dtypes with the snapshot before hashing: Murmur3
    # F.hash() is type-sensitive (hash(1 as int) != hash(1 as bigint)),
    # so a Python-inferred LongType key against an IntegerType snapshot
    # column would compute a different bucket and silently miss rows.
    snap_types = {f.name: f.dataType for f in snap.schema.fields}
    keys_df = keys_df.select(
        *[F.col(c).cast(snap_types[c]) for c in join_key_columns]
    )
    keys_df = keys_df.withColumn(
        "__bucket",
        F.pmod(F.hash(*[F.col(c) for c in join_key_columns]), F.lit(n_buckets)),
    )
    buckets = [r["__bucket"] for r in keys_df.select("__bucket").distinct().collect()]
    pruned = snap.filter(F.col("__bucket").isin(buckets))
    return pruned.join(
        F.broadcast(keys_df), on=[*join_key_columns, "__bucket"], how="inner"
    ).drop("__bucket")
