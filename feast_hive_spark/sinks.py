"""Materialization sink: latest-feature snapshots to an online-store
layout.

In the reference, ``materialize`` pulls latest rows (entry point 2)
and Feast core writes them to an online store row by row
(SURVEY §3 entry point 2 — the write side is outside the plugin).
Here the write side is first-class: an idempotent parquet "online
snapshot" keyed by entity, plus a reader that serves point lookups
from the snapshot's files on the driver, as a key-value store would,
without running a Spark job.

Scale notes:
- The snapshot is written with ``partitionBy(bucket)`` where bucket =
  ``pmod(hash(entity_key), n_buckets)`` — at 100 TB a reader fetches
  one bucket directory instead of scanning the snapshot, and writers
  parallelize across buckets. (``hash`` is Spark's Murmur3: the
  driver recomputes a looked-up key's bucket with a port of it,
  ``_spark_hash``, which the parity tests in tests/test_sinks.py pin
  against ``F.hash``.)
- ``mode=overwrite`` + a fixed layout makes re-materialization
  idempotent: re-running a window replaces the snapshot atomically at
  the directory level (the lakehouse-table upgrade would be a Delta/
  Iceberg MERGE, whose jars are not in this image — SURVEY §4 note).
"""

from __future__ import annotations

import json
import os
from datetime import datetime
from typing import Optional, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from feast_hive_spark.plans.local import local_frame
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
    """Point lookups against the snapshot, served on the driver.

    Each requested key's bucket is recomputed here (``_buckets``), only
    those bucket directories are read, with pyarrow, and their rows are
    inner-joined against the keys in Arrow: a key asked for twice
    answers twice, a NULL or absent key answers nothing. The result
    enters Spark as a LocalRelation (``local_frame``), so building it
    runs no Spark job and starts no Python worker. Its columns are the
    keys in the order given, then the snapshot's other columns, with
    the types ``spark.read.parquet`` gives them."""
    fs, dirs = _bucket_dirs(path)
    rows = [tuple(k) for k in entity_keys]
    cols = list(zip(*rows)) if rows else [()] * len(join_key_columns)
    keys = pa.table([pa.array(c) for c in cols], names=list(join_key_columns))
    # Take the schema from a bucket the keys hash to under their Python
    # types. For bigint and string keys those are the snapshot's types,
    # so the lookup opens no bucket it does not read.
    guess = _buckets(
        keys.columns, [from_arrow_type(t) for t in keys.schema.types], n_buckets
    )
    first = [] if guess is None else sorted(set(guess.tolist()) & dirs.keys())
    arrow_schema, spark_schema = _footer(
        fs, path, [dirs[b] for b in [*first, *sorted(dirs)]]
    )
    # Murmur3 is type-sensitive (hash(1 as int) != hash(1 as bigint)):
    # hash each key as the snapshot column's type, or an int column
    # looked up with Python ints would miss its rows.
    keys = keys.cast(
        pa.schema([arrow_schema.field(c) for c in join_key_columns])
    ).drop_null()
    buckets = _buckets(
        keys.columns, [spark_schema[c].dataType for c in join_key_columns], n_buckets
    )
    # a key type the port does not cover reads every bucket: still exact
    wanted = dirs.keys() if buckets is None else set(buckets.tolist()) & dirs.keys()
    files = [f for b in sorted(wanted) for f in _data_files(fs, dirs[b])]
    table = pads.dataset(
        files if keys.num_rows else [],
        schema=arrow_schema, format=_PARQUET, filesystem=fs,
    ).to_table()
    table = table.join(keys, keys=list(join_key_columns), join_type="inner")

    names = [*join_key_columns]
    names += [f.name for f in spark_schema.fields if f.name not in names]
    fields = [StructField(n, spark_schema[n].dataType) for n in names]
    # Spark writes INT96 timestamps as UTC instants and pyarrow reads
    # them zone-less; without the zone createDataFrame would take them
    # as session-zone wall times.
    columns = [
        col.cast(pa.timestamp(col.type.unit, "UTC"))
        if isinstance(f.dataType, TimestampType) and col.type.tz is None
        else col
        for f, col in zip(fields, table.select(names).columns)
    ]
    return local_frame(spark, pa.table(columns, names=names), StructType(fields))


# Spark stores a file's Spark schema in this footer key
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# INT96 as microseconds, Spark's own unit: nanoseconds overflow
# outside 1677-2262
_PARQUET = pads.ParquetFileFormat(
    read_options=pads.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)


def _bucket_dirs(path: str) -> tuple[pafs.FileSystem, dict[int, str]]:
    """The snapshot's filesystem and its ``{bucket: directory}``. The
    directories are listed by name: pyarrow's hive partitioning would
    skip them, since their names start with ``_``."""
    try:
        fs, root = pafs.FileSystem.from_uri(path)
    except pa.ArrowInvalid:  # a relative local path
        fs, root = pafs.LocalFileSystem(), os.path.abspath(path)
    dirs = {}
    for info in fs.get_file_info(pafs.FileSelector(root)):
        name, _, bucket = info.base_name.partition("=")
        if (
            info.type == pafs.FileType.Directory
            and name == "__bucket"
            and bucket.isdigit()
        ):
            dirs[int(bucket)] = info.path
    return fs, dirs


def _data_files(fs: pafs.FileSystem, directory: str) -> list[str]:
    return sorted(
        info.path
        for info in fs.get_file_info(pafs.FileSelector(directory))
        if info.type == pafs.FileType.File
        and not info.base_name.startswith(("_", "."))
    )


def _footer(
    fs: pafs.FileSystem, path: str, dirs: list[str]
) -> tuple[pa.Schema, StructType]:
    """Arrow and Spark schema of the first data file in ``dirs``."""
    for d in dirs:
        for f in _data_files(fs, d):
            with pq.ParquetFile(
                f, filesystem=fs, coerce_int96_timestamp_unit="us"
            ) as pf:
                arrow = pf.schema_arrow
            spark_json = arrow.metadata[_SPARK_SCHEMA_KEY]
            return arrow, StructType.fromJson(json.loads(spark_json))
    raise FileNotFoundError(f"online snapshot {path} holds no parquet files")


# ---- Spark's hash(), ported: Murmur3_x86_32 with seed 42 ----


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _mix(h1: np.ndarray, k1: np.ndarray) -> np.ndarray:
    """One Murmur3 round: Spark's ``mixH1(h1, mixK1(k1))``."""
    k1 = _rotl(k1 * np.uint32(0xCC9E2D51), 15) * np.uint32(0x1B873593)
    return _rotl(h1 ^ k1, 13) * np.uint32(5) + np.uint32(0xE6546B64)


def _fmix(h1: np.ndarray, length) -> np.ndarray:
    h1 = h1 ^ length
    h1 = (h1 ^ (h1 >> np.uint32(16))) * np.uint32(0x85EBCA6B)
    h1 = (h1 ^ (h1 >> np.uint32(13))) * np.uint32(0xC2B2AE35)
    return h1 ^ (h1 >> np.uint32(16))


def _hash_utf8(values: list[bytes], h1: np.ndarray) -> np.ndarray:
    """Spark's ``hashUnsafeBytes``: little-endian 4-byte words, then
    each tail byte as its own round, sign-extended. The tail is not
    standard Murmur3."""
    n = np.array([len(v) for v in values], np.int64)
    width = max(4, -(-int(n.max(initial=0)) // 4) * 4)
    buf = np.frombuffer(
        b"".join(v.ljust(width, b"\0") for v in values), np.uint8
    ).reshape(len(values), width)
    words = buf.view("<u4").astype(np.uint32)
    for j in range(width // 4):
        h1 = np.where(n >= 4 * (j + 1), _mix(h1, words[:, j]), h1)
    signed = buf.view(np.int8).astype(np.int32).view(np.uint32)
    rows = np.arange(len(values))
    for t in range(3):
        pos = n - n % 4 + t
        tail = signed[rows, np.minimum(pos, width - 1)]
        h1 = np.where(pos < n, _mix(h1, tail), h1)
    return _fmix(h1, n.astype(np.uint32))


def _spark_hash(columns, types) -> Optional[np.ndarray]:
    """Spark's ``hash(c1, c2, ...)`` of Arrow columns as int32, or None
    if a column's Spark type is not int, bigint or string. The seed is
    Spark's 42; each column seeds the next, and a NULL leaves the
    running hash unchanged. tests/test_sinks.py pins it against
    ``F.hash``."""
    h = np.full(len(columns[0]), 42, np.uint32)
    for col, t in zip(columns, types):
        valid = col.is_valid().to_numpy(zero_copy_only=False)
        if isinstance(t, IntegerType):
            v = col.fill_null(0).to_numpy().astype(np.int32).view(np.uint32)
            out = _fmix(_mix(h, v), 4)
        elif isinstance(t, LongType):
            v = col.fill_null(0).to_numpy().astype(np.int64).view(np.uint64)
            lo = (v & np.uint64(0xFFFFFFFF)).astype(np.uint32)
            hi = (v >> np.uint64(32)).astype(np.uint32)
            out = _fmix(_mix(_mix(h, lo), hi), 8)
        elif t == StringType():  # a collated string hashes differently
            out = _hash_utf8([(s or "").encode() for s in col.to_pylist()], h)
        else:
            return None
        h = np.where(valid, out, h)
    return h.view(np.int32)


def _buckets(columns, types, n_buckets: int) -> Optional[np.ndarray]:
    """``pmod(hash(columns), n_buckets)``, the bucket materialize_online
    writes a row to; None where ``_spark_hash`` is."""
    h = _spark_hash(columns, types)
    return None if h is None else h % n_buckets
