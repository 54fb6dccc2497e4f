"""Data-layout operators: Z-order (Morton-curve) clustering keys.

At 100 TB the scan is the bottleneck you can't optimize after the
fact: files laid out in ingest order give min/max zone maps that
prune on (at best) one column. Z-ordering interleaves the bits of
several normalized columns into one sort key so that range predicates
on ANY of the participating columns map to contiguous-ish key ranges
— the same layout step as Delta/Iceberg ``OPTIMIZE ZORDER BY``,
re-expressed as plain DataFrame arithmetic:

- normalization bounds come from ONE 1-row aggregate, broadcast back
  (no second scan at write time if bounds are known a priori);
- the z-value itself is pure integer bit algebra inside whole-stage
  codegen — no UDF, no shuffle;
- ``zorder_repartition`` then range-partitions on the key and sorts
  within partitions, which is exactly what parquet writers need for
  tight per-file zone maps.

Everything is deterministic double/integer arithmetic, so the DuckDB
oracle twin (registry_analytics.py) hash-matches the bucket layout.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _grid(col: Column, mn: Column, mx: Column, bits: int) -> Column:
    """Normalize a numeric column onto the [0, 2^bits) integer grid.

    ``floor((x - min) / (max - min) * (2^bits - 1))`` — evaluated in
    this exact operand order on both engines so the doubles (and
    therefore the floors) are bit-identical. Degenerate min==max
    columns collapse to grid cell 0."""
    span = (mx - mn).cast("double")
    cell = F.floor((col - mn) / span * F.lit((1 << bits) - 1)).cast("long")
    return F.when(span > 0, cell).otherwise(F.lit(0))


def zvalue(grids: Sequence[Column], bits: int) -> Column:
    """Interleave the bits of pre-gridded coordinates (Morton code).

    Bit ``b`` of grid ``i`` lands at output position
    ``b * n_cols + (n_cols - 1 - i)`` — column 0 owns the most
    significant bit of each group, matching the canonical Z-curve."""
    n = len(grids)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, g in enumerate(grids):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(g, b).bitwiseAND(F.lit(1)),
                    b * n + (n - 1 - i),
                )
            )
    return z


def zorder_keys(
    df: DataFrame, cols: Sequence[str], bits: int = 8, out: str = "__z"
) -> DataFrame:
    """Append the Z-order key column computed over ``cols``.

    Bounds are one tiny aggregate broadcast back as a 1-row cross
    join; the key itself is codegen'd bit algebra. ``bits`` per
    column; total key width = ``bits * len(cols)`` (keep <= 63)."""
    if not cols:
        raise ValueError("cols must be non-empty")
    if bits * len(cols) > 63:
        raise ValueError("bits * len(cols) must fit in a signed long")
    bounds = df.agg(
        *[F.min(c).alias(f"__mn_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"__mx_{i}") for i, c in enumerate(cols)],
    )
    with_bounds = df.crossJoin(F.broadcast(bounds))
    grids = [
        _grid(F.col(c), F.col(f"__mn_{i}"), F.col(f"__mx_{i}"), bits)
        for i, c in enumerate(cols)
    ]
    return with_bounds.withColumn(out, zvalue(grids, bits)).drop(
        *[f"__mn_{i}" for i in range(len(cols))],
        *[f"__mx_{i}" for i in range(len(cols))],
    )


def zorder_repartition(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """Range-partition and locally sort by the Z-order key — the
    write-side layout step. Each output partition covers a contiguous
    z-range, so every participating column's min/max zone map is
    tight in every file."""
    keyed = zorder_keys(df, cols, bits=bits)
    parts = num_partitions or keyed.sparkSession.sparkContext.defaultParallelism
    return (
        keyed.repartitionByRange(parts, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
