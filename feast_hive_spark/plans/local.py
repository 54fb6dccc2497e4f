"""Plan helpers shared by the registry modules and operators:
``local_frame`` turns driver-side rows into a DataFrame, and
``sorted_readout`` orders a report-sized result without a range
sort. Living here keeps the module graph cycle-free."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """The one way driver-side rows become a DataFrame: the rows go
    to the JVM once as an Arrow table, and below
    ``spark.sql.execution.arrow.localRelationThreshold`` the result is
    a true ``LocalRelation``. It plans as a ``LocalTableScan`` with an
    exact ``sizeInBytes``, ``collect()`` on it runs no job, and it
    holds no block storage, so nothing needs releasing and nothing is
    lost with an executor. A ``pa.Table`` always takes the Arrow path,
    whatever ``spark.sql.execution.arrow.pyspark.enabled`` says.
    Catalyst re-plans a LocalRelation row by row on every execution
    (~2 us a row), so a plan that re-executes with ~10k+ local rows
    may be cheaper with a pin (``dedup._guarded_candidates``).

    ``schema`` is a ``StructType`` or a DDL string. ``rows`` is an
    iterable of tuples or a ``pa.Table`` (e.g. ``DataFrame.toArrow()``,
    which then needs no per-row conversion). Timestamps in tuples are
    naive datetimes in the session time zone (UTC, which the engine
    pins), the form ``collect()`` returns them in."""
    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    if isinstance(rows, pa.Table):
        return spark.createDataFrame(rows, schema)
    arrow = to_arrow_schema(schema, timestamp_utc=False)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def sorted_readout(df: DataFrame, *cols, max_rows: int) -> DataFrame:
    """Globally ordered REPORT-SIZED result without RangePartitioning
    (r13 optimization, guide §2.4/§1): a final ``orderBy`` plans an
    ``Exchange rangepartitioning`` whose range-boundary SAMPLING job
    re-executes every narrow stage of the child plan — for a report
    whose last stage is a pandas kernel or a join chain, that is the
    whole readout computed twice per execution (measured:
    scan_task_packing_report 0.79 s -> 0.28 s). A single-partition
    shuffle + in-partition sort yields the identical global row order
    (one partition, sorted) with no sampling pass, and the child keeps
    its full parallelism. Only for outputs that are domain-/report-
    sized at any scale — a row-heavy ordered result should keep the
    real range sort.

    ``max_rows`` (r14, r13 verdict #8) makes that contract mechanical
    instead of conventional: every call site must state the bound its
    output is domain-limited to, and with ``SPARK_GRAFT_READOUT_CHECK``
    set (tests / debug sessions) the bound is eagerly probed with a
    LIMIT(max_rows+1) count — a future fact-sized misuse fails loudly
    there instead of silently serializing the table through one
    partition at scale. The probe never runs in production paths (it
    would add a job per build)."""
    import os

    if os.environ.get("SPARK_GRAFT_READOUT_CHECK"):
        n = df.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"sorted_readout: result exceeds the declared "
                f"report-size bound ({n} > {max_rows} rows); a "
                f"row-heavy ordered result must keep a real range sort"
            )
    return df.repartition(1).sortWithinPartitions(*cols)
