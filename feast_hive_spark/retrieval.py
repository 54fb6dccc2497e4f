"""Lazy retrieval jobs.

Re-expression of ``HiveRetrievalJob`` (feast_hive/hive.py:272-352):
a handle whose query only executes when the caller asks for results.
In the reference, laziness is a generator wrapping multi-statement
HiveQL + a columnar Thrift fetch reassembled into Arrow
(hive.py:316-352). Here the lazy object *is* the Spark logical plan;
``to_df``/``to_arrow`` trigger the only action, and the
driver<->pandas hop is Arrow-batched natively
(spark.sql.execution.arrow.pyspark.enabled).

On-demand feature views: the reference passes them through to Feast
core for client-side post-processing (hive.py:266-268, :309-311); we
keep the same shape — ``on_demand_transforms`` are pandas->pandas
callables applied after collection.
"""

from __future__ import annotations

from typing import Callable, Optional

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame


class RetrievalJob:
    """Lazy handle on a composed DataFrame plan.

    The job owns no storage: plan builders pin no cache behind it (the
    PIT plan reads the entity df and its deduped key sides lazily), so
    N retrievals in a long-lived session leave block-manager storage
    at baseline whether or not anyone closes them. ``close()`` and the
    ``with`` protocol stay as no-ops for callers that manage jobs as
    resources.
    """

    def __init__(
        self,
        df_or_thunk,
        on_demand_transforms: Optional[list[Callable[[pd.DataFrame], pd.DataFrame]]] = None,
    ):
        self._thunk = df_or_thunk if callable(df_or_thunk) else (lambda: df_or_thunk)
        self._df: Optional[DataFrame] = None
        self._on_demand = list(on_demand_transforms or [])

    def close(self) -> None:
        """No-op: the job holds nothing to release. Idempotent; the
        plan still answers afterwards."""

    def __enter__(self) -> "RetrievalJob":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def to_spark_df(self) -> DataFrame:
        """The lazy plan itself — still unexecuted; callers can keep
        composing (this is what replaces temp-table pipeline state,
        SURVEY §1.1)."""
        if self._df is None:
            self._df = self._thunk()
        return self._df

    def to_df(self) -> pd.DataFrame:
        """Execute and collect to pandas (reference: _to_df_internal,
        hive.py:313-314). Arrow transfer is enabled session-wide."""
        pdf = self.to_spark_df().toPandas()
        for fn in self._on_demand:
            pdf = fn(pdf)
        return pdf

    def to_arrow(self) -> pa.Table:
        """Execute and collect to an Arrow table (reference:
        _to_arrow_internal, hive.py:316-352 — 37 lines of manual
        RecordBatch assembly replaced by the built-in columnar path).

        Uses PySpark's native ``DataFrame.toArrow()``: one JVM->Arrow
        transfer with no pandas round trip, so timestamp units and
        nullable integer columns arrive with Spark-schema fidelity
        (a toPandas() hop would mangle int columns with NULLs into
        float64). On-demand transforms are pandas-level by contract
        (reference passes them to Feast core for client-side pandas
        post-processing), so that path still goes through to_df()."""
        if self._on_demand:
            return pa.Table.from_pandas(self.to_df(), preserve_index=False)
        return self.to_spark_df().toArrow()

    def explain(self, mode: str = "formatted") -> None:
        """Surface the physical plan — the check the reference could
        never do (Hive's plan was opaque, SURVEY §4)."""
        self.to_spark_df().explain(mode)
