"""Data sources: table, query, and parquet-path feature sources.

Re-expression of the reference's ``HiveSource``
(feast_hive/hive_source.py:81-247): a feature source is either a named
table or an arbitrary SELECT (``get_table_query_string``,
hive_source.py:203-208), with schema introspection
(``get_table_column_names_and_types``, hive_source.py:214-247),
validation raising ``DataSourceNotFoundException``
(hive_source.py:200-201, :236-247), field mapping, event/created
timestamp columns, and a (never-used-in-the-reference)
``date_partition_column`` — which we actually wire up for partition
pruning (SURVEY §4 "improve on reference").

Differences by design:
- Schema probing needs no ``LIMIT 1`` round-trip (hive_source.py:241-245):
  Spark analysis is lazy, ``df.schema`` resolves without executing.
- Proto serialization (pickle inside CustomSourceOptions,
  hive_source.py:50-78) is replaced by JSON — same round-trip surface,
  no arbitrary-code-execution hazard.
- ``ParquetSource`` is an addition for lakehouse-style direct paths
  (the driver's testdata layout); it keeps filters/column pruning
  pushed to the parquet scan.
"""

from __future__ import annotations

import json
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from feast_hive_spark.sources.tables import read_parquet_micros
from feast_hive_spark.types import spark_to_hive_type, spark_to_value_type, ValueType


class DataSourceNotFoundException(Exception):
    def __init__(self, target: str):
        super().__init__(
            f"Unable to find the data source: {target}. "
            "Either the table does not exist or the query is invalid."
        )


class DataSourceNoNameException(Exception):
    def __init__(self) -> None:
        super().__init__("A name is required for sources without a table name.")


class DataSource:
    """Base feature source.

    Carries the metadata the PIT/pull planners need:
    ``event_timestamp_column``, ``created_timestamp_column``,
    ``field_mapping`` (source col -> feature col rename, applied at
    scan time), ``date_partition_column`` (partition-pruning column).
    Reference surface: hive_source.py:81-161.
    """

    source_kind = "base"

    def __init__(
        self,
        name: Optional[str] = None,
        event_timestamp_column: str = "",
        created_timestamp_column: str = "",
        field_mapping: Optional[dict[str, str]] = None,
        date_partition_column: str = "",
    ):
        self.name = name
        self.event_timestamp_column = event_timestamp_column
        self.created_timestamp_column = created_timestamp_column
        self.field_mapping = dict(field_mapping or {})
        self.date_partition_column = date_partition_column

    # -- scan ---------------------------------------------------------
    def _load(self, spark: SparkSession) -> DataFrame:
        raise NotImplementedError

    def to_df(self, spark: SparkSession) -> DataFrame:
        """Lazy scan with field_mapping applied.

        The rename is pure projection — Catalyst still pushes filters
        and column pruning through it to the physical scan.
        """
        df = self._load(spark)
        for src, dst in self.field_mapping.items():
            df = df.withColumnRenamed(src, dst)
        return df

    def get_table_query_string(self) -> str:
        """Parity with hive_source.py:203-208 (backticked table or
        parenthesized subquery) — used when composing Spark SQL text."""
        raise NotImplementedError

    # -- schema / validation -----------------------------------------
    def get_table_column_names_and_types(self, spark: SparkSession) -> list[tuple[str, str]]:
        """(name, hive_type_name) pairs — reference hive_source.py:214-247.

        No LIMIT-1 probe: Spark resolves the schema during analysis.
        """
        try:
            schema = self._load(spark).schema
        except Exception as e:  # noqa: BLE001 - mirror reference's error surface
            raise DataSourceNotFoundException(self.get_table_query_string()) from e
        return [(f.name, spark_to_hive_type(f.dataType)) for f in schema.fields]

    def get_value_types(self, spark: SparkSession) -> dict[str, ValueType]:
        try:
            schema = self._load(spark).schema
        except Exception as e:  # noqa: BLE001
            raise DataSourceNotFoundException(self.get_table_query_string()) from e
        return {f.name: spark_to_value_type(f.dataType) for f in schema.fields}

    def validate(self, spark: SparkSession) -> None:
        """Existence/validity check (hive_source.py:200-201)."""
        self.get_table_column_names_and_types(spark)

    # -- (de)serialization -------------------------------------------
    def to_json(self) -> str:
        """JSON replaces the reference's pickle-in-proto
        (hive_source.py:50-78)."""
        return json.dumps(
            {
                "kind": self.source_kind,
                "name": self.name,
                "event_timestamp_column": self.event_timestamp_column,
                "created_timestamp_column": self.created_timestamp_column,
                "field_mapping": self.field_mapping,
                "date_partition_column": self.date_partition_column,
                **self._extra_json(),
            }
        )

    def _extra_json(self) -> dict:
        return {}

    def __eq__(self, other: object) -> bool:
        return isinstance(other, DataSource) and self.to_json() == other.to_json()

    def __hash__(self) -> int:
        return hash(self.to_json())


class TableSource(DataSource):
    """Named table source (``db.tbl`` supported) — the reference's
    ``HiveSource(table=...)`` path (hive_source.py:224-237)."""

    source_kind = "table"

    def __init__(self, table: str, **kwargs):
        if not table:
            raise ValueError("table is required")
        super().__init__(name=kwargs.pop("name", table), **kwargs)
        self.table = table

    def _load(self, spark: SparkSession) -> DataFrame:
        return spark.table(self.table)

    def get_table_query_string(self) -> str:
        return "`{}`".format(self.table.replace(".", "`.`"))

    def _extra_json(self) -> dict:
        return {"table": self.table}


class QuerySource(DataSource):
    """Arbitrary-SELECT source — ``HiveSource(query=...)``
    (hive_source.py:239-247). The full Spark SQL function surface is
    available to users through this, same as HiveQL was in the
    reference (SURVEY §2.2)."""

    source_kind = "query"

    def __init__(self, query: str, name: Optional[str] = None, **kwargs):
        if not query:
            raise ValueError("query is required")
        if not name:
            raise DataSourceNoNameException()
        super().__init__(name=name, **kwargs)
        self.query = query

    def _load(self, spark: SparkSession) -> DataFrame:
        return spark.sql(self.query)

    def get_table_query_string(self) -> str:
        return f"({self.query})"

    def _extra_json(self) -> dict:
        return {"query": self.query}


class ParquetSource(DataSource):
    """Direct parquet path source (engine addition).

    At 100 TB this is the primary path: filters and column pruning
    reach the parquet footer (min/max row-group skipping), and when
    ``date_partition_column`` matches a hive-partitioned directory
    layout, partition pruning eliminates whole directories.
    """

    source_kind = "parquet"

    def __init__(self, path: str, name: Optional[str] = None, **kwargs):
        if not path:
            raise ValueError("path is required")
        super().__init__(name=name or path, **kwargs)
        self.path = path

    def _load(self, spark: SparkSession) -> DataFrame:
        return read_parquet_micros(spark, self.path)

    def get_table_query_string(self) -> str:
        return f"parquet.`{self.path}`"

    def _extra_json(self) -> dict:
        return {"path": self.path}


class FileSource(DataSource):
    """Generic file-format source (engine addition): any Spark
    DataSource-V2 batch format — csv, json, orc, avro, text — with
    reader options. ParquetSource stays the parquet-optimized path
    (nanos handling); this covers the long tail of landing-zone
    formats a feature pipeline ingests before columnarizing.

    Note the scale asymmetry, deliberately documented: csv/json scans
    have no row-group statistics, so filters are evaluated post-parse
    rather than skipping I/O — fine for ingest, wrong for serving;
    `to_df(...).write.parquet(...)` is the one-liner promotion."""

    source_kind = "file"

    def __init__(
        self,
        path: str,
        format: str,
        name: Optional[str] = None,
        options: Optional[dict[str, str]] = None,
        **kwargs,
    ):
        if not path:
            raise ValueError("path is required")
        if not format:
            raise ValueError("format is required")
        super().__init__(name=name or path, **kwargs)
        self.path = path
        self.format = format
        self.options = dict(options or {})

    def _load(self, spark: SparkSession) -> DataFrame:
        return spark.read.format(self.format).options(**self.options).load(self.path)

    def get_table_query_string(self) -> str:
        return f"{self.format}.`{self.path}`"

    def _extra_json(self) -> dict:
        return {"path": self.path, "format": self.format, "options": self.options}


def source_from_json(s: str) -> DataSource:
    """Round-trip deserializer (replaces from_proto,
    hive_source.py:164-198)."""
    d = json.loads(s)
    kind = d.pop("kind")
    common = {
        k: d[k]
        for k in (
            "event_timestamp_column",
            "created_timestamp_column",
            "field_mapping",
            "date_partition_column",
        )
    }
    if kind == "table":
        return TableSource(d["table"], name=d.get("name"), **common)
    if kind == "query":
        return QuerySource(d["query"], name=d.get("name"), **common)
    if kind == "parquet":
        return ParquetSource(d["path"], name=d.get("name"), **common)
    if kind == "file":
        return FileSource(
            d["path"],
            d["format"],
            name=d.get("name"),
            options=d.get("options"),
            **common,
        )
    raise ValueError(f"Unknown source kind: {kind}")
