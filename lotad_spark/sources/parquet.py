"""Parquet-directory database source.

The engine's primary "database" is a directory of ``<table>.parquet`` files
(the BASELINE.json approach: "DataFrame diff operations over DuckDB-exported
Parquet"). This module provides the catalog surface the reference exposes
per connection (list_tables / get_schema / table scan — reference
lotad/connection.py:148-162) re-expressed over Spark.

TIMESTAMP(NANOS) parquet columns: Spark refuses them by default
(PARQUET_TYPE_ILLEGAL). We set ``spark.sql.legacy.parquet.nanosAsLong`` and
rebuild a proper timestamp with integer division (``DIV 1000`` — no
double-precision loss on int64 epochs). DuckDB performs the same ns→µs
truncation, so cross-engine value comparisons stay exact.
"""

from __future__ import annotations

import os
from pathlib import Path

import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Column names carrying timestamp[ns] in the parquet footer.

    Uses ``pyarrow.dataset`` so single-file AND directory-per-table sources
    both probe correctly (a bare footer read raises on directories, which
    previously made the result order-dependent). For remote filesystems
    pyarrow needs the matching fsspec driver; without it we raise rather
    than silently mis-typing ns columns as BIGINT.
    """
    schema = pads.dataset(path.removeprefix("file://"), format="parquet").schema
    return [f.name for f in schema if str(f.type).startswith("timestamp[ns")]


def _floor_div_1000(col_name: str) -> F.Column:
    """Floor-division ns→µs that matches DuckDB for pre-epoch instants.

    Spark's ``DIV`` truncates toward zero; for negative epochs we need floor
    semantics. Integer-only (no double round-trip — int64 ns epochs exceed
    2^53 and would lose precision through FLOOR(x / 1000.0)).
    """
    c = F.col(f"`{col_name}`")
    q = F.expr(f"`{col_name}` DIV 1000")
    return F.when(c % 1000 < 0, q - 1).otherwise(q)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read one parquet table, normalizing timestamps to one session type.

    Two encodings appear in the wild and both must land as plain
    ``TimestampType``: TIMESTAMP(NANOS) (rejected by Spark's vectorized
    reader by default; read as long + DIV-1000) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false), which Spark surfaces as ``timestamp_ntz``.
    The session timezone is pinned to UTC (session.py), so the NTZ→LTZ
    cast is value-preserving — same wall-clock rendering DuckDB gives the
    naive TIMESTAMP, keeping cross-engine hashes exact.
    """
    nanos = _nanos_timestamp_columns(path)
    if nanos:
        # Also set at session build (get_spark); re-assert here for
        # externally-built sessions. The conf is harmless for µs/ms tables.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos:
        # The rebuild applies only when the column actually surfaced as
        # LONG. Spark-written INT96 timestamps probe as timestamp[ns]
        # through pyarrow but Spark reads them back as TIMESTAMP directly
        # (nanosAsLong covers only TIMESTAMP(NANOS)-annotated columns) —
        # re-ingesting Spark output must not DIV-1000 a real timestamp.
        if isinstance(df.schema[c].dataType, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(_floor_div_1000(c)))
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


class ParquetDatabase:
    """A named collection of parquet tables (one file or dir per table).

    Catalog surface mirrors the reference connection interface:
    ``list_tables`` (lotad/connection.py:155-162), ``get_schema``
    (lotad/connection.py:148-153), and a projected table scan
    (lotad/connection.py:164-175).
    """

    EXT = ".parquet"

    def __init__(self, spark: SparkSession, path: str, db_id: str | None = None):
        self.spark = spark
        self.path = str(path)
        self.db_id = db_id or self.path

    def list_tables(self) -> list[str]:
        """Catalog scan via the Hadoop FileSystem API — works on any
        scheme Spark can read (file://, hdfs://, s3a://…), not just the
        driver's local disk."""
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        names = set()
        for status in fs.listStatus(jpath):
            entry = status.getPath().getName()
            if status.isDirectory():
                for sub in fs.listStatus(status.getPath()):
                    if sub.getPath().getName().endswith(self.EXT):
                        # a directory table may itself carry the
                        # extension (df.write targets like customer.orc)
                        names.add(
                            entry[: -len(self.EXT)]
                            if entry.endswith(self.EXT)
                            else entry
                        )
                        break
            elif entry.endswith(self.EXT):
                names.add(entry[: -len(self.EXT)])
        return sorted(names)

    def table_path(self, table_name: str) -> str:
        file_path = f"{self.path.rstrip('/')}/{table_name}{self.EXT}"
        if "://" not in self.path:  # local fast path
            return file_path if Path(file_path).exists() else str(
                Path(self.path) / table_name
            )
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(file_path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return file_path if fs.exists(jpath) else (
            f"{self.path.rstrip('/')}/{table_name}"
        )

    def table(self, table_name: str) -> DataFrame:
        return read_table(self.spark, self.table_path(table_name))

    def get_schema(self, table_name: str, ignore_dates: bool = False) -> dict[str, str]:
        return schema_types(self.table(table_name).schema, ignore_dates)


# Column types that ``ignore_dates`` drops from schema drift and diffs
# (reference queries/duckdb/get_schema.sql:5-8).
DATE_TYPES = (T.DateType, T.TimestampType, T.TimestampNTZType)


def schema_types(schema: T.StructType, ignore_dates: bool = False) -> dict[str, str]:
    """``{column: TYPE_NAME}`` in engine-style upper-case type strings,
    optionally excluding date/timestamp columns — the one schema
    introspection behind every source's ``get_schema`` and compare_all's
    schema drift."""
    return {
        f.name: spark_type_name(f.dataType)
        for f in schema.fields
        if not (ignore_dates and isinstance(f.dataType, DATE_TYPES))
    }


def spark_type_name(dt: T.DataType) -> str:
    """Engine-style (DuckDB-flavored) upper-case type string for a Spark type.

    The reference normalizes engine type names through static maps
    (lotad/connection.py:184-211); our sources are Spark-typed, so this is
    the equivalent Spark→generic mapping (SURVEY §1.2 / F6).
    """
    mapping = {
        T.BooleanType: "BOOLEAN",
        T.ByteType: "TINYINT",
        T.ShortType: "SMALLINT",
        T.IntegerType: "INTEGER",
        T.LongType: "BIGINT",
        T.FloatType: "FLOAT",
        T.DoubleType: "DOUBLE",
        T.StringType: "VARCHAR",
        T.BinaryType: "BLOB",
        T.DateType: "DATE",
        T.TimestampType: "TIMESTAMP",
        T.TimestampNTZType: "TIMESTAMP",
    }
    for cls, name in mapping.items():
        if isinstance(dt, cls):
            return name
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"{spark_type_name(dt.elementType)}[]"
    if isinstance(dt, (T.StructType, T.MapType)):
        return "JSON"
    return dt.simpleString().upper()
