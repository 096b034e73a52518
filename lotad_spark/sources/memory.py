"""In-memory database source: a named dict of DataFrames.

Implements the same catalog surface as ``ParquetDatabase`` (list_tables /
get_schema / table — reference lotad/connection.py:148-162) for tests and
for callers that assemble their sides from arbitrary Spark reads (JDBC,
Delta, views). Any object with ``list_tables``, ``table`` and ``db_id``
works as a ``compare_all`` side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from lotad_spark.sources.parquet import schema_types


class DictDatabase:
    """A database backed by ``{table_name: DataFrame}``."""

    def __init__(self, tables: dict[str, DataFrame], db_id: str):
        self._tables = dict(tables)
        self.db_id = db_id

    def list_tables(self) -> list[str]:
        return sorted(self._tables)

    def table(self, table_name: str) -> DataFrame:
        return self._tables[table_name]

    def get_schema(self, table_name: str, ignore_dates: bool = False) -> dict[str, str]:
        return schema_types(self.table(table_name).schema, ignore_dates)


def bounded_local_df(spark, rows, schema):
    """Bounded driver-side relation as a ONE-slice DataFrame.

    ``createDataFrame(list)`` parallelizes into
    ``sc.defaultParallelism`` Python partitions (32 on the bench box).
    Any later single-task evaluation of that relation — a
    ``coalesce(1)`` metadata write is the common case in the index
    builders — computes the partitions SERIALLY through one
    PythonRunner handshake each: measured 3.7-4.7 s to write a
    ONE-ROW meta parquet at 32 cores, vs 0.29 s with a single slice
    (13x; r18 optimization round, guide §4 "the Python boundary").
    Bounded relations (centroids, codebooks, metadata, query/LUT
    tables) never need scan parallelism — one slice is the right
    shape at any scale, and every downstream use either broadcasts or
    coalesces anyway. Values and schema are identical to the plain
    ``createDataFrame`` path (same row-verification code path).
    """
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )
