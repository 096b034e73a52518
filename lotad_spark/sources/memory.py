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
    """Bounded driver-side relation (tuples or Rows matching ``schema``,
    a DDL string or ``StructType``) as a JVM ``LocalRelation``.

    The rows go to the JVM as Arrow batches (``createDataFrame`` of a
    ``pyarrow.Table``), so evaluating the relation starts no Python
    worker: a ``createDataFrame(list)`` relation is a Python RDD whose
    every partition is computed by a Python worker, which is what made a
    one-row metadata write cost 3.7-4.7 s at 32 cores. Bounded relations
    (centroids, codebooks, metadata, query/LUT tables, drift summaries)
    never need scan parallelism; above
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB) Spark keeps
    the batches in a JVM RDD instead. Values that do not fit their
    column's type raise, as in the plain ``createDataFrame`` path. A naive
    ``datetime`` in a timestamp column reads as UTC wall-clock time, where
    ``createDataFrame(list)`` reads it in the process's local time zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    width = len(arrow_schema)
    if any(len(r) != width for r in rows):
        raise ValueError(f"every row must have {width} fields: {schema.simpleString()}")
    columns = list(zip(*rows)) or [()] * width
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
