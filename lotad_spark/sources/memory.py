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


def _arrow_table(rows, schema):
    """``(StructType, pyarrow.Table)`` of ``rows``, as
    ``bounded_local_df`` and ``write_bounded_parquet`` take them."""
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
    return schema, table


def bounded_local_df(spark, rows, schema):
    """Bounded driver-side relation (tuples or Rows matching ``schema``,
    a DDL string or ``StructType``) as a JVM ``LocalRelation``.

    The rows go to the JVM as Arrow batches (``createDataFrame`` of a
    ``pyarrow.Table``), so evaluating the relation starts no Python
    worker: a ``createDataFrame(list)`` relation is a Python RDD whose
    every partition is computed by a Python worker, which is what made a
    one-row metadata write cost 3.7-4.7 s at 32 cores. Bounded relations
    (centroids, codebooks, query/LUT tables) never need scan parallelism;
    above ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB)
    Spark keeps the batches in a JVM RDD instead. Values that do not fit
    their column's type raise, as in the plain ``createDataFrame`` path. A
    naive ``datetime`` in a timestamp column reads as UTC wall-clock time,
    where ``createDataFrame(list)`` reads it in the process's local time
    zone. To store such rows as a table, ``write_bounded_parquet`` needs
    no Spark job."""
    schema, table = _arrow_table(rows, schema)
    return spark.createDataFrame(table, schema)


def write_bounded_parquet(spark, rows, schema, path):
    """Write bounded driver-side rows (as ``bounded_local_df`` takes them)
    as a parquet table directory at ``path``, replacing what is there,
    with no Spark job: the bytes are built on the driver by
    ``pyarrow.parquet`` and written through ``path``'s Hadoop
    ``FileSystem``, so any scheme works.

    The layout is that of a one-partition Spark write: one
    ``part-00000-<uuid>-c000.snappy.parquet`` and an empty ``_SUCCESS``.
    The part file is written under a hidden ``_`` name and renamed into
    place, so no reader lists a partial file. Spark reads it back with
    ``schema``. A Spark write of a few rows costs a job, a task and a
    commit instead: three 1-row writes took 125-137 ms of CPU, warm, on
    a 4-core box."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    _, table = _arrow_table(rows, schema)
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf, compression="snappy")
    data = buf.getvalue().to_pybytes()

    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    root = Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(root, True)
    name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
    staged = Path(root, f"_{name}")
    out = fs.create(staged)
    try:
        out.write(data)
    finally:
        out.close()
    if not fs.rename(staged, Path(root, name)):
        raise OSError(f"could not rename {staged.toString()} into place")
    fs.create(Path(root, "_SUCCESS")).close()
