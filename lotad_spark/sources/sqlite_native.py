"""Native SQLite source — live file scan with zero external drivers.

The reference attaches live SQLite databases (lotad/connection.py:299-327).
This module needs no JDBC driver jar: it scans the file with Python's
stdlib ``sqlite3`` through an Arrow-batched ``mapInPandas`` kernel, sharded
over rowid ranges.

Execution shape
---------------
* Driver side touches METADATA only: ``sqlite_master`` for the catalog,
  ``PRAGMA table_info`` for the schema, one ``min(rowid)/max(rowid)`` probe
  per scan. No data rows ever pass through the driver.
* The scan itself is a DataFrame of ``num_partitions`` (lo, hi) rowid
  ranges fed through ``mapInPandas``: each executor task opens the file
  read-only/immutable, runs one bounded ``SELECT ... WHERE rowid BETWEEN``
  query, and yields Arrow record batches. rowid is SQLite's clustered
  B-tree key, so every range query is an index-ordered sweep — the tasks
  touch disjoint leaf ranges instead of N full scans.
* ``predicate=`` pushes a WHERE clause into every shard's query (Catalyst
  cannot see through a Python kernel, so pushdown is explicit here), and
  ``columns=`` prunes the SELECT list the same way.

Scale honesty: a SQLite file is a single-machine artifact — the point of
sharding is to parallelize page decode across local cores (or executors on
a shared filesystem), not to distribute a 100 TB dataset. At real scale
this source is the INGEST edge: scan once, write parquet, and every
downstream operator runs on the columnar copy.

WITHOUT ROWID tables have no rowid; we detect them via PRAGMA and fall
back to a single-shard scan (such tables are keyed small-dimension tables
in practice).
"""

from __future__ import annotations

import sqlite3
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from lotad_spark.sources.parquet import schema_types

# SQLite type-affinity rules (https://sqlite.org/datatype3.html §3.1):
# INT* → INTEGER, CHAR/CLOB/TEXT → TEXT, BLOB/'' → BLOB, REAL/FLOA/DOUB
# → REAL, else NUMERIC. We map affinities onto Spark types; NUMERIC lands
# as double (SQLite itself stores whatever arrived, the lossiest honest
# choice without scanning values).
_AFFINITY_SPARK = {
    "INTEGER": T.LongType(),
    "TEXT": T.StringType(),
    "BLOB": T.BinaryType(),
    "REAL": T.DoubleType(),
    "NUMERIC": T.DoubleType(),
}


def _affinity(declared: str) -> str:
    d = (declared or "").upper()
    if "INT" in d:
        return "INTEGER"
    if "CHAR" in d or "CLOB" in d or "TEXT" in d:
        return "TEXT"
    if not d or "BLOB" in d:
        return "BLOB"
    if "REAL" in d or "FLOA" in d or "DOUB" in d:
        return "REAL"
    return "NUMERIC"


def _connect_ro(path: str) -> sqlite3.Connection:
    # immutable=1 skips locking entirely — safe because the compare reads a
    # landed snapshot, and required when the file sits on a read-only mount.
    return sqlite3.connect(f"file:{path}?mode=ro&immutable=1", uri=True)


def _quote(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


class SqliteNativeDatabase:
    """A live SQLite file as a ``compare_all`` side, no JDBC jar needed.

    Mirrors the catalog surface of ParquetDatabase/JdbcDatabase
    (list_tables / get_schema / table), so every downstream operator —
    diff, drift, wizard, custom query — works against it unchanged.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        db_id: str | None = None,
        *,
        num_partitions: int = 8,
    ):
        self.spark = spark
        self.path = path
        self.db_id = db_id or path
        self.num_partitions = num_partitions

    # -- catalog (driver-side metadata queries, bounded by table count) --

    def list_tables(self) -> list[str]:
        with _connect_ro(self.path) as con:
            rows = con.execute(
                "SELECT name FROM sqlite_master WHERE type = 'table' "
                "AND name NOT LIKE 'sqlite_%'"
            ).fetchall()
        return sorted(r[0] for r in rows)

    def _table_info(self, table_name: str) -> tuple[list[tuple[str, str]], bool]:
        """([(col, declared_type)], has_rowid)."""
        with _connect_ro(self.path) as con:
            cols = [
                (r[1], r[2])
                for r in con.execute(f"PRAGMA table_info({_quote(table_name)})")
            ]
            if not cols:
                raise ValueError(f"no such sqlite table: {table_name}")
            without_rowid = False
            for r in con.execute("SELECT sql FROM sqlite_master WHERE name = ?",
                                 (table_name,)):
                without_rowid = "WITHOUT ROWID" in (r[0] or "").upper()
        return cols, not without_rowid

    def spark_schema(self, table_name: str) -> T.StructType:
        cols, _ = self._table_info(table_name)
        return T.StructType(
            [T.StructField(c, _AFFINITY_SPARK[_affinity(d)], True) for c, d in cols]
        )

    def get_schema(self, table_name: str, ignore_dates: bool = False) -> dict[str, str]:
        # SQLite has no date/timestamp storage class, so ignore_dates is a
        # no-op here (dates arrive as TEXT/INTEGER per the writer's choice).
        return schema_types(self.spark_schema(table_name), ignore_dates)

    # -- the scan --

    def table(
        self,
        table_name: str,
        *,
        columns: list[str] | None = None,
        predicate: str | None = None,
    ) -> DataFrame:
        cols, has_rowid = self._table_info(table_name)
        schema = self.spark_schema(table_name)
        if columns is not None:
            keep = set(columns)
            schema = T.StructType([f for f in schema.fields if f.name in keep])
        sel = ", ".join(_quote(f.name) for f in schema.fields)
        where = f" AND ({predicate})" if predicate else ""

        # One metadata probe for the rowid span; shards are then disjoint
        # clustered-index ranges. Empty table → empty bounded scan.
        ranges: list[tuple[int, int]] = []
        if has_rowid:
            with _connect_ro(self.path) as con:
                row = con.execute(
                    f"SELECT min(rowid), max(rowid) FROM {_quote(table_name)}"
                ).fetchone()
            if row and row[0] is not None:
                lo, hi = int(row[0]), int(row[1])
                n = max(1, min(self.num_partitions, hi - lo + 1))
                step = (hi - lo + 1 + n - 1) // n
                ranges = [
                    (lo + i * step, min(hi, lo + (i + 1) * step - 1))
                    for i in range(n)
                    if lo + i * step <= hi
                ]
        else:
            ranges = [(0, 0)]  # WITHOUT ROWID: single full sweep

        if not ranges:
            from lotad_spark.sources.memory import bounded_local_df

            return bounded_local_df(self.spark, [], schema)

        path, names = self.path, [f.name for f in schema.fields]
        arrow_dtypes = {}
        for f in schema.fields:
            if isinstance(f.dataType, T.LongType):
                arrow_dtypes[f.name] = "Int64"
            elif isinstance(f.dataType, T.DoubleType):
                # DBAPI surfaces SQL NULL as NaN in float columns; nullable
                # Float64 maps it back to a true null. Lossless: SQLite
                # itself stores NaN as NULL, so no real NaN can arrive.
                arrow_dtypes[f.name] = "Float64"
            else:
                arrow_dtypes[f.name] = None
        range_clause = (
            "WHERE rowid BETWEEN ? AND ?" + where
            if has_rowid
            else ("WHERE " + predicate if predicate else "")
        )
        query = f"SELECT {sel} FROM {_quote(table_name)} {range_clause}"

        def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            con = _connect_ro(path)
            try:
                for pdf in batches:
                    for lo, hi in pdf.itertuples(index=False):
                        args = (int(lo), int(hi)) if has_rowid else ()
                        out = pd.read_sql_query(query, con, params=args)
                        out.columns = names
                        # int columns with NULLs arrive as float64, doubles
                        # carry NaN for NULL; the nullable dtypes restore
                        # integrality and true nulls respectively.
                        for c, dt in arrow_dtypes.items():
                            if dt and str(out[c].dtype) not in ("int64", dt):
                                out[c] = out[c].astype(dt)
                        yield out
            finally:
                con.close()

        from lotad_spark.sources.memory import bounded_local_df

        bounds = bounded_local_df(
            self.spark,
            ranges, T.StructType([T.StructField("lo", T.LongType()),
                                  T.StructField("hi", T.LongType())])
        ).repartition(len(ranges))
        return bounds.mapInPandas(scan, schema)


def write_sqlite(df_pandas: pd.DataFrame, path: str, table_name: str) -> None:
    """Test/fixture helper: land a small pandas frame as a SQLite table.

    Driver-side by design — producing a .sqlite file is inherently a
    single-writer operation; real pipelines go the other direction.
    """
    with sqlite3.connect(path) as con:
        df_pandas.to_sql(table_name, con, index=False, if_exists="replace")
