"""JDBC database source (anything with a driver on ``spark.jars``).

The reference attaches live Postgres/SQLite databases into DuckDB
(lotad/connection.py:282-327). The Spark-native equivalent is the JDBC
reader: Catalyst pushes filters and column pruning down into the remote
database, and ``partition_column``/``num_partitions`` shards the scan
across executors — which the reference (single connection per table)
cannot do.

``JdbcDatabase`` takes the URL, driver properties and the table list
(JDBC has no portable catalog query); a ``*_jdbc`` config spec builds
exactly that. :class:`DuckDbDatabase` reads its own catalog and runs the
whole path live (driver registration, catalog query, bounds probe,
partitioned scan) with the public ``org.duckdb:duckdb_jdbc`` driver
(tests/test_jdbc_e2e.py). SQLite files need no driver at all:
``sources.sqlite_native``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lotad_spark.sources.parquet import schema_types


class JdbcDatabase:
    """A database behind a JDBC URL, usable as a ``compare_all`` side.

    Partitioned scans: pass ``partition_columns={table: column}`` for big
    tables — Spark issues ``num_partitions`` bounded-range queries in
    parallel instead of one giant result set.
    """

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        db_id: str | None = None,
        *,
        properties: dict[str, str] | None = None,
        tables: list[str] | None = None,
        partition_columns: dict[str, str] | None = None,
        num_partitions: int = 8,
    ):
        self.spark = spark
        self.url = url
        self.db_id = db_id or url
        self.properties = properties or {}
        self._tables = tables
        self.partition_columns = partition_columns or {}
        self.num_partitions = num_partitions

    def list_tables(self) -> list[str]:
        """Table list. JDBC has no portable catalog query, so the list is
        injected at construction (``DuckDbDatabase`` reads its catalog)."""
        if self._tables is None:
            raise NotImplementedError(
                "JDBC has no portable table listing: pass tables=[...]"
            )
        return sorted(self._tables)

    def table(self, table_name: str) -> DataFrame:
        reader = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", table_name)
        )
        for k, v in self.properties.items():
            reader = reader.option(k, v)
        part_col = self.partition_columns.get(table_name)
        if part_col:
            bounds = self.spark.read.format("jdbc").options(
                url=self.url,
                query=f"SELECT min({part_col}) AS lo, max({part_col}) AS hi "
                f"FROM {table_name}",
                **self.properties,
            ).load().collect()[0]
            if bounds["lo"] is not None:
                reader = (
                    reader.option("partitionColumn", part_col)
                    .option("lowerBound", str(bounds["lo"]))
                    .option("upperBound", str(bounds["hi"]))
                    .option("numPartitions", str(self.num_partitions))
                )
        return reader.load()

    def get_schema(self, table_name: str, ignore_dates: bool = False) -> dict[str, str]:
        return schema_types(self.table(table_name).schema, ignore_dates)


class DuckDbDatabase(JdbcDatabase):
    """DuckDB file via JDBC — the reference's own native engine as a live
    JDBC side (reference attaches DuckDB files directly,
    lotad/connection.py:115-140). With the public ``org.duckdb:duckdb_jdbc``
    driver on ``spark.jars``, this exercises the full JdbcDatabase path
    (driver registration, catalog query, bounds probe, partitioned scan)
    end-to-end — see tests/test_jdbc_e2e.py."""

    def __init__(
        self, spark: SparkSession, path: str, db_id: str | None = None, **kwargs
    ):
        super().__init__(
            spark,
            f"jdbc:duckdb:{path}",
            db_id or path,
            properties={"driver": "org.duckdb.DuckDBDriver"},
            **kwargs,
        )

    def list_tables(self) -> list[str]:
        if self._tables is not None:
            return sorted(self._tables)
        df = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option(
                "query",
                "SELECT table_name FROM information_schema.tables "
                "WHERE table_schema = 'main' AND table_type = 'BASE TABLE'",
            )
            .options(**self.properties)
            .load()
        )
        return sorted(r["table_name"] for r in df.collect())
