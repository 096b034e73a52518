"""Drift-analysis sink: materialized drift tables + text report.

Spark re-expression of the reference's ``DriftAnalysis``
(lotad/data_analysis.py:45-211). The output "database" is a directory of
parquet tables mirroring the reference's output DuckDB file:

* ``<out>/<table>`` — per-table row-level drift (observed_in, columns…,
  hashed_row), one per drifted table;
* ``<out>/lotad_db_data_drift_summary`` — per-table drifted-row counts;
* ``<out>/lotad_missing_table_drift`` — tables present on one side only;
* ``<out>/lotad_table_schema_drift`` — column-level schema drift.

Reference parity quirk, kept deliberately: the reference wraps every value
of the missing-table and schema-drift records in literal double quotes at
INSERT time (lotad/data_analysis.py:110-116,130-135) — ``"customer"``, and
``None`` renders as ``"None"`` — and its tests assert the quoted strings
(test/db_schema_drift_test.py:52-61). We store the same quoted strings.
Single quotes inside type names are stripped first (enum normalization,
data_analysis.py:104-105).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from lotad_spark.drift import MissingTableDrift, TableDataDiff, TableSchemaDrift
from lotad_spark.sources.memory import bounded_local_df

DATA_DRIFT_SUMMARY_TABLE = "lotad_db_data_drift_summary"
MISSING_TABLE_TABLE = "lotad_missing_table_drift"
SCHEMA_DRIFT_TABLE = "lotad_table_schema_drift"

_SUMMARY_SCHEMA = (
    "table_name string, db1 string, rows_only_in_db1 int, "
    "db2 string, rows_only_in_db2 int"
)
_MISSING_SCHEMA = "table_name string, observed_in string, missing_in string"
_SCHEMA_DRIFT_SCHEMA = (
    "table_name string, column_name string, db1 string, "
    "db1_column_type string, db2 string, db2_column_type string"
)

# Text report, shaped to match the reference's Jinja template output
# (lotad/reports/db_comparison_report.j2:1-34).
_REPORT_TEMPLATE = """Database Comparison Report
{%- if table_drift %}

Missing Table Summary
{%- for table in table_drift %}
{{ table["table_name"] }} not found in {{ table["missing_in"] }}

{%- endfor %}
{%- endif %}
{%- if table_schema_drift %}

Schema Drift Summary
{%- for table in table_schema_drift %}

{{ table["table_name"] }}.{{ table["column_name"] }}
    {{ table["db1"] }} {{ table["db1_column_type"] }}
    {{ table["db2"] }} {{ table["db2_column_type"] }}
{%- endfor %}
{%- endif %}
{%- if data_drift %}

Data Drift Summary
Format:
    my_table
        db1 - records only in db1
        db2 - records only in db2
{%- for table in data_drift %}

{{ table["table_name"] }}
    {{ table["db1"] }} - {{ table["rows_only_in_db1"] }}
    {{ table["db2"] }} - {{ table["rows_only_in_db2"] }}
{%- endfor %}

{%- endif %}"""


def _q(value: object) -> str:
    """Reference quoted-literal rendering (lotad/data_analysis.py:110-116)."""
    return f'"{str(value).replace(chr(39), "")}"'


class DriftAnalysis:
    """Accumulates drift records and materializes the output tables."""

    def __init__(self, spark: SparkSession, output_path: str, db1_id: str, db2_id: str):
        self.spark = spark
        # Keep the raw string: Path() would collapse the '//' of remote
        # URIs ('s3a://bucket' → 's3a:/bucket'). All create/delete/join
        # goes through the Hadoop FileSystem API, same as
        # DatabaseComparator._remove_dir, so any FS scheme works.
        self.output_path = output_path.rstrip("/")
        self.db1_id = db1_id
        self.db2_id = db2_id
        # Recreate the output location per run (reference deletes the
        # output DB file, data_analysis.py:59-61).
        jvm = spark.sparkContext._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(self.output_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            fs.delete(jpath, True)
        fs.mkdirs(jpath)
        self._summary_rows: list[tuple] = []
        self._missing_rows: list[tuple] = []
        self._schema_rows: list[tuple] = []

    def add_schema_drift(self, results: list[TableSchemaDrift]) -> None:
        for r in results:
            self._schema_rows.append(
                (
                    _q(r.table_name),
                    _q(r.column_name),
                    _q(r.db1),
                    _q(r.db1_column_type),
                    _q(r.db2),
                    _q(r.db2_column_type),
                )
            )

    def add_missing_table_drift(self, results: list[MissingTableDrift]) -> None:
        for r in results:
            self._missing_rows.append(
                (_q(r.table_name), _q(r.observed_in), _q(r.missing_in))
            )

    def add_data_drift(self, result: TableDataDiff) -> None:
        """Record one drifted table's summary row. The drift rows themselves
        are written by the comparator (already a distributed write); summary
        rows exist only for non-empty diffs (reference db_compare.py:356-364).
        """
        self._summary_rows.append(
            (
                result.table_name,
                self.db1_id,
                result.rows_only_in_db1,
                self.db2_id,
                result.rows_only_in_db2,
            )
        )

    def table_dir(self, table_name: str) -> str:
        return f"{self.output_path}/{table_name}"

    def write(self) -> None:
        """Materialize the three summary tables as parquet."""
        for rows, schema, name in (
            (self._summary_rows, _SUMMARY_SCHEMA, DATA_DRIFT_SUMMARY_TABLE),
            (self._missing_rows, _MISSING_SCHEMA, MISSING_TABLE_TABLE),
            (self._schema_rows, _SCHEMA_DRIFT_SCHEMA, SCHEMA_DRIFT_TABLE),
        ):
            bounded_local_df(self.spark, rows, schema).write.mode(
                "overwrite"
            ).parquet(self.table_dir(name))

    # ---- getters (sorted like the reference's, data_analysis.py:181-200) ----

    def get_missing_table_drift(self) -> list[dict]:
        cols = ("table_name", "observed_in", "missing_in")
        return [
            dict(zip(cols, r))
            for r in sorted(self._missing_rows, key=lambda r: r[0])
        ]

    def get_table_schema_drift(self) -> list[dict]:
        cols = (
            "table_name",
            "column_name",
            "db1",
            "db1_column_type",
            "db2",
            "db2_column_type",
        )
        return [
            dict(zip(cols, r))
            for r in sorted(self._schema_rows, key=lambda r: (r[0], r[1]))
        ]

    def get_data_drift_summary(self) -> list[dict]:
        cols = ("table_name", "db1", "rows_only_in_db1", "db2", "rows_only_in_db2")
        return [
            dict(zip(cols, r))
            for r in sorted(self._summary_rows, key=lambda r: r[0])
        ]

    def render_report(self) -> str:
        from jinja2 import Template

        return Template(_REPORT_TEMPLATE).render(
            table_drift=self.get_missing_table_drift(),
            table_schema_drift=self.get_table_schema_drift(),
            data_drift=self.get_data_drift_summary(),
        )
