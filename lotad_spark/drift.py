"""Drift record types + schema/missing-table drift generation.

Semantics mirror the reference (lotad/data_analysis.py:13-36 for the record
shapes; lotad/db_compare.py:35-147 for the generation logic), re-expressed
over Spark-introspected schemas: all of this is driver-side set logic on
table names and ``{column: TYPE}`` dicts — tiny data, no cluster work.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class MissingTableDrift:
    """A table present in one database and absent in the other
    (reference lotad/data_analysis.py:19-23)."""

    table_name: str
    observed_in: str
    missing_in: str


@dataclass
class TableSchemaDrift:
    """One column-level schema difference (missing column or type mismatch)
    for a shared table (reference lotad/data_analysis.py:26-36)."""

    table_name: str
    column_name: str
    db1: str
    db2: str
    db1_column_type: str | None = None
    db2_column_type: str | None = None


@dataclass
class TableDataDiff:
    """Pointer to a materialized per-table data-drift result
    (reference lotad/data_analysis.py:13-16; ours points at the written
    parquet path instead of a worker temp DuckDB file)."""

    table_name: str
    path: str
    rows_only_in_db1: int = 0
    rows_only_in_db2: int = 0


def generate_missing_table_drift(
    db1_id: str,
    db1_tables: set[str],
    db2_id: str,
    db2_tables: set[str],
) -> list[MissingTableDrift]:
    """Tables found in one db but not the other
    (reference lotad/db_compare.py:118-147)."""
    out = [
        MissingTableDrift(table_name=t, observed_in=db1_id, missing_in=db2_id)
        for t in sorted(db1_tables - db2_tables)
    ]
    out += [
        MissingTableDrift(table_name=t, observed_in=db2_id, missing_in=db1_id)
        for t in sorted(db2_tables - db1_tables)
    ]
    return out


def generate_table_schema_drift(
    table_name: str,
    db1_id: str,
    schema1: dict[str, str],
    db2_id: str,
    schema2: dict[str, str],
) -> list[TableSchemaDrift]:
    """Column set-difference + type-mismatch records for one shared table
    (reference lotad/db_compare.py:35-116).

    The reference normalizes engine type names through static type maps
    before comparing (lotad/connection.py:184-211). Every source here
    reports Spark type names (``sources.parquet.schema_types``), which is
    that one map, so types compare as given.
    """
    out = []
    for column in sorted(set(schema1) - set(schema2)):
        out.append(
            TableSchemaDrift(
                table_name=table_name,
                column_name=column,
                db1=db1_id,
                db2=db2_id,
                db1_column_type=schema1[column],
                db2_column_type=None,
            )
        )
    for column in sorted(set(schema2) - set(schema1)):
        out.append(
            TableSchemaDrift(
                table_name=table_name,
                column_name=column,
                db1=db1_id,
                db2=db2_id,
                db1_column_type=None,
                db2_column_type=schema2[column],
            )
        )
    for column in sorted(set(schema1) & set(schema2)):
        t1, t2 = schema1[column], schema2[column]
        if t1 == t2:
            continue
        out.append(
            TableSchemaDrift(
                table_name=table_name,
                column_name=column,
                db1=db1_id,
                db2=db2_id,
                db1_column_type=t1,
                db2_column_type=t2,
            )
        )
    return out
