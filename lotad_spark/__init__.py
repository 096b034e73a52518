"""lotad_spark — a PySpark-native database drift-diff engine.

A brand-new engine with the query/data-processing capabilities of the
reference drift-diff tool (WillNye/lotad, surveyed in SURVEY.md): given two
databases (here: directories of Parquet tables, or anything Spark can read),
compute

* tables present in one DB but not the other,
* per-table schema drift (missing columns, type mismatches),
* per-table row-level data drift via a canonical row hash and a symmetric
  set-difference,

plus large-scale LLM-data-pipeline operators (``lotad_spark.pipeline``):
exact/MinHash-LSH/SimHash dedup, text statistics, quality scoring,
heuristic language ID, and document fingerprints.

Architecture is Spark-first: lazy DataFrame plans, Catalyst optimization,
a Java UDF for JSON canonicalization inside whole-stage codegen, and no
driver-side row loops.
"""

from lotad_spark.hashing import canonical_row_hash, with_row_hash
from lotad_spark.operators.diff import DiffResult, diff_tables
from lotad_spark.compare import CompareResult, DatabaseComparator, compare_all
from lotad_spark.drift import (
    MissingTableDrift,
    TableDataDiff,
    TableSchemaDrift,
    generate_missing_table_drift,
    generate_table_schema_drift,
)

__version__ = "0.2.0"

__all__ = [
    "canonical_row_hash",
    "with_row_hash",
    "diff_tables",
    "DiffResult",
    "compare_all",
    "DatabaseComparator",
    "CompareResult",
    "MissingTableDrift",
    "TableSchemaDrift",
    "TableDataDiff",
    "generate_missing_table_drift",
    "generate_table_schema_drift",
    "__version__",
]
