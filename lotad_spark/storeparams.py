"""Build-parameter recording for on-disk stores (indexes, snapshots).

A stored artifact probed with different parameters than it was built
with never errors on its own — hashes simply stop matching and the
result reads as "nothing found" / "everything changed". Every store
therefore writes a one-row params parquet at build time and validates
it at read time. One implementation so the guard semantics and error
wording cannot drift between stores.
"""

from __future__ import annotations

from pyspark.sql import Row, SparkSession
from pyspark.sql.utils import AnalysisException


def write_params(
    spark: SparkSession, path: str, schema: str, values: tuple
) -> None:
    """Record build parameters as a one-row parquet at ``path``, written
    from the driver with no Spark job (``write_bounded_parquet``)."""
    from lotad_spark.sources.memory import write_bounded_parquet

    write_bounded_parquet(spark, [values], schema, path)


def read_params(spark: SparkSession, path: str) -> Row | None:
    """The recorded params row, or None when ``path`` does not exist
    (a store written before parameter recording). Read failures OTHER
    than absence — corrupt footer, permissions — propagate: silently
    skipping the guard on a real error would re-open exactly the
    silent-mismatch hole the params exist to close."""
    try:
        return spark.read.parquet(path).collect()[0]
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None
        raise
