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
    """Record build parameters as a one-row parquet at ``path``.

    A ``bounded_local_df`` relation: a ``createDataFrame(list)`` one is a
    Python RDD, which cost ~4 s of Python-worker roundtrips per params
    write at local[32]."""
    from lotad_spark.sources.memory import bounded_local_df

    bounded_local_df(spark, [values], schema).write.mode(
        "overwrite"
    ).parquet(path)


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
