"""Config-wizard analytics: ignorable-column suggestion.

Re-expression of the reference wizard's one real query path
(lotad/config_wizard.py:33-147): a column is suggested as ignorable when a
distinct-value sample from db1 has ZERO value overlap with db2 — the
signature of non-deterministic identifiers (UUID PKs, auto-increments,
load timestamps) that would mark every row as drifted.

Per column (reference SQL
queries/duckdb/config_builder_ignore_columns_get_column_val_intersect.sql:1-8):
``DISTINCT col FROM db1 LIMIT 10000`` then an overlap count against db2.
The sample is tiny by construction, so Spark broadcasts it and the probe is
a shuffle-free map-side semi join — at 100 TB each probe is one scan of the
db2 column (parquet-pruned to that single column) with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lotad_spark.hashing import jvm_helper, quote_ident, sql_string

SAMPLE_LIMIT = 10000  # reference: LIMIT 10000


def column_overlap_count(
    df1: DataFrame, df2: DataFrame, column: str, *, sample_limit: int = SAMPLE_LIMIT
) -> int:
    """Rows of ``df2`` whose ``column`` value appears in a distinct sample of
    ``df1[column]`` (the wizard's J3 probe, as a broadcast semi join)."""
    sample = df1.select(F.col(quote_ident(column))).distinct().limit(sample_limit)
    return df2.join(F.broadcast(sample), on=column, how="left_semi").count()


def _local_top_values(melted: DataFrame, limit: int) -> DataFrame:
    """Per-partition cap of a melted (column_name, value) relation to the
    ``limit`` first DISTINCT values per column by code point (the order
    Spark's ``orderBy`` gives strings) — a narrow JVM stage
    (``lotad_spark/jvm/TopValues.java``: no shuffle, no Python worker;
    the string cast already happened in the melt). State is bounded: per
    column at most ``limit`` values are held."""
    spark = melted.sparkSession
    capped = jvm_helper(spark, "TopValues").cap(melted._jdf, limit)
    return DataFrame(capped, spark)


def suggest_ignore_columns(
    df1: DataFrame,
    df2: DataFrame,
    *,
    sample_limit: int = SAMPLE_LIMIT,
) -> list[str]:
    """Columns shared (same name, same type) by both sides whose values have
    zero overlap — candidates for ``ignore_column`` rules
    (reference lotad/config_wizard.py:33-99, docstring :102-105).

    BATCHED: instead of one Spark job per column (a 500-column table would
    pay 500 sequential job submissions), both sides are melted to
    (column_name, value-as-string) pairs and ALL columns probe in one
    pass — a deterministic per-column distinct sample (lexicographically
    first ``sample_limit`` values, where the reference takes an arbitrary
    LIMIT), broadcast, then one map-side semi join + one tiny groupBy.
    Constant job count regardless of column width; each side is scanned
    once total instead of once per column. NULLs never count as overlap
    (matches the reference's equi-join probe).

    BOUNDED SHUFFLE: the df1 melt never shuffles raw values. A JVM
    per-partition cap (:func:`_local_top_values`) keeps the
    ``sample_limit`` first distinct values per column by code point (the
    order of the window below) WITHIN each partition, so the global
    distinct + window shuffles at most partitions × columns × limit rows
    instead of rows × columns — the exchange is bounded by config, not
    by table size (pinned by tests/test_wizard.py). Exact: every value in
    the global first-k is in some partition's local first-k."""
    s1 = {f.name: f.dataType for f in df1.schema.fields}
    s2 = {f.name: f.dataType for f in df2.schema.fields}
    shared = [c for c in sorted(set(s1) & set(s2)) if s1[c] == s2[c]]
    if not shared:
        return []

    # SQL text: a few driver round trips per step, whatever the width.
    pairs = ", ".join(
        f"struct({sql_string(c)} AS column_name, "
        f"CAST({quote_ident(c)} AS STRING) AS value)"
        for c in shared
    )

    def melt(df: DataFrame) -> DataFrame:
        return (
            df.selectExpr(f"explode(array({pairs})) AS p")
            .select("p.column_name", "p.value")
            .filter("value IS NOT NULL")
        )

    sample = (
        _local_top_values(melt(df1), sample_limit)
        .distinct()
        .selectExpr(
            "*", "row_number() OVER (PARTITION BY column_name ORDER BY value) AS _r"
        )
        .filter(f"_r <= {int(sample_limit)}")
        .drop("_r")
    )
    overlapping = {
        r.column_name
        for r in (
            melt(df2)
            .join(F.broadcast(sample), ["column_name", "value"], "left_semi")
            .groupBy("column_name")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    return [c for c in shared if c not in overlapping]
