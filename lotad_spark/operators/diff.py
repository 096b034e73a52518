"""Core data-drift diff kernel: canonical hash + symmetric set difference.

Reference semantics (lotad/queries/duckdb/db_compare_create_tmp_table_merge.sql:1-45,
lotad/db_compare.py:266-302):

1. project both sides to the **intersection** of their schemas, minus
   ignore rules and (optionally) date/timestamp columns;
2. nested columns → JSON strings; type-mismatched shared columns → string
   cast; columns sorted alphabetically;
3. tag provenance (``observed_in``: side 0 or 1, mapped to the db ids
   only in the output) and compute the canonical row hash;
4. symmetric hash anti-join: rows whose hash appears on exactly one side;
   **set semantics** — a hash occurring n× in db1 and ≥1× in db2 is removed
   entirely;
5. deduplicating UNION of the two branches.

Spark execution: ONE shuffle of the unioned, tagged rows by hash. A
hash-partitioned window computes ``min(side) == max(side)`` per hash (true
exactly when the hash was observed on one side only), and the trailing
exact-duplicate collapse is a hash aggregate that REUSES the window's
partitioning (the hash is part of its key), so each input is scanned
and hashed once and the whole diff is a single exchange: strictly fewer
shuffled bytes than the reference plan's two left-anti joins +
union-distinct (which additionally ships each side's hash column as a
join probe and re-shuffles the diff output for the distinct). Output is
identical to that plan: every raw variant canonicalizing to a surviving
hash is kept, then exact duplicates collapse (tests/test_diff.py keeps
the reference plan as the equivalence oracle). Float and double values
stay raw through the collapse, so ``-0.0`` stays ``-0.0`` as in DuckDB.
``diff_tables`` runs no Spark job.

Duplicate-key skew: a dominant content hash means IDENTICAL duplicate
rows, which compress to ~nothing in the shuffle, so AQE's byte-based skew
detection cannot split them (tests/test_plans.py::TestSkewedDiffPlans)
and every copy lands in one row-count-bound partition (SCALING.md prices
it).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Iterable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lotad_spark.hashing import (
    HASH_COL,
    PROVENANCE_COL,
    canonical_row_hash,
    _is_nested,
)
from lotad_spark.sources.parquet import DATE_TYPES


class NoComparableColumns(ValueError):
    """The two inputs share no column left to compare."""


def _quoted(c: str) -> F.Column:
    return F.col(f"`{c}`")


def normalize_for_diff(
    df1: DataFrame,
    df2: DataFrame,
    *,
    ignore_columns: Iterable[str] = (),
    ignore_dates: bool = False,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Project both sides onto the comparable plane.

    Returns ``(df1_norm, df2_norm, columns)`` where columns are the sorted
    shared column names. Mirrors reference lotad/db_compare.py:283-302:
    schema intersection (P1), ignore rules (P2), date exclusion (P9),
    nested→JSON (P3), mismatch→string cast (P4), sorted order (P6).
    """
    ignore = set(ignore_columns)
    s1 = {f.name: f.dataType for f in df1.schema.fields}
    s2 = {f.name: f.dataType for f in df2.schema.fields}

    shared: list[str] = []
    for name in sorted(set(s1) & set(s2)):
        if name in ignore:
            continue
        if ignore_dates and (
            isinstance(s1[name], DATE_TYPES) or isinstance(s2[name], DATE_TYPES)
        ):
            continue
        shared.append(name)

    def side(df: DataFrame, own: dict, other: dict) -> DataFrame:
        exprs = []
        for name in shared:
            col, dt = _quoted(name), own[name]
            if _is_nested(dt):
                col, dt = F.to_json(col), T.StringType()
            other_dt = T.StringType() if _is_nested(other[name]) else other[name]
            if dt != other_dt:
                col = col.cast("string")
            exprs.append(col.alias(name))
        return df.select(*exprs)

    return side(df1, s1, s2), side(df2, s2, s1), shared


@dataclass
class DiffResult:
    """Result of a two-sided table diff."""

    diff: DataFrame  # observed_in, <sorted shared columns>, hashed_row
    columns: list[str]  # the compared (shared, normalized) column names
    db1_id: str
    db2_id: str
    table_name: str | None = None
    # Always "window", the one plan: perfbench's traced layers read it.
    strategy_used: str | None = None
    # Which hash the diff compiled to: "canonical" (JSON-looking strings
    # canonicalized) or "fast" (the caller passed json_strings=False).
    hash_path: str | None = None
    _counts: dict | None = field(default=None, repr=False)

    def is_empty(self) -> bool:
        """Cheap LIMIT-1 existence probe (reference lotad/db_compare.py:356-358)."""
        return self.diff.isEmpty()

    def counts(self) -> dict[str, int]:
        """Drifted-row count per provenance side (summary A1)."""
        if self._counts is None:
            rows = (
                self.diff.groupBy(PROVENANCE_COL)
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            got = {r[PROVENANCE_COL]: r["n"] for r in rows}
            self._counts = {
                self.db1_id: got.get(self.db1_id, 0),
                self.db2_id: got.get(self.db2_id, 0),
            }
        return self._counts


def _tag(df: DataFrame, side: int, cols: list[str], json_strings: bool) -> DataFrame:
    """Hash ``df`` and tag it with its side, 0 or 1, as a ``tinyint``.

    The plan compares and shuffles the side, never the user's db id: ids
    may be equal, and a one-byte tag is what each shuffled row carries."""
    hashed = df.withColumn(
        HASH_COL, canonical_row_hash(df, cols, json_strings=json_strings)
    )
    return hashed.select(
        F.lit(side).cast("tinyint").alias(PROVENANCE_COL),
        *[_quoted(c) for c in cols],
        HASH_COL,
    )


def diff_tables(
    df1: DataFrame,
    df2: DataFrame,
    *,
    db1_id: str = "db1",
    db2_id: str = "db2",
    ignore_columns: Iterable[str] = (),
    ignore_dates: bool = False,
    json_strings: bool = True,
    table_name: str | None = None,
) -> DiffResult:
    """Row-level drift between two tables (the engine's core operator, J1+SO1).

    ``json_strings=False`` hashes string columns as-is, skipping JSON
    canonicalization, when the source is known not to embed JSON in
    strings (``DiffResult.hash_path`` reads ``"fast"``); values that look
    like JSON would then drift on formatting alone.

    The plan is one exchange of both sides' tagged rows by hash; see the
    module docs for its shape and for duplicate-key skew.
    """
    n1, n2, cols = normalize_for_diff(
        df1, df2, ignore_columns=ignore_columns, ignore_dates=ignore_dates
    )
    if not cols:
        raise NoComparableColumns(
            "diff_tables: the two inputs share no comparable columns "
            f"(df1: {df1.columns}, df2: {df2.columns}, ignored: {sorted(set(ignore_columns))})"
        )
    reserved = {HASH_COL, PROVENANCE_COL} & set(cols)
    if reserved:
        raise ValueError(
            f"diff_tables: input data columns collide with reserved metadata "
            f"columns {sorted(reserved)}; rename them before diffing"
        )
    t1 = _tag(n1, 0, cols, json_strings)
    t2 = _tag(n2, 1, cols, json_strings)

    w = Window.partitionBy(HASH_COL)
    # A hash survives iff it was observed on exactly one side:
    # min(side) == max(side) over the hash's window (sides are the
    # literals 0 and 1; the ids replace them only in the final
    # projection, so equal ids stay apart). The exact-duplicate collapse
    # keys on the hash, so its aggregate reuses the window's
    # partitioning: one exchange for the whole diff. Grouping keys
    # normalize -0.0 to 0.0, so float and double columns stay out of the
    # key and keep their first raw value; that is exact, because equal
    # hashes mean equal rendered floats.
    floats = {f.name for f in n1.schema.fields
              if isinstance(f.dataType, (T.FloatType, T.DoubleType))}
    diff = (
        t1.unionByName(t2)
        .withColumn("_min_side", F.min(PROVENANCE_COL).over(w))
        .withColumn("_max_side", F.max(PROVENANCE_COL).over(w))
        .filter(F.col("_min_side") == F.col("_max_side"))
        .drop("_min_side", "_max_side")
        .dropDuplicates([PROVENANCE_COL, HASH_COL, *(c for c in cols if c not in floats)])
        .select(
            F.when(F.col(PROVENANCE_COL) == 0, F.lit(db1_id))
            .otherwise(F.lit(db2_id))
            .alias(PROVENANCE_COL),
            *[_quoted(c) for c in cols],
            HASH_COL,
        )
    )

    return DiffResult(
        diff=diff,
        columns=cols,
        db1_id=db1_id,
        db2_id=db2_id,
        table_name=table_name,
        strategy_used="window",
        hash_path="canonical" if json_strings else "fast",
    )
