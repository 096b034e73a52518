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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lotad_spark.hashing import (
    HASH_COL,
    PROVENANCE_COL,
    _is_nested,
    quote_ident,
    register_sql_functions,
    row_hash_sql,
    sql_string,
)
from lotad_spark.sources.parquet import DATE_TYPES


class NoComparableColumns(ValueError):
    """The two inputs share no column left to compare."""


def _json_if_nested(ident: str, dt: T.DataType) -> tuple[str, T.DataType]:
    """A column as SQL text and type, nested types rendered as JSON text."""
    if _is_nested(dt):
        return f"to_json({ident})", T.StringType()
    return ident, dt


def _normalized(
    df1: DataFrame,
    df2: DataFrame,
    ignore_columns: Iterable[str],
    ignore_dates: bool,
) -> tuple[list[str], list[str], list[tuple[str, T.DataType]]]:
    """Each side's normalization as SQL text, and the normalized types.

    Returns ``(exprs1, exprs2, types)``: one ``expr AS name`` per shared
    column for each side, and ``(name, type)`` of the normalized columns
    (shared by both sides). Mirrors reference lotad/db_compare.py:283-302:
    schema intersection (P1), ignore rules (P2), date exclusion (P9),
    nested→JSON (P3), mismatch→string cast (P4), sorted order (P6).
    """
    ignore = set(ignore_columns)
    s1 = {f.name: f.dataType for f in df1.schema.fields}
    s2 = {f.name: f.dataType for f in df2.schema.fields}

    exprs1: list[str] = []
    exprs2: list[str] = []
    types: list[tuple[str, T.DataType]] = []
    for name in sorted(set(s1) & set(s2)):
        if name in ignore:
            continue
        if ignore_dates and (
            isinstance(s1[name], DATE_TYPES) or isinstance(s2[name], DATE_TYPES)
        ):
            continue
        ident = quote_ident(name)
        (e1, t1), (e2, t2) = (_json_if_nested(ident, s[name]) for s in (s1, s2))
        if t1 != t2:
            e1, e2 = f"CAST({e1} AS STRING)", f"CAST({e2} AS STRING)"
            t1 = T.StringType()
        exprs1.append(f"{e1} AS {ident}")
        exprs2.append(f"{e2} AS {ident}")
        types.append((name, t1))
    return exprs1, exprs2, types


def normalize_for_diff(
    df1: DataFrame,
    df2: DataFrame,
    *,
    ignore_columns: Iterable[str] = (),
    ignore_dates: bool = False,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Project both sides onto the comparable plane.

    Returns ``(df1_norm, df2_norm, columns)`` where columns are the sorted
    shared column names; see ``_normalized`` for the rules.
    """
    exprs1, exprs2, types = _normalized(df1, df2, ignore_columns, ignore_dates)
    return df1.selectExpr(*exprs1), df2.selectExpr(*exprs2), [c for c, _ in types]


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
        """Drifted-row count per provenance side (summary A1), keyed by db
        id; equal ids raise ``ValueError``, as one key cannot hold both."""
        if self.db1_id == self.db2_id:
            raise ValueError(
                f"counts: both sides have the db id {self.db1_id!r}; "
                "count by side from the diff rows instead"
            )
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


def _tag(
    df: DataFrame, side: int, types: list[tuple[str, T.DataType]], json_strings: bool
) -> DataFrame:
    """Hash the normalized ``df`` (column types ``types``) and tag it with
    its side, 0 or 1, as a ``tinyint``.

    The plan compares and shuffles the side, never the user's db id: ids
    may be equal, and a one-byte tag is what each shuffled row carries."""
    return df.selectExpr(
        f"CAST({side} AS TINYINT) AS {PROVENANCE_COL}",
        *(quote_ident(c) for c, _ in types),
        f"{row_hash_sql(types, json_strings=json_strings)} AS {HASH_COL}",
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
    module docs for its shape and for duplicate-key skew. It is built
    from SQL text, a few driver round trips per step whatever the width.
    """
    exprs1, exprs2, types = _normalized(df1, df2, ignore_columns, ignore_dates)
    cols = [c for c, _ in types]
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
    register_sql_functions(df1.sparkSession)
    t1 = _tag(df1.selectExpr(*exprs1), 0, types, json_strings)
    t2 = _tag(df2.selectExpr(*exprs2), 1, types, json_strings)

    # A hash survives iff it was observed on exactly one side:
    # min(side) == max(side) over the hash's window (sides are the
    # literals 0 and 1; the ids replace them only in the final
    # projection, so equal ids stay apart). The exact-duplicate collapse
    # keys on the hash, so its aggregate reuses the window's
    # partitioning: one exchange for the whole diff. Grouping keys
    # normalize -0.0 to 0.0, so float and double columns stay out of the
    # key and keep their first raw value; that is exact, because equal
    # hashes mean equal rendered floats.
    window = f"OVER (PARTITION BY {HASH_COL})"
    keys = [c for c, dt in types if not isinstance(dt, (T.FloatType, T.DoubleType))]
    diff = (
        t1.unionByName(t2)
        .selectExpr(
            "*",
            f"min({PROVENANCE_COL}) {window} AS _min_side",
            f"max({PROVENANCE_COL}) {window} AS _max_side",
        )
        .filter("_min_side = _max_side")
        .drop("_min_side", "_max_side")
        .dropDuplicates([PROVENANCE_COL, HASH_COL, *keys])
        .selectExpr(
            f"CASE WHEN {PROVENANCE_COL} = 0 THEN {sql_string(db1_id)} "
            f"ELSE {sql_string(db2_id)} END AS {PROVENANCE_COL}",
            *(quote_ident(c) for c in cols),
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
