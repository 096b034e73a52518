"""Core data-drift diff kernel: canonical hash + symmetric set difference.

Reference semantics (lotad/queries/duckdb/db_compare_create_tmp_table_merge.sql:1-45,
lotad/db_compare.py:266-302):

1. project both sides to the **intersection** of their schemas, minus
   ignore rules and (optionally) date/timestamp columns;
2. nested columns → JSON strings; type-mismatched shared columns → string
   cast; columns sorted alphabetically;
3. tag provenance (``observed_in``) and compute the canonical row hash;
4. symmetric hash anti-join: rows whose hash appears on exactly one side;
   **set semantics** — a hash occurring n× in db1 and ≥1× in db2 is removed
   entirely;
5. deduplicating UNION of the two branches.

Spark-first execution strategies (selectable; ``auto`` picks one by
input size, see below):

* ``window`` — ONE shuffle of the unioned, tagged rows by hash;
  a hash-partitioned window computes ``min(side) == max(side)`` per hash
  (true exactly when the hash was observed on one side only), and the
  trailing exact-duplicate collapse is a hash aggregate that REUSES the
  window's partitioning (hash is a prefix of the distinct key), so the
  whole diff is a single exchange — strictly fewer shuffled bytes than
  the reference plan's two left-anti joins + union-distinct (which
  additionally ships each side's hash column as a join probe and
  re-shuffles the diff output for the distinct). Output is identical to
  that plan: every raw variant canonicalizing to a surviving hash is
  kept, then exact duplicates collapse (tests/test_diff.py keeps the
  reference plan as the equivalence oracle).
* ``groupby`` — two phases: (1) union the two (hash, side number)
  projections and aggregate ``min``/``max`` of the side per hash; hashes
  seen on exactly one side survive; (2) LEFT SEMI join the tagged inputs
  against the surviving hashes. The survivor aggregation shuffles
  ~40 bytes/row (hash + side) instead of full rows, and its map-side
  partial aggregation collapses duplicate rows before the exchange. Each
  phase scans and hashes both inputs, so on duplicate-free input
  ``groupby`` does more work than ``window``. Phase 2's plan follows the
  survivors' size estimate:
  under the broadcast threshold it is a broadcast semi-join and full rows
  are not shuffled for it; over it (e.g. a 40 MB-a-side lineitem with
  25% drift) it is a shuffled join on the hash, so each side's full rows
  are shuffled once, and AQE switches to a broadcast semi-join only
  after that shuffle has been written. Output is IDENTICAL to
  ``window``; only the physical plan differs.

``auto`` (default) picks ``window`` when the two inputs' combined
optimizer-estimated size (a driver-side statistic, no job) is under
``WINDOW_MAX_BYTES``, and ``groupby`` otherwise, including when either
estimate is unavailable. Small inputs get the single-exchange plan.
Large inputs get the plan that survives duplicate-key skew: a dominant
content hash means IDENTICAL duplicate rows, which compress to ~nothing
in the shuffle, so AQE's byte-based skew detection cannot split them
(tests/test_plans.py::TestSkewedDiffPlans) and ``window`` would land
every copy in one row-count-bound partition. ``diff_tables`` runs no
Spark job for any strategy; callers that know their data pass an
explicit strategy.
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
    canonical_row_hash,
    _is_nested,
)
from lotad_spark.sources.parquet import DATE_TYPES


class NoComparableColumns(ValueError):
    """The two inputs share no column left to compare."""


def _quoted(c: str) -> F.Column:
    return F.col(f"`{c}`")


# Below this combined (both sides) optimizer-estimated input size, ``auto``
# picks ``window``; at or above it, ``groupby``. A skewed window partition
# is row-count-bound, and at this size even a fully-duplicated table fits
# one task comfortably. (The optimizer stat runs ~0.6× the on-disk parquet
# size after column-pruning scaling, so the floor is calibrated against
# the stat, not `du`.)
WINDOW_MAX_BYTES = 16 << 20


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Optimizer-estimated relation size (driver-side, runs NO job).

    For file sources this is the sum of file sizes; for local relations an
    estimate from row count × row width. None when the JVM stat is
    unavailable (unexpected; the router then treats the input as large)."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return None


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
    strategy_used: str | None = None  # resolved strategy ("auto" routing visible here)
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


def _tag(df: DataFrame, db_id: str, cols: list[str], json_strings: bool) -> DataFrame:
    hashed = df.withColumn(
        HASH_COL, canonical_row_hash(df, cols, json_strings=json_strings)
    )
    return hashed.select(
        F.lit(db_id).alias(PROVENANCE_COL), *[_quoted(c) for c in cols], HASH_COL
    )


def diff_tables(
    df1: DataFrame,
    df2: DataFrame,
    *,
    db1_id: str = "db1",
    db2_id: str = "db2",
    ignore_columns: Iterable[str] = (),
    ignore_dates: bool = False,
    strategy: str = "auto",
    json_strings: bool = True,
    table_name: str | None = None,
) -> DiffResult:
    """Row-level drift between two tables (the engine's core operator, J1+SO1).

    ``json_strings=False`` hashes string columns as-is, skipping JSON
    canonicalization, when the source is known not to embed JSON in
    strings (``DiffResult.hash_path`` reads ``"fast"``); values that look
    like JSON would then drift on formatting alone.

    Skew: the shuffle key is the content hash, so a dominant key means
    IDENTICAL duplicate rows, which AQE's byte-based skew detection cannot
    see (verified in tests/test_plans.py::TestSkewedDiffPlans). The
    default ``strategy="auto"`` therefore sends every input of
    ``WINDOW_MAX_BYTES`` or more to ``groupby``, whose phase-1 partial
    aggregation collapses duplicates MAP-SIDE, and keeps the
    single-exchange ``window`` plan for smaller inputs. The choice reads
    the optimizer's size estimate only, so no Spark job runs at call
    time. Genuinely byte-skewed joins (heterogeneous rows, e.g. the
    phase-2 semi-join back or custom-query joins) are covered by the
    session's AQE skew-join config, proven live in the same test class.
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
    t1 = _tag(n1, db1_id, cols, json_strings)
    t2 = _tag(n2, db2_id, cols, json_strings)

    if strategy == "auto":  # by input size alone, see module docs
        sizes = [_plan_size_bytes(n1), _plan_size_bytes(n2)]
        small = None not in sizes and sum(sizes) < WINDOW_MAX_BYTES
        strategy = "window" if small else "groupby"

    if strategy == "window":
        from pyspark.sql import Window

        w = Window.partitionBy(HASH_COL)
        # A hash survives iff it was observed on exactly one side:
        # min(side) == max(side) over the hash's window (sides are
        # non-NULL literals). The dropDuplicates hash-aggregate reuses the
        # window's hash partitioning — one exchange for the whole diff.
        diff = (
            t1.unionByName(t2)
            .withColumn("_min_side", F.min(PROVENANCE_COL).over(w))
            .withColumn("_max_side", F.max(PROVENANCE_COL).over(w))
            .filter(F.col("_min_side") == F.col("_max_side"))
            .drop("_min_side", "_max_side")
            .dropDuplicates()
            .select(PROVENANCE_COL, *[_quoted(c) for c in cols], HASH_COL)
        )
    elif strategy == "groupby":
        # Phase 1: survivor hashes from a metadata-only aggregation. The
        # shuffle carries (hash, side) — ~40 B/row — never full rows.
        # min==max over the side number is true exactly when the hash was
        # seen on one side only (the window strategy's predicate; equal
        # ids give equal numbers, as they give equal provenance strings).
        # An integer side keeps the aggregate in codegen HashAggregate:
        # min/max over the provenance strings plans a SortAggregate,
        # which sorts both sides' hashes before and after the exchange.
        survivors = (
            t1.select(HASH_COL, F.lit(0).alias("_side"))
            .unionByName(
                t2.select(HASH_COL, F.lit(int(db2_id != db1_id)).alias("_side"))
            )
            .groupBy(HASH_COL)
            .agg(F.min("_side").alias("_mn"), F.max("_side").alias("_mx"))
            .filter(F.col("_mn") == F.col("_mx"))
            .select(HASH_COL)
        )
        # Phase 2: pull the full rows for surviving hashes. Drift is small
        # relative to the inputs, so this ends as a broadcast semi-join,
        # possibly after a full-row shuffle (see module docs);
        # dropDuplicates is the same exact-duplicate collapse as window's.
        diff = (
            t1.unionByName(t2)
            .join(survivors, HASH_COL, "left_semi")
            .dropDuplicates()
            .select(PROVENANCE_COL, *[_quoted(c) for c in cols], HASH_COL)
        )
    else:
        raise ValueError(f"unknown diff strategy: {strategy!r}")

    return DiffResult(
        diff=diff,
        columns=cols,
        db1_id=db1_id,
        db2_id=db2_id,
        table_name=table_name,
        strategy_used=strategy,
        hash_path="canonical" if json_strings else "fast",
    )
