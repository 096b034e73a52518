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

Spark-first execution strategies (selectable; ``auto`` ROUTES between
``window`` and ``groupby`` with a duplicate-density probe, see below):

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
  reference plan as the equivalence oracle). Measured ~35% faster across
  the bench tables at sf0.1.
* ``groupby`` (opt-in, for scale) — two phases over HASH-ONLY projections:
  (1) union the two (hash, provenance) projections and aggregate
  ``collect_set(observed_in)`` per hash; hashes seen on exactly one side
  survive; (2) LEFT SEMI join the tagged inputs against the surviving
  hashes. The survivor aggregation shuffles ~40 bytes/row (hash + side)
  instead of full rows — at 100 TB that is the difference between a
  full-data shuffle and a metadata shuffle — and since real drift is
  small relative to the inputs, AQE turns phase 2 into a broadcast
  semi-join (no shuffle of full rows at all). Output is IDENTICAL to
  ``window`` (every raw variant that canonicalizes to a surviving hash
  is kept, then exact-duplicate rows collapse), so the two strategies
  are interchangeable; only the physical plan differs.

  ``window`` shuffles full rows once and sorts them by hash inside each
  partition; at 100 TB the metadata-only ``groupby`` shuffle is still the
  right physical plan, which is why both exist.

  An earlier formulation carried all columns through the aggregate as
  ``min(struct(*cols))`` + ``collect_set``; over near-unique hash keys
  map-side partial aggregation is pure overhead and the full-row hash
  aggregate measured 3.8× slower than the reference anti-join plan at
  sf0.1 (BENCH_r03).
  The hash-only + semi-join-back shape restores the scale advantage.

``auto`` (default) — routes between the two with a duplicate-density
probe. The hazard it guards against: a dominant content hash means
IDENTICAL duplicate rows, which compress to ~nothing in the shuffle, so
AQE's *byte-based* skew detection provably cannot fire
(tests/test_plans.py::TestSkewedDiffPlans) and the ``window`` strategy
lands every copy in ONE row-count-bound partition — a straggler/OOM at
production scale even though at bench scale (~350k rows in the skewed
task) local wall-clock still favors ``window`` (BASELINE.md r10 sweep:
the r9 6.79 s skew number was load; idle it is 1.61 s vs groupby's
2.48 s). Local timing therefore CANNOT rank the strategies for scale;
the router keys on the plan-shape hazard instead:

1. if the combined optimizer-estimated input size is under
   ``AUTO_PROBE_MIN_BYTES`` (driver-side stat, no job), any plan is
   safe — pick ``window`` (single exchange, fastest small-case);
2. otherwise run a one-job probe: Bernoulli-sample
   ``AUTO_PROBE_FRACTION`` of each (normalized) side BEFORE hashing,
   xxhash64 only the sample (pure JVM — density needs row identity,
   not the canonical hash), and measure duplicate density
   ``1 - approx_distinct/count`` over the sampled hashes PER SIDE
   (union-level density would count every cross-side matched pair as
   a duplicate — +f/2 bias on uniform data). Row-level sampling makes
   the estimator blind to small duplicate groups (a pair survives
   sampling with p=f²) but sharp for heavy keys (a key with ≥ ~1/f
   copies contributes its full row share) — exactly the keys that
   break the window plan. Max side density above
   ``AUTO_DUP_DENSITY_THRESHOLD`` routes to ``groupby`` (map-side
   combine absorbs duplicates before the exchange), else ``window``.

The probe costs one scan-only job (no shuffle; hashes computed for the
sampled fraction only) — bounded overhead against an unbounded
straggler. Callers that know their data (or need a fully lazy plan —
the probe runs a job at diff_tables() call time) pass an explicit
strategy.
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


def _quoted(c: str) -> F.Column:
    return F.col(f"`{c}`")


# --- auto-strategy routing (duplicate-density probe) ---------------------
# Below this combined (both sides) optimizer-estimated input size, skip the
# probe entirely: a skewed window partition is row-count-bound, and at this
# size even a fully-duplicated table fits one task comfortably. (The
# optimizer stat runs ~0.6× the on-disk parquet size after column-pruning
# scaling — the floor is calibrated against the stat, not `du`.)
AUTO_PROBE_MIN_BYTES = 16 << 20
# Row-level Bernoulli sample fraction for the probe. Detection threshold
# scales as ~1/fraction copies per key: 0.02 → keys with ≳50 copies are
# seen at their true row share, smaller duplicate groups are invisible
# (and harmless to the window plan).
AUTO_PROBE_FRACTION = 0.02
# Sampled duplicate density above which auto routes to groupby.
AUTO_DUP_DENSITY_THRESHOLD = 0.10

def _plan_size_bytes(df: DataFrame) -> int | None:
    """Optimizer-estimated relation size (driver-side, runs NO job).

    For file sources this is the sum of file sizes; for local relations an
    estimate from row count × row width. None when the JVM stat is
    unavailable (unexpected — treated as "large" by the router so the
    probe still runs)."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return None


def _route_strategy(n1: DataFrame, n2: DataFrame, cols: list[str]) -> str:
    """Pick window vs groupby for ``strategy="auto"`` (see module docs)."""
    sizes = [_plan_size_bytes(n1), _plan_size_bytes(n2)]
    if all(s is not None for s in sizes) and sum(sizes) < AUTO_PROBE_MIN_BYTES:
        return "window"
    # One scan-only job (the per-side agg groups on a 2-value side tag —
    # a 2-row exchange). The probe key is xxhash64 over the normalized
    # columns, NOT the canonical row hash: duplicate-density only needs
    # row identity, and heavy duplicate keys are byte-identical rows, so
    # plain xxhash64 suffices — no JSON canonicalization.
    # Rows that differ only in JSON formatting hash apart here and
    # UNDER-count density — a bias toward `window`, i.e. toward the
    # status-quo plan, never toward a wrong answer. Density is measured
    # PER SIDE: in a no-drift table every hash appears once per side, so
    # a union-level density would count each cross-side matched pair as
    # a duplicate (+f/2 bias on uniform data); within one side only
    # genuine duplicate rows register. Sampling sits below the hash in
    # the plan, so only the sampled fraction is hashed.
    _pk = "_probe_hash"
    _ps = "_probe_side"
    probe = (
        n1.sample(AUTO_PROBE_FRACTION, seed=7)
        .select(
            F.xxhash64(*[_quoted(c) for c in cols]).alias(_pk),
            F.lit("1").alias(_ps),
        )
        .unionByName(
            n2.sample(AUTO_PROBE_FRACTION, seed=7).select(
                F.xxhash64(*[_quoted(c) for c in cols]).alias(_pk),
                F.lit("2").alias(_ps),
            )
        )
    )
    rows = (
        probe.groupBy(_ps)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(_pk, 0.02).alias("d"),
        )
        .collect()
    )
    density = max(
        (1.0 - r["d"] / r["n"] for r in rows if r["n"]), default=0.0
    )
    return "groupby" if density > AUTO_DUP_DENSITY_THRESHOLD else "window"


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
    IDENTICAL duplicate rows. Identical rows compress to ~nothing in the
    shuffle, so AQE's byte-based skew-join detection cannot see them
    (verified in tests/test_plans.py::TestSkewedDiffPlans) and the
    ``window`` strategy lands every copy in one row-count-bound window
    partition. The default ``strategy="auto"`` guards this automatically:
    above ``AUTO_PROBE_MIN_BYTES`` of input it runs a one-job
    duplicate-density probe (sampled before hashing) and routes dup-heavy
    inputs to ``groupby``, whose phase-1 partial aggregation collapses
    duplicates MAP-SIDE — each map task emits one (hash, min/max-side)
    partial — so the exchange never carries the duplicate stream at all.
    The probe executes at call time (auto is not fully lazy); pass an
    explicit strategy to skip it. Genuinely byte-skewed joins
    (heterogeneous rows, e.g. the phase-2 semi-join back or custom-query
    joins) are covered by the session's AQE skew-join config, proven
    live in the same test class.
    """
    n1, n2, cols = normalize_for_diff(
        df1, df2, ignore_columns=ignore_columns, ignore_dates=ignore_dates
    )
    if not cols:
        raise ValueError(
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

    if strategy == "auto":
        strategy = _route_strategy(n1, n2, cols)

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
        # shuffle carries (hash, provenance) — ~40 B/row — never full rows.
        # min==max over the two provenance literals is true exactly when
        # the hash was seen on one side only (same predicate as the window
        # strategy); unlike the earlier collect_set formulation it keeps
        # the aggregate in codegen HashAggregate (primitive buffers)
        # instead of ObjectHashAggregate.
        survivors = (
            t1.select(HASH_COL, PROVENANCE_COL)
            .unionByName(t2.select(HASH_COL, PROVENANCE_COL))
            .groupBy(HASH_COL)
            .agg(
                F.min(PROVENANCE_COL).alias("_mn"),
                F.max(PROVENANCE_COL).alias("_mx"),
            )
            .filter(F.col("_mn") == F.col("_mx"))
            .select(HASH_COL)
        )
        # Phase 2: pull the full rows for surviving hashes. Drift is small
        # relative to the inputs, so AQE picks a broadcast semi-join here;
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
