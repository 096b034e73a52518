"""Hypertable-style time-bucket rollups with mergeable partials.

Continuous-aggregate pattern: raw events are folded ONCE into fine-grained
time buckets carrying only mergeable partial aggregates (count / sum /
min / max); every coarser resolution is then derived by re-aggregating the
partials — never by touching the raw data again. The TimescaleDB
"continuous aggregate" / OLAP-cube shape, built from plain Spark
aggregates.

Plan shape — the 100 TB question: the fine rollup is one map-side-combined
``groupBy(bucket, dims)`` over the raw scan — output volume is buckets ×
dims, independent of event volume. Each coarsening shuffles only rollup
rows (minutes → hours is a 60× reduction input that is already tiny), so a
year of minute-level partials re-rolls to hours in seconds regardless of
how many trillions of raw events produced them. Partials are mergeable by
construction: count and sum add, min and max fold — avg is derived at read
time as sum/count, never stored (a stored avg cannot be merged).

Sums are carried as ``decimal(27, 6)`` so the rolled-up total is
bit-identical to a direct aggregation over raw — floating-point sums
would differ by association order and break the rollup≡raw invariant
this module promises (and the oracle checks).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_UNITS = ("minute", "hour", "day", "week", "month", "year")


def rollup_time_bucket(
    events: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    unit: str = "minute",
    dims: Sequence[str] = (),
) -> DataFrame:
    """Fold raw rows into one row per (time bucket, dims) carrying the
    mergeable partials: ``bucket, *dims, n, sum_value, min_value,
    max_value``."""
    if unit not in _UNITS:
        raise ValueError(f"rollup_time_bucket: unknown unit {unit!r}")
    v = F.col(f"`{value_col}`").cast("decimal(27,6)")
    return (
        events.groupBy(
            F.date_trunc(unit, F.col(f"`{ts_col}`")).alias("bucket"),
            *[F.col(f"`{c}`") for c in dims],
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(v).cast("decimal(27,6)").alias("sum_value"),
            F.min(v).cast("decimal(27,6)").alias("min_value"),
            F.max(v).cast("decimal(27,6)").alias("max_value"),
        )
    )


def merge_rollup(
    rollup: DataFrame,
    *,
    unit: str,
    dims: Sequence[str] = (),
) -> DataFrame:
    """Re-aggregate a finer rollup to a coarser ``unit`` by merging the
    partials — the raw table is never read. Input and output share the
    ``rollup_time_bucket`` schema, so coarsenings chain (minute → hour →
    day)."""
    if unit not in _UNITS:
        raise ValueError(f"merge_rollup: unknown unit {unit!r}")
    return (
        rollup.groupBy(
            F.date_trunc(unit, F.col("bucket")).alias("bucket"),
            *[F.col(f"`{c}`") for c in dims],
        )
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("sum_value").cast("decimal(27,6)").alias("sum_value"),
            F.min("min_value").cast("decimal(27,6)").alias("min_value"),
            F.max("max_value").cast("decimal(27,6)").alias("max_value"),
        )
    )


def rollup_distinct(
    events: DataFrame,
    *,
    ts_col: str,
    id_col: str,
    unit: str = "minute",
    dims: Sequence[str] = (),
    lg_config_k: int = 12,
) -> DataFrame:
    """Fold raw rows into one row per (time bucket, dims) carrying a
    MERGEABLE HyperLogLog sketch of the distinct ``id_col`` values:
    ``bucket, *dims, n_rows, id_sketch``.

    Distinct counts are the partial count/sum/min/max cannot express —
    exact distincts do not merge without carrying the full value set, so
    the rollup stores a Datasketches HLL sketch (JVM ``hll_sketch_agg``)
    whose registers max-combine losslessly: a union of minute sketches
    is bit-equivalent to sketching the hour directly, so any coarser
    resolution keeps the SAME estimate the raw data would give (pinned
    by test). Sketch size is 2^lg_config_k registers per bucket row,
    independent of event volume."""
    if unit not in _UNITS:
        raise ValueError(f"rollup_distinct: unknown unit {unit!r}")
    return (
        events.groupBy(
            F.date_trunc(unit, F.col(f"`{ts_col}`")).alias("bucket"),
            *[F.col(f"`{c}`") for c in dims],
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.hll_sketch_agg(
                F.col(f"`{id_col}`"), F.lit(lg_config_k)
            ).alias("id_sketch"),
        )
    )


def merge_distinct_rollup(
    rollup: DataFrame,
    *,
    unit: str,
    dims: Sequence[str] = (),
) -> DataFrame:
    """Coarsen a distinct-count rollup by unioning the HLL sketches —
    shares :func:`rollup_distinct`'s schema, so coarsenings chain."""
    if unit not in _UNITS:
        raise ValueError(f"merge_distinct_rollup: unknown unit {unit!r}")
    return (
        rollup.groupBy(
            F.date_trunc(unit, F.col("bucket")).alias("bucket"),
            *[F.col(f"`{c}`") for c in dims],
        )
        .agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.hll_union_agg("id_sketch").alias("id_sketch"),
        )
    )


def distinct_report(
    rollup: DataFrame, *, dims: Sequence[str] = ()
) -> DataFrame:
    """Read-time projection of a distinct-count rollup: the estimate is
    computed here (a stored estimate would not merge; the sketch does)."""
    return rollup.select(
        F.col("bucket").cast("string").alias("bucket"),
        *[F.col(f"`{c}`") for c in dims],
        "n_rows",
        F.hll_sketch_estimate("id_sketch")
        .cast("bigint")
        .alias("n_distinct_est"),
    )


def touched_day_filter(days: Sequence):
    """Predicate matching the given bucket-days, including the NULL day —
    ``isin`` alone never matches NULL, which is exactly the trap that
    loses the default-partition partials. One definition shared by
    :func:`upsert_rollup` and its callers."""
    f = F.col("bucket_day").isin([d for d in days if d is not None])
    if None in days:
        f = f | F.col("bucket_day").isNull()
    return f


def write_rollup(rollup: DataFrame, path: str) -> None:
    """Materialize a rollup partitioned by bucket DAY, so incremental
    maintenance and time-ranged reads prune to the days they touch."""
    (
        rollup.withColumn("bucket_day", F.to_date("bucket"))
        .write.partitionBy("bucket_day")
        .mode("overwrite")
        .parquet(path)
    )


def upsert_rollup(
    new_events: DataFrame,
    path: str,
    *,
    ts_col: str,
    value_col: str,
    unit: str = "minute",
    dims: Sequence[str] = (),
) -> list:
    """Fold a new batch of raw events into a stored rollup — the nightly
    continuous-aggregate maintenance step.

    Scale shape: the batch rolls up to its own partials (one map-side-
    combined aggregation over the new data only); the stored side is read
    ONLY for the bucket-days the batch touches (partition-pruned via the
    bounded distinct-day list), merged partial-wise, and written back
    with dynamic partition overwrite so untouched days are never
    rewritten. History volume never enters the job — cost is
    O(new batch + touched-day rollup rows).

    Requires the batch to be disjoint in raw rows from what the rollup
    already absorbed (append-only ingestion); re-upserting the same rows
    would double-count, exactly as in any partial-aggregate store.

    Returns the list of touched bucket-days (``None`` for the NULL-ts
    bucket) so callers can report or audit partition-pruned."""
    spark = new_events.sparkSession
    fresh = rollup_time_bucket(
        new_events, ts_col=ts_col, value_col=value_col, unit=unit, dims=dims
    ).withColumn("bucket_day", F.to_date("bucket"))
    # The batch aggregates once and feeds both the day-list collect and
    # the merge below — without the persist each action would re-scan
    # and re-aggregate the raw batch from scratch.
    fresh.persist()
    try:
        # Bounded collect: one value per day in the ingest window.
        days = [
            r[0] for r in fresh.select("bucket_day").distinct().collect()
        ]
        # NULL-ts events roll into a NULL bucket stored under the default
        # partition; touched_day_filter handles the NULL day isin misses.
        touched = spark.read.parquet(path).filter(touched_day_filter(days))
        merged = (
            merge_rollup(touched.unionByName(fresh), unit=unit, dims=dims)
            .withColumn("bucket_day", F.to_date("bucket"))
            # Eager checkpoint: the merged partials must be materialized
            # BEFORE the overwrite below deletes the very partitions the
            # plan reads ("cannot overwrite a path being read from").
            # Bounded: touched-day rollup rows only, never history.
            .localCheckpoint(eager=True)
        )
    finally:
        fresh.unpersist()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.partitionBy("bucket_day").mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return days


def read_rollup(spark, path: str) -> DataFrame:
    """Read a stored rollup back in :func:`rollup_time_bucket` schema."""
    return spark.read.parquet(path).drop("bucket_day")


def multi_grain_report(
    events: DataFrame,
    *,
    unit: str = "hour",
    dims: Sequence[str] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
    grain: str = "cube",
) -> DataFrame:
    """Every grouping-set grain of (time bucket, dims…) in ONE pass —
    the OLAP CUBE/ROLLUP surface: per-bucket-per-dim rows, per-bucket
    totals, per-dim totals, and the grand total, each tagged with the
    standard packed grouping id (first listed column = most significant
    bit; rolled-out columns emit NULL).

    ``grain="cube"`` computes all 2^(1+|dims|) grains;
    ``grain="rollup"`` the hierarchical prefix grains only.

    Scale: Spark's Expand operator replicates each row into its grains
    MAP-SIDE and partial aggregation collapses them before the single
    exchange — one shuffle regardless of grain count. The exchange
    carries (grain × group) partials, so cube cost grows with the
    number of grains; at very high dims prefer ``rollup`` (d+2 grains,
    not 2^(d+1)) or explicit grouping-set subsets."""
    dims = list(dims)
    if "bucket" in dims:
        raise ValueError(
            "multi_grain_report: 'bucket' is the time-bucket output "
            "column; alias the dim first"
        )
    base = events.select(
        F.date_trunc(unit, F.col(ts_col)).alias("bucket"),
        *[F.col(f"`{d}`") for d in dims],
        F.col(value_col).cast("decimal(18,2)").alias("_v"),
    )
    if grain not in ("cube", "rollup"):
        raise ValueError(f"multi_grain_report: unknown grain {grain!r}")
    # Backtick-quoted Column refs throughout so dims with dots/spaces
    # resolve as column names, not struct access.
    dim_cols = [F.col(f"`{d}`") for d in dims]
    grouped = (
        base.cube(F.col("bucket"), *dim_cols)
        if grain == "cube"
        else base.rollup(F.col("bucket"), *dim_cols)
    )
    return grouped.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("_v").cast("double"), 2).alias("sum_value"),
        F.grouping_id().cast("bigint").alias("grain_id"),
    ).select(
        F.col("bucket").cast("string").alias("bucket"),
        *[F.col(f"`{d}`") for d in dims],
        "n_events",
        "sum_value",
        "grain_id",
    )


_UNIT_INTERVAL = {
    "minute": "INTERVAL 1 MINUTE",
    "hour": "INTERVAL 1 HOUR",
    "day": "INTERVAL 1 DAY",
}


def gapfill_rollup(
    rollup: DataFrame,
    *,
    unit: str,
    dims: Sequence[str] = (),
) -> DataFrame:
    """Fill the missing time buckets of a rollup — the
    ``time_bucket_gapfill`` shape: every series (dims group) gets one row
    per ``unit`` between ITS first and last observed bucket; gaps carry
    ``n = 0`` plus last-observation-carried-forward partials
    (``locf_sum_value``, ``locf_n`` — exact decimals/counts, so the LOCF
    average derives at read time as locf_sum/locf_n).

    A finer-grained input is coarsened to ``unit`` first (merge_rollup),
    so the spine and the observed buckets are always on the same grid —
    an off-grid rollup can never masquerade as all-gaps. A NULL-dim
    series fills like any other (the join back is null-safe); NULL
    buckets (from NULL-ts raw rows) are not time points and are excluded
    from the filled output.

    Scale: the spine explodes per-series bucket sequences — rollup-sized
    (series × buckets), never data-sized — and the LOCF window runs over
    the same per-series bucket counts. One join, one window, both on
    rollup rows."""
    if unit not in _UNIT_INTERVAL:
        raise ValueError(f"gapfill_rollup: unsupported unit {unit!r}")
    gcols = list(dims)
    rollup = merge_rollup(
        rollup.filter(F.col("bucket").isNotNull()), unit=unit, dims=gcols
    )
    bounds = rollup.groupBy(*gcols).agg(
        F.min("bucket").alias("_mn"), F.max("bucket").alias("_mx")
    )
    spine = bounds.select(
        *gcols,
        F.explode(
            F.sequence("_mn", "_mx", F.expr(_UNIT_INTERVAL[unit]))
        ).alias("bucket"),
    )
    # Null-safe on the dims: a NULL-dim series is a real series and must
    # get its observed partials back (plain equality would zero it out).
    r = rollup.select(
        F.col("bucket").alias("_rb"),
        *[F.col(f"`{c}`").alias(f"_rd{i}") for i, c in enumerate(gcols)],
        "n",
        "sum_value",
    )
    cond = spine["bucket"] == r["_rb"]
    for i, c in enumerate(gcols):
        cond = cond & spine[f"`{c}`"].eqNullSafe(r[f"_rd{i}"])
    filled = spine.join(r, on=cond, how="left").drop(
        "_rb", *[f"_rd{i}" for i in range(len(gcols))]
    )
    w = (
        Window.partitionBy(*gcols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "bucket",
        *gcols,
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        "sum_value",
        F.last("sum_value", ignorenulls=True).over(w).alias("locf_sum_value"),
        F.last(F.col("n").cast("bigint"), ignorenulls=True)
        .over(w)
        .alias("locf_n"),
    )


def time_weighted_sum(
    events: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key time-weighted aggregation over irregular samples under
    LOCF: each sample's value holds until the key's next sample, so the
    time-weighted average over the key's observed span is
    ``twa_num / dur_us`` — returned as EXACT parts (decimal numerator in
    value·microseconds, bigint duration) so the result is bit-comparable
    cross-engine; derive the average at read time.

    The irregular-sampling companion to :func:`rollup_time_bucket`:
    plain averages over-weight bursts; holding each value for its actual
    duration is the hypertable ``time_weight('locf')`` semantics.

    Scale: one window (lead) over (key, ts) — a single hash exchange on
    the key and a per-key sort, then one aggregation of the same rows.
    Keys with a single sample (no held interval) report NULL num and 0
    duration. NULL-valued samples are not observations under LOCF — they
    are dropped BEFORE segmenting, so the previous value holds through
    them (keeping them would inflate the duration while adding nothing
    to the numerator, biasing the average toward zero). Pass
    ``tiebreak_col`` (a unique id) when timestamps can repeat within a
    key — without it, equal-timestamp ordering (and so the per-segment
    durations) is nondeterministic."""
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    dur_us = (
        F.unix_micros(F.lead(ts_col).over(w)) - F.unix_micros(F.col(ts_col))
    ).cast("bigint")
    v = F.col(f"`{value_col}`").cast("decimal(18,6)")
    seg = events.filter(
        F.col(ts_col).isNotNull()
        & F.col(f"`{key_col}`").isNotNull()
        & F.col(f"`{value_col}`").isNotNull()
    ).select(
        F.col(f"`{key_col}`"),
        v.alias("_v"),
        dur_us.alias("_dur"),
    )
    return seg.groupBy(key_col).agg(
        F.sum(F.col("_v") * F.col("_dur")).cast("decimal(38,6)").alias(
            "twa_num"
        ),
        F.coalesce(F.sum("_dur"), F.lit(0)).cast("bigint").alias("dur_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
    )
