"""Relational + pipeline operators of the lotad_spark engine."""

from lotad_spark.operators.anomaly import rolling_zscore
from lotad_spark.operators.asof import asof_join
from lotad_spark.operators.diff import DiffResult, diff_tables, normalize_for_diff
from lotad_spark.operators.funnel import funnel_counts, retention_cohorts
from lotad_spark.operators.paths import event_transitions, path_signatures
from lotad_spark.operators.range_join import range_join
from lotad_spark.operators.rollup import (
    distinct_report,
    gapfill_rollup,
    merge_distinct_rollup,
    merge_rollup,
    multi_grain_report,
    read_rollup,
    rollup_distinct,
    rollup_time_bucket,
    time_weighted_sum,
    upsert_rollup,
    write_rollup,
)
from lotad_spark.operators.keyed_diff import keyed_diff
from lotad_spark.operators.snapshot import diff_against_snapshot, write_hash_snapshot
from lotad_spark.operators.profile import (
    column_histogram,
    json_key_stats,
    json_schema_drift,
    profile_drift,
    profile_table,
    psi_drift,
    psi_from_counts,
    quantile_buckets,
    quantiles_from_counts,
)

__all__ = [
    "DiffResult",
    "rolling_zscore",
    "event_transitions",
    "path_signatures",
    "multi_grain_report",
    "quantile_buckets",
    "asof_join",
    "column_histogram",
    "diff_tables",
    "quantiles_from_counts",
    "distinct_report",
    "merge_distinct_rollup",
    "merge_rollup",
    "read_rollup",
    "rollup_distinct",
    "gapfill_rollup",
    "time_weighted_sum",
    "upsert_rollup",
    "write_rollup",
    "range_join",
    "rollup_time_bucket",
    "funnel_counts",
    "diff_against_snapshot",
    "keyed_diff",
    "normalize_for_diff",
    "retention_cohorts",
    "write_hash_snapshot",
    "json_key_stats",
    "json_schema_drift",
    "profile_drift",
    "profile_table",
    "psi_drift",
    "psi_from_counts",
]
