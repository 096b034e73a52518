"""Hash snapshots: incremental drift against a stored fingerprint.

Nightly drift at 100 TB should not read yesterday's 100 TB again: write
yesterday's canonical row hashes once (one 16-character hex string a
row before parquet encoding, no provenance),
and today's run diffs against THAT — one scan of today's data plus a
join against a hash-only table. The hash is the same canonical
``hashed_row`` the row diff uses, so snapshot drift and full drift agree
by construction.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lotad_spark.hashing import (
    HASH_COL,
    PROVENANCE_COL,
    canonical_row_hash,
    quote_ident,
)


def write_hash_snapshot(
    df: DataFrame,
    path: str,
    columns: Iterable[str] | None = None,
    *,
    json_strings: bool = True,
) -> None:
    """Materialize the DISTINCT canonical row hashes of ``df`` as parquet
    — the diffable fingerprint of a snapshot. Set semantics match the
    diff (a hash present n× counts once)."""
    cols = sorted(columns) if columns is not None else sorted(df.columns)
    (
        df.select(
            canonical_row_hash(df, cols, json_strings=json_strings).alias(
                HASH_COL
            )
        )
        .distinct()
        .write.mode("overwrite")
        .parquet(path)
    )
    # Record the hashed-column set beside the snapshot (sibling dir —
    # the snapshot itself stays a plain one-column parquet): diffing
    # with a different column set hashes differently, so EVERY row
    # would read as changed; that must fail loudly, not plausibly.
    from lotad_spark.storeparams import write_params

    write_params(
        df.sparkSession,
        _params_path(path),
        "cols string, js boolean",
        (",".join(cols), bool(json_strings)),
    )


def _params_path(path: str) -> str:
    return f"{path.rstrip('/')}_params"


def diff_against_snapshot(
    df: DataFrame,
    snapshot_path: str,
    columns: Iterable[str] | None = None,
    *,
    db_id: str = "current",
    snapshot_id: str = "snapshot",
    json_strings: bool = True,
) -> DataFrame:
    """Rows of ``df`` whose hash is absent from the snapshot (new or
    changed rows, full columns, ``observed_in = db_id``) plus one row per
    snapshot hash absent from ``df`` (deleted rows — hash only, data
    columns NULL, ``observed_in = snapshot_id``). Same output contract as
    the row diff restricted to what a fingerprint can know.

    Scale: the snapshot side is hash-only (no data columns ever read or
    shuffled for it); today's side is scanned once. Both anti-joins key
    on the uniform 64-bit hash."""
    from lotad_spark.storeparams import read_params

    spark: SparkSession = df.sparkSession
    cols = sorted(columns) if columns is not None else sorted(df.columns)
    # None only when the params path is ABSENT (pre-recording snapshot);
    # a corrupt/unreadable params file propagates instead of silently
    # disabling the guard.
    stored = read_params(spark, _params_path(snapshot_path))
    if stored is not None and (
        stored.cols != ",".join(cols) or stored.js != bool(json_strings)
    ):
        raise ValueError(
            f"snapshot at {snapshot_path} hashed columns "
            f"[{stored.cols}] (json_strings={stored.js}); diffing with "
            f"[{','.join(cols)}] (json_strings={json_strings}) would "
            "report every row as changed"
        )
    snap = spark.read.parquet(snapshot_path).select(HASH_COL)
    cur = df.withColumn(
        HASH_COL, canonical_row_hash(df, cols, json_strings=json_strings)
    )
    added = (
        cur.join(snap, HASH_COL, "left_anti")
        # Project down to the hashed columns BEFORE dropDuplicates: when
        # ``columns`` is a subset of df.columns, rows identical in hashed
        # columns but differing elsewhere must still collapse to one row
        # per hash (matching write_hash_snapshot's distinct()).
        .select(
            F.lit(db_id).alias(PROVENANCE_COL),
            *[F.col(quote_ident(c)) for c in cols],
            HASH_COL,
        )
        .dropDuplicates()
    )
    removed = (
        snap.join(cur.select(HASH_COL), HASH_COL, "left_anti")
        .select(
            F.lit(snapshot_id).alias(PROVENANCE_COL),
            *[F.lit(None).cast(dict(df.dtypes)[c]).alias(c) for c in cols],
            HASH_COL,
        )
    )
    return added.unionByName(removed)
