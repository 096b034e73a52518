"""Diff-kernel behavior — ports the reference's mutation scenarios
(FIXTURES.md table; test/data_drift_test.py) onto the driver testdata."""

import pytest
from pyspark.sql import functions as F

from lotad_spark.hashing import HASH_COL, PROVENANCE_COL
from lotad_spark.operators.diff import (
    DiffResult,
    _tag,
    diff_tables,
    normalize_for_diff,
)

# The engine's two strategies, plus "antijoin": the reference plan they
# are held to (see reference_diff).
STRATEGIES = ["groupby", "antijoin", "window"]


def reference_diff(
    df1, df2, *, db1_id="db1", db2_id="db2", ignore_columns=(), ignore_dates=False
) -> DiffResult:
    """The reference's diff plan, translated directly: two left-anti joins
    on the canonical hash + union-distinct
    (db_compare_create_tmp_table_merge.sql:1-45). The test oracle for the
    engine's strategies; the scenarios below pin it too."""
    n1, n2, cols = normalize_for_diff(
        df1, df2, ignore_columns=ignore_columns, ignore_dates=ignore_dates
    )
    t1, t2 = _tag(n1, db1_id, cols, True), _tag(n2, db2_id, cols, True)
    diff = (
        t1.join(t2.select(HASH_COL), HASH_COL, "left_anti")
        .unionByName(t2.join(t1.select(HASH_COL), HASH_COL, "left_anti"))
        .dropDuplicates()
        .select(PROVENANCE_COL, *[F.col(f"`{c}`") for c in cols], HASH_COL)
    )
    return DiffResult(diff=diff, columns=cols, db1_id=db1_id, db2_id=db2_id)


def _diff(df1, df2, *, strategy, **kwargs) -> DiffResult:
    if strategy == "antijoin":
        return reference_diff(df1, df2, **kwargs)
    return diff_tables(df1, df2, strategy=strategy, **kwargs)


@pytest.fixture(scope="module")
def customer(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/customer.parquet")


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from lotad_spark.sources.parquet import read_table

    return read_table(spark, f"{sf_dir}/events.parquet")


@pytest.mark.parametrize("strategy", STRATEGIES)
class TestDiffScenarios:
    def test_identical_inputs_no_drift(self, customer, strategy):
        res = _diff(customer, customer, strategy=strategy)
        assert res.is_empty()
        assert res.counts() == {"db1": 0, "db2": 0}

    def test_deleted_row(self, customer, strategy):
        db1 = customer.filter(F.col("c_custkey") != 7)
        res = _diff(db1, customer, strategy=strategy)
        rows = res.diff.collect()
        assert len(rows) == 1
        assert rows[0].observed_in == "db2"
        assert rows[0].c_custkey == 7

    def test_value_change_both_versions(self, customer, strategy):
        db1 = customer.withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") == 3, F.col("c_acctbal") + 10.0).otherwise(
                F.col("c_acctbal")
            ),
        )
        res = _diff(db1, customer, strategy=strategy)
        assert res.counts() == {"db1": 1, "db2": 1}
        keys = {(r.observed_in, r.c_custkey) for r in res.diff.collect()}
        assert keys == {("db1", 3), ("db2", 3)}

    def test_ignored_column_suppresses_drift(self, customer, strategy):
        db1 = customer.withColumn("c_acctbal", F.col("c_acctbal") + 1.0)
        res = _diff(db1, customer, ignore_columns=["c_acctbal"], strategy=strategy)
        assert res.is_empty()
        assert "c_acctbal" not in res.columns

    def test_missing_column_no_data_drift(self, customer, strategy):
        # schema intersection: dropped column doesn't produce data drift
        db1 = customer.drop("c_mktsegment")
        res = _diff(db1, customer, strategy=strategy)
        assert "c_mktsegment" not in res.columns
        assert res.is_empty()

    def test_type_mismatch_cast_no_drift(self, customer, strategy):
        db1 = customer.withColumn("c_custkey", F.col("c_custkey").cast("string"))
        res = _diff(db1, customer, strategy=strategy)
        assert res.is_empty()

    def test_ignore_dates(self, spark, sf_dir, strategy):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(500)
        db1 = li.withColumn("l_shipdate", F.col("l_shipdate") + F.expr("INTERVAL 1 DAY"))
        res = _diff(db1, li, ignore_dates=True, strategy=strategy)
        assert "l_shipdate" not in res.columns
        assert res.is_empty()

    def test_json_key_reorder_no_drift(self, spark, strategy):
        db1 = spark.createDataFrame(
            [(1, '{"a": 1, "b": 2}'), (2, '{"x": [1, 2]}')], "id long, props string"
        )
        db2 = spark.createDataFrame(
            [(1, '{"b": 2, "a": 1}'), (2, '{"x": [2, 1]}')], "id long, props string"
        )
        res = _diff(db1, db2, strategy=strategy)
        assert res.is_empty()

    def test_json_value_change_detected(self, spark, strategy):
        db1 = spark.createDataFrame([(1, '{"a": 1}')], "id long, props string")
        db2 = spark.createDataFrame([(1, '{"a": 2}')], "id long, props string")
        res = _diff(db1, db2, strategy=strategy)
        assert res.counts() == {"db1": 1, "db2": 1}

    def test_set_semantics_duplicate_hashes(self, spark, strategy):
        # hash present n× in db1 and ≥1× in db2 → removed entirely
        db1 = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], "id long, v string")
        db2 = spark.createDataFrame([(1, "x")], "id long, v string")
        res = _diff(db1, db2, strategy=strategy)
        rows = res.diff.collect()
        assert len(rows) == 1
        assert (rows[0].observed_in, rows[0].id) == ("db1", 2)

    def test_nested_struct_column(self, spark, strategy):
        db1 = spark.createDataFrame([(1, {"j": "a", "s": 1})], "id long, o struct<j:string,s:long>")
        db2 = spark.createDataFrame([(1, {"j": "b", "s": 1})], "id long, o struct<j:string,s:long>")
        res = _diff(db1, db2, strategy=strategy)
        assert res.counts() == {"db1": 1, "db2": 1}
        db2_same = spark.createDataFrame(
            [(1, {"j": "a", "s": 1})], "id long, o struct<j:string,s:long>"
        )
        assert _diff(db1, db2_same, strategy=strategy).is_empty()

    def test_provenance_tags(self, customer, strategy):
        db1 = customer.filter(F.col("c_custkey") > 10)
        db2 = customer.filter(F.col("c_custkey") <= 140)
        res = _diff(db1, db2, db1_id="left.db", db2_id="right.db", strategy=strategy)
        sides = {r.observed_in for r in res.diff.collect()}
        assert sides == {"left.db", "right.db"}


class TestNormalize:
    def test_sorted_intersection(self, spark):
        df1 = spark.createDataFrame([(1, "a", 2.0)], "b long, a string, z double")
        df2 = spark.createDataFrame([("a", 1, True)], "a string, b long, y boolean")
        n1, n2, cols = normalize_for_diff(df1, df2)
        assert cols == ["a", "b"]
        assert n1.columns == cols and n2.columns == cols

    def test_mismatch_cast_to_string(self, spark):
        df1 = spark.createDataFrame([(1,)], "k long")
        df2 = spark.createDataFrame([("1",)], "k string")
        n1, n2, _ = normalize_for_diff(df1, df2)
        assert dict(n1.dtypes)["k"] == "string"
        assert dict(n2.dtypes)["k"] == "string"

    def test_nested_to_json(self, spark):
        df1 = spark.createDataFrame([(1, [1, 2])], "id long, xs array<long>")
        n1, n2, _ = normalize_for_diff(df1, df1)
        assert dict(n1.dtypes)["xs"] == "string"

    def test_events_readable_and_ts_is_timestamp(self, spark, sf_dir, events):
        # the source layer lands ts as plain TimestampType whether the file
        # carries timestamp[ns] (legacy-long + DIV-1000) or timestamp[us]
        # isAdjustedToUTC=false (read as NTZ, cast under the UTC session TZ)
        assert dict(events.dtypes)["ts"] == "timestamp"
        assert events.count() > 0

    def test_projection_prunes_scan(self, spark, sf_dir):
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        n1, _, cols = normalize_for_diff(
            cust.select("c_custkey", "c_name"), cust
        )
        plan = n1._jdf.queryExecution().executedPlan().toString()
        assert "ReadSchema" in plan and "c_acctbal" not in plan


class TestStrategyEquivalence:
    def test_all_strategies_identical_on_randomized_inputs(self, spark):
        """window ≡ groupby ≡ the reference plan (two left-anti joins on
        the hash + union-distinct, db_compare_create_tmp_table_merge.sql)
        on adversarial inputs: duplicate rows, rows duplicated across
        sides, near-identical rows, NULLs. Deterministic pseudo-random
        corpus (seeded) — any divergence between the physical strategies
        is a correctness bug."""
        import random

        rng = random.Random(20240813)
        rows1, rows2 = [], []
        for i in range(300):
            key = rng.randrange(80)
            val = rng.choice(["a", "b", None])
            row = (key, val, rng.randrange(3))
            # duplicates within a side
            for _ in range(rng.choice([1, 1, 1, 2])):
                rows1.append(row)
            # most rows shared, some changed, some missing
            roll = rng.random()
            if roll < 0.7:
                rows2.append(row)
            elif roll < 0.85:
                rows2.append((key, val, row[2] + 10))
        schema = "k bigint, s string, v bigint"
        df1 = spark.createDataFrame(rows1, schema)
        df2 = spark.createDataFrame(rows2, schema)

        def result(strategy):
            return sorted(
                (r.observed_in, r.k, str(r.s), r.v)
                for r in _diff(df1, df2, strategy=strategy).diff.collect()
            )

        w, a, g = result("window"), result("antijoin"), result("groupby")
        assert w == a == g
        assert len(w) > 0


class TestKeyedDiff:
    def _frames(self, spark):
        a = spark.createDataFrame(
            [(1, "x", 10.0), (2, "y", 20.0), (3, "z", None), (4, "w", 40.0)],
            "k bigint, s string, v double",
        )
        b = spark.createDataFrame(
            [(1, "x", 10.0), (2, "Y", 20.0), (3, "z", 30.0), (5, "q", 50.0)],
            "k bigint, s string, v double",
        )
        return a, b

    def test_changed_columns_and_row_markers(self, spark):
        from lotad_spark.operators import keyed_diff

        a, b = self._frames(spark)
        rows = keyed_diff(a, b, ["k"]).collect()
        got = {(r.k, r.column_name): (r.db1_value, r.db2_value) for r in rows}
        assert got[(2, "s")] == ("y", "Y")
        assert got[(3, "v")] == (None, "30.0")  # NULL -> value surfaces
        assert got[(4, "__row__")] == ("db1", None)
        assert got[(5, "__row__")] == (None, "db2")
        assert (1, "s") not in got and (1, "v") not in got  # unchanged
        assert len(got) == 4

    def test_identical_sides_empty(self, spark):
        from lotad_spark.operators import keyed_diff

        a, _ = self._frames(spark)
        assert keyed_diff(a, a, ["k"]).isEmpty()

    def test_composite_key(self, spark):
        from lotad_spark.operators import keyed_diff

        a = spark.createDataFrame([(1, 1, "p"), (1, 2, "q")], "k1 int, k2 int, s string")
        b = spark.createDataFrame([(1, 1, "p"), (1, 2, "Q")], "k1 int, k2 int, s string")
        rows = keyed_diff(a, b, ["k1", "k2"]).collect()
        assert [(r.k1, r.k2, r.column_name) for r in rows] == [(1, 2, "s")]

    def test_requires_keys(self, spark):
        from lotad_spark.operators import keyed_diff

        a, b = self._frames(spark)
        import pytest as _pytest

        with _pytest.raises(ValueError):
            keyed_diff(a, b, [])


class TestHashSnapshot:
    def test_column_set_mismatch_fails_loudly(self, spark, customer, tmp_path):
        """A snapshot hashed over different columns would report every
        row as changed — the recorded column set rejects the diff."""
        import pytest as _pytest

        from lotad_spark.operators import (
            diff_against_snapshot,
            write_hash_snapshot,
        )

        snap = str(tmp_path / "snap_params")
        write_hash_snapshot(customer, snap, columns=["c_custkey", "c_name"])
        with _pytest.raises(ValueError, match="c_custkey,c_name"):
            diff_against_snapshot(customer, snap)  # all columns
        # matching columns still work
        n = diff_against_snapshot(
            customer, snap, columns=["c_custkey", "c_name"]
        ).count()
        assert n == 0

    def test_incremental_drift_matches_full_diff(self, spark, customer, tmp_path):
        """Snapshot drift must agree with the full row diff on what a
        fingerprint can know: same added rows (full columns), and one
        hash-only row per deleted hash."""
        from lotad_spark.operators import (
            diff_against_snapshot,
            write_hash_snapshot,
        )

        snap = str(tmp_path / "snap")
        write_hash_snapshot(customer, snap)
        today = (
            customer.filter("c_custkey != 3")  # deleted
            .withColumn(
                "c_acctbal",
                F.when(F.col("c_custkey") == 7, F.col("c_acctbal") + 5)
                .otherwise(F.col("c_acctbal")),  # changed
            )
        )
        got = diff_against_snapshot(today, snap)
        full = diff_tables(customer, today, db1_id="snapshot", db2_id="current").diff

        got_added = {r.c_custkey for r in got.collect() if r.observed_in == "current"}
        full_added = {
            r.c_custkey for r in full.collect() if r.observed_in == "current"
        }
        assert got_added == full_added == {7}
        # removed side: hash-only rows, one per vanished hash (key 3's
        # old row and key 7's old row)
        removed = [r for r in got.collect() if r.observed_in == "snapshot"]
        assert len(removed) == 2
        assert all(r.c_custkey is None and r.hashed_row for r in removed)
        full_removed_hashes = {
            r.hashed_row for r in full.collect() if r.observed_in == "snapshot"
        }
        assert {r.hashed_row for r in removed} == full_removed_hashes

    def test_subset_columns_collapse_to_one_row_per_hash(
        self, spark, customer, tmp_path
    ):
        """With ``columns`` a subset of df.columns, rows identical in the
        hashed columns but differing in an unhashed one must still emit
        ONE row per hash (set semantics matching write_hash_snapshot's
        distinct) — the projection must happen before dropDuplicates."""
        from lotad_spark.operators import (
            diff_against_snapshot,
            write_hash_snapshot,
        )

        cols = ["c_custkey", "c_name"]
        snap = str(tmp_path / "snap_subset")
        write_hash_snapshot(customer, snap, columns=cols)
        # Two rows per key, differing only in the unhashed c_acctbal; keys
        # shifted so every hash is new relative to the snapshot.
        today = customer.withColumn(
            "c_custkey", F.col("c_custkey") + 1000
        )
        today = today.unionByName(
            today.withColumn("c_acctbal", F.col("c_acctbal") + 1)
        )
        got = diff_against_snapshot(today, snap, columns=cols)
        added = [r for r in got.collect() if r.observed_in == "current"]
        assert len(added) == customer.count()
        assert len({r.hashed_row for r in added}) == len(added)

    def test_identical_snapshot_empty(self, spark, customer, tmp_path):
        from lotad_spark.operators import (
            diff_against_snapshot,
            write_hash_snapshot,
        )

        snap = str(tmp_path / "snap2")
        write_hash_snapshot(customer, snap)
        assert diff_against_snapshot(customer, snap).isEmpty()

    def test_snapshot_side_is_hash_only_in_plan(self, spark, customer, tmp_path):
        from lotad_spark.operators import (
            diff_against_snapshot,
            write_hash_snapshot,
        )

        snap = str(tmp_path / "snap3")
        write_hash_snapshot(customer, snap)
        plan = (
            diff_against_snapshot(customer, snap)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # Identify the snapshot-side scans by their projected column
        # list, NOT the path: the Location string truncates at
        # spark.sql.maxMetadataStringLength (100), and once the pytest
        # tmp counter reached three digits the path grew past it and
        # "snap3" vanished from the rendered plan.
        snap_scans = [
            l
            for l in plan.splitlines()
            if "FileScan" in l and "hashed_row#" in l.split("]")[0]
        ]
        assert snap_scans and all(
            "c_name" not in l and "c_acctbal" not in l for l in snap_scans
        )
