"""Wizard ignore-column suggestion (J3/A3/L1 — reference
lotad/config_wizard.py:33-147)."""

import pytest

from lotad_spark.wizard import column_overlap_count, suggest_ignore_columns


@pytest.fixture(scope="module")
def sides(spark):
    # `uid` is disjoint across sides (UUID-like load identifier), `name`
    # fully overlaps, `batch_ts` disjoint (load timestamp), `score` overlaps
    # partially (real data drift — must NOT be suggested).
    df1 = spark.createDataFrame(
        [
            ("a1", "alice", "2024-01-01T00:00:00", 1.0),
            ("a2", "bob", "2024-01-01T00:00:01", 2.0),
            ("a3", "carol", "2024-01-01T00:00:02", 3.0),
        ],
        "uid string, name string, batch_ts string, score double",
    )
    df2 = spark.createDataFrame(
        [
            ("b1", "alice", "2024-02-01T00:00:00", 1.0),
            ("b2", "bob", "2024-02-01T00:00:01", 2.0),
            ("b3", "carol", "2024-02-01T00:00:02", 99.0),
        ],
        "uid string, name string, batch_ts string, score double",
    )
    return df1, df2


class TestSuggestIgnoreColumns:
    def test_suggests_disjoint_columns_only(self, sides):
        df1, df2 = sides
        assert suggest_ignore_columns(df1, df2) == ["batch_ts", "uid"]

    def test_partial_overlap_not_suggested(self, sides):
        df1, df2 = sides
        # 2 of 3 score values overlap — drift, not an ignorable identifier.
        assert column_overlap_count(df1, df2, "score") == 2

    def test_type_mismatch_column_skipped(self, spark, sides):
        df1, _ = sides
        df2_retyped = spark.createDataFrame(
            [("x1", 1), ("x2", 2)], "uid string, name int"
        )
        # `name` differs in type → not shared; `uid` disjoint → suggested.
        assert suggest_ignore_columns(df1, df2_retyped) == ["uid"]

    def test_sample_limit_caps_probe(self, sides):
        df1, df2 = sides
        # With a sample of 1 distinct name, at most that one value can match.
        n = column_overlap_count(df1, df2, "name", sample_limit=1)
        assert n == 1

    def test_overlap_counts_df2_rows_not_values(self, spark):
        df1 = spark.createDataFrame([("v",)], "c string")
        df2 = spark.createDataFrame([("v",), ("v",), ("w",)], "c string")
        # Reference counts db2 rows whose value appears in the db1 sample.
        assert column_overlap_count(df1, df2, "c") == 2

    def test_names_needing_quotes(self, spark):
        """Columns named ``a`b``, ``x.y`` and ``sp ace`` probe as themselves."""
        schema = "id int, `a``b` string, `x.y` string, `sp ace` string"
        df1 = spark.createDataFrame([(1, "u1", "k", "s1")], schema)
        df2 = spark.createDataFrame([(1, "u2", "k", "s2")], schema)
        assert suggest_ignore_columns(df1, df2) == ["a`b", "sp ace"]
        assert column_overlap_count(df1, df2, "a`b") == 0
        assert column_overlap_count(df1, df2, "x.y") == 1

    def test_batched_probe_job_count_independent_of_width(self, spark):
        """All columns probe in ONE action — a wide table must not pay one
        sequential Spark job per column (round-3 shape: N jobs for N
        columns)."""
        n_cols = 24
        schema = ", ".join(f"c{i} long" for i in range(n_cols))
        rows = [tuple(r * 100 + i for i in range(n_cols)) for r in range(50)]
        df1 = spark.createDataFrame(rows, schema)
        df2 = spark.createDataFrame(
            [tuple(v + 1_000_000 for v in r) for r in rows], schema
        )
        sc = spark.sparkContext
        sc.setJobGroup("wizard_batch_test", "probe", True)
        try:
            got = suggest_ignore_columns(df1, df2)
        finally:
            sc.setJobGroup(None, None)
        assert got == sorted(f"c{i}" for i in range(n_cols))
        jobs = sc.statusTracker().getJobIdsForGroup("wizard_batch_test")
        # Measured 4 (sample shuffle + broadcast build + AQE probe stages)
        # — the point is it's CONSTANT in column count, not 1-per-column.
        assert len(jobs) <= 5, f"expected ≤5 jobs for {n_cols} columns, got {len(jobs)}"

    def test_local_cap_bounds_shuffle_and_stays_exact(self, spark):
        """The df1 sample shuffle must be bounded by the per-partition cap:
        no Exchange may sit BELOW the MapPartitions stage (raw rows×columns
        never shuffle), and a binding limit still yields the exact
        lexicographically-first distinct sample."""
        from pyspark.sql import functions as F

        from lotad_spark.wizard import _local_top_values

        df = spark.range(0, 1000, 1, 8).select(
            F.concat(F.lit("v"), F.lpad(F.col("id").cast("string"), 4, "0"))
            .alias("val")
        )
        melted = df.select(
            F.lit("val").alias("column_name"), F.col("val").alias("value")
        )
        capped = _local_top_values(melted, 5)
        plan = capped._jdf.queryExecution().executedPlan().toString()
        map_idx = plan.index("MapPartitions")
        below = plan[map_idx:]  # plans print root-first; below = upstream
        assert "Exchange" not in below, below
        # Exact: global first-5 distinct == first-5 of the partition-capped
        # union, even though each of the 8 partitions capped independently.
        got = sorted(r.value for r in capped.collect())
        assert got[:5] == [f"v{i:04d}" for i in range(5)]

    def test_local_cap_orders_by_code_point(self, spark):
        """Under a binding limit the cap keeps the first values by code
        point, the order Spark's orderBy gives strings: U+E000..U+FFFF
        sort before astral characters, which UTF-16 unit order would put
        first (their surrogates are U+D800..U+DFFF)."""
        from pyspark.sql import functions as F

        from lotad_spark.wizard import _local_top_values

        values = ["\U0001F600", "\U00010000", "\uFFFD", "\uE000", "\uFFFF"]
        melted = spark.createDataFrame(
            [("c", v) for v in values], "column_name string, value string"
        ).coalesce(1)
        got = [r.value for r in _local_top_values(melted, 2).collect()]
        assert got == ["\uE000", "\uFFFD"]
        spark_order = [r.value for r in melted.orderBy(F.col("value")).collect()]
        assert got == spark_order[:2]
        # the full suggestion path over the same values: db2 holds only the
        # astral ones, which a UTF-16 cap would have sampled
        df1 = melted.select(F.col("value").alias("c"))
        df2 = spark.createDataFrame([(v,) for v in values[:2]], "c string")
        assert suggest_ignore_columns(df1, df2, sample_limit=2) == ["c"]
