"""compare_all orchestrator scenarios, ported from the reference suite
(test/db_table_drift_test.py:12-35, test/db_schema_drift_test.py:12-61,
test/data_drift_test.py:41-140)."""

import pyspark.sql.functions as F
import pytest

from lotad_spark import compare_all
from lotad_spark.sources.memory import DictDatabase


@pytest.fixture
def customer(spark, sf_dir):
    from lotad_spark.sources import ParquetDatabase

    return ParquetDatabase(spark, sf_dir, "db").table("customer")


def _dbs(spark, t1: dict, t2: dict):
    return DictDatabase(t1, "db1"), DictDatabase(t2, "db2")


class TestCompareAll:
    def test_no_changes_all_empty(self, spark, customer, tmp_path):
        db1, db2 = _dbs(spark, {"customer": customer}, {"customer": customer})
        res = compare_all(spark, db1, db2, output_path=str(tmp_path / "out"))
        a = res.analysis
        assert a.get_data_drift_summary() == []
        assert a.get_missing_table_drift() == []
        assert a.get_table_schema_drift() == []
        assert res.data_drift == []

    def test_missing_table_detected(self, spark, customer, tmp_path):
        db1, db2 = _dbs(
            spark, {"customer": customer, "extra": customer}, {"customer": customer}
        )
        res = compare_all(spark, db1, db2, output_path=str(tmp_path / "out"))
        drift = res.analysis.get_missing_table_drift()
        # Reference stores values wrapped in literal quotes
        # (lotad/data_analysis.py:130-135; asserted in its tests).
        assert drift == [
            {"table_name": '"extra"', "observed_in": '"db1"', "missing_in": '"db2"'}
        ]

    def test_missing_column_schema_drift(self, spark, customer, tmp_path):
        db1, db2 = _dbs(
            spark, {"customer": customer}, {"customer": customer.drop("c_acctbal")}
        )
        res = compare_all(spark, db1, db2, output_path=str(tmp_path / "out"))
        drift = res.analysis.get_table_schema_drift()
        assert {
            "table_name": '"customer"',
            "column_name": '"c_acctbal"',
            "db1": '"db1"',
            "db1_column_type": '"DOUBLE"',
            "db2": '"db2"',
            "db2_column_type": '"None"',
        } in drift

    def test_type_mismatch_schema_drift_but_no_data_drift(
        self, spark, customer, tmp_path
    ):
        mutated = customer.withColumn("c_custkey", F.col("c_custkey").cast("string"))
        db1, db2 = _dbs(spark, {"customer": customer}, {"customer": mutated})
        res = compare_all(spark, db1, db2, output_path=str(tmp_path / "out"))
        drift = res.analysis.get_table_schema_drift()
        assert drift == [
            {
                "table_name": '"customer"',
                "column_name": '"c_custkey"',
                "db1": '"db1"',
                "db1_column_type": '"BIGINT"',
                "db2": '"db2"',
                "db2_column_type": '"VARCHAR"',
            }
        ]
        # VARCHAR-cast normalization: type mismatch alone is NOT data drift
        # (reference test/data_drift_test.py:78-97).
        assert res.analysis.get_data_drift_summary() == []

    def test_deleted_row_data_drift(self, spark, customer, tmp_path):
        mutated = customer.filter(F.col("c_custkey") != 5)
        db1, db2 = _dbs(spark, {"customer": customer}, {"customer": mutated})
        res = compare_all(spark, db1, db2, output_path=str(tmp_path / "out"))
        summary = res.analysis.get_data_drift_summary()
        assert summary == [
            {
                "table_name": "customer",
                "db1": "db1",
                "rows_only_in_db1": 1,
                "db2": "db2",
                "rows_only_in_db2": 0,
            }
        ]
        # Drift rows were written to the output dir and are re-readable.
        written = spark.read.parquet(res.data_drift[0].path)
        rows = written.collect()
        assert len(rows) == 1 and rows[0]["c_custkey"] == 5
        assert rows[0]["observed_in"] == "db1"

    def test_groupby_strategy_end_to_end(self, spark, customer, tmp_path):
        """The scale-path diff strategy is reachable through the
        orchestrator's config knob and produces the same summary and
        drift rows as the default strategy."""
        mutated = customer.filter(F.col("c_custkey") != 5)
        db1, db2 = _dbs(spark, {"customer": customer}, {"customer": mutated})
        res = compare_all(
            spark, db1, db2,
            output_path=str(tmp_path / "out"),
            strategy="groupby",
        )
        summary = res.analysis.get_data_drift_summary()
        assert summary == [
            {
                "table_name": "customer",
                "db1": "db1",
                "rows_only_in_db1": 1,
                "db2": "db2",
                "rows_only_in_db2": 0,
            }
        ]
        written = spark.read.parquet(res.data_drift[0].path)
        rows = written.collect()
        assert len(rows) == 1 and rows[0]["c_custkey"] == 5
        assert rows[0]["observed_in"] == "db1"

    def test_catalog_failure_skips_table_not_run(self, spark, customer, tmp_path):
        """A table that fails with a catalog-class error (vanished path,
        missing relation) is skipped with a warning and the rest of the
        run completes — reference parity: duckdb.CatalogException is
        caught per-table (db_compare.py:366-369) while real errors still
        raise (db_compare.py:370-377)."""

        class _Broken(DictDatabase):
            def __init__(self, tables, db_id, spark):
                super().__init__(tables, db_id)
                self._spark = spark

            def table(self, name):
                if name == "broken":
                    # genuine AnalysisException (PATH_NOT_FOUND) at scan
                    return self._spark.read.parquet("/nonexistent/lotad_x")
                return super().table(name)

        mutated = customer.withColumn(
            "c_acctbal", F.col("c_acctbal") + F.lit(1.0)
        )
        db1 = _Broken({"customer": customer, "broken": customer}, "db1", spark)
        db2 = _Broken({"customer": mutated, "broken": customer}, "db2", spark)
        res = compare_all(spark, db1, db2, output_path=str(tmp_path / "out"))
        # broken skipped, customer still compared and drifted
        assert sorted(res.compared_tables) == ["broken", "customer"]
        assert [d.table_name for d in res.data_drift] == ["customer"]

    def test_vanished_parquet_table_skipped(self, spark, tmp_path, caplog):
        """A listed table whose file is gone at open time (the pyarrow
        footer probe raises FileNotFoundError, not AnalysisException) is
        skipped with the same warning; the rest of the run completes."""
        import logging

        from lotad_spark.sources import ParquetDatabase

        class _Vanishing(ParquetDatabase):
            def list_tables(self):
                return super().list_tables() + ["gone"]

        sides = []
        for i, rows in enumerate(([(1, "a"), (2, "b")], [(1, "a")])):
            path = tmp_path / f"db{i + 1}"
            spark.createDataFrame(rows, "k bigint, v string").write.parquet(
                str(path / "t.parquet")
            )
            sides.append(_Vanishing(spark, str(path), f"db{i + 1}"))
        with caplog.at_level(logging.WARNING, logger="lotad_spark.compare"):
            res = compare_all(spark, *sides, output_path=str(tmp_path / "out"))
        assert "Failed to process table gone" in caplog.text
        assert res.compared_tables == ["gone", "t"]
        assert [d.table_name for d in res.data_drift] == ["t"]
        assert res.analysis.get_table_schema_drift() == []

    def test_each_table_opened_once_per_side(self, spark, customer, tmp_path):
        """Schema drift and data drift come from ONE open per side; a
        table excluded by ignore_tables is opened once for its schema."""
        from collections import Counter

        class _Counting(DictDatabase):
            def __init__(self, tables, db_id):
                super().__init__(tables, db_id)
                self.opens = Counter()

            def table(self, name):
                self.opens[name] += 1
                return super().table(name)

        mutated = customer.filter(F.col("c_custkey") != 5)
        tables = {"a": customer, "b": customer, "skip_me": customer}
        db1 = _Counting(tables, "db1")
        db2 = _Counting({**tables, "a": mutated}, "db2")
        res = compare_all(
            spark, db1, db2,
            output_path=str(tmp_path / "out"),
            ignore_tables=[r"skip_"],
        )
        assert res.compared_tables == ["a", "b"]
        assert [d.table_name for d in res.data_drift] == ["a"]
        for db in (db1, db2):
            assert db.opens == {"a": 1, "b": 1, "skip_me": 1}

    def test_ignore_tables_regex_filter(self, spark, customer, tmp_path):
        mutated = customer.filter(F.col("c_custkey") != 5)
        db1, db2 = _dbs(spark, {"customer": customer}, {"customer": mutated})
        res = compare_all(
            spark,
            db1,
            db2,
            output_path=str(tmp_path / "out"),
            ignore_tables=[r"cust.*"],
        )
        assert res.compared_tables == []
        assert res.analysis.get_data_drift_summary() == []

    def test_target_tables_regex_filter(self, spark, customer, tmp_path):
        mutated = customer.filter(F.col("c_custkey") != 5)
        db1, db2 = _dbs(
            spark,
            {"customer": customer, "other": customer},
            {"customer": mutated, "other": customer},
        )
        res = compare_all(
            spark,
            db1,
            db2,
            output_path=str(tmp_path / "out"),
            target_tables=[r"other"],
        )
        assert res.compared_tables == ["other"]

    def test_ignore_column_suppresses_drift(self, spark, customer, tmp_path):
        mutated = customer.withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") == 5, F.col("c_acctbal") + 99).otherwise(
                F.col("c_acctbal")
            ),
        )
        db1, db2 = _dbs(spark, {"customer": customer}, {"customer": mutated})
        res = compare_all(
            spark,
            db1,
            db2,
            output_path=str(tmp_path / "out"),
            table_ignore_columns={"customer": ["c_acctbal"]},
        )
        assert res.analysis.get_data_drift_summary() == []

    def test_report_renders(self, spark, customer, tmp_path):
        mutated = customer.filter(F.col("c_custkey") != 5).drop("c_mktsegment")
        db1, db2 = _dbs(
            spark, {"customer": customer, "extra": customer}, {"customer": mutated}
        )
        res = compare_all(spark, db1, db2, output_path=str(tmp_path / "out"))
        report = res.report()
        assert "Missing Table Summary" in report
        assert "Schema Drift Summary" in report
        assert "Data Drift Summary" in report
        assert '"extra" not found in "db2"' in report

    def test_summary_tables_written_as_parquet(self, spark, customer, tmp_path):
        mutated = customer.filter(F.col("c_custkey") != 5)
        db1, db2 = _dbs(spark, {"customer": customer}, {"customer": mutated})
        out = tmp_path / "out"
        compare_all(spark, db1, db2, output_path=str(out))
        summary = spark.read.parquet(str(out / "lotad_db_data_drift_summary"))
        assert summary.count() == 1
        assert set(summary.columns) == {
            "table_name",
            "db1",
            "rows_only_in_db1",
            "db2",
            "rows_only_in_db2",
        }


class TestGenericTypes:
    def test_cross_engine_names_normalize_equal(self):
        from lotad_spark.typemaps import generic_type

        assert generic_type("TEXT") == generic_type("VARCHAR")
        assert generic_type("BYTEA") == generic_type("BLOB")
        assert generic_type("FLOAT8") == generic_type("DOUBLE PRECISION")
        assert generic_type("DECIMAL(18,2)") == "DECIMAL"
        assert generic_type("TEXT[]") == "VARCHAR[]"
        assert generic_type("WEIRDTYPE") == "WEIRDTYPE"

    def test_schema_drift_suppressed_after_normalization(self):
        from lotad_spark.drift import generate_table_schema_drift
        from lotad_spark.typemaps import generic_type

        # Postgres TEXT vs DuckDB VARCHAR: raw names differ, generic equal
        drift = generate_table_schema_drift(
            "t", "pg", {"c": "TEXT"}, "duck", {"c": "VARCHAR"},
            generic_type=generic_type,
        )
        assert drift == []
        # genuinely different types still reported, with RAW (GENERIC) form
        drift = generate_table_schema_drift(
            "t", "pg", {"c": "TEXT"}, "duck", {"c": "BIGINT"},
            generic_type=generic_type,
        )
        assert len(drift) == 1
        assert drift[0].db1_column_type == "TEXT (VARCHAR)"
        assert drift[0].db2_column_type == "BIGINT"


class TestHadoopFsCatalog:
    def test_list_tables_with_file_scheme(self, spark, sf_dir):
        from lotad_spark.sources import ParquetDatabase

        local = ParquetDatabase(spark, sf_dir, "db").list_tables()
        schemed = ParquetDatabase(spark, f"file://{sf_dir}", "db").list_tables()
        assert schemed == local
        assert "customer" in schemed

    def test_table_read_with_file_scheme(self, spark, sf_dir):
        from lotad_spark.sources import ParquetDatabase

        db = ParquetDatabase(spark, f"file://{sf_dir}", "db")
        assert db.table("events").count() > 0  # ns probe works through scheme
