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


def _small_catalog(spark):
    """Two shared tables, one drifted and one with zero data drift but a
    column only db2 has; one table only db1 has."""
    from lotad_spark.sources.memory import bounded_local_df

    def t(rows, ddl):
        return bounded_local_df(spark, rows, ddl)

    return _dbs(
        spark,
        {
            "drifted": t([(1, "x"), (2, "y")], "k int, v string"),
            "same": t([(1,)], "k int"),
            "gone": t([(1,)], "k int"),
        },
        {
            "drifted": t([(1, "x"), (3, "z")], "k int, v string"),
            "same": t([(1, 1.0)], "k int, extra double"),
        },
    )


class _SqlExecutions:
    """SQL executions recorded in the session's status store since
    construction. The store is filled from the listener bus, so each read
    first waits for the bus to drain."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._first = max(self._ids(), default=-1) + 1

    def _ids(self):
        self._bus.waitUntilEmpty()
        it = self._store.executionsList().iterator()
        ids = []
        while it.hasNext():
            ids.append(int(it.next().executionId()))
        return ids

    def since(self) -> int:
        return sum(1 for i in self._ids() if i >= self._first)


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
        """Copies of one row on both sides cancel through the orchestrator's
        write path: the summary and drift rows are the deleted row's alone."""
        copies = (
            customer.filter(F.col("c_custkey") == 1)
            .crossJoin(spark.range(200)).drop("id")
        )
        mutated = customer.filter(F.col("c_custkey") != 5)
        db1, db2 = _dbs(
            spark,
            {"customer": customer.unionByName(copies)},
            {"customer": mutated.unionByName(copies)},
        )
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
        """A listed table whose file is gone at open time (the footer
        read raises FileNotFoundError, not AnalysisException) is skipped
        with the same warning; the rest of the run completes."""
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

    def test_partitioned_parquet_table_compared(self, spark, tmp_path):
        """A ``partitionBy`` table directory holds only ``k=v``
        directories; it is listed, compared and its drift reported."""
        from lotad_spark.sources import ParquetDatabase

        sides = []
        for i, n in enumerate((12, 11)):
            path = tmp_path / f"db{i + 1}"
            spark.range(n).selectExpr("id", "id % 3 AS k").write.partitionBy(
                "k"
            ).parquet(str(path / "events"))
            spark.range(4).write.parquet(str(path / "plain.parquet"))
            sides.append(ParquetDatabase(spark, str(path), f"db{i + 1}"))
        assert sides[0].list_tables() == ["events", "plain"]
        res = compare_all(spark, *sides, output_path=str(tmp_path / "out"))
        assert res.compared_tables == ["events", "plain"]
        assert res.analysis.get_data_drift_summary() == [
            {
                "table_name": "events",
                "db1": "db1",
                "rows_only_in_db1": 1,
                "db2": "db2",
                "rows_only_in_db2": 0,
            }
        ]

    def test_fully_ignored_table_skips_only_its_data_drift(
        self, spark, tmp_path, caplog
    ):
        """A table whose ignore rules cover every shared column has no
        data to diff: its data drift is skipped with a warning, its schema
        drift is kept, and the other tables' drift still lands."""
        import logging

        t1 = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
        t2 = t1.withColumn("w", F.lit(0))
        u1 = spark.createDataFrame([(1, "x"), (2, "y")], "k bigint, s string")
        db1, db2 = _dbs(spark, {"t": t1, "u": u1}, {"t": t2, "u": u1.limit(1)})
        with caplog.at_level(logging.WARNING, logger="lotad_spark.compare"):
            res = compare_all(
                spark, db1, db2,
                output_path=str(tmp_path / "out"),
                table_ignore_columns={"t": ["id", "v"]},
            )
        assert "Skipping data drift of table t" in caplog.text
        assert res.compared_tables == ["t", "u"]
        assert [d.table_name for d in res.data_drift] == ["u"]
        assert [
            (d["table_name"], d["column_name"])
            for d in res.analysis.get_table_schema_drift()
        ] == [('"t"', '"w"')]

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

    def test_each_summary_table_is_one_file(self, spark, tmp_path):
        """A few summary rows are one task and one data file, not one each."""
        from lotad_spark.analysis import (
            DATA_DRIFT_SUMMARY_TABLE,
            MISSING_TABLE_TABLE,
            SCHEMA_DRIFT_TABLE,
            DriftAnalysis,
        )
        from lotad_spark.drift import TableDataDiff

        analysis = DriftAnalysis(spark, str(tmp_path / "out"), "db1", "db2")
        for name in ("a", "b", "c"):
            analysis.add_data_drift(TableDataDiff(name, str(tmp_path / name), 1, 2))
        analysis.write()
        for table in (DATA_DRIFT_SUMMARY_TABLE, MISSING_TABLE_TABLE, SCHEMA_DRIFT_TABLE):
            parts = list((tmp_path / "out" / table).glob("part-*"))
            assert len(parts) == 1, (table, parts)
        summary = spark.read.parquet(analysis.table_dir(DATA_DRIFT_SUMMARY_TABLE))
        assert summary.count() == 3

    def test_summary_counts_past_int32(self, spark, tmp_path):
        """A drifted-row count over 2^31-1 is written and read back whole."""
        from lotad_spark.analysis import DATA_DRIFT_SUMMARY_TABLE, DriftAnalysis
        from lotad_spark.drift import TableDataDiff

        analysis = DriftAnalysis(spark, str(tmp_path / "out"), "db1", "db2")
        analysis.add_data_drift(
            TableDataDiff("big", str(tmp_path / "out" / "big"), 3_000_000_000, 7)
        )
        analysis.write()
        row = spark.read.parquet(
            analysis.table_dir(DATA_DRIFT_SUMMARY_TABLE)
        ).collect()[0]
        assert (row.rows_only_in_db1, row.rows_only_in_db2) == (3_000_000_000, 7)

    def test_one_job_per_compared_table(self, spark, tmp_path):
        """compare_all runs one SQL execution per compared table and none
        for the summary tables, which are written from the driver."""
        db1, db2 = _small_catalog(spark)
        out = str(tmp_path / "out")
        compare_all(spark, db1, db2, output_path=out)  # warm-up
        execs = _SqlExecutions(spark)
        res = compare_all(spark, db1, db2, output_path=out)
        assert execs.since() == 2
        assert [(d.table_name, d.rows_only_in_db1, d.rows_only_in_db2)
                for d in res.data_drift] == [("drifted", 1, 1)]
        assert '"gone" not found in "db2"' in res.report()
        assert '"same"."extra"' in res.report()

    def test_fair_pools_bounded_by_threads(self, spark, tmp_path):
        """Each compare_all thread has one FAIR pool, so pools do not pile
        up one per table name: Spark never drops a pool."""
        from lotad_spark.compare import MAX_CONCURRENT_TABLES
        from lotad_spark.sources.memory import bounded_local_df

        def side(v):
            return {f"t{i}": bounded_local_df(spark, [(i, v)], "k int, v string")
                    for i in range(6)}

        db1, db2 = _dbs(spark, side("a"), side("b"))
        for run in range(2):
            res = compare_all(spark, db1, db2, output_path=str(tmp_path / f"o{run}"))
            assert len(res.data_drift) == 6
        queue = spark.sparkContext._jsc.sc().taskScheduler().rootPool().schedulableQueue()
        assert queue.size() <= MAX_CONCURRENT_TABLES + 1

    def test_equal_db_ids_rejected(self, spark, customer, tmp_path):
        """The per-side counts and summary rows are keyed by db id, so two
        sides with one id could not be told apart."""
        db1 = DictDatabase({"customer": customer}, "x")
        db2 = DictDatabase({"customer": customer}, "x")
        with pytest.raises(ValueError, match="both databases have db_id 'x'"):
            compare_all(spark, db1, db2, output_path=str(tmp_path / "out"))


class TestBoundedLocalDf:
    def test_rows_become_a_local_relation(self, spark):
        from lotad_spark.sources.memory import bounded_local_df

        df = bounded_local_df(spark, [(1, "a", [1.5]), (2, None, [])],
                              "k bigint, v string, xs array<double>")
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan
        assert [tuple(r) for r in df.collect()] == [(1, "a", [1.5]), (2, None, [])]
        assert bounded_local_df(spark, [], "k bigint").schema.names == ["k"]

    def test_row_width_must_match_schema(self, spark):
        from lotad_spark.sources.memory import bounded_local_df

        with pytest.raises(ValueError, match="2 fields"):
            bounded_local_df(spark, [(1, "a", "extra")], "k bigint, v string")


class TestSummaryFiles:
    """The summary tables are parquet files written from the driver; they
    must read back like the Spark write they replace."""

    NAMES = ("plain", "q'uo\"te", "back\\slash", "nön-ascii 表")

    def _analysis(self, spark, out, names):
        from lotad_spark.analysis import DriftAnalysis
        from lotad_spark.drift import (
            MissingTableDrift,
            TableDataDiff,
            TableSchemaDrift,
        )

        analysis = DriftAnalysis(spark, out, "db1", "db2")
        for i, name in enumerate(names):
            analysis.add_data_drift(TableDataDiff(name, f"{out}/{i}", i, 2 * i))
            analysis.add_missing_table_drift([MissingTableDrift(name, "db1", "db2")])
            analysis.add_schema_drift(
                [TableSchemaDrift(name, name, "db1", "db2", "VARCHAR", None)]
            )
        return analysis

    @staticmethod
    def _tables(analysis):
        from lotad_spark.analysis import (
            _MISSING_SCHEMA,
            _SCHEMA_DRIFT_SCHEMA,
            _SUMMARY_SCHEMA,
            DATA_DRIFT_SUMMARY_TABLE,
            MISSING_TABLE_TABLE,
            SCHEMA_DRIFT_TABLE,
        )

        return (
            (DATA_DRIFT_SUMMARY_TABLE, _SUMMARY_SCHEMA, analysis._summary_rows),
            (MISSING_TABLE_TABLE, _MISSING_SCHEMA, analysis._missing_rows),
            (SCHEMA_DRIFT_TABLE, _SCHEMA_DRIFT_SCHEMA, analysis._schema_rows),
        )

    @pytest.mark.parametrize("names", [NAMES, ()], ids=["rows", "empty"])
    def test_read_back_with_ddl_schema(self, spark, tmp_path, names):
        import duckdb
        from pyspark.sql.types import _parse_datatype_string

        analysis = self._analysis(spark, str(tmp_path / "out"), names)
        analysis.write()
        for table, ddl, rows in self._tables(analysis):
            assert len(rows) == len(names)
            path = analysis.table_dir(table)
            df = spark.read.parquet(path)
            assert df.schema == _parse_datatype_string(ddl), table
            assert sorted(tuple(r) for r in df.collect()) == sorted(rows)
            got = duckdb.sql(
                f"SELECT * FROM read_parquet('{path}/*.parquet')"
            ).fetchall()
            assert sorted(got) == sorted(rows), table

    def test_rewrite_replaces_the_table(self, spark, tmp_path):
        out = tmp_path / "out"
        analysis = self._analysis(spark, str(out), self.NAMES)
        analysis.write()
        analysis.write()
        for table, _, rows in self._tables(analysis):
            files = sorted(p.name for p in (out / table).iterdir()
                           if not p.name.endswith(".crc"))
            assert len(files) == 2 and files[0] == "_SUCCESS", files
            assert files[1].startswith("part-00000-"), files
            assert files[1].endswith("-c000.snappy.parquet"), files
            assert spark.read.parquet(str(out / table)).count() == len(rows)

    def test_file_uri_output_path(self, spark, tmp_path):
        analysis = self._analysis(spark, f"file://{tmp_path}/out", self.NAMES)
        analysis.write()
        for table, _, rows in self._tables(analysis):
            assert (tmp_path / "out" / table / "_SUCCESS").exists()
            df = spark.read.parquet(analysis.table_dir(table))
            assert sorted(tuple(r) for r in df.collect()) == sorted(rows)


class TestWriteBoundedParquet:
    def test_starts_no_sql_execution(self, spark, tmp_path):
        from lotad_spark.storeparams import read_params, write_params

        execs = _SqlExecutions(spark)
        write_params(spark, str(tmp_path / "params"), "n int, ok boolean", (3, True))
        assert execs.since() == 0
        row = read_params(spark, str(tmp_path / "params"))
        assert (row.n, row.ok) == (3, True)

    def test_row_width_must_match_schema(self, spark, tmp_path):
        from lotad_spark.sources.memory import write_bounded_parquet

        with pytest.raises(ValueError, match="2 fields"):
            write_bounded_parquet(spark, [(1, "a", "extra")], "k bigint, v string",
                                  str(tmp_path / "t"))
        assert not (tmp_path / "t").exists()


class TestNoPythonWorker:
    def test_drift_run_starts_no_python_process(self, tmp_path):
        """In a fresh session, compare_all, report() and
        suggest_ignore_columns over a parquet pair leave the JVM with no
        Python child (no Python worker daemon was ever started), and opening
        a parquet table starts no Spark job."""
        import os
        import subprocess
        import sys
        import textwrap

        import pyarrow as pa
        import pyarrow.parquet as pq

        # Written with pyarrow: a Spark write would start Python workers in
        # this test's session, not in the one under test.
        rows = {
            "id": [1, 2, 3],
            "doc": ['{"a": 1, "b": 2}', '{"x": []}', "plain"],
            "ts": pa.array([0, 1, 2], pa.timestamp("ns")),
            "load_id": ["u1", "u2", "u3"],
        }
        db1, db2 = tmp_path / "db1", tmp_path / "db2"
        for db in (db1, db2):
            db.mkdir()
        pq.write_table(pa.table(rows), db1 / "t.parquet")
        changed = dict(rows, doc=['{ "b": 2, "a": 1 }', '{"x": []}', "edited"],
                       load_id=["v1", "v2", "v3"])
        pq.write_table(pa.table(changed), db2 / "t.parquet")
        pq.write_table(pa.table({"id": [1]}), db1 / "only_db1.parquet")
        pq.write_table(pa.table({"id": [1], "v": [1.0]}), db1 / "s.parquet")
        pq.write_table(pa.table({"id": [1], "v": ["1.0"]}), db2 / "s.parquet")

        script = tmp_path / "drift_run.py"
        script.write_text(textwrap.dedent(f"""
            import os
            from lotad_spark import compare_all
            from lotad_spark.session import get_spark
            from lotad_spark.sources import ParquetDatabase
            from lotad_spark.wizard import suggest_ignore_columns

            spark = get_spark("no-python-worker", master="local[2]")
            sc = spark.sparkContext
            d1 = ParquetDatabase(spark, {str(db1)!r}, "db1")
            d2 = ParquetDatabase(spark, {str(db2)!r}, "db2")
            sc.setJobGroup("open", "open", True)
            t1, t2 = d1.table("t"), d2.table("t")
            sc.setJobGroup(None, None)
            print("OPEN_JOBS", len(sc.statusTracker().getJobIdsForGroup("open")))
            res = compare_all(spark, d1, d2, output_path={str(tmp_path / "out")!r})
            print("DRIFT", [(d.table_name, d.rows_only_in_db1, d.rows_only_in_db2)
                            for d in res.data_drift])
            print("REPORT_OK", '"only_db1" not found in "db2"' in res.report())
            print("SUGGEST", suggest_ignore_columns(t1, t2))
            jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
            children = []
            for entry in os.listdir("/proc"):
                try:
                    with open(f"/proc/{{entry}}/stat") as fh:
                        stat = fh.read()
                except OSError:
                    continue
                comm = stat[stat.index("(") + 1:stat.rindex(")")]
                ppid = int(stat[stat.rindex(")") + 2:].split()[1])
                if ppid == jvm and comm.startswith("python"):
                    children.append(comm)
            print("PY_CHILDREN", children)
            spark.stop()
        """))
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        out = subprocess.run(
            [sys.executable, str(script)], env=dict(os.environ, PYTHONPATH=repo),
            cwd=tmp_path, capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        lines = dict(
            line.split(" ", 1) for line in out.stdout.splitlines() if " " in line
        )
        assert lines["OPEN_JOBS"] == "0"
        assert lines["DRIFT"] == "[('t', 3, 3)]"
        assert lines["REPORT_OK"] == "True"
        assert lines["SUGGEST"] == "['load_id']"
        assert lines["PY_CHILDREN"] == "[]"


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
