"""The parquet source opens a table from one driver-side footer read: the
schema must be the one Spark's own inference gives, with no Spark job."""

import duckdb
import pytest
from pyspark.errors import AnalysisException

from lotad_spark.sources.parquet import _open_parquet, read_table

# DuckDB types whose Spark mapping differs the most from their names.
_DUCKDB_COLUMNS = {
    "naive_ts": "TIMESTAMP '2024-01-02 03:04:05.123456'",
    "ns_ts": "TIMESTAMP_NS '1969-12-31 23:59:59.999999999'",
    "dec": "CAST(12345.678 AS DECIMAL(18,3))",
    "small_unsigned": "CAST(250 AS UTINYINT)",
    "big_unsigned": "CAST(18446744073709551615 AS UBIGINT)",
    "blob": "'\\xAA\\x00'::BLOB",
    "st": "{'a': 1, 'b': [1.5, NULL]}",
    "mp": "MAP {'k': 2}",
    "lst": "[['x'], []]",
}


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group, True)
    try:
        result = fn()
    finally:
        sc.setJobGroup(None, None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_parity(spark, path, group):
    (df, _), jobs = _jobs_of(spark, group, lambda: _open_parquet(spark, str(path)))
    assert jobs == 0
    assert df.schema == spark.read.parquet(str(path)).schema
    return df


class TestFooterSchemaParity:
    @pytest.mark.parametrize("column", sorted(_DUCKDB_COLUMNS))
    def test_duckdb_written(self, spark, tmp_path, column):
        path = tmp_path / f"{column}.parquet"
        duckdb.sql(
            f"COPY (SELECT {_DUCKDB_COLUMNS[column]} AS {column}, 1 AS id) "
            f"TO '{path}' (FORMAT parquet)"
        )
        df = _assert_parity(spark, path, f"duckdb_{column}")
        assert df.count() == 1

    def test_arrow_nanos_named_and_rebuilt(self, spark, tmp_path):
        """TIMESTAMP(NANOS) as pyarrow writes it (DuckDB 1.0 writes its
        TIMESTAMP_NS as microseconds): read as BIGINT, named by the footer
        read, rebuilt as a timestamp by floor division."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = tmp_path / "ns.parquet"
        pq.write_table(pa.table({
            "ns_ts": pa.array([-1, 1_700_000_000_123_456_789], pa.timestamp("ns")),
            "us_ts": pa.array([0, 1], pa.timestamp("us")),
        }), path)
        _assert_parity(spark, path, "arrow_nanos")
        assert _open_parquet(spark, str(path))[1] == ["ns_ts"]
        rows = read_table(spark, str(path)).selectExpr(
            "CAST(ns_ts AS STRING) AS ns", "typeof(us_ts) AS us_type"
        ).collect()
        # floor division: one nanosecond before the epoch is -1 µs
        assert [r.ns for r in rows] == [
            "1969-12-31 23:59:59.999999", "2023-11-14 22:13:20.123456"
        ]
        assert rows[0].us_type == "timestamp"

    def test_spark_int96_timestamps(self, spark, tmp_path):
        path = tmp_path / "int96.parquet"
        key = "spark.sql.parquet.outputTimestampType"
        old = spark.conf.get(key)
        spark.conf.set(key, "INT96")
        try:
            spark.sql(
                "SELECT TIMESTAMP '2024-05-06 07:08:09' AS ts, 1L AS id"
            ).write.parquet(str(path))
        finally:
            spark.conf.set(key, old)
        _assert_parity(spark, path, "int96")
        assert _open_parquet(spark, str(path))[1] == []
        assert str(read_table(spark, str(path)).collect()[0].ts) == "2024-05-06 07:08:09"

    def test_spark_directory_of_files_with_success_marker(self, spark, tmp_path):
        path = tmp_path / "multi.parquet"
        spark.range(0, 40, 1, 4).selectExpr(
            "id", "CAST(id AS STRING) AS s", "id / 3 AS d"
        ).write.parquet(str(path))
        assert (path / "_SUCCESS").exists()
        assert len(list(path.glob("part-*.parquet"))) == 4
        df = _assert_parity(spark, path, "multi")
        assert df.count() == 40

    def test_spark_partitioned_directory(self, spark, tmp_path):
        path = tmp_path / "parted"
        spark.range(0, 12).selectExpr(
            "id", "id % 3 AS k", "CAST(id % 2 AS STRING) AS tag"
        ).write.partitionBy("k", "tag").parquet(str(path))
        df = _assert_parity(spark, path, "parted")
        assert df.columns == ["id", "k", "tag"]
        assert df.filter("k = 2").count() == 4

    def test_summary_file_wins_over_data_files(self, spark, tmp_path):
        """Inference reads _common_metadata, then _metadata, before any data
        file; here each summary declares a column the data lacks."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = tmp_path / "summarized"
        path.mkdir()
        data = pa.table({"id": [1, 2]})
        pq.write_table(data, path / "part-0.parquet")
        pq.write_metadata(data.schema.append(pa.field("meta", pa.string())),
                          path / "_metadata")
        df = _assert_parity(spark, path, "summary_metadata")
        assert df.columns == ["id", "meta"]
        pq.write_metadata(data.schema.append(pa.field("common", pa.float64())),
                          path / "_common_metadata")
        df = _assert_parity(spark, path, "summary_common")
        assert df.columns == ["id", "common"]

    def test_merge_schema_session_merges_every_file(self, spark, tmp_path):
        """Under spark.sql.parquet.mergeSchema Spark reads every footer; the
        source leaves that inference to Spark."""
        path = tmp_path / "evolving"
        spark.sql("SELECT 1L AS id").write.parquet(str(path / "a=1"))
        spark.sql("SELECT 2L AS id, 'x' AS added").write.parquet(str(path / "a=2"))
        key = "spark.sql.parquet.mergeSchema"
        spark.conf.set(key, "true")
        try:
            df = _open_parquet(spark, str(path))[0]
            assert df.schema == spark.read.parquet(str(path)).schema
        finally:
            spark.conf.unset(key)
        assert df.columns == ["id", "added", "a"]


class TestFooterSchemaFailures:
    def test_missing_path_raises_file_not_found(self, spark, tmp_path):
        with pytest.raises(FileNotFoundError):
            read_table(spark, str(tmp_path / "gone.parquet"))

    def test_empty_directory_raises_inference_error(self, spark, tmp_path):
        empty = tmp_path / "empty"
        empty.mkdir()
        (empty / "_SUCCESS").touch()
        with pytest.raises(AnalysisException) as inferred:
            spark.read.parquet(str(empty))
        with pytest.raises(AnalysisException) as opened:
            read_table(spark, str(empty))
        assert opened.value.getCondition() == inferred.value.getCondition()
        assert str(opened.value) == str(inferred.value)
