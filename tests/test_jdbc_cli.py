"""JDBC source surface (plan-level — no driver jars in this container)
and CLI argument handling."""

import pytest
from click.testing import CliRunner

from lotad_spark.cli import cli
from lotad_spark.sources.jdbc import JdbcDatabase


class TestJdbcSource:
    def test_injected_table_list_sorted(self, spark):
        db = JdbcDatabase(spark, "jdbc:postgresql://h/db", tables=["b", "a"])
        assert db.list_tables() == ["a", "b"]

    def test_requires_table_list_or_subclass(self, spark):
        with pytest.raises(NotImplementedError):
            JdbcDatabase(spark, "jdbc:x://h/db").list_tables()


class TestCli:
    def test_help(self):
        result = CliRunner().invoke(cli, ["--help"])
        assert result.exit_code == 0
        assert "run" in result.output
        assert "suggest-ignore-columns" in result.output

    def test_run_requires_inputs(self):
        result = CliRunner().invoke(cli, ["run"])
        assert result.exit_code != 0
        assert "provide --config or both --db1 and --db2" in result.output


class TestCurateCommand:
    def test_writes_plan_and_manifest(self, spark, sf_dir, tmp_path):
        out = str(tmp_path / "curated")
        result = CliRunner().invoke(
            cli,
            [
                "curate",
                "--docs", f"{sf_dir}/documents.parquet",
                "--output", out,
                "--block-size", "256",
                "--mix", "src0=1.0",
                "--upsample", "src2=2.0",
                "--cap-per-source", "40",
                "--sample-rate", "0.5",
            ],
        )
        assert result.exit_code == 0, result.output
        assert "blocks of 256 tokens" in result.output
        plan = spark.read.parquet(f"{out}/plan")
        manifest = spark.read.parquet(f"{out}/manifest")
        assert plan.count() > 0
        # manifest blocks assemble to exactly block_size except the last
        from pyspark.sql import functions as F

        sizes = {
            r.chunk_id: r.t
            for r in manifest.groupBy("chunk_id")
            .agg(F.sum("slice_len").alias("t"))
            .collect()
        }
        last = max(sizes)
        assert all(sizes[c] == 256 for c in sizes if c != last)

    def test_bad_mix_syntax_rejected(self):
        result = CliRunner().invoke(
            cli, ["curate", "--docs", ".", "--output", "/tmp/x", "--mix", "web"]
        )
        assert result.exit_code != 0
        assert "SOURCE=NUMBER" in result.output
