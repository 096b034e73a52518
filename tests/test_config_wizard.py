"""Interactive config wizard: the reference's menu flow
(lotad/config_wizard.py:380-429) driven through scripted stdin."""

from __future__ import annotations

import os

import yaml
from click.testing import CliRunner

from lotad_spark.cli import cli
from lotad_spark.config import Config


def _run(args, input_text):
    return CliRunner().invoke(cli, args, input=input_text, catch_exceptions=False)


class TestWizardBootstrap:
    def test_creates_missing_config_then_done(self, tmp_path, sf_dir):
        cfg = tmp_path / "wiz.yaml"
        # db1 path, db2 path, ignore_dates=y, then menu choice 7 (Done.)
        res = _run(
            ["wizard", "--config", str(cfg)],
            f"{sf_dir}\n{sf_dir}\ny\n7\n",
        )
        assert res.exit_code == 0, res.output
        assert os.path.exists(cfg)
        loaded = Config.load(str(cfg))
        assert loaded.db1_path == sf_dir
        assert loaded.ignore_dates is True

    def test_empty_config_path_exits(self):
        res = _run(["wizard"], "\n")
        assert res.exit_code == 0

    def test_setup_alias(self, tmp_path, sf_dir):
        cfg = tmp_path / "wiz2.yaml"
        res = _run(
            ["setup", "--config", str(cfg)],
            f"{sf_dir}\n{sf_dir}\nn\n7\n",
        )
        assert res.exit_code == 0, res.output
        assert os.path.exists(cfg)


class TestWizardMenuActions:
    def _bootstrap(self, tmp_path, sf_dir) -> str:
        cfg = str(tmp_path / "wiz.yaml")
        Config(db1_path=sf_dir, db2_path=sf_dir).write(cfg)
        return cfg

    def test_set_target_and_ignore_tables(self, tmp_path, sf_dir):
        cfg = self._bootstrap(tmp_path, sf_dir)
        # 3 → target tables; 2 → ignore tables; 7 → Done.
        res = _run(
            ["wizard", "--config", cfg],
            "3\ncustomer, orders\n2\nlineitem\n7\n",
        )
        assert res.exit_code == 0, res.output
        loaded = Config.load(cfg)
        assert loaded.target_tables == ["customer", "orders"]
        assert loaded.ignore_tables == ["lineitem"]

    def test_set_output_path_and_ignore_dates(self, tmp_path, sf_dir):
        cfg = self._bootstrap(tmp_path, sf_dir)
        res = _run(
            ["wizard", "--config", cfg],
            "4\n/tmp/drift_out_wiz\n5\ny\n7\n",
        )
        assert res.exit_code == 0, res.output
        loaded = Config.load(cfg)
        assert loaded.output_path == "/tmp/drift_out_wiz"
        assert loaded.ignore_dates is True

    def test_custom_query_validated_and_saved(self, tmp_path, sf_dir):
        cfg = self._bootstrap(tmp_path, sf_dir)
        res = _run(
            ["wizard", "--config", cfg],
            "6\ncustomer\nSELECT c_custkey FROM customer\n7\n",
        )
        assert res.exit_code == 0, res.output
        loaded = Config.load(cfg)
        tc = loaded.get_table_config("customer")
        assert tc.query == "SELECT c_custkey FROM customer;"

    def test_custom_query_cte_rejected_config_unchanged(self, tmp_path, sf_dir):
        cfg = self._bootstrap(tmp_path, sf_dir)
        before = yaml.safe_load(open(cfg))
        res = _run(
            ["wizard", "--config", cfg],
            "6\ncustomer\nWITH x AS (SELECT 1) SELECT * FROM x\n7\n",
        )
        assert res.exit_code == 0, res.output
        assert "Invalid query" in res.output
        assert yaml.safe_load(open(cfg)) == before

    def test_generate_ignored_columns_records_rules(self, spark, tmp_path, sf_dir):
        import duckdb

        db1 = str(tmp_path / "db1")
        db2 = str(tmp_path / "db2")
        os.makedirs(db1), os.makedirs(db2)
        con = duckdb.connect()
        con.execute(
            f"COPY (SELECT * FROM '{sf_dir}/customer.parquet') "
            f"TO '{db1}/customer.parquet' (FORMAT PARQUET)"
        )
        # db2: c_custkey shifted out of overlap → suggested ignorable
        con.execute(
            f"COPY (SELECT * REPLACE (c_custkey + 1000000 AS c_custkey) "
            f"FROM '{sf_dir}/customer.parquet') "
            f"TO '{db2}/customer.parquet' (FORMAT PARQUET)"
        )
        cfg = str(tmp_path / "wiz.yaml")
        Config(db1_path=db1, db2_path=db2).write(cfg)

        from lotad_spark.config_wizard import ConfigWizard

        wiz = ConfigWizard(Config.load(cfg), cfg, spark=spark)
        runner_input = "y\n"  # confirm adding the suggested rules
        from click.testing import CliRunner as _R

        with _R().isolation(input=runner_input):
            wiz.run_generate_ignored_columns()
        loaded = Config.load(cfg)
        tc = loaded.get_table_config("customer")
        assert tc is not None and "c_custkey" in tc.ignore_columns


class TestSqliteSideSuggestions:
    """Suggestions open each side the way ``run`` does, so a SQLite file
    side lists its tables instead of reading as an empty parquet dir."""

    @staticmethod
    def _sides(tmp_path, sf_dir):
        import pandas as pd

        from lotad_spark.sources import write_sqlite

        cust = pd.read_parquet(f"{sf_dir}/customer.parquet")[
            ["c_custkey", "c_name"]
        ]
        db1 = tmp_path / "db1"
        db1.mkdir()
        cust.to_parquet(db1 / "customer.parquet")
        db2 = str(tmp_path / "db2.sqlite")
        # c_custkey shifted out of overlap → suggested ignorable
        write_sqlite(cust.assign(c_custkey=cust.c_custkey + 1000000), db2, "customer")
        return str(db1), db2

    def test_cli_suggests_for_sqlite_side(self, spark, tmp_path, sf_dir):
        db1, db2 = self._sides(tmp_path, sf_dir)
        res = _run(["suggest-ignore-columns", "--db1", db1, "--db2", db2], "")
        assert res.exit_code == 0, res.output
        assert "customer: c_custkey" in res.output.splitlines()

    def test_wizard_suggests_for_sqlite_side(self, spark, tmp_path, sf_dir):
        from lotad_spark.config_wizard import ConfigWizard

        db1, db2 = self._sides(tmp_path, sf_dir)
        cfg = str(tmp_path / "wiz.yaml")
        Config(db1_path=db1, db2_path=db2).write(cfg)
        wiz = ConfigWizard(Config.load(cfg), cfg, spark=spark)
        with CliRunner().isolation(input="y\n"):
            wiz.run_generate_ignored_columns()
        tc = Config.load(cfg).get_table_config("customer")
        assert tc is not None and tc.ignore_columns == ["c_custkey"]
