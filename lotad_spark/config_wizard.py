"""Interactive config wizard — the reference's menu-driven config builder
(lotad/config_wizard.py:380-429) on click prompts instead of questionary
(no extra dependency; fully scriptable through stdin, which is also how
the tests drive it).

Flow parity:

* missing config file → collect both database endpoints + ignore_dates,
  write the file immediately (reference cli_start, config_wizard.py:395-409);
* then a menu loop with the same actions, "Done." last
  (config_wizard.py:381-388,411-429): generate ignored columns, set
  ignored tables, set target tables, set output path, set ignore-dates,
  set a custom query;
* every mutating action re-writes the config file (the reference's
  builder methods each call ``self.config.write()``).

The analytic action (generate ignored columns) runs the BATCHED
``suggest_ignore_columns`` probe — one Spark pass for all columns of a
table regardless of width (reference: one query per column,
config_wizard.py:101-147).
"""

from __future__ import annotations

import os

import click

from lotad_spark.config import Config, TableRule, TableRuleType, database_from_config


MENU = [
    ("Generate ignored columns for tables.", "run_generate_ignored_columns"),
    ("Set the list of ignored tables.", "update_ignore_tables"),
    ("Set the list of target tables.", "update_target_tables"),
    ("Set the path where the drift output will be written.", "update_output_path"),
    ("Set ignore date behavior for config.", "update_ignore_dates"),
    ("Set a custom query for a table.", "update_custom_query"),
    ("Done.", "exit"),
]


class ConfigWizard:
    """Menu-driven builder over a :class:`lotad_spark.config.Config`."""

    def __init__(self, config: Config, config_path: str, spark=None):
        self.config = config
        self.config_path = config_path
        self._spark = spark

    # ---- helpers ---------------------------------------------------------

    def _write(self) -> None:
        self.config.write(self.config_path)
        click.echo(f"Config written to {self.config_path}")

    def _spark_session(self):
        if self._spark is None:
            from lotad_spark.session import get_spark

            self._spark = get_spark("lotad_config_wizard")
        return self._spark

    @staticmethod
    def _csv_prompt(message: str) -> list[str]:
        raw = click.prompt(message, default="", show_default=False)
        return [t.strip() for t in raw.split(",") if t.strip()]

    # ---- menu actions (names mirror the reference's choice_map) ----------

    def run_generate_ignored_columns(self) -> None:
        """Probe value overlap per shared table and record zero-overlap
        columns as ignore_column rules (reference config_wizard.py:101-147),
        one batched Spark pass per table."""
        from lotad_spark.wizard import suggest_ignore_columns

        spark = self._spark_session()
        db1 = database_from_config(spark, self.config, "db1")
        db2 = database_from_config(spark, self.config, "db2")
        tables = sorted(set(db1.list_tables()) & set(db2.list_tables()))
        if self.config.target_tables:
            tables = [t for t in tables if t in set(self.config.target_tables)]
        for table in tables:
            suggested = suggest_ignore_columns(db1.table(table), db2.table(table))
            if not suggested:
                click.echo(f"{table}: no ignorable columns found")
                continue
            click.echo(f"{table}: suggested ignore columns: {', '.join(suggested)}")
            if click.confirm(f"Add these rules for {table}?", default=True):
                for col in suggested:
                    self.config.update_table_config(
                        table,
                        table_rule=TableRule(TableRuleType.IGNORE_COLUMN, col),
                    )
        self._write()

    def update_ignore_tables(self) -> None:
        self.config.ignore_tables = self._csv_prompt(
            "Tables to ignore (comma-separated)"
        )
        self._write()

    def update_target_tables(self) -> None:
        self.config.target_tables = self._csv_prompt(
            "Target tables (comma-separated, empty for all)"
        )
        self._write()

    def update_output_path(self) -> None:
        self.config.output_path = click.prompt(
            "Output path for the drift tables", default=self.config.output_path
        )
        self._write()

    def update_ignore_dates(self) -> None:
        self.config.ignore_dates = click.confirm(
            "Should all date columns be ignored?", default=self.config.ignore_dates
        )
        self._write()

    def update_custom_query(self) -> None:
        table = click.prompt("Which table is the query for?")
        query = click.prompt("Custom SQL (single line)")
        try:
            self.config.update_table_config(table, query=query)
        except ValueError as e:  # same validation errors as the reference
            click.echo(f"Invalid query: {e}")
            return
        self._write()

    # ---- entry point -----------------------------------------------------

    @classmethod
    def cli_start(cls, config_path: str | None = None, spark=None) -> None:
        if not config_path:
            config_path = click.prompt(
                "What is the path of the config file, including the file name?",
                default="",
                show_default=False,
            )
            if not config_path:
                return

        if os.path.exists(config_path):
            config = Config.load(config_path)
        else:
            click.echo(
                "It doesn't look like this config exists yet. "
                "Let me get a bit more information."
            )
            config = Config(
                db1_path=click.prompt("Path of the first database (parquet dir)"),
                db2_path=click.prompt("Path of the second database (parquet dir)"),
                ignore_dates=click.confirm(
                    "Should all date columns be ignored?", default=False
                ),
            )
            config.write(config_path)

        wizard = cls(config, config_path, spark=spark)
        labels = [label for label, _ in MENU]
        actions = dict(MENU)
        while True:
            for i, label in enumerate(labels, 1):
                click.echo(f"{i}. {label}")
            choice = click.prompt(
                "What would you like to do next?",
                type=click.IntRange(1, len(labels)),
            )
            label = labels[choice - 1]
            if actions[label] == "exit":
                return
            getattr(wizard, actions[label])()
