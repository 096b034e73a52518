"""Whole-database comparison orchestrator — the engine's main entry point.

Spark re-expression of the reference's ``DatabaseComparator.compare_all``
(lotad/db_compare.py:149-217):

1. catalog scan on both sides, table-name set logic → missing-table drift;
2. per shared table, each side opened ONCE: schema drift from the opened
   frames' schemas, then — for tables that pass the regex filters —
   row-level data drift via ``diff_tables`` over the same frames, written
   to the output dir; summary rows only for non-empty diffs (reference
   probes LIMIT 1, db_compare.py:356-364);
3. three summary tables + text report.

Concurrency: the reference fans out one OS process per table
(multiprocessing.Pool, db_compare.py:193). Here a driver ThreadPool submits
one Spark job chain per table, each thread in its own FAIR pool, and the
scheduler multiplexes executors —
tables run concurrently *and* each table's scan/join parallelizes across the
cluster, which the reference cannot do.
"""

from __future__ import annotations

import logging
import re
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from collections.abc import Iterable

from pyspark.errors import AnalysisException
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from lotad_spark.analysis import DriftAnalysis
from lotad_spark.drift import (
    TableDataDiff,
    TableSchemaDrift,
    generate_missing_table_drift,
    generate_table_schema_drift,
)
from lotad_spark.hashing import PROVENANCE_COL, sql_string
from lotad_spark.operators.diff import NoComparableColumns, diff_tables
from lotad_spark.sources.parquet import schema_types

# Driver threads submitting per-table job chains. Round-19 sweep,
# local[32] at sf0.1, min-of-3 warm: 2→6.39s, 3→5.08s, 4→4.39s,
# 6→4.97s, 8→5.61s → 4. That sweep predates the JVM row hash: every
# table then ran a Python stage, and the Py4J gateway plus the Python
# GIL serialized job submission past 4 threads. A drift run now starts
# no Python process, so the value is not re-priced for the current
# plan; re-sweep it before changing it.
MAX_CONCURRENT_TABLES = 4
# compare_all's pool threads are named <prefix>_0 .. <prefix>_<workers-1>,
# and each thread's jobs run in the FAIR pool of its own name.
_POOL_PREFIX = "lotad_table"


@dataclass
class CompareResult:
    """Outcome of a full two-database comparison."""

    analysis: DriftAnalysis
    data_drift: list[TableDataDiff] = field(default_factory=list)
    compared_tables: list[str] = field(default_factory=list)

    def report(self) -> str:
        return self.analysis.render_report()


def _matches_any(patterns: Iterable[str], name: str) -> bool:
    """Case-insensitive prefix regex match (reference db_compare.py:197-202
    uses ``re.match``)."""
    return any(re.match(p, name, re.IGNORECASE) for p in patterns)


class DatabaseComparator:
    """Compares two database sources (any objects exposing ``db_id``,
    ``list_tables()`` and ``table(name)`` — see ``ParquetDatabase`` /
    ``DictDatabase``)."""

    def __init__(
        self,
        spark: SparkSession,
        db1,
        db2,
        *,
        output_path: str,
        ignore_dates: bool = False,
        ignore_tables: Iterable[str] = (),
        target_tables: Iterable[str] = (),
        table_ignore_columns: dict[str, list[str]] | None = None,
        table_queries: dict[str, str] | None = None,
    ):
        if db1.db_id == db2.db_id:
            raise ValueError(
                f"DatabaseComparator: both databases have db_id {db1.db_id!r}; "
                "the per-side counts and summary tables need distinct ids"
            )
        self.spark = spark
        self.db1 = db1
        self.db2 = db2
        self.ignore_dates = ignore_dates
        self.ignore_tables = list(ignore_tables)
        self.target_tables = list(target_tables)
        self.table_ignore_columns = table_ignore_columns or {}
        self.table_queries = table_queries or {}
        self.analysis = DriftAnalysis(spark, output_path, db1.db_id, db2.db_id)

    # ---- per-table work ----

    def _side_frames(self, table_name: str, df1, df2):
        """Default: the opened table frames. With a configured custom
        query, the query result replaces the scan on BOTH sides (Q3,
        reference db_compare.py:241-264)."""
        query = self.table_queries.get(table_name)
        if not query:
            return df1, df2
        from lotad_spark.operators.custom_query import custom_query_frame

        return (
            custom_query_frame(
                self.spark, self.db1, query,
                view_prefix=f"_lotad_db1_{table_name}",
            ),
            custom_query_frame(
                self.spark, self.db2, query,
                view_prefix=f"_lotad_db2_{table_name}",
            ),
        )

    def _compare_one(
        self, table_name: str, compare_data: bool
    ) -> tuple[list[TableSchemaDrift], TableDataDiff | None]:
        """Open both sides of one shared table once; return its schema
        drift and, when ``compare_data``, its data drift from the same
        frames.

        Catalog-class failures (table vanished between list and scan,
        unreadable path, missing column) skip THIS table and let the rest
        of the run complete — the reference warns and continues on
        duckdb.CatalogException (db_compare.py:366-369) and raises on
        everything else (db_compare.py:370-377). AnalysisException is the
        Spark face of the same error class; FileNotFoundError is what the
        parquet source's footer probe raises for a listed file that is
        gone. Schema drift already computed survives a later data-drift
        failure. A table whose ignore rules leave no column to compare
        keeps its schema drift and skips its data drift."""
        schema_drift: list[TableSchemaDrift] = []
        try:
            df1, df2 = self.db1.table(table_name), self.db2.table(table_name)
            schema_drift = generate_table_schema_drift(
                table_name,
                self.db1.db_id,
                schema_types(df1.schema, self.ignore_dates),
                self.db2.db_id,
                schema_types(df2.schema, self.ignore_dates),
            )
            if compare_data:
                return schema_drift, self._data_drift(table_name, df1, df2)
        except (AnalysisException, FileNotFoundError) as err:
            logging.getLogger(__name__).warning(
                "Failed to process table %s: %s", table_name, err
            )
        except NoComparableColumns as err:
            logging.getLogger(__name__).warning(
                "Skipping data drift of table %s: %s", table_name, err
            )
        return schema_drift, None

    def _data_drift(self, table_name: str, df1, df2) -> TableDataDiff | None:
        df1, df2 = self._side_frames(table_name, df1, df2)
        result = diff_tables(
            df1,
            df2,
            db1_id=self.db1.db_id,
            db2_id=self.db2.db_id,
            ignore_columns=self.table_ignore_columns.get(table_name, []),
            ignore_dates=self.ignore_dates,
            table_name=table_name,
        )
        # ONE execution, ONE Spark job: materialize straight to the sink with
        # an ``observe`` hook collecting the per-side counts as accumulator
        # metrics of the write job itself — no persist, no re-read, no
        # second count job (mirrors the reference's CTAS-then-aggregate
        # shape, db_compare.py:308-312,356-364, minus its extra scan). Each
        # running table is also pinned to its own FAIR pool so a big table's
        # write can't starve the small ones submitted by sibling threads.
        # The pool is the submitting thread's slot, not the table: Spark
        # never drops a pool, and sorts every pool on each resource offer,
        # so a pool per table name would pile up over a catalog.
        out_dir = self.analysis.table_dir(table_name)
        obs = Observation()
        observed = result.diff.observe(
            obs,
            *(
                F.expr(
                    f"count(CASE WHEN {PROVENANCE_COL} = {sql_string(db_id)} "
                    f"THEN 1 END) AS {name}"
                )
                for name, db_id in (("n1", self.db1.db_id), ("n2", self.db2.db_id))
            ),
        )
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", threading.current_thread().name
        )
        try:
            observed.write.mode("overwrite").parquet(out_dir)
        finally:
            self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
        counts = obs.get
        if counts["n1"] == 0 and counts["n2"] == 0:
            self._remove_dir(out_dir)
            return None
        return TableDataDiff(
            table_name=table_name,
            path=out_dir,
            rows_only_in_db1=counts["n1"],
            rows_only_in_db2=counts["n2"],
        )

    def _remove_dir(self, path: str) -> None:
        """Drop an empty drift dir via the Hadoop FileSystem API (works on
        any scheme — the reference only materializes non-empty diffs)."""
        jvm = self.spark.sparkContext._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)

    # ---- the main path ----

    def compare_all(self) -> CompareResult:
        tables1 = set(self.db1.list_tables())
        tables2 = set(self.db2.list_tables())
        shared = sorted(tables1 & tables2)

        missing = generate_missing_table_drift(
            self.db1.db_id, tables1, self.db2.db_id, tables2
        )
        if missing:
            self.analysis.add_missing_table_drift(missing)

        to_compare = [
            t
            for t in shared
            if not (self.ignore_tables and _matches_any(self.ignore_tables, t))
            and not (self.target_tables and not _matches_any(self.target_tables, t))
        ]

        # One pool task per shared table; pool.map yields in submission
        # (sorted) order, so records land in sorted table order.
        compare_data = set(to_compare)
        all_schema_drift = []
        drifted: list[TableDataDiff] = []
        workers = max(1, min(MAX_CONCURRENT_TABLES, len(shared)))
        with ThreadPoolExecutor(
            max_workers=workers, thread_name_prefix=_POOL_PREFIX
        ) as pool:
            for schema_drift, res in pool.map(
                lambda t: self._compare_one(t, t in compare_data), shared
            ):
                all_schema_drift.extend(schema_drift)
                if res is not None:
                    drifted.append(res)
        if all_schema_drift:
            self.analysis.add_schema_drift(all_schema_drift)
        for res in drifted:
            self.analysis.add_data_drift(res)

        self.analysis.write()
        return CompareResult(
            analysis=self.analysis,
            data_drift=drifted,
            compared_tables=to_compare,
        )


def compare_all(
    spark: SparkSession,
    db1,
    db2,
    *,
    output_path: str,
    **kwargs,
) -> CompareResult:
    """Functional convenience wrapper over ``DatabaseComparator``."""
    return DatabaseComparator(
        spark, db1, db2, output_path=output_path, **kwargs
    ).compare_all()
