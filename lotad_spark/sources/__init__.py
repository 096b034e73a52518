"""Sources: Parquet table directories (primary), CSV/JSONL/ORC exports,
WARC crawl archives, JDBC."""

from lotad_spark.sources.files import CsvDatabase, JsonlDatabase, OrcDatabase
from lotad_spark.sources.parquet import ParquetDatabase, read_table
from lotad_spark.sources.sqlite_native import SqliteNativeDatabase, write_sqlite
from lotad_spark.sources.warc import read_warc, warc_http_text, write_warc_file
from lotad_spark.sources.zorder import zvalue

__all__ = [
    "CsvDatabase",
    "JsonlDatabase",
    "OrcDatabase",
    "ParquetDatabase",
    "SqliteNativeDatabase",
    "read_table",
    "read_warc",
    "warc_http_text",
    "write_warc_file",
    "write_sqlite",
    "zvalue",
]
