"""Spreadsheet table sources beyond io.py's parquet/CSV/JSONL.

grid: the one distributed spreadsheet reader — read_sheet_table and
read_workbook, fmt='xlsx' or 'ods' (binaryFile + stdlib parse).
excel / ods: the stdlib-only codecs for the reference's native .xlsx and
LibreOffice's .ods (no external packages required).
pyds: the distributed format("cellbase_xlsx"/"cellbase_ods") sinks and
the format("cellbase_replay") streaming source.
"""

from cellbase_spark.sources.excel import parse_xlsx_bytes, write_xlsx  # noqa: F401
from cellbase_spark.sources.grid import read_sheet_table, read_workbook  # noqa: F401
from cellbase_spark.sources.ods import parse_ods_bytes, write_ods  # noqa: F401
