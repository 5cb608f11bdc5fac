"""Spark 4 Python Data Sources: the distributed spreadsheet SINKS
``df.write.format("cellbase_xlsx")`` / ``format("cellbase_ods")`` and the
``format("cellbase_replay")`` streaming source.

The sinks write one part-N.<fmt> workbook per partition, executor-side,
through the stdlib writers in sources/excel.py and sources/ods.py. Read
the files back with sources/grid.read_sheet_table (fmt='xlsx'|'ods'),
the engine's one spreadsheet reader.

Usage:
    spark.dataSource.register(XlsxDataSource)
    df.write.format("cellbase_xlsx").mode("overwrite").save("/path/to/dir")
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


def _write_sheet(fmt: str, rows: list[list], path: str, header: list[str]) -> None:
    if fmt == "ods":
        from cellbase_spark.sources.ods import write_ods

        write_ods(rows, path, header=header)
        return
    from cellbase_spark.sources.excel import write_xlsx

    write_xlsx(rows, path, header=header)


class XlsxDataSource(DataSource):
    """format("cellbase_xlsx"): distributed .xlsx sink (write-only)."""

    FMT = "xlsx"

    @classmethod
    def name(cls) -> str:
        return f"cellbase_{cls.FMT}"

    def writer(self, schema: StructType, overwrite: bool) -> "SheetWriter":
        return SheetWriter(schema, self.options, overwrite, self.FMT)


class OdsDataSource(XlsxDataSource):
    """format("cellbase_ods"): the OpenDocument face of the same sink —
    identical sink/commit protocol; only the cell grid codec differs
    (sources/ods.py vs sources/excel.py)."""

    FMT = "ods"


class XlsxCommitMessage(WriterCommitMessage):
    """Carries the filename a task wrote (None for empty partitions) so
    commit() can distinguish this job's parts from stale ones."""

    def __init__(self, filename: str | None):
        self.filename = filename


class SheetWriter(DataSourceWriter):
    """Distributed spreadsheet SINK (xlsx or ods): each partition writes
    one part-<N>.<fmt> workbook into the target directory — the same
    one-file-per-task layout every Spark file sink uses, so a TB-scale
    export fans out instead of funnelling through the driver (contrast
    api.CellBase.export_workbook, the deliberate single-small-file
    path). Commit is rename-free because workbook filenames embed the
    partition id: tasks are idempotent under retry (same id -> same
    file, last write wins). mode("overwrite") is honoured at commit():
    each task reports its filename in the commit message and commit
    deletes any pre-existing part-*.<fmt> NOT written by this job, so a
    re-write with fewer partitions cannot leave stale parts behind
    (previously overwrite silently behaved as append)."""

    def __init__(
        self, schema: StructType, options: dict, overwrite: bool, fmt: str = "xlsx"
    ):
        self._header = [f.name for f in schema.fields]
        self._fmt = fmt
        self._path = options.get("path")
        if not self._path:
            raise ValueError(f"cellbase_{fmt} write needs .save(<dir>)")
        self._overwrite = overwrite

    def write(self, iterator) -> WriterCommitMessage:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self._path, exist_ok=True)
        rows = [[row[c] for c in self._header] for row in iterator]
        name = f"part-{pid:05d}.{self._fmt}"
        if rows:  # empty partitions write nothing, like the parquet sink
            _write_sheet(
                self._fmt, rows, os.path.join(self._path, name), self._header
            )
            return XlsxCommitMessage(name)
        return XlsxCommitMessage(None)

    def commit(self, messages) -> None:
        # Files are final where they were written (see class doc); the
        # only commit-time work is overwrite cleanup: drop parts that
        # belonged to a previous job and were not re-written by this one.
        if not self._overwrite:
            return
        written = {
            m.filename
            for m in messages
            if isinstance(m, XlsxCommitMessage) and m.filename
        }
        for old in glob.glob(os.path.join(self._path, f"part-*.{self._fmt}")):
            if os.path.basename(old) not in written:
                os.remove(old)

    def abort(self, messages) -> None:
        pass


class ReplayDataSource(DataSource):
    """format("cellbase_replay"): STREAMING source that replays a parquet
    table in N deterministic micro-batches (rows in file order, split
    into contiguous slices) — the custom-source face of stream testing:
    unlike the file source, arrival is multi-batch by construction, so
    cross-batch state/watermark behavior is exercised on a single file.

    Partition-based Arrow reader (optimization r16, guide §4): the r15
    form used SimpleDataSourceStreamReader — the DRIVER parsed the
    parquet to Python tuples and every micro-batch pickled its slice row
    by row through the Python worker (the exact per-row boundary cost
    guide §4 exists to remove; measured as most of q_stream_run_replay's
    runtime). Now partitions() plans one InputPartition per micro-batch
    slice and read() yields pyarrow RecordBatches sliced zero-copy from
    the executor's own parquet read — rows cross as Arrow columns, never
    as pickled tuples. Offsets are unchanged ({"batch": i}, one slice
    advance per trigger), so arrival order, batch boundaries and
    recovery replay (partitions(start, end) covers any committed range)
    are identical to the r15 source.
    """

    @classmethod
    def name(cls) -> str:
        return "cellbase_replay"

    def schema(self) -> StructType | str:
        raise ValueError("cellbase_replay requires an explicit .schema(...)")

    def streamReader(self, schema: StructType) -> "ReplayStreamReader":
        return ReplayStreamReader(schema, self.options)


class _ReplaySlice(InputPartition):
    def __init__(self, path: str, fields: list[str], arrow_schema, start: int, length: int):
        self.path = path
        self.fields = fields
        self.arrow_schema = arrow_schema
        self.start = start
        self.length = length


class ReplayStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("cellbase_replay needs option('path', <parquet>)")
        self._n_batches = int(options.get("batches", "4"))
        self._fields = [f.name for f in schema.fields]
        # The arrow schema Spark's worker would build for the tuple path
        # (to_arrow_schema of the declared schema): read() casts each
        # slice to it, so the JVM sees byte-identical arrow types whether
        # rows arrive as tuples or as RecordBatches.
        from pyspark.sql.pandas.types import to_arrow_schema

        self._arrow_schema = to_arrow_schema(schema)
        self._n_rows: int | None = None
        self._pos = 0

    def _rows_total(self) -> int:
        if self._n_rows is None:
            import pyarrow.parquet as pq

            self._n_rows = pq.ParquetFile(self._path).metadata.num_rows
        return self._n_rows

    def initialOffset(self) -> dict:
        return {"batch": 0}

    def latestOffset(self) -> dict:
        # one slice per trigger: multi-batch arrival by construction
        self._pos = min(self._pos + 1, self._n_batches)
        return {"batch": self._pos}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # Restart ratchet (defensive — every engine key starts this
        # source fresh): a reader resumed against an existing checkpoint
        # sees the committed offset here as `start`; advancing _pos to it
        # keeps the next latestOffset() monotonic instead of re-reporting
        # already-committed batches as "no new data".
        self._pos = max(self._pos, int(end.get("batch", 0)))
        n = self._rows_total()
        per = max(1, -(-n // self._n_batches))  # ceil div, same as r15
        return [
            _ReplaySlice(self._path, self._fields, self._arrow_schema, i * per, per)
            for i in range(start["batch"], end["batch"])
        ]

    def read(self, partition: _ReplaySlice) -> Iterator:
        import pyarrow.parquet as pq

        table = pq.read_table(partition.path, columns=partition.fields)
        sliced = table.slice(partition.start, partition.length)
        yield from sliced.cast(partition.arrow_schema).to_batches()

    def commit(self, end: dict) -> None:
        pass  # nothing to clean: the parquet file is immutable


def register(spark) -> None:
    """Idempotent registration of the cellbase Python data sources."""
    spark.dataSource.register(XlsxDataSource)
    spark.dataSource.register(OdsDataSource)
    spark.dataSource.register(ReplayDataSource)
