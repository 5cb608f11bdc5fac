"""The one spreadsheet reader (sources/grid.py): read_sheet_table and
read_workbook over xlsx and ods — the binaryFile + mapInPandas scan, the
declared-schema cast, the generation-drift contract and the file match."""

from __future__ import annotations

import re

import pytest
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cellbase_spark.sources.excel import write_xlsx
from cellbase_spark.sources.grid import read_sheet_table
from cellbase_spark.sources.ods import write_ods

WRITERS = {"xlsx": write_xlsx, "ods": write_ods}
FMTS = pytest.mark.parametrize("fmt", sorted(WRITERS))


@FMTS
def test_distributed_scan_applies_schema(spark, tmp_path, fmt):
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
            StructField("flag", BooleanType()),
        ]
    )
    header = ["id", "name", "score", "flag"]
    # two workbooks in the directory -> two parse tasks, one union'd table
    WRITERS[fmt]([[1, "a", 1.5, True]], str(tmp_path / f"a.{fmt}"), header=header)
    WRITERS[fmt]([[2, "b", 2.5, False]], str(tmp_path / f"b.{fmt}"), header=header)
    df = read_sheet_table(spark, str(tmp_path), schema, fmt).orderBy("id")
    assert [f.dataType for f in df.schema.fields] == [
        LongType(), StringType(), DoubleType(), BooleanType()
    ]
    assert [tuple(r) for r in df.collect()] == [(1, "a", 1.5, True), (2, "b", 2.5, False)]


@FMTS
def test_header_reorder_is_respected(spark, tmp_path, fmt):
    # columns in the sheet in a different order than the declared schema
    schema = StructType([StructField("id", LongType()), StructField("name", StringType())])
    WRITERS[fmt]([["x", 7], ["y", 8]], str(tmp_path / f"c.{fmt}"), header=["name", "id"])
    rows = read_sheet_table(spark, str(tmp_path), schema, fmt).orderBy("id").collect()
    assert [tuple(r) for r in rows] == [(7, "x"), (8, "y")]


@FMTS
def test_schema_mode_contract(spark, tmp_path, fmt):
    """Generation drift is LOUD by default and serveable by opt-in
    (sources/grid.py, r12 verdict #4): strict raises a typed error
    naming the workbook and the drifted columns; evolve null-fills
    missing declared columns and ignores extra sheet columns."""
    write = WRITERS[fmt]
    gen1 = tmp_path / "gen1"
    gen2 = tmp_path / "gen2"
    both = tmp_path / "both"
    for d in (gen1, gen2, both):
        d.mkdir()
    write([[1, "a"], [2, "b"]], str(gen1 / f"t.{fmt}"), header=["k", "v"])
    write([[3, "c", 30]], str(gen2 / f"t.{fmt}"), header=["k", "v", "x"])
    # flat dir holding both generations (binaryFile does not recurse)
    write([[1, "a"], [2, "b"]], str(both / f"g1.{fmt}"), header=["k", "v"])
    write([[3, "c", 30]], str(both / f"g2.{fmt}"), header=["k", "v", "x"])

    wide = StructType([
        StructField("k", IntegerType()),
        StructField("v", StringType()),
        StructField("x", IntegerType()),
    ])
    narrow = StructType(wide.fields[:2])

    # strict (default): both drift directions raise, naming file + columns
    with pytest.raises(
        Exception, match=rf"gen1/t\.{fmt} sheet .*missing from the sheet.*'x'"
    ):
        read_sheet_table(spark, str(gen1), wide, fmt).collect()
    with pytest.raises(Exception, match="not in the declared schema.*'x'"):
        read_sheet_table(spark, str(gen2), narrow, fmt).collect()

    # evolve: old generation null-fills the new column...
    got = read_sheet_table(
        spark, str(both), wide, fmt, schema_mode="evolve"
    ).orderBy("k").collect()
    assert [(r.k, r.v, r.x) for r in got] == [
        (1, "a", None), (2, "b", None), (3, "c", 30)
    ]
    # ...and the old schema reads the declared projection of new files
    got2 = read_sheet_table(
        spark, str(gen2), narrow, fmt, schema_mode="evolve"
    ).collect()
    assert [(r.k, r.v) for r in got2] == [(3, "c")]

    # unknown mode is itself loud, driver-side at plan time
    with pytest.raises(ValueError, match="schema_mode"):
        read_sheet_table(spark, str(gen1), narrow, fmt, schema_mode="merge")


@FMTS
def test_no_matching_workbook_raises(spark, tmp_path, fmt):
    """A path with no *.<fmt> file is an error naming the path and the
    format, not an empty table."""
    (tmp_path / "notes.csv").write_text("k,v\n1,a\n")
    schema = StructType([StructField("k", LongType())])
    with pytest.raises(FileNotFoundError, match=rf"\*\.{fmt} .*{re.escape(str(tmp_path))}"):
        read_sheet_table(spark, str(tmp_path), schema, fmt)


def test_mixed_directory_reads_only_requested_format(spark, tmp_path):
    schema = StructType([StructField("k", LongType()), StructField("v", StringType())])
    write_xlsx([[1, "from_xlsx"]], str(tmp_path / "a.xlsx"), header=["k", "v"])
    write_ods([[2, "from_ods"]], str(tmp_path / "b.ods"), header=["k", "v"])
    for fmt, want in (("xlsx", [(1, "from_xlsx")]), ("ods", [(2, "from_ods")])):
        got = [tuple(r) for r in read_sheet_table(spark, str(tmp_path), schema, fmt).collect()]
        assert got == want, fmt


@FMTS
def test_single_file_path_reads_like_directory(spark, tmp_path, fmt):
    """The facade passes one workbook file; it must read exactly as the
    directory holding it."""
    schema = StructType([StructField("k", LongType()), StructField("v", StringType())])
    one = str(tmp_path / f"one.{fmt}")
    WRITERS[fmt]([[1, "a"], [2, "b"]], one, header=["k", "v"])
    by_file = sorted(map(tuple, read_sheet_table(spark, one, schema, fmt).collect()))
    by_dir = sorted(map(tuple, read_sheet_table(spark, str(tmp_path), schema, fmt).collect()))
    assert by_file == by_dir == [(1, "a"), (2, "b")]
