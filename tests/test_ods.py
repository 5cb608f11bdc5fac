"""Stdlib .ods codec (sources/ods.py): ODF writer/parser round-trips,
the ODF cell model (typed attributes, text:p fallback, run-length
repeats, covered cells), .ods workbooks through the one reader
(sources/grid.py), and the distributed format("cellbase_ods") sink."""

from __future__ import annotations

import zipfile

import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cellbase_spark.sources.grid import read_sheet_table, read_workbook
from cellbase_spark.sources.ods import (
    list_sheets,
    parse_ods_bytes,
    write_ods,
    write_ods_workbook,
)


def test_parse_roundtrip_types(tmp_path):
    path = str(tmp_path / "t.ods")
    write_ods(
        [[1, "alpha & <beta>", 1.5, True], [2, "", -3.25, False], [3, None, 0.0, True]],
        path,
        header=["id", "name", "score", "flag"],
    )
    grid = parse_ods_bytes(open(path, "rb").read())
    assert grid[0] == ["id", "name", "score", "flag"]
    assert grid[1] == ["1", "alpha & <beta>", "1.5", "true"]
    assert grid[2][2] == "-3.25" and grid[2][3] == "false"
    assert grid[3][1] is None  # gap cell stays a gap


def test_package_shape_is_spec_conforming(tmp_path):
    """The ODF sniffing contract: `mimetype` member FIRST and STORED
    (uncompressed), so the media type is readable at fixed byte offset."""
    path = str(tmp_path / "t.ods")
    write_ods([[1]], path, header=["id"])
    with zipfile.ZipFile(path) as zf:
        infos = zf.infolist()
        assert infos[0].filename == "mimetype"
        assert infos[0].compress_type == zipfile.ZIP_STORED
        assert zf.read("mimetype") == b"application/vnd.oasis.opendocument.spreadsheet"
        assert "META-INF/manifest.xml" in zf.namelist()
    raw = open(path, "rb").read()
    # media type at the fixed offset: 30-byte local header + name
    assert raw[30 + len("mimetype"):].startswith(
        b"application/vnd.oasis.opendocument.spreadsheet"
    )


def _ods_with_content(tmp_path, tables_xml: str) -> bytes:
    """Hand-authored content.xml wrapped in a minimal package — for the
    ODF constructs our writer never emits (repeats, covered cells,
    string-value attributes)."""
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        "<office:document-content "
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        f"<office:body><office:spreadsheet>{tables_xml}"
        "</office:spreadsheet></office:body></office:document-content>"
    )
    p = tmp_path / "hand.ods"
    with zipfile.ZipFile(p, "w") as zf:
        info = zipfile.ZipInfo("mimetype")
        info.compress_type = zipfile.ZIP_STORED
        zf.writestr(info, "application/vnd.oasis.opendocument.spreadsheet")
        zf.writestr("content.xml", content)
    return open(p, "rb").read()


def test_column_repeat_expansion_and_padding_trim(tmp_path):
    """table:number-columns-repeated expands for real values but a
    trailing 16384-wide empty pad must TRIM, not materialize."""
    data = _ods_with_content(
        tmp_path,
        '<table:table table:name="s">'
        "<table:table-row>"
        '<table:table-cell office:value-type="float" office:value="7" '
        'table:number-columns-repeated="3"><text:p>7</text:p></table:table-cell>'
        '<table:table-cell table:number-columns-repeated="16381"/>'
        "</table:table-row>"
        "</table:table>",
    )
    grid = parse_ods_bytes(data)
    assert grid == [["7", "7", "7"]]


def test_row_repeat_and_interior_empty_rows(tmp_path):
    """number-rows-repeated duplicates content rows; interior empty rows
    survive as real grid rows while trailing empty padding trims."""
    data = _ods_with_content(
        tmp_path,
        '<table:table table:name="s">'
        '<table:table-row table:number-rows-repeated="2">'
        '<table:table-cell office:value-type="float" office:value="1"><text:p>1</text:p></table:table-cell>'
        "</table:table-row>"
        "<table:table-row><table:table-cell/></table:table-row>"
        "<table:table-row>"
        '<table:table-cell office:value-type="float" office:value="2"><text:p>2</text:p></table:table-cell>'
        "</table:table-row>"
        '<table:table-row table:number-rows-repeated="1048570"><table:table-cell/></table:table-row>'
        "</table:table>",
    )
    grid = parse_ods_bytes(data)
    assert grid == [["1"], ["1"], [None], ["2"]]


def test_typed_attribute_beats_display_text(tmp_path):
    """For typed cells the office:value ATTRIBUTE is authoritative — the
    text:p body is locale-formatted display (e.g. '1,234.50')."""
    data = _ods_with_content(
        tmp_path,
        '<table:table table:name="s"><table:table-row>'
        '<table:table-cell office:value-type="float" office:value="1234.5">'
        "<text:p>1,234.50</text:p></table:table-cell>"
        '<table:table-cell office:value-type="string" office:string-value="attr wins">'
        "<text:p>display text</text:p></table:table-cell>"
        '<table:table-cell office:value-type="string">'
        "<text:p>body fallback</text:p></table:table-cell>"
        '<table:table-cell office:value-type="date" office:date-value="1995-03-15">'
        "<text:p>Mar 15, 95</text:p></table:table-cell>"
        "</table:table-row></table:table>",
    )
    assert parse_ods_bytes(data) == [
        ["1234.5", "attr wins", "body fallback", "1995-03-15"]
    ]


def test_covered_cells_hold_grid_position(tmp_path):
    """Merged-cell shadows occupy their columns with no value."""
    data = _ods_with_content(
        tmp_path,
        '<table:table table:name="s"><table:table-row>'
        '<table:table-cell office:value-type="string" table:number-columns-spanned="2">'
        "<text:p>wide</text:p></table:table-cell>"
        "<table:covered-table-cell/>"
        '<table:table-cell office:value-type="float" office:value="9"><text:p>9</text:p></table:table-cell>'
        "</table:table-row></table:table>",
    )
    assert parse_ods_bytes(data) == [["wide", None, "9"]]


def test_hostile_nonempty_repeat_raises(tmp_path):
    data = _ods_with_content(
        tmp_path,
        '<table:table table:name="s"><table:table-row>'
        '<table:table-cell office:value-type="float" office:value="1" '
        'table:number-columns-repeated="99999999"><text:p>1</text:p></table:table-cell>'
        "</table:table-row></table:table>",
    )
    with pytest.raises(ValueError, match="sanity bound"):
        parse_ods_bytes(data)


def test_not_an_odf_package_raises():
    import io

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("something.txt", "nope")
    with pytest.raises(ValueError, match="content.xml"):
        parse_ods_bytes(buf.getvalue())


def test_multisheet_and_sheet_selection(tmp_path):
    path = str(tmp_path / "wb.ods")
    write_ods_workbook(
        {
            "people": (["id", "name"], [[1, "ada"], [2, "bob"]]),
            "scores": (["id", "score"], [[1, 9.5], [2, 7.25]]),
        },
        path,
    )
    data = open(path, "rb").read()
    assert list_sheets(data) == ["people", "scores"]
    assert parse_ods_bytes(data, sheet_name="scores")[1] == ["1", "9.5"]
    assert parse_ods_bytes(data, sheet_index=1)[0] == ["id", "score"]
    with pytest.raises(KeyError):
        parse_ods_bytes(data, sheet_name="nope")
    with pytest.raises(IndexError):
        parse_ods_bytes(data, sheet_index=2)


def test_workbook_join_roundtrip(spark, tmp_path):
    path = str(tmp_path / "db.ods")
    write_ods_workbook(
        {
            "people": (["id", "name"], [[1, "ada"], [2, "bob"]]),
            "scores": (["id", "score"], [[1, 9.5], [2, 7.25]]),
        },
        path,
    )
    tables = read_workbook(
        spark,
        str(tmp_path),
        {
            "people": StructType(
                [StructField("id", LongType()), StructField("name", StringType())]
            ),
            "scores": StructType(
                [StructField("id", LongType()), StructField("score", DoubleType())]
            ),
        },
        "ods",
    )
    joined = tables["people"].join(tables["scores"], "id").orderBy("id").collect()
    assert [(r.id, r.name, r.score) for r in joined] == [(1, "ada", 9.5), (2, "bob", 7.25)]


def test_python_datasource_ods_roundtrip(spark, tmp_path):
    """Registered format('cellbase_ods'): distributed sink (one part-N.ods
    per partition) then a typed read-back through the one reader;
    overwrite drops stale parts like the xlsx face."""
    import os

    from pyspark.sql.types import LongType

    from cellbase_spark.sources.pyds import register as register_pyds

    register_pyds(spark)
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5), (4, "d", 4.5)],
        "id long, name string, score double",
    )
    out = str(tmp_path / "ods_sink")
    df.repartition(3).write.format("cellbase_ods").mode("append").save(out)
    parts = [f for f in os.listdir(out) if f.endswith(".ods")]
    # one file per NON-EMPTY partition (round-robin may leave one empty)
    assert 2 <= len(parts) <= 3
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    back = read_sheet_table(spark, out, schema, "ods")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # overwrite with fewer partitions drops the stale third part
    df.limit(2).repartition(1).write.format("cellbase_ods").mode(
        "overwrite"
    ).save(out)
    assert len([f for f in os.listdir(out) if f.endswith(".ods")]) == 1
    assert read_sheet_table(spark, out, schema, "ods").count() == 2


def test_hostile_inputs_fail_loudly_and_typed(tmp_path):
    """The codec-family boundary discipline applied to ODS: corrupt
    zips, truncated members, malformed XML and spec-violating repeats
    all raise ValueError naming the layer — never a raw zlib/zip/expat
    error, never a silent partial grid."""
    import io
    import os
    import random
    import time

    p = str(tmp_path / "v.ods")
    write_ods([[1, "a", 1.5], [2, "b", -3.0]], p, header=["i", "s", "x"])
    valid = open(p, "rb").read()

    random.seed(7)
    for trial in range(200):
        b = bytearray(valid)
        mode = trial % 3
        if mode == 0:
            i = random.randrange(len(b)); b[i] ^= 1 << random.randrange(8)
        elif mode == 1:
            b = b[: random.randrange(1, len(b))]
        else:
            i = random.randrange(len(b))
            b[i:i + random.randrange(1, 30)] = os.urandom(random.randrange(1, 30))
        t0 = time.monotonic()
        try:
            g = parse_ods_bytes(bytes(b))
            assert all(len(r) <= 16384 for r in g)  # never a mega-row
        except ValueError:
            pass  # the ONLY sanctioned failure type
        assert time.monotonic() - t0 < 2.0

    # spec-violating repeats: non-numeric raises, <1 clamps to 1
    data = _ods_with_content(
        tmp_path,
        '<table:table table:name="s"><table:table-row '
        'table:number-rows-repeated="0">'
        '<table:table-cell office:value-type="float" office:value="9">'
        "<text:p>9</text:p></table:table-cell></table:table-row></table:table>",
    )
    assert parse_ods_bytes(data) == [["9"]]
    data = _ods_with_content(
        tmp_path,
        '<table:table table:name="s"><table:table-row>'
        '<table:table-cell table:number-columns-repeated="banana"/>'
        "</table:table-row></table:table>",
    )
    with pytest.raises(ValueError, match="non-numeric repeat"):
        parse_ods_bytes(data)


def test_interior_empty_row_expansion_is_capped(tmp_path):
    """A tiny file must not materialize millions of phantom rows: an
    interior empty-row repeat whose flush would exceed the ODF grid row
    limit raises the typed ValueError instead of expanding (r12 advice —
    the empty-row counterpart of the non-empty sanity bound). Trailing
    empty padding of any size still trims for free."""
    hostile = _ods_with_content(
        tmp_path,
        '<table:table table:name="s">'
        '<table:table-cell/>'  # ignored (not a row)
        "<table:table-row>"
        '<table:table-cell office:value-type="float" office:value="1">'
        "<text:p>1</text:p></table:table-cell></table:table-row>"
        '<table:table-row table:number-rows-repeated="3000000">'
        "<table:table-cell/></table:table-row>"
        "<table:table-row>"
        '<table:table-cell office:value-type="float" office:value="2">'
        "<text:p>2</text:p></table:table-cell></table:table-row>"
        "</table:table>",
    )
    with pytest.raises(ValueError, match="ODF row limit"):
        parse_ods_bytes(hostile)

    # an in-bounds interior run still materializes as real grid rows
    ok = _ods_with_content(
        tmp_path,
        '<table:table table:name="s">'
        "<table:table-row>"
        '<table:table-cell office:value-type="float" office:value="1">'
        "<text:p>1</text:p></table:table-cell></table:table-row>"
        '<table:table-row table:number-rows-repeated="3">'
        "<table:table-cell/></table:table-row>"
        "<table:table-row>"
        '<table:table-cell office:value-type="float" office:value="2">'
        "<text:p>2</text:p></table:table-cell></table:table-row>"
        "</table:table>",
    )
    assert parse_ods_bytes(ok) == [["1"], [None], [None], [None], ["2"]]


def test_encrypted_and_exotic_zip_members_fail_typed(tmp_path):
    """zipfile surfaces an encrypted member as RuntimeError and an
    unsupported compression method as NotImplementedError; both must
    come out of the kernel as the module's typed ValueError (r12
    advice — 'never a raw zip error')."""
    p = str(tmp_path / "v2.ods")
    write_ods([[1]], p, header=["i"])
    valid = open(p, "rb").read()
    # zip member layout: local header filename at +30 (flags at +6,
    # method at +8); central directory filename at +46 (flags at +8,
    # method at +10).
    idx = valid.find(b"content.xml")  # local header occurrence
    cidx = valid.rfind(b"content.xml")  # central-directory occurrence

    # encrypted content.xml: flip the encryption flag bit on the member
    enc = bytearray(valid)
    enc[idx - 24] |= 0x1
    enc[cidx - 38] |= 0x1
    with pytest.raises(ValueError, match="corrupt ODF zip"):
        parse_ods_bytes(bytes(enc))

    # unsupported compression method id (zipfile: NotImplementedError)
    weird = bytearray(valid)
    weird[idx - 22:idx - 20] = (99).to_bytes(2, "little")
    weird[cidx - 36:cidx - 34] = (99).to_bytes(2, "little")
    with pytest.raises(ValueError, match="corrupt ODF zip"):
        parse_ods_bytes(bytes(weird))


def test_duplicate_declared_header_is_ambiguous_in_strict(spark, tmp_path):
    """A declared column appearing twice in a sheet header is a drift
    shape strict must refuse (silent first-wins was the old behavior);
    evolve keeps the deterministic first-occurrence rule."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    d = tmp_path / "dup"
    d.mkdir()
    write_ods([[1, "a", 9]], str(d / "t.ods"), header=["k", "v", "k"])
    schema = StructType(
        [StructField("k", IntegerType()), StructField("v", StringType())]
    )
    with pytest.raises(Exception, match="duplicated in the sheet header.*'k'"):
        read_sheet_table(spark, str(d), schema, "ods").collect()
    got = read_sheet_table(
        spark, str(d), schema, "ods", schema_mode="evolve"
    ).collect()
    assert [(r.k, r.v) for r in got] == [(1, "a")]
