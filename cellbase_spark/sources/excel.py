"""Excel (.xlsx) codec — the reference's native spreadsheet format.

The reference's whole workflow is 'author tables in spreadsheet software,
load them as a database' (SURVEY.md §1); CSV is the interchange fallback
but .xlsx is the format users actually save. No Excel package ships in
this environment, and none is needed: an .xlsx file is a zip of small XML
parts, fully parseable with the Python stdlib (zipfile + ElementTree).

The distributed scan over these grids is sources/grid.read_sheet_table
(fmt='xlsx'); this module parses and writes single workbooks.
"""

from __future__ import annotations

import io as _io
import re
import zipfile
from xml.etree import ElementTree

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int:
    """'A' -> 0, 'B' -> 1, ..., 'AA' -> 26 (base-26 bijective)."""
    n = 0
    for ch in ref:
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def sheet_paths(zf: zipfile.ZipFile) -> dict[str, str]:
    """Workbook sheet inventory: user-facing sheet name -> worksheet zip
    part, in workbook order. Resolution goes through xl/workbook.xml's
    <sheets> and the workbook rels (the OOXML contract — file numbering
    like sheet10.xml does NOT sort like workbook order). Falls back to
    positional sheetN.xml naming for minimal writers without rels."""
    names = zf.namelist()
    if "xl/workbook.xml" not in names:
        # Positional fallback must sort by the NUMERIC suffix: lexical
        # order puts sheet10.xml before sheet2.xml.
        found = sorted(
            (n for n in names if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)),
            key=lambda n: int(re.search(r"(\d+)\.xml$", n).group(1)),
        )
        return {f"Sheet{i + 1}": p for i, p in enumerate(found)}
    rels: dict[str, str] = {}
    if "xl/_rels/workbook.xml.rels" in names:
        for rel in ElementTree.fromstring(zf.read("xl/_rels/workbook.xml.rels")):
            rels[rel.get("Id") or ""] = rel.get("Target") or ""
    out: dict[str, str] = {}
    wb = ElementTree.fromstring(zf.read("xl/workbook.xml"))
    for i, sh in enumerate(wb.iter(f"{_NS}sheet")):
        target = rels.get(sh.get(f"{_R}id") or "", f"worksheets/sheet{i + 1}.xml")
        if not target.startswith("xl/"):
            target = "xl/" + target.lstrip("/")
        out[sh.get("name") or f"Sheet{i + 1}"] = target
    return out


def list_sheets(data: bytes) -> list[str]:
    """Sheet names of one workbook's bytes, in workbook order."""
    return list(sheet_paths(zipfile.ZipFile(_io.BytesIO(data))))


def parse_xlsx_bytes(
    data: bytes, sheet_index: int = 0, sheet_name: str | None = None
) -> list[list[str | None]]:
    """Parse one workbook sheet's bytes into a dense 2-D grid of cell
    strings — by name if given, else by workbook-order index.

    Supports shared strings, inline strings, booleans, and numeric cells —
    the cell types spreadsheet exports actually contain. Everything is
    surfaced as a string (the reference's model: cells are strings until
    coerced), with None for gaps.
    """
    zf = zipfile.ZipFile(_io.BytesIO(data))
    shared: list[str] = []
    if "xl/sharedStrings.xml" in zf.namelist():
        root = ElementTree.fromstring(zf.read("xl/sharedStrings.xml"))
        for si in root.iter(f"{_NS}si"):
            shared.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    sheets = sheet_paths(zf)
    if sheet_name is not None:
        if sheet_name not in sheets:
            raise KeyError(f"workbook sheets {list(sheets)}, wanted {sheet_name!r}")
        part = sheets[sheet_name]
    else:
        parts = list(sheets.values())
        if sheet_index >= len(parts):
            raise IndexError(f"workbook has {len(parts)} sheets, wanted {sheet_index}")
        part = parts[sheet_index]
    root = ElementTree.fromstring(zf.read(part))
    rows: list[list[str | None]] = []
    width = 0
    for row_el in root.iter(f"{_NS}row"):
        cells: dict[int, str | None] = {}
        for c in row_el.iter(f"{_NS}c"):
            ref = c.get("r") or ""
            m = _CELL_REF.fullmatch(ref)
            idx = _col_index(m.group(1)) if m else len(cells)
            ctype = c.get("t", "n")
            if ctype == "s":
                v = c.find(f"{_NS}v")
                cells[idx] = shared[int(v.text)] if v is not None else None
            elif ctype == "inlineStr":
                is_el = c.find(f"{_NS}is")
                cells[idx] = (
                    "".join(t.text or "" for t in is_el.iter(f"{_NS}t"))
                    if is_el is not None
                    else None
                )
            elif ctype == "b":
                v = c.find(f"{_NS}v")
                cells[idx] = None if v is None else ("true" if v.text == "1" else "false")
            else:  # numeric / formula-cached value / plain
                v = c.find(f"{_NS}v")
                cells[idx] = None if v is None else v.text
        width = max(width, max(cells, default=-1) + 1)
        rows.append(cells)  # type: ignore[arg-type]
    return [[r.get(i) for i in range(width)] for r in rows]  # type: ignore[union-attr]


def _sheet_xml(rows: list[list], header: list[str] | None) -> str:
    """One worksheet part: inline strings + numbers + booleans."""

    def esc(s: str) -> str:
        return (
            str(s).replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )

    def col_ref(i: int) -> str:
        ref = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            ref = chr(ord("A") + r) + ref
        return ref

    all_rows = ([header] if header else []) + [list(r) for r in rows]
    row_xml = []
    for rn, row in enumerate(all_rows, start=1):
        cells = []
        for ci, val in enumerate(row):
            ref = f"{col_ref(ci)}{rn}"
            if val is None:
                continue
            if isinstance(val, bool):
                cells.append(f'<c r="{ref}" t="b"><v>{1 if val else 0}</v></c>')
            elif isinstance(val, (int, float)):
                cells.append(f'<c r="{ref}"><v>{val!r}</v></c>')
            else:
                cells.append(
                    f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{esc(val)}</t></is></c>'
                )
        row_xml.append(f'<row r="{rn}">{"".join(cells)}</row>')
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f'<sheetData>{"".join(row_xml)}</sheetData></worksheet>'
    )


def write_xlsx_workbook(
    sheets: dict[str, tuple[list[str] | None, list[list]]], path: str
) -> None:
    """Multi-sheet .xlsx writer (stdlib only): `sheets` maps sheet name ->
    (header, rows), written in dict order — the reference's
    several-named-sheets-per-workbook unit, with real workbook.xml + rels
    so any OOXML reader resolves names to parts correctly."""
    names = list(sheets)
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        for i in range(len(names))
    )
    sheet_decls = "".join(
        f'<sheet name="{name}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, name in enumerate(names)
    )
    sheet_rels = "".join(
        f'<Relationship Id="rId{i + 1}" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        f'Target="worksheets/sheet{i + 1}.xml"/>'
        for i in range(len(names))
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            f"{overrides}</Types>",
        )
        zf.writestr(
            "_rels/.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>",
        )
        zf.writestr(
            "xl/workbook.xml",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            f"<sheets>{sheet_decls}</sheets></workbook>",
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f"{sheet_rels}</Relationships>",
        )
        for i, name in enumerate(names):
            header, rows = sheets[name]
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", _sheet_xml(rows, header))


def write_xlsx(rows: list[list], path: str, header: list[str] | None = None) -> None:
    """Single-sheet .xlsx writer (the common export case)."""
    write_xlsx_workbook({"Sheet1": (header, rows)}, path)
