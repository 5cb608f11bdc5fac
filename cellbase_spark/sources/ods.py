"""OpenDocument spreadsheet (.ods) codec — the LibreOffice half of the
reference's author-in-spreadsheet-software workflow.

The reference's model is 'author tables in spreadsheet software, load
them as a database' (SURVEY.md §1); cellbase users on LibreOffice/
OpenOffice save .ods, not .xlsx. An .ods file is — like .xlsx — a zip
of small XML parts (ODF 1.2, OASIS public spec): one `content.xml`
holds every sheet as <table:table> of <table:table-row>/<table:table-cell>
elements, plus a stored-uncompressed `mimetype` member and a
META-INF/manifest.xml. All parseable with the Python stdlib
(zipfile + ElementTree) — same machinery as sources/excel.py.

The distributed scan over these grids is sources/grid.read_sheet_table
(fmt='ods'), the same reader as xlsx; this module parses and writes
single documents.

ODF specifics the parser must honor (vs the OOXML cell model):
- cells carry `office:value-type`; typed values live in attributes
  (`office:value`, `office:boolean-value`, `office:date-value`) with the
  display text in a child <text:p> — the ATTRIBUTE is authoritative for
  typed cells (the <text:p> is locale-formatted);
- run-length encoding: `table:number-columns-repeated` on cells and
  `table:number-rows-repeated` on rows (writers emit e.g. a single
  empty cell repeated 16384 times to pad to the grid) — repeats must be
  expanded for real content but trailing empty padding must be TRIMMED,
  or a 25-row sheet materializes a million phantom cells;
- covered cells (<table:covered-table-cell>, merged-cell shadows) occupy
  grid positions but have no value.
"""

from __future__ import annotations

import io as _io
import zipfile
from xml.etree import ElementTree

_OFFICE = "{urn:oasis:names:tc:opendocument:xmlns:office:1.0}"
_TABLE = "{urn:oasis:names:tc:opendocument:xmlns:table:1.0}"
_TEXT = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"

# Sanity bound on run-length repeats we will EXPAND for non-empty cells.
# ODF writers pad to the 16384/1048576 grid with repeated EMPTY cells
# (trimmed, never expanded); a non-empty cell repeated beyond this is a
# hostile or corrupt file, not a spreadsheet — refuse loudly.
_MAX_NONEMPTY_REPEAT = 1_000_000

# ODF 1.2 grid row limit. Cumulative row materialization (content rows,
# row repeats AND flushed interior empty runs) past this is a hostile
# file, not a spreadsheet: a <1 KB document must never expand into
# millions of phantom rows on the executor. Trailing empty padding is
# unaffected (trimmed lazily, never materialized).
_MAX_GRID_ROWS = 1_048_576


def _cell_text(cell: ElementTree.Element) -> str:
    """Concatenated <text:p> display content (string-typed cells)."""
    parts: list[str] = []
    for p in cell.findall(f"{_TEXT}p"):
        parts.append("".join(p.itertext()))
    return "\n".join(parts)


def _cell_value(cell: ElementTree.Element) -> str | None:
    """One cell's value as a string (the reference's cells-are-strings
    model), honoring the ODF typed-attribute contract."""
    vt = cell.get(f"{_OFFICE}value-type")
    if vt is None:
        # No value-type: empty cell unless it carries bare text content.
        txt = _cell_text(cell)
        return txt if txt else None
    if vt in ("float", "percentage", "currency"):
        return cell.get(f"{_OFFICE}value")
    if vt == "boolean":
        v = cell.get(f"{_OFFICE}boolean-value")
        return None if v is None else ("true" if v == "true" else "false")
    if vt == "date":
        return cell.get(f"{_OFFICE}date-value")
    if vt == "time":
        return cell.get(f"{_OFFICE}time-value")
    if vt == "string":
        # office:string-value attribute is optional; the <text:p> body is
        # the normative fallback for string cells.
        v = cell.get(f"{_OFFICE}string-value")
        return v if v is not None else _cell_text(cell)
    # Unknown value-type: surface the display text rather than guessing.
    txt = _cell_text(cell)
    return txt if txt else None


def _parse_table(table: ElementTree.Element) -> list[list[str | None]]:
    """One <table:table> -> dense 2-D grid of cell strings, run-length
    repeats expanded, trailing empty padding trimmed."""
    def _rep(el: ElementTree.Element, attr: str) -> int:
        """Repeat attribute, hostile-input-hardened: non-numeric raises
        loudly; ODF requires >= 1, so 0/negative (spec-violating) clamp
        to 1 rather than silently dropping grid content."""
        raw = el.get(attr, "1")
        try:
            return max(1, int(raw))
        except ValueError as exc:
            raise ValueError(f"ods: non-numeric repeat {raw!r}") from exc

    rows: list[list[str | None]] = []
    pending_empty_rows = 0  # trailing-empty-row padding, flushed lazily
    for row_el in table.findall(f"{_TABLE}table-row"):
        row_rep = _rep(row_el, f"{_TABLE}number-rows-repeated")
        cells: list[str | None] = []
        for cell in row_el:
            if cell.tag == f"{_TABLE}covered-table-cell":
                rep = _rep(cell, f"{_TABLE}number-columns-repeated")
                # covered cells are valueless: cap at the ODF grid width
                # (16384 columns) like empty runs — a hostile repeat
                # cannot inflate the row past the legal grid
                cells.extend([None] * min(rep, 16384))
                continue
            if cell.tag != f"{_TABLE}table-cell":
                continue
            rep = _rep(cell, f"{_TABLE}number-columns-repeated")
            val = _cell_value(cell)
            if val is None:
                # Empty run: expand only if bounded; a grid-width pad
                # (16384×) is trimmed below anyway, so cap the expansion.
                cells.extend([None] * min(rep, 16384))
            else:
                if rep > _MAX_NONEMPTY_REPEAT:
                    raise ValueError(
                        f"ods: non-empty cell repeated {rep}x exceeds "
                        f"sanity bound {_MAX_NONEMPTY_REPEAT}"
                    )
                cells.extend([val] * rep)
        # Trim trailing empty cells (grid padding).
        while cells and cells[-1] is None:
            cells.pop()
        if not cells:
            pending_empty_rows += row_rep
            continue
        if row_rep > _MAX_NONEMPTY_REPEAT:
            raise ValueError(
                f"ods: non-empty row repeated {row_rep}x exceeds "
                f"sanity bound {_MAX_NONEMPTY_REPEAT}"
            )
        # Interior empty rows are real grid rows; flush them first — but
        # a cumulative expansion past the ODF row limit means hostile
        # run-length inflation (the empty-row counterpart of the
        # non-empty sanity bound above), so refuse loudly instead of
        # materializing an executor-memory DoS.
        if len(rows) + pending_empty_rows + row_rep > _MAX_GRID_ROWS:
            raise ValueError(
                f"ods: grid expansion exceeds the ODF row limit "
                f"{_MAX_GRID_ROWS}"
            )
        rows.extend([[]] * pending_empty_rows)
        pending_empty_rows = 0
        rows.extend([list(cells) for _ in range(row_rep)])
    width = max((len(r) for r in rows), default=0)
    return [r + [None] * (width - len(r)) for r in rows]


def _content_root(data: bytes) -> ElementTree.Element:
    """Loud decoder boundary (the codec-family discipline): any hostile
    or truncated input fails with a typed ValueError naming the layer —
    never a raw zlib/zipfile/expat error escaping to the caller, never a
    silent partial grid."""
    import zlib

    try:
        zf = zipfile.ZipFile(_io.BytesIO(data))
        names = zf.namelist()
        if "content.xml" not in names:
            raise ValueError("ods: no content.xml member (not an ODF package)")
        raw = zf.read("content.xml")
    except ValueError:
        raise
    except (
        zipfile.BadZipFile,
        zlib.error,
        EOFError,
        OSError,
        # zipfile surfaces an ENCRYPTED member as RuntimeError and an
        # unsupported compression method as NotImplementedError — both
        # are hostile-container shapes, so they get the same typed
        # boundary as a corrupt zip (never a raw error off the kernel).
        RuntimeError,
        NotImplementedError,
    ) as exc:
        raise ValueError(f"ods: corrupt ODF zip container ({exc})") from exc
    try:
        return ElementTree.fromstring(raw)
    except ElementTree.ParseError as exc:
        raise ValueError(f"ods: malformed content.xml ({exc})") from exc


def list_sheets(data: bytes) -> list[str]:
    """Sheet names of one .ods document's bytes, in document order."""
    root = _content_root(data)
    return [
        t.get(f"{_TABLE}name") or f"Sheet{i + 1}"
        for i, t in enumerate(root.iter(f"{_TABLE}table"))
    ]


def parse_ods_bytes(
    data: bytes, sheet_index: int = 0, sheet_name: str | None = None
) -> list[list[str | None]]:
    """Parse one .ods sheet's bytes into a dense 2-D grid of cell strings
    — by name if given, else by document-order index. Everything is
    surfaced as a string (the reference's model: cells are strings until
    coerced), with None for gaps."""
    root = _content_root(data)
    tables = list(root.iter(f"{_TABLE}table"))
    if sheet_name is not None:
        names = [t.get(f"{_TABLE}name") for t in tables]
        if sheet_name not in names:
            raise KeyError(f"ods sheets {names}, wanted {sheet_name!r}")
        table = tables[names.index(sheet_name)]
    else:
        if sheet_index >= len(tables):
            raise IndexError(f"ods has {len(tables)} sheets, wanted {sheet_index}")
        table = tables[sheet_index]
    return _parse_table(table)


def _esc(s: str) -> str:
    return (
        str(s)
        .replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def _table_xml(name: str, rows: list[list], header: list[str] | None) -> str:
    """One <table:table>: typed cells (float/boolean/string)."""
    all_rows = ([header] if header else []) + [list(r) for r in rows]
    row_xml = []
    for row in all_rows:
        cells = []
        for val in row:
            if val is None:
                cells.append("<table:table-cell/>")
            elif isinstance(val, bool):
                b = "true" if val else "false"
                cells.append(
                    f'<table:table-cell office:value-type="boolean" '
                    f'office:boolean-value="{b}"><text:p>{b.upper()}</text:p>'
                    "</table:table-cell>"
                )
            elif isinstance(val, (int, float)):
                cells.append(
                    f'<table:table-cell office:value-type="float" '
                    f'office:value="{val!r}"><text:p>{val!r}</text:p>'
                    "</table:table-cell>"
                )
            else:
                cells.append(
                    '<table:table-cell office:value-type="string">'
                    f"<text:p>{_esc(val)}</text:p></table:table-cell>"
                )
        row_xml.append(f"<table:table-row>{''.join(cells)}</table:table-row>")
    return (
        f'<table:table table:name="{_esc(name)}">'
        f"{''.join(row_xml)}</table:table>"
    )


_ODS_MIME = "application/vnd.oasis.opendocument.spreadsheet"


def write_ods_workbook(
    sheets: dict[str, tuple[list[str] | None, list[list]]], path: str
) -> None:
    """Multi-sheet .ods writer (stdlib only): `sheets` maps sheet name ->
    (header, rows), written in dict order. Emits a spec-conforming ODF
    package: the `mimetype` member STORED (uncompressed) and FIRST in the
    archive (the ODF magic-sniffing contract), a manifest, and one
    content.xml carrying every sheet."""
    tables = "".join(
        _table_xml(name, rows, header) for name, (header, rows) in sheets.items()
    )
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        "<office:document-content "
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
        'office:version="1.2">'
        "<office:body><office:spreadsheet>"
        f"{tables}"
        "</office:spreadsheet></office:body></office:document-content>"
    )
    manifest = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        "<manifest:manifest "
        'xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0" '
        'manifest:version="1.2">'
        f'<manifest:file-entry manifest:full-path="/" manifest:media-type="{_ODS_MIME}"/>'
        '<manifest:file-entry manifest:full-path="content.xml" manifest:media-type="text/xml"/>'
        "</manifest:manifest>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        # mimetype: stored, first, no extra field — readers sniff bytes
        # 30..30+len(mime) directly.
        info = zipfile.ZipInfo("mimetype")
        info.compress_type = zipfile.ZIP_STORED
        zf.writestr(info, _ODS_MIME)
        zf.writestr("META-INF/manifest.xml", manifest)
        zf.writestr("content.xml", content)


def write_ods(rows: list[list], path: str, header: list[str] | None = None) -> None:
    """Single-sheet .ods writer (the common export case)."""
    write_ods_workbook({"Sheet1": (header, rows)}, path)
