"""Dependency-free minimal ``.xlsx`` reader/writer (stdlib zip + XML).

The reference reads Excel through ``pd.read_excel`` (fsheet.py:33-36) and
writes through ``pd.DataFrame.to_excel`` (query_iterator.py:210), both of
which require openpyxl.  This container ships neither openpyxl nor xlrd,
so the engine carries its own minimal OOXML SpreadsheetML implementation:

* reader: handles shared strings, inline strings, numbers, booleans,
  error and ISO-date cells (read as their text) and blank cells;
  returns ``(columns, rows)`` with the first sheet row as the header
  (matching ``pd.read_excel`` defaults);
* writer: inline-string cells (no sharedStrings table needed), one
  worksheet per (name, columns, rows) tuple.

Type inference mirrors what ``pd.read_excel`` produced on the reference's
shipped files (SURVEY §1.3): numeric cells → int when written as an
integer that fits int64, else float; everything else stays ``str``;
blanks → ``None``.
"""

from __future__ import annotations

import gc
import re
import zipfile
from contextlib import contextmanager
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

_NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main",
       "r": "http://schemas.openxmlformats.org/officeDocument/2006/relationships"}
# the worksheet loop matches these namespaced tags directly
_SHEET_DATA, _ROW, _C, _V, _IS, _T = (
    f"{{{_NS['m']}}}{t}" for t in ("sheetData", "row", "c", "v", "is", "t"))


def _col_to_idx(ref: str) -> int:
    """``'A1'`` → 0, ``'AB3'`` → 27."""
    idx = 0
    for ch in ref:
        if ch.isalpha():
            idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
        else:
            break
    return idx - 1


def _idx_to_col(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


@contextmanager
def _gc_paused():
    """Pause the cyclic garbage collector.  Parsing a sheet allocates
    about ten objects a cell and none of them in a cycle, so each
    collection the allocations trigger finds nothing; in a process that
    holds a Spark session's heap they doubled the parse of an
    8,000-row sheet (0.12–0.18 s without them, 0.27–0.35 s with)."""
    enabled = gc.isenabled()
    gc.disable()
    try:
        yield
    finally:
        if enabled:
            gc.enable()


def read_sheet(path: str, sheet: str | int = 0) -> tuple[list[str], list[list]]:
    """Read one worksheet → (column_names, data_rows), the first row
    being the header."""
    with _gc_paused(), zipfile.ZipFile(path) as zf:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        sheets = wb.findall("m:sheets/m:sheet", _NS)
        if isinstance(sheet, int):
            target = sheets[sheet]
        else:
            matches = [s for s in sheets if s.attrib["name"] == sheet]
            if not matches:
                raise KeyError(f"sheet {sheet!r} not in {path!r}")
            target = matches[0]
        rid = target.attrib[f"{{{_NS['r']}}}id"]
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        rel_map = {r.attrib["Id"]: r.attrib["Target"] for r in rels}
        sheet_path = "xl/" + rel_map[rid].lstrip("/")
        if sheet_path.startswith("xl/xl/"):
            sheet_path = sheet_path[3:]

        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            sst = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in sst.findall("m:si", _NS):
                shared.append("".join(t.text or "" for t in si.iter(_T)))

        ws = ET.fromstring(zf.read(sheet_path))
        raw_rows: list[dict[int, object]] = []
        max_col = -1
        col_of: dict[str, int] = {}  # column letters → index
        for row_el in ws.iterfind(f"{_SHEET_DATA}/{_ROW}"):
            cells: dict[int, object] = {}
            for c_el in row_el:
                if c_el.tag != _C:
                    continue
                ref = c_el.get("r")
                if ref:
                    letters = ref.rstrip("0123456789")
                    ci = col_of.get(letters)
                    if ci is None:
                        ci = col_of[letters] = _col_to_idx(letters)
                else:
                    ci = max(cells) + 1 if cells else 0
                ctype = c_el.get("t")
                if ctype == "inlineStr":
                    is_el = c_el.find(_IS)
                    val = "".join(t.text or "" for t in is_el.iter(_T)) if is_el is not None else None
                else:
                    txt = c_el.findtext(_V)
                    if not txt:
                        val = None
                    elif ctype is None or ctype == "n":
                        val = _number(txt)
                    elif ctype == "s":
                        val = shared[int(txt)]
                    elif ctype == "b":
                        val = txt == "1"
                    else:  # "str"; an error ("e") or ISO-date ("d") cell reads as its text
                        val = txt
                cells[ci] = val
                if ci > max_col:
                    max_col = ci
            raw_rows.append(cells)

        width = max_col + 1
        dense = [[r.get(i) for i in range(width)] for r in raw_rows]
    if not dense:
        return [], []
    cols = [str(c) if c is not None else f"Unnamed_{i}" for i, c in enumerate(dense[0])]
    return cols, dense[1:]


def _number(txt: str) -> int | float:
    """A numeric cell's value: plain integer text exactly as ``int``
    (``float`` would round it past 2^53), anything else, and an integer
    outside int64, as ``float`` — SQLite's rule for numeric literals."""
    if "." not in txt and "e" not in txt and "E" not in txt:
        try:
            val = int(txt)
        except ValueError:  # inf, nan
            return float(txt)
        if -2**63 <= val < 2**63:
            return val
    return float(txt)


_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
{sheet_overrides}
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""


def _cell_xml(ref: str, value) -> str:
    if value is None:
        return ""
    if isinstance(value, bool):
        return f'<c r="{ref}" t="b"><v>{1 if value else 0}</v></c>'
    if isinstance(value, (int, float)):
        if value != value:  # NaN: a blank cell, as for a null
            return ""
        return f'<c r="{ref}"><v>{value!r}</v></c>'
    text = escape(str(value))
    return f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{text}</t></is></c>'


def write_workbook(path: str, sheets: list[tuple[str, list[str], list[list]]]) -> None:
    """Write an xlsx file: ``sheets = [(sheet_name, columns, rows), ...]``.

    One worksheet per query result, matching the reference's Excel sink
    shape (query_iterator.py:197-212) — header row then data rows,
    no index column (reference passes ``index=False``).
    """
    sheet_overrides = "\n".join(
        f'<Override PartName="/xl/worksheets/sheet{i+1}.xml" '
        f'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        for i in range(len(sheets)))
    wb_sheets = "\n".join(
        f'<sheet name="{escape(name)}" sheetId="{i+1}" r:id="rId{i+1}"/>'
        for i, (name, _, _) in enumerate(sheets))
    workbook = f"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets>{wb_sheets}</sheets></workbook>"""
    wb_rels = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" + "".join(
        f'<Relationship Id="rId{i+1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i+1}.xml"/>'
        for i in range(len(sheets))) + "</Relationships>"

    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES.format(sheet_overrides=sheet_overrides))
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, (name, cols, rows) in enumerate(sheets):
            body = []
            all_rows = [cols] + [list(r) for r in rows]
            for ri, row in enumerate(all_rows):
                cells = "".join(_cell_xml(f"{_idx_to_col(ci)}{ri+1}", v)
                                for ci, v in enumerate(row))
                body.append(f'<row r="{ri+1}">{cells}</row>')
            ws = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                  '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                  f'<sheetData>{"".join(body)}</sheetData></worksheet>')
            zf.writestr(f"xl/worksheets/sheet{i+1}.xml", ws)
