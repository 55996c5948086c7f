"""Correctness oracle: expected outputs from stdlib ``sqlite3`` over the
generator's own rows, and read-back of the engine's outputs without the
code under test (parquet through pyarrow, xlsx through a small stdlib
reader).

Comparison rules:

* pivot results: one multiset of rows, ``index`` column included;
  numbers compare with a relative tolerance (``total``/``AVG`` sum in a
  different order on Spark);
* concat results: each file's prefixed column block is compared as a
  multiset with its null padding rows dropped.  Which rows of different
  blocks share a line is not checked: Spark returns groups in hash
  order and SQLite in group-key order, so positional pairing differs
  between the engines (an open row-order contract question).
"""

from __future__ import annotations

import math
import os
import sqlite3
import zipfile
from xml.etree import ElementTree as ET

_M = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"


def match_of(file_name: str) -> str:
    """The bundle match string for a generated file: its base name."""
    return file_name[:file_name.rfind(".")]


def _sqlite_rows(rows: list[list], columns: list[str], sql: str) -> tuple[list[str], list[list]]:
    con = sqlite3.connect(":memory:")
    try:
        con.execute(f"CREATE TABLE t ({', '.join(columns)})")
        con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * len(columns))})", rows)
        cur = con.execute(sql.replace("Sheet1.sheet", "t"))
        return [d[0] for d in cur.description], [list(r) for r in cur.fetchall()]
    finally:
        con.close()


def expected_outputs(queries, columns: list[str], data: dict[str, list[list]]) -> dict:
    """query name → ``{"pivot", "columns", "rows"}`` for pivot queries or
    ``{"pivot", "blocks": [{"columns", "rows"}, ...]}`` for concat ones.
    ``queries`` holds ``(name, sql, pivot)``; ``data`` maps file name to
    rows under ``columns``."""
    out = {}
    for qname, sql, pivot in queries:
        per_file = [(name, *_sqlite_rows(rows, columns, sql)) for name, rows in data.items()]
        if pivot:
            cols = ["index"] + per_file[0][1]
            rows = [[match_of(name)] + r for name, _, rs in per_file for r in rs]
            out[qname] = {"pivot": True, "columns": cols, "rows": rows}
        else:
            out[qname] = {"pivot": False, "blocks": [
                {"columns": [f"{match_of(name)}_{c}" for c in cols], "rows": rs}
                for name, cols, rs in per_file]}
    return out


# -- read-back ------------------------------------------------------------

def read_parquet(path: str) -> tuple[list[str], list[list]]:
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    cols = table.column_names
    return cols, [[r[c] for c in cols] for r in table.to_pylist()]


def read_xlsx(path: str) -> dict[str, tuple[list[str], list[list]]]:
    """sheet name → (header, rows) for every sheet of an xlsx file."""
    out = {}
    with zipfile.ZipFile(path) as zf:
        shared = [
            "".join(t.text or "" for t in si.iter(f"{_M}t"))
            for si in ET.fromstring(zf.read("xl/sharedStrings.xml")).iter(f"{_M}si")
        ] if "xl/sharedStrings.xml" in zf.namelist() else []
        rels = {r.attrib["Id"]: r.attrib["Target"]
                for r in ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))}
        for sheet in ET.fromstring(zf.read("xl/workbook.xml")).iter(f"{_M}sheet"):
            target = "xl/" + rels[sheet.attrib[f"{_R}id"]].lstrip("/").removeprefix("xl/")
            grid = []
            for row in ET.fromstring(zf.read(target)).iter(f"{_M}row"):
                cells = {}
                for c in row.iter(f"{_M}c"):
                    ref = c.attrib["r"]
                    col = 0
                    for ch in ref:
                        if not ch.isalpha():
                            break
                        col = col * 26 + ord(ch) - 64
                    cells[col - 1] = _cell_value(c, shared)
                grid.append(cells)
            width = max((max(r) + 1 for r in grid if r), default=0)
            dense = [[r.get(i) for i in range(width)] for r in grid]
            out[sheet.attrib["name"]] = (dense[0] if dense else [], dense[1:])
    return out


def _cell_value(c, shared):
    kind = c.attrib.get("t", "n")
    if kind == "inlineStr":
        return "".join(t.text or "" for t in c.iter(f"{_M}t"))
    v = c.find(f"{_M}v")
    if v is None or v.text is None:
        return None
    if kind == "s":
        return shared[int(v.text)]
    if kind == "b":
        return v.text == "1"
    if kind == "str":
        return v.text
    f = float(v.text)
    return int(f) if f.is_integer() and "." not in v.text and "e" not in v.text.lower() else f


# -- comparison -----------------------------------------------------------

def _is_num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _sort_key(row: list):
    return (tuple("" if v is None else str(v) for v in row if not _is_num(v)),
            tuple(float(f"{v:.3g}") for v in row if _is_num(v)),
            tuple(v is None for v in row))


def _same(a, b) -> bool:
    if _is_num(a) and _is_num(b):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def same_multiset(expected: list[list], actual: list[list]) -> str | None:
    """None when the row multisets agree, else a short reason."""
    if len(expected) != len(actual):
        return f"{len(actual)} rows, expected {len(expected)}"
    for e, a in zip(sorted(expected, key=_sort_key), sorted(actual, key=_sort_key)):
        if len(e) != len(a) or not all(_same(x, y) for x, y in zip(e, a)):
            return f"row {a!r}, expected {e!r}"
    return None


def check_table(exp: dict, cols: list[str], rows: list[list]) -> str | None:
    """Compare one read-back result table with its expectation."""
    if exp["pivot"]:
        if cols != exp["columns"]:
            return f"columns {cols}, expected {exp['columns']}"
        return same_multiset(exp["rows"], rows)
    want = [c for b in exp["blocks"] for c in b["columns"]]
    if cols != want:
        return f"columns {cols}, expected {want}"
    at = 0
    for b in exp["blocks"]:
        width = len(b["columns"])
        block = [r[at:at + width] for r in rows]
        at += width
        why = same_multiset(b["rows"], [r for r in block if any(v is not None for v in r)])
        if why:
            return f"{b['columns'][0]} block: {why}"
    return None


def read_outputs(sink: str, export_path: str, query_names: list[str]) -> dict:
    """query name → (columns, rows) as written by the engine."""
    if sink == "excel":
        sheets = read_xlsx(export_path)
        return {q: sheets[q[:31]] for q in query_names if q[:31] in sheets}
    return {q: read_parquet(os.path.join(export_path, q)) for q in query_names
            if os.path.isdir(os.path.join(export_path, q))}


def check_outputs(expected: dict, sink: str, export_path: str) -> dict[str, str | None]:
    """query name → None if correct, else why not."""
    got = read_outputs(sink, export_path, list(expected))
    return {q: (check_table(exp, *got[q]) if q in got else "output missing")
            for q, exp in expected.items()}
