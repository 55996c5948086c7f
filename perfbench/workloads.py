"""Workload definitions and the seeded input generator.

Each workload is a set of generated workbooks plus one query bundle run
through ``QueryEngine.process_queries``.  The generator writes its own
xlsx files (stdlib zip + XML) with a ``sharedStrings`` table and omitted
blank cells, the way Excel saves them, so the shared-strings branch of
the engine's reader is exercised and timed.  Expected outputs are
computed from the generator's own rows in stdlib ``sqlite3``
(see ``oracle.py``); nothing here imports the code under test.

Run as a script to materialize one workload:
``python3 perfbench/workloads.py --workload fanout_excel --seed 1 --out DIR``
writes ``DIR/in/*.xlsx`` and ``DIR/expected.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import zipfile
from dataclasses import dataclass
from xml.sax.saxutils import escape

from oracle import expected_outputs

COLUMNS = ["company", "region", "product", "order_date", "qty", "price", "note"]
SHEET = "Sheet1"
PRODUCTS = ["Widget", "WIDGET-X", "mini widget", "Gadget", "gizmo", "Doohickey",
            "Sprocket", "widgetry kit"]
REGIONS = ["North", "South", "East", "West", "Zentral"]
NOTES = ["rush", "gift & wrap", "<fragile>", "Ünïcode ✓", "back-order", "repeat"]

Q_MONTH = ("SELECT strftime('%Y-%m', order_date) AS month, total(price) AS revenue "
           "FROM Sheet1.sheet GROUP BY month")
# LIKE is ASCII-case-insensitive in SQLite, so the engine must rewrite it;
# region is a bare column, functionally dependent on company, so SQLite's
# arbitrary-row pick is deterministic and Spark needs an any_value retry
Q_BARE = ("SELECT company, region, COUNT(*) AS n, SUM(qty) AS units FROM Sheet1.sheet "
          "WHERE product LIKE '%widget%' GROUP BY company")
# UNION-distinct recursion, which Spark cannot run natively
Q_RECURSIVE = ("WITH RECURSIVE lvl(q) AS (SELECT DISTINCT qty % 3 FROM Sheet1.sheet "
               "WHERE qty IS NOT NULL UNION SELECT q + 1 FROM lvl WHERE q < 3) "
               "SELECT q FROM lvl")
Q_COMPANY = ("SELECT company, COUNT(*) AS n, total(qty) AS units FROM Sheet1.sheet "
             "GROUP BY company")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    files: int
    rows: int
    sink: str
    queries: tuple  # (name, sql, pivot)
    companies_per_file: int
    disjoint_companies: bool = False


WORKLOADS = {w.name: w for w in [
    Workload(
        "fanout_excel",
        "many small files: per-file query branches, bare-column retries, "
        "a pivot union, a horizontal concat and the xlsx export",
        files=3, rows=250, sink="excel",
        queries=(("by_company", Q_BARE, True), ("companies", Q_COMPANY, False)),
        companies_per_file=6, disjoint_companies=True),
    Workload(
        "bulk_parse",
        "few large files: xlsx parsing and staging dominate; the fanout_excel "
        "pivot query on many rows per file; the only UNION-distinct WITH "
        "RECURSIVE query; parquet export",
        files=2, rows=8000, sink="parquet",
        queries=(("by_company", Q_BARE, True), ("by_month", Q_MONTH, True),
                 ("levels", Q_RECURSIVE, True)),
        companies_per_file=20),
]}


def file_names(w: Workload) -> list[str]:
    return [f"{w.name}_{i:02d}.xlsx" for i in range(w.files)]


def generate_rows(w: Workload, seed: int) -> dict[str, list[list]]:
    """file name → data rows (header excluded), with nulls in every
    column but ``company`` and ``region``."""
    rng = random.Random(f"{w.name}:{seed}")
    pool = [f"Co{i:03d}" + ("" if i % 7 else " & Söhne") for i in range(60)]
    region_of = {c: REGIONS[rng.randrange(len(REGIONS))] for c in pool}
    out = {}
    for fi, name in enumerate(file_names(w)):
        k = w.companies_per_file
        companies = (pool[fi * k:(fi + 1) * k] if w.disjoint_companies
                     else rng.sample(pool, k))
        rows = []
        for _ in range(w.rows):
            c = rng.choice(companies)
            day = None if rng.random() < 0.03 else (
                f"{rng.choice((2023, 2024))}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}")
            qty = None if rng.random() < 0.05 else rng.randint(1, 20)
            price = None if rng.random() < 0.05 else round(rng.uniform(1, 500), 2)
            note = rng.choice(NOTES) if rng.random() < 0.3 else None
            rows.append([c, region_of[c], rng.choice(PRODUCTS), day, qty, price, note])
        out[name] = rows
    return out


def _col(idx: int) -> str:
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(65 + rem) + out
    return out


def write_xlsx(path: str, columns: list[str], rows: list[list]) -> None:
    """One-sheet workbook: strings through ``sharedStrings.xml``, numbers
    as ``<v>``, blanks omitted (Excel writes no cell for them)."""
    shared: dict[str, int] = {}

    def cell(ref: str, v) -> str:
        if v is None:
            return ""
        if isinstance(v, str):
            return f'<c r="{ref}" t="s"><v>{shared.setdefault(v, len(shared))}</v></c>'
        return f'<c r="{ref}"><v>{v!r}</v></c>'

    refs = [_col(i) for i in range(len(columns))]
    body = [f'<row r="{ri}">' + "".join(cell(f"{refs[ci]}{ri}", v) for ci, v in enumerate(r))
            + "</row>" for ri, r in enumerate([columns] + rows, start=1)]
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    sst = "".join(f'<si><t xml:space="preserve">{escape(s)}</t></si>' for s in shared)
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
            '</Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>',
        "xl/workbook.xml":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook {ns} xmlns:r="{rel}">'
            f'<sheets><sheet name="{SHEET}" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{rel}/sharedStrings" Target="sharedStrings.xml"/>'
            '</Relationships>',
        "xl/worksheets/sheet1.xml":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><worksheet {ns}>'
            f'<sheetData>{"".join(body)}</sheetData></worksheet>',
        "xl/sharedStrings.xml":
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<sst {ns} count="{len(shared)}" uniqueCount="{len(shared)}">{sst}</sst>',
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, text in parts.items():
            zf.writestr(name, text)


def materialize(w: Workload, seed: int, out_dir: str) -> dict:
    """Write the workload's workbooks under ``out_dir/in`` and its expected
    outputs to ``out_dir/expected.json``; return the input description."""
    in_dir = os.path.join(out_dir, "in")
    os.makedirs(in_dir, exist_ok=True)
    data = generate_rows(w, seed)
    for name, rows in data.items():
        write_xlsx(os.path.join(in_dir, name), COLUMNS, rows)
    expected = expected_outputs(w.queries, COLUMNS, data)
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f)
    return {"files": w.files, "rows": w.files * w.rows,
            "bytes": sum(os.path.getsize(os.path.join(in_dir, n)) for n in data)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    print(json.dumps(materialize(WORKLOADS[a.workload], a.seed, a.out)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
