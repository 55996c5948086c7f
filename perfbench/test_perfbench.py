"""Tests of the benchmark's own harness (generator, oracle, tracing).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The smoke tests run each workload at a tiny size through the same
``Bench`` code the benchmark uses, one or two Spark set-ups each (~2 min total).
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import workloads  # noqa: E402
from workloads import COLUMNS, WORKLOADS, generate_rows, materialize, write_xlsx  # noqa: E402


def tiny(name: str):
    return dataclasses.replace(WORKLOADS[name], files=2, rows=40)


def test_generator_is_seeded():
    w = tiny("bulk_parse")
    assert generate_rows(w, 7) == generate_rows(w, 7)
    assert generate_rows(w, 7) != generate_rows(w, 8)


def test_generated_xlsx_uses_shared_strings_and_round_trips(tmp_path):
    rows = generate_rows(tiny("fanout_excel"), 3)["fanout_excel_00.xlsx"]
    assert any(v is None for r in rows for v in r), "the generator must emit blanks"
    path = str(tmp_path / "w.xlsx")
    write_xlsx(path, COLUMNS, rows)
    import zipfile
    with zipfile.ZipFile(path) as zf:
        assert "xl/sharedStrings.xml" in zf.namelist()
        assert 't="s"' in zf.read("xl/worksheets/sheet1.xml").decode()
    header, back = oracle.read_xlsx(path)[workloads.SHEET]
    assert header == COLUMNS
    # trailing blank cells are not written, so pad short rows back
    assert [r + [None] * (len(COLUMNS) - len(r)) for r in back] == rows


def test_oracle_flags_corrupted_tables():
    w = tiny("fanout_excel")
    expected = oracle.expected_outputs(w.queries, COLUMNS, generate_rows(w, 1))
    pivot = expected["by_company"]
    rows = [list(r) for r in pivot["rows"]]
    assert oracle.check_table(pivot, pivot["columns"], rows[::-1]) is None
    rows[0][-1] = rows[0][-1] * (1 + 1e-12)  # within tolerance
    assert oracle.check_table(pivot, pivot["columns"], rows) is None
    rows[0][-1] += 1
    assert oracle.check_table(pivot, pivot["columns"], rows)
    assert oracle.check_table(pivot, pivot["columns"], rows[1:])

    concat = expected["companies"]
    cols = [c for b in concat["blocks"] for c in b["columns"]]
    height = max(len(b["rows"]) for b in concat["blocks"])
    padded = [sum((b["rows"][i] if i < len(b["rows"]) else [None] * len(b["columns"])
                   for b in concat["blocks"]), []) for i in range(height)]
    assert oracle.check_table(concat, cols, padded) is None
    padded[0][1] += 1
    assert oracle.check_table(concat, cols, padded)


@pytest.fixture(scope="module")
def run_mod():
    import run
    return run


def bench(run_mod, name: str, tmp_path, trace: bool = False, setups: int = 1, **kw):
    w = dataclasses.replace(tiny(name), **kw)
    work = str(tmp_path / name)
    materialize(w, 5, work)
    b = run_mod.Bench(w, 5, seconds=0, trace=trace, work=work, setups=setups)
    return b, b.measure()


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_smoke(run_mod, name, tmp_path, capsys):
    # the untraced one also takes its second set-up in a child process
    trace = name == "bulk_parse"
    b, res = bench(run_mod, name, tmp_path, trace=trace, setups=1 if trace else 2)
    assert res["correct"], [r["why"] for r in b.runs]
    assert res["failed"] == 0 and res["attempted"] == len(b.runs) * len(b.w.queries)
    m = res["metrics"]
    if b.trace:
        assert m["engine.branches"]["value"] == len(b.w.queries) * b.w.files
        assert m["plans.recursive_jobs"]["value"] > 0
        assert m["sources.rows"]["value"] == b.w.files * b.w.rows
        assert m["spark.jobs"]["value"] > 0
    else:
        assert set(m) == set(run_mod.END_TO_END)
        assert all(v["value"] > 0 for v in m.values())
        assert [r["phase"] for r in b.runs] == ["first", "warm"]
        setups = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("set-ups s ")]
        assert len(json.loads(setups[0][len("set-ups s "):])) == 2


def test_corrupted_output_counts_as_failed(run_mod, tmp_path, monkeypatch):
    from etl_excel_to_hyper_tableau_spark import engine

    real = engine.QueryEngine.export

    def drop_a_row(self, bundle, results):
        return real(self, bundle, [(n, df.limit(max(df.count() - 1, 0))) for n, df in results])

    monkeypatch.setattr(engine.QueryEngine, "export", drop_a_row)
    b, res = bench(run_mod, "fanout_excel", tmp_path)
    assert not res["correct"]
    assert res["failed"] == res["attempted"] > 0
