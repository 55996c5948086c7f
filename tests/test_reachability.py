"""Every top-level package definition must be reachable from a caller
outside ``tests/``, or be on ``ALLOWED`` with a reason.

The reach rule is name-based and needs only ``ast``:

* Roots: ``__spark_entry__.py``, ``bench.py``, ``tools/*.py``,
  ``examples/*.py``, ``perfbench/*.py`` except its own tests, and the
  package's module-level statements other than imports, ``__all__``
  and the module docstring.
* Definitions: top-level ``def``/``class`` and assignments to plain
  names in the package.
* A definition is reached when its name appears as a whole word in a
  root or in the source of a reached definition; iterate to a fixed
  point.

A private name shared by two modules counts as reached in both, which
keeps the rule conservative: it can miss dead code, never flag live
code.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "etl_excel_to_hyper_tableau_spark"

# "module path relative to the package:name" -> why it stays unreached
ALLOWED = {
    "sources/csv.py:read_csv":
        "reference scratch.py (CSV → Excel helper), kept as paper surface",
    "sources/csv.py:csv_to_excel":
        "reference scratch.py (CSV → Excel helper), kept as paper surface",
    "sinks/hyper.py:plan_hyper_tables":
        "Hyper schema mapping, checked against the reference's golden "
        "catalog while tableauhyperapi is absent",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _root_files() -> list[Path]:
    return [REPO / "__spark_entry__.py", REPO / "bench.py",
            *sorted((REPO / "tools").glob("*.py")),
            *sorted((REPO / "examples").glob("*.py")),
            *(p for p in sorted((REPO / "perfbench").glob("*.py"))
              if not p.name.startswith("test_"))]


def _source(lines: list[str], node: ast.stmt) -> str:
    first = min([d.lineno for d in getattr(node, "decorator_list", [])]
                + [node.lineno])
    return "\n".join(lines[first - 1:node.end_lineno])


def _assigned_names(node: ast.stmt) -> list[str] | None:
    """Plain names an assignment binds, or None if it is not one."""
    targets = (node.targets if isinstance(node, ast.Assign)
               else [node.target] if isinstance(node, ast.AnnAssign)
               else None)
    if targets is None or not all(isinstance(t, ast.Name) for t in targets):
        return None
    return [t.id for t in targets]


def unreached() -> list[tuple[str, int]]:
    """``(module:name, lines)`` for every unreached package definition."""
    seen: set[str] = set()
    for path in _root_files():
        seen |= set(_WORD.findall(path.read_text()))
    defs: list[tuple[str, str, str]] = []   # (key, name, source)
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text()
        lines = text.splitlines()
        rel = path.relative_to(PKG).as_posix()
        for i, node in enumerate(ast.parse(text).body):
            src = _source(lines, node)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs.append((f"{rel}:{node.name}", node.name, src))
                continue
            names = _assigned_names(node)
            if names == ["__all__"] or isinstance(
                    node, (ast.Import, ast.ImportFrom)):
                continue
            if names:
                defs.extend((f"{rel}:{n}", n, src) for n in names)
            elif not (i == 0 and isinstance(node, ast.Expr)
                      and isinstance(node.value, ast.Constant)):
                seen |= set(_WORD.findall(src))
    reached: set[str] = set()
    grew = True
    while grew:
        grew = False
        for key, name, src in defs:
            if key not in reached and name in seen:
                reached.add(key)
                seen |= set(_WORD.findall(src))
                grew = True
    return [(key, src.count("\n") + 1)
            for key, _, src in defs if key not in reached]


def test_every_package_definition_is_reached_or_allowed():
    found = unreached()
    stray = [f"{key} ({n} lines)" for key, n in found if key not in ALLOWED]
    assert not stray, (
        "package definitions that only tests reach — delete them, or "
        "add them to ALLOWED with a reason:\n  " + "\n  ".join(stray))
    stale = set(ALLOWED) - {key for key, _ in found}
    assert not stale, f"ALLOWED entries now reached or gone: {sorted(stale)}"


if __name__ == "__main__":
    rows = unreached()
    for key, n in rows:
        print(f"{key} {n}{'  (allowed)' if key in ALLOWED else ''}")
    print(f"{len(rows)} definitions, {sum(n for _, n in rows)} lines")
