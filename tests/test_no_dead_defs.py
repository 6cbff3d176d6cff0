"""Every top-level def on the shipped path is referenced somewhere.

A def counts as referenced when its name appears as an `ast.Name`, an
`ast.Attribute` or an import alias in the package, the tests, the
perfbench harness or the bench scripts. Comments and docstrings do not
count; names inside f-string fields do (they are `ast.Name` nodes), so
the SQL builders called only from query f-strings stay live.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "dataprof_spark"

SCOPE = [PKG / d for d in ("core", "functions", "operators", "pipeline")] + [
    PKG / f for f in ("session.py", "queries.py", "queries_dedup.py")
]


def _py_files(path: pathlib.Path) -> list[pathlib.Path]:
    return sorted(path.rglob("*.py")) if path.is_dir() else [path]


def _referenced_names() -> set[str]:
    files = (
        _py_files(PKG)
        + _py_files(ROOT / "tests")
        + _py_files(ROOT / "perfbench")
        + sorted(ROOT.glob("bench*.py"))
        + [ROOT / "__spark_entry__.py"]
    )
    names: set[str] = set()
    for f in files:
        for node in ast.walk(ast.parse(f.read_text(), str(f))):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_no_unreferenced_top_level_defs():
    names = _referenced_names()
    dead = [
        f"{f.relative_to(ROOT)}:{node.lineno} {node.name}"
        for path in SCOPE
        for f in _py_files(path)
        for node in ast.parse(f.read_text(), str(f)).body
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        )
        and not node.name.startswith("__")
        and node.name not in names
    ]
    assert not dead, "unreferenced top-level defs:\n" + "\n".join(dead)
