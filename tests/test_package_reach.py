"""Every top-level definition in the package is reached from production.

Production is the package itself plus its launch points: ``bench.py``,
``__spark_entry__.py``, ``jobs/`` and ``perfbench/``. Tests are not
roots, so a helper that only tests call belongs under ``tests/``.

The scan is by name and transitive. Every name that the root files use,
and every name in the package's module-level code (imports, constants,
registries), seeds a live set. A top-level ``def`` or ``class`` is live
when its name is in the set, and then the names its body uses join the
set. This repeats until nothing changes. A name shared by two modules
keeps both alive, so the scan can miss dead code but never flags code
that production reaches.
"""
from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "embulk_input_parquet_hadoop_spark"

# {"module.py:name": "the production caller or reason it stays"}
ALLOWED_UNREACHED: dict[str, str] = {}


def _root_files() -> list[Path]:
    return [ROOT / "bench.py", ROOT / "__spark_entry__.py",
            *sorted((ROOT / "jobs").glob("*.py")),
            *sorted((ROOT / "perfbench").glob("*.py"))]


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
    return out


def unreached(roots: list[str], modules: dict[str, str]) -> set[str]:
    """``module:name`` of each top-level def in ``modules`` ({label:
    source}) that no name chain from ``roots`` (sources) reaches."""
    live: set[str] = set()
    for src in roots:
        live |= _names(ast.parse(src))
    defs = []
    for label, src in modules.items():
        for st in ast.parse(src).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
                defs.append((label, st))
            else:
                live |= _names(st)
    pending = defs
    while True:
        reached = [d for d in pending if d[1].name in live]
        if not reached:
            break
        pending = [d for d in pending if d[1].name not in live]
        for _, st in reached:
            live |= _names(st)
    return {f"{label}:{st.name}" for label, st in pending}


def test_scan_follows_bodies_and_flags_dead_defs():
    mod = ("X = helper_const()\n"
           "def helper_const():\n    return 1\n"
           "def entry():\n    return mid()\n"
           "def mid():\n    return 2\n"
           "def dead():\n    return mid() + only_dead_uses()\n"
           "def only_dead_uses():\n    return 3\n"
           "class Dead:\n    def entry(self):\n        return 4\n")
    assert unreached(["m.entry()"], {"m.py": mod}) == {
        "m.py:dead", "m.py:only_dead_uses", "m.py:Dead"}


def test_every_package_definition_is_reached_from_production():
    roots = [p.read_text() for p in _root_files()]
    modules = {str(p.relative_to(PACKAGE)): p.read_text()
               for p in sorted(PACKAGE.rglob("*.py"))}
    assert unreached(roots, modules) == set(ALLOWED_UNREACHED)
