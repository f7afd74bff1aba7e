"""No module of the package defines the same top-level name twice, every
top-level package name is used somewhere, and only ``session.get_spark``
builds a SparkSession.

A second ``def``/``class`` with an earlier one's name silently replaces
it at import, so the first definition is dead code that still reads as
live (pyflakes F811). A def whose name no code mentions is dead too. No
linter ships with this project, so stdlib ``ast`` does both scans.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ocr_redaction_engine_spark"
#: Where a use of a package name counts: the package itself, the jobs and
#: tools that drive it, the tests, the benchmark and the driver entry.
USERS = (PACKAGE, ROOT / "jobs", ROOT / "tools", ROOT / "tests",
         ROOT / "perfbench", ROOT / "bench.py", ROOT / "__spark_entry__.py")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def duplicate_top_level_defs(source: str) -> list[str]:
    names = Counter(n.name for n in ast.parse(source).body
                    if isinstance(n, DEFS))
    return sorted(name for name, k in names.items() if k > 1)


def test_scan_catches_a_shadowing_def():
    src = "def f(a):\n    return a\n\nclass C:\n    pass\n\ndef f():\n    return 0\n"
    assert duplicate_top_level_defs(src) == ["f"]
    assert duplicate_top_level_defs("def f():\n    def f():\n        pass\n") == []


def test_no_duplicate_top_level_defs_in_package():
    found = {str(p.relative_to(PACKAGE)): dups
             for p in sorted(PACKAGE.rglob("*.py"))
             if (dups := duplicate_top_level_defs(p.read_text()))}
    assert found == {}


def used_names(source: str) -> set[str]:
    """Every name the code uses: loads and stores, attributes, imports and
    identifier-shaped string constants (``getattr``-style lookups). A
    ``def``/``class`` statement is not a use of its own name, and neither
    are docstrings or comments."""
    out = set()
    for n in ast.walk(ast.parse(source)):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier()):
            out.add(n.value)
    return out


def unreferenced_top_level_defs(source: str, used: set[str]) -> list[str]:
    return sorted(n.name for n in ast.parse(source).body
                  if isinstance(n, DEFS) and n.name not in used)


def test_scan_catches_an_unreferenced_def():
    src = ("def used():\n    return 1\n\n"
           "def dead():\n    \"\"\"Not used(); only dead() itself.\"\"\"\n\n"
           "class Looked:\n    pass\n\n"
           "def via_attr():\n    pass\n\n"
           "x = used() + getattr(mod, 'Looked') + mod.via_attr\n")
    assert unreferenced_top_level_defs(src, used_names(src)) == ["dead"]
    assert "imported" in used_names("from m import imported\n")


def test_every_top_level_package_def_is_used():
    files = [f for u in USERS for f in ([u] if u.is_file() else u.rglob("*.py"))]
    used = set().union(*(used_names(f.read_text()) for f in files))
    found = {str(p.relative_to(PACKAGE)): dead
             for p in sorted(PACKAGE.rglob("*.py"))
             if (dead := unreferenced_top_level_defs(p.read_text(), used))}
    assert found == {}


def builder_sites(source: str) -> list[str]:
    """The top-level def (or ``<module>``) around every read of
    ``SparkSession.builder``."""
    out = []
    for top in ast.parse(source).body:
        where = top.name if isinstance(top, DEFS) else "<module>"
        out += [where for n in ast.walk(top)
                if isinstance(n, ast.Attribute) and n.attr == "builder"
                and getattr(n.value, "id", getattr(n.value, "attr", None))
                == "SparkSession"]
    return out


def test_scan_catches_a_hand_rolled_builder():
    src = ("from pyspark.sql import SparkSession\n"
           "import pyspark\n\n"
           "def start():\n"
           "    return SparkSession.builder.master('local[2]').getOrCreate()\n\n"
           "s = pyspark.sql.SparkSession.builder.getOrCreate()\n"
           "b = builder = other.builder\n")
    assert builder_sites(src) == ["start", "<module>"]


def test_only_get_spark_builds_a_session():
    """Every job, tool, test and bench leg gets its session from
    ``session.get_spark``, so they all run the same SQL semantics."""
    files = [f for u in USERS for f in ([u] if u.is_file() else u.rglob("*.py"))]
    found = {str(f.relative_to(ROOT)): sites for f in files
             if (sites := builder_sites(f.read_text()))}
    assert found == {"ocr_redaction_engine_spark/session.py": ["get_spark"]}
