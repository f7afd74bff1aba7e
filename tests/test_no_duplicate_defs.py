"""No module of the package defines the same top-level name twice.

A second ``def``/``class`` with an earlier one's name silently replaces
it at import, so the first definition is dead code that still reads as
live (pyflakes F811; no linter ships with this project, so stdlib ``ast``
does the scan).
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "ocr_redaction_engine_spark"
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
