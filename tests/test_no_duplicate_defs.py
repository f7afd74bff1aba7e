"""No module of the package defines the same top-level name twice, every
top-level package name is used somewhere, every one has a caller outside
the tests unless an allow-list says why not, and only
``session.get_spark`` builds a SparkSession.

A second ``def``/``class`` with an earlier one's name silently replaces
it at import, so the first definition is dead code that still reads as
live (pyflakes F811). A def whose name no code mentions is dead too, and
one that only tests call is a second path the jobs never run. No linter
ships with this project, so stdlib ``ast`` does the scans.
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
#: The users outside the package whose code runs outside the test suite.
CALLERS = tuple(u for u in USERS if u not in (PACKAGE, ROOT / "tests"))
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

#: Package defs that only tests call, kept on purpose: ``module.name`` →
#: why. Every other top-level package def needs a caller outside the tests.
ALLOWED_TEST_ONLY = {
    "kernel._places_union":
        "escaped-union reference the property test checks _place_candidates "
        "against",
    "similarity.cosine_pairs":
        "brute-force reference for cosine_pairs_bucketed and semantic_dedup",
    "multimodal.decode_image": "real-OCR lane: image decode",
    "multimodal.resize_image": "real-OCR lane: image resize",
    "multimodal.detect_qr": "real-OCR lane: QR detection",
    "tokenize.tokenize_tesseract": "real-OCR lane: tesseract tokenizer",
    "tokenize.tokenize_payload":
        "only implementation of SURVEY T1 (tokenize an image payload)",
    "xml_sink.render_redactions_xml":
        "only implementation of SURVEY S6 (redactions XML sink)",
    "xml_sink.render_values_xml":
        "only implementation of SURVEY S7 (values XML sink)",
    "notify.notify_results":
        "only implementation of SURVEY S10 (result notification)",
    "storage.write_zordered": "the writer behind COVERAGE's Z-order row",
    "streaming.stream_extraction":
        "SURVEY S1 streaming form of the extraction job",
}


def _files(users) -> list[Path]:
    return [f for u in users for f in ([u] if u.is_file() else u.rglob("*.py"))]


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
    return names_in(ast.parse(source))


def names_in(tree: ast.AST) -> set[str]:
    """:func:`used_names` of one parsed statement or module."""
    out = set()
    for n in ast.walk(tree):
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
    used = set().union(*(used_names(f.read_text()) for f in _files(USERS)))
    found = {str(p.relative_to(PACKAGE)): dead
             for p in sorted(PACKAGE.rglob("*.py"))
             if (dead := unreferenced_top_level_defs(p.read_text(), used))}
    assert found == {}


def defs_without_callers(modules: list[tuple[str, str]],
                         callers: list[str]) -> list[str]:
    """``module.name`` of every top-level def in ``modules`` ((module name,
    source) pairs) that no top-level statement of the modules or of
    ``callers`` (sources) names, apart from the def's own body."""
    parsed = [(m, ast.parse(src).body) for m, src in modules]
    bodies = [body for _, body in parsed] + [ast.parse(s).body for s in callers]
    uses = Counter(name for body in bodies for top in body
                   for name in names_in(top))
    return sorted(f"{m}.{top.name}" for m, body in parsed for top in body
                  if isinstance(top, DEFS)
                  and uses[top.name] == (top.name in names_in(top)))


def surface_breaks(found: list[str], allowed: dict[str, str]) -> dict:
    """What breaks the rule: defs without a non-test caller that the
    allow-list does not name, and allow-list entries that no longer hold
    (the def gained a caller, or is gone)."""
    return {"no caller outside tests": sorted(set(found) - set(allowed)),
            "stale allow-list entry": sorted(set(allowed) - set(found))}


def test_scan_catches_a_test_only_def():
    pkg = [("m", "def prod():\n    return helper()\n\n"
                 "def helper():\n    return 1\n\n"
                 "def test_only():\n    return prod()\n\n"
                 "def allowed():\n    pass\n\n"
                 "def recursive(n):\n    return recursive(n - 1)\n")]
    job = "from m import prod\nprod()\n"
    # the test file that calls test_only/allowed is not a caller
    found = defs_without_callers(pkg, [job])
    assert found == ["m.allowed", "m.recursive", "m.test_only"]
    assert surface_breaks(found, {"m.allowed": "kept", "m.prod": "kept",
                                  "m.gone": "kept"}) == {
        "no caller outside tests": ["m.recursive", "m.test_only"],
        "stale allow-list entry": ["m.gone", "m.prod"]}
    assert surface_breaks(found, dict.fromkeys(found, "kept")) == {
        "no caller outside tests": [], "stale allow-list entry": []}


def test_every_package_def_has_a_caller_outside_tests():
    """Package code that only tests call is a twin, stub or alternate the
    jobs never run; keep one only with an ALLOWED_TEST_ONLY reason."""
    modules = [(p.stem, p.read_text()) for p in sorted(PACKAGE.rglob("*.py"))]
    others = [f.read_text() for f in _files(CALLERS)]
    assert surface_breaks(defs_without_callers(modules, others),
                          ALLOWED_TEST_ONLY) == {
        "no caller outside tests": [], "stale allow-list entry": []}


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
    found = {str(f.relative_to(ROOT)): sites for f in _files(USERS)
             if (sites := builder_sites(f.read_text()))}
    assert found == {"ocr_redaction_engine_spark/session.py": ["get_spark"]}
