"""No module of the package defines the same top-level name twice, every
top-level package name is used somewhere, every one has a caller outside
the tests unless an allow-list says why not, every defaulted parameter is
passed by a call outside the tests unless an allow-list says why not, and
only ``session.get_spark`` builds a SparkSession.

A second ``def``/``class`` with an earlier one's name silently replaces
it at import, so the first definition is dead code that still reads as
live (pyflakes F811). A def whose name no code mentions is dead too, and
one that only tests call is a second path the jobs never run. A default
that only tests override is a setting no job sets: one more value to read,
document and trust, so it is folded into the code. No linter ships with
this project, so stdlib ``ast`` does the scans.
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


#: Defaulted package parameters (``module.def(param)``) and config
#: dataclass fields (``module.Class.field``) that no call outside the
#: tests passes, kept on purpose → why: a test seam that reaches a branch
#: or boundary the default cannot reach at test sizes, or the operator's
#: data input, which a test supplies to compare against a hand-computed
#: reference. Parameters of ALLOWED_TEST_ONLY defs are exempt: tests are
#: those defs' only callers. Every other default is folded into the code.
_SALTS = ("seam: salts=1 is the plain one-window rank the salted two-stage "
          "rank (default 8) is checked equal to")
_CM = ("seam: a 2x2 sketch forces count-min collisions, which the default "
       "4x256 sketch never has at test sizes")
ALLOWED_DEFAULT_ONLY = {
    **dict.fromkeys(
        ("pipeline.PipelineConfig.ext_whitelist",
         "pipeline.PipelineConfig.claims_backend",
         "pipeline.PipelineConfig.claims_target"),
        "perfbench/layers.py reads it in its per-layer replay; it goes when "
        "a benchmark change drops that replay (ROADMAP D1)"),
    "dedup.simhash(min_partitions)":
        "seam: 0 skips the width probe and the rescue repartition that a "
        "narrow test input otherwise always gets",
    "sampling.stratified_sample(salts)": _SALTS,
    "sampling._kmv_sketch(salts)": _SALTS,
    "sampling.heavy_hitters_cm(d)": _CM,
    "sampling.heavy_hitters_cm(w)": _CM,
    "similarity.semantic_dedup(max_cluster_size)":
        "seam: a bound of 10 makes the mega-cluster guard raise at test "
        "sizes (default 50,000 vectors)",
    "dedup.dedup_cluster_stats(pairs)":
        "data input: planted pairs with hand-counted cluster sizes",
    "search.bm25_topk(queries)":
        "data input: fixed queries scored against a pure-Python BM25",
    "search.phrase_search(phrases)":
        "data input: phrases with hand-located matches",
    "search.fuzzy_dict_match(terms)":
        "data input: a dictionary with hand-computed edit-distance hits",
    "webgraph.robots_filter(rules)":
        "data input: rules with hand-resolved longest-match verdicts",
    "webgraph.hits(edges)":
        "data input: a planted graph scored against a sequential Python "
        "HITS",
}


def defaulted_options(module: str, source: str) -> list[tuple]:
    """``(key, names, param, position)`` for every defaulted parameter of
    every def in ``source`` and every defaulted ``@dataclass`` field.
    ``names`` are the callee names a call reaches it through (a def's own
    name; an ``__init__`` also its class's; a field its class's);
    ``position`` is the positional index a call's arguments fill (after
    ``self`` for methods), None for keyword-only parameters."""
    out = []

    def visit(node, prefix, cls):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a, key = ch.args, f"{module}.{prefix}{ch.name}"
                names = (ch.name, cls) if ch.name == "__init__" else (ch.name,)
                skip = cls is not None and "staticmethod" not in [
                    getattr(d, "id", None) for d in ch.decorator_list]
                pos = a.posonlyargs + a.args
                for i in range(len(pos) - len(a.defaults), len(pos)):
                    out.append((f"{key}({pos[i].arg})", names, pos[i].arg,
                                i - skip))
                out.extend((f"{key}({p.arg})", names, p.arg, None)
                           for p, d in zip(a.kwonlyargs, a.kw_defaults)
                           if d is not None)
                visit(ch, f"{prefix}{ch.name}.", None)
            elif isinstance(ch, ast.ClassDef):
                if any("dataclass" in ast.unparse(d) for d in ch.decorator_list):
                    fields = [s for s in ch.body if isinstance(s, ast.AnnAssign)
                              and isinstance(s.target, ast.Name)]
                    out.extend((f"{module}.{prefix}{ch.name}.{s.target.id}",
                                (ch.name,), s.target.id, i)
                               for i, s in enumerate(fields)
                               if s.value is not None)
                visit(ch, f"{prefix}{ch.name}.", ch.name)
            else:
                visit(ch, prefix, cls)

    visit(ast.parse(source), "", None)
    return out


def call_shapes(source: str) -> list[tuple]:
    """``(callee name, positional count, keyword names, passes all)`` for
    every call in ``source`` whose callee is a name (an import alias
    resolved to the name it imports) or an attribute, and for every name a
    module-level table literal holds when the callee is a subscript of
    that table (``JOBS[job][0](...)``). ``*args`` or
    ``**kwargs`` forwarding passes everything, except ``**NAME`` of a
    module-level ``dict(...)``/``{...}`` literal with constant keys, which
    passes exactly those keys."""
    tree = ast.parse(source)
    aliases = {a.asname: a.name for n in ast.walk(tree)
               if isinstance(n, ast.ImportFrom) for a in n.names if a.asname}
    literal, tables = {}, {}
    for s in tree.body:
        if isinstance(s, ast.Assign) and isinstance(s.targets[0], ast.Name):
            v = s.value
            if isinstance(v, (ast.Dict, ast.List, ast.Tuple, ast.Set)):
                tables[s.targets[0].id] = {n.id for n in ast.walk(v)
                                           if isinstance(n, ast.Name)}
            if isinstance(v, ast.Dict) and all(
                    isinstance(k, ast.Constant) for k in v.keys):
                literal[s.targets[0].id] = {k.value for k in v.keys}
            elif (isinstance(v, ast.Call) and getattr(v.func, "id", "") == "dict"
                  and not v.args and all(k.arg for k in v.keywords)):
                literal[s.targets[0].id] = {k.arg for k in v.keywords}
    out = []
    for n in ast.walk(tree):
        if not isinstance(n, ast.Call):
            continue
        f = n.func
        while isinstance(f, ast.Subscript):
            f = f.value
        if f is not n.func:
            names = tables.get(getattr(f, "id", None), ())
        elif isinstance(f, ast.Name):
            names = (aliases.get(f.id, f.id),)
        elif isinstance(f, ast.Attribute):
            names = (f.attr,)
        else:
            continue
        every = any(isinstance(a, ast.Starred) for a in n.args)
        kws = set()
        for k in n.keywords:
            if k.arg:
                kws.add(k.arg)
            elif getattr(k.value, "id", None) in literal:
                kws |= literal[k.value.id]
            else:
                every = True
        out.extend((name, len(n.args), kws, every) for name in names)
    return out


def never_passed(modules: list[tuple[str, str]], users: list[str]) -> list[str]:
    """Key of every defaulted option in ``modules`` ((module name, source)
    pairs) that no call in ``users`` (sources) passes, by position or by
    keyword. Calls match by callee name, so a shared name is conservative:
    a call to any def of that name counts."""
    calls: dict[str, list] = {}
    for src in users:
        for shape in call_shapes(src):
            calls.setdefault(shape[0], []).append(shape)
    return sorted(
        key for m, src in modules
        for key, names, param, position in defaulted_options(m, src)
        if not any(every or param in kws
                   or (position is not None and position < npos)
                   for name in names for _, npos, kws, every in calls.get(name, ())))


def default_breaks(found: list[str], allowed: dict[str, str],
                   test_only=()) -> dict:
    """Defaults no call passes that the allow-list does not name, and
    allow-list entries that no longer hold (a call passes it now, or the
    option is gone). Parameters of a def named in ``test_only`` are exempt."""
    found = {k for k in found if k.split("(")[0] not in test_only}
    return {"never passed": sorted(found - set(allowed)),
            "stale allow-list entry": sorted(set(allowed) - found)}


def test_scan_catches_a_never_passed_default():
    pkg = [("m", "from dataclasses import dataclass\n\n"
                 "def f(a, b=1, c=2, *, d=3, e=4):\n    return a\n\n"
                 "def fwd(x=1, y=2):\n    return x\n\n"
                 "def g(a, s=1, t=2):\n    return a\n\n"
                 "def h(a, b, s=1, t=2):\n    return a\n\n"
                 "class C:\n"
                 "    def __init__(self, p=1, q=2):\n        self.p = p\n\n"
                 "@dataclass\nclass Cfg:\n    n: int\n    u: int = 1\n"
                 "    v: int = 2\n    w: int = 3\n")]
    users = ["from m import C, Cfg, f, fwd, g, h\n"
             "KW = dict(v=5)\n"
             "JOBS = {'x': (g, 'flag'), 'y': [h]}\n"
             "f(0, 9, e=5)\n"          # b by position, e by keyword
             "C(7)\n"                  # reaches __init__: p, after self
             "Cfg(1, u=2)\n"           # n by position, u by keyword
             "Cfg(0, **KW)\n"          # a literal dict passes its keys
             "JOBS[k][0](0, t=1)\n"    # a table subscript reaches g and h
             "def wrap(*args, **kwargs):\n"
             "    return fwd(*args, **kwargs)\n"]  # forwarding passes all
    found = never_passed(pkg, users)
    assert found == ["m.C.__init__(q)", "m.Cfg.w", "m.f(c)", "m.f(d)",
                     "m.g(s)", "m.h(s)"]
    assert default_breaks(found, {"m.Cfg.w": "kept", "m.f(b)": "kept",
                                  "m.gone(z)": "kept"}) == {
        "never passed": ["m.C.__init__(q)", "m.f(c)", "m.f(d)", "m.g(s)",
                         "m.h(s)"],
        "stale allow-list entry": ["m.f(b)", "m.gone(z)"]}
    # a test-only def's parameters need no entry, and an entry for one is stale
    assert default_breaks(found, {"m.f(c)": "kept"}, {"m.f", "m.g"}) == {
        "never passed": ["m.C.__init__(q)", "m.Cfg.w", "m.h(s)"],
        "stale allow-list entry": ["m.f(c)"]}
    # an import alias reaches the def it names
    aliased = [("m", "def k(a, r=1):\n    return a\n")]
    assert never_passed(aliased, ["def use():\n    from m import k as kk\n"
                                  "    return kk(0, 2)\n"]) == []
    assert never_passed(aliased, ["kk(0, 2)\n"]) == ["m.k(r)"]
    # a ** of anything but a module-level literal dict passes everything
    assert never_passed(pkg, users + [
        "f(0, **opts)\nC(**o)\nCfg(**c)\ng(**o)\nh(**o)\n"]) == []


def test_every_default_is_passed_by_a_call_outside_tests():
    """A defaulted parameter (or config field) that no job, tool or bench
    leg ever passes is a setting only a test sets: fold it into the code,
    or keep it with an ALLOWED_DEFAULT_ONLY reason."""
    modules = [(p.stem, p.read_text()) for p in sorted(PACKAGE.rglob("*.py"))]
    users = [f.read_text() for f in _files((PACKAGE,) + CALLERS)]
    assert default_breaks(never_passed(modules, users), ALLOWED_DEFAULT_ONLY,
                          ALLOWED_TEST_ONLY) == {
        "never passed": [], "stale allow-list entry": []}
