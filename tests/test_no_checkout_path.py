"""No program file hard-codes where the checkout lives.

A script that puts a fixed absolute checkout path on ``sys.path`` or
writes to one silently imports, or overwrites, that tree when it runs
from any other clone (a second copy for a parent/change comparison).
Every such root must come from ``__file__``, as ``bench.py`` does.
"""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED = ("ocr_redaction_engine_spark", "jobs", "tools", "tests", "bench.py",
           "__spark_entry__.py")
#: An absolute path literal put on ``sys.path``, or one into the goldens.
FIXED_ROOT = re.compile(
    r"""sys\.path\.insert\(0,\s*['"]/|['"]/[^'"\s]*/tests/golden""")


def fixed_root_sites(root: Path = ROOT) -> list[str]:
    hits = []
    for u in (root / name for name in SCANNED):
        for f in ([u] if u.is_file() else sorted(u.rglob("*.py"))):
            for n, line in enumerate(f.read_text().splitlines(), 1):
                if str(root) in line or FIXED_ROOT.search(line):
                    hits.append(f"{f.relative_to(root)}:{n}: {line.strip()}")
    return hits


def test_no_program_file_hard_codes_the_checkout_path():
    assert fixed_root_sites() == []


def test_the_scan_sees_a_fixed_root(tmp_path):
    (tmp_path / "tools").mkdir()
    (tmp_path / "tools" / "x.py").write_text(
        'import sys\nsys.path.insert(0, ' + '"/srv/checkout")\n')
    (tmp_path / "bench.py").write_text(
        f'OUT = "{tmp_path}/tests/golden"\n')
    assert [h.split(":")[0] for h in fixed_root_sites(tmp_path)] == [
        "tools/x.py", "bench.py"]
