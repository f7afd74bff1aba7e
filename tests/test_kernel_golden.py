"""The extraction kernel against a fixed record, without Spark.

``tests/golden/kernel_fields.parquet`` holds every field
``kernel.extract_page`` returns for every media page of the seed-42,
150-doc corpus, under all 7 extractors plus UNKNOWN, at levels 0 and 1.
The Spark goldens compare the pipeline against ``oracle``, which calls the
same kernel, so only this record catches a kernel change that moves both.
``tools/write_pipeline_golden.py`` writes it; rerun that only after an
intentional semantics change.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
import write_pipeline_golden as golden  # noqa: E402

from ocr_redaction_engine_spark import banks, corpus  # noqa: E402


def test_kernel_equals_golden():
    _, pages = corpus.build_corpus_local(golden.SEED, golden.N_DOCS)
    want = pq.read_table(golden.KERNEL_GOLDEN).to_pylist()
    got = golden.kernel_rows(pages)
    first = next((i for i, (g, w) in enumerate(zip(got, want)) if g != w), None)
    assert first is None, f"row {first}: kernel {got[first]} != golden {want[first]}"
    assert len(got) == len(want)


def test_golden_covers_every_page_extractor_level_and_box_shape():
    rows = pq.read_table(golden.KERNEL_GOLDEN).to_pylist()
    _, pages = corpus.build_corpus_local(golden.SEED, golden.N_DOCS)
    assert len(pages) == 246
    calls = {(r["media_ref"], r["extractor"], r["level"]) for r in rows}
    assert len(calls) == len(pages) * (len(banks.DOC_TYPES) + 1) * 2
    fields = [r for r in rows if r["field"] is not None]
    # the E-Pancard None-coordinates quirk and empty boxes both occur
    assert any(r["boxes"] is None for r in fields)
    assert any(r["boxes"] == [] for r in fields)
    assert {r["status"] for r in rows} == {"REDACTED", "REJECTED"}
