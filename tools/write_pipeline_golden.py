"""Materialize the pure-Python oracle's expected pipeline outputs as parquet
so the driver's DuckDB gate can hash-compare the flagship pipeline queries
(`pipeline_spans`, `pipeline_redactions`) instead of rows-only checking.

The golden files are a function of (seed=42, n_docs=150) — the exact corpus
`__spark_entry__._synthetic_corpus_dfs` builds — computed by the independent
pure-Python oracle (ocr_redaction_engine_spark/oracle.py), NOT by the Spark
pipeline under test. The kernel golden (``kernel_fields.parquet``) pins the
extraction kernel itself: every field ``kernel.extract_page`` returns for
every media page of that corpus, under every extractor and UNKNOWN, at
levels 0 and 1; tests/test_kernel_golden.py compares the kernel against it
without Spark. Rerun after any intentional semantics change:

    python tools/write_pipeline_golden.py
"""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_redaction_engine_spark import banks, corpus, kernel, oracle
from ocr_redaction_engine_spark.operators.validate import INVALID_DDL
from ocr_redaction_engine_spark.session import get_spark

SEED, N_DOCS = 42, 150
OUT = os.path.join(ROOT, "tests", "golden")

SPANS_DDL = "doc_id string, order int, kind string, text string, media_ref string"
RED_DDL = ("doc_id string, media_ref string, status string, field string, seq int, "
           "x1 int, y1 int, x2 int, y2 int, frame_id int, document_id string")

KERNEL_GOLDEN = os.path.join(OUT, "kernel_fields.parquet")
#: One row per field of one ``extract_page`` call; a REJECTED call (no
#: fields) is one row with null field_idx/field/value/boxes. ``boxes`` is
#: nullable so the E-Pancard ``None`` boxes stay distinct from ``[]``.
KERNEL_SCHEMA = pa.schema([
    ("media_ref", pa.string()), ("extractor", pa.string()),
    ("level", pa.int8()), ("status", pa.string()),
    ("field_idx", pa.int16()), ("field", pa.string()),
    ("value", pa.string()), ("boxes", pa.list_(pa.list_(pa.int32()))),
])


def kernel_rows(pages) -> list[dict]:
    """``extract_page`` over every page × (7 extractors + UNKNOWN) × levels
    0 and 1, flattened to :data:`KERNEL_SCHEMA` rows in that order."""
    rows = []
    for page in pages:
        words, qr = oracle._page_words(page), oracle._page_qr(page)
        for extractor in (*banks.DOC_TYPES, banks.UNKNOWN_TYPE):
            for level in (0, 1):
                res = kernel.extract_page(extractor, words, page["lines"], qr,
                                          level, places=None)
                key = {"media_ref": page["media_ref"], "extractor": extractor,
                       "level": level, "status": res["status"]}
                if not res["fields"]:
                    rows.append({**key, "field_idx": None, "field": None,
                                 "value": None, "boxes": None})
                for i, f in enumerate(res["fields"]):
                    boxes = (None if f["boxes"] is None
                             else [list(b) for b in f["boxes"]])
                    rows.append({**key, "field_idx": i, "field": f["field"],
                                 "value": f["value"], "boxes": boxes})
    return rows


def write_kernel_golden(pages) -> int:
    """Write :func:`kernel_rows` as zstd parquet with pyarrow (no Spark)."""
    rows = kernel_rows(pages)
    pq.write_table(pa.Table.from_pylist(rows, KERNEL_SCHEMA), KERNEL_GOLDEN,
                   compression="zstd")
    return len(rows)


def main():
    docs, pages = corpus.build_corpus_local(SEED, N_DOCS)
    n_kernel = write_kernel_golden(pages)
    spans = oracle.expected_spans(docs)
    wdocs, wpages = corpus.build_web_corpus_local(SEED, N_DOCS)
    xspans = oracle.expected_extracted_spans(wdocs, wpages)
    red, _vals = oracle.expected_page_outputs(docs, pages, level=1)
    names = {p["media_ref"]: p["document_name"] for p in pages}
    red_full = []
    for (doc_id, media_ref, status, field, seq, x1, y1, x2, y2) in red:
        frame_id, document_id = kernel.parse_document_name(names[media_ref])
        red_full.append((doc_id, media_ref, status, field, seq, x1, y1, x2, y2,
                         frame_id, document_id))

    spark = get_spark("golden", cores=4)
    spark.createDataFrame(spans, SPANS_DDL).coalesce(1) \
        .write.mode("overwrite").parquet(f"{OUT}/pipeline_spans.parquet")
    spark.createDataFrame(red_full, RED_DDL).coalesce(1) \
        .write.mode("overwrite").parquet(f"{OUT}/pipeline_redactions.parquet")
    spark.createDataFrame(xspans, SPANS_DDL).coalesce(1) \
        .write.mode("overwrite").parquet(f"{OUT}/extract_spans.parquet")

    # P1 validity-route golden: corrupted seed-42 corpus (every=13), the
    # exact input __spark_entry__.pipeline_invalid_route builds
    cdocs, cpages = corpus.build_corpus_local(SEED, N_DOCS)
    cdocs, cpages, _ = corpus.corrupt_corpus_local(cdocs, cpages, every=13)
    inv = oracle.expected_invalid_docs(cdocs, cpages)
    spark.createDataFrame(inv, INVALID_DDL).coalesce(1) \
        .write.mode("overwrite").parquet(f"{OUT}/pipeline_invalid.parquet")
    print(f"wrote {len(spans)} span rows, {len(red_full)} redaction rows, "
          f"{len(xspans)} extracted span rows, {len(inv)} invalid rows, "
          f"{n_kernel} kernel field rows to {OUT}")


if __name__ == "__main__":
    main()
