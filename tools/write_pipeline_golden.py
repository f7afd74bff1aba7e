"""Materialize the pure-Python oracle's expected pipeline outputs as parquet
so the driver's DuckDB gate can hash-compare the flagship pipeline queries
(`pipeline_spans`, `pipeline_redactions`) instead of rows-only checking.

The golden files are a function of (seed=42, n_docs=150) — the exact corpus
`__spark_entry__._synthetic_corpus_dfs` builds — computed by the independent
pure-Python oracle (ocr_redaction_engine_spark/oracle.py), NOT by the Spark
pipeline under test. Rerun after any intentional semantics change:

    python tools/write_pipeline_golden.py
"""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ocr_redaction_engine_spark import corpus, kernel, oracle
from ocr_redaction_engine_spark.session import get_spark

SEED, N_DOCS = 42, 150
OUT = os.path.join(ROOT, "tests", "golden")

SPANS_DDL = "doc_id string, order int, kind string, text string, media_ref string"
INVALID_DDL = "doc_id string, status string, task_result string, reason string"
RED_DDL = ("doc_id string, media_ref string, status string, field string, seq int, "
           "x1 int, y1 int, x2 int, y2 int, frame_id int, document_id string")


def main():
    docs, pages = corpus.build_corpus_local(SEED, N_DOCS)
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
          f"{len(xspans)} extracted span rows, {len(inv)} invalid rows to {OUT}")


if __name__ == "__main__":
    main()
