"""Field extraction stage — the single Arrow UDF on the hot path.

Classified pages → flat output rows via ``mapInPandas`` running the pure
semantics kernel (ocr_redaction_engine_spark.kernel). The take-while /
anchor-window heuristics (SURVEY.md §2.5 F4/F7/F15/F20/F24/F30/F33) are
doc-local ordered logic that SQL can't express cleanly; everything around
this stage (classification, joins, reassembly) stays JVM-side.

Everything page-local is finished INSIDE this stage — one kernel call sees
the whole page, so box sequence numbering (the reference's ``count_index``,
prepare_xml/redacted.py:36-40), the E-Pancard None-coordinates page blackout
(redacted.py:36 throws → page emits no boxes), and the REJECTED 80 % box
(rejected_doc_coordinates.py:13-19) are all computed here. Downstream sinks
are pure narrow filters: the whole redactions branch runs with ZERO shuffles
after the tokenize join.

Output: one row per extracted value and one row per redaction box.

    doc_id, offset, media_ref, document_name, status,
    row_kind ('value' | 'box'), field_idx, field, value, seq, x1, y1, x2, y2
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import kernel

PAGE_ROWS_SCHEMA_DDL = (
    "doc_id string, offset int, media_ref string, document_name string, "
    "status string, row_kind string, field_idx int, field string, "
    "value string, seq int, x1 int, y1 int, x2 int, y2 int, "
    "boxes_failed boolean"
)
# boxes_failed: page-constant marker for the None-coordinates quirk — the
# reference's coordinate flatten THROWS (redacted.py:36-44) so the page gets
# NO redactions XML at all, while a page whose boxes are merely empty still
# gets a Count-0 document. The flat rows must carry the distinction.

_COLS = [c.split()[0] for c in PAGE_ROWS_SCHEMA_DDL.split(", ")]


def _as_list(v):
    """numpy array cell → Python list via C-speed ``tolist()`` (which also
    converts numpy ints to plain ints, so no numpy leaks into output
    boxes); already-list cells pass through."""
    return v.tolist() if hasattr(v, "tolist") else list(v)


def _word_tuples(row):
    """Struct-of-arrays page columns → [(x1, y1, x2, y2, text)] with plain
    Python ints — one zip over tolist()ed columns, no per-element casts."""
    return list(zip(_as_list(row.wx1), _as_list(row.wy1),
                    _as_list(row.wx2), _as_list(row.wy2), _as_list(row.wtext)))


def _qr_tuples(row):
    return list(zip(_as_list(row.qx1), _as_list(row.qy1),
                    _as_list(row.qx2), _as_list(row.qy2)))


def extract_page_rows(pages: DataFrame, level: int = 1,
                      counters: dict | None = None,
                      places: list[str] | None = None) -> DataFrame:
    """Runs kernel.process_page (identify_page, then extract_page) per page
    inside Arrow batches. Identification happens HERE, not as a JVM
    when-chain: the regex bank is compiled once per worker at module import
    (the spark-submit --py-files equivalent of a broadcast automaton) and a
    page costs ~50 µs to classify — vs the reference's ≤7 re-OCR identify passes
    (document_identification/identify_doc.py:33-45) and vs Catalyst
    re-evaluating a 25-regex CASE chain in every expression that references
    the column. UNKNOWN pages shortcut to the REJECTED 80 % box row.

    ``counters`` (optional) holds Spark accumulators keyed ``pages`` /
    ``rejected`` (SURVEY §2.6 A8) — live at-least-once progress metrics
    (task retries re-count; the checkpoint lineage rows are the exact
    numbers)."""
    import pandas as pd

    c_pages = (counters or {}).get("pages")
    c_rejected = (counters or {}).get("rejected")

    def run(batches):
        for pdf in batches:
            out = []
            if c_pages is not None:
                c_pages.add(len(pdf))
            for row in pdf.itertuples(index=False):
                _, res = kernel.process_page(
                    _word_tuples(row), _as_list(row.lines), _qr_tuples(row),
                    level, places)
                base = (row.doc_id, int(row.offset), row.media_ref, row.document_name,
                        res["status"])
                if res["status"] == kernel.REJECTED:
                    if c_rejected is not None:
                        c_rejected.add(1)
                    x1, y1, x2, y2 = kernel.rejected_box(int(row.width), int(row.height))
                    out.append(base + ("box", -1, "__PAGE__", "", 1, x1, y1, x2, y2, False))
                    continue
                failed = kernel.boxes_output_failed(res["fields"])
                for fi, f in enumerate(res["fields"]):
                    out.append(base + ("value", fi, f["field"], f["value"], 0, 0, 0, 0, 0, failed))
                if failed:
                    continue  # the None-coordinates quirk: values kept, no boxes
                for seq, (fi, field, x1, y1, x2, y2) in enumerate(
                        kernel.flatten_boxes(res["fields"]), start=1):
                    out.append(base + ("box", fi, field, "", seq, x1, y1, x2, y2, False))
            # columnar construction: one C-speed transpose instead of pandas
            # row-tuple inference; an empty batch keeps object columns
            yield pd.DataFrame(dict(zip(_COLS, zip(*out))), columns=_COLS)

    return pages.mapInPandas(run, schema=PAGE_ROWS_SCHEMA_DDL)
