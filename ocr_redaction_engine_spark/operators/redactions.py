"""Redaction outputs (SURVEY.md §2.6 A3/A4/A6/A7, §2.1 S6/S7/S8) — all JVM,
all narrow.

The extract stage (operators/extract.py) already finished every page-local
computation — box sequence numbers, the None-coordinates page blackout, the
REJECTED 80 % box — so the two sinks here are pure filters + the frame/doc-id
parse. No shuffle, no window, no join: on a 1000-executor cluster this whole
branch pipelines inside the extract stage's tasks.

* ``values``     — the indexvalues sink (prepare_xml/redacted.py:46-55):
                   (doc_id, media_ref, frame_id, document_id, field, value).
* ``redactions`` — one row per box with the 1-based per-page ``seq``
                   (the reference's count_index, prepare_xml/redacted.py:36-40).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NAME_RE = "^[0-9]+F[0-9a-fA-Z_-]+"


def with_frame_doc_ids(df: DataFrame) -> DataFrame:
    """Frame/doc id parse (A6) — prepare_xml/redacted.py:11-30 as Catalyst
    expressions; twin of kernel.parse_document_name."""
    first_seg = F.split(F.col("document_name"), "_").getItem(0)
    frame_str = F.split(first_seg, "-").getItem(0)
    matched = F.col("document_name").rlike(_NAME_RE)
    frame_id = F.when(
        matched, F.split(frame_str, "F").getItem(0).cast("int") - F.lit(1)
    ).otherwise(F.lit(0))
    document_id = F.when(
        matched, F.expr("substring(split(split(document_name, '_')[0], '-')[1], 1, "
                        "length(split(split(document_name, '_')[0], '-')[1]) - 1)")
    ).otherwise(F.expr("substring(split(document_name, '_')[0], 1, "
                       "length(split(document_name, '_')[0]) - 1)"))
    return df.withColumn("frame_id", frame_id).withColumn("document_id", document_id)


def build_values(page_rows: DataFrame) -> DataFrame:
    vals = page_rows.filter(F.col("row_kind") == "value")
    return with_frame_doc_ids(vals).select(
        "doc_id", "media_ref", "frame_id", "document_id", "field", "value"
    )


def build_redactions(page_rows: DataFrame) -> DataFrame:
    boxes = page_rows.filter(F.col("row_kind") == "box")
    return with_frame_doc_ids(boxes).select(
        "doc_id", "media_ref", "status", "field", "seq",
        "x1", "y1", "x2", "y2", "frame_id", "document_id",
    )
