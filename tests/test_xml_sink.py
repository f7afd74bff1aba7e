"""Byte-identical XML sink golden test.

The oracle transcribes the reference's ElementTree writers
(prepare_xml/redacted.py:32-73,96-103 and prepare_xml/rejected.py:34-66)
verbatim over the kernel's page results; the Spark render
(operators/xml_sink.py, pure format_string/concat expressions) must produce
the same bytes and file names for every page.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ocr_redaction_engine_spark import kernel, oracle
from ocr_redaction_engine_spark.operators.explode import explode_spans, route_spans
from ocr_redaction_engine_spark.operators.extract import extract_page_rows
from ocr_redaction_engine_spark.operators.tokenize import tokenize_fixture
from ocr_redaction_engine_spark.operators.xml_sink import (
    render_redactions_xml, render_values_xml)


def _et_doc(element_name: str, rows: list[str]) -> str:
    # redacted.py:57-73 / rejected.py:44-63 via ElementTree, serialized the
    # way tree.write(..., encoding="utf-8", xml_declaration=True) does
    root = ET.Element("DataBase")
    count = ET.SubElement(root, "Count")
    count.text = str(len(rows))
    el = ET.SubElement(root, element_name)
    for i, item in enumerate(rows, start=1):
        it = ET.SubElement(el, element_name[:-1], ID=str(i))
        it.text = str(item)
    return ("<?xml version='1.0' encoding='utf-8'?>\n"
            + ET.tostring(root, encoding="unicode"))


def _rename_xml_file(filename: str, element_name: str) -> str:
    # redacted.py:96-103
    filename_list = filename.split("_", 1)
    if element_name == "indexvalues":
        renamed = f"{filename_list[0]}-RD_{filename_list[-1]}"
    else:
        renamed = filename
    return renamed.rsplit(".", 1)[0] + ".xml"


def _oracle_xml(docs, pages):
    page_by_ref = {p["media_ref"]: p for p in pages}
    red, vals = {}, {}
    for d in docs:
        for s in d["spans"]:
            if s["kind"] != "media":
                continue
            page = page_by_ref[s["media_ref"]]
            res = oracle.process_page(page, level=1)
            name = page["document_name"]
            frame_id, document_id = kernel.parse_document_name(name)
            key = (d["doc_id"], page["media_ref"])
            if res["status"] == kernel.REJECTED:
                x1, y1, x2, y2 = kernel.rejected_box(page["width"], page["height"])
                rows = [f"0,0,0,,,,0,0,0,0,0,0,,vv,CVDPS,vv,{frame_id},{document_id},"
                        f"0,1,{x1},{y1},{x2},{y2},0,0"]
                red[key] = (f"{name.split('.')[0]}.xml",
                            _et_doc("DatabaseRedactions", rows))
                continue
            vrows = [f'"Title": "{f["field"]}", "FrameID": "{frame_id}", '
                     f'"DocID": "{document_id}", "Value": "{f["value"]}"'
                     for f in res["fields"]]
            vals[key] = (_rename_xml_file(name, "indexvalues"),
                         _et_doc("indexvalues", vrows))
            if kernel.boxes_output_failed(res["fields"]):
                continue  # redacted.py:36 throws on None → no redactions file
            rows = []
            for seq, (_, _, x1, y1, x2, y2) in enumerate(
                    kernel.flatten_boxes(res["fields"]), start=1):
                rows.append(f"0,0,0,,,,0,0,0,0,0,0,,vv,CVDPS,vv,{frame_id},"
                            f"{document_id},0,{seq},{x1},{y1},{x2},{y2},0,0")
            red[key] = (_rename_xml_file(name, "DatabaseRedactions"),
                        _et_doc("DatabaseRedactions", rows))
    return red, vals


def test_xml_bytes_equal_reference_writer(spark, corpus_dfs, local_corpus):
    docs, pages = local_corpus
    docs_df, pages_df = corpus_dfs
    spans = explode_spans(docs_df)
    _, media_spans = route_spans(spans)
    page_rows = extract_page_rows(tokenize_fixture(media_spans, pages_df), level=1)

    exp_red, exp_vals = _oracle_xml(docs, pages)

    got_red = {(r.doc_id, r.media_ref): (r.xml_file_name, r.xml)
               for r in render_redactions_xml(page_rows).collect()}
    assert got_red == exp_red

    got_vals = {(r.doc_id, r.media_ref): (r.xml_file_name, r.xml)
                for r in render_values_xml(page_rows).collect()}
    assert got_vals == exp_vals


def test_render_masks_smoke(tmp_path):
    """Debug renderer (ocrr_testing parity): a synthetic page renders to a
    valid P6 PPM with at least one black redaction fill."""
    import sys
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import render_masks
    from ocr_redaction_engine_spark import corpus

    _, pages = corpus.build_corpus_local(42, 10)
    page = pages[0]
    status, boxes = render_masks.page_boxes(page)
    out = str(tmp_path / "m.ppm")
    w, h = render_masks.render_page_ppm(page, boxes, out)
    data = open(out, "rb").read()
    assert data.startswith(f"P6\n{w} {h}\n255\n".encode())
    body = data.split(b"\n", 3)[3]
    assert len(body) == w * h * 3
    assert boxes and b"\x00\x00\x00" in body   # a black fill landed
