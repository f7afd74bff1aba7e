"""Single-process reference-semantics oracle.

Computes, in plain Python over the in-memory corpus, exactly what the Spark
pipeline must produce:

* ``expected_spans``      — (doc_id, order, kind, text, media_ref) rows, text
  spans PII-redacted, order = original offset (FIXTURES.md §3).
* ``expected_redactions`` — per-page redaction boxes with 1-based ``seq``
  mirroring prepare_xml/redacted.py:36-40, the rejected 80 % box
  (rejected_doc_coordinates.py:13-19), and the E-Pancard ``None``-coordinates
  whole-page box blackout quirk.
* ``expected_values``     — the indexvalues sink rows (doc_id, media_ref,
  field, value), REDACTED pages only (prepare_xml/redacted.py:46-55).

The pipeline's golden pytest asserts row-level equality against these
(span-sequence equality on (kind, text, media_ref, order) — the north rule).
"""

from __future__ import annotations

from . import kernel
from .pii import redact_text_py


def expected_spans(docs) -> list[tuple]:
    rows = []
    for d in docs:
        for s in sorted(d["spans"], key=lambda s: s["offset"]):
            if s["kind"] == "text":
                rows.append((d["doc_id"], s["offset"], "text", redact_text_py(s["text"]), ""))
            else:
                rows.append((d["doc_id"], s["offset"], "media", "", s["media_ref"]))
    return rows


def expected_extracted_spans(docs, pages, min_len: int = 15,
                             max_link_density: float = 0.2) -> list[tuple]:
    """Pure-Python oracle for the main-content extraction pipeline
    (extraction_pipeline.extract_spans): per span, recover the main content —
    html → DOM-block boilerplate strip (re module, independent of Catalyst
    regex), pdf → column-major de-interleave, text → passthrough, media →
    the backing page's full OCR text. Returns
    (doc_id, order, kind, text, media_ref) rows in span order."""
    import re

    page_text = {p["media_ref"]: "\n".join(p["lines"]) for p in pages}
    rows = []
    for d in docs:
        for s in sorted(d["spans"], key=lambda s: s["offset"]):
            k = s["kind"]
            if k == "html":
                clean = re.sub(r"(?s)<script[^>]*>.*?</script>", " ", s["text"])
                clean = re.sub(r"(?s)<style[^>]*>.*?</style>", " ", clean)
                kept = []
                for b in re.split(r"</p>|</div>|</nav>|</footer>", clean):
                    btext = re.sub(r"\s+", " ", re.sub(r"<[^>]*>", " ", b)).strip()
                    anchor = sum(len(a) for a in re.findall(r"<a [^>]*>([^<]*)</a>", b))
                    if len(btext) >= min_len and anchor / max(len(btext), 1) <= max_link_density:
                        kept.append(btext)
                if kept:
                    rows.append((d["doc_id"], s["offset"], "html", " ".join(kept), ""))
            elif k == "pdf":
                toks = s["text"].split(" ")
                rows.append((d["doc_id"], s["offset"], "pdf",
                             " ".join(toks[0::2] + toks[1::2]), ""))
            elif k == "text":
                rows.append((d["doc_id"], s["offset"], "text", s["text"], ""))
            else:
                rows.append((d["doc_id"], s["offset"], "media",
                             page_text[s["media_ref"]], s["media_ref"]))
    return rows


def _page_words(page):
    return [(w["x1"], w["y1"], w["x2"], w["y2"], w["text"]) for w in page["words"]]


def _page_qr(page):
    return [(q["x1"], q["y1"], q["x2"], q["y2"]) for q in page["qr_boxes"]]


def process_page(page, level: int = 1, places=None) -> dict:
    """Identify + extract one media page; returns the full page result.
    Identification runs on the sparse "eng" token stream; extraction
    re-views per doc type (kernel.mode_view, CDSL → "default")."""
    words = _page_words(page)
    id_words, _ = kernel.mode_view(words, page["lines"], "eng")
    doc_type = kernel.identify_page([w[4] for w in id_words])
    result = kernel.extract_page(doc_type, words, page["lines"], _page_qr(page),
                                 level, places=places)
    return {"doc_type": doc_type, **result}


def expected_page_outputs(docs, pages, level: int = 1, places=None):
    """Returns (redaction_rows, value_rows).

    redaction_rows: (doc_id, media_ref, status, field, seq, x1, y1, x2, y2)
    value_rows:     (doc_id, media_ref, field, value)
    """
    page_by_ref = {p["media_ref"]: p for p in pages}
    redactions, values = [], []
    for d in docs:
        for s in d["spans"]:
            if s["kind"] != "media":
                continue
            page = page_by_ref[s["media_ref"]]
            res = process_page(page, level, places=places)
            if res["status"] == kernel.REJECTED:
                x1, y1, x2, y2 = kernel.rejected_box(page["width"], page["height"])
                redactions.append((d["doc_id"], page["media_ref"], "REJECTED", "__PAGE__", 1, x1, y1, x2, y2))
                continue
            for f in res["fields"]:
                values.append((d["doc_id"], page["media_ref"], f["field"], f["value"]))
            if kernel.boxes_output_failed(res["fields"]):
                # prepare_xml/redacted.py:36 throws on None coordinates → the
                # page emits NO boxes at all (but keeps its values + status)
                continue
            seq = 0
            for _, field, x1, y1, x2, y2 in kernel.flatten_boxes(res["fields"]):
                seq += 1
                redactions.append((d["doc_id"], page["media_ref"], "REDACTED", field, seq, x1, y1, x2, y2))
    return redactions, values


def expected_invalid_docs(docs, pages) -> list[tuple]:
    """P1 validity oracle: (doc_id, status, task_result, reason) rows for
    documents whose media fails the reference's promotion check — media_ref
    unresolvable (missing_media ≅ os.path.exists False) or resolved
    document_name extension outside jpg/jpeg/tiff (bad_extension), doc-level
    reason = min(reasons) mirroring operators/validate.py."""
    by_ref = {p["media_ref"]: p for p in pages}
    out = []
    for d in docs:
        reasons = []
        for s in d["spans"]:
            if s["kind"] != "media":
                continue
            p = by_ref.get(s["media_ref"])
            if p is None:
                reasons.append("missing_media")
            elif (p["document_name"].rsplit(".", 1)[-1].lower()
                  not in ("jpg", "jpeg", "tiff")):
                reasons.append("bad_extension")
        if reasons:
            out.append((d["doc_id"], "INVALID_DOCUMENT", "Invalid Document",
                        min(reasons)))
    return out
