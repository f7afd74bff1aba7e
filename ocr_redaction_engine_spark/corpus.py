"""Deterministic synthetic corpus of interleaved text+media documents.

Materializes the north-rule input shape (BASELINE.json:input_hint):

    documents(doc_id: string,
              spans: array<struct<kind, text, media_ref, offset:int>>)
    media_pages(media_ref, document_name, width, height, words, lines, qr_boxes)

``media_pages`` is the deterministic OCR backing store (FIXTURES.md §2): the
fixture tokenizer resolves ``media_ref`` to word boxes instead of running
tesseract, making the ``mapInPandas`` stage bit-stable.

Every row is a pure function of ``(seed, doc_index)`` — no RNG state, no wall
clock — so a killed run regenerates byte-identical input (SURVEY.md §7.2) and
the generator itself distributes over ``spark.range`` for arbitrary scale.

Span-count skew is Zipf-flavored (clipped [1, 64]) to reproduce the
media-heavy-document skew the pipeline must handle (north_rule).
"""

from __future__ import annotations

import hashlib

from .places import GIVEN_NAMES, PLACES_LIST, SURNAMES

MEDIA_SHARE = 0.2
MAX_SPANS = 64
ZIPF_A = 1.3

PAGE_TYPES = ["PANCARD", "AADHAAR", "E-AADHAAR", "E-PANCARD", "PASSPORT", "DL", "CDSL", "NOISE"]


def _h(*parts) -> int:
    """Deterministic 64-bit hash of the argument tuple."""
    s = ":".join(str(p) for p in parts)
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big")


def _u(*parts) -> float:
    return _h(*parts) / 2**64


def _pick(seq, *parts):
    return seq[_h(*parts) % len(seq)]


# Zipf(a=1.3) clipped to [1, 64]: precomputed cumulative distribution.
_ZIPF_W = [1.0 / (k ** ZIPF_A) for k in range(1, MAX_SPANS + 1)]
_ZIPF_T = sum(_ZIPF_W)
_ZIPF_CDF = []
_acc = 0.0
for _w in _ZIPF_W:
    _acc += _w / _ZIPF_T
    _ZIPF_CDF.append(_acc)


def _span_count(seed, i) -> int:
    u = _u(seed, i, "nspans")
    for k, c in enumerate(_ZIPF_CDF):
        if u <= c:
            return k + 1
    return MAX_SPANS


# ---------------------------------------------------------------------------
# Text spans: templates with plantable PII
# ---------------------------------------------------------------------------

def _date(seed, *k) -> str:
    d = 1 + _h(seed, *k, "d") % 28
    m = 1 + _h(seed, *k, "m") % 12
    y = 1950 + _h(seed, *k, "y") % 60
    return f"{d:02d}/{m:02d}/{y:04d}"


def _pan10(seed, *k) -> str:
    a = "".join(chr(65 + _h(seed, *k, "p", j) % 26) for j in range(5))
    b = f"{_h(seed, *k, 'pn') % 10000:04d}"
    c = chr(65 + _h(seed, *k, "pl") % 26)
    return a + b + c


def _digits(seed, n, *k) -> str:
    return "".join(str(_h(seed, *k, "dg", j) % 10) for j in range(n))


def _text_span(seed, i, j) -> str:
    g = _pick(GIVEN_NAMES, seed, i, j, "g")
    s = _pick(SURNAMES, seed, i, j, "s")
    city = _pick(PLACES_LIST, seed, i, j, "c")
    t = _h(seed, i, j, "tmpl") % 8
    if t == 0:
        return (f"Customer {g} {s} reached out on {_date(seed, i, j)} regarding "
                f"account verification in {city}.")
    if t == 1:
        return (f"Contact {g.lower()}.{s.lower()}@example.com or "
                f"{_digits(seed, 10, i, j)} with reference SSN {_digits(seed, 3, i, j, 1)}-"
                f"{_digits(seed, 2, i, j, 2)}-{_digits(seed, 4, i, j, 3)}.")
    if t == 2:
        return (f"Applicant {g} {s} residing in {city} pincode {_digits(seed, 6, i, j)} "
                f"submitted PAN {_pan10(seed, i, j)}.")
    if t == 3:
        return (f"Aadhaar {_digits(seed, 4, i, j, 1)} {_digits(seed, 4, i, j, 2)} "
                f"{_digits(seed, 4, i, j, 3)} issued on {_date(seed, i, j)} for {g} {s}.")
    if t == 4:
        return f"Meeting scheduled on {_date(seed, i, j)} at the {city} office."
    if t == 5:
        return f"Invoice overdue; call {_digits(seed, 10, i, j)} for settlement queries."
    if t == 6:
        return "This paragraph is plain boilerplate with no sensitive content at all."
    return f"Records archived at the {city} facility pending review."


# ---------------------------------------------------------------------------
# Media pages: per-doc-type line templates (see kernel.py for the extractor
# semantics each template exercises)
# ---------------------------------------------------------------------------

def _page_lines(seed, i, j, page_type):
    g = _pick(GIVEN_NAMES, seed, i, j, "pg")
    s = _pick(SURNAMES, seed, i, j, "ps")
    g2 = _pick(GIVEN_NAMES, seed, i, j, "pg2")
    s2 = _pick(SURNAMES, seed, i, j, "ps2")
    city = _pick(PLACES_LIST, seed, i, j, "pc")
    dob = _date(seed, i, j, "dob")
    v = _h(seed, i, j, "variant") % 3

    if page_type == "PANCARD":
        lines = ["INCOME TAX DEPARTMENT", "GOVT OF INDIA"]
        if v == 0:  # pattern-1 (father keyword present)
            lines += ["Name", f"{g} {s}", "Fathers Name", f"{g2} {s2}", "Signatory"]
        else:       # pattern-2
            lines += [f"{g} {s}", "Permanent Account Number"]
        lines += [_pan10(seed, i, j), dob]
        return lines
    if page_type == "AADHAAR":
        header = "Unique Identification Authority"
        name = f"{g} {s}"
        number = f"{_digits(seed, 4, i, j, 1)} {_digits(seed, 4, i, j, 2)} {_digits(seed, 4, i, j, 3)}"
        gender = "MALE" if _h(seed, i, j, "sex") % 2 else "FEMALE"
        addr = f"{city} {_digits(seed, 6, i, j, 'pin')}"
        mobile = _digits(seed, 10, i, j, "mob")
        if v == 0:    # DOB-keyword anchor path
            return [header, name, f"DOB: {dob}", gender, number, addr, mobile]
        if v == 1:    # gender-fallback path (gender line last in the filtered list)
            return [header, name, number, addr, mobile, gender]
        # v == 2: neither anchor (neutral last line) → name extractor empty
        return [header, name, dob, gender, number, addr, mobile, "Issued by authority"]
    if page_type == "E-AADHAAR":
        number = f"{_digits(seed, 4, i, j, 1)} {_digits(seed, 4, i, j, 2)} {_digits(seed, 4, i, j, 3)}"
        gender = "MALE" if _h(seed, i, j, "sex") % 2 else "FEMALE"
        return [
            "Unique Identification",
            "To",
            f"{g} {s}",
            f"{city}",
            "Enrollment No 1234",
            f"{g2} {s2}",
            number,
            f"DOB: {dob}",
            gender,
            f"{city} {_digits(seed, 6, i, j, 'pin')}",
            _digits(seed, 10, i, j, "mob"),
            "Issued",
        ]
    if page_type == "E-PANCARD":
        lines = ["e-PAN Card", "Name", f"{g} {s} JI"]
        if v != 2:
            lines += ["Father's name", f"{g2} {s2} JI"]
        if v == 1:
            lines += ["Rat 1 AT", "intermediate", f"{g2} {s2}"]
        lines += [dob, _pan10(seed, i, j), "Male" if _h(seed, i, j, "sex") % 2 else "Female"]
        if v == 1:
            lines += [f"please inform {g} promptly"]
        return lines
    if page_type == "PASSPORT":
        pnum = chr(65 + _h(seed, i, j, "pp") % 26) + _digits(seed, 7, i, j, "pn")
        mrz = f"P<IND{s}<<{g}<<<<<<<<"
        return [
            "REPUBLIC OF INDIA", "Passport No", pnum, "Surname", s,
            "Given Names", g, "Nationality INDIAN", dob, mrz,
            f"{city} {_digits(seed, 6, i, j, 'pin')}",
        ]
    if page_type == "DL":
        d2 = f"{1 + _h(seed, i, j, 'dd') % 28:02d}.{1 + _h(seed, i, j, 'dm') % 12:02d}.{1990 + _h(seed, i, j, 'dy') % 30:04d}"
        return [
            "UNION OF INDIA", "DRIVING LICENSE", _digits(seed, 11, i, j, "dl"),
            "Name", f"{g} {s} JI", f"Son of {g2}", d2, dob, city,
        ]
    if page_type == "CDSL":
        title = _pick(SURNAMES, seed, i, j, "tc").capitalize()
        return [
            "CDSL Ventures Limited",
            f"PAN {_pan10(seed, i, j)}",
            # isolated single-token watermark: the sparse "eng" OCR pass sees
            # it (identification stream), the "default" block-segmentation
            # pass CDSL extraction uses does NOT (kernel.mode_view / F34) —
            # without the mode plumbing it would leak into the client name
            "CVLKRA",
            f"Name : {g} {s} {title}",
            "KYC Status Not Available",
        ]
    # NOISE — no identification bank token may appear here
    fillers = [
        "Routine archive copy retained for records",
        "Quality review completed without remarks",
        "Batch reconciliation pending supervisor sign off",
        "Document scanned at branch intake counter",
        "No further action required on this page",
    ]
    return [_pick(fillers, seed, i, j, "n1"), _pick(fillers, seed, i, j, "n2")]


def _layout_words(lines):
    """Deterministic synthetic layout: token boxes advance left→right,
    lines top→down (stands in for tesseract geometry)."""
    words = []
    y = 10
    for line in lines:
        x = 15
        for tok in line.split():
            w = 9 * len(tok) + 6
            words.append((x, y, x + w, y + 24, tok))
            x += w + 12
        y += 40
    width = max((w[2] for w in words), default=100) + 15
    height = y + 20
    return words, width, height


def _qr_boxes(seed, i, j, width, height):
    n = _h(seed, i, j, "nqr") % 3
    boxes = []
    for q in range(n):
        x1 = 20 + _h(seed, i, j, "qx", q) % max(1, width - 120)
        y1 = 20 + _h(seed, i, j, "qy", q) % max(1, height - 120)
        boxes.append((x1, y1, x1 + 90, y1 + 90))
    return boxes


def _document_name(seed, i, j, media_ref):
    hexs = hashlib.md5(f"{seed}:{i}:{j}:dn".encode()).hexdigest()[:6]
    if _h(seed, i, j, "dnv") % 2:
        frame = 1 + _h(seed, i, j, "fr") % 20
        return f"{frame}F-{hexs}x_{media_ref}.jpg"
    return f"p{hexs}_{media_ref}.jpg"


def _media_span(seed: int, i: int, j: int):
    """One media span + its backing OCR page — shared by both corpus
    flavors; pure function of (seed, i, j) so the redaction corpus's bytes
    are untouched by the web-corpus addition."""
    media_ref = f"pg-{i:08d}-{j:02d}"
    page_type = _pick(PAGE_TYPES, seed, i, j, "ptype")
    lines = _page_lines(seed, i, j, page_type)
    words, width, height = _layout_words(lines)
    page = {
        "media_ref": media_ref,
        "document_name": _document_name(seed, i, j, media_ref),
        "width": width,
        "height": height,
        "doc_type": page_type,   # generation ground truth — engine must NOT read it
        "words": [{"x1": a, "y1": b, "x2": c, "y2": d, "text": t} for a, b, c, d, t in words],
        "lines": lines,
        "qr_boxes": [{"x1": a, "y1": b, "x2": c, "y2": d} for a, b, c, d in _qr_boxes(seed, i, j, width, height)],
    }
    span = {"kind": "media", "text": "", "media_ref": media_ref, "offset": j}
    return span, page


def gen_document(seed: int, i: int):
    """Generate one interleaved document. Returns
    (doc_row, [media_page_rows]) — each a plain dict."""
    n = _span_count(seed, i)
    doc_id = f"doc-{i:08d}"
    spans, pages = [], []
    for j in range(n):
        is_media = _u(seed, i, j, "kind") < MEDIA_SHARE
        if is_media:
            span, page = _media_span(seed, i, j)
            pages.append(page)
            spans.append(span)
        else:
            spans.append({"kind": "text", "text": _text_span(seed, i, j), "media_ref": "", "offset": j})
    return {"doc_id": doc_id, "spans": spans}, pages


# ---------------------------------------------------------------------------
# Web-corpus flavor: interleaved html / pdf / text / media spans — the input
# of the main-content extraction pipeline (north rule: HTML boilerplate
# strip, PDF/layout parse, DOM heuristics). Same documents schema; only the
# ``kind`` vocabulary widens.
# ---------------------------------------------------------------------------

def _markup(doc_id: str, text: str) -> str:
    """Deterministic boilerplate furniture around ``text``: head script/style
    junk, a nav bar, the content split at a TOKEN boundary into two <p>
    blocks (so block-ordered reassembly is byte-exact), a link-only sidebar,
    and a footer with legal links. Text spans never contain '<', so tag
    stripping cannot eat content."""
    toks = text.split(" ")
    h = (len(toks) + 1) // 2
    p1, p2 = " ".join(toks[:h]), " ".join(toks[h:])
    sid = hashlib.md5(f"{doc_id}:{text}".encode()).hexdigest()
    return (
        f'<html><head><title>{doc_id}</title>'
        f'<script type="text/javascript">var t="{sid[:8]}";trk();</script>'
        '<style>.m{margin:0}</style></head><body>'
        '<nav><a href="/">Home</a><a href="/a">About</a><a href="/c">Contact</a></nav>'
        f'<div id="main"><p>{p1}</p><p>{p2}</p></div>'
        f'<div class="side"><a href="/x">{sid[8:14]}</a><a href="/y">{sid[14:20]}</a></div>'
        '<footer>Copyright Example Site - <a href="/p">Privacy</a><a href="/t">Terms</a></footer>'
        '</body></html>'
    )


def _pdf_scan(text: str) -> str:
    """Naive y-then-x scan of a two-column page whose true reading order is
    ``text``: column 0 holds the first ceil(n/2) tokens, column 1 the rest;
    the scan interleaves the columns row by row. The extractor must undo
    this (column-major re-sort) to recover ``text`` exactly."""
    toks = text.split(" ")
    h = (len(toks) + 1) // 2
    col0, col1 = toks[:h], toks[h:]
    out = []
    for r in range(h):
        out.append(col0[r])
        if r < len(col1):
            out.append(col1[r])
    return " ".join(out)


def gen_web_document(seed: int, i: int):
    """One interleaved web document: html (boilerplate-wrapped), pdf
    (two-column scan order), plain text, and media spans. Pure function of
    (seed, i); the underlying content of html/pdf/text spans is the same
    ``_text_span`` generator, so ground truth is recoverable exactly."""
    n = _span_count(seed, i)
    doc_id = f"doc-{i:08d}"
    spans, pages = [], []
    for j in range(n):
        u = _u(seed, i, j, "wkind")
        if u < 0.35:
            spans.append({"kind": "html", "text": _markup(doc_id, _text_span(seed, i, j)),
                          "media_ref": "", "offset": j})
        elif u < 0.60:
            spans.append({"kind": "pdf", "text": _pdf_scan(_text_span(seed, i, j)),
                          "media_ref": "", "offset": j})
        elif u < 0.80:
            spans.append({"kind": "text", "text": _text_span(seed, i, j),
                          "media_ref": "", "offset": j})
        else:
            span, page = _media_span(seed, i, j)
            pages.append(page)
            spans.append(span)
    return {"doc_id": doc_id, "spans": spans}, pages


def build_corpus_local(seed: int, n_docs: int, gen=gen_document):
    """Driver-side corpus for the oracle / unit tests."""
    docs, pages = [], []
    for i in range(n_docs):
        d, p = gen(seed, i)
        docs.append(d)
        pages.extend(p)
    return docs, pages


def build_web_corpus_local(seed: int, n_docs: int):
    return build_corpus_local(seed, n_docs, gen=gen_web_document)


# ---------------------------------------------------------------------------
# Invalid-document planting (P1 validity route): a deterministic rule (pure
# function of the doc index) marks documents invalid the two ways the
# reference can reject them (in_progress/process_in_progress_status.py:62-84):
# a non-whitelisted file extension, or a file that does not exist (here: a
# media_ref with no backing media_pages row).
# ---------------------------------------------------------------------------

def corrupt_corpus_local(docs: list, pages: list, every: int = 13):
    """Plant invalid documents in a locally-built corpus, without mutating
    its inputs. Doc index ``i`` is invalid iff ``i % every == 3`` and it has
    media pages (the validity check is about the media file); the mode
    alternates so both routes stay exercised at any corpus size:
    bad_extension rewrites the FIRST page's document_name suffix to '.pdf'
    (on a copy), missing_media drops that page (dangling media_ref).
    Returns (docs, pages, expected) where expected maps doc_id -> reason
    for docs actually corrupted."""
    by_ref = {p["media_ref"]: p for p in pages}
    expected, planted = {}, {}
    for i, d in enumerate(docs):
        refs = [s["media_ref"] for s in d["spans"] if s["kind"] == "media"]
        if i % every != 3 or not refs:
            continue
        mode = "bad_extension" if (i // every) % 2 == 0 else "missing_media"
        expected[d["doc_id"]] = mode
        p0 = None                                        # None: dropped
        if mode == "bad_extension":
            p0 = dict(by_ref[refs[0]])
            p0["document_name"] = p0["document_name"].rsplit(".", 1)[0] + ".pdf"
        planted[refs[0]] = p0
    pages = [q for q in (planted.get(p["media_ref"], p) for p in pages)
             if q is not None]
    return docs, pages, expected


# ---------------------------------------------------------------------------
# Distributed materialization
# ---------------------------------------------------------------------------

DOCUMENTS_DDL = (
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
MEDIA_PAGES_DDL = (
    "media_ref string, document_name string, width int, height int, doc_type string, "
    "words array<struct<x1:int,y1:int,x2:int,y2:int,text:string>>, "
    "lines array<string>, "
    "qr_boxes array<struct<x1:int,y1:int,x2:int,y2:int>>"
)


def _doc_row(d: dict) -> tuple:
    return (d["doc_id"],
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]])


def _page_row(p: dict) -> tuple:
    return (p["media_ref"], p["document_name"], p["width"], p["height"], p["doc_type"],
            [(w["x1"], w["y1"], w["x2"], w["y2"], w["text"]) for w in p["words"]],
            p["lines"],
            [(q["x1"], q["y1"], q["x2"], q["y2"]) for q in p["qr_boxes"]])


def local_frames(spark, docs: list, pages: list):
    """A locally-built corpus (``build_corpus_local`` dicts) as the
    (documents, media_pages) DataFrames ``write_corpus`` would write."""
    return (spark.createDataFrame([_doc_row(d) for d in docs], DOCUMENTS_DDL),
            spark.createDataFrame([_page_row(p) for p in pages], MEDIA_PAGES_DDL))


def write_corpus(spark, out_dir: str, n_docs: int, seed: int = 42, partitions: int = 32,
                 gen=gen_document):
    """Distributed, deterministic corpus materialization: documents +
    media_pages parquet under ``out_dir``. Pure function of (seed, id) per
    row, and each part file holds one contiguous id range in id order (a
    sliced range, no shuffle), so a rewrite or retry yields the same bytes
    per part file."""
    import pandas as pd

    def gen_docs(iterator):
        for pdf in iterator:
            yield pd.DataFrame([_doc_row(gen(seed, int(i))[0]) for i in pdf["id"]],
                               columns=["doc_id", "spans"])

    page_cols = ["media_ref", "document_name", "width", "height", "doc_type",
                 "words", "lines", "qr_boxes"]

    def gen_pages(iterator):
        for pdf in iterator:
            out = [_page_row(p) for i in pdf["id"] for p in gen(seed, int(i))[1]]
            # built from the (maybe empty) row list, so a batch without
            # pages has object columns, which Arrow converts to any type
            yield pd.DataFrame(out, columns=page_cols)

    ids = spark.range(0, n_docs, 1, partitions)
    ids.mapInPandas(gen_docs, schema=DOCUMENTS_DDL).write.mode("overwrite").parquet(f"{out_dir}/documents")
    ids.mapInPandas(gen_pages, schema=MEDIA_PAGES_DDL).write.mode("overwrite").parquet(f"{out_dir}/media_pages")
    return f"{out_dir}/documents", f"{out_dir}/media_pages"


def write_web_corpus(spark, out_dir: str, n_docs: int, seed: int = 42, partitions: int = 32):
    """Distributed web-corpus materialization (html/pdf/text/media spans) —
    the extraction pipeline's input tables."""
    return write_corpus(spark, out_dir, n_docs, seed, partitions, gen=gen_web_document)
