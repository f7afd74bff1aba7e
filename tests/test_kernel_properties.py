"""Property-based kernel robustness (hypothesis): the extraction kernel is
fed adversarial OCR-noise pages and must uphold its structural invariants —
no crashes, REJECTED ⇔ the assembly rule, page-local determinism, box
coordinates drawn from the input words, dedupe idempotence. These are the
invariants the 10^12-document run relies on: one garbage page must never
kill an executor task.

No Spark session needed — the kernel is pure Python by design.
"""

from __future__ import annotations

import itertools

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_redaction_engine_spark import kernel

# OCR-ish token alphabet: letters, digits, punctuation tesseract emits on
# noisy scans, plus some non-ASCII to exercise the lang-mode views
_token = st.text(
    alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
             "0123456789/:-.,<()'&#नमस", min_size=1, max_size=14)
_line = st.lists(_token, min_size=0, max_size=8).map(" ".join)
_lines = st.lists(_line, min_size=0, max_size=12)
_qr = st.lists(
    st.tuples(*[st.integers(0, 500)] * 4).map(tuple), min_size=0, max_size=3)
_level = st.sampled_from([0, 1])
_doc_type = st.sampled_from(
    ["PANCARD", "AADHAAR", "E-AADHAAR", "E-PANCARD", "PASSPORT", "DL",
     "CDSL", "UNKNOWN", "garbage-type"])


def _layout(lines):
    words, y = [], 10
    for line in lines:
        x = 15
        for tok in line.split():
            w = 9 * len(tok) + 6
            words.append((x, y, x + w, y + 24, tok))
            x += w + 12
        y += 40
    return words


@settings(max_examples=150, deadline=None)
@given(lines=_lines, qr=_qr, level=_level, doc_type=_doc_type)
def test_extract_page_invariants(lines, qr, level, doc_type):
    words = _layout(lines)
    res = kernel.extract_page(doc_type, words, lines, qr, level)

    # structural contract
    assert res["status"] in (kernel.REDACTED, kernel.REJECTED)
    assert isinstance(res["fields"], list)
    if res["status"] == kernel.REJECTED:
        assert res["fields"] == []
    for f in res["fields"]:
        assert set(f) == {"field", "value", "boxes"}
        for b in (f["boxes"] or []):
            if len(b) == 0:
                continue
            x1, y1, x2, y2 = b
            assert all(isinstance(v, int) for v in (x1, y1, x2, y2))

    # determinism: same page → same result
    assert kernel.extract_page(doc_type, words, lines, qr, level) == res

    # flatten never crashes and sequence source is well-formed
    if not kernel.boxes_output_failed(res["fields"]):
        flat = kernel.flatten_boxes(res["fields"])
        assert all(len(t) == 6 for t in flat)


@settings(max_examples=150, deadline=None)
@given(lines=_lines)
def test_identify_is_deterministic_and_total(lines):
    tokens = [t for line in lines for t in line.split()]
    dt = kernel.identify_page(tokens)
    assert dt in ("PANCARD", "AADHAAR", "E-AADHAAR", "E-PANCARD", "PASSPORT",
                  "DL", "CDSL", "UNKNOWN")
    assert kernel.identify_page(tokens) == dt


@settings(max_examples=100, deadline=None)
@given(lines=_lines, mode=st.sampled_from(["eng", "default", "regionalplus"]))
def test_mode_view_invariants(lines, mode):
    words = _layout(lines)
    vw, vl = kernel.mode_view(words, lines, mode)
    # a view only removes — never invents — words, preserving order
    it = iter(words)
    assert all(any(w == x for x in it) for w in vw)
    # eng/regionalplus are idempotent; "default" deliberately is NOT: its
    # isolated-line check runs against the ORIGINAL layout (block
    # segmentation sees the ink on the page, including glyphs the eng model
    # then garbles), so a token left alone by the non-ASCII filter still
    # counts as accompanied — re-applying the view would wrongly drop it
    if mode != "default":
        assert kernel.mode_view(vw, vl, mode) == (vw, vl)
    # regionalplus is the identity
    if mode == "regionalplus":
        assert (vw, vl) == (words, lines)


@settings(max_examples=100, deadline=None)
@given(boxes=st.lists(st.tuples(*[st.integers(0, 99)] * 4).map(list),
                      min_size=0, max_size=10))
def test_dedupe_boxes_idempotent_order_preserving(boxes):
    fields = [{"field": "F", "value": "v", "boxes": boxes}]
    once = kernel._dedupe_boxes(fields)
    assert kernel._dedupe_boxes(once) == once
    seen = set()
    uniq = []
    for b in boxes:
        if tuple(b) not in seen:
            uniq.append(b)
            seen.add(tuple(b))
    assert once[0]["boxes"] == uniq


# Round-4 optimization equivalences: the page-concat + needle-prefilter
# identify and the find-based place-candidate scan must be EXACTLY the
# per-token reference semantics they replaced.

_token_st = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0, max_size=18)


@settings(max_examples=300, deadline=None)
@given(tokens=st.lists(_token_st, min_size=0, max_size=40))
def test_identify_page_equals_per_token_reference(tokens):
    """identify_page (one prefiltered search over the joined page text)
    equals the reference's ordered any-token x any-pattern loop."""
    from ocr_redaction_engine_spark import banks

    def reference(tokens):
        for dt in banks.DOC_TYPES:
            union = kernel._ci("|".join(
                f"(?:{p})" for p in banks.IDENTIFY_BANK[dt]))
            if any(union.search(t) for t in tokens):
                return dt
        return banks.UNKNOWN_TYPE

    assert kernel.identify_page(tokens) == reference(tokens)


@settings(max_examples=200, deadline=None)
@given(tokens=st.lists(st.one_of(
    _token_st,
    st.sampled_from(["Mumbai", "xDelhi,", "PUNEPUNE", "new", "delhi",
                     "Hyderabad99", "", "no-place-here"])),
    min_size=0, max_size=30))
def test_place_candidates_equal_per_token_union(tokens):
    """_place_candidates (C find over the joined page text) equals the
    per-token IGNORECASE union search it replaced."""
    from ocr_redaction_engine_spark.places import PLACES_LIST

    words = [(i, i, i + 1, i + 1, t) for i, t in enumerate(tokens)]
    union = kernel._places_union(PLACES_LIST)
    want = [i for i, t in enumerate(tokens) if union.search(t)]
    assert kernel._place_candidates(words, PLACES_LIST) == want


@settings(max_examples=200, deadline=None)
@given(tokens=st.lists(_token_st, min_size=0, max_size=25),
       pats=st.lists(st.sampled_from(
           [r"\b(foo|bar)\b", r"\d{2}/\d{2}", r"[A-Z]{3}\d", r"x+y?z"]),
           min_size=1, max_size=4))
def test_search_any_equals_sequential(tokens, pats):
    for t in tokens:
        want = any(kernel._ci(p).search(t) for p in pats)
        assert kernel._search_any(pats, t) == want


# The shared token scan and back-join against loops written the way the
# reference writes each copy: small alphabets so texts and boxes repeat.

_text = st.sampled_from(["AB12", "1234", "12/03", "x<y", "<<", "Ram", "ram",
                         "KUMAR", "9876543210", "/"])
_box = st.sampled_from([[0, 0, 9, 9], [5, 0, 20, 9], [0, 10, 40, 19],
                        [7, 7, 8, 8]])
_words = st.lists(st.tuples(_box, _text).map(lambda bt: (*bt[0], bt[1])),
                  max_size=12)
_hits = st.sampled_from([
    str.isdigit,
    kernel._ci(r"\d{2}/\d{2}").search,
    kernel._ci(r"[a-z]+").match,
    lambda t: "<" in t and any(c != "<" for c in t),
    lambda t: len(t) in (2, 4),
])


@pytest.mark.parametrize("trim,last,dedupe,default", list(itertools.product(
    [None, 0.5], [False, True], [False, True], ["", "<"])))
@settings(max_examples=60, deadline=None)
@given(words=_words, hit=_hits)
def test_scan_field_equals_reference_loop(words, hit, trim, last, dedupe, default):
    value, found = "", []
    for x1, y1, x2, y2, t in words:
        if hit(t):
            if last:
                value = t
            else:
                value += " " + t
            if not dedupe or [x1, y1, x2, y2] not in found:
                found.append([x1, y1, x2, y2])
    if not value:
        want = {"field": "K", "value": default, "boxes": []}
    else:
        if trim is not None:
            found = [kernel._trim(b, trim) for b in found]
        want = {"field": "K", "value": value, "boxes": found}
    assert kernel._scan_field(words, "K", hit, trim=trim, last=last,
                              dedupe=dedupe, default=default) == want


@pytest.mark.parametrize("dedupe,stop,excluding", list(itertools.product(
    [False, True], repeat=3)))
@settings(max_examples=100, deadline=None)
@given(words=_words, tokens=st.lists(_text, max_size=5),
       some=st.lists(_box, min_size=1, max_size=2))
def test_back_join_equals_reference_loop(words, tokens, some, dedupe, stop,
                                         excluding):
    exclude = some if excluding else ()
    # the box count is checked after each word (pattern1.py, e_pancard) ...
    coords = []
    for x1, y1, x2, y2, t in words:
        if (t in tokens and (not dedupe or [x1, y1, x2, y2] not in coords)
                and [x1, y1, x2, y2] not in exclude):
            coords.append([x1, y1, x2, y2])
        if stop and len(tokens) == len(coords):
            break
    got = kernel._back_join(words, tokens, dedupe=dedupe, stop=stop,
                            exclude=exclude)
    assert got == coords
    if not stop:
        return
    # ... or only after a matching word (e_aadhaar gender, :296-298)
    coords = []
    for x1, y1, x2, y2, t in words:
        if t in tokens:
            if ((not dedupe or [x1, y1, x2, y2] not in coords)
                    and [x1, y1, x2, y2] not in exclude):
                coords.append([x1, y1, x2, y2])
            if len(tokens) == len(coords):
                break
    assert got == coords
