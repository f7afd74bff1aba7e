"""Per-page extraction kernel: the reference engine's observable semantics,
as pure functions of (words, lines, qr_boxes).

This is the single source of truth for *what* a page yields — used by the
pure-Python oracle (driver-side, for golden tests) and by the Arrow-batched
``mapInPandas`` extraction stage (executor-side). Distribution concerns
(explode, classification when-chain, joins, reassembly, sequence numbering,
checkpointing) live elsewhere and are differential-tested against this
module.

Inputs
------
words     : list[(x1:int, y1:int, x2:int, y2:int, text:str)] in reading order
            — stands in for ``pytesseract.image_to_data`` word boxes
            (/root/reference/helper/text_coordinates.py:22-28).
lines     : list[str] raw line strings — stands in for ``image_to_string``
            output split on newlines.
qr_boxes  : list[(x1, y1, x2, y2)] — stands in for QReader detections.

Observable quirks of the reference are preserved deliberately (they change
output and are therefore part of "matching the reference's extracted spans",
SURVEY.md §7.0). Each is cited inline.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from functools import lru_cache

from . import banks
from .places import PLACES_LIST

REDACTED = "REDACTED"
REJECTED = "REJECTED"

_DIGIT_RE = re.compile(r"[0-9]")


@lru_cache(maxsize=4096)
def _ci(pattern: str) -> re.Pattern:
    return re.compile(pattern, re.IGNORECASE)


@lru_cache(maxsize=4096)
def _cs(pattern: str) -> re.Pattern:
    return re.compile(pattern)


@lru_cache(maxsize=4096)
def _ci_union(patterns: tuple) -> re.Pattern:
    """One compiled alternation per pattern tuple: ``union.search(t)`` hits
    iff any individual pattern hits (pure ∃-semantics — every call site asks
    a boolean, never which pattern), so k regex calls collapse to one."""
    return re.compile("|".join(f"(?:{p})" for p in patterns), re.IGNORECASE)


def _search_any(patterns, text: str) -> bool:
    return _ci_union(tuple(patterns)).search(text) is not None


def _has_digit_and_alpha(t: str) -> bool:
    return any(c.isdigit() for c in t) and any(c.isalpha() for c in t)


def _trim(box, factor: float):
    """Width trim ``x2' = x1 + int(f * (x2 - x1))`` — Python int() truncation,
    e.g. documents/pancard/document_coordinates.py:53."""
    x1, y1, x2, y2 = box
    return [x1, y1, x1 + int(factor * (x2 - x1)), y2]


def _text_lines(lines) -> list[str]:
    """``[t.strip() for t in raw.split('\\n') if len(t) != 0]`` — note the
    length check runs on the *raw* line, the strip on the output (e.g.
    documents/pancard/document_coordinates.py:106)."""
    return [t.strip() for t in lines if len(t) != 0]


def _field(name: str, value: str = "", boxes=None):
    return {"field": name, "value": value, "boxes": [] if boxes is None else boxes}


def _is_empty_field(f) -> bool:
    """``all(not v for v in d.values())`` over the reference's result dicts
    (e.g. pancard/document_coordinates.py:214). ``boxes=None`` (the E-Pancard
    father-name quirk) is falsy, matching the reference's ``None``."""
    return (not f["value"]) and (not f["boxes"])


def _dedupe_boxes(fields):
    """Order-preserving per-field unique boxes —
    e_aadhaar/document_coordinates.py:451-463 (= passport:280-292)."""
    out = []
    for f in fields:
        if f["boxes"]:
            seen, uniq = set(), []
            for b in f["boxes"]:
                tb = tuple(b)
                if tb not in seen:
                    uniq.append(b)
                    seen.add(tb)
            f = {**f, "boxes": uniq}
        out.append(f)
    return out


def _qr_field(key: str, qr_boxes):
    """QR boxes with the bottom half dropped —
    e.g. pancard/document_coordinates.py:177-179."""
    if not qr_boxes:
        return _field(key)
    boxes = [[x1, y1, x2, (y1 + y2) // 2] for x1, y1, x2, y2 in qr_boxes]
    return _field(key, f"Found {len(boxes)} QR Code", boxes)


# ---------------------------------------------------------------------------
# Identification (SURVEY.md §2.4) — ordered first-match over token texts,
# ocrr_document/process_ocrr.py:63-72 + identify_* matchers.
# ---------------------------------------------------------------------------

_META = set(r".^$*+?{}[]()|\\" + "\\")


def _literal_needles(pattern: str) -> list[str]:
    """One lowercase literal needle per top-level alternate of a
    ``\\b\\w*(a|b|c)\\b``-shaped bank pattern: the alternate's LONGEST
    metachar-free run. A regex alternate can only match where every one of
    its literal runs appears, so 'needle not in text.lower()' is a sound
    rejection (necessary condition); alternates whose longest run is <3
    chars yield no needle and mark the bank unprefilterable."""
    inner = pattern
    for pre in (r"\b\w*(", r"\b("):
        if inner.startswith(pre) and inner.endswith(r")\b"):
            inner = inner[len(pre):-3]
            break
    else:
        return []
    needles = []
    for alt in inner.split("|"):
        runs, cur = [], []
        for ch in alt:
            if ch in _META:
                if cur:
                    runs.append("".join(cur))
                    cur = []
            else:
                cur.append(ch)
        if cur:
            runs.append("".join(cur))
        best = max(runs, key=len, default="")
        if len(best) < 3:
            return []        # bank must always run its regex
        needles.append(best.lower())
    return needles


@lru_cache(maxsize=8)
def _identify_unions():
    """Per bank: (doc_type, union regex, prefilter needles). The union
    search hits iff any bank pattern hits, preserving bank-level first-match
    priority; the needle list (empty = unprefilterable) lets a page skip the
    backtracking alternation entirely when no alternate's literal core is
    present — C-speed str.find instead of |alternates| regex branches."""
    out = []
    for dt in banks.DOC_TYPES:
        pats = banks.IDENTIFY_BANK[dt]
        union = re.compile("|".join(f"(?:{p})" for p in pats), re.IGNORECASE)
        needles = []
        for p in pats:
            ns = _literal_needles(p)
            if not ns:
                needles = []
                break
            needles.extend(ns)
        out.append((dt, union, tuple(needles)))
    return out


def identify_page(tokens) -> str:
    """Ordered first-match over the page's token stream. The per-token
    ∃-scan is evaluated as ONE search over the '\\n'-joined page text:
    every bank pattern is \\b-delimited and neither \\w nor the default
    ``.`` crosses a newline, and the multi-word phrase alternates (which a
    single OCR token can never contain — spaces) still cannot match across
    the separator, so the page-level search hits iff some token hits.
    7 searches/page instead of |banks|x|tokens|."""
    page_text = "\n".join(tokens)
    lowered = page_text.lower()
    for doc_type, union, needles in _identify_unions():
        if needles and not any(n in lowered for n in needles):
            continue
        if union.search(page_text):
            return doc_type
    return banks.UNKNOWN_TYPE


# ---------------------------------------------------------------------------
# PANCARD — documents/pancard/document_coordinates.py + pattern1/pattern2
# ---------------------------------------------------------------------------

def _pan_number(words, key="Pancard Number", length=(7, 9, 10)):
    value, found = "", []
    for x1, y1, x2, y2, t in words:
        if len(t) in length and t.isupper() and _has_digit_and_alpha(t):
            value = t                      # last match wins (:44)
            found.append([x1, y1, x2, y2])
    if not value:
        return _field(key)
    return _field(key, value, [_trim(b, 0.65) for b in found])


def _pan_dob(words):
    value, found = "", []
    for x1, y1, x2, y2, t in words:
        if _ci(banks.PAN_DOB_PATTERN).search(t):
            value += " " + t
            found.append([x1, y1, x2, y2])
    if not value:
        return _field("Pancard DOB")
    return _field("Pancard DOB", value, [_trim(b, 0.80) for b in found])


def _pan_pattern1(words, tdl):
    """pattern1.py:9-76 — anchored ordered take-while + back-join.
    Quirk: a start-keyword hit at line index 0 is treated as not-found
    (``if start_point_index: break`` / ``== 0`` check, :37-41)."""
    start = 0
    for i, t in enumerate(tdl):
        if _search_any(banks.PAN_P1_START, t):
            start = i
        if start:
            break
    if start == 0:
        return "", []
    name = ""
    for t in tdl[start:]:                   # includes the anchor line (:44)
        if _search_any(banks.PAN_P1_BREAK, t):
            break
        if not _search_any(banks.PAN_P1_SKIP, t):
            name += " " + t
    name_list = name.strip().split()
    coords = []
    for x1, y1, x2, y2, t in words:
        if t in name_list and [x1, y1, x2, y2] not in coords:
            coords.append([x1, y1, x2, y2])
        if len(coords) == len(name_list):   # also fires when name_list == []
            break
    if not coords:
        return "", []
    return name.strip(), coords


def _pan_pattern2(words):
    """pattern2.py:9-50 — positional take-while over word boxes. Quirk: the
    returned name keeps its trailing space (:41)."""
    name, coords = "", []
    for x1, y1, x2, y2, t in words:
        if _search_any(banks.PAN_P2_BREAK, t):
            break
        if (
            not _search_any(banks.PAN_P2_SKIP, t)
            and not _search_any(banks.PAN_P2_DATE, t)
            and len(t) > 1
            and t.isupper()
        ):
            name += t + " "
            coords.append([x1, y1, x2, y2])
    if not coords:
        return "", []
    return name, coords


def _pan_names(words, tdl):
    p1 = any(_search_any(banks.PAN_PATTERN1_SELECT, t) for t in tdl)
    name, coords = _pan_pattern1(words, tdl) if p1 else _pan_pattern2(words)
    return _field("Pancard Names", name, [_trim(b, 0.50) for b in coords])


def _extract_pancard(words, lines, qr_boxes, level, places):
    tdl = _text_lines(lines)
    if level != 1:
        # Aggressive path bug: undefined `_extract_pancard_client_name`
        # raises, the handler returns REJECTED — always
        # (pancard/document_coordinates.py:237,250-252).
        return {"status": REJECTED, "fields": []}
    fields = [
        _pan_number(words),
        _pan_dob(words),
        _pan_names(words, tdl),
        _qr_field("Pancard QRCodes", qr_boxes),
    ]
    if all(_is_empty_field(f) for f in fields):
        return {"status": REJECTED, "fields": []}
    return {"status": REDACTED, "fields": fields}


# ---------------------------------------------------------------------------
# AADHAAR — documents/aadhaar/document_coordinates.py
# ---------------------------------------------------------------------------

def _aadhaar_number(words, key="Aadhaar Number"):
    value, found = "", []
    for x1, y1, x2, y2, t in words:
        if (len(t) == 4 or len(t) == 14) and t.isdigit():
            value += " " + t
            found.append([x1, y1, x2, y2])
    if not value:
        return _field(key)
    return _field(key, value, [_trim(b, 0.50) for b in found])


def _aadhaar_name(words, lines):
    """aadhaar:59-150. Quirks preserved: (a) the DOB-keyword scan keeps the
    LAST matching index in the reversed list (no outer break, :100-104);
    (b) the gender fallback effectively inspects only the FIRST reversed line
    (:109-116); (c) the 0.20 trim loop iterates the never-filled
    ``name_coordinates`` list, so FULL-WIDTH boxes are emitted (:129-140)."""
    rev = [t for t in _text_lines(lines) if not t.isdigit()][::-1]
    idx = 0
    for i, t in enumerate(rev):
        if _search_any(banks.AADHAAR_NAME_DOB_KW, t):
            idx = i
    if idx == 0:
        found = False
        for i, t in enumerate(rev):
            if _ci(banks.AADHAAR_NAME_GENDER_KW).search(t):
                idx = i
                found = True
                break
            break                            # `if idx == 0: return` on miss
        if not found:
            return _field("Aadhaar Name")
    name = ""
    for t in rev[idx + 1:]:
        if not _search_any(banks.AADHAAR_NAME_SKIP, t) and len(t) > 1:
            name += " " + t
    if not name:
        return _field("Aadhaar Name")
    name_list = name.split()
    coords = [[x1, y1, x2, y2] for x1, y1, x2, y2, t in words if t in name_list]
    return _field("Aadhaar Name", name.strip(), coords)


def _aadhaar_dob(words, lines):
    dob, found = "", []
    for x1, y1, x2, y2, t in words:
        if _ci(banks.AADHAAR_DOB_PATTERN).match(t):
            dob += " " + t
            found.append([x1, y1, x2, y2])
    if not dob:
        for t in _text_lines(lines):
            if _ci(banks.AADHAAR_DOB_LINE_KW).search(t):
                dob += " " + t
                break
        dob_list = [x for x in dob.split() if x != "/"]
        for x1, y1, x2, y2, t in words:
            if t in dob_list and [x1, y1, x2, y2] not in found:
                found.append([x1, y1, x2, y2])
    return _field("Aadhaar DOB", dob, [_trim(b, 0.80) for b in found])


def _aadhaar_gender(words, lines):
    gender = ""
    for t in _text_lines(lines):
        if _ci(banks.AADHAAR_GENDER_PATTERN).search(t):
            gender = t                      # last matching line (:230-238)
    if not gender:
        return _field("Aadhaar Gender")
    glist = [x for x in gender.split() if x != "/"]
    coords = []
    for x1, y1, x2, y2, t in words:
        if t in glist and [x1, y1, x2, y2] not in coords:
            coords.append([x1, y1, x2, y2])
    return _field("Aadhaar Gender", gender, coords)


@lru_cache(maxsize=8)
def _compile_places_union(places_t: tuple) -> re.Pattern:
    return re.compile("|".join(re.escape(p) for p in places_t), re.IGNORECASE)


def _places_union(places=None) -> re.Pattern:
    """Escaped, case-insensitive alternation over the whole places list:
    the per-token reference the property test checks ``_place_candidates``
    (the production prefilter) against. A token is a candidate iff this
    pattern searches it.

    ``places`` defaults to places.PLACES_LIST."""
    return _compile_places_union(tuple(places if places is not None else PLACES_LIST))


@lru_cache(maxsize=64)
def _lower_places(places_t: tuple) -> tuple:
    return tuple(p.lower() for p in places_t)


#: A numbered (``\1``) or named (``(?P=name)``) backreference.
_BACKREF = re.compile(r"\\[1-9]|\(\?P=")


@lru_cache(maxsize=64)
def _places_literal_ok(places_t: tuple) -> bool:
    """The ``str.find`` fast path is sound only for plain-ASCII,
    metachar-free, newline-free place literals (the shipped PLACES_LIST
    qualifies). Places loaded via ``load_places`` are arbitrary regex
    fragments per the reference's ``_ci(place).search`` inner test, so a
    metachar ('.') or non-ASCII case-folding place must take the
    regex-union prefilter instead. A space is a literal in a regex too
    (``re.escape`` escapes it anyway), so multi-word places such as
    "New Delhi" keep the fast path."""
    return all(p.isascii() and re.escape(p) == p.replace(" ", "\\ ")
               and "\n" not in p for p in places_t)


def _place_candidates(words, place_list):
    """Indices of tokens some place hits, via C-speed ``str.find`` of each
    lowercase place literal over the lowercased '\\n'-joined page text —
    the multi-literal scan the backtracking regex union can't do cheaply.
    Sound because the reference's test is IGNORECASE literal containment
    (ASCII places, so lower/lower ≡ IGNORECASE) and a literal cannot match
    across the separator. Candidates then pay the reference's per-place
    loop; token order is preserved.

    Non-literal place lists (see ``_places_literal_ok``) fall back to one
    unescaped IGNORECASE union regex per token — an exactly equivalent
    prefilter for the inner ``_ci(place).search(t)`` test by ∃-semantics —
    and to all indices if the union itself fails to compile (in which case
    the inner loop raises on the same bad pattern, like the reference).
    Places with a backreference stay out of the union — the alternation
    renumbers their groups — and are searched one by one."""
    places_t = tuple(place_list)
    if not _places_literal_ok(places_t):
        united = tuple(p for p in places_t if not _BACKREF.search(p))
        alone = [p for p in places_t if _BACKREF.search(p)]
        try:
            regs = [_ci(p) for p in alone]
            if united:
                regs.append(_ci_union(united))
        except re.error:
            return list(range(len(words)))
        return [i for i, w in enumerate(words)
                if any(r.search(w[4]) for r in regs)]
    lowered = "\n".join(w[4] for w in words).lower()
    starts, pos = [], 0
    for w in words:
        starts.append(pos)
        pos += len(w[4]) + 1
    cand = set()
    for pl in _lower_places(tuple(place_list)):
        start = lowered.find(pl)
        while start != -1:
            cand.add(bisect_right(starts, start) - 1)
            start = lowered.find(pl, start + 1)
    return sorted(cand)


def _places_address(words, key, ignore_pattern=None, places=None):
    """Token × places containment loop (aadhaar:274-280; e_aadhaar adds an
    ignore regex, :316-327). No inner break: a token matching several places
    is appended several times."""
    addr, coords = "", []
    place_list = places if places is not None else PLACES_LIST
    for idx in _place_candidates(words, place_list):
        x1, y1, x2, y2, t = words[idx]
        for place in place_list:
            if _ci(place).search(t):
                if ignore_pattern is not None and _ci(ignore_pattern).search(t):
                    continue
                addr += " " + t
                coords.append([x1, y1, x2, y2])
    if not addr:
        return _field(key)
    return _field(key, addr, coords)


def _aadhaar_pincode(words, key="Aadhaar Pincode"):
    value, found = "", []
    for x1, y1, x2, y2, t in words:
        if len(t) in (6, 7) and t[:6].isdigit():
            value += " " + t
            found.append([x1, y1, x2, y2])
    if not value:
        return _field(key)
    return _field(key, value, [_trim(b, 0.30) for b in found])


def _aadhaar_mobile(words, key="Aadhaar Mobile"):
    value, found = "", []
    for x1, y1, x2, y2, t in words:
        if len(t) in (10, 11) and t[:10].isdigit():
            value = t                       # last match wins (:345)
            found.append([x1, y1, x2, y2])
    if not value:
        return _field(key)
    return _field(key, value, [_trim(b, 0.54) for b in found])


def _extract_aadhaar(words, lines, qr_boxes, level, places):
    number = _aadhaar_number(words)
    name = _aadhaar_name(words, lines)
    dob = _aadhaar_dob(words, lines)
    gender = _aadhaar_gender(words, lines)
    address = _places_address(words, "Aadhaar Address", places=places)
    pincode = _aadhaar_pincode(words)
    mobile = _aadhaar_mobile(words)
    qr = _qr_field("Aadhaar QRCodes", qr_boxes)
    if level == 1:
        fields = [number, name, dob, gender, address, pincode, mobile, qr]
        if all(_is_empty_field(f) for f in fields):
            return {"status": REJECTED, "fields": []}
        return {"status": REDACTED, "fields": fields}
    # aggressive (aadhaar:452-510): number/name/dob/gender required,
    # the rest appended only when non-empty
    for req in (number, name, dob, gender):
        if not req["boxes"]:
            return {"status": REJECTED, "fields": []}
    fields = [number, name, dob, gender]
    fields += [f for f in (address, pincode, mobile, qr) if f["boxes"]]
    return {"status": REDACTED, "fields": fields}


# ---------------------------------------------------------------------------
# E-AADHAAR — documents/e_aadhaar/document_coordinates.py
# ---------------------------------------------------------------------------

def _kw_index(patterns, lst) -> int:
    """e_aadhaar:60-77 — FIRST matching index; 0 doubles as not-found."""
    for i, t in enumerate(lst):
        if _search_any(patterns, t):
            return i
    return 0


def _boxes_for_tokens(name_list, words):
    """e_aadhaar:80-90 — all word boxes whose text is in the list; duplicates
    allowed, no early stop."""
    return [[x1, y1, x2, y2] for x1, y1, x2, y2, t in words if t in name_list]


def _eaadhaar_window_name(anchor_patterns, lst, words):
    idx = _kw_index(anchor_patterns, lst)
    if idx == 0:
        return "", []
    name = ""
    for t in lst[idx + 1: idx + 4]:          # 3 lines after the anchor (:136)
        name += " " + t
    for skip in banks.EAADHAAR_NAME_SKIP:     # re.sub then strip, per skip (:140-142)
        name = _ci(skip).sub("", name).strip()
    return name, _boxes_for_tokens(name.split(), words)


def _eaadhaar_name(words, lines):
    filtered = [t for t in _text_lines(lines) if not t.isdigit()]
    top_name, top_c = _eaadhaar_window_name(banks.EAADHAAR_TOP_KW, filtered, words)
    enr_name, enr_c = _eaadhaar_window_name(banks.EAADHAAR_ENROLL_KW, filtered, words)
    bot_name, bot_c = _eaadhaar_window_name(banks.EAADHAAR_BOTTOM_KW, filtered[::-1], words)
    if not top_c and not enr_c and not bot_c:
        return _field("E-Aadhaar Name")
    boxes = [_trim(b, 0.50) for b in top_c + enr_c + bot_c]
    return _field("E-Aadhaar Name", f"{top_name} {enr_name} {bot_name}", boxes)


def _eaadhaar_dob(words):
    dob, found = "", []
    for x1, y1, x2, y2, t in words:
        if _ci(banks.EAADHAAR_DOB_PATTERN).match(t):
            dob += " " + t
            found.append([x1, y1, x2, y2])
    if not dob:
        return _field("E-Aadhaar DOB")
    return _field("E-Aadhaar DOB", dob, [_trim(b, 0.80) for b in found])


def _eaadhaar_gender(words, lines):
    gender = ""
    for t in _text_lines(lines):
        if _ci(banks.EAADHAAR_GENDER_PATTERN).search(t):
            gender = t
    if not gender:
        return _field("E-Aadhaar Gender")
    glist = gender.split()
    if "/" in glist:
        glist.remove("/")                    # first occurrence only (:287-288)
    coords = []
    for x1, y1, x2, y2, t in words:
        if t in glist:
            if [x1, y1, x2, y2] not in coords:
                coords.append([x1, y1, x2, y2])
            if len(glist) == len(coords):    # early stop (:296-298)
                break
    return _field("E-Aadhaar Gender", gender, coords)


def _extract_eaadhaar(words, lines, qr_boxes, level, places):
    name = _eaadhaar_name(words, lines)
    number = _aadhaar_number(words, key="E-Aadhaar Number")
    dob = _eaadhaar_dob(words)
    gender = _eaadhaar_gender(words, lines)
    address = _places_address(words, "E-Aadhaar Address", ignore_pattern=banks.EAADHAAR_ADDR_IGNORE, places=places)
    mobile = _aadhaar_mobile(words, key="E-Aadhaar Mobile")
    pincode = _aadhaar_pincode(words, key="E-Aadhaar Pincode")
    qr = _qr_field("E-Aadhaar QRCodes", qr_boxes)
    fields = [name, number, dob, gender, address, mobile, pincode, qr]
    if level == 1:
        if all(_is_empty_field(f) for f in fields):
            return {"status": REJECTED, "fields": []}
        return {"status": REDACTED, "fields": _dedupe_boxes(fields)}
    # aggressive (e_aadhaar:514-576): every field incl. QR is required
    for f in fields:
        if not f["boxes"]:
            return {"status": REJECTED, "fields": []}
    return {"status": REDACTED, "fields": _dedupe_boxes(fields)}


# ---------------------------------------------------------------------------
# E-PANCARD — documents/e_pancard/document_coordinates.py
# ---------------------------------------------------------------------------

def _epan_dates(words):
    dob, found = "", []
    for x1, y1, x2, y2, t in words:
        if _cs(banks.EPAN_DOB_PATTERN).match(t):   # case-sensitive match (:74)
            dob += " " + t
            found.append([x1, y1, x2, y2])
    if not dob:
        return _field("E-Pancard DOB")
    return _field("E-Pancard DOB", dob, [_trim(b, 0.54) for b in found])


def _epan_gender(words):
    for x1, y1, x2, y2, t in words:
        if _ci(banks.EPAN_GENDER_PATTERN).match(t):  # first match only (:112-115)
            return _field("E-Pancard Gender", t, [[x1, y1, x2, y2]])
    return _field("E-Pancard Gender")


def _epan_client_name(words, lines):
    """e_pancard:131-211. Quirks: the LAST 'name'-anchor line wins (no outer
    break, :151-157); an anchor on the final line raises IndexError → default
    empty result (handler :209-211); bottom-only hits leave the value empty;
    the value keeps the full next line (the drop-last-token rule applies only
    to the box back-join)."""
    tdl = _text_lines(lines)
    try:
        client_name, top_list = "", []
        for i, t in enumerate(tdl):
            if _search_any(banks.EPAN_NAME_KW, t):
                client_name = tdl[i + 1]
                top_list = tdl[i + 1].split()
        top_coords = []
        if top_list:
            if len(top_list) > 1:
                top_list = top_list[:-1]
            for x1, y1, x2, y2, t in words:
                if t in top_list:
                    top_coords.append([x1, y1, x2, y2])
                if len(top_list) == len(top_coords):
                    break
        bottom_list = []
        for t in tdl:
            if _search_any(banks.EPAN_BOTTOM_NAME_KW, t):
                bottom_list = t.split()
        bottom_coords = []
        if bottom_list:
            if len(bottom_list) > 1:
                bottom_list = bottom_list[:-1]
            for x1, y1, x2, y2, t in words:
                if t in bottom_list and [x1, y1, x2, y2] not in top_coords:
                    bottom_coords.append([x1, y1, x2, y2])
                if len(bottom_list) == len(bottom_coords):
                    break
        if not top_coords and not bottom_coords:
            return _field("E-Pancard Client Name")
        return _field("E-Pancard Client Name", client_name, top_coords + bottom_coords)
    except IndexError:
        return _field("E-Pancard Client Name")


def _epan_father_name(words, lines):
    """e_pancard:214-282. Quirk: the union helper returns coordinates only
    when BOTH sides were found, else ``None`` (:270-273) — downstream the
    whole document's box output fails silently (prepare_xml/redacted.py:36
    iterates None). We surface that as boxes=None."""
    tdl = _text_lines(lines)
    try:
        father_name, top_list = "", []
        for i, t in enumerate(tdl):
            if banks.EPAN_FATHER_TOP_LITERAL in t:
                father_name = tdl[i + 1]
                top_list = tdl[i + 1].split()
                break
        top_coords = []
        if top_list:
            if len(top_list) > 1:
                top_list = top_list[:-1]
            for x1, y1, x2, y2, t in words:
                if t in top_list:
                    top_coords.append([x1, y1, x2, y2])
                if len(top_list) == len(top_coords):
                    break
        bottom_list = []
        for i, t in enumerate(tdl):
            if banks.EPAN_FATHER_BOTTOM_LITERAL in t:
                if not father_name:
                    father_name = tdl[i + 2]
                bottom_list = tdl[i + 2].split()
                break
        bottom_coords = []
        if bottom_list:
            if len(bottom_list) > 1:
                bottom_list = bottom_list[:-1]
            for x1, y1, x2, y2, t in words:
                if t in bottom_list and [x1, y1, x2, y2] not in top_coords:
                    bottom_coords.append([x1, y1, x2, y2])
                if len(bottom_list) == len(bottom_coords):
                    break
        if not top_coords and not bottom_coords:
            return _field("E-Pancard Client Father Name")
        boxes = top_coords + bottom_coords if (top_coords and bottom_coords) else None
        return {"field": "E-Pancard Client Father Name", "value": father_name, "boxes": boxes}
    except IndexError:
        return _field("E-Pancard Client Father Name")


def _extract_epancard(words, lines, qr_boxes, level, places):
    number = _pan_number(words, key="E-Pancard Number", length=(10,))
    dob = _epan_dates(words)
    gender = _epan_gender(words)
    client = _epan_client_name(words, lines)
    father = _epan_father_name(words, lines)
    qr = _qr_field("E-Pancard QRCodes", qr_boxes)
    if level == 1:
        fields = [number, dob, gender, client, father, qr]
        if all(_is_empty_field(f) for f in fields):
            return {"status": REJECTED, "fields": []}
        return {"status": REDACTED, "fields": fields}
    # aggressive (e_pancard:362-395): all five checked, but only the number is
    # ever appended to the output list
    for req in (number, dob, gender, client):
        if not req["boxes"]:
            return {"status": REJECTED, "fields": []}
    if not (father["boxes"] or []):
        return {"status": REJECTED, "fields": []}
    return {"status": REDACTED, "fields": [number]}


# ---------------------------------------------------------------------------
# PASSPORT — documents/passport/document_coordinates.py
# ---------------------------------------------------------------------------

_DIGITS = set("0123456789")


def _passport_number(words):
    """passport:22-79 — six ordered predicates, first hit per token; boxes
    deduped inline; value accumulates; NO width trim."""
    value, coords = "", []
    for x1, y1, x2, y2, t in words:
        digits_after = _DIGIT_RE.search(t, 1) is not None
        hit = False
        if _cs(banks.PASSPORT_NUM_EXACT).match(t):
            hit = True
        elif len(t) in (6, 7, 8) and t.isdigit():
            hit = True
        elif len(t) in (6, 9, 10) and t[:1].isalpha() and t[:1].isupper() and digits_after:
            hit = True
        elif len(t) in (6, 7, 8) and t.isupper() and t.isdigit():
            hit = True
        elif len(t) in (6, 7, 8) and t.isdigit():
            hit = True
        elif len(t) in (6, 7, 8) and digits_after:
            hit = True
        if hit:
            value += " " + t
            if [x1, y1, x2, y2] not in coords:
                coords.append([x1, y1, x2, y2])
    if not coords:
        return _field("Passport Number")
    return _field("Passport Number", value, coords)


def _passport_names(words, lines):
    """passport:82-168. Quirk: the third skip pattern has an empty alternative
    (banks.PASSPORT_SKIP_KW[2]) that matches every string, so no line ever
    survives the skip filter — the extractor always returns empty."""
    tdl = _text_lines(lines)
    idx = 0
    for i, t in enumerate(tdl):
        if _search_any(banks.PASSPORT_SURNAME_KW, t):
            idx = i                          # last match wins (no outer break)
    if idx == 0:
        return _field("Passport Names")
    names = ""
    for t in tdl[idx + 1:]:
        if _search_any(banks.PASSPORT_BREAK_KW, t):
            break
        if _search_any(banks.PASSPORT_SKIP_DATE, t):
            break
        if not _search_any(banks.PASSPORT_SKIP_KW, t) and not re.search(r"\d", t):
            names += " " + t
    name_list = names.split()
    coords = []
    for x1, y1, x2, y2, t in words:
        if t in name_list and [x1, y1, x2, y2] not in coords:
            coords.append([x1, y1, x2, y2])
    return _field("Passport Names", names, [_trim(b, 0.50) for b in coords])


def _passport_dates(words):
    value, found = "", []
    for x1, y1, x2, y2, t in words:
        if _ci(banks.PASSPORT_DATE_PATTERN).search(t):
            value += " " + t
            found.append([x1, y1, x2, y2])
    if not found:
        return _field("Passport Dates")
    return _field("Passport Dates", value, [_trim(b, 0.50) for b in found])


def _passport_address(words, places=None):
    """passport:207-243 — places pass (no dedupe) + 6-digit pincode pass
    (deduped against the places boxes)."""
    addr, coords = "", []
    place_list = places if places is not None else PLACES_LIST
    for idx in _place_candidates(words, place_list):
        x1, y1, x2, y2, t = words[idx]
        for place in place_list:
            if _ci(place).search(t):
                addr += " " + t
                coords.append([x1, y1, x2, y2])
    for x1, y1, x2, y2, t in words:
        if len(t) == 6 and t.isdigit():
            addr += " " + t
            if [x1, y1, x2, y2] not in coords:
                coords.append([x1, y1, x2, y2])
    if not addr:
        return _field("Passport Address")
    return _field("Passport Address", addr, coords)


def _passport_arrow(words):
    value, coords = "", []
    for x1, y1, x2, y2, t in words:
        if "<" in t and any(c != "<" for c in t):
            value += " " + t
            coords.append([x1, y1, x2, y2])
    if not coords:
        return _field("Passport Arrow", "<")     # default value is "<" (:252)
    return _field("Passport Arrow", value, coords)


def _extract_passport(words, lines, qr_boxes, level, places):
    number = _passport_number(words)
    names = _passport_names(words, lines)
    dates = _passport_dates(words)
    arrow = _passport_arrow(words)
    address = _passport_address(words, places=places)
    if level == 1:
        fields = [number, names, dates, arrow, address]
        if all(_is_empty_field(f) for f in fields):
            return {"status": REJECTED, "fields": []}
        return {"status": REDACTED, "fields": _dedupe_boxes(fields)}
    # aggressive (passport:332-372): names are required but always empty →
    # level-0 passports are always REJECTED
    if not number["boxes"] or not names["boxes"]:
        return {"status": REJECTED, "fields": []}
    fields = [number, names]
    fields += [f for f in (dates, arrow, address) if f["boxes"]]
    return {"status": REDACTED, "fields": _dedupe_boxes(fields)}


# ---------------------------------------------------------------------------
# DRIVING LICENSE — documents/driving_license/document_coordinates.py
# ---------------------------------------------------------------------------

def _dl_number(words):
    value, coords = "", []
    for x1, y1, x2, y2, t in words:
        if len(t) == 11 and t.isdigit():
            value += " " + t
            if [x1, y1, x2, y2] not in coords:
                coords.append([x1, y1, x2, y2])
    if not value:
        return _field("Driving License Number")
    return _field("Driving License Number", value, coords)


def _dl_dates(words):
    value, found = "", []
    for x1, y1, x2, y2, t in words:
        if _ci(banks.DL_DATES_PATTERN).match(t):
            value += " " + t
            found.append([x1, y1, x2, y2])
    if not value:
        return _field("Driving License Dates")
    return _field("Driving License Dates", value, [_trim(b, 0.80) for b in found])


def _dl_names(words, lines):
    """driving_license:95-181 — last 'name' line wins; break/skip use re.match
    on the lowercased line; multi-word kept lines drop their last token for
    the box back-join only."""
    filtered = [t for t in _text_lines(lines) if not t.isdigit()]
    idx = 0
    for i, t in enumerate(filtered):
        if _search_any(banks.DL_NAME_KW, t):
            idx = i
    if idx == 0:
        return _field("Driving License Names")
    names, token_list = "", []
    for t in filtered[idx + 1:]:
        if any(_ci(p).match(t.lower()) for p in banks.DL_NAME_BREAK):
            break
        skip = any(_ci(p).match(t.lower()) for p in banks.DL_NAME_SKIP)
        if t.isupper() and not t.isdigit() and not skip:
            names += " " + t
            toks = t.split()
            if len(toks) > 1:
                token_list.extend(toks[:-1])
            else:
                token_list.append(t)
    if not names:
        return _field("Driving License Names")
    coords = []
    for x1, y1, x2, y2, t in words:
        if t in token_list and [x1, y1, x2, y2] not in coords:
            coords.append([x1, y1, x2, y2])
    return _field("Driving License Names", names, coords)


def _extract_dl(words, lines, qr_boxes, level, places):
    number = _dl_number(words)
    dates = _dl_dates(words)
    names = _dl_names(words, lines)
    address = _places_address(words, "Driving License Address", places=places)
    qr = _qr_field("Driving License QRCodes", qr_boxes)
    if level == 1:
        fields = [number, dates, names, address, qr]
        if all(_is_empty_field(f) for f in fields):
            return {"status": REJECTED, "fields": []}
        return {"status": REDACTED, "fields": fields}
    # aggressive (driving_license:285-320): number/dates/names required,
    # address & QR appended unconditionally
    for req in (number, dates, names):
        if not req["boxes"]:
            return {"status": REJECTED, "fields": []}
    return {"status": REDACTED, "fields": [number, dates, names, address, qr]}


# ---------------------------------------------------------------------------
# CDSL — documents/cdsl/document_coordinates.py
# ---------------------------------------------------------------------------

def _cdsl_pan(words):
    for x1, y1, x2, y2, t in words:
        if len(t) == 10 and t.isupper() and _has_digit_and_alpha(t):
            return _field("CDSL Pancard Number", t, [_trim([x1, y1, x2, y2], 0.65)])
    return _field("CDSL Pancard Number")


def _cdsl_client_name(words):
    """cdsl:47-118. Quirks: the scan starts AT the PAN token (:71); the
    Title-case branch appends ``[x1, y2, x2, y2]`` — y2 typo (:83); multi-box
    results are merged first→last into a single rectangle (:91-102)."""
    pan_idx = None
    for i, (x1, y1, x2, y2, t) in enumerate(words):
        if len(t) == 10 and t.isupper() and _has_digit_and_alpha(t):
            pan_idx = i
            break
    if pan_idx is None:
        return _field("CDSL Client Name")
    name, coords = "", []
    for x1, y1, x2, y2, t in words[pan_idx:]:
        if t.lower() in banks.CDSL_CLIENT_BREAK:
            break
        if t.isupper() and t.isalpha():
            name += " " + t
            coords.append([x1, y1, x2, y2])
        elif t.lower() in ("name", ":"):
            continue
        elif t[:1].isupper() and t[1:].islower() and len(t) > 1:
            name += " " + t
            coords.append([x1, y2, x2, y2])      # y2 typo preserved
    if not coords:
        return _field("CDSL Client Name")
    if len(coords) > 1:
        merged = [coords[0][0], coords[0][1], coords[-1][2], coords[-1][3]]
    else:
        merged = coords[0]
    return _field("CDSL Client Name", name, [merged])


def _extract_cdsl(words, lines, qr_boxes, level, places):
    pan = _cdsl_pan(words)
    client = _cdsl_client_name(words)
    if level == 1:
        fields = [pan, client]
        if all(_is_empty_field(f) for f in fields):
            return {"status": REJECTED, "fields": []}
        return {"status": REDACTED, "fields": fields}
    if not pan["boxes"] or not client["boxes"]:
        return {"status": REJECTED, "fields": []}
    return {"status": REDACTED, "fields": [pan, client]}


# ---------------------------------------------------------------------------
# OCR lang-mode trichotomy (helper/text_coordinates.py:11-21)
# ---------------------------------------------------------------------------

LANG_MODES = ("eng", "default", "regionalplus")

# Per-document-type extraction OCR mode: only CDSL deviates —
# documents/cdsl/document_coordinates.py:8 passes lang="default"; every other
# documents/*/document_coordinates.py uses the None → "eng" --psm 11 call.
# "regionalplus" exists in the reference helper but no document selects it.
DOC_LANG_MODES = {"CDSL": "default"}


def mode_view(words, lines, mode: str = "eng"):
    """Deterministic stand-in for the reference's tesseract lang/psm
    trichotomy (helper/text_coordinates.py:11-21) over precomputed word
    boxes — the observable F34 behavior:

    * ``eng`` (reference ``lang=None``: ``--oem 3 --psm 11`` sparse text) —
      keeps every ASCII token; non-ASCII tokens are dropped (the eng-only
      model cannot read Devanagari).
    * ``default`` (CDSL: plain ``image_to_data``, default block
      segmentation) — additionally misses tokens on isolated single-token
      lines (sparse mode finds isolated text that block segmentation skips).
    * ``regionalplus`` (``--oem 3 --psm 11 -l hin+eng``) — sparse AND keeps
      non-ASCII tokens.

    Line membership of a word box is recovered by grouping on y1 (the
    layout gives each line a distinct y). Returns (words, lines) filtered
    consistently; line strings are preserved verbatim when untouched.
    """
    if mode not in LANG_MODES:
        raise ValueError(f"unknown lang mode {mode!r}; expected one of {LANG_MODES}")
    keep_non_ascii = mode == "regionalplus"
    drop_isolated = mode == "default"
    if keep_non_ascii and not drop_isolated:
        return list(words), list(lines)
    if not drop_isolated:
        # eng fast path: a fully-ASCII page (the overwhelming majority) is
        # returned as-is — one C-speed isascii over the joined token/line
        # stream instead of per-token Python filtering
        if "".join(lines).isascii() and "".join([w[4] for w in words]).isascii():
            return list(words), list(lines)
    counts: dict = {}
    if drop_isolated:
        for w in words:
            counts[w[1]] = counts.get(w[1], 0) + 1
    out_words = []
    for w in words:
        if not keep_non_ascii and not w[4].isascii():
            continue
        if drop_isolated and counts.get(w[1], 0) == 1:
            continue
        out_words.append(w)
    out_lines = []
    for line in lines:
        toks = line.split()
        if drop_isolated and len(toks) == 1:
            continue
        kept = toks if keep_non_ascii else [t for t in toks if t.isascii()]
        if not kept and toks:
            continue
        out_lines.append(line if len(kept) == len(toks) else " ".join(kept))
    return out_words, out_lines


# ---------------------------------------------------------------------------
# Dispatch
# ---------------------------------------------------------------------------

_EXTRACTORS = {
    "PANCARD": _extract_pancard,
    "AADHAAR": _extract_aadhaar,
    "E-AADHAAR": _extract_eaadhaar,
    "E-PANCARD": _extract_epancard,
    "PASSPORT": _extract_passport,
    "DL": _extract_dl,
    "CDSL": _extract_cdsl,
}


def extract_page(doc_type: str, words, lines, qr_boxes, level: int = 1,
                 places=None) -> dict:
    """Run the doc-type's field extractors + assembly. UNKNOWN → REJECTED
    (ocrr_document/process_ocrr.py:74-77).

    Each doc type re-tokenizes the page with its own OCR mode before
    extracting (document_coordinates.py constructs its own
    ImageTextCoordinates) — here that is :func:`mode_view` with
    DOC_LANG_MODES, so CDSL extraction runs on the "default" view while
    identification saw the sparse "eng" stream (F34).
    ``places`` overrides the address dictionary (default places.PLACES_LIST).
    """
    fn = _EXTRACTORS.get(doc_type)
    if fn is None:
        return {"status": REJECTED, "fields": []}
    words, lines = mode_view(words, lines, DOC_LANG_MODES.get(doc_type, "eng"))
    return fn(words, lines, qr_boxes, level, places=places)


def boxes_output_failed(fields) -> bool:
    """True when any field carries boxes=None — the reference's XML writer
    then throws while flattening and the document emits NO boxes at all
    (prepare_xml/redacted.py:36-44)."""
    return any(f["boxes"] is None for f in fields)


def flatten_boxes(fields):
    """Coordinate flatten in field order, skipping empties — the ``count_index``
    sequence source (prepare_xml/redacted.py:36-40). Returns
    [(field_idx, field, x1, y1, x2, y2), ...]; caller numbers them 1..n."""
    out = []
    for fi, f in enumerate(fields):
        for b in f["boxes"] or []:
            if len(b) != 0:
                out.append((fi, f["field"], b[0], b[1], b[2], b[3]))
    return out


def parse_document_name(document_name: str):
    """Frame/doc id parse — prepare_xml/redacted.py:11-30 (A6)."""
    try:
        frame_str = document_name.split("_")[0].split("-")[0]
        if re.match(r"^[0-9]+F[0-9a-fA-Z_-]+", document_name):
            frame_id = int(frame_str.split("F")[0]) - 1
            document_id = document_name.split("_")[0].split("-")[1][:-1]
        else:
            doc_id_num = document_name.split("_")[0]
            frame_id = 0
            document_id = doc_id_num[:-1]
        return frame_id, document_id
    except (IndexError, ValueError):
        return None, None


def rejected_box(width: int, height: int):
    """Full width × 80 % height box for rejected documents —
    prepare_xml/rejected_doc_coordinates.py:13-19 (A7)."""
    return [0, 0, width, int(height * 0.8)]
