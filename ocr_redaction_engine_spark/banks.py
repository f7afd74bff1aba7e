"""Regex banks and keyword constants shared by the Spark engine, the
pure-Python oracle, and the synthetic corpus generator.

Every constant is a transcription of an observable *data* value (a regex or
keyword list) from the reference engine — NOT of its code. Citations point at
/root/reference (read-only). The OCR-noise alternations look bizarre on
purpose: they are part of the reference's matching semantics and therefore of
ours.

Patterns are written in the common subset of Python ``re`` and Java
``java.util.regex`` so the same string can be compiled driver-side (oracle),
executor-side (pandas kernel) and JVM-side (``rlike``). Case-insensitivity is
requested per call site (``re.IGNORECASE``).
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Document identification (SURVEY.md §2.4, C1..C8)
# Ordered first-match priority list per
# /root/reference/ocrr_document/process_ocrr.py:28
# ---------------------------------------------------------------------------

DOC_TYPES = ["CDSL", "E-PANCARD", "PANCARD", "E-AADHAAR", "PASSPORT", "AADHAAR", "DL"]

# Any-token-matches-any-pattern, case-insensitive re.search.
# /root/reference/document_identification/documents/identify_*.py
IDENTIFY_BANK: dict[str, list[str]] = {
    # identify_cdsl_doc.py:12-16
    "CDSL": [r"\b(CDSL|CDSE)\b", r"\b(KYC|KRA)\b", r"\b(Ventures)\b"],
    # identify_e_pancard.py:12
    "E-PANCARD": [r"\b(e-pan)\b"],
    # identify_pancard.py:12-16
    "PANCARD": [
        r"\b\w*(permarent|pefirianent|pereierent|permante|petmancnt|petraancnt|permanent|petianent|pormanent|perenent|fermanent)\b",
        r"\b\w*(incometax|incometaxdepartment|incombtaxdepartment|tincometaxdepakinent|fetax| nt number| income | tax | tak)\b",
        r"\b\w*(department|departmen|departnent)\b",
    ],
    # identify_e_aadhaar.py:13-16
    "E-AADHAAR": [
        r"\b\w*(enrollment|enrolment|ehrolimanttle|encolent|enroiiment|enrotment|encol ent no|enroliment|enrolment|enrotiment|/enrolment|enrotimant|enrallment|evavenrolment|eivavenrolment|Enrolknant|ehyollment|enrollmentno)\b",
        r"\b\w*(This ts electronica ly generated letter|Aadhaar is valid throughout the country|Aadhaar is a proof of identity  not  OF citizenship|This is electronically  generated|This is elactronically generated lettar)\b",
    ],
    # identify_passport.py:12-15
    "PASSPORT": [
        r"\b\w*(posspau|pusepart|basepent|passgert|sport|passport|jpassport|pasaport|passpon|ipassport|bissport|passoars|passportno|paeupari|paasport)\b",
        r"\b\w*(republic|overseas|citizen|given|repurlic)\b",
    ],
    # identify_aadhaar.py:13-15
    "AADHAAR": [
        r"\b(uidal.gov.in|male|female|mame|FEMALI|femala|femate|eemale|government of india|UniqualidentificationsAuthority|MERA AADHAAR  MERI PEHGHAN|Unique identification Authority oF india|wwwuldal.cowin|Aadhaar-Aam Admi ka Adhikar|autiority of india|authority-of|www.uldal.gov.in)\b",
    ],
    # identify_driving_license.py:13-15
    "DL": [r"\b\w*(union|driving|license|motor)\b"],
}

UNKNOWN_TYPE = "UNKNOWN"

# ---------------------------------------------------------------------------
# PANCARD (SURVEY.md §2.5 F1..F5)
# ---------------------------------------------------------------------------

# /root/reference/documents/pancard/document_coordinates.py:76
PAN_DOB_PATTERN = r"\d{2}/\d{2}/\d{4}|\d{2}-\d{2}-\d{4}|\d{4}-\d{4}|\d{4}/\d{4}|\d{2}/\d{2}/\d{2}|\d{1}/\d{2}/\d{4}"

# pancard/document_coordinates.py:110-111 (pattern-1 selector)
PAN_PATTERN1_SELECT = [
    r"\b\w*(father['’]s|father|eather['’]s|fathar['’]s|fathers|ffatugr|ffatubr['’]s)\b",
    r"\b\w*(hratlifies|facer|pacers|hratlieies|gather)\b",
]

# pancard/pattern1.py:12-24
PAN_P1_SKIP = [
    r"\b\w*(name|uiname|mame|nun|alatar|fname|hehe|itiame)\b",
    r"\b\w*(father['’]s|father|eather['’]s|fathar['’]s|fathers|ffatugr|ffatubr['’]s)\b",
    r"\b\w*(hratlifies|facer|pacers|hratlieies|name|gather)\b",
]
PAN_P1_BREAK = [r"\b\w*(gate|auth|ory)\b"]
PAN_P1_START = [r"\b(name|uiname|mame|nun|alatar|fname|hehe|itiame)\b"]

# pancard/pattern2.py:12-20
PAN_P2_SKIP = [
    r"\b\w*(sizer|feat|ana|uae|income|tax|department|departmen|indi|my|arg|fears|india|[0-9])\b",
    r"\b\w*(govt|goty|sree|feast|ofl|goyt|os|xe|ar|umdi|es|set|oe|oome|iid|fetax|incometaxdepartment|tincome|of|si|ali|[0-9])\b",
    r"\b\w*(pras|ta|ag|oreax|fart|mic|ncome|are|art|we|gove|tere|sittex|[0-9])\b",
]
PAN_P2_BREAK = [r"\b\w*(permanent|petmancnt|account|number|ermanent|ask|managers)\b"]
PAN_P2_DATE = [r"\d{2}/\d{2}/\d{4}|\d{2}-\d{2}-\d{4}|\d{4}/\d{4}|\d{2}/\d{2}/\d{2}|\d{1}/\d{2}/\d{4}"]

# ---------------------------------------------------------------------------
# AADHAAR (F6..F13) — documents/aadhaar/document_coordinates.py
# ---------------------------------------------------------------------------

# :69-75 name skip keywords
AADHAAR_NAME_SKIP = [
    r"\b(ay|ts|n 4|zn\.|zn|aaa|g|ee|e|em|gn|fo|of|f|gina|gina\.|“government|india|ndia|GVERNME)\b",
    r"\b(a|uh|ra|tametor|ea|esi|pias|ree|net|an|aa|sre|atti|ora|zu|eve|res|yan|ric|id|by|tat)\b",
    r"\b(address|afters|arent|2c|unique|authority|cad|compen|rte|aen|eee|wera|oftndia|cgavernment|surges|itt)\b",
    r"\b(chique|wentication|ons|par|fst|VERNMENRORIND|peat|emer|ange|PUENTE|tN|ao|paint|pos|gov|uldal|peers|src|rerp|ane|lace|tine|reer|nee|hin|sss|authority|of|tndiag|bus|main|gs|Deere|mies|seas|road|address|tx|shiny|ios|male|female|son|fir)\b",
    r"\b([0-9]{1,2})\b",
    r"=|<<|~|-",
]
# :78 DOB anchor keyword for the name scan
AADHAAR_NAME_DOB_KW = [r"\b\w*(dob|doe|dow|rryoob|oob|D08B|birth|bieth|binh|dor|dow|dod)\b"]
# :86 gender fallback anchor
AADHAAR_NAME_GENDER_KW = r"\b(male|female|fmale|femalp|femali|femere|femala|mate|femate|#femste|fomale|fertale|malo|femsle|fade|ferme|famate)\b"
# :167 DOB box pattern (re.match semantics)
AADHAAR_DOB_PATTERN = r"\b\d{2}/\d{2}/\d{4}|\b\d{2}/\d{5}|\b\d{2}-\d{2}-\d{4}|\b\d{4}/\d{4}|\b\d{2}/\d{2}/\d{2}|\b\d{1}/\d{2}/\d{4}|\b[Oo]?\d{1}/\d{5}|\b\d{4}\b"
# :170 DOB line-fallback keyword
AADHAAR_DOB_LINE_KW = r"\b\w*(dob|doe|rryoob|bieth|binh|dor|dow|dod)\b"
# :223 gender line pattern
AADHAAR_GENDER_PATTERN = r"\b(?:male|female|fmale|femalp|femere|FEMALI|femala|mate|femate|#femste|fomale|fertale|malo|femsle|fade|ferme|famate)\b"

# ---------------------------------------------------------------------------
# E-AADHAAR (F14..F16) — documents/e_aadhaar/document_coordinates.py
# ---------------------------------------------------------------------------

EAADHAAR_TOP_KW = [r"\b\w*(to)\b"]                      # :101
EAADHAAR_ENROLL_KW = [                                   # :108
    r"\b(enrollment|enrolment|enrolknant|enrollment|enrolment|encolent|enroiiment|enrotment|encol ent no|enroliment|enrolment|enrotiment|/enrolment|enrotimant|enrallment|evavenrolment|eivavenrolment|ehyollment|enrollmentno)\b",
]
EAADHAAR_BOTTOM_KW = [                                   # :115
    r"\b\w*(date|signature|dob|dos|birth|bith|year|dou|binh|003|008|pub|farce|binn|yoas|dou|doe)\b",
]
EAADHAAR_NAME_SKIP = [                                   # :121-123
    EAADHAAR_ENROLL_KW[0],
    r"\b\w*(to)\b",
    r"\b(india|oflndia|with|no|responsibility|Attested|True|Copy|Embassy|of|india|STUN|BAes|Aerara|Ha|MUsEN)\b",
]
# :224 (no \b\d{4}\b branch, trailing \b on last alt)
EAADHAAR_DOB_PATTERN = r"\b\d{2}/\d{2}/\d{4}|\b\d{2}/\d{5}|\b\d{2}-\d{2}-\d{4}|\b\d{4}/\d{4}|\b\d{2}/\d{2}/\d{2}|\b\d{1}/\d{2}/\d{4}|\b[Oo]?\d{1}/\d{5}\b"
# :261
EAADHAAR_GENDER_PATTERN = r"\b\w*(male|female|femalp|femere|mate|femala|fenate|mala|mate|femate|#femste|fomale|fertale|malo|femsle|fade|ferme|famate)\b"
# :316
EAADHAAR_ADDR_IGNORE = r"\b\w*(?:electronica.ly|electronically|sitrongs|elactronically.generated|generated)\b"

# ---------------------------------------------------------------------------
# E-PANCARD (F17..F22) — documents/e_pancard/document_coordinates.py
# ---------------------------------------------------------------------------

EPAN_DOB_PATTERN = r"\d{2}/\d{2}/\d{4}|\d{2}-\d{2}-\d{4}|\d{4}/\d{4}"  # :69
EPAN_GENDER_PATTERN = r"Male|Female"                                    # :107
EPAN_NAME_KW = [r"\b(name)\b"]                                          # :142
EPAN_BOTTOM_NAME_KW = [r"\b(please|inform|frerarn)\b"]                  # :144
EPAN_FATHER_TOP_LITERAL = "Father's name"                               # :231
EPAN_FATHER_BOTTOM_LITERAL = "Rat 1 AT"                                 # :247

# ---------------------------------------------------------------------------
# PASSPORT (F23..F27) — documents/passport/document_coordinates.py
# ---------------------------------------------------------------------------

PASSPORT_NUM_EXACT = r"^[A-Z][0-9]{7}$"                                 # :30
PASSPORT_SURNAME_KW = [                                                  # :95
    r"\b\w*(surname|sermnemes|somame|sungme|semane|suname|surmame|sumama|sumame|ssurmame|weesenet|canam|sumsme|senane|surnane|sarnome)\b",
]
PASSPORT_BREAK_KW = [                                                    # :99
    r"\b(walionaiity|attonallty|nekiopalty|arsgiaen|natonaity|nationality|sex|sax|danga|st|indian)\b",
]
PASSPORT_SKIP_DATE = [r"\d{2}/\d{2}/\d{4}|\d{2}-\d{2}-\d{4}|\d{4}/\d{4}|\d{2}/\d{2}/\d{2}|\d{1}/\d{2}/\d{4}"]  # :102
# :104-106 — NOTE the third pattern ends with an empty alternative "|)" which
# matches every string; observable effect: passport names are always skipped,
# so the extractor emits an empty result. Preserved deliberately.
PASSPORT_SKIP_KW = [
    r"\b(given|name|give|seen|nee|ot|attonallty|walionaiity|fauna|ama|nameis|amet|rear|nat|feast|ss|a|of|pat|ast|fa|ers|iee|oe|in|ait|beat)\b",
    r"\b(cee|ae|ane|vt|ROME|UDORRETIECOM|NAly|meh|L|ae|be|ere|x||ae|ee|Sh|senmies|ae|oS|mee|gies|cuenvermeias|VA|TOG|Be|ae|ISOIA|sen| ‘wha|tens|Ge|wale|is|Cn|wei|as|ie|cssmaeall)\b",
    r"(=|-|//\\\\|~|/|)",
]
PASSPORT_DATE_PATTERN = r"\d{2}/\d{2}/\d{4}|\d{2}-\d{2}-\d{4}|\d{4}/\d{4}|\d{2}/\d{2}/\d{2}|\d{1}/\d{2}/\d{4}"  # :179

# ---------------------------------------------------------------------------
# DRIVING LICENSE (F28..F31) — documents/driving_license/document_coordinates.py
# ---------------------------------------------------------------------------

DL_DATES_PATTERN = r"\b\d{2}/\d{2}/\d{4}|\b\d{2}/\d{5}|\b\d{2}-\d{2}-\d{4}|\b\d{4}/\d{4}|\b\d{2}/\d{2}/\d{2}|\b\d{1}/\d{2}/\d{4}|\b[Oo]?\d{1}/\d{5}|\b\d{2}\.\d{2}\.\d{4}|\b\d{4}-\d{4}\b"  # :67
DL_NAME_KW = [r"\b\w*(name)\b"]                                          # :104
DL_NAME_SKIP = [r"\b\w*(son|daughter|blood|blond|ae|re)\b"]              # :107
DL_NAME_BREAK = [r"\b(ex|se)\b"]                                         # :110

# ---------------------------------------------------------------------------
# CDSL (F32..F34) — documents/cdsl/document_coordinates.py
# ---------------------------------------------------------------------------

CDSL_CLIENT_BREAK = ["current", "kin", "ikyc", "kyc", "kra", "kyo", "date", "status", "not", "available"]  # :54

# ---------------------------------------------------------------------------
# Field-name keys (the observable "Title" values of the indexvalues sink,
# prepare_xml/redacted.py:50)
# ---------------------------------------------------------------------------

FIELD_KEYS = {
    "PANCARD": ["Pancard Number", "Pancard DOB", "Pancard Names", "Pancard QRCodes"],
    "AADHAAR": [
        "Aadhaar Number", "Aadhaar Name", "Aadhaar DOB", "Aadhaar Gender",
        "Aadhaar Address", "Aadhaar Pincode", "Aadhaar Mobile", "Aadhaar QRCodes",
    ],
    "E-AADHAAR": [
        "E-Aadhaar Name", "E-Aadhaar Number", "E-Aadhaar DOB", "E-Aadhaar Gender",
        "E-Aadhaar Address", "E-Aadhaar Mobile", "E-Aadhaar Pincode", "E-Aadhaar QRCodes",
    ],
    "E-PANCARD": [
        "E-Pancard Number", "E-Pancard DOB", "E-Pancard Gender",
        "E-Pancard Client Name", "E-Pancard Client Father Name", "E-Pancard QRCodes",
    ],
    "PASSPORT": ["Passport Number", "Passport Names", "Passport Dates", "Passport Arrow", "Passport Address"],
    "DL": [
        "Driving License Number", "Driving License Dates", "Driving License Names",
        "Driving License Address", "Driving License QRCodes",
    ],
    "CDSL": ["CDSL Pancard Number", "CDSL Client Name"],
}

# ---------------------------------------------------------------------------
# PII bank for text spans (north_star: SSN/phone/email/date regex bank +
# dictionary name matching). Applied in this exact order, all-occurrences,
# JVM-side via regexp_replace and oracle-side via re.sub.
# ---------------------------------------------------------------------------

PII_BANK: list[tuple[str, str, str]] = [
    # (class, pattern, replacement)
    ("EMAIL", r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b", "[EMAIL]"),
    ("SSN", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("AADHAAR12", r"\b\d{4} \d{4} \d{4}\b", "[AADHAAR]"),
    ("PHONE", r"\b(?:\+91[ -]?)?\d{10}\b", "[PHONE]"),
    ("PAN", r"\b[A-Z]{5}[0-9]{4}[A-Z]\b", "[PAN]"),
    ("DATE", r"\b\d{2}/\d{2}/\d{4}\b|\b\d{2}-\d{2}-\d{4}\b|\b\d{2}\.\d{2}\.\d{4}\b", "[DATE]"),
    ("PIN6", r"\b\d{6}\b", "[PIN]"),
]
