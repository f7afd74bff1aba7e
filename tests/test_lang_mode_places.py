"""F34 lang-mode trichotomy + injectable places dictionary (round 2).

The reference tokenizes with three tesseract modes
(helper/text_coordinates.py:11-21); only CDSL extraction selects "default"
(cdsl/document_coordinates.py:8). kernel.mode_view models the observable
difference; these tests prove the mode CHANGES tokens and CDSL output, and
that the address dictionary is swappable end-to-end.
"""

from __future__ import annotations

import pytest

from ocr_redaction_engine_spark import corpus, kernel, oracle
from ocr_redaction_engine_spark.pipeline import PipelineConfig, run_pipeline


def _mk_words(lines):
    words, y = [], 10
    for line in lines:
        x = 15
        for tok in line.split():
            w = 9 * len(tok) + 6
            words.append((x, y, x + w, y + 24, tok))
            x += w + 12
        y += 40
    return words


def test_mode_view_trichotomy():
    lines = ["CDSL Ventures Limited", "CVLKRA", "Name : RAHUL SHARMA", "नमस्ते jai"]
    words = _mk_words(lines)
    eng_w, eng_l = kernel.mode_view(words, lines, "eng")
    # eng (psm 11 sparse): keeps the isolated token, drops the Devanagari one
    assert "CVLKRA" in [w[4] for w in eng_w]
    assert "नमस्ते" not in [w[4] for w in eng_w]
    assert eng_l[-1] == "jai"
    dflt_w, dflt_l = kernel.mode_view(words, lines, "default")
    # default (block segmentation): additionally misses the isolated token
    assert "CVLKRA" not in [w[4] for w in dflt_w]
    assert "CVLKRA" not in dflt_l
    reg_w, reg_l = kernel.mode_view(words, lines, "regionalplus")
    # regionalplus (hin+eng sparse): keeps everything
    assert (reg_w, reg_l) == (words, lines)
    with pytest.raises(ValueError):
        kernel.mode_view(words, lines, "hin")


def test_cdsl_default_mode_changes_output():
    """F34 observable: the CDSL watermark token is part of the sparse
    identification stream but must NOT leak into the client name, because
    CDSL extraction re-tokenizes with lang="default"."""
    lines = corpus._page_lines(42, 1, 0, "CDSL")
    assert "CVLKRA" in lines  # the isolated watermark line
    words = _mk_words(lines)

    # identification sees the watermark (sparse stream) and still says CDSL
    id_words, _ = kernel.mode_view(words, lines, "eng")
    assert "CVLKRA" in [w[4] for w in id_words]
    assert kernel.identify_page([w[4] for w in id_words]) == "CDSL"

    # extraction through the dispatch (which applies DOC_LANG_MODES)
    res = kernel.extract_page("CDSL", words, lines, [], level=1)
    name = next(f for f in res["fields"] if f["field"] == "CDSL Client Name")
    assert "CVLKRA" not in name["value"]

    # force the sparse view through the raw extractor: the watermark leaks —
    # i.e. the mode genuinely changes CDSL output
    eng_w, eng_l = kernel.mode_view(words, lines, "eng")
    res_eng = kernel._extract_cdsl(eng_w, eng_l, [], level=1)
    name_eng = next(f for f in res_eng["fields"] if f["field"] == "CDSL Client Name")
    assert "CVLKRA" in name_eng["value"]


def test_swapped_places_dictionary_end_to_end(spark, corpus_dfs, local_corpus):
    """north-rule parity with an injected dictionary: Spark pipeline ==
    pure-Python oracle under the SAME swapped places list, and the swap
    observably changes the output (no address fields match)."""
    docs, pages = local_corpus
    docs_df, pages_df = corpus_dfs
    nowhere = ["ZZZNOWHERE"]

    outs = run_pipeline(docs_df, pages_df, PipelineConfig(level=1, places=nowhere))
    got_vals = sorted((r.doc_id, r.media_ref, r.field, r.value)
                      for r in outs["values"].collect())
    _, exp_vals = oracle.expected_page_outputs(docs, pages, level=1, places=nowhere)
    assert got_vals == sorted(exp_vals)

    # the swap is observable: no place token matches (Passport Address keeps
    # its independent 6-digit-pincode pass, so exclude it)
    dict_fields = ("Aadhaar Address", "E-Aadhaar Address", "Driving License Address")
    assert not any(f in dict_fields and v for _, _, f, v in got_vals)
    # ...whereas the default dictionary does produce addresses
    _, default_vals = oracle.expected_page_outputs(docs, pages, level=1)
    assert any(f in dict_fields and v for _, _, f, v in default_vals)
