"""Aho–Corasick dictionary matcher: automaton truth tables, a seeded
random differential vs ``re`` (the independent reference for greedy-left
non-overlapping counting), and the Spark ``dict_match`` stage end-to-end.
"""
from __future__ import annotations

import random
import re

from ocr_redaction_engine_spark.pii import ac_scan, build_aho_corasick, dict_match


def _re_reference(text: str, terms: list[str]) -> dict:
    """Independent oracle: re.finditer of the escaped literal gives exactly
    greedy-left non-overlapping matches."""
    out = {}
    for idx, term in enumerate(terms):
        ms = list(re.finditer(re.escape(term), text))
        if ms:
            out[idx] = [len(ms), ms[0].start()]
    return out


def test_classic_ushers_truth_table():
    # The canonical Aho–Corasick example: fail links must fire "he" and
    # "hers" while inside the "she"/"hers" branches.
    terms = ["he", "she", "his", "hers"]
    ac = build_aho_corasick(terms)
    got = ac_scan("ushers", ac)
    assert got == {terms.index("she"): [1, 1],
                   terms.index("he"): [1, 2],
                   terms.index("hers"): [1, 2]}


def test_greedy_nonoverlap_counting():
    ac = build_aho_corasick(["aba", "aa"])
    # "ababa": raw occurrences of "aba" at 0 and 2 overlap; greedy keeps 1.
    assert ac_scan("ababa", ac)[0] == [1, 0]
    # "aaaa": "aa" at 0,1,2 raw; greedy keeps 0 and 2.
    assert ac_scan("aaaa", ac)[1] == [2, 0]
    # matches of DIFFERENT terms may overlap each other freely.
    got = ac_scan("aaba", ac)
    assert got[1] == [1, 0] and got[0] == [1, 1]


def test_term_inside_longer_term_both_fire():
    terms = ["ann", "anna"]
    ac = build_aho_corasick(terms)
    got = ac_scan("anna", ac)
    assert got == {0: [1, 0], 1: [1, 0]}


def test_random_differential_vs_re():
    rng = random.Random(421)
    alphabet = "abc"
    terms = sorted({"".join(rng.choice(alphabet) for _ in range(rng.randint(1, 4)))
                    for _ in range(12)})
    ac = build_aho_corasick(terms)
    for _ in range(300):
        text = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        assert ac_scan(text, ac) == _re_reference(text, terms), text


def test_build_rejects_duplicates_and_empty():
    import pytest
    with pytest.raises(ValueError):
        build_aho_corasick(["a", "a"])
    with pytest.raises(ValueError):
        build_aho_corasick(["a", ""])


def test_dict_match_spark(spark):
    rows = [
        (0, "RAHUL called SHARMA and RAHUL again"),
        (1, "no names here"),
        (2, None),
        (3, "GUPTA GUPTA GUPTA"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["RAHUL", "SHARMA", "GUPTA", "PRIYA"]
    got = {(r.doc_id, r.term): (r.n_matches, r.first_pos)
           for r in dict_match(docs, terms).collect()}
    assert got == {
        (0, "RAHUL"): (2, 0),
        (0, "SHARMA"): (1, 13),
        (3, "GUPTA"): (3, 0),
    }
    # zero-shuffle plan: a scan + one ArrowEvalPython/mapInPandas, no Exchange
    plan = dict_match(docs, terms)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_dict_match_string_ids(spark):
    # doc_id keeps its input type: string/UUID ids must round-trip, not
    # crash in the Arrow worker on an int64 assumption.
    rows = [
        ("url-a", "RAHUL met PRIYA"),
        ("url-b", "nothing"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = dict_match(docs, ["RAHUL", "PRIYA"])
    assert dict(out.dtypes)["doc_id"] == "string"
    got = {(r.doc_id, r.term): (r.n_matches, r.first_pos) for r in out.collect()}
    assert got == {
        ("url-a", "RAHUL"): (1, 0),
        ("url-a", "PRIYA"): (1, 10),
    }
