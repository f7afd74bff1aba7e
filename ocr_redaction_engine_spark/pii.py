"""PII redaction for text spans — two equivalent implementations that are
differential-tested against each other:

* :func:`redact_text_py` — pure Python (oracle side).
* :func:`redact_text_col` — JVM-side Catalyst expression chain
  (``regexp_replace`` stays inside WholeStageCodegen; no Python on the hot
  path, per BASELINE.json:input_hint).

The bank order is fixed (banks.PII_BANK then the broadcast name dictionary);
both sides apply it identically. Mirrors the reference's identify-stage
regex-bank idea (SURVEY.md §2.4) applied to free text.
"""

from __future__ import annotations

import re
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

from .banks import PII_BANK
from .places import GIVEN_NAMES, SURNAMES

# Broadcast-style dictionary name matching (north_star): a single compiled
# union alternation. Word-boundary anchored, case-sensitive (names are planted
# uppercase; titlecase variants appear inside page media, not text spans).
NAME_PATTERN = r"\b(?:" + "|".join(sorted(GIVEN_NAMES + SURNAMES)) + r")\b"
NAME_REPLACEMENT = "[NAME]"


@lru_cache(maxsize=64)
def _compiled(pattern: str) -> re.Pattern:
    return re.compile(pattern)


def redact_text_py(text: str) -> str:
    for _, pattern, repl in PII_BANK:
        text = _compiled(pattern).sub(repl, text)
    return _compiled(NAME_PATTERN).sub(NAME_REPLACEMENT, text)


def redact_text_col(col: Column) -> Column:
    for _, pattern, repl in PII_BANK:
        col = F.regexp_replace(col, pattern, repl)
    return F.regexp_replace(col, NAME_PATTERN, NAME_REPLACEMENT)


# ---------------------------------------------------------------------------
# Broadcast Aho–Corasick dictionary matching (north_star: "dictionary name
# matching ... compiled to a broadcast Aho-Corasick automaton").
#
# The union-alternation regex above is the right tool for ~100 names: it
# stays JVM-side inside WholeStageCodegen. It stops being the right tool
# when the dictionary grows to 10⁴–10⁶ entries (gazetteer-scale name lists):
# regex alternation compiles to a pattern whose match cost grows with the
# alternative count, while Aho–Corasick (1975, public algorithm) matches ALL
# dictionary terms in ONE pass over the text — O(len(text) + matches),
# independent of dictionary size. The automaton is built ONCE on the driver,
# broadcast to every executor (goto/fail/output tables — a few MB even for
# 10⁵ terms), and applied in an Arrow-batched ``mapInPandas`` stage: a pure
# map over the corpus, NO shuffle, so the stage scales linearly with input
# splits at any corpus size.
# ---------------------------------------------------------------------------


def build_aho_corasick(terms: list[str]) -> dict:
    """Build the classic Aho–Corasick automaton over literal ``terms``.

    Returns a plain-dict structure (picklable for ``sc.broadcast``):
    ``goto`` (list of {char: state}), ``fail`` (list of states), ``out``
    (list of term-index lists, fail-closure included so every match is
    reported at its end state), ``lens`` (term lengths), ``terms``.
    Duplicate terms are rejected — they would double-count silently.
    """
    if len(set(terms)) != len(terms):
        raise ValueError("duplicate terms in Aho-Corasick dictionary")
    goto: list[dict] = [{}]
    out: list[list] = [[]]
    for idx, term in enumerate(terms):
        if not term:
            raise ValueError("empty term in Aho-Corasick dictionary")
        s = 0
        for ch in term:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                out.append([])
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s].append(idx)
    fail = [0] * len(goto)
    from collections import deque

    q = deque(goto[0].values())
    while q:
        r = q.popleft()
        for ch, s in goto[r].items():
            q.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            cand = goto[f].get(ch, 0)
            fail[s] = cand if cand != s else 0
            out[s] = out[s] + out[fail[s]]
    return {
        "goto": goto,
        "fail": fail,
        "out": out,
        "lens": [len(t) for t in terms],
        "terms": list(terms),
    }


def ac_scan(text: str, ac: dict) -> dict:
    """One automaton pass over ``text``; per matched term index returns
    ``[n_matches, first_pos]`` with **non-overlapping greedy-left** counting
    per term — exactly ``re.findall(re.escape(term), text)`` / SQL
    ``replace``-fold semantics (a match is counted only if it starts at or
    after the end of the previous counted match of the SAME term), so the
    Spark result is oracle-comparable with ``(len(t)-len(replace(t,term,'')))
    / len(term)``. Matches of different terms count independently, overlap
    or not. ``first_pos`` is the 0-based offset of the earliest occurrence
    (overlapping or not — the first raw match IS the first greedy match).
    """
    goto, fail, out, lens = ac["goto"], ac["fail"], ac["out"], ac["lens"]
    s = 0
    hits: dict = {}
    for i, ch in enumerate(text):
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0)
        if out[s]:
            end = i + 1
            for idx in out[s]:
                rec = hits.get(idx)
                if rec is None:
                    hits[idx] = [1, end - lens[idx], end]
                elif end - lens[idx] >= rec[2]:
                    rec[0] += 1
                    rec[2] = end
    return {idx: rec[:2] for idx, rec in hits.items()}


def dict_match(docs, terms: list[str], id_col: str = "doc_id"):
    """Corpus-scale dictionary matching: one broadcast automaton, one
    Arrow-batched map stage, zero shuffles, over the ``text`` column.
    Returns (id_col, term, n_matches, first_pos) — one row per (doc,
    matched term).

    100 TB posture: the automaton is O(total term chars) driver-side state
    broadcast once; each input split is scanned independently in a single
    pass per document, so the stage parallelizes to exactly the scan's
    split count with no exchange before or after. The Python-side scan is
    the price of dictionary-size independence — for dictionaries small
    enough to compile into one alternation, prefer :func:`redact_text_col`'s
    codegen path (differentially tested against this one).

    ``id_col`` keeps its INPUT type (long, string, UUID, …): the output
    schema's id field is copied from ``docs.schema``, not assumed integer.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    ac = build_aho_corasick(terms)
    sc = docs.sparkSession.sparkContext
    bc = sc.broadcast(ac)
    out_schema = StructType([
        docs.schema[id_col],
        StructField("term", StringType()),
        StructField("n_matches", LongType()),
        StructField("first_pos", LongType()),
    ])

    def scan(batches):
        import pandas as pd

        a = bc.value
        tlist = a["terms"]
        for pdf in batches:
            ids, out_terms, counts, firsts = [], [], [], []
            for did, text in zip(pdf[id_col], pdf["text"]):
                if text is None:
                    continue
                for idx, (n, first) in ac_scan(text, a).items():
                    ids.append(did)
                    out_terms.append(tlist[idx])
                    counts.append(n)
                    firsts.append(first)
            # object dtype lets Arrow cast to whatever type the id field
            # declares (int ids and string ids both round-trip exactly).
            yield pd.DataFrame(
                {id_col: pd.Series(ids, dtype="object"),
                 "term": pd.Series(out_terms, dtype="object"),
                 "n_matches": pd.Series(counts, dtype="int64"),
                 "first_pos": pd.Series(firsts, dtype="int64")})

    return docs.select(id_col, "text").mapInPandas(scan, schema=out_schema)
