"""BM25 ranked retrieval: differential vs an independent pure-Python
reference (math.log, dict counters), plus plan shape."""
from __future__ import annotations

import math

import pytest

from ocr_redaction_engine_spark.analytics.search import bm25_topk, postings

DOCS = [
    (0, "hash join hash join scan"),
    (1, "scan scan scan filter"),
    (2, "join merge sort window"),
    (3, "hash table probe build side"),
    (4, "filter filter pushdown scan scan scan scan"),
]
QUERIES = ["hash join", "scan filter"]


def _ref_bm25(k1=1.2, b=0.75, k=10):
    """Independent reference: same formula, different implementation path
    (per-term rounding matches the engine's cross-engine determinism rule)."""
    toks = {d: t.split() for d, t in DOCS}
    n = len(DOCS)
    avgdl = sum(len(t) for t in toks.values()) / n
    out = {}
    for qi, q in enumerate(QUERIES):
        scores = {}
        for d, t in toks.items():
            s = 0.0
            for term in dict.fromkeys(q.split()):
                tf = t.count(term)
                if not tf:
                    continue
                df = sum(1 for tt in toks.values() if term in tt)
                idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
                contrib = idf * (tf * (k1 + 1)) / (
                    tf + k1 * (1 - b + b * len(t) / avgdl))
                s += round(contrib, 6)
            if s:
                scores[d] = round(s, 6)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[qi] = [(d, s, r + 1) for r, (d, s) in enumerate(ranked)]
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_postings_tf_dl(docs):
    got = {(r["doc_id"], r["term"]): (r["tf"], r["dl"])
           for r in postings(docs).collect()}
    assert got[(0, "hash")] == (2, 5)
    assert got[(4, "scan")] == (4, 7)
    assert (1, "hash") not in got


def test_bm25_matches_reference(docs):
    got = {}
    for r in bm25_topk(docs, QUERIES, k=10).collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"], r["rank"]))
    for v in got.values():
        v.sort(key=lambda x: x[2])
    exp = _ref_bm25()
    assert set(got) == {0, 1}
    for qi in exp:
        assert [(d, r) for d, _, r in got[qi]] == [(d, r) for d, _, r in exp[qi]]
        for (_, s_got, _), (_, s_exp, _) in zip(got[qi], exp[qi]):
            assert s_got == pytest.approx(s_exp, abs=1e-6)


def test_bm25_plan_has_no_bnl_and_one_shuffle_family(docs):
    plan = bm25_topk(docs, QUERIES)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_phrase_search_semantics(spark):
    from ocr_redaction_engine_spark.analytics.search import phrase_search
    docs = spark.createDataFrame(
        [(1, "hash join is a hash join thing"),
         (2, "join hash"),                    # reversed: no match
         (3, "value value value"),            # overlapping repeated-term hits
         (4, "hash"),                         # partial: no match
         (5, "  hash join  ")],               # trim/split robustness
        "doc_id long, text string")
    out = phrase_search(docs, ["hash join", "value value"]).collect()
    got = {(r["phrase"], r["doc_id"]): (r["n_occurrences"], r["first_start"])
           for r in out}
    assert got == {
        ("hash join", 1): (2, 0),
        ("hash join", 5): (1, 0),
        ("value value", 3): (2, 0),   # starts 0 and 1 — overlaps both count
    }
    # a repeated-term phrase can't fire on a single token: distinct slots
    assert ("value value", 4) not in got and ("hash join", 2) not in got


def test_fuzzy_dict_match_edit_classes(spark):
    """Every edit class within distance 1 matches; the transposition case
    ('tabel' vs 'table', distance 2) MUST be candidate-generated by the
    shared deletion variants and then rejected by the exact verify."""
    from ocr_redaction_engine_spark.analytics.search import (
        deletion_variants, fuzzy_dict_match)
    import pyspark.sql.functions as F
    docs = spark.createDataFrame(
        [(1, "hash table scan"),
         (2, "hash hash value"),
         (3, "window merge")],
        "doc_id long, text string")
    out = fuzzy_dict_match(
        docs, ["hashh", "vlue", "windoe", "tabel", "scan", "xyzzy"]).collect()
    got = {(r["term"], r["token"]): (r["n_docs"], r["n_hits"]) for r in out}
    assert got[("hashh", "hash")] == (2, 3)      # insertion; tf summed
    assert got[("vlue", "value")] == (1, 1)      # deletion
    assert got[("windoe", "window")] == (1, 1)   # substitution
    assert got[("scan", "scan")] == (1, 1)       # exact
    assert not any(t == "tabel" for t, _ in got)  # transposition: ed=2
    assert not any(t == "xyzzy" for t, _ in got)
    # the transposition IS a candidate (shared deletion variant) — prove the
    # neighborhood intersects so the rejection above is the verify's doing
    va = spark.range(1).select(
        deletion_variants(F.lit("tabel")).alias("a"),
        deletion_variants(F.lit("table")).alias("b"),
    ).select(F.size(F.array_intersect("a", "b")).alias("n")).first()
    assert va["n"] > 0


MLT_DOCS = [
    (0, "hash join probe"),                       # query doc
    (1, "scan filter pushdown"),                  # query doc
    (2, "hash join hash join build side"),
    (3, "scan scan filter merge"),
    (4, "probe build window sort"),
    (5, "hash filter join scan"),
    (6, "totally unrelated words here"),
]


def _ref_mlt(n_queries=2, k=10, max_q_tokens=16):
    """Independent reference: rare-term-weighted overlap, integer 1e6//df
    weights, candidates = doc_id >= n_queries."""
    toks = {d: t.split() for d, t in MLT_DOCS}
    cands = {d: t for d, t in toks.items() if d >= n_queries}
    out = {}
    for q in range(n_queries):
        qterms = list(dict.fromkeys(toks[q][:max_q_tokens]))
        scores = {}
        for c, t in cands.items():
            s = 0
            for term in qterms:
                tf = t.count(term)
                if not tf:
                    continue
                df = sum(1 for tt in cands.values() if term in tt)
                s += tf * (1000000 // df)
            if s:
                scores[c] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[q] = [(c, s, r + 1) for r, (c, s) in enumerate(ranked)]
    return out


def test_mlt_matches_reference(spark):
    from ocr_redaction_engine_spark.analytics.search import mlt_topk

    docs = spark.createDataFrame(MLT_DOCS, "doc_id long, text string")
    got = {}
    for r in mlt_topk(docs, n_queries=2, k=10).collect():
        got.setdefault(r["q_id"], []).append((r["c_id"], r["score"], r["rank"]))
    for q in got:
        got[q].sort(key=lambda x: x[2])
    assert got == _ref_mlt()
    # rare-term weighting must actually discriminate: doc 6 shares nothing
    assert all(6 not in [c for c, _, _ in lst] for lst in got.values())


def test_hybrid_rrf_fuses_both_rankers(spark):
    from ocr_redaction_engine_spark.analytics.search import (
        RRF_K, RRF_K_EACH, hybrid_rrf, mlt_topk)
    from ocr_redaction_engine_spark.analytics.similarity import cosine_topk

    docs = spark.createDataFrame(MLT_DOCS, "doc_id long, text string")
    # embeddings: vec i = doc i; make vec 2 the nearest dense neighbour of
    # query 0 and vec 4 of query 1 (orthogonal axes elsewhere)
    import numpy as np
    rng = np.random.RandomState(7)
    vecs = rng.normal(size=(7, 8)).astype("float32")
    vecs[2] = vecs[0] + 0.01 * vecs[2]
    vecs[4] = vecs[1] + 0.01 * vecs[4]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(7)],
        "vec_id long, embedding array<float>")

    k_each, k_rrf = RRF_K_EACH, RRF_K
    lex = {(r["q_id"], r["c_id"]): r["rank"]
           for r in mlt_topk(docs, n_queries=2, k=k_each).collect()}
    den = {(r["q_id"], r["c_id"]): r["rank"]
           for r in cosine_topk(emb, n_queries=2, k=k_each).collect()}
    expected = {}
    for key in set(lex) | set(den):
        e6 = 0
        if key in lex:
            e6 += 1000000 // (k_rrf + lex[key])
        if key in den:
            e6 += 1000000 // (k_rrf + den[key])
        expected[key] = (lex.get(key), den.get(key), e6)

    rows = hybrid_rrf(docs, emb, n_queries=2, k=10).collect()
    got = {(r["q_id"], r["c_id"]): (r["lex_rank"], r["dense_rank"], r["rrf_e6"])
           for r in rows}
    assert got == expected
    # rank order follows rrf desc with c_id tiebreak, per query
    for q in (0, 1):
        qrows = sorted([r for r in rows if r["q_id"] == q],
                       key=lambda r: r["rank"])
        keys = [(-r["rrf_e6"], r["c_id"]) for r in qrows]
        assert keys == sorted(keys)
    # pairs present in BOTH lists exist (dense neighbour = lexical overlap
    # for 2<->0) and outrank single-list pairs with comparable ranks
    both = [k for k, v in expected.items() if v[0] and v[1]]
    assert both, "fixture must exercise the two-list fusion cell"
