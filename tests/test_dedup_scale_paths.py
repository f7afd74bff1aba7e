"""Round-2 scale paths: vectorized SimHash and bucketed cosine dedup.

Pins the numpy kernels against independent pure-Python / brute-force
references so the vectorization can never drift semantically.
"""

from __future__ import annotations

import hashlib
import re
from pathlib import Path

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(80)


def _simhash_py(text: str, bits: int = 60) -> int:
    """Independent scalar reference for the vectorized kernel."""
    votes = [0] * bits
    for tok in set(re.split(r"\s+", text.strip())):
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "little") >> (64 - bits)
        for i in range(bits):
            votes[i] += 1 if (h >> i) & 1 else -1
    return sum(1 << i for i in range(bits) if votes[i] > 0)


def test_simhash_matches_scalar_reference(docs):
    from ocr_redaction_engine_spark.analytics.dedup import simhash
    got = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    exp = {r.doc_id: _simhash_py(r.text) for r in docs.collect()}
    assert got == exp


def test_simhash_duckdb_parity_little_endian():
    """The kernel's per-token hash must equal DuckDB md5_number_upper >> 4."""
    import duckdb
    for tok in ("alpha", "β-token", "42"):
        duck = duckdb.connect().execute(
            "SELECT md5_number_upper(?) >> 4", [tok]).fetchone()[0]
        py = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "little") >> 4
        assert int(duck) == py


def test_bucketed_cosine_equals_brute_force(spark):
    """The scale path (multi-table LSH candidates + exact verify) must return
    the same pairs as the O(N²) brute force on the near-dup corpus."""
    import sys
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from __spark_entry__ import _embeddings_with_rerawl
    from ocr_redaction_engine_spark.analytics.similarity import (
        cosine_pairs, cosine_pairs_bucketed)

    u = _embeddings_with_rerawl(
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet"))
    brute = {(r.a, r.b, r.sim) for r in cosine_pairs(u, threshold=0.99).collect()}
    bucketed = {(r.a, r.b, r.sim)
                for r in cosine_pairs_bucketed(u, threshold=0.99).collect()}
    assert brute == bucketed
    assert len(brute) == 500  # every original pairs with exactly its re-crawl


def test_bucketed_cosine_plan_has_no_cross_join(spark):
    from __spark_entry__ import dedup_embedding_cosine
    plan = dedup_embedding_cosine(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnow_fingerprints_reference_and_locality(spark):
    """Winnowing (MOSS): (a) the Catalyst HOF plan equals a pure-Python
    reference; (b) locality — an edit at the END of a document preserves the
    fingerprints drawn from its untouched beginning (whole-doc md5 cannot)."""
    import hashlib
    from ocr_redaction_engine_spark.analytics.text import winnow_fingerprints

    k, w = 8, 4
    texts = {1: "the quick brown fox jumps over the lazy dog again and again",
             2: "the quick brown fox jumps over the lazy dog EDITED TAIL"}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r.doc_id, set()).add(r.fp)

    def ref(s):
        grams = [hashlib.md5(s[i:i + k].encode()).hexdigest()
                 for i in range(len(s) - k + 1)]
        return {min(grams[j:j + w]) for j in range(len(grams) - w + 1)}

    for d, s in texts.items():
        assert got[d] == ref(s), d
    # shared prefix => substantially overlapping fingerprint sets
    assert len(got[1] & got[2]) >= 3


def test_sparse_cosine_pairs_semantics(spark):
    from ocr_redaction_engine_spark.analytics.dedup import sparse_cosine_pairs
    rows = [
        (1, "p q r s t u v w", 0),      # near-dup of 2 (7 shared tokens)
        (2, "p q r s t u v x", 0),
        (3, "m n o m n o m n", 0),      # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    out = {(r["a"], r["b"]): r for r in
           sparse_cosine_pairs(docs, n=3, max_df=10, min_dot=1).collect()}
    # docs 1/2 share trigrams from the 7-token common prefix: p q r .. u v
    # (5 shared trigrams of 6 each) → dot=5, norms 6 → cos 5/6
    r12 = out[(1, 2)]
    assert r12["dot"] == 5 and r12["na2"] == 6 and r12["nb2"] == 6
    assert r12["cos_lb"] == round(5 / 6, 6)
    assert (1, 3) not in out and (2, 3) not in out
    # df cap drops the shared trigrams → pair disappears (lower-bound semantics)
    capped = sparse_cosine_pairs(docs, n=3, max_df=1, min_dot=1).collect()
    assert not [r for r in capped if (r["a"], r["b"]) == (1, 2)]


def test_duplicate_representatives(spark):
    from ocr_redaction_engine_spark.analytics.dedup import duplicate_representatives
    rows = [
        (1, "alpha beta gamma delta", 22),
        (2, "alpha beta gamma delta", 22),       # exact dup of 1
        (3, "alpha beta gamma delta epsilon", 30),  # near-dup, longest
        (4, "zeta eta theta iota", 19),          # singleton: no candidate pair
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    reps = duplicate_representatives(docs).collect()
    comp = {r["component"]: r for r in reps}
    assert 1 in comp
    assert comp[1]["rep_doc_id"] == 3            # longest text wins
    assert comp[1]["rep_n_chars"] == 30
    assert comp[1]["n_members"] == 3
    assert all(r["component"] != 4 for r in reps)  # singletons form no cluster


def test_apply_dedup_keeps_reps_and_singletons(spark):
    from ocr_redaction_engine_spark.analytics.dedup import apply_dedup
    rows = [
        (1, "alpha beta gamma delta", "s", 22),
        (2, "alpha beta gamma delta", "s", 22),        # dup of 1
        (3, "alpha beta gamma delta epsilon", "s", 30),  # near-dup, longest → representative
        (4, "zeta eta theta iota", "s", 19),           # singleton survives untouched
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string, n_chars long")
    kept = sorted(r["doc_id"] for r in apply_dedup(docs).collect())
    assert kept == [3, 4]


def test_apply_dedup_single_cc_run(spark, monkeypatch):
    """apply_dedup must share ONE connected-components run between the
    representative pick and the drop list: the CC loop is driver-iterative
    (localCheckpoint + count per round), so a second call re-executes the
    whole pipeline (round-3 review finding)."""
    from ocr_redaction_engine_spark.analytics import dedup

    calls = {"n": 0}
    real = dedup.connected_components

    def counting(pairs, **kw):
        calls["n"] += 1
        return real(pairs, **kw)

    monkeypatch.setattr(dedup, "connected_components", counting)
    docs = spark.createDataFrame(
        [(1, "a b c d", "s", 7), (2, "a b c d", "s", 7), (3, "x y z w", "s", 7)],
        "doc_id long, text string, source string, n_chars long")
    assert sorted(r["doc_id"] for r in dedup.apply_dedup(docs).collect()) == [1, 3]
    assert calls["n"] == 1


def test_sparse_cosine_matches_pure_python_reference(spark):
    """Randomized differential: uncapped sparse_cosine_pairs equals a pure
    numpy trigram-count cosine over all pairs (fixed seed, 30 docs)."""
    import itertools
    import random

    import numpy as np

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25))))
            for i in range(30)]

    def tri_counts(text):
        toks = text.split()
        out = {}
        for j in range(len(toks) - 2):
            g = " ".join(toks[j:j + 3])
            out[g] = out.get(g, 0) + 1
        return out

    expected = {}
    cs = {i: tri_counts(t) for i, t in docs}
    for a, b in itertools.combinations(sorted(cs), 2):
        dot = sum(v * cs[b].get(g, 0) for g, v in cs[a].items())
        if dot >= 1:
            na2 = sum(v * v for v in cs[a].values())
            nb2 = sum(v * v for v in cs[b].values())
            expected[(a, b)] = (dot, na2, nb2,
                                round(dot / np.sqrt(float(na2) * nb2), 6))

    from ocr_redaction_engine_spark.analytics.dedup import sparse_cosine_pairs
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["a"], r["b"]): (r["dot"], r["na2"], r["nb2"], r["cos_lb"])
           for r in sparse_cosine_pairs(df, n=3, max_df=10**6, min_dot=1).collect()}
    assert got == expected


def test_prefix_jaccard_join_complete_vs_bruteforce(spark, docs):
    """Prefix filtering must be COMPLETE: identical pair set to a pure-Python
    all-pairs scan at the same rational threshold, including boundary pairs
    where inter*t_den == t_num*union exactly."""
    from ocr_redaction_engine_spark.analytics.dedup import prefix_jaccard_join

    rows = [(str(r.doc_id), r.text) for r in docs.select("doc_id", "text").collect()]
    # plant a boundary pair: |A|=7, |B|=7, inter=6 -> J = 6/8 = 3/4 exactly
    rows.append(("zz-bound-a", "pa pb pc pd pe pf pg"))
    rows.append(("zz-bound-b", "pa pb pc pd pe pf qq"))
    df = spark.createDataFrame(rows, "doc_id string, text string")

    got = {(r.a, r.b): (r.inter, r.na, r.nb)
           for r in prefix_jaccard_join(df, t_num=3, t_den=4).collect()}

    sets = {d: set(t.split()) for d, t in rows}
    ids = sorted(sets)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter * 4 >= 3 * union:
                expect[(a, b)] = (inter, len(sets[a]), len(sets[b]))
    assert got == expect
    assert ("zz-bound-a", "zz-bound-b") in got  # the exact-boundary pair survived


def test_incremental_dedup_planted_cases(spark):
    """Planted keep/drop decisions: a new doc duplicating an old doc drops
    with n_old_dups counted; an exact new-new pair keeps the min id; a
    unique new doc keeps; a new doc near-dup of BOTH lanes reports both."""
    from ocr_redaction_engine_spark.analytics.dedup import incremental_dedup

    old = spark.createDataFrame(
        [("o1", "alpha beta gamma delta epsilon zeta"),
         ("o2", "one two three four five six seven")],
        "doc_id string, text string")
    new = spark.createDataFrame(
        [("n1", "alpha beta gamma delta epsilon zeta"),      # dup of o1
         ("n2", "unique content nothing shares tokens here"),
         ("n3", "repeated payload tokens aa bb cc dd"),
         ("n4", "repeated payload tokens aa bb cc dd"),      # dup of n3
         ("n5", "one two three four five six seven"),        # dup of o2
        ],
        "doc_id string, text string")

    out = {r.doc_id: r for r in incremental_dedup(old, new).collect()}
    assert len(out) == 5
    assert out["n1"].n_old_dups == 1 and not out["n1"].keep
    assert out["n2"].n_old_dups == 0 and out["n2"].first_new_dup is None
    assert out["n2"].keep
    assert out["n3"].keep and out["n3"].first_new_dup is None
    assert out["n4"].first_new_dup == "n3" and not out["n4"].keep
    assert out["n5"].n_old_dups == 1 and not out["n5"].keep

    # a doc that dups both lanes reports both signals
    new2 = new.union(spark.createDataFrame(
        [("n6", "alpha beta gamma delta epsilon zeta")], "doc_id string, text string"))
    out2 = {r.doc_id: r for r in incremental_dedup(old, new2).collect()}
    assert out2["n6"].n_old_dups == 1 and out2["n6"].first_new_dup == "n1"
    assert not out2["n6"].keep

    # a doc shorter than the shingle width has no shingles and trivially keeps
    new3 = new.union(spark.createDataFrame(
        [("n7", "tiny doc")], "doc_id string, text string"))
    out3 = {r.doc_id: r for r in incremental_dedup(old, new3).collect()}
    assert out3["n7"].keep and out3["n7"].n_old_dups == 0


def test_incremental_dedup_threshold_and_banding(spark):
    """A pair sharing one 3-gram shingle (possible band collision) but with
    shingle Jaccard far below 0.5 must survive: verification is exact
    Jaccard, not bucket membership."""
    from ocr_redaction_engine_spark.analytics.dedup import incremental_dedup

    # shared prefix "shared1 shared2 shared3" = 1 common shingle out of 15
    # union shingles -> jaccard 1/15 < 0.5, whether or not a band collides.
    old = spark.createDataFrame(
        [("o1", "shared1 shared2 shared3 oa ob oc od oe of oh")],
        "doc_id string, text string")
    new = spark.createDataFrame(
        [("n1", "shared1 shared2 shared3 na nb nc nd ne nf nh")],
        "doc_id string, text string")
    row = incremental_dedup(old, new).collect()[0]
    assert row.keep and row.n_old_dups == 0


def test_minhash_family_shingle_mode(spark):
    """shingle_n threads through signatures -> candidates -> verify: exact
    dups still pair at jaccard 1.0, while template-correlated non-dups that
    unigram banding pairs up produce no shingle candidates."""
    from ocr_redaction_engine_spark.analytics.dedup import (
        candidate_pairs, jaccard_pairs)

    # all docs share the template words, differ in the payload slot -> no
    # shared 3-gram between different payloads
    rows = [(f"d{i}", f"the quick brown slot{i} jumps over the lazy dog {i}")
            for i in range(12)]
    rows.append(("d99", rows[0][1]))  # exact dup of d0
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    uni = candidate_pairs(docs).count()
    # threshold 0 keeps every shingle candidate: a band collision implies
    # a shared shingle, so each candidate verifies with inter >= 1
    shi = jaccard_pairs(docs, threshold=0.0, shingle_n=3).collect()
    assert all(r.inter >= 1 for r in shi)
    shi_pairs = {(r.a, r.b) for r in shi}
    assert ("d0", "d99") in shi_pairs
    assert len(shi_pairs) < uni  # the unigram mode over-bands the template

    ver = {(r.a, r.b): r.jaccard
           for r in jaccard_pairs(docs, threshold=0.5, shingle_n=3).collect()}
    assert ver[("d0", "d99")] == 1.0
    assert all(p == ("d0", "d99") for p in ver)


def _lsh_units_py(text: str, shingle_n):
    """The unit set of doc_tokens_distinct, in Python: distinct tokens, or
    the 60-bit md5 longs of each space-joined shingle_n-token window."""
    toks = text.split()
    if not shingle_n:
        return set(toks)
    return {int(hashlib.md5(" ".join(toks[i:i + shingle_n]).encode())
                .hexdigest()[:15], 16)
            for i in range(len(toks) - shingle_n + 1)}


@pytest.mark.parametrize("cross", [False, True], ids=["self", "cross"])
@pytest.mark.parametrize("shingle_n", [None, 3], ids=["unigram", "3gram"])
def test_band_join_and_verify_match_python_sets(spark, shingle_n, cross):
    """_band_pairs + _verified against pure-Python set arithmetic on seeded
    random corpora: the emitted pairs are exactly the band collisions, and
    every pair's inter/na/nb/jaccard equals the set counts with the same
    6-dp half-up rounding. Self mode emits only a < b; cross mode only
    (side A, side B) pairs, though side A holds colliding pairs of its own."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from ocr_redaction_engine_spark.analytics.dedup import (
        N_BANDS, _band_pairs, _signatures, _verified, doc_tokens_distinct)

    rng = random.Random(20 + 2 * bool(shingle_n) + cross)
    vocab = [f"w{i}" for i in range(8)]

    def corpus(prefix: str, n: int) -> dict:
        texts = {f"{prefix}{i:02d}": [rng.choice(vocab)
                                      for _ in range(rng.randint(1, 9))]
                 for i in range(n)}
        for j in range(4):  # near-dups: one token of an earlier doc swapped
            toks = list(texts[rng.choice(sorted(texts))])
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
            texts[f"{prefix}{n + j:02d}"] = toks
        # an exact within-side pair
        texts[f"{prefix}{n + 4:02d}"] = texts[f"{prefix}00"] + ["tail"]
        texts[f"{prefix}{n + 5:02d}"] = texts[f"{prefix}00"] + ["tail"]
        # every third doc has a space run, some a leading space (trimmed)
        return {k: rng.choice(["", " "]) + "  ".join(v) if j % 3 == 0
                else " ".join(v) for j, (k, v) in enumerate(texts.items())}

    side_a = corpus("a", 16)
    side_b = side_a
    if cross:  # side B also holds near-copies of side A docs
        side_b = corpus("b", 12)
        side_b.update({f"b9{j}": side_a[k] + " w0"
                       for j, k in enumerate(sorted(side_a)[::5])})
    units = {k: _lsh_units_py(t, shingle_n)
             for k, t in {**side_a, **side_b}.items()}
    sig = {k: tuple(min(hashlib.md5(f"{b}:{u}".encode()).hexdigest()
                        for u in s) for b in range(N_BANDS))
           for k, s in units.items() if s}

    def collide(x, y):
        return x in sig and y in sig and any(
            p == q for p, q in zip(sig[x], sig[y]))

    def round6(v: float) -> float:
        return float(Decimal(repr(v)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    expect = {}
    for x in sorted(side_a):
        for y in sorted(side_b):
            if (cross or x < y) and collide(x, y):
                i, na, nb = len(units[x] & units[y]), len(units[x]), len(units[y])
                expect[(x, y)] = (i, na, nb, round6(i / (na + nb - i)))
    assert len(expect) >= 3
    assert any(j < 1.0 for *_, j in expect.values())
    if cross:
        assert any(collide(x, y) for x in side_a for y in side_a if x < y)

    def frame(texts: dict):
        return spark.createDataFrame(sorted(texts.items()),
                                     "doc_id string, text string")

    units_a = doc_tokens_distinct(frame(side_a), shingle_n)
    sigs_a = _signatures(units_a)
    if cross:
        units_b = doc_tokens_distinct(frame(side_b), shingle_n)
        sigs_b = _signatures(units_b)
        pairs = _band_pairs(sigs_a, sigs_b)
    else:
        units_b, sigs_b = units_a, sigs_a
        pairs = _band_pairs(sigs_a)
    got = {(r.a, r.b): (r.inter, r.na, r.nb, r.jaccard)
           for r in _verified(pairs, units_a, units_b, sigs_a, sigs_b).collect()}
    assert got == expect
    if cross:
        assert all(a in side_a and b in side_b for a, b in got)
    else:
        assert all(a < b for a, b in got)
