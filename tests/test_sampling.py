"""Unit oracles for deterministic sampling + KMV sketching. DuckDB hash
parity at sf0.01 is additionally enforced by the driver gate."""

from __future__ import annotations

import pytest

from ocr_redaction_engine_spark.analytics.sampling import (
    bernoulli_sample,
    kmv_distinct,
    stratified_sample,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 97}" for j in range(20)),
         "en" if i % 2 == 0 else "de", f"s{i % 3}", 0)
        for i in range(120)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_bernoulli_deterministic_and_plausible(docs):
    a = sorted(r["doc_id"] for r in bernoulli_sample(docs, 20).collect())
    b = sorted(r["doc_id"] for r in bernoulli_sample(docs, 20).collect())
    assert a == b                      # rerun-stable
    assert 5 <= len(a) <= 45           # ~20% of 120, wide tolerance
    sub = set(r["doc_id"] for r in bernoulli_sample(docs, 10).collect())
    assert sub <= set(a)               # thresholds nest: 10% ⊂ 20%


def test_stratified_exact_n_per_cell(docs):
    out = stratified_sample(docs, ["lang", "source"], n_per_stratum=4).collect()
    by_cell = {}
    for r in out:
        by_cell.setdefault((r["lang"], r["source"]), []).append(r["rank"])
    assert len(by_cell) == 6           # 2 langs × 3 sources
    for ranks in by_cell.values():
        assert sorted(ranks) == [1, 2, 3, 4]


def test_stratified_two_stage_equals_single_window(docs):
    # salts=1 degenerates stage 1 to the single global window per stratum
    # (salt is constant), so equality across salt counts pins the two-stage
    # top-n exactly equivalent to the one-window formulation
    one = sorted(tuple(r) for r in stratified_sample(
        docs, ["lang", "source"], n_per_stratum=4, salts=1).collect())
    many = sorted(tuple(r) for r in stratified_sample(
        docs, ["lang", "source"], n_per_stratum=4, salts=8).collect())
    assert one == many


def test_kmv_sketch_salt_invariant(docs):
    from ocr_redaction_engine_spark.analytics.sampling import (
        _group_tokens, _kmv_sketch)
    toks = _group_tokens(docs, "source")
    one = sorted(tuple(r) for r in _kmv_sketch(toks, "source", 16, salts=1).collect())
    many = sorted(tuple(r) for r in _kmv_sketch(toks, "source", 16, salts=8).collect())
    assert one == many and len(one) > 0


def test_kmv_small_group_exact(spark):
    rows = [(0, "a b c a", "en", "tiny", 0)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    got = kmv_distinct(docs, "source", k=64).collect()
    assert got[0]["est_distinct"] == 3.0  # < k distinct → exact count


def test_kmv_estimate_in_range(docs):
    # true distinct tokens per source ≈ 97 shared vocabulary words
    for r in kmv_distinct(docs, "source", k=64).collect():
        assert 50 <= r["est_distinct"] <= 200


def test_char_budget_mix_weights_and_determinism(spark):
    from ocr_redaction_engine_spark.analytics.sampling import char_budget_mix
    rows = [(i, "x", "en", f"s{i % 4}", 100) for i in range(200)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    # budget 8000 chars, s0 boosted 3x: shares = 3/6, 1/6, 1/6, 1/6 of 8000
    out = char_budget_mix(docs, budget_chars=8000, boosted=("s0",), boost=3.0)
    rows1 = sorted((r["doc_id"], r["cum_chars"]) for r in out.collect())
    per_src = {}
    for r in out.collect():
        per_src[r["source"]] = per_src.get(r["source"], 0) + r["n_chars"]
    assert per_src["s0"] == 4000       # 3/6 * 8000, docs are 100 chars each
    assert per_src["s1"] == per_src["s2"] == per_src["s3"] == 1300  # floor(8000/6 /100)*100
    # rerun-stable (hash order, no RNG)
    rows2 = sorted((r["doc_id"], r["cum_chars"]) for r in out.collect())
    assert rows1 == rows2
    # growing the corpus never evicts earlier-kept docs of an unchanged source
    more = docs.union(spark.createDataFrame(
        [(1000 + i, "x", "en", "s9", 100) for i in range(50)],
        docs.schema))
    out2 = char_budget_mix(more, budget_chars=8000, boosted=("s0",), boost=3.0)
    kept1 = {r["doc_id"] for r in out.collect() if r["source"] == "s1"}
    # s1's share shrinks (total weight grew), but survivors are a hash-order
    # prefix of the original kept set
    kept2 = {r["doc_id"] for r in out2.collect() if r["source"] == "s1"}
    assert kept2 <= kept1


def test_char_budget_mix_null_source(spark):
    """NULL source is a legal group: it must neither crash the driver-side
    offset sort (None-vs-str) nor lose its rows to a desynced map key
    (concat_ws skips NULLs) — round-3 review finding."""
    from ocr_redaction_engine_spark.analytics.sampling import char_budget_mix
    rows = [(i, "x", "en", None if i % 3 == 0 else f"s{i % 2}", 100)
            for i in range(90)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = char_budget_mix(docs, budget_chars=6000).collect()
    per_src = {}
    for r in out:
        per_src[r["source"]] = per_src.get(r["source"], 0) + r["n_chars"]
    # three sources (incl. NULL) split 6000 equally: 2000 chars = 20 docs each
    assert per_src[None] == 2000
    assert per_src["s0"] == 2000 and per_src["s1"] == 2000
    # null-source rows carry exact running totals, not NULL-propagated ones
    assert {r["cum_chars"] for r in out if r["source"] is None} == \
        {100 * k for k in range(1, 21)}


def test_leakage_safe_split_no_straddle(spark):
    from ocr_redaction_engine_spark.analytics.sampling import leakage_safe_split
    # 3 planted near-dup families (shared text => same MinHash cluster) +
    # 60 distinct singleton docs
    rows = []
    for fam in range(3):
        base = " ".join(f"fam{fam}tok{k}" for k in range(30))
        for m in range(4):
            rows.append((fam * 10 + m, base, "en", "s0", len(base)))
    for i in range(60):
        rows.append((1000 + i,
                     " ".join(f"uniq{i}w{k}" for k in range(20)), "en", "s1", 100))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = leakage_safe_split(docs).collect()
    assert len(out) == len(rows)
    by_group = {}
    for r in out:
        by_group.setdefault(r["group_id"], set()).add(r["split"])
    # the invariant: one split per group — near-dups never straddle
    assert all(len(s) == 1 for s in by_group.values())
    # planted families collapsed to one group of 4 with min-id as group id
    fams = {r["group_id"] for r in out if r["doc_id"] < 1000}
    assert fams == {0, 10, 20}
    assert {r["group_size"] for r in out if r["doc_id"] < 1000} == {4}
    # all three split values occur over 63 groups, train dominates
    splits = [r["split"] for r in out]
    assert splits.count("train") > splits.count("validation")
    assert splits.count("train") > splits.count("test")
    # deterministic rerun
    assert sorted(map(tuple, out)) == sorted(map(tuple, leakage_safe_split(docs).collect()))


def _hll_ref(values_by_group, p):
    """Independent pure-Python HLL: same md5-60bit hash contract, dict
    registers, float harmonic sum (the engine's fixed-point sum must agree
    after round-6)."""
    import hashlib
    import math
    m = 1 << p
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    out = {}
    for g, vals in values_by_group.items():
        regs = {}
        for s in vals:
            h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
            reg, w = h % m, h // m
            rank = (61 - p) if w == 0 else (61 - p) - w.bit_length()
            regs[reg] = max(regs.get(reg, 0), rank)
        v = m - len(regs)
        denom = sum(2.0 ** -r for r in regs.values()) + v
        e_raw = alpha * m * m / denom
        est = m * math.log(m / v) if (e_raw <= 2.5 * m and v > 0) else e_raw
        out[g] = (v, round(est, 6))
    return out


def test_hll_matches_reference_and_exact(spark):
    from ocr_redaction_engine_spark.analytics.sampling import hll_distinct
    data = [(f"g{i % 3}", f"value-{i // 3}-{i % 7}") for i in range(600)]
    docs = spark.createDataFrame(
        [(g, t) for g, t in data], "source string, text string")
    got = {r["source"]: (r["v_zeros"], r["est_distinct"])
           for r in hll_distinct(docs, "source", p=4, value="text").collect()}
    by_group = {}
    for g, t in data:
        by_group.setdefault(g, []).append(t)
    ref = _hll_ref(by_group, p=4)
    assert got == ref
    # sanity: estimate within HLL's expected error envelope of the truth
    for g, vals in by_group.items():
        exact = len(set(vals))
        assert abs(got[g][1] - exact) / exact < 3 * 1.04 / (16 ** 0.5)


def test_hll_token_mode_small_range_correction(spark):
    """Tiny vocab → empty registers → the linear-counting branch: estimate
    must be m*ln(m/V), a pure function of the zero count."""
    import math
    from ocr_redaction_engine_spark.analytics.sampling import hll_distinct
    docs = spark.createDataFrame(
        [("s", "alpha beta gamma alpha"), ("s", "beta delta")],
        "source string, text string")
    row = hll_distinct(docs, "source", p=4).collect()[0]
    assert row["v_zeros"] > 0
    assert row["est_distinct"] == round(16 * math.log(16 / row["v_zeros"]), 6)


def test_weighted_sample_matches_reference_and_plan(spark):
    import hashlib
    import math
    from ocr_redaction_engine_spark.analytics.sampling import weighted_sample
    rows = [(i, f"s{i % 4}", (i % 13) + 1) for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = weighted_sample(docs, k=20).collect()

    def score(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        return math.log((h + 1) / 16 ** 15) / w

    ref = sorted(rows, key=lambda r: (-score(r[0], r[2]), r[0]))[:20]
    assert [(r["doc_id"], r["source"], r["n_chars"]) for r in got] == ref
    assert all(r["score"] == round(score(r["doc_id"], r["n_chars"]), 6)
               for r in got)
    # a huge-weight row is (essentially) certain to be selected
    docs2 = docs.union(spark.createDataFrame(
        [(999, "sX", 10**9)], "doc_id long, source string, n_chars long"))
    assert any(r["doc_id"] == 999 for r in weighted_sample(docs2, k=20).collect())
    # no global sort: top-k compiles to TakeOrderedAndProject
    plan = weighted_sample(docs, k=20)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_hist_quantile_sketch_accuracy_and_python_parity(spark):
    """Sketch read-out equals a sequential pure-Python recompute of the same
    histogram, and every estimate lands within one bin width of the exact
    ceil-rank quantile."""
    from ocr_redaction_engine_spark.analytics.sampling import hist_quantile_sketch

    rows = [("s%d" % (i % 2), "d%03d" % i, 100 + (i * 37) % 900) for i in range(120)]
    docs = spark.createDataFrame(rows, "source string, doc_id string, n_chars long")
    got = {(r.source, r.q): (r.n, r.est)
           for r in hist_quantile_sketch(docs, bins=16).collect()}

    from collections import defaultdict
    vals = defaultdict(list)
    for s, _, v in rows:
        vals[s].append(v)
    for s, vs in vals.items():
        vs.sort()
        n = len(vs)
        mn, mx = vs[0], vs[-1]
        width = (mx - mn) // 16 + 1
        hist = defaultdict(int)
        for v in vs:
            hist[(v - mn) // width] += 1
        for q in (50, 90, 99):
            target = (n * q + 99) // 100
            cum = 0
            for b in sorted(hist):
                if cum + hist[b] >= target:
                    est = mn + b * width + ((target - cum - 1) * width) // hist[b]
                    break
                cum += hist[b]
            assert got[(s, q)] == (n, est)
            exact = vs[target - 1]
            assert abs(est - exact) <= width


def test_quantile_bucket_assign_monotone_and_consistent(spark):
    """Buckets are monotone in the value, bounded by len(qs), and agree with
    a recompute from the sketch's own boundary estimates."""
    from ocr_redaction_engine_spark.analytics.sampling import (
        hist_quantile_sketch, quantile_bucket_assign)

    rows = [("s%d" % (i % 2), "d%03d" % i, 100 + (i * 37) % 900) for i in range(120)]
    docs = spark.createDataFrame(rows, "source string, doc_id string, n_chars long")
    bounds = {}
    for r in hist_quantile_sketch(docs).collect():
        bounds.setdefault(r.source, []).append(r.est)
    got = {r.doc_id: (r.source, r.n_chars, r.bucket)
           for r in quantile_bucket_assign(docs).collect()}
    assert len(got) == 120
    for doc_id, (src, v, bucket) in got.items():
        assert bucket == sum(1 for b in bounds[src] if b < v)
        assert 0 <= bucket <= 3
    # monotone within a source
    for src in ("s0", "s1"):
        pts = sorted((v, b) for _, (s, v, b) in got.items() if s == src)
        assert all(b1 <= b2 for (_, b1), (_, b2) in zip(pts, pts[1:]))


def test_hll_error_audit_matches_python_reference(spark):
    """err_bp equals a recompute from the sketch estimate and an exact
    Python distinct count; exact side is truly exact."""
    from ocr_redaction_engine_spark.analytics.sampling import (
        hll_distinct, hll_error_audit)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    est = {r.source: r.est_distinct for r in
           hll_distinct(docs, "source", 4, "text").collect()}
    exact = {}
    for r in docs.select("source", "text").collect():
        exact.setdefault(r.source, set()).add(r.text)
    got = {r.source: (r.est_distinct, r.exact_distinct, r.err_bp)
           for r in hll_error_audit(docs, "source", 4, "text").collect()}
    assert set(got) == set(exact)
    for s, (e, x, bp) in got.items():
        assert x == len(exact[s])
        assert e == est[s]
        assert bp == round(abs(e - x) / x * 10000)


def test_kmv_set_ops_exact_and_estimated_paths(spark):
    """Small vocab (< k combined) -> exact union/intersection/jaccard;
    large vocab -> estimates land within the KMV error envelope vs truth."""
    from ocr_redaction_engine_spark.analytics.sampling import kmv_set_ops

    # exact path: tiny vocabularies
    docs = spark.createDataFrame(
        [("sA", "d1", "w1 w2 w3 w4"), ("sB", "d2", "w3 w4 w5"),
         ("sC", "d3", "w9")],
        "source string, doc_id string, text string")
    got = {(r.a, r.b): (r.union_est, r.inter_est, r.jaccard_est)
           for r in kmv_set_ops(docs, k=64).collect()}
    assert got[("sA", "sB")] == (5.0, 2.0, 0.4)
    assert got[("sA", "sC")] == (5.0, 0.0, 0.0)
    assert got[("sB", "sC")] == (4.0, 0.0, 0.0)

    # estimated path: 600 tokens per side, 300 shared -> J=1/3, union=900
    rows = []
    for i in range(600):
        rows.append(("bigA", "a%03d" % i, "tok%04d" % i))              # 0..599
    for i in range(300, 900):
        rows.append(("bigB", "b%03d" % i, "tok%04d" % i))              # 300..899
    big = spark.createDataFrame(rows, "source string, doc_id string, text string")
    est = {(r.a, r.b): r for r in kmv_set_ops(big, k=64).collect()}
    r = est[("bigA", "bigB")]
    # KMV stderr ~ 1/sqrt(k-1) ~ 12.6%; allow 4 sigma
    assert abs(r.union_est - 900) / 900 < 0.5
    assert abs(r.jaccard_est - 1 / 3) < 0.25


def test_kmv_containment_subset_detection(spark):
    """A vocabulary fully inside a bigger one gets containment ~1e6 while
    Jaccard stays small — the asymmetric signal; exact when both exact."""
    from ocr_redaction_engine_spark.analytics.sampling import kmv_containment

    rows = [("small", "s", "w0 w1 w2 w3")]
    rows += [("big", "b%02d" % i, " ".join("w%d" % j for j in range(i * 5, i * 5 + 5)))
             for i in range(8)]  # big = w0..w39 superset of small
    docs = spark.createDataFrame(rows, "source string, doc_id string, text string")
    r = {(x.a, x.b): x for x in kmv_containment(docs, k=64).collect()}[("big", "small")]
    # both sketches exact (4 and 40 < k): containment of small in big = 1
    assert r.est_a == 40.0 and r.est_b == 4.0 and r.inter_est == 4.0
    assert r.cont_b_in_a_e6 == 1000000        # small fully contained
    assert r.cont_a_in_b_e6 == 100000         # 4/40


def test_unimax_water_filling(spark):
    """3 sources (2/5/100 tokens, caps 4/10/200 at max_epochs=2), budget
    20: the smallest source is capped (4·3+0 ≤ 20), the other two split
    (20−4)/2 = 8 each — every cell hand-derived, plus the remainder-to-
    largest and all-capped regimes."""
    from ocr_redaction_engine_spark.analytics.sampling import unimax_mixture
    docs = spark.createDataFrame(
        [(0, "a b", "A"), (1, "a b c d e", "B"),
         (2, " ".join(["t"] * 100), "C")],
        "doc_id long, text string, source string")
    got = {r.source: r for r in unimax_mixture(docs, 20, max_epochs=2).collect()}
    assert (got["A"].cap_tokens, got["A"].capped, got["A"].alloc_tokens) == (4, True, 4)
    assert (got["B"].capped, got["B"].alloc_tokens) == (False, 8)
    assert (got["C"].capped, got["C"].alloc_tokens) == (False, 8)
    assert got["A"].epochs_e6 == 2_000_000
    assert got["B"].epochs_e6 == 1_600_000
    assert got["C"].epochs_e6 == 80_000
    # remainder goes to the LAST (largest-cap) uncapped source: sum == B
    got21 = {r.source: r.alloc_tokens
             for r in unimax_mixture(docs, 21, max_epochs=2).collect()}
    assert got21 == {"A": 4, "B": 8, "C": 9}
    # budget above total caps: everyone takes the full cap
    gotbig = {r.source: r for r in unimax_mixture(docs, 1000, max_epochs=2).collect()}
    assert all(r.capped for r in gotbig.values())
    assert {s: r.alloc_tokens for s, r in gotbig.items()} == {"A": 4, "B": 10, "C": 200}


def test_poisson_bootstrap_mirror_and_spread(spark):
    from ocr_redaction_engine_spark.analytics.sampling import (
        POISSON1_CDF_E6, poisson_bootstrap)
    import hashlib
    docs = spark.createDataFrame(
        [(i, "t", "en", "s", 100 + i) for i in range(50)],
        "doc_id long, text string, lang string, source string, n_chars long")
    got = {r.rep: (r.n_eff, r.wsum, r.mean_e6)
           for r in poisson_bootstrap(docs, n_reps=8).collect()}

    def weight(doc, rep):
        u = int(hashlib.md5(f"{doc}:{rep}:boot".encode()).hexdigest()[:15],
                16) % 1000000
        for k, t in enumerate(POISSON1_CDF_E6):
            if u < t:
                return k
        return 6
    for rep in range(8):
        n_eff = sum(weight(i, rep) for i in range(50))
        wsum = sum(weight(i, rep) * (100 + i) for i in range(50))
        assert got[rep] == (n_eff, wsum, wsum * 1000000 // max(n_eff, 1)), rep
    # replicate means vary (that spread IS the CI) but hug the true mean
    means = [m for _, _, m in got.values()]
    assert len(set(means)) > 1
    true = sum(100 + i for i in range(50)) * 1000000 // 50
    assert all(abs(m - true) < true // 10 for m in means)
