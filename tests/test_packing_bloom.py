"""Unit tests for the round-2 curation additions: Bloom-filter probe
dedup, distributed-prefix-sum sequence packing, PII density scoring, and
int8 embedding quantization."""
from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from ocr_redaction_engine_spark.analytics.dedup import (
    BLOOM_M,
    bloom_bitmap,
    bloom_probe,
)
from ocr_redaction_engine_spark.analytics.packing import pack_offsets
from ocr_redaction_engine_spark.analytics.similarity import quantize_int8
from ocr_redaction_engine_spark.analytics.text import pii_density


def _docs(spark, texts, start_id=0):
    return spark.createDataFrame(
        [(start_id + i, t) for i, t in enumerate(texts)],
        "doc_id long, text string")


# --------------------------------------------------------------------- bloom

def test_bloom_no_false_negatives_and_bitmap_tiny(spark):
    base_texts = [f"alpha beta gamma {i} delta" for i in range(50)]
    base = _docs(spark, base_texts)
    # probe: 10 exact duplicates of base docs + 10 novel docs
    probe = _docs(spark, base_texts[:10] + [f"nu xi omicron {i}" for i in range(10)],
                  start_id=1000)
    out = {r["doc_id"]: (r["hits"], r["maybe_seen"])
           for r in bloom_probe(base, probe).collect()}
    assert len(out) == 20
    for i in range(10):  # duplicates: Bloom guarantees every hash position set
        assert out[1000 + i] == (5, True)
    for i in range(10):  # novel docs: not flagged at this fill factor (~0.4%)
        assert not out[1010 + i][1]
    assert bloom_bitmap(base).count() <= BLOOM_M // 64


def test_bloom_whitespace_normalized_duplicate_still_flagged(spark):
    base = _docs(spark, ["hello   world  foo"])
    probe = _docs(spark, ["  hello world foo "], start_id=9)
    [r] = bloom_probe(base, probe).collect()
    assert r["maybe_seen"] is True


# ------------------------------------------------------------------- packing

def _expected_offsets(texts):
    """Pure-Python oracle: global order by (md5(doc_id), doc_id), cumsum."""
    rows = []
    for i, t in enumerate(texts):
        n = len(t.strip().split())
        rows.append((hashlib.md5(str(i).encode()).hexdigest(), i, n))
    rows.sort()
    out, run = {}, 0
    for _h, i, n in rows:
        out[i] = (n, run)
        run += n
    return out


def test_pack_offsets_matches_python_oracle_and_is_contiguous(spark):
    texts = [" ".join(["tok"] * (3 + (i * 7) % 40)) for i in range(120)]
    docs = _docs(spark, texts)
    got = {r["doc_id"]: r for r in pack_offsets(docs, budget_tokens=64).collect()}
    exp = _expected_offsets(texts)
    assert len(got) == len(exp)
    for i, (n, start) in exp.items():
        r = got[i]
        assert (r["n_tokens"], r["start_offset"]) == (n, start)
        assert r["bin_id"] == start // 64
        assert r["straddle"] == ((start + n - 1) // 64 > start // 64)
    # the concatenated stream has no gaps or overlaps
    ordered = sorted(got.values(), key=lambda r: r["start_offset"])
    pos = 0
    for r in ordered:
        assert r["start_offset"] == pos
        pos += r["n_tokens"]


# --------------------------------------------------------------- pii density

def test_pii_density_counts(spark):
    docs = _docs(spark, [
        "write to a@b.io or c.d+x@e-f.org today",          # 2 emails
        "call 9876543210 not 5876543210 or 98765432100",   # 1 valid phone
        "ssn 123-45-6789 and 987-65-4321; pan ABCDE1234F", # 2 ssn + 1 pan
        "nothing here",
    ])
    out = {r["doc_id"]: r for r in pii_density(docs).collect()}
    assert (out[0]["n_email"], out[0]["n_pii"]) == (2, 2)
    # 5-prefixed number fails [6-9]; 11-digit run fails the \b boundary
    assert (out[1]["n_phone"], out[1]["n_pii"]) == (1, 1)
    assert (out[2]["n_ssn"], out[2]["n_pan"], out[2]["n_pii"]) == (2, 1, 3)
    assert out[3]["n_pii"] == 0 and out[3]["pii_per_100c"] == 0.0
    assert out[2]["pii_per_100c"] == round(3 * 100.0 / len(
        "ssn 123-45-6789 and 987-65-4321; pan ABCDE1234F"), 6)


# -------------------------------------------------------------- quantization

def test_quantize_int8_range_endpoints_and_numpy_differential(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    mat = rng.rand(40, 8).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(40)],
        "vec_id long, embedding array<float>")
    got = {(r["vec_id"], r["dim"]): r["code"]
           for r in quantize_int8(emb).collect()}
    m = mat.astype(np.float64)
    mn, mx = m.min(axis=0), m.max(axis=0)
    exp = np.minimum(np.floor((m - mn) * 255.0 / (mx - mn)), 255).astype(int)
    for i in range(40):
        for d in range(8):
            assert got[(i, d)] == exp[i, d]
    codes = np.array([[got[(i, d)] for d in range(8)] for i in range(40)])
    assert codes.min() == 0 and codes.max() == 255
    # per-dimension endpoints: the min maps to 0 and the max to 255
    assert (codes.min(axis=0) == 0).all() and (codes.max(axis=0) == 255).all()


# ------------------------------------------------------- temperature sampling

def test_temperature_rebalance_rates_and_determinism(spark):
    from ocr_redaction_engine_spark.analytics.sampling import temperature_rebalance
    # 3 groups with sizes 10 / 40 / 90 → rates 1.0 / 0.5 / 1/3
    rows = ([(i, "rare") for i in range(10)]
            + [(100 + i, "mid") for i in range(40)]
            + [(1000 + i, "big") for i in range(90)])
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_rebalance(docs, group="lang").collect()
    rates = {r["lang"]: r["keep_rate"] for r in out}
    assert rates["rare"] == 1.0
    assert abs(rates["mid"] - 0.5) < 1e-9
    assert abs(rates["big"] - (1 / 3) ** 0.5 * (30 / 90) ** 0) < 1  # sanity
    assert abs(rates["big"] - (10 / 90) ** 0.5) < 1e-9
    kept = {r["lang"]: 0 for r in out}
    for r in out:
        kept[r["lang"]] += 1
    assert kept["rare"] == 10                 # rate 1.0 keeps everything
    assert 0 < kept["mid"] < 40               # downsampled
    assert 0 < kept["big"] < 90
    # deterministic: rerun yields the identical kept set
    again = {(r["doc_id"]) for r in temperature_rebalance(docs, group="lang").collect()}
    assert {r["doc_id"] for r in out} == again


# --------------------------------------------------- repeated substring spans

def test_repeated_substring_spans_merging(spark):
    from ocr_redaction_engine_spark.analytics.text import repeated_substring_spans
    shared = "the quick brown fox jumps over"          # 6 shared tokens
    docs = spark.createDataFrame([
        (0, f"{shared} unique zero tail here"),
        (1, f"prefix one {shared} suffix one"),
        (2, "totally different words without repeats at all"),
    ], "doc_id long, text string")
    out = {}
    for r in repeated_substring_spans(docs, n=3, min_docs=2).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["n_occ"]))
    # doc 0: shared block at tokens [0, 6) — four 3-gram occurrences merged
    assert out[0] == [(0, 6, 4)]
    # doc 1: shared block at tokens [2, 8)
    assert out[1] == [(2, 8, 4)]
    # doc 2: nothing repeated
    assert 2 not in out


def test_repeated_substring_spans_short_docs_empty(spark):
    from ocr_redaction_engine_spark.analytics.text import repeated_substring_spans
    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a b")], "doc_id long, text string")
    assert repeated_substring_spans(docs, n=3, min_docs=2).count() == 0


def test_clip_repeated_substrings_differential(spark):
    """ExactSubstr clip vs an independent pure-Python reference: clip every
    token covered by a cross-doc repeated n-gram span, pass-through docs
    with no repeats."""
    from ocr_redaction_engine_spark.analytics.text import clip_repeated_substrings

    shared = "the quick brown fox jumps over"
    rows = [
        (0, f"{shared} unique zero tail here"),
        (1, f"prefix one {shared} suffix one"),
        (2, "totally different words without repeats at all"),
        (3, "tiny doc"),                      # shorter than n: no grams
    ]
    n = 3

    # pure-Python reference: gram -> docs, then per-doc covered positions
    toks = {d: t.split() for d, t in rows}
    gram_docs = {}
    for d, tk in toks.items():
        for i in range(len(tk) - n + 1):
            gram_docs.setdefault(tuple(tk[i:i + n]), set()).add(d)
    covered = {d: set() for d in toks}
    for d, tk in toks.items():
        for i in range(len(tk) - n + 1):
            if len(gram_docs[tuple(tk[i:i + n])]) >= 2:
                covered[d].update(range(i, i + n))
    expect = {
        d: (" ".join(t for i, t in enumerate(tk) if i not in covered[d]),
            len(tk), len(covered[d]))
        for d, tk in toks.items()
    }

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
           for r in clip_repeated_substrings(docs, n=n, min_docs=2).collect()}
    assert got == expect
    # sanity on the planted shape: both copies of the shared block are gone
    assert "quick" not in got[0][0] and "quick" not in got[1][0]
    assert got[2][0] == rows[2][1] and got[2][2] == 0
    assert got[3] == ("tiny doc", 2, 0)


def test_clip_repeated_substrings_randomized_differential(spark):
    """Seeded randomized differential over a Zipf-ish vocabulary: Spark clip
    == pure-Python clip for every doc (40 docs, heavy shared phrases)."""
    import random
    from ocr_redaction_engine_spark.analytics.text import clip_repeated_substrings

    rng = random.Random(20260819)
    vocab = [f"w{i}" for i in range(30)]
    phrases = [[rng.choice(vocab) for _ in range(rng.randint(3, 6))]
               for _ in range(5)]
    rows = []
    for d in range(40):
        toks = []
        for _ in range(rng.randint(0, 4)):
            if rng.random() < 0.5:
                toks += rng.choice(phrases)          # shared phrase
            toks += [rng.choice(vocab) for _ in range(rng.randint(0, 5))]
        rows.append((d, " ".join(toks)))
    n = 3

    # Spark's split(trim(text), \s+) maps "" to [""] (one empty token) — the
    # engine-wide empty-text convention the DuckDB oracle shares
    toks = {d: (t.strip().split() if t.strip() else [""]) for d, t in rows}
    gram_docs = {}
    for d, tk in toks.items():
        for i in range(len(tk) - n + 1):
            gram_docs.setdefault(tuple(tk[i:i + n]), set()).add(d)
    expect = {}
    for d, tk in toks.items():
        cov = set()
        for i in range(len(tk) - n + 1):
            if len(gram_docs[tuple(tk[i:i + n])]) >= 2:
                cov.update(range(i, i + n))
        expect[d] = (" ".join(t for i, t in enumerate(tk) if i not in cov),
                     len(tk), len(cov))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
           for r in clip_repeated_substrings(docs, n=n, min_docs=2).collect()}
    assert got == expect


# ------------------------------------------------------------ count-min sketch

def test_countmin_overestimates_only_and_sketch_bounded(spark):
    from ocr_redaction_engine_spark.analytics.sampling import (
        countmin_sketch, heavy_hitters_cm)
    docs = _docs(spark, ["apple banana " * 30, "cherry apple " * 20,
                         "durian " * 5, "elderberry fig grape"])
    out = {r["token"]: (r["exact_cnt"], r["cm_estimate"])
           for r in heavy_hitters_cm(docs, k=5).collect()}
    assert len(out) == 5
    assert out["apple"][0] == 50
    for exact, est in out.values():
        assert est >= exact                       # the count-min guarantee
    # wide sketch, tiny vocab: no collisions, estimates exact
    assert all(est == exact for exact, est in out.values())
    # forced collisions: w=2 → every cell aggregates ~half the vocab
    tight = {r["token"]: (r["exact_cnt"], r["cm_estimate"])
             for r in heavy_hitters_cm(docs, k=5, d=2, w=2).collect()}
    assert all(est >= exact for exact, est in tight.values())
    assert any(est > exact for exact, est in tight.values())
    toks = spark.createDataFrame([("x",), ("y",)], "token string")
    assert countmin_sketch(toks, d=4, w=256).count() <= 4 * 256


def test_bloom_fpr_calibration_mirror_and_monotonicity(spark):
    from ocr_redaction_engine_spark.analytics.dedup import bloom_fpr_calibration
    import hashlib
    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2}", "en", "s", 1) for i in range(200)],
        "doc_id long, text string, lang string, source string, n_chars long")
    grid = ((1024, 3), (16384, 3))
    got = {(r.m_bits, r.k): (r.fp_hits, r.fpr_bp)
           for r in bloom_fpr_calibration(docs, n_probes=500, grid=grid).collect()}

    def pos(fp, i, m):
        return int(hashlib.md5(f"{i}:{fp}".encode()).hexdigest()[:15], 16) % m
    for m, k in grid:
        bits = set()
        for i in range(200):
            fp = hashlib.md5(f"tok{i} tok{i+1} tok{i+2}".encode()).hexdigest()
            for j in range(k):
                bits.add(pos(fp, j, m))
        hits = 0
        for p in range(500):
            fp = hashlib.md5(f"fpr-probe:{p}".encode()).hexdigest()
            if all(pos(fp, j, m) in bits for j in range(k)):
                hits += 1
        assert got[(m, k)] == (hits, hits * 10000 // 500), (m, k)
    # a 16x bigger filter cannot be worse at equal k
    assert got[(16384, 3)][0] <= got[(1024, 3)][0]
    assert got[(1024, 3)][0] > 0  # tiny filter is saturated enough to matter


def test_fill_stats_closed_form(spark):
    from ocr_redaction_engine_spark.analytics.packing import fill_stats
    docs = spark.createDataFrame(
        [(1, " ".join(["t"] * 10), "en", "s", 1),
         (2, " ".join(["t"] * 300), "en", "s", 1),
         (3, " ".join(["t"] * 600), "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long")
    got = {r.seq_len: r for r in
           fill_stats(docs, lengths=(256, 1024)).collect()}
    r = got[256]
    # pieces: ceil(10/256)+ceil(300/256)+ceil(600/256) = 1+2+3 = 6
    assert (r.n_docs, r.total_tokens, r.docs_over, r.n_pieces) == (3, 910, 2, 6)
    cap = 6 * 256
    assert r.pad_waste_bp == (cap - 910) * 10000 // cap
    ccap = ((910 + 255) // 256) * 256
    assert r.concat_waste_bp == (ccap - 910) * 10000 // ccap
    r = got[1024]
    assert (r.docs_over, r.n_pieces) == (0, 3)
    assert r.concat_waste_bp == (1024 - 910) * 10000 // 1024
