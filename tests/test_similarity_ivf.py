"""IVF ANN: determinism + recall against the brute-force baseline."""

from __future__ import annotations

import pytest

from ocr_redaction_engine_spark.analytics.similarity import (
    cosine_topk, ivf_topk, pq_assign, pq_codebooks)


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_centroids_deterministic(spark, embeddings):
    # k-means is product quantization with one subspace
    c1 = pq_codebooks(embeddings, m=1, n_codes=8, n_iters=2)[0]
    c2 = pq_codebooks(embeddings, m=1, n_codes=8, n_iters=2)[0]
    assert (c1 == c2).all() and c1.shape == (8, 64)
    assert c1.dtype.kind == "i"  # exact int64 fixed-point — engine-portable


def _sequential_lloyd(vecs, m, k, n_iters):
    """Lloyd iterations written the way the DuckDB oracle writes them, one
    vector at a time: md5(vec_id)-order seeds, floor(x·1e6) fixed point,
    first-minimum assignment, truncating division, and an empty code keeps
    its centroid. Returns (codebooks, whether some code was ever empty)."""
    import hashlib

    import numpy as np

    seeds = sorted(vecs, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())[:k]
    fx = {i: [int(np.floor(float(x) * 1000000.0)) for x in v]
          for i, v in vecs.items()}
    dsub = len(fx[seeds[0]]) // m
    C = [[fx[i][s * dsub:(s + 1) * dsub] for i in seeds] for s in range(m)]
    empty = False
    for _ in range(n_iters):
        for s in range(m):
            members = [[] for _ in range(k)]
            for v in fx.values():
                sub = v[s * dsub:(s + 1) * dsub]
                dist = [sum((a - b) ** 2 for a, b in zip(sub, c)) for c in C[s]]
                members[dist.index(min(dist))].append(sub)
            for c, mem in enumerate(members):
                if not mem:
                    empty = True
                    continue
                for d in range(dsub):
                    tot = sum(row[d] for row in mem)
                    C[s][c][d] = (abs(tot) // len(mem)) * (1 if tot >= 0 else -1)
    return np.array(C, dtype=np.int64), empty


@pytest.mark.parametrize("m,n_iters", [(1, 2), (4, 1), (4, 2)])
def test_pq_codebooks_match_sequential_lloyd(spark, m, n_iters):
    """The one trainer equals an independent sequential Lloyd. The seed of
    md5 rank 1 is a planted duplicate of the seed of rank 0, so code 1 wins
    no vector in the first round (first-minimum ties go to code 0) and must
    keep its centroid, in every subspace."""
    import hashlib

    import numpy as np

    rng = np.random.RandomState(11)
    vecs = {i: [float(x) for x in rng.randn(8).astype(np.float32)]
            for i in range(40)}
    order = sorted(vecs, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    vecs[order[1]] = list(vecs[order[0]])
    vecs[order[7]] = list(vecs[order[0]])
    emb = spark.createDataFrame(sorted(vecs.items()),
                                "vec_id long, embedding array<float>")

    expect, empty = _sequential_lloyd(vecs, m, 4, n_iters)
    assert empty
    got = pq_codebooks(emb, m=m, n_codes=4, n_iters=n_iters)
    assert got.shape == (m, 4, 8 // m)
    assert np.array_equal(got, expect)


def test_ivf_recall_vs_bruteforce(spark, embeddings):
    exact = cosine_topk(embeddings, n_queries=5, k=10)
    approx = ivf_topk(embeddings, n_queries=5, k=10)

    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r.q_id, set()).add(r.c_id)
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r.q_id, set()).add(r.c_id)

    assert set(approx_sets) == set(exact_sets)
    hits = sum(len(exact_sets[q] & approx_sets.get(q, set())) for q in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    recall = hits / total
    # a quarter of the lists probed; random 64-dim embeddings are a worst
    # case for clustering, so the bar is modest — the point is the candidate
    # pruning machinery, and determinism makes this exact-reproducible
    assert recall >= 0.5, f"recall {recall}"


def test_ivf_is_subset_scored_identically(spark, embeddings):
    """Every (q, c) pair IVF returns must carry the same similarity the
    brute-force path computes (same JVM expression on both paths)."""
    exact = {(r.q_id, r.c_id): r.sim
             for r in cosine_topk(embeddings, n_queries=5, k=500).collect()}
    for r in ivf_topk(embeddings, n_queries=5, k=10).collect():
        assert exact.get((r.q_id, r.c_id)) == pytest.approx(r.sim, abs=1e-6)


def test_semantic_dedup_matches_within_cluster_bruteforce(spark, embeddings):
    """Differential: drop set == {b : exists a<b, same cluster, cos>=tau}
    computed independently via assignments + the brute-force pair scorer."""
    from ocr_redaction_engine_spark.analytics.similarity import (
        cosine_pairs, semantic_dedup)

    tau = 0.5  # random 64-dim vectors: near-1 cosines don't occur, pick low
    got = {r.vec_id: (r.cluster, r.keep)
           for r in semantic_dedup(embeddings, n_clusters=8, threshold=tau).collect()}
    assert len(got) == embeddings.count()          # every vector gets a verdict

    C = pq_codebooks(embeddings, m=1, n_codes=8, n_iters=2)
    cl = {r.vec_id: r.code for r in pq_assign(embeddings, C).collect()}
    pairs = cosine_pairs(embeddings, threshold=tau).collect()
    expect_drop = {r.b for r in pairs if cl[r.a] == cl[r.b]}

    assert {v for v, (_, keep) in got.items() if not keep} == expect_drop
    assert all(cl[v] == c for v, (c, _) in got.items())


def test_semantic_dedup_drops_synthetic_duplicates(spark):
    """A planted duplicate pair lands in one cluster and only the higher id
    is dropped; a far-away vector survives."""
    base = [round(0.1 * (i + 1), 1) for i in range(4)]
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base]),            # exact dup of 0 → dropped
        (2, [float(-x) for x in base]),           # anti-parallel → kept
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r.keep
           for r in __import__("ocr_redaction_engine_spark.analytics.similarity",
                               fromlist=["semantic_dedup"])
           .semantic_dedup(emb, n_clusters=2, threshold=0.99).collect()}
    assert got == {0: True, 1: False, 2: True}


def test_semantic_dedup_megacluster_guard_and_auto_k(spark):
    """VERDICT r2 #4: with every vector identical, all mass lands in one
    k-means cluster; the guard must RAISE before launching the quadratic
    within-cluster pass, and auto-k (n_clusters=None) must scale k off N."""
    from pyspark.sql import functions as F
    from ocr_redaction_engine_spark.analytics.similarity import semantic_dedup

    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0), F.lit(0.0))
        .cast("array<float>").alias("embedding"))
    with pytest.raises(RuntimeError, match="largest k-means cluster"):
        semantic_dedup(emb, n_clusters=2, threshold=0.99,
                       max_cluster_size=10)
    # auto-k: N=40, 1000 per cluster → k=16 floor applies; guard bound
    # 50 000 → ok
    out = semantic_dedup(emb, threshold=0.99)
    got = {r.vec_id: r.keep for r in out.collect()}
    assert got[0] is True and all(not got[v] for v in range(1, 40))


def test_pq_codebooks_deterministic_and_shaped(spark, embeddings):
    c1 = pq_codebooks(embeddings, m=4, n_codes=8, n_iters=1)
    c2 = pq_codebooks(embeddings, m=4, n_codes=8, n_iters=1)
    assert (c1 == c2).all() and c1.shape == (4, 8, 16)
    assert c1.dtype.kind == "i"


def test_pq_adc_matches_codewise_reference(spark, embeddings):
    """Differential: ADC distance == numpy sum of per-subspace distances
    between the query subvectors and the candidate's ASSIGNED centroids,
    recomputed independently from the codes."""
    import numpy as np
    from ocr_redaction_engine_spark.analytics.similarity import (
        _fixed_point, pq_adc_topk)

    C = pq_codebooks(embeddings, m=4, n_codes=8, n_iters=1)
    codes = {}
    for r in pq_assign(embeddings, C).collect():
        codes.setdefault(r.vec_id, {})[r.sub] = r.code
    q_fx = {r.vec_id: _fixed_point(
                np.asarray(r.embedding, dtype=np.float64)[None, :])[0]
            for r in embeddings.filter("vec_id < 5").collect()}

    got = pq_adc_topk(embeddings, n_queries=5, k=10, m=4, n_codes=8,
                      n_iters=1).collect()
    assert {r.q_id for r in got} == set(range(5))
    for r in got:
        qs = q_fx[r.q_id].reshape(4, 16)
        expect = sum(int(((qs[s] - C[s, codes[r.c_id][s]]) ** 2).sum())
                     for s in range(4))
        assert r.adist == expect


def test_pq_planted_neighbors_rank_first(spark):
    """Semantics gate: with genuinely-clustered data (the regime PQ is built
    for — uniform random vectors are its worst case and prove nothing), the
    planted near group of each query must occupy the top ranks and the far
    group must score strictly larger ADC distances."""
    rows = []
    a = [1.0] * 64                       # anchor A
    b = [1.0, -1.0] * 32                 # anchor B, far from A
    rows.append((0, [float(x) for x in a]))
    rows.append((1, [float(x) for x in b]))
    for i in range(4):                   # planted neighbors: tiny per-dim jitter
        rows.append((5 + i, [float(x + 0.01 * (i + 1)) for x in a]))
        rows.append((9 + i, [float(x - 0.01 * (i + 1)) for x in b]))
    for i in range(4):                   # far decoys for both queries
        rows.append((13 + i, [float(-3.0 - i)] * 64))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    from ocr_redaction_engine_spark.analytics.similarity import pq_adc_topk
    got = {}
    for r in pq_adc_topk(emb, n_queries=2, k=12, m=4, n_codes=4,
                         n_iters=1).collect():
        got.setdefault(r.q_id, []).append((r.rank, r.c_id, r.adist))
    for q, planted in ((0, {5, 6, 7, 8}), (1, {9, 10, 11, 12})):
        ranked = sorted(got[q])
        top4 = {c for _, c, _ in ranked[:4]}
        assert top4 == planted, (q, ranked)
        worst_planted = max(d for _, c, d in ranked if c in planted)
        best_decoy = min(d for _, c, d in ranked if c >= 13)
        assert worst_planted < best_decoy


def test_ann_recall_harness_matches_manual(spark, embeddings):
    """ann_recall's per-query bp equals a manual set-intersection of the two
    operators it composes, and every query emits a row."""
    from ocr_redaction_engine_spark.analytics.similarity import (
        ann_recall, lsh_bucketed_topk)

    got = {r.q_id: (r.n_hit, r.k, r.recall_bp)
           for r in ann_recall(embeddings, n_queries=5, k=10).collect()}

    truth, approx = {}, {}
    for r in cosine_topk(embeddings, n_queries=5, k=10).collect():
        truth.setdefault(r.q_id, set()).add(r.c_id)
    for r in lsh_bucketed_topk(embeddings, n_queries=5, k=10).collect():
        approx.setdefault(r.q_id, set()).add(r.c_id)

    assert set(got) == set(truth)  # zero-hit queries still present
    for q, t in truth.items():
        hits = len(t & approx.get(q, set()))
        assert got[q] == (hits, 10, hits * 10000 // 10)


def test_negative_pairs_deterministic_and_self_free(spark, embeddings):
    """Exactly k negatives per anchor, never the anchor itself, and the
    draw replays identically (pure expressions, no RNG state)."""
    import hashlib
    from ocr_redaction_engine_spark.analytics.similarity import negative_pairs

    n = embeddings.count()
    rows = negative_pairs(embeddings, k=3).collect()
    per_anchor = {}
    for r in rows:
        per_anchor.setdefault(r.vec_id, set()).add(r.slot)
        assert r.neg_id != r.vec_id
        d = int(hashlib.md5(f"{r.vec_id}:{r.slot}".encode()).hexdigest()[:12], 16) % n
        assert r.neg_id == (d + 1) % n if d == r.vec_id else r.neg_id == d
    assert all(slots == {0, 1, 2} for slots in per_anchor.values())
    assert len(per_anchor) == n
    again = {(r.vec_id, r.slot, r.neg_id) for r in negative_pairs(embeddings, k=3).collect()}
    assert again == {(r.vec_id, r.slot, r.neg_id) for r in rows}


def test_negative_pairs_sparse_ids_raise(spark, embeddings):
    """The md5-mod-N draw is only complete on dense 0..N-1 ids; sparse
    input must fail loudly instead of silently shorting anchors."""
    import pytest
    from ocr_redaction_engine_spark.analytics.similarity import negative_pairs

    sparse = embeddings.filter("vec_id != 3")
    with pytest.raises(ValueError, match="dense 0..N-1"):
        negative_pairs(sparse, k=3)


def test_centroid_outliers_planted_outlier(spark):
    from ocr_redaction_engine_spark.analytics.similarity import centroid_outliers
    # label 0: 4 tight vectors at ~(1,0) + one far point at (-1, 0)
    rows = [(i, [1.0, 0.0], 0) for i in range(4)] + [(99, [-1.0, 0.0], 0)]
    # label 1: two symmetric points, tie on distance -> vec_id breaks it
    rows += [(10, [0.5, 0.5], 1), (11, [-0.5, -0.5], 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {(r.label, r.rank): (r.vec_id, r.dist_sq)
           for r in centroid_outliers(df, k=2).collect()}
    # label 0 centroid (fx e6): dims sum = 4*1e6 - 1e6 = 3e6 over 5 -> 600000
    # dist(99) = (-1e6-600000)^2 = 2.56e12 ; dist(others) = (4e5)^2 = 1.6e11
    assert got[(0, 1)] == (99, (1_600_000) ** 2)
    assert got[(0, 2)][1] == 400_000 ** 2
    # label 1 centroid = (0,0); both dists equal -> lower vec_id first
    assert got[(1, 1)][0] == 10 and got[(1, 2)][0] == 11
    assert got[(1, 1)][1] == got[(1, 2)][1] == 2 * 500_000 ** 2


def test_dim_stats_planted_variance(spark):
    from ocr_redaction_engine_spark.analytics.similarity import dim_stats
    # dim0 constant (dead), dim1 high variance, dim2 mild
    rows = [(i, [0.5, 1.0 if i % 2 == 0 else -1.0, 0.1 * (i % 3)], 0)
            for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r.dim: r for r in dim_stats(df, top_k=3).collect()}
    assert got[1].var_rank == 1 and got[2].var_rank == 2 and got[0].var_rank == 3
    assert got[0].var_e12 == 0 and got[0].mean_e6 == 500000
    # dim1: values ±1e6, mean 0 -> var_e12 = 1e12
    assert got[1].mean_e6 == 0 and got[1].var_e12 == 10 ** 12
    assert got[1].var_share_bp + got[2].var_share_bp <= 10000


def test_top_component_matches_integer_mirror(spark):
    from ocr_redaction_engine_spark.analytics.similarity import top_component
    import hashlib
    vecs = [[1.0, 0.1, 0.0], [-1.0, -0.2, 0.05], [0.9, 0.0, -0.1],
            [-0.8, 0.15, 0.0], [1.1, 0.05, 0.02]]
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int")
    got = {r.dim: r.loading for r in top_component(df, n_iters=2).collect()}

    import numpy as np
    fx = [[int(np.floor(np.float64(np.float32(x)) * 1_000_000)) for x in v]
          for v in vecs]
    def h(d):
        b = hashlib.md5(f"pca:0:{d}".encode()).digest()[:8]
        return (int.from_bytes(b, "little") >> 44) - 524288
    v = [h(d) for d in range(3)]
    for _ in range(2):
        y = [0, 0, 0]
        for row in fx:
            dot = sum(a * b for a, b in zip(row, v))
            for d in range(3):
                y[d] += row[d] * dot
        ymax = max(abs(t) for t in y) or 1
        v = [(abs(y[d]) * 524288 // ymax) * (1 if y[d] >= 0 else -1)
             for d in range(3)]
    assert got == {d: v[d] for d in range(3)}
    # dominant direction is e0: its loading has the max magnitude
    assert abs(got[0]) == max(abs(x) for x in got.values()) == 524288


def test_whitened_topk_removes_dominant_direction(spark):
    from ocr_redaction_engine_spark.analytics.similarity import whitened_topk
    import numpy as np
    rng = np.random.RandomState(5)
    # all vectors share a huge common component along e0 + small signal
    vecs = []
    for i in range(30):
        v = np.zeros(4); v[0] = 10.0
        v[1 + i % 3] = 1.0 if i % 2 == 0 else -1.0
        vecs.append([float(x) for x in v])
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int")
    got = {}
    for r in whitened_topk(df, n_queries=2, k=5).collect():
        got.setdefault(r.q_id, []).append((r.c_id, r.sim))
    assert set(got) == {0, 1} and all(len(v) == 5 for v in got.values())
    # raw cosine would put EVERY candidate near sim 1 (shared e0 mass);
    # whitened sims must separate: same-signal candidates ≈ +1, opposite ≈ -1
    for q, rows in got.items():
        sims = [s for _, s in rows]
        assert max(sims) > 0.9
        # ranked output is sim-desc with c_id tie-break
        assert sims == sorted(sims, reverse=True) or len(set(sims)) < 5
