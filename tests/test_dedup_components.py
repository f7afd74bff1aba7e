"""Connected-components dedup clustering vs a pure-Python union-find oracle,
plus the foreachPartition notifier."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_redaction_engine_spark.analytics.dedup import (
    candidate_pairs, connected_components)


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    return {n: find(n) for n in list(parent)}


def test_components_match_union_find(spark):
    # chains, a clique, an isolated edge — incl. a long chain to exercise
    # multi-round propagation
    edges = ([(i, i + 1) for i in range(0, 12)]           # chain 0..12
             + [(20, 21), (21, 22), (20, 22)]             # triangle
             + [(30, 31)]                                 # pair
             + [(40, 41), (41, 42), (40, 42), (42, 43)])  # clique + tail
    pairs = spark.createDataFrame(edges, "a long, b long")
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == _union_find(edges)


def test_components_on_lsh_candidates(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = candidate_pairs(docs)
    comp = connected_components(pairs)
    got = {r.node: r.component for r in comp.collect()}
    exp = _union_find([(r.a, r.b) for r in pairs.collect()])
    assert got == exp


def test_notifier_delivers_all_rows_in_batches(spark):
    from ocr_redaction_engine_spark.operators.notify import notify_results
    import tempfile, os, json, glob

    outdir = tempfile.mkdtemp(prefix="notify_")
    df = spark.range(250).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
        F.lit("").alias("media_ref"),
        F.lit("REDACTED").alias("status"),
    ).repartition(4)

    def make_sender():
        # executor-side "connection": append-only file per partition batch
        def sender(batch):
            path = os.path.join(outdir, f"{os.getpid()}_{id(batch)}.json")
            with open(path, "a") as f:
                json.dump(batch, f)
        return sender

    notify_results(df, make_sender, batch_size=60)
    seen = []
    for p in glob.glob(f"{outdir}/*.json"):
        with open(p) as f:
            seen.extend(json.load(f))
    assert sorted(r["doc_id"] for r in seen) == sorted(f"doc-{i}" for i in range(250))
    assert all(r["status"] == "REDACTED" for r in seen)


def test_chain_graph_converges_by_doubling(spark):
    """A 100-edge path has diameter 100: plain min-label propagation needs
    100 rounds, the pointer-doubling variant O(log 100) — so the 25-round
    cap only succeeds if doubling works (it raises on non-convergence)."""
    n = 101
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a long, b long")
    comp = {r.node: r.component
            for r in connected_components(chain).collect()}
    assert comp == {i: 0 for i in range(n)}


def test_cluster_stats_histogram_and_singletons(spark):
    """Planted clusters: {0,1,2} (size 3), {3,4} and {5,6} (size 2), docs
    7..9 singletons → histogram rows for sizes 1, 2, 3 with keep-one
    removal counts and integer-bp corpus shares over 10 docs."""
    from ocr_redaction_engine_spark.analytics.dedup import dedup_cluster_stats
    docs = spark.createDataFrame(
        [(i, f"t{i}", "en", "s", 2) for i in range(10)],
        "doc_id long, text string, lang string, source string, n_chars long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (5, 6)], "a long, b long")
    got = {r.size: r for r in dedup_cluster_stats(docs, pairs).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1].n_clusters, got[1].n_docs, got[1].docs_removed) == (3, 3, 0)
    assert (got[2].n_clusters, got[2].n_docs, got[2].docs_removed) == (2, 4, 2)
    assert (got[3].n_clusters, got[3].n_docs, got[3].docs_removed) == (1, 3, 2)
    assert got[1].docs_share_bp == 3000
    assert got[2].docs_share_bp == 4000
    assert got[3].docs_share_bp == 3000
    # ordered by size, and no singleton row when every doc is clustered
    order = [r.size for r in dedup_cluster_stats(docs, pairs).collect()]
    assert order == [1, 2, 3]
    docs7 = docs.filter("doc_id < 7")
    got7 = {r.size: r.n_clusters
            for r in dedup_cluster_stats(docs7, pairs).collect()}
    assert got7 == {2: 2, 3: 1}


def _cdc_chunks_py(text: str, w: int = 8, mask_bits: int = 6) -> list:
    """Pure-Python mirror of dedup.cdc_chunk_dupes boundary logic."""
    import hashlib
    n = len(text)
    if n < w:
        return []
    bounds = [p for p in range(w, n + 1)
              if int(hashlib.md5(text[p - w:p].encode()).hexdigest()[:15], 16)
              % (1 << mask_bits) == 0]
    if not bounds or bounds[-1] != n:
        bounds.append(n)
    out, prev = [], 0
    for p in bounds:
        out.append(text[prev:p])
        prev = p
    return [c for c in out if c]


def test_cdc_chunk_dupes_matches_python_mirror_and_shift_invariance(spark):
    from ocr_redaction_engine_spark.analytics.dedup import cdc_chunk_dupes
    import random
    rng = random.Random(7)
    body = "".join(rng.choice("abcdefgh ") for _ in range(400))
    docs = spark.createDataFrame(
        [(1, body), (2, "XYZPREFIX-" + body), (3, "short")],
        "doc_id long, text string")
    got = {(r.chunk_hash, r.chunk_len): (r.n_docs, r.n_occ)
           for r in cdc_chunk_dupes(docs, w=8, mask_bits=4).collect()}

    import hashlib
    from collections import Counter
    occ = Counter()
    docs_per = {}
    for did, text in [(1, body), (2, "XYZPREFIX-" + body)]:
        for c in _cdc_chunks_py(text, 8, 4):
            h = hashlib.md5(c.encode()).hexdigest()
            occ[(h, len(c))] += 1
            docs_per.setdefault((h, len(c)), set()).add(did)
    want = {k: (len(docs_per[k]), occ[k])
            for k in occ if len(docs_per[k]) >= 2}
    assert got == want
    # the CDC property itself: despite the prefix insertion, the two docs
    # share duplicated chunks (fixed-block hashing would share none)
    assert len(got) > 0


def test_banding_eval_counts_match_mirror(spark):
    from ocr_redaction_engine_spark.analytics.dedup import banding_eval
    import hashlib
    from itertools import combinations
    corp = {1: "x y z", 2: "x y z", 3: "p q r", 4: "x y w", 8: "x z w"}
    docs = spark.createDataFrame(
        [(k, v, "en", "s", 1) for k, v in corp.items()],
        "doc_id long, text string, lang string, source string, n_chars long")
    got = banding_eval(docs, threshold=0.8, sample_mod=1).collect()[0]

    def sig(toks, i):
        return min(hashlib.md5(f"{i}:{t}".encode()).hexdigest() for t in toks)
    truth, cands = set(), set()
    for a, b in combinations(sorted(corp), 2):
        sa, sb = set(corp[a].split()), set(corp[b].split())
        j = len(sa & sb) / len(sa | sb)
        if round(j, 6) >= 0.8:
            truth.add((a, b))
        if any(sig(sa, i) == sig(sb, i) for i in range(4)):
            cands.add((a, b))
    hits = truth & cands
    assert (got.n_truth, got.n_cands, got.n_hits) == (
        len(truth), len(cands), len(hits))
    assert got.recall_bp == len(hits) * 10000 // max(len(truth), 1)
    assert got.precision_bp == len(hits) * 10000 // max(len(cands), 1)
    assert got.n_truth == 1 and got.n_hits == 1  # the identical pair


def test_onion_funnel_layer_attribution(spark):
    from ocr_redaction_engine_spark.analytics.dedup import onion_funnel
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),        # exact dup of 1
            (3, "ALPHA beta GAMMA delta epsilon"),        # normalized dup of 1
            (4, "alpha beta gamma delta zeta"),           # near-dup (J=4/6)... below 0.66
            (5, "alpha beta gamma delta epsilon zeta"),   # J = 5/6 = 0.833 -> near dup
            (6, "completely different words here now"),
        ],
        "doc_id long, text string")
    docs = docs.select("doc_id", "text", F.lit("en").alias("lang"),
                       F.lit("s").alias("source"), F.lit(1).alias("n_chars"))
    got = {r.stage: (r.rule, r.n_rejected, r.n_surviving, r.rejected_share_bp)
           for r in onion_funnel(docs, jaccard_t=0.8, shingle_n=None).collect()}
    assert got[1] == ("exact", 1, 5, 1 * 10000 // 6)        # doc 2
    assert got[2] == ("normalized", 1, 4, 1 * 10000 // 6)   # doc 3
    assert got[3] == ("near_dup", 1, 3, 1 * 10000 // 6)     # doc 5
