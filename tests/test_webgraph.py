"""Web-graph operators: link extraction, anchor aggregation, integer-exact
PageRank (vs an independent sequential Python implementation), URL
canonicalization edge cases, and C4-style sentence dedup."""

from __future__ import annotations

import hashlib

import pytest

from ocr_redaction_engine_spark.analytics.dedup import sentence_dedup
from ocr_redaction_engine_spark.analytics.webgraph import (
    SCALE,
    anchor_stats,
    extract_links,
    normalize_urls,
    pagerank,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(f"d{i}", f"alpha beta gamma delta epsilon zeta {i}") for i in range(12)]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_extract_links_finds_all_furniture_anchors(docs):
    links = extract_links(docs).filter("doc_id = 'd0'").orderBy("pos").collect()
    # nav(3) + sidebar(3) + footer(2)
    assert [r["href"] for r in links] == ["/", "/a", "/c", "/x", "/y", "/z", "/p", "/t"]
    assert links[0]["anchor_text"] == "Home"
    assert links[6]["anchor_text"] == "Privacy"


def test_anchor_stats_aggregates_per_target(docs):
    stats = {r["href"]: r for r in anchor_stats(docs).collect()}
    n = docs.count()
    assert stats["/"]["n_inlinks"] == n
    assert stats["/"]["n_anchor_texts"] == 1
    assert stats["/"]["first_anchor"] == "Home"
    # sidebar anchors are md5-derived → distinct per doc
    assert stats["/x"]["n_anchor_texts"] == n


def _py_pagerank(doc_ids, iters=3, damping_pct=85):
    """Independent sequential reference: same integer micro-rank contract."""
    def h8(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    nodes = sorted(doc_ids)
    n = len(nodes)
    outdeg = {d: h8(f"{d}:deg") % 3 + 2 for d in nodes}
    edges = []
    for d in nodes:
        for k in range(outdeg[d]):
            edges.append((d, h8(f"{d}:{k}") % n))
    idx = {d: i for i, d in enumerate(nodes)}
    rank = {i: SCALE // n for i in range(n)}
    base = SCALE * (100 - damping_pct) // 100 // n
    for _ in range(iters):
        inflow = {}
        for d, dst in edges:
            inflow[dst] = inflow.get(dst, 0) + rank[idx[d]] // outdeg[d]
        rank = {i: base + inflow.get(i, 0) * damping_pct // 100 for i in range(n)}
    return {d: rank[idx[d]] for d in nodes}


def test_pagerank_matches_sequential_integer_reference(spark, docs):
    got = {r["doc_id"]: r["rank_micro"] for r in pagerank(docs, iters=3).collect()}
    exp = _py_pagerank([r["doc_id"] for r in docs.select("doc_id").collect()])
    assert got == exp
    # damped mass: total rank stays within (1-d) truncation slack of SCALE
    assert 0.9 * SCALE < sum(got.values()) <= SCALE


def test_normalize_urls_edge_cases(spark):
    rows = [
        ("a", "HTTP://WWW.Foo.COM:80/Path/X?utm_source=s&b=2&a=1&ref=h#frag"),
        ("b", "https://foo.com:8443/y?z=1"),
        ("c", "http://foo.com"),
        ("d", "http://foo.com/p?utm_only=1"),
    ]
    urls = spark.createDataFrame(rows, "doc_id string, url string")
    got = {r["doc_id"]: r["canonical_url"] for r in normalize_urls(urls).collect()}
    assert got["a"] == "http://www.foo.com/Path/X?a=1&b=2"   # path case kept
    assert got["b"] == "https://foo.com:8443/y?z=1"           # non-default port kept
    assert got["c"] == "http://foo.com/"                      # bare host → /
    assert got["d"] == "http://foo.com/p"                     # all params tracking → none


def test_sentence_dedup_keeps_first_occurrence_globally(spark):
    rows = [
        ("d0", "Common line. Unique zero."),
        ("d1", "Unique one. Common line."),
        ("d2", "Common line."),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in sentence_dedup(docs).collect()}
    assert got["d0"]["kept_text"] == "Common line. Unique zero."
    assert got["d0"]["n_sentences"] == 2 and got["d0"]["n_kept"] == 2
    # d1 loses the duplicate but keeps its own sentence, original order
    assert got["d1"]["kept_text"] == "Unique one."
    assert got["d1"]["n_kept"] == 1
    # d2 is fully deduplicated away → empty text, zero kept
    assert got["d2"]["kept_text"] == "" and got["d2"]["n_kept"] == 0
    assert got["d2"]["n_sentences"] == 1


def test_host_boilerplate_strip_host_conditional(spark):
    from ocr_redaction_engine_spark.analytics.dedup import host_boilerplate_strip
    rows = [
        # host A: footer in 3/3 docs -> boilerplate; EVERY copy stripped,
        # including a within-doc repeat
        ("a0", "A", "Body zero. All rights reserved."),
        ("a1", "A", "All rights reserved. Body one."),
        ("a2", "A", "Body two. All rights reserved. All rights reserved."),
        # host B: the SAME sentence quoted in only 1/3 docs -> kept there
        ("b0", "B", "All rights reserved. Unique b zero."),
        ("b1", "B", "Other text."),
        ("b2", "B", "More text."),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, source string, text string")
    got = {r["doc_id"]: r
           for r in host_boilerplate_strip(docs, min_docs=2, pct=50).collect()}
    assert got["a0"]["kept_text"] == "Body zero."
    assert got["a0"]["n_sentences"] == 2 and got["a0"]["n_kept"] == 1
    assert got["a1"]["kept_text"] == "Body one."
    assert got["a2"]["kept_text"] == "Body two."
    assert got["a2"]["n_sentences"] == 3 and got["a2"]["n_kept"] == 1
    # host-conditional: below min_docs on host B, the quote survives intact
    assert got["b0"]["kept_text"] == "All rights reserved. Unique b zero."
    assert got["b0"]["n_kept"] == 2
    assert got["b1"]["kept_text"] == "Other text."
    # pct gate: with pct=200 nothing can cross (200% of host docs) -> identity
    ident = {r["doc_id"]: r["n_kept"]
             for r in host_boilerplate_strip(docs, min_docs=2, pct=200).collect()}
    assert ident == {r["doc_id"]: r["n_sentences"]
                     for r in host_boilerplate_strip(docs, min_docs=2, pct=200).collect()}


def test_snapshot_delta_classes(spark):
    from ocr_redaction_engine_spark.analytics.webgraph import snapshot_delta
    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta CHANGED"), (4, "delta")], "doc_id long, text string")
    got = {r["doc_id"]: r["change"] for r in snapshot_delta(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_domain_cap_equals_single_window_and_caps(spark):
    """The salted two-stage top-k must return EXACTLY the single-window
    answer, respect the cap on a planted hot domain, and be rerun-stable."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window
    from ocr_redaction_engine_spark.analytics.webgraph import domain_cap
    rows = ([(i, "www.hot.example.com") for i in range(200)]
            + [(1000 + i, f"sub.cold{i % 7}.org") for i in range(30)])
    pages = spark.createDataFrame(rows, "doc_id long, host string")
    got = domain_cap(pages, cap=4, salts=8).collect()

    h = F.conv(F.substring(F.md5(F.concat_ws(
        ":", "doc_id", F.lit("rank"))), 1, 15), 16, 10).cast("long")
    w = Window.partitionBy("domain").orderBy(F.col("h"), F.col("doc_id"))
    ref = (pages.select(
               "doc_id",
               F.regexp_extract("host", r"([^.]+\.[^.]+)$", 1).alias("domain"),
               h.alias("h"))
           .withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= 4).select("doc_id", "domain", "rank")
           .collect())
    assert sorted(map(tuple, got)) == sorted(map(tuple, ref))
    by_dom = {}
    for r in got:
        by_dom.setdefault(r["domain"], []).append(r["rank"])
    assert sorted(by_dom["example.com"]) == [1, 2, 3, 4]   # hot domain capped
    for i in range(7):
        assert len(by_dom[f"cold{i % 7}.org"]) <= 4
    # registrable-domain extraction collapses subdomains
    assert "hot.example.com" not in by_dom


def test_robots_filter_longest_match_and_ties(spark):
    from ocr_redaction_engine_spark.analytics.webgraph import robots_filter
    urls = spark.createDataFrame(
        [(1, "http://x.com/articles/abc"),   # /articles/a (11, allow) wins
         (2, "http://x.com/articles/zzz"),   # /articles/ (10, disallow)
         (3, "http://x.com/private/x"),      # /private/ disallow
         (4, "http://x.com/other/page"),     # only '/' matches -> allow
         (5, "http://x.com"),                # empty path: no match -> allow
         (6, "http://x.com/tie")],           # equal-length allow vs disallow
        "doc_id long, url string")
    rules = [("/", True), ("/articles/", False), ("/articles/a", True),
             ("/private/", False), ("/tie", False), ("/tie", True)]
    got = {r["doc_id"]: (r["match_len"], r["allowed"])
           for r in robots_filter(urls, rules).collect()}
    assert got[1] == (11, True)
    assert got[2] == (10, False)
    assert got[3] == (9, False)
    assert got[4] == (1, True)
    assert got[5] == (0, True)   # unmatched URL kept, allowed by default
    assert got[6] == (4, True)   # tie at len 4: Allow beats Disallow


def test_hits_matches_sequential_reference(spark):
    """Integer-exact HITS vs an independent sequential Python reference on a
    planted hub/authority graph."""
    from ocr_redaction_engine_spark.analytics.webgraph import HITS_SCALE, hits
    # nodes 0..4 (doc order): 0 and 1 are hubs pointing at 3 and 4; 2 points
    # only at 3 -> 3 is the top authority, 0/1 the top hubs
    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    edge_list = [(0, 3), (0, 4), (1, 3), (1, 4), (2, 3)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["doc_id"]: (r["auth_micro"], r["hub_micro"])
           for r in hits(docs, iters=2, edges=edges).collect()}

    n = 5
    hub = {u: HITS_SCALE // n for u in range(n)}
    auth = {}
    for _ in range(2):
        raw_a = {v: sum(hub[u] for u, w in edge_list if w == v) for v in range(n)}
        ta = sum(raw_a.values())
        auth = {v: raw_a[v] * HITS_SCALE // ta for v in range(n)}
        raw_h = {u: sum(auth[v] for w, v in edge_list if w == u) for u in range(n)}
        th = sum(raw_h.values())
        hub = {u: raw_h[u] * HITS_SCALE // th for u in range(n)}
    assert got == {i: (auth[i], hub[i]) for i in range(5)}
    assert max(got, key=lambda i: got[i][0]) == 3   # planted authority
    assert got[0][1] == got[1][1] > got[2][1]       # planted hubs tie, beat 2


def test_triangles_match_bruteforce(spark, docs):
    """Degree-ordered counting == brute-force enumeration over all node
    triples of the same synthetic undirected graph, every node zero-filled."""
    from itertools import combinations

    from ocr_redaction_engine_spark.analytics.webgraph import (
        _doc_nodes, synth_edges, triangles)

    got = {r.doc_id: r.n_tri for r in triangles(docs).collect()}

    n = docs.count()
    node_of = {r.doc_id: r.node for r in _doc_nodes(docs).collect()}
    und = set()
    for r in synth_edges(docs, n).collect():
        if r.src != r.dst:
            und.add((min(r.src, r.dst), max(r.src, r.dst)))
    per_node = {v: 0 for v in node_of.values()}
    for a, b, c in combinations(sorted(per_node), 3):
        if (a, b) in und and (a, c) in und and (b, c) in und:
            per_node[a] += 1
            per_node[b] += 1
            per_node[c] += 1
    expect = {d: per_node[v] for d, v in node_of.items()}
    assert got == expect
    assert sum(got.values()) % 3 == 0 and sum(got.values()) > 0


def test_crawl_frontier_politeness_invariant(spark, docs):
    """Per host: waves are exactly 0..k (one fetch per wave), ordered by
    descending priority; scheduled == wave < budget."""
    from collections import defaultdict

    from ocr_redaction_engine_spark.analytics.webgraph import crawl_frontier

    rows = crawl_frontier(docs, budget_waves=2).collect()
    by_host = defaultdict(list)
    for r in rows:
        by_host[r.host].append(r)
        assert r.scheduled == (r.wave < 2)
    for host, rs in by_host.items():
        rs.sort(key=lambda r: r.wave)
        assert [r.wave for r in rs] == list(range(len(rs)))
        prios = [(-r.prio, r.doc_id) for r in rs]
        assert prios == sorted(prios)


def test_crawl_depth_matches_sequential_bfs(spark, docs):
    """Distributed layer relaxation equals a sequential BFS capped at the
    same hop budget; seeds are depth 0; unreached rows are NULL + False."""
    from collections import defaultdict

    from ocr_redaction_engine_spark.analytics.webgraph import (
        crawl_depth, synth_edges, _doc_nodes)

    iters, seed_mod = 3, 97
    n = docs.select("doc_id").distinct().count()
    node_of = {r.doc_id: r.node for r in _doc_nodes(docs).collect()}
    adj = defaultdict(set)
    for r in synth_edges(docs, n).collect():
        adj[r.src].add(r.dst)

    INF = float("inf")
    dist = {v: (0 if v % seed_mod == 0 else INF) for v in node_of.values()}
    for _ in range(iters):
        nxt = dict(dist)
        for src, ds in adj.items():
            for dst in ds:
                if dist[src] + 1 < nxt.get(dst, INF):
                    nxt[dst] = dist[src] + 1
        dist = nxt

    got = {r.doc_id: (r.depth, r.reached)
           for r in crawl_depth(docs, iters=iters, seed_mod=seed_mod).collect()}
    expect = {d: (dist[v] if dist[v] != INF else None,
                  dist[v] != INF) for d, v in node_of.items()}
    assert got == expect
    depths = [v[0] for v in got.values() if v[0] is not None]
    assert 0 in depths and max(depths) <= iters and any(v > 0 for v in depths)


def test_random_walks_follow_real_edges_and_replay(spark, docs):
    """Every step of every walk traverses an actual graph edge; the walk
    corpus replays identically; 2 walks per node, length 3."""
    from collections import defaultdict

    from ocr_redaction_engine_spark.analytics.webgraph import (
        random_walks, synth_edges, _doc_nodes)

    n = docs.select("doc_id").distinct().count()
    adj = defaultdict(set)
    for r in synth_edges(docs, n).collect():
        adj[r.src].add(r.dst)

    rows = random_walks(docs, walk_len=3, walks_per_node=2).collect()
    assert len(rows) == 2 * n
    for r in rows:
        steps = [int(x) for x in r.path.split(">")]
        assert steps[0] == r.node and len(steps) == 4
        for a, b in zip(steps, steps[1:]):
            assert b in adj[a], (a, b)
    again = {(r.node, r.walk): r.path
             for r in random_walks(docs, walk_len=3, walks_per_node=2).collect()}
    assert again == {(r.node, r.walk): r.path for r in rows}


def test_domain_gini_bounds_and_reference(spark, docs):
    """Gini equals the sequential rank-formula recompute and sits in
    [0, 1e6); uniform counts give exactly 0."""
    from collections import Counter

    from ocr_redaction_engine_spark.analytics.webgraph import domain_gini, synth_hosts

    r = domain_gini(docs).collect()[0]
    counts = Counter(x.host for x in synth_hosts(docs).collect())
    xs = [c for _, c in sorted(counts.items(), key=lambda kv: (kv[1], kv[0]))]
    n, tot = len(xs), sum(xs)
    expect = (2 * sum((i + 1) * x for i, x in enumerate(xs)) - (n + 1) * tot) \
        * 1000000 // (n * tot)
    assert (r.n_domains, r.total_docs, r.gini_e6) == (n, tot, expect)
    assert 0 <= r.gini_e6 < 1000000 and r.gini_e6 > 0  # geometric skew

    uniform = spark.createDataFrame(
        [("u%d" % i, "h") for i in range(40)], "doc_id string, text string")
    # 40 doc_ids spread over synthetic hosts; craft equality instead: every
    # host count equal -> gini 0. Build via single-host corpus:
    one = domain_gini(uniform.limit(1)).collect()[0]
    assert one.gini_e6 == 0  # single domain: no inequality


def _synth_graph(doc_ids):
    """The deterministic synth_edges graph, independently re-derived."""
    def h8(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    nodes = sorted(doc_ids)
    n = len(nodes)
    idx = {d: i for i, d in enumerate(nodes)}
    edges = set()
    for d in nodes:
        for k in range(h8(f"{d}:deg") % 3 + 2):
            edges.add((idx[d], h8(f"{d}:{k}") % n))
    return nodes, n, edges


@pytest.mark.parametrize("k", [2, 5])
def test_kcore_matches_sequential_peeling(spark, docs, k):
    from ocr_redaction_engine_spark.analytics.webgraph import kcore

    doc_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    nodes, n, directed = _synth_graph(doc_ids)
    sym = {(a, b) for a, b in directed if a != b}
    sym |= {(b, a) for a, b in sym}
    rounds = 3
    for _ in range(rounds):
        deg = {}
        for a, _b in sym:
            deg[a] = deg.get(a, 0) + 1
        alive = {v for v, d in deg.items() if d >= k}
        sym = {(a, b) for a, b in sym if a in alive and b in alive}
    fin = {}
    for a, _b in sym:
        fin[a] = fin.get(a, 0) + 1
    expected = {
        d: (fin.get(i), i in fin)
        for d, i in ((d, ni) for ni, d in enumerate(nodes))
    }

    got = {r["doc_id"]: (r["core_deg"], r["in_core"])
           for r in kcore(docs, k=k, rounds=rounds).collect()}
    assert got == expected
    if k == 5:
        # the high-k case must actually peel someone, or it proves nothing
        assert any(not v[1] for v in got.values())


def test_kcore_converged_degrees_meet_threshold(spark, docs):
    from ocr_redaction_engine_spark.analytics.webgraph import kcore

    # enough rounds to converge on 12 nodes: every surviving degree >= k
    out = kcore(docs, k=3, rounds=6).collect()
    assert all(r["core_deg"] >= 3 for r in out if r["in_core"])


def test_reciprocal_links_matches_bruteforce(spark, docs):
    from ocr_redaction_engine_spark.analytics.webgraph import reciprocal_links

    doc_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    nodes, n, directed = _synth_graph(doc_ids)
    simple = {(a, b) for a, b in directed if a != b}
    expected = {}
    for ni, d in enumerate(nodes):
        outs = {b for a, b in simple if a == ni}
        mut = {b for b in outs if (b, ni) in simple}
        e6 = len(mut) * 1000000 // len(outs) if outs else None
        expected[d] = (len(outs), len(mut), e6)

    got = {r["doc_id"]: (r["n_out"], r["n_mutual"], r["mutual_e6"])
           for r in reciprocal_links(docs).collect()}
    assert got == expected
    # the synthetic graph must exercise the mutual case somewhere to be a test
    assert any(v[1] > 0 for v in got.values())


@pytest.mark.parametrize("rounds", [1, 3])
def test_label_propagation_matches_sequential(spark, docs, rounds):
    from ocr_redaction_engine_spark.analytics.webgraph import label_propagation

    doc_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    nodes, n, directed = _synth_graph(doc_ids)
    sym = {(a, b) for a, b in directed if a != b}
    sym |= {(b, a) for a, b in sym}

    labels = {i: i for i in range(n)}
    for _ in range(rounds):
        votes = {}
        for a, b in sym:                       # neighbour a votes its label to b
            votes.setdefault(b, {}).setdefault(labels[a], 0)
            votes[b][labels[a]] += 1
        nxt = {}
        for v in range(n):
            vs = votes.get(v)
            if vs:
                top = max(vs.values())
                nxt[v] = min(lb for lb, c in vs.items() if c == top)
            else:
                nxt[v] = labels[v]
        labels = nxt
    sizes = {}
    for lb in labels.values():
        sizes[lb] = sizes.get(lb, 0) + 1
    expected = {nodes[i]: (labels[i], sizes[labels[i]]) for i in range(n)}

    got = {r["doc_id"]: (r["community"], r["community_size"])
           for r in label_propagation(docs, rounds=rounds).collect()}
    assert got == expected
    # propagation must actually merge someone, or the test proves nothing
    assert len({v[0] for v in got.values()}) < n


def test_url_param_profile_classes(spark):
    from ocr_redaction_engine_spark.analytics.webgraph import url_param_profile
    urls = spark.createDataFrame(
        [(1, "http://h/p?utm_source=feed&id=a1&sess=x#frag"),
         (2, "http://h/p?utm_source=feed&id=b2&sess=x"),
         (3, "http://h/p?utm_source=feed&id=c3&sess=y"),
         (4, "http://h/p")],
        "doc_id long, url string")
    got = {r.key: (r.n_urls, r.n_values, r.cardinality_bp, r["class"])
           for r in url_param_profile(urls).collect()}
    assert got["utm_source"] == (3, 1, 3333, "constant")
    assert got["id"] == (3, 3, 10000, "id_like")
    assert got["sess"] == (3, 2, 6666, "low_cardinality")
    assert set(got) == {"utm_source", "id", "sess"}


def test_trustrank_starves_unreachable_and_conserves_seed_flow(spark):
    from ocr_redaction_engine_spark.analytics.webgraph import trustrank
    # graph is synthesized from doc_ids; just assert structural properties
    docs = spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(40)],
        "doc_id long, text string, lang string, source string, n_chars long")
    rows = trustrank(docs, iters=3, seed_mod=10).collect()
    seeds = [r for r in rows if r.is_seed]
    nonseeds = [r for r in rows if not r.is_seed]
    assert seeds and nonseeds
    import hashlib
    for r in rows:  # seed gate mirrors md5
        h = int(hashlib.md5(f"{r.doc_id}:trust".encode()).hexdigest()[:8], 16)
        assert r.is_seed == (h % 10 == 0)
    # every node's trust is nonnegative and the total stays <= SCALE
    # (teleport + damped flow can only lose mass to dangling rounding)
    assert all(r.trust_micro >= 0 for r in rows)
    assert sum(r.trust_micro for r in rows) <= 10**12
    # a non-seed can hold trust ONLY via inflow; at least one starved node
    # exists in a sparse random graph with 10% seeds... assert weaker:
    # max seed teleport floor holds for seeds with zero inflow too
    base = 10**12 * 15 // 100 // len(seeds)
    assert all(r.trust_micro >= base for r in seeds)


def test_resolve_redirects_matches_sequential_walk(spark):
    from ocr_redaction_engine_spark.analytics.webgraph import resolve_redirects
    import hashlib
    N = 60
    docs = spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(N)],
        "doc_id long, text string, lang string, source string, n_chars long")
    got = {r.doc_id: (r.final_doc_id, r.hops, r.resolved)
           for r in resolve_redirects(docs, redirect_mod=5, iters=4).collect()}

    def h(s): return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
    is_redir = {i: h(f"{i}:redir") % 5 == 0 for i in range(N)}
    target = {i: (h(f"{i}:rtarget") % N) if is_redir[i] else i
              for i in range(N)}
    assert any(is_redir.values())
    for i in range(N):
        cur, hops = i, 0
        while is_redir[cur] and hops < 16:
            cur = target[cur]; hops += 1
        if is_redir[cur]:
            assert got[i] == (None, None, False), i
        else:
            assert got[i] == (cur, hops, True), i


def test_host_graph_collapses_and_counts(spark):
    from ocr_redaction_engine_spark.analytics.webgraph import (
        host_graph, synth_edges, synth_hosts, _doc_nodes)
    docs = spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(40)],
        "doc_id long, text string, lang string, source string, n_chars long")
    got = {(r.src_host, r.dst_host): (r.n_links, r.n_src_pages, r.intra_host)
           for r in host_graph(docs).collect()}
    # independent recomputation from the synth primitives
    nodes = {r.doc_id: r.node for r in _doc_nodes(docs).collect()}
    hosts = {nodes[r.doc_id]: r.host for r in synth_hosts(docs).collect()}
    from collections import Counter, defaultdict
    links, pages = Counter(), defaultdict(set)
    for r in synth_edges(docs, 40).collect():
        key = (hosts[r.src], hosts[r.dst])
        links[key] += 1
        pages[key].add(r.src)
    want = {k: (links[k], len(pages[k]), k[0] == k[1]) for k in links}
    assert got == want
    assert any(v[2] for v in got.values())  # intra-host edges exist
    assert sum(v[0] for v in got.values()) == synth_edges(docs, 40).count()
