"""Web-graph operators over crawl documents: link/anchor extraction, anchor
text aggregation, PageRank iterations, and URL canonicalization — the graph
side of a training-data crawl pipeline (what a 100 TB corpus build runs
between fetch and filter).

The reference engine has no web-graph stage (it is a per-document service);
these generalize its extraction layer the same way the north rule
generalizes per-page OCR. Everything SQL-expressible stays in Catalyst;
PageRank is the classic join+agg iteration with INTEGER-exact arithmetic
(micro-rank units, integer division) so Spark's arbitrary-order float sums
and the DuckDB oracle agree bit-for-bit.

Scale notes: link extraction is narrow (regex per row). Anchor aggregation
is one hash-agg on the target key. PageRank shuffles once per iteration on
dst (the unavoidable shape); the edge build here synthesizes a deterministic
graph from the corpus for oracle-ability — at crawl scale edges arrive from
the extractor and the iteration code is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ranks import running_total, salted_topk
from .text import md5_long

ANCHOR_PAIR = r'<a href="([^"]*)"[^>]*>([^<]*)</a>'


def extract_links(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, href, anchor_text) for every anchor in each document's
    markup (as_html furniture). Narrow: regexp_extract_all + posexplode."""
    from .extraction import as_html
    pages = as_html(docs)
    matches = F.expr(f"regexp_extract_all(html, '{ANCHOR_PAIR}', 0)")
    return pages.select(
        "doc_id", F.posexplode(matches).alias("pos", "m")
    ).select(
        "doc_id",
        "pos",
        F.regexp_extract("m", ANCHOR_PAIR, 1).alias("href"),
        F.regexp_extract("m", ANCHOR_PAIR, 2).alias("anchor_text"),
    )


def anchor_stats(docs: DataFrame) -> DataFrame:
    """Anchor-text aggregation per link target: in-degree, distinct anchor
    texts, and the lexicographically-first anchor (a deterministic
    representative). One hash-agg on href."""
    links = extract_links(docs)
    return links.groupBy("href").agg(
        F.count("*").cast("long").alias("n_inlinks"),
        F.countDistinct("anchor_text").cast("long").alias("n_anchor_texts"),
        F.min("anchor_text").alias("first_anchor"),
    )


SCALE = 10**12  # integer micro-rank units
DAMPING_PCT = 85  # pagerank / trustrank damping d, in percent


def _doc_nodes(docs: DataFrame) -> DataFrame:
    """Stable integer node ids 0..N-1 by doc_id order: the
    [[running_total]] row number over the distinct ids, minus 1. The plan
    choice probes the docs' own scan (metadata-cheap), not the shuffled
    distinct: the plain global window on a narrow input (a small corpus),
    the range-partitioned two-pass rank on a wide one, where a bare
    ``Window.orderBy`` would funnel every doc_id through one sorted task.
    Both plans give the same ids, which the [[web_pagerank]] /
    [[web_bfs_depth]] oracles pin. (Node ids are corpus scaffolding for
    the synthetic graph; real crawls carry edge lists already keyed by
    URL.)"""
    wide = (docs.select("doc_id").rdd.getNumPartitions()
            > docs.sparkSession.sparkContext.defaultParallelism)
    ranked = running_total(docs.select("doc_id").distinct(), [], ["doc_id"],
                           "node", wide=wide)
    return ranked.select("doc_id", (F.col("node") - 1).alias("node"))


def _outdeg() -> Column:
    """Out-degree of node ``doc_id``: 2 + md5(doc_id:deg) % 3."""
    return (F.conv(F.substring(F.md5(F.concat_ws(":", "doc_id", F.lit("deg"))), 1, 8), 16, 10)
            .cast("long") % 3 + 2)


def _edge_dst(k: Column, n_nodes: int) -> Column:
    """Destination of edge ``k`` of node ``doc_id``: md5(doc_id:k) % N."""
    return (F.conv(F.substring(F.md5(F.concat_ws(":", "doc_id", k.cast("string"))), 1, 8), 16, 10)
            .cast("long") % n_nodes)


def synth_edges(docs: DataFrame, n_nodes: int) -> DataFrame:
    """Deterministic outlinks: node i gets 2 + (md5 % 3) edges, edge k
    pointing at md5(doc_id:k) % N. Pure column expressions — the same rows
    in any engine."""
    nodes = _doc_nodes(docs)
    with_deg = nodes.select("doc_id", "node", _outdeg().alias("outdeg"))
    ks = with_deg.select(
        "node", "outdeg",
        F.explode(F.sequence(F.lit(0), F.col("outdeg") - 1)).alias("k"),
        "doc_id",
    )
    return ks.select(F.col("node").alias("src"), "outdeg",
                     _edge_dst(F.col("k"), n_nodes).alias("dst"))


def _rank_flow(docs: DataFrame, iters: int, seed: Column | None) -> DataFrame:
    """The integer rank-flow loop PageRank and TrustRank share, ``iters``
    unrolled join+agg rounds in micro-rank units over the synthetic
    outlink graph. The teleport mass goes to the seed nodes (``seed`` true;
    None makes every node a seed, which is PageRank), n_s of them:

        rank₀(node)  = seed ? SCALE/n_s : 0
        contrib(e)   = rank(src) DIV outdeg(src)
        rank'(node)  = (seed ? (100-d)%·SCALE/n_s : 0)  +  d%·Σ contrib
                       (integer DIV 100)

    Integer sums are order-independent, so the distributed aggregation is
    bit-identical to the sequential oracle. One shuffle per iteration (agg on
    dst) plus the rank-join — the canonical scalable shape. Returns
    (node, doc_id, is_seed, rank)."""
    n_nodes = docs.select("doc_id").distinct().count()  # metadata-scale scalar
    nodes = _doc_nodes(docs).withColumn(
        "is_seed", F.lit(True) if seed is None else seed)
    n_seeds = max(n_nodes if seed is None else nodes.where("is_seed").count(), 1)
    edges = synth_edges(docs, n_nodes)
    base = SCALE * (100 - DAMPING_PCT) // 100 // n_seeds

    ranks = nodes.select(
        "node",
        F.when(F.col("is_seed"), F.lit(SCALE // n_seeds))
         .otherwise(F.lit(0)).cast("long").alias("rank"))
    for _ in range(iters):
        contribs = (
            edges.join(ranks, edges.src == ranks.node)
            .select("dst", F.expr("rank div outdeg").alias("contrib"))
            .groupBy("dst").agg(F.sum("contrib").alias("inflow")))
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .select(
                "node",
                F.expr(
                    f"CAST((CASE WHEN is_seed THEN {base} ELSE 0 END)"
                    f" + (coalesce(inflow, 0) * {DAMPING_PCT}) div 100"
                    " AS BIGINT)").alias("rank")))
    return nodes.join(ranks, "node")


def pagerank(docs: DataFrame, iters: int = 3) -> DataFrame:
    """PageRank over the synthetic outlink graph: :func:`_rank_flow` with
    every node a seed, i.e. the uniform (100-d)%·SCALE/N teleport."""
    return _rank_flow(docs, iters, None).select(
        "doc_id", F.col("rank").alias("rank_micro"))


# ---------------------------------------------------------------------------
# URL canonicalization (crawl-frontier dedup)
# ---------------------------------------------------------------------------

def synth_urls(docs: DataFrame) -> DataFrame:
    """Deterministic messy URL per document: mixed-case host, default port,
    tracking params out of order, fragment — the mess a crawl frontier sees.
    Pure expressions so the oracle rebuilds identical input."""
    h = F.md5(F.concat_ws(":", "doc_id", F.lit("url")))
    host_case = F.when(
        (F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % 2) == 0,
        F.lit("WWW.Example-Site.COM")).otherwise(F.lit("www.example-site.com"))
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://"), host_case, F.lit(":80/articles/"),
            F.substring(h, 3, 6),
            F.lit("?utm_source=feed&id="), F.substring(h, 9, 4),
            F.lit("&utm_campaign=x&ref=home#section-"), F.substring(h, 13, 2),
        ).alias("url"),
    )


def normalize_urls(urls: DataFrame) -> DataFrame:
    """Canonicalize: lowercase scheme+host, strip default port :80, drop the
    fragment, drop utm_*/ref tracking params, sort surviving query params.
    All regexp/HOF Catalyst — narrow, no shuffle."""
    no_frag = F.regexp_replace("url", r"#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, r"^([A-Za-z]+)://", 1))
    host = F.lower(F.regexp_extract(no_frag, r"^[A-Za-z]+://([^/:?#]+)", 1))
    port = F.regexp_extract(no_frag, r"^[A-Za-z]+://[^/:?#]+:(\d+)", 1)
    path = F.regexp_extract(no_frag, r"^[A-Za-z]+://[^/?#]+(/[^?#]*)", 1)
    query = F.regexp_extract(no_frag, r"\?([^#]*)", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (~p.startswith("utm_")) & (~p.startswith("ref=")) & (p != ""),
    )
    canon_q = F.concat_ws("&", F.array_sort(kept))
    canon = F.concat(
        scheme, F.lit("://"), host,
        F.when((port == "") | (port == "80"), F.lit("")).otherwise(F.concat(F.lit(":"), port)),
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(canon_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), canon_q)),
    )
    return urls.select("doc_id", "url", canon.alias("canonical_url"))


def snapshot_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """Incremental-crawl snapshot diff (the monthly-refresh CDC step): full
    outer join of two crawl snapshots on ``doc_id``, change class from
    null-side + content-fingerprint comparison. At refresh time only
    'added' + 'changed' documents re-enter the pipeline — the whole point of
    incremental processing at 10^12 documents.

    One shuffle on the key (or zero with storage-bucketed snapshots,
    cf. storage.py); the md5 fingerprints are computed map-side before the
    join so the join carries 32-byte digests, not document bodies.

    Returns (doc_id, change) with change ∈ added | removed | changed |
    unchanged.
    """
    o = old.select(F.col("doc_id"), F.md5("text").alias("old_fp"))
    n = new.select(F.col("doc_id"), F.md5("text").alias("new_fp"))
    return (
        o.join(n, "doc_id", "full")
        .select(
            "doc_id",
            F.when(F.col("old_fp").isNull(), "added")
            .when(F.col("new_fp").isNull(), "removed")
            .when(F.col("old_fp") != F.col("new_fp"), "changed")
            .otherwise("unchanged")
            .alias("change"),
        )
    )


def synth_hosts(docs: DataFrame) -> DataFrame:
    """Deterministic skewed host per document: the domain index is the bit
    length of an md5 byte, so domain 8 owns ~1/2 of the corpus, domain 7
    ~1/4, … — the Zipf-like domain skew a real crawl has, and exactly the
    hot-key shape the per-domain cap must survive. Pure expressions so the
    oracle rebuilds identical input."""
    h = F.md5(F.concat_ws(":", "doc_id", F.lit("host")))
    b = F.conv(F.substring(h, 1, 2), 16, 10).cast("long")  # 0..255
    return docs.select(
        "doc_id",
        F.concat(F.lit("www.domain"), F.length(F.bin(b)), F.lit(".com"))
        .alias("host"),
    )


def domain_cap(pages: DataFrame, cap: int = 5, salts: int = 8) -> DataFrame:
    """Per-domain document quota (the RefinedWeb/C4 'no domain may dominate'
    rule): keep at most ``cap`` documents per registrable domain, chosen by
    deterministic md5 rank so reruns keep the same winners.

    Skew is the whole problem here — crawl domains are Zipf (one domain can
    own half the corpus), so a single window over ``domain`` puts half of
    100 TB in one task. The rank therefore runs through [[salted_topk]]:
    the result is EXACTLY the single-window answer (the unit test pins
    this), while no task ever holds more than one salt's share.

    Returns (doc_id, domain, rank), rank ≤ cap.
    """
    domain = F.regexp_extract("host", r"([^.]+\.[^.]+)$", 1)
    h = md5_long(F.concat_ws(":", "doc_id", F.lit("rank")))
    base = pages.select("doc_id", domain.alias("domain"), h.alias("h"))
    return salted_topk(
        base, ["domain"], [F.col("h").asc(), F.col("doc_id").asc()], cap,
        salt_on="doc_id", salts=salts,
    ).select("doc_id", "domain", "rank")


#: default robots ruleset for the driver gate: longest-match semantics make
#: /articles/a* crawlable while the rest of /articles/ is not.
DEFAULT_ROBOTS_RULES = [
    ("/", True),
    ("/articles/", False),
    ("/articles/a", True),
    ("/private/", False),
]


def robots_filter(urls: DataFrame,
                  rules: list[tuple[str, bool]] | None = None) -> DataFrame:
    """Robots.txt path filtering with Google longest-match semantics: the
    longest rule prefix matching the URL path wins; on equal length, Allow
    beats Disallow; no match ⇒ allowed.

    Scale shape: the ruleset is tiny (a site's robots file) and broadcast;
    each URL explodes only the character prefixes of its path up to the
    longest rule (≤ a few dozen rows, map-side), candidates come from the
    prefix equi-join — never a regex-per-rule scan — and one hash-agg on
    doc_id takes the max (length, allow) struct. All Catalyst.

    Returns (doc_id, url, match_len, allowed)."""
    rules = DEFAULT_ROBOTS_RULES if rules is None else rules
    spark = urls.sparkSession
    rdf = spark.createDataFrame(
        [(p, a, len(p)) for p, a in rules], "prefix string, allow boolean, plen int")
    max_len = max(len(p) for p, _ in rules)

    path = F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    pref = urls.select(
        "doc_id", "url", path.alias("path")
    ).select(
        "doc_id", "url",
        F.explode(F.transform(
            F.sequence(F.lit(1), F.least(F.length("path"), F.lit(max_len))),
            lambda i: F.col("path").substr(F.lit(1), i))).alias("prefix"),
    )
    wins = (
        pref.join(F.broadcast(rdf), "prefix")
        .groupBy("doc_id")
        .agg(F.max(F.struct(F.col("plen"), F.col("allow"))).alias("w"))
        .select("doc_id", F.col("w.plen").alias("match_len"),
                F.col("w.allow").alias("allowed"))
    )
    return (
        urls.join(wins, "doc_id", "left")
        .select("doc_id", "url",
                F.coalesce("match_len", F.lit(0)).alias("match_len"),
                F.coalesce("allowed", F.lit(True)).alias("allowed"))
    )


HITS_SCALE = 10**9  # L1 micro-units: raw·SCALE stays < 2^63 at outdeg ≤ 4


def hits(docs: DataFrame, iters: int = 2,
         edges: DataFrame | None = None) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the synthetic outlink
    graph — the query-independent companion of [[pagerank]] for crawl
    seed-list curation (authorities = well-cited pages, hubs = good link
    pages).

    Same integer discipline as pagerank: scores live in micro-units,
    authority(v) = Σ hub(u) over in-edges then L1-normalized as
    ``raw · SCALE div total`` (integer division — exact, order-independent
    distributed sums), hub(u) = Σ authority(v) over out-edges likewise.
    One shuffle per half-iteration (agg on dst, then src); the total is a
    1-row aggregate attached via the pmod-key BroadcastHashJoin trick.

    Returns (doc_id, auth_micro, hub_micro) after ``iters`` rounds.
    ``edges`` (src, dst node ids) overrides the synthetic graph — that is
    how a real crawl's extracted link table plugs in."""
    n_nodes = docs.select("doc_id").distinct().count()
    nodes = _doc_nodes(docs)
    if edges is None:
        edges = synth_edges(docs, n_nodes).select("src", "dst")
    edges = edges.persist()

    def l1_norm(raw: DataFrame, key: str) -> DataFrame:
        """(key, raw) → every node's score = raw·SCALE div Σraw (missing
        nodes get 0 before normalization)."""
        tot = (raw.agg(F.sum("raw").alias("tot"))
               .withColumn("__k", F.pmod(F.col("tot"), F.lit(1))))
        return (
            nodes.join(raw.withColumnRenamed(key, "node"), "node", "left")
            .select("node", F.coalesce("raw", F.lit(0)).alias("raw"))
            .withColumn("__k", F.pmod(F.col("raw"), F.lit(1)))
            .join(F.broadcast(tot), "__k")
            .select("node",
                    F.expr(f"CAST(raw * {HITS_SCALE} div tot AS BIGINT)")
                    .alias("score"))
        )

    hub = nodes.select(
        "node", F.lit(HITS_SCALE // n_nodes).cast("long").alias("score"))
    auth = None
    for _ in range(iters):
        raw_a = (edges.join(hub.withColumnRenamed("node", "src"), "src")
                 .groupBy("dst").agg(F.sum("score").alias("raw")))
        # truncate the per-iteration lineage (same discipline as
        # connected_components): without this the unrolled plan doubles
        # every half-round — PLAN_AUDIT measured 247 Exchange nodes
        auth = l1_norm(raw_a, "dst").localCheckpoint(eager=True)
        raw_h = (edges.join(auth.withColumnRenamed("node", "dst"), "dst")
                 .groupBy("src").agg(F.sum("score").alias("raw")))
        hub = l1_norm(raw_h, "src").localCheckpoint(eager=True)
    out = (nodes
           .join(auth.withColumnRenamed("score", "auth_micro"), "node")
           .join(hub.withColumnRenamed("score", "hub_micro"), "node")
           .select("doc_id", "auth_micro", "hub_micro"))
    edges.unpersist()
    return out


# ---------------------------------------------------------------------------
# Triangle counting (graph clustering signal for crawl-quality scoring)
# ---------------------------------------------------------------------------

def triangles(docs: DataFrame) -> DataFrame:
    """Per-node triangle counts over the undirected synthetic link graph,
    degree-ordered: each undirected edge is oriented from its
    (degree, node)-smaller endpoint to the larger, so every triangle is a
    single wedge (a->b, b->c) closed by (a->c) — counted exactly once, and
    the wedge fan-out at any node is bounded by its *oriented* out-degree
    (O(sqrt(m)) on any graph), which is what keeps the self-join from
    exploding on crawl-scale hub nodes where naive wedge counting dies.
    Two shuffling joins on node keys + one hash-agg; integer-exact, so the
    DuckDB oracle matches bit-for-bit.

    Returns (doc_id, n_tri) for every document, zero-filled.
    """
    n_nodes = docs.select("doc_id").distinct().count()  # metadata-scale scalar
    nodes = _doc_nodes(docs)
    und = (
        synth_edges(docs, n_nodes)
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node")).unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node").agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    oriented = (
        und.join(du, "u").join(dv, "v")
        .select(
            F.when((F.col("du") < F.col("dv")) |
                   ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                   F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when((F.col("du") < F.col("dv")) |
                   ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                   F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    )
    e1 = oriented.select(F.col("a").alias("wa"), F.col("b").alias("wb"))
    e2 = oriented.select(F.col("a").alias("wb"), F.col("b").alias("wc"))
    wedges = e1.join(e2, "wb")
    closing = oriented.select(F.col("a").alias("wa"), F.col("b").alias("wc"))
    tri = wedges.join(closing, ["wa", "wc"])  # (wa, wb, wc) each exactly once
    corners = (
        tri.select(F.explode(F.array("wa", "wb", "wc")).alias("node"))
        .groupBy("node").agg(F.count("*").alias("n_tri"))
    )
    return (
        nodes.join(corners, "node", "left")
        .select("doc_id", F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"))
    )


# ---------------------------------------------------------------------------
# Crawl-frontier scheduling (politeness-constrained fetch waves)
# ---------------------------------------------------------------------------

def crawl_frontier(docs: DataFrame, budget_waves: int = 3) -> DataFrame:
    """Politeness-constrained frontier schedule: each host serves at most ONE
    fetch per wave, higher-priority URLs first — i.e. a URL's wave is its
    priority rank *within its host*. ``scheduled`` marks URLs inside the
    crawl budget (first ``budget_waves`` waves).

    The wave is a per-host rank, and crawl frontiers are Zipf-skewed — a
    hot host can own half the frontier, so a bare
    ``Window.partitionBy(host)`` would sort that half in ONE task. The
    rank therefore runs through [[running_total]] (the row number per host),
    which keeps the plain window on narrow inputs (zero extra cost at bench
    scale) and takes the range-partitioned two-pass plan on wide ones —
    the same numbering either way. The priority is a deterministic md5
    draw standing in for a PageRank/freshness score. Integer-exact,
    engine-portable."""
    hosts = synth_hosts(docs)
    prio = md5_long(F.concat_ws(":", "doc_id", F.lit("prio"))).alias("prio")
    ranked = running_total(
        hosts.select("doc_id", "host", prio),
        ["host"], [F.desc("prio"), F.asc("doc_id")], "__rn")
    return (
        ranked
        .withColumn("wave", (F.col("__rn") - 1).cast("long")).drop("__rn")
        .withColumn("scheduled", F.col("wave") < budget_waves)
    )


# ---------------------------------------------------------------------------
# Crawl-depth BFS layers (distance from the seed set)
# ---------------------------------------------------------------------------

_BFS_INF = 1 << 40


def crawl_depth(docs: DataFrame, iters: int = 4, seed_mod: int = 97) -> DataFrame:
    """BFS layers over the outlink graph: the minimum hop count from the
    seed set (nodes ≡ 0 mod ``seed_mod`` — the deterministic stand-in for a
    curated seed list) within ``iters`` hops — the 'crawl depth' facet crawl
    QA dashboards slice by (shallow pages are navigational, deep pages are
    long-tail).

    Each round is one edge join + one min-agg on dst:
    ``d'(n) = min(d(n), min over incoming edges of d(src)+1)`` — min is
    order-independent so the distributed agg is bit-identical to the
    sequential oracle; unreached-within-iters nodes surface as NULL depth
    (internally an integer INF sentinel, so no NULL-vs-three-valued-logic
    drift between engines). One shuffle per round, frontier state is one
    long per node — the textbook Pregel-in-DataFrames shape.

    Returns (doc_id, depth, reached).
    """
    n_nodes = docs.select("doc_id").distinct().count()  # metadata-scale scalar
    nodes = _doc_nodes(docs)
    edges = synth_edges(docs, n_nodes).select("src", "dst").persist()
    depth = nodes.select(
        "node",
        F.when(F.col("node") % seed_mod == 0, F.lit(0))
        .otherwise(F.lit(_BFS_INF)).cast("long").alias("d"))
    for _ in range(iters):
        relaxed = (
            edges.join(depth, edges.src == depth.node)
            .groupBy("dst").agg((F.min("d") + 1).alias("nd"))
        )
        depth = (
            depth.join(relaxed, depth.node == relaxed.dst, "left")
            .select(
                "node",
                F.least(F.col("d"), F.coalesce("nd", F.lit(_BFS_INF))).alias("d"),
            )
        ).localCheckpoint(eager=True)  # truncate per-round lineage
    out = (
        nodes.join(depth, "node")
        .select(
            "doc_id",
            F.when(F.col("d") < _BFS_INF, F.col("d")).alias("depth"),
            (F.col("d") < _BFS_INF).alias("reached"),
        )
    )
    edges.unpersist()
    return out


# ---------------------------------------------------------------------------
# Random-walk corpus generation (graph-embedding training prep)
# ---------------------------------------------------------------------------

def random_walks(docs: DataFrame, walk_len: int = 3,
                 walks_per_node: int = 2) -> DataFrame:
    """DeepWalk-style walk corpus: ``walks_per_node`` fixed-length random
    walks from every node — the sentence corpus graph-embedding training
    (DeepWalk/node2vec) consumes. The 'random' choice is an md5 draw keyed
    by (node, walk, step), so the corpus is a pure function of the graph:
    any engine replays it bit-for-bit, and a rerun after a crash emits the
    identical walks (the determinism a resumable 10^12-edge job needs).

    Each step is ONE equi-join back to the node table (cur → doc_id) to
    derive out-degree and the chosen edge's destination from synth_edges'
    own expressions (``_outdeg``, ``_edge_dst``), so a walk only follows
    edges of the edge graph. State per walk is a single long plus the path
    string, there is no
    neighbor-list explosion: ``walk_len`` joins total, all on the node key.
    Returns (node, walk, path) with path = '>'-joined node ids.
    """
    n_nodes = docs.select("doc_id").distinct().count()  # metadata scalar
    nodes = _doc_nodes(docs)
    state = nodes.select(
        "node",
        F.explode(F.array(*[F.lit(wk) for wk in range(walks_per_node)])).alias("walk"),
        F.col("node").alias("cur"),
        F.col("node").cast("string").alias("path"),
    )
    for step in range(walk_len):
        pick = (F.conv(F.substring(F.md5(F.concat_ws(
            ":", F.col("node").cast("string"), F.col("walk").cast("string"),
            F.lit(f"s{step}"))), 1, 8), 16, 10).cast("long") % _outdeg())
        nxt = _edge_dst(pick, n_nodes)
        state = (
            state.join(nodes.select(F.col("node").alias("cur"), "doc_id"), "cur")
            .select(
                "node", "walk",
                nxt.alias("cur"),
                F.concat_ws(">", "path", nxt.cast("string")).alias("path"),
            )
        )
    return state.select("node", F.col("walk").cast("int").alias("walk"), "path")


def domain_gini(docs: DataFrame) -> DataFrame:
    """Crawl-concentration Gini index over per-domain document counts —
    the one-number 'is this corpus dominated by a few domains' monitor
    that pairs with [[domain_cap]] (cap when G drifts up). Integer-exact:
    with per-domain counts x_1≤…≤x_n (rank window over the DOMAIN-level
    aggregate — n = |domains|, not |docs|, so the sort is metadata-scale),

        G_e6 = (2·Σ i·x_i − (n+1)·Σx) · 1e6  DIV  (n·Σx)

    The rank-weighted sum Σ i·x_i is bounded by n_domains·total_docs —
    ~1e20 at the 10^12-doc / 1e8-domain design point, past BIGINT's 9.2e18
    (and the ·1e6 numerator reaches ~1e26) — so the sums run in
    DECIMAL(38,0) (oracle: HUGEINT, which DuckDB's SUM(BIGINT) already
    promotes to) rather than silently wrapping with ANSI off; same
    discipline as [[basket_lift]]. The rank itself runs over the
    |domains|-row aggregate — metadata-scale next to the corpus, but at
    1e8 domains still too big for one sorted task, so it is a
    [[running_total]] row number. Returns one row (n_domains, total_docs,
    gini_e6).
    """
    counts = synth_hosts(docs).groupBy("host").agg(F.count("*").alias("x"))
    # wide=True: counts hangs below an aggregation, so the narrow/wide
    # partition probe would materialize the whole scan+groupBy once just
    # to pick a plan, then re-execute it for the real query; the two-pass
    # plan's extra exchanges run over the |domains|-row aggregate only
    ranked = running_total(
        counts, [], [F.col("x").asc(), F.col("host").asc()], "i", wide=True)
    return ranked.agg(
        F.count("*").cast("long").alias("n_domains"),
        F.sum("x").cast("long").alias("total_docs"),
        F.expr("CAST((2 * SUM(CAST(i AS DECIMAL(38,0)) * x)"
               " - (COUNT(*) + 1) * SUM(CAST(x AS DECIMAL(38,0)))) * 1000000 "
               "DIV (COUNT(*) * SUM(CAST(x AS DECIMAL(38,0)))) AS BIGINT)")
        .alias("gini_e6"),
    )


# ---------------------------------------------------------------------------
# k-core decomposition (spam/boilerplate-farm structure) and reciprocal-link
# audit — the two classic link-spam signals a crawl pipeline runs alongside
# PageRank (dense cores and mutual-link rings are how link farms look in the
# graph; Batagelj & Zaveršnik 2003 for peeling, Becchetti et al. 2008 for
# link-spam features).
# ---------------------------------------------------------------------------

def _symmetric_edges(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(nodes, sym): the ``_doc_nodes`` table and the undirected link graph
    — ``synth_edges`` without self-loops, each edge in both directions as
    distinct (src, dst) rows — eagerly ``localCheckpoint``ed so the
    iterative graph ops start from a materialized edge set."""
    n_nodes = docs.select("doc_id").distinct().count()  # metadata-scale
    nodes = _doc_nodes(docs)
    directed = synth_edges(docs, n_nodes).filter(F.col("src") != F.col("dst"))
    sym = (
        directed.select("src", "dst")
        .union(directed.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return nodes, sym


def kcore(docs: DataFrame, k: int = 3, rounds: int = 3) -> DataFrame:
    """k-core peeling over the undirected link graph: repeatedly delete
    nodes of degree < ``k``; what survives is the k-core — the dense
    backbone where link farms and template rings concentrate. Like
    [[crawl_depth]]'s ``iters``, ``rounds`` is the documented iteration
    bound: each round is one degree hash-agg plus two semi-joins (restrict
    edges to surviving endpoints), and at convergence every surviving
    degree is ≥ k. Fixed rounds keep the operator oracle-able as an
    unrolled SQL CTE chain; peeling converges geometrically on web graphs
    (most sub-core nodes fall in the first round or two).

    The degree agg and both endpoint semi-joins key on the same node ids,
    so each round is a bounded number of node-keyed shuffles over a
    strictly SHRINKING edge set; per-round ``localCheckpoint`` truncates
    the lineage exactly like the other iterative graph ops (PageRank/BFS/
    [[crawl_frontier]]), keeping round r's plan O(1) deep rather than
    O(r). No driver-side state beyond the loop counter.

    Returns (doc_id, core_deg, in_core): core_deg = the node's degree in
    the graph surviving ``rounds`` peels (NULL once peeled or edgeless),
    in_core = survived with ≥ 1 edge.
    """
    nodes, sym = _symmetric_edges(docs)
    for _ in range(rounds):
        alive = (
            sym.groupBy("src").agg(F.count("*").alias("dg"))
            .filter(F.col("dg") >= k)
            .select(F.col("src").alias("node"))
        )
        sym = (
            sym.join(alive.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(alive.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .select("src", "dst")
        ).localCheckpoint(eager=True)  # truncate per-round lineage
    deg_f = sym.groupBy("src").agg(F.count("*").alias("core_deg"))
    return (
        nodes.join(deg_f, nodes.node == deg_f.src, "left")
        .select(
            "doc_id",
            F.col("core_deg").cast("long").alias("core_deg"),
            F.col("core_deg").isNotNull().alias("in_core"),
        )
    )


def reciprocal_links(docs: DataFrame) -> DataFrame:
    """Reciprocal-link audit: per source page, how many of its distinct
    outlinks link straight back — the mutual-link ratio that flags link
    exchanges and farm rings (organic links reciprocate rarely; quid-pro-quo
    rings reciprocate by construction).

    Shape: distinct simple edges (one dedup shuffle), then ONE (src, dst)
    equi-semi-join of the edge set against its own swap to mark mutual
    edges — never an all-pairs form — and a node-keyed count agg. The
    ratio is integer micro-units (DIV), same cross-engine-exact discipline
    as [[pagerank]]'s micro-rank units. Self-loops are excluded up front
    (a self-loop is trivially 'mutual' and would inflate the signal).

    Returns (doc_id, n_out, n_mutual, mutual_e6): n_out = distinct
    non-self outlinks, n_mutual = those whose reverse edge exists,
    mutual_e6 = n_mutual·1e6 DIV n_out (NULL when n_out = 0).
    """
    n_nodes = docs.select("doc_id").distinct().count()  # metadata-scale
    nodes = _doc_nodes(docs)
    edges = (
        synth_edges(docs, n_nodes)
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = (
        edges.join(rev, ["src", "dst"], "left_semi")
        .groupBy("src").agg(F.count("*").alias("n_mutual"))
    )
    outd = edges.groupBy("src").agg(F.count("*").alias("n_out"))
    per_src = (
        outd.join(mutual, "src", "left")
        .withColumn("n_mutual", F.coalesce("n_mutual", F.lit(0)))
    )
    return (
        nodes.join(per_src, nodes.node == per_src.src, "left")
        .select(
            "doc_id",
            F.coalesce("n_out", F.lit(0)).cast("long").alias("n_out"),
            F.coalesce("n_mutual", F.lit(0)).cast("long").alias("n_mutual"),
            F.expr("CASE WHEN n_out > 0 THEN CAST(n_mutual * 1000000 DIV n_out"
                   " AS BIGINT) END").alias("mutual_e6"),
        )
    )


def label_propagation(docs: DataFrame, rounds: int = 3) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007) over the undirected link graph — the clustering a crawl
    pipeline runs to group mirror/template/link-farm neighbourhoods that
    are DENSER than connected components can distinguish (CC merges
    anything touching; LPA splits a component along its sparse cuts).

    Determinism: every node starts labeled with its own id; each round
    every node SIMULTANEOUSLY adopts the most frequent label among its
    neighbours, ties broken by smallest label, isolated nodes keep their
    label. Synchronous updates + total-order tie-break make the result a
    pure function of the graph and ``rounds`` (asynchronous LPA is
    run-order dependent — useless under a cross-engine oracle). Like
    [[kcore]]'s ``rounds``, the iteration count is the documented bound;
    communities stabilize in a handful of rounds on power-law graphs.

    Shape per round: one (neighbour, label) hash-agg (map-side combine
    applies), one ``max_by`` argmax agg on the node key, one left join
    back onto the label table — all node-keyed shuffles, no all-pairs
    surface; ``localCheckpoint`` truncates per-round lineage exactly as
    in [[pagerank]]/[[kcore]]. The final size join keys on the label
    column; a mega-community is a single hot key only in that LAST join,
    where AQE skew-split applies (the iteration interior never joins on
    the label).

    Returns (doc_id, community, community_size).
    """
    nodes, sym = _symmetric_edges(docs)
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(rounds):
        votes = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("v"), "label")
            .agg(F.count("*").alias("c"))
        )
        # argmax by (count desc, label asc) == max_by over (c, -label):
        # a second partial-aggregating hash agg, never a per-node window
        winner = votes.groupBy("v").agg(
            F.expr("max_by(label, struct(c, -label))").alias("new_label"))
        labels = (
            labels.join(winner, labels.node == winner.v, "left")
            .select("node", F.coalesce("new_label", "label").alias("label"))
        ).localCheckpoint(eager=True)  # truncate per-round lineage
    sizes = labels.groupBy("label").agg(
        F.count("*").cast("long").alias("community_size"))
    return (
        nodes.join(labels, "node")
        .join(sizes, "label")
        .select("doc_id", F.col("label").cast("long").alias("community"),
                "community_size")
    )


def url_param_profile(urls: DataFrame) -> DataFrame:
    """Query-parameter census over a crawl frontier — the profiling read
    behind canonicalization rules ([[url_canonical]] strips a hand-listed
    utm_*/ref set; this measures what actually rides the URLs): per param
    key, URL count, distinct values, value-cardinality in bp of its URLs,
    and a class — ``constant`` (one value corpus-wide: pure decoration),
    ``low_cardinality`` (session/campaign-like), ``id_like`` (≥90%
    unique: selects content, must NOT be stripped).

    Map-only parse (regexp query extract → split → explode) + one (key)
    hash-agg; output is |param keys| rows at any crawl size.
    """
    query = F.regexp_extract(F.regexp_replace("url", r"#.*$", ""),
                             r"\?([^#]*)", 1)
    kv = (urls
          .select(F.explode(F.filter(F.split(query, "&"),
                                     lambda p: p != "")).alias("pair"))
          .select(F.regexp_extract("pair", r"^([^=]*)", 1).alias("key"),
                  F.regexp_extract("pair", r"=(.*)$", 1).alias("value")))
    agg = kv.groupBy("key").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("value").alias("n_values"))
    card = F.expr("CAST(CAST(n_values AS DECIMAL(38,0)) * 10000"
                  " DIV n_urls AS BIGINT)")
    return agg.select(
        "key", "n_urls", "n_values", card.alias("cardinality_bp"),
        F.when(F.col("n_values") == 1, "constant")
         .when(card >= 9000, "id_like")
         .otherwise("low_cardinality").alias("class"))


def trustrank(docs: DataFrame, iters: int = 3, seed_mod: int = 10) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina, Pedersen, VLDB 2004): PageRank
    with the teleport vector concentrated on a trusted seed set instead of
    uniform — rank can only flow OUT of seeds along links, so link-spam
    clusters with no inbound path from trusted pages starve toward zero.
    The web-pipeline companion of [[web_pagerank]]: rank ÷ trust is the
    classic spam-mass signal.

    Seeds are the md5-gated doc sample ``md5(doc_id:trust) % seed_mod ==
    0`` (deterministic; a real deployment injects its curated list).
    The same :func:`_rank_flow` loop as pagerank — sums are
    order-independent, so the distributed fold is bit-identical to the
    sequential oracle.
    """
    seed_flag = (F.conv(F.substring(F.md5(F.concat(
        F.col("doc_id").cast("string"), F.lit(":trust"))), 1, 8), 16, 10)
        .cast("long") % seed_mod == 0)
    return _rank_flow(docs, iters, seed_flag).select(
        "doc_id", F.col("rank").alias("trust_micro"), "is_seed")


def synth_redirects(docs: DataFrame, redirect_mod: int = 5) -> DataFrame:
    """Deterministic redirect table over the doc graph: every node whose
    md5 draw hits ``redirect_mod`` redirects to an md5-chosen node (often
    itself a redirect → multi-hop chains; self/cyclic targets possible —
    exactly the mess a crawler's canonicalizer sees). Returns
    (node, is_redir, target) with target = node for terminals."""
    n_nodes = docs.select("doc_id").distinct().count()
    nodes = _doc_nodes(docs)
    is_redir = (F.conv(F.substring(F.md5(F.concat(
        F.col("doc_id").cast("string"), F.lit(":redir"))), 1, 8), 16, 10)
        .cast("long") % redirect_mod == 0)
    target = (F.conv(F.substring(F.md5(F.concat(
        F.col("doc_id").cast("string"), F.lit(":rtarget"))), 1, 8), 16, 10)
        .cast("long") % n_nodes)
    return nodes.select(
        "doc_id", "node", is_redir.alias("is_redir"),
        F.when(is_redir, target).otherwise(F.col("node")).alias("target"))


def resolve_redirects(docs: DataFrame, redirect_mod: int = 5,
                      iters: int = 4) -> DataFrame:
    """Redirect-chain resolution by POINTER DOUBLING — the crawl
    canonicalization step that maps every URL to its final landing page:
    each of ``iters`` rounds composes the next-pointer with itself
    (`next ← next.next`, hop counts added), so chains up to 2^iters hops
    collapse in ``iters`` shuffles instead of chain-length shuffles — the
    log-round trick [[dedup_components]] uses for label propagation,
    applied to functional graphs. Cycles (incl. self-redirects) never
    reach a terminal and come back ``resolved = false``.

    Output: (doc_id, final_doc_id, hops, resolved) — final/hops NULL when
    unresolved. One equi-join per round on the node id; terminals are
    self-loops with hop 0, so they absorb chains exactly. Each round
    ends in an eager ``localCheckpoint``: a doubling SELF-join otherwise
    duplicates the whole upstream lineage every round (plan grows 2^k —
    measured 98 Exchange nodes without truncation vs ~8 with), which is
    the known failure mode of iterative plans ([[dedup_components]]
    truncates the same way).
    """
    r = synth_redirects(docs, redirect_mod)
    term = r.select(F.col("node").alias("t_node"),
                    (~F.col("is_redir")).alias("t_term"))
    ptr = (r.select(
        "node", F.col("target").alias("next"),
        F.when(F.col("is_redir"), F.lit(1)).otherwise(F.lit(0))
         .cast("long").alias("dist"))
        .join(term, F.col("next") == F.col("t_node"))
        .select("node", "next", "dist", F.col("t_term").alias("next_term")))
    for _ in range(iters):
        ptr = ptr.localCheckpoint(eager=True)
        b = ptr.select(F.col("node").alias("b_node"),
                       F.col("next").alias("b_next"),
                       F.col("dist").alias("b_dist"),
                       F.col("next_term").alias("b_term"))
        ptr = (ptr.join(b, ptr.next == b.b_node)
               .select("node",
                       F.when(F.col("next_term"), F.col("next"))
                        .otherwise(F.col("b_next")).alias("next"),
                       F.when(F.col("next_term"), F.col("dist"))
                        .otherwise(F.col("dist") + F.col("b_dist"))
                        .alias("dist"),
                       F.when(F.col("next_term"), F.lit(True))
                        .otherwise(F.col("b_term")).alias("next_term")))
    nodes = r.select("doc_id", "node")
    finals = nodes.select(F.col("doc_id").alias("final_doc_id"),
                          F.col("node").alias("f_node"))
    return (nodes.join(ptr, "node")
            .join(finals, F.col("next") == F.col("f_node"))
            .select(
                "doc_id",
                F.when(F.col("next_term"), F.col("final_doc_id"))
                 .alias("final_doc_id"),
                F.when(F.col("next_term"), F.col("dist")).alias("hops"),
                F.col("next_term").alias("resolved")))


def host_graph(docs: DataFrame) -> DataFrame:
    """Host-level link graph — the compression every web-graph pipeline
    applies before ranking at scale (PageRank on 10^12 pages vs ~10^8
    hosts): page edges collapse through the page→host map into weighted
    host edges (n_links, distinct source pages, intra-host flag). The
    page→host joins are broadcastable at sandbox scale and bucketed
    equi-joins at 100 TB; the final hash-agg is |host|²-bounded, Zipf-
    concentrated in practice.

    Returns (src_host, dst_host, n_links, n_src_pages, intra_host).
    """
    n_nodes = docs.select("doc_id").distinct().count()
    nodes = _doc_nodes(docs)
    hosts = synth_hosts(docs).join(nodes, "doc_id").select(
        "node", "host")
    edges = synth_edges(docs, n_nodes)
    e = (edges
         .join(hosts.select(F.col("node").alias("src"),
                            F.col("host").alias("src_host")), "src")
         .join(hosts.select(F.col("node").alias("dst"),
                            F.col("host").alias("dst_host")), "dst"))
    return (e.groupBy("src_host", "dst_host")
            .agg(F.count("*").alias("n_links"),
                 F.countDistinct("src").alias("n_src_pages"))
            .withColumn("intra_host", F.col("src_host") == F.col("dst_host")))
