"""Deterministic sampling + sketching primitives for corpus curation:
hash-based Bernoulli/stratified sampling and a KMV (k-minimum-values)
distinct-count sketch.

Hash-based determinism is the point: the same row samples the same way on
every executor, every rerun, every engine — no RNG state to coordinate —
which is what makes 100 TB sampling reproducible and what lets the DuckDB
oracle hash-match bit-for-bit (HLL/approx_count_distinct cannot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ranks import running_total, salted_topk
from .text import md5_long, with_tokens

_HEX15 = 16 ** 15  # 15 hex digits fit a signed 64-bit long exactly


def _hash_frac(col) -> F.Column:
    """md5 → first 15 hex digits as a long — a uniform draw in [0, 16^15).
    Kept as an exact integer until the final division so every engine
    computes the identical double. Canonical definition: text.md5_long."""
    return md5_long(col)


def bernoulli_sample(docs: DataFrame, pct: int) -> DataFrame:
    """Keep ~pct% of rows by hash threshold: md5(doc_id) mod 100 < pct.
    Deterministic, rerun-stable, and pushes down as a plain filter."""
    return docs.filter((_hash_frac(F.col("doc_id").cast("string")) % 100) < pct)


def stratified_sample(docs: DataFrame, strata: list[str], n_per_stratum: int,
                      salts: int = 8) -> DataFrame:
    """Per-stratum deterministic top-n by hash rank — the data-mixing
    primitive (equal-size draws per (lang, source) cell regardless of cell
    skew). Rank ties are impossible because the order key includes the
    unique ``doc_id`` column.

    Strata cells are few and can be huge (one (lang, source) cell may own
    half the corpus), so a single window over the strata key would funnel
    that cell through ONE sorted task — the same Zipf hazard
    [[web_domain_cap]] solves. Same fix: two-stage top-n — stage 1 ranks
    within (strata, salt) and keeps ``n_per_stratum`` per salted slice,
    stage 2 re-ranks the ≤ salts·n survivors per stratum. The union of
    per-salt top-n is a superset of the global top-n, so the result is
    EXACTLY the single-window answer while no task ever sorts more than
    one salt's share of a cell (the shared [[salted_topk]] primitive)."""
    h = _hash_frac(F.col("doc_id").cast("string"))
    base = docs.withColumn("__h", h)
    return salted_topk(
        base, list(strata), [F.col("__h").asc(), F.col("doc_id").asc()],
        n_per_stratum, salt_on="doc_id", rank_name="rank", salts=salts,
    ).select("doc_id", *strata, "rank")


def char_budget_mix(docs: DataFrame, budget_chars: int,
                    boosted: tuple[str, ...] = (),
                    boost: float = 2.0) -> DataFrame:
    """Data-mixing under a corpus budget: split ``budget_chars`` across
    sources proportionally to per-source weights (``boost`` for sources in
    ``boosted``, 1.0 otherwise), then within each source keep documents in
    deterministic hash-rank order while the running char total stays within
    that source's share. This is the up-sample/down-sample step every
    pretraining mix applies after filtering, made rerun-stable: hash order
    means adding documents to the corpus never reshuffles which earlier
    documents are kept.

    The total weight over distinct sources is a single driver-side scalar
    (same pattern as the IVF centroids: bytes, not rows, reach the driver)
    inlined as a literal.

    The per-source running total is the scale trap: sources are FEW and
    huge, so ``Window.partitionBy("source")`` would drag a source's whole
    slice of a 100 TB corpus through one sorted task. Instead it is a
    [[running_total]] of n_chars per source over the total order
    (hash, doc_id) on the wide, range-partitioned plan — the same numbers
    as the single window, NULL source included. Output: (doc_id, source,
    n_chars, cum_chars)."""
    w_col = F.when(F.col("source").isin(*boosted) if boosted else F.lit(False),
                   F.lit(float(boost))).otherwise(F.lit(1.0))
    total_w = float(
        docs.select("source").distinct().agg(F.sum(w_col)).collect()[0][0]
    )
    h = _hash_frac(F.col("doc_id").cast("string"))
    d = docs.select("doc_id", "source", "n_chars").withColumn("__h", h)
    return (
        running_total(d, ["source"], ["__h", "doc_id"], "cum_chars",
                      value="n_chars", wide=True)
        .filter(F.col("cum_chars") <= F.lit(float(budget_chars)) * w_col / F.lit(total_w))
        .select("doc_id", "source", "n_chars", "cum_chars")
    )


def _group_tokens(docs: DataFrame, group: str) -> DataFrame:
    """Distinct (group, token) pairs — the shared KMV input."""
    return (
        docs.select(group, F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
        .distinct()
    )


def _kmv_sketch(toks: DataFrame, group: str, k: int, salts: int = 8) -> DataFrame:
    """The k smallest (h, token) per group — the KMV sketch itself, built
    with the salted two-stage top-k (same skew discipline as
    [[web_domain_cap]]): stage 1 ranks within (group, salt) and keeps k per
    salted slice, stage 2 re-ranks the ≤ salts·k survivors per group. The
    union of per-salt top-k is a superset of the global top-k, so the
    sketch is EXACTLY the single-window answer while no task ever sorts
    more than one salt's share of a group's vocabulary (groups are few —
    sources/corpora — and their vocabularies are corpus-scale, the Zipf
    shape a bare ``Window.partitionBy(group)`` would funnel through one
    task; the shared [[salted_topk]] primitive). Returns
    (group, token, h, rk) with rk ≤ k global rank."""
    base = toks.withColumn("h", _hash_frac("token"))
    return salted_topk(
        base, [group], [F.col("h").asc(), F.col("token").asc()],
        k, salt_on="token", rank_name="rk", salts=salts,
    ).select(group, "token", "h", "rk")


def kmv_distinct(docs: DataFrame, group: str, k: int = 64) -> DataFrame:
    """KMV distinct-token estimate per group: hash every distinct token,
    keep the k smallest hashes, estimate distinct = (k-1) / u_k where u_k is
    the k-th smallest hash scaled to [0,1) (Bar-Yossef et al. 2002).

    Unlike HLL, the estimator is a pure function of the k smallest hashes,
    so it is deterministic and engine-portable — the DuckDB oracle
    hash-matches exactly. The sketch is mergeable (union = k smallest of
    the concatenation) and is built with the salted two-stage top-k
    (see [[_kmv_sketch]]) so no task ever sorts a whole group's
    vocabulary; the exact distinct count rides a separate hash-agg with
    map-side partials. Groups with fewer than k distinct tokens report the
    exact count. Ordering ties are broken by the token itself, so rank k
    is well-defined even under md5-prefix collisions.
    """
    toks = _group_tokens(docs, group)
    counts = toks.groupBy(group).agg(F.count("*").alias("n_distinct"))
    hk = _kmv_sketch(toks, group, k).groupBy(group).agg(
        F.max(F.when(F.col("rk") == k, F.col("h"))).alias("h_k"))
    per_group = counts.join(hk, group, "left")
    est = F.when(
        F.col("h_k").isNotNull(),
        F.round((k - 1) / (F.col("h_k") / F.lit(float(_HEX15))), 6),
    ).otherwise(F.col("n_distinct").cast("double"))
    return per_group.select(group, est.alias("est_distinct"))


def weighted_sample(docs: DataFrame, k: int = 50) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES,
    2006): every row draws u = md5-uniform in (0, 1] and scores
    ln(u) / w — the top-k scores are exactly a weight-proportional sample
    without replacement (the log form of the u^(1/w) key; monotone, so the
    ranking is identical). Quality-weighted corpus selection with a
    deterministic, rerun-stable draw.

    Scale shape: no global sort — ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject (per-partition top-k heaps + a k-row driver
    merge), so 10^12 rows cost one map pass. The score is one ln and one
    division per row, all codegen.

    Output: (doc_id, source, n_chars, round(score, 6)) for the k sampled
    rows, weighted by ``n_chars``.
    """
    u = (_hash_frac(F.col("doc_id").cast("string")) + 1) / F.lit(float(_HEX15))
    score = F.log(u) / F.col("n_chars")
    return (
        docs.select("doc_id", "source", "n_chars", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
        .withColumn("score", F.round("score", 6))
    )


def hll_distinct(docs: DataFrame, group: str, p: int = 8,
                 value: str | None = None) -> DataFrame:
    """HyperLogLog distinct-token estimate per group (Flajolet 2007) —
    the constant-size counterpart of [[kmv_distinct]]: m = 2^p registers,
    register j keeps the max leading-zero rank of the hashes landing in it.

    Shuffle shape is the whole point at 100 TB: NO distinct pass at all —
    ``groupBy(group, register).max(rank)`` is one shuffle whose map-side
    partial max IS the sketch merge, and at most m rows per group survive
    per partition regardless of corpus size. Registers are mergeable
    cell-wise (max), so per-shard sketches union for free.

    Engine determinism: the 60-bit md5 hash splits into (register = low p
    bits, w = high 60−p bits); rank = leading zeros of w + 1 via the
    *integer* bit length (``bin()`` string length — no float log2). The
    harmonic sum Σ 2^−M_j is accumulated in fixed point (terms
    ``2^(53−M_j)`` as BIGINT — exact, order-independent), so the only float
    ops are the final division and the small-range ``m·ln(m/V)`` correction,
    both rounded to 6.

    ``value`` counts distinct values of that column instead of distinct
    tokens (no explode — e.g. distinct texts per source).

    Output: (group, v_zeros, est_distinct)."""
    m = 1 << p
    # Flajolet's small-m bias constants; the closed form above m=64
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1 + 1.079 / m))
    if value is None:
        toks = (
            docs.select(group,
                        F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
            .filter(F.col("token") != "")
        )
    else:
        toks = docs.select(group, F.col(value).alias("token"))
    h = _hash_frac("token")
    w = (h / m).cast("long")  # floor: h >= 0
    rank = F.when(w == 0, F.lit(61 - p)).otherwise(
        F.lit(61 - p) - F.length(F.bin(w)))
    regs = (
        toks.withColumn("reg", F.pmod(h, F.lit(m)))
        .withColumn("rank", rank)
        .groupBy(group, "reg")
        .agg(F.max("rank").alias("M"))
    )
    scale = 61 - p  # rank_max: fixed-point terms 2^(scale - M) are exact ints
    per_group = regs.groupBy(group).agg(
        F.count("*").alias("n_regs"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {scale} - M)")).alias("sum_present"),
    )
    v = F.lit(m) - F.col("n_regs")
    sum_int = F.col("sum_present") + v * F.lit(1 << scale)
    e_raw = F.lit(alpha * m * m * float(1 << scale)) / sum_int
    est = F.when((e_raw <= 2.5 * m) & (v > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / v)).otherwise(e_raw)
    return per_group.select(
        F.col(group),
        v.cast("long").alias("v_zeros"),
        F.round(est, 6).alias("est_distinct"),
    )


def temperature_rebalance(docs: DataFrame, group: str = "lang") -> DataFrame:
    """Temperature-based corpus rebalancing (the multilingual-LM sampling
    rule q_g ∝ p_g^α at α = 0.5): per-group keep rate
    ``sqrt(n_min / n_g)`` — the rarest group keeps everything, a group 100x
    its size keeps 10% — applied as a deterministic hash draw per document.

    α is pinned to 0.5 on purpose: the rate is then one IEEE division and
    one sqrt, BOTH correctly-rounded operations, so every engine computes
    the bit-identical rate and the hash-threshold comparison can never flip
    (a general pow() is not correctly rounded and could disagree in the last
    ulp). Group sizes come from one tiny agg joined back by broadcast; the
    draw itself is the same md5 uniform used across this module.

    Output: kept rows (doc_id, group, keep_rate rounded to 9)."""
    sizes = docs.groupBy(group).agg(F.count("*").alias("n_g"))
    n_min = sizes.agg(F.min("n_g")).collect()[0][0]
    rate = F.sqrt(F.lit(float(n_min)) / F.col("n_g"))
    rated = docs.join(F.broadcast(sizes), group).withColumn("keep_rate", rate)
    u = _hash_frac(F.col("doc_id").cast("string")) / F.lit(float(_HEX15))
    return (
        rated.filter(u < F.col("keep_rate"))
        .select("doc_id", group, F.round("keep_rate", 9).alias("keep_rate"))
    )


def _cm_col(token, i: int, w: int) -> F.Column:
    """Row-i count-min column of a token: md5("{i}:" || token) mod w."""
    return md5_long(F.concat(F.lit(f"{i}:"), token)) % w


def countmin_sketch(tokens: DataFrame, d: int = 4, w: int = 256) -> DataFrame:
    """Count-min sketch over a token-occurrence stream (column ``token``):
    a d×w grid of counters as (row, col, cnt) — at most d·w rows however
    large the corpus, built by ONE map-side-combined hash-agg. Mergeable by
    construction (cell-wise sum), so per-partition / per-day sketches union
    and re-agg — the streaming/incremental path at 100 TB."""
    melted = tokens.select(
        F.posexplode(F.array(*[_cm_col(F.col("token"), i, w)
                               for i in range(d)])).alias("row", "col"))
    return melted.groupBy("row", "col").agg(F.count("*").alias("cnt"))


def heavy_hitters_cm(docs: DataFrame, k: int = 20, d: int = 4,
                     w: int = 256) -> DataFrame:
    """Frequent-token estimation: exact top-k tokens (ties to the smaller
    token) with their count-min estimates alongside the true counts. The
    count-min guarantee ``estimate >= exact`` holds per row; the gap
    measures collision pressure at the chosen (d, w).

    At scale the exact side is the expensive one (full token groupBy); the
    sketch answers the same point queries from d·w counters and is what a
    dashboard or per-shard merge would use. Output: (token, exact_cnt,
    cm_estimate)."""
    toks = with_tokens(docs).select(F.explode("tokens").alias("token"))
    exact = toks.groupBy("token").agg(F.count("*").alias("exact_cnt"))
    # orderBy().limit(k) compiles to TakeOrderedAndProject — per-partition
    # partial top-k, NOT the single-reducer global-window row_number
    topk = exact.orderBy(F.col("exact_cnt").desc(), F.col("token").asc()).limit(k)
    sketch = countmin_sketch(toks, d, w)
    probes = topk.select(
        "token", "exact_cnt",
        F.posexplode(F.array(*[_cm_col(F.col("token"), i, w)
                               for i in range(d)])).alias("row", "col"))
    return (
        probes.join(sketch, ["row", "col"])
        .groupBy("token", "exact_cnt")
        .agg(F.min("cnt").alias("cm_estimate"))
    )

def dsir_scores(raw: DataFrame, target: DataFrame, k: int = 100) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169): score each
    raw-corpus document by its unigram log-likelihood ratio
    ``log p_target(doc) − log p_raw(doc)`` with Laplace smoothing over the
    union vocabulary; the top-scoring documents are the ones that look most
    like the target domain.

    Scale shape: both corpora collapse to vocab-sized count tables (one
    hash-agg each, map-side combined); the ratio table joins the raw-corpus
    postings on token (broadcastable — vocabularies are Zipf-bounded); the
    per-doc score is one more hash-agg. Per-token-type contributions are
    rounded to 6 decimals before summation (the cross-engine determinism
    rule used by BM25).

    Returns one audit row per raw doc: (doc_id, score, rank, selected).
    """
    def counts(docs: DataFrame, alias: str) -> DataFrame:
        return (
            with_tokens(docs)
            .select(F.explode("tokens").alias("token"))
            .filter(F.col("token") != "")
            .groupBy("token").agg(F.count("*").cast("long").alias(alias))
        )

    cr, ct = counts(raw, "cr"), counts(target, "ct")
    w = (
        cr.join(ct, "token", "full")
        .select("token",
                F.coalesce("cr", F.lit(0)).alias("cr"),
                F.coalesce("ct", F.lit(0)).alias("ct"))
    )
    stats = w.select(
        F.count("*").cast("long").alias("v"),
        F.sum("cr").cast("long").alias("nr"),
        F.sum("ct").cast("long").alias("nt"),
    ).withColumn("__k", F.pmod(F.col("v"), F.lit(1)))   # no-BNLJ 1-row attach
    lr = (
        w.withColumn("__k", F.pmod(F.col("cr") + F.col("ct"), F.lit(1)))
        .join(F.broadcast(stats), "__k").drop("__k")
        .withColumn("lr", F.round(
            F.log((F.col("ct") + 1.0) / (F.col("nt") + F.col("v"))) -
            F.log((F.col("cr") + 1.0) / (F.col("nr") + F.col("v"))), 6))
        .select("token", "lr")
    )
    tf = (
        with_tokens(raw)
        .select("doc_id", F.explode("tokens").alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token").agg(F.count("*").cast("long").alias("tf"))
    )
    scored = (
        tf.join(lr, "token")
        .withColumn("contrib", F.round(F.col("tf") * F.col("lr"), 6))
        .groupBy("doc_id").agg(F.round(F.sum("contrib"), 6).alias("score"))
    )
    # top-k via orderBy+limit → TakeOrderedAndProject (per-partition heaps +
    # driver merge of k rows), NOT a global no-partition window, which would
    # funnel the whole corpus through one task at scale; the k selected rows
    # then broadcast back onto the audit set for the rank/selected flags.
    sel = (
        scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
        .withColumn("rank", F.row_number().over(
            Window.partitionBy(F.lit(0)).orderBy(
                F.col("score").desc(), F.col("doc_id").asc())))
        .select("doc_id", F.col("rank").alias("sel_rank"))
    )
    return (
        scored.join(F.broadcast(sel), "doc_id", "left")
        .select("doc_id", "score",
                F.col("sel_rank").alias("rank"),
                F.col("sel_rank").isNotNull().alias("selected"))
    )


def leakage_safe_split(docs: DataFrame) -> DataFrame:
    """Cluster-aware train/validation/test split: the split key is the
    near-dup CLUSTER (connected components over MinHash-LSH candidate
    pairs), not the document — so near-duplicates can never straddle splits
    and leak training content into evaluation. Documents outside any cluster
    are their own group.

    Assignment is a deterministic md5 hash draw on the group id
    (train < 8 ≤ validation < 9 ≤ test out of 10) —
    engine- and partitioning-independent, reproducible on any cluster size.

    Scale shape: candidate pairs + O(log diameter) component rounds are the
    dominant cost (both bucketed equi-joins); the split itself is one left
    join on doc_id plus a map-only hash. Returns
    (doc_id, group_id, group_size, split).
    """
    from .dedup import candidate_pairs, connected_components

    comps = connected_components(candidate_pairs(docs)).withColumnRenamed(
        "node", "doc_id")
    grouped = (
        docs.select("doc_id")
        .join(comps, "doc_id", "left")
        .withColumn("group_id", F.coalesce("component", F.col("doc_id")))
    )
    sizes = grouped.groupBy("group_id").agg(
        F.count("*").cast("long").alias("group_size"))
    draw = F.pmod(md5_long(F.col("group_id").cast("string")), F.lit(10))
    return (
        grouped.join(sizes, "group_id")
        .withColumn(
            "split",
            F.when(draw < 8, "train")
            .when(draw < 9, "validation")
            .otherwise("test"),
        )
        .select("doc_id", "group_id", "group_size", "split")
    )


def hist_quantile_sketch(docs: DataFrame, group: str = "source",
                         value: str = "n_chars", bins: int = 32,
                         qs: tuple = (50, 90, 99)) -> DataFrame:
    """Mergeable equi-width histogram sketch → interpolated per-group
    quantiles, fully integer-exact.

    The sketch is a fixed ``bins``-counter grid per group: one tiny
    min/max/count pre-agg (broadcast back), then ``bin = (v - mn) DIV width``
    and a hash-agg on (group, bin) — map-side partial sums ARE the sketch
    merge, so the shuffle moves at most ``groups x bins`` counters no matter
    how many rows feed it (the same one-shuffle discipline as hll_distinct).
    Quantile read-out walks the ≤``bins``-row cumulative window per group and
    linearly interpolates inside the containing bin with integer division:

        target(q) = (n*q + 99) DIV 100          # 1-based ceil rank
        est(q)    = mn + bin*width + ((target - cum_before - 1) * width) DIV cnt

    Exact-integer arithmetic end to end, so Spark and the DuckDB oracle
    agree bit-for-bit. The interpolation product (rank-in-bin × width) is
    bounded by n·(mx−mn)/bins — for a wide-range ``value`` column (byte
    offsets, timestamps) at 10^12 rows that exceeds BIGINT, so it runs in
    DECIMAL(38,0) (oracle: HUGEINT) rather than silently wrapping with
    ANSI off; same discipline as [[basket_lift]]. Returns (group, q, n,
    est).
    """
    ext = docs.groupBy(group).agg(
        F.min(value).alias("mn"), F.max(value).alias("mx"),
        F.count("*").alias("n"))
    ext = ext.withColumn("width", F.expr(f"(mx - mn) DIV {bins} + 1").cast("long"))
    binned = docs.join(F.broadcast(ext), group).select(
        group, "mn", "width", "n",
        F.expr(f"CAST(({value} - mn) DIV width AS BIGINT)").alias("bin"))
    hist = binned.groupBy(group, "mn", "width", "n", "bin").agg(
        F.count("*").alias("cnt"))
    w = Window.partitionBy(group).orderBy("bin")
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    qdf = cum.select(
        "*", F.explode(F.array(*[F.lit(q) for q in qs])).alias("q"))
    qdf = qdf.withColumn("target", F.expr("(n * q + 99) DIV 100"))
    return (
        qdf.filter((F.col("cum") >= F.col("target")) &
                   (F.col("cum") - F.col("cnt") < F.col("target")))
        .select(
            group, F.col("q").cast("int").alias("q"), "n",
            F.expr("CAST(mn + bin*width + (CAST(target - (cum - cnt) - 1"
                   " AS DECIMAL(38,0)) * width) DIV cnt AS BIGINT)")
            .alias("est"))
    )


def quantile_bucket_assign(docs: DataFrame) -> DataFrame:
    """Curriculum bucketing without a global sort: the histogram sketch's
    interpolated quantile estimates become per-group broadcast boundaries,
    and each document's bucket is simply the count of boundaries strictly
    below its ``n_chars`` (0..3, boundaries at the per-``source`` p50,
    p90 and p99). This is how you rank 10^12 docs into
    quantile bands at scale — a global ntile() would funnel the corpus
    through one sorted partition; here the only full-data pass is the
    sketch's (group, bin) hash-agg, and assignment is a broadcast join of
    |groups|×3 boundary rows + a map-side conditional sum.

    Integer-exact end to end (inherits the sketch's integer read-out), so
    Spark and the oracle agree bit-for-bit. Returns
    (doc_id, source, n_chars, bucket).
    """
    est = hist_quantile_sketch(docs).select("source", "est")
    return (
        docs.join(F.broadcast(est), "source")
        .groupBy("doc_id", "source", "n_chars")
        .agg(F.sum(F.when(F.col("est") < F.col("n_chars"), 1).otherwise(0))
             .cast("long").alias("bucket"))
    )


def hll_error_audit(docs: DataFrame, group: str = "source", p: int = 4,
                    value: str = "text") -> DataFrame:
    """Sketch-accuracy audit: the HLL estimate next to the exact distinct
    count per group, with the relative error in integer basis points — the
    number you publish before replacing COUNT(DISTINCT) with a sketch in a
    production rollup (m=2^p registers ⇒ ~1.04/√m expected stderr; p=4 →
    ~26%, deliberately coarse so the audit has visible signal).

    The exact side costs the distinct pass the sketch avoids — that's the
    point of an audit: run it on a sampled slice or one canary partition,
    then trust the sketch everywhere else. One join of |groups| rows.
    """
    est = hll_distinct(docs, group, p, value)
    exact = docs.groupBy(group).agg(
        F.countDistinct(F.md5(value)).alias("exact_distinct"))
    err = F.round(
        F.abs(F.col("est_distinct") - F.col("exact_distinct").cast("double"))
        / F.col("exact_distinct").cast("double") * 10000)
    return (
        est.join(exact, group)
        .select(group, "est_distinct", "exact_distinct",
                err.cast("long").alias("err_bp"))
    )


def kmv_set_ops(docs: DataFrame, group: str = "source", k: int = 64) -> DataFrame:
    """Sketch set algebra (the theta-sketch trick on KMV): estimate
    |A∪B|, |A∩B| and Jaccard for every pair of groups FROM THE SKETCHES
    ALONE — the k smallest hashes per group are all that travels, so
    cross-corpus overlap questions cost |groups|·k rows, not a re-scan.

    Union sketch = k smallest of the two sketches' concatenation (dedupe by
    token); |A∪B| = (k−1)/u_k as in [[kmv_distinct]]; Jaccard = fraction of
    the union sketch's k survivors present in BOTH sketches (Beyer et al.
    2007); |A∩B| = Jaccard × |A∪B|. When the combined sketch holds fewer
    than k tokens both inputs were exact, so the outputs are exact too.
    All md5-integer arithmetic until the final divisions — engine-portable.

    Returns (a, b, union_est, inter_est, jaccard_est).
    """
    sketch = _kmv_sketch(_group_tokens(docs, group), group, k) \
        .select(group, "token", "h")
    srcs = (docs.select(group).distinct()
            .withColumn("__k", F.pmod(F.length(group), F.lit(1))))
    pairs = (
        srcs.select(F.col(group).alias("a"), "__k")
        .join(F.broadcast(srcs.select(F.col(group).alias("b"), "__k")), "__k")
        .filter(F.col("a") < F.col("b")).select("a", "b")
    )
    ra = pairs.join(sketch.withColumnRenamed(group, "a"), "a").select(
        "a", "b", "token", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    rb = pairs.join(sketch.withColumnRenamed(group, "b"), "b").select(
        "a", "b", "token", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    comb = (
        ra.unionByName(rb)
        .groupBy("a", "b", "token")
        .agg(F.min("h").alias("h"), F.max("in_a").alias("in_a"),
             F.max("in_b").alias("in_b"))
    )
    wp = Window.partitionBy("a", "b").orderBy(F.col("h").asc(), F.col("token").asc())
    g = (
        comb.withColumn("rk", F.row_number().over(wp))
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("n_comb"),
            F.max(F.when(F.col("rk") == k, F.col("h"))).alias("u_k"),
            F.sum(F.when((F.col("rk") <= k) & (F.col("in_a") == 1)
                         & (F.col("in_b") == 1), 1).otherwise(0)).alias("shared_topk"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("shared_all"),
        )
    )
    union_est = F.when(
        F.col("u_k").isNotNull(),
        F.round((k - 1) / (F.col("u_k") / F.lit(float(_HEX15))), 6),
    ).otherwise(F.col("n_comb").cast("double"))
    jacc = F.when(
        F.col("u_k").isNotNull(),
        F.round(F.col("shared_topk") / F.lit(float(k)), 6),
    ).otherwise(F.round(F.col("shared_all") / F.col("n_comb"), 6))
    return g.select(
        "a", "b",
        union_est.alias("union_est"),
        F.round(union_est * jacc, 6).alias("inter_est"),
        jacc.alias("jaccard_est"),
    )


def kmv_containment(docs: DataFrame, group: str = "source", k: int = 64) -> DataFrame:
    """Directed containment from sketches: C(A→B) = |A∩B| / |A| — the
    asymmetric overlap Jaccard hides (a boilerplate block fully inside a
    big corpus has tiny Jaccard but containment ≈ 1; this is the signal
    quote/boilerplate/subset-corpus detection needs). Pure composition:
    [[kmv_set_ops]] supplies the pairwise intersection estimate,
    [[kmv_distinct]] each side's own cardinality estimate — everything
    still derives from the k-minimum-value sketches, so the question costs
    |groups|·k rows. Returns (a, b, inter_est, est_a, est_b,
    cont_a_in_b_e6, cont_b_in_a_e6).
    """
    so = kmv_set_ops(docs, group, k)
    kd = kmv_distinct(docs, group, k)
    ea = kd.select(F.col(group).alias("a"), F.col("est_distinct").alias("est_a"))
    eb = kd.select(F.col(group).alias("b"), F.col("est_distinct").alias("est_b"))
    return (
        so.join(F.broadcast(ea), "a").join(F.broadcast(eb), "b")
        .select(
            "a", "b", "inter_est", "est_a", "est_b",
            F.round(F.col("inter_est") / F.col("est_a") * 1e6).cast("long")
            .alias("cont_a_in_b_e6"),
            F.round(F.col("inter_est") / F.col("est_b") * 1e6).cast("long")
            .alias("cont_b_in_a_e6"),
        )
    )


def unimax_mixture(docs: DataFrame, budget_tokens: int,
                   max_epochs: int = 2) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, arXiv:2304.09151):
    split a token budget across sources so that no source repeats more
    than ``max_epochs`` times and every uncapped source gets an equal
    share — the source/language-balancing planner that replaces
    temperature guesswork with an explicit epoch bound.

    Closed form instead of the paper's sequential loop: sort sources by
    cap (``n_tokens·max_epochs``) ascending; source j is CAPPED iff
    giving it and every later source a share of its cap still fits —
    ``cap_j·(S−j+1) + P_{j−1} ≤ B`` with P the cap prefix sum (the
    condition is monotone in j, the standard water-filling argument), so
    one window pass decides every source. Capped sources take their full
    cap; the rest split the remainder equally (integer division, with the
    leftover ``(B−P_k) mod (S−k)`` given to the LAST uncapped source so
    ``Σ alloc = min(B, Σ cap)`` exactly).

    Scale shape: ONE corpus hash-agg (per-source token totals, map-side
    combined); all planning arithmetic rides the |sources|-row table
    (windows over ≤|sources| rows — sources are few by construction).
    Feed the resulting per-source budgets into
    [[char_budget_mix]]/temperature sampling to apply them.

    Returns (source, n_tokens, cap_tokens, capped, alloc_tokens,
    epochs_e6) ordered by (cap_tokens, source); ``epochs_e6`` =
    alloc·1e6 DIV n_tokens, the realized repeat factor.
    """
    per_src = (
        with_tokens(docs)
        .select("source",
                F.size(F.filter("tokens", lambda t: t != ""))
                .cast("long").alias("n"))
        .groupBy("source").agg(F.sum("n").alias("n_tokens"))
        .withColumn("cap_tokens", F.col("n_tokens") * max_epochs)
    )
    w_ord = Window.orderBy("cap_tokens", "source")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = w_ord.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    B = int(budget_tokens)
    planned = (
        per_src
        .withColumn("j", F.row_number().over(w_ord))
        .withColumn("S", F.count("*").over(w_all))
        .withColumn("P", F.sum("cap_tokens").over(w_cum))
        .withColumn("capped", F.expr(
            f"cap_tokens * (S - j + 1) + (P - cap_tokens) <= {B}"))
        .withColumn("k", F.sum(F.col("capped").cast("long")).over(w_all))
        .withColumn("P_k", F.sum(
            F.when(F.col("capped"), F.col("cap_tokens")).otherwise(F.lit(0))
        ).over(w_all))
    )
    share = F.expr(f"({B} - P_k) DIV (S - k)")
    rem = F.expr(f"({B} - P_k) % (S - k)")
    return (
        planned
        .withColumn("alloc_tokens", F.when(F.col("capped"), F.col("cap_tokens"))
                    .when(F.col("j") == F.col("S"), share + rem)
                    .otherwise(share))
        .select("source", "n_tokens", "cap_tokens", "capped", "alloc_tokens",
                F.expr("CAST(CAST(alloc_tokens AS DECIMAL(38,0)) * 1000000"
                       " DIV GREATEST(n_tokens, 1) AS BIGINT)")
                .alias("epochs_e6"))
        .orderBy("cap_tokens", "source")
    )


# Poisson(1) CDF thresholds scaled to 1e6, precomputed so the replicate
# weights are pure integer comparisons (same constants in the SQL oracle):
# P(K<=k) for k=0..5; the residual tail (~0.06%) maps to weight 6.
POISSON1_CDF_E6 = (367879, 735759, 919699, 981012, 996340, 999406)


def poisson_bootstrap(docs: DataFrame, n_reps: int = 20) -> DataFrame:
    """Distributed confidence intervals via the POISSON BOOTSTRAP (the
    big-data bootstrap: per replicate, each row's resample multiplicity is
    an independent Poisson(1) draw — no global N needed, so the resample
    is a map-side weight, not a shuffle; Chamandy et al., Google 2012).
    Each (row, replicate) weight comes from an md5-derived uniform pushed
    through the precomputed Poisson(1) CDF table above — integer
    comparisons only, engine-exact and rerun-stable.

    Output: one row per replicate with the weighted count, sum and mean
    (×1e6, truncating DIV) of ``n_chars`` — the replicate spread IS the
    sampling distribution of the corpus mean; downstream takes p2.5/p97.5
    of these B rows for the interval. Scale shape: one explode by
    ``n_reps`` (the only fan-out; B=20-50 is the published sweet spot)
    into a (replicate) hash-agg — no resample materialization, no global
    sort.
    """
    u = F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.col("doc_id").cast("string"), F.col("rep").cast("string"),
        F.lit("boot"))), 1, 15), 16, 10).cast("long") % 1000000
    cdf = POISSON1_CDF_E6
    wgt = (F.when(u < cdf[0], 0).when(u < cdf[1], 1).when(u < cdf[2], 2)
           .when(u < cdf[3], 3).when(u < cdf[4], 4).when(u < cdf[5], 5)
           .otherwise(6).cast("long"))
    reps = (docs.select("doc_id", F.col("n_chars").cast("long").alias("v"))
            .select("doc_id", "v",
                    F.explode(F.sequence(F.lit(0), F.lit(n_reps - 1)))
                     .alias("rep"))
            .withColumn("w", wgt))
    dec = "DECIMAL(38,0)"
    return (reps.groupBy("rep")
            .agg(F.sum("w").alias("n_eff"),
                 F.sum(F.expr(f"CAST(w AS {dec}) * v")).alias("wsum"))
            .select(F.col("rep").cast("long").alias("rep"),
                    F.col("n_eff").cast("long").alias("n_eff"),
                    F.col("wsum").cast("long").alias("wsum"),
                    F.expr(f"CAST(CAST(wsum AS {dec}) * 1000000"
                           " DIV greatest(n_eff, 1) AS BIGINT)")
                     .alias("mean_e6")))
