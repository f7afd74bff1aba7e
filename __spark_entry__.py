"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: chunk sf0.001 documents into ordered spans, run
the engine's JVM-side PII redaction + order-preserving reassembly.

``queries()`` — one entry per implemented operator family from SURVEY.md §2
plus the training-data analytics layer; each callable takes (spark, sf_dir).

``oracle_sql()`` — DuckDB-equivalent ANSI SQL for every SQL-expressible
query. Non-SQL-expressible ops (full media pipeline with Arrow extraction,
SimHash, LSH-ANN, multimodal byte features) are rows-only here and carry
their own oracle in tests/ (the pure-Python reference oracle).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


#: The golden parquets the pipeline / BPE oracles read, in this checkout.
_GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests", "golden")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(col):
    return F.col(col).cast("decimal(18,2)")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

CHUNK = 8


def _chunked_spans(docs: DataFrame) -> DataFrame:
    """documents(text) → ordered text spans of CHUNK tokens (the interleaved
    input shape derived from the driver corpus; T3 span explode)."""
    d = docs.withColumn("tokens", F.split(F.trim("text"), r"\s+"))
    d = d.withColumn(
        "chunks",
        F.transform(
            F.sequence(F.lit(0), F.ceil(F.size("tokens") / CHUNK).cast("int") - 1),
            lambda i: F.concat_ws(" ", F.slice("tokens", i * CHUNK + 1, CHUNK)),
        ),
    )
    return d.select("doc_id", F.posexplode("chunks").alias("order", "span_text"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on /root/testdata/sf0.001: span explode → JVM PII redaction →
    span sequence ordered by (doc_id, order)."""
    from ocr_redaction_engine_spark.pii import redact_text_col

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    spans = _chunked_spans(docs)
    return spans.select(
        "doc_id", "order",
        F.lit("text").alias("kind"),
        redact_text_col(F.col("span_text")).alias("text"),
        F.lit("").alias("media_ref"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q01_filter_pushdown_sum(spark, sf_dir):
    """S1/P1 + Q6 shape: predicate pushdown to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.04) & (F.col("l_quantity") < 25)
        )
        .agg(
            F.sum(_dec("l_extendedprice")).cast("double").alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


def q02_project_split(spark, sf_dir):
    """P2 work-item projection: split/cast/lower derivations."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.split("c_name", "#").getItem(1).cast("int").alias("cust_num"),
        F.lower("c_mktsegment").alias("segment"),
        (F.col("c_acctbal") > 0).alias("positive_bal"),
    )


def q03_token_explode_agg(spark, sf_dir):
    """P5/T3: tokenize + per-doc aggregates."""
    d = _t(spark, sf_dir, "documents").withColumn("tokens", F.split(F.trim("text"), r"\s+"))
    return d.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.size(F.array_distinct("tokens")).alias("n_distinct"),
    )


def q04_classify_firstmatch(spark, sf_dir):
    """C1..C8: ordered first-match regex classification bank."""
    d = _t(spark, sf_dir, "documents")
    cls = (
        F.when(F.col("text").rlike(r"\bstream\b"), "STREAM")
        .when(F.col("text").rlike(r"\bwindow\b"), "WINDOW")
        .when(F.col("text").rlike(r"\bjoin\b"), "JOIN")
        .when(F.col("text").rlike(r"\bscan\b"), "SCAN")
        .otherwise("OTHER")
    )
    return d.select("doc_id", cls.alias("doc_class"))


def q05_pii_redact(spark, sf_dir):
    """north_star PII bank: email/SSN/phone regexp_replace chain."""
    d = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("u"), F.col("doc_id").cast("string"), F.lit("@example.com ssn "),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"), F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"), F.lit(" ph "),
        F.lpad(F.col("doc_id").cast("string"), 10, "9"),
    )
    red = F.regexp_replace(raw, r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b", "[EMAIL]")
    red = F.regexp_replace(red, r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]")
    red = F.regexp_replace(red, r"\b\d{10}\b", "[PHONE]")
    return d.select("doc_id", red.alias("redacted"))


def q06_token_filter(spark, sf_dir):
    """P4/P6: token-level predicate filters."""
    d = _t(spark, sf_dir, "documents").withColumn("tokens", F.split(F.trim("text"), r"\s+"))
    return (
        d.select(F.explode("tokens").alias("token"))
        .filter(F.length("token").isin(3, 4) & F.col("token").rlike("^[a-z]+$"))
        .groupBy("token").agg(F.count("*").alias("cnt"))
    )


def q07_window_seqnum(spark, sf_dir):
    """A3: sequence numbering window."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select("user_id", "event_id", F.row_number().over(w).alias("seq"))


def q08_first_event_per_user(spark, sf_dir):
    """F19/F32: first-match-only per group."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("first_event_id"), "event_type")
    )


def q09_distinct_dedupe(spark, sf_dir):
    """A4: distinct."""
    ev = _t(spark, sf_dir, "events")
    return ev.select("event_type", (F.col("user_id") % 10).alias("user_mod")).distinct()


def q10_fingerprint(spark, sf_dir):
    """A5-adjacent: order-stable reassembly fingerprint."""
    from ocr_redaction_engine_spark.analytics.text import fingerprint
    return fingerprint(_t(spark, sf_dir, "documents"))


def q11_dict_broadcast_join(spark, sf_dir):
    """F10/F26: broadcast dictionary containment join."""
    dictionary = spark.createDataFrame(
        [("join",), ("scan",), ("merge",), ("filter",), ("sort",), ("hash",)], "token string")
    d = _t(spark, sf_dir, "documents").withColumn("tokens", F.split(F.trim("text"), r"\s+"))
    toks = d.select("doc_id", F.explode("tokens").alias("token"))
    return (
        toks.join(F.broadcast(dictionary), "token")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"), F.countDistinct("token").alias("n_terms"))
    )


def q12_anti_join(spark, sf_dir):
    """S1/S2 resume shape: anti-join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment").agg(F.count("*").alias("n_customers"))
    )


def q13_groupagg_q1(spark, sf_dir):
    """A1/A2 fold analog: TPC-H Q1-shaped aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "2001-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.count("*").alias("count_order"),
        )
    )


def q14_join_broadcast_revenue(spark, sf_dir):
    """Broadcast dim join + agg."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
    )


def q15_rejected_box(spark, sf_dir):
    """A7: the 80 % box with int() truncation parity."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.lit(0).alias("x1"), F.lit(0).alias("y1"),
        F.col("n_chars").alias("x2"),
        F.floor(F.col("n_chars") * 0.8).cast("bigint").alias("y2"),
    )


def q16_name_parse(spark, sf_dir):
    """A6: frame/doc-id parse of synthetic document names."""
    d = _t(spark, sf_dir, "documents")
    name = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat((F.col("doc_id") % 20 + 1).cast("string"), F.lit("F-ab"),
                 F.col("doc_id").cast("string"), F.lit("x_pg.jpg")),
    ).otherwise(F.concat(F.lit("p"), F.col("doc_id").cast("string"), F.lit("_pg.jpg")))
    d = d.select("doc_id", name.alias("document_name"))
    matched = F.col("document_name").rlike("^[0-9]+F[0-9a-fA-Z_-]+")
    frame = F.when(matched, F.split(F.split("document_name", "-").getItem(0), "F")
                   .getItem(0).cast("int") - 1).otherwise(0)
    doc_part = F.when(matched, F.expr(
        "substring(split(split(document_name,'_')[0],'-')[1], 1, "
        "length(split(split(document_name,'_')[0],'-')[1]) - 1)"
    )).otherwise(F.expr(
        "substring(split(document_name,'_')[0], 1, length(split(document_name,'_')[0]) - 1)"))
    return d.select("doc_id", "document_name", frame.alias("frame_id"), doc_part.alias("document_id"))


def q17_hourly_rollup(spark, sf_dir):
    """Streaming-analog tumbling rollup (batch form)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").cast("string").alias("hr"),
            "event_type",
        )
        .agg(F.count("*").alias("n"),
             F.sum(_dec("value")).cast("double").alias("total_value"))
    )


def q18_hof_token_ops(spark, sf_dir):
    """P5 line split + HOF filter/transform (higher-order functions, no UDF)."""
    d = _t(spark, sf_dir, "documents").withColumn("tokens", F.split(F.trim("text"), r"\s+"))
    long_toks = F.filter("tokens", lambda t: F.length(t) > 4)
    return d.select(
        "doc_id",
        F.size(long_toks).alias("n_long"),
        F.concat_ws(" ", F.transform(F.slice(long_toks, 1, 5), F.upper)).alias("head_upper"),
    )


def q19_reverse_scan(spark, sf_dir):
    """P7 bottom-up scan: reverse(array) + head."""
    d = _t(spark, sf_dir, "documents").withColumn("tokens", F.split(F.trim("text"), r"\s+"))
    return d.select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.reverse("tokens"), 1, 3)).alias("tail3"),
    )


def q20_pan_predicate(spark, sf_dir):
    """F1/F17 PAN-number predicate + width-trim arithmetic
    (documents/pancard/document_coordinates.py:41,53): synthesized candidate
    tokens, predicate len∈{7,9,10} ∧ upper ∧ has-digit ∧ has-alpha, trim
    x2' = x1 + floor(0.65*(x2-x1))."""
    d = _t(spark, sf_dir, "documents")
    cand = F.concat(
        F.upper(F.col("text").substr(F.lit(1), (F.col("doc_id") % 4 + 3).cast("int"))),
        (F.col("doc_id") % 10000).cast("string"),
    )
    is_pan = (
        F.length(cand).isin(7, 9, 10)
        & (cand == F.upper(cand))
        & cand.rlike("[0-9]") & cand.rlike("[A-Za-z]")
    )
    x1 = (F.col("doc_id") % 50).cast("int")
    x2 = x1 + F.length(cand) * 9
    return d.select(
        "doc_id", cand.alias("cand"), is_pan.alias("is_pan"),
        x1.alias("x1"),
        F.when(is_pan, x1 + F.floor(0.65 * (x2 - x1)).cast("int")).otherwise(x2).alias("x2_trimmed"),
    )


def q21_date_bank_firstmatch(spark, sf_dir):
    """F2/F8/F18 date regex bank, ordered first match (re.search vs re.match
    anchoring: the bank is search-style, no ^ anchor)."""
    d = _t(spark, sf_dir, "documents")
    cand = F.concat(
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("-")),
        F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("-")),
        (1950 + F.col("doc_id") % 60).cast("string"),
    )
    bank = [
        (r"\d{2}/\d{2}/\d{4}", "slash_full"),
        (r"\d{2}-\d{2}-\d{4}", "dash_full"),
        (r"\d{4}-\d{4}", "year_pair_dash"),
        (r"\d{4}/\d{4}", "year_pair_slash"),
        (r"\d{2}/\d{2}/\d{2}", "slash_short"),
        (r"\d{1}/\d{2}/\d{4}", "slash_d1"),
    ]
    expr = None
    for pat, name in bank:
        cond = cand.rlike(pat)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return d.select("doc_id", cand.alias("cand"), expr.otherwise("none").alias("matched"))


def q22_lead_anchor(spark, sf_dir):
    """F20 anchor + next-line window: lead() per group."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id", "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )


def q23_take_until(spark, sf_dir):
    """F4/F24/F30 ordered take-while as SQL: events per user until the first
    'purchase' (break keyword analog), expressed with a min-window."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    cut = F.min(F.when(F.col("event_type") == "purchase", F.col("event_id"))).over(w)
    return (
        ev.withColumn("cut", cut)
        .filter(F.col("cut").isNull() | (F.col("event_id") < F.col("cut")))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_before"),
             F.sum(_dec("value")).cast("double").alias("value_before"))
    )


def q24_distinct_order_fp(spark, sf_dir):
    """A4 order-preserving dedupe: array_distinct keeps first occurrence."""
    d = _t(spark, sf_dir, "documents").withColumn("tokens", F.split(F.trim("text"), r"\s+"))
    return d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.array_distinct("tokens"))).alias("fp_distinct"),
        F.size(F.array_distinct("tokens")).alias("n_distinct"),
    )


def q25_except_years(spark, sf_dir):
    """Set ops (F20/F21 union/not-in analog): customers ordering in 1995 but
    not in 1996."""
    o = _t(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    c = _t(spark, sf_dir, "customer")
    only95 = y95.distinct().exceptAll(y96.distinct())
    return (
        c.join(only95, c.c_custkey == only95.o_custkey)
        .groupBy("c_mktsegment").agg(F.count("*").alias("n_customers"))
    )


def q26_rollup(spark, sf_dir):
    """Aggregation breadth beyond the reference: ROLLUP with grand total."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(F.count("*").alias("n"), F.sum(_dec("value")).cast("double").alias("total"))
    )


def q27_assembly_fp(spark, sf_dir):
    """A5 order-stable reassembly: per-user event chain fingerprint, order
    restored by array_sort regardless of task interleaving."""
    ev = _t(spark, sf_dir, "events")
    chain = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id"))),
        lambda s: s.getField("event_id").cast("string"),
    )
    return ev.groupBy("user_id").agg(
        F.md5(F.concat_ws(",", chain)).alias("chain_fp"),
        F.count("*").alias("n_events"),
    )


def q28_salted_agg(spark, sf_dir):
    """north_rule skew handling: two-stage salted aggregation (partial on
    (key, salt), final on key) — equals the plain groupBy."""
    ev = _t(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", F.pmod(F.col("user_id"), F.lit(8)))
        .groupBy("event_type", "salt")
        .agg(F.count("*").alias("c"), F.sum(_dec("value")).alias("v"))
    )
    return partial.groupBy("event_type").agg(
        F.sum("c").alias("n"),
        F.sum("v").cast("double").alias("total"),
    )


def q29_shingles(spark, sf_dir):
    """Dedup primitive: 3-gram shingling via sequence+slice HOFs."""
    d = _t(spark, sf_dir, "documents").withColumn("tokens", F.split(F.trim("text"), r"\s+"))
    # sequence(1, 0) is descending [1, 0] — CASE guard for sub-3-token docs
    sh = F.expr(
        "CASE WHEN size(tokens) < 3 THEN array()"
        " ELSE transform(sequence(1, size(tokens) - 2),"
        "                i -> concat_ws(' ', slice(tokens, i, 3))) END"
    )
    return d.select(
        "doc_id",
        F.size(sh).alias("n_shingles"),
        F.size(F.array_distinct(sh)).alias("n_distinct_shingles"),
    )


def q30_topk_orders(spark, sf_dir):
    """§2.7 sorts/limits: global top-k with deterministic tie-break."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey",
                 _dec("o_totalprice").cast("double").alias("totalprice"))
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q31_session_windows(spark, sf_dir):
    """Session-window aggregation (gap 30 min): the built-in session_window
    operator, differentially checked against DuckDB's lag-based session-id
    construction — a true cross-engine operator equivalence test."""
    from ocr_redaction_engine_spark.streaming import session_windows
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    s = session_windows(ev)
    return s.select(
        "user_id",
        F.col("session_start").cast("string").alias("session_start"),
        F.col("session_end").cast("string").alias("session_end"),
        "n_events", "total_value",
    )


def embed_norms(spark, sf_dir):
    """Embedding math in pure HOFs (F.aggregate): L2 norm + max |x|."""
    e = _t(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    sumsq = F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
    return e.select(
        "vec_id",
        F.round(F.sqrt(sumsq), 6).alias("l2_norm"),
        F.round(F.array_max(F.transform(vec, F.abs)), 6).alias("max_abs"),
    )


def text_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish pre-tokenizer regex
    (letter runs / digit runs / single non-space symbol)."""
    d = _t(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    return d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


def _embeddings_with_rerawl(e: DataFrame) -> DataFrame:
    """Near-dup test corpus: embeddings ∪ a deterministic perturbed copy
    ("re-crawl" analog, vec_id + 10^6). The perturbation is engine-exact:
    x_d + ((vec_id*31 + d*7) % 11 - 5) * 0.001 in double precision, so the
    DuckDB oracle reproduces it bit-for-bit."""
    orig = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    # NB: alias vec_id only AFTER the transform — Spark's lateral column
    # alias resolution would otherwise bind the lambda's vec_id to the
    # shifted id
    pert = e.select(
        F.col("vec_id").alias("orig_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + (((F.col("vec_id") * 31 + i * 7) % 11) - 5) * F.lit(0.001),
        ).alias("embedding"),
    ).select((F.col("orig_id") + 1000000).alias("vec_id"), "embedding")
    return orig.unionByName(pert)


def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs at threshold 0.99 between the corpus
    and its perturbed re-crawl — routed through the LSH-bucketed candidate
    path (multi-table bucket equi-join + exact-cosine verify), the plan that
    survives 100×. The DuckDB oracle is brute force over the same union, so
    the gate also proves the bucketed path's recall on this corpus."""
    from ocr_redaction_engine_spark.analytics.similarity import cosine_pairs_bucketed
    return cosine_pairs_bucketed(
        _embeddings_with_rerawl(_t(spark, sf_dir, "embeddings")),
        threshold=0.99, n_tables=8, n_planes=16)


def dedup_exact(spark, sf_dir):
    from ocr_redaction_engine_spark.analytics.dedup import exact_dupes
    return exact_dupes(_t(spark, sf_dir, "documents"))


def dedup_minhash_bands(spark, sf_dir):
    from ocr_redaction_engine_spark.analytics.dedup import minhash_signatures
    return minhash_signatures(_t(spark, sf_dir, "documents"))


def dedup_jaccard_pairs(spark, sf_dir):
    from ocr_redaction_engine_spark.analytics.dedup import jaccard_pairs
    return jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)


def ann_cosine_topk(spark, sf_dir):
    from ocr_redaction_engine_spark.analytics.similarity import cosine_topk
    return cosine_topk(_t(spark, sf_dir, "embeddings"), n_queries=5, k=10)


def text_quality(spark, sf_dir):
    from ocr_redaction_engine_spark.analytics.text import quality
    return quality(_t(spark, sf_dir, "documents"))


def text_gopher_rules(spark, sf_dir):
    """Gopher-style line-shape quality rules over a deterministic decorated
    line view (bullet / ellipsis / terminal-punctuation / duplicate-line
    fractions + keep flag). Map-only per-row HOFs, zero shuffles."""
    from ocr_redaction_engine_spark.analytics.text import gopher_line_stats
    return gopher_line_stats(_t(spark, sf_dir, "documents"))


def text_langid(spark, sf_dir):
    from ocr_redaction_engine_spark.analytics.text import langid
    return langid(_t(spark, sf_dir, "documents"))


def text_langid_eval(spark, sf_dir):
    """Language-ID eval cross-tab: predicted-class distribution per true
    lang label in integer bp — one hash-agg + broadcast totals over the
    operator under test."""
    from ocr_redaction_engine_spark.analytics.text import langid_confusion
    return langid_confusion(_t(spark, sf_dir, "documents"))


def text_winnow_fp(spark, sf_dir):
    """Winnowing (MOSS) rolling-hash fingerprints — k-gram md5 mins per
    sliding window, pure Catalyst HOFs."""
    from ocr_redaction_engine_spark.analytics.text import winnow_fingerprints
    return winnow_fingerprints(_t(spark, sf_dir, "documents"), k=8, w=4)


def text_vocab(spark, sf_dir):
    from ocr_redaction_engine_spark.analytics.text import vocab_stats
    return vocab_stats(_t(spark, sf_dir, "documents"), min_count=100)


def q32_asof_join(spark, sf_dir):
    """As-of join (merge formulation): latest same-user 'error' at/before
    each 'click' — one window pass, one shuffle on user_id."""
    from ocr_redaction_engine_spark.analytics.temporal import asof_last_event
    return asof_last_event(_t(spark, sf_dir, "events"))


def q33_range_join(spark, sf_dir):
    """Keyless range join via time-bin bucketing: prior-5-minute event count
    per event, equi-join on bins instead of a nested-loop range predicate."""
    from ocr_redaction_engine_spark.analytics.temporal import range_join_count
    return range_join_count(_t(spark, sf_dir, "events"), minutes=5)


def events_funnel(spark, sf_dir):
    """Ordered conversion funnel signup→click→purchase with strict temporal
    ordering: three filtered min-aggs chained by user_id equi-joins — fully
    user-partitioned, no per-user full-history windows."""
    from ocr_redaction_engine_spark.analytics.temporal import funnel
    return funnel(_t(spark, sf_dir, "events"))


def events_retention(spark, sf_dir):
    """Weekly cohort retention matrix: first-seen epoch-week cohorts ×
    week offsets, distinct-active counts, integer basis-point retention.
    All user-/cohort-keyed hash-aggs — no event-history windows."""
    from ocr_redaction_engine_spark.analytics.temporal import retention_cohorts
    return retention_cohorts(_t(spark, sf_dir, "events"))


def events_transitions(spark, sf_dir):
    """First-order Markov event-type transition matrix: per-user lag window
    → (prev,next) hash-agg → broadcast row totals, integer bp shares."""
    from ocr_redaction_engine_spark.analytics.temporal import event_transitions
    return event_transitions(_t(spark, sf_dir, "events"))


def events_hourly_anomaly(spark, sf_dir):
    """Integer-exact spike detector over the hourly count series: trailing
    24h mean/variance with cleared denominators, so both engines compare
    identical BIGINTs (never a floating stddev)."""
    from ocr_redaction_engine_spark.analytics.temporal import hourly_anomalies
    return hourly_anomalies(_t(spark, sf_dir, "events"), trailing=24, k=3)


def sample_negative_pairs(spark, sf_dir):
    """Contrastive negative sampling: k=3 md5-deterministic partners per
    vector (self-collision shifted, not resampled), map-only draw + one
    equi-join for partner features."""
    from ocr_redaction_engine_spark.analytics.similarity import negative_pairs
    return negative_pairs(_t(spark, sf_dir, "embeddings"), k=3)


def ann_recall_eval(spark, sf_dir):
    """Recall@k harness: exact cosine top-k (ground truth) vs the LSH
    bucketed index, per-query integer-bp recall — the metric that gates
    switching off brute force. Eval itself is one k-rows-per-query join."""
    from ocr_redaction_engine_spark.analytics.similarity import ann_recall
    return ann_recall(_t(spark, sf_dir, "embeddings"), n_queries=5, k=10)


def dedup_prefix_jaccard(spark, sf_dir):
    """Exact (complete, no LSH recall loss) set-similarity self-join at
    Jaccard ≥ 7/10 via prefix filtering: rarest-token prefixes bound the
    candidate space; all pruning is integer cross-multiplication. The
    oracle is the BRUTE-FORCE all-pairs join, so completeness is verified,
    not assumed."""
    from ocr_redaction_engine_spark.analytics.dedup import prefix_jaccard_join
    return prefix_jaccard_join(_t(spark, sf_dir, "documents"), t_num=7, t_den=10)


def storage_merge_upsert(spark, sf_dir):
    """MERGE INTO (CDC apply): full-outer equi-join of the table with a
    planted update batch — update/insert/keep action per row, one shuffle
    on the merge key (Exchange-free under the bucketed layout)."""
    from ocr_redaction_engine_spark.storage import merge_upsert, synth_updates
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    return merge_upsert(docs, synth_updates(docs))


def events_active_users(spark, sf_dir):
    """DAU/WAU/stickiness: sliding 7-day distinct via explode of the tiny
    (user, day) pairs to their trailing-window days — no count-distinct
    window over event history; partial leading windows dropped."""
    from ocr_redaction_engine_spark.analytics.temporal import active_users
    return active_users(_t(spark, sf_dir, "events"), window_days=7)


def events_sax_symbols(spark, sf_dir):
    """PAA+SAX symbolic series: 16 equal-width segments per event_type,
    integer milli-unit levels, 4-letter mean-relative alphabet — two
    hash-aggs + broadcast extents; the raw series never moves."""
    from ocr_redaction_engine_spark.analytics.temporal import sax_symbols
    return sax_symbols(_t(spark, sf_dir, "events"), segments=16)


def events_top_paths(spark, sf_dir):
    """Top user journeys: ordered event-type path per user (collect +
    array_sort, no window), path hash-agg, TakeOrdered top-20."""
    from ocr_redaction_engine_spark.analytics.temporal import top_paths
    return top_paths(_t(spark, sf_dir, "events"), k=20, max_len=20)


def events_pivot_matrix(spark, sf_dir):
    """Pivot reshaping: per-user wide activity matrix (one count column per
    event type + total) — a single hash-agg of conditional counts, type
    list fixed by contract (no discovery scan)."""
    from ocr_redaction_engine_spark.analytics.temporal import user_type_pivot
    return user_type_pivot(_t(spark, sf_dir, "events"))


def events_type_correlation(spark, sf_dir):
    """Pearson correlation between hourly event-type count series: densify
    the (hour x type) grid (pmod-key broadcast, zero-filled) so absent
    hours don't bias the estimate; exact BIGINT sufficient sums, doubles
    only in the final corr expression."""
    from ocr_redaction_engine_spark.analytics.temporal import type_correlation
    return type_correlation(_t(spark, sf_dir, "events"))


def events_interval_pairs(spark, sf_dir):
    """Keyed interval join (the stream-stream operator run in batch mode —
    watermarks no-op): each click paired with same-user errors in the
    preceding 30 minutes; symmetric-hash-join shape with bounded state."""
    from ocr_redaction_engine_spark.streaming import stream_interval_join
    ev = _t(spark, sf_dir, "events")
    return stream_interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "error"), minutes=30)


def events_value_trend(spark, sf_dir):
    """Grouped OLS trend: slope/intercept of value-vs-time per event_type
    from five exact decimal sufficient statistics in ONE hash-agg; floating
    point appears once, in the final division."""
    from ocr_redaction_engine_spark.analytics.temporal import value_trend
    return value_trend(_t(spark, sf_dir, "events"))


def q35_snowflake_rollup(spark, sf_dir):
    """Snowflake dim-chain rollup: region -> nation -> customer + supplier,
    every dim joined via broadcast (no shuffle on the chain), one final
    hash-agg per region. Decimal-summed balances keep the distributed sum
    order-independent."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nr = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    cust = customer.join(F.broadcast(nr), customer.c_nationkey == nr.n_nationkey)
    supp = supplier.join(F.broadcast(nr), supplier.s_nationkey == nr.n_nationkey)
    c = cust.groupBy("r_name").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count("*").alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("cust_balance"),
    )
    s = supp.groupBy("r_name").agg(
        F.count("*").alias("n_suppliers"),
        F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double").alias("supp_balance"),
    )
    return c.join(s, "r_name").select(
        "r_name", "n_nations", "n_customers", "cust_balance",
        "n_suppliers", "supp_balance")


def q36_market_share(spark, sf_dir):
    """TPC-H Q8-shaped market share: ASIA suppliers' revenue by nation ×
    order-year, share in basis points of the year total. Dims ride
    broadcasts (supplier→nation→region chain collapses map-side), the one
    big shuffle is lineitem⋈orders on orderkey; the share window runs over
    the |years×nations| aggregate. Revenue rides as EXACT integer
    centi-cents — price recovered to DECIMAL(14,2) (2-decimal data, so the
    double is within ½ulp of the true value and any engine's nearest-cast
    agrees), discount as an integer percent, product in pure BIGINT — no
    round() on a double product anywhere, so the result is engine-portable
    even at half-cent boundaries (the r3 driver-hash lesson). The ×10000
    fold goes through DECIMAL(38,0) so it cannot wrap at warehouse scale."""
    from pyspark.sql import Window
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    sn = (_t(spark, sf_dir, "supplier")
          .join(F.broadcast(_t(spark, sf_dir, "nation")),
                F.col("s_nationkey") == F.col("n_nationkey"))
          .join(F.broadcast(_t(spark, sf_dir, "region")),
                F.col("n_regionkey") == F.col("r_regionkey"))
          .where(F.col("r_name") == "ASIA")
          .select("s_suppkey", "n_name"))
    rev = (li.join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
           .join(orders.select("o_orderkey",
                               F.year("o_orderdate").alias("o_year")),
                 li.l_orderkey == F.col("o_orderkey")))
    per = rev.groupBy("o_year", "n_name").agg(
        F.sum(F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"
            " * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS INT))"
        )).alias("rev_cc"))
    return (per
            .withColumn("year_total",
                        F.sum("rev_cc").over(Window.partitionBy("o_year")))
            .select(
                "o_year", "n_name", "rev_cc",
                F.expr("CAST(CAST(rev_cc AS DECIMAL(38,0)) * 10000 DIV "
                       "year_total AS BIGINT)").alias("share_bp")))


def events_json_keys(spark, sf_dir):
    """Semi-structured schema discovery over the (corruption-planted) props
    feed: per JSON key — rows carrying it, distinct values, min/max string
    form. Map-only parse + one hash-agg; broken rows contribute nothing."""
    from ocr_redaction_engine_spark.analytics.ingest import (
        json_key_profile, synth_corrupt_props)
    return json_key_profile(synth_corrupt_props(_t(spark, sf_dir, "events")))


def audit_referential(spark, sf_dir):
    """FK audit across the star schema: orphan anti-joins + parent
    utilization per relationship; one summary row each. Zero orphans is
    the passing result — utilization carries the non-vacuous signal."""
    from ocr_redaction_engine_spark.analytics.governance import referential_audit
    return referential_audit({
        "lineitem.l_orderkey->orders": (
            _t(spark, sf_dir, "lineitem"), "l_orderkey",
            _t(spark, sf_dir, "orders"), "o_orderkey"),
        "orders.o_custkey->customer": (
            _t(spark, sf_dir, "orders"), "o_custkey",
            _t(spark, sf_dir, "customer"), "c_custkey"),
        "customer.c_nationkey->nation": (
            _t(spark, sf_dir, "customer"), "c_nationkey",
            _t(spark, sf_dir, "nation"), "n_nationkey"),
        "lineitem.l_partkey->part": (
            _t(spark, sf_dir, "lineitem"), "l_partkey",
            _t(spark, sf_dir, "part"), "p_partkey"),
        "lineitem.l_suppkey->supplier": (
            _t(spark, sf_dir, "lineitem"), "l_suppkey",
            _t(spark, sf_dir, "supplier"), "s_suppkey"),
    })


def basket_part_lift(spark, sf_dir):
    """Market-basket lift: same-order part pairs (basket-bounded self-join
    on the order key), broadcast marginals, integer-exact lift_e6,
    TakeOrdered top-50."""
    from ocr_redaction_engine_spark.analytics.governance import basket_lift
    return basket_lift(_t(spark, sf_dir, "lineitem"), top_k=50)


def orders_rfm(spark, sf_dir):
    """RFM segmentation: one per-customer hash-agg for the metrics, tercile
    boundaries from the mergeable histogram sketch (no global sort/ntile),
    broadcast bucket assignment — integer days/cents end to end."""
    from ocr_redaction_engine_spark.analytics.governance import rfm_segments
    return rfm_segments(_t(spark, sf_dir, "orders"), qs=(33, 67))


def orders_scd_intervals(spark, sf_dir):
    """SCD2 validity intervals per customer: lag detects status changes,
    lead over the compressed rows closes intervals (valid_to NULL =
    current). Two bounded per-key windows, one shuffle."""
    from ocr_redaction_engine_spark.analytics.governance import scd_intervals
    return scd_intervals(_t(spark, sf_dir, "orders"))


def events_quarantine(spark, sf_dir):
    """Dead-letter routing: one from_json pass classifies every row
    (malformed / missing_field / out_of_range / ok); valid + quarantine
    lanes are filters over the same scan. Corruption is md5-planted so the
    oracle rebuilds identical input."""
    from ocr_redaction_engine_spark.analytics.ingest import (
        quarantine_events, synth_corrupt_props)
    return quarantine_events(synth_corrupt_props(_t(spark, sf_dir, "events")))


def privacy_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity audit over (nation, segment) QI groups:
    one hash-agg computing group size + exact distinct sensitive buckets,
    boolean risk flags — |QI-domain| output rows at any scale."""
    from ocr_redaction_engine_spark.analytics.privacy import k_anonymity_audit
    return k_anonymity_audit(_t(spark, sf_dir, "customer"), k=5, l=3)


def privacy_pseudonymize(spark, sf_dir):
    """Consistent surrogate substitution: 6+-digit identifier runs →
    stable md5-derived ID_xxxxxxxx surrogates (same value, same surrogate
    corpus-wide; per-doc + per-source planted identifiers make consistency
    observable). Map-only HOF fold of replace(); no shuffle, no UDF."""
    from ocr_redaction_engine_spark.analytics.privacy import (
        pseudonymize, synth_identifiers)
    return pseudonymize(synth_identifiers(_t(spark, sf_dir, "documents")),
                        min_digits=6)


def privacy_t_closeness(spark, sf_dir):
    """t-closeness audit: per-QI-group EMD vs the global sensitive
    distribution, integer cross-multiplied in DECIMAL(38,0) (released
    ×1e-6). Two scan hash-aggs; every join/window after them rides
    |QI|×buckets rows, so the audit is O(output) past the scan."""
    from ocr_redaction_engine_spark.analytics.privacy import t_closeness_audit
    return t_closeness_audit(_t(spark, sf_dir, "customer"),
                             sens_bucket=2000, t_e6=250000)


def privacy_noisy_counts(spark, sf_dir):
    """Deterministic synthetic-noise count release per (lang, source):
    noisy_n = max(0, n + bit_count(md5_60bit(seed:key)) - 30). NOT DP —
    the perturbation is a public function of (seed, key), kept
    deterministic so the oracle gate can check it; see
    seeded_noise_counts' docstring for the honest threat-model note.
    One hash-agg."""
    from ocr_redaction_engine_spark.analytics.privacy import seeded_noise_counts
    return seeded_noise_counts(_t(spark, sf_dir, "documents"),
                               keys=("lang", "source"), seed="dp1")


def er_blocked_match(spark, sf_dir):
    """FastSS deletion-neighborhood blocked entity resolution: an
    OCR-noise dirty twin of the customer file (delete/substitute/clean by
    key mod 3) links back via depth-1 deletion-variant equi-join + exact
    levenshtein ≤1 verify + (dist, key) top-1 window. Candidate volume is
    proportional to true matches — near-unique variant keys, no
    length-bucket block degeneracy on the shared 'Customer#' prefix."""
    from ocr_redaction_engine_spark.analytics.er import (
        blocked_match, synth_dirty_names)
    cust = _t(spark, sf_dir, "customer")
    return blocked_match(synth_dirty_names(cust), cust)


def q34_skew_join(spark, sf_dir):
    """Skew-safe split-union join: events × per-user profile; users with
    ≥80 events ride the broadcast path, the cold tail shuffles. Result is
    identical to the plain join — the oracle checks exactly that."""
    from ocr_redaction_engine_spark.operators.joins import skew_safe_join
    ev = _t(spark, sf_dir, "events")
    profile = ev.groupBy("user_id").agg(
        F.count("*").alias("user_n"),
        F.round(F.sum("value"), 6).alias("user_sum"),
    )
    return skew_safe_join(
        ev.select("event_id", "user_id", "event_type"), profile,
        "user_id", hot_threshold=80,
    )


def sample_bernoulli(spark, sf_dir):
    """Deterministic hash-Bernoulli 10% sample — rerun-stable, filter-pushdown."""
    from ocr_redaction_engine_spark.analytics.sampling import bernoulli_sample
    return bernoulli_sample(_t(spark, sf_dir, "documents"), pct=10).select(
        "doc_id", "lang", "source")


def sample_stratified(spark, sf_dir):
    """Per-(lang, source) deterministic top-5 by hash rank (data mixing)."""
    from ocr_redaction_engine_spark.analytics.sampling import stratified_sample
    return stratified_sample(
        _t(spark, sf_dir, "documents"), strata=["lang", "source"], n_per_stratum=5)


def sketch_kmv_distinct(spark, sf_dir):
    """KMV distinct-token sketch per source — deterministic mergeable
    sketch with exact cross-engine parity."""
    from ocr_redaction_engine_spark.analytics.sampling import kmv_distinct
    return kmv_distinct(_t(spark, sf_dir, "documents"), group="source", k=64)


def text_char_entropy(spark, sf_dir):
    """Character-entropy gibberish signal: per-row HOFs only (sequence/
    substr/array_distinct/filter), map-only, round-9 terms → round-6 sum."""
    from ocr_redaction_engine_spark.analytics.text import char_entropy
    return char_entropy(_t(spark, sf_dir, "documents"))


def web_hits(spark, sf_dir):
    """HITS hubs/authorities, 2 integer-exact iterations in micro-units:
    half-iteration shuffles on dst then src, L1 normalization by integer
    division with the 1-row total broadcast via pmod key."""
    from ocr_redaction_engine_spark.analytics.webgraph import hits
    return hits(_t(spark, sf_dir, "documents"), iters=2)


def text_source_kl(spark, sf_dir):
    """KL(source ‖ corpus) token-distribution drift per source: one
    (source, token) hash-agg + vocab-sized broadcast marginals; fixed
    integer-count parenthesization, round-9 contributions → round-6 sum."""
    from ocr_redaction_engine_spark.analytics.text import source_kl_divergence
    return source_kl_divergence(_t(spark, sf_dir, "documents"))


def text_length_outliers(spark, sf_dir):
    """Median+MAD robust outlier flags on n_chars per source: two tiny
    per-group aggs broadcast back; integer-median halves keep every
    comparison binary-exact."""
    from ocr_redaction_engine_spark.analytics.text import length_outliers
    return length_outliers(_t(spark, sf_dir, "documents"))


def web_robots_filter(spark, sf_dir):
    """Robots.txt longest-prefix filtering over the synthetic messy URLs:
    char-prefix explode (bounded by the longest rule) + broadcast rule join
    + max-(length, allow) struct agg — Google tie-break semantics."""
    from ocr_redaction_engine_spark.analytics.webgraph import (
        robots_filter, synth_urls)
    return robots_filter(synth_urls(_t(spark, sf_dir, "documents")))


def profile_documents(spark, sf_dir):
    """One-pass table profiler over `documents`: per-column row/null/exact
    distinct counts + stringified min/max in a single aggregate, unpivoted
    by an explode-of-structs projection."""
    from ocr_redaction_engine_spark.analytics.text import profile_table
    return profile_table(_t(spark, sf_dir, "documents"))


def text_encoding_quality(spark, sf_dir):
    """Encoding-health filter over deterministically corrupted variants
    (replacement char / mojibake 'Ã©' / C0 control byte appended by md5
    draw): counts by length-difference strips, map-only codegen."""
    from ocr_redaction_engine_spark.analytics.text import encoding_quality
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    draw = F.pmod(
        F.conv(F.substring(F.md5(F.concat_ws(":", "doc_id", F.lit("enc"))),
                           1, 15), 16, 10).cast("long"), F.lit(4))
    corrupted = docs.select(
        "doc_id",
        F.when(draw == 1, F.concat("text", F.lit(" data� lost")))
        .when(draw == 2, F.concat("text", F.lit(" cafÃ© menu")))
        .when(draw == 3, F.concat("text", F.lit("\x07")))
        .otherwise(F.col("text")).alias("text"))
    return encoding_quality(corrupted)


def dedup_normalized(spark, sf_dir):
    """CCNet-normalized exact dedup: every document gains a deterministically
    mangled twin (uppercased / punctuation-injected / space-doubled by md5
    draw) and normalization must collapse each twin back onto its source —
    plus any pre-existing exact dups. One hash-agg on the 32-byte digest."""
    from ocr_redaction_engine_spark.analytics.text import dedup_normalized as dn
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    draw = F.pmod(
        F.conv(F.substring(F.md5(F.concat_ws(":", "doc_id", F.lit("norm"))),
                           1, 15), 16, 10).cast("long"), F.lit(3))
    mangled = docs.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.when(draw == 0, F.upper("text"))
        .when(draw == 1, F.concat("text", F.lit(" !!! ???")))
        .otherwise(F.regexp_replace("text", " ", "   ")).alias("text"))
    return dn(docs.unionByName(mangled))


def storage_compaction(spark, sf_dir):
    """Small-file compaction plan (Iceberg rewrite_data_files analog):
    running-offset bin packing of a deterministic per-source file inventory
    — one window over metadata-scale rows, never touches data bytes."""
    from ocr_redaction_engine_spark.storage import compaction_plan, synth_file_inventory
    return compaction_plan(synth_file_inventory(_t(spark, sf_dir, "documents")))


def storage_zorder_key(spark, sf_dir):
    """Morton (Z-order) clustering key over (n_chars, md5-dim): the
    bit-interleave HOF that drives multi-dimensional data skipping
    (write_zordered range-partitions by it). Integer-exact, map-only."""
    from ocr_redaction_engine_spark.storage import zorder_key
    docs = _t(spark, sf_dir, "documents")
    y = F.pmod(
        F.conv(F.substring(F.md5(F.concat_ws(":", "doc_id", F.lit("zdim"))),
                           1, 15), 16, 10).cast("long"), F.lit(1024))
    return (docs.select("doc_id",
                        F.pmod("n_chars", F.lit(1024)).alias("x"),
                        y.alias("y"))
            .withColumn("zkey", zorder_key("x", "y", bits=10)))


def web_domain_cap(spark, sf_dir):
    """Per-domain quota (RefinedWeb 'no domain dominates'): keep ≤5 docs per
    registrable domain by deterministic md5 rank. Domain skew (the synthetic
    hosts are geometric: one domain owns half the corpus) is handled with a
    salted two-stage top-k — result pinned equal to the single-window answer."""
    from ocr_redaction_engine_spark.analytics.webgraph import domain_cap, synth_hosts
    return domain_cap(synth_hosts(_t(spark, sf_dir, "documents")), cap=5, salts=8)


def text_pmi_collocations(spark, sf_dir):
    """Top-30 bigram collocations by PMI: unigram+bigram vocab hash-aggs,
    broadcast count joins, pmod-key 1-row totals join, TakeOrdered top-k.
    Fixed integer-count parenthesization keeps the ratio engine-exact."""
    from ocr_redaction_engine_spark.analytics.text import pmi_collocations
    return pmi_collocations(_t(spark, sf_dir, "documents"), min_count=5, k=30)


def sample_weighted(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis–Spirakis): top-k
    of ln(u)/weight via TakeOrderedAndProject — no global sort shuffle."""
    from ocr_redaction_engine_spark.analytics.sampling import weighted_sample
    return weighted_sample(_t(spark, sf_dir, "documents"), k=50)


def sample_quantile_buckets(spark, sf_dir):
    """Curriculum bucketing via broadcast sketch boundaries: bucket = count
    of per-source quantile estimates below the doc's length — no global
    sort/ntile; the only full-data pass is the sketch hash-agg."""
    from ocr_redaction_engine_spark.analytics.sampling import quantile_bucket_assign
    return quantile_bucket_assign(_t(spark, sf_dir, "documents"))


def sketch_hist_quantiles(spark, sf_dir):
    """Mergeable equi-width histogram sketch -> interpolated p50/p90/p99 of
    n_chars per source. One tiny broadcast pre-agg + one (group, bin)
    hash-agg (partial sums = sketch merge); integer-exact read-out."""
    from ocr_redaction_engine_spark.analytics.sampling import hist_quantile_sketch
    return hist_quantile_sketch(_t(spark, sf_dir, "documents"))


def sketch_kmv_setops(spark, sf_dir):
    """Sketch set algebra: per source pair, |A∪B| / |A∩B| / Jaccard
    estimated from the KMV sketches alone (k smallest of the concatenation,
    shared-survivor fraction) — cross-corpus overlap at sketch cost."""
    from ocr_redaction_engine_spark.analytics.sampling import kmv_set_ops
    return kmv_set_ops(_t(spark, sf_dir, "documents"), group="source", k=64)


def sketch_kmv_containment(spark, sf_dir):
    """Directed containment C(A->B) = inter/|A| from the KMV sketches —
    the asymmetric overlap Jaccard hides (subset corpora, boilerplate)."""
    from ocr_redaction_engine_spark.analytics.sampling import kmv_containment
    return kmv_containment(_t(spark, sf_dir, "documents"), group="source", k=64)


def sketch_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-document estimate per source (m=16 registers):
    single groupBy(group, register).max(rank) shuffle — the map-side partial
    max IS the sketch merge; fixed-point harmonic sum keeps it
    engine-deterministic."""
    from ocr_redaction_engine_spark.analytics.sampling import hll_distinct
    return hll_distinct(_t(spark, sf_dir, "documents"),
                        group="source", p=4, value="text")


def sketch_hll_error(spark, sf_dir):
    """HLL accuracy audit: estimate vs exact distinct per source with
    relative error in bp — the eval before swapping COUNT(DISTINCT) for
    the sketch; exact side is the canary cost."""
    from ocr_redaction_engine_spark.analytics.sampling import hll_error_audit
    return hll_error_audit(_t(spark, sf_dir, "documents"),
                           group="source", p=4, value="text")


def text_repetition(spark, sf_dir):
    """Gopher repetition signals: dup-token / top-token / top-bigram
    fractions per document (explode → two-level hash-agg, no skew)."""
    from ocr_redaction_engine_spark.analytics.text import repetition
    return repetition(_t(spark, sf_dir, "documents"))


# Mixed list: generic English + corpus-frequent "domain stopwords" so the
# ratios are non-degenerate on the synthetic vocabulary (stopword lists are
# injectable per language/domain — analytics/text.py:stopword_stats).
_QUERY_STOPWORDS = ("the a an and of to in is row table value join hash scan").split()


def text_stopwords(spark, sf_dir):
    from ocr_redaction_engine_spark.analytics.text import stopword_stats
    return stopword_stats(_t(spark, sf_dir, "documents"), stopwords=_QUERY_STOPWORDS)


def text_contamination(spark, sf_dir):
    """Cross-document 5-gram overlap (decontamination primitive)."""
    from ocr_redaction_engine_spark.analytics.text import ngram_contamination
    return ngram_contamination(_t(spark, sf_dir, "documents"), n=5, min_docs=2)


def text_eval_contamination(spark, sf_dir):
    """Train-vs-eval 5-gram leakage: src19 plays the held-out eval split;
    fraction of each train doc's distinct grams present in eval."""
    from ocr_redaction_engine_spark.analytics.text import ngram_cross_contamination
    docs = _t(spark, sf_dir, "documents")
    return ngram_cross_contamination(
        docs.filter(F.col("source") != "src19"),
        docs.filter(F.col("source") == "src19"), n=5)


def text_length_pcts(spark, sf_dir):
    from ocr_redaction_engine_spark.analytics.text import length_percentiles
    return length_percentiles(_t(spark, sf_dir, "documents"))


def text_tfidf_topk(spark, sf_dir):
    """Integer-exact TF-IDF-ranked top-3 terms per doc (tf DESC, df ASC)."""
    from ocr_redaction_engine_spark.analytics.text import tfidf_top_terms
    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def dedup_sparse_cosine(spark, sf_dir):
    """Inverted-index sparse cosine over trigram counts, df-capped postings
    — the no-embedding near-dup scale path (one postings self-join)."""
    from ocr_redaction_engine_spark.analytics.dedup import sparse_cosine_pairs
    return sparse_cosine_pairs(_t(spark, sf_dir, "documents"), n=3, max_df=200, min_dot=2)


def dedup_representatives(spark, sf_dir):
    """Per duplicate-cluster representative selection (keep-longest rule) —
    the dedup action over connected components."""
    from ocr_redaction_engine_spark.analytics.dedup import duplicate_representatives
    return duplicate_representatives(_t(spark, sf_dir, "documents"))


def dedup_apply(spark, sf_dir):
    """The dedup action applied: anti-join the corpus against
    (cluster members − representatives) → the deduplicated corpus."""
    from ocr_redaction_engine_spark.analytics.dedup import apply_dedup
    return apply_dedup(_t(spark, sf_dir, "documents"))


def text_quality_filter(spark, sf_dir):
    """Composite Gopher/C4 keep/drop verdict with sorted reason strings."""
    from ocr_redaction_engine_spark.analytics.text import quality_filter
    return quality_filter(_t(spark, sf_dir, "documents"),
                          stopwords=_QUERY_STOPWORDS,
                          min_tokens=25, max_top_token_frac=0.12,
                          min_alpha_ratio=0.8, max_token_len=20,
                          min_stopword_ratio=0.1)


def text_quality_funnel(spark, sf_dir):
    """C4/Gopher-style rejection funnel: per rule (applied in order),
    docs killed at that stage (first-fail attribution — no double count),
    survivors after it, share in bp. One ≤6-group hash-agg over the
    shared signal join; arithmetic on the 5-row rule table."""
    from ocr_redaction_engine_spark.analytics.text import quality_funnel
    return quality_funnel(_t(spark, sf_dir, "documents"),
                          stopwords=_QUERY_STOPWORDS,
                          min_tokens=25, max_top_token_frac=0.12,
                          min_alpha_ratio=0.8, max_token_len=20,
                          min_stopword_ratio=0.1)


_MIX_BOOSTED = ("src0", "src1", "src2", "src3")


def mix_char_budget(spark, sf_dir):
    """Source-weighted corpus mixing under a 60k-char budget: deterministic
    hash-rank cumsum per source, boosted sources get 2x share."""
    from ocr_redaction_engine_spark.analytics.sampling import char_budget_mix
    return char_budget_mix(_t(spark, sf_dir, "documents"), budget_chars=60000,
                           boosted=_MIX_BOOSTED, boost=2.0)


def dedup_bloom_probe(spark, sf_dir):
    """Incremental-crawl dedup: 80% of documents (by split hash) build a
    Bloom bitmap (≤1024 long words, one bit_or agg), the 20% 'new batch'
    probes it via a broadcast join — no big-big join, no false negatives."""
    from ocr_redaction_engine_spark.analytics.dedup import bloom_probe
    docs = _t(spark, sf_dir, "documents")
    split = (
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                          F.lit(":split"))), 1, 15), 16, 10)
        .cast("long") % 100
    )
    return bloom_probe(docs.filter(split < 80), docs.filter(split >= 80))


def pack_sequences(spark, sf_dir):
    """Concat-then-chunk sequence packing: global token offsets via a
    two-pass distributed prefix sum (range partition → per-partition totals
    → broadcast prefix map → parallel within-partition cumsum), then
    512-token training-window ids + boundary-straddle flags."""
    from ocr_redaction_engine_spark.analytics.packing import pack_offsets
    return pack_offsets(_t(spark, sf_dir, "documents"), budget_tokens=512)


def text_pii_density(spark, sf_dir):
    """PII exposure scoring over a deterministically PII-augmented corpus
    (emails/phones/SSNs/PANs injected by doc_id residue — the base word-soup
    corpus is digit-free, so densities would be trivially zero without it)."""
    from ocr_redaction_engine_spark.analytics.text import pii_density
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(did % 3 == 0, F.concat(
            F.lit(" contact user"), did.cast("string"), F.lit("@example.org"))
        ).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.concat(
            F.lit(" call 9"),
            F.lpad((did * 7919 % 1000000000).cast("string"), 9, "0"))
        ).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.concat(
            F.lit(" ssn 123-45-"), F.lpad((did % 10000).cast("string"), 4, "0"))
        ).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.concat(
            F.lit(" ref ABCDE"), F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit("F"))
        ).otherwise(F.lit("")),
    )
    return pii_density(docs.withColumn("text", aug))


def embed_quantize(spark, sf_dir):
    """Int8 scalar quantization of the embedding table: per-dim min/max agg
    broadcast onto posexploded values; codes bit-identical to the oracle."""
    from ocr_redaction_engine_spark.analytics.similarity import quantize_int8
    return quantize_int8(_t(spark, sf_dir, "embeddings"))


def sample_temperature(spark, sf_dir):
    """Temperature rebalancing across languages (q ∝ p^0.5): rare langs keep
    everything, common langs downsample by sqrt of their size ratio —
    deterministic hash draw, sqrt-exact across engines."""
    from ocr_redaction_engine_spark.analytics.sampling import temperature_rebalance
    return temperature_rebalance(_t(spark, sf_dir, "documents"), group="lang")


def text_repeated_spans(spark, sf_dir):
    """Span-level exact substring dedup: merged token ranges covered by
    3-grams repeated across ≥2 documents (inverted-index + islands merge)."""
    from ocr_redaction_engine_spark.analytics.text import repeated_substring_spans
    return repeated_substring_spans(_t(spark, sf_dir, "documents"), n=3, min_docs=2)


def dedup_substring_clip(spark, sf_dir):
    """ExactSubstr clipping (Lee et al. 2022): per-document text with every
    cross-document repeated 3-gram span removed — the clean-text output the
    span finder (text_repeated_spans) only locates."""
    from ocr_redaction_engine_spark.analytics.text import clip_repeated_substrings
    return clip_repeated_substrings(_t(spark, sf_dir, "documents"), n=3, min_docs=2)


def dedup_incremental(spark, sf_dir):
    """Cross-snapshot incremental dedup: the md5-fold 75% of documents plays
    the already-deduped corpus, the 25% remainder the new crawl batch; each
    new doc keeps only if it near-duplicates (MinHash-banded, Jaccard>=0.5)
    neither any old doc nor a lower-id new doc. The old side is touched by
    ONE signature hash-agg and never self-joins — the delta-dedup shape that
    makes recurring crawls affordable at 100 TB."""
    from ocr_redaction_engine_spark.analytics.dedup import incremental_dedup
    docs = _t(spark, sf_dir, "documents")
    fold = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2),
                   16, 10).cast("long") < 192)
    return incremental_dedup(docs.filter(fold), docs.filter(~fold))


def sketch_cm_heavy_hitters(spark, sf_dir):
    """Count-min sketch point queries for the exact top-20 tokens:
    (token, exact_cnt, cm_estimate) with estimate >= exact guaranteed."""
    from ocr_redaction_engine_spark.analytics.sampling import heavy_hitters_cm
    return heavy_hitters_cm(_t(spark, sf_dir, "documents"), k=20)


# --- rows-only (non-SQL-expressible; oracled by the pure-Python reference
# oracle in tests/test_pipeline_golden.py instead) -------------------------

def _synthetic_corpus_dfs(spark, n_docs=150):
    from ocr_redaction_engine_spark import corpus
    docs, pages = corpus.build_corpus_local(42, n_docs)
    return corpus.local_frames(spark, docs, pages)


def pipeline_spans(spark, sf_dir):
    """Full interleaved pipeline (text branch) on the deterministic synthetic
    corpus — span-sequence output (north rule). Golden-tested vs the
    pure-Python oracle in pytest."""
    from ocr_redaction_engine_spark.pipeline import run_pipeline
    docs_df, pages_df = _synthetic_corpus_dfs(spark)
    return run_pipeline(docs_df, pages_df)["spans"]


def pipeline_redactions(spark, sf_dir):
    """Media branch end-to-end: classify → Arrow extraction → boxes + seq."""
    from ocr_redaction_engine_spark.pipeline import run_pipeline
    docs_df, pages_df = _synthetic_corpus_dfs(spark)
    return run_pipeline(docs_df, pages_df)["redactions"]


def pipeline_invalid_route(spark, sf_dir):
    """P1 third terminal status: the seed-42 corpus with deterministically
    planted invalid documents (bad extension / dangling media_ref) routed
    through the slim validity probe — (doc_id, INVALID_DOCUMENT,
    'Invalid Document', reason) rows, doc-level, before any processing.
    Golden = the independent pure-Python oracle
    (oracle.expected_invalid_docs). Reference:
    in_progress/process_in_progress_status.py:62-84,123-131."""
    from ocr_redaction_engine_spark import corpus
    from ocr_redaction_engine_spark.operators.validate import invalid_documents
    docs, pages = corpus.build_corpus_local(42, 150)
    docs, pages, _ = corpus.corrupt_corpus_local(docs, pages, every=13)
    docs_df, pages_df = corpus.local_frames(spark, docs, pages)
    return invalid_documents(docs_df, pages_df)


def extract_pipeline_spans(spark, sf_dir):
    """Main-content extraction pipeline end-to-end (north rule): html spans →
    DOM-block boilerplate strip, pdf spans → two-column reading-order
    recovery, text passthrough, media spans → OCR full text via the
    media_pages join; span-sequence output. Golden-tested vs the independent
    pure-Python oracle (oracle.expected_extracted_spans)."""
    from ocr_redaction_engine_spark import corpus
    from ocr_redaction_engine_spark.extraction_pipeline import extract_spans
    docs, pages = corpus.build_web_corpus_local(42, 150)
    docs_df, pages_df = corpus.local_frames(spark, docs, pages)
    return extract_spans(docs_df, pages_df)


def dedup_simhash_cands(spark, sf_dir):
    from ocr_redaction_engine_spark.analytics.dedup import simhash_candidates
    return simhash_candidates(_t(spark, sf_dir, "documents"))


def dedup_simhash_pairs(spark, sf_dir):
    """SimHash candidates verified by exact Hamming distance (bit_count of
    the signature XOR, JVM-side, only on band collisions)."""
    from ocr_redaction_engine_spark.analytics.dedup import simhash_pairs
    return simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=6)


def ann_lsh_topk(spark, sf_dir):
    from ocr_redaction_engine_spark.analytics.similarity import lsh_bucketed_topk
    return lsh_bucketed_topk(_t(spark, sf_dir, "embeddings"), n_queries=5, k=10)


def ann_ivf_topk(spark, sf_dir):
    """IVF ANN (k-means coarse quantizer, nprobe lists scored) — recall and
    score parity vs brute force proven in pytest."""
    from ocr_redaction_engine_spark.analytics.similarity import ivf_topk
    return ivf_topk(_t(spark, sf_dir, "embeddings"), n_queries=5, k=10)


def dedup_components(spark, sf_dir):
    """Near-dup group clustering: connected components over LSH candidate
    pairs (iterative min-label propagation — union-find oracle in pytest)."""
    from ocr_redaction_engine_spark.analytics.dedup import (
        candidate_pairs, connected_components)
    docs = _t(spark, sf_dir, "documents")
    return connected_components(candidate_pairs(docs))


def dedup_cluster_stats(spark, sf_dir):
    """Duplicate-cluster size audit (the table every dedup paper reports):
    per cluster size — cluster count, docs held, docs the keep-one rule
    removes, corpus share in bp; singletons as the size-1 row. Aggregates
    strictly downward from the component table (≤1 row per cluster, then
    per distinct size)."""
    from ocr_redaction_engine_spark.analytics.dedup import (
        dedup_cluster_stats as _stats)
    return _stats(_t(spark, sf_dir, "documents"))


N_MEDIA = 500


def multimodal_byte_features(spark, sf_dir):
    """Binary-column feature extraction: one scalar row per (media, bin) —
    integer-exact, DuckDB-oracled (the payload generator is a recursive CTE)."""
    from ocr_redaction_engine_spark.analytics.multimodal import byte_features, synthesize_binary
    return byte_features(synthesize_binary(spark, N_MEDIA))


def multimodal_frame_sample(spark, sf_dir):
    """Video-analog 1→N frame sampling over opaque binary payloads."""
    from ocr_redaction_engine_spark.analytics.multimodal import (
        sample_frames_bytes, synthesize_binary)
    return sample_frames_bytes(synthesize_binary(spark, N_MEDIA), frame_size=128, every_n=2)


def multimodal_window_energy(spark, sf_dir):
    """Audio-analog windowed RMS energy, one scalar row per (media, window)."""
    from ocr_redaction_engine_spark.analytics.multimodal import (
        synthesize_binary, window_energy)
    return window_energy(synthesize_binary(spark, N_MEDIA))


def multimodal_resample(spark, sf_dir):
    """Resize-analog byte decimation (every 4th byte), one scalar row per
    surviving byte — the pixel-grid-stride shape a real resize plugs into."""
    from ocr_redaction_engine_spark.analytics.multimodal import (
        resample_bytes, synthesize_binary)
    return resample_bytes(synthesize_binary(spark, N_MEDIA), every_n=4)


N_TWINS = 50


def multimodal_phash_dedup(spark, sf_dir):
    """Perceptual-hash near-dup pairs over opaque media payloads: aHash
    60-bit signatures (one Arrow stage) -> 4x15-bit LSH band join ->
    exact Hamming verify. 50 planted one-byte-retouched twins give the
    detector real positives; organic md5-chain collisions ride along.
    Verify threshold 14 > bands-1, so recall past Hamming 3 is explicitly
    partial (a pair must spare one band) — opted in, and the oracle
    mirrors the identical banding so the contract is pinned."""
    from ocr_redaction_engine_spark.analytics.multimodal import (
        phash_near_dup_pairs, phash_signatures, synthesize_binary_with_twins)
    media = synthesize_binary_with_twins(spark, N_MEDIA, N_TWINS)
    return phash_near_dup_pairs(phash_signatures(media), max_hamming=14,
                                allow_partial_recall=True)


def extract_block_stats(spark, sf_dir):
    """HTML boilerplate strip, block level: segment deterministic markup
    around each document into DOM blocks and score text length / link
    count / link density per block (jusText/Readability heuristic inputs).
    Pure Catalyst regex + posexplode."""
    from ocr_redaction_engine_spark.analytics.extraction import as_html, html_blocks
    return html_blocks(as_html(_t(spark, sf_dir, "documents"))).select(
        "doc_id", "pos", "text_len", "n_links", "anchor_chars", "link_density")


def extract_main_text(spark, sf_dir):
    """Main-content extraction: drop link-dense/short DOM blocks, reassemble
    surviving blocks in original order — the boilerplate-strip operator of
    the north rule."""
    from ocr_redaction_engine_spark.analytics.extraction import as_html, strip_boilerplate
    return strip_boilerplate(as_html(_t(spark, sf_dir, "documents")))


def extract_dom_main(spark, sf_dir):
    """DOM heuristic: per-document argmax content block by text-mass ×
    (1 − link-density) score (Readability candidate selection), as a
    window top-1."""
    from ocr_redaction_engine_spark.analytics.extraction import as_html, dom_main_block
    return dom_main_block(as_html(_t(spark, sf_dir, "documents")))


def extract_block_labels(spark, sf_dir):
    """jusText-style context-sensitive block classification: raw label
    from length + link density, then a neighbor-smoothing pass promoting
    near/short blocks flanked by raw-good content (a caption inside an
    article is content; the same block between two nav bars is chrome).
    One bounded per-doc window over the map-only block scan."""
    from ocr_redaction_engine_spark.analytics.extraction import as_html, classify_blocks
    return classify_blocks(as_html(_t(spark, sf_dir, "documents")))


def extract_eval(spark, sf_dir):
    """Extraction-quality evaluation (cleaneval-style): block-level
    confusion of the jusText classifier vs the constructed ground truth
    (the two <p> content halves are content BY CONSTRUCTION), reduced to
    corpus micro precision/recall/F1 in integer micro-units. One global
    agg over the map-only block scan."""
    from ocr_redaction_engine_spark.analytics.extraction import as_html, extraction_eval
    return extraction_eval(as_html(_t(spark, sf_dir, "documents")))


def extract_eval_confusion(spark, sf_dir):
    """Confusion detail behind extract_eval: block counts by (label_raw,
    label, is_content) — reads out what the smoothing pass promoted and
    whether each rescue was right. Bounded 16-row group key."""
    from ocr_redaction_engine_spark.analytics.extraction import (
        as_html, extraction_confusion)
    return extraction_confusion(as_html(_t(spark, sf_dir, "documents")))


def layout_reading_order(spark, sf_dir):
    """PDF/layout parse: recover column-major reading order of a two-column
    page from synthesized word boxes (deterministic layout; real PDF decode
    is environment-gated). Split + posexplode + one window."""
    from ocr_redaction_engine_spark.analytics.extraction import reading_order
    return reading_order(_t(spark, sf_dir, "documents"))


def web_links(spark, sf_dir):
    """Link extraction from page markup: (doc_id, pos, href, anchor_text)
    per anchor — narrow regexp_extract_all + posexplode."""
    from ocr_redaction_engine_spark.analytics.webgraph import extract_links
    return extract_links(_t(spark, sf_dir, "documents"))


def web_anchor_stats(spark, sf_dir):
    """Anchor-text aggregation per link target (in-degree, distinct anchor
    texts, deterministic representative) — one hash-agg on href."""
    from ocr_redaction_engine_spark.analytics.webgraph import anchor_stats
    return anchor_stats(_t(spark, sf_dir, "documents"))


def web_pagerank(spark, sf_dir):
    """3 unrolled PageRank iterations over a deterministic synthetic outlink
    graph in integer micro-rank units — order-independent integer sums make
    the distributed agg bit-identical to the sequential oracle."""
    from ocr_redaction_engine_spark.analytics.webgraph import pagerank
    return pagerank(_t(spark, sf_dir, "documents"), iters=3)


def web_triangles(spark, sf_dir):
    """Per-node triangle counts over the undirected synthetic link graph,
    degree-ordered orientation (each triangle = one wedge + one closing
    edge) so the wedge self-join is bounded by oriented out-degree — the
    hub-safe shape at crawl scale."""
    from ocr_redaction_engine_spark.analytics.webgraph import triangles
    return triangles(_t(spark, sf_dir, "documents"))


def web_frontier(spark, sf_dir):
    """Politeness-constrained crawl-frontier schedule: one fetch per host
    per wave, md5-priority order, budget flag — one window over per-host
    partitions whose size IS the politeness bound."""
    from ocr_redaction_engine_spark.analytics.webgraph import crawl_frontier
    return crawl_frontier(_t(spark, sf_dir, "documents"), budget_waves=3)


def web_random_walks(spark, sf_dir):
    """DeepWalk corpus: 2 deterministic md5-driven walks of length 3 per
    node — one node-keyed join per step, single-long state per walk,
    bit-replayable in any engine."""
    from ocr_redaction_engine_spark.analytics.webgraph import random_walks
    return random_walks(_t(spark, sf_dir, "documents"), walk_len=3,
                        walks_per_node=2)


def web_domain_gini(spark, sf_dir):
    """Domain-concentration Gini over per-host doc counts (integer-exact;
    the rank window runs over the |domains|-row aggregate, not docs)."""
    from ocr_redaction_engine_spark.analytics.webgraph import domain_gini
    return domain_gini(_t(spark, sf_dir, "documents"))


def web_bfs_depth(spark, sf_dir):
    """Crawl-depth BFS layers: min hop count from the seed set within 4
    hops — one edge join + min-agg per round (Pregel-in-DataFrames),
    INF-sentinel arithmetic so no NULL-logic drift between engines."""
    from ocr_redaction_engine_spark.analytics.webgraph import crawl_depth
    return crawl_depth(_t(spark, sf_dir, "documents"), iters=4, seed_mod=97)


def web_kcore(spark, sf_dir):
    """k-core peeling (k=3, 3 rounds) over the undirected link graph: the
    dense-backbone spam signal — degree hash-agg + two endpoint semi-joins
    per round over a strictly shrinking edge set."""
    from ocr_redaction_engine_spark.analytics.webgraph import kcore
    return kcore(_t(spark, sf_dir, "documents"), k=3, rounds=3)


def web_reciprocal(spark, sf_dir):
    """Reciprocal-link audit: share of each page's distinct outlinks that
    link straight back (link-exchange rings) — one edge-vs-swap semi-join,
    integer micro-unit ratio."""
    from ocr_redaction_engine_spark.analytics.webgraph import reciprocal_links
    return reciprocal_links(_t(spark, sf_dir, "documents"))


def web_communities(spark, sf_dir):
    """Community detection by synchronous label propagation (3 rounds,
    most-frequent-neighbour label, smallest-label ties): splits the link
    graph along sparse cuts where connected components would merge.
    Two hash-aggs + one node-keyed join per round."""
    from ocr_redaction_engine_spark.analytics.webgraph import label_propagation
    return label_propagation(_t(spark, sf_dir, "documents"), rounds=3)


def url_canonical(spark, sf_dir):
    """Crawl-frontier URL canonicalization: lowercase scheme/host, strip :80
    and fragment, drop utm_*/ref params, sort the survivors."""
    from ocr_redaction_engine_spark.analytics.webgraph import normalize_urls, synth_urls
    return normalize_urls(synth_urls(_t(spark, sf_dir, "documents")))


def dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking dedup (LBFS/rsync): boundary where the
    trailing 8-char window's 60-bit md5 ≡ 0 mod 64, so insertions shift
    nothing downstream. Boundary detection is a map-side HOF chain (no
    per-char explode); the one shuffle is the chunk_hash hash-agg, and the
    output is duplication mass only (cross-doc duplicated chunks)."""
    from ocr_redaction_engine_spark.analytics.dedup import cdc_chunk_dupes
    return cdc_chunk_dupes(_t(spark, sf_dir, "documents"),
                           w=8, mask_bits=6, min_docs=2)


def text_zipf_fit(spark, sf_dir):
    """Per-source Zipf power-law fit: OLS slope of ln(freq)~ln(rank) over
    the top-200 tokens — corpus-health probe (natural text ≈ −1). All lns
    and products round to 6dp before summation (lm.py discipline); one
    vocab hash-agg + per-source top-k window + tiny final agg."""
    from ocr_redaction_engine_spark.analytics.text import zipf_fit
    return zipf_fit(_t(spark, sf_dir, "documents"), top_n=200, min_count=2)


def text_source_overlap(spark, sf_dir):
    """Cross-source 5-gram containment matrix (dedup planning): corpus
    collapses to DISTINCT (source, gram-fp64) first, self-join fans out
    ≤|sources|² per gram, output ≤ C(|sources|,2) rows; DECIMAL(38,0)
    containment fold."""
    from ocr_redaction_engine_spark.analytics.text import source_overlap
    return source_overlap(_t(spark, sf_dir, "documents"), n=5)


def text_readability(spark, sf_dir):
    """Flesch reading-ease + difficulty band per doc — vowel-group
    syllable heuristic, terminal-punctuation sentences; map-only regexps,
    no shuffle."""
    from ocr_redaction_engine_spark.analytics.text import readability
    return readability(_t(spark, sf_dir, "documents"))


def ann_centroid_outliers(spark, sf_dir):
    """Embedding-space outlier screen: top-5 farthest (exact int64
    fixed-point squared L2) vectors from their label-group mean — the
    mislabel/contamination probe. Centroid = tiny (label,dim) hash-agg
    re-attached as a per-label array; distance is a map-side zip_with
    fold; one per-label top-k window."""
    from ocr_redaction_engine_spark.analytics.similarity import centroid_outliers
    return centroid_outliers(_t(spark, sf_dir, "embeddings"), k=5)


def events_schema_drift(spark, sf_dir):
    """JSON feed-contract drift monitor: per (day, key) presence rate with
    new/dropped/absent/shifted/stable statuses. The raw feed's key set is
    static, so the query derives the real-world shape deterministically:
    docs before 2024-01-16 carry a 'legacy' key, later ones 'vnew' — the
    producer-migration event the monitor exists to catch."""
    from ocr_redaction_engine_spark.analytics.ingest import json_schema_drift
    ev = _t(spark, sf_dir, "events")
    day = F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT) DIV 86400")
    aug = ev.select(
        "event_id", "ts", "user_id", "event_type", "value",
        F.when(day < 19738,
               F.expr("replace(props, '}', ', \"legacy\": 1}')"))
         .otherwise(F.expr("replace(props, '}', ', \"vnew\": 1}')"))
         .alias("props"))
    return json_schema_drift(aug, shift_bp=2000)


def sketch_bloom_fpr(spark, sf_dir):
    """Empirical Bloom FPR calibration across an (m,k) sizing grid:
    corpus bitmap via map-side bit_or agg, guaranteed-non-member probe
    range, broadcast word-join membership check — one row per config."""
    from ocr_redaction_engine_spark.analytics.dedup import bloom_fpr_calibration
    return bloom_fpr_calibration(_t(spark, sf_dir, "documents"),
                                 n_probes=2000,
                                 grid=((4096, 4), (32768, 4),
                                       (32768, 6), (262144, 6)))


def storage_partition_skew(spark, sf_dir):
    """Partition-layout advisor: per (source,lang) rows/bytes, table share
    bp, skew vs mean (x10), writer file count at the target size, hot flag
    (>=3x mean -> salt or AQE skew-join). One hash-agg; windows ride
    |partitions| rows."""
    from ocr_redaction_engine_spark.storage import partition_stats
    return partition_stats(_t(spark, sf_dir, "documents"),
                           keys=("source", "lang"), target_bytes=60_000)


def text_heaps_fit(spark, sf_dir):
    """Heaps'-law vocab-growth fit V(n)=K·n^beta in doc_id ingestion
    order: 64 doc-range buckets (bounds = two collected scalars), per
    bucket token mass + NEW vocab via min-bucket agg over the vocabulary,
    cumsums + ln-ln OLS over 64 rows — no full-corpus window."""
    from ocr_redaction_engine_spark.analytics.text import heaps_fit
    return heaps_fit(_t(spark, sf_dir, "documents"), n_buckets=64)


def web_url_params(spark, sf_dir):
    """Query-param census of the synthetic crawl frontier: per key count /
    distinct values / cardinality bp / constant|low_cardinality|id_like
    class — the measurement behind canonicalization strip rules. Map-only
    parse + one hash-agg; |keys| output rows."""
    from ocr_redaction_engine_spark.analytics.webgraph import (
        synth_urls, url_param_profile)
    return url_param_profile(synth_urls(_t(spark, sf_dir, "documents")))


def extract_table_structure(spark, sf_dir):
    """Table-structure recovery from (synthesized, jittered) word boxes:
    rows by y-gap clustering, columns by x-gap clustering — two per-page
    lag windows + running sums, shuffle key doc_id, no global sort."""
    from ocr_redaction_engine_spark.analytics.extraction import (
        recover_table, synth_table_boxes)
    return recover_table(synth_table_boxes(_t(spark, sf_dir, "documents")))


def dedup_banding_eval(spark, sf_dir):
    """Measured banding calibration: recall/precision of the 4-band
    MinHash candidate generator vs exact Jaccard>=0.8 ground truth on a
    1/8 hash sample of docs (the quadratic truth join stays sample-sized;
    candidates are the real banding run restricted to the sample)."""
    from ocr_redaction_engine_spark.analytics.dedup import banding_eval
    return banding_eval(_t(spark, sf_dir, "documents"),
                        threshold=0.8, sample_mod=8)


def pack_fill_stats(spark, sf_dir):
    """Context-length planning table over (256,512,1024,2048): docs over
    L, chunk counts, padding waste bp for pad-per-doc vs concat packing —
    closed-form from per-doc token counts, |lengths| output rows."""
    from ocr_redaction_engine_spark.analytics.packing import fill_stats
    return fill_stats(_t(spark, sf_dir, "documents"),
                      lengths=(256, 512, 1024, 2048))


def text_code_detection(spark, sf_dir):
    """Code-vs-prose router (symbol density / keyword hits / digit
    density, 2-of-3 vote). The synthetic corpus is all prose, so docs with
    doc_id % 13 == 0 get a deterministic code-snippet tail — the mixed
    corpus the router exists for. Map-only; no shuffle."""
    from ocr_redaction_engine_spark.analytics.text import code_detection
    docs = _t(spark, sf_dir, "documents")
    snippet = (" def f(x): return x[0]; if (y == 1) { z[2] = 3; }"
               " import os var const i=42 for j in k: while (m) {}")
    docs = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0,
               F.concat("text", F.lit(snippet))).otherwise(F.col("text"))
         .alias("text"),
        "lang", "source", "n_chars")
    return code_detection(docs)


def orders_cohort_ltv(spark, sf_dir):
    """Cohort LTV curves: first-order-month cohorts × month offsets,
    integer cents, cumulative windows over months² rows; one co-keyed
    shuffle (orders ⋈ per-customer firsts on o_custkey)."""
    from ocr_redaction_engine_spark.analytics.temporal import cohort_ltv
    return cohort_ltv(_t(spark, sf_dir, "orders"))


def web_trustrank(spark, sf_dir):
    """TrustRank: PageRank with teleport concentrated on an md5-gated
    trusted seed set — link-spam clusters unreachable from seeds starve.
    Same integer micro-rank loop and one-shuffle-per-iteration shape as
    web_pagerank."""
    from ocr_redaction_engine_spark.analytics.webgraph import trustrank
    return trustrank(_t(spark, sf_dir, "documents"), iters=3, seed_mod=10)


def embed_dim_stats(spark, sf_dir):
    """Embedding dimension health: exact fixed-point per-dim mean/var,
    variance share bp, top-10 by variance — the whitening/dead-dim audit.
    One posexplode hash-agg; ranking rides |dims| rows."""
    from ocr_redaction_engine_spark.analytics.similarity import dim_stats
    return dim_stats(_t(spark, sf_dir, "embeddings"), top_k=10)


def dedup_onion_funnel(spark, sf_dir):
    """Layered dedup rejection funnel (exact → CCNet-normalized →
    MinHash near-dup on 3-gram shingles at shingle-J≥0.5, greedy
    keep-lowest-id): removed-per-layer table over a corpus with planted
    copies (md5 draw: exact / uppercased / whitespace-mangled twins),
    each layer running only on prior survivors; stage 3 bands shingles
    (unigram banding candidates ~94% of the cross product here)."""
    from ocr_redaction_engine_spark.analytics.dedup import onion_funnel
    from ocr_redaction_engine_spark.analytics.text import md5_long
    docs = _t(spark, sf_dir, "documents")
    d = docs.withColumn(
        "draw", md5_long(F.concat(F.col("doc_id").cast("string"),
                                  F.lit(":onion"))) % 4)
    copies = d.where("draw < 3").select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.when(F.col("draw") == 0, F.col("text"))
         .when(F.col("draw") == 1, F.upper("text"))
         .otherwise(F.regexp_replace("text", " ", "   ")).alias("text"),
        "lang", "source", "n_chars")
    return onion_funnel(docs.unionByName(copies), jaccard_t=0.5, shingle_n=3)


def multimodal_shot_bounds(spark, sf_dir):
    """Shot-boundary detection over the synthetic byte streams: windowed
    RMS (Arrow stage) → per-media lag window, relative jump ≥30% cuts,
    running-sum shot ids. Integer bp; shuffle key media_id."""
    from ocr_redaction_engine_spark.analytics.multimodal import (
        shot_boundaries, synthesize_binary)
    return shot_boundaries(synthesize_binary(spark, N_MEDIA),
                           window=64, jump_bp=3000)


def web_redirects(spark, sf_dir):
    """Redirect-chain canonicalization by pointer doubling: chains ≤2^4
    hops collapse in 4 equi-join rounds (log-round shuffles, the
    dedup_components discipline on functional graphs); cycles return
    resolved=false."""
    from ocr_redaction_engine_spark.analytics.webgraph import resolve_redirects
    return resolve_redirects(_t(spark, sf_dir, "documents"),
                             redirect_mod=5, iters=4)


def sample_bootstrap(spark, sf_dir):
    """Poisson-bootstrap confidence intervals for the corpus mean doc
    length: per (row, replicate) Poisson(1) multiplicity from an md5
    uniform pushed through a precomputed integer CDF — map-side weights,
    one replicate hash-agg, no resample materialization."""
    from ocr_redaction_engine_spark.analytics.sampling import poisson_bootstrap
    return poisson_bootstrap(_t(spark, sf_dir, "documents"), n_reps=20)


def events_changepoint(spark, sf_dir):
    """Level-shift detection per event type: argmax |mean-before −
    mean-after| split over daily volumes, exact cross-multiplied integer
    scoring. The uniform feed is thinned deterministically (clicks lose
    ~60% of rows after 2024-01-16) so a true change-point exists."""
    from ocr_redaction_engine_spark.analytics.temporal import volume_changepoints
    ev = _t(spark, sf_dir, "events")
    day = F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT) DIV 86400")
    drop = ((F.col("event_type") == "click") & (day >= 19738)
            & (F.conv(F.substring(F.md5(F.concat(
                F.col("event_id").cast("string"), F.lit(":thin"))), 1, 8),
                16, 10).cast("long") % 10 < 6))
    return volume_changepoints(ev.where(~drop), min_delta_e6=300000)


def embed_top_component(spark, sf_dir):
    """Top principal direction by integer power iteration (2 rounds):
    ×1e6 quantized vectors, md5-seeded integer v0, DECIMAL(38,0) per-dim
    folds, floor-division renormalization to ±2^19 — one posexplode
    hash-agg per round, 64-row collect between rounds (kmeans
    precedent). The pre-whitening anisotropy probe."""
    from ocr_redaction_engine_spark.analytics.similarity import top_component
    return top_component(_t(spark, sf_dir, "embeddings"), n_iters=2)


def web_host_graph(spark, sf_dir):
    """Host-level link-graph rollup: page edges collapse through the
    page→host map into weighted host edges (n_links, distinct source
    pages, intra-host flag) — the compression before ranking at scale."""
    from ocr_redaction_engine_spark.analytics.webgraph import host_graph
    return host_graph(_t(spark, sf_dir, "documents"))


def events_forecast_backtest(spark, sf_dir):
    """Seasonal-naive vs naive-1 MAE backtest per event type (×1e6
    integer units, identical scored days) — the forecast sanity floor +
    weekly-seasonality detector. (type,day) hash-agg; lags/MAEs ride
    |types|×|days| rows."""
    from ocr_redaction_engine_spark.analytics.temporal import (
        seasonal_naive_backtest)
    return seasonal_naive_backtest(_t(spark, sf_dir, "events"), season=7)


def ann_whitened_topk(spark, sf_dir):
    """All-but-the-top whitened retrieval: remove the power-iteration
    dominant direction with the scale-free integer correction
    x' = x·(v·v) − v·(x·v), then the ann_cosine_topk protocol verbatim —
    before/after anisotropy evidence."""
    from ocr_redaction_engine_spark.analytics.similarity import whitened_topk
    return whitened_topk(_t(spark, sf_dir, "embeddings"), n_queries=5, k=10)


def text_burstiness(spark, sf_dir):
    """Token burstiness (Church-Gale VMR, integer cross-multiplied) for
    the top-100 tokens — keyword-vs-stopword separation raw frequency
    misses. One (token,doc) hash-agg + vocab rollup + Zipf-small rank."""
    from ocr_redaction_engine_spark.analytics.text import burstiness
    return burstiness(_t(spark, sf_dir, "documents"), top_n=100, min_docs=5)


def storage_clustering_depth(spark, sf_dir):
    """Clustering-depth audit over the synthetic file inventory: average/
    max key-range overlap per (source, layout) for a contiguous-slice vs
    md5-scattered layout of the same files — the sort-order-health metric
    behind zorder maintenance. Bucketed interval equi-join, no BNLJ."""
    from ocr_redaction_engine_spark.storage import clustering_depth
    return clustering_depth(_t(spark, sf_dir, "documents"),
                            files_per_source=40)


def q37_abc_parts(spark, sf_dir):
    """ABC (Pareto) classification of parts by revenue: per-part revenue
    hash-agg over lineitem (the only fact-table pass), then a TWO-PHASE
    distributed cumulative rank over the part list — repartitionByRange on
    (rev desc, partkey), per-partition totals collected (≤P scalar rows),
    prefix offsets broadcast back, rank/cumsum windows partitioned by pid
    (pack_offsets discipline; no single-task Window.orderBy, so the part
    dimension can grow with SF without serializing through one core).
    Revenue is EXACT integer centi-cents (no double round()); class A ≤80%
    cumulative revenue, B ≤95%, C rest, bp via DECIMAL(38,0)."""
    from pyspark.sql import Window
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey").agg(
        F.sum(F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)"
            " * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS INT))"
        )).alias("rev_cc"))
    parts = spark.sparkContext.defaultParallelism
    # localCheckpoint pins ONE materialization of the range exchange so the
    # totals collect and the window job see identical partition boundaries
    d = (per.repartitionByRange(parts, F.col("rev_cc").desc(),
                                F.col("l_partkey").asc())
         .withColumn("pid", F.spark_partition_id())
         .localCheckpoint(eager=False))
    totals = {r["pid"]: (r["cnt"], r["tot"]) for r in
              d.groupBy("pid").agg(
                  F.count("*").alias("cnt"),
                  F.sum("rev_cc").alias("tot")).collect()}
    cnt_prefix, sum_prefix, run_c, run_s = {}, {}, 0, 0
    for pid in sorted(totals):
        cnt_prefix[pid], sum_prefix[pid] = run_c, run_s
        run_c += totals[pid][0]
        run_s += totals[pid][1]
    total = max(run_s, 1)
    cmap = F.create_map(
        *[F.lit(x) for pid in sorted(cnt_prefix) for x in (pid, cnt_prefix[pid])])
    smap = F.create_map(
        *[F.lit(x) for pid in sorted(sum_prefix) for x in (pid, sum_prefix[pid])])
    w = Window.partitionBy("pid").orderBy(
        F.col("rev_cc").desc(), F.col("l_partkey").asc())
    ranked = (d
              .withColumn("rnk", (cmap[F.col("pid")]
                                  + F.row_number().over(w)).cast("long"))
              .withColumn("cum", smap[F.col("pid")] + F.sum("rev_cc").over(
                  w.rowsBetween(Window.unboundedPreceding, 0))))
    share = F.expr(
        f"CAST(CAST(cum AS DECIMAL(38,0)) * 10000 DIV {total} AS BIGINT)")
    return ranked.select(
        "l_partkey", "rev_cc", "rnk",
        share.alias("cum_share_bp"),
        F.when(share <= 8000, "A").when(share <= 9500, "B")
         .otherwise("C").alias("abc_class"))


def text_vocab_coverage(spark, sf_dir):
    """Vocab coverage curve: token-mass share covered by the top-k types
    for k in (10,100,1000,10000) — the vocab-size selection read. One
    vocab hash-agg + rank window over the Zipf-small type table."""
    from ocr_redaction_engine_spark.analytics.text import vocab_coverage
    return vocab_coverage(_t(spark, sf_dir, "documents"),
                          ks=(10, 100, 1000, 10000))


def dedup_sentences(spark, sf_dir):
    """C4-style global sentence dedup: first corpus-wide occurrence of each
    sentence survives (window over the sentence hash), documents reassembled
    from survivors in original order."""
    from ocr_redaction_engine_spark.analytics.dedup import sentence_dedup
    return sentence_dedup(_t(spark, sf_dir, "documents"))


def dedup_host_boilerplate(spark, sf_dir):
    """Host-frequency boilerplate strip (the RefinedWeb/OSCAR line rule,
    host-conditional): sentences in >=2 docs AND >=50% of a host's docs are
    stripped from EVERY document of that host. The raw synthetic corpus has
    no within-host repeats, so the query derives a corpus with the real-web
    shape: every doc gains its host's footer sentence, and docs with
    doc_id % 97 == 3 additionally quote src0's footer — boilerplate on
    src0, a kept minority quote on every other host."""
    from ocr_redaction_engine_spark.analytics.dedup import host_boilerplate_strip
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.concat(
            F.col("text"),
            F.lit(". reserved footer "), F.col("source"), F.lit("."),
            F.when(F.col("doc_id") % 97 == F.lit(3),
                   F.lit(" reserved footer src0.")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return host_boilerplate_strip(docs, min_docs=2, pct=50)


def bpe_pair_counts(spark, sf_dir):
    """Distributed BPE pair counting (the per-iteration hot step of tokenizer
    training): distinct-word pre-agg → char-pair explode weighted by word
    frequency → top-30 pairs, deterministic tiebreak."""
    from ocr_redaction_engine_spark.analytics.text import bpe_pair_counts as _bpe
    return _bpe(_t(spark, sf_dir, "documents"), k=30)


def bpe_encode_pieces(spark, sf_dir):
    """Full BPE train+apply: 20 merges learned distributedly (pair-count
    Arrow passes over the vocab-sized distinct-word table), then the corpus
    encoded via a vocab join — oracled against an independent pure-Python
    BPE reference's golden parquet (tools/write_bpe_golden.py, sf0.01)."""
    from ocr_redaction_engine_spark.analytics.text import bpe_encode, bpe_learn
    docs = _t(spark, sf_dir, "documents")
    return bpe_encode(docs, bpe_learn(docs, n_merges=20))


def text_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer fertility audit (pieces/word, continuation
    rate, chars/piece) for the 20-merge BPE — the standard multilingual
    tokenizer-quality table. Never materializes the piece stream: one
    (lang, word) hash-agg + vocab-sized Arrow segmentation + tiny group
    agg; fixed-point DECIMAL ratios. Oracled against the pure-Python BPE
    golden joined to documents."""
    from ocr_redaction_engine_spark.analytics.text import (
        bpe_learn, tokenizer_fertility)
    docs = _t(spark, sf_dir, "documents")
    return tokenizer_fertility(docs, bpe_learn(docs, n_merges=20))


def text_chunks(spark, sf_dir):
    """Overlapping token-window chunking (embedding/RAG prep): 64-token
    chunks, 16-token overlap — map-only, zero shuffles."""
    from ocr_redaction_engine_spark.analytics.text import chunk_documents
    return chunk_documents(_t(spark, sf_dir, "documents"),
                           chunk_tokens=64, overlap=16)


def sample_unimax_plan(spark, sf_dir):
    """UniMax mixture planning: epoch-capped water-filling of a 10k-token
    budget across sources (closed form — one corpus hash-agg, then windows
    over the |sources|-row table). Capped sources take n_tokens×2; the
    rest split the remainder equally, leftover to the largest."""
    from ocr_redaction_engine_spark.analytics.sampling import unimax_mixture
    return unimax_mixture(_t(spark, sf_dir, "documents"),
                          budget_tokens=10_000, max_epochs=2)


def sample_dsir(spark, sf_dir):
    """DSIR domain selection: unigram log-likelihood ratio of each raw doc
    vs the src18 target domain, Laplace-smoothed; top-100 selected."""
    from ocr_redaction_engine_spark.analytics.sampling import dsir_scores
    docs = _t(spark, sf_dir, "documents")
    return dsir_scores(docs.filter(F.col("source") != "src18"),
                       docs.filter(F.col("source") == "src18"), k=100)


def decontam_minhash(spark, sf_dir):
    """Paraphrase-level train-vs-eval decontamination: cross-corpus MinHash
    band join (src19 = held-out eval split), exact Jaccard verify."""
    from ocr_redaction_engine_spark.analytics.dedup import minhash_decontaminate
    docs = _t(spark, sf_dir, "documents")
    return minhash_decontaminate(
        docs.filter(F.col("source") != "src19"),
        docs.filter(F.col("source") == "src19"), threshold=0.5)


def ann_pq_adc(spark, sf_dir):
    """Product-quantization ADC top-k: per-subspace int64 k-means codebooks,
    candidates stored as m codes, query scored via broadcast distance-table
    lookups — integer-exact end to end."""
    from ocr_redaction_engine_spark.analytics.similarity import pq_adc_topk
    return pq_adc_topk(_t(spark, sf_dir, "embeddings"),
                       n_queries=5, k=10, m=4, n_codes=16, n_iters=1)


def dedup_semantic(spark, sf_dir):
    """SemDeDup: k-means coarse clusters, exact cosine only within clusters,
    keep-lowest-id survivors. The quadratic part never leaves a cluster."""
    from ocr_redaction_engine_spark.analytics.similarity import semantic_dedup
    return semantic_dedup(_t(spark, sf_dir, "embeddings"),
                          n_clusters=16, threshold=0.92)


def search_bm25(spark, sf_dir):
    """BM25 ranked retrieval over the documents corpus: one postings shuffle,
    query-term-pruned df, broadcast-joined scoring, top-10 per query."""
    from ocr_redaction_engine_spark.analytics.search import bm25_topk
    return bm25_topk(_t(spark, sf_dir, "documents"), k=10)


def search_mlt(spark, sf_dir):
    """More-like-this lexical retrieval: rank the corpus by rare-term
    overlap with each query document (first-16-token query profile),
    integer 1e6-DIV-df term weights — the query-by-document sparse
    retriever. Postings shuffle + broadcast query terms + salted top-k."""
    from ocr_redaction_engine_spark.analytics.search import mlt_topk
    return mlt_topk(_t(spark, sf_dir, "documents"), n_queries=5, k=10)


def search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of the more-like-this
    lexical ranking and the dense cosine ranking over the same query ids
    (vec i = doc i). Integer micro-unit RRF over each ranker's top-20;
    the fusion join runs on bounded top-k outputs only."""
    from ocr_redaction_engine_spark.analytics.search import hybrid_rrf
    return hybrid_rrf(_t(spark, sf_dir, "documents"),
                      _t(spark, sf_dir, "embeddings"), n_queries=5, k=10)


def web_snapshot_delta(spark, sf_dir):
    """Incremental-crawl CDC: diff two snapshots (old = corpus; new =
    deterministic refresh with 10% removed, 10% rewritten, 10% new URLs) —
    full outer join on the key over map-side md5 fingerprints."""
    from ocr_redaction_engine_spark.analytics.webgraph import snapshot_delta
    docs = _t(spark, sf_dir, "documents")
    draw = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
               16, 10).cast("long"), F.lit(10))
    old = docs.select("doc_id", "text")
    d = docs.withColumn("d", draw)
    new = d.filter("d <> 0").select(
        "doc_id",
        F.when(F.col("d") == 1, F.concat("text", F.lit(" updated")))
        .otherwise(F.col("text")).alias("text"))
    added = d.filter("d = 2").select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.md5("text").alias("text"))
    return snapshot_delta(old, new.unionByName(added))


def search_phrase(spark, sf_dir):
    """Exact positional phrase search: token positions join the tiny
    (phrase, term, slot) table, matches vote for start = pos − slot, a
    phrase occurs where all slots are present. One broadcast join + one
    hash-agg — no per-word self-join chain."""
    from ocr_redaction_engine_spark.analytics.search import phrase_search
    return phrase_search(_t(spark, sf_dir, "documents"))


def search_fuzzy(spark, sf_dir):
    """Typo-tolerant dictionary matching (FastSS): corpus vocabulary and the
    tiny dictionary both explode their 1-deletion neighborhoods, candidates
    come from the variant equi-join (broadcast dict side), exact
    levenshtein<=1 verifies. Vocab-sized work after the postings collapse."""
    from ocr_redaction_engine_spark.analytics.search import fuzzy_dict_match
    return fuzzy_dict_match(_t(spark, sf_dir, "documents"))


def sample_leakage_split(spark, sf_dir):
    """Leakage-safe train/val/test split: assignment keyed on the near-dup
    cluster (connected components over LSH candidate pairs), so duplicates
    never straddle splits. Deterministic md5 draw per group."""
    from ocr_redaction_engine_spark.analytics.sampling import leakage_safe_split
    return leakage_safe_split(_t(spark, sf_dir, "documents"))


def extract_metadata(spark, sf_dir):
    """Head-metadata extraction (WARC → document metadata): title, meta
    description, canonical URL, og:locale, meta-tag count from the
    deterministic metadata-rich markup. Map-only regexp projections."""
    from ocr_redaction_engine_spark.analytics.extraction import (
        as_html_meta, page_metadata)
    return page_metadata(as_html_meta(_t(spark, sf_dir, "documents")))


def text_nb_classifier(spark, sf_dir):
    """Quality-classifier pipeline stage (the fastText-classifier analog of
    the GPT-3/CCNet recipes): train multinomial Naive Bayes on the hash-75%
    fold with lang=='en' teacher labels, score every document. Vocab-sized
    broadcast weights; round-6 contributions for cross-engine determinism."""
    from ocr_redaction_engine_spark.analytics.lm import nb_classify
    docs = _t(spark, sf_dir, "documents")
    return nb_classify(docs.withColumn("label", F.col("lang") == "en"), "label")


def text_nb_pr_curve(spark, sf_dir):
    """Filter-threshold eval sweep: precision/recall/F1 of the NB quality
    classifier on its HELD-OUT fold, one row per occupied score bin — no
    global score sort (fixed-point e6 binning + hash-agg histogram +
    window over the ≤32-row histogram), integer-bp metrics."""
    from ocr_redaction_engine_spark.analytics.lm import nb_classify, pr_curve
    docs = _t(spark, sf_dir, "documents")
    scored = nb_classify(docs.withColumn("label", F.col("lang") == "en"),
                         "label")
    ev = (scored.filter(~F.col("is_train"))
          .join(docs.select("doc_id",
                            (F.col("lang") == "en").alias("label")), "doc_id"))
    return pr_curve(ev, n_bins=32)


def text_lm_xent(spark, sf_dir):
    """CCNet-style LM filter: bigram cross-entropy of every document under a
    Laplace-smoothed LM trained on the English slice (reference corpus).
    Cross-entropy in nats — same ranking as perplexity without an exp()
    determinism surface."""
    from ocr_redaction_engine_spark.analytics.lm import lm_cross_entropy
    docs = _t(spark, sf_dir, "documents")
    return lm_cross_entropy(docs, docs.filter(F.col("lang") == "en"))


def text_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail corpus split (Wenzek et al. 2020): per-source
    perplexity terciles of the bigram-LM cross-entropy under the English
    reference slice. Integer micro-nat scores + the histogram-quantile
    sketch keep banding exact cross-engine; assignment is a broadcast join
    of one boundary array per source, no global sort."""
    from ocr_redaction_engine_spark.analytics.lm import ccnet_buckets
    docs = _t(spark, sf_dir, "documents")
    return ccnet_buckets(docs, docs.filter(F.col("lang") == "en"))


def pii_dict_match(spark, sf_dir):
    """Broadcast Aho–Corasick dictionary matching (north_star's "dictionary
    name matching ... broadcast Aho-Corasick automaton"): ONE automaton pass
    per document over a deterministically name-planted corpus (the base
    word-soup text is lowercase; the dictionary is uppercase, so every match
    is a planted name), emitting (doc_id, term, n_matches, first_pos) with
    greedy-left non-overlapping per-term counts — replace-fold comparable.
    Zero shuffles: a broadcast + one Arrow map stage."""
    from ocr_redaction_engine_spark.pii import dict_match
    from ocr_redaction_engine_spark.places import GIVEN_NAMES, SURNAMES
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    g = F.array(*[F.lit(x) for x in GIVEN_NAMES])
    s = F.array(*[F.lit(x) for x in SURNAMES])
    aug = F.concat(
        F.col("text"),
        F.when(did % 2 == 0, F.concat(
            F.lit(" "), F.element_at(g, (did % 64 + 1).cast("int")),
            F.lit(" "), F.element_at(s, (did % 40 + 1).cast("int")))
        ).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.concat(
            F.lit(" "), F.element_at(g, ((did * 7) % 64 + 1).cast("int")))
        ).otherwise(F.lit("")),
    )
    return dict_match(docs.withColumn("text", aug), GIVEN_NAMES + SURNAMES)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_filter_pushdown_sum": q01_filter_pushdown_sum,
        "q02_project_split": q02_project_split,
        "q03_token_explode_agg": q03_token_explode_agg,
        "q04_classify_firstmatch": q04_classify_firstmatch,
        "q05_pii_redact": q05_pii_redact,
        "q06_token_filter": q06_token_filter,
        "q07_window_seqnum": q07_window_seqnum,
        "q08_first_event_per_user": q08_first_event_per_user,
        "q09_distinct_dedupe": q09_distinct_dedupe,
        "q10_fingerprint": q10_fingerprint,
        "q11_dict_broadcast_join": q11_dict_broadcast_join,
        "q12_anti_join": q12_anti_join,
        "q13_groupagg_q1": q13_groupagg_q1,
        "q14_join_broadcast_revenue": q14_join_broadcast_revenue,
        "q15_rejected_box": q15_rejected_box,
        "q16_name_parse": q16_name_parse,
        "q17_hourly_rollup": q17_hourly_rollup,
        "q18_hof_token_ops": q18_hof_token_ops,
        "q19_reverse_scan": q19_reverse_scan,
        "q20_pan_predicate": q20_pan_predicate,
        "q21_date_bank_firstmatch": q21_date_bank_firstmatch,
        "q22_lead_anchor": q22_lead_anchor,
        "q23_take_until": q23_take_until,
        "q24_distinct_order_fp": q24_distinct_order_fp,
        "q25_except_years": q25_except_years,
        "q26_rollup": q26_rollup,
        "q27_assembly_fp": q27_assembly_fp,
        "q28_salted_agg": q28_salted_agg,
        "q29_shingles": q29_shingles,
        "q30_topk_orders": q30_topk_orders,
        "q31_session_windows": q31_session_windows,
        "q32_asof_join": q32_asof_join,
        "q33_range_join": q33_range_join,
        "events_funnel": events_funnel,
        "events_retention": events_retention,
        "events_transitions": events_transitions,
        "events_hourly_anomaly": events_hourly_anomaly,
        "events_quarantine": events_quarantine,
        "storage_merge_upsert": storage_merge_upsert,
        "events_active_users": events_active_users,
        "events_sax_symbols": events_sax_symbols,
        "events_top_paths": events_top_paths,
        "events_pivot_matrix": events_pivot_matrix,
        "events_type_correlation": events_type_correlation,
        "events_interval_pairs": events_interval_pairs,
        "events_value_trend": events_value_trend,
        "q35_snowflake_rollup": q35_snowflake_rollup,
        "q36_market_share": q36_market_share,
        "events_json_keys": events_json_keys,
        "audit_referential": audit_referential,
        "basket_part_lift": basket_part_lift,
        "orders_rfm": orders_rfm,
        "orders_scd_intervals": orders_scd_intervals,
        "sample_negative_pairs": sample_negative_pairs,
        "ann_recall_eval": ann_recall_eval,
        "dedup_prefix_jaccard": dedup_prefix_jaccard,
        "privacy_k_anonymity": privacy_k_anonymity,
        "privacy_pseudonymize": privacy_pseudonymize,
        "privacy_t_closeness": privacy_t_closeness,
        "er_blocked_match": er_blocked_match,
        "privacy_noisy_counts": privacy_noisy_counts,
        "q34_skew_join": q34_skew_join,
        "embed_norms": embed_norms,
        "text_token_count": text_token_count,
        "dedup_embedding_cosine": dedup_embedding_cosine,
        "dedup_exact": dedup_exact,
        "dedup_minhash_bands": dedup_minhash_bands,
        "dedup_jaccard_pairs": dedup_jaccard_pairs,
        "ann_cosine_topk": ann_cosine_topk,
        "text_quality": text_quality,
        "text_gopher_rules": text_gopher_rules,
        "text_langid": text_langid,
        "text_langid_eval": text_langid_eval,
        "text_vocab": text_vocab,
        "text_winnow_fp": text_winnow_fp,
        "sample_bernoulli": sample_bernoulli,
        "sample_stratified": sample_stratified,
        "sketch_kmv_distinct": sketch_kmv_distinct,
        "sketch_kmv_setops": sketch_kmv_setops,
        "sketch_kmv_containment": sketch_kmv_containment,
        "sketch_hll_distinct": sketch_hll_distinct,
        "sketch_hll_error": sketch_hll_error,
        "sketch_hist_quantiles": sketch_hist_quantiles,
        "sample_quantile_buckets": sample_quantile_buckets,
        "sample_weighted": sample_weighted,
        "text_pmi_collocations": text_pmi_collocations,
        "web_domain_cap": web_domain_cap,
        "storage_zorder_key": storage_zorder_key,
        "storage_compaction": storage_compaction,
        "dedup_normalized": dedup_normalized,
        "text_encoding_quality": text_encoding_quality,
        "profile_documents": profile_documents,
        "web_robots_filter": web_robots_filter,
        "text_length_outliers": text_length_outliers,
        "text_source_kl": text_source_kl,
        "web_hits": web_hits,
        "text_char_entropy": text_char_entropy,
        "text_repetition": text_repetition,
        "text_stopwords": text_stopwords,
        "text_contamination": text_contamination,
        "text_length_pcts": text_length_pcts,
        "text_eval_contamination": text_eval_contamination,
        "text_tfidf_topk": text_tfidf_topk,
        "dedup_sparse_cosine": dedup_sparse_cosine,
        "dedup_representatives": dedup_representatives,
        "dedup_apply": dedup_apply,
        "text_quality_filter": text_quality_filter,
        "text_quality_funnel": text_quality_funnel,
        "mix_char_budget": mix_char_budget,
        "dedup_bloom_probe": dedup_bloom_probe,
        "pack_sequences": pack_sequences,
        "text_pii_density": text_pii_density,
        "pii_dict_match": pii_dict_match,
        "embed_quantize": embed_quantize,
        "sample_temperature": sample_temperature,
        "text_repeated_spans": text_repeated_spans,
        "dedup_substring_clip": dedup_substring_clip,
        "dedup_incremental": dedup_incremental,
        "sketch_cm_heavy_hitters": sketch_cm_heavy_hitters,
        "pipeline_spans": pipeline_spans,
        "pipeline_redactions": pipeline_redactions,
        "pipeline_invalid_route": pipeline_invalid_route,
        "dedup_simhash_cands": dedup_simhash_cands,
        "dedup_simhash_pairs": dedup_simhash_pairs,
        "ann_lsh_topk": ann_lsh_topk,
        "ann_ivf_topk": ann_ivf_topk,
        "dedup_components": dedup_components,
        "dedup_cluster_stats": dedup_cluster_stats,
        "multimodal_byte_features": multimodal_byte_features,
        "multimodal_frame_sample": multimodal_frame_sample,
        "multimodal_window_energy": multimodal_window_energy,
        "multimodal_resample": multimodal_resample,
        "multimodal_phash_dedup": multimodal_phash_dedup,
        "extract_block_stats": extract_block_stats,
        "extract_main_text": extract_main_text,
        "extract_dom_main": extract_dom_main,
        "extract_block_labels": extract_block_labels,
        "extract_eval": extract_eval,
        "extract_eval_confusion": extract_eval_confusion,
        "layout_reading_order": layout_reading_order,
        "extract_pipeline_spans": extract_pipeline_spans,
        "web_links": web_links,
        "web_anchor_stats": web_anchor_stats,
        "web_pagerank": web_pagerank,
        "web_triangles": web_triangles,
        "web_frontier": web_frontier,
        "web_random_walks": web_random_walks,
        "web_domain_gini": web_domain_gini,
        "web_bfs_depth": web_bfs_depth,
        "web_kcore": web_kcore,
        "web_reciprocal": web_reciprocal,
        "web_communities": web_communities,
        "url_canonical": url_canonical,
        "dedup_cdc_chunks": dedup_cdc_chunks,
        "text_zipf_fit": text_zipf_fit,
        "text_source_overlap": text_source_overlap,
        "text_readability": text_readability,
        "ann_centroid_outliers": ann_centroid_outliers,
        "events_schema_drift": events_schema_drift,
        "sketch_bloom_fpr": sketch_bloom_fpr,
        "storage_partition_skew": storage_partition_skew,
        "text_heaps_fit": text_heaps_fit,
        "web_url_params": web_url_params,
        "extract_table_structure": extract_table_structure,
        "dedup_banding_eval": dedup_banding_eval,
        "pack_fill_stats": pack_fill_stats,
        "text_code_detection": text_code_detection,
        "orders_cohort_ltv": orders_cohort_ltv,
        "web_trustrank": web_trustrank,
        "embed_dim_stats": embed_dim_stats,
        "dedup_onion_funnel": dedup_onion_funnel,
        "multimodal_shot_bounds": multimodal_shot_bounds,
        "web_redirects": web_redirects,
        "sample_bootstrap": sample_bootstrap,
        "events_changepoint": events_changepoint,
        "embed_top_component": embed_top_component,
        "web_host_graph": web_host_graph,
        "events_forecast_backtest": events_forecast_backtest,
        "ann_whitened_topk": ann_whitened_topk,
        "text_burstiness": text_burstiness,
        "storage_clustering_depth": storage_clustering_depth,
        "q37_abc_parts": q37_abc_parts,
        "text_vocab_coverage": text_vocab_coverage,
        "dedup_sentences": dedup_sentences,
        "dedup_host_boilerplate": dedup_host_boilerplate,
        "bpe_pair_counts": bpe_pair_counts,
        "search_bm25": search_bm25,
        "search_mlt": search_mlt,
        "search_hybrid_rrf": search_hybrid_rrf,
        "dedup_semantic": dedup_semantic,
        "ann_pq_adc": ann_pq_adc,
        "decontam_minhash": decontam_minhash,
        "text_chunks": text_chunks,
        "sample_dsir": sample_dsir,
        "sample_unimax_plan": sample_unimax_plan,
        "bpe_encode_pieces": bpe_encode_pieces,
        "text_tokenizer_fertility": text_tokenizer_fertility,
        "text_nb_classifier": text_nb_classifier,
        "text_nb_pr_curve": text_nb_pr_curve,
        "text_lm_xent": text_lm_xent,
        "text_ccnet_buckets": text_ccnet_buckets,
        "extract_metadata": extract_metadata,
        "sample_leakage_split": sample_leakage_split,
        "search_phrase": search_phrase,
        "web_snapshot_delta": web_snapshot_delta,
        "search_fuzzy": search_fuzzy,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_TOK = r"string_split_regex(trim(text), '\s+')"


def _names_sql_list(which: int) -> str:
    """DuckDB list literal of the planted-name dictionary halves — the SAME
    constants the Spark side reads from places.py, so query and oracle can
    never drift."""
    from ocr_redaction_engine_spark.places import GIVEN_NAMES, SURNAMES
    names = GIVEN_NAMES if which == 0 else SURNAMES
    return "[" + ", ".join(f"'{n}'" for n in names) + "]"

# phrase workload rendered as SQL VALUES from the single source of truth
# (analytics/search.DEFAULT_PHRASES) so Spark query and oracle cannot drift
from ocr_redaction_engine_spark.analytics.search import DEFAULT_PHRASES as _PHRASES  # noqa: E402

_PHRASE_VALUES = ", ".join(
    f"({pi}, '{p}', '{t}', {si}, {len(p.split())})"
    for pi, p in enumerate(_PHRASES) for si, t in enumerate(p.split()))

from ocr_redaction_engine_spark.analytics.search import DEFAULT_FUZZY_TERMS as _FUZZY  # noqa: E402
_FUZZY_VALUES = ", ".join(f"('{t}')" for t in _FUZZY)

# Deterministic markup + DOM block segmentation/scoring mirror of
# analytics/extraction.py (as_html → html_blocks). DuckDB's list_transform
# index lambda is 1-based; Spark's posexplode pos is 0-based, hence i-1.
_HTML_CTE = r"""
    WITH pages AS (
      SELECT doc_id,
             '<html><head><title>' || CAST(doc_id AS VARCHAR) || '</title>'
             || '<script type="text/javascript">var t="' || substring(md5(text), 1, 8) || '";trk();</script>'
             || '<style>.m{margin:0}</style></head><body>'
             || '<nav><a href="/">Home</a><a href="/a">About</a><a href="/c">Contact</a></nav>'
             || '<div id="main"><p>' || substring(text, 1, greatest(CAST(floor(length(text) / 2) AS INT), 1)) || '</p>'
             || '<p>' || substring(text, greatest(CAST(floor(length(text) / 2) AS INT), 1) + 1) || '</p></div>'
             || '<div class="side"><a href="/x">' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)
             || '</a><a href="/y">' || substring(md5(CAST(doc_id AS VARCHAR)), 7, 6)
             || '</a><a href="/z">' || substring(md5(CAST(doc_id AS VARCHAR)), 13, 6) || '</a></div>'
             || '<footer>Copyright Example Site - <a href="/p">Privacy</a><a href="/t">Terms</a></footer>'
             || '</body></html>' AS html
      FROM documents
    ),
    rawblocks AS (
      SELECT doc_id,
             unnest(list_transform(
               regexp_split_to_array(
                 regexp_replace(regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                                '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
                 '</p>|</div>|</nav>|</footer>'),
               (x, i) -> struct_pack(i := i, b := x))) AS s
      FROM pages
    ),
    blocks AS (
      SELECT doc_id, CAST(s.i - 1 AS INT) AS pos,
             trim(regexp_replace(regexp_replace(s.b, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS btext,
             CAST(len(regexp_extract_all(s.b, '<a ')) AS INT) AS n_links,
             CAST(coalesce(list_sum(list_transform(
                 regexp_extract_all(s.b, '<a [^>]*>([^<]*)</a>', 1),
                 x -> length(x))), 0) AS BIGINT) AS anchor_chars
      FROM rawblocks
    ),
    scored AS (
      SELECT doc_id, pos, btext, n_links, anchor_chars,
             CAST(length(btext) AS INT) AS text_len,
             round(CAST(anchor_chars AS DOUBLE) / greatest(length(btext), 1), 6) AS link_density
      FROM blocks
    )
"""

# Synthetic media payload as a recursive CTE — the exact md5-hex-chain of
# analytics/multimodal.py:_payload (seed 42, N_MEDIA rows). `bytes` is one
# row per (media_id, byte offset i, byte value v).
_MEDIA_CTE = f"""
    WITH RECURSIVE base AS (
      SELECT CAST(r.range AS BIGINT) AS media_id,
             256 + (CAST('0x' || substring(md5('42:' || CAST(r.range AS VARCHAR) || ':len'), 1, 4) AS INT) % 1024) AS ln
      FROM range({N_MEDIA}) r
    ),
    chain AS (
      SELECT media_id, ln, md5('42:' || CAST(media_id AS VARCHAR)) AS hx,
             md5('42:' || CAST(media_id AS VARCHAR)) AS acc
      FROM base
      UNION ALL
      SELECT media_id, ln, md5(hx), acc || md5(hx) FROM chain WHERE length(acc) < 2*ln
    ),
    payload AS (
      SELECT media_id, ln, substring(acc, 1, CAST(2*ln AS INT)) AS hx
      FROM chain WHERE length(acc) >= 2*ln
    ),
    bytes AS (
      SELECT media_id, ln, CAST(i.range AS BIGINT) AS i,
             CAST('0x' || substring(hx, CAST(2*i.range+1 AS INT), 2) AS INT) AS v
      FROM payload CROSS JOIN range(1280) i
      WHERE i.range < ln
    )
"""

# Shared k-means CTE chain (exact int64 fixed-point, 2 Lloyd iterations,
# md5-order seeds — the DuckDB twin of similarity.pq_codebooks with m=1):
# used by both the IVF ANN oracle and the SemDeDup oracle so the quantizer
# SQL cannot drift between them.
_KMEANS_C2 = """
            WITH dims AS (
              SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
                     unnest(range(len(embedding))) AS d
              FROM embeddings),
            fx AS (SELECT vec_id, d, CAST(floor(x*1000000) AS BIGINT) AS q FROM dims),
            seeds AS (
              SELECT vec_id, cluster FROM (
                SELECT vec_id,
                       row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cluster
                FROM embeddings) WHERE cluster < 16),
            c0 AS (SELECT s.cluster, f.d, f.q AS c FROM seeds s JOIN fx f USING (vec_id)),
            d1 AS (SELECT f.vec_id, c.cluster, SUM((f.q - c.c)*(f.q - c.c)) AS dist
                   FROM fx f JOIN c0 c USING (d) GROUP BY f.vec_id, c.cluster),
            a1 AS (SELECT vec_id, cluster FROM (
                     SELECT vec_id, cluster,
                            row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
                     FROM d1) WHERE rn = 1),
            m1 AS (SELECT a.cluster, f.d, SUM(f.q) AS s, COUNT(*) AS n
                   FROM a1 a JOIN fx f USING (vec_id) GROUP BY a.cluster, f.d),
            c1 AS (SELECT c0.cluster, c0.d, COALESCE(CAST(m1.s // m1.n AS BIGINT), c0.c) AS c
                   FROM c0 LEFT JOIN m1 ON m1.cluster = c0.cluster AND m1.d = c0.d),
            d2 AS (SELECT f.vec_id, c.cluster, SUM((f.q - c.c)*(f.q - c.c)) AS dist
                   FROM fx f JOIN c1 c USING (d) GROUP BY f.vec_id, c.cluster),
            a2 AS (SELECT vec_id, cluster FROM (
                     SELECT vec_id, cluster,
                            row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
                     FROM d2) WHERE rn = 1),
            m2 AS (SELECT a.cluster, f.d, SUM(f.q) AS s, COUNT(*) AS n
                   FROM a2 a JOIN fx f USING (vec_id) GROUP BY a.cluster, f.d),
            c2 AS (SELECT c1.cluster, c1.d, COALESCE(CAST(m2.s // m2.n AS BIGINT), c1.c) AS c
                   FROM c1 LEFT JOIN m2 ON m2.cluster = c1.cluster AND m2.d = c1.d)"""


def _bm25_values() -> str:
    """(query_id, term) VALUES rows from the engine's own query workload
    constant, so the oracle cannot drift from the Spark side."""
    from ocr_redaction_engine_spark.analytics.search import DEFAULT_QUERIES
    return ", ".join(
        f"({qi}, '{t}')"
        for qi, q in enumerate(DEFAULT_QUERIES)
        for t in dict.fromkeys(q.split())
    )


def oracle_sql() -> dict[str, str]:
    return {
        "q01_filter_pushdown_sum": """
            SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount >= 0.04 AND l_quantity < 25
        """,
        "q02_project_split": """
            SELECT c_custkey,
                   CAST(string_split(c_name, '#')[2] AS INT) AS cust_num,
                   lower(c_mktsegment) AS segment,
                   c_acctbal > 0 AS positive_bal
            FROM customer
        """,
        "q03_token_explode_agg": f"""
            SELECT doc_id,
                   len({_TOK}) AS n_tokens,
                   len(list_distinct({_TOK})) AS n_distinct
            FROM documents
        """,
        "q04_classify_firstmatch": r"""
            SELECT doc_id,
                   CASE WHEN regexp_matches(text, '\bstream\b') THEN 'STREAM'
                        WHEN regexp_matches(text, '\bwindow\b') THEN 'WINDOW'
                        WHEN regexp_matches(text, '\bjoin\b')   THEN 'JOIN'
                        WHEN regexp_matches(text, '\bscan\b')   THEN 'SCAN'
                        ELSE 'OTHER' END AS doc_class
            FROM documents
        """,
        "q05_pii_redact": r"""
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(
                     'u' || CAST(doc_id AS VARCHAR) || '@example.com ssn '
                       || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                       || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ph '
                       || lpad(CAST(doc_id AS VARCHAR), 10, '9'),
                     '\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b', '[EMAIL]', 'g'),
                     '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
                     '\b\d{10}\b', '[PHONE]', 'g') AS redacted
            FROM documents
        """,
        "q06_token_filter": f"""
            SELECT token, COUNT(*) AS cnt FROM (
              SELECT unnest({_TOK}) AS token FROM documents
            ) WHERE length(token) IN (3, 4) AND regexp_matches(token, '^[a-z]+$')
              AND regexp_matches(token, '^[a-z]+$')
            GROUP BY token
        """,
        "q07_window_seqnum": """
            SELECT user_id, event_id,
                   CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS seq
            FROM events WHERE user_id < 20
        """,
        "q08_first_event_per_user": """
            SELECT user_id, event_id AS first_event_id, event_type FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn
              FROM events
            ) WHERE rn = 1
        """,
        "q09_distinct_dedupe": """
            SELECT DISTINCT event_type, user_id % 10 AS user_mod FROM events
        """,
        "q10_fingerprint": f"""
            SELECT doc_id,
                   md5(array_to_string({_TOK}, ' ')) AS fp,
                   len({_TOK}) AS n_tokens
            FROM documents
        """,
        "q11_dict_broadcast_join": f"""
            SELECT doc_id, COUNT(*) AS n_hits, COUNT(DISTINCT token) AS n_terms
            FROM (SELECT doc_id, unnest({_TOK}) AS token FROM documents)
            WHERE token IN ('join','scan','merge','filter','sort','hash')
            GROUP BY doc_id
        """,
        "q12_anti_join": """
            SELECT c_mktsegment, COUNT(*) AS n_customers
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            GROUP BY c_mktsegment
        """,
        "q13_groupagg_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2001-09-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q14_join_broadcast_revenue": """
            SELECT c_mktsegment, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "q15_rejected_box": """
            SELECT doc_id, 0 AS x1, 0 AS y1, n_chars AS x2,
                   CAST(floor(n_chars * 0.8) AS BIGINT) AS y2
            FROM documents
        """,
        "q16_name_parse": """
            WITH named AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 0
                          THEN CAST(doc_id % 20 + 1 AS VARCHAR) || 'F-ab' || CAST(doc_id AS VARCHAR) || 'x_pg.jpg'
                          ELSE 'p' || CAST(doc_id AS VARCHAR) || '_pg.jpg' END AS document_name
              FROM documents)
            SELECT doc_id, document_name,
                   CASE WHEN regexp_matches(document_name, '^[0-9]+F[0-9a-fA-Z_-]+')
                        THEN CAST(string_split(string_split(document_name, '-')[1], 'F')[1] AS INT) - 1
                        ELSE 0 END AS frame_id,
                   CASE WHEN regexp_matches(document_name, '^[0-9]+F[0-9a-fA-Z_-]+')
                        THEN substring(string_split(string_split(document_name, '_')[1], '-')[2], 1,
                                       length(string_split(string_split(document_name, '_')[1], '-')[2]) - 1)
                        ELSE substring(string_split(document_name, '_')[1], 1,
                                       length(string_split(document_name, '_')[1]) - 1) END AS document_id
            FROM named
        """,
        "q17_hourly_rollup": """
            SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hr, event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "q18_hof_token_ops": f"""
            SELECT doc_id,
                   len(list_filter({_TOK}, t -> length(t) > 4)) AS n_long,
                   array_to_string(list_transform(
                       list_slice(list_filter({_TOK}, t -> length(t) > 4), 1, 5),
                       t -> upper(t)), ' ') AS head_upper
            FROM documents
        """,
        "q19_reverse_scan": f"""
            SELECT doc_id,
                   array_to_string(list_slice(list_reverse({_TOK}), 1, 3), ' ') AS tail3
            FROM documents
        """,
        "q20_pan_predicate": r"""
            WITH c AS (
              SELECT doc_id,
                     upper(substring(text, 1, CAST(doc_id % 4 + 3 AS INT)))
                       || CAST(doc_id % 10000 AS VARCHAR) AS cand,
                     CAST(doc_id % 50 AS INT) AS x1
              FROM documents),
            p AS (
              SELECT *, x1 + length(cand) * 9 AS x2,
                     length(cand) IN (7, 9, 10)
                       AND cand = upper(cand)
                       AND regexp_matches(cand, '[0-9]')
                       AND regexp_matches(cand, '[A-Za-z]') AS is_pan
              FROM c)
            SELECT doc_id, cand, is_pan, x1,
                   CASE WHEN is_pan THEN x1 + CAST(floor(0.65 * (x2 - x1)) AS INT)
                        ELSE x2 END AS x2_trimmed
            FROM p
        """,
        "q21_date_bank_firstmatch": r"""
            WITH c AS (
              SELECT doc_id,
                     lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                       || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '-' END
                       || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
                       || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '-' END
                       || CAST(1950 + doc_id % 60 AS VARCHAR) AS cand
              FROM documents)
            SELECT doc_id, cand,
                   CASE WHEN regexp_matches(cand, '\d{2}/\d{2}/\d{4}') THEN 'slash_full'
                        WHEN regexp_matches(cand, '\d{2}-\d{2}-\d{4}') THEN 'dash_full'
                        WHEN regexp_matches(cand, '\d{4}-\d{4}') THEN 'year_pair_dash'
                        WHEN regexp_matches(cand, '\d{4}/\d{4}') THEN 'year_pair_slash'
                        WHEN regexp_matches(cand, '\d{2}/\d{2}/\d{2}') THEN 'slash_short'
                        WHEN regexp_matches(cand, '\d{1}/\d{2}/\d{4}') THEN 'slash_d1'
                        ELSE 'none' END AS matched
            FROM c
        """,
        "q22_lead_anchor": """
            SELECT user_id, event_id, event_type,
                   lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
            FROM events WHERE user_id < 50
        """,
        "q23_take_until": """
            WITH cuts AS (
              SELECT *, min(CASE WHEN event_type = 'purchase' THEN event_id END)
                          OVER (PARTITION BY user_id) AS cut
              FROM events)
            SELECT user_id, COUNT(*) AS n_before,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_before
            FROM cuts WHERE cut IS NULL OR event_id < cut
            GROUP BY user_id
        """,
        "q24_distinct_order_fp": f"""
            WITH tok AS (
              SELECT doc_id,
                     unnest(list_transform({_TOK}, (x, i) -> struct_pack(t := x, i := i))) AS s
              FROM documents),
            firsts AS (
              SELECT doc_id, s.t AS token, MIN(s.i) AS first_pos
              FROM tok GROUP BY doc_id, s.t)
            SELECT doc_id,
                   md5(string_agg(token, ' ' ORDER BY first_pos)) AS fp_distinct,
                   COUNT(*) AS n_distinct
            FROM firsts GROUP BY doc_id
        """,
        "q25_except_years": """
            WITH only95 AS (
              SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
              EXCEPT
              SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
            SELECT c_mktsegment, COUNT(*) AS n_customers
            FROM customer JOIN only95 ON c_custkey = o_custkey
            GROUP BY c_mktsegment
        """,
        "q26_rollup": """
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM events GROUP BY ROLLUP (event_type)
        """,
        "q27_assembly_fp": """
            SELECT user_id,
                   md5(string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY ts, event_id)) AS chain_fp,
                   COUNT(*) AS n_events
            FROM events GROUP BY user_id
        """,
        "q28_salted_agg": """
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM events GROUP BY event_type
        """,
        "q29_shingles": f"""
            WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
            s AS (
              SELECT doc_id,
                     list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                                    i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS sh
              FROM t)
            SELECT doc_id, len(sh) AS n_shingles, len(list_distinct(sh)) AS n_distinct_shingles
            FROM s
        """,
        "q30_topk_orders": """
            SELECT o_orderkey, o_custkey,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
            FROM orders
            ORDER BY totalprice DESC, o_orderkey ASC
            LIMIT 10
        """,
        "q31_session_windows": """
            WITH e AS (
              SELECT user_id, ts, event_id, value FROM events WHERE user_id < 30),
            marked AS (
              SELECT *, CASE WHEN epoch(ts) - lag(epoch(ts))
                               OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                             THEN 1 ELSE 0 END AS brk
              FROM e),
            sess AS (
              SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM marked)
            SELECT user_id,
                   CAST(MIN(ts) AS VARCHAR) AS session_start,
                   CAST(MAX(ts) + INTERVAL 30 MINUTES AS VARCHAR) AS session_end,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            FROM sess GROUP BY user_id, sid
        """,
        "q32_asof_join": """
            SELECT event_id, user_id, CAST(ts AS VARCHAR) AS ts, last_ref_id
            FROM (
              SELECT event_id, user_id, ts, event_type,
                     last_value(CASE WHEN event_type = 'error' THEN event_id END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_ref_id
              FROM events)
            WHERE event_type = 'click'
        """,
        "events_funnel": """
            WITH s1 AS (
              SELECT user_id, MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS t1
              FROM events WHERE event_type = 'signup' GROUP BY 1),
            s2 AS (
              SELECT e.user_id, MIN(CAST(floor(epoch(e.ts)) AS BIGINT)) AS t2
              FROM events e JOIN s1 USING (user_id)
              WHERE e.event_type = 'click' AND CAST(floor(epoch(e.ts)) AS BIGINT) > s1.t1
              GROUP BY 1),
            s3 AS (
              SELECT e.user_id, MIN(CAST(floor(epoch(e.ts)) AS BIGINT)) AS t3
              FROM events e JOIN s2 USING (user_id)
              WHERE e.event_type = 'purchase' AND CAST(floor(epoch(e.ts)) AS BIGINT) > s2.t2
              GROUP BY 1)
            SELECT s1.user_id, t1, t2, t3,
                   1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
                     + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS steps_reached
            FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        """,
        "storage_merge_upsert": """
            WITH tgt AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents),
            upd AS (
              SELECT doc_id, text || ' [rev2]' AS text
              FROM tgt
              WHERE CAST(('0x' || substring(md5(doc_id || ':upd'), 1, 4)) AS BIGINT) % 10 = 0
              UNION ALL
              SELECT doc_id || '-new', 'fresh: ' || text
              FROM tgt
              WHERE CAST(('0x' || substring(md5(doc_id || ':new'), 1, 4)) AS BIGINT) % 37 = 0),
            j AS (
              SELECT coalesce(t.doc_id, u.doc_id) AS doc_id,
                     t.text AS t_text, u.text AS u_text
              FROM tgt t FULL OUTER JOIN upd u ON t.doc_id = u.doc_id)
            SELECT doc_id,
                   CASE WHEN t_text IS NULL THEN 'insert'
                        WHEN u_text IS NULL THEN 'keep'
                        ELSE 'update' END AS action,
                   coalesce(u_text, t_text) AS text
            FROM j
        """,
        "events_active_users": """
            WITH ud AS (
              SELECT DISTINCT user_id,
                     CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
              FROM events),
            dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
            spread AS (
              SELECT user_id, day + CAST(o.range AS BIGINT) AS day
              FROM ud CROSS JOIN range(7) o),
            wau AS (SELECT day, COUNT(DISTINCT user_id) AS wau FROM spread GROUP BY 1),
            ext AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM ud)
            -- DAU left-joined onto the WAU day spine: zero-activity days
            -- inside the range keep their row with dau=0 (ADVICE r2)
            SELECT w.day, CAST(COALESCE(d.dau, 0) AS BIGINT) AS dau, w.wau,
                   CAST(COALESCE(d.dau, 0) * 10000 // w.wau AS BIGINT) AS stickiness_bp
            FROM wau w LEFT JOIN dau d USING (day), ext e
            WHERE w.day >= e.mn + 6 AND w.day <= e.mx
        """,
        "events_sax_symbols": """
            WITH hourly AS (
              SELECT event_type,
                     CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour,
                     COUNT(*) AS n
              FROM events GROUP BY 1, 2),
            ext AS (
              SELECT event_type, MIN(hour) AS mn, MAX(hour) AS mx,
                     CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS nh
              FROM hourly GROUP BY 1),
            segd AS (
              SELECT h.event_type,
                     (h.hour - e.mn) * 16 // (e.mx - e.mn + 1) AS segment,
                     COUNT(*) AS n_hours, CAST(SUM(h.n) AS BIGINT) AS s,
                     ANY_VALUE(e.total) AS total, ANY_VALUE(e.nh) AS nh
              FROM hourly h JOIN ext e USING (event_type)
              GROUP BY 1, 2)
            SELECT event_type, segment, n_hours,
                   CAST(s * 1000 // n_hours AS BIGINT) AS paa_e3,
                   CASE WHEN (s * 1000 // n_hours) * 2 < (total * 1000 // nh) THEN 'a'
                        WHEN (s * 1000 // n_hours) <= (total * 1000 // nh) THEN 'b'
                        WHEN (s * 1000 // n_hours) * 2 <= (total * 1000 // nh) * 3 THEN 'c'
                        ELSE 'd' END AS symbol
            FROM segd
        """,
        "events_top_paths": """
            WITH p AS (
              SELECT user_id,
                     array_to_string(list_transform(
                       list_sort(list({'a': ts, 'b': event_id, 'c': event_type}))[:20],
                       s -> s.c), '>') AS path
              FROM events GROUP BY user_id),
            c AS (SELECT path, COUNT(*) AS n_users FROM p GROUP BY path)
            SELECT path, n_users FROM c
            ORDER BY n_users DESC, path ASC LIMIT 20
        """,
        "events_pivot_matrix": """
            SELECT user_id,
                   CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
                   CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error,
                   CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
                   CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
                   CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view,
                   CAST(COUNT(*) FILTER (event_type IN ('click','error','purchase','signup','view')) AS BIGINT) AS total
            FROM events GROUP BY user_id
        """,
        "events_type_correlation": """
            WITH hourly AS (
              SELECT event_type,
                     CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour,
                     COUNT(*) AS n
              FROM events GROUP BY 1, 2),
            hours AS (SELECT DISTINCT hour FROM hourly),
            types AS (SELECT DISTINCT event_type FROM hourly),
            dense AS (
              SELECT h.hour, t.event_type, coalesce(x.n, 0) AS n
              FROM hours h CROSS JOIN types t
              LEFT JOIN hourly x ON x.hour = h.hour AND x.event_type = t.event_type),
            pairs AS (
              SELECT a.hour, a.event_type AS type_a, b.event_type AS type_b,
                     a.n AS x, b.n AS y
              FROM dense a JOIN dense b
                ON a.hour = b.hour AND a.event_type < b.event_type),
            s AS (
              SELECT type_a, type_b, COUNT(*) AS n_hours,
                     CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                     CAST(SUM(x*y) AS BIGINT) AS sxy,
                     CAST(SUM(x*x) AS BIGINT) AS sxx,
                     CAST(SUM(y*y) AS BIGINT) AS syy
              FROM pairs GROUP BY 1, 2)
            SELECT type_a, type_b, n_hours,
                   CAST(round(
                     (CAST(n_hours AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / sqrt((CAST(n_hours AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n_hours AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                     * 1e6) AS BIGINT) AS corr_e6
            FROM s
        """,
        "events_interval_pairs": """
            SELECT c.event_id AS click_id, c.user_id,
                   CAST(c.ts AS VARCHAR) AS click_ts,
                   e.event_id AS error_id,
                   CAST(e.ts AS VARCHAR) AS error_ts
            FROM events c JOIN events e
              ON c.event_type = 'click' AND e.event_type = 'error'
             AND e.user_id = c.user_id
             AND e.ts < c.ts AND e.ts >= c.ts - INTERVAL 30 MINUTE
        """,
        "events_value_trend": """
            WITH s AS (
              SELECT event_type,
                     CAST(COUNT(*) AS HUGEINT) AS n,
                     CAST(SUM(CAST(floor(epoch(ts)) AS BIGINT) - 1704067200) AS HUGEINT) AS sx,
                     CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS HUGEINT) AS sy_cc,
                     CAST(SUM(CAST((CAST(floor(epoch(ts)) AS BIGINT) - 1704067200) AS HUGEINT)
                              * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS HUGEINT) AS sxy_cc,
                     CAST(SUM(CAST((CAST(floor(epoch(ts)) AS BIGINT) - 1704067200) AS HUGEINT)
                              * (CAST(floor(epoch(ts)) AS BIGINT) - 1704067200)) AS HUGEINT) AS sxx
              FROM events GROUP BY event_type),
            c AS (
              SELECT event_type, n, sx, sy_cc,
                     n * sxy_cc - sx * sy_cc AS num_cc,
                     n * sxx - sx * sx AS den
              FROM s),
            sl AS (
              SELECT event_type, n, sx, sy_cc, den,
                     CASE WHEN den = 0 THEN NULL ELSE
                       CAST((num_cc * 2000000000 +
                             (CASE WHEN num_cc < 0 THEN -(den * 100) ELSE den * 100 END))
                            // (den * 200) AS BIGINT)
                     END AS slope_e9
              FROM c),
            i AS (
              SELECT event_type, n, den, slope_e9,
                     sy_cc * 10000000 - CAST(slope_e9 AS HUGEINT) * sx AS n2
              FROM sl)
            SELECT event_type, CAST(n AS BIGINT) AS n, slope_e9,
                   CASE WHEN den = 0 THEN NULL ELSE
                     CAST((n2 * 2 + (CASE WHEN n2 < 0 THEN -n ELSE n END))
                          // (n * 2) AS BIGINT)
                   END AS intercept_e9
            FROM i
        """,
        "q36_market_share": """
            WITH sn AS (
              SELECT s_suppkey, n_name
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'),
            per AS (
              SELECT year(o_orderdate) AS o_year, n_name,
                     CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
                              * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS INT))) AS BIGINT) AS rev_cc
              FROM lineitem
              JOIN sn ON l_suppkey = s_suppkey
              JOIN orders ON l_orderkey = o_orderkey
              GROUP BY 1, 2)
            SELECT o_year, n_name, rev_cc,
                   CAST(CAST(rev_cc AS HUGEINT) * 10000
                        // SUM(rev_cc) OVER (PARTITION BY o_year) AS BIGINT) AS share_bp
            FROM per
        """,
        "q35_snowflake_rollup": """
            WITH nr AS (
              SELECT n.n_nationkey, r.r_name
              FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey),
            c AS (
              SELECT nr.r_name,
                     COUNT(DISTINCT c.c_nationkey) AS n_nations,
                     COUNT(*) AS n_customers,
                     CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS cust_balance
              FROM customer c JOIN nr ON c.c_nationkey = nr.n_nationkey
              GROUP BY 1),
            s AS (
              SELECT nr.r_name,
                     COUNT(*) AS n_suppliers,
                     CAST(SUM(CAST(sp.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS supp_balance
              FROM supplier sp JOIN nr ON sp.s_nationkey = nr.n_nationkey
              GROUP BY 1)
            SELECT c.r_name, c.n_nations, c.n_customers, c.cust_balance,
                   s.n_suppliers, s.supp_balance
            FROM c JOIN s USING (r_name)
        """,
        "events_json_keys": """
            WITH c AS (
              SELECT event_id,
                     CASE CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || ':corrupt'), 1, 2)) AS BIGINT) % 10
                       WHEN 0 THEN substring(props, 1, length(props) - 1)
                       WHEN 1 THEN replace(props, '"k"', '"x"')
                       WHEN 2 THEN regexp_replace(props, '[0-9]+', '99999')
                       ELSE props END AS props
              FROM events),
            kv AS (
              SELECT unnest(json_keys(props)) AS key, props
              FROM c WHERE json_valid(props)),
            v AS (
              SELECT key, json_extract_string(props, '$.' || key) AS value FROM kv)
            SELECT key, COUNT(*) AS n_rows, COUNT(DISTINCT value) AS n_distinct,
                   MIN(value) AS min_value, MAX(value) AS max_value
            FROM v GROUP BY key
        """,
        "audit_referential": """
            -- NULL fks are not violations (standard SQL FK semantics):
            -- excluded from orphans, surfaced in null_fk_rows (ADVICE r2)
            WITH r1 AS (
              SELECT 'lineitem.l_orderkey->orders' AS relationship,
                     (SELECT COUNT(*) FROM lineitem) AS child_rows,
                     (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL) AS null_fk_rows,
                     (SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
                        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS orphan_rows,
                     (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem l WHERE NOT EXISTS
                        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS orphan_keys,
                     (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS parent_keys,
                     (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem l WHERE EXISTS
                        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS referenced_keys),
            r2 AS (
              SELECT 'orders.o_custkey->customer',
                     (SELECT COUNT(*) FROM orders),
                     (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL),
                     (SELECT COUNT(*) FROM orders x WHERE x.o_custkey IS NOT NULL AND NOT EXISTS
                        (SELECT 1 FROM customer p WHERE p.c_custkey = x.o_custkey)),
                     (SELECT COUNT(DISTINCT o_custkey) FROM orders x WHERE NOT EXISTS
                        (SELECT 1 FROM customer p WHERE p.c_custkey = x.o_custkey)),
                     (SELECT COUNT(DISTINCT c_custkey) FROM customer),
                     (SELECT COUNT(DISTINCT o_custkey) FROM orders x WHERE EXISTS
                        (SELECT 1 FROM customer p WHERE p.c_custkey = x.o_custkey))),
            r3 AS (
              SELECT 'customer.c_nationkey->nation',
                     (SELECT COUNT(*) FROM customer),
                     (SELECT COUNT(*) FROM customer WHERE c_nationkey IS NULL),
                     (SELECT COUNT(*) FROM customer x WHERE x.c_nationkey IS NOT NULL AND NOT EXISTS
                        (SELECT 1 FROM nation p WHERE p.n_nationkey = x.c_nationkey)),
                     (SELECT COUNT(DISTINCT c_nationkey) FROM customer x WHERE NOT EXISTS
                        (SELECT 1 FROM nation p WHERE p.n_nationkey = x.c_nationkey)),
                     (SELECT COUNT(DISTINCT n_nationkey) FROM nation),
                     (SELECT COUNT(DISTINCT c_nationkey) FROM customer x WHERE EXISTS
                        (SELECT 1 FROM nation p WHERE p.n_nationkey = x.c_nationkey))),
            r4 AS (
              SELECT 'lineitem.l_partkey->part',
                     (SELECT COUNT(*) FROM lineitem),
                     (SELECT COUNT(*) FROM lineitem WHERE l_partkey IS NULL),
                     (SELECT COUNT(*) FROM lineitem x WHERE x.l_partkey IS NOT NULL AND NOT EXISTS
                        (SELECT 1 FROM part p WHERE p.p_partkey = x.l_partkey)),
                     (SELECT COUNT(DISTINCT l_partkey) FROM lineitem x WHERE NOT EXISTS
                        (SELECT 1 FROM part p WHERE p.p_partkey = x.l_partkey)),
                     (SELECT COUNT(DISTINCT p_partkey) FROM part),
                     (SELECT COUNT(DISTINCT l_partkey) FROM lineitem x WHERE EXISTS
                        (SELECT 1 FROM part p WHERE p.p_partkey = x.l_partkey))),
            r5 AS (
              SELECT 'lineitem.l_suppkey->supplier',
                     (SELECT COUNT(*) FROM lineitem),
                     (SELECT COUNT(*) FROM lineitem WHERE l_suppkey IS NULL),
                     (SELECT COUNT(*) FROM lineitem x WHERE x.l_suppkey IS NOT NULL AND NOT EXISTS
                        (SELECT 1 FROM supplier p WHERE p.s_suppkey = x.l_suppkey)),
                     (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem x WHERE NOT EXISTS
                        (SELECT 1 FROM supplier p WHERE p.s_suppkey = x.l_suppkey)),
                     (SELECT COUNT(DISTINCT s_suppkey) FROM supplier),
                     (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem x WHERE EXISTS
                        (SELECT 1 FROM supplier p WHERE p.s_suppkey = x.l_suppkey))),
            u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
                  UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r5)
            SELECT relationship, child_rows, null_fk_rows, orphan_rows, orphan_keys,
                   parent_keys, referenced_keys,
                   CAST(referenced_keys * 10000 // parent_keys AS BIGINT) AS utilization_bp
            FROM u
        """,
        "basket_part_lift": """
            WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            nn AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM op),
            marg AS (SELECT l_partkey, COUNT(*) AS n_part FROM op GROUP BY 1),
            pairs AS (
              SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
              FROM op a JOIN op b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2)
            SELECT p.part_a, p.part_b, p.n_ab,
                   ma.n_part AS n_a, mb.n_part AS n_b,
                   -- HUGEINT mirrors the engine's DECIMAL(38,0) fold: the
                   -- BIGINT product n_ab*N*1e6 wraps at warehouse scale
                   CAST(CAST(p.n_ab AS HUGEINT) * (SELECT n FROM nn) * 1000000 // (CAST(ma.n_part AS HUGEINT) * mb.n_part) AS BIGINT) AS lift_e6
            FROM pairs p
            JOIN marg ma ON ma.l_partkey = p.part_a
            JOIN marg mb ON mb.l_partkey = p.part_b
            ORDER BY lift_e6 DESC, part_a ASC, part_b ASC
            LIMIT 50
        """,
        "orders_rfm": """
            WITH base AS (
              SELECT o_custkey,
                     MAX(CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400) AS last_day,
                     COUNT(*) AS frequency,
                     CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT) AS monetary_cents
              FROM orders GROUP BY 1),
            mx AS (SELECT MAX(CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400) AS max_day FROM orders),
            m AS (
              SELECT o_custkey,
                     CAST(mx.max_day - base.last_day AS BIGINT) AS recency_days,
                     CAST(frequency AS BIGINT) AS frequency, monetary_cents
              FROM base, mx),
            ext_r AS (
              SELECT MIN(recency_days) AS mn, MAX(recency_days) AS mx, COUNT(*) AS n,
                     (MAX(recency_days) - MIN(recency_days)) // 32 + 1 AS width
              FROM m),
            hist_r AS (
              SELECT e.mn, e.width, e.n,
                     CAST((m.recency_days - e.mn) // e.width AS BIGINT) AS bin,
                     COUNT(*) AS cnt
              FROM m, ext_r e
              GROUP BY 1, 2, 3, 4),
            cum_r AS (
              SELECT *, SUM(cnt) OVER (ORDER BY bin) AS cum FROM hist_r),
            qq_r AS (
              SELECT c.*, (c.n * q.qv + 99) // 100 AS target
              FROM cum_r c CROSS JOIN (SELECT unnest([33, 67]) AS qv) q),
            est_r AS (
              SELECT CAST(mn + bin*width + (CAST(target - (cum - cnt) - 1 AS HUGEINT) * width) // cnt AS BIGINT) AS b
              FROM qq_r WHERE cum >= target AND cum - cnt < target),
            bk_r AS (
              SELECT m.o_custkey,
                     CAST(SUM(CASE WHEN e.b < m.recency_days THEN 1 ELSE 0 END) AS BIGINT) AS bucket
              FROM m CROSS JOIN est_r e GROUP BY 1),
            ext_f AS (
              SELECT MIN(frequency) AS mn, MAX(frequency) AS mx, COUNT(*) AS n,
                     (MAX(frequency) - MIN(frequency)) // 32 + 1 AS width
              FROM m),
            hist_f AS (
              SELECT e.mn, e.width, e.n,
                     CAST((m.frequency - e.mn) // e.width AS BIGINT) AS bin,
                     COUNT(*) AS cnt
              FROM m, ext_f e
              GROUP BY 1, 2, 3, 4),
            cum_f AS (
              SELECT *, SUM(cnt) OVER (ORDER BY bin) AS cum FROM hist_f),
            qq_f AS (
              SELECT c.*, (c.n * q.qv + 99) // 100 AS target
              FROM cum_f c CROSS JOIN (SELECT unnest([33, 67]) AS qv) q),
            est_f AS (
              SELECT CAST(mn + bin*width + (CAST(target - (cum - cnt) - 1 AS HUGEINT) * width) // cnt AS BIGINT) AS b
              FROM qq_f WHERE cum >= target AND cum - cnt < target),
            bk_f AS (
              SELECT m.o_custkey,
                     CAST(SUM(CASE WHEN e.b < m.frequency THEN 1 ELSE 0 END) AS BIGINT) AS bucket
              FROM m CROSS JOIN est_f e GROUP BY 1),
            ext_mo AS (
              SELECT MIN(monetary_cents) AS mn, MAX(monetary_cents) AS mx, COUNT(*) AS n,
                     (MAX(monetary_cents) - MIN(monetary_cents)) // 32 + 1 AS width
              FROM m),
            hist_mo AS (
              SELECT e.mn, e.width, e.n,
                     CAST((m.monetary_cents - e.mn) // e.width AS BIGINT) AS bin,
                     COUNT(*) AS cnt
              FROM m, ext_mo e
              GROUP BY 1, 2, 3, 4),
            cum_mo AS (
              SELECT *, SUM(cnt) OVER (ORDER BY bin) AS cum FROM hist_mo),
            qq_mo AS (
              SELECT c.*, (c.n * q.qv + 99) // 100 AS target
              FROM cum_mo c CROSS JOIN (SELECT unnest([33, 67]) AS qv) q),
            est_mo AS (
              SELECT CAST(mn + bin*width + (CAST(target - (cum - cnt) - 1 AS HUGEINT) * width) // cnt AS BIGINT) AS b
              FROM qq_mo WHERE cum >= target AND cum - cnt < target),
            bk_mo AS (
              SELECT m.o_custkey,
                     CAST(SUM(CASE WHEN e.b < m.monetary_cents THEN 1 ELSE 0 END) AS BIGINT) AS bucket
              FROM m CROSS JOIN est_mo e GROUP BY 1)
            SELECT m.o_custkey, m.recency_days, m.frequency, m.monetary_cents,
                   r.bucket AS r_bucket, f.bucket AS f_bucket, mo.bucket AS m_bucket
            FROM m
            JOIN bk_r r USING (o_custkey)
            JOIN bk_f f USING (o_custkey)
            JOIN bk_mo mo USING (o_custkey)
        """,
        "orders_scd_intervals": """
            WITH d AS (
              SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
                     lag(o_orderstatus) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey) AS prev
              FROM orders),
            ch AS (
              SELECT * FROM d WHERE prev IS NULL OR prev <> o_orderstatus)
            SELECT o_custkey, o_orderstatus,
                   CAST(o_orderdate AS VARCHAR) AS valid_from,
                   CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate, o_orderkey) AS VARCHAR) AS valid_to,
                   CAST(row_number() OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS version
            FROM ch
        """,
        "events_quarantine": """
            WITH c AS (
              SELECT event_id,
                     CASE CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || ':corrupt'), 1, 2)) AS BIGINT) % 10
                       WHEN 0 THEN substring(props, 1, length(props) - 1)
                       WHEN 1 THEN replace(props, '"k"', '"x"')
                       WHEN 2 THEN regexp_replace(props, '[0-9]+', '99999')
                       ELSE props END AS props
              FROM events),
            r AS (
              SELECT event_id, props,
                     CASE WHEN NOT json_valid(props) THEN 'malformed'
                          WHEN json_extract(props, '$.k') IS NULL THEN 'missing_field'
                          WHEN CAST(json_extract(props, '$.k') AS BIGINT) NOT BETWEEN 0 AND 100 THEN 'out_of_range'
                          ELSE 'ok' END AS reason
              FROM c)
            SELECT event_id, reason, reason = 'ok' AS valid,
                   CASE WHEN reason = 'ok'
                        THEN CAST(json_extract(props, '$.k') AS BIGINT) END AS k
            FROM r
        """,
        "sample_negative_pairs": """
            WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
            slots AS (
              SELECT vec_id, CAST(unnest([0, 1, 2]) AS INT) AS slot
              FROM embeddings),
            cand AS (
              SELECT vec_id, slot,
                     CASE WHEN d = vec_id THEN (d + 1) % (SELECT n FROM nn)
                          ELSE d END AS neg_id
              FROM (
                SELECT vec_id, slot,
                       CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR) || ':' ||
                              CAST(slot AS VARCHAR)), 1, 12)) AS BIGINT)
                         % (SELECT n FROM nn) AS d
                FROM slots)),
            feats AS (
              SELECT vec_id AS neg_id,
                     CAST(round(sqrt(list_sum(list_transform(
                         CAST(embedding AS DOUBLE[]), x -> x * x))) * 1e6) AS BIGINT)
                       AS neg_l2_e6
              FROM embeddings)
            SELECT c.vec_id, c.slot, c.neg_id, f.neg_l2_e6
            FROM cand c JOIN feats f USING (neg_id)
        """,
        "ann_recall_eval": """
            WITH dims AS (
              SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
                     unnest(range(len(embedding))) AS d
              FROM embeddings),
            qv AS (SELECT vec_id, d, CAST(floor(x*1000000) AS BIGINT) AS q FROM dims),
            planes AS (
              SELECT CAST(p.range AS INT) AS p, CAST(dd.range AS BIGINT) AS d,
                     CAST(md5_number_upper('7:' || CAST(p.range AS VARCHAR) || ':' || CAST(dd.range AS VARCHAR)) >> 44 AS BIGINT) - 524288 AS w
              FROM range(8) p CROSS JOIN range(64) dd),
            dots AS (SELECT vec_id, p, SUM(q*w) AS dot FROM qv JOIN planes USING(d) GROUP BY vec_id, p),
            buckets AS (
              SELECT vec_id,
                     CAST(SUM(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS bucket
              FROM dots GROUP BY vec_id),
            e AS (SELECT b.vec_id, b.bucket, CAST(emb.embedding AS DOUBLE[]) AS emb
                  FROM buckets b JOIN embeddings emb USING (vec_id)),
            lsh_s AS (
              SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                     round(list_cosine_similarity(q.emb, c.emb), 6) AS sim
              FROM e q JOIN e c ON q.bucket = c.bucket
              WHERE q.vec_id < 5 AND c.vec_id >= 5),
            lsh_r AS (SELECT q_id, c_id,
                             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
                      FROM lsh_s),
            approx AS (SELECT q_id, c_id FROM lsh_r WHERE rank <= 10),
            tq AS (SELECT vec_id q_id, CAST(embedding AS DOUBLE[]) q_emb
                   FROM embeddings WHERE vec_id < 5),
            tc AS (SELECT vec_id c_id, CAST(embedding AS DOUBLE[]) c_emb
                   FROM embeddings WHERE vec_id >= 5),
            ts AS (SELECT q_id, c_id,
                          round(list_cosine_similarity(q_emb, c_emb), 6) AS sim
                   FROM tq, tc),
            tr AS (SELECT q_id, c_id,
                          row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
                   FROM ts),
            truth AS (SELECT q_id, c_id FROM tr WHERE rank <= 10),
            hits AS (
              SELECT t.q_id, COUNT(*) AS n_hit
              FROM truth t JOIN approx a ON t.q_id = a.q_id AND t.c_id = a.c_id
              GROUP BY 1)
            SELECT q.q_id,
                   CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
                   CAST(10 AS BIGINT) AS k,
                   CAST(coalesce(h.n_hit, 0) * 10000 // 10 AS BIGINT) AS recall_bp
            FROM (SELECT DISTINCT q_id FROM truth) q
            LEFT JOIN hits h USING (q_id)
        """,
        "dedup_prefix_jaccard": f"""
            WITH toks AS (
              SELECT DISTINCT doc_id, unnest({_TOK}) AS token FROM documents),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
            inter AS (
              SELECT ta.doc_id AS a, tb.doc_id AS b, COUNT(*) AS inter
              FROM toks ta JOIN toks tb
                ON ta.token = tb.token AND ta.doc_id < tb.doc_id
              GROUP BY 1, 2)
            SELECT i.a, i.b, i.inter, sa.n AS na, sb.n AS nb,
                   round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.a
            JOIN sizes sb ON sb.doc_id = i.b
            WHERE i.inter * 10 >= 7 * (sa.n + sb.n - i.inter)
        """,
        "er_blocked_match": """
            WITH seeded AS (
              SELECT *, CAST(CAST(('0x' || substr(md5(c_custkey || ':pert'), 1, 15)) AS BIGINT)
                             % length(c_name) + 1 AS INT) AS d
              FROM customer),
            dirty AS (
              SELECT c_custkey AS dirty_id,
                     CASE WHEN c_custkey % 3 = 0
                            THEN substr(c_name, 1, d - 1) || substr(c_name, d + 1, 1073741824)
                          WHEN c_custkey % 3 = 1
                            THEN substr(c_name, 1, d - 1) || 'x' || substr(c_name, d + 1, 1073741824)
                          ELSE c_name END AS dirty_name,
                     c_nationkey AS nationkey
              FROM seeded),
            dv AS (
              SELECT dirty_id, dirty_name, nationkey, UNNEST(
                list_transform(range(0, length(dirty_name) + 1),
                  i -> CASE WHEN i = 0 THEN dirty_name
                       ELSE substr(dirty_name, 1, i - 1) || substr(dirty_name, i + 1, 1073741824) END)) AS v
              FROM dirty),
            cv AS (
              SELECT c_custkey, c_name, c_nationkey, UNNEST(
                list_transform(range(0, length(c_name) + 1),
                  i -> CASE WHEN i = 0 THEN c_name
                       ELSE substr(c_name, 1, i - 1) || substr(c_name, i + 1, 1073741824) END)) AS v
              FROM customer),
            cands AS (
              SELECT DISTINCT dirty_id, dirty_name, c_custkey, c_name
              FROM dv JOIN cv ON dv.v = cv.v AND dv.nationkey = cv.c_nationkey),
            verified AS (
              SELECT dirty_id, c_custkey,
                     levenshtein(dirty_name, c_name) AS dist
              FROM cands WHERE levenshtein(dirty_name, c_name) <= 1),
            ranked AS (
              SELECT dirty_id, c_custkey, dist,
                     row_number() OVER (PARTITION BY dirty_id
                                        ORDER BY dist ASC, c_custkey ASC) AS rn
              FROM verified)
            SELECT dirty_id, c_custkey AS matched_custkey, dist
            FROM ranked WHERE rn = 1
        """,
        "privacy_t_closeness": """
            WITH base AS (
              SELECT c_nationkey, c_mktsegment,
                     CAST(trunc(c_acctbal / 2000) AS BIGINT) AS b
              FROM customer),
            cell AS (
              SELECT c_nationkey, c_mktsegment, b, COUNT(*) AS c
              FROM base GROUP BY 1, 2, 3),
            grp AS (
              SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_n
              FROM base GROUP BY 1, 2),
            gdist0 AS (SELECT b, COUNT(*) AS g FROM base GROUP BY 1),
            gdist AS (
              SELECT b,
                     SUM(g) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum_glob,
                     COUNT(*) OVER () AS m,
                     SUM(g) OVER () AS n_total
              FROM gdist0),
            spine AS (SELECT * FROM grp CROSS JOIN gdist),
            j AS (
              SELECT s.c_nationkey, s.c_mktsegment, s.group_n, s.b,
                     s.cum_glob, s.m, s.n_total, COALESCE(cell.c, 0) AS c
              FROM spine s
              LEFT JOIN cell
                ON cell.c_nationkey = s.c_nationkey
               AND cell.c_mktsegment = s.c_mktsegment AND cell.b = s.b),
            t AS (
              SELECT *,
                     SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment
                                  ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum_grp
              FROM j)
            SELECT c_nationkey, c_mktsegment, group_n,
                   CAST(SUM(ABS(CAST(cum_grp AS HUGEINT) * n_total
                                - CAST(cum_glob AS HUGEINT) * group_n))
                        * 1000000
                        // (CAST(group_n AS HUGEINT) * n_total
                            * GREATEST(m - 1, 1)) AS BIGINT) AS emd_e6,
                   CAST(SUM(ABS(CAST(cum_grp AS HUGEINT) * n_total
                                - CAST(cum_glob AS HUGEINT) * group_n))
                        * 1000000
                        // (CAST(group_n AS HUGEINT) * n_total
                            * GREATEST(m - 1, 1)) AS BIGINT) > 250000 AS t_risk
            FROM t
            GROUP BY c_nationkey, c_mktsegment, group_n, m, n_total
        """,
        "privacy_noisy_counts": """
            SELECT lang, source,
                   GREATEST(0, COUNT(*)
                     + bit_count(CAST(('0x' || substr(md5('dp1:' || lang || ':' || source), 1, 15)) AS BIGINT))
                     - 30) AS noisy_n
            FROM documents GROUP BY 1, 2
        """,
        "privacy_k_anonymity": """
            SELECT c_nationkey, c_mktsegment,
                   COUNT(*) AS group_n,
                   COUNT(DISTINCT CAST(trunc(c_acctbal / 1000) AS BIGINT)) AS l_distinct,
                   COUNT(*) < 5 AS k_risk,
                   COUNT(DISTINCT CAST(trunc(c_acctbal / 1000) AS BIGINT)) < 3 AS l_risk
            FROM customer GROUP BY 1, 2
        """,
        "privacy_pseudonymize": """
            WITH base AS (
              SELECT doc_id,
                     text || ' acct ' ||
                     lpad(CAST(CAST(('0x' || substring(md5(doc_id || ':acct'), 1, 12)) AS BIGINT) AS VARCHAR), 12, '0')
                     || ' ref ' ||
                     lpad(CAST(CAST(('0x' || substring(md5(source || ':acct'), 1, 12)) AS BIGINT) AS VARCHAR), 12, '0')
                     AS text
              FROM documents),
            t AS (
              SELECT doc_id, text,
                     list_reverse(list_sort(list_transform(
                        list_distinct(regexp_extract_all(text, '[0-9]{6,}')),
                        s -> lpad(CAST(length(s) AS VARCHAR), 4, '0') || s))) AS ordered
              FROM base)
            SELECT doc_id,
                   list_reduce(
                     list_prepend(text, ordered),
                     (acc, key) -> replace(acc, substring(key, 5),
                                           'ID_' || translate(substring(md5(substring(key, 5)), 1, 8),
                                                              '0123456789', 'ghijklmnop'))
                   ) AS clean_text,
                   CAST(len(ordered) AS BIGINT) AS n_ids
            FROM t
        """,
        "events_retention": """
            WITH ev AS (
              SELECT user_id,
                     CAST(floor(epoch(ts)) AS BIGINT) // 86400 // 7 AS week
              FROM events),
            cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY 1),
            active AS (SELECT DISTINCT user_id, week FROM ev),
            cells AS (
              SELECT cohort_week, week - cohort_week AS week_offset,
                     COUNT(DISTINCT a.user_id) AS n_active
              FROM active a JOIN cohort c USING (user_id) GROUP BY 1, 2),
            sizes AS (
              SELECT cohort_week, COUNT(DISTINCT user_id) AS cohort_size
              FROM cohort GROUP BY 1)
            SELECT cohort_week, week_offset, n_active, cohort_size,
                   CAST(n_active * 10000 // cohort_size AS BIGINT) AS retention_bp
            FROM cells JOIN sizes USING (cohort_week)
        """,
        "events_transitions": """
            WITH pairs AS (
              SELECT event_type AS prev_type,
                     lead(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS next_type
              FROM events),
            counts AS (
              SELECT prev_type, next_type, COUNT(*) AS n
              FROM pairs WHERE next_type IS NOT NULL GROUP BY 1, 2),
            totals AS (
              SELECT prev_type, CAST(SUM(n) AS BIGINT) AS row_total
              FROM counts GROUP BY 1)
            SELECT prev_type, next_type, n,
                   CAST(n * 10000 // row_total AS BIGINT) AS share_bp
            FROM counts JOIN totals USING (prev_type)
        """,
        "events_hourly_anomaly": """
            WITH hourly AS (
              SELECT event_type,
                     CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour,
                     COUNT(*) AS n
              FROM events GROUP BY 1, 2),
            stats AS (
              SELECT event_type, hour, n,
                     CAST(COUNT(n) OVER w AS BIGINT) AS w,
                     CAST(SUM(n) OVER w AS BIGINT) AS s,
                     CAST(SUM(n * n) OVER w AS BIGINT) AS ss
              FROM hourly
              WINDOW w AS (PARTITION BY event_type ORDER BY hour
                           ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
            SELECT event_type, hour, n, s, ss,
                   ((w*n - s) * (w*n - s) * (w - 1)) > (9 * (w*ss - s*s) * w) AS is_spike
            FROM stats WHERE w = 24
        """,
        "q33_range_join": """
            SELECT a.event_id,
                   COUNT(b.event_id) AS n_prior
            FROM events a LEFT JOIN events b
              ON b.ts >= a.ts - INTERVAL 5 MINUTES AND b.ts < a.ts
            GROUP BY a.event_id
        """,
        "embed_norms": """
            SELECT vec_id,
                   round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS l2_norm,
                   round(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 6) AS max_abs
            FROM embeddings
        """,
        "text_token_count": f"""
            SELECT doc_id,
                   len({_TOK}) AS n_ws_tokens,
                   len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
                   length(text) AS n_chars
            FROM documents
        """,
        "dedup_embedding_cosine": """
            WITH u AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000,
                     list_transform(CAST(embedding AS DOUBLE[]),
                                    (x, i) -> x + ((vec_id*31 + (i-1)*7) % 11 - 5) * 0.001)
              FROM embeddings)
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round(list_cosine_similarity(a.e, b.e), 6) AS sim
            FROM u a JOIN u b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.99
        """,
        "ann_lsh_topk": """
            WITH dims AS (
              SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
                     unnest(range(len(embedding))) AS d
              FROM embeddings),
            qv AS (SELECT vec_id, d, CAST(floor(x*1000000) AS BIGINT) AS q FROM dims),
            planes AS (
              SELECT CAST(p.range AS INT) AS p, CAST(dd.range AS BIGINT) AS d,
                     CAST(md5_number_upper('7:' || CAST(p.range AS VARCHAR) || ':' || CAST(dd.range AS VARCHAR)) >> 44 AS BIGINT) - 524288 AS w
              FROM range(8) p CROSS JOIN range(64) dd),
            dots AS (SELECT vec_id, p, SUM(q*w) AS dot FROM qv JOIN planes USING(d) GROUP BY vec_id, p),
            buckets AS (
              SELECT vec_id,
                     CAST(SUM(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS bucket
              FROM dots GROUP BY vec_id),
            e AS (SELECT b.vec_id, b.bucket, CAST(emb.embedding AS DOUBLE[]) AS emb
                  FROM buckets b JOIN embeddings emb USING (vec_id)),
            scored AS (
              SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                     round(list_cosine_similarity(q.emb, c.emb), 6) AS sim
              FROM e q JOIN e c ON q.bucket = c.bucket
              WHERE q.vec_id < 5 AND c.vec_id >= 5),
            r AS (SELECT q_id, c_id, sim,
                         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS INT) AS rank
                  FROM scored)
            SELECT q_id, c_id, sim, rank FROM r WHERE rank <= 10
        """,
        "dedup_exact": f"""
            WITH fp AS (
              SELECT doc_id, md5(array_to_string({_TOK}, ' ')) AS fp FROM documents),
            g AS (SELECT fp, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS dup_count
                  FROM fp GROUP BY fp)
            SELECT f.doc_id, f.fp, g.canonical_doc_id, g.dup_count
            FROM fp f JOIN g USING (fp)
        """,
        "dedup_minhash_bands": f"""
            WITH toks AS (
              SELECT DISTINCT doc_id, unnest({_TOK}) AS token FROM documents)
            SELECT doc_id,
                   MIN(md5('0:' || token)) AS sig_0,
                   MIN(md5('1:' || token)) AS sig_1,
                   MIN(md5('2:' || token)) AS sig_2,
                   MIN(md5('3:' || token)) AS sig_3
            FROM toks GROUP BY doc_id
        """,
        "dedup_jaccard_pairs": f"""
            WITH toks AS (
              SELECT DISTINCT doc_id, unnest({_TOK}) AS token FROM documents),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
            sigs AS (
              SELECT doc_id,
                     MIN(md5('0:' || token)) AS sig_0, MIN(md5('1:' || token)) AS sig_1,
                     MIN(md5('2:' || token)) AS sig_2, MIN(md5('3:' || token)) AS sig_3
              FROM toks GROUP BY doc_id),
            cands AS (
              SELECT DISTINCT a, b FROM (
                SELECT x.doc_id a, y.doc_id b FROM sigs x JOIN sigs y ON x.sig_0 = y.sig_0 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_1 = y.sig_1 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_2 = y.sig_2 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_3 = y.sig_3 AND x.doc_id < y.doc_id)),
            inter AS (
              SELECT c.a, c.b, COUNT(*) AS inter
              FROM cands c
              JOIN toks ta ON ta.doc_id = c.a
              JOIN toks tb ON tb.doc_id = c.b AND tb.token = ta.token
              GROUP BY c.a, c.b)
            SELECT i.a, i.b, i.inter, sa.n AS na, sb.n AS nb,
                   round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) AS jaccard
            FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
            WHERE round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) >= 0.8
        """,
        "dedup_incremental": f"""
            WITH fold AS (
              SELECT doc_id, {_TOK} AS t,
                     (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                           AS BIGINT) < 192) AS is_old
              FROM documents),
            toks AS (
              SELECT DISTINCT doc_id, is_old,
                     unnest(list_transform(range(1, greatest(len(t) - 3 + 1, 0) + 1),
                            i -> CAST(('0x' || substring(md5(array_to_string(
                                   list_slice(t, CAST(i AS INT), CAST(i + 2 AS INT)), ' ')),
                                 1, 15)) AS BIGINT))) AS token
              FROM fold),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
            sigs AS (
              SELECT doc_id, is_old,
                     MIN(md5('0:' || CAST(token AS VARCHAR))) AS sig_0,
                     MIN(md5('1:' || CAST(token AS VARCHAR))) AS sig_1,
                     MIN(md5('2:' || CAST(token AS VARCHAR))) AS sig_2,
                     MIN(md5('3:' || CAST(token AS VARCHAR))) AS sig_3
              FROM toks GROUP BY doc_id, is_old),
            cand_old AS (
              SELECT DISTINCT n, o FROM (
                SELECT x.doc_id n, y.doc_id o FROM sigs x JOIN sigs y
                  ON x.sig_0 = y.sig_0 AND NOT x.is_old AND y.is_old
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y
                  ON x.sig_1 = y.sig_1 AND NOT x.is_old AND y.is_old
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y
                  ON x.sig_2 = y.sig_2 AND NOT x.is_old AND y.is_old
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y
                  ON x.sig_3 = y.sig_3 AND NOT x.is_old AND y.is_old)),
            cand_new AS (
              SELECT DISTINCT a, b FROM (
                SELECT x.doc_id a, y.doc_id b FROM sigs x JOIN sigs y
                  ON x.sig_0 = y.sig_0 AND NOT x.is_old AND NOT y.is_old AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y
                  ON x.sig_1 = y.sig_1 AND NOT x.is_old AND NOT y.is_old AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y
                  ON x.sig_2 = y.sig_2 AND NOT x.is_old AND NOT y.is_old AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y
                  ON x.sig_3 = y.sig_3 AND NOT x.is_old AND NOT y.is_old AND x.doc_id < y.doc_id)),
            io AS (
              SELECT c.n, c.o, COUNT(*) AS inter
              FROM cand_old c
              JOIN toks ta ON ta.doc_id = c.n
              JOIN toks tb ON tb.doc_id = c.o AND tb.token = ta.token
              GROUP BY c.n, c.o),
            v_old AS (
              SELECT i.n, CAST(COUNT(*) AS BIGINT) AS n_old_dups
              FROM io i JOIN sizes sa ON sa.doc_id = i.n JOIN sizes sb ON sb.doc_id = i.o
              WHERE round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) >= 0.5
              GROUP BY i.n),
            inn AS (
              SELECT c.a, c.b, COUNT(*) AS inter
              FROM cand_new c
              JOIN toks ta ON ta.doc_id = c.a
              JOIN toks tb ON tb.doc_id = c.b AND tb.token = ta.token
              GROUP BY c.a, c.b),
            v_new AS (
              SELECT i.b, MIN(i.a) AS first_new_dup
              FROM inn i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
              WHERE round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) >= 0.5
              GROUP BY i.b)
            SELECT f.doc_id,
                   CAST(COALESCE(vo.n_old_dups, 0) AS BIGINT) AS n_old_dups,
                   vn.first_new_dup,
                   (COALESCE(vo.n_old_dups, 0) = 0 AND vn.first_new_dup IS NULL) AS keep
            FROM fold f
            LEFT JOIN v_old vo ON vo.n = f.doc_id
            LEFT JOIN v_new vn ON vn.b = f.doc_id
            WHERE NOT f.is_old
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT vec_id q_id, CAST(embedding AS DOUBLE[]) q_emb
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id c_id, CAST(embedding AS DOUBLE[]) c_emb
                  FROM embeddings WHERE vec_id >= 5),
            s AS (SELECT q_id, c_id,
                         round(list_cosine_similarity(q_emb, c_emb), 6) AS sim
                  FROM q, c),
            r AS (SELECT q_id, c_id, sim,
                         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS INT) AS rank
                  FROM s)
            SELECT q_id, c_id, sim, rank FROM r WHERE rank <= 10
        """,
        "text_gopher_rules": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
            linest AS (
              SELECT doc_id,
                     list_transform(range(0, CAST(ceil(len(tk) / 8.0) AS INT)), i ->
                       concat(
                         CASE WHEN CAST('0x' || substring(md5(doc_id || ':ln:' || CAST(i AS VARCHAR)), 1, 1) AS INT) < 3
                              THEN '- ' ELSE '' END,
                         array_to_string(tk[CAST(i*8+1 AS INT) : CAST(i*8+8 AS INT)], ' '),
                         CASE WHEN CAST('0x' || substring(md5(doc_id || ':ln:' || CAST(i AS VARCHAR)), 1, 1) AS INT) BETWEEN 3 AND 4
                              THEN '...'
                              WHEN CAST('0x' || substring(md5(doc_id || ':ln:' || CAST(i AS VARCHAR)), 1, 1) AS INT) BETWEEN 5 AND 10
                              THEN '.' ELSE '' END)) AS lines
              FROM toks)
            SELECT doc_id,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   round(CAST(len(list_filter(lines, x -> x LIKE '- %')) AS DOUBLE) / len(lines), 6) AS bullet_frac,
                   round(CAST(len(list_filter(lines, x -> x LIKE '%...')) AS DOUBLE) / len(lines), 6) AS ellipsis_frac,
                   round(CAST(len(list_filter(lines, x -> x LIKE '%.')) AS DOUBLE) / len(lines), 6) AS punct_end_frac,
                   round(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines), 6) AS dup_line_frac,
                   (CAST(len(list_filter(lines, x -> x LIKE '- %')) AS DOUBLE) / len(lines) <= 0.9
                    AND CAST(len(list_filter(lines, x -> x LIKE '%...')) AS DOUBLE) / len(lines) <= 0.3) AS keep
            FROM linest
        """,
        "text_quality": f"""
            SELECT doc_id,
                   len({_TOK}) AS n_tokens,
                   round(CAST(len(list_distinct({_TOK})) AS DOUBLE) / len({_TOK}), 6) AS distinct_ratio,
                   round(CAST(list_sum(list_transform({_TOK}, t -> length(t))) AS DOUBLE) / len({_TOK}), 6) AS avg_token_len,
                   round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                         / greatest(length(text), 1), 6) AS digit_ratio
            FROM documents
        """,
        "text_langid": f"""
            SELECT doc_id, lang,
                   round(CAST(len(list_filter({_TOK}, t -> regexp_matches(t, '[aeiou]$'))) AS DOUBLE)
                         / len({_TOK}), 6) AS vowel_ratio,
                   CASE WHEN round(CAST(len(list_filter({_TOK}, t -> regexp_matches(t, '[aeiou]$'))) AS DOUBLE)
                              / len({_TOK}), 6) >= 0.5 THEN 'romance'
                        WHEN CAST(list_sum(list_transform({_TOK}, t -> length(t))) AS DOUBLE)
                              / len({_TOK}) >= 5.0 THEN 'compounding'
                        ELSE 'analytic' END AS lang_guess
            FROM documents
        """,
        "text_langid_eval": f"""
            WITH p AS (
              SELECT lang,
                     CASE WHEN round(CAST(len(list_filter({_TOK}, t -> regexp_matches(t, '[aeiou]$'))) AS DOUBLE)
                                / len({_TOK}), 6) >= 0.5 THEN 'romance'
                          WHEN CAST(list_sum(list_transform({_TOK}, t -> length(t))) AS DOUBLE)
                                / len({_TOK}) >= 5.0 THEN 'compounding'
                          ELSE 'analytic' END AS lang_guess
              FROM documents),
            c AS (SELECT lang, lang_guess, COUNT(*) AS n FROM p GROUP BY 1, 2),
            t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS row_total FROM c GROUP BY 1)
            SELECT c.lang, c.lang_guess, c.n,
                   CAST(c.n * 10000 // t.row_total AS BIGINT) AS share_bp
            FROM c JOIN t USING (lang)
        """,
        "text_winnow_fp": """
            WITH g AS (
              SELECT doc_id,
                     list_transform(range(1, greatest(length(text) - 8 + 1, 0) + 1),
                                    i -> md5(substring(text, CAST(i AS INT), 8))) AS grams
              FROM documents),
            m AS (
              SELECT doc_id,
                     list_transform(range(1, greatest(len(grams) - 4 + 1, 0) + 1),
                                    j -> list_min(list_slice(grams, j, j + 3))) AS mins
              FROM g)
            SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM m
        """,
        "text_vocab": f"""
            SELECT token, COUNT(*) AS cnt
            FROM (SELECT unnest({_TOK}) AS token FROM documents)
            GROUP BY token HAVING COUNT(*) >= 100
        """,
        "sample_bernoulli": """
            SELECT doc_id, lang, source FROM documents
            WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 10
        """,
        "sample_stratified": """
            SELECT doc_id, lang, source, rank FROM (
              SELECT doc_id, lang, source,
                     row_number() OVER (
                       PARTITION BY lang, source
                       ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                                doc_id) AS rank
              FROM documents) WHERE rank <= 5
        """,
        "sketch_kmv_distinct": f"""
            WITH toks AS (
              SELECT DISTINCT source, unnest({_TOK}) AS token FROM documents),
            h AS (SELECT source, token,
                         CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) AS h
                  FROM toks),
            r AS (SELECT source, h,
                         row_number() OVER (PARTITION BY source ORDER BY h, token) AS rk
                  FROM h),
            g AS (SELECT source, COUNT(*) AS n_distinct,
                         MAX(CASE WHEN rk = 64 THEN h END) AS h_k
                  FROM r GROUP BY source)
            SELECT source,
                   CASE WHEN h_k IS NOT NULL
                        THEN round(63 / (CAST(h_k AS DOUBLE) / 1152921504606846976.0), 6)
                        ELSE CAST(n_distinct AS DOUBLE) END AS est_distinct
            FROM g
        """,
        "text_char_entropy": """
            WITH c AS (
              SELECT doc_id, text, length(text) AS n,
                     list_transform(range(1, length(text) + 1),
                                    i -> substr(text, i, 1)) AS chars
              FROM documents)
            SELECT doc_id,
                   CAST(n AS BIGINT) AS n_chars_used,
                   CAST(len(list_distinct(chars)) AS BIGINT) AS n_distinct_chars,
                   CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE) ELSE
                     round(list_sum(list_transform(list_distinct(chars), d ->
                       round((CAST(len(list_filter(chars, x -> x = d)) AS DOUBLE) / n)
                             * ln(CAST(n AS DOUBLE) /
                                  len(list_filter(chars, x -> x = d))), 9))), 6)
                   END AS entropy_nats
            FROM c
        """,
        "web_hits": r"""
            WITH nodes AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
              FROM (SELECT DISTINCT doc_id FROM documents)),
            nn AS (SELECT count(*) AS n FROM nodes),
            deg AS (
              SELECT doc_id, node,
                     CAST('0x' || substring(md5(doc_id || ':deg'), 1, 8) AS BIGINT) % 3 + 2 AS outdeg
              FROM nodes),
            edges AS (
              SELECT node AS src,
                     CAST('0x' || substring(md5(doc_id || ':' || CAST(unnest(range(outdeg)) AS VARCHAR)), 1, 8) AS BIGINT)
                       % (SELECT n FROM nn) AS dst
              FROM deg),
            h0 AS (SELECT node, CAST(1000000000 // (SELECT n FROM nn) AS BIGINT) AS score FROM nodes),
            a1r AS (SELECT e.dst, SUM(h.score) AS raw FROM edges e JOIN h0 h ON h.node = e.src GROUP BY e.dst),
            a1 AS (SELECT n.node,
                          CAST(coalesce(r.raw, 0) * 1000000000 // (SELECT SUM(raw) FROM a1r) AS BIGINT) AS score
                   FROM nodes n LEFT JOIN a1r r ON r.dst = n.node),
            h1r AS (SELECT e.src, SUM(a.score) AS raw FROM edges e JOIN a1 a ON a.node = e.dst GROUP BY e.src),
            h1 AS (SELECT n.node,
                          CAST(coalesce(r.raw, 0) * 1000000000 // (SELECT SUM(raw) FROM h1r) AS BIGINT) AS score
                   FROM nodes n LEFT JOIN h1r r ON r.src = n.node),
            a2r AS (SELECT e.dst, SUM(h.score) AS raw FROM edges e JOIN h1 h ON h.node = e.src GROUP BY e.dst),
            a2 AS (SELECT n.node,
                          CAST(coalesce(r.raw, 0) * 1000000000 // (SELECT SUM(raw) FROM a2r) AS BIGINT) AS score
                   FROM nodes n LEFT JOIN a2r r ON r.dst = n.node),
            h2r AS (SELECT e.src, SUM(a.score) AS raw FROM edges e JOIN a2 a ON a.node = e.dst GROUP BY e.src),
            h2 AS (SELECT n.node,
                          CAST(coalesce(r.raw, 0) * 1000000000 // (SELECT SUM(raw) FROM h2r) AS BIGINT) AS score
                   FROM nodes n LEFT JOIN h2r r ON r.src = n.node)
            SELECT n.doc_id, a2.score AS auth_micro, h2.score AS hub_micro
            FROM nodes n JOIN a2 ON a2.node = n.node JOIN h2 ON h2.node = n.node
        """,
        "text_source_kl": f"""
            WITH st AS (
              SELECT source, tok AS t, CAST(COUNT(*) AS BIGINT) AS c_st
              FROM (SELECT source, unnest({_TOK}) AS tok FROM documents)
              WHERE tok <> '' GROUP BY source, tok),
            ps AS (SELECT source, SUM(c_st) AS n_s FROM st GROUP BY source),
            mg AS (SELECT t, SUM(c_st) AS c_t FROM st GROUP BY t),
            tot AS (SELECT SUM(c_t) AS n_total FROM mg)
            SELECT st.source, ps.n_s AS n_tokens,
                   round(SUM(round(
                     (CAST(st.c_st AS DOUBLE) / ps.n_s) *
                     ln((CAST(st.c_st AS DOUBLE) * tot.n_total) /
                        (CAST(ps.n_s AS DOUBLE) * mg.c_t)), 9)), 6) AS kl
            FROM st
            JOIN ps ON st.source = ps.source
            JOIN mg ON st.t = mg.t
            CROSS JOIN tot
            GROUP BY st.source, ps.n_s
        """,
        "text_length_outliers": """
            WITH med AS (
              SELECT source, quantile_cont(n_chars, 0.5) AS med
              FROM documents GROUP BY source),
            dev AS (
              SELECT d.doc_id, d.source, d.n_chars, m.med,
                     abs(d.n_chars - m.med) AS adev
              FROM documents d JOIN med m ON d.source = m.source),
            mad AS (
              SELECT source, quantile_cont(adev, 0.5) AS mad
              FROM dev GROUP BY source)
            SELECT dev.doc_id, dev.source, dev.n_chars, dev.med, mad.mad,
                   abs(dev.n_chars - dev.med) > 3.0 * mad.mad AS is_outlier
            FROM dev JOIN mad ON dev.source = mad.source
        """,
        "web_robots_filter": r"""
            -- ground truth, independent of the prefix-explode algorithm:
            -- path is '/articles/' || hex6; rule '/articles/a' (len 11,
            -- allow) wins iff the hex starts with 'a', else '/articles/'
            -- (len 10, disallow) is the longest match
            WITH u AS (SELECT doc_id, md5(doc_id || ':url') AS h FROM documents)
            SELECT doc_id,
                   'HTTP://' ||
                   CASE WHEN CAST('0x' || substring(h, 1, 2) AS BIGINT) % 2 = 0
                        THEN 'WWW.Example-Site.COM' ELSE 'www.example-site.com' END ||
                   ':80/articles/' || substring(h, 3, 6) ||
                   '?utm_source=feed&id=' || substring(h, 9, 4) ||
                   '&utm_campaign=x&ref=home#section-' || substring(h, 13, 2) AS url,
                   CAST(CASE WHEN substring(h, 3, 1) = 'a' THEN 11 ELSE 10 END AS INT)
                     AS match_len,
                   substring(h, 3, 1) = 'a' AS allowed
            FROM u
        """,
        "profile_documents": """
            SELECT 'doc_id' AS "column", COUNT(*) AS n_rows,
                   COUNT(*) - COUNT(doc_id) AS n_nulls,
                   COUNT(DISTINCT doc_id) AS n_distinct,
                   CAST(MIN(doc_id) AS VARCHAR) AS min_value,
                   CAST(MAX(doc_id) AS VARCHAR) AS max_value
            FROM documents
            UNION ALL
            SELECT 'text', COUNT(*), COUNT(*) - COUNT(text),
                   COUNT(DISTINCT text), MIN(text), MAX(text) FROM documents
            UNION ALL
            SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang),
                   COUNT(DISTINCT lang), MIN(lang), MAX(lang) FROM documents
            UNION ALL
            SELECT 'source', COUNT(*), COUNT(*) - COUNT(source),
                   COUNT(DISTINCT source), MIN(source), MAX(source) FROM documents
            UNION ALL
            SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars),
                   COUNT(DISTINCT n_chars), CAST(MIN(n_chars) AS VARCHAR),
                   CAST(MAX(n_chars) AS VARCHAR) FROM documents
        """,
        "text_encoding_quality": r"""
            WITH c AS (
              SELECT doc_id,
                     CASE CAST(('0x' ||
                          substring(md5(CAST(doc_id AS VARCHAR) || ':enc'), 1, 15))
                          AS BIGINT) % 4
                       WHEN 1 THEN text || ' data' || chr(65533) || ' lost'
                       WHEN 2 THEN text || ' caf' || chr(195) || chr(169) || ' menu'
                       WHEN 3 THEN text || chr(7)
                       ELSE text END AS text
              FROM documents),
            s AS (
              SELECT doc_id, length(text) AS n,
                     length(text) - length(replace(text, chr(65533), '')) AS n_repl,
                     length(text) - length(regexp_replace(text,
                        '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS n_ctrl,
                     length(text) - length(replace(text, chr(195), '')) AS n_mojibake,
                     length(text) - length(regexp_replace(text,
                        '[^\x00-\x7F]', '', 'g')) AS n_nonascii
              FROM c)
            SELECT doc_id,
                   CAST(n_repl AS BIGINT) AS n_repl,
                   CAST(n_ctrl AS BIGINT) AS n_ctrl,
                   CAST(n_mojibake AS BIGINT) AS n_mojibake,
                   round(CAST(n_nonascii AS DOUBLE) / n, 6) AS nonascii_frac,
                   (n_repl = 0 AND n_ctrl = 0 AND n_mojibake = 0
                    AND round(CAST(n_nonascii AS DOUBLE) / n, 6) <= 0.3) AS keep
            FROM s
        """,
        "dedup_normalized": r"""
            WITH d AS (
              SELECT doc_id, text,
                     CAST(('0x' ||
                        substring(md5(CAST(doc_id AS VARCHAR) || ':norm'), 1, 15))
                        AS BIGINT) % 3 AS draw
              FROM documents),
            u AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000000,
                     CASE WHEN draw = 0 THEN upper(text)
                          WHEN draw = 1 THEN text || ' !!! ???'
                          ELSE replace(text, ' ', '   ') END
              FROM d),
            n AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(
                       regexp_replace(
                         translate(regexp_replace(lower(text), '[0-9]', '0', 'g'),
                                   'áàâäéèêëíìîïóòôöúùûüçñ',
                                   'aaaaeeeeiiiioooouuuucn'),
                         '[^\w\s]', ' ', 'g'),
                       '\s+', ' ', 'g'))) AS norm_fp
              FROM u)
            SELECT norm_fp, MIN(doc_id) AS rep_doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_members
            FROM n GROUP BY norm_fp
        """,
        "storage_compaction": """
            WITH inv AS (
              SELECT source,
                     CAST('0x' || substring(md5(doc_id || ':file'), 1, 8) AS BIGINT) % 40 AS file_id,
                     SUM(n_chars) AS file_bytes
              FROM documents GROUP BY 1, 2),
            planned AS (
              SELECT source, file_id, file_bytes,
                     CAST((SUM(file_bytes) OVER (PARTITION BY source ORDER BY file_id)
                           - file_bytes) // 60000 AS BIGINT) AS bin
              FROM inv)
            SELECT source, file_id, file_bytes, bin,
                   CAST(row_number() OVER (PARTITION BY source, bin ORDER BY file_id)
                        AS BIGINT) AS bin_seq
            FROM planned
        """,
        "storage_zorder_key": """
            WITH base AS (
              SELECT doc_id,
                     n_chars % 1024 AS x,
                     CAST(('0x' ||
                        substring(md5(CAST(doc_id AS VARCHAR) || ':zdim'), 1, 15))
                        AS BIGINT) % 1024 AS y
              FROM documents)
            SELECT doc_id, x, y,
                   list_sum(list_transform(range(0, 10), i ->
                     (((x >> i) % 2) << (2*i + 1)) + (((y >> i) % 2) << (2*i))))
                   AS zkey
            FROM base
        """,
        "web_domain_cap": """
            WITH base AS (
              SELECT doc_id,
                     'domain' || length(bin(CAST(('0x' ||
                        substring(md5(CAST(doc_id AS VARCHAR) || ':host'), 1, 2))
                        AS BIGINT))) || '.com' AS domain,
                     CAST(('0x' ||
                        substring(md5(CAST(doc_id AS VARCHAR) || ':rank'), 1, 15))
                        AS BIGINT) AS h
              FROM documents),
            r AS (
              SELECT doc_id, domain,
                     CAST(row_number() OVER (PARTITION BY domain
                                             ORDER BY h, doc_id) AS INT) AS rank
              FROM base)
            SELECT doc_id, domain, rank FROM r WHERE rank <= 5
        """,
        "text_pmi_collocations": f"""
            WITH toks AS (SELECT {_TOK} AS t FROM documents),
            uni AS (
              SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
              FROM (SELECT unnest(t) AS tok FROM toks)
              WHERE tok <> '' GROUP BY tok),
            big AS (
              SELECT p.x AS x, p.y AS y, CAST(COUNT(*) AS BIGINT) AS c_xy
              FROM (SELECT unnest(list_transform(range(2, len(t) + 1),
                             i -> struct_pack(x := t[CAST(i - 1 AS INT)],
                                              y := t[CAST(i AS INT)]))) AS p
                    FROM toks WHERE len(t) >= 2)
              WHERE p.x <> '' AND p.y <> '' GROUP BY p.x, p.y),
            tot AS (
              SELECT (SELECT SUM(c) FROM uni) AS nt,
                     (SELECT SUM(c_xy) FROM big) AS nb)
            SELECT b.x, b.y, b.c_xy,
                   round(ln((CAST(b.c_xy AS DOUBLE) * tot.nt * tot.nt) /
                            (CAST(tot.nb AS DOUBLE) * ux.c * uy.c)), 6) AS pmi
            FROM big b
            JOIN uni ux ON b.x = ux.tok
            JOIN uni uy ON b.y = uy.tok
            CROSS JOIN tot
            WHERE b.c_xy >= 5
            ORDER BY pmi DESC, b.x ASC, b.y ASC
            LIMIT 30
        """,
        "sample_weighted": """
            SELECT doc_id, source, n_chars,
                   round(ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                             AS BIGINT) + 1) / 1152921504606846976.0) / n_chars,
                         6) AS score
            FROM documents
            ORDER BY ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                         AS BIGINT) + 1) / 1152921504606846976.0) / n_chars DESC,
                     doc_id ASC
            LIMIT 50
        """,
        "sketch_hist_quantiles": """
            WITH ext AS (
              SELECT source, MIN(n_chars) AS mn, MAX(n_chars) AS mx,
                     COUNT(*) AS n,
                     (MAX(n_chars) - MIN(n_chars)) // 32 + 1 AS width
              FROM documents GROUP BY source),
            hist AS (
              SELECT d.source, e.mn, e.width, e.n,
                     CAST((d.n_chars - e.mn) // e.width AS BIGINT) AS bin,
                     COUNT(*) AS cnt
              FROM documents d JOIN ext e USING (source)
              GROUP BY 1, 2, 3, 4, 5),
            cum AS (
              SELECT *, SUM(cnt) OVER (PARTITION BY source ORDER BY bin) AS cum
              FROM hist),
            qq AS (
              SELECT c.*, CAST(q.qv AS INT) AS q,
                     (c.n * q.qv + 99) // 100 AS target
              FROM cum c CROSS JOIN (SELECT unnest([50, 90, 99]) AS qv) q)
            SELECT source, q, n,
                   CAST(mn + bin*width + (CAST(target - (cum - cnt) - 1 AS HUGEINT) * width) // cnt AS BIGINT) AS est
            FROM qq
            WHERE cum >= target AND cum - cnt < target
        """,
        "sample_quantile_buckets": """
            WITH ext AS (
              SELECT source, MIN(n_chars) AS mn, MAX(n_chars) AS mx,
                     COUNT(*) AS n,
                     (MAX(n_chars) - MIN(n_chars)) // 32 + 1 AS width
              FROM documents GROUP BY source),
            hist AS (
              SELECT d.source, e.mn, e.width, e.n,
                     CAST((d.n_chars - e.mn) // e.width AS BIGINT) AS bin,
                     COUNT(*) AS cnt
              FROM documents d JOIN ext e USING (source)
              GROUP BY 1, 2, 3, 4, 5),
            cum AS (
              SELECT *, SUM(cnt) OVER (PARTITION BY source ORDER BY bin) AS cum
              FROM hist),
            qq AS (
              SELECT c.*, CAST(q.qv AS INT) AS q,
                     (c.n * q.qv + 99) // 100 AS target
              FROM cum c CROSS JOIN (SELECT unnest([50, 90, 99]) AS qv) q),
            est AS (
              SELECT source,
                     CAST(mn + bin*width + (CAST(target - (cum - cnt) - 1 AS HUGEINT) * width) // cnt AS BIGINT) AS est
              FROM qq WHERE cum >= target AND cum - cnt < target)
            SELECT d.doc_id, d.source, d.n_chars,
                   CAST(SUM(CASE WHEN e.est < d.n_chars THEN 1 ELSE 0 END) AS BIGINT) AS bucket
            FROM documents d JOIN est e USING (source)
            GROUP BY 1, 2, 3
        """,
        "sketch_kmv_setops": f"""
            WITH toks AS (
              SELECT DISTINCT source, unnest({_TOK}) AS token FROM documents),
            hh AS (SELECT source, token,
                          CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) AS h
                   FROM toks),
            sk AS (
              SELECT source, token, h FROM (
                SELECT source, token, h,
                       row_number() OVER (PARTITION BY source ORDER BY h, token) AS rk
                FROM hh)
              WHERE rk <= 64),
            srcs AS (SELECT DISTINCT source FROM documents),
            pr AS (SELECT x.source AS a, y.source AS b
                   FROM srcs x JOIN srcs y ON x.source < y.source),
            rows_ab AS (
              SELECT p.a, p.b, s.token, s.h, 1 AS in_a, 0 AS in_b
              FROM pr p JOIN sk s ON s.source = p.a
              UNION ALL
              SELECT p.a, p.b, s.token, s.h, 0, 1
              FROM pr p JOIN sk s ON s.source = p.b),
            comb AS (
              SELECT a, b, token, MIN(h) AS h,
                     MAX(in_a) AS in_a, MAX(in_b) AS in_b
              FROM rows_ab GROUP BY a, b, token),
            rk AS (
              SELECT *, row_number() OVER (PARTITION BY a, b ORDER BY h, token) AS rk
              FROM comb),
            g AS (
              SELECT a, b, COUNT(*) AS n_comb,
                     MAX(CASE WHEN rk = 64 THEN h END) AS u_k,
                     SUM(CASE WHEN rk <= 64 AND in_a = 1 AND in_b = 1
                              THEN 1 ELSE 0 END) AS shared_topk,
                     SUM(in_a * in_b) AS shared_all
              FROM rk GROUP BY a, b),
            e AS (
              SELECT a, b,
                     CASE WHEN u_k IS NOT NULL
                          THEN round(63 / (CAST(u_k AS DOUBLE) / 1152921504606846976.0), 6)
                          ELSE CAST(n_comb AS DOUBLE) END AS union_est,
                     CASE WHEN u_k IS NOT NULL
                          THEN round(CAST(shared_topk AS DOUBLE) / 64.0, 6)
                          ELSE round(CAST(shared_all AS DOUBLE) / n_comb, 6) END AS jaccard_est
              FROM g)
            SELECT a, b, union_est,
                   round(union_est * jaccard_est, 6) AS inter_est, jaccard_est
            FROM e
        """,
        "sketch_kmv_containment": f"""
            WITH toks AS (
              SELECT DISTINCT source, unnest({_TOK}) AS token FROM documents),
            hh AS (SELECT source, token,
                          CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) AS h
                   FROM toks),
            rk_all AS (
              SELECT source, token, h,
                     row_number() OVER (PARTITION BY source ORDER BY h, token) AS rk
              FROM hh),
            kd AS (
              SELECT source,
                     CASE WHEN MAX(CASE WHEN rk = 64 THEN h END) IS NOT NULL
                          THEN round(63 / (CAST(MAX(CASE WHEN rk = 64 THEN h END) AS DOUBLE)
                                           / 1152921504606846976.0), 6)
                          ELSE CAST(COUNT(*) AS DOUBLE) END AS est_distinct
              FROM rk_all GROUP BY source),
            sk AS (SELECT source, token, h FROM rk_all WHERE rk <= 64),
            srcs AS (SELECT DISTINCT source FROM documents),
            pr AS (SELECT x.source AS a, y.source AS b
                   FROM srcs x JOIN srcs y ON x.source < y.source),
            rows_ab AS (
              SELECT p.a, p.b, s.token, s.h, 1 AS in_a, 0 AS in_b
              FROM pr p JOIN sk s ON s.source = p.a
              UNION ALL
              SELECT p.a, p.b, s.token, s.h, 0, 1
              FROM pr p JOIN sk s ON s.source = p.b),
            comb AS (
              SELECT a, b, token, MIN(h) AS h,
                     MAX(in_a) AS in_a, MAX(in_b) AS in_b
              FROM rows_ab GROUP BY a, b, token),
            rkc AS (
              SELECT *, row_number() OVER (PARTITION BY a, b ORDER BY h, token) AS rk
              FROM comb),
            g AS (
              SELECT a, b, COUNT(*) AS n_comb,
                     MAX(CASE WHEN rk = 64 THEN h END) AS u_k,
                     SUM(CASE WHEN rk <= 64 AND in_a = 1 AND in_b = 1
                              THEN 1 ELSE 0 END) AS shared_topk,
                     SUM(in_a * in_b) AS shared_all
              FROM rkc GROUP BY a, b),
            e AS (
              SELECT a, b,
                     CASE WHEN u_k IS NOT NULL
                          THEN round(63 / (CAST(u_k AS DOUBLE) / 1152921504606846976.0), 6)
                          ELSE CAST(n_comb AS DOUBLE) END AS union_est,
                     CASE WHEN u_k IS NOT NULL
                          THEN round(CAST(shared_topk AS DOUBLE) / 64.0, 6)
                          ELSE round(CAST(shared_all AS DOUBLE) / n_comb, 6) END AS jaccard_est
              FROM g),
            ie AS (
              SELECT a, b, round(union_est * jaccard_est, 6) AS inter_est FROM e)
            SELECT i.a, i.b, i.inter_est,
                   ka.est_distinct AS est_a, kb.est_distinct AS est_b,
                   CAST(round(i.inter_est / ka.est_distinct * 1e6) AS BIGINT) AS cont_a_in_b_e6,
                   CAST(round(i.inter_est / kb.est_distinct * 1e6) AS BIGINT) AS cont_b_in_a_e6
            FROM ie i
            JOIN kd ka ON ka.source = i.a
            JOIN kd kb ON kb.source = i.b
        """,
        "sketch_hll_distinct": f"""
            WITH h AS (
              SELECT source,
                     CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h
              FROM documents),
            r AS (
              SELECT source, h % 16 AS reg,
                     CASE WHEN h // 16 = 0 THEN 57
                          ELSE 57 - length(bin(h // 16)) END AS rank
              FROM h),
            regs AS (
              SELECT source, reg, MAX(rank) AS m FROM r GROUP BY source, reg),
            g AS (
              SELECT source, COUNT(*) AS n_regs,
                     SUM(CAST(1 AS BIGINT) << (57 - m)) AS sum_present
              FROM regs GROUP BY source),
            e AS (
              SELECT source,
                     CAST(16 - n_regs AS BIGINT) AS v_zeros,
                     {0.673 * 16 * 16 * float(1 << 57)!r} /
                       (sum_present + (16 - n_regs) * (CAST(1 AS BIGINT) << 57))
                       AS e_raw
              FROM g)
            SELECT source, v_zeros,
                   round(CASE WHEN e_raw <= 40.0 AND v_zeros > 0
                              THEN 16.0 * ln(16.0 / v_zeros)
                              ELSE e_raw END, 6) AS est_distinct
            FROM e
        """,
        "sketch_hll_error": f"""
            WITH h AS (
              SELECT source,
                     CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) AS h
              FROM documents),
            r AS (
              SELECT source, h % 16 AS reg,
                     CASE WHEN h // 16 = 0 THEN 57
                          ELSE 57 - length(bin(h // 16)) END AS rank
              FROM h),
            regs AS (
              SELECT source, reg, MAX(rank) AS m FROM r GROUP BY source, reg),
            g AS (
              SELECT source, COUNT(*) AS n_regs,
                     SUM(CAST(1 AS BIGINT) << (57 - m)) AS sum_present
              FROM regs GROUP BY source),
            e AS (
              SELECT source,
                     CAST(16 - n_regs AS BIGINT) AS v_zeros,
                     {0.673 * 16 * 16 * float(1 << 57)!r} /
                       (sum_present + (16 - n_regs) * (CAST(1 AS BIGINT) << 57))
                       AS e_raw
              FROM g),
            est AS (
              SELECT source,
                     round(CASE WHEN e_raw <= 40.0 AND v_zeros > 0
                                THEN 16.0 * ln(16.0 / v_zeros)
                                ELSE e_raw END, 6) AS est_distinct
              FROM e),
            ex AS (
              SELECT source, COUNT(DISTINCT md5(text)) AS exact_distinct
              FROM documents GROUP BY source)
            SELECT est.source, est.est_distinct, ex.exact_distinct,
                   CAST(round(abs(est.est_distinct - CAST(ex.exact_distinct AS DOUBLE))
                              / CAST(ex.exact_distinct AS DOUBLE) * 10000) AS BIGINT) AS err_bp
            FROM est JOIN ex USING (source)
        """,
        "text_repetition": f"""
            WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
            uni AS (
              SELECT doc_id, tok, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
              GROUP BY doc_id, tok),
            uni_s AS (
              SELECT doc_id,
                     round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_token_frac,
                     round(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS dup_token_frac
              FROM uni GROUP BY doc_id),
            big AS (
              SELECT doc_id, bg, COUNT(*) AS c
              FROM (SELECT doc_id,
                           unnest(list_transform(range(2, len(t) + 1),
                                                 i -> t[CAST(i - 1 AS INT)] || ' ' || t[CAST(i AS INT)])) AS bg
                    FROM toks)
              GROUP BY doc_id, bg),
            big_s AS (
              SELECT doc_id, round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_frac
              FROM big GROUP BY doc_id)
            SELECT u.doc_id, u.top_token_frac, u.dup_token_frac,
                   COALESCE(b.top_bigram_frac, 0.0) AS top_bigram_frac
            FROM uni_s u LEFT JOIN big_s b ON b.doc_id = u.doc_id
        """,
        "text_stopwords": f"""
            SELECT doc_id,
                   round(CAST(len(list_filter({_TOK},
                         t -> list_contains(['the','a','an','and','of','to','in','is',
                                             'row','table','value','join','hash','scan'], t))) AS DOUBLE)
                         / len({_TOK}), 6) AS stopword_ratio,
                   round(CAST(len(list_filter({_TOK}, t -> regexp_matches(t, '^[a-z]+$'))) AS DOUBLE)
                         / len({_TOK}), 6) AS alpha_ratio,
                   list_max(list_transform({_TOK}, t -> length(t))) AS max_token_len
            FROM documents
        """,
        "text_contamination": f"""
            WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
            g AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(range(1, greatest(len(t) - 5 + 1, 0) + 1),
                            i -> md5(array_to_string(list_slice(t, CAST(i AS INT), CAST(i + 4 AS INT)), ' ')))) AS gr
              FROM toks),
            dfreq AS (SELECT gr, COUNT(*) AS ndocs FROM g GROUP BY gr)
            SELECT g.doc_id,
                   COUNT(*) AS n_grams,
                   SUM(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS n_shared,
                   round(CAST(SUM(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                         / COUNT(*), 6) AS shared_frac
            FROM g JOIN dfreq d ON d.gr = g.gr
            GROUP BY g.doc_id
        """,
        "text_length_pcts": """
            SELECT round(quantile_cont(n_chars, 0.1), 6) AS p10,
                   round(quantile_cont(n_chars, 0.5), 6) AS p50,
                   round(quantile_cont(n_chars, 0.9), 6) AS p90
            FROM documents
        """,
        "text_eval_contamination": f"""
            WITH toks AS (SELECT doc_id, source, {_TOK} AS t FROM documents),
            g AS (
              SELECT DISTINCT doc_id, source,
                     unnest(list_transform(range(1, greatest(len(t) - 5 + 1, 0) + 1),
                            i -> md5(array_to_string(list_slice(t, CAST(i AS INT), CAST(i + 4 AS INT)), ' ')))) AS gr
              FROM toks),
            ev AS (SELECT DISTINCT gr FROM g WHERE source = 'src19')
            SELECT tr.doc_id,
                   COUNT(*) AS n_grams,
                   CAST(SUM(CASE WHEN ev.gr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
                   round(CAST(SUM(CASE WHEN ev.gr IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                         / COUNT(*), 6) AS leak_frac
            FROM (SELECT * FROM g WHERE source <> 'src19') tr
            LEFT JOIN ev ON ev.gr = tr.gr
            GROUP BY tr.doc_id
        """,
        "text_tfidf_topk": f"""
            WITH t AS (SELECT doc_id, unnest({_TOK}) AS token FROM documents),
            tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY doc_id, token),
            dfc AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
            r AS (SELECT tf.doc_id, tf.token, tf.tf, dfc.df,
                         row_number() OVER (
                           PARTITION BY tf.doc_id
                           ORDER BY tf.tf DESC, dfc.df ASC, tf.token ASC) AS rank
                  FROM tf JOIN dfc USING (token))
            SELECT doc_id, token, tf, df, rank FROM r WHERE rank <= 3
        """,
        "dedup_sparse_cosine": f"""
            WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
            g AS (SELECT doc_id,
                         unnest(list_transform(range(1, greatest(len(t) - 3 + 1, 0) + 1),
                                i -> md5(array_to_string(list_slice(t, CAST(i AS INT), CAST(i + 2 AS INT)), ' ')))) AS gr
                  FROM toks),
            tf AS (SELECT doc_id, gr, COUNT(*) AS tf FROM g GROUP BY doc_id, gr),
            norms AS (SELECT doc_id, CAST(SUM(tf*tf) AS BIGINT) AS n2 FROM tf GROUP BY doc_id),
            dfc AS (SELECT gr, COUNT(*) AS df FROM tf GROUP BY gr),
            kept AS (SELECT tf.doc_id, tf.gr, tf.tf
                     FROM tf JOIN dfc USING (gr) WHERE dfc.df <= 200),
            dots AS (SELECT x.doc_id AS a, y.doc_id AS b,
                            CAST(SUM(x.tf * y.tf) AS BIGINT) AS dot
                     FROM kept x JOIN kept y ON x.gr = y.gr AND x.doc_id < y.doc_id
                     GROUP BY x.doc_id, y.doc_id
                     HAVING SUM(x.tf * y.tf) >= 2)
            SELECT d.a, d.b, d.dot, na.n2 AS na2, nb.n2 AS nb2,
                   round(d.dot / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2), 6) AS cos_lb
            FROM dots d
            JOIN norms na ON na.doc_id = d.a
            JOIN norms nb ON nb.doc_id = d.b
        """,
        "dedup_representatives": f"""
            WITH RECURSIVE toks AS (
              SELECT DISTINCT doc_id, unnest({_TOK}) AS token FROM documents),
            sigs AS (
              SELECT doc_id,
                     MIN(md5('0:' || token)) AS sig_0, MIN(md5('1:' || token)) AS sig_1,
                     MIN(md5('2:' || token)) AS sig_2, MIN(md5('3:' || token)) AS sig_3
              FROM toks GROUP BY doc_id),
            cands AS (
              SELECT DISTINCT a, b FROM (
                SELECT x.doc_id a, y.doc_id b FROM sigs x JOIN sigs y ON x.sig_0 = y.sig_0 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_1 = y.sig_1 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_2 = y.sig_2 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_3 = y.sig_3 AND x.doc_id < y.doc_id)),
            edges AS (
              SELECT a AS u, b AS v FROM cands
              UNION SELECT b, a FROM cands),
            reach(u, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.lab FROM edges e JOIN reach r ON r.u = e.v),
            comp AS (SELECT u AS node, MIN(lab) AS component FROM reach GROUP BY u),
            j AS (SELECT c.component, c.node, d.n_chars
                  FROM comp c JOIN documents d ON d.doc_id = c.node),
            reps AS (SELECT component, node AS rep_doc_id, n_chars AS rep_n_chars
                     FROM (SELECT *, row_number() OVER (
                             PARTITION BY component
                             ORDER BY n_chars DESC, node ASC) AS rn FROM j)
                     WHERE rn = 1),
            sizes AS (SELECT component, COUNT(*) AS n_members FROM comp GROUP BY component)
            SELECT r.component, r.rep_doc_id, r.rep_n_chars, s.n_members
            FROM reps r JOIN sizes s USING (component)
        """,
        "q34_skew_join": """
            WITH profile AS (
              SELECT user_id, COUNT(*) AS user_n,
                     round(SUM(value), 6) AS user_sum
              FROM events GROUP BY user_id)
            SELECT e.user_id, e.event_id, e.event_type, p.user_n, p.user_sum
            FROM events e JOIN profile p USING (user_id)
        """,
        "dedup_apply": f"""
            WITH RECURSIVE toks AS (
              SELECT DISTINCT doc_id, unnest({_TOK}) AS token FROM documents),
            sigs AS (
              SELECT doc_id,
                     MIN(md5('0:' || token)) AS sig_0, MIN(md5('1:' || token)) AS sig_1,
                     MIN(md5('2:' || token)) AS sig_2, MIN(md5('3:' || token)) AS sig_3
              FROM toks GROUP BY doc_id),
            cands AS (
              SELECT DISTINCT a, b FROM (
                SELECT x.doc_id a, y.doc_id b FROM sigs x JOIN sigs y ON x.sig_0 = y.sig_0 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_1 = y.sig_1 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_2 = y.sig_2 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_3 = y.sig_3 AND x.doc_id < y.doc_id)),
            edges AS (
              SELECT a AS u, b AS v FROM cands
              UNION SELECT b, a FROM cands),
            reach(u, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.lab FROM edges e JOIN reach r ON r.u = e.v),
            comp AS (SELECT u AS node, MIN(lab) AS component FROM reach GROUP BY u),
            j AS (SELECT c.component, c.node, d.n_chars
                  FROM comp c JOIN documents d ON d.doc_id = c.node),
            reps AS (SELECT component, node AS rep_doc_id
                     FROM (SELECT *, row_number() OVER (
                             PARTITION BY component
                             ORDER BY n_chars DESC, node ASC) AS rn FROM j)
                     WHERE rn = 1),
            dropped AS (SELECT c.node AS doc_id
                        FROM comp c JOIN reps r USING (component)
                        WHERE c.node <> r.rep_doc_id)
            SELECT d.doc_id, d.source, d.n_chars
            FROM documents d
            WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = d.doc_id)
        """,
        "text_quality_filter": f"""
            WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
            lex AS (
              SELECT doc_id,
                     round(CAST(len(list_filter(t,
                           tok -> list_contains(['the','a','an','and','of','to','in','is',
                                                 'row','table','value','join','hash','scan'], tok))) AS DOUBLE)
                           / len(t), 6) AS stopword_ratio,
                     round(CAST(len(list_filter(t, tok -> regexp_matches(tok, '^[a-z]+$'))) AS DOUBLE)
                           / len(t), 6) AS alpha_ratio,
                     list_max(list_transform(t, tok -> length(tok))) AS max_token_len,
                     len(t) AS n_tokens
              FROM toks),
            uni AS (
              SELECT doc_id, tok, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
              GROUP BY doc_id, tok),
            uni_s AS (
              SELECT doc_id,
                     round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_token_frac
              FROM uni GROUP BY doc_id),
            r AS (
              SELECT l.doc_id,
                     list_sort(list_filter([
                       CASE WHEN l.n_tokens < 25 THEN 'too_short' END,
                       CASE WHEN u.top_token_frac > 0.12 THEN 'repetitive' END,
                       CASE WHEN l.alpha_ratio < 0.8 THEN 'non_alpha' END,
                       CASE WHEN l.max_token_len > 20 THEN 'long_token' END,
                       CASE WHEN l.stopword_ratio < 0.1 THEN 'no_stopwords' END
                     ], x -> x IS NOT NULL)) AS rs
              FROM lex l JOIN uni_s u USING (doc_id))
            SELECT doc_id, len(rs) = 0 AS keep,
                   COALESCE(array_to_string(rs, ','), '') AS reasons
            FROM r
        """,
        # Same quality signals, reduced to the first-fail funnel (rule
        # order too_short -> repetitive -> non_alpha -> long_token ->
        # no_stopwords; zero-kill rules still emit a row).
        "text_quality_funnel": f"""
            WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
            lex AS (
              SELECT doc_id,
                     round(CAST(len(list_filter(t,
                           tok -> list_contains(['the','a','an','and','of','to','in','is',
                                                 'row','table','value','join','hash','scan'], tok))) AS DOUBLE)
                           / len(t), 6) AS stopword_ratio,
                     round(CAST(len(list_filter(t, tok -> regexp_matches(tok, '^[a-z]+$'))) AS DOUBLE)
                           / len(t), 6) AS alpha_ratio,
                     list_max(list_transform(t, tok -> length(tok))) AS max_token_len,
                     len(t) AS n_tokens
              FROM toks),
            uni AS (
              SELECT doc_id, tok, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
              GROUP BY doc_id, tok),
            uni_s AS (
              SELECT doc_id,
                     round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_token_frac
              FROM uni GROUP BY doc_id),
            ff AS (
              SELECT l.doc_id,
                     CASE WHEN l.n_tokens < 25 THEN 1
                          WHEN u.top_token_frac > 0.12 THEN 2
                          WHEN l.alpha_ratio < 0.8 THEN 3
                          WHEN l.max_token_len > 20 THEN 4
                          WHEN l.stopword_ratio < 0.1 THEN 5
                          ELSE 0 END AS stage
              FROM lex l JOIN uni_s u USING (doc_id)),
            per AS (SELECT stage, CAST(COUNT(*) AS BIGINT) AS n
                    FROM ff GROUP BY stage),
            names(stage, rule) AS (VALUES
              (1, 'too_short'), (2, 'repetitive'), (3, 'non_alpha'),
              (4, 'long_token'), (5, 'no_stopwords')),
            tot AS (SELECT COUNT(*) AS n FROM documents),
            fun AS (
              SELECT names.stage, names.rule,
                     COALESCE(per.n, 0) AS n_rejected
              FROM names LEFT JOIN per ON per.stage = names.stage)
            SELECT CAST(stage AS BIGINT) AS stage, rule,
                   CAST(n_rejected AS BIGINT) AS n_rejected,
                   CAST((SELECT n FROM tot)
                        - SUM(n_rejected) OVER (ORDER BY stage
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS n_surviving,
                   CAST(n_rejected * 10000
                        // GREATEST((SELECT n FROM tot), 1) AS BIGINT)
                   AS rejected_share_bp
            FROM fun ORDER BY stage
        """,
        # UniMax closed-form water-filling: the capped test and the equal
        # share mirror the Spark windows exactly (B=10000, max_epochs=2).
        "sample_unimax_plan": f"""
            WITH per AS (
              SELECT source,
                     CAST(SUM(len(list_filter({_TOK}, t -> t <> '')))
                          AS BIGINT) AS n_tokens
              FROM documents GROUP BY source),
            c AS (SELECT source, n_tokens,
                         n_tokens * 2 AS cap_tokens FROM per),
            wnd AS (
              SELECT source, n_tokens, cap_tokens,
                     ROW_NUMBER() OVER (ORDER BY cap_tokens, source) AS j,
                     COUNT(*) OVER () AS S,
                     SUM(cap_tokens) OVER (ORDER BY cap_tokens, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS P
              FROM c),
            flg AS (SELECT *,
                           cap_tokens * (S - j + 1) + (P - cap_tokens) <= 10000
                           AS capped
                    FROM wnd),
            agg AS (SELECT *,
                           SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS k,
                           SUM(CASE WHEN capped THEN cap_tokens ELSE 0 END)
                             OVER () AS P_k
                    FROM flg),
            alloc AS (
              SELECT source, n_tokens, cap_tokens, capped,
                     CAST(CASE WHEN capped THEN cap_tokens
                               WHEN j = S THEN (10000 - P_k) // (S - k)
                                               + (10000 - P_k) % (S - k)
                               ELSE (10000 - P_k) // (S - k) END
                          AS BIGINT) AS alloc_tokens
              FROM agg)
            SELECT source, n_tokens, CAST(cap_tokens AS BIGINT) AS cap_tokens,
                   capped, alloc_tokens,
                   CAST(CAST(alloc_tokens AS HUGEINT) * 1000000
                        // GREATEST(n_tokens, 1) AS BIGINT) AS epochs_e6
            FROM alloc ORDER BY cap_tokens, source
        """,
        "mix_char_budget": """
            WITH tw AS (
              SELECT SUM(CASE WHEN source IN ('src0','src1','src2','src3')
                              THEN 2.0 ELSE 1.0 END) AS total_w
              FROM (SELECT DISTINCT source FROM documents)),
            h AS (SELECT doc_id, source, n_chars,
                         CASE WHEN source IN ('src0','src1','src2','src3')
                              THEN 2.0 ELSE 1.0 END AS w,
                         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
                  FROM documents),
            c AS (SELECT doc_id, source, n_chars, w,
                         CAST(SUM(n_chars) OVER (
                           PARTITION BY source ORDER BY hv ASC, doc_id ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_chars
                  FROM h)
            SELECT doc_id, source, n_chars, cum_chars
            FROM c, tw
            WHERE cum_chars <= 60000.0 * w / tw.total_w
        """,
        "dedup_bloom_probe": f"""
            WITH fps AS (
              SELECT doc_id, md5(array_to_string({_TOK}, ' ')) AS fp,
                     CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 15)) AS BIGINT) % 100 AS sh
              FROM documents),
            base_pos AS (
              SELECT DISTINCT
                CAST(('0x' || substring(md5(CAST(t.i AS VARCHAR) || ':' || fp), 1, 15)) AS BIGINT) % 65536 AS pos
              FROM fps, range(5) t(i) WHERE sh < 80),
            probe_pos AS (
              SELECT doc_id,
                CAST(('0x' || substring(md5(CAST(t.i AS VARCHAR) || ':' || fp), 1, 15)) AS BIGINT) % 65536 AS pos
              FROM fps, range(5) t(i) WHERE sh >= 80)
            SELECT doc_id,
                   CAST(SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
                   bool_and(b.pos IS NOT NULL) AS maybe_seen
            FROM probe_pos p LEFT JOIN base_pos b USING (pos)
            GROUP BY doc_id
        """,
        "pack_sequences": f"""
            WITH d AS (
              SELECT doc_id, len({_TOK}) AS n_tokens,
                     md5(CAST(doc_id AS VARCHAR)) AS h
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     CAST(COALESCE(SUM(n_tokens) OVER (
                       ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
              FROM d)
            SELECT doc_id, n_tokens, start_offset,
                   start_offset // 512 AS bin_id,
                   CASE WHEN n_tokens > 0
                        THEN ((start_offset + n_tokens - 1) // 512) > (start_offset // 512)
                        ELSE FALSE END AS straddle
            FROM c
        """,
        "text_pii_density": r"""
            WITH aug AS (
              SELECT doc_id,
                text ||
                CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.org' ELSE '' END ||
                CASE WHEN doc_id % 5 = 0 THEN ' call 9' || lpad(CAST(doc_id * 7919 % 1000000000 AS VARCHAR), 9, '0') ELSE '' END ||
                CASE WHEN doc_id % 7 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
                CASE WHEN doc_id % 11 = 0 THEN ' ref ABCDE' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || 'F' ELSE '' END
                AS text
              FROM documents),
            c AS (
              SELECT doc_id, text,
                len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                len(regexp_extract_all(text, '\b[6-9][0-9]{9}\b')) AS n_phone,
                len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS n_ssn,
                len(regexp_extract_all(text, '\b[A-Z]{5}[0-9]{4}[A-Z]\b')) AS n_pan
              FROM aug)
            SELECT doc_id, n_email, n_phone, n_ssn, n_pan,
                   (n_email + n_phone + n_ssn + n_pan) AS n_pii,
                   round((n_email + n_phone + n_ssn + n_pan) * 100.0 / len(text), 6) AS pii_per_100c
            FROM c
        """,
        # replace-fold n_matches == the automaton's greedy-left
        # non-overlapping per-term count; strpos is 1-based (hence -1).
        "pii_dict_match": f"""
            WITH g AS (SELECT {_names_sql_list(0)} AS arr),
            s AS (SELECT {_names_sql_list(1)} AS arr),
            aug AS (
              SELECT d.doc_id,
                d.text ||
                CASE WHEN d.doc_id % 2 = 0 THEN ' ' || g.arr[CAST(d.doc_id % 64 + 1 AS INT)]
                     || ' ' || s.arr[CAST(d.doc_id % 40 + 1 AS INT)] ELSE '' END ||
                CASE WHEN d.doc_id % 3 = 0 THEN ' ' || g.arr[CAST((d.doc_id * 7) % 64 + 1 AS INT)] ELSE '' END
                AS text
              FROM documents d, g, s),
            terms AS (SELECT unnest(g.arr || s.arr) AS term FROM g, s)
            SELECT a.doc_id, t.term,
                   (len(a.text) - len(replace(a.text, t.term, ''))) // len(t.term) AS n_matches,
                   CAST(strpos(a.text, t.term) - 1 AS BIGINT) AS first_pos
            FROM aug a CROSS JOIN terms t
            WHERE strpos(a.text, t.term) > 0
        """,
        "sample_temperature": """
            WITH sizes AS (SELECT lang, COUNT(*) AS n_g FROM documents GROUP BY lang),
            m AS (SELECT MIN(n_g) AS n_min FROM sizes)
            SELECT doc_id, lang,
                   round(sqrt(CAST(n_min AS DOUBLE) / n_g), 9) AS keep_rate
            FROM documents JOIN sizes USING (lang), m
            WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  / 1152921504606846976.0
                  < sqrt(CAST(n_min AS DOUBLE) / n_g)
        """,
        "sketch_cm_heavy_hitters": f"""
            WITH toks AS (SELECT unnest({_TOK}) AS token FROM documents),
            exact AS (SELECT token, COUNT(*) AS exact_cnt FROM toks GROUP BY token),
            topk AS (
              SELECT token, exact_cnt FROM (
                SELECT token, exact_cnt,
                       row_number() OVER (ORDER BY exact_cnt DESC, token ASC) AS rn
                FROM exact) WHERE rn <= 20),
            pos AS (
              SELECT token,
                     CAST(t.i AS INT) AS row,
                     CAST(('0x' || substring(md5(CAST(t.i AS VARCHAR) || ':' || token), 1, 15)) AS BIGINT) % 256 AS col
              FROM toks, range(4) t(i)),
            sketch AS (SELECT row, col, COUNT(*) AS cnt FROM pos GROUP BY row, col),
            probes AS (
              SELECT k.token, k.exact_cnt,
                     CAST(t.i AS INT) AS row,
                     CAST(('0x' || substring(md5(CAST(t.i AS VARCHAR) || ':' || k.token), 1, 15)) AS BIGINT) % 256 AS col
              FROM topk k, range(4) t(i))
            SELECT p.token, p.exact_cnt, MIN(s.cnt) AS cm_estimate
            FROM probes p JOIN sketch s USING (row, col)
            GROUP BY p.token, p.exact_cnt
        """,
        "text_repeated_spans": f"""
            WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
            idx AS (
              SELECT doc_id, t,
                     unnest(range(1, greatest(CAST(len(t) AS BIGINT) - 1, 1))) AS i
              FROM toks),
            g AS (
              SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos0,
                     md5(array_to_string(list_slice(t, i, i + 2), ' ')) AS g
              FROM idx),
            dfc AS (SELECT g, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY g),
            rep AS (
              SELECT doc_id, pos0 AS s, pos0 + 3 AS e
              FROM g JOIN dfc USING (g) WHERE df >= 2),
            flagged AS (
              SELECT doc_id, s, e,
                     CASE WHEN s > COALESCE(MAX(e) OVER (
                       PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                     THEN 1 ELSE 0 END AS new_span
              FROM rep),
            spans AS (
              SELECT doc_id, s, e,
                     SUM(new_span) OVER (
                       PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
              FROM flagged)
            SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end,
                   COUNT(*) AS n_occ
            FROM spans GROUP BY doc_id, span_id
        """,
        "dedup_substring_clip": f"""
            WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
            idx AS (
              SELECT doc_id, t,
                     unnest(range(1, greatest(CAST(len(t) AS BIGINT) - 1, 1))) AS i
              FROM toks),
            g AS (
              SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos0,
                     md5(array_to_string(list_slice(t, i, i + 2), ' ')) AS g
              FROM idx),
            dfc AS (SELECT g, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY g),
            rep AS (
              SELECT doc_id, pos0 AS s, pos0 + 3 AS e
              FROM g JOIN dfc USING (g) WHERE df >= 2),
            flagged AS (
              SELECT doc_id, s, e,
                     CASE WHEN s > COALESCE(MAX(e) OVER (
                       PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                     THEN 1 ELSE 0 END AS new_span
              FROM rep),
            spans AS (
              SELECT doc_id, s, e,
                     SUM(new_span) OVER (
                       PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
              FROM flagged),
            m AS (SELECT doc_id, MIN(s) AS ss, MAX(e) AS se
                  FROM spans GROUP BY doc_id, span_id),
            tok AS (
              SELECT doc_id, unnest(t) AS tk,
                     CAST(unnest(range(len(t))) AS BIGINT) AS i
              FROM toks),
            keep AS (
              SELECT tok.doc_id, tok.tk, tok.i
              FROM tok LEFT JOIN m
                ON tok.doc_id = m.doc_id AND tok.i >= m.ss AND tok.i < m.se
              WHERE m.doc_id IS NULL)
            SELECT toks.doc_id,
                   COALESCE(string_agg(keep.tk, ' ' ORDER BY keep.i), '') AS clean_text,
                   CAST(len(toks.t) AS BIGINT) AS n_tokens,
                   CAST(len(toks.t) AS BIGINT) - COUNT(keep.tk) AS n_removed
            FROM toks LEFT JOIN keep ON toks.doc_id = keep.doc_id
            GROUP BY toks.doc_id, toks.t
        """,
        "embed_quantize": """
            WITH vals AS (
              SELECT vec_id,
                     CAST(unnest(range(len(embedding))) AS INT) AS dim,
                     unnest(CAST(embedding AS DOUBLE[])) AS val
              FROM embeddings),
            stats AS (SELECT dim, MIN(val) AS mn, MAX(val) AS mx FROM vals GROUP BY dim)
            SELECT vec_id, dim,
                   CAST(CASE WHEN mx > mn
                             THEN LEAST(FLOOR((val - mn) * 255.0 / (mx - mn)), 255)
                             ELSE 0 END AS INT) AS code
            FROM vals JOIN stats USING (dim)
        """,
        "ann_ivf_topk": _KMEANS_C2 + """,
            d3 AS (SELECT f.vec_id, c.cluster, SUM((f.q - c.c)*(f.q - c.c)) AS dist
                   FROM fx f JOIN c2 c USING (d) WHERE f.vec_id >= 5
                   GROUP BY f.vec_id, c.cluster),
            a3 AS (SELECT vec_id, cluster FROM (
                     SELECT vec_id, cluster,
                            row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
                     FROM d3) WHERE rn = 1),
            dq AS (SELECT f.vec_id, c.cluster, SUM((f.q - c.c)*(f.q - c.c)) AS dist
                   FROM fx f JOIN c2 c USING (d) WHERE f.vec_id < 5
                   GROUP BY f.vec_id, c.cluster),
            probes AS (SELECT vec_id AS q_id, cluster FROM (
                         SELECT vec_id, cluster,
                                row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
                         FROM dq) WHERE rn <= 4),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
            scored AS (
              SELECT p.q_id, a3.vec_id AS c_id,
                     round(list_cosine_similarity(qe.emb, ce.emb), 6) AS sim
              FROM probes p JOIN a3 ON a3.cluster = p.cluster
              JOIN e qe ON qe.vec_id = p.q_id
              JOIN e ce ON ce.vec_id = a3.vec_id),
            r AS (SELECT q_id, c_id, sim,
                         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS INT) AS rank
                  FROM scored)
            SELECT q_id, c_id, sim, rank FROM r WHERE rank <= 10
        """,
        # Golden parquet from the independent pure-Python BPE reference
        # (tools/write_bpe_golden.py) — valid for the sf0.01 gate corpus,
        # like the pipeline goldens above.
        "bpe_encode_pieces": f"""
            SELECT doc_id, word_pos, piece_pos, piece
            FROM read_parquet('{_GOLDEN}/bpe_pieces.parquet')
        """,
        # Fertility over the same golden piece stream, joined to documents
        # for the language column; HUGEINT mirrors Spark's DECIMAL(38,0).
        "text_tokenizer_fertility": f"""
            SELECT d.lang AS lang,
                   CAST(SUM(CASE WHEN g.piece_pos = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_words,
                   CAST(COUNT(*) AS BIGINT) AS n_pieces,
                   CAST(SUM(LENGTH(g.piece)) AS BIGINT) AS n_chars,
                   CAST(CAST(COUNT(*) AS HUGEINT) * 1000000
                        // SUM(CASE WHEN g.piece_pos = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS fertility_e6,
                   CAST(CAST(COUNT(*) - SUM(CASE WHEN g.piece_pos = 0
                                            THEN 1 ELSE 0 END) AS HUGEINT)
                        * 10000 // COUNT(*) AS BIGINT) AS continuation_bp,
                   CAST(CAST(SUM(LENGTH(g.piece)) AS HUGEINT) * 1000000
                        // COUNT(*) AS BIGINT) AS chars_per_piece_e6
            FROM read_parquet('{_GOLDEN}/bpe_pieces.parquet') g
            JOIN documents d ON d.doc_id = g.doc_id
            GROUP BY d.lang
            ORDER BY lang
        """,
        "text_chunks": f"""
            WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
            d AS (SELECT doc_id, t, CAST(len(t) AS INT) AS n
                  FROM toks WHERE len(t) > 0),
            st AS (SELECT doc_id, t, n,
                          CAST(unnest(range(0, n, 48)) AS INT) AS start_tok
                   FROM d)
            SELECT doc_id,
                   CAST(start_tok // 48 AS INT) AS chunk_id,
                   start_tok,
                   CAST(len(list_slice(t, start_tok + 1,
                                       least(start_tok + 64, n))) AS INT) AS n_tok,
                   array_to_string(list_slice(t, start_tok + 1,
                                              least(start_tok + 64, n)), ' ')
                     AS chunk_text
            FROM st
        """,
        "web_snapshot_delta": """
            WITH d AS (
              SELECT doc_id, text,
                     CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 10 AS draw
              FROM documents),
            old AS (SELECT doc_id, md5(text) AS old_fp FROM documents),
            new AS (
              SELECT doc_id,
                     md5(CASE WHEN draw = 1 THEN text || ' updated' ELSE text END) AS new_fp
              FROM d WHERE draw <> 0
              UNION ALL
              SELECT doc_id + 10000000, md5(md5(text)) FROM d WHERE draw = 2)
            SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
                   CASE WHEN old.doc_id IS NULL THEN 'added'
                        WHEN new.doc_id IS NULL THEN 'removed'
                        WHEN old.old_fp <> new.new_fp THEN 'changed'
                        ELSE 'unchanged' END AS change
            FROM old FULL OUTER JOIN new ON new.doc_id = old.doc_id
        """,
        "search_fuzzy": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOK}) AS token FROM documents),
            vocab AS (
              SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                     CAST(COUNT(*) AS BIGINT) AS n_hits
              FROM toks WHERE token <> '' GROUP BY token),
            vvar AS (
              SELECT token,
                     unnest(list_distinct(list_append(
                       [substr(token, 1, p - 1) || substr(token, p + 1)
                        FOR p IN range(1, length(token) + 1)], token))) AS variant
              FROM vocab),
            dict(term) AS (VALUES {_FUZZY_VALUES}),
            dvar AS (
              SELECT term,
                     unnest(list_distinct(list_append(
                       [substr(term, 1, p - 1) || substr(term, p + 1)
                        FOR p IN range(1, length(term) + 1)], term))) AS variant
              FROM dict),
            matches AS (
              SELECT DISTINCT d.term, v.token
              FROM vvar v JOIN dvar d ON v.variant = d.variant
              WHERE levenshtein(d.term, v.token) <= 1)
            SELECT m.term, m.token, vb.n_docs, vb.n_hits
            FROM matches m JOIN vocab vb ON m.token = vb.token
        """,
        "search_phrase": f"""
            WITH pterms(phrase_id, phrase, term, slot, plen) AS (
              VALUES {_PHRASE_VALUES}),
            pos AS (
              SELECT doc_id, u.token AS token, CAST(u.i - 1 AS INT) AS pos
              FROM (SELECT doc_id,
                           unnest(list_transform({_TOK},
                             (t, i) -> struct_pack(token := t, i := i))) AS u
                    FROM documents)
              WHERE u.token <> ''),
            hits AS (
              SELECT p.phrase_id, p.phrase, p.plen, pos.doc_id,
                     pos.pos - p.slot AS start,
                     COUNT(DISTINCT p.slot) AS n_slots
              FROM pos JOIN pterms p ON pos.token = p.term
              WHERE pos.pos - p.slot >= 0
              GROUP BY p.phrase_id, p.phrase, p.plen, pos.doc_id, pos.pos - p.slot
              HAVING COUNT(DISTINCT p.slot) = p.plen)
            SELECT phrase_id, phrase, doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                   CAST(MIN(start) AS INT) AS first_start
            FROM hits GROUP BY phrase_id, phrase, doc_id
        """,
        "sample_leakage_split": f"""
            WITH RECURSIVE toks AS (
              SELECT DISTINCT doc_id, unnest({_TOK}) AS token FROM documents),
            sigs AS (
              SELECT doc_id,
                     MIN(md5('0:' || token)) AS sig_0, MIN(md5('1:' || token)) AS sig_1,
                     MIN(md5('2:' || token)) AS sig_2, MIN(md5('3:' || token)) AS sig_3
              FROM toks GROUP BY doc_id),
            cands AS (
              SELECT DISTINCT a, b FROM (
                SELECT x.doc_id a, y.doc_id b FROM sigs x JOIN sigs y ON x.sig_0 = y.sig_0 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_1 = y.sig_1 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_2 = y.sig_2 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_3 = y.sig_3 AND x.doc_id < y.doc_id)),
            edges AS (
              SELECT a AS u, b AS v FROM cands
              UNION SELECT b, a FROM cands),
            reach(u, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.lab FROM edges e JOIN reach r ON r.u = e.v),
            comp AS (SELECT u AS doc_id, MIN(lab) AS component FROM reach GROUP BY u),
            grouped AS (
              SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_id
              FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
            sizes AS (SELECT group_id, CAST(COUNT(*) AS BIGINT) AS group_size
                      FROM grouped GROUP BY group_id)
            SELECT g.doc_id, g.group_id, s.group_size,
                   CASE WHEN CAST(('0x' || substring(md5(CAST(g.group_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 8 THEN 'train'
                        WHEN CAST(('0x' || substring(md5(CAST(g.group_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 9 THEN 'validation'
                        ELSE 'test' END AS split
            FROM grouped g JOIN sizes s USING (group_id)
        """,
        "extract_metadata": """
            WITH pages AS (
              SELECT doc_id,
                     '<html><head><meta charset="utf-8">'
                     || '<title>Doc ' || CAST(doc_id AS VARCHAR) || ' - Example Site</title>'
                     || '<meta name="description" content="' || substring(text, 1, 40) || '">'
                     || '<link rel="canonical" href="https://example.com/docs/' || CAST(doc_id AS VARCHAR) || '">'
                     || '<meta property="og:locale" content="' || lang || '">'
                     || '</head><body><div id="main"><p>' || text || '</p></div></body></html>' AS html
              FROM documents)
            SELECT doc_id,
                   regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
                   regexp_extract(html, '<meta name="description" content="([^"]*)"', 1) AS description,
                   regexp_extract(html, '<link rel="canonical" href="([^"]*)"', 1) AS canonical_url,
                   regexp_extract(html, '<meta property="og:locale" content="([^"]*)"', 1) AS og_locale,
                   CAST(len(regexp_extract_all(html, '<meta ')) AS INT) AS n_meta_tags
            FROM pages
        """,
        "text_nb_classifier": f"""
            WITH folded AS (
              SELECT doc_id, text, (lang = 'en') AS pos,
                     CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                          AS BIGINT) < 192 AS is_train
              FROM documents),
            traintok AS (
              SELECT pos, unnest({_TOK}) AS token FROM folded WHERE is_train),
            pt AS (SELECT token,
                          CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
                          CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
                   FROM traintok WHERE token <> '' GROUP BY token),
            s AS (SELECT CAST(SUM(c_pos) AS BIGINT) AS n_pos,
                         CAST(SUM(c_neg) AS BIGINT) AS n_neg,
                         CAST(COUNT(*) AS BIGINT) AS v FROM pt),
            w AS (SELECT token,
                         round(ln((c_pos + 1.0) / (n_pos + v)) -
                               ln((c_neg + 1.0) / (n_neg + v)), 6) AS w
                  FROM pt, s),
            prior AS (SELECT round(ln(
                        (SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 1.0) /
                        (SUM(CASE WHEN pos THEN 0 ELSE 1 END) + 1.0)), 6) AS bias
                      FROM folded WHERE is_train),
            tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
                   FROM (SELECT doc_id, unnest({_TOK}) AS token FROM folded)
                   WHERE token <> '' GROUP BY doc_id, token),
            sc AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_scored_tokens,
                          round(SUM(round(tf * w, 6)), 6) AS s_tokens
                   FROM tf JOIN w USING (token) GROUP BY doc_id)
            SELECT f.doc_id, f.is_train,
                   COALESCE(sc.n_scored_tokens, 0) AS n_scored_tokens,
                   round(COALESCE(sc.s_tokens, 0) + prior.bias, 6) AS score,
                   (COALESCE(sc.s_tokens, 0) + prior.bias > 0) AS predicted
            FROM folded f LEFT JOIN sc ON sc.doc_id = f.doc_id, prior
        """,
        # Same NB scoring CTEs, restricted to the held-out fold, then the
        # fixed-point e6 equi-width binning + cumulative sweep (32 bins).
        "text_nb_pr_curve": f"""
            WITH folded AS (
              SELECT doc_id, text, (lang = 'en') AS pos,
                     CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                          AS BIGINT) < 192 AS is_train
              FROM documents),
            traintok AS (
              SELECT pos, unnest({_TOK}) AS token FROM folded WHERE is_train),
            pt AS (SELECT token,
                          CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
                          CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
                   FROM traintok WHERE token <> '' GROUP BY token),
            s AS (SELECT CAST(SUM(c_pos) AS BIGINT) AS n_pos,
                         CAST(SUM(c_neg) AS BIGINT) AS n_neg,
                         CAST(COUNT(*) AS BIGINT) AS v FROM pt),
            w AS (SELECT token,
                         round(ln((c_pos + 1.0) / (n_pos + v)) -
                               ln((c_neg + 1.0) / (n_neg + v)), 6) AS w
                  FROM pt, s),
            prior AS (SELECT round(ln(
                        (SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 1.0) /
                        (SUM(CASE WHEN pos THEN 0 ELSE 1 END) + 1.0)), 6) AS bias
                      FROM folded WHERE is_train),
            tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
                   FROM (SELECT doc_id, unnest({_TOK}) AS token FROM folded)
                   WHERE token <> '' GROUP BY doc_id, token),
            sc AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_scored_tokens,
                          round(SUM(round(tf * w, 6)), 6) AS s_tokens
                   FROM tf JOIN w USING (token) GROUP BY doc_id),
            scored AS (
              SELECT f.pos AS y,
                     CAST(round(round(COALESCE(sc.s_tokens, 0) + prior.bias, 6)
                                * 1000000) AS BIGINT) AS s
              FROM folded f LEFT JOIN sc ON sc.doc_id = f.doc_id, prior
              WHERE NOT f.is_train),
            mm AS (SELECT MIN(s) AS mn, MAX(s) AS mx,
                          MAX(s) - MIN(s) + 1 AS span FROM scored),
            hist AS (
              SELECT CAST((s - mm.mn) * 32 // mm.span AS BIGINT) AS bin,
                     CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos,
                     CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg
              FROM scored, mm GROUP BY 1),
            cum AS (
              SELECT bin, pos, neg,
                     SUM(pos) OVER (ORDER BY bin DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
                     SUM(neg) OVER (ORDER BY bin DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
                     SUM(pos) OVER () AS all_pos,
                     SUM(neg) OVER () AS all_neg
              FROM hist)
            SELECT CAST(bin AS BIGINT) AS bin,
                   CAST((SELECT mn FROM mm)
                        + bin * (SELECT span FROM mm) // 32 AS BIGINT) AS threshold_e6,
                   CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                   CAST(all_pos - tp AS BIGINT) AS fn,
                   CAST(all_neg - fp AS BIGINT) AS tn,
                   CAST(tp * 10000 // (tp + fp) AS BIGINT) AS precision_bp,
                   CAST(tp * 10000 // GREATEST(all_pos, 1) AS BIGINT) AS recall_bp,
                   CAST(2 * tp * 10000 // (tp + fp + all_pos) AS BIGINT) AS f1_bp
            FROM cum ORDER BY bin
        """,
        "text_lm_xent": r"""
            WITH tok AS (
              SELECT doc_id, lang,
                     list_filter(string_split_regex(trim(text), '\s+'),
                                 t -> t <> '') AS toks
              FROM documents),
            pairs AS (
              SELECT doc_id, lang, p.prev AS prev, p.cur AS cur
              FROM (SELECT doc_id, lang,
                           unnest(list_transform(toks, (t, i) -> struct_pack(
                             prev := CASE WHEN i = 1 THEN '<s>'
                                          ELSE toks[i - 1] END,
                             cur := t))) AS p
                    FROM tok WHERE len(toks) > 0)),
            cb AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cb
                   FROM pairs WHERE lang = 'en' GROUP BY prev, cur),
            ch AS (SELECT prev, CAST(SUM(cb) AS BIGINT) AS ch FROM cb GROUP BY prev),
            v AS (SELECT CAST(COUNT(DISTINCT cur) AS BIGINT) AS v
                  FROM pairs WHERE lang = 'en'),
            lp AS (SELECT doc_id,
                          round(ln((COALESCE(cb.cb, 0) + 1.0) /
                                   (COALESCE(ch.ch, 0) + v.v)), 6) AS lp,
                          (cb.cb IS NULL) AS oov
                   FROM pairs
                   LEFT JOIN cb ON cb.prev = pairs.prev AND cb.cur = pairs.cur
                   LEFT JOIN ch ON ch.prev = pairs.prev, v)
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS oov_bigrams,
                   round(-SUM(lp), 6) AS nll
            FROM lp GROUP BY doc_id
        """,
        "text_ccnet_buckets": r"""
            WITH tok AS (
              SELECT doc_id, lang,
                     list_filter(string_split_regex(trim(text), '\s+'),
                                 t -> t <> '') AS toks
              FROM documents),
            pairs AS (
              SELECT doc_id, lang, p.prev AS prev, p.cur AS cur
              FROM (SELECT doc_id, lang,
                           unnest(list_transform(toks, (t, i) -> struct_pack(
                             prev := CASE WHEN i = 1 THEN '<s>'
                                          ELSE toks[i - 1] END,
                             cur := t))) AS p
                    FROM tok WHERE len(toks) > 0)),
            cb AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cb
                   FROM pairs WHERE lang = 'en' GROUP BY prev, cur),
            ch AS (SELECT prev, CAST(SUM(cb) AS BIGINT) AS ch FROM cb GROUP BY prev),
            v AS (SELECT CAST(COUNT(DISTINCT cur) AS BIGINT) AS v
                  FROM pairs WHERE lang = 'en'),
            lp AS (SELECT doc_id,
                          round(ln((COALESCE(cb.cb, 0) + 1.0) /
                                   (COALESCE(ch.ch, 0) + v.v)), 6) AS lp
                   FROM pairs
                   LEFT JOIN cb ON cb.prev = pairs.prev AND cb.cur = pairs.cur
                   LEFT JOIN ch ON ch.prev = pairs.prev, v),
            sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                          round(-SUM(lp), 6) AS nll
                   FROM lp GROUP BY doc_id),
            scored AS (
              SELECT d.doc_id, d.source,
                     CAST(round(sc.nll * 1000000) AS BIGINT) // sc.n_bigrams
                       AS xent_micro
              FROM documents d JOIN sc USING (doc_id)),
            ext AS (
              SELECT source, MIN(xent_micro) AS mn, COUNT(*) AS n,
                     (MAX(xent_micro) - MIN(xent_micro)) // 32 + 1 AS width
              FROM scored GROUP BY source),
            hist AS (
              SELECT s.source, e.mn, e.width, e.n,
                     CAST((s.xent_micro - e.mn) // e.width AS BIGINT) AS bin,
                     COUNT(*) AS cnt
              FROM scored s JOIN ext e USING (source)
              GROUP BY 1, 2, 3, 4, 5),
            cum AS (
              SELECT *, SUM(cnt) OVER (PARTITION BY source ORDER BY bin) AS cum
              FROM hist),
            qq AS (
              SELECT c.*, (c.n * q.qv + 99) // 100 AS target
              FROM cum c CROSS JOIN (SELECT unnest([33, 67]) AS qv) q),
            est AS (
              SELECT source,
                     CAST(mn + bin*width + (CAST(target - (cum - cnt) - 1 AS HUGEINT) * width) // cnt AS BIGINT) AS est
              FROM qq WHERE cum >= target AND cum - cnt < target),
            b AS (
              SELECT s.doc_id, s.source, s.xent_micro,
                     CAST(SUM(CASE WHEN e.est < s.xent_micro THEN 1 ELSE 0 END)
                          AS BIGINT) AS bucket
              FROM scored s JOIN est e USING (source)
              GROUP BY 1, 2, 3)
            SELECT doc_id, source, xent_micro, bucket,
                   CASE bucket WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                        ELSE 'tail' END AS band
            FROM b
        """,
        "sample_dsir": f"""
            WITH rawtok AS (
              SELECT doc_id, unnest({_TOK}) AS token
              FROM documents WHERE source <> 'src18'),
            tgttok AS (
              SELECT unnest({_TOK}) AS token
              FROM documents WHERE source = 'src18'),
            cr AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cr
                   FROM rawtok WHERE token <> '' GROUP BY token),
            ct AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS ct
                   FROM tgttok WHERE token <> '' GROUP BY token),
            w AS (SELECT COALESCE(cr.token, ct.token) AS token,
                         COALESCE(cr.cr, 0) AS cr, COALESCE(ct.ct, 0) AS ct
                  FROM cr FULL OUTER JOIN ct ON ct.token = cr.token),
            s AS (SELECT CAST(COUNT(*) AS BIGINT) AS v,
                         CAST(SUM(cr) AS BIGINT) AS nr,
                         CAST(SUM(ct) AS BIGINT) AS nt
                  FROM w),
            lr AS (SELECT token,
                          round(ln((ct + 1.0) / (nt + v)) -
                                ln((cr + 1.0) / (nr + v)), 6) AS lr
                   FROM w, s),
            tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
                   FROM rawtok WHERE token <> '' GROUP BY doc_id, token),
            sc AS (SELECT doc_id,
                          round(SUM(round(tf * lr, 6)), 6) AS score
                   FROM tf JOIN lr USING (token) GROUP BY doc_id),
            sel AS (SELECT doc_id,
                           CAST(row_number() OVER (
                             ORDER BY score DESC, doc_id ASC) AS INT) AS rank
                    FROM sc ORDER BY score DESC, doc_id ASC LIMIT 100)
            SELECT sc.doc_id, sc.score, sel.rank,
                   (sel.rank IS NOT NULL) AS selected
            FROM sc LEFT JOIN sel ON sel.doc_id = sc.doc_id
        """,
        "decontam_minhash": f"""
            WITH toks AS (
              SELECT DISTINCT doc_id, source, unnest({_TOK}) AS token
              FROM documents),
            sigs AS (
              SELECT doc_id, source, b.range AS band,
                     MIN(md5(CAST(b.range AS VARCHAR) || ':' || token)) AS sig
              FROM toks, range(4) b GROUP BY doc_id, source, b.range),
            cand AS (
              SELECT DISTINCT e.doc_id AS e, t.doc_id AS t
              FROM sigs e JOIN sigs t ON e.band = t.band AND e.sig = t.sig
              WHERE e.source = 'src19' AND t.source <> 'src19'),
            te AS (SELECT doc_id AS e, token FROM toks WHERE source = 'src19'),
            tt AS (SELECT doc_id AS t, token FROM toks WHERE source <> 'src19'),
            ne AS (SELECT e, COUNT(*) AS ne FROM te GROUP BY e),
            nt AS (SELECT t, COUNT(*) AS nt FROM tt GROUP BY t),
            inter AS (
              SELECT c.e, c.t, COUNT(*) AS i
              FROM cand c JOIN te ON te.e = c.e
              JOIN tt ON tt.t = c.t AND tt.token = te.token
              GROUP BY c.e, c.t),
            jacc AS (
              SELECT i.e, i.t,
                     round(i.i * 1.0 / (nt.nt + ne.ne - i.i), 6) AS jaccard
              FROM inter i JOIN nt ON nt.t = i.t JOIN ne ON ne.e = i.e),
            per_e AS (
              SELECT e, CAST(COUNT(*) AS BIGINT) AS n_candidates,
                     CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_contaminated,
                     MAX(jaccard) AS max_jaccard
              FROM jacc GROUP BY e)
            SELECT d.doc_id,
                   COALESCE(p.n_candidates, 0) AS n_candidates,
                   COALESCE(p.n_contaminated, 0) AS n_contaminated,
                   COALESCE(p.max_jaccard, 0.0) AS max_jaccard
            FROM documents d LEFT JOIN per_e p ON p.e = d.doc_id
            WHERE d.source = 'src19'
        """,
        "ann_pq_adc": """
            WITH dims AS (
              SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
                     unnest(range(len(embedding))) AS d
              FROM embeddings),
            fx AS (SELECT vec_id, d, CAST(d // 16 AS INT) AS sub,
                          CAST(floor(x*1000000) AS BIGINT) AS q
                   FROM dims),
            seeds AS (
              SELECT vec_id, code FROM (
                SELECT vec_id,
                       row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS code
                FROM embeddings) WHERE code < 16),
            c0 AS (SELECT s.code, f.sub, f.d, f.q AS c
                   FROM seeds s JOIN fx f USING (vec_id)),
            d1 AS (SELECT f.vec_id, c.sub, c.code,
                          SUM((f.q - c.c)*(f.q - c.c)) AS dist
                   FROM fx f JOIN c0 c ON c.d = f.d
                   GROUP BY f.vec_id, c.sub, c.code),
            a1 AS (SELECT vec_id, sub, code FROM (
                     SELECT vec_id, sub, code,
                            row_number() OVER (PARTITION BY vec_id, sub
                                               ORDER BY dist, code) AS rn
                     FROM d1) WHERE rn = 1),
            m1 AS (SELECT a.sub, a.code, f.d, SUM(f.q) AS s, COUNT(*) AS n
                   FROM a1 a JOIN fx f ON f.vec_id = a.vec_id AND f.sub = a.sub
                   GROUP BY a.sub, a.code, f.d),
            c1 AS (SELECT c0.code, c0.sub, c0.d,
                          COALESCE(CAST(m1.s // m1.n AS BIGINT), c0.c) AS c
                   FROM c0 LEFT JOIN m1 ON m1.sub = c0.sub
                        AND m1.code = c0.code AND m1.d = c0.d),
            de AS (SELECT f.vec_id, c.sub, c.code,
                          SUM((f.q - c.c)*(f.q - c.c)) AS dist
                   FROM fx f JOIN c1 c ON c.d = f.d WHERE f.vec_id >= 5
                   GROUP BY f.vec_id, c.sub, c.code),
            enc AS (SELECT vec_id, sub, code FROM (
                      SELECT vec_id, sub, code,
                             row_number() OVER (PARTITION BY vec_id, sub
                                                ORDER BY dist, code) AS rn
                      FROM de) WHERE rn = 1),
            tq AS (SELECT f.vec_id AS q_id, c.sub, c.code,
                          SUM((f.q - c.c)*(f.q - c.c)) AS pdist
                   FROM fx f JOIN c1 c ON c.d = f.d WHERE f.vec_id < 5
                   GROUP BY f.vec_id, c.sub, c.code),
            scored AS (
              SELECT t.q_id, e.vec_id AS c_id,
                     CAST(SUM(t.pdist) AS BIGINT) AS adist
              FROM enc e JOIN tq t ON t.sub = e.sub AND t.code = e.code
              GROUP BY t.q_id, e.vec_id),
            r AS (SELECT q_id, c_id, adist,
                         CAST(row_number() OVER (
                           PARTITION BY q_id ORDER BY adist ASC, c_id ASC
                         ) AS INT) AS rank
                  FROM scored)
            SELECT q_id, c_id, adist, rank FROM r WHERE rank <= 10
        """,
        "dedup_semantic": _KMEANS_C2 + """,
            dall AS (SELECT f.vec_id, c.cluster, SUM((f.q - c.c)*(f.q - c.c)) AS dist
                     FROM fx f JOIN c2 c USING (d)
                     GROUP BY f.vec_id, c.cluster),
            aall AS (SELECT vec_id, cluster FROM (
                       SELECT vec_id, cluster,
                              row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
                       FROM dall) WHERE rn = 1),
            e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
            dup AS (
              SELECT DISTINCT y.vec_id
              FROM aall x JOIN aall y
                ON x.cluster = y.cluster AND x.vec_id < y.vec_id
              JOIN e ex ON ex.vec_id = x.vec_id
              JOIN e ey ON ey.vec_id = y.vec_id
              WHERE round(list_cosine_similarity(ex.emb, ey.emb), 6) >= 0.92)
            SELECT a.vec_id, CAST(a.cluster AS INT) AS cluster,
                   (dup.vec_id IS NULL) AS keep
            FROM aall a LEFT JOIN dup ON dup.vec_id = a.vec_id
        """,
        # Flagship pipeline goldens: the pure-Python oracle's expected output
        # (ocr_redaction_engine_spark/oracle.py over the seed-42 150-doc
        # corpus) materialized by tools/write_pipeline_golden.py — computed
        # independently of the Spark pipeline under test.
        "pipeline_spans": f"""
            SELECT doc_id, "order", kind, text, media_ref
            FROM read_parquet('{_GOLDEN}/pipeline_spans.parquet/*.parquet')
        """,
        "pipeline_redactions": f"""
            SELECT doc_id, media_ref, status, field, seq, x1, y1, x2, y2,
                   frame_id, document_id
            FROM read_parquet('{_GOLDEN}/pipeline_redactions.parquet/*.parquet')
        """,
        "pipeline_invalid_route": f"""
            SELECT doc_id, status, task_result, reason
            FROM read_parquet('{_GOLDEN}/pipeline_invalid.parquet/*.parquet')
        """,
        "extract_pipeline_spans": f"""
            SELECT doc_id, "order", kind, text, media_ref
            FROM read_parquet('{_GOLDEN}/extract_spans.parquet/*.parquet')
        """,
        "dedup_components": f"""
            WITH RECURSIVE toks AS (
              SELECT DISTINCT doc_id, unnest({_TOK}) AS token FROM documents),
            sigs AS (
              SELECT doc_id,
                     MIN(md5('0:' || token)) AS sig_0, MIN(md5('1:' || token)) AS sig_1,
                     MIN(md5('2:' || token)) AS sig_2, MIN(md5('3:' || token)) AS sig_3
              FROM toks GROUP BY doc_id),
            cands AS (
              SELECT DISTINCT a, b FROM (
                SELECT x.doc_id a, y.doc_id b FROM sigs x JOIN sigs y ON x.sig_0 = y.sig_0 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_1 = y.sig_1 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_2 = y.sig_2 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_3 = y.sig_3 AND x.doc_id < y.doc_id)),
            edges AS (
              SELECT a AS u, b AS v FROM cands
              UNION SELECT b, a FROM cands),
            reach(u, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.lab FROM edges e JOIN reach r ON r.u = e.v)
            SELECT u AS node, MIN(lab) AS component FROM reach GROUP BY u
        """,
        # Same recursive-CTE components, aggregated to the cluster-size
        # histogram + the singleton (no-candidate-pair) row.
        "dedup_cluster_stats": f"""
            WITH RECURSIVE toks AS (
              SELECT DISTINCT doc_id, unnest({_TOK}) AS token FROM documents),
            sigs AS (
              SELECT doc_id,
                     MIN(md5('0:' || token)) AS sig_0, MIN(md5('1:' || token)) AS sig_1,
                     MIN(md5('2:' || token)) AS sig_2, MIN(md5('3:' || token)) AS sig_3
              FROM toks GROUP BY doc_id),
            cands AS (
              SELECT DISTINCT a, b FROM (
                SELECT x.doc_id a, y.doc_id b FROM sigs x JOIN sigs y ON x.sig_0 = y.sig_0 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_1 = y.sig_1 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_2 = y.sig_2 AND x.doc_id < y.doc_id
                UNION SELECT x.doc_id, y.doc_id FROM sigs x JOIN sigs y ON x.sig_3 = y.sig_3 AND x.doc_id < y.doc_id)),
            edges AS (
              SELECT a AS u, b AS v FROM cands
              UNION SELECT b, a FROM cands),
            reach(u, lab) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, r.lab FROM edges e JOIN reach r ON r.u = e.v),
            comp AS (SELECT u AS node, MIN(lab) AS component FROM reach GROUP BY u),
            hist AS (
              SELECT size, COUNT(*) AS n_clusters FROM (
                SELECT component, COUNT(*) AS size FROM comp GROUP BY component)
              GROUP BY size),
            tot AS (SELECT COUNT(*) AS n FROM documents),
            cl AS (SELECT COALESCE(SUM(size * n_clusters), 0) AS c FROM hist),
            allrows AS (
              SELECT size, n_clusters FROM hist
              UNION ALL
              SELECT 1, (SELECT n FROM tot) - (SELECT c FROM cl)
              WHERE (SELECT n FROM tot) > (SELECT c FROM cl))
            SELECT CAST(size AS BIGINT) AS size,
                   CAST(n_clusters AS BIGINT) AS n_clusters,
                   CAST(size * n_clusters AS BIGINT) AS n_docs,
                   CAST((size - 1) * n_clusters AS BIGINT) AS docs_removed,
                   CAST(size * n_clusters * 10000 // (SELECT n FROM tot) AS BIGINT) AS docs_share_bp
            FROM allrows ORDER BY size
        """,
        "dedup_simhash_cands": f"""
            WITH toks AS (
              SELECT DISTINCT doc_id, unnest({_TOK}) AS tok FROM documents),
            h AS (SELECT doc_id, md5_number_upper(tok) >> 4 AS hv FROM toks),
            votes AS (
              SELECT doc_id, b.range AS bit,
                     SUM(CASE WHEN (hv >> CAST(b.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM h CROSS JOIN range(60) b GROUP BY doc_id, b.range),
            sig AS (
              SELECT doc_id,
                     CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << CAST(bit AS INT) ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id),
            bands AS (
              SELECT doc_id, b.range AS band,
                     (simhash >> CAST(b.range * 15 AS INT)) & 32767 AS band_val
              FROM sig CROSS JOIN range(4) b)
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bands x JOIN bands y
              ON x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id
        """,
        "dedup_simhash_pairs": f"""
            WITH toks AS (
              SELECT DISTINCT doc_id, unnest({_TOK}) AS tok FROM documents),
            h AS (SELECT doc_id, md5_number_upper(tok) >> 4 AS hv FROM toks),
            votes AS (
              SELECT doc_id, b.range AS bit,
                     SUM(CASE WHEN (hv >> CAST(b.range AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM h CROSS JOIN range(60) b GROUP BY doc_id, b.range),
            sig AS (
              SELECT doc_id,
                     CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << CAST(bit AS INT) ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id),
            bands AS (
              SELECT doc_id, b.range AS band,
                     (simhash >> CAST(b.range * 15 AS INT)) & 32767 AS band_val
              FROM sig CROSS JOIN range(4) b),
            cands AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM bands x JOIN bands y
                ON x.band = y.band AND x.band_val = y.band_val AND x.doc_id < y.doc_id)
            SELECT c.a, c.b,
                   CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
            FROM cands c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
            WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 6
        """,
        "multimodal_byte_features": _MEDIA_CTE + """
            , agg AS (
              SELECT media_id, CAST(ln AS BIGINT) AS n_bytes,
                     CAST((SUM(v)*1000000)//ln AS BIGINT) AS mean_b1e6
              FROM bytes GROUP BY media_id, ln),
            hist AS (
              SELECT media_id, v // 16 AS hbin, COUNT(*) AS bin_count
              FROM bytes GROUP BY media_id, v // 16),
            binsx AS (
              SELECT media_id, CAST(b.range AS BIGINT) AS bin
              FROM base CROSS JOIN range(16) b)
            SELECT a.media_id, a.n_bytes, a.mean_b1e6, binsx.bin,
                   COALESCE(h.bin_count, 0) AS bin_count
            FROM agg a JOIN binsx USING(media_id)
            LEFT JOIN hist h ON h.media_id = binsx.media_id AND h.hbin = binsx.bin
        """,
        "multimodal_window_energy": _MEDIA_CTE + """
            SELECT media_id, i // 64 AS window_idx,
                   CAST(floor(sqrt(CAST(SUM(v*v) AS DOUBLE)/64)*1000000) AS BIGINT) AS rms_e6
            FROM bytes GROUP BY media_id, i // 64
        """,
        "multimodal_resample": _MEDIA_CTE + """
            SELECT media_id, i // 4 AS out_idx, CAST(v AS BIGINT) AS v
            FROM bytes WHERE i % 4 = 0
        """,
        # twin-aware payload CTE: ids >= N_MEDIA reuse the source chain with
        # the first byte zeroed ('00' || substring(hx, 3)) — the DuckDB twin
        # of multimodal.twin_payload / synthesize_binary_with_twins.
        "multimodal_phash_dedup": f"""
            WITH RECURSIVE ids AS (
              SELECT CAST(r.range AS BIGINT) AS media_id,
                     CAST(r.range AS BIGINT) AS src_id
              FROM range({N_MEDIA}) r
              UNION ALL
              SELECT {N_MEDIA} + CAST(r.range AS BIGINT), CAST(r.range AS BIGINT)
              FROM range({N_TWINS}) r
            ),
            base AS (
              SELECT media_id, src_id,
                     256 + (CAST('0x' || substring(md5('42:' || CAST(src_id AS VARCHAR) || ':len'), 1, 4) AS INT) % 1024) AS ln
              FROM ids),
            chain AS (
              SELECT media_id, ln, md5('42:' || CAST(src_id AS VARCHAR)) AS hx,
                     md5('42:' || CAST(src_id AS VARCHAR)) AS acc
              FROM base
              UNION ALL
              SELECT media_id, ln, md5(hx), acc || md5(hx) FROM chain WHERE length(acc) < 2*ln
            ),
            payload AS (
              SELECT media_id, ln,
                     CASE WHEN media_id >= {N_MEDIA}
                          THEN '00' || substring(substring(acc, 1, CAST(2*ln AS INT)), 3)
                          ELSE substring(acc, 1, CAST(2*ln AS INT)) END AS hx
              FROM chain WHERE length(acc) >= 2*ln),
            bytes AS (
              SELECT media_id, ln, CAST(i.range AS BIGINT) AS i,
                     CAST('0x' || substring(hx, CAST(2*i.range+1 AS INT), 2) AS INT) AS v
              FROM payload CROSS JOIN range(1280) i
              WHERE i.range < ln),
            cells AS (
              SELECT media_id, (i*60)//ln AS j, SUM(v) AS s, COUNT(*) AS c
              FROM bytes GROUP BY media_id, (i*60)//ln),
            tot AS (
              SELECT media_id, (SUM(v)*1000000)//ln AS gfp
              FROM bytes GROUP BY media_id, ln),
            bits AS (
              SELECT c.media_id, c.j,
                     CASE WHEN (c.s*1000000)//c.c > t.gfp THEN 1 ELSE 0 END AS bit
              FROM cells c JOIN tot t USING (media_id)),
            ph AS (
              SELECT media_id,
                     SUM(CAST(bit AS BIGINT) << CAST(j AS INT)) AS phash
              FROM bits GROUP BY media_id),
            bandt AS (
              SELECT media_id, phash, CAST(b.range AS INT) AS band_idx,
                     (phash >> CAST(15*b.range AS INT)) & 32767 AS band_val
              FROM ph CROSS JOIN range(4) b),
            cand AS (
              SELECT DISTINCT x.media_id AS a, y.media_id AS b,
                     CAST(bit_count(xor(x.phash, y.phash)) AS INT) AS hamming
              FROM bandt x JOIN bandt y
                ON x.band_idx = y.band_idx AND x.band_val = y.band_val
               AND x.media_id < y.media_id)
            SELECT a, b, hamming FROM cand WHERE hamming <= 14
        """,
        "multimodal_frame_sample": _MEDIA_CTE + """
            , frames AS (
              SELECT media_id AS fmid, CAST(f.range AS BIGINT) AS frame_idx,
                     substring(hx, CAST(256*f.range+1 AS INT), 256) AS fhx
              FROM payload CROSS JOIN range(10) f
              WHERE f.range < ln // 128 AND f.range % 2 = 0),
            fmeans AS (
              SELECT media_id AS mmid, i // 128 AS fidx,
                     CAST((SUM(v)*1000000)//128 AS BIGINT) AS mean_b1e6
              FROM bytes WHERE i < (ln // 128) * 128 GROUP BY media_id, i // 128)
            SELECT f.fmid AS media_id, f.frame_idx, md5(f.fhx) AS frame_fp, m.mean_b1e6
            FROM frames f JOIN fmeans m ON m.mmid = f.fmid AND m.fidx = f.frame_idx
        """,
        "extract_block_stats": _HTML_CTE + """
            SELECT doc_id, pos, text_len, n_links, anchor_chars, link_density
            FROM scored
        """,
        "extract_main_text": _HTML_CTE + """
            SELECT doc_id,
                   string_agg(btext, ' ' ORDER BY pos) AS main_text,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(sum(text_len) AS BIGINT) AS content_chars
            FROM scored
            WHERE text_len >= 40 AND link_density <= 0.2
            GROUP BY doc_id
        """,
        "extract_dom_main": _HTML_CTE + """
            , ranked AS (
              SELECT doc_id, pos, btext,
                     round(text_len * (1 - link_density), 6) AS score,
                     row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY round(text_len * (1 - link_density), 6) DESC, pos ASC) AS rk
              FROM scored)
            SELECT doc_id, pos AS best_pos, score, substring(btext, 1, 40) AS preview
            FROM ranked WHERE rk = 1
        """,
        "extract_block_labels": _HTML_CTE + """
            , lab AS (
              SELECT doc_id, pos, text_len, link_density,
                     CASE WHEN link_density > 0.2 THEN 'bad'
                          WHEN text_len >= 80 THEN 'good'
                          WHEN text_len >= 40 THEN 'near'
                          ELSE 'short' END AS label_raw
              FROM scored),
            ctx AS (
              SELECT *,
                COALESCE(lag(label_raw) OVER (PARTITION BY doc_id ORDER BY pos) = 'good', FALSE) AS pg,
                COALESCE(lead(label_raw) OVER (PARTITION BY doc_id ORDER BY pos) = 'good', FALSE) AS ng
              FROM lab)
            SELECT doc_id, pos, text_len, link_density, label_raw,
                   CASE WHEN label_raw = 'good' THEN 'good'
                        WHEN label_raw = 'near' AND (pg OR ng) THEN 'good'
                        WHEN label_raw = 'short' AND pg AND ng THEN 'good'
                        ELSE label_raw END AS label
            FROM ctx
        """,
        "extract_eval": _HTML_CTE + """
            , lab AS (
              SELECT doc_id, pos, text_len, link_density,
                     CASE WHEN link_density > 0.2 THEN 'bad'
                          WHEN text_len >= 80 THEN 'good'
                          WHEN text_len >= 40 THEN 'near'
                          ELSE 'short' END AS label_raw
              FROM scored),
            ctx AS (
              SELECT *,
                COALESCE(lag(label_raw) OVER (PARTITION BY doc_id ORDER BY pos) = 'good', FALSE) AS pg,
                COALESCE(lead(label_raw) OVER (PARTITION BY doc_id ORDER BY pos) = 'good', FALSE) AS ng
              FROM lab),
            fin AS (
              SELECT doc_id, pos, text_len,
                     CASE WHEN label_raw = 'good' THEN 'good'
                          WHEN label_raw = 'near' AND (pg OR ng) THEN 'good'
                          WHEN label_raw = 'short' AND pg AND ng THEN 'good'
                          ELSE label_raw END AS label
              FROM ctx),
            cells AS (
              SELECT (pos IN (1, 2) AND text_len > 0) AS truth,
                     label = 'good' AS pred
              FROM fin),
            agg AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
                     CAST(SUM(CASE WHEN truth AND pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                     CAST(SUM(CASE WHEN NOT truth AND pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                     CAST(SUM(CASE WHEN truth AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                     CAST(SUM(CASE WHEN NOT truth AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS tn
              FROM cells)
            SELECT n_blocks, tp, fp, fn, tn,
                   CASE WHEN tp + fp > 0 THEN CAST(tp * 1000000 // (tp + fp) AS BIGINT) END AS precision_e6,
                   CASE WHEN tp + fn > 0 THEN CAST(tp * 1000000 // (tp + fn) AS BIGINT) END AS recall_e6,
                   CASE WHEN 2 * tp + fp + fn > 0 THEN CAST(2 * tp * 1000000 // (2 * tp + fp + fn) AS BIGINT) END AS f1_e6
            FROM agg
        """,
        "extract_eval_confusion": _HTML_CTE + """
            , lab AS (
              SELECT doc_id, pos, text_len, link_density,
                     CASE WHEN link_density > 0.2 THEN 'bad'
                          WHEN text_len >= 80 THEN 'good'
                          WHEN text_len >= 40 THEN 'near'
                          ELSE 'short' END AS label_raw
              FROM scored),
            ctx AS (
              SELECT *,
                COALESCE(lag(label_raw) OVER (PARTITION BY doc_id ORDER BY pos) = 'good', FALSE) AS pg,
                COALESCE(lead(label_raw) OVER (PARTITION BY doc_id ORDER BY pos) = 'good', FALSE) AS ng
              FROM lab),
            fin AS (
              SELECT doc_id, pos, text_len, label_raw,
                     CASE WHEN label_raw = 'good' THEN 'good'
                          WHEN label_raw = 'near' AND (pg OR ng) THEN 'good'
                          WHEN label_raw = 'short' AND pg AND ng THEN 'good'
                          ELSE label_raw END AS label
              FROM ctx)
            SELECT label_raw, label,
                   (pos IN (1, 2) AND text_len > 0) AS is_content,
                   CAST(COUNT(*) AS BIGINT) AS n_blocks
            FROM fin
            GROUP BY label_raw, label, is_content
        """,
        "web_links": _HTML_CTE + r"""
            , m AS (
              SELECT doc_id,
                     unnest(list_transform(
                       regexp_extract_all(html, '<a href="([^"]*)"[^>]*>([^<]*)</a>', 0),
                       (x, i) -> struct_pack(i := i, m := x))) AS s
              FROM pages)
            SELECT doc_id, CAST(s.i - 1 AS INT) AS pos,
                   regexp_extract(s.m, '<a href="([^"]*)"[^>]*>([^<]*)</a>', 1) AS href,
                   regexp_extract(s.m, '<a href="([^"]*)"[^>]*>([^<]*)</a>', 2) AS anchor_text
            FROM m
        """,
        "web_anchor_stats": _HTML_CTE + r"""
            , m AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(html, '<a href="([^"]*)"[^>]*>([^<]*)</a>', 0)) AS mm
              FROM pages)
            SELECT regexp_extract(mm, '<a href="([^"]*)"[^>]*>([^<]*)</a>', 1) AS href,
                   CAST(count(*) AS BIGINT) AS n_inlinks,
                   CAST(count(DISTINCT regexp_extract(mm, '<a href="([^"]*)"[^>]*>([^<]*)</a>', 2)) AS BIGINT) AS n_anchor_texts,
                   min(regexp_extract(mm, '<a href="([^"]*)"[^>]*>([^<]*)</a>', 2)) AS first_anchor
            FROM m GROUP BY 1
        """,
        "web_random_walks": """
            WITH nodes AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
              FROM (SELECT DISTINCT doc_id FROM documents)),
            nn AS (SELECT count(*) AS n FROM nodes),
            s0 AS (
              SELECT node, CAST(w.range AS INT) AS walk, node AS cur,
                     CAST(node AS VARCHAR) AS path
              FROM nodes CROSS JOIN range(2) w),
            s1 AS (
              SELECT s.node, s.walk, CAST(('0x' || substring(md5(n.doc_id || ':' || CAST(CAST(('0x' || substring(md5(CAST(s.node AS VARCHAR) || ':' || CAST(s.walk AS VARCHAR) || ':s0'), 1, 8)) AS BIGINT) % (CAST(('0x' || substring(md5(n.doc_id || ':deg'), 1, 8)) AS BIGINT) % 3 + 2) AS VARCHAR)), 1, 8)) AS BIGINT) % (SELECT n FROM nn) AS cur,
                     s.path || '>' || CAST(CAST(('0x' || substring(md5(n.doc_id || ':' || CAST(CAST(('0x' || substring(md5(CAST(s.node AS VARCHAR) || ':' || CAST(s.walk AS VARCHAR) || ':s0'), 1, 8)) AS BIGINT) % (CAST(('0x' || substring(md5(n.doc_id || ':deg'), 1, 8)) AS BIGINT) % 3 + 2) AS VARCHAR)), 1, 8)) AS BIGINT) % (SELECT n FROM nn) AS VARCHAR) AS path
              FROM s0 s JOIN nodes n ON n.node = s.cur),
            s2 AS (
              SELECT s.node, s.walk, CAST(('0x' || substring(md5(n.doc_id || ':' || CAST(CAST(('0x' || substring(md5(CAST(s.node AS VARCHAR) || ':' || CAST(s.walk AS VARCHAR) || ':s1'), 1, 8)) AS BIGINT) % (CAST(('0x' || substring(md5(n.doc_id || ':deg'), 1, 8)) AS BIGINT) % 3 + 2) AS VARCHAR)), 1, 8)) AS BIGINT) % (SELECT n FROM nn) AS cur,
                     s.path || '>' || CAST(CAST(('0x' || substring(md5(n.doc_id || ':' || CAST(CAST(('0x' || substring(md5(CAST(s.node AS VARCHAR) || ':' || CAST(s.walk AS VARCHAR) || ':s1'), 1, 8)) AS BIGINT) % (CAST(('0x' || substring(md5(n.doc_id || ':deg'), 1, 8)) AS BIGINT) % 3 + 2) AS VARCHAR)), 1, 8)) AS BIGINT) % (SELECT n FROM nn) AS VARCHAR) AS path
              FROM s1 s JOIN nodes n ON n.node = s.cur),
            s3 AS (
              SELECT s.node, s.walk, CAST(('0x' || substring(md5(n.doc_id || ':' || CAST(CAST(('0x' || substring(md5(CAST(s.node AS VARCHAR) || ':' || CAST(s.walk AS VARCHAR) || ':s2'), 1, 8)) AS BIGINT) % (CAST(('0x' || substring(md5(n.doc_id || ':deg'), 1, 8)) AS BIGINT) % 3 + 2) AS VARCHAR)), 1, 8)) AS BIGINT) % (SELECT n FROM nn) AS cur,
                     s.path || '>' || CAST(CAST(('0x' || substring(md5(n.doc_id || ':' || CAST(CAST(('0x' || substring(md5(CAST(s.node AS VARCHAR) || ':' || CAST(s.walk AS VARCHAR) || ':s2'), 1, 8)) AS BIGINT) % (CAST(('0x' || substring(md5(n.doc_id || ':deg'), 1, 8)) AS BIGINT) % 3 + 2) AS VARCHAR)), 1, 8)) AS BIGINT) % (SELECT n FROM nn) AS VARCHAR) AS path
              FROM s2 s JOIN nodes n ON n.node = s.cur)
            SELECT node, walk, path FROM s3
        """,
        "web_domain_gini": """
            WITH hosts AS (
              SELECT doc_id,
                     'www.domain' || length(bin(CAST(('0x' ||
                        substring(md5(doc_id || ':host'), 1, 2)) AS BIGINT))) || '.com' AS host
              FROM documents),
            counts AS (SELECT host, COUNT(*) AS x FROM hosts GROUP BY 1),
            ranked AS (
              SELECT x, row_number() OVER (ORDER BY x ASC, host ASC) AS i
              FROM counts)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_domains,
                   CAST(SUM(x) AS BIGINT) AS total_docs,
                   CAST((2 * SUM(CAST(i AS HUGEINT) * x)
                         - (COUNT(*) + 1) * SUM(CAST(x AS HUGEINT))) * 1000000
                        // (COUNT(*) * SUM(CAST(x AS HUGEINT))) AS BIGINT) AS gini_e6
            FROM ranked
        """,
        "web_bfs_depth": r"""
            WITH nodes AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
              FROM (SELECT DISTINCT doc_id FROM documents)),
            nn AS (SELECT count(*) AS n FROM nodes),
            deg AS (
              SELECT doc_id, node,
                     CAST('0x' || substring(md5(doc_id || ':deg'), 1, 8) AS BIGINT) % 3 + 2 AS outdeg
              FROM nodes),
            edges AS (
              SELECT node AS src,
                     CAST('0x' || substring(md5(doc_id || ':' || CAST(unnest(range(outdeg)) AS VARCHAR)), 1, 8) AS BIGINT)
                       % (SELECT n FROM nn) AS dst
              FROM deg),
            d0 AS (SELECT node, CASE WHEN node % 97 = 0 THEN 0
                                     ELSE 1099511627776 END AS d FROM nodes),
            u1 AS (SELECT e.dst AS node, MIN(d.d) + 1 AS nd
                   FROM edges e JOIN d0 d ON d.node = e.src GROUP BY 1),
            d1 AS (SELECT d0.node, least(d0.d, coalesce(u1.nd, 1099511627776)) AS d
                   FROM d0 LEFT JOIN u1 USING (node)),
            u2 AS (SELECT e.dst AS node, MIN(d.d) + 1 AS nd
                   FROM edges e JOIN d1 d ON d.node = e.src GROUP BY 1),
            d2 AS (SELECT d1.node, least(d1.d, coalesce(u2.nd, 1099511627776)) AS d
                   FROM d1 LEFT JOIN u2 USING (node)),
            u3 AS (SELECT e.dst AS node, MIN(d.d) + 1 AS nd
                   FROM edges e JOIN d2 d ON d.node = e.src GROUP BY 1),
            d3 AS (SELECT d2.node, least(d2.d, coalesce(u3.nd, 1099511627776)) AS d
                   FROM d2 LEFT JOIN u3 USING (node)),
            u4 AS (SELECT e.dst AS node, MIN(d.d) + 1 AS nd
                   FROM edges e JOIN d3 d ON d.node = e.src GROUP BY 1),
            d4 AS (SELECT d3.node, least(d3.d, coalesce(u4.nd, 1099511627776)) AS d
                   FROM d3 LEFT JOIN u4 USING (node))
            SELECT n.doc_id,
                   CASE WHEN d.d < 1099511627776 THEN d.d END AS depth,
                   d.d < 1099511627776 AS reached
            FROM nodes n JOIN d4 d USING (node)
        """,
        "web_kcore": r"""
            WITH nodes AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
              FROM (SELECT DISTINCT doc_id FROM documents)),
            nn AS (SELECT count(*) AS n FROM nodes),
            deg AS (
              SELECT doc_id, node,
                     CAST('0x' || substring(md5(doc_id || ':deg'), 1, 8) AS BIGINT) % 3 + 2 AS outdeg
              FROM nodes),
            edges AS (
              SELECT node AS src,
                     CAST('0x' || substring(md5(doc_id || ':' || CAST(unnest(range(outdeg)) AS VARCHAR)), 1, 8) AS BIGINT)
                       % (SELECT n FROM nn) AS dst
              FROM deg),
            sym AS (
              SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM edges WHERE src <> dst
                UNION ALL
                SELECT dst AS src, src AS dst FROM edges WHERE src <> dst)),
            a1 AS (SELECT src FROM sym GROUP BY src HAVING COUNT(*) >= 3),
            g1 AS (SELECT s.src, s.dst FROM sym s
                   JOIN a1 x ON s.src = x.src JOIN a1 y ON s.dst = y.src),
            a2 AS (SELECT src FROM g1 GROUP BY src HAVING COUNT(*) >= 3),
            g2 AS (SELECT s.src, s.dst FROM g1 s
                   JOIN a2 x ON s.src = x.src JOIN a2 y ON s.dst = y.src),
            a3 AS (SELECT src FROM g2 GROUP BY src HAVING COUNT(*) >= 3),
            g3 AS (SELECT s.src, s.dst FROM g2 s
                   JOIN a3 x ON s.src = x.src JOIN a3 y ON s.dst = y.src),
            fin AS (SELECT src, COUNT(*) AS core_deg FROM g3 GROUP BY src)
            SELECT n.doc_id, CAST(fin.core_deg AS BIGINT) AS core_deg,
                   fin.core_deg IS NOT NULL AS in_core
            FROM nodes n LEFT JOIN fin ON fin.src = n.node
        """,
        "web_communities": r"""
            WITH nodes AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
              FROM (SELECT DISTINCT doc_id FROM documents)),
            nn AS (SELECT count(*) AS n FROM nodes),
            deg AS (
              SELECT doc_id, node,
                     CAST('0x' || substring(md5(doc_id || ':deg'), 1, 8) AS BIGINT) % 3 + 2 AS outdeg
              FROM nodes),
            edges AS (
              SELECT node AS src,
                     CAST('0x' || substring(md5(doc_id || ':' || CAST(unnest(range(outdeg)) AS VARCHAR)), 1, 8) AS BIGINT)
                       % (SELECT n FROM nn) AS dst
              FROM deg),
            sym AS (
              SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM edges WHERE src <> dst
                UNION ALL
                SELECT dst AS src, src AS dst FROM edges WHERE src <> dst)),
            l0 AS (SELECT node, node AS label FROM nodes),
            v1 AS (SELECT s.dst AS v, l.label, COUNT(*) AS c
                   FROM sym s JOIN l0 l ON l.node = s.src GROUP BY 1, 2),
            w1 AS (SELECT v, label FROM (
                     SELECT v, label, row_number() OVER (
                       PARTITION BY v ORDER BY c DESC, label ASC) AS rn
                     FROM v1) WHERE rn = 1),
            l1 AS (SELECT l.node, COALESCE(w.label, l.label) AS label
                   FROM l0 l LEFT JOIN w1 w ON w.v = l.node),
            v2 AS (SELECT s.dst AS v, l.label, COUNT(*) AS c
                   FROM sym s JOIN l1 l ON l.node = s.src GROUP BY 1, 2),
            w2 AS (SELECT v, label FROM (
                     SELECT v, label, row_number() OVER (
                       PARTITION BY v ORDER BY c DESC, label ASC) AS rn
                     FROM v2) WHERE rn = 1),
            l2 AS (SELECT l.node, COALESCE(w.label, l.label) AS label
                   FROM l1 l LEFT JOIN w2 w ON w.v = l.node),
            v3 AS (SELECT s.dst AS v, l.label, COUNT(*) AS c
                   FROM sym s JOIN l2 l ON l.node = s.src GROUP BY 1, 2),
            w3 AS (SELECT v, label FROM (
                     SELECT v, label, row_number() OVER (
                       PARTITION BY v ORDER BY c DESC, label ASC) AS rn
                     FROM v3) WHERE rn = 1),
            l3 AS (SELECT l.node, COALESCE(w.label, l.label) AS label
                   FROM l2 l LEFT JOIN w3 w ON w.v = l.node),
            sizes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size
                      FROM l3 GROUP BY label)
            SELECT n.doc_id, CAST(l.label AS BIGINT) AS community,
                   s.community_size
            FROM nodes n JOIN l3 l USING (node) JOIN sizes s USING (label)
        """,
        "web_reciprocal": r"""
            WITH nodes AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
              FROM (SELECT DISTINCT doc_id FROM documents)),
            nn AS (SELECT count(*) AS n FROM nodes),
            deg AS (
              SELECT doc_id, node,
                     CAST('0x' || substring(md5(doc_id || ':deg'), 1, 8) AS BIGINT) % 3 + 2 AS outdeg
              FROM nodes),
            edges AS (
              SELECT node AS src,
                     CAST('0x' || substring(md5(doc_id || ':' || CAST(unnest(range(outdeg)) AS VARCHAR)), 1, 8) AS BIGINT)
                       % (SELECT n FROM nn) AS dst
              FROM deg),
            simple AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
            m AS (SELECT e.src, COUNT(*) AS n_mutual
                  FROM simple e JOIN simple r ON r.src = e.dst AND r.dst = e.src
                  GROUP BY e.src),
            o AS (SELECT src, COUNT(*) AS n_out FROM simple GROUP BY src)
            SELECT n.doc_id,
                   CAST(COALESCE(o.n_out, 0) AS BIGINT) AS n_out,
                   CAST(COALESCE(m.n_mutual, 0) AS BIGINT) AS n_mutual,
                   CASE WHEN o.n_out > 0
                        THEN CAST(COALESCE(m.n_mutual, 0) * 1000000 // o.n_out AS BIGINT)
                   END AS mutual_e6
            FROM nodes n
            LEFT JOIN o ON o.src = n.node
            LEFT JOIN m ON m.src = n.node
        """,
        "web_frontier": """
            WITH base AS (
              SELECT doc_id,
                     'www.domain' || length(bin(CAST(('0x' ||
                        substring(md5(doc_id || ':host'), 1, 2)) AS BIGINT))) || '.com' AS host,
                     CAST(('0x' || substring(md5(doc_id || ':prio'), 1, 15)) AS BIGINT) AS prio
              FROM documents)
            SELECT doc_id, host, prio,
                   CAST(row_number() OVER (PARTITION BY host
                                           ORDER BY prio DESC, doc_id) - 1 AS BIGINT) AS wave,
                   (row_number() OVER (PARTITION BY host
                                       ORDER BY prio DESC, doc_id) - 1 < 3) AS scheduled
            FROM base
        """,
        "web_triangles": r"""
            WITH nodes AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
              FROM (SELECT DISTINCT doc_id FROM documents)),
            nn AS (SELECT count(*) AS n FROM nodes),
            degsrc AS (
              SELECT doc_id, node,
                     CAST('0x' || substring(md5(doc_id || ':deg'), 1, 8) AS BIGINT) % 3 + 2 AS outdeg
              FROM nodes),
            edges AS (
              SELECT node AS src,
                     CAST('0x' || substring(md5(doc_id || ':' || CAST(unnest(range(outdeg)) AS VARCHAR)), 1, 8) AS BIGINT)
                       % (SELECT n FROM nn) AS dst
              FROM degsrc),
            und AS (
              SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
              FROM edges WHERE src <> dst),
            degr AS (
              SELECT node, COUNT(*) AS d FROM (
                SELECT u AS node FROM und UNION ALL SELECT v FROM und)
              GROUP BY node),
            orient AS (
              SELECT CASE WHEN x.d < y.d OR (x.d = y.d AND e.u < e.v)
                          THEN e.u ELSE e.v END AS a,
                     CASE WHEN x.d < y.d OR (x.d = y.d AND e.u < e.v)
                          THEN e.v ELSE e.u END AS b
              FROM und e JOIN degr x ON x.node = e.u JOIN degr y ON y.node = e.v),
            tri AS (
              SELECT e1.a AS wa, e1.b AS wb, e2.b AS wc
              FROM orient e1
              JOIN orient e2 ON e2.a = e1.b
              JOIN orient e3 ON e3.a = e1.a AND e3.b = e2.b),
            corners AS (
              SELECT wa AS node FROM tri
              UNION ALL SELECT wb FROM tri
              UNION ALL SELECT wc FROM tri),
            cnt AS (SELECT node, COUNT(*) AS n_tri FROM corners GROUP BY node)
            SELECT n.doc_id, CAST(coalesce(c.n_tri, 0) AS BIGINT) AS n_tri
            FROM nodes n LEFT JOIN cnt c ON c.node = n.node
        """,
        "web_pagerank": r"""
            WITH nodes AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
              FROM (SELECT DISTINCT doc_id FROM documents)),
            nn AS (SELECT count(*) AS n FROM nodes),
            deg AS (
              SELECT doc_id, node,
                     CAST('0x' || substring(md5(doc_id || ':deg'), 1, 8) AS BIGINT) % 3 + 2 AS outdeg
              FROM nodes),
            edges AS (
              SELECT node AS src, outdeg,
                     CAST('0x' || substring(md5(doc_id || ':' || CAST(unnest(range(outdeg)) AS VARCHAR)), 1, 8) AS BIGINT)
                       % (SELECT n FROM nn) AS dst
              FROM deg),
            r0 AS (SELECT node, CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS rank FROM nodes),
            i1 AS (SELECT e.dst, SUM(r.rank // e.outdeg) AS inflow
                   FROM edges e JOIN r0 r ON r.node = e.src GROUP BY e.dst),
            r1 AS (SELECT n.node,
                          CAST(1000000000000 * 15 // 100 // (SELECT n FROM nn)
                               + (coalesce(i.inflow, 0) * 85) // 100 AS BIGINT) AS rank
                   FROM nodes n LEFT JOIN i1 i ON i.dst = n.node),
            i2 AS (SELECT e.dst, SUM(r.rank // e.outdeg) AS inflow
                   FROM edges e JOIN r1 r ON r.node = e.src GROUP BY e.dst),
            r2 AS (SELECT n.node,
                          CAST(1000000000000 * 15 // 100 // (SELECT n FROM nn)
                               + (coalesce(i.inflow, 0) * 85) // 100 AS BIGINT) AS rank
                   FROM nodes n LEFT JOIN i2 i ON i.dst = n.node),
            i3 AS (SELECT e.dst, SUM(r.rank // e.outdeg) AS inflow
                   FROM edges e JOIN r2 r ON r.node = e.src GROUP BY e.dst),
            r3 AS (SELECT n.node,
                          CAST(1000000000000 * 15 // 100 // (SELECT n FROM nn)
                               + (coalesce(i.inflow, 0) * 85) // 100 AS BIGINT) AS rank
                   FROM nodes n LEFT JOIN i3 i ON i.dst = n.node)
            SELECT n.doc_id, r3.rank AS rank_micro
            FROM nodes n JOIN r3 ON r3.node = n.node
        """,
        "url_canonical": r"""
            WITH u AS (SELECT doc_id, md5(doc_id || ':url') AS h FROM documents)
            SELECT doc_id,
                   'HTTP://' ||
                   CASE WHEN CAST('0x' || substring(h, 1, 2) AS BIGINT) % 2 = 0
                        THEN 'WWW.Example-Site.COM' ELSE 'www.example-site.com' END ||
                   ':80/articles/' || substring(h, 3, 6) ||
                   '?utm_source=feed&id=' || substring(h, 9, 4) ||
                   '&utm_campaign=x&ref=home#section-' || substring(h, 13, 2) AS url,
                   -- ground-truth canonical form, built independently of the
                   -- normalizer: http, lower host, no :80, kept params sorted
                   'http://www.example-site.com/articles/' || substring(h, 3, 6) ||
                   '?id=' || substring(h, 9, 4) AS canonical_url
            FROM u
        """,
        "text_vocab_coverage": f"""
            WITH counts AS (
              SELECT tok, COUNT(*) AS c
              FROM (SELECT unnest({_TOK}) AS tok FROM documents)
              WHERE length(tok) > 0 GROUP BY 1),
            ranked AS (
              SELECT c,
                     row_number() OVER (ORDER BY c DESC, tok ASC) AS rnk,
                     SUM(c) OVER (ORDER BY c DESC, tok ASC ROWS BETWEEN
                         UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     SUM(c) OVER () AS total,
                     COUNT(*) OVER () AS n_types
              FROM counts)
            SELECT CAST(10 AS BIGINT) AS vocab_k,
                   CAST(cum AS BIGINT) AS covered, CAST(total AS BIGINT) AS total,
                   CAST(CAST(cum AS HUGEINT) * 10000 // total AS BIGINT) AS coverage_bp
            FROM ranked WHERE rnk = least(10, n_types)
            UNION ALL
            SELECT CAST(100 AS BIGINT) AS vocab_k,
                   CAST(cum AS BIGINT) AS covered, CAST(total AS BIGINT) AS total,
                   CAST(CAST(cum AS HUGEINT) * 10000 // total AS BIGINT) AS coverage_bp
            FROM ranked WHERE rnk = least(100, n_types)
            UNION ALL
            SELECT CAST(1000 AS BIGINT) AS vocab_k,
                   CAST(cum AS BIGINT) AS covered, CAST(total AS BIGINT) AS total,
                   CAST(CAST(cum AS HUGEINT) * 10000 // total AS BIGINT) AS coverage_bp
            FROM ranked WHERE rnk = least(1000, n_types)
            UNION ALL
            SELECT CAST(10000 AS BIGINT) AS vocab_k,
                   CAST(cum AS BIGINT) AS covered, CAST(total AS BIGINT) AS total,
                   CAST(CAST(cum AS HUGEINT) * 10000 // total AS BIGINT) AS coverage_bp
            FROM ranked WHERE rnk = least(10000, n_types)
        """,
        "q37_abc_parts": """
            WITH per AS (
              SELECT l_partkey,
                     CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
                              * (100 - CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS INT))) AS BIGINT) AS rev_cc
              FROM lineitem GROUP BY 1),
            ranked AS (
              SELECT l_partkey, rev_cc,
                     row_number() OVER (ORDER BY rev_cc DESC, l_partkey ASC) AS rnk,
                     SUM(rev_cc) OVER (ORDER BY rev_cc DESC, l_partkey ASC
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS cum,
                     SUM(rev_cc) OVER () AS total
              FROM per)
            SELECT l_partkey, rev_cc, CAST(rnk AS BIGINT) AS rnk,
                   CAST(CAST(cum AS HUGEINT) * 10000 // total AS BIGINT) AS cum_share_bp,
                   CASE WHEN CAST(CAST(cum AS HUGEINT) * 10000 // total AS BIGINT) <= 8000 THEN 'A'
                        WHEN CAST(CAST(cum AS HUGEINT) * 10000 // total AS BIGINT) <= 9500 THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM ranked
        """,
        "storage_clustering_depth": """
            WITH inv AS (
              SELECT source,
                     CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':file'), 1, 8)) AS BIGINT) % 40 AS file_id,
                     SUM(n_chars) AS file_bytes
              FROM documents GROUP BY 1, 2),
            ranges AS (
              SELECT source, file_id, layout,
                     CASE WHEN layout = 'clustered' THEN file_id * 2500
                          ELSE CAST(('0x' || substring(md5(source || ':' || CAST(file_id AS VARCHAR) || ':kr'), 1, 8)) AS BIGINT) % (100000 - 2500)
                     END AS kmin
              FROM inv CROSS JOIN (SELECT UNNEST(['clustered', 'scattered']) AS layout)),
            r2 AS (SELECT *, kmin + 2500 - 1 AS kmax FROM ranges),
            spans AS (
              SELECT source, file_id, layout, kmin, kmax,
                     UNNEST(range(kmin // 12500, kmax // 12500 + 1)) AS bk
              FROM r2),
            pairs AS (
              SELECT DISTINCT a.source, a.layout, a.file_id, b.file_id AS b_file
              FROM spans a
              JOIN spans b ON a.source = b.source AND a.layout = b.layout
                          AND a.bk = b.bk
              WHERE a.kmin <= b.kmax AND b.kmin <= a.kmax),
            depth AS (
              SELECT source, layout, file_id, COUNT(*) AS depth
              FROM pairs GROUP BY 1, 2, 3)
            SELECT source, layout, COUNT(*) AS n_files,
                   CAST(CAST(SUM(depth) AS HUGEINT) * 1000000 // COUNT(*) AS BIGINT) AS avg_depth_e6,
                   CAST(MAX(depth) AS BIGINT) AS max_depth
            FROM depth GROUP BY 1, 2
        """,
        "text_burstiness": f"""
            WITH dd AS (SELECT COUNT(*) AS d FROM documents),
            tok AS (
              SELECT doc_id, unnest({_TOK}) AS tok FROM documents),
            per_doc AS (
              SELECT tok, doc_id, COUNT(*) AS c
              FROM tok WHERE length(tok) > 0 GROUP BY 1, 2),
            per_tok AS (
              SELECT tok, COUNT(DISTINCT doc_id) AS n_docs,
                     SUM(c) AS total,
                     SUM(CAST(c AS HUGEINT) * c) AS sumsq
              FROM per_doc GROUP BY 1),
            ranked AS (
              SELECT *, row_number() OVER (ORDER BY total DESC, tok ASC) AS rnk
              FROM per_tok WHERE n_docs >= 5)
            SELECT tok, n_docs, CAST(total AS BIGINT) AS total,
                   CAST(CAST(total AS HUGEINT) * 1000000 // (SELECT d FROM dd) AS BIGINT) AS mean_e6,
                   CAST((CAST((SELECT d FROM dd) AS HUGEINT) * sumsq
                         - CAST(total AS HUGEINT) * total) * 1000000
                        // (CAST(total AS HUGEINT) * (SELECT d FROM dd)) AS BIGINT) AS vmr_e6,
                   CAST(rnk AS BIGINT) AS rnk
            FROM ranked WHERE rnk <= 100
        """,
        "ann_whitened_topk": """
            WITH fxt AS (
              SELECT vec_id,
                     list_transform(CAST(embedding AS DOUBLE[]),
                       x -> CAST(floor(x * 1000000) AS BIGINT)) AS fx
              FROM embeddings),
            v0 AS (
              SELECT CAST(d.range AS BIGINT) AS dim,
                     CAST(md5_number_upper('pca:0:' || CAST(d.range AS VARCHAR)) >> 44 AS BIGINT) - 524288 AS v
              FROM range(64) d),
            q AS (
              SELECT vec_id,
                     UNNEST(list_transform(fx, (x, i) -> struct_pack(dim := i - 1, q := x))) AS e
              FROM fxt),
            dot1 AS (
              SELECT q.vec_id, SUM(q.e.q * v.v) AS dot
              FROM q JOIN v0 v ON v.dim = q.e.dim GROUP BY 1),
            y1 AS (
              SELECT q.e.dim AS dim, SUM(CAST(q.e.q AS HUGEINT) * d1.dot) AS y
              FROM q JOIN dot1 d1 ON d1.vec_id = q.vec_id GROUP BY 1),
            m1 AS (SELECT greatest(MAX(abs(y)), 1) AS ymax FROM y1),
            v1 AS (
              SELECT dim, CAST((y * 524288) // (SELECT ymax FROM m1) AS BIGINT) AS v
              FROM y1),
            dot2 AS (
              SELECT q.vec_id, SUM(q.e.q * v.v) AS dot
              FROM q JOIN v1 v ON v.dim = q.e.dim GROUP BY 1),
            y2 AS (
              SELECT q.e.dim AS dim, SUM(CAST(q.e.q AS HUGEINT) * d2.dot) AS y
              FROM q JOIN dot2 d2 ON d2.vec_id = q.vec_id GROUP BY 1),
            m2 AS (SELECT greatest(MAX(abs(y)), 1) AS ymax FROM y2),
            v2 AS (
              SELECT dim, CAST((y * 524288) // (SELECT ymax FROM m2) AS BIGINT) AS v
              FROM y2),
            vs AS (
              SELECT dim,
                     CAST((abs(v) // 1024) * (CASE WHEN v >= 0 THEN 1 ELSE -1 END) AS BIGINT) AS v
              FROM v2),
            vv AS (SELECT SUM(v * v) AS vv FROM vs),
            xv AS (
              SELECT q.vec_id, SUM(q.e.q * s.v) AS xv
              FROM q JOIN vs s ON s.dim = q.e.dim GROUP BY 1),
            corr AS (
              SELECT q.vec_id, q.e.dim AS dim,
                     CAST(q.e.q * (SELECT vv FROM vv) - s.v * x.xv AS DOUBLE) AS c
              FROM q
              JOIN vs s ON s.dim = q.e.dim
              JOIN xv x ON x.vec_id = q.vec_id),
            pairs AS (
              SELECT a.vec_id AS q_id, b.vec_id AS c_id,
                     SUM(a.c * b.c) AS dot,
                     sqrt(SUM(a.c * a.c)) AS na, sqrt(SUM(b.c * b.c)) AS nb
              FROM corr a JOIN corr b ON a.dim = b.dim
              WHERE a.vec_id < 5 AND b.vec_id >= 5
              GROUP BY 1, 2),
            scored AS (
              SELECT q_id, c_id, round(dot / (na * nb), 6) AS sim FROM pairs),
            ranked AS (
              SELECT q_id, c_id, sim,
                     CAST(row_number() OVER (PARTITION BY q_id
                                             ORDER BY sim DESC, c_id ASC) AS INT) AS rank
              FROM scored)
            SELECT q_id, c_id, sim, rank FROM ranked WHERE rank <= 10
        """,
        "events_forecast_backtest": """
            WITH daily AS (
              SELECT event_type,
                     CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                     COUNT(*) AS n
              FROM events GROUP BY 1, 2),
            lagged AS (
              SELECT d.event_type, d.day, d.n, s.n AS f_season, o.n AS f_naive
              FROM daily d
              JOIN daily s ON s.event_type = d.event_type AND s.day = d.day - 7
              JOIN daily o ON o.event_type = d.event_type AND o.day = d.day - 1)
            SELECT event_type, COUNT(*) AS n_days,
                   CAST(CAST(SUM(abs(n - f_season)) AS HUGEINT) * 1000000
                        // COUNT(*) AS BIGINT) AS mae_seasonal_e6,
                   CAST(CAST(SUM(abs(n - f_naive)) AS HUGEINT) * 1000000
                        // COUNT(*) AS BIGINT) AS mae_naive_e6,
                   CAST(CAST(SUM(abs(n - f_season)) AS HUGEINT) * 1000000
                        // COUNT(*) AS BIGINT)
                   < CAST(CAST(SUM(abs(n - f_naive)) AS HUGEINT) * 1000000
                          // COUNT(*) AS BIGINT) AS seasonal_wins
            FROM lagged GROUP BY 1
        """,
        "web_host_graph": r"""
            WITH nodes AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
              FROM (SELECT DISTINCT doc_id FROM documents)),
            nn AS (SELECT count(*) AS n FROM nodes),
            hosts AS (
              SELECT node,
                     'www.domain' || length(bin(CAST('0x' || substring(md5(doc_id || ':host'), 1, 2) AS BIGINT))) || '.com' AS host
              FROM nodes),
            deg AS (
              SELECT doc_id, node,
                     CAST('0x' || substring(md5(doc_id || ':deg'), 1, 8) AS BIGINT) % 3 + 2 AS outdeg
              FROM nodes),
            edges AS (
              SELECT node AS src,
                     CAST('0x' || substring(md5(doc_id || ':' || CAST(unnest(range(outdeg)) AS VARCHAR)), 1, 8) AS BIGINT)
                       % (SELECT n FROM nn) AS dst
              FROM deg),
            e AS (
              SELECT hs.host AS src_host, hd.host AS dst_host, edges.src
              FROM edges
              JOIN hosts hs ON hs.node = edges.src
              JOIN hosts hd ON hd.node = edges.dst)
            SELECT src_host, dst_host, COUNT(*) AS n_links,
                   COUNT(DISTINCT src) AS n_src_pages,
                   src_host = dst_host AS intra_host
            FROM e GROUP BY 1, 2
        """,
        "embed_top_component": """
            WITH fxt AS (
              SELECT vec_id,
                     list_transform(CAST(embedding AS DOUBLE[]),
                       x -> CAST(floor(x * 1000000) AS BIGINT)) AS fx
              FROM embeddings),
            v0 AS (
              SELECT CAST(d.range AS BIGINT) AS dim,
                     CAST(md5_number_upper('pca:0:' || CAST(d.range AS VARCHAR)) >> 44 AS BIGINT) - 524288 AS v
              FROM range(64) d),
            q AS (
              SELECT vec_id,
                     UNNEST(list_transform(fx, (x, i) -> struct_pack(dim := i - 1, q := x))) AS e
              FROM fxt),
            dot1 AS (
              SELECT q.vec_id, SUM(q.e.q * v.v) AS dot
              FROM q JOIN v0 v ON v.dim = q.e.dim GROUP BY 1),
            y1 AS (
              SELECT q.e.dim AS dim, SUM(CAST(q.e.q AS HUGEINT) * d1.dot) AS y
              FROM q JOIN dot1 d1 ON d1.vec_id = q.vec_id GROUP BY 1),
            m1 AS (SELECT greatest(MAX(abs(y)), 1) AS ymax FROM y1),
            v1 AS (
              SELECT dim, CAST((y * 524288) // (SELECT ymax FROM m1) AS BIGINT) AS v
              FROM y1),
            dot2 AS (
              SELECT q.vec_id, SUM(q.e.q * v.v) AS dot
              FROM q JOIN v1 v ON v.dim = q.e.dim GROUP BY 1),
            y2 AS (
              SELECT q.e.dim AS dim, SUM(CAST(q.e.q AS HUGEINT) * d2.dot) AS y
              FROM q JOIN dot2 d2 ON d2.vec_id = q.vec_id GROUP BY 1),
            m2 AS (SELECT greatest(MAX(abs(y)), 1) AS ymax FROM y2),
            v2 AS (
              SELECT dim, CAST((y * 524288) // (SELECT ymax FROM m2) AS BIGINT) AS v
              FROM y2)
            SELECT dim, v AS loading FROM v2
        """,
        "events_changepoint": """
            WITH base AS (
              SELECT event_type,
                     CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
              FROM events
              WHERE NOT (event_type = 'click'
                         AND CAST(floor(epoch(ts)) AS BIGINT) // 86400 >= 19738
                         AND CAST('0x' || substring(md5(CAST(event_id AS VARCHAR) || ':thin'), 1, 8) AS BIGINT) % 10 < 6)),
            daily AS (
              SELECT event_type, day, COUNT(*) AS n FROM base GROUP BY 1, 2),
            cum AS (
              SELECT event_type, day, n,
                     row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
                     SUM(n) OVER (PARTITION BY event_type ORDER BY day
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     COUNT(*) OVER (PARTITION BY event_type) AS m,
                     SUM(n) OVER (PARTITION BY event_type) AS tot
              FROM daily),
            scored AS (
              SELECT event_type, day AS split_day,
                     CAST(CAST(cum AS HUGEINT) * 1000000 // i AS BIGINT) AS mean_before_e6,
                     CAST(CAST(tot - cum AS HUGEINT) * 1000000 // (m - i) AS BIGINT) AS mean_after_e6,
                     CAST(abs(CAST(cum AS HUGEINT) * (m - i)
                              - CAST(tot - cum AS HUGEINT) * i) * 1000000
                          // (CAST(i AS HUGEINT) * (m - i)) AS BIGINT) AS delta_e6
              FROM cum WHERE i >= 1 AND i < m),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY event_type
                                           ORDER BY delta_e6 DESC, split_day ASC) AS rn
              FROM scored)
            SELECT event_type, split_day, mean_before_e6, mean_after_e6,
                   delta_e6, delta_e6 >= 300000 AS shifted
            FROM ranked WHERE rn = 1
        """,
        "sample_bootstrap": """
            WITH reps AS (
              SELECT doc_id, n_chars AS v, CAST(r.range AS BIGINT) AS rep,
                     CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(r.range AS VARCHAR) || ':boot'), 1, 15)) AS BIGINT) % 1000000 AS u
              FROM documents CROSS JOIN range(20) r),
            w AS (
              SELECT rep, v,
                     CASE WHEN u < 367879 THEN 0
                          WHEN u < 735759 THEN 1
                          WHEN u < 919699 THEN 2
                          WHEN u < 981012 THEN 3
                          WHEN u < 996340 THEN 4
                          WHEN u < 999406 THEN 5
                          ELSE 6 END AS wgt
              FROM reps)
            SELECT rep, CAST(SUM(wgt) AS BIGINT) AS n_eff,
                   CAST(SUM(wgt * v) AS BIGINT) AS wsum,
                   CAST(CAST(SUM(wgt * v) AS HUGEINT) * 1000000
                        // greatest(SUM(wgt), 1) AS BIGINT) AS mean_e6
            FROM w GROUP BY rep
        """,
        "web_redirects": r"""
            WITH RECURSIVE nodes AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
              FROM (SELECT DISTINCT doc_id FROM documents)),
            nn AS (SELECT count(*) AS n FROM nodes),
            r AS (
              SELECT doc_id, node,
                     CAST('0x' || substring(md5(doc_id || ':redir'), 1, 8) AS BIGINT) % 5 = 0 AS is_redir,
                     CASE WHEN CAST('0x' || substring(md5(doc_id || ':redir'), 1, 8) AS BIGINT) % 5 = 0
                          THEN CAST('0x' || substring(md5(doc_id || ':rtarget'), 1, 8) AS BIGINT) % (SELECT n FROM nn)
                          ELSE node END AS target
              FROM nodes),
            walk AS (
              SELECT node AS start, node AS cur, 0 AS hops FROM r
              UNION ALL
              SELECT w.start, rr.target, w.hops + 1
              FROM walk w JOIN r rr ON rr.node = w.cur
              WHERE rr.is_redir AND w.hops < 16),
            fin AS (
              SELECT start, cur, hops,
                     row_number() OVER (PARTITION BY start ORDER BY hops DESC) AS rn
              FROM walk)
            SELECT sn.doc_id,
                   CASE WHEN NOT rc.is_redir THEN cn.doc_id END AS final_doc_id,
                   CASE WHEN NOT rc.is_redir THEN CAST(f.hops AS BIGINT) END AS hops,
                   NOT rc.is_redir AS resolved
            FROM fin f
            JOIN r rc ON rc.node = f.cur
            JOIN r sn ON sn.node = f.start
            JOIN r cn ON cn.node = f.cur
            WHERE f.rn = 1
        """,
        "multimodal_shot_bounds": _MEDIA_CTE + """
            , e AS (
              SELECT media_id, i // 64 AS window_idx,
                     CAST(floor(sqrt(CAST(SUM(v*v) AS DOUBLE)/64)*1000000) AS BIGINT) AS rms_e6
              FROM bytes GROUP BY media_id, i // 64),
            d AS (
              SELECT media_id, window_idx, rms_e6,
                     lag(rms_e6) OVER (PARTITION BY media_id ORDER BY window_idx) AS prev_rms
              FROM e),
            f AS (
              SELECT media_id, window_idx, rms_e6,
                     CASE WHEN prev_rms IS NULL THEN 0
                          ELSE CAST(abs(rms_e6 - prev_rms) * 10000 // greatest(prev_rms, 1) AS BIGINT)
                     END AS delta_bp
              FROM d)
            SELECT media_id, window_idx, rms_e6, delta_bp,
                   delta_bp >= 3000 AS boundary,
                   SUM(CASE WHEN delta_bp >= 3000 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY media_id ORDER BY window_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot_id
            FROM f
        """,
        "dedup_onion_funnel": f"""
            WITH d AS (
              SELECT *, CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':onion'), 1, 15)) AS BIGINT) % 4 AS draw
              FROM documents),
            u AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000000,
                     CASE WHEN draw = 0 THEN text
                          WHEN draw = 1 THEN upper(text)
                          ELSE replace(text, ' ', '   ') END
              FROM d WHERE draw < 3),
            fp1 AS (SELECT doc_id, md5(array_to_string({_TOK}, ' ')) AS fp FROM u),
            k1 AS (SELECT fp, MIN(doc_id) AS keep FROM fp1 GROUP BY 1),
            r1 AS (SELECT f.doc_id FROM fp1 f JOIN k1 USING (fp) WHERE f.doc_id != keep),
            s1 AS (SELECT * FROM u WHERE doc_id NOT IN (SELECT doc_id FROM r1)),
            fp2 AS (SELECT doc_id, md5(trim(regexp_replace(
                       regexp_replace(
                         translate(regexp_replace(lower(text), '[0-9]', '0', 'g'),
                                   'áàâäéèêëíìîïóòôöúùûüçñ',
                                   'aaaaeeeeiiiioooouuuucn'),
                         '[^\\w\\s]', ' ', 'g'),
                       '\\s+', ' ', 'g'))) AS fp FROM s1),
            k2 AS (SELECT fp, MIN(doc_id) AS keep FROM fp2 GROUP BY 1),
            r2 AS (SELECT f.doc_id FROM fp2 f JOIN k2 USING (fp) WHERE f.doc_id != keep),
            s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM r2)),
            tl AS (SELECT doc_id, {_TOK} AS t FROM s2),
            toks AS (
              SELECT DISTINCT doc_id,
                     CAST(unnest(list_transform(range(1, greatest(len(t) - 3 + 1, 0) + 1),
                            i -> CAST(('0x' || substring(md5(array_to_string(
                                   list_slice(t, CAST(i AS INT), CAST(i + 2 AS INT)), ' ')),
                                 1, 15)) AS BIGINT))) AS VARCHAR) AS token
              FROM tl),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
            sigs AS (
              SELECT doc_id,
                     MIN(md5('0:' || token)) AS sig_0, MIN(md5('1:' || token)) AS sig_1,
                     MIN(md5('2:' || token)) AS sig_2, MIN(md5('3:' || token)) AS sig_3
              FROM toks GROUP BY doc_id),
            cands AS (
              SELECT DISTINCT a, b FROM (
                SELECT x.doc_id a, y.doc_id b FROM sigs x JOIN sigs y ON x.sig_0 = y.sig_0 AND x.doc_id < y.doc_id
                UNION ALL
                SELECT x.doc_id a, y.doc_id b FROM sigs x JOIN sigs y ON x.sig_1 = y.sig_1 AND x.doc_id < y.doc_id
                UNION ALL
                SELECT x.doc_id a, y.doc_id b FROM sigs x JOIN sigs y ON x.sig_2 = y.sig_2 AND x.doc_id < y.doc_id
                UNION ALL
                SELECT x.doc_id a, y.doc_id b FROM sigs x JOIN sigs y ON x.sig_3 = y.sig_3 AND x.doc_id < y.doc_id)),
            inter AS (
              SELECT c.a, c.b, COUNT(*) AS i
              FROM cands c
              JOIN toks ta ON ta.doc_id = c.a
              JOIN toks tb ON tb.doc_id = c.b AND tb.token = ta.token
              GROUP BY 1, 2),
            r3 AS (
              SELECT DISTINCT i.b AS doc_id
              FROM inter i JOIN sizes sa ON sa.doc_id = i.a
              JOIN sizes sb ON sb.doc_id = i.b
              WHERE round(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) >= 0.5),
            counts AS (
              SELECT 1 AS stage, (SELECT COUNT(*) FROM r1) AS n
              UNION ALL SELECT 2, (SELECT COUNT(*) FROM r2)
              UNION ALL SELECT 3, (SELECT COUNT(*) FROM r3)),
            names AS (
              SELECT 1 AS stage, 'exact' AS rule
              UNION ALL SELECT 2, 'normalized'
              UNION ALL SELECT 3, 'near_dup'),
            tot AS (SELECT COUNT(*) AS total FROM u)
            SELECT CAST(n.stage AS BIGINT) AS stage, n.rule,
                   CAST(c.n AS BIGINT) AS n_rejected,
                   CAST((SELECT total FROM tot)
                        - SUM(c.n) OVER (ORDER BY n.stage ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS BIGINT) AS n_surviving,
                   CAST(c.n * 10000 // greatest((SELECT total FROM tot), 1) AS BIGINT) AS rejected_share_bp
            FROM names n JOIN counts c ON c.stage = n.stage
            ORDER BY n.stage
        """,
        "embed_dim_stats": """
            WITH fxt AS (
              SELECT list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS fx
              FROM embeddings),
            d AS (
              SELECT UNNEST(list_transform(fx, (x, i) -> struct_pack(dim := i - 1, q := x))) AS e
              FROM fxt),
            per AS (
              SELECT e.dim AS dim, COUNT(*) AS n, SUM(e.q) AS s,
                     SUM(CAST(e.q AS HUGEINT) * e.q) AS s2
              FROM d GROUP BY 1),
            stats AS (
              SELECT dim, n,
                     CAST((abs(s) // n) * (CASE WHEN s >= 0 THEN 1 ELSE -1 END) AS BIGINT) AS mean_e6,
                     CAST(s2 // n - CAST((abs(s) // n) AS HUGEINT) * (abs(s) // n) AS BIGINT) AS var_e12
              FROM per),
            ranked AS (
              SELECT *, SUM(var_e12) OVER () AS total_var,
                     row_number() OVER (ORDER BY var_e12 DESC, dim ASC) AS var_rank
              FROM stats)
            SELECT dim, n, mean_e6, var_e12,
                   CAST(CAST(var_e12 AS HUGEINT) * 10000 // greatest(total_var, 1) AS BIGINT) AS var_share_bp,
                   CAST(var_rank AS BIGINT) AS var_rank
            FROM ranked WHERE var_rank <= 10
        """,
        "web_trustrank": r"""
            WITH nodes AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS node
              FROM (SELECT DISTINCT doc_id FROM documents)),
            nn AS (SELECT count(*) AS n FROM nodes),
            deg AS (
              SELECT doc_id, node,
                     CAST('0x' || substring(md5(doc_id || ':deg'), 1, 8) AS BIGINT) % 3 + 2 AS outdeg
              FROM nodes),
            edges AS (
              SELECT node AS src, outdeg,
                     CAST('0x' || substring(md5(doc_id || ':' || CAST(unnest(range(outdeg)) AS VARCHAR)), 1, 8) AS BIGINT)
                       % (SELECT n FROM nn) AS dst
              FROM deg),
            seeds AS (
              SELECT node,
                     CAST('0x' || substring(md5(doc_id || ':trust'), 1, 8) AS BIGINT) % 10 = 0 AS is_seed
              FROM nodes),
            ns AS (SELECT count(*) AS c FROM seeds WHERE is_seed),
            r0 AS (SELECT s.node,
                          CAST(CASE WHEN s.is_seed
                               THEN 1000000000000 // (SELECT c FROM ns)
                               ELSE 0 END AS BIGINT) AS rank
                   FROM seeds s),
            i1 AS (SELECT e.dst, SUM(r.rank // e.outdeg) AS inflow
                   FROM edges e JOIN r0 r ON r.node = e.src GROUP BY e.dst),
            r1 AS (SELECT n.node,
                          CAST((CASE WHEN s.is_seed THEN 1000000000000 * 15 // 100 // (SELECT c FROM ns) ELSE 0 END)
                               + (coalesce(i.inflow, 0) * 85) // 100 AS BIGINT) AS rank
                   FROM nodes n
                   JOIN seeds s ON s.node = n.node
                   LEFT JOIN i1 i ON i.dst = n.node),
            i2 AS (SELECT e.dst, SUM(r.rank // e.outdeg) AS inflow
                   FROM edges e JOIN r1 r ON r.node = e.src GROUP BY e.dst),
            r2 AS (SELECT n.node,
                          CAST((CASE WHEN s.is_seed THEN 1000000000000 * 15 // 100 // (SELECT c FROM ns) ELSE 0 END)
                               + (coalesce(i.inflow, 0) * 85) // 100 AS BIGINT) AS rank
                   FROM nodes n
                   JOIN seeds s ON s.node = n.node
                   LEFT JOIN i2 i ON i.dst = n.node),
            i3 AS (SELECT e.dst, SUM(r.rank // e.outdeg) AS inflow
                   FROM edges e JOIN r2 r ON r.node = e.src GROUP BY e.dst),
            r3 AS (SELECT n.node,
                          CAST((CASE WHEN s.is_seed THEN 1000000000000 * 15 // 100 // (SELECT c FROM ns) ELSE 0 END)
                               + (coalesce(i.inflow, 0) * 85) // 100 AS BIGINT) AS rank
                   FROM nodes n
                   JOIN seeds s ON s.node = n.node
                   LEFT JOIN i3 i ON i.dst = n.node)
            SELECT n.doc_id, r3.rank AS trust_micro, s.is_seed
            FROM nodes n
            JOIN r3 ON r3.node = n.node
            JOIN seeds s ON s.node = n.node
        """,
        "orders_cohort_ltv": """
            WITH base AS (
              SELECT o_custkey,
                     year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
                     CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
              FROM orders),
            firsts AS (
              SELECT o_custkey, MIN(m) AS cohort_m FROM base GROUP BY 1),
            sizes AS (
              SELECT cohort_m, COUNT(DISTINCT o_custkey) AS n_custs
              FROM firsts GROUP BY 1),
            per AS (
              SELECT f.cohort_m, b.m - f.cohort_m AS offset_m,
                     SUM(b.cents) AS rev_cents
              FROM base b JOIN firsts f ON f.o_custkey = b.o_custkey
              GROUP BY 1, 2),
            cum AS (
              SELECT cohort_m, offset_m, rev_cents,
                     SUM(rev_cents) OVER (PARTITION BY cohort_m ORDER BY offset_m
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS cum_rev_cents
              FROM per)
            SELECT c.cohort_m, c.offset_m, s.n_custs, c.rev_cents,
                   c.cum_rev_cents,
                   CAST(c.cum_rev_cents // s.n_custs AS BIGINT) AS cum_per_cust_cents
            FROM cum c JOIN sizes s ON s.cohort_m = c.cohort_m
        """,
        "text_code_detection": r"""
            WITH aug AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 13 = 0
                          THEN text || ' def f(x): return x[0]; if (y == 1) { z[2] = 3; } import os var const i=42 for j in k: while (m) {}'
                          ELSE text END AS text
              FROM documents),
            m AS (
              SELECT doc_id,
                     greatest(1, length(text)) AS n_chars,
                     length(text) - length(translate(text, '{}();=[]<>', '')) AS symbols,
                     len(list_filter(string_split_regex(trim(text), '\s+'),
                         t -> regexp_matches(t, '^(def|return|import|class|void|int|function|var|const|if|else|for|while)$'))) AS kw_hits,
                     length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits
              FROM aug),
            s AS (
              SELECT doc_id,
                     CAST(symbols * 10000 // n_chars AS BIGINT) AS sym_bp,
                     CAST(kw_hits AS BIGINT) AS kw_hits,
                     CAST(digits * 10000 // n_chars AS BIGINT) AS dig_bp
              FROM m),
            f AS (
              SELECT *, CAST((CASE WHEN sym_bp >= 300 THEN 1 ELSE 0 END)
                             + (CASE WHEN kw_hits >= 3 THEN 1 ELSE 0 END)
                             + (CASE WHEN dig_bp >= 500 THEN 1 ELSE 0 END) AS BIGINT) AS score
              FROM s)
            SELECT doc_id, sym_bp, kw_hits, dig_bp, score,
                   CASE WHEN score >= 2 THEN 'code' ELSE 'prose' END AS class
            FROM f
        """,
        "pack_fill_stats": f"""
            WITH toks AS (
              SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n
              FROM documents)
            SELECT CAST(256 AS BIGINT) AS seq_len,
                   COUNT(*) AS n_docs, SUM(n) AS total_tokens,
                   CAST(SUM(CASE WHEN n > 256 THEN 1 ELSE 0 END) AS BIGINT) AS docs_over,
                   SUM((n + 256 - 1) // 256) AS n_pieces,
                   CAST((CAST(SUM((n + 256 - 1) // 256) AS HUGEINT) * 256 - SUM(n)) * 10000
                        // (CAST(SUM((n + 256 - 1) // 256) AS HUGEINT) * 256) AS BIGINT) AS pad_waste_bp,
                   CAST((CAST((SUM(n) + 256 - 1) // 256 AS HUGEINT) * 256 - SUM(n)) * 10000
                        // (CAST((SUM(n) + 256 - 1) // 256 AS HUGEINT) * 256) AS BIGINT) AS concat_waste_bp
            FROM toks
            UNION ALL
            SELECT CAST(512 AS BIGINT) AS seq_len,
                   COUNT(*) AS n_docs, SUM(n) AS total_tokens,
                   CAST(SUM(CASE WHEN n > 512 THEN 1 ELSE 0 END) AS BIGINT) AS docs_over,
                   SUM((n + 512 - 1) // 512) AS n_pieces,
                   CAST((CAST(SUM((n + 512 - 1) // 512) AS HUGEINT) * 512 - SUM(n)) * 10000
                        // (CAST(SUM((n + 512 - 1) // 512) AS HUGEINT) * 512) AS BIGINT) AS pad_waste_bp,
                   CAST((CAST((SUM(n) + 512 - 1) // 512 AS HUGEINT) * 512 - SUM(n)) * 10000
                        // (CAST((SUM(n) + 512 - 1) // 512 AS HUGEINT) * 512) AS BIGINT) AS concat_waste_bp
            FROM toks
            UNION ALL
            SELECT CAST(1024 AS BIGINT) AS seq_len,
                   COUNT(*) AS n_docs, SUM(n) AS total_tokens,
                   CAST(SUM(CASE WHEN n > 1024 THEN 1 ELSE 0 END) AS BIGINT) AS docs_over,
                   SUM((n + 1024 - 1) // 1024) AS n_pieces,
                   CAST((CAST(SUM((n + 1024 - 1) // 1024) AS HUGEINT) * 1024 - SUM(n)) * 10000
                        // (CAST(SUM((n + 1024 - 1) // 1024) AS HUGEINT) * 1024) AS BIGINT) AS pad_waste_bp,
                   CAST((CAST((SUM(n) + 1024 - 1) // 1024 AS HUGEINT) * 1024 - SUM(n)) * 10000
                        // (CAST((SUM(n) + 1024 - 1) // 1024 AS HUGEINT) * 1024) AS BIGINT) AS concat_waste_bp
            FROM toks
            UNION ALL
            SELECT CAST(2048 AS BIGINT) AS seq_len,
                   COUNT(*) AS n_docs, SUM(n) AS total_tokens,
                   CAST(SUM(CASE WHEN n > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS docs_over,
                   SUM((n + 2048 - 1) // 2048) AS n_pieces,
                   CAST((CAST(SUM((n + 2048 - 1) // 2048) AS HUGEINT) * 2048 - SUM(n)) * 10000
                        // (CAST(SUM((n + 2048 - 1) // 2048) AS HUGEINT) * 2048) AS BIGINT) AS pad_waste_bp,
                   CAST((CAST((SUM(n) + 2048 - 1) // 2048 AS HUGEINT) * 2048 - SUM(n)) * 10000
                        // (CAST((SUM(n) + 2048 - 1) // 2048 AS HUGEINT) * 2048) AS BIGINT) AS concat_waste_bp
            FROM toks
        """,
        "dedup_banding_eval": f"""
            WITH sample AS (
              SELECT doc_id, text FROM documents
              WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':mheval'), 1, 15)) AS BIGINT) % 8 = 0),
            toks AS (
              SELECT DISTINCT doc_id, unnest({_TOK}) AS token FROM sample),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
              FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            truth AS (
              SELECT a, b FROM inter
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b
              WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.8),
            sigs AS (
              SELECT doc_id,
                     MIN(md5('0:' || token)) AS sig_0, MIN(md5('1:' || token)) AS sig_1,
                     MIN(md5('2:' || token)) AS sig_2, MIN(md5('3:' || token)) AS sig_3
              FROM toks GROUP BY doc_id),
            cands AS (
              SELECT DISTINCT a, b FROM (
                SELECT x.doc_id a, y.doc_id b FROM sigs x JOIN sigs y ON x.sig_0 = y.sig_0 AND x.doc_id < y.doc_id
                UNION ALL
                SELECT x.doc_id a, y.doc_id b FROM sigs x JOIN sigs y ON x.sig_1 = y.sig_1 AND x.doc_id < y.doc_id
                UNION ALL
                SELECT x.doc_id a, y.doc_id b FROM sigs x JOIN sigs y ON x.sig_2 = y.sig_2 AND x.doc_id < y.doc_id
                UNION ALL
                SELECT x.doc_id a, y.doc_id b FROM sigs x JOIN sigs y ON x.sig_3 = y.sig_3 AND x.doc_id < y.doc_id)),
            t AS (SELECT a, b, 1 AS in_truth FROM truth),
            c AS (SELECT a, b, 1 AS in_cand FROM cands),
            agg AS (
              SELECT CAST(SUM(COALESCE(in_truth, 0)) AS BIGINT) AS n_truth,
                     CAST(SUM(COALESCE(in_cand, 0)) AS BIGINT) AS n_cands,
                     CAST(SUM(COALESCE(in_truth, 0) * COALESCE(in_cand, 0)) AS BIGINT) AS n_hits
              FROM t FULL JOIN c USING (a, b))
            SELECT n_truth, n_cands, n_hits,
                   CAST(n_hits * 10000 // greatest(n_truth, 1) AS BIGINT) AS recall_bp,
                   CAST(n_hits * 10000 // greatest(n_cands, 1) AS BIGINT) AS precision_bp
            FROM agg
        """,
        "extract_table_structure": r"""
            WITH toks AS (
              SELECT doc_id,
                     UNNEST(list_transform(
                       list_slice(string_split_regex(trim(text), '\s+'), 1, 24),
                       (t, i) -> struct_pack(token := t, pos0 := i - 1))) AS e
              FROM documents),
            boxes AS (
              SELECT doc_id, e.token AS token,
                     (e.pos0 // 3) * 20 + 10
                       + CAST(('0x' || substring(md5(doc_id || ':' || CAST(e.pos0 AS VARCHAR) || ':jy'), 1, 4)) AS BIGINT) % 7 - 3 AS y,
                     (e.pos0 % 3) * 100 + 10
                       + CAST(('0x' || substring(md5(doc_id || ':' || CAST(e.pos0 AS VARCHAR) || ':jx'), 1, 4)) AS BIGINT) % 11 - 5 AS x
              FROM toks),
            brk AS (
              SELECT doc_id, token, y, x,
                     CASE WHEN y - lag(y) OVER (PARTITION BY doc_id ORDER BY y, x, token) > 8
                          THEN 1 ELSE 0 END AS row_brk,
                     CASE WHEN x - lag(x) OVER (PARTITION BY doc_id ORDER BY x, y, token) > 20
                          THEN 1 ELSE 0 END AS col_brk
              FROM boxes)
            SELECT doc_id,
                   SUM(row_brk) OVER (PARTITION BY doc_id ORDER BY y, x, token
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS row_id,
                   SUM(col_brk) OVER (PARTITION BY doc_id ORDER BY x, y, token
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS col_id,
                   token, y, x
            FROM brk
        """,
        "web_url_params": r"""
            WITH u AS (
              SELECT 'HTTP://' ||
                     CASE WHEN CAST('0x' || substring(md5(doc_id || ':url'), 1, 2) AS BIGINT) % 2 = 0
                          THEN 'WWW.Example-Site.COM' ELSE 'www.example-site.com' END ||
                     ':80/articles/' || substring(md5(doc_id || ':url'), 3, 6) ||
                     '?utm_source=feed&id=' || substring(md5(doc_id || ':url'), 9, 4) ||
                     '&utm_campaign=x&ref=home#section-' || substring(md5(doc_id || ':url'), 13, 2) AS url
              FROM documents),
            kv AS (
              SELECT regexp_extract(pair, '^([^=]*)', 1) AS key,
                     regexp_extract(pair, '=(.*)$', 1) AS value
              FROM (
                SELECT UNNEST(list_filter(
                         string_split(regexp_extract(regexp_replace(url, '#.*$', ''), '\?([^#]*)', 1), '&'),
                         p -> p != '')) AS pair
                FROM u)),
            agg AS (
              SELECT key, COUNT(*) AS n_urls, COUNT(DISTINCT value) AS n_values
              FROM kv GROUP BY 1)
            SELECT key, n_urls, n_values,
                   CAST(CAST(n_values AS HUGEINT) * 10000 // n_urls AS BIGINT) AS cardinality_bp,
                   CASE WHEN n_values = 1 THEN 'constant'
                        WHEN CAST(CAST(n_values AS HUGEINT) * 10000 // n_urls AS BIGINT) >= 9000 THEN 'id_like'
                        ELSE 'low_cardinality' END AS class
            FROM agg
        """,
        "text_heaps_fit": f"""
            WITH bounds AS (
              SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
            params AS (
              SELECT lo, greatest(1, (hi - lo + 1 + 63) // 64) AS width
              FROM bounds),
            toks AS (
              SELECT doc_id,
                     (doc_id - (SELECT lo FROM params))
                          // (SELECT width FROM params) AS bk,
                     {_TOK} AS t
              FROM documents),
            mass AS (
              SELECT bk, SUM(len(t)) AS toks FROM toks GROUP BY 1),
            firsts AS (
              SELECT tok, MIN(bk) AS bk
              FROM (SELECT bk, UNNEST(t) AS tok FROM toks)
              WHERE length(tok) > 0 GROUP BY 1),
            newv AS (SELECT bk, COUNT(*) AS new_vocab FROM firsts GROUP BY 1),
            pts AS (
              SELECT m.bk,
                     SUM(m.toks) OVER (ORDER BY m.bk ROWS BETWEEN UNBOUNDED
                         PRECEDING AND CURRENT ROW) AS cum_toks,
                     SUM(COALESCE(n.new_vocab, 0)) OVER (ORDER BY m.bk ROWS
                         BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_vocab
              FROM mass m LEFT JOIN newv n ON n.bk = m.bk),
            terms AS (
              SELECT round(ln(cum_toks), 6) AS x, round(ln(cum_vocab), 6) AS y,
                     round(round(ln(cum_toks), 6) * round(ln(cum_vocab), 6), 6) AS xy,
                     round(round(ln(cum_toks), 6) * round(ln(cum_toks), 6), 6) AS xx
              FROM pts WHERE cum_toks > 0 AND cum_vocab > 0),
            agg AS (
              SELECT COUNT(*) AS n_points,
                     round(SUM(x), 6) AS sx, round(SUM(y), 6) AS sy,
                     round(SUM(xy), 6) AS sxy, round(SUM(xx), 6) AS sxx
              FROM terms)
            SELECT n_points,
                   round((n_points * sxy - sx * sy)
                         / (n_points * sxx - sx * sx), 6) + 0.0 AS beta,
                   round((sy - (round((n_points * sxy - sx * sy)
                                      / (n_points * sxx - sx * sx), 6) + 0.0) * sx)
                         / n_points, 6) + 0.0 AS ln_k
            FROM agg WHERE n_points >= 3
        """,
        "storage_partition_skew": """
            WITH per AS (
              SELECT source, lang, COUNT(*) AS n_rows, SUM(n_chars) AS bytes
              FROM documents GROUP BY 1, 2),
            x AS (
              SELECT *, SUM(bytes) OVER () AS total, COUNT(*) OVER () AS n_parts
              FROM per)
            SELECT source, lang, n_rows, bytes,
                   CAST(CAST(bytes AS HUGEINT) * 10000 // total AS BIGINT) AS share_bp,
                   CAST(CAST(bytes AS HUGEINT) * 10 * n_parts // total AS BIGINT) AS skew_x10,
                   CAST((bytes + 60000 - 1) // 60000 AS BIGINT) AS files_needed,
                   CAST(CAST(bytes AS HUGEINT) * 10 * n_parts // total AS BIGINT) >= 30 AS hot
            FROM x
        """,
        "sketch_bloom_fpr": f"""
            SELECT CAST(4096 AS BIGINT) AS m_bits, CAST(4 AS BIGINT) AS k,
                   CAST(2000 AS BIGINT) AS n_probes,
                   CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS fp_hits,
                   CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) * 10000 // 2000 AS BIGINT) AS fpr_bp
            FROM (
              SELECT x.id, bool_and(b.pos IS NOT NULL) AS hit
              FROM (
                SELECT p.range AS id,
                       CAST(('0x' || substring(md5(CAST(t.range AS VARCHAR) || ':' || md5('fpr-probe:' || CAST(p.range AS VARCHAR))), 1, 15)) AS BIGINT) % 4096 AS pos
                FROM range(2000) p CROSS JOIN range(4) t) x
              LEFT JOIN (
                SELECT DISTINCT
                       CAST(('0x' || substring(md5(CAST(t.range AS VARCHAR) || ':' || fp), 1, 15)) AS BIGINT) % 4096 AS pos
                FROM (SELECT md5(array_to_string({_TOK}, ' ')) AS fp FROM documents) fps
                CROSS JOIN range(4) t) b ON b.pos = x.pos
              GROUP BY x.id) probes
            UNION ALL
            SELECT CAST(32768 AS BIGINT) AS m_bits, CAST(4 AS BIGINT) AS k,
                   CAST(2000 AS BIGINT) AS n_probes,
                   CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS fp_hits,
                   CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) * 10000 // 2000 AS BIGINT) AS fpr_bp
            FROM (
              SELECT x.id, bool_and(b.pos IS NOT NULL) AS hit
              FROM (
                SELECT p.range AS id,
                       CAST(('0x' || substring(md5(CAST(t.range AS VARCHAR) || ':' || md5('fpr-probe:' || CAST(p.range AS VARCHAR))), 1, 15)) AS BIGINT) % 32768 AS pos
                FROM range(2000) p CROSS JOIN range(4) t) x
              LEFT JOIN (
                SELECT DISTINCT
                       CAST(('0x' || substring(md5(CAST(t.range AS VARCHAR) || ':' || fp), 1, 15)) AS BIGINT) % 32768 AS pos
                FROM (SELECT md5(array_to_string({_TOK}, ' ')) AS fp FROM documents) fps
                CROSS JOIN range(4) t) b ON b.pos = x.pos
              GROUP BY x.id) probes
            UNION ALL
            SELECT CAST(32768 AS BIGINT) AS m_bits, CAST(6 AS BIGINT) AS k,
                   CAST(2000 AS BIGINT) AS n_probes,
                   CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS fp_hits,
                   CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) * 10000 // 2000 AS BIGINT) AS fpr_bp
            FROM (
              SELECT x.id, bool_and(b.pos IS NOT NULL) AS hit
              FROM (
                SELECT p.range AS id,
                       CAST(('0x' || substring(md5(CAST(t.range AS VARCHAR) || ':' || md5('fpr-probe:' || CAST(p.range AS VARCHAR))), 1, 15)) AS BIGINT) % 32768 AS pos
                FROM range(2000) p CROSS JOIN range(6) t) x
              LEFT JOIN (
                SELECT DISTINCT
                       CAST(('0x' || substring(md5(CAST(t.range AS VARCHAR) || ':' || fp), 1, 15)) AS BIGINT) % 32768 AS pos
                FROM (SELECT md5(array_to_string({_TOK}, ' ')) AS fp FROM documents) fps
                CROSS JOIN range(6) t) b ON b.pos = x.pos
              GROUP BY x.id) probes
            UNION ALL
            SELECT CAST(262144 AS BIGINT) AS m_bits, CAST(6 AS BIGINT) AS k,
                   CAST(2000 AS BIGINT) AS n_probes,
                   CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS fp_hits,
                   CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) * 10000 // 2000 AS BIGINT) AS fpr_bp
            FROM (
              SELECT x.id, bool_and(b.pos IS NOT NULL) AS hit
              FROM (
                SELECT p.range AS id,
                       CAST(('0x' || substring(md5(CAST(t.range AS VARCHAR) || ':' || md5('fpr-probe:' || CAST(p.range AS VARCHAR))), 1, 15)) AS BIGINT) % 262144 AS pos
                FROM range(2000) p CROSS JOIN range(6) t) x
              LEFT JOIN (
                SELECT DISTINCT
                       CAST(('0x' || substring(md5(CAST(t.range AS VARCHAR) || ':' || fp), 1, 15)) AS BIGINT) % 262144 AS pos
                FROM (SELECT md5(array_to_string({_TOK}, ' ')) AS fp FROM documents) fps
                CROSS JOIN range(6) t) b ON b.pos = x.pos
              GROUP BY x.id) probes
        """,
        "events_schema_drift": """
            WITH aug AS (
              SELECT event_id, ts,
                     CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) // 86400 < 19738
                          THEN replace(props, '}', ', "legacy": 1}')
                          ELSE replace(props, '}', ', "vnew": 1}') END AS props
              FROM events),
            kv AS (
              SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                     UNNEST(json_keys(props)) AS key
              FROM aug WHERE json_valid(props)),
            per AS (SELECT day, key, COUNT(*) AS n FROM kv GROUP BY 1, 2),
            totals AS (
              SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
                     COUNT(*) AS day_rows
              FROM aug GROUP BY 1),
            spank AS (SELECT key, MIN(day) AS d0, MAX(day) AS d1 FROM per GROUP BY 1),
            spine AS (
              SELECT key, UNNEST(range(d0, (SELECT MAX(d1) FROM spank) + 1)) AS day
              FROM spank),
            rates AS (
              SELECT s.day, s.key, COALESCE(p.n, 0) AS n_rows,
                     CAST(CAST(COALESCE(p.n, 0) AS HUGEINT) * 10000
                          // t.day_rows AS BIGINT) AS rate_bp
              FROM spine s
              JOIN totals t ON t.day = s.day
              LEFT JOIN per p ON p.day = s.day AND p.key = s.key),
            fin AS (
              SELECT day, key, n_rows, rate_bp,
                     lag(rate_bp) OVER (PARTITION BY key ORDER BY day) AS prev_rate_bp
              FROM rates)
            SELECT day, key, n_rows, rate_bp, prev_rate_bp,
                   CASE WHEN prev_rate_bp IS NULL THEN 'new'
                        WHEN rate_bp = 0 AND prev_rate_bp > 0 THEN 'dropped'
                        WHEN rate_bp = 0 AND prev_rate_bp = 0 THEN 'absent'
                        WHEN abs(rate_bp - prev_rate_bp) >= 2000 THEN 'shifted'
                        ELSE 'stable' END AS status
            FROM fin
        """,
        "ann_centroid_outliers": """
            WITH fxt AS (
              SELECT vec_id, label,
                     list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS fx
              FROM embeddings),
            d AS (
              SELECT vec_id, label,
                     UNNEST(list_transform(fx, (x, i) -> struct_pack(dim := i - 1, q := x))) AS e
              FROM fxt),
            cent AS (
              SELECT label, e.dim AS dim, SUM(e.q) AS s, COUNT(*) AS n
              FROM d GROUP BY 1, 2),
            centm AS (
              SELECT label, dim,
                     CAST((abs(s) // n) * (CASE WHEN s >= 0 THEN 1 ELSE -1 END) AS BIGINT) AS m
              FROM cent),
            dist AS (
              SELECT d.label, d.vec_id,
                     SUM((e.q - cm.m) * (e.q - cm.m)) AS dist_sq
              FROM d JOIN centm cm ON d.label = cm.label AND d.e.dim = cm.dim
              GROUP BY 1, 2),
            ranked AS (
              SELECT label, vec_id, dist_sq,
                     row_number() OVER (PARTITION BY label
                                        ORDER BY dist_sq DESC, vec_id ASC) AS rn
              FROM dist)
            SELECT label, vec_id, dist_sq, CAST(rn AS BIGINT) AS rank
            FROM ranked WHERE rn <= 5
        """,
        "text_source_overlap": f"""
            WITH toks AS (SELECT source, {_TOK} AS t FROM documents),
            g AS (
              SELECT DISTINCT source,
                     unnest(list_transform(range(1, greatest(len(t) - 5 + 1, 0) + 1),
                            i -> CAST(('0x' || substr(md5(array_to_string(
                                   list_slice(t, CAST(i AS INT), CAST(i + 4 AS INT)), ' ')), 1, 15)) AS BIGINT))) AS gr
              FROM toks),
            tot AS (SELECT source, COUNT(*) AS n FROM g GROUP BY 1),
            pairs AS (
              SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
              FROM g a JOIN g b ON a.gr = b.gr AND a.source < b.source
              GROUP BY 1, 2)
            SELECT src_a, src_b, inter, ta.n AS n_a, tb.n AS n_b,
                   CAST(CAST(inter AS HUGEINT) * 10000 // ta.n AS BIGINT) AS cont_a_bp,
                   CAST(CAST(inter AS HUGEINT) * 10000 // tb.n AS BIGINT) AS cont_b_bp
            FROM pairs
            JOIN tot ta ON ta.source = src_a
            JOIN tot tb ON tb.source = src_b
        """,
        "text_readability": r"""
            WITH m AS (
              SELECT doc_id,
                     len(string_split_regex(trim(text), '\s+')) AS n_words,
                     greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sents,
                     greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+'))) AS n_syll
              FROM documents),
            f AS (
              SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
                     CAST(n_sents AS BIGINT) AS n_sents,
                     CAST(n_syll AS BIGINT) AS n_syll,
                     round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                           - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6) AS flesch
              FROM m WHERE n_words > 0)
            SELECT doc_id, n_words, n_sents, n_syll, flesch,
                   CASE WHEN flesch >= 60 THEN 'easy'
                        WHEN flesch >= 30 THEN 'medium'
                        ELSE 'hard' END AS band
            FROM f
        """,
        "text_zipf_fit": r"""
            WITH toks AS (
              SELECT source, UNNEST(string_split_regex(trim(text), '\s+')) AS tok
              FROM documents),
            counts AS (
              SELECT source, tok, COUNT(*) AS c
              FROM toks WHERE length(tok) > 0
              GROUP BY 1, 2 HAVING COUNT(*) >= 2),
            ranked AS (
              SELECT source, c,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY c DESC, tok ASC) AS r
              FROM counts QUALIFY r <= 200),
            terms AS (
              SELECT source,
                     round(ln(r), 6) AS x, round(ln(c), 6) AS y,
                     round(round(ln(r), 6) * round(ln(c), 6), 6) AS xy,
                     round(round(ln(r), 6) * round(ln(r), 6), 6) AS xx
              FROM ranked),
            agg AS (
              SELECT source, COUNT(*) AS n_terms,
                     round(SUM(x), 6) AS sx, round(SUM(y), 6) AS sy,
                     round(SUM(xy), 6) AS sxy, round(SUM(xx), 6) AS sxx
              FROM terms GROUP BY 1)
            SELECT source, n_terms,
                   round((n_terms * sxy - sx * sy)
                         / (n_terms * sxx - sx * sx), 6) + 0.0 AS slope,
                   round((sy - (round((n_terms * sxy - sx * sy)
                                      / (n_terms * sxx - sx * sx), 6) + 0.0) * sx)
                         / n_terms, 6) + 0.0 AS intercept
            FROM agg WHERE n_terms >= 3
        """,
        "dedup_cdc_chunks": """
            WITH base AS (
              SELECT doc_id, text, length(text) AS n
              FROM documents WHERE length(text) >= 8),
            b AS (
              SELECT doc_id, text,
                     list_sort(list_distinct(
                       list_filter(range(8, n + 1),
                         p -> CAST(('0x' || substr(md5(substr(text, p - 7, 8)), 1, 15)) AS BIGINT) % 64 = 0)
                       || [n])) AS bounds
              FROM base),
            e0 AS (
              SELECT doc_id, text,
                     list_transform(bounds, (p, i) -> struct_pack(
                        st := CASE WHEN i = 1 THEN 1 ELSE bounds[i - 1] + 1 END,
                        en := p)) AS cs
              FROM b),
            e1 AS (SELECT doc_id, text, UNNEST(cs) AS c FROM e0),
            e AS (
              SELECT doc_id,
                     md5(substr(text, c.st, c.en - c.st + 1)) AS chunk_hash,
                     CAST(c.en - c.st + 1 AS BIGINT) AS chunk_len
              FROM e1 WHERE c.en - c.st + 1 > 0)
            SELECT chunk_hash, chunk_len,
                   COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
            FROM e GROUP BY 1, 2
            HAVING COUNT(DISTINCT doc_id) >= 2
        """,
        "dedup_sentences": r"""
            WITH s0 AS (
              SELECT doc_id,
                     unnest(list_transform(
                       regexp_extract_all(text, '[^.]+\.?', 0),
                       (x, i) -> struct_pack(i := i, t := x))) AS s
              FROM documents),
            s AS (
              SELECT doc_id, CAST(s.i - 1 AS INT) AS pos, trim(s.t) AS sentence
              FROM s0 WHERE trim(s.t) <> ''),
            m AS (
              SELECT *, row_number() OVER (
                PARTITION BY md5(sentence) ORDER BY doc_id, pos) AS rk
              FROM s),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences
                    FROM m GROUP BY doc_id),
            k AS (SELECT doc_id,
                         string_agg(sentence, ' ' ORDER BY pos) AS kept_text,
                         CAST(count(*) AS BIGINT) AS n_kept
                  FROM m WHERE rk = 1 GROUP BY doc_id)
            SELECT t.doc_id, coalesce(k.kept_text, '') AS kept_text,
                   t.n_sentences, coalesce(k.n_kept, 0) AS n_kept
            FROM tot t LEFT JOIN k ON k.doc_id = t.doc_id
        """,
        "dedup_host_boilerplate": r"""
            WITH d AS (
              SELECT doc_id, source,
                     text || '. reserved footer ' || source || '.' ||
                     CASE WHEN doc_id % 97 = 3
                          THEN ' reserved footer src0.' ELSE '' END AS text
              FROM documents),
            s0 AS (
              SELECT doc_id, source,
                     unnest(list_transform(
                       regexp_extract_all(text, '[^.]+\.?', 0),
                       (x, i) -> struct_pack(i := i, t := x))) AS s
              FROM d),
            s AS (
              SELECT doc_id, source, CAST(s.i - 1 AS INT) AS pos,
                     trim(s.t) AS sentence
              FROM s0 WHERE trim(s.t) <> ''),
            hd AS (SELECT source, count(*) AS host_docs FROM d GROUP BY source),
            sdf AS (SELECT source, sentence,
                           count(DISTINCT doc_id) AS n_docs_with
                    FROM s GROUP BY source, sentence),
            boiler AS (
              SELECT sdf.source, sdf.sentence
              FROM sdf JOIN hd ON hd.source = sdf.source
              WHERE n_docs_with >= 2
                AND n_docs_with * 100 >= 50 * host_docs),
            kept AS (
              SELECT s.* FROM s
              WHERE NOT EXISTS (
                SELECT 1 FROM boiler b
                WHERE b.source = s.source AND b.sentence = s.sentence)),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences
                    FROM s GROUP BY doc_id),
            k AS (SELECT doc_id,
                         string_agg(sentence, ' ' ORDER BY pos) AS kept_text,
                         CAST(count(*) AS BIGINT) AS n_kept
                  FROM kept GROUP BY doc_id)
            SELECT t.doc_id, coalesce(k.kept_text, '') AS kept_text,
                   t.n_sentences, coalesce(k.n_kept, 0) AS n_kept
            FROM tot t LEFT JOIN k ON k.doc_id = t.doc_id
        """,
        "search_bm25": f"""
            WITH q(query_id, term) AS (VALUES {_bm25_values()}),
            toks AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              FROM documents),
            post AS (
              SELECT doc_id, term,
                     CAST(COUNT(*) AS BIGINT) AS tf,
                     CAST(MIN(dl) AS BIGINT) AS dl
              FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
              WHERE term <> '' GROUP BY doc_id, term),
            stats AS (
              SELECT COUNT(*) AS n_docs,
                     SUM(len(string_split_regex(trim(text), '\\s+'))) * 1.0
                       / COUNT(*) AS avgdl
              FROM documents),
            dfreq AS (
              SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM post
              WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
            scored AS (
              SELECT q.query_id, p.doc_id,
                     round(SUM(round(
                       ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
                       (p.tf * (1.2 + 1.0)) /
                       (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)),
                     6)), 6) AS score
              FROM post p JOIN q ON q.term = p.term
              JOIN dfreq d ON d.term = p.term, stats s
              GROUP BY q.query_id, p.doc_id)
            SELECT query_id, doc_id, score,
                   CAST(row_number() OVER (
                     PARTITION BY query_id ORDER BY score DESC, doc_id ASC
                   ) AS INT) AS rank
            FROM scored QUALIFY rank <= 10
        """,
        "search_mlt": r"""
            WITH qt AS (
              SELECT q_id, term FROM (
                SELECT doc_id AS q_id,
                       unnest(list_distinct(
                         string_split_regex(trim(text), '\s+')[1:16])) AS term
                FROM documents WHERE doc_id < 5)
              WHERE term <> ''),
            post AS (
              SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
              FROM (SELECT doc_id,
                           unnest(string_split_regex(trim(text), '\s+')) AS term
                    FROM documents WHERE doc_id >= 5)
              WHERE term <> '' GROUP BY doc_id, term),
            dfreq AS (
              SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM post
              WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term),
            mscored AS (
              SELECT q.q_id, p.doc_id AS c_id,
                     CAST(SUM(p.tf * (1000000 // d.df)) AS BIGINT) AS score
              FROM post p JOIN qt q ON q.term = p.term
              JOIN dfreq d ON d.term = p.term
              GROUP BY q.q_id, p.doc_id)
            SELECT q_id, c_id, score,
                   CAST(row_number() OVER (
                     PARTITION BY q_id ORDER BY score DESC, c_id ASC
                   ) AS INT) AS rank
            FROM mscored QUALIFY rank <= 10
        """,
        "search_hybrid_rrf": r"""
            WITH qt AS (
              SELECT q_id, term FROM (
                SELECT doc_id AS q_id,
                       unnest(list_distinct(
                         string_split_regex(trim(text), '\s+')[1:16])) AS term
                FROM documents WHERE doc_id < 5)
              WHERE term <> ''),
            post AS (
              SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
              FROM (SELECT doc_id,
                           unnest(string_split_regex(trim(text), '\s+')) AS term
                    FROM documents WHERE doc_id >= 5)
              WHERE term <> '' GROUP BY doc_id, term),
            dfreq AS (
              SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM post
              WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term),
            mscored AS (
              SELECT q.q_id, p.doc_id AS c_id,
                     CAST(SUM(p.tf * (1000000 // d.df)) AS BIGINT) AS score
              FROM post p JOIN qt q ON q.term = p.term
              JOIN dfreq d ON d.term = p.term
              GROUP BY q.q_id, p.doc_id),
            lex20 AS (
              SELECT q_id, c_id,
                     CAST(row_number() OVER (
                       PARTITION BY q_id ORDER BY score DESC, c_id ASC
                     ) AS INT) AS lex_rank
              FROM mscored QUALIFY lex_rank <= 20),
            qv AS (SELECT vec_id q_id, CAST(embedding AS DOUBLE[]) q_emb
                   FROM embeddings WHERE vec_id < 5),
            cv AS (SELECT vec_id c_id, CAST(embedding AS DOUBLE[]) c_emb
                   FROM embeddings WHERE vec_id >= 5),
            dscored AS (
              SELECT q_id, c_id,
                     round(list_cosine_similarity(q_emb, c_emb), 6) AS sim
              FROM qv, cv),
            den20 AS (
              SELECT q_id, c_id,
                     CAST(row_number() OVER (
                       PARTITION BY q_id ORDER BY sim DESC, c_id ASC
                     ) AS INT) AS dense_rank
              FROM dscored QUALIFY dense_rank <= 20),
            f AS (
              SELECT COALESCE(l.q_id, d.q_id) AS q_id,
                     COALESCE(l.c_id, d.c_id) AS c_id,
                     l.lex_rank, d.dense_rank
              FROM lex20 l FULL OUTER JOIN den20 d
                ON l.q_id = d.q_id AND l.c_id = d.c_id),
            r AS (
              SELECT q_id, c_id, lex_rank, dense_rank,
                     CAST(COALESCE(1000000 // (60 + lex_rank), 0)
                          + COALESCE(1000000 // (60 + dense_rank), 0)
                       AS BIGINT) AS rrf_e6
              FROM f)
            SELECT q_id, c_id, lex_rank, dense_rank, rrf_e6,
                   CAST(row_number() OVER (
                     PARTITION BY q_id ORDER BY rrf_e6 DESC, c_id ASC
                   ) AS INT) AS rank
            FROM r QUALIFY rank <= 10
        """,
        "bpe_pair_counts": r"""
            WITH words AS (
              SELECT w, CAST(count(*) AS BIGINT) AS wcount
              FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
                    FROM documents)
              WHERE w <> '' GROUP BY w),
            syms AS (
              SELECT wcount, regexp_extract_all(w, '.', 0) AS s
              FROM words WHERE length(w) >= 2),
            pairs AS (
              SELECT wcount, unnest(list_zip(s[1:length(s)-1], s[2:length(s)])) AS p
              FROM syms),
            counts AS (
              SELECT p[1] AS sym_a, p[2] AS sym_b,
                     CAST(SUM(wcount) AS BIGINT) AS pair_count
              FROM pairs GROUP BY 1, 2),
            ranked AS (
              SELECT *, CAST(row_number() OVER (
                ORDER BY pair_count DESC, sym_a ASC, sym_b ASC) AS INT) AS rank
              FROM counts)
            SELECT sym_a, sym_b, pair_count, rank FROM ranked WHERE rank <= 30
        """,
        "layout_reading_order": r"""
            WITH toks AS (
              SELECT doc_id, CAST(s.i AS INT) AS orig_pos, s.t AS token,
                     CAST((s.i - 1) % 2 AS INT) AS col_id,
                     CAST(((s.i - 1) // 2) * 12 + 5 AS BIGINT) AS y,
                     CAST(((s.i - 1) % 2) * 300 + (length(s.t) % 7) * 3 AS BIGINT) AS x
              FROM (
                SELECT doc_id,
                       unnest(list_transform(
                         list_slice(string_split_regex(trim(text), '\s+'), 1, 24),
                         (x, i) -> struct_pack(i := i, t := x))) AS s
                FROM documents)
            )
            SELECT doc_id, orig_pos, token, col_id, y, x,
                   CAST(row_number() OVER (
                     PARTITION BY doc_id ORDER BY col_id, y, x, orig_pos) AS INT) AS read_pos
            FROM toks
        """,
    }
