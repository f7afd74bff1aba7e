"""Text-analysis operators for a training-data pipeline over the
``documents(doc_id, text, lang, source, n_chars)`` corpus: tokenization,
quality scoring, language-ID heuristic, fingerprinting, vocabulary stats.

Everything here is pure Catalyst expressions (codegen'd, no Python), so the
same logic scales from the sf0.01 gate to a 100 TB corpus: narrow per-row
projections, one hash-agg where grouping is inherent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = r"\s+"


def with_tokens(docs: DataFrame) -> DataFrame:
    return docs.withColumn("tokens", F.split(F.trim("text"), TOKEN_SPLIT))


def md5_long(col) -> F.Column:
    """Canonical 60-bit md5 interning: first 15 hex digits of md5(col) as a
    non-negative BIGINT (15 hex digits < 2^60, so the signed long never
    wraps). ONE definition on purpose — the expression is
    determinism-critical (every DuckDB oracle reproduces it bit-for-bit),
    so the Python-side call sites share it instead of hand-copying the
    idiom and risking silent drift (e.g. 15 → 16 hex chars breaks the
    sign guarantee)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def gram_fp64_expr(n: int) -> F.Column:
    """The shared n-gram fingerprint array: 60-bit md5 long (same 15-hex
    rule as :func:`md5_long`) of the space-joined n-token slice at each
    start position of ``tokens``; empty array when the doc is shorter than
    n. SQL-string form because a HOF lambda can't close over Columns —
    every gram operator (sparse cosine, contamination, eval decontam,
    repeated spans) keys its shuffle on these fixed 8-byte values instead
    of 32-char digests."""
    return F.expr(
        f"CASE WHEN size(tokens) < {n} THEN array()"
        f" ELSE transform(sequence(1, size(tokens) - {n} + 1),"
        f"  i -> CAST(conv(substring(md5(concat_ws(' ', slice(tokens, i, {n}))),"
        f"                 1, 15), 16, 10) AS BIGINT)) END"
    )


def quality(docs: DataFrame) -> DataFrame:
    """Per-document quality features: token count, distinct-token ratio,
    mean token length, digit ratio. The classic boilerplate/garbage signals."""
    d = with_tokens(docs)
    return d.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.round(F.size(F.array_distinct("tokens")) / F.size("tokens"), 6).alias("distinct_ratio"),
        F.round(
            F.aggregate("tokens", F.lit(0).cast("long"), lambda a, t: a + F.length(t))
            / F.size("tokens"), 6,
        ).alias("avg_token_len"),
        F.round(
            F.length(F.regexp_replace("text", r"[^0-9]", "")) /
            F.greatest(F.length("text"), F.lit(1)), 6,
        ).alias("digit_ratio"),
    )


def langid(docs: DataFrame) -> DataFrame:
    """Deterministic n-gram-flavoured language-ID heuristic: vowel-final
    token share + mean token length buckets. (The synthetic corpus shares one
    vocabulary across langs, so this demonstrates the operator shape — the
    thresholds are the tunable part in a real corpus.)"""
    d = with_tokens(docs)
    vowel_ratio = F.round(
        F.size(F.filter("tokens", lambda t: t.rlike("[aeiou]$"))) / F.size("tokens"), 6
    )
    avg_len = F.aggregate("tokens", F.lit(0).cast("long"), lambda a, t: a + F.length(t)) / F.size("tokens")
    guess = (
        F.when(vowel_ratio >= F.lit(0.5), F.lit("romance"))
        .when(avg_len >= F.lit(5.0), F.lit("compounding"))
        .otherwise(F.lit("analytic"))
    )
    return d.select("doc_id", "lang", vowel_ratio.alias("vowel_ratio"), guess.alias("lang_guess"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over the whitespace-normalized text —
    the exact-dedup key."""
    d = with_tokens(docs)
    return d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", "tokens")).alias("fp"),
        F.size("tokens").alias("n_tokens"),
    )


def winnow_fingerprints(docs: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., the MOSS
    algorithm): hash every character k-gram, slide a w-window over the hash
    sequence, keep each window's minimum — a rolling-hash fingerprint set
    that survives insertions/deletions outside the changed region (the
    local-dedup primitive whole-document md5 cannot provide).

    Pure Catalyst higher-order functions — sequence/transform/slice/
    array_min — so the same plan scales from the sf gate to 100 TB with
    zero Python. Output: one row per distinct fingerprint (doc_id, fp).
    """
    # sequence(1, 0) is descending [1, 0] in Spark — CASE-guard the empty case
    # so sub-k-length texts fingerprint to nothing (matching the SQL oracle's
    # empty range()) instead of a spurious 2-element gram list.
    grams = F.expr(
        f"CASE WHEN length(text) < {k} THEN array()"
        f" ELSE transform(sequence(1, length(text) - {k} + 1),"
        f"                i -> md5(substring(text, i, {k}))) END"
    )
    d = docs.withColumn("grams", grams)
    mins = F.expr(
        f"CASE WHEN size(grams) < {w} THEN array()"
        f" ELSE transform(sequence(1, size(grams) - {w} + 1),"
        f"                j -> array_min(slice(grams, j, {w}))) END"
    )
    return (
        d.select("doc_id", F.explode(F.array_distinct(mins)).alias("fp"))
    )


def vocab_stats(docs: DataFrame, min_count: int = 100) -> DataFrame:
    """Corpus vocabulary: token → frequency, thresholded (HAVING beats LIMIT
    for engine-parity: no tie-break ambiguity)."""
    d = with_tokens(docs)
    return (
        d.select(F.explode("tokens").alias("token"))
        .groupBy("token").agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def repetition(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1): per document,
    the fraction of token occurrences that are repeats (``dup_token_frac``),
    the share of the most frequent token (``top_token_frac``), and the share
    of the most frequent bigram (``top_bigram_frac``).

    Shape: explode → per-(doc, gram) hash-agg → per-doc hash-agg. Partial
    (map-side) aggregation applies at both levels, and the shuffle key is
    (doc_id, gram) then doc_id — no skew beyond document size, so the same
    plan holds at 100 TB. Single-token documents have no bigrams; their
    ``top_bigram_frac`` is 0.
    """
    d = with_tokens(docs)
    uni = (
        d.select("doc_id", F.explode("tokens").alias("t"))
        .groupBy("doc_id", "t").agg(F.count("*").alias("c"))
        .groupBy("doc_id").agg(
            F.max("c").alias("top_c"),
            F.sum("c").alias("n"),
            F.count("*").alias("n_distinct"),
        )
        .select(
            "doc_id",
            F.round(F.col("top_c") / F.col("n"), 6).alias("top_token_frac"),
            F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n"), 6).alias("dup_token_frac"),
        )
    )
    # NB: sequence(1, 0) is DESCENDING [1, 0] in Spark, so an empty gram list
    # needs an explicit CASE guard, not greatest(..., 0).
    bigrams = F.expr(
        "CASE WHEN size(tokens) < 2 THEN array()"
        " ELSE transform(sequence(1, size(tokens) - 1),"
        "                i -> concat(tokens[i-1], ' ', tokens[i])) END"
    )
    big = (
        d.select("doc_id", F.explode(bigrams).alias("b"))
        .groupBy("doc_id", "b").agg(F.count("*").alias("c"))
        .groupBy("doc_id").agg(F.max("c").alias("top_c"), F.sum("c").alias("n"))
        .select("doc_id", F.round(F.col("top_c") / F.col("n"), 6).alias("top_bigram_frac"))
    )
    return (
        uni.join(big, "doc_id", "left")
        .select(
            "doc_id", "top_token_frac", "dup_token_frac",
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        )
    )


# C4/Gopher-flavoured default; stopword lists are language- and
# domain-specific, so callers inject their own (the driver query mixes in
# corpus-frequent "domain stopwords" so the ratios are non-degenerate on the
# synthetic vocabulary).
DEFAULT_STOPWORDS = (
    "the a an and or of to in is are was for on with as by at it this that"
).split()


def stopword_stats(docs: DataFrame, stopwords: list[str] = DEFAULT_STOPWORDS) -> DataFrame:
    """C4-style lexical quality filters: stopword ratio (garbage text has
    ~none; natural text ~0.3-0.5), all-alpha token ratio, and max token
    length (boilerplate/URLs produce very long 'words'). The stopword list
    is a broadcast literal array — tiny, so it rides the task closure; no
    join, no shuffle, pure codegen per row."""
    sw = F.array(*[F.lit(w) for w in stopwords])
    d = with_tokens(docs)
    return d.select(
        "doc_id",
        F.round(
            F.size(F.filter("tokens", lambda t: F.array_contains(sw, t)))
            / F.size("tokens"), 6,
        ).alias("stopword_ratio"),
        F.round(
            F.size(F.filter("tokens", lambda t: t.rlike("^[a-z]+$")))
            / F.size("tokens"), 6,
        ).alias("alpha_ratio"),
        F.array_max(F.transform("tokens", F.length)).alias("max_token_len"),
    )


def ngram_contamination(docs: DataFrame, n: int = 5, min_docs: int = 2) -> DataFrame:
    """Cross-document n-gram overlap — the decontamination / cross-dup
    primitive (per-doc fraction of its distinct token n-grams that appear in
    ≥ ``min_docs`` documents). The train/test-leak check in every LLM data
    pipeline is this exact query with the eval set as the second corpus.

    Shape at scale: explode distinct grams per doc (gram = 60-bit md5 long,
    a fixed 8-byte shuffle key), hash-agg by gram for document frequency, then an
    equi-join gram→df that Spark co-partitions with the agg (one shuffle
    feeds both), and a final per-doc hash-agg. No broadcast of anything
    corpus-sized; skew is bounded because per-doc grams are distinct."""
    grams = gram_fp64_expr(n)
    d = with_tokens(docs)
    g = d.select("doc_id", F.explode(F.array_distinct(grams)).alias("g"))
    df_counts = g.groupBy("g").agg(F.count("*").alias("ndocs"))
    return (
        g.join(df_counts, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("ndocs") >= min_docs, 1).otherwise(0)).alias("n_shared"),
        )
        .select(
            "doc_id", "n_grams", "n_shared",
            F.round(F.col("n_shared") / F.col("n_grams"), 6).alias("shared_frac"),
        )
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Integer-exact TF-IDF-ranked top-k terms per document: rank by
    (tf DESC, document-frequency ASC, token ASC) — the same ordering
    tf·log(N/df) induces for fixed tf, with no floating-point log to drift
    between engines. Shape: explode → (doc, token) hash-agg → token
    hash-agg for df → join (co-partitioned with the agg) → per-doc window
    top-k. The window partitions by doc_id, so no skew beyond document size.

    Output: (doc_id, token, tf, df, rank)."""
    from pyspark.sql import Window

    t = with_tokens(docs).select("doc_id", F.explode("tokens").alias("token"))
    tf = t.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfc = tf.groupBy("token").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc())
    return (
        tf.join(dfc, "token")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "df", "rank")
    )


def _quality_checks(docs, stopwords, min_tokens, max_top_token_frac,
                    min_alpha_ratio, max_token_len, min_stopword_ratio):
    """Shared signal join + ordered rule list for the keep/drop verdict and
    the rejection funnel (the ORDER is part of the funnel's semantics)."""
    lex = stopword_stats(docs, stopwords)
    rep = repetition(docs)
    ntok = with_tokens(docs).select("doc_id", F.size("tokens").alias("n_tokens"))
    j = ntok.join(lex, "doc_id").join(rep, "doc_id")
    checks = [
        ("too_short", F.col("n_tokens") < min_tokens),
        ("repetitive", F.col("top_token_frac") > max_top_token_frac),
        ("non_alpha", F.col("alpha_ratio") < min_alpha_ratio),
        ("long_token", F.col("max_token_len") > max_token_len),
        ("no_stopwords", F.col("stopword_ratio") < min_stopword_ratio),
    ]
    return j, checks


def quality_filter(docs: DataFrame,
                   stopwords: list[str] = DEFAULT_STOPWORDS,
                   min_tokens: int = 10,
                   max_top_token_frac: float = 0.2,
                   min_alpha_ratio: float = 0.8,
                   max_token_len: int = 20,
                   min_stopword_ratio: float = 0.0) -> DataFrame:
    """Composite Gopher/C4-style keep/drop decision per document, with
    machine-readable reasons — the curation step that actually gates a
    training set (RefinedWeb/Dolma shape: many cheap signals, one verdict).

    All signals are computed in ONE pass over the corpus: the repetition
    branch is a two-level hash-agg, the lexical branch is per-row codegen,
    joined back on doc_id (co-partitioned). ``reasons`` is a sorted
    comma-joined string (scalar, oracle-hashable)."""
    j, checks = _quality_checks(docs, stopwords, min_tokens,
                                max_top_token_frac, min_alpha_ratio,
                                max_token_len, min_stopword_ratio)
    reasons = F.array_compact(F.array(*[
        F.when(cond, F.lit(name)) for name, cond in checks
    ]))
    return j.select(
        "doc_id",
        (F.size(reasons) == 0).alias("keep"),
        F.concat_ws(",", F.array_sort(reasons)).alias("reasons"),
    )


def quality_funnel(docs: DataFrame,
                   stopwords: list[str] = DEFAULT_STOPWORDS,
                   min_tokens: int = 10,
                   max_top_token_frac: float = 0.2,
                   min_alpha_ratio: float = 0.8,
                   max_token_len: int = 20,
                   min_stopword_ratio: float = 0.0) -> DataFrame:
    """Rejection funnel over the composite quality filter — the
    "documents removed per rule, applied in order" table every published
    pipeline reports (C4 §2.2, Gopher A.1.1, RefinedWeb tbl. 2). Each
    document is attributed to its FIRST failing rule (the stage that
    would have killed it in a sequential pipeline), so the stage counts
    sum to total − survivors with no double counting.

    Scale shape: the same one-pass signal join as [[quality_filter]],
    reduced by a single ≤6-group hash-agg (first-fail index); everything
    after is arithmetic on the 5-row rule table (cumulative window over 5
    rows, corpus total as one metadata scalar). Zero-rejection rules
    still emit their row.

    Returns (stage, rule, n_rejected, n_surviving, rejected_share_bp)
    ordered by stage; ``n_surviving`` after the last stage is the kept
    count.
    """
    from pyspark.sql import Window

    j, checks = _quality_checks(docs, stopwords, min_tokens,
                                max_top_token_frac, min_alpha_ratio,
                                max_token_len, min_stopword_ratio)
    first_fail = F.coalesce(
        *[F.when(cond, F.lit(i + 1)) for i, (_, cond) in enumerate(checks)],
        F.lit(0))
    per = (j.select(first_fail.alias("stage"))
           .groupBy("stage").agg(F.count("*").cast("long").alias("n")))
    spark = docs.sparkSession
    names = spark.createDataFrame(
        [(i + 1, name) for i, (name, _) in enumerate(checks)],
        "stage int, rule string")
    total = docs.count()
    w = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, 0)
    return (
        names.join(per, "stage", "left")
        .withColumn("n_rejected", F.coalesce("n", F.lit(0)))
        .withColumn("cum", F.sum("n_rejected").over(w))
        .select(
            F.col("stage").cast("long").alias("stage"), "rule", "n_rejected",
            (F.lit(total) - F.col("cum")).alias("n_surviving"),
            F.expr(f"CAST(n_rejected * 10000 DIV {max(total, 1)} AS BIGINT)")
            .alias("rejected_share_bp"))
        .orderBy("stage")
    )


def ngram_cross_contamination(train: DataFrame, eval_docs: DataFrame,
                              n: int = 5) -> DataFrame:
    """Train-vs-eval n-gram leakage — the actual decontamination check
    (``ngram_contamination`` measures intra-corpus overlap; THIS is the one
    that gates a training set against its benchmark suite): per train
    document, the fraction of its distinct token n-grams that occur
    anywhere in the eval corpus.

    Scale shape: the eval side reduces to a DISTINCT gram set (typically
    ≪ train: benchmarks are small) — Spark broadcasts it when it fits,
    falls back to a shuffled semi-join when it doesn't; either way the
    train side streams through once. Left-join + conditional count keeps
    zero-leak documents in the output (a dropped row would read as
    "not checked")."""
    def grams(d: DataFrame) -> DataFrame:
        g = gram_fp64_expr(n)
        return with_tokens(d).select("doc_id", F.explode(F.array_distinct(g)).alias("g"))

    eval_grams = grams(eval_docs).select("g").distinct().withColumn("hit", F.lit(1))
    return (
        grams(train).join(eval_grams, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_leaked"),
        )
        .select(
            "doc_id", "n_grams", "n_leaked",
            F.round(F.col("n_leaked") / F.col("n_grams"), 6).alias("leak_frac"),
        )
    )


def length_percentiles(docs: DataFrame) -> DataFrame:
    """Corpus length distribution: exact p10/p50/p90 of ``n_chars`` — the
    numbers a length-filter threshold is read off of. Spark's exact
    ``percentile`` (linear interpolation) matches DuckDB's ``quantile_cont``
    bit-for-bit at these scales; at 100 TB swap in ``percentile_approx``
    (t-digest, one pass, mergeable) and accept the documented error bound."""
    p = F.expr("percentile(n_chars, array(0.1, 0.5, 0.9))")
    return docs.agg(
        F.round(p[0], 6).alias("p10"),
        F.round(p[1], 6).alias("p50"),
        F.round(p[2], 6).alias("p90"),
    )


# RE2-compatible (no lookaround/backrefs) so Java regex and the DuckDB
# oracle agree character-for-character; \b is the ASCII word boundary in both
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b[6-9][0-9]{9}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "pan": r"\b[A-Z]{5}[0-9]{4}[A-Z]\b",
}


def pii_density(docs: DataFrame) -> DataFrame:
    """Per-document PII exposure scoring — the privacy gate a pretraining
    corpus passes before release: count matches of each PII class (email,
    10-digit mobile, SSN-style, PAN-style — the same classes the redaction
    kernel's banks target) and report a per-100-chars density.

    Pure Catalyst: ``regexp_extract_all`` + ``size`` per class, one
    projection, no shuffle — scans at parquet speed and the filter
    ``pii_per_100c > t`` pushes down on top of it.
    Output: (doc_id, n_email, n_phone, n_ssn, n_pan, n_pii, pii_per_100c)."""
    counts = [
        F.size(F.regexp_extract_all("text", F.lit(p), F.lit(0))).alias(f"n_{k}")
        for k, p in PII_PATTERNS.items()
    ]
    d = docs.select("doc_id", "text", *counts)
    total = sum((F.col(f"n_{k}") for k in PII_PATTERNS), F.lit(0))
    return d.select(
        "doc_id",
        *[f"n_{k}" for k in PII_PATTERNS],
        total.alias("n_pii"),
        F.round(total * 100.0 / F.length("text"), 6).alias("pii_per_100c"),
    )


def repeated_substring_spans(docs: DataFrame, n: int = 8,
                             min_docs: int = 2) -> DataFrame:
    """Exact repeated-substring detection in token space — the span-level
    dedup step (à la "Deduplicating Training Data Makes Language Models
    Better"): find every n-token gram occurring in ≥ ``min_docs`` documents,
    map each occurrence back to its token positions, and merge overlapping
    occurrences into maximal spans to trim.

    Shape at scale: gram fingerprints are 60-bit md5 longs (fixed 8-byte
    shuffle keys);
    document frequency is one hash-agg; the join back to positions is
    gram-keyed (the same inverted-index shape as sparse_cosine_pairs); span
    merging is the gaps-and-islands window per document — all JVM, no
    Python. A suffix-array build would find arbitrary-length repeats but
    doesn't distribute; fixed-n grams + merging recovers long repeats as
    merged islands, which is the standard large-scale approximation.

    Output: (doc_id, span_start, span_end, n_occ) — token index ranges,
    end exclusive; n_occ = repeated-gram occurrences merged into the span.
    """
    from pyspark.sql import Window

    grams = gram_fp64_expr(n)
    g = with_tokens(docs).select(
        "doc_id", F.posexplode(grams).alias("pos0", "g"))
    # pos0 is 0-based; occurrence covers tokens [pos0, pos0 + n)
    dfc = g.groupBy("g").agg(F.count_distinct("doc_id").alias("df"))
    rep = g.join(dfc.filter(F.col("df") >= min_docs), "g").select(
        "doc_id", F.col("pos0").alias("s"), (F.col("pos0") + n).alias("e"))
    # gaps-and-islands: a new span starts when this occurrence begins after
    # every previous occurrence's end
    w = Window.partitionBy("doc_id").orderBy("s")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = rep.withColumn(
        "new_span", F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-1)), 1)
        .otherwise(0))
    spans = flagged.withColumn(
        "span_id", F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        spans.groupBy("doc_id", "span_id")
        .agg(F.min("s").alias("span_start"), F.max("e").alias("span_end"),
             F.count("*").alias("n_occ"))
        .select("doc_id", "span_start", "span_end", "n_occ")
    )


def clip_repeated_substrings(docs: DataFrame, n: int = 8,
                             min_docs: int = 2) -> DataFrame:
    """ExactSubstr span clipping — the removal half of "Deduplicating
    Training Data Makes Language Models Better" (Lee et al. 2022): take the
    maximal repeated-token spans from :func:`repeated_substring_spans` and
    emit each document's text with every repeated span cut out (all copies
    removed — the paper's simple policy; a keep-one-copy policy is a filter
    on the span table upstream of this join, not a different clip).

    Shape at scale: merged spans per document are metadata-sized (islands,
    not occurrences), so the per-doc collect_list is a bounded hash-agg and
    the join back to documents is doc_id-keyed — docs with no repeats take
    the left-join null branch and pass through untouched. The cut itself is
    one indexed filter HOF over the token array: pure Catalyst, no Python,
    no shuffle beyond the span finder's own.

    Output: (doc_id, clean_text, n_tokens, n_removed); n_tokens is the
    pre-clip token count, n_removed how many token positions the spans
    covered.
    """
    spans = repeated_substring_spans(docs, n=n, min_docs=min_docs)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct(F.col("span_start").alias("s"),
                                F.col("span_end").alias("e"))).alias("spans"))
    d = with_tokens(docs).select("doc_id", "tokens")
    joined = d.join(per_doc, "doc_id", "left")
    kept = F.expr(
        "CASE WHEN spans IS NULL THEN tokens"
        " ELSE filter(tokens, (t, i) ->"
        "  NOT exists(spans, sp -> i >= sp.s AND i < sp.e)) END")
    return joined.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size("tokens").cast("long").alias("n_tokens"),
        (F.size("tokens") - F.size(kept)).cast("long").alias("n_removed"),
    )


def bpe_pair_counts(docs: DataFrame, k: int = 30) -> DataFrame:
    """Top-k adjacent symbol-pair frequencies — THE distributed step of BPE
    tokenizer training (Sennrich et al. 2016): every merge iteration is this
    count over the current vocabulary; the argmax merge itself is a
    driver-side scalar on a table of distinct pairs (tiny at any corpus
    scale).

    Shape: distinct-word pre-aggregation first (one hash-agg — corpora are
    Zipf-distributed, so this collapses 100 TB of tokens into a vocab-sized
    table), then per-word character pairs weighted by word frequency (one
    more hash-agg). Pure Catalyst: regexp char split + HOF zip of the array
    with its own tail.

    Returns (sym_a, sym_b, pair_count, rank) for the k most frequent pairs,
    rank tie-broken lexicographically for determinism.
    """
    from pyspark.sql import Window

    words = (
        docs.select(F.explode(F.split(F.trim("text"), TOKEN_SPLIT)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count("*").cast("long").alias("wcount"))
    )
    syms = words.select(
        "wcount", F.regexp_extract_all("w", F.lit("."), F.lit(0)).alias("syms"))
    pairs = syms.filter(F.size("syms") >= 2).select(
        "wcount",
        F.explode(
            F.zip_with(
                F.slice("syms", 1, F.size("syms") - 1),
                F.slice("syms", 2, F.size("syms") - 1),
                lambda a, b: F.struct(a.alias("sym_a"), b.alias("sym_b")),
            )
        ).alias("p"),
    )
    counts = pairs.groupBy(F.col("p.sym_a").alias("sym_a"),
                           F.col("p.sym_b").alias("sym_b")).agg(
        F.sum("wcount").cast("long").alias("pair_count"))
    w = Window.orderBy(F.desc("pair_count"), F.asc("sym_a"), F.asc("sym_b"))
    return (counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def chunk_documents(docs: DataFrame, chunk_tokens: int = 64,
                    overlap: int = 16) -> DataFrame:
    """Overlapping token-window chunking — the embedding/RAG preprocessing
    step (every chunk is what gets embedded or retrieved). Chunk i covers
    tokens [i*stride, i*stride + chunk_tokens) with stride =
    chunk_tokens - overlap; starts are 0, stride, 2*stride, … < n_tokens,
    so the final chunk may be short but no token is dropped.

    Pure per-row Catalyst (sequence + transform + slice): zero shuffles,
    ~n/stride output rows per doc — the explode factor is the only cost, so
    this scales as a map-only stage at any corpus size.

    Returns (doc_id, chunk_id, start_tok, n_tok, chunk_text).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    d = with_tokens(docs).select(
        "doc_id", "tokens", F.size("tokens").alias("n_tokens"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("n_tokens") - 1, F.lit(0)), F.lit(stride))
    return (
        d.filter(F.col("n_tokens") > 0)
        .select("doc_id", "tokens", F.posexplode(starts).alias("chunk_id", "start_tok"))
        .select(
            "doc_id",
            "chunk_id",
            "start_tok",
            F.size(F.slice("tokens", F.col("start_tok") + 1, chunk_tokens)).alias("n_tok"),
            F.concat_ws(" ", F.slice("tokens", F.col("start_tok") + 1, chunk_tokens)).alias("chunk_text"),
        )
    )


def _bpe_apply(word: str, ranks: dict) -> list:
    """Greedy BPE segmentation of one word under a learned merge table:
    repeatedly fuse the best-ranked adjacent pair (classic Sennrich apply).
    Used inside Arrow batches over the DISTINCT-WORD table only — the Zipf
    collapse means this per-word Python cost is paid once per vocabulary
    entry, never once per corpus token."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def _word_counts(docs: DataFrame) -> DataFrame:
    return (
        docs.select(F.explode(F.split(F.trim("text"), TOKEN_SPLIT)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count("*").cast("long").alias("wcount"))
    )


def bpe_learn(docs: DataFrame, n_merges: int = 20) -> list:
    """Distributed BPE training (Sennrich et al. 2016): each merge iteration
    is a pair-count over the current segmentation of the distinct-word
    table (Arrow pass, vocab-sized) followed by a deterministic argmax
    (count desc, then lexicographic pair). The corpus is scanned ONCE (the
    word-count hash-agg, cached); every later iteration touches only the
    vocabulary. Production trainers incrementalize the recount; the
    re-apply-from-scratch here keeps the kernel obviously correct.

    Returns the ordered merge list [(sym_a, sym_b), ...].
    """
    words = _word_counts(docs)
    words.persist()
    try:
        merges: list = []
        for _ in range(n_merges):
            ranks = {m: i for i, m in enumerate(merges)}

            def run(batches, ranks=ranks):
                import pandas as pd
                for pdf in batches:
                    counts: dict = {}
                    for w, c in zip(pdf["w"], pdf["wcount"]):
                        syms = _bpe_apply(w, ranks)
                        for i in range(len(syms) - 1):
                            k = (syms[i], syms[i + 1])
                            counts[k] = counts.get(k, 0) + int(c)
                    yield pd.DataFrame(
                        {"sym_a": [k[0] for k in counts],
                         "sym_b": [k[1] for k in counts],
                         "pair_count": list(counts.values())})

            best = (
                words.mapInPandas(run, "sym_a string, sym_b string, pair_count long")
                .groupBy("sym_a", "sym_b")
                .agg(F.sum("pair_count").alias("pair_count"))
                .orderBy(F.desc("pair_count"), F.asc("sym_a"), F.asc("sym_b"))
                .take(1)
            )
            if not best:
                break
            merges.append((best[0].sym_a, best[0].sym_b))
        return merges
    finally:
        words.unpersist()


def bpe_encode(docs: DataFrame, merges: list) -> DataFrame:
    """Apply a learned merge table to the corpus: segment each DISTINCT
    word once (Arrow pass over the vocab-sized table), then join the
    pieces back onto the token stream — the join is on the word string, so
    at 100 TB this is one broadcast/shuffle join of corpus tokens against a
    vocabulary, never per-token Python.

    Returns (doc_id, word_pos, piece_pos, piece) — the full encoded stream.
    """
    ranks = {tuple(m): i for i, m in enumerate(merges)}

    def run(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({
                "w": pdf["w"],
                "pieces": [_bpe_apply(w, ranks) for w in pdf["w"]],
            })

    seg = _word_counts(docs).select("w").mapInPandas(
        run, "w string, pieces array<string>")
    toks = (
        docs.select("doc_id",
                    F.posexplode(F.split(F.trim("text"), TOKEN_SPLIT))
                    .alias("word_pos", "w"))
        .filter(F.col("w") != "")
    )
    return (
        toks.join(seg, "w")
        .select("doc_id", "word_pos",
                F.posexplode("pieces").alias("piece_pos", "piece"))
    )


def tokenizer_fertility(docs: DataFrame, merges: list) -> DataFrame:
    """Tokenizer fertility audit: mean subword pieces per whitespace word,
    grouped by ``lang`` — THE standard multilingual
    tokenizer-quality table (XLM-R, BLOOM report it per language): a merge
    table trained on a skewed language mix shows fertility blow-up on the
    underrepresented languages, directly inflating their effective sequence
    length and per-token training cost.

    Scale shape: the encoded piece stream is NEVER materialized. The 100 TB
    token stream is touched exactly once — the (group, word) hash-agg with
    map-side combine, Zipf-collapsed to ≈|groups|×vocab rows — then the
    distinct vocabulary is segmented once in a vectorized Arrow pass and
    joined back (vocab vs vocab, broadcast-sized), and the audit is one
    tiny group agg. Ratios are fixed-point over DECIMAL(38,0) (then BIGINT)
    so they are engine-exact and overflow-proof at 10^14 pieces (a BIGINT
    ``n_pieces·1e6`` would wrap past ~9.2e12 words).

    Returns (lang, n_words, n_pieces, n_chars, fertility_e6,
    continuation_bp, chars_per_piece_e6), one row per group, ordered.
    """
    ranks = {tuple(m): i for i, m in enumerate(merges)}

    def run(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({
                "w": pdf["w"],
                "n_pieces_w": [len(_bpe_apply(w, ranks)) for w in pdf["w"]],
            })

    gw = (
        docs.select(F.col("lang").alias("grp"),
                    F.explode(F.split(F.trim("text"), TOKEN_SPLIT)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("grp", "w").agg(F.count("*").cast("long").alias("wcount"))
    )
    seg = gw.select("w").distinct().mapInPandas(
        run, "w string, n_pieces_w long")
    out = (
        gw.join(seg, "w")
        .groupBy("grp")
        .agg(F.sum("wcount").alias("n_words"),
             F.sum(F.col("wcount") * F.col("n_pieces_w")).alias("n_pieces"),
             F.sum(F.col("wcount") * F.length("w")).alias("n_chars"))
    )
    return out.select(
        F.col("grp").alias("lang"),
        "n_words", "n_pieces", "n_chars",
        F.expr("CAST(CAST(n_pieces AS DECIMAL(38,0)) * 1000000"
               " DIV n_words AS BIGINT)").alias("fertility_e6"),
        F.expr("CAST(CAST(n_pieces - n_words AS DECIMAL(38,0)) * 10000"
               " DIV n_pieces AS BIGINT)").alias("continuation_bp"),
        F.expr("CAST(CAST(n_chars AS DECIMAL(38,0)) * 1000000"
               " DIV n_pieces AS BIGINT)").alias("chars_per_piece_e6"),
    ).orderBy("lang")


def pmi_collocations(docs: DataFrame, min_count: int = 5,
                     k: int = 30) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information
    (Church & Hanks 1990): PMI(x,y) = ln(p(xy) / (p(x)·p(y))) over adjacent
    token pairs — the classic phrase-mining signal for tokenizer seeding and
    corpus analysis.

    Shape at 100 TB: the corpus collapses to two hash-aggs (unigram and
    bigram vocabularies — Zipf-small next to the token stream, both with
    map-side combine); the unigram table then joins onto the bigram table
    twice by broadcast, and the two scalar totals ride a pmod-key 1-row
    BroadcastHashJoin (same no-BNLJ trick as bm25). Final top-k is
    TakeOrderedAndProject. No shuffle ever carries more than vocab-sized
    data after the two aggs.

    Determinism: the probability ratio is computed as one fixed
    parenthesization over exact integer counts —
    ((c_xy·N)·N) / ((NB·c_x)·c_y) — so both engines execute the identical
    IEEE op sequence; the single ln is rounded to 6.

    Output: (x, y, c_xy, pmi), k rows, ties broken on (x, y).
    """
    d = with_tokens(docs)
    toks = (
        d.select(F.explode("tokens").alias("t"))
        .filter(F.col("t") != "")
    )
    uni = toks.groupBy("t").agg(F.count("*").cast("long").alias("c"))
    pairs = (
        d.filter(F.size("tokens") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("tokens", 1, F.size("tokens") - 1),
                    F.slice("tokens", 2, F.size("tokens") - 1),
                    lambda a, b: F.struct(a.alias("x"), b.alias("y")),
                )
            ).alias("p")
        )
        .select("p.x", "p.y")
        .filter((F.col("x") != "") & (F.col("y") != ""))
    )
    big = pairs.groupBy("x", "y").agg(F.count("*").cast("long").alias("c_xy"))

    n_tok = (uni.agg(F.sum("c").alias("n_tokens"))
             .withColumn("__k", F.pmod(F.col("n_tokens"), F.lit(1))))
    n_big = (big.agg(F.sum("c_xy").alias("n_bigrams"))
             .withColumn("__k", F.pmod(F.col("n_bigrams"), F.lit(1))))
    stats = n_tok.join(F.broadcast(n_big), "__k")

    cx = uni.select(F.col("t").alias("x"), F.col("c").alias("c_x"))
    cy = uni.select(F.col("t").alias("y"), F.col("c").alias("c_y"))
    ratio = (
        (F.col("c_xy").cast("double") * F.col("n_tokens") * F.col("n_tokens"))
        / (F.col("n_bigrams").cast("double") * F.col("c_x") * F.col("c_y"))
    )
    scored = (
        big.filter(F.col("c_xy") >= min_count)
        .join(F.broadcast(cx), "x")
        .join(F.broadcast(cy), "y")
        .withColumn("__k", F.pmod(F.col("c_xy"), F.lit(1)))
        .join(F.broadcast(stats), "__k")
        .select("x", "y", "c_xy", F.round(F.log(ratio), 6).alias("pmi"))
    )
    return (scored
            .orderBy(F.col("pmi").desc(), F.col("x").asc(), F.col("y").asc())
            .limit(k))


def normalize_ccnet(col) -> F.Column:
    """CCNet-style dedup normalization (Wenzek 2020 §4.1 analog): lowercase,
    every digit → 0, common accents folded, punctuation → space, whitespace
    collapsed+trimmed. Hashing THIS string (not the raw text) is what lets
    exact dedup catch trivially-reformatted copies. Map-only codegen —
    lower/translate/regexp_replace — no shuffle, no UDF."""
    c = F.lower(col)
    c = F.regexp_replace(c, "[0-9]", "0")
    c = F.translate(c, "áàâäéèêëíìîïóòôöúùûüçñ", "aaaaeeeeiiiioooouuuucn")
    c = F.regexp_replace(c, r"[^\w\s]", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def dedup_normalized(docs: DataFrame) -> DataFrame:
    """Exact dedup over the CCNet-normalized fingerprint: one hash-agg on
    md5(normalize(text)) — map-side combine applies, the group key is a
    32-byte digest regardless of document size. Returns
    (norm_fp, rep_doc_id, n_members) per normalized-identical group
    (representative = lowest doc_id, the usual deterministic keep rule)."""
    return (
        docs.select("doc_id", F.md5(normalize_ccnet(F.col("text"))).alias("norm_fp"))
        .groupBy("norm_fp")
        .agg(F.min("doc_id").alias("rep_doc_id"),
             F.count("*").cast("long").alias("n_members"))
    )


def encoding_quality(docs: DataFrame) -> DataFrame:
    """Encoding-health signals per document (the ftfy/cleaning stage of a
    web-corpus build): U+FFFD replacement-char count, C0 control-char
    count, the 'Ã' UTF-8-read-as-Latin-1 mojibake signature count, and the
    non-ASCII character fraction; ``keep`` = no corruption markers and
    non-ASCII below 30%.

    Counting is done by length differences after literal/regexp strips —
    lower/replace/regexp_replace/length only, so the whole operator is
    map-only codegen with zero shuffles and pushes down past any later
    join. Output: (doc_id, n_repl, n_ctrl, n_mojibake, nonascii_frac,
    keep)."""
    t = F.col("text")
    n = F.length(t)
    n_repl = n - F.length(F.replace(t, F.lit("�"), F.lit("")))
    n_ctrl = n - F.length(
        F.regexp_replace(t, r"[\x00-\x08\x0B\x0C\x0E-\x1F]", ""))
    n_moji = n - F.length(F.replace(t, F.lit("Ã"), F.lit("")))
    n_ascii = F.length(F.regexp_replace(t, r"[^\x00-\x7F]", ""))
    frac = F.round((n - n_ascii) / n, 6)
    return docs.select(
        "doc_id",
        n_repl.cast("long").alias("n_repl"),
        n_ctrl.cast("long").alias("n_ctrl"),
        n_moji.cast("long").alias("n_mojibake"),
        frac.alias("nonascii_frac"),
        ((n_repl == 0) & (n_ctrl == 0) & (n_moji == 0) & (frac <= 0.3))
        .alias("keep"),
    )


def profile_table(df: DataFrame) -> DataFrame:
    """One-pass data profiler: per column, row count, null count, exact
    distinct count, and min/max (stringified) — the ingest-validation step
    every corpus refresh runs before anything downstream trusts the data.

    Single aggregate over the table (all columns' stats in one pass;
    Catalyst plans the multi-column count-distinct as one Expand — the
    documented cost; swap ``approx_count_distinct`` in when exactness
    doesn't matter at 100 TB), then an explode-of-structs unpivot that
    never touches the data again. Output: (column, n_rows, n_nulls,
    n_distinct, min_value, max_value)."""
    cols = df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            F.count_distinct(c).alias(f"{c}__nd"),
            F.min(c).cast("string").alias(f"{c}__mn"),
            F.max(c).cast("string").alias(f"{c}__mx"),
        ]
    one = df.agg(*aggs)
    packed = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").cast("long").alias("n_rows"),
            (F.col("__n") - F.col(f"{c}__nn")).cast("long").alias("n_nulls"),
            F.col(f"{c}__nd").cast("long").alias("n_distinct"),
            F.col(f"{c}__mn").alias("min_value"),
            F.col(f"{c}__mx").alias("max_value"),
        ) for c in cols])
    return one.select(F.explode(packed).alias("p")).select("p.*")


def length_outliers(docs: DataFrame) -> DataFrame:
    """Robust per-group outlier flags on document length: median + MAD
    (median absolute deviation) — the corpus-QA step that catches truncated
    or concatenated documents without a distribution assumption (unlike
    z-scores, one 100 MB page cannot drag the threshold).

    Two tiny per-group aggregates (exact ``percentile`` here —
    ``percentile_approx`` at 100 TB, same plan) broadcast back onto the
    rows; everything else is map-side arithmetic. Medians of integers land
    on halves, so med/MAD/threshold are binary-exact doubles and the flag
    can never drift cross-engine.

    Output: (doc_id, source, n_chars, med, mad, is_outlier); outliers lie
    more than 3 MADs from their source's median."""
    med = docs.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.5)").alias("med"))
    dev = (docs.join(F.broadcast(med), "source")
           .withColumn("adev", F.abs(F.col("n_chars") - F.col("med"))))
    mad = dev.groupBy("source").agg(
        F.expr("percentile(adev, 0.5)").alias("mad"))
    return (dev.join(F.broadcast(mad), "source")
            .select("doc_id", "source", "n_chars", "med", "mad",
                    (F.abs(F.col("n_chars") - F.col("med"))
                     > F.lit(3.0) * F.col("mad")).alias("is_outlier")))


def source_kl_divergence(docs: DataFrame) -> DataFrame:
    """Per-source token-distribution drift: KL(source ‖ corpus) =
    Σ_t p_s(t)·ln(p_s(t)/p(t)) — the monitoring stat a recurring crawl
    refresh watches to catch a source whose content distribution shifted
    (spam flood, template change) before it pollutes the training mix.

    Shape: one (source, token) hash-agg collapses the corpus; the corpus
    marginal is a second vocab-sized agg broadcast back; per-source totals
    ride a tiny broadcast too. Determinism: the ratio is one fixed
    parenthesization over exact integer counts, (c_st·N)/(n_s·c_t);
    per-term contributions round to 9 before the sum, the sum to 6 (the
    bm25 cross-engine rule).

    Output: (source, n_tokens, kl)."""
    st = (
        docs.select("source",
                    F.explode(F.split(F.trim("text"), TOKEN_SPLIT)).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("source", "t").agg(F.count("*").cast("long").alias("c_st"))
    )
    per_source = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    marginal = st.groupBy("t").agg(F.sum("c_st").alias("c_t"))
    total = (marginal.agg(F.sum("c_t").alias("n_total"))
             .withColumn("__k", F.pmod(F.col("n_total"), F.lit(1))))
    ratio = ((F.col("c_st").cast("double") * F.col("n_total"))
             / (F.col("n_s").cast("double") * F.col("c_t")))
    contrib = F.round((F.col("c_st").cast("double") / F.col("n_s"))
                      * F.log(ratio), 9)
    return (
        st.join(F.broadcast(per_source), "source")
        .join(F.broadcast(marginal), "t")
        .withColumn("__k", F.pmod(F.col("c_st"), F.lit(1)))
        .join(F.broadcast(total), "__k")
        .withColumn("contrib", contrib)
        .groupBy("source")
        .agg(F.first("n_s").alias("n_tokens"),
             F.round(F.sum("contrib"), 6).alias("kl"))
    )


def char_entropy(docs: DataFrame) -> DataFrame:
    """Character-level Shannon entropy per document — the gibberish /
    base64-blob / keyboard-mash detector (natural language sits ~3.5–4.5
    bits; runs of one char near 0; random base64 near 6).

    Entirely per-row higher-order functions (sequence → substr chars,
    array_distinct, filter-count per distinct char): map-only, zero
    shuffles, O(distinct·len) per row bounded by the alphabet. Per-char
    contributions p·ln(1/p) are round-9 over exact integer count ratios,
    the sum round-6 (list order may differ per engine; drift is 1e-15).

    Output: (doc_id, n_chars_used, n_distinct_chars, entropy_nats)."""
    chars = "transform(sequence(1, length(text)), i -> substr(text, i, 1))"
    cnt = f"size(filter({chars}, c -> c = d))"
    e = (
        f"CASE WHEN length(text) = 0 THEN CAST(0.0 AS DOUBLE) ELSE "
        f"round(aggregate(array_distinct({chars}), CAST(0.0 AS DOUBLE), "
        f"(acc, d) -> acc + round((CAST({cnt} AS DOUBLE) / length(text)) * "
        f"ln(CAST(length(text) AS DOUBLE) / {cnt}), 9)), 6) END"
    )
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_used"),
        F.size(F.expr(f"array_distinct({chars})")).cast("long")
        .alias("n_distinct_chars"),
        F.expr(e).alias("entropy_nats"),
    )


def decorated_lines(docs: DataFrame) -> DataFrame:
    """Deterministic 'web-shaped' line view of the token corpus: chunk each
    document's tokens into 8-token lines, then decorate line i
    from the first hex digit d of md5(doc_id:ln:i) — bullet prefix ``- ``
    for d<3, trailing ``...`` for d in 3..4, terminal ``.`` for d in 5..10,
    bare otherwise. Pure Catalyst HOFs, mirrored 1:1 by the DuckDB oracle
    (same construction discipline as extraction.as_html): the corpus tables
    carry no line structure, so the structure a Gopher-rule pass consumes is
    synthesized; only the synthesis is fake, the rule engine below is the
    product."""
    return docs.withColumn(
        "lines",
        F.expr("""
          transform(
            sequence(0, CAST(ceil(size(split(text, ' ')) / 8) AS INT) - 1),
            i -> concat(
              CASE WHEN conv(substring(md5(concat(doc_id, ':ln:', CAST(i AS STRING))), 1, 1), 16, 10) < 3
                   THEN '- ' ELSE '' END,
              array_join(slice(split(text, ' '), i*8 + 1, 8), ' '),
              CASE WHEN conv(substring(md5(concat(doc_id, ':ln:', CAST(i AS STRING))), 1, 1), 16, 10) BETWEEN 3 AND 4
                   THEN '...'
                   WHEN conv(substring(md5(concat(doc_id, ':ln:', CAST(i AS STRING))), 1, 1), 16, 10) BETWEEN 5 AND 10
                   THEN '.' ELSE '' END))
        """))


def gopher_line_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style line-shape quality rules (Rae et al. 2021 §A1.1): the
    fraction of lines that are bullets, that trail off in an ellipsis, that
    end in terminal punctuation, and the duplicate-line fraction — plus the
    keep flag at the paper's thresholds (<=90% bullets, <=30% ellipses).
    Map-only per-row HOF arithmetic over the decorated-line view: zero
    shuffles, embarrassingly scalable; ratios are round-6 over exact integer
    counts so engines agree."""
    d = decorated_lines(docs)
    n = F.size("lines")
    bullets = F.size(F.expr("filter(lines, x -> x LIKE '- %')"))
    ellipses = F.size(F.expr("filter(lines, x -> x LIKE '%...')"))
    punctend = F.size(F.expr("filter(lines, x -> x LIKE '%.')"))
    distinct = F.size(F.array_distinct("lines"))
    return d.select(
        "doc_id",
        n.cast("long").alias("n_lines"),
        F.round(bullets / n, 6).alias("bullet_frac"),
        F.round(ellipses / n, 6).alias("ellipsis_frac"),
        F.round(punctend / n, 6).alias("punct_end_frac"),
        F.round(F.lit(1.0) - distinct / n, 6).alias("dup_line_frac"),
        ((bullets / n <= 0.9) & (ellipses / n <= 0.3))
        .alias("keep"),
    )


def langid_confusion(docs: DataFrame) -> DataFrame:
    """Classifier-eval cross-tab for the language-ID heuristic: predicted
    class distribution per true ``lang`` label, shares in integer basis
    points — the audit a real pipeline publishes before trusting a cheap
    classifier to route 10^12 documents.

    Composition over :func:`langid` (the operator under test pays the scan;
    evaluation is one (label, prediction) hash-agg + a broadcast of the
    |labels|-row totals). Returns (lang, lang_guess, n, share_bp)."""
    p = langid(docs).select("lang", "lang_guess")
    counts = p.groupBy("lang", "lang_guess").agg(F.count("*").alias("n"))
    totals = counts.groupBy("lang").agg(F.sum("n").alias("row_total"))
    return (
        counts.join(F.broadcast(totals), "lang")
        .select("lang", "lang_guess", "n",
                F.expr("CAST(n * 10000 DIV row_total AS BIGINT)").alias("share_bp"))
    )


def zipf_fit(docs: DataFrame, top_n: int = 200,
             min_count: int = 2) -> DataFrame:
    """Zipf power-law fit per source: OLS slope of ln(freq) on ln(rank)
    over each source's ``top_n`` tokens — the standard corpus-health probe
    (natural language sits near slope −1; machine-generated or
    template-heavy sources drift shallow/steep, so the slope is a cheap
    source-level quality gate alongside [[text_source_kl]]).

    Determinism discipline (same as lm.py): every ln and every product is
    F.round()-ed to 6 decimals BEFORE summation and each sum re-rounded,
    so engine-order float drift cannot reach the released digits. Rank
    ties break lexicographically.

    Scale shape: one (source, token) hash-agg over the scan, a per-source
    top-``top_n`` window on the (vocab-sized, Zipf-small) count table, and
    a final per-source agg over ≤ top_n rows. Output: one row per source.
    """
    from pyspark.sql import Window

    counts = (
        with_tokens(docs)
        .select("source", F.explode("tokens").alias("tok"))
        .where(F.length("tok") > 0)
        .groupBy("source", "tok").agg(F.count("*").alias("c"))
        .where(F.col("c") >= min_count))
    w = Window.partitionBy("source").orderBy(F.col("c").desc(),
                                             F.col("tok").asc())
    ranked = (counts.withColumn("r", F.row_number().over(w))
              .where(F.col("r") <= top_n))
    x = F.round(F.log(F.col("r").cast("double")), 6)
    y = F.round(F.log(F.col("c").cast("double")), 6)
    terms = ranked.select(
        "source", x.alias("x"), y.alias("y"),
        F.round(x * y, 6).alias("xy"), F.round(x * x, 6).alias("xx"))
    agg = terms.groupBy("source").agg(
        F.count("*").alias("n_terms"),
        F.round(F.sum("x"), 6).alias("sx"),
        F.round(F.sum("y"), 6).alias("sy"),
        F.round(F.sum("xy"), 6).alias("sxy"),
        F.round(F.sum("xx"), 6).alias("sxx"))
    # + 0.0 collapses IEEE negative zero (a flat fit rounds to -0.0 in one
    # engine and +0.0 in another; %.6g then formats them differently)
    slope = F.round(
        (F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n_terms") * F.col("sxx") - F.col("sx") * F.col("sx")), 6) + F.lit(0.0)
    return (agg.where(F.col("n_terms") >= 3)
            .withColumn("slope", slope)
            .select("source", "n_terms", "slope",
                    (F.round((F.col("sy") - F.col("slope") * F.col("sx"))
                             / F.col("n_terms"), 6) + F.lit(0.0))
                    .alias("intercept")))


def source_overlap(docs: DataFrame, n: int = 5) -> DataFrame:
    """Cross-source n-gram containment matrix — the dedup-PLANNING view
    (which crawls/dumps overlap, and how asymmetrically) you consult
    before spending a corpus-wide pairwise dedup: for every source pair,
    |grams(A) ∩ grams(B)| and containment in basis points of each side
    (asymmetric on purpose: a small source swallowed by a big one shows
    cont_a_bp ≈ 10000 while cont_b_bp stays low).

    Scale shape: the corpus collapses to DISTINCT (source, gram) first —
    vocabulary-sized, Zipf-small — then the self-equi-join on the 8-byte
    gram fingerprint fans out at most |sources|² per gram, and the output
    is ≤ C(|sources|, 2) rows at any corpus size. Containment folds
    through DECIMAL(38,0) so the ×10⁴ cannot wrap.
    """
    g = (with_tokens(docs)
         .select("source", F.explode(gram_fp64_expr(n)).alias("gr"))
         .distinct())
    tot = g.groupBy("source").agg(F.count("*").alias("n_grams"))
    pairs = (
        g.alias("a").join(
            g.alias("b"),
            (F.col("a.gr") == F.col("b.gr"))
            & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"),
                 F.col("b.source").alias("src_b"))
        .agg(F.count("*").alias("inter")))
    dec = "DECIMAL(38,0)"
    return (
        pairs
        .join(F.broadcast(tot.withColumnRenamed("source", "src_a")
                          .withColumnRenamed("n_grams", "n_a")), "src_a")
        .join(F.broadcast(tot.withColumnRenamed("source", "src_b")
                          .withColumnRenamed("n_grams", "n_b")), "src_b")
        .select(
            "src_a", "src_b", "inter", "n_a", "n_b",
            F.expr(f"CAST(CAST(inter AS {dec}) * 10000 DIV n_a AS BIGINT)")
             .alias("cont_a_bp"),
            F.expr(f"CAST(CAST(inter AS {dec}) * 10000 DIV n_b AS BIGINT)")
             .alias("cont_b_bp")))


def readability(docs: DataFrame) -> DataFrame:
    """Flesch reading-ease per document — the classic prose-difficulty
    feature quality classifiers stack next to [[text_gopher_rules]]:
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    syllables approximated as maximal vowel-group runs (the standard
    dictionary-free heuristic) and sentence count as terminal-punctuation
    runs, floored at 1. Pure per-row regexp expressions — map-only, no
    shuffle; banding is a broadcast-free CASE.
    """
    words = F.size(F.split(F.trim("text"), TOKEN_SPLIT))
    sents = F.greatest(
        F.lit(1),
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")))
    syll = F.greatest(
        F.lit(1),
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")))
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sents.cast("double"))
        - F.lit(84.6) * (syll.cast("double") / words.cast("double")), 6)
    return (docs.where(words > 0)
            .select(
                "doc_id",
                words.cast("long").alias("n_words"),
                sents.cast("long").alias("n_sents"),
                syll.cast("long").alias("n_syll"),
                flesch.alias("flesch"),
                F.when(flesch >= 60, "easy")
                 .when(flesch >= 30, "medium")
                 .otherwise("hard").alias("band")))


def heaps_fit(docs: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Heaps'-law fit V(n) = K·n^β — vocabulary growth against corpus
    size in ingestion (doc_id) order, the planning curve for "how much new
    vocabulary will the next 10 TB bring" (β ≈ 0.5 for natural language;
    β → 1 smells generated/unique-id-heavy text, β → 0 template text).
    Companion of [[text_zipf_fit]], same 6dp float discipline.

    Scale shape: docs bucket into ``n_buckets`` doc_id ranges (bounds are
    two collected scalars, kmeans-precedent); per bucket one hash-agg
    yields token mass and NEW vocabulary (tokens whose global first doc
    lands in the bucket — a min-agg over the vocab, not a corpus window);
    cumulative sums and the ln-ln OLS then ride ``n_buckets`` rows. No
    full-corpus single-partition window anywhere.
    """
    from pyspark.sql import Window

    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None or hi is None:
        # empty corpus: no points, no fit — mirror top_component's
        # empty-input guard instead of crashing on int(None)
        return docs.sparkSession.createDataFrame(
            [], "n_points long, beta double, ln_k double")
    width = max(1, (int(hi) - int(lo) + 1 + n_buckets - 1) // n_buckets)
    # integer DIV (not double divide + cast): exact at any doc_id magnitude
    bucket = F.expr(f"CAST((doc_id - {int(lo)}) DIV {width} AS BIGINT)")

    toks = with_tokens(docs).select(
        "doc_id", bucket.alias("bk"),
        F.size("tokens").cast("long").alias("n_toks"),
        "tokens")
    mass = toks.groupBy("bk").agg(F.sum("n_toks").alias("toks"))
    first_seen = (
        toks.select("bk", F.explode("tokens").alias("tok"))
        .where(F.length("tok") > 0)
        .groupBy("tok").agg(F.min("bk").alias("bk"))
        .groupBy("bk").agg(F.count("*").alias("new_vocab")))
    w = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, 0)
    pts = (
        mass.join(first_seen, "bk", "left").fillna({"new_vocab": 0})
        .select("bk",
                F.sum("toks").over(w).alias("cum_toks"),
                F.sum("new_vocab").over(w).alias("cum_vocab"))
        .where((F.col("cum_toks") > 0) & (F.col("cum_vocab") > 0)))
    x = F.round(F.log(F.col("cum_toks").cast("double")), 6)
    y = F.round(F.log(F.col("cum_vocab").cast("double")), 6)
    terms = pts.select(
        x.alias("x"), y.alias("y"),
        F.round(x * y, 6).alias("xy"), F.round(x * x, 6).alias("xx"))
    agg = terms.agg(
        F.count("*").alias("n_points"),
        F.round(F.sum("x"), 6).alias("sx"),
        F.round(F.sum("y"), 6).alias("sy"),
        F.round(F.sum("xy"), 6).alias("sxy"),
        F.round(F.sum("xx"), 6).alias("sxx"))
    beta = F.round(
        (F.col("n_points") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n_points") * F.col("sxx") - F.col("sx") * F.col("sx")), 6) + F.lit(0.0)
    return (agg.where(F.col("n_points") >= 3)
            .withColumn("beta", beta)
            .select("n_points", "beta",
                    (F.round((F.col("sy") - F.col("beta") * F.col("sx"))
                             / F.col("n_points"), 6) + F.lit(0.0))
                    .alias("ln_k")))


CODE_KEYWORDS = ("def", "return", "import", "class", "void", "int",
                 "function", "var", "const", "if", "else", "for", "while")


def code_detection(docs: DataFrame) -> DataFrame:
    """Code-vs-prose heuristic — the filter that keeps (or routes) source
    code in a web corpus, stacked next to [[text_langid]] in every
    pretraining pipeline: per doc, symbol density (``{}();=[]<>`` chars
    per 10k chars), keyword hits (whitespace-token match against a small
    language-keyword list), digit density, and an integer score; class =
    ``code`` when score ≥ 2 of the 3 signals fire.

    All map-only regexp/HOF counting — no shuffle, no UDF, no broadcast
    (the keyword list compiles into the expression). Thresholds are
    deliberately coarse: this is a ROUTER (code corpora get their own
    dedup/quality lane), not a classifier benchmark.
    """
    n_chars = F.greatest(F.lit(1), F.length("text")).cast("long")
    symbols = (F.length("text")
               - F.length(F.translate("text", "{}();=[]<>", ""))).cast("long")
    kw = "|".join(CODE_KEYWORDS)
    kw_hits = F.size(F.expr(
        f"filter(split(trim(text), '\\\\s+'), t -> t RLIKE '^({kw})$')"
    )).cast("long")
    digits = (F.length("text")
              - F.length(F.regexp_replace("text", "[0-9]", ""))).cast("long")
    scored = docs.select(
        "doc_id", n_chars.alias("n_chars"), symbols.alias("symbols"),
        kw_hits.alias("kw_hits"), digits.alias("digits"),
    ).select(
        "doc_id",
        F.expr("CAST(symbols * 10000 DIV n_chars AS BIGINT)").alias("sym_bp"),
        "kw_hits",
        F.expr("CAST(digits * 10000 DIV n_chars AS BIGINT)").alias("dig_bp"))
    score = ((F.col("sym_bp") >= 300).cast("int")
             + (F.col("kw_hits") >= 3).cast("int")
             + (F.col("dig_bp") >= 500).cast("int")).cast("long")
    return scored.select(
        "doc_id", "sym_bp", "kw_hits", "dig_bp", score.alias("score"),
        F.when(score >= 2, "code").otherwise("prose").alias("class"))


def burstiness(docs: DataFrame, top_n: int = 100,
               min_docs: int = 5) -> DataFrame:
    """Token burstiness (Church & Gale 1995): variance-to-mean ratio of
    per-document counts for the corpus' top tokens. Function words spread
    evenly (VMR ≈ 1, Poisson-like); content/topic words BURST — many
    occurrences in few documents (VMR ≫ 1) — which is why burstiness
    separates keyword candidates from stopwords when raw frequency can't.

    Integer fixed-point: with per-doc counts c_i over D docs (zeros
    included via the doc total), mean·1e6 = T·1e6 DIV D and VMR·1e6 =
    (D·Σc² − T²)·1e6 DIV (T·D) — one cross-multiplied expression, no
    float. Scale shape: one (token, doc) hash-agg, one token rollup, a
    top-``top_n`` rank over the vocab (Zipf-small), D from a 1-row agg.
    """
    from pyspark.sql import Window

    d_total = docs.count()
    tok = (with_tokens(docs)
           .select("doc_id", F.explode("tokens").alias("tok"))
           .where(F.length("tok") > 0))
    per_doc = tok.groupBy("tok", "doc_id").agg(F.count("*").alias("c"))
    dec = "DECIMAL(38,0)"
    per_tok = per_doc.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("c").alias("total"),
        F.sum(F.expr(f"CAST(c AS {dec}) * c")).alias("sumsq"))
    ranked = (per_tok.where(F.col("n_docs") >= min_docs)
              .withColumn("rnk", F.row_number().over(
                  Window.orderBy(F.col("total").desc(), F.col("tok").asc())))
              .where(F.col("rnk") <= top_n))
    return ranked.select(
        "tok", "n_docs", F.col("total").cast("long").alias("total"),
        F.expr(f"CAST(CAST(total AS {dec}) * 1000000 DIV {d_total}"
               " AS BIGINT)").alias("mean_e6"),
        F.expr(f"CAST((CAST({d_total} AS {dec}) * sumsq"
               f" - CAST(total AS {dec}) * total) * 1000000"
               f" DIV (CAST(total AS {dec}) * {d_total}) AS BIGINT)")
         .alias("vmr_e6"),
        F.col("rnk").cast("long").alias("rnk"))


def vocab_coverage(docs: DataFrame,
                   ks: tuple = (10, 100, 1000, 10000)) -> DataFrame:
    """Vocabulary coverage curve: what share of the corpus TOKEN MASS the
    top-k most frequent types cover, for a grid of k — the number that
    actually drives tokenizer vocab-size selection ([[text_vocab]] lists
    the types; this prices the cut-off: mass beyond the vocab falls to
    byte-fallback/UNK).

    One vocab hash-agg, one frequency-rank window over the (Zipf-small)
    type table, then each k reads a single cumulative cell. Output: one
    row per k with covered mass, total mass and coverage bp.
    """
    from pyspark.sql import Window

    counts = (with_tokens(docs)
              .select(F.explode("tokens").alias("tok"))
              .where(F.length("tok") > 0)
              .groupBy("tok").agg(F.count("*").alias("c")))
    w = Window.orderBy(F.col("c").desc(), F.col("tok").asc())
    ranked = (counts
              .withColumn("rnk", F.row_number().over(w))
              .withColumn("cum", F.sum("c").over(
                  w.rowsBetween(Window.unboundedPreceding, 0)))
              .withColumn("total", F.sum("c").over(Window.partitionBy()))
              .withColumn("n_types", F.count("*").over(Window.partitionBy())))
    dec = "DECIMAL(38,0)"
    outs = []
    for k in ks:
        outs.append(
            ranked.where(F.col("rnk") == F.least(F.lit(k), F.col("n_types")))
            .select(
                F.lit(k).cast("long").alias("vocab_k"),
                F.col("cum").cast("long").alias("covered"),
                F.col("total").cast("long").alias("total"),
                F.expr(f"CAST(CAST(cum AS {dec}) * 10000 DIV total"
                       " AS BIGINT)").alias("coverage_bp")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
