"""Model-based quality scoring: Naive-Bayes text classifier (train +
inference in one job) and bigram language-model cross-entropy.

These are the two "model filter" stages of the standard web-corpus pipeline:
a linear bag-of-words classifier scoring every document against a labeled
slice (the fastText quality classifier of the GPT-3 / CCNet recipes — here
the classic multinomial Naive Bayes, whose train step is a single hash-agg
and whose weights are exactly a linear model), and an n-gram LM scoring
every document by cross-entropy under a reference corpus (the CCNet / Wiki-LM
perplexity filter, Wenzek et al. 2020).

Scale shape (both operators):
  * training collapses the corpus to VOCAB-sized count tables — one
    map-side-combined hash-agg over token postings; Zipf bounds the result
    far below the corpus, so the weight table broadcasts.
  * inference is one join of per-doc postings against the broadcast weights
    plus one per-doc hash-agg. No window over the corpus, no driver loop;
    every stage is a plain shuffle-on-key or broadcast join that holds at
    1000 executors.
  * cross-engine determinism: per-token contributions are F.round()-ed to
    6 decimals before the per-doc sum and the sum rounded again — the same
    rule BM25/DSIR use, so the DuckDB oracle hash-matches bit-for-bit.

Reference scope note: the reference engine (Devopcasting/OCR-Redaction-Engine)
has no model-based filtering — these are the pipeline-completion operators
the brief asks for beyond reference parity (training-data pipeline at 100 TB).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import with_tokens

# Deterministic train/score split: md5(doc_id) first two hex chars < 0xc0
# puts ~75% of documents in the training fold. Hash-based so any engine
# (and any partitioning) draws the same fold.
_TRAIN_HEX = 192


def _with_fold(docs: DataFrame) -> DataFrame:
    return docs.withColumn(
        "is_train",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("long") < F.lit(_TRAIN_HEX),
    )


def _postings(docs: DataFrame) -> DataFrame:
    """(doc_id, token, tf) — the shared inference-side shape."""
    return (
        with_tokens(docs)
        .select("doc_id", F.explode("tokens").alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def nb_train(docs: DataFrame, label_col: str = "label",
             min_df: int = 1) -> tuple[DataFrame, DataFrame]:
    """Multinomial-NB training: per-token Laplace-smoothed log-odds weights.

    Input needs a boolean ``label_col``. Returns ``(weights, prior)``:
    weights = (token, w) with w = round(ln((c_pos+1)/(n_pos+V)) −
    ln((c_neg+1)/(n_neg+V)), 6); prior = 1 row (bias, __k) with
    bias = round(ln((d_pos+1)/(d_neg+1)), 6). One hash-agg over postings →
    vocab-sized table; everything downstream broadcasts.

    ``min_df`` is the vocab frequency floor (total occurrences across both
    classes). At 100 TB the raw token table is NOT Zipf-bounded — unique
    garbage strings (hashes, URLs, OCR noise) grow linearly with the corpus
    and would blow the broadcast — so production runs set min_df (CCNet /
    fastText prune exactly this way); hapax garbage carries ~no class signal
    anyway. V (the smoothing denominator) counts the SURVIVING vocab, which
    is the standard vocab-restricted NB formulation.
    """
    lab = docs.withColumn("__pos", F.col(label_col).cast("boolean"))
    per_tok = (
        with_tokens(lab)
        .select("__pos", F.explode("tokens").alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.sum(F.when(F.col("__pos"), 1).otherwise(0)).cast("long").alias("c_pos"),
            F.sum(F.when(F.col("__pos"), 0).otherwise(1)).cast("long").alias("c_neg"),
        )
    )
    if min_df > 1:
        per_tok = per_tok.filter(F.col("c_pos") + F.col("c_neg") >= min_df)
    # class token totals + vocab size: 1 row, attached via the pmod-key
    # broadcast (bare-literal keys constant-fold into a BNLJ; pmod does not)
    stats = per_tok.select(
        F.sum("c_pos").cast("long").alias("n_pos"),
        F.sum("c_neg").cast("long").alias("n_neg"),
        F.count("*").cast("long").alias("v"),
    ).withColumn("__k", F.pmod(F.col("v"), F.lit(1)))
    weights = (
        per_tok.withColumn("__k", F.pmod(F.col("c_pos") + F.col("c_neg"), F.lit(1)))
        .join(F.broadcast(stats), "__k")
        .select(
            "token",
            F.round(
                F.log((F.col("c_pos") + 1.0) / (F.col("n_pos") + F.col("v")))
                - F.log((F.col("c_neg") + 1.0) / (F.col("n_neg") + F.col("v"))),
                6,
            ).alias("w"),
        )
    )
    prior = lab.select(
        F.round(
            F.log(
                (F.sum(F.when(F.col("__pos"), 1).otherwise(0)) + 1.0)
                / (F.sum(F.when(F.col("__pos"), 0).otherwise(1)) + 1.0)
            ),
            6,
        ).alias("bias"),
        F.pmod(F.count("*"), F.lit(1)).alias("__k"),
    )
    return weights, prior


def nb_classify(docs: DataFrame, label_col: str = "label") -> DataFrame:
    """Train Naive Bayes on the hash-75% fold of ``docs`` (teacher labels in
    ``label_col``), score EVERY document: the quality-classifier pipeline
    stage. Out-of-vocabulary tokens contribute 0 (standard vocab-restricted
    linear scoring).

    Returns (doc_id, is_train, n_scored_tokens, score, predicted) — one audit
    row per document, ordered consumers sort themselves.
    """
    folded = _with_fold(docs)
    weights, prior = nb_train(folded.filter("is_train"), label_col, 1)
    scored = (
        _postings(folded)
        .join(F.broadcast(weights), "token")          # vocab-sized right side
        .withColumn("contrib", F.round(F.col("tf") * F.col("w"), 6))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_scored_tokens"),
            F.round(F.sum("contrib"), 6).alias("s_tokens"),
        )
    )
    return (
        folded.select("doc_id", "is_train")
        .join(scored, "doc_id", "left")               # keep all-OOV docs
        .withColumn("__k", F.pmod(F.coalesce("n_scored_tokens", F.lit(0)), F.lit(1)))
        .join(F.broadcast(prior), "__k")
        .select(
            "doc_id",
            "is_train",
            F.coalesce("n_scored_tokens", F.lit(0)).alias("n_scored_tokens"),
            F.round(F.coalesce("s_tokens", F.lit(0.0)) + F.col("bias"), 6).alias("score"),
            (F.coalesce("s_tokens", F.lit(0.0)) + F.col("bias") > 0).alias("predicted"),
        )
    )


def _bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, prev, cur) bigram stream with a BOS history for the first
    token — per-row array HOFs only (zip tokens with themselves shifted), so
    this is map-only: no posexplode+window shuffle just to pair neighbors."""
    return (
        with_tokens(docs)
        .withColumn("tokens", F.filter("tokens", lambda t: t != ""))
        .filter(F.size("tokens") > 0)
        .select(
            "doc_id",
            # histories = ['<s>', t0..t_{n-2}] — same length as tokens, so
            # zip_with never null-pads (equal-length zip, no phantom pair)
            F.explode(
                F.zip_with(
                    F.concat(
                        F.array(F.lit("<s>")),
                        F.slice(F.col("tokens"), F.lit(1), F.size("tokens") - 1),
                    ),
                    F.col("tokens"),
                    lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.prev", "bg.cur")
    )


def lm_cross_entropy(docs: DataFrame, reference: DataFrame) -> DataFrame:
    """Bigram-LM cross-entropy of every document under a reference corpus
    (the CCNet perplexity filter; cross-entropy in nats is the same ranking
    without an exp() determinism surface).

    Model: Laplace-smoothed bigram LM trained on ``reference`` —
    P(cur|prev) = (c(prev,cur)+1) / (c(prev·)+V), V = |reference vocab|,
    with a <s> BOS history per document. Unseen histories/bigrams fall back
    to the same smoothed form with zero counts (left joins + coalesce).

    Scale shape: reference collapses to a bigram-count table (Zipf-sparse,
    one hash-agg); the bigram join stays a plain shuffle equi-join on
    (prev, cur) — the bigram table can outgrow a broadcast at 100 TB, AQE
    may still elect one when it fits — while the unigram history table and
    the 1-row vocab stat broadcast; per-token log-probs round to 6dp before
    the per-doc sum (cross-engine determinism rule). Documents with zero
    tokens have no bigrams and emit no row.

    Returns (doc_id, n_bigrams, oov_bigrams, nll) — nll is the per-document
    total negative log-likelihood; cross-entropy = nll / n_bigrams.
    """
    ref_bg = _bigrams(reference)
    bg_counts = ref_bg.groupBy("prev", "cur").agg(
        F.count("*").cast("long").alias("cb"))
    hist_counts = bg_counts.groupBy("prev").agg(
        F.sum("cb").cast("long").alias("ch"))
    vocab = (
        bg_counts.select(F.count_distinct("cur").cast("long").alias("v"))
        .withColumn("__k", F.pmod(F.col("v"), F.lit(1)))
    )
    return (
        _bigrams(docs)
        .join(bg_counts, ["prev", "cur"], "left")
        .join(F.broadcast(hist_counts), "prev", "left")
        .withColumn("__k", F.pmod(F.coalesce("cb", F.lit(0)), F.lit(1)))
        .join(F.broadcast(vocab), "__k")
        .withColumn(
            "lp",
            F.round(
                F.log(
                    (F.coalesce("cb", F.lit(0)) + 1.0)
                    / (F.coalesce("ch", F.lit(0)) + F.col("v"))
                ),
                6,
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("cb").isNull(), 1).otherwise(0)).cast("long").alias("oov_bigrams"),
            # total NLL, not the mean: dividing by n before rounding lands on
            # exact .5 ulp ties (observed: -105.106575/30) where engines'
            # round-half rules split; consumers compute xent = nll/n_bigrams
            F.round(-F.sum("lp"), 6).alias("nll"),
        )
    )


def ccnet_buckets(docs: DataFrame, reference: DataFrame) -> DataFrame:
    """CCNet head/middle/tail corpus split (Wenzek et al. 2020 §4.4): score
    every document by LM cross-entropy under the reference corpus, then band
    each ``source`` into perplexity terciles — "head" is the third of the
    source's documents closest to the reference distribution, the slice
    CCNet keeps for LM pretraining.

    Composition of two existing primitives, both integer-exact:
      * [[lm_cross_entropy]] gives (doc_id, n_bigrams, nll); the banding key
        is xent in integer micro-nats/bigram — ``round(nll·1e6) DIV
        n_bigrams`` — so no float ordering ever crosses an engine boundary.
      * the histogram-quantile sketch (sampling.hist_quantile_sketch) turns
        one (source, bin) hash-agg into per-source tercile boundaries;
        docs never sort globally (a corpus ntile() would funnel 10^12 rows
        through |sources| sorted partitions).

    Assignment is map-only: the |sources|×2 boundary rows collapse to one
    sorted array per source, broadcast, and each doc's bucket is the count of
    boundaries strictly below its score (monotone in xent by construction).
    Unlike [[quantile_bucket_assign]]'s groupBy re-agg, no second doc-keyed
    shuffle. Docs with zero bigrams have no score and emit no row (the
    lm_cross_entropy contract).

    Returns (doc_id, source, xent_micro, bucket, band) with bucket in
    0..2 and band head/middle/tail.
    """
    from .sampling import hist_quantile_sketch

    scores = lm_cross_entropy(docs, reference)
    # Both the sketch and the assignment consume the scored table; without a
    # persist the whole LM-scoring subtree (bigram explode + model joins)
    # would execute twice — a doubled corpus pass at 100 TB. persist (not
    # localCheckpoint) keeps ACCURATE byte-size stats so Catalyst still
    # broadcasts correctly downstream (see the prefix-jaccard bisect note in
    # COVERAGE.md); cache lifetime: clearCache between corpora.
    scored = (
        docs.select("doc_id", "source")
        .join(scores.select(
            "doc_id",
            F.expr("CAST(round(nll * 1000000) AS BIGINT) DIV n_bigrams")
            .alias("xent_micro")), "doc_id")
        .persist()
    )
    bounds = (
        hist_quantile_sketch(scored, "source", "xent_micro", 32, (33, 67))
        .groupBy("source")
        .agg(F.sort_array(F.collect_list(F.struct("q", "est"))).alias("bs"))
        .select("source", F.transform("bs", lambda s: s["est"]).alias("bounds"))
    )
    band = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
        F.col("bucket").cast("int") + 1)
    return (
        scored.join(F.broadcast(bounds), "source")
        .select(
            "doc_id", "source", "xent_micro",
            F.aggregate(
                "bounds", F.lit(0).cast("long"),
                lambda acc, b: acc
                + F.when(b < F.col("xent_micro"), 1).otherwise(0),
            ).alias("bucket"),
        )
        .withColumn("band", band)
    )


def pr_curve(scored: DataFrame, n_bins: int = 32) -> DataFrame:
    """Precision/recall/F1 sweep for a table with ``score`` and ``label``
    columns — the eval harness behind every filter-threshold decision
    (which NB/fastText/LM cutoff keeps X% of the good docs): one row per
    occupied score bin, metrics for the rule "predict positive at score ≥
    bin edge".

    Scale shape: NO global sort of the score column (the textbook
    rank-based sweep is a total order over 10^12 rows). Scores are
    fixed-pointed to e6 integers, binned by pure BIGINT arithmetic into
    ``n_bins`` equi-width bins between the observed min/max (two
    metadata-scale scalars), histogrammed by one hash-agg with map-side
    combine, and the cumulative sweep is a window over the ≤n_bins-row
    histogram. All ratios integer basis points — engine-exact, no float
    thresholds to drift at bin edges.

    Returns (bin, threshold_e6, tp, fp, fn, tn, precision_bp, recall_bp,
    f1_bp) ordered by bin (ascending threshold).
    """
    from pyspark.sql import Window

    d = scored.select(
        F.expr("CAST(round(score * 1000000) AS BIGINT)").alias("s"),
        F.col("label").cast("boolean").alias("y"))
    mn, mx = d.agg(F.min("s"), F.max("s")).first()
    if mn is None:
        return d.sparkSession.createDataFrame(
            [], "bin long, threshold_e6 long, tp long, fp long, fn long, "
                "tn long, precision_bp long, recall_bp long, f1_bp long")
    span = mx - mn + 1
    hist = (
        d.select(
            F.expr(f"CAST((s - {mn}) * {n_bins} DIV {span} AS BIGINT)")
            .alias("bin"), "y")
        .groupBy("bin")
        .agg(F.sum(F.col("y").cast("long")).alias("pos"),
             F.sum((~F.col("y")).cast("long")).alias("neg"))
    )
    # totals ride the same tiny histogram; unbounded windows over ≤n_bins
    # rows (single partition by construction — the histogram IS that small)
    w_cum = (Window.orderBy(F.col("bin").desc())
             .rowsBetween(Window.unboundedPreceding, 0))
    w_all = (Window.orderBy(F.col("bin").desc())
             .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return (
        hist
        .withColumn("tp", F.sum("pos").over(w_cum))
        .withColumn("fp", F.sum("neg").over(w_cum))
        .withColumn("all_pos", F.sum("pos").over(w_all))
        .withColumn("all_neg", F.sum("neg").over(w_all))
        .select(
            "bin",
            F.expr(f"CAST({mn} + bin * {span} DIV {n_bins} AS BIGINT)")
            .alias("threshold_e6"),
            "tp", "fp",
            (F.col("all_pos") - F.col("tp")).alias("fn"),
            (F.col("all_neg") - F.col("fp")).alias("tn"),
            F.expr("CAST(tp * 10000 DIV (tp + fp) AS BIGINT)")
            .alias("precision_bp"),
            F.expr("CAST(tp * 10000 DIV GREATEST(all_pos, 1) AS BIGINT)")
            .alias("recall_bp"),
            F.expr("CAST(2 * tp * 10000 DIV (tp + fp + all_pos) AS BIGINT)")
            .alias("f1_bp"))
        .orderBy("bin")
    )
