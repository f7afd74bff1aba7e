"""Sequence packing for LM pretraining: lay documents end-to-end in a
deterministic global order and chunk the token stream into fixed-budget
training windows (the concat-then-chunk packing every large pretraining run
applies after filtering/dedup).

The hard part at scale is the GLOBAL running offset. A naive
``Window.orderBy(...)`` with no partition key collapses the whole corpus
into one reducer — the classic single-task bottleneck. The offset is
instead a [[running_total]] of token counts on its wide plan: the textbook
two-pass distributed prefix sum (range partition by the order key,
per-partition totals, a within-partition cumulative sum). start_offset is
boundary-independent: the order key (md5(doc_id), doc_id) is a total
order, so any contiguous split yields the same global cumsum — rerun-stable
even though RangePartitioner samples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ranks import running_total
from .text import with_tokens


def pack_offsets(docs: DataFrame, budget_tokens: int = 512) -> DataFrame:
    """Assign every document its start offset in the concatenated token
    stream, the training-window id that offset falls in, and whether the
    document straddles a window boundary (straddlers get split across two
    samples downstream; packers track the rate as a quality metric).

    Output: (doc_id, n_tokens, start_offset, bin_id, straddle).
    """
    d = with_tokens(docs).select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    # the running total includes the current document: subtract it
    ends = running_total(d, [], ["h", "doc_id"], "end_offset",
                         value="n_tokens", wide=True)
    start = F.col("end_offset") - F.col("n_tokens")
    b = int(budget_tokens)
    # integer DIV, not floor(double /): a 100 TB token stream overflows the
    # 2^53 exact-double range long before it overflows int64
    return ends.select("doc_id", "n_tokens", start.alias("start_offset")).selectExpr(
        "doc_id",
        "n_tokens",
        "start_offset",
        f"start_offset DIV {b} AS bin_id",
        f"CASE WHEN n_tokens > 0 THEN (start_offset + n_tokens - 1) DIV {b}"
        f" > start_offset DIV {b} ELSE false END AS straddle",
    )


def fill_stats(docs: DataFrame,
               lengths: tuple = (256, 512, 1024, 2048)) -> DataFrame:
    """Context-length planning table: for each candidate sequence length L,
    what a batch builder pays — docs over L (must chunk), the chunk count
    under split-into-pieces batching, padding waste in bp of capacity for
    the two standard strategies: one-doc-per-sequence padding (the upper
    bound) and boundary-respecting concat packing ([[pack_sequences]]'s
    greedy fill, whose waste is only each doc's tail piece) — the numbers
    behind choosing 2k vs 8k context for a pretraining run.

    Closed-form from per-doc token counts: one map-only token count + one
    agg per L over the same scan (Spark shares it), |lengths| output rows.
    """
    toks = docs.select(
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n"))
    aggs = [F.count("*").alias("n_docs"), F.sum("n").alias("total_tokens")]
    for L in lengths:
        aggs.append(F.sum((F.col("n") > L).cast("long")).alias(f"over_{L}"))
        aggs.append(F.sum(F.expr(f"CAST((n + {L} - 1) DIV {L} AS BIGINT)"))
                    .alias(f"pieces_{L}"))
    one = toks.agg(*aggs)   # ONE scan for every L
    rows = F.array(*[
        F.struct(
            F.lit(L).cast("long").alias("seq_len"),
            F.col(f"over_{L}").alias("docs_over"),
            F.col(f"pieces_{L}").alias("n_pieces"))
        for L in lengths])
    exploded = one.select(
        "n_docs", "total_tokens", F.explode(rows).alias("r")).select(
        F.col("r.seq_len").alias("seq_len"), "n_docs", "total_tokens",
        F.col("r.docs_over").alias("docs_over"),
        F.col("r.n_pieces").alias("n_pieces"))
    dec = "DECIMAL(38,0)"
    return exploded.select(
        "seq_len", "n_docs", "total_tokens", "docs_over", "n_pieces",
        F.expr(f"CAST((CAST(n_pieces AS {dec}) * seq_len - total_tokens)"
               f" * 10000 DIV (CAST(n_pieces AS {dec}) * seq_len)"
               " AS BIGINT)").alias("pad_waste_bp"),
        F.expr(f"CAST((CAST((total_tokens + seq_len - 1) DIV seq_len AS {dec})"
               f" * seq_len - total_tokens) * 10000"
               f" DIV (CAST((total_tokens + seq_len - 1) DIV seq_len AS {dec})"
               " * seq_len) AS BIGINT)").alias("concat_waste_bp"))
