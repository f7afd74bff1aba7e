"""Privacy-risk auditing and pseudonymization — the analytics the reference
engine's redaction mission implies but its per-document design cannot run:
corpus-wide re-identification risk (k-anonymity / l-diversity over
quasi-identifier groups) and consistent surrogate substitution (the step
after redaction when joinability must survive but raw identifiers must not).

The reference (Devopcasting/OCR-Redaction-Engine) stops at per-document
masking (process_documents/process_queue_documents.py); these operators are
the warehouse-scale companions. All paths are pure Catalyst expressions —
hash-aggs and per-row HOFs, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: The quasi-identifier columns both audits group customers by.
QI = ("c_nationkey", "c_mktsegment")


def k_anonymity_audit(customers: DataFrame, k: int = 5, l: int = 3) -> DataFrame:
    """k-anonymity / l-diversity audit over quasi-identifier groups.

    A release is k-anonymous when every QI combination covers ≥ k rows, and
    l-diverse when each group carries ≥ l distinct (bucketed) sensitive
    values — the two standard re-identification risk gates (Sweeney 2002;
    Machanavasjhala et al. 2007). One hash-agg on the QI key computes both:
    group size and exact distinct sensitive buckets (count-distinct rides
    the same shuffle via Expand, as in profile_table). Output is one row
    per QI group with integer sizes and boolean risk flags — at any corpus
    scale the result is |QI-domain| rows, so the audit is free relative to
    the scan.
    """
    sens = (F.col("c_acctbal").cast("double") / F.lit(1000)).cast("long")
    return (
        customers.groupBy(*QI)
        .agg(
            F.count("*").alias("group_n"),
            F.countDistinct(sens).alias("l_distinct"),
        )
        .select(
            *QI, "group_n", "l_distinct",
            (F.col("group_n") < k).alias("k_risk"),
            (F.col("l_distinct") < l).alias("l_risk"),
        )
    )


def synth_identifiers(docs: DataFrame) -> DataFrame:
    """Plant deterministic account-number-shaped digit runs into the corpus
    text (the driver's synthetic documents contain none): one identifier
    unique per document and one SHARED by every document of a source — so
    surrogate *consistency* (same value → same surrogate across rows) is an
    observable property, not a vacuous one. Pure expressions (md5 → hex →
    decimal, zero-padded to 12 digits) so the oracle rebuilds identical
    input, same discipline as webgraph.synth_hosts."""
    def acct(*cols):
        return F.lpad(
            F.conv(F.substring(F.md5(F.concat_ws(":", *cols)), 1, 12), 16, 10),
            12, "0")
    return docs.select(
        "doc_id",
        F.concat_ws(" ", "text", F.lit("acct"), acct(F.col("doc_id"), F.lit("acct")),
                    F.lit("ref"), acct(F.col("source"), F.lit("acct"))).alias("text"),
    )


def pseudonymize(docs: DataFrame, min_digits: int = 6) -> DataFrame:
    """Consistent surrogate substitution: every maximal digit run of
    ``min_digits``+ characters (account/Aadhaar/phone-shaped identifiers)
    is replaced by a stable 8-hex surrogate ``ID_xxxxxxxx`` derived from
    md5 of the digits — the same value maps to the same surrogate
    corpus-wide, so joins across documents still link while the raw
    identifier is destroyed (tokenization, the post-redaction step real
    privacy pipelines need; the reference only blanks boxes in place).

    Entirely per-row JVM expressions: extract maximal runs, dedupe, order
    longest-first (so a run that re-occurs as a substring of a longer run
    elsewhere in the document cannot corrupt it — the length-prefixed sort
    is reproducible in any engine without comparator lambdas), then one
    ``aggregate`` HOF folding ``replace`` over the tokens. Map-only: no
    shuffle, no UDF, scales as a pure scan.

    The surrogate alphabet is digit-free (md5 hex digits 0-9 are translated
    to g-p): if surrogates contained digits, a later replace of a shorter
    run could match INSIDE an already-inserted surrogate and corrupt it
    (e.g. md5('100000000000')[:8] = 'df269252' contains '269252'), breaking
    corpus-wide same-value→same-surrogate joinability.

    Returns (doc_id, clean_text, n_ids) with n_ids = distinct identifiers
    replaced.
    """
    toks = F.array_distinct(
        F.expr(f"regexp_extract_all(text, '[0-9]{{{min_digits},}}', 0)"))
    # length-desc order via a sortable length-prefixed key (lpad to 4: runs
    # longer than 9999 digits do not occur in natural text)
    ordered = F.reverse(F.array_sort(
        F.transform(toks, lambda t: F.concat(F.lpad(F.length(t), 4, "0"), t))))
    folded = F.aggregate(
        ordered,
        F.col("text"),
        lambda acc, key: F.replace(
            acc,
            F.substring(key, 5, 1 << 30),
            F.concat(
                F.lit("ID_"),
                F.translate(
                    F.substring(F.md5(F.substring(key, 5, 1 << 30)), 1, 8),
                    "0123456789", "ghijklmnop")),
        ),
    )
    return docs.select(
        "doc_id",
        folded.alias("clean_text"),
        F.size(toks).cast("long").alias("n_ids"),
    )


def t_closeness_audit(customers: DataFrame, sens_bucket: int = 2000,
                      t_e6: int = 250000) -> DataFrame:
    """t-closeness audit (Li, Li, Venkatasubramanian, ICDE 2007): a QI
    group leaks when the Earth Mover's Distance between its sensitive-value
    distribution and the GLOBAL distribution exceeds t — the gate that
    catches what l-diversity misses (a group can be l-diverse yet skewed
    far from the corpus baseline, e.g. "all accounts in this group are
    overdrawn").

    For an ordered attribute over m buckets, EMD = Σ|cum_p − cum_q|/(m−1).
    Everything here is integer-exact cross-multiplication — the cumulative
    difference is computed as |cum_grp·N − cum_glob·n_g| in DECIMAL(38,0)
    (no floating point, no overflow at 10^12 rows; same discipline as
    governance.basket_lift after the ADVICE-r2 fix) and released as
    ``emd_e6`` (×10⁻⁶).

    Scale shape: two hash-aggs over the scan (per-(QI,bucket) and
    per-bucket). The global bucket distribution is bounded by the VALUE
    DOMAIN of the sensitive attribute (m buckets, dozens at any corpus
    size), so — like the IVF centroid matrix in similarity.pq_codebooks
    — it is collected once and re-attached as a literal array: the spine
    becomes a map-side explode (|QI|×m rows), with NO cross join in the
    plan (a nested-loop join is a scale hazard the plan audit bans).
    """
    from pyspark.sql import Window

    b = (F.col("c_acctbal").cast("double") / F.lit(sens_bucket)).cast("long")
    base = customers.select(*QI, b.alias("b"))

    cell = base.groupBy(*QI, "b").agg(F.count("*").alias("c"))
    grp = base.groupBy(*QI).agg(F.count("*").alias("group_n"))
    gd = sorted(
        base.groupBy("b").agg(F.count("*").alias("g")).collect(),
        key=lambda r: r.b)
    if len(gd) > 10_000:
        raise ValueError(
            f"t_closeness_audit: {len(gd)} sensitive buckets — the bucket "
            f"domain must stay metadata-scale (raise sens_bucket to coarsen "
            f"the quantization; a near-continuous attribute cannot be "
            f"collected as a literal spine)")
    m = len(gd)
    n_total = sum(r.g for r in gd)
    if not gd:   # empty input: an empty literal array has no element type
        return (grp.select(
            *QI, "group_n",
            F.lit(0).cast("long").alias("emd_e6"),
            F.lit(False).alias("t_risk")))
    cum, cums = 0, []
    for r in gd:
        cum += r.g
        cums.append((r.b, cum))
    garr = F.array(*[
        F.struct(F.lit(bb).cast("long").alias("b"),
                 F.lit(cg).cast("long").alias("cum_glob"))
        for bb, cg in cums])

    spine = grp.select(*QI, "group_n", F.explode(garr).alias("gb")).select(
        *QI, "group_n", F.col("gb.b").alias("b"),
        F.col("gb.cum_glob").alias("cum_glob"))
    joined = spine.join(cell, [*QI, "b"], "left").fillna({"c": 0})
    w = (Window.partitionBy(*QI).orderBy("b")
         .rowsBetween(Window.unboundedPreceding, 0))
    terms = joined.select(
        *QI, "group_n",
        F.sum("c").over(w).alias("cum_grp"), "cum_glob")
    dec = "DECIMAL(38,0)"
    return (
        terms.groupBy(*QI, "group_n")
        .agg(F.sum(F.expr(
            f"abs(CAST(cum_grp AS {dec}) * {n_total}"
            f" - CAST(cum_glob AS {dec}) * group_n)")).alias("s"))
        .select(
            *QI, "group_n",
            F.expr(
                f"CAST(CAST(s AS {dec}) * 1000000"
                f" DIV (CAST(group_n AS {dec}) * {n_total}"
                f" * greatest({m} - 1, 1)) AS BIGINT)").alias("emd_e6"))
        .withColumn("t_risk", F.col("emd_e6") > t_e6)
    )


def seeded_noise_counts(docs: DataFrame,
                        keys: tuple = ("lang", "source"),
                        seed: str = "dp1") -> DataFrame:
    """Deterministic SYNTHETIC-noise group-count release (binomial-shaped):
    released_n = max(0, true_n + (bit_count(md5_60bit(seed:key)) − 30)).

    This is **not differential privacy** and makes no privacy claim: the
    perturbation is a public deterministic function of (seed, group key),
    so anyone holding the seed can recompute and subtract it, and the noise
    is fixed per key across dataset versions (two releases on adjacent
    datasets differ by exactly the true delta). Real DP needs secret, fresh
    randomness per release — which is mutually exclusive with this repo's
    oracle-checked determinism contract (every queries() entry must be
    bit-reproducible in two engines). What this operator IS: the
    *distributed shape* of a noisy-release pipeline (hash-agg + map-side
    integer perturbation over |keys| rows) plus a deterministic workload
    for testing downstream consumers' tolerance to count jitter. Swap the
    noise column for a secret-seeded or OS-random draw outside the gate to
    get a real mechanism with the same plan. Scale: one hash-agg; the
    noise column is a map-side expression over |keys| rows.
    """
    key = F.concat_ws(":", F.lit(seed), *[F.col(k) for k in keys])
    noise = (F.bit_count(F.conv(F.substring(F.md5(key), 1, 15), 16, 10)
                         .cast("long")) - F.lit(30)).cast("long")
    return (
        docs.groupBy(*keys).agg(F.count("*").alias("n"))
        .select(*keys,
                F.greatest(F.lit(0).cast("long"), (F.col("n") + noise))
                .alias("noisy_n"))
    )
