"""Main-content extraction pipeline (north rule) — pure DataFrame wiring.

    documents ──explode──┬─ html spans ── boilerplate strip (DOM blocks,
                         │                length/link-density keep, ordered
                         │                reassembly) ──────────────┐
                         ├─ pdf spans ── two-column reading-order    │
                         │               recovery (column-major) ────┤
                         ├─ text spans ── passthrough ───────────────┼─ flat
                         └─ media spans ── media_pages join ── OCR   │  span
                                           full text ────────────────┘  rows

The web generalization of the redaction pipeline (pipeline.py): where that
job redacts PII from already-clean spans, this one recovers the MAIN CONTENT
from raw crawl artifacts — HTML with boilerplate furniture, PDFs whose word
stream arrived in naive scan order, and scanned media pages whose text lives
in the OCR backing table. The reference engine's analogous stage is its
per-page text recovery (/root/reference/document_identification/
identify_doc.py:33-45 runs OCR per page; extraction here widens that to the
three crawl formats).

Every branch is pure Catalyst — regex + split + higher-order functions; no
Python in the hot path. Shuffles: exactly ONE — the media_ref equi-join on
the media branch (plan-pinned in tests/test_extraction_pipeline.py). The
html strip is per-row array HOFs (a span is one row, so DOM-block
segmentation, scoring, keep-filter, and ordered reassembly never leave the
task); pdf/text are narrow projections. Output is the flat span-sequence
contract table (doc_id, order, kind, text, media_ref) — span-sequence
equality vs the pure-Python oracle (oracle.expected_extracted_spans) is the
correctness gate.

Scale notes (10^12 docs): the text branches scan, transform, and emit with
zero exchange — linear scaling by construction. The media join's build side
is the media_pages table (big at scale → shuffle hash join on media_ref;
AQE handles stragglers). Resume is partition-granular via the same
xxhash64(doc_id) bucket lineage as the redaction job (checkpoint.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import checkpoint as ckpt
from .operators.explode import explode_spans


@dataclass
class ExtractionConfig:
    min_len: int = 15              # content-block keep threshold (chars)
    max_link_density: float = 0.2  # boilerplate threshold (anchor chars / chars)
    n_buckets: int = 32            # checkpoint granularity
    bucket_group: int = 8          # buckets committed per wave


def extract_html_spans(spans: DataFrame, cfg: ExtractionConfig) -> DataFrame:
    """HTML boilerplate strip per span — SHUFFLE-FREE: because one span is
    one row, the DOM-block segmentation + scoring + keep-filter + ordered
    reassembly all run as array higher-order functions on that row (split →
    transform/filter → concat_ws), never leaving the task. Semantics are
    identical to the grouped variant (analytics/extraction.strip_boilerplate,
    kept for block-level analytics); a span whose every block is dropped
    yields no row, matching the grouped groupBy behavior and the oracle."""
    html = spans.filter(F.col("kind") == "html").select(
        "doc_id", "offset",
        F.regexp_replace(
            F.regexp_replace("text", r"(?s)<script[^>]*>.*?</script>", " "),
            r"(?s)<style[^>]*>.*?</style>", " ",
        ).alias("clean"),
    )

    def btext(b):
        return F.trim(F.regexp_replace(F.regexp_replace(b, r"<[^>]*>", " "), r"\s+", " "))

    def anchor_chars(b):
        return F.aggregate(
            F.regexp_extract_all(b, F.lit(r"<a [^>]*>([^<]*)</a>"), F.lit(1)),
            F.lit(0).cast("long"), lambda a, x: a + F.length(x))

    scored = html.select(
        "doc_id", "offset",
        F.filter(
            F.transform(
                F.split("clean", r"</p>|</div>|</nav>|</footer>"),
                lambda b: F.struct(
                    btext(b).alias("btext"),
                    anchor_chars(b).alias("anchor_chars"),
                ),
            ),
            lambda s: (F.length(s["btext"]) >= cfg.min_len)
            & ((s["anchor_chars"] / F.greatest(F.length(s["btext"]), F.lit(1)))
               <= cfg.max_link_density),
        ).alias("kept"),
    )
    return scored.filter(F.size("kept") > 0).select(
        "doc_id", F.col("offset").alias("order"), F.lit("html").alias("kind"),
        F.concat_ws(" ", F.transform("kept", lambda s: s["btext"])).alias("text"),
        F.lit("").alias("media_ref"))


def extract_pdf_spans(spans: DataFrame) -> DataFrame:
    """Two-column reading-order recovery: the span text is the naive y-then-x
    scan of a two-column page (token 2r = column 0 row r, token 2r+1 =
    column 1 row r), so the true reading order is all even-index tokens then
    all odd-index tokens. Array HOFs only — narrow, zero shuffle."""
    toks = F.split(F.col("text"), " ")
    evens = F.filter(toks, lambda x, i: i % 2 == F.lit(0))
    odds = F.filter(toks, lambda x, i: i % 2 == F.lit(1))
    return spans.filter(F.col("kind") == "pdf").select(
        "doc_id", F.col("offset").alias("order"), F.lit("pdf").alias("kind"),
        F.concat_ws(" ", F.concat(evens, odds)).alias("text"),
        F.lit("").alias("media_ref"))


def extract_text_spans(spans: DataFrame) -> DataFrame:
    """Plain text spans are already main content — passthrough."""
    return spans.filter(F.col("kind") == "text").select(
        "doc_id", F.col("offset").alias("order"), F.lit("text").alias("kind"),
        "text", F.lit("").alias("media_ref"))


def extract_media_spans(spans: DataFrame, media_pages: DataFrame) -> DataFrame:
    """Media spans resolve through the OCR backing table; the extracted text
    is the page's full OCR text (lines joined) — the image_to_string analog
    of the reference's per-page OCR. One equi-join on media_ref."""
    pages = media_pages.select(
        "media_ref", F.concat_ws("\n", "lines").alias("page_text"))
    return (
        spans.filter(F.col("kind") == "media")
        .select("doc_id", F.col("offset").alias("order"), "media_ref")
        .join(pages, "media_ref")
        .select("doc_id", "order", F.lit("media").alias("kind"),
                F.col("page_text").alias("text"), "media_ref")
    )


def _narrow_kind_spans(spans: DataFrame, cfg: ExtractionConfig) -> DataFrame:
    """html + pdf + text in ONE pass: the three shuffle-free branches share
    the row shape, so a kind-dispatched CASE computes each row's extracted
    text in a single scan instead of a 3-way self-union that re-reads the
    documents table per branch (at 100 TB the scan count IS the cost).
    Row-for-row identical to the per-branch operators, which remain the
    unit-tested single-kind API."""
    clean = F.regexp_replace(
        F.regexp_replace("text", r"(?s)<script[^>]*>.*?</script>", " "),
        r"(?s)<style[^>]*>.*?</style>", " ")

    def btext(b):
        return F.trim(F.regexp_replace(F.regexp_replace(b, r"<[^>]*>", " "), r"\s+", " "))

    def anchor_chars(b):
        return F.aggregate(
            F.regexp_extract_all(b, F.lit(r"<a [^>]*>([^<]*)</a>"), F.lit(1)),
            F.lit(0).cast("long"), lambda a, x: a + F.length(x))

    kept = F.filter(
        F.transform(
            F.split(clean, r"</p>|</div>|</nav>|</footer>"),
            lambda b: F.struct(btext(b).alias("btext"),
                               anchor_chars(b).alias("anchor_chars"))),
        lambda s: (F.length(s["btext"]) >= cfg.min_len)
        & ((s["anchor_chars"] / F.greatest(F.length(s["btext"]), F.lit(1)))
           <= cfg.max_link_density))
    html_text = F.concat_ws(" ", F.transform(kept, lambda s: s["btext"]))

    toks = F.split(F.col("text"), " ")
    evens = F.filter(toks, lambda x, i: i % 2 == F.lit(0))
    odds = F.filter(toks, lambda x, i: i % 2 == F.lit(1))
    pdf_text = F.concat_ws(" ", F.concat(evens, odds))

    out_text = (F.when(F.col("kind") == "html", html_text)
                .when(F.col("kind") == "pdf", pdf_text)
                .otherwise(F.col("text")))
    keep = F.when(F.col("kind") == "html", F.size(kept) > 0).otherwise(F.lit(True))
    return (spans.where(F.col("kind").isin("html", "pdf", "text"))
            .where(keep)
            .select("doc_id", F.col("offset").alias("order"), "kind",
                    out_text.alias("text"), F.lit("").alias("media_ref")))


def extract_spans(documents: DataFrame, media_pages: DataFrame,
                  config: ExtractionConfig | None = None) -> DataFrame:
    """Full extraction plan: explode → kind-dispatched narrow pass +
    media-join branch → union. TWO scans of the documents table total
    (narrow CASE pass, media join side), not one per kind. Returns the
    flat span-sequence table (doc_id, order, kind, text, media_ref)."""
    cfg = config or ExtractionConfig()
    spans = explode_spans(documents)
    return (
        _narrow_kind_spans(spans, cfg)
        .unionByName(extract_media_spans(spans, media_pages))
    )


def run_extraction_job(spark: SparkSession, documents_path: str,
                       media_pages_path: str, out_dir: str, ckpt_dir: str,
                       config: ExtractionConfig | None = None) -> dict:
    """Batch extraction with partition-granular resume — same lineage
    machinery as the redaction job (checkpoint.py): stable
    xxhash64(doc_id) buckets, bucket-partitioned dynamic overwrite
    (idempotent reruns), lineage appended only after the data commit and
    observed during it (checkpoint.BucketMetrics)."""
    cfg = config or ExtractionConfig()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    docs = ckpt.with_bucket(spark.read.parquet(documents_path), cfg.n_buckets)
    media_pages = spark.read.parquet(media_pages_path)
    done = ckpt.completed_buckets(spark, ckpt_dir)
    remaining = sorted(set(range(cfg.n_buckets)) - done)

    stats = {"buckets_done_before": len(done), "waves": 0}
    for g in range(0, len(remaining), cfg.bucket_group):
        group = remaining[g: g + cfg.bucket_group]
        timer = ckpt.StageTimer()
        # both union branches scan the observed documents; an observation
        # is reported once per query, so n_docs counts each document once
        docs_m = ckpt.BucketMetrics(group, n_docs=F.lit(1))
        out_m = ckpt.BucketMetrics(group, **ckpt.span_metrics())
        wave_docs = docs_m.on(docs.filter(F.col("bucket").isin(group)))
        out = out_m.on(ckpt.with_bucket(
            extract_spans(wave_docs.drop("bucket"), media_pages, cfg), cfg.n_buckets))
        out.write.mode("overwrite").partitionBy("bucket").parquet(f"{out_dir}/main_spans")
        ckpt.append_checkpoint(spark, ckpt_dir, ckpt.lineage_rows(
            group, timer.elapsed(), docs_m, out_m))
        stats["waves"] += 1
    stats["buckets_total"] = cfg.n_buckets
    return stats
