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
from .analytics.extraction import (BLOCK_SPLIT, anchor_chars, block_text,
                                   strip_script_style)
from .operators.explode import explode_spans


@dataclass
class ExtractionConfig:
    min_len: int = 15              # content-block keep threshold (chars)
    max_link_density: float = 0.2  # boilerplate threshold (anchor chars / chars)
    n_buckets: int = 32            # checkpoint granularity
    bucket_group: int = 8          # buckets committed per wave


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

    html: boilerplate strip per span — one span is one row, so DOM-block
    segmentation, scoring, keep-filter and ordered reassembly are array
    higher-order functions on that row, built from the same DOM-block
    expressions as the grouped analytics/extraction.strip_boilerplate; a
    span whose every block is dropped yields no row, like the oracle.
    pdf: two-column reading order — the text is the naive y-then-x scan
    (token 2r = column 0 row r, token 2r+1 = column 1 row r), so
    even-index tokens come first, then odd.
    text: already main content, passed through."""
    kept = F.filter(
        F.transform(
            F.split(strip_script_style("text"), BLOCK_SPLIT),
            lambda b: F.struct(block_text(b).alias("btext"),
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
    """Batch extraction with partition-granular resume — the redaction
    job's wave loop (checkpoint.run_waves) with one sink, ``main_spans``."""
    cfg = config or ExtractionConfig()
    media_pages = spark.read.parquet(media_pages_path)

    def write_wave(group, wave_docs):
        # both union branches scan the observed documents; an observation
        # is reported once per query, so n_docs counts each document once
        docs_m = ckpt.BucketMetrics(group, ckpt.bucket_col(cfg.n_buckets),
                                    n_docs=F.lit(1))
        out_m = ckpt.BucketMetrics(group, **ckpt.span_metrics())
        ckpt.write_buckets(extract_spans(docs_m.on(wave_docs), media_pages, cfg),
                           cfg.n_buckets, f"{out_dir}/main_spans", out_m)
        return docs_m, out_m

    return ckpt.run_waves(spark, spark.read.parquet(documents_path), ckpt_dir,
                          cfg.n_buckets, cfg.bucket_group, write_wave)
