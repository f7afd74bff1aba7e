"""End-to-end redaction pipeline (SURVEY.md §3.4) — pure DataFrame wiring.

    documents ──explode──┬─ text spans ── regexp PII redact ──┬─ reassembled spans
                         └─ media spans ── tokenize(join) ────┘
                               └─ mapInPandas kernel (identify + extract
                                  + page-local seq/quirks) ── redactions + values

ONE shuffle on the whole path: the media_ref resolve join. Sequence
numbering, the None-coordinates quirk, and the REJECTED box are all computed
page-locally inside the Arrow stage, so the redactions/values sinks are
narrow filters that pipeline inside the extract tasks. The span-sequence
output itself is shuffle-free; assembling array-form documents adds one hash
agg on doc_id. Skew from media-heavy documents dissolves at explode time —
the unit of work is the page, and pages hash uniformly across tasks (AQE
splits join skew).

``run_pipeline`` only builds plans over documents that are already routed:
the P1 validity split (INVALID_DOCUMENT) is ``validate.split_valid``, which
``run_job`` and ``streaming.stream_pipeline`` call once before it.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import checkpoint as ckpt
from .operators.explode import explode_spans, route_spans
from .operators.extract import extract_page_rows
from .operators.redactions import build_redactions, build_values
from .operators.reassemble import assemble_documents, reassemble_flat
from .operators.tokenize import tokenize_fixture
from .operators.validate import VALID_EXTENSIONS, split_valid


@dataclass
class PipelineConfig:
    level: int = 1                 # redaction level (settings/configuration.ini:10-13)
    n_buckets: int = 32            # checkpoint granularity
    bucket_group: int = 8          # buckets committed per wave
    places: list[str] | None = None  # address dictionary override (default:
    # places.PLACES_LIST; load the reference's full 1,391-entry list here in
    # production — it ships to executors inside the Arrow UDF closure)
    ext_whitelist: tuple = VALID_EXTENSIONS
    claimant: str | None = None    # multi-writer id (S2): when set, run_job
    # claims its remaining buckets through checkpoint.claim_buckets and
    # processes only the buckets it won — two concurrent drivers split the
    # corpus instead of double-processing it
    claim_ttl_sec: float | None = None  # lease TTL: claims older than this
    # without a done row count as abandoned, so a recovery driver wins them
    # (run_waves renews the lease before every wave: size above the
    # worst-case wall time of one wave; see claim_buckets)
    claims_backend: str | None = None  # None = raw parquet; 'delta' /
    # 'iceberg' / 'auto' route claims through the ACID lakehouse adapter
    # for exact single-processing (serialized claim commits)
    claims_target: str | None = None  # claims table override (required as a
    # catalog name for iceberg)


def run_pipeline(documents: DataFrame, media_pages: DataFrame,
                 config: PipelineConfig | None = None,
                 counters: dict | None = None,
                 observe_docs: Callable[[DataFrame], DataFrame] | None = None
                 ) -> dict[str, DataFrame]:
    """Plan builder: returns the output DataFrames and submits no Spark
    job. ``documents`` are taken as valid: route them through
    ``validate.split_valid`` first (P1). ``counters`` =
    optional accumulator dict for live progress metrics (A8).
    ``observe_docs`` wraps the valid documents feeding the ``spans`` output
    only (run_job's lineage n_docs observation), so the extract outputs'
    plans do not carry it."""
    cfg = config or PipelineConfig()
    media_spans = route_spans(explode_spans(documents))[1]
    pages = tokenize_fixture(media_spans, media_pages)
    # identify + extract fused in ONE Arrow stage (kernel-side bank)
    extracted = extract_page_rows(pages, cfg.level, counters, places=cfg.places)

    # the spans output explodes its own copy of the documents, so an
    # observe_docs observation reaches the spans plan only
    spans_docs = documents if observe_docs is None else observe_docs(documents)
    flat_spans = reassemble_flat(*route_spans(explode_spans(spans_docs)))
    return {
        "spans": flat_spans,
        "documents": assemble_documents(flat_spans),
        # the flat extract output — persist this when forcing more than one
        # of the sinks below, or the Arrow stage recomputes per action
        "page_rows": extracted,
        "redactions": build_redactions(extracted),
        "values": build_values(extracted),
    }


def run_job(spark: SparkSession, documents_path: str, media_pages_path: str,
            out_dir: str, ckpt_dir: str, config: PipelineConfig | None = None) -> dict:
    """Batch job with partition-granular resume (checkpoint.run_waves).

    The validity probe runs once over the whole corpus (the reference
    validates once, at promotion) and writes the invalid sink; the valid
    documents then go through the wave loop, where each wave writes its
    spans, redactions and values partitioned by bucket and the lineage
    counts are observed during those writes (checkpoint.BucketMetrics).
    """
    cfg = config or PipelineConfig()
    documents = spark.read.parquet(documents_path)
    media_pages = spark.read.parquet(media_pages_path)

    # P1 validity over the whole corpus (the probe's scan prunes spans.text)
    documents, invalid = split_valid(documents, media_pages, cfg.ext_whitelist)
    inv_obs = Observation()
    ckpt.write_buckets(invalid.observe(inv_obs, F.count(F.lit(1)).alias("n")),
                       cfg.n_buckets, f"{out_dir}/invalid")

    # live at-least-once progress accumulators (A8); exact numbers live in
    # the checkpoint lineage rows
    counters = {"pages": spark.sparkContext.accumulator(0),
                "rejected": spark.sparkContext.accumulator(0)}

    def write_wave(group, wave_docs):
        # lineage: documents on the spans sink's scan, span and box rows on
        # the spans and redactions sink frames — each in one sink's plan
        docs_m = ckpt.BucketMetrics(group, ckpt.bucket_col(cfg.n_buckets),
                                    n_docs=F.lit(1))
        spans_m = ckpt.BucketMetrics(group, **ckpt.span_metrics())
        red_m = ckpt.BucketMetrics(group, n_boxes=F.lit(1))
        outs = run_pipeline(wave_docs, media_pages, cfg, counters,
                            observe_docs=docs_m.on)
        # redactions + values both derive from the flat extract output;
        # persist it so the Arrow stage runs once per wave, not per sink
        page_rows = outs["page_rows"].persist()

        # the spans sink is JVM-only and independent of the Arrow extract
        # stage: run it as a CONCURRENT job so it fills cores while the
        # Arrow stage's JVM threads block on the Python workers (r5;
        # redactions then values stay sequential — the first fills the
        # page_rows cache the second reads)
        spans_err: list[BaseException] = []

        def _write_spans():
            try:
                ckpt.write_buckets(outs["spans"], cfg.n_buckets,
                                   f"{out_dir}/spans", spans_m)
            except BaseException as e:   # re-raised after the join below
                spans_err.append(e)

        # the caller's job group, description and pool carry to its jobs
        spans_t = InheritableThread(_write_spans, session=spark)
        spans_t.start()
        try:
            ckpt.write_buckets(outs["redactions"], cfg.n_buckets,
                               f"{out_dir}/redactions", red_m)
            ckpt.write_buckets(outs["values"], cfg.n_buckets,
                               f"{out_dir}/values")
        finally:
            spans_t.join()
            page_rows.unpersist()
        if spans_err:
            raise spans_err[0]
        return docs_m, spans_m, red_m

    claim = None
    if cfg.claimant is not None:
        # S2 multi-writer claim: process only the buckets this driver wins
        # (single-winner rule documented at checkpoint.claim_buckets)
        claimed = []

        def claim(buckets):
            if claimed and cfg.claim_ttl_sec is None:
                return set(buckets)   # no TTL: a lease never lapses
            claimed.append(True)
            return ckpt.claim_buckets(
                spark, ckpt_dir, buckets, cfg.claimant,
                ttl_sec=cfg.claim_ttl_sec, backend=cfg.claims_backend,
                claims_target=cfg.claims_target)

    stats = ckpt.run_waves(spark, documents, ckpt_dir, cfg.n_buckets,
                           cfg.bucket_group, write_wave, claim)
    stats["acc_pages"] = counters["pages"].value
    stats["acc_rejected"] = counters["rejected"].value
    stats["n_invalid"] = inv_obs.get["n"]
    return stats
