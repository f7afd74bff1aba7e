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
the unit of work is the page, and pages hash uniformly across tasks
(optional ``repartition`` knob below for clusters where the join's
partitioning is too coarse for the Python stage; AQE splits join skew).
"""

from __future__ import annotations

import logging
import threading
from dataclasses import dataclass, replace
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import checkpoint as ckpt
from .operators.explode import explode_spans, route_spans
from .operators.extract import extract_page_rows
from .operators.redactions import build_redactions, build_values
from .operators.reassemble import assemble_documents, reassemble_flat
from .operators.tokenize import tokenize_fixture
from .operators.validate import (INVALID_DDL, VALID_EXTENSIONS,
                                 collect_invalid, route_with_collected,
                                 validity_route)
from .session import local_frame

_log = logging.getLogger(__name__)


@dataclass
class PipelineConfig:
    level: int = 1                 # redaction level (settings/configuration.ini:10-13)
    n_buckets: int = 32            # checkpoint granularity
    bucket_group: int = 8          # buckets committed per wave
    extract_partitions: int | None = None  # explicit repartition before the Arrow stage
    places: list[str] | None = None  # address dictionary override (default:
    # places.PLACES_LIST; load the reference's full 1,391-entry list here in
    # production — it ships to executors inside the Arrow UDF closure)
    validate: bool = True          # P1 validity route (INVALID_DOCUMENT)
    ext_whitelist: tuple = VALID_EXTENSIONS
    invalid_rows: list | None = None  # pre-collected probe result (run_job
    # probes the whole corpus once and threads the rows into every wave)
    claimant: str | None = None    # multi-writer id (S2): when set, run_job
    # claims its remaining buckets through checkpoint.claim_buckets and
    # processes only the buckets it won — two concurrent drivers split the
    # corpus instead of double-processing it
    claim_ttl_sec: float | None = None  # lease TTL: claims older than this
    # without a done row count as abandoned, so a recovery driver wins them
    # (size above worst-case bucket-group wall time; see claim_buckets)
    claims_backend: str | None = None  # None = raw parquet; 'delta' /
    # 'iceberg' / 'auto' route claims through the ACID lakehouse adapter
    # for exact single-processing (serialized claim commits)
    claims_target: str | None = None  # claims table override (required as a
    # catalog name for iceberg)
    probe_documents: DataFrame | None = None  # slimmer view of the SAME
    # documents used only by the validity probe — e.g. a schema-pruned
    # parquet re-read ("doc_id string, spans array<struct<kind:string,
    # media_ref:string>>"): Spark's generator nested-column aliasing cannot
    # prune multi-field struct access through an explode, so an explicit
    # pruned scan is how the probe avoids reading spans.text


def run_pipeline(documents: DataFrame, media_pages: DataFrame,
                 config: PipelineConfig | None = None,
                 counters: dict | None = None,
                 observe_docs: Callable[[DataFrame], DataFrame] | None = None
                 ) -> dict[str, DataFrame]:
    """Plan builder: returns the output DataFrames. With
    ``cfg.validate=True`` (the default) it EAGERLY runs the bounded
    validity-probe job at call time (one slim schema-pruned scan, like the
    reference's promotion-time check); set ``validate=False`` or pre-supply
    ``cfg.invalid_rows`` to restore a fully lazy build. ``counters`` =
    optional accumulator dict for live progress metrics (A8).
    ``observe_docs`` wraps the valid documents feeding the ``spans`` output
    only (run_job's lineage n_docs observation), so the extract outputs'
    plans do not carry it."""
    cfg = config or PipelineConfig()
    if cfg.validate:
        # P1: INVALID_DOCUMENT is terminal BEFORE any processing — one slim
        # (doc_id, media_ref)⋈(media_ref, ext) probe evaluated EAGERLY here
        # (exactly once, like the reference's promotion-time check), so the
        # sink plans carry only a map-side filter — zero added cost when the
        # corpus is clean instead of a probe re-run per forced sink
        inv_rows = cfg.invalid_rows
        if inv_rows is None:
            inv_rows = collect_invalid(
                cfg.probe_documents if cfg.probe_documents is not None
                else documents,
                media_pages, cfg.ext_whitelist)
        if inv_rows is None:
            # pathological corpus (> COLLECT_CAP invalid docs): lazy route
            documents, invalid = validity_route(documents, media_pages,
                                                cfg.ext_whitelist)
        else:
            documents, invalid = route_with_collected(documents, inv_rows)
    else:
        invalid = local_frame(documents.sparkSession, [], INVALID_DDL)
    media_spans = route_spans(explode_spans(documents))[1]
    pages = tokenize_fixture(media_spans, media_pages)
    if cfg.extract_partitions:
        # page-granular spread before the Python boundary: Arrow-stage cost is
        # per-page and invisible to AQE (SURVEY.md §4.2)
        pages = pages.repartition(cfg.extract_partitions, "media_ref")
    # identify + extract fused in ONE Arrow stage (kernel-side bank);
    # classify_pages (operators/classify.py) remains the JVM-side variant for
    # SQL-expressible classification workloads
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
        # P1 third terminal status (empty frame when cfg.validate=False)
        "invalid": invalid,
    }


def run_job(spark: SparkSession, documents_path: str, media_pages_path: str,
            out_dir: str, ckpt_dir: str, config: PipelineConfig | None = None) -> dict:
    """Batch job with partition-granular resume.

    Buckets (stable xxhash64(doc_id) % n) are processed in groups; each group
    writes its outputs partitioned by bucket (dynamic overwrite → idempotent
    reruns) and then appends its lineage rows, whose counts are observed
    during the sink writes (checkpoint.BucketMetrics). A killed run resumes
    by anti-joining completed buckets (north_rule).
    """
    cfg = config or PipelineConfig()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    docs = ckpt.with_bucket(spark.read.parquet(documents_path), cfg.n_buckets)
    media_pages = spark.read.parquet(media_pages_path)
    done = ckpt.completed_buckets(spark, ckpt_dir)
    remaining = sorted(set(range(cfg.n_buckets)) - done)
    buckets_lost = []
    if cfg.claimant is not None and remaining:
        # S2 multi-writer claim: process only the buckets this driver wins
        # (single-winner rule documented at checkpoint.claim_buckets)
        won = ckpt.claim_buckets(
            spark, ckpt_dir, remaining, cfg.claimant,
            ttl_sec=cfg.claim_ttl_sec, backend=cfg.claims_backend,
            claims_target=cfg.claims_target)
        buckets_lost = sorted(set(remaining) - won)
        if buckets_lost:
            # not necessarily a problem (another live driver owns them) —
            # but if THAT driver crashed, these buckets stay unprocessed
            # until a rerun with claim_ttl_sec set (or its claimant id)
            _log.warning(
                "run_job[%s]: skipping %d bucket(s) claimed by other "
                "drivers and not yet done: %s — if the claimant crashed, "
                "rerun with claim_ttl_sec set to reap the stale leases",
                cfg.claimant, len(buckets_lost), buckets_lost)
        remaining = sorted(won)

    # live at-least-once progress accumulators (A8); exact numbers live in
    # the checkpoint lineage rows
    counters = {"pages": spark.sparkContext.accumulator(0),
                "rejected": spark.sparkContext.accumulator(0)}

    # P1 validity: probe the WHOLE corpus once (the reference validates once,
    # at promotion), write the status sink, and thread the collected rows
    # into every wave so no wave re-runs the probe join
    if cfg.validate:
        slim_docs = spark.read.schema(
            "doc_id string, spans array<struct<kind:string,media_ref:string>>"
        ).parquet(documents_path)
        inv_rows = collect_invalid(slim_docs, media_pages, cfg.ext_whitelist)
        if inv_rows is None:   # > COLLECT_CAP invalid docs — let waves route lazily
            inv_rows_cfg = None
            inv_df = validity_route(docs.drop("bucket"), media_pages,
                                    cfg.ext_whitelist)[1]
        else:
            inv_rows_cfg = inv_rows
            inv_df = local_frame(spark, [tuple(r) for r in inv_rows], INVALID_DDL)
    else:
        inv_rows_cfg = []
        inv_df = local_frame(spark, [], INVALID_DDL)
    inv_obs = Observation()
    ckpt.with_bucket(inv_df.observe(inv_obs, F.count(F.lit(1)).alias("n")),
                     cfg.n_buckets) \
        .write.mode("overwrite").partitionBy("bucket").parquet(f"{out_dir}/invalid")
    wave_cfg = replace(cfg, invalid_rows=inv_rows_cfg)

    stats = {"buckets_done_before": len(done), "waves": 0,
             "buckets_skipped_claimed": len(buckets_lost)}
    for g in range(0, len(remaining), cfg.bucket_group):
        group = remaining[g: g + cfg.bucket_group]
        timer = ckpt.StageTimer()
        wave_docs = docs.filter(F.col("bucket").isin(group))
        # lineage: documents on the spans sink's scan, span and box rows on
        # the spans and redactions sink frames — each in one sink's plan
        docs_m = ckpt.BucketMetrics(group, ckpt.bucket_col(cfg.n_buckets),
                                    n_docs=F.lit(1))
        spans_m = ckpt.BucketMetrics(group, **ckpt.span_metrics())
        red_m = ckpt.BucketMetrics(group, n_boxes=F.lit(1))
        outs = run_pipeline(wave_docs.drop("bucket"), media_pages, wave_cfg,
                            counters, observe_docs=docs_m.on)
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
                spans_m.on(ckpt.with_bucket(outs["spans"], cfg.n_buckets)).write \
                    .mode("overwrite").partitionBy("bucket") \
                    .parquet(f"{out_dir}/spans")
            except BaseException as e:   # re-raised on the main thread
                spans_err.append(e)

        spans_t = threading.Thread(target=_write_spans)
        spans_t.start()
        try:
            red = red_m.on(ckpt.with_bucket(outs["redactions"], cfg.n_buckets))
            red.write.mode("overwrite").partitionBy("bucket").parquet(f"{out_dir}/redactions")
            vals = ckpt.with_bucket(outs["values"], cfg.n_buckets)
            vals.write.mode("overwrite").partitionBy("bucket").parquet(f"{out_dir}/values")
        finally:
            spans_t.join()
            page_rows.unpersist()
        if spans_err:
            raise spans_err[0]

        # per-bucket lineage metrics (A8), observed during the writes above
        ckpt.append_checkpoint(spark, ckpt_dir, ckpt.lineage_rows(
            group, timer.elapsed(), docs_m, spans_m, red_m))
        stats["waves"] += 1
    stats["buckets_total"] = cfg.n_buckets
    stats["acc_pages"] = counters["pages"].value
    stats["acc_rejected"] = counters["rejected"].value
    stats["n_invalid"] = inv_obs.get["n"]
    return stats
