"""The traced run: layer self times, Spark event-log metrics and the
single-thread kernel rate.

``replay_redact`` / ``replay_extract`` drive one job the way ``run_job`` /
``run_extraction_job`` do, wave by wave and through the same package
functions, but with a span around each layer call. Spark evaluates lazily,
so inside its span each layer's output is cached and counted: the span is
then that layer's own work, its input having been materialized by the span
before. The spans partition the replay's wall time; what no span covers is
reported as ``trace.unattributed_s``. The replay runs the three redaction
sinks one after another, where ``run_job`` overlaps the spans sink with the
other two; that, and the caching, is in ``trace.overhead_s``.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from ocr_redaction_engine_spark import checkpoint as ckpt
from ocr_redaction_engine_spark import oracle
from ocr_redaction_engine_spark.extraction_pipeline import (
    _narrow_kind_spans, extract_media_spans)
from ocr_redaction_engine_spark.operators.explode import (explode_spans,
                                                           route_spans)
from ocr_redaction_engine_spark.operators.extract import extract_page_rows
from ocr_redaction_engine_spark.operators.reassemble import (
    passthrough_media_spans, redacted_text_spans)
from ocr_redaction_engine_spark.operators.redactions import (build_redactions,
                                                              build_values)
from ocr_redaction_engine_spark.operators.tokenize import tokenize_fixture
from ocr_redaction_engine_spark.operators.validate import (INVALID_DDL,
                                                            collect_invalid,
                                                            route_with_collected)

#: Every span name a replay can open; each becomes a ``<name>_s`` self-time
#: metric (0 on a workload whose job never calls that layer).
SPANS = (
    "pipeline.wave_overhead", "pipeline.scan", "pipeline.sink_spans",
    "pipeline.sink_redactions", "pipeline.sink_values", "pipeline.sink_invalid",
    "pipeline.sink_main_spans", "pipeline.lineage_reread",
    "checkpoint.completed", "checkpoint.claim", "checkpoint.append",
    "validate.probe", "validate.route", "explode", "pii.redact", "reassemble",
    "tokenize.join", "extract", "redactions",
    "extraction_pipeline.extract", "extraction_pipeline.media_join",
)


def self_time_metric(span: str) -> str:
    """``explode`` -> ``explode.s``, ``pii.redact`` -> ``pii.redact_s``."""
    return f"{span}.s" if "." not in span else f"{span}_s"


class Tracer:
    """In-memory spans with parent links; self time = duration minus the
    part covered by child spans."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        out = dict.fromkeys(SPANS, 0.0)
        for i, s in enumerate(self.spans):
            child = sum(c["end"] - c["start"] for c in self.spans
                        if c["parent"] == i)
            out[s["name"]] += (s["end"] - s["start"]) - child
        return out

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans if s["name"] == name]


def _cached(df):
    df = df.cache()
    return df, df.count()


# ---------------------------------------------------------------------------
# replays of the two jobs' wave loops (pipeline.run_job and
# extraction_pipeline.run_extraction_job), one span per layer call
# ---------------------------------------------------------------------------

def replay_redact(spark, tr: Tracer, docs_path, pages_path, out_dir, ckpt_dir,
                  cfg) -> tuple[dict, dict]:
    """Returns (stats shaped like run_job's, layer counts)."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    n = cfg.n_buckets
    docs = ckpt.with_bucket(spark.read.parquet(docs_path), n)
    media_pages = spark.read.parquet(pages_path)
    counts = {"checkpoint.buckets_won": 0, "checkpoint.buckets_lost": 0,
              "explode.text_spans": 0, "explode.media_spans": 0,
              "reassemble.spans_out": 0, "tokenize.pages_out": 0,
              "extract.rows_out": 0, "redactions.box_rows": 0,
              "redactions.value_rows": 0}
    with tr.span("checkpoint.completed"):
        done = ckpt.completed_buckets(spark, ckpt_dir)
    remaining = sorted(set(range(n)) - done)
    lost = []
    if cfg.claimant is not None and remaining:
        with tr.span("checkpoint.claim"):
            won = ckpt.claim_buckets(spark, ckpt_dir, remaining, cfg.claimant,
                                     ttl_sec=cfg.claim_ttl_sec,
                                     backend=cfg.claims_backend,
                                     claims_target=cfg.claims_target)
        lost = sorted(set(remaining) - won)
        remaining = sorted(won)
        counts["checkpoint.buckets_won"] = len(won)
        counts["checkpoint.buckets_lost"] = len(lost)
    with tr.span("validate.probe"):
        slim = spark.read.schema(
            "doc_id string, spans array<struct<kind:string,media_ref:string>>"
        ).parquet(docs_path)
        inv_rows = collect_invalid(slim, media_pages, cfg.ext_whitelist)
    counts["validate.invalid_docs"] = len(inv_rows)
    with tr.span("pipeline.sink_invalid"):
        inv_df = spark.createDataFrame([tuple(r) for r in inv_rows], INVALID_DDL)
        ckpt.with_bucket(inv_df, n).write.mode("overwrite") \
            .partitionBy("bucket").parquet(f"{out_dir}/invalid")

    acc = {"pages": spark.sparkContext.accumulator(0),
           "rejected": spark.sparkContext.accumulator(0)}
    stats = {"buckets_done_before": len(done), "waves": 0,
             "buckets_skipped_claimed": len(lost)}
    for g in range(0, len(remaining), cfg.bucket_group):
        group = remaining[g: g + cfg.bucket_group]
        t0 = time.time()
        with tr.span("pipeline.wave_overhead"):
            with tr.span("pipeline.scan"):
                wave_docs, _ = _cached(docs.filter(F.col("bucket").isin(group))
                                       .drop("bucket"))
                media, _ = _cached(media_pages)
            with tr.span("validate.route"):
                valid, _ = _cached(route_with_collected(wave_docs, inv_rows)[0])
            with tr.span("explode"):
                text, media_spans = route_spans(explode_spans(valid))
                text, n_text = _cached(text)
                media_spans, n_media = _cached(media_spans)
            with tr.span("pii.redact"):
                red_text, _ = _cached(redacted_text_spans(text))
            with tr.span("reassemble"):
                flat, n_flat = _cached(red_text.unionByName(
                    passthrough_media_spans(media_spans)))
            with tr.span("tokenize.join"):
                pages, n_pages = _cached(tokenize_fixture(media_spans, media))
            with tr.span("extract"):
                extracted, n_rows = _cached(extract_page_rows(
                    pages, cfg.level, acc, places=cfg.places))
            with tr.span("redactions"):
                red, n_box = _cached(build_redactions(extracted))
                vals, n_val = _cached(build_values(extracted))
            with tr.span("pipeline.sink_spans"):
                ckpt.with_bucket(flat, n).write.mode("overwrite") \
                    .partitionBy("bucket").parquet(f"{out_dir}/spans")
            with tr.span("pipeline.sink_redactions"):
                ckpt.with_bucket(red, n).write.mode("overwrite") \
                    .partitionBy("bucket").parquet(f"{out_dir}/redactions")
            with tr.span("pipeline.sink_values"):
                ckpt.with_bucket(vals, n).write.mode("overwrite") \
                    .partitionBy("bucket").parquet(f"{out_dir}/values")
            with tr.span("pipeline.lineage_reread"):
                m = {r["bucket"]: r for r in
                     spark.read.parquet(f"{out_dir}/spans")
                     .filter(F.col("bucket").isin(group)).groupBy("bucket")
                     .agg(F.countDistinct("doc_id").alias("n_docs"),
                          F.count("*").alias("n_spans"),
                          F.countDistinct(F.when(F.col("media_ref") != "",
                                                 F.col("media_ref")))
                          .alias("n_pages"))
                     .collect()}
                b = {r["bucket"]: r["n_boxes"] for r in
                     spark.read.parquet(f"{out_dir}/redactions")
                     .filter(F.col("bucket").isin(group)).groupBy("bucket")
                     .agg(F.count("*").alias("n_boxes")).collect()}
            wall = time.time() - t0
            with tr.span("checkpoint.append"):
                ckpt.append_checkpoint(spark, ckpt_dir, [
                    {"bucket": bk, "status": "done",
                     "n_docs": m[bk]["n_docs"] if bk in m else 0,
                     "n_spans": m[bk]["n_spans"] if bk in m else 0,
                     "n_pages": m[bk]["n_pages"] if bk in m else 0,
                     "n_boxes": b.get(bk, 0),
                     "wall_sec": wall / max(1, len(group))}
                    for bk in group])
            for df in (wave_docs, media, valid, text, media_spans, red_text,
                       flat, pages, extracted, red, vals):
                df.unpersist()
        stats["waves"] += 1
        counts["explode.text_spans"] += n_text
        counts["explode.media_spans"] += n_media
        counts["reassemble.spans_out"] += n_flat
        counts["tokenize.pages_out"] += n_pages
        counts["extract.rows_out"] += n_rows
        counts["redactions.box_rows"] += n_box
        counts["redactions.value_rows"] += n_val
    with tr.span("pipeline.sink_invalid"):
        stats["n_invalid"] = spark.read.schema(INVALID_DDL + ", bucket int") \
            .parquet(f"{out_dir}/invalid").count()
    counts["extract.pages_in"] = acc["pages"].value
    counts["extract.rejected_pages"] = acc["rejected"].value
    return stats, counts


def replay_extract(spark, tr: Tracer, docs_path, pages_path, out_dir, ckpt_dir,
                   cfg) -> tuple[dict, dict]:
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    n = cfg.n_buckets
    docs = ckpt.with_bucket(spark.read.parquet(docs_path), n)
    media_pages = spark.read.parquet(pages_path)
    counts = {"explode.text_spans": 0, "explode.media_spans": 0,
              "extraction_pipeline.rows_out": 0}
    with tr.span("checkpoint.completed"):
        done = ckpt.completed_buckets(spark, ckpt_dir)
    remaining = sorted(set(range(n)) - done)
    stats = {"buckets_done_before": len(done), "waves": 0}
    for g in range(0, len(remaining), cfg.bucket_group):
        group = remaining[g: g + cfg.bucket_group]
        t0 = time.time()
        with tr.span("pipeline.wave_overhead"):
            with tr.span("pipeline.scan"):
                wave_docs, _ = _cached(docs.filter(F.col("bucket").isin(group))
                                       .drop("bucket"))
                media, _ = _cached(media_pages)
            with tr.span("explode"):
                spans, n_spans = _cached(explode_spans(wave_docs))
                n_media = spans.filter(F.col("kind") == "media").count()
            with tr.span("extraction_pipeline.extract"):
                narrow, n_narrow = _cached(_narrow_kind_spans(spans, cfg))
            with tr.span("extraction_pipeline.media_join"):
                joined, n_joined = _cached(extract_media_spans(spans, media))
            with tr.span("pipeline.sink_main_spans"):
                ckpt.with_bucket(narrow.unionByName(joined), n).write \
                    .mode("overwrite").partitionBy("bucket") \
                    .parquet(f"{out_dir}/main_spans")
            with tr.span("pipeline.lineage_reread"):
                m = {r["bucket"]: r for r in
                     spark.read.parquet(f"{out_dir}/main_spans")
                     .filter(F.col("bucket").isin(group)).groupBy("bucket")
                     .agg(F.countDistinct("doc_id").alias("n_docs"),
                          F.count("*").alias("n_spans"),
                          F.countDistinct(F.when(F.col("media_ref") != "",
                                                 F.col("media_ref")))
                          .alias("n_pages"),
                          F.sum(F.length("text")).alias("n_chars"))
                     .collect()}
            wall = time.time() - t0
            with tr.span("checkpoint.append"):
                ckpt.append_checkpoint(spark, ckpt_dir, [
                    {"bucket": bk, "status": "done",
                     "n_docs": m[bk]["n_docs"] if bk in m else 0,
                     "n_spans": m[bk]["n_spans"] if bk in m else 0,
                     "n_pages": m[bk]["n_pages"] if bk in m else 0,
                     "n_boxes": int(m[bk]["n_chars"] or 0) if bk in m else 0,
                     "wall_sec": wall / max(1, len(group))}
                    for bk in group])
            for df in (wave_docs, media, spans, narrow, joined):
                df.unpersist()
        stats["waves"] += 1
        counts["explode.text_spans"] += n_spans - n_media
        counts["explode.media_spans"] += n_media
        counts["extraction_pipeline.rows_out"] += n_narrow + n_joined
    return stats, counts


# ---------------------------------------------------------------------------
# kernel rate and event log
# ---------------------------------------------------------------------------

def kernel_pages_per_s(pages: list, sample: int = 200,
                       min_seconds: float = 0.5) -> float:
    """Single thread, no Spark: ``oracle.process_page`` (level 1, default
    places, as both workloads run) over the first ``sample`` media pages,
    repeated until ``min_seconds`` have passed."""
    pages = pages[:sample]
    done, t0 = 0, time.perf_counter()
    while True:
        for p in pages:
            oracle.process_page(p)
        done += len(pages)
        dt = time.perf_counter() - t0
        if dt >= min_seconds:
            return done / dt


def read_event_log(log_dir: str) -> dict:
    """Jobs and finished tasks from the (rolling, uncompressed) event logs
    of the stopped applications under ``log_dir``; times in epoch seconds."""
    jobs, tasks = {}, []
    for path in glob.glob(f"{log_dir}/*/events_*"):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1e3,
                                         "end": None,
                                         "stages": set(e["Stage IDs"])}
                elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif ev == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                    ti, m = e["Task Info"], e["Task Metrics"]
                    acc = {a["Name"]: a.get("Update", 0)
                           for a in ti.get("Accumulables", []) if "Name" in a}
                    tasks.append({
                        "stage": e["Stage ID"],
                        "start": ti["Launch Time"] / 1e3,
                        "end": ti["Finish Time"] / 1e3,
                        "gc": m.get("JVM GC Time", 0) / 1e3,
                        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                        "shuffle_bytes": m.get("Shuffle Write Metrics", {})
                        .get("Shuffle Bytes Written", 0),
                        "py_sent": int(acc.get("data sent to Python workers", 0) or 0),
                        "py_recv": int(acc.get("data returned from Python workers", 0) or 0),
                    })
    return {"jobs": [j for j in jobs.values() if j["end"] is not None],
            "tasks": tasks}


def window_metrics(log: dict, t0: float, t1: float, cores: int) -> dict:
    """Engine-side metrics of the jobs submitted in [t0, t1]."""
    jobs = [j for j in log["jobs"] if t0 <= j["start"] <= t1]
    stages = set().union(*(j["stages"] for j in jobs)) if jobs else set()
    tasks = [t for t in log["tasks"] if t["stage"] in stages]
    busy = sum(t["end"] - t["start"] for t in tasks)
    covered, cur_end = 0.0, t0
    for j in sorted(jobs, key=lambda j: j["start"]):
        s, e = max(j["start"], cur_end), min(j["end"], t1)
        if e > s:
            covered += e - s
            cur_end = e
    skew = 1.0
    for st in stages:
        d = [t["end"] - t["start"] for t in tasks if t["stage"] == st]
        if len(d) >= cores and statistics.median(d) > 0:
            skew = max(skew, max(d) / statistics.median(d))
    return {
        "jobs": len(jobs),
        "driver_gap_s": (t1 - t0) - covered,
        "task_busy_share": busy / ((t1 - t0) * cores),
        "gc_s": sum(t["gc"] for t in tasks),
        "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
        "input_bytes": sum(t["input_bytes"] for t in tasks),
        "py_sent": sum(t["py_sent"] for t in tasks),
        "py_recv": sum(t["py_recv"] for t in tasks),
        "task_skew_max": skew,
    }


def span_shuffle_bytes(log: dict, windows) -> int:
    """Shuffle bytes written by the jobs submitted inside ``windows``."""
    stages = set()
    for j in log["jobs"]:
        if any(a <= j["start"] <= b for a, b in windows):
            stages |= j["stages"]
    return sum(t["shuffle_bytes"] for t in log["tasks"] if t["stage"] in stages)
