"""Lineage rows observed during the sink writes, and the number of Spark
jobs a warm run submits.

Both batch jobs take their per-bucket lineage counts from Observations on
the frames their sinks write (checkpoint.BucketMetrics) instead of
re-reading the outputs. Each lineage row must still equal the counts read
back from that run's outputs: n_spans = span rows, n_pages = span rows
with a media_ref, n_chars = summed span text length, n_boxes = redaction
rows, n_docs = documents the wave processed — which includes a valid
document that writes no rows (an empty ``spans`` array, an html span that
is all boilerplate).

Both jobs write their partitioned sinks with a per-write dynamic
overwrite option, so the caller's session conf is left as it was.

The job-count pins are ceilings, like tests/test_plan_audit.py's plan
pins: a change that adds a Spark job to a warm run fails here; one that
removes a job passes (lower the pin when you bank it).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_redaction_engine_spark import checkpoint, corpus, oracle
from ocr_redaction_engine_spark.extraction_pipeline import (ExtractionConfig,
                                                            run_extraction_job)
from ocr_redaction_engine_spark.pipeline import PipelineConfig, run_job

N_BUCKETS = 4
REDACT_CFG = dict(n_buckets=N_BUCKETS, bucket_group=4, claimant="t",
                  claim_ttl_sec=3600.0)
EXTRACT_CFG = dict(n_buckets=N_BUCKETS, bucket_group=2)

EMPTY_DOC = {"doc_id": "doc-empty", "spans": []}
BOILERPLATE_DOC = {"doc_id": "doc-boilerplate", "spans": [{
    "kind": "html", "media_ref": "", "offset": 0,
    "text": "<nav><a href='/'>Home</a> <a href='/about'>About us</a></nav>"
            "<footer><p>(c) 2026</p></footer>"}]}

# Spark jobs of one warm run on the corpora below (local[8] test session)
MAX_JOBS_RUN_JOB = 14
MAX_JOBS_EXTRACTION_JOB = 8


def _write(spark, base, docs, pages):
    docs_df, pages_df = corpus.local_frames(spark, docs, pages)
    docs_df.write.parquet(f"{base}/documents")
    pages_df.write.parquet(f"{base}/media_pages")
    return f"{base}/documents", f"{base}/media_pages"


@pytest.fixture(scope="module")
def redact_input(spark, tmp_path_factory):
    docs, pages = corpus.build_corpus_local(42, 60)
    docs, pages, planted = corpus.corrupt_corpus_local(docs, pages, 13)
    assert planted
    base = str(tmp_path_factory.mktemp("lineage_redact"))
    return _write(spark, base, docs + [EMPTY_DOC], pages)


@pytest.fixture(scope="module")
def extract_input(spark, tmp_path_factory):
    docs, pages = corpus.build_web_corpus_local(7, 60)
    docs = docs + [EMPTY_DOC, BOILERPLATE_DOC]
    written = {r[0] for r in oracle.expected_extracted_spans(docs, pages)}
    assert not written & {"doc-empty", "doc-boilerplate"}
    base = str(tmp_path_factory.mktemp("lineage_extract"))
    return _write(spark, base, docs, pages)


def _per_bucket(df, **aggs) -> dict[int, dict]:
    rows = df.groupBy("bucket").agg(
        *[a.alias(k) for k, a in aggs.items()]).collect()
    got = {r["bucket"]: r.asDict() for r in rows}
    return {b: {k: int((got.get(b) or {}).get(k) or 0) for k in aggs}
            for b in range(N_BUCKETS)}


def _lineage(spark, ckpt_dir) -> dict[int, dict]:
    rows = spark.read.parquet(ckpt_dir).collect()
    assert sorted(r["bucket"] for r in rows) == list(range(N_BUCKETS))
    assert all(r["status"] == "done" for r in rows)
    return {r["bucket"]: r.asDict() for r in rows}


def _span_counts(spark, path) -> dict[int, dict]:
    return _per_bucket(
        spark.read.parquet(path),
        n_spans=F.count(F.lit(1)),
        n_pages=F.count(F.when(F.col("media_ref") != "", 1)),
        n_chars=F.sum(F.length("text")))


def _doc_counts(spark, docs_path, exclude=()) -> dict[int, dict]:
    docs = checkpoint.with_bucket(spark.read.parquet(docs_path), N_BUCKETS)
    return _per_bucket(docs.where(~F.col("doc_id").isin(list(exclude)))
                       if exclude else docs, n_docs=F.count(F.lit(1)))


def test_run_job_lineage_matches_outputs(spark, redact_input, tmp_path):
    docs_path, pages_path = redact_input
    out, ck = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stats = run_job(spark, docs_path, pages_path, out, ck,
                    PipelineConfig(**REDACT_CFG))
    invalid = [r["doc_id"] for r in spark.read.parquet(f"{out}/invalid").collect()]
    assert stats["n_invalid"] == len(invalid) > 0

    spans = _span_counts(spark, f"{out}/spans")
    boxes = _per_bucket(spark.read.parquet(f"{out}/redactions"),
                        n_boxes=F.count(F.lit(1)))
    docs = _doc_counts(spark, docs_path, exclude=invalid)
    for b, row in _lineage(spark, ck).items():
        want = {**spans[b], **boxes[b], **docs[b]}
        assert {k: row[k] for k in want} == want, b
    # n_docs counts processed documents, so the empty one too
    lineage_docs = sum(r["n_docs"] for r in _lineage(spark, ck).values())
    written = spark.read.parquet(f"{out}/spans").select("doc_id").distinct().count()
    assert lineage_docs == written + 1


def test_extraction_lineage_matches_outputs(spark, extract_input, tmp_path):
    docs_path, pages_path = extract_input
    out, ck = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stats = run_extraction_job(spark, docs_path, pages_path, out, ck,
                               ExtractionConfig(**EXTRACT_CFG))
    assert stats["waves"] == 2

    spans = _span_counts(spark, f"{out}/main_spans")
    docs = _doc_counts(spark, docs_path)
    for b, row in _lineage(spark, ck).items():
        want = {**spans[b], **docs[b], "n_boxes": 0}
        assert {k: row[k] for k in want} == want, b
    lineage_docs = sum(r["n_docs"] for r in _lineage(spark, ck).values())
    written = spark.read.parquet(f"{out}/main_spans").select("doc_id") \
        .distinct().count()
    assert lineage_docs == written + 2


def _jobs(spark, run) -> int:
    """Spark jobs submitted while ``run()`` runs, on any driver thread (the
    wave and spans sink threads included: they carry the caller's job
    group, which is none)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup())
    run()
    bus.waitUntilEmpty()
    return len(set(sc.statusTracker().getJobIdsForGroup()) - before)


def test_jobs_leave_session_overwrite_mode_alone(spark, redact_input,
                                                 extract_input, tmp_path):
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        run_job(spark, *redact_input, str(tmp_path / "out_r"),
                str(tmp_path / "ckpt_r"), PipelineConfig(**REDACT_CFG))
        assert spark.conf.get(key) == "STATIC"
        run_extraction_job(spark, *extract_input, str(tmp_path / "out_x"),
                           str(tmp_path / "ckpt_x"),
                           ExtractionConfig(**EXTRACT_CFG))
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.set(key, before)


def test_jobs_run_in_the_callers_job_group(spark, redact_input,
                                           extract_input, tmp_path):
    """Every Spark job both batch jobs submit runs in the caller's job group,
    the jobs of the wave threads and of the spans sink thread included:
    two waves each, and run_job without a claimant (two waves in flight)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped = set(sc.statusTracker().getJobIdsForGroup())
    sc.setJobGroup("caller", "jobs run on the caller's behalf")
    try:
        run_job(spark, *redact_input, str(tmp_path / "out_r"),
                str(tmp_path / "ckpt_r"),
                PipelineConfig(n_buckets=N_BUCKETS, bucket_group=2))
        run_extraction_job(spark, *extract_input, str(tmp_path / "out_x"),
                           str(tmp_path / "ckpt_x"),
                           ExtractionConfig(**EXTRACT_CFG))
    finally:
        sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("caller")
    assert set(sc.statusTracker().getJobIdsForGroup()) - ungrouped == set()


def test_warm_run_job_spark_jobs(spark, redact_input, tmp_path):
    docs_path, pages_path = redact_input

    def run(tag):
        run_job(spark, docs_path, pages_path, str(tmp_path / f"out{tag}"),
                str(tmp_path / f"ckpt{tag}"), PipelineConfig(**REDACT_CFG))

    run("warm")
    n = _jobs(spark, lambda: run("counted"))
    assert 0 < n <= MAX_JOBS_RUN_JOB, n


def test_warm_extraction_job_spark_jobs(spark, extract_input, tmp_path):
    docs_path, pages_path = extract_input

    def run(tag):
        stats = run_extraction_job(
            spark, docs_path, pages_path, str(tmp_path / f"out{tag}"),
            str(tmp_path / f"ckpt{tag}"), ExtractionConfig(**EXTRACT_CFG))
        assert stats["waves"] == 2

    run("warm")
    n = _jobs(spark, lambda: run("counted"))
    assert 0 < n <= MAX_JOBS_EXTRACTION_JOB, n
