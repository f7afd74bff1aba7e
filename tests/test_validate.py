"""P1 INVALID_DOCUMENT validity route (operators/validate.py) vs the
pure-Python oracle, and its doc-level exclusion guarantee through the full
pipeline. Reference semantics:
in_progress/process_in_progress_status.py:62-84,123-131."""

from pyspark.sql import functions as F

from ocr_redaction_engine_spark import corpus, oracle
from ocr_redaction_engine_spark.operators.validate import (
    invalid_documents, split_valid, validity_route)
from ocr_redaction_engine_spark.pipeline import PipelineConfig, run_pipeline


def _corrupted(n=120, every=13):
    docs, pages = corpus.build_corpus_local(42, n)
    return corpus.corrupt_corpus_local(docs, pages, every=every)


def test_invalid_documents_matches_oracle(spark):
    docs, pages, expected = _corrupted()
    assert expected, "planting rule must hit at this corpus size"
    docs_df, pages_df = corpus.local_frames(spark, docs, pages)
    got = {r["doc_id"]: (r["status"], r["task_result"], r["reason"])
           for r in invalid_documents(docs_df, pages_df).collect()}
    want = {doc_id: (st, tr, reason) for doc_id, st, tr, reason
            in oracle.expected_invalid_docs(docs, pages)}
    assert got == want
    # both failure modes are exercised
    reasons = {v[2] for v in got.values()}
    assert reasons == {"bad_extension", "missing_media"}
    # planting bookkeeping agrees with the oracle
    assert {k: v[2] for k, v in got.items()} == expected


def test_invalid_docs_excluded_from_every_sink(spark):
    docs, pages, expected = _corrupted()
    docs_df, pages_df = corpus.local_frames(spark, docs, pages)
    valid, invalid = split_valid(docs_df, pages_df)
    outs = run_pipeline(valid, pages_df)
    bad = set(expected)
    for sink in ("spans", "redactions", "values"):
        hit = (outs[sink].where(F.col("doc_id").isin(*bad)).count())
        assert hit == 0, f"invalid doc leaked into {sink}"
    inv = {r["doc_id"] for r in invalid.collect()}
    assert inv == bad


def test_valid_docs_unaffected_by_routing(spark):
    """Span-sequence equality for the surviving documents: the run over the
    corrupted corpus must equal the oracle over the valid subset."""
    docs, pages, expected = _corrupted()
    docs_df, pages_df = corpus.local_frames(spark, docs, pages)
    outs = run_pipeline(split_valid(docs_df, pages_df)[0], pages_df)
    got = {(r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
           for r in outs["spans"].collect()}
    valid_docs = [d for d in docs if d["doc_id"] not in expected]
    want = set(oracle.expected_spans(valid_docs))
    assert got == want


def test_run_pipeline_submits_no_job(spark, tmp_path):
    """run_pipeline only builds plans: on a parquet corpus with planted
    invalid documents it returns without submitting a Spark job (the
    validity probe is split_valid's, run by the caller)."""
    base = str(tmp_path)
    corpus.write_corpus(spark, f"{base}/in", n_docs=80, seed=42,
                        partitions=3, invalid_every=13)
    docs_df = spark.read.parquet(f"{base}/in/documents")
    pages_df = spark.read.parquet(f"{base}/in/media_pages")
    sc = spark.sparkContext
    sc.setJobGroup("run_pipeline_lazy", "run_pipeline plan build")
    try:
        run_pipeline(docs_df, pages_df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("run_pipeline_lazy")) == []


def test_invalid_webhook_payloads(spark):
    """Invalid statuses ride the notifier (the reference's ONE live webhook
    call site) with task_result + reason in the payload."""
    from ocr_redaction_engine_spark.operators.notify import notify_results

    docs, pages, expected = _corrupted()
    docs_df, pages_df = corpus.local_frames(spark, docs, pages)
    _, invalid = validity_route(docs_df, pages_df)

    sent = spark.sparkContext.accumulator(0)

    def make_sender():
        def send(batch):
            for p in batch:
                assert p["status"] == "INVALID_DOCUMENT"
                assert p["task_result"] == "Invalid Document"
                assert p["reason"] in ("bad_extension", "missing_media")
            sent.add(len(batch))
        return send

    notify_results(invalid, make_sender)
    assert sent.value == len(expected)


def test_run_job_writes_invalid_sink(spark, tmp_path):
    """Distributed planting (write_corpus invalid_every) flows through
    run_job into the invalid status sink, matching the local oracle."""
    from ocr_redaction_engine_spark.pipeline import run_job

    base = str(tmp_path)
    corpus.write_corpus(spark, f"{base}/in", n_docs=120, seed=42,
                        partitions=4, invalid_every=13)
    stats = run_job(spark, f"{base}/in/documents", f"{base}/in/media_pages",
                    f"{base}/out", f"{base}/ckpt",
                    PipelineConfig(n_buckets=4, bucket_group=4))
    docs, pages = corpus.build_corpus_local(42, 120)
    _, _, expected = corpus.corrupt_corpus_local(docs, pages, every=13)
    assert stats["n_invalid"] == len(expected) > 0
    inv = spark.read.schema(
        "doc_id string, status string, task_result string, reason string, "
        "bucket int").parquet(f"{base}/out/invalid")
    got = {r["doc_id"]: r["reason"] for r in inv.collect()}
    assert got == expected
    # no leakage into the data sinks
    bad = list(expected)
    for t in ("spans", "redactions", "values"):
        df = spark.read.parquet(f"{base}/out/{t}")
        assert df.where(F.col("doc_id").isin(*bad)).count() == 0


def test_write_corpus_plants_pages_like_the_local_rule(spark, tmp_path):
    """write_corpus and corrupt_corpus_local plant invalid documents through
    one per-document rule: their media_pages rows agree on (media_ref,
    document_name), both failure modes included."""
    base = str(tmp_path)
    corpus.write_corpus(spark, base, n_docs=120, seed=42, partitions=4,
                        invalid_every=13)
    got = sorted((r["media_ref"], r["document_name"]) for r in
                 spark.read.parquet(f"{base}/media_pages").collect())
    _, pages, expected = _corrupted(120, 13)
    assert set(expected.values()) == {"bad_extension", "missing_media"}
    assert got == sorted((p["media_ref"], p["document_name"]) for p in pages)


def _ids(df):
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def test_over_1000_invalid_ids_route_through_an_anti_join(spark):
    """Past 1,000 collected invalid ids ``route_with_collected`` drops the
    literal ``isin`` filter for a broadcast left-anti join; the valid and
    invalid sets still equal the oracle's."""
    docs, pages = corpus.build_corpus_local(42, 40)
    dangling = [{"doc_id": f"dangling-{i:05d}", "spans": [
        {"kind": "media", "text": "", "media_ref": f"pg-gone-{i:05d}",
         "offset": 0}]} for i in range(1001)]
    docs += dangling
    docs_df, pages_df = corpus.local_frames(spark, docs, pages)
    valid, invalid = split_valid(docs_df, pages_df)
    bad = {r[0] for r in oracle.expected_invalid_docs(docs, pages)}
    assert len(bad) > 1000
    assert _ids(valid) == {d["doc_id"] for d in docs} - bad
    assert _ids(invalid) == bad
    plan = valid._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan


def test_past_collect_cap_the_lazy_route_gives_the_same_split(spark,
                                                              monkeypatch):
    """Past ``COLLECT_CAP`` invalid documents ``split_valid`` falls back to
    the lazy ``validity_route``; its valid and invalid outputs equal the
    collected route's."""
    from ocr_redaction_engine_spark.operators import validate

    docs, pages, expected = _corrupted()
    docs_df, pages_df = corpus.local_frames(spark, docs, pages)
    collected = split_valid(docs_df, pages_df)
    monkeypatch.setattr(validate, "COLLECT_CAP", 2)
    assert len(expected) > 2
    assert validate.collect_invalid(docs_df, pages_df) is None
    lazy = split_valid(docs_df, pages_df)
    for got, want in zip(lazy, collected):
        assert sorted(got.collect()) == sorted(want.collect())
    assert _ids(lazy[1]) == set(expected)
