"""Structured Streaming differential tests.

1. The streaming pipeline (availableNow micro-batches) must produce exactly
   the batch pipeline's spans and redactions on the same corpus.
2. Incremental drain: new files appearing after a first drain are picked up
   by a second drain without reprocessing the old ones (S1 poll semantics
   with exactly-once checkpointing).
3. The watermarked session-window and stream-stream interval join agree
   with their batch twins.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_redaction_engine_spark import streaming
from ocr_redaction_engine_spark.corpus import write_corpus
from ocr_redaction_engine_spark.pipeline import PipelineConfig, run_pipeline


SPAN_COLS = ("doc_id", "order", "kind", "text", "media_ref")
RED_COLS = ("doc_id", "media_ref", "status", "field", "seq", "x1", "y1", "x2", "y2")


def _spans_set(df):
    return sorted(tuple(r[c] for c in SPAN_COLS) for r in df.collect())


def _red_set(df):
    return sorted(tuple(r[c] for c in RED_COLS) for r in df.collect())


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream"))
    write_corpus(spark, f"{base}/input", n_docs=120, seed=42, partitions=4)
    return base


def test_stream_equals_batch(spark, stream_dirs):
    base = stream_dirs
    streaming.stream_pipeline(
        spark, f"{base}/input/documents", f"{base}/input/media_pages",
        f"{base}/out", f"{base}/ckpt")

    docs = spark.read.parquet(f"{base}/input/documents")
    pages = spark.read.parquet(f"{base}/input/media_pages")
    batch = run_pipeline(docs, pages, PipelineConfig())

    got_spans = _spans_set(spark.read.parquet(f"{base}/out/spans"))
    assert got_spans == _spans_set(batch["spans"])
    got_red = _red_set(spark.read.parquet(f"{base}/out/redactions"))
    assert got_red == _red_set(batch["redactions"])


def test_incremental_drain_no_duplicates(spark, stream_dirs):
    base = stream_dirs
    # initial drain (no-op if test_stream_equals_batch already drained)
    streaming.stream_pipeline(
        spark, f"{base}/input/documents", f"{base}/input/media_pages",
        f"{base}/out", f"{base}/ckpt")
    before = spark.read.parquet(f"{base}/out/spans").count()
    # re-drain of an unchanged directory: no new rows
    streaming.stream_pipeline(
        spark, f"{base}/input/documents", f"{base}/input/media_pages",
        f"{base}/out", f"{base}/ckpt")
    assert spark.read.parquet(f"{base}/out/spans").count() == before

    # new arrivals (doc indexes beyond the existing corpus → fresh doc_ids):
    # only the delta is processed. Their media pages land in the static
    # table first — without them the documents are INVALID (P1 missing_media)
    from ocr_redaction_engine_spark.corpus import gen_document
    from ocr_redaction_engine_spark.corpus import local_frames
    new_docs, new_pages = zip(*[gen_document(42, i)
                                for i in range(200000, 200010)])
    docs_df, pages_df = local_frames(spark, new_docs,
                                     [p for ps in new_pages for p in ps])
    pages_df.write.mode("append").parquet(f"{base}/input/media_pages")
    docs_df.write.mode("append").parquet(f"{base}/input/documents")

    streaming.stream_pipeline(
        spark, f"{base}/input/documents", f"{base}/input/media_pages",
        f"{base}/out", f"{base}/ckpt")
    spans = spark.read.parquet(f"{base}/out/spans")
    n_new_spans = sum(len(d["spans"]) for d in new_docs)
    assert spans.count() == before + n_new_spans
    # per-doc uniqueness of (doc_id, order): nothing was double-processed
    assert spans.groupBy("doc_id", "order").count().filter("count > 1").count() == 0


def test_session_windows_batch(spark):
    """session_window gap semantics (batch differential): sessions split
    exactly where consecutive gaps exceed 30 min."""
    from ocr_redaction_engine_spark.streaming import session_windows
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = session_windows(ev).filter(F.col("user_id") < 10)

    # independent oracle: lag-based session id then group
    from pyspark.sql import Window as W
    ev2 = ev.withColumn("ts", F.col("ts").cast("timestamp")).filter(F.col("user_id") < 10)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_break = (
        F.col("ts").cast("long")
        - F.lag(F.col("ts").cast("long")).over(w) > 30 * 60
    ).cast("int")
    sessions = (
        ev2.withColumn("brk", F.coalesce(gap_break, F.lit(0)))
        .withColumn("sid", F.sum("brk").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("session_start"),
             (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
             F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"))
    )
    key = lambda r: (r["user_id"], r["session_start"])
    got_rows = sorted(((r["user_id"], r["session_start"], r["session_end"],
                        r["n_events"], r["total_value"]) for r in got.collect()))
    exp_rows = sorted(((r["user_id"], r["session_start"], r["session_end"],
                        r["n_events"], r["total_value"]) for r in sessions.collect()))
    assert got_rows == exp_rows


def test_stream_extraction_equals_batch(spark, tmp_path):
    """The streaming extraction twin (stream-static join, availableNow)
    produces exactly the batch pipeline's span-sequence output, and a second
    drain with the same checkpoint is a no-op (exactly-once file sink)."""
    from ocr_redaction_engine_spark.corpus import write_web_corpus
    from ocr_redaction_engine_spark.extraction_pipeline import extract_spans

    base = str(tmp_path / "xstream")
    write_web_corpus(spark, f"{base}/input", n_docs=120, seed=42, partitions=4)
    docs_path, pages_path = f"{base}/input/documents", f"{base}/input/media_pages"

    streaming.stream_extraction(spark, docs_path, pages_path,
                                f"{base}/out", f"{base}/ckpt")
    got = sorted((r.doc_id, r.order, r.kind, r.text, r.media_ref)
                 for r in spark.read.parquet(f"{base}/out/main_spans").collect())
    exp = sorted((r.doc_id, r.order, r.kind, r.text, r.media_ref)
                 for r in extract_spans(spark.read.parquet(docs_path),
                                        spark.read.parquet(pages_path)).collect())
    assert got == exp and len(got) > 0

    # drain again: no new files → output unchanged
    streaming.stream_extraction(spark, docs_path, pages_path,
                                f"{base}/out", f"{base}/ckpt")
    again = sorted((r.doc_id, r.order, r.kind, r.text, r.media_ref)
                   for r in spark.read.parquet(f"{base}/out/main_spans").collect())
    assert again == got


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream interval join drained over multiple micro-batches emits
    exactly the batch join's pairs (bounded state, no loss, no dupes)."""
    import datetime as dt

    from ocr_redaction_engine_spark.streaming import stream_interval_join

    def ts(minute):
        return dt.datetime(2024, 1, 1, 0, minute)

    click_rows = [
        (100, ts(6), 1, "click", 0.0, "{}"),   # errors at 2,4 in window
        (101, ts(20), 1, "click", 0.0, "{}"),  # error 16 in window
        (102, ts(6), 2, "click", 0.0, "{}"),   # other-user errors invisible
    ]
    error_rows = [
        (200, ts(2), 1, "error", 0.0, "{}"),
        (201, ts(4), 1, "error", 0.0, "{}"),
        (202, ts(16), 1, "error", 0.0, "{}"),
        (203, ts(6), 1, "error", 0.0, "{}"),   # == click ts -> excluded
        (204, ts(5), 3, "error", 0.0, "{}"),
    ]
    ddl = ("event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")
    clicks_df = spark.createDataFrame(click_rows, ddl)
    errors_df = spark.createDataFrame(error_rows, ddl)

    expect = {(r.click_id, r.error_id) for r in
              stream_interval_join(clicks_df, errors_df).collect()}
    assert expect == {(100, 200), (100, 201), (101, 202)}

    cdir, edir = str(tmp_path / "clicks"), str(tmp_path / "errors")
    # two files per side = multiple micro-batches
    for i, df in enumerate((clicks_df.filter("event_id <= 100"),
                            clicks_df.filter("event_id > 100"))):
        df.coalesce(1).write.mode("append").parquet(cdir)
    for df in (errors_df.filter("event_id <= 201"),
               errors_df.filter("event_id > 201")):
        df.coalesce(1).write.mode("append").parquet(edir)

    schema = spark.read.parquet(cdir).schema
    cs = spark.readStream.schema(schema).parquet(cdir)
    es = spark.readStream.schema(schema).parquet(edir)
    q = (
        stream_interval_join(cs, es).writeStream
        .format("memory").queryName("sj_stream").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.click_id, r.error_id)
           for r in spark.sql("SELECT click_id, error_id FROM sj_stream").collect()}
    assert got == expect


def test_stream_pipeline_validated_matches_batch(spark, tmp_path):
    """The streaming redaction job honours the P1 route: draining a corpus
    with planted invalid docs produces exactly the batch pipeline's spans
    and invalid statuses."""
    from ocr_redaction_engine_spark import corpus, oracle

    base = str(tmp_path)
    docs, pages = corpus.build_corpus_local(42, 80)
    docs, pages, expected = corpus.corrupt_corpus_local(docs, pages, every=13)
    assert expected
    for name, df in zip(("documents", "media_pages"),
                        corpus.local_frames(spark, docs, pages)):
        df.write.parquet(f"{base}/in/{name}")
    streaming.stream_pipeline(spark, f"{base}/in/documents",
                              f"{base}/in/media_pages",
                              f"{base}/out", f"{base}/ckpt")
    inv = {r["doc_id"]: r["reason"] for r in
           spark.read.parquet(f"{base}/out/invalid").collect()}
    assert inv == expected
    got = {(r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
           for r in spark.read.parquet(f"{base}/out/spans").collect()}
    valid_docs = [d for d in docs if d["doc_id"] not in expected]
    assert got == set(oracle.expected_spans(valid_docs))
    values = spark.read.parquet(f"{base}/out/values")
    assert values.count() > 0
    assert values.where(F.col("doc_id").isin(*expected)).count() == 0

    # Idempotency under micro-batch replay: wipe the streaming checkpoint so
    # the SAME input replays as the same batch_id, and re-drain. The
    # batch_id-partitioned dynamic overwrite must REPLACE, not append —
    # row multiset (not just the set) is unchanged in every sink.
    before = {name: spark.read.parquet(f"{base}/out/{name}").count()
              for name in ("spans", "redactions", "values", "invalid")}
    import shutil
    shutil.rmtree(f"{base}/ckpt")
    streaming.stream_pipeline(spark, f"{base}/in/documents",
                              f"{base}/in/media_pages",
                              f"{base}/out", f"{base}/ckpt")
    after = {name: spark.read.parquet(f"{base}/out/{name}").count()
             for name in ("spans", "redactions", "values", "invalid")}
    assert after == before
    got2 = {(r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
            for r in spark.read.parquet(f"{base}/out/spans").collect()}
    assert got2 == got


def test_stream_extraction_matches_batch_and_resumes(spark, tmp_path):
    """VERDICT r4 #4: native streaming twin of the extraction pipeline.
    Two micro-batch drains over an incrementally fed web corpus must yield
    exactly the batch extract_spans output over the full corpus (same
    span-sequence hash), with the second drain touching only the new files
    and a third drain (no new files) a no-op."""
    from ocr_redaction_engine_spark import corpus, oracle
    from ocr_redaction_engine_spark.streaming import stream_extraction

    base = str(tmp_path)
    docs, pages = corpus.build_web_corpus_local(7, 60)
    first, second = docs[:40], docs[40:]
    # media pages for BOTH halves are in the static table upfront (the
    # backing OCR store exists before documents referencing it arrive)
    first_df, pages_df = corpus.local_frames(spark, first, pages)
    pages_df.write.parquet(f"{base}/in/media_pages")

    first_df.write.mode("append").parquet(f"{base}/in/documents")
    stream_extraction(spark, f"{base}/in/documents", f"{base}/in/media_pages",
                      f"{base}/out", f"{base}/ckpt")
    got1 = {(r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
            for r in spark.read.parquet(f"{base}/out/main_spans").collect()}
    assert got1 == set(oracle.expected_extracted_spans(first, pages))

    # incremental arrival: new files appear, a rerun drains ONLY them
    corpus.local_frames(spark, second, [])[0] \
        .write.mode("append").parquet(f"{base}/in/documents")
    stream_extraction(spark, f"{base}/in/documents", f"{base}/in/media_pages",
                      f"{base}/out", f"{base}/ckpt")
    got2 = {(r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
            for r in spark.read.parquet(f"{base}/out/main_spans").collect()}
    assert got2 == set(oracle.expected_extracted_spans(docs, pages))

    # no new files: drain is a no-op (exactly-once via the sink commit log)
    n_before = spark.read.parquet(f"{base}/out/main_spans").count()
    stream_extraction(spark, f"{base}/in/documents", f"{base}/in/media_pages",
                      f"{base}/out", f"{base}/ckpt")
    assert spark.read.parquet(f"{base}/out/main_spans").count() == n_before


def test_stream_extraction_honours_config(spark, tmp_path):
    """stream_extraction takes an ExtractionConfig: a stricter ``min_len``
    drops html blocks the default keeps, exactly as the oracle with the
    same threshold does. Its checkpoint lives in ``<ckpt_dir>/main_spans``,
    where streams started before the config argument existed keep theirs."""
    from ocr_redaction_engine_spark import corpus, oracle
    from ocr_redaction_engine_spark.extraction_pipeline import ExtractionConfig

    base = str(tmp_path)
    docs, pages = corpus.build_web_corpus_local(7, 40)
    docs_df, pages_df = corpus.local_frames(spark, docs, pages)
    docs_df.write.parquet(f"{base}/in/documents")
    pages_df.write.parquet(f"{base}/in/media_pages")
    streaming.stream_extraction(spark, f"{base}/in/documents",
                                f"{base}/in/media_pages", f"{base}/out",
                                f"{base}/ckpt", config=ExtractionConfig(min_len=60))
    got = {(r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
           for r in spark.read.parquet(f"{base}/out/main_spans").collect()}
    want = set(oracle.expected_extracted_spans(docs, pages, min_len=60))
    assert got == want
    assert want < set(oracle.expected_extracted_spans(docs, pages))
    assert (tmp_path / "ckpt" / "main_spans" / "offsets").is_dir()
