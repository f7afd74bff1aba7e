"""Structured Streaming surface (SURVEY.md §2.1 S1, §2.7 streaming).

The reference's only "streaming" is a 5 s Mongo poll loop feeding an
in-process queue (in_progress/process_in_progress_status.py:57-67,
ocrr_engine.py:31,78-80). Its Spark equivalent is a micro-batch trigger:
``readStream`` over the documents table with ``trigger(availableNow=True)``
drains everything that has arrived and stops — rerunning the job later picks
up only new files, exactly like the reference's re-poll, but with
exactly-once checkpointed progress instead of status flags.

The redaction stream (``stream_pipeline``) runs each micro-batch through
``foreachBatch``: the P1 validity split needs the batch's invalid set before
any span is written, so each batch calls the batch job's own
``validate.split_valid`` + ``pipeline.run_pipeline`` and returns what the
batch job returns on the same documents. The extraction stream
(``stream_extraction``) is stateless end to end and runs as a *native*
streaming query.

``session_windows`` and ``stream_interval_join`` add the late-data story the
reference never had: watermarked event-time operators whose state the
engine drops once the watermark passes (late events inside the allowance
still count, older ones are dropped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus import DOCUMENTS_DDL
from .operators.validate import split_valid
from .pipeline import PipelineConfig, run_pipeline


def read_documents_stream(spark: SparkSession, documents_path: str,
                          max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over the documents table directory. New parquet
    files appearing under the path become micro-batches (the S1 poll loop,
    minus the poll)."""
    reader = spark.readStream.schema(DOCUMENTS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(documents_path)


def stream_pipeline(spark: SparkSession, documents_path: str,
                    media_pages_path: str, out_dir: str, ckpt_dir: str,
                    level: int = 1, await_termination: bool = True):
    """Streaming redaction job: the batch pipeline including the P1
    INVALID_DOCUMENT route, via ``foreachBatch``: each micro-batch runs the
    batch wiring (``split_valid`` → routed spans/redactions/values +
    invalid status sink). Document rows are atomic — a document's spans
    array arrives whole in exactly one micro-batch — so the doc-level
    validity decision inside a batch is identical to the batch job's.

    Exactly-once: ``foreachBatch`` alone is only at-least-once (a
    micro-batch retried after a partial write would re-run), so each sink
    is partitioned by ``batch_id`` and written with dynamic partition
    overwrite — a retry of batch N atomically REPLACES batch N's partition
    in all four sinks instead of appending duplicates, making the write
    idempotent per batch id. Readers see ``batch_id`` as an extra partition
    column (drop it, or read with recursive file lookup). This is the
    production shape for a continuously fed corpus: the reference's 5 s
    IN_PROGRESS poll loop (in_progress/process_in_progress_status.py:57-67)
    becomes the file source trigger, and its per-document status writes
    become the invalid sink's rows."""
    docs = read_documents_stream(spark, documents_path)
    media_pages = spark.read.parquet(media_pages_path)  # static side
    cfg = PipelineConfig(level=level)

    def process(batch_df, batch_id):
        valid, invalid = split_valid(batch_df, media_pages, cfg.ext_whitelist)
        outs = {**run_pipeline(valid, media_pages, cfg), "invalid": invalid}
        page_rows = outs["page_rows"].persist()
        try:
            for name in ("spans", "redactions", "values", "invalid"):
                (outs[name]
                 .withColumn("batch_id", F.lit(int(batch_id)))
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("batch_id")
                 .parquet(f"{out_dir}/{name}"))
        finally:
            page_rows.unpersist()

    q = (docs.writeStream
         .foreachBatch(process)
         .option("checkpointLocation", f"{ckpt_dir}/validated")
         .trigger(availableNow=True)
         .start())
    if await_termination:
        q.awaitTermination()
    return q


def stream_extraction(spark: SparkSession, documents_path: str,
                      media_pages_path: str, out_dir: str, ckpt_dir: str,
                      config=None, await_termination: bool = True,
                      max_files_per_trigger: int | None = None):
    """Streaming twin of the main-content extraction pipeline
    (extraction_pipeline.extract_spans) — the north-rule job for a
    continuously arriving crawl.

    Every extraction operator is stateless (kind-dispatched narrow pass,
    stream-static media_pages join), so this is a NATIVE streaming query —
    no foreachBatch escape hatch — and the parquet streaming sink's
    ``_spark_metadata`` commit log makes the output exactly-once: a retried
    micro-batch's files are superseded in the log, and readers going
    through the sink directory see each batch once. ``availableNow`` drains
    the backlog and stops; rerunning later picks up only new files (the
    reference's 5 s re-poll, checkpointed) from ``{ckpt_dir}/main_spans``;
    reprocessing = delete that checkpoint."""
    from .extraction_pipeline import ExtractionConfig, extract_spans

    cfg = config or ExtractionConfig()
    docs = read_documents_stream(spark, documents_path, max_files_per_trigger)
    media_pages = spark.read.parquet(media_pages_path)  # static side
    q = (extract_spans(docs, media_pages, cfg).writeStream
         .format("parquet")
         .option("path", f"{out_dir}/main_spans")
         .option("checkpointLocation", f"{ckpt_dir}/main_spans")
         .trigger(availableNow=True)
         .start())
    if await_termination:
        q.awaitTermination()
    return q


def session_windows(events: DataFrame, gap: str = "30 minutes",
                    watermark: str = "2 hours") -> DataFrame:
    """Session-window aggregation (gap-based): the built-in
    ``session_window`` operator; works on streaming (append after watermark
    close) and batch (differential twin) alike."""
    # parquet NTZ timestamps → LTZ (session tz is pinned UTC in get_spark);
    # watermarks require TIMESTAMP, not TIMESTAMP_NTZ
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"))
        .select("user_id",
                F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"),
                "n_events", "total_value")
    )


def stream_interval_join(clicks: DataFrame, errors: DataFrame,
                         minutes: int = 5,
                         watermark: str = "10 minutes") -> DataFrame:
    """Stream-stream interval join: each click pairs with same-user errors
    from the preceding ``minutes`` (half-open ``[click-5m, click)``), both
    sides watermarked so the join state is bounded — the engine can discard
    an error row once no future click can reach back to it. This is the
    one Structured Streaming join class the stateless pipeline doesn't
    exercise (stream-static covers the media resolve; this covers
    bounded-state event correlation).

    Works identically on batch DataFrames (watermarks become no-ops), which
    is exactly how the differential test pins the streamed result to the
    batch join. Equi-key (user_id) + time-range predicate = the shape
    Spark's symmetric hash join handles with per-key state eviction.
    """
    c = (clicks.withColumn("ts", F.col("ts").cast("timestamp"))
         .withWatermark("ts", watermark)
         .select(F.col("event_id").alias("click_id"), "user_id",
                 F.col("ts").alias("click_ts")))
    e = (errors.withColumn("ts", F.col("ts").cast("timestamp"))
         .withWatermark("ts", watermark)
         .select(F.col("event_id").alias("error_id"),
                 F.col("user_id").alias("e_user"),
                 F.col("ts").alias("error_ts")))
    cond = (
        (c.user_id == e.e_user)
        & (e.error_ts < c.click_ts)
        & (e.error_ts >= c.click_ts - F.expr(f"INTERVAL {minutes} MINUTES"))
    )
    return (
        c.join(e, cond)
        .select("click_id", "user_id",
                F.col("click_ts").cast("string").alias("click_ts"),
                "error_id",
                F.col("error_ts").cast("string").alias("error_ts"))
    )
