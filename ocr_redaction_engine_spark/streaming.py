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

``windowed_event_rollup`` adds the late-data story the reference never had:
watermarked tumbling-window aggregation (append mode emits a window only
once its watermark passes — late events inside the allowance still count,
older ones are dropped).
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


def windowed_event_rollup(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window rollup (works on a streaming OR batch
    DataFrame — in batch the watermark is a no-op, which is exactly how the
    differential test checks the closed-window counts)."""
    # parquet NTZ timestamps → LTZ (session tz is pinned UTC in get_spark);
    # watermarks require TIMESTAMP, not TIMESTAMP_NTZ
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"))
        .select(F.col("win.start").alias("win_start"),
                F.col("win.end").alias("win_end"),
                "event_type", "n", "total_value")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes",
                    watermark: str = "2 hours") -> DataFrame:
    """Session-window aggregation (gap-based): the built-in
    ``session_window`` operator; works on streaming (append after watermark
    close) and batch (differential twin) alike."""
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


FIRST_SEEN_SCHEMA = "user_id long, event_id long, event_type string"
_FIRST_SEEN_STATE = "seen int"


def stateful_first_seen(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: emit each
    user's FIRST event (by arrival order across micro-batches), suppress the
    rest — the streaming twin of the q08 first-match window
    (SURVEY.md §2.5 F19/F32 first-match-only semantics), and the shape any
    cross-batch dedupe/claim-check state machine takes."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        chunks = [pdf for pdf in pdfs if len(pdf)]  # drain fully (required)
        if state.exists or not chunks:
            return iter(())
        allrows = pd.concat(chunks).sort_values(["ts", "event_id"])
        first = allrows.iloc[0]
        state.update((1,))
        return iter([pd.DataFrame({
            "user_id": [int(key[0])],
            "event_id": [int(first["event_id"])],
            "event_type": [str(first["event_type"])],
        })])

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            fn, outputStructType=FIRST_SEEN_SCHEMA, stateStructType=_FIRST_SEEN_STATE,
            outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout)
    )


def streaming_exact_dedup(docs: DataFrame, watermark_col: str | None = None,
                          watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of analytics.dedup.exact_dupes' suppression side:
    keep the FIRST document per md5 text fingerprint across micro-batches
    (``dropDuplicates`` keeps cross-batch state; with an event-time
    watermark the state is bounded — ``dropDuplicatesWithinWatermark``
    semantics for the unbounded-corpus regime). Works identically in batch,
    where it is a plain fingerprint-distinct."""
    fp = docs.withColumn(
        "fp", F.md5(F.concat_ws(" ", F.split(F.trim("text"), r"\s+"))))
    if watermark_col is not None:
        return fp.withWatermark(watermark_col, watermark) \
            .dropDuplicatesWithinWatermark(["fp"])
    return fp.dropDuplicates(["fp"])


NEAR_DUP_SCHEMA = "a long, b long, band int"
_ANCHOR_STATE = "anchor long"
N_STREAM_BANDS = 4


def minhash_band_sigs(docs: DataFrame, n_bands: int = N_STREAM_BANDS) -> DataFrame:
    """Per-row MinHash band signatures as pure codegen (no shuffle, no
    Python): min over distinct tokens of md5(band || ':' || token) — the
    same signature analytics.dedup.minhash_signatures computes with a
    hash-agg, expressed as a higher-order function so it runs stateless
    inside a streaming micro-batch. Output: (doc_id, band, sig) melted."""
    toks = F.array_distinct(F.split(F.trim("text"), r"\s+"))
    sigs = F.array(*[
        F.array_min(F.transform(toks, lambda t, b=b: F.md5(F.concat(F.lit(f"{b}:"), t))))
        for b in range(n_bands)
    ])
    return docs.select(
        "doc_id", F.posexplode(sigs).alias("band", "sig"))


def streaming_near_dup_candidates(docs: DataFrame) -> DataFrame:
    """Streaming LSH near-dup candidates via ``applyInPandasWithState``:
    state per (band, sig) bucket remembers the FIRST document that claimed
    the bucket (the anchor); every later arrival — same micro-batch or any
    later one — emits a candidate pair (anchor, doc, band). The streaming
    twin of analytics.dedup.candidate_pairs with star-shaped output: a
    bucket of n docs emits n−1 anchor pairs instead of C(n,2), which is
    exactly what an online dedupe wants (compare the newcomer against one
    representative, O(n) state and output per bucket at 10^12-doc scale).

    Deterministic: within a batch, arrivals are ordered by doc_id."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return iter(())
        ids = sorted(int(i) for c in chunks for i in c["doc_id"])
        if state.exists:
            (anchor,) = state.get
        else:
            anchor, ids = ids[0], ids[1:]
            state.update((anchor,))
        if not ids:
            return iter(())
        return iter([pd.DataFrame({
            "a": [anchor] * len(ids), "b": ids,
            "band": [int(key[0])] * len(ids),
        })])

    return (
        minhash_band_sigs(docs)
        .groupBy("band", "sig")
        .applyInPandasWithState(
            fn, outputStructType=NEAR_DUP_SCHEMA, stateStructType=_ANCHOR_STATE,
            outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout)
    )


def run_windowed_stream(spark: SparkSession, events_path: str, ckpt_dir: str,
                        queryName: str = "event_rollup") -> None:
    """Drain the events table through the watermarked rollup into a memory
    sink (append mode: only watermark-closed windows are emitted)."""
    from pyspark.sql.types import StructType

    schema = spark.read.parquet(events_path).schema
    stream = spark.readStream.schema(schema).parquet(events_path)
    q = (
        windowed_event_rollup(stream).writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode("append")
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


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
