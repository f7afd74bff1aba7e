"""spark-submit entry point for the streaming (availableNow) pipeline.

Drains everything currently in the documents directory through the redaction
pipeline (``streaming.stream_pipeline``: one ``foreachBatch`` query, each
micro-batch routed through ``validate.split_valid`` like the batch job), then
exits; re-running picks up only new files (the reference's 5 s poll loop,
with exactly-once progress).

Output: four sinks under ``--out`` — ``spans``, ``redactions``, ``values``
and ``invalid`` (INVALID_DOCUMENT status rows; invalid documents reach no
other sink) — each partitioned by ``batch_id``. Progress lives in
``{--checkpoint}/validated``. This layout differs from the older
two-sink native stream, so start a deployed stream on fresh ``--out`` and
``--checkpoint`` directories.

    spark-submit --py-files dist/ocr_redaction_engine_spark.zip \
        jobs/run_stream.py --documents ... --media-pages ... --out ... --checkpoint ...

Master, executors and memory come from spark-submit; the SQL semantics
(UTC, AQE, Arrow batches) from ``session.get_spark``, as in tests.
"""

from __future__ import annotations

import argparse

from ocr_redaction_engine_spark.pipeline import PipelineConfig
from ocr_redaction_engine_spark.session import get_spark
from ocr_redaction_engine_spark.streaming import stream_pipeline


def main():
    ap = argparse.ArgumentParser(description="OCR redaction streaming pipeline")
    ap.add_argument("--documents", required=True)
    ap.add_argument("--media-pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--level", type=int, default=PipelineConfig.level, choices=(0, 1))
    args = ap.parse_args()

    spark = get_spark("ocrr-redaction-stream")
    stream_pipeline(spark, args.documents, args.media_pages,
                    args.out, args.checkpoint, level=args.level)


if __name__ == "__main__":
    main()
