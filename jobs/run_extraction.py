"""spark-submit entry point for the main-content extraction pipeline
(north rule: HTML boilerplate strip, PDF/layout parse, DOM heuristics over
interleaved text+media documents, resumable from checkpoint).

    python jobs/package.py   # builds dist/ocr_redaction_engine_spark.zip
    spark-submit --py-files dist/ocr_redaction_engine_spark.zip \
        jobs/run_extraction.py \
        --documents   s3://crawl/documents \
        --media-pages s3://crawl/media_pages \
        --out  s3://crawl/extracted \
        --checkpoint s3://crawl/extract_ckpt \
        --buckets 4096 --bucket-group 64

Same resume contract as the redaction job: a killed run rerun with the same
--checkpoint resumes at bucket granularity; a complete job reruns as a no-op.

Master, executors and memory come from spark-submit; the SQL semantics
(UTC, AQE, Arrow batches) from ``session.get_spark``, as in tests.
"""

from __future__ import annotations

import argparse
import json

from ocr_redaction_engine_spark.extraction_pipeline import (
    ExtractionConfig,
    run_extraction_job,
)
from ocr_redaction_engine_spark.session import get_spark


def main():
    ap = argparse.ArgumentParser(description="main-content extraction pipeline")
    ap.add_argument("--documents", required=True, help="input documents table path")
    ap.add_argument("--media-pages", required=True, help="media pages (OCR backing) table path")
    ap.add_argument("--out", required=True, help="output root (main_spans/)")
    ap.add_argument("--checkpoint", required=True, help="checkpoint/lineage table path")
    ap.add_argument("--min-len", type=int, default=15,
                    help="content-block keep threshold (chars)")
    ap.add_argument("--max-link-density", type=float, default=0.2,
                    help="boilerplate threshold (anchor chars / text chars)")
    ap.add_argument("--buckets", type=int, default=32, help="resume granularity")
    ap.add_argument("--bucket-group", type=int, default=8, help="buckets per commit wave")
    args = ap.parse_args()

    spark = get_spark("main-content-extraction")
    stats = run_extraction_job(
        spark, args.documents, args.media_pages, args.out, args.checkpoint,
        ExtractionConfig(min_len=args.min_len,
                         max_link_density=args.max_link_density,
                         n_buckets=args.buckets, bucket_group=args.bucket_group),
    )
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
