"""spark-submit entry point for the batch redaction pipeline.

    python jobs/package.py   # builds dist/ocr_redaction_engine_spark.zip
    spark-submit --py-files dist/ocr_redaction_engine_spark.zip \
        jobs/run_pipeline.py \
        --documents  s3://corpus/documents \
        --media-pages s3://corpus/media_pages \
        --out  s3://corpus/out \
        --checkpoint s3://corpus/ckpt \
        --level 1 --buckets 4096 --bucket-group 64

Master, executors and memory come from spark-submit; the SQL semantics
(UTC, AQE, Arrow batches) from ``session.get_spark``, as in tests.

``--buckets`` is the resume granularity — at the 10^12-document design
point use O(10^3-10^4) buckets so one lost wave is bounded work (SURVEY.md
§7.1 step 7).

A killed run rerun with the same --checkpoint resumes from the last
completed bucket group; rerunning a complete job is a no-op (waves: 0).
"""

from __future__ import annotations

import argparse
import json

from ocr_redaction_engine_spark.pipeline import PipelineConfig, run_job
from ocr_redaction_engine_spark.session import get_spark


def main():
    ap = argparse.ArgumentParser(description="OCR redaction batch pipeline")
    ap.add_argument("--documents", required=True, help="input documents table path")
    ap.add_argument("--media-pages", required=True, help="media pages (OCR backing) table path")
    ap.add_argument("--out", required=True, help="output root (spans/ redactions/ values/)")
    ap.add_argument("--checkpoint", required=True, help="checkpoint/lineage table path")
    ap.add_argument("--level", type=int, default=1, choices=(0, 1),
                    help="redaction level (settings/configuration.ini:10-13 analog)")
    ap.add_argument("--buckets", type=int, default=32, help="resume granularity")
    ap.add_argument("--bucket-group", type=int, default=8, help="buckets per commit wave")
    ap.add_argument("--places-file", default=None,
                    help="newline-separated address dictionary (e.g. the "
                         "reference's full 1,391-entry helper/places.py list "
                         "exported to text); default: built-in PLACES_LIST")
    args = ap.parse_args()

    places = None
    if args.places_file:
        from ocr_redaction_engine_spark.places import load_places
        places = load_places(args.places_file)

    spark = get_spark("ocrr-redaction-pipeline")
    stats = run_job(
        spark, args.documents, args.media_pages, args.out, args.checkpoint,
        PipelineConfig(level=args.level, n_buckets=args.buckets,
                       bucket_group=args.bucket_group,
                       places=places),
    )
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
