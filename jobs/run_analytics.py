"""spark-submit entry point for the analytics layer: run any registered
query/operator by name over a parquet table directory.

    python jobs/package.py   # builds dist/ocr_redaction_engine_spark.zip
    spark-submit --py-files dist/ocr_redaction_engine_spark.zip,__spark_entry__.py \
        jobs/run_analytics.py \
        --query dedup_cluster_stats \
        --sf-dir s3://corpus/tables \
        --out    s3://corpus/reports/cluster_stats

``--query`` takes any key of ``__spark_entry__.queries()`` (the same
registry the correctness gate oracles — `--list` enumerates them); the
query runs as a DataFrame job and writes parquet to ``--out`` (or prints
the first ``--show`` rows when no ``--out`` is given). The registry file
``__spark_entry__.py`` ships alongside the package zip — it is the
data-engineer-facing catalog, kept out of the library so query inventory
changes never force a package rebuild.

Master, executors and memory come from spark-submit; the SQL semantics
(UTC, AQE, Arrow batches) from ``session.get_spark``, as in tests.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# the registry sits at the repo/deploy root next to the package zip
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as registry  # noqa: E402
from ocr_redaction_engine_spark.session import get_spark  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description="analytics query runner")
    ap.add_argument("--query", help="queries() key to run")
    ap.add_argument("--sf-dir", help="directory of input parquet tables")
    ap.add_argument("--out", default=None, help="parquet output path")
    ap.add_argument("--show", type=int, default=20,
                    help="rows to print when --out is not given")
    ap.add_argument("--list", action="store_true",
                    help="print the registered query names and exit")
    args = ap.parse_args()

    qs = registry.queries()
    if args.list:
        print("\n".join(sorted(qs)))
        return
    if not args.query or not args.sf_dir:
        ap.error("--query and --sf-dir are required (or use --list)")
    if args.query not in qs:
        ap.error(f"unknown query {args.query!r}; --list shows the "
                 f"{len(qs)} registered names")

    spark = get_spark(f"ocrr-analytics-{args.query}")
    df = qs[args.query](spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"query": args.query, "out": args.out,
                          "rows": spark.read.parquet(args.out).count()}))
    else:
        df.show(args.show, truncate=60)


if __name__ == "__main__":
    main()
