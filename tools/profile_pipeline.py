"""Per-stage timing of the pipeline at a given core count.

Thin CLI over bench.stage_profile (one shared implementation; ADVICE r1
killed the old copy that imported the removed extract_fields API).
Usage: python tools/profile_pipeline.py [cpus] [n_docs]
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from ocr_redaction_engine_spark.session import get_spark  # noqa: E402

cpus = int(sys.argv[1]) if len(sys.argv) > 1 else bench.CPUS
n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 360000

spark = get_spark(f"profile-{cpus}", cpus, bench.shuffle_extra(cpus))
spark.sparkContext.setLogLevel("ERROR")
docs_path, pages_path = bench.ensure_corpus(spark, n_docs)
stages = bench.stage_profile(spark, docs_path, pages_path)
print(json.dumps({"cpus": cpus, "n_docs": n_docs, "stages": stages}))
spark.stop()
