"""The bench pass times the production batch jobs.

``bench.job_pass`` is the one pass every bench leg times: one ``run_job``
/ ``run_extraction_job`` call with the job's default config on fresh
out/ckpt dirs. Each call must run the job from scratch (a pass that resumed
an earlier pass's checkpoint would time a no-op), write the same rows every
time, and leave no output behind.
"""

from __future__ import annotations

import os
import tempfile

import pytest

import bench
from ocr_redaction_engine_spark import checkpoint
from ocr_redaction_engine_spark.corpus import write_corpus, write_web_corpus


@pytest.fixture(scope="module")
def corpora(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("bench_pass"))
    write_corpus(spark, f"{base}/redact", n_docs=60, seed=42, partitions=4)
    write_web_corpus(spark, f"{base}/web", n_docs=60, seed=42, partitions=4)
    return base


@pytest.fixture
def recorded(monkeypatch):
    """The pass dirs bench makes and the lineage rows each job appends."""
    seen = {"dirs": [], "lineage": []}
    real_mkdtemp, real_append = tempfile.mkdtemp, checkpoint.append_checkpoint

    def mkdtemp(*a, **kw):
        seen["dirs"].append(real_mkdtemp(*a, **kw))
        return seen["dirs"][-1]

    def append(spark_, ckpt_dir, rows):
        seen["lineage"] += rows
        real_append(spark_, ckpt_dir, rows)

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    monkeypatch.setattr(checkpoint, "append_checkpoint", append)
    return seen


def _call(one_pass, seen) -> int:
    """Run one pass; check it ran from scratch and cleaned up, and return
    the spans rows its lineage recorded."""
    seen["dirs"].clear()
    seen["lineage"].clear()
    wall, stats = one_pass()
    assert wall > 0
    assert stats["waves"] >= 1
    assert stats["buckets_done_before"] == 0
    assert len(seen["dirs"]) == 1
    assert not os.path.exists(seen["dirs"][0])
    return sum(r["n_spans"] for r in seen["lineage"])


def test_redaction_pass_reruns_run_job_from_scratch(spark, corpora, recorded):
    one_pass = bench.job_pass(spark, bench.run_job, f"{corpora}/redact/documents",
                              f"{corpora}/redact/media_pages")
    first = _call(one_pass, recorded)
    assert first > 0
    assert _call(one_pass, recorded) == first


def test_extraction_pass_runs_run_extraction_job(spark, corpora, recorded):
    one_pass = bench.job_pass(spark, bench.run_extraction_job,
                              f"{corpora}/web/documents", f"{corpora}/web/media_pages")
    assert _call(one_pass, recorded) > 0
