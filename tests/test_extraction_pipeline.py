"""Main-content extraction pipeline (north rule): span-sequence equality vs
the pure-Python oracle, partition-granular kill/resume, no-op rerun, and a
UDF-free plan gate (every branch must stay in Catalyst)."""

from __future__ import annotations

import pytest

from ocr_redaction_engine_spark import checkpoint, corpus, oracle
from ocr_redaction_engine_spark.corpus import write_web_corpus
from ocr_redaction_engine_spark.extraction_pipeline import (
    ExtractionConfig,
    extract_spans,
    run_extraction_job,
)

SEED, N_DOCS = 42, 160
CFG = dict(n_buckets=8, bucket_group=2)


@pytest.fixture(scope="module")
def web_corpus():
    return corpus.build_web_corpus_local(SEED, N_DOCS)


@pytest.fixture(scope="module")
def web_dfs(spark, web_corpus):
    docs, pages = web_corpus
    return corpus.local_frames(spark, docs, pages)


def test_span_sequence_equality_vs_oracle(spark, web_corpus, web_dfs):
    docs, pages = web_corpus
    docs_df, pages_df = web_dfs
    got = sorted((r.doc_id, r.order, r.kind, r.text, r.media_ref)
                 for r in extract_spans(docs_df, pages_df).collect())
    exp = sorted(oracle.expected_extracted_spans(docs, pages))
    assert got == exp


def test_html_pdf_recover_ground_truth_bytes(web_corpus):
    """The extracted text of every html and pdf span must be byte-identical
    to the raw text span the corpus wrapped/interleaved — extraction is an
    exact inverse of the synthetic crawl artifacts."""
    docs, pages = web_corpus
    exp = {(r[0], r[1]): r for r in oracle.expected_extracted_spans(docs, pages)}
    checked = 0
    for i, d in enumerate(docs):
        for s in d["spans"]:
            if s["kind"] in ("html", "pdf"):
                truth = corpus._text_span(SEED, i, s["offset"])
                assert exp[(d["doc_id"], s["offset"])][3] == truth
                checked += 1
    assert checked > 100


def test_plan_is_udf_free(web_dfs):
    """All four branches are Catalyst expressions — no BatchEvalPython /
    ArrowEvalPython anywhere in the physical plan (the redaction pipeline's
    single Arrow stage is its media kernel; extraction needs none)."""
    docs_df, pages_df = web_dfs
    plan = extract_spans(docs_df, pages_df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapsInPandas" not in plan and "MapInPandas" not in plan


def test_html_pdf_text_branches_are_exchange_free(spark, web_dfs):
    """The html strip runs as per-row array HOFs and pdf/text are narrow
    projections: dropping the media branch, the physical plan must contain
    ZERO Exchange — the whole non-media pipeline is scan → project.
    (The media join is the pipeline's single, unavoidable shuffle.)"""
    from ocr_redaction_engine_spark.extraction_pipeline import (
        ExtractionConfig, _narrow_kind_spans)
    from ocr_redaction_engine_spark.operators.explode import explode_spans

    docs_df, _ = web_dfs
    nonmedia = _narrow_kind_spans(explode_spans(docs_df), ExtractionConfig())
    plan = nonmedia._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


class _Boom(RuntimeError):
    pass


@pytest.fixture(scope="module")
def web_input(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("xresume"))
    write_web_corpus(spark, f"{base}/input", n_docs=200, seed=SEED, partitions=4)
    return base


def _main_spans(spark, out_dir):
    df = spark.read.parquet(f"{out_dir}/main_spans")
    return sorted((r.doc_id, r.order, r.kind, r.text, r.media_ref)
                  for r in df.collect())


def test_extraction_kill_resume_and_noop(spark, web_input, monkeypatch):
    base = web_input
    docs, pages = f"{base}/input/documents", f"{base}/input/media_pages"

    run_extraction_job(spark, docs, pages, f"{base}/out_clean",
                       f"{base}/ckpt_clean", ExtractionConfig(**CFG))
    expected = _main_spans(spark, f"{base}/out_clean")

    real_append = checkpoint.append_checkpoint
    calls = {"n": 0}

    def dying_append(spark_, ckpt_dir, rows):
        real_append(spark_, ckpt_dir, rows)
        calls["n"] += 1
        if calls["n"] == 1:
            raise _Boom("simulated driver death after wave 1")

    monkeypatch.setattr(checkpoint, "append_checkpoint", dying_append)
    with pytest.raises(_Boom):
        run_extraction_job(spark, docs, pages, f"{base}/out", f"{base}/ckpt",
                           ExtractionConfig(**CFG))
    monkeypatch.setattr(checkpoint, "append_checkpoint", real_append)

    done = checkpoint.completed_buckets(spark, f"{base}/ckpt")
    assert len(done) == CFG["bucket_group"]

    stats = run_extraction_job(spark, docs, pages, f"{base}/out",
                               f"{base}/ckpt", ExtractionConfig(**CFG))
    assert stats["buckets_done_before"] == CFG["bucket_group"]
    assert _main_spans(spark, f"{base}/out") == expected

    # complete checkpoint → rerun is a no-op and outputs are untouched
    stats2 = run_extraction_job(spark, docs, pages, f"{base}/out",
                                f"{base}/ckpt", ExtractionConfig(**CFG))
    assert stats2["waves"] == 0
    assert _main_spans(spark, f"{base}/out") == expected

    # lineage accounting: bucket totals equal final output totals
    lineage = spark.read.parquet(f"{base}/ckpt")
    n_docs = sum(r.n_docs for r in lineage.collect())
    assert n_docs == spark.read.parquet(f"{base}/out/main_spans") \
        .select("doc_id").distinct().count()
