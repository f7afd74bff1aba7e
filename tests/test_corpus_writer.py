"""The distributed corpus writers produce the local builders' corpus even
when most Arrow batches hold no media pages (more partitions than
documents): an empty batch must still convert to the nested page schema."""

from __future__ import annotations

import pytest

from ocr_redaction_engine_spark import corpus


@pytest.mark.parametrize("write, build", [
    (corpus.write_corpus, corpus.build_corpus_local),
    (corpus.write_web_corpus, corpus.build_web_corpus_local),
])
def test_sparse_partitions_write_every_document(spark, tmp_path, write, build):
    docs_path, pages_path = write(spark, str(tmp_path), 10, seed=42,
                                  partitions=16)
    docs, pages = build(42, 10)
    assert sorted(r.doc_id for r in spark.read.parquet(docs_path).collect()) \
        == sorted(d["doc_id"] for d in docs)
    assert sorted(r.media_ref for r in spark.read.parquet(pages_path).collect()) \
        == sorted(p["media_ref"] for p in pages)
