"""The distributed corpus writers produce the local builders' corpus even
when most Arrow batches hold no media pages (more partitions than
documents): an empty batch must still convert to the nested page schema.
Their part files are byte-stable between writes."""

from __future__ import annotations

from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
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


def test_writes_are_byte_stable_per_part(spark, tmp_path):
    """Each part file holds one contiguous id range in id order, so two
    writes of the same corpus give the same bytes per part index."""
    def parts(table_dir):
        return sorted((p.name.split("-")[1], p.read_bytes())
                      for p in Path(table_dir).glob("part-*.parquet"))

    first = corpus.write_corpus(spark, str(tmp_path / "a"), 60, seed=42,
                                partitions=4)
    second = corpus.write_corpus(spark, str(tmp_path / "b"), 60, seed=42,
                                 partitions=4)
    for a, b in zip(first, second):
        assert parts(a) == parts(b)
    docs, _ = corpus.build_corpus_local(42, 60)
    in_file_order = [d for _, data in parts(first[0])
                     for d in pq.read_table(pa.BufferReader(data))
                     .column("doc_id").to_pylist()]
    assert in_file_order == [d["doc_id"] for d in docs]
