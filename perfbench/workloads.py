"""The benchmark workloads: how each corpus is generated, which production
job runs over it, and what the oracle says it must produce.

Sizes are small because every run of the benchmark starts its own JVM and
runs the job four to six times inside a fixed time budget. At these sizes
a warm job run takes 4-6 s (extract_web) and 7-10 s (redact_bulk) on
4 vCPUs, most of it per-job and per-wave fixed cost (Spark job scheduling,
file commits), not per-document work: redact_bulk at 600 documents took as
long as at 1000.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_redaction_engine_spark import corpus, oracle
from ocr_redaction_engine_spark.extraction_pipeline import (ExtractionConfig,
                                                            run_extraction_job)
from ocr_redaction_engine_spark.pipeline import PipelineConfig, run_job

#: Output tables per job, with the columns the oracle compares. The digest
#: of a timed run covers every column read back, ``bucket`` included.
REDACT_TABLES = {
    "spans": ("doc_id", "order", "kind", "text", "media_ref"),
    "redactions": ("doc_id", "media_ref", "status", "field", "seq",
                   "x1", "y1", "x2", "y2"),
    "values": ("doc_id", "media_ref", "field", "value"),
    "invalid": ("doc_id", "status", "task_result", "reason"),
}
EXTRACT_TABLES = {"main_spans": ("doc_id", "order", "kind", "text", "media_ref")}

# corpus.DOCUMENTS_DDL / MEDIA_PAGES_DDL as arrow schemas
_BOX = [(c, pa.int32()) for c in ("x1", "y1", "x2", "y2")]
DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                  ("media_ref", pa.string()),
                                  ("offset", pa.int32())]))),
])
MEDIA_PAGES_SCHEMA = pa.schema([
    ("media_ref", pa.string()), ("document_name", pa.string()),
    ("width", pa.int32()), ("height", pa.int32()), ("doc_type", pa.string()),
    ("words", pa.list_(pa.struct(_BOX + [("text", pa.string())]))),
    ("lines", pa.list_(pa.string())),
    ("qr_boxes", pa.list_(pa.struct(_BOX))),
])


def write_inputs(docs: list, pages: list, out_dir: str, files: int) -> tuple[str, str]:
    """The job's two input tables as ``files`` parquet files each, document
    ``i`` and its media pages in file ``i % files`` (Spark's
    ``write_corpus`` spreads documents over its partitions the same way,
    at the cost of a Spark job that generates every document twice)."""
    paths = (f"{out_dir}/documents", f"{out_dir}/media_pages")
    for p in paths:
        Path(p).mkdir(parents=True)
    doc_parts = [docs[f::files] for f in range(files)]
    page_parts = [[] for _ in range(files)]
    for p in pages:                      # media_ref = pg-<doc index>-<span>
        page_parts[int(p["media_ref"].split("-")[1]) % files].append(p)
    for f in range(files):
        pq.write_table(pa.Table.from_pylist(doc_parts[f], DOCUMENTS_SCHEMA),
                       f"{paths[0]}/part-{f:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(page_parts[f], MEDIA_PAGES_SCHEMA),
                       f"{paths[1]}/part-{f:05d}.parquet")
    return paths


@dataclass
class Workload:
    name: str
    job: str                 # "redact" (run_job) or "extract" (run_extraction_job)
    n_docs: int
    config: object
    invalid_every: int = 0
    tables: dict = field(default_factory=dict)

    @property
    def n_buckets(self) -> int:
        return self.config.n_buckets

    @property
    def waves(self) -> int:
        return -(-self.config.n_buckets // self.config.bucket_group)

    def local_corpus(self, seed: int):
        """The rows ``corpus.write_corpus`` / ``write_web_corpus`` would
        write for this seed, built in the driver."""
        if self.job == "extract":
            return corpus.build_web_corpus_local(seed, self.n_docs)
        docs, pages = corpus.build_corpus_local(seed, self.n_docs)
        if self.invalid_every:
            docs, pages, _ = corpus.corrupt_corpus_local(docs, pages,
                                                         self.invalid_every)
        return docs, pages

    def run(self, spark, docs_path: str, pages_path: str, out_dir: str,
            ckpt_dir: str) -> dict:
        if self.job == "extract":
            return run_extraction_job(spark, docs_path, pages_path, out_dir,
                                      ckpt_dir, self.config)
        return run_job(spark, docs_path, pages_path, out_dir, ckpt_dir,
                       self.config)

    def expected(self, docs, pages) -> dict:
        """Oracle rows per output table (sorted), plus the doc count the
        lineage must sum to."""
        if self.job == "extract":
            rows = oracle.expected_extracted_spans(
                docs, pages, self.config.min_len, self.config.max_link_density)
            return {"tables": {"main_spans": sorted(rows)},
                    "n_docs": len({r[0] for r in rows})}
        invalid = oracle.expected_invalid_docs(docs, pages)
        bad = {r[0] for r in invalid}
        valid = [d for d in docs if d["doc_id"] not in bad]
        red, vals = oracle.expected_page_outputs(valid, pages,
                                                 self.config.level,
                                                 self.config.places)
        return {"tables": {"spans": sorted(oracle.expected_spans(valid)),
                           "redactions": sorted(red),
                           "values": sorted(vals),
                           "invalid": sorted(invalid)},
                "n_docs": len(valid)}


WORKLOADS = {
    w.name: w for w in [
        # one wave: per-doc work (Arrow kernel, media_ref join, PII regexps,
        # three parquet sinks) against one set of per-wave fixed costs, with
        # planted invalid documents and bucket claims so the validity probe
        # and the claim protocol do real work
        Workload("redact_bulk", "redact", 1000,
                 PipelineConfig(n_buckets=4, bucket_group=4,
                                claimant="perfbench", claim_ttl_sec=3600.0),
                 invalid_every=13, tables=REDACT_TABLES),
        # the UDF-free Catalyst extraction job over two waves: no kernel, no
        # PII, no Arrow, while the wave driver's per-wave cost still shows
        Workload("extract_web", "extract", 2000,
                 ExtractionConfig(n_buckets=4, bucket_group=2),
                 tables=EXTRACT_TABLES),
    ]
}
