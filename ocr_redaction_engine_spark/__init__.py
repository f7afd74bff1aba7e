"""ocr_redaction_engine_spark — a from-scratch PySpark-native extraction /
redaction engine with the query semantics of Devopcasting/OCR-Redaction-Engine.

The reference (/root/reference, read-only) is a single-node, MongoDB-queued,
thread-pooled OCR-and-redaction service. This package re-expresses its
semantics as a pure DataFrame job over Iceberg/parquet tables of interleaved
text + media documents:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Pipeline shape (SURVEY.md §3.4):

    scan -> resume anti-join -> posexplode(spans)
         -> text spans:  JVM-side PII regexp redaction        (no Python)
         -> media spans: tokenize (fixture join / mapInPandas OCR)
                         -> classify + extract fields (Arrow-batched kernel,
                            first-match bank priority)
                         -> redaction boxes + values sinks
         -> reassemble span sequence ordered by original offset
         -> checkpoint MERGE (partition-granular lineage + metrics)

Everything distributed is DataFrame-first; the only Python on the hot path is
one Arrow-batched ``mapInPandas`` stage for the per-page ordered take-while
heuristics that SQL cannot express (SURVEY.md §7.0).
"""

__version__ = "0.1.0"
