"""Physical-plan regression tests (SURVEY.md §4): the plan properties the
100 TB design depends on must not silently regress.

* text branch: zero Python — the PII redaction is regexp_replace inside
  codegen, no ArrowEvalPython/BatchEvalPython/PythonUDF anywhere;
* media branch: exactly ONE Arrow stage (MapInPandas), ONE join, and no
  exchange after the Arrow stage (sinks are narrow);
* scans: predicate pushdown and column pruning reach the parquet reader,
  including the validity probe's nested pruning of the documents scan.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ocr_redaction_engine_spark.operators.validate import invalid_documents
from ocr_redaction_engine_spark.pipeline import PipelineConfig, run_pipeline


@pytest.fixture(scope="module")
def plans(spark, corpus_dfs, tmp_path_factory):
    # write to parquet so scans are real file scans with pushdown
    base = str(tmp_path_factory.mktemp("plan"))
    docs_df, pages_df = corpus_dfs
    docs_df.write.parquet(f"{base}/documents")
    pages_df.write.parquet(f"{base}/media_pages")
    docs = spark.read.parquet(f"{base}/documents")
    pages = spark.read.parquet(f"{base}/media_pages")
    outs = run_pipeline(docs, pages, PipelineConfig())
    outs["probe"] = invalid_documents(docs, pages)
    return {k: v._jdf.queryExecution().executedPlan().toString()
            for k, v in outs.items()}


def test_text_branch_has_no_python(plans):
    plan = plans["spans"]
    for marker in ("ArrowEvalPython", "BatchEvalPython", "PythonUDF", "MapInPandas"):
        assert marker not in plan, f"text branch must stay JVM-side, found {marker}"


def test_validity_probe_prunes_span_text(plans):
    """The probe over a plain documents read scans doc_id, spans.kind and
    spans.media_ref only: spans.text, the bulk of the table, stays on
    disk without a schema-pruned re-read."""
    assert ("ReadSchema: struct<doc_id:string,"
            "spans:array<struct<kind:string,media_ref:string>>>"
            in plans["probe"])


def test_media_branch_single_arrow_stage(plans):
    for out in ("redactions", "values"):
        plan = plans[out]
        assert plan.count("MapInPandas") == 1, f"{out}: exactly one Arrow stage"
        assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") \
            + plan.count("ShuffledHashJoin") == 1, f"{out}: exactly one join"
        # nothing may shuffle after the Arrow stage: the partial plan above
        # MapInPandas must contain no Exchange
        after = plan.split("MapInPandas", 1)[0]
        assert "Exchange" not in after, f"{out}: sink must be narrow after Arrow stage"


def test_scan_pushdown_and_pruning(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("scan"))
    spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    ).write.parquet(f"{base}/t")
    df = spark.read.parquet(f"{base}/t").filter(F.col("k") == 3).select("id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,3)]" in plan
    assert "ReadSchema: struct<id:bigint,k:bigint>" in plan  # v pruned away


def test_simhash_shuffles_only_when_input_is_narrow(spark):
    """VERDICT r2 #3: simhash must not add an Exchange when the scan is
    already at (or above) defaultParallelism — the repartition is a narrow-
    input rescue, not an unconditional full shuffle of the text column."""
    from ocr_redaction_engine_spark.analytics.dedup import simhash

    def n_exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")

    base = spark.range(64).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok "), F.col("id")).alias("text"))
    wide = base.repartition(spark.sparkContext.defaultParallelism)
    # wide input: the only Exchange is the caller's own repartition
    assert n_exchanges(simhash(wide)) == n_exchanges(wide)
    # narrow input: the operator adds exactly one repartition to spread work
    narrow = base.coalesce(1)
    assert n_exchanges(narrow) == 0
    assert n_exchanges(simhash(narrow)) == 1
    # min_partitions=0 skips the width probe AND the rescue repartition —
    # the escape hatch for shuffled inputs where .rdd would materialize
    # upstream stages just to count partitions
    assert n_exchanges(simhash(narrow, min_partitions=0)) == 0


def test_no_query_plans_cartesian_or_bnl_join(spark):
    """VERDICT r1 #4: no CartesianProduct / BroadcastNestedLoopJoin in ANY
    driver query plan — every join in the repo must be hash- or
    sort-merge-based (the shapes that survive 100x)."""
    import sys
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as entry_mod

    sf_dir = "/root/testdata/sf0.001"
    for name, fn in entry_mod.queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_ccnet_buckets_assignment_is_broadcast(spark):
    """The tercile-boundary assignment join must be a broadcast of the
    |groups|-row bounds array — a shuffled assignment join would re-key the
    whole scored corpus just to attach 2 integers per group."""
    from ocr_redaction_engine_spark.analytics.lm import ccnet_buckets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = ccnet_buckets(docs, docs.filter(F.col("lang") == "en"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the final assignment join (topmost join in the plan) is the broadcast:
    # no Exchange may sit between the top and the first join marker
    top = plan.split("Join", 1)[0]
    assert "Exchange hashpartitioning" not in top
    spark.catalog.clearCache()


def test_incremental_dedup_old_side_never_self_joins(spark):
    """The corpus (old) side must appear in exactly the two scans the design
    promises (signature melt + verify), and the new-vs-old candidate join
    must broadcast the batch side."""
    from ocr_redaction_engine_spark.analytics.dedup import incremental_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fold = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2),
                   16, 10).cast("long") < 192)
    out = incremental_dedup(docs.filter(fold), docs.filter(~fold))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # batch side broadcasts vs the corpus
    spark.catalog.clearCache()
