"""Storage bucketing kills the pipeline's one shuffle (BENCH.md claim,
plan-pinned here): when the spans and media_pages tables are stored
bucketed on media_ref with the same bucket count, the tokenize resolve
join plans with ZERO Exchange on either side — on a real cluster this is
`CLUSTERED BY (media_ref) INTO N BUCKETS` at ingest, and the join becomes
a per-bucket local merge at any scale."""

from __future__ import annotations

import pytest

from ocr_redaction_engine_spark.corpus import local_frames
from ocr_redaction_engine_spark.operators.explode import explode_spans, route_spans


@pytest.fixture(scope="module")
def bucketed_tables(spark, local_corpus):
    docs, pages = local_corpus
    docs_df, pages_df = local_frames(spark, docs, pages)
    _, media_spans = route_spans(explode_spans(docs_df))
    spark.sql("DROP TABLE IF EXISTS bkt_spans")
    spark.sql("DROP TABLE IF EXISTS bkt_pages")
    (media_spans.write.bucketBy(8, "media_ref").sortBy("media_ref")
     .mode("overwrite").saveAsTable("bkt_spans"))
    (pages_df.write.bucketBy(8, "media_ref").sortBy("media_ref")
     .mode("overwrite").saveAsTable("bkt_pages"))
    yield "bkt_spans", "bkt_pages"
    spark.sql("DROP TABLE IF EXISTS bkt_spans")
    spark.sql("DROP TABLE IF EXISTS bkt_pages")


def test_bucketed_join_plans_zero_exchange(spark, bucketed_tables):
    t_spans, t_pages = bucketed_tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # forbid broadcast so the test pins the bucketed-SMJ shape, not a
        # small-input broadcast shortcut
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(t_spans).join(spark.table(t_pages), "media_ref")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_same_result_as_unbucketed(spark, bucketed_tables, local_corpus):
    t_spans, t_pages = bucketed_tables
    docs, pages = local_corpus
    docs_df, pages_df = local_frames(spark, docs, pages)
    _, media_spans = route_spans(explode_spans(docs_df))
    expected = media_spans.join(pages_df, "media_ref").count()
    got = spark.table(t_spans).join(spark.table(t_pages), "media_ref").count()
    assert got == expected
