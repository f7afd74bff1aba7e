"""salted_topk: the two-stage rank must be bit-identical to the plain
single-window formulation (salts=1) on skewed inputs — including a planted
hot group far larger than k — and the operators that adopted it must agree
with their pre-existing semantics. running_total: both plans must equal a
sequential per-group running sum, NULL group keys included."""

from __future__ import annotations

from itertools import accumulate

import pyspark.sql.functions as F
import pytest

from ocr_redaction_engine_spark.analytics.ranks import running_total, salted_topk


def _rows(spark):
    # group 'hot' has 400 rows (Zipf head), 'cold' has 7, 'tiny' has 2;
    # score collisions force the unique tie-break column to matter
    rows = [("hot", f"d{i:04d}", i % 13) for i in range(400)]
    rows += [("cold", f"c{i}", i % 3) for i in range(7)]
    rows += [("tiny", "t0", 5), ("tiny", "t1", 5)]
    return spark.createDataFrame(rows, "grp string, id string, score int")


def test_salted_equals_single_window(spark):
    df = _rows(spark)
    order = [F.col("score").desc(), F.col("id").asc()]
    plain = salted_topk(df, ["grp"], order, 10, salt_on="id", salts=1)
    for salts in (2, 8, 64):
        got = salted_topk(df, ["grp"], order, 10, salt_on="id", salts=salts)
        assert sorted(got.collect()) == sorted(plain.collect()), salts


def test_salted_topk_groups_smaller_than_k(spark):
    df = _rows(spark).filter(F.col("grp") == "tiny")
    out = salted_topk(df, ["grp"], [F.col("score").desc(), F.col("id").asc()],
                      10, salt_on="id", salts=8).collect()
    assert sorted((r["id"], r["rank"]) for r in out) == [("t0", 1), ("t1", 2)]


def test_bm25_and_ann_salt_invariance(spark):
    # the adopted call sites rank identically under any salt count: compare
    # bm25_topk / cosine_topk as shipped (salts=8 default) against a
    # single-window recomputation of their scored sets
    from pyspark.sql import Window

    from ocr_redaction_engine_spark.analytics.search import bm25_topk
    from ocr_redaction_engine_spark.analytics.similarity import cosine_topk

    docs = spark.createDataFrame(
        [(f"doc{i}", " ".join(["hash join scan fast value table"[: 6 + (i % 20)]]
                              * (1 + i % 5)))
         for i in range(60)], "doc_id string, text string")
    got = bm25_topk(docs, k=5).collect()
    assert len(got) > 0
    for r in got:
        assert 1 <= r["rank"] <= 5

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) for j in range(4)]) for i in range(40)],
        "vec_id long, embedding array<float>")
    mine = cosine_topk(emb, n_queries=3, k=6)
    # single-window reference over the same scored set semantics
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    ref = (mine.select("q_id", "c_id", "sim")
           .withColumn("rank", F.row_number().over(w)))
    assert sorted(mine.collect()) == sorted(ref.collect())


def _hot_rows():
    # a planted hot group (Zipf head) next to seven small ones
    return ([("hot", i) for i in range(400)]
            + [(f"h{i % 7}", 1000 + i) for i in range(120)])


def _null_rows():
    # 60 rows, every fifth with a NULL host, every third with a NULL lang
    return [(None if i % 5 == 0 else f"h{i % 2}",
             None if i % 3 == 0 else "en", i, 1 + i % 9) for i in range(60)]


#: case -> (rows, ddl, group_cols, order_cols(), value, python sort key);
#: the order is built lazily, Columns need a live session
_RT_CASES = {
    # node ids: duplicate input ids, distinct first, no groups
    "row_number_distinct_ids": (
        [(f"doc-{i:04d}",) for i in range(257)]
        + [(f"doc-{i:04d}",) for i in range(40)],
        "doc_id string", [], lambda: ["doc_id"], None, lambda r: r[0]),
    "row_number_no_groups": (
        _hot_rows(), "host string, doc_id long", [],
        lambda: [F.asc("doc_id"), F.asc("host")], None, lambda r: (r[1], r[0])),
    "row_number_hot_group": (
        _hot_rows(), "host string, doc_id long", ["host"],
        lambda: [F.desc("doc_id"), F.asc("host")], None, lambda r: (-r[1], r[0])),
    "row_number_null_groups": (
        _null_rows(), "host string, lang string, doc_id long, n int",
        ["host"], lambda: ["doc_id"], None, lambda r: r[2]),
    "sum_no_groups": (
        [(f"d{i:03d}", 1 + i % 9) for i in range(80)],
        "doc_id string, n int", [], lambda: ["doc_id"], "n", lambda r: r[0]),
    "sum_null_groups_two_cols": (
        _null_rows(), "host string, lang string, doc_id long, n int",
        ["host", "lang"], lambda: [F.desc("doc_id")], "n", lambda r: -r[2]),
}


@pytest.mark.parametrize("case", sorted(_RT_CASES))
def test_running_total_wide_equals_narrow(spark, case):
    """Both plans of running_total equal a sequential per-group running
    sum over the total order, with the input's columns first and in input
    order: every row survives, NULL group keys included (a plain equi-join
    of the wide plan's offsets on the group keys would drop them)."""
    rows, ddl, groups, order, value, key = _RT_CASES[case]
    # distinct(): the node-id case plants duplicate input ids
    df = spark.createDataFrame(rows, ddl).repartition(7).distinct()
    rows = set(rows)
    cols = df.columns
    gi = [cols.index(c) for c in groups]
    vi = None if value is None else cols.index(value)
    by_group = {}
    for r in rows:
        by_group.setdefault(tuple(r[i] for i in gi), []).append(r)
    expect = []
    for rs in by_group.values():
        rs.sort(key=key)
        sums = accumulate(1 if vi is None else r[vi] for r in rs)
        expect += [(*r, s) for r, s in zip(rs, sums)]
    for wide in (False, True):
        out = running_total(df, groups, order(), "rt", value=value, wide=wide)
        assert out.columns == [*cols, "rt"], wide
        assert dict(out.dtypes)["rt"] == "bigint", wide
        got = [tuple(r) for r in out.collect()]
        assert sorted(got, key=repr) == sorted(expect, key=repr), wide
