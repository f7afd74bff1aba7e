"""Storage-layout writers and planners: the Z-order export clusters both
key dimensions, the compaction / partition / clustering planners match
pure-Python replans, and MERGE keeps the full-outer action semantics."""

from __future__ import annotations


def test_zorder_key_reference_and_file_bounding_boxes(spark, tmp_path):
    """zkey must equal the pure-Python Morton interleave; z-ordered files
    must cover compact (x, y) rectangles — both dimensions prunable —
    while an x-sorted layout leaves y unpruned (full-range stripes)."""
    import pyspark.sql.functions as F
    from ocr_redaction_engine_spark.storage import write_zordered, zorder_key

    rows = [(i, i % 64, i // 64) for i in range(4096)]  # full 64x64 grid
    df = spark.createDataFrame(rows, "doc_id long, x long, y long")

    got = df.withColumn("z", zorder_key("x", "y", bits=6)).collect()

    def morton(x, y, bits=6):
        z = 0
        for i in range(bits):
            z += (((x >> i) & 1) << (2 * i + 1)) + (((y >> i) & 1) << (2 * i))
        return z
    assert all(r["z"] == morton(r["x"], r["y"]) for r in got)

    zpath, spath = str(tmp_path / "zord"), str(tmp_path / "xsort")
    write_zordered(df, zpath, "x", "y", n_partitions=16, bits=6)
    (df.repartitionByRange(16, "x").sortWithinPartitions("x")
     .write.mode("overwrite").parquet(spath))

    def spans(path):
        per_file = (spark.read.parquet(path)
                    .groupBy(F.input_file_name().alias("f"))
                    .agg((F.max("x") - F.min("x")).alias("sx"),
                         (F.max("y") - F.min("y")).alias("sy"))
                    .collect())
        return ([r["sx"] for r in per_file], [r["sy"] for r in per_file])

    zx, zy = spans(zpath)
    # 4096 rows / 16 files = 256-point z-blocks -> rectangles around 16x16;
    # range-boundary straddling can widen a file, but never to a full stripe
    assert max(zx) <= 32 and max(zy) <= 32
    sx, sy = spans(spath)
    assert max(sy) == 63          # x-sorted stripes span ALL of y
    assert max(zy) < max(sy) / 2  # z-order beats 1-D sort on the 2nd dim


def test_compaction_plan_next_fit_bound_and_python_parity(spark):
    """Running-offset packing: bins are contiguous in key order, every bin's
    payload minus its last file stays under target (the next-fit bound), and
    the distributed plan equals a sequential pure-Python replan."""
    from collections import defaultdict

    from ocr_redaction_engine_spark.storage import (COMPACTION_TARGET_BYTES,
                                                    compaction_plan)

    rows = [("s%d" % (i % 3), i, 1000 + (i * 7919) % 9000) for i in range(60)]
    files = spark.createDataFrame(rows, "source string, file_id long, file_bytes long")
    target = COMPACTION_TARGET_BYTES
    got = compaction_plan(files).collect()

    by_part = defaultdict(list)
    for r in sorted(rows, key=lambda t: (t[0], t[1])):
        by_part[r[0]].append(r)
    expect = {}
    for part, fs in by_part.items():
        offset = 0
        for src, fid, size in fs:
            expect[(part, fid)] = offset // target
            offset += size

    bins = defaultdict(list)
    for r in got:
        assert r.bin == expect[(r.source, r.file_id)]
        bins[(r.source, r.bin)].append((r.file_id, r.file_bytes, r.bin_seq))
    for (part, b), fs in bins.items():
        fs.sort()
        assert [seq for _, _, seq in fs] == list(range(1, len(fs) + 1))
        total, last = sum(s for _, s, _ in fs), fs[-1][1]
        assert total - last < target


def test_merge_upsert_actions(spark):
    """MERGE semantics: matched rows update, unmatched updates insert,
    untouched targets keep; output covers target ∪ updates exactly once."""
    from ocr_redaction_engine_spark.storage import merge_upsert

    target = spark.createDataFrame(
        [("a", "old-a"), ("b", "old-b"), ("c", "old-c")], "doc_id string, text string")
    updates = spark.createDataFrame(
        [("b", "new-b"), ("d", "new-d")], "doc_id string, text string")
    got = {r.doc_id: (r.action, r.text) for r in merge_upsert(target, updates).collect()}
    assert got == {
        "a": ("keep", "old-a"),
        "b": ("update", "new-b"),
        "c": ("keep", "old-c"),
        "d": ("insert", "new-d"),
    }


def test_partition_stats_skew_flags(spark):
    from ocr_redaction_engine_spark.storage import partition_stats
    rows = ([(i, "x", "en", "hot", 300) for i in range(10)]      # 3000 bytes
            + [(100, "x", "en", "cold1", 500)]
            + [(101, "x", "de", "cold2", 500)])
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    got = {(r.source, r.lang): r for r in
           partition_stats(docs, keys=("source", "lang"),
                           target_bytes=1000).collect()}
    hot = got[("hot", "en")]
    # total 4000 over 3 partitions; mean 1333.33; hot = 3000
    assert (hot.n_rows, hot.bytes, hot.share_bp) == (10, 3000, 7500)
    assert hot.skew_x10 == 3000 * 10 * 3 // 4000 == 22  # 2.2x mean
    assert hot.files_needed == 3 and not hot.hot
    c1 = got[("cold1", "en")]
    assert (c1.share_bp, c1.files_needed, bool(c1.hot)) == (1250, 1, False)
    # single dominating partition trips the hot flag
    docs2 = spark.createDataFrame(
        [(0, "x", "en", "mega", 10_000)] + [(i, "x", "en", f"s{i}", 100)
                                            for i in range(1, 11)],
        "doc_id long, text string, lang string, source string, n_chars long")
    got2 = {r.source: r for r in
            partition_stats(docs2, keys=("source",)).collect()}
    assert got2["mega"].hot  # 10000*10*11/11000 = 100 >= 30


def test_clustering_depth_layouts_separate(spark):
    from ocr_redaction_engine_spark.storage import clustering_depth
    docs = spark.createDataFrame(
        [(i, "x", "en", "s0", 100) for i in range(400)],
        "doc_id long, text string, lang string, source string, n_chars long")
    got = {(r.source, r.layout): r for r in
           clustering_depth(docs, files_per_source=20).collect()}
    cl = got[("s0", "clustered")]
    sc = got[("s0", "scattered")]
    # contiguous non-overlapping slices: every file overlaps only itself
    assert cl.avg_depth_e6 == 1_000_000 and cl.max_depth == 1
    # random placement collides: depth must exceed the clustered floor
    assert sc.avg_depth_e6 > 1_000_000 and sc.max_depth >= 2
    assert cl.n_files == sc.n_files
