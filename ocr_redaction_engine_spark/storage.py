"""Storage-layout writers and planners — the at-rest layouts that delete
shuffles and file reads at query time (the cheapest optimization 100 TB
allows: pay one shuffle at ingest, never again).

* ``write_zordered`` — Z-order-clustered parquet export: each output file
  covers a compact rectangle of two key columns, so per-file min/max stats
  prune reads on either column (Delta's ``OPTIMIZE ZORDER BY``).
* ``compaction_plan`` / ``partition_stats`` / ``clustering_depth`` — the
  metadata-scale planners a table-maintenance pass runs before rewriting
  files.
* ``merge_upsert`` — MERGE INTO as one full-outer equi-join.

On Iceberg-enabled clusters the same intents are expressed as table
properties (``bucket(N, key)`` partition transforms / ``WRITE ORDERED
BY``); these helpers are the plain-Spark equivalents that run anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zorder_key(x: str, y: str, bits: int = 10):
    """Morton (Z-order) key: bit-interleave two non-negative integer
    columns (low ``bits`` bits each) into one BIGINT. Sorting / range-
    partitioning by this key clusters rows that are close in BOTH
    dimensions into the same files, so per-file min/max stats prune reads
    for predicates on either column — multi-dimensional data skipping
    (what Delta's OPTIMIZE ZORDER BY does; here as a portable expression).

    Pure Catalyst: one ``aggregate`` HOF over ``sequence(0, bits-1)`` with
    shift/mod bit ops — integer-exact, engine-portable (the DuckDB twin is
    the same sum over ``range``).
    """
    from pyspark.sql import functions as F
    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT), (acc, i) ->"
        f" acc + shiftleft(CAST(shiftright({x}, i) % 2 AS BIGINT), 2*i + 1)"
        f"     + shiftleft(CAST(shiftright({y}, i) % 2 AS BIGINT), 2*i))"
    )


def write_zordered(df: DataFrame, path: str, x: str, y: str,
                   n_partitions: int = 16, bits: int = 10) -> None:
    """Z-order-clustered parquet export: range-partition + sort by the
    Morton key of (x, y), then drop the key. Each output file covers a
    compact rectangle of the (x, y) plane instead of a full-width stripe,
    so min/max file stats prune on BOTH dimensions (verified by the
    bounding-box unit test)."""
    keyed = df.withColumn("__z", zorder_key(x, y, bits))
    (keyed.repartitionByRange(n_partitions, "__z")
     .sortWithinPartitions("__z")
     .drop("__z")
     .write.mode("overwrite").parquet(path))


def synth_file_inventory(docs: DataFrame, files_per_source: int = 40) -> DataFrame:
    """Deterministic small-file inventory from the corpus: model each
    (source, doc-hash bucket) as one written parquet file whose size is the
    summed n_chars of its documents — the post-ingest state an Iceberg
    maintenance pass sees (real clusters read this from the table's file
    manifest; only the synthesis is fake, the planner below is the product)."""
    from pyspark.sql import functions as F
    return (
        docs.withColumn(
            "file_id",
            (F.conv(F.substring(F.md5(F.concat_ws(":", "doc_id", F.lit("file"))), 1, 8), 16, 10)
             .cast("long") % files_per_source))
        .groupBy("source", "file_id")
        .agg(F.sum("n_chars").alias("file_bytes"))
    )


#: compaction_plan's output bin payload target, in bytes
COMPACTION_TARGET_BYTES = 60_000


def compaction_plan(files: DataFrame) -> DataFrame:
    """Small-file compaction planner (Iceberg ``rewrite_data_files`` /
    bin-packing analog): within each source, order files by file_id and
    assign file f to output bin
    ``floor(running_offset(f) / COMPACTION_TARGET_BYTES)`` — the same
    running-offset packing Spark's own FilePartition planner uses. Every
    bin's payload is < COMPACTION_TARGET_BYTES + one file (the classic
    next-fit bound), bins are contiguous in key order (preserves any sort
    clustering the files already have), and the whole plan is one window
    over metadata-scale rows: the planner never touches data bytes, so it
    costs the same at 100 TB as at 100 MB. Integer-exact and deterministic.

    Returns (source, file_id, file_bytes, bin, bin_seq) — bin_seq is the
    file's position inside its output bin (what a rewrite task iterates
    over).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("source").orderBy("file_id")
    offset = (F.sum("file_bytes").over(w) - F.col("file_bytes")).cast("long")
    # integer DIV, not floor(double /): running offsets are exact longs, and
    # a multi-PB partition's offset exceeds the 2^53 exact-double range long
    # before it overflows int64 (same discipline as pack_offsets)
    planned = (files.select("source", "file_id", "file_bytes",
                            offset.alias("__off"))
               .selectExpr("source", "file_id", "file_bytes",
                           f"__off DIV {COMPACTION_TARGET_BYTES} AS bin"))
    wb = Window.partitionBy("source", "bin").orderBy("file_id")
    return planned.withColumn("bin_seq", F.row_number().over(wb).cast("long"))


def synth_updates(docs: DataFrame) -> "DataFrame":
    """Deterministic CDC batch against the documents table: ~10% of existing
    docs arrive with revised text (md5-gated), plus a sprinkling of brand-new
    doc_ids — pure expressions so the oracle rebuilds the identical batch."""
    from pyspark.sql import functions as F
    upd_gate = (F.conv(F.substring(F.md5(F.concat_ws(":", "doc_id", F.lit("upd"))), 1, 4),
                       16, 10).cast("long") % 10 == 0)
    revised = (docs.filter(upd_gate)
               .select("doc_id", F.concat(F.col("text"), F.lit(" [rev2]")).alias("text")))
    new_gate = (F.conv(F.substring(F.md5(F.concat_ws(":", "doc_id", F.lit("new"))), 1, 4),
                       16, 10).cast("long") % 37 == 0)
    created = (docs.filter(new_gate)
               .select(F.concat(F.col("doc_id"), F.lit("-new")).alias("doc_id"),
                       F.concat(F.lit("fresh: "), F.col("text")).alias("text")))
    return revised.unionByName(created)


def merge_upsert(target: DataFrame, updates: "DataFrame") -> "DataFrame":
    """MERGE INTO semantics as one full-outer equi-join (the engine-level
    shape Delta/Iceberg MERGE compiles to): update rows replace matched
    targets, unmatched updates insert, untouched targets carry forward —
    each output row tagged with its action for CDC auditability.

    One shuffle on the merge key; targets stored bucketed on the key
    (``bucketBy``) co-locate both sides, so repeated merge cycles plan the
    join Exchange-free. Returns (doc_id, action, text).
    """
    from pyspark.sql import functions as F
    t = target.select("doc_id", F.col("text").alias("t_text"))
    u = updates.select("doc_id", F.col("text").alias("u_text"))
    j = t.join(u, "doc_id", "full_outer")
    action = (
        F.when(F.col("t_text").isNull(), "insert")
        .when(F.col("u_text").isNull(), "keep")
        .otherwise("update")
    )
    return j.select(
        "doc_id",
        action.alias("action"),
        F.coalesce("u_text", "t_text").alias("text"),
    )


def partition_stats(docs: DataFrame, keys: tuple = ("source", "lang"),
                    target_bytes: int = 60_000) -> DataFrame:
    """Partition-layout advisor for a keyed table: per partition-key
    combination, row count and byte mass (``n_chars`` as the on-disk
    proxy, same convention as :func:`synth_file_inventory`), its share of
    the table (bp), skew versus the mean partition (×10 fixed point), the
    file count a ``target_bytes`` writer should emit, and a ``hot`` flag
    (≥3× mean) marking partitions that need salting or AQE skew handling.

    This is the planning read you take BEFORE choosing partitionBy keys at
    100 TB: a key whose hot partition carries 30% of the table serializes
    every downstream shuffle on one task. One hash-agg over the scan; the
    mean/share windows ride |partitions| rows.
    """
    from pyspark.sql import Window

    per = docs.groupBy(*keys).agg(
        F.count("*").alias("n_rows"),
        F.sum("n_chars").alias("bytes"))
    w = Window.partitionBy()
    dec = "DECIMAL(38,0)"
    return (
        per
        .withColumn("total", F.sum("bytes").over(w))
        .withColumn("n_parts", F.count("*").over(w))
        .select(
            *keys, "n_rows", "bytes",
            F.expr(f"CAST(CAST(bytes AS {dec}) * 10000 DIV total AS BIGINT)")
             .alias("share_bp"),
            F.expr(f"CAST(CAST(bytes AS {dec}) * 10 * n_parts DIV total"
                   " AS BIGINT)").alias("skew_x10"),
            F.expr(f"CAST((bytes + {target_bytes} - 1) DIV {target_bytes}"
                   " AS BIGINT)").alias("files_needed"))
        .withColumn("hot", F.col("skew_x10") >= 30))


def clustering_depth(docs: DataFrame, files_per_source: int = 40) -> DataFrame:
    """Clustering-depth audit (the Snowflake `clustering_information` /
    Iceberg sort-order health metric): for each file, how many OTHER files
    of the same (source, layout) its key range [kmin, kmax] overlaps —
    average depth ≈ 1 means a point/range query prunes to ~one file; depth
    ≈ |files| means the sort order has decayed and every query reads the
    partition. Measured on two deterministic layouts of the SAME inventory
    so the table shows what clustering buys:

      ``clustered``  file i owns the contiguous slice i·W..(i+1)·W−1 of
                     the 100,000-key space (W = 100,000 ÷ files)
      ``scattered``  md5 start, same width — ranges strewn at random

    The pairwise overlap test is the repo's bucketed interval-join idiom
    ([[q33_range_join]]): ranges explode over coarse 12,500-key buckets,
    pairs come from an EQUI-join on (source, layout, bucket) — never a
    nested-loop join — and the exact overlap predicate filters candidates.
    Output: one row per (source, layout) with files, avg_depth_e6 (self
    counted, so perfectly clustered = 1.0), max_depth.
    """
    from pyspark.sql import functions as F

    inv = synth_file_inventory(docs, files_per_source)
    width = 100_000 // files_per_source
    h = F.conv(F.substring(F.md5(F.concat_ws(
        ":", "source", F.col("file_id").cast("string"), F.lit("kr"))),
        1, 8), 16, 10).cast("long")
    ranges = inv.select(
        "source", "file_id",
        F.explode(F.array(F.lit("clustered"), F.lit("scattered")))
         .alias("layout"),
    ).select(
        "source", "file_id", "layout",
        F.when(F.col("layout") == "clustered",
               F.col("file_id") * width)
         .otherwise(h % (100_000 - width)).alias("kmin"),
    ).withColumn("kmax", F.col("kmin") + width - 1)
    spans = ranges.select(
        "source", "file_id", "layout", "kmin", "kmax",
        F.explode(F.sequence(F.expr("kmin DIV 12500"),
                             F.expr("kmax DIV 12500"))).alias("bk"))
    a = spans.alias("a")
    b = spans.select(
        F.col("source").alias("source"), F.col("layout").alias("layout"),
        F.col("bk").alias("bk"), F.col("file_id").alias("b_file"),
        F.col("kmin").alias("b_kmin"), F.col("kmax").alias("b_kmax"))
    pairs = (a.join(b, ["source", "layout", "bk"])
             .where((F.col("a.kmin") <= F.col("b_kmax"))
                    & (F.col("b_kmin") <= F.col("a.kmax")))
             .select("source", "layout", F.col("a.file_id").alias("file_id"),
                     "b_file")
             .distinct())
    depth = pairs.groupBy("source", "layout", "file_id").agg(
        F.count("*").alias("depth"))
    dec = "DECIMAL(38,0)"
    return (depth.groupBy("source", "layout")
            .agg(F.count("*").alias("n_files"),
                 F.sum("depth").alias("sum_depth"),
                 F.max("depth").alias("max_depth"))
            .select("source", "layout", "n_files",
                    F.expr(f"CAST(CAST(sum_depth AS {dec}) * 1000000"
                           " DIV n_files AS BIGINT)").alias("avg_depth_e6"),
                    F.col("max_depth").cast("long").alias("max_depth")))
