"""Skew-safe ranking primitives shared across the analytics operators.

Two rules, one definition each:

``salted_topk`` is the distributed form of "row_number() per group, keep
the top k" for LOW-CARDINALITY groups with corpus-scale candidate sets —
the BM25 per-query rank, the ANN per-query rank, the per-cluster
representative pick, the per-domain cap. A bare
``Window.partitionBy(group)`` funnels every candidate of a group through
ONE sorted task; with a handful of query ids over 10^12 candidates that
task IS the job. The fix is a two-stage top-k:

  stage 1  rank within (group, salt) — ``salts`` × more, evenly loaded
           partitions — and keep k per salted slice;
  stage 2  re-rank the ≤ salts·k survivors per group.

EXACTNESS: if row x is in a group's global top-k under a TOTAL order,
fewer than k rows of that group precede x — so fewer than k precede it
within x's own salt slice, hence x survives stage 1; stage 2 then ranks a
superset of the global top-k under the same total order, reproducing the
single-window numbering bit for bit for ANY salt assignment. (The order
must be total — include a unique tie-break column — or both formulations
are underdetermined.) The salt is a deterministic hash of a caller-named
unique column, so reruns are stable (pinned by the salts=1 ≡ salts=8 unit
tests).

``running_total`` numbers or prefix-sums EVERY row of a group (node ids,
frontier waves, the Gini rank, budgeted mixing, packing offsets), where a
top-k bound does not help. Its wide plan is the two-pass range-partitioned
prefix sum: range-partition on (group, order) — a group's rows are then
contiguous across ordered partitions — sum locally per (partition, group),
and add the exclusive prefix of the earlier partitions' totals of the
same group. Offsets plus local sums reconstruct the single-window running
total for ANY partition boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salted_topk(scored: DataFrame, part_cols: list[str],
                order_cols: list[Column], k: int, salt_on: str,
                rank_name: str = "rank", salts: int = 8) -> DataFrame:
    """Top-``k`` rows per ``part_cols`` group under the total order
    ``order_cols``, ranked in ``rank_name`` (1-based) — bit-identical to
    ``row_number().over(Window.partitionBy(part).orderBy(order)) <= k``
    while no task ever sorts more than one salt's share of one group.

    ``salt_on`` names a column unique within each group (the tie-break
    column of the total order); ``salts=1`` degenerates to the plain
    single-window plan (used by the equivalence tests).
    """
    if salts <= 1:
        w = Window.partitionBy(*part_cols).orderBy(*order_cols)
        return (scored.withColumn(rank_name, F.row_number().over(w))
                .filter(F.col(rank_name) <= k))
    salted = scored.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_on)), F.lit(salts)))
    w1 = Window.partitionBy(*part_cols, "__salt").orderBy(*order_cols)
    s1 = (salted.withColumn("__r1", F.row_number().over(w1))
          .filter(F.col("__r1") <= k))
    w2 = Window.partitionBy(*part_cols).orderBy(*order_cols)
    return (s1.withColumn(rank_name, F.row_number().over(w2))
            .filter(F.col(rank_name) <= k)
            .drop("__salt", "__r1"))


def running_total(df: DataFrame, group_cols: list[str], order_cols: list,
                  name: str, value: str | None = None,
                  wide: bool | None = None) -> DataFrame:
    """``df`` plus ``name``: per ``group_cols`` group, the running sum of the
    column ``value`` over the TOTAL order ``order_cols`` (names or
    Columns), current row included, as a long. The default ``value`` (1
    per row) gives the 1-based row number. NULL group keys form a group
    like any other, on both plans.

    - NARROW plan: the plain ``rowsBetween(unboundedPreceding, 0)`` window
      — one sorted task per group, no extra jobs; right when the input is
      small.
    - WIDE plan: range-partition on (group, order), totals per
      (partition, group), and each group's exclusive prefix of those
      totals joined back null-safely on the group keys (broadcast when
      there are no groups; otherwise the offset table is ~|groups| +
      parallelism rows and stays distributed). ``localCheckpoint`` pins
      ONE materialization of the range exchange, so the totals and the
      local sums see identical boundaries (RangePartitioner's sample seed
      is per RDD instance).

    ``wide=None`` probes ``df.rdd.getNumPartitions() > defaultParallelism``,
    metadata-cheap on a scan or map-only input. On a SHUFFLED input the
    probe makes AQE materialize every upstream stage just to learn the
    partition count and the real query then re-executes them, so callers
    whose input hangs below an aggregation pass ``wide`` themselves. The
    output is ``(*df.columns, name)`` on both plans.
    """
    v = F.lit(1) if value is None else F.col(value)
    sc = df.sparkSession.sparkContext
    if wide is None:
        wide = df.rdd.getNumPartitions() > sc.defaultParallelism
    if not wide:
        w = ((Window.partitionBy(*group_cols) if group_cols else Window)
             .orderBy(*order_cols).rowsBetween(Window.unboundedPreceding, 0))
        return df.withColumn(name, F.sum(v).over(w).cast("long"))
    d = (df.repartitionByRange(sc.defaultParallelism, *group_cols, *order_cols)
         .withColumn("__pid", F.spark_partition_id())
         .localCheckpoint(eager=False))
    woff = ((Window.partitionBy(*group_cols) if group_cols else Window)
            .orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1))
    keys = [f"__g{i}" for i in range(len(group_cols))]
    offs = (d.groupBy("__pid", *group_cols).agg(F.sum(v).alias("__tot"))
            .select(F.col("__pid").alias("__opid"),
                    *[F.col(c).alias(k) for c, k in zip(group_cols, keys)],
                    F.coalesce(F.sum("__tot").over(woff), F.lit(0))
                    .alias("__off")))
    if not group_cols:
        offs = F.broadcast(offs)
    on = F.col("__pid") == F.col("__opid")
    for c, k in zip(group_cols, keys):
        on = on & F.col(c).eqNullSafe(F.col(k))
    wloc = (Window.partitionBy("__pid", *group_cols).orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, 0))
    return (d.withColumn("__loc", F.sum(v).over(wloc))
            .join(offs, on)
            .select(*df.columns,
                    (F.col("__off") + F.col("__loc")).cast("long").alias(name)))
