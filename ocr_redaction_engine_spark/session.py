"""SparkSession construction with scale-sane defaults.

Tests/bench use ``local[N]``; production is whatever ``spark-submit`` provides
(the builder only fills in a master when asked). Confs chosen for the 100 TB
design point:

* AQE on (runtime coalescing + skew-join splitting),
* Arrow transfer on with a bounded batch size so the single ``mapInPandas``
  extraction stage has predictable executor memory,
* shuffle partitions sized by the caller (32 for local[32] tests; a real
  cluster run would pass cores×3 or rely on AQE coalescing).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def get_spark(app_name: str = "ocrr-spark", cores: int | None = None,
              shuffle_partitions: int | None = None, extra: dict | None = None) -> SparkSession:
    b = SparkSession.builder.appName(app_name)
    if cores is not None:
        b = b.master(f"local[{cores}]")
        if shuffle_partitions is None:
            shuffle_partitions = cores
        # 4 scan-task waves per core instead of 1: a single oversized
        # last-wave task was the measured straggler at wide parallelism
        # (r5 attribution — max/median task skew 2.5-3.3 on 64-task scans)
        b = b.config("spark.sql.files.minPartitionNum", str(4 * cores))
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.driver.memory": "8g",
    }
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    confs.update(extra or {})
    for k, v in confs.items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows, ddl: str):
    """A small driver-built DataFrame (claims, invalid-status and lineage
    rows) from a ``pyarrow.Table`` with the explicit ``ddl`` schema. The
    Arrow batches go straight to the JVM, where ``createDataFrame(list)``
    pickles the rows through a Python worker when the frame is read; the
    explicit schema also types a zero-row table."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
