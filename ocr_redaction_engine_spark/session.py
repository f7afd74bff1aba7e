"""The one SparkSession factory: jobs, tests, tools and bench legs all call
:func:`get_spark`. It applies two conf sets, and ``extra`` wins over both:

* SQL semantics, always (also under ``spark-submit``, where ``cores`` is
  None): AQE with runtime coalescing and skew-join splitting, Arrow batches
  of 2048 rows so the ``mapInPandas`` extraction stage has predictable
  executor memory, and a UTC session time zone — the temporal operators'
  ``cast("timestamp")`` / ``unix_timestamp`` read it, and the oracle and
  goldens assume UTC.
* Local JVM, when ``cores`` is given: ``local[cores]`` with ``cores``
  shuffle partitions and 4 scan-task waves per core, no UI or progress bar,
  a heap of half the host's memory (cgroup limit included), ParallelGC,
  and shuffle scratch on ``/dev/shm`` when more than 8 GiB of it is free.
  Spark reads ``SPARK_LOCAL_DIRS`` before ``spark.local.dir``, so when it
  is set the tmpfs choice is skipped.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SQL_SEMANTICS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.session.timeZone": "UTC",
}
CGROUP_MEMORY_LIMITS = ("/sys/fs/cgroup/memory.max",
                        "/sys/fs/cgroup/memory/memory.limit_in_bytes")


def _host_memory() -> int:
    """Physical memory in bytes, capped by a cgroup memory limit: an
    explicit -Xmx turns off the JVM's own container sizing."""
    limits = [os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")]
    for path in CGROUP_MEMORY_LIMITS:
        if os.path.exists(path):        # v2 writes "max" when unlimited
            with open(path) as f:
                limits += [int(v) for v in f.read().split() if v.isdigit()]
    return min(limits)


def _shm_scratch() -> str | None:
    """Shuffle scratch on the RAM-backed tmpfs when it is present and large
    (the cluster analog: fast local NVMe for spark.local.dir). Measured r5:
    −8% wall and a much tighter distribution on the 32-lane pipeline — 32
    concurrent shuffle writers contend on the disk-backed /tmp."""
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize > 8 << 30:   # >8 GiB free
            path = "/dev/shm/spark_local"
            os.makedirs(path, exist_ok=True)
            return path
    except OSError:
        pass
    return None


def get_spark(app_name: str = "ocrr-spark", cores: int | None = None,
              extra: dict | None = None) -> SparkSession:
    confs = dict(SQL_SEMANTICS)
    if cores is not None:
        heap = _host_memory() // 2
        confs.update({
            "spark.master": f"local[{cores}]",
            "spark.sql.shuffle.partitions": str(cores),
            # 4 scan-task waves per core instead of 1: a single oversized
            # last-wave task was the measured straggler at wide parallelism
            # (r5 attribution — max/median task skew 2.5-3.3 on 64-task scans)
            "spark.sql.files.minPartitionNum": str(4 * cores),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": f"{heap >> 20}m",
            # batch-throughput GC: small but consistent win at 32 lanes (r5)
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        })
        if not os.environ.get("SPARK_LOCAL_DIRS") and (shm := _shm_scratch()):
            confs["spark.local.dir"] = shm
    confs.update(extra or {})
    return SparkSession.builder.appName(app_name).config(map=confs).getOrCreate()


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
