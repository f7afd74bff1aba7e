"""The conf sets ``session.get_spark`` hands the builder, checked without a
JVM: ``Builder.getOrCreate`` is patched to return the builder's options."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from ocr_redaction_engine_spark import session

@pytest.fixture
def get_conf(monkeypatch):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    return session.get_spark


def test_spark_submit_gets_only_sql_semantics(get_conf):
    conf = get_conf("job")
    assert conf == {
        "spark.app.name": "job",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.session.timeZone": "UTC",
    }


def test_local_session_is_sized_from_the_host(get_conf, monkeypatch):
    monkeypatch.setenv("SPARK_LOCAL_DIRS", "/tmp/elsewhere")
    monkeypatch.setattr(session, "_host_memory", lambda: 10 << 30)
    conf = get_conf("local", cores=3)
    assert conf["spark.driver.memory"] == "5120m"
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.sql.files.minPartitionNum"] == "12"
    assert conf["spark.ui.enabled"] == "false"
    assert conf["spark.ui.showConsoleProgress"] == "false"
    assert "-XX:+UseParallelGC" in conf["spark.driver.extraJavaOptions"]
    assert conf.items() >= session.SQL_SEMANTICS.items()
    # Spark reads SPARK_LOCAL_DIRS first: no tmpfs conf to contradict it
    assert "spark.local.dir" not in conf


def test_host_memory_is_capped_by_the_cgroup_limit(monkeypatch, tmp_path):
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    (tmp_path / "v2").write_text("max\n")
    (tmp_path / "v1").write_text(f"{1 << 30}\n")
    monkeypatch.setattr(session, "CGROUP_MEMORY_LIMITS",
                        (str(tmp_path / "v2"), str(tmp_path / "missing")))
    assert session._host_memory() == phys
    monkeypatch.setattr(session, "CGROUP_MEMORY_LIMITS",
                        (str(tmp_path / "v2"), str(tmp_path / "v1")))
    assert session._host_memory() == min(phys, 1 << 30)


def test_tmpfs_scratch_without_spark_local_dirs(get_conf, monkeypatch):
    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    monkeypatch.setattr(session, "_shm_scratch", lambda: "/dev/shm/x")
    assert get_conf("local", cores=2)["spark.local.dir"] == "/dev/shm/x"
    monkeypatch.setattr(session, "_shm_scratch", lambda: None)
    assert "spark.local.dir" not in get_conf("local", cores=2)


def test_extra_wins_over_every_default(get_conf):
    extra = {"spark.sql.session.timeZone": "Asia/Kolkata",
             "spark.driver.memory": "1g",
             "spark.sql.shuffle.partitions": "7"}
    conf = get_conf("local", cores=2, extra=extra)
    assert conf.items() >= extra.items()
    assert get_conf("job", extra=extra).items() >= extra.items()
