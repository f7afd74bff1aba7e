"""Optional lakehouse seam (VERDICT r2 #9): backend detection and loud
errors for absent backends. The claims append and read-back that go
through the seam are pinned in test_resume.py."""

from __future__ import annotations

import pytest

from ocr_redaction_engine_spark import lakehouse as lh


def test_backend_detection_and_errors(spark):
    # sandbox truth: no delta package, no iceberg catalog
    if lh.delta_available() or lh.iceberg_catalogs(spark):
        pytest.skip("a real lakehouse backend is present; test_resume's "
                    "claims-backend tests cover it")
    assert lh.pick_backend(spark, "auto") == "parquet"
    assert lh.pick_backend(spark, "parquet") == "parquet"
    with pytest.raises(RuntimeError, match="delta-spark"):
        lh.pick_backend(spark, "delta")
    with pytest.raises(RuntimeError, match="SparkCatalog"):
        lh.pick_backend(spark, "iceberg")
    with pytest.raises(ValueError, match="unknown lakehouse backend"):
        lh.pick_backend(spark, "hudi")
