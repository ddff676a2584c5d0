"""Declared queries that write scratch files reuse one directory per
process instead of leaking a new one on every call."""

import os

from etl_zero_spark.plans import registry
from tests.conftest import SF_SMOKE


def test_sink_preview_reuses_one_scratch_dir(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(registry.tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(registry, "_SCRATCH", {})
    n_customers = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").count()
    for _ in range(2):
        rows = registry.s9_s10_sink_preview(spark, SF_SMOKE).collect()
        assert len(rows) == n_customers + 5
        assert len(list(tmp_path.glob("etlzero_s9_*"))) == 1


def test_scratch_dir_is_wiped_on_reentry_and_keyed(tmp_path, monkeypatch):
    monkeypatch.setattr(registry.tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(registry, "_SCRATCH", {})
    a = registry.scratch_dir("etlzero_t_", "x")
    stale = tmp_path / os.path.basename(a) / "stale"
    stale.write_text("old")
    assert registry.scratch_dir("etlzero_t_", "x") == a
    assert not stale.exists()
    assert registry.scratch_dir("etlzero_t_", "y") != a
