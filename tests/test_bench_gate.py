"""bench.py's scale-probe gate: skipped on small hosts unless opted in."""

from bench import _scale_probe_skip


def test_low_core_host_skips_by_default():
    assert "low-core run (4 cores < 16)" in _scale_probe_skip(4, {})


def test_explicit_opt_in_runs_on_low_core_host():
    assert _scale_probe_skip(4, {"SPARK_GRAFT_SCALE_PROBE": "1"}) is None
    assert _scale_probe_skip(4, {"SPARK_GRAFT_PROBE_BUDGET": "120"}) is None


def test_disable_wins_and_big_hosts_run():
    assert _scale_probe_skip(64, {"SPARK_GRAFT_SCALE_PROBE": "0"})
    assert _scale_probe_skip(4, {"SPARK_GRAFT_SCALE_PROBE": "0",
                                 "SPARK_GRAFT_PROBE_BUDGET": "120"})
    assert _scale_probe_skip(16, {}) is None
