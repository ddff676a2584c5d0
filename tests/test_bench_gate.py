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


def test_preflight_estimate_doubles_the_corpus_rungs():
    """The scale probe's per-launch budget estimate (pure; nothing is
    launched): the recent-past rule for ordinary probes, and the input
    ratio over the last completed corpus rung for the doubling rungs."""
    from tools.scale_probe import preflight_estimate

    assert preflight_estimate("bm25_1m", {}) is None
    done = {"a": {"sec": 4.0}, "b": {"skipped": "budget"}, "c": {"sec": 30.0},
            "d": {"sec": 6.0}}
    assert preflight_estimate("e", done) == 10.0  # floor over median 6, last 6
    # the 1M rung's in-probe report is not part of the larger rungs
    done["corpus_pipeline_1m"] = {"sec": 110.0, "report_sec": 10.0}
    assert preflight_estimate("corpus_pipeline_2m", done) == 200.0
    done["corpus_pipeline_2m"] = {"sec": 210.0}
    assert preflight_estimate("corpus_pipeline_4m", done) == 420.0
    # a skipped rung: scale from the last one that completed
    done["corpus_pipeline_4m"] = {"skipped": "needs ~840s"}
    assert preflight_estimate("corpus_pipeline_8m", done) == 840.0
    # the 1M rung itself keeps the recent-past rule
    del done["corpus_pipeline_1m"], done["corpus_pipeline_2m"], done["corpus_pipeline_4m"]
    assert preflight_estimate("corpus_pipeline_1m", done) == 10.0
