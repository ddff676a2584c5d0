"""Every output check passes on a correct output and trips on a corrupted
one, and the benchmark refuses to run without the program.

    python3 -m pytest perfbench/tests -q
"""

import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks

AGG = {"t": {"group_by": ["k"], "aggregations": {"v": ["sum", "count", "mean"]}}}


def _table(root, zone, name, table):
    d = os.path.join(root, zone, name)
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "part-0.parquet"))


def _warehouse(root, corrupt_agg=False):
    t = pa.table({"k": ["a", "a", "b", None], "v": [1.0, 2.0, 5.0, 9.0]})
    _table(root, "raw", "t", t)
    _table(root, "silver", "transformed_t", t)
    agg = pa.table({"k": ["a", "b"], "v_sum": [3.0, 5.0], "v_count": [2, 1],
                    "v_mean": [1.5, 5.0 + (1.0 if corrupt_agg else 0.0)]})
    _table(root, "silver", "agg_t", agg)


def test_etl_checks(tmp_path):
    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    _warehouse(good)
    _warehouse(bad, corrupt_agg=True)
    assert checks.check_raw_counts(good, {"t": 4}) == []
    assert checks.check_raw_counts(good, {"t": 5})
    assert checks.check_aggregates(good, AGG) == []
    assert checks.check_aggregates(bad, AGG)
    shutil.rmtree(os.path.join(good, "silver", "agg_t"))
    assert checks.check_aggregates(good, AGG)


def test_query_checks(tmp_path):
    pq.write_table(pa.table({"x": [1, 2, 3], "y": ["p", "q", "q"]}),
                   str(tmp_path / "t.parquet"))
    oracle = checks.QueryOracle(str(tmp_path), ("t",))
    sql = "SELECT y, SUM(x) AS s FROM t GROUP BY y"
    try:
        ok = {sql: {"oracle": sql, "rows": [("q", 5), ("p", 1)], "repeats": [[("p", 1), ("q", 5)]]}}
        assert checks.check_query_results(oracle, ok) == []
        wrong = {sql: {"oracle": sql, "rows": [("q", 5), ("p", 2)], "repeats": []}}
        assert checks.check_query_results(oracle, wrong)
        bad_repeat = {sql: {"oracle": sql, "rows": [("q", 5), ("p", 1)], "repeats": [[("q", 5)]]}}
        assert checks.check_query_results(oracle, bad_repeat)
    finally:
        oracle.close()
    _table(str(tmp_path), "golden", "golden_00001", pa.table({"x": [1, 2]}))
    golden = str(tmp_path / "golden")
    assert checks.check_golden(golden, {"golden_00001": 2}) == []
    assert checks.check_golden(golden, {"golden_00001": 3})


def test_same_rows_tolerates_float_noise_only():
    assert checks.same_rows([(1, 0.1 + 0.2)], [(1, 0.3)]) is None
    assert checks.same_rows([(1, 0.31)], [(1, 0.3)]) is not None
    assert checks.same_rows([(1, 0.3)], [(1, 0.3), (1, 0.3)]) is not None


def test_corpus_checks():
    truth = {"exact_groups": [[1, 2, 3], [4, 5]], "near_pairs": [], "contaminated": [9]}
    stats = {"input": 10, "exact_dedup": 7, "decontaminate": 6}
    good = [1, 4, 6, 7, 8, 10]
    assert checks.check_corpus(stats, good, truth) == []
    assert checks.check_corpus(stats, good[:-1] + [1], truth)  # duplicate id
    assert checks.check_corpus(stats, [1, 2, 4, 6, 7, 8], truth)  # group kept twice
    assert checks.check_corpus(stats, [4, 6, 7, 8, 10, 11], truth)  # group dropped
    assert checks.check_corpus(stats, [1, 4, 6, 7, 8, 9], truth)  # eval doc leaked
    rising = {"input": 10, "exact_dedup": 7, "decontaminate": 8}
    assert checks.check_corpus(rising, good, truth)


def test_refuses_to_run_without_the_program(tmp_path):
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(here, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_page", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""

