"""The query-surface view cache in ``catalog.register_views``: reuse of
the loaded DataFrame while a table's files are unchanged, reload on
rewrite, drop on delete, keying by table path, view repointing, and
scoping to the live SparkSession."""

import os
import shutil
import subprocess
import sys
import textwrap

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE
from etl_zero_spark import catalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def loads(monkeypatch):
    """Names passed to ``catalog.load_table``, in call order."""
    calls: list[str] = []
    orig = catalog.load_table

    def counting(spark, sf_dir, name, *a, **k):
        calls.append(name)
        return orig(spark, sf_dir, name, *a, **k)

    monkeypatch.setattr(catalog, "load_table", counting)
    return calls


def _copy_smoke(dst) -> str:
    """A writable copy of the smoke fixture (the original is read-only)."""
    os.makedirs(dst)
    for f in os.listdir(SF_SMOKE):
        shutil.copyfile(os.path.join(SF_SMOKE, f), os.path.join(dst, f))
    return str(dst)


def _count(spark, view: str) -> int:
    return spark.sql(f"SELECT COUNT(*) FROM {view}").first()[0]


def test_unchanged_files_reuse_loaded_dataframes(spark, tmp_path, loads):
    sf = _copy_smoke(tmp_path / "sf")
    first = catalog.register_views(spark, sf)
    assert sorted(loads) == sorted(catalog.FIXTURE_TABLES)
    loads.clear()
    second = catalog.register_views(spark, sf)
    assert loads == []
    assert second.keys() == first.keys()
    assert all(second[n] is first[n] for n in first)


def test_rewritten_file_table_is_reloaded(spark, tmp_path, loads):
    sf = _copy_smoke(tmp_path / "sf")
    catalog.register_views(spark, sf, ["region", "nation"])
    assert _count(spark, "region") == 5
    path = os.path.join(sf, "region.parquet")
    pq.write_table(pq.read_table(path).slice(0, 2), path)
    loads.clear()
    catalog.register_views(spark, sf, ["region", "nation"])
    assert loads == ["region"]
    assert _count(spark, "region") == 2


def test_rewritten_directory_table_is_reloaded(spark, tmp_path, loads):
    sf = str(tmp_path / "sf")
    src = spark.read.parquet(os.path.join(SF_SMOKE, "region.parquet"))
    src.write.parquet(os.path.join(sf, "region.parquet"))
    catalog.register_views(spark, sf, ["region"])
    assert _count(spark, "region") == 5
    src.where("r_regionkey < 3").write.mode("overwrite").parquet(
        os.path.join(sf, "region.parquet")
    )
    loads.clear()
    catalog.register_views(spark, sf, ["region"])
    assert loads == ["region"]
    assert _count(spark, "region") == 3
    loads.clear()
    catalog.register_views(spark, sf, ["region"])
    assert loads == []


def test_deleted_table_is_dropped(spark, tmp_path):
    sf = _copy_smoke(tmp_path / "sf")
    assert "part" in catalog.register_views(spark, sf)
    path = os.path.join(sf, "part.parquet")
    os.remove(path)
    views = catalog.register_views(spark, sf)
    assert "part" not in views and "orders" in views
    assert os.path.abspath(path) not in vars(spark)[catalog._VIEW_CACHE_ATTR]


def test_alternating_dirs_query_the_right_one(spark, tmp_path, loads):
    a = _copy_smoke(tmp_path / "a")
    b = _copy_smoke(tmp_path / "b")
    path = os.path.join(b, "nation.parquet")
    pq.write_table(pq.read_table(path).slice(0, 7), path)
    for round_ in range(3):
        loads.clear()
        catalog.register_views(spark, a, ["nation"])
        assert _count(spark, "nation") == 25
        catalog.register_views(spark, b, ["nation"])
        assert _count(spark, "nation") == 7
        # keyed by path: after the first round neither dir evicts the other
        assert loads == (["nation", "nation"] if round_ == 0 else [])


def test_repointed_view_is_restored(spark, tmp_path, loads):
    sf = _copy_smoke(tmp_path / "sf")
    catalog.register_views(spark, sf, ["region"])
    spark.range(42).createOrReplaceTempView("region")
    loads.clear()
    catalog.register_views(spark, sf, ["region"])
    assert loads == []
    assert _count(spark, "region") == 5
    assert "r_name" in spark.table("region").columns


def test_rebuilt_session_gets_no_stale_dataframes(tmp_path):
    # stopping the shared test session would break every later test,
    # so the stop/rebuild cycle runs in its own small process
    script = textwrap.dedent(
        """
        import sys
        from etl_zero_spark import catalog
        from etl_zero_spark.session import get_spark

        sf, tables = sys.argv[1], ["region", "nation"]
        confs = {"spark.driver.memory": "1g"}
        s1 = get_spark(master="local[1]", shuffle_partitions=1, extra_confs=confs)
        v1 = catalog.register_views(s1, sf, tables)
        s1.stop()
        s2 = get_spark(master="local[1]", shuffle_partitions=1, extra_confs=confs)
        calls = []
        orig = catalog.load_table
        catalog.load_table = lambda *a, **k: calls.append(a[2]) or orig(*a, **k)
        v2 = catalog.register_views(s2, sf, tables)
        assert s2 is not s1
        assert sorted(calls) == sorted(tables), calls
        assert all(v2[n] is not v1[n] for n in tables)
        assert all(df.sparkSession is s2 for df in v2.values())
        assert len(vars(s2)[catalog._VIEW_CACHE_ATTR]) == len(tables)
        assert s2.sql("SELECT COUNT(*) FROM nation").first()[0] == 25
        s2.stop()
        print("OK")
        """
    )
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)}
    res = subprocess.run(
        [sys.executable, "-c", script, _copy_smoke(tmp_path / "sf")],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0 and res.stdout.strip().endswith("OK"), res.stderr[-3000:]
