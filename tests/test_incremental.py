"""Incremental-load semantics (S2/S3/S6): create-if-missing full load,
watermark probe with default, delta append — data_extraction.py:59-107
parity at the semantic level."""

import datetime

import pytest

from etl_zero_spark.sources import incremental as inc
from etl_zero_spark.sources.incremental import (
    IncrementalLoader,
    footer_watermark,
    incremental_scan,
    watermark_probe,
)


def _spark_max(spark, path, key, default=0):
    return watermark_probe(spark.read.parquet(path), key, default=default)


def test_watermark_probe_default_on_empty(spark):
    df = spark.createDataFrame([], "k long, v string")
    assert watermark_probe(df, "k", default=0) == 0


def test_watermark_probe_max(spark):
    df = spark.createDataFrame([(3, "a"), (7, "b")], ["k", "v"])
    assert watermark_probe(df, "k") == 7


def test_incremental_scan_pushes_predicate(spark):
    df = spark.createDataFrame([(1,), (5,), (9,)], ["k"])
    out = incremental_scan(df, "k", 5)
    assert [r.k for r in out.collect()] == [9]
    assert "Filter" in out._jdf.queryExecution().simpleString()


def test_loader_full_then_delta(spark, tmp_path):
    loader = IncrementalLoader(str(tmp_path))
    src1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    assert loader.incremental(spark, src1, "t", "k") == "initial-full-load"
    assert loader.read(spark, "t").count() == 2

    # source grows; only the delta (k>2) must be appended
    src2 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c"), (4, "d")], ["k", "v"])
    assert loader.incremental(spark, src2, "t", "k") == "appended-delta"
    rows = {(r.k, r.v) for r in loader.read(spark, "t").collect()}
    assert rows == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}

    # idempotent when no new keys
    loader.incremental(spark, src2, "t", "k")
    assert loader.read(spark, "t").count() == 4


def test_footer_watermark_multi_append_matches_spark(spark, tmp_path):
    path = str(tmp_path / "t")
    for lo, hi in [(0, 10), (10, 25), (25, 26), (40, 45)]:
        spark.range(lo, hi, numPartitions=2).selectExpr(
            "id AS k", "cast(id AS string) AS v"
        ).write.mode("append").parquet(path)
    assert footer_watermark(path, "k") == _spark_max(spark, path, "k") == 44


def test_footer_watermark_zero_row_file_gives_default(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([], "k long, v string").write.parquet(path)
    assert footer_watermark(path, "k", default=-1) == -1
    assert _spark_max(spark, path, "k", default=-1) == -1
    # a zero-row part file beside real ones changes nothing
    spark.createDataFrame([(3, "a")], "k long, v string").write.mode("append").parquet(path)
    assert footer_watermark(path, "k") == _spark_max(spark, path, "k") == 3


def test_footer_watermark_all_null_key_gives_default(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(None, "a"), (None, "b")], "k long, v string").write.parquet(path)
    assert footer_watermark(path, "k", default=7) == 7
    assert _spark_max(spark, path, "k", default=7) == 7


def test_footer_watermark_int32_key(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(5, "a"), (-3, "b"), (None, "c")], "k int, v string").write.parquet(path)
    assert footer_watermark(path, "k") == _spark_max(spark, path, "k") == 5


@pytest.mark.parametrize(
    "ddl, rows",
    [
        ("k string", [("b",), ("a",)]),
        ("k timestamp", [(datetime.datetime(2024, 1, 2),)]),
    ],
)
def test_footer_watermark_falls_back_for_non_integer_key(spark, tmp_path, ddl, rows):
    path = str(tmp_path / "t")
    spark.createDataFrame(rows, ddl).write.parquet(path)
    assert footer_watermark(path, "k") is None


def test_footer_watermark_falls_back_without_statistics(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t"
    path.mkdir()
    pq.write_table(pa.table({"k": [1, 9]}), str(path / "part-0.parquet"),
                   write_statistics=False)
    assert footer_watermark(str(path), "k") is None


def test_footer_watermark_falls_back_for_partitioned_target(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "x"), (2, "y")], "k long, p string").write.partitionBy(
        "p"
    ).parquet(path)
    assert footer_watermark(path, "k") is None


def test_loader_watermark_skips_spark_on_integer_key(spark, tmp_path, monkeypatch):
    """An integer key's watermark comes from the footers: the Spark
    probe is never called, and the delta is still exact."""
    loader = IncrementalLoader(str(tmp_path))
    src1 = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    loader.incremental(spark, src1, "t", "k")

    def no_probe(*a, **k):
        raise AssertionError("Spark watermark probe called")

    monkeypatch.setattr(inc, "watermark_probe", no_probe)
    src2 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    assert loader.incremental(spark, src2, "t", "k") == "appended-delta"
    assert sorted(r.k for r in loader.read(spark, "t").collect()) == [1, 2, 3]


def test_loader_string_key_uses_spark_probe(spark, tmp_path):
    loader = IncrementalLoader(str(tmp_path))
    loader.incremental(spark, spark.createDataFrame([("a",), ("b",)], ["k"]), "t", "k")
    src = spark.createDataFrame([("a",), ("b",), ("c",)], ["k"])
    assert loader.incremental(spark, src, "t", "k", default="") == "appended-delta"
    assert sorted(r.k for r in loader.read(spark, "t").collect()) == ["a", "b", "c"]


def test_csv_sink_roundtrip(spark, tmp_path):
    """S9 (mapping.py:183-185): header on, quoting preserves commas and
    whitespace, schema-specified read-back reproduces the rows."""
    from etl_zero_spark.catalog import Zone

    zone = Zone(str(tmp_path), "golden")
    df = spark.createDataFrame(
        [(1, "plain", 1.5), (2, "comma, inside", -0.25), (3, "  padded  ", None)],
        "id long, name string, score double",
    )
    path = zone.write_csv(df, "t")
    assert path.endswith("t_csv")
    back = zone.read_csv(spark, "t", schema=df.schema)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_merge_latest_upsert_semantics(spark):
    """Keep-latest-by-key merge vs a DuckDB QUALIFY oracle: inserts,
    updates (greater version wins), stale updates ignored, and the
    update side winning version ties (last-writer-wins)."""
    import duckdb

    from pyspark.sql import functions as F

    from etl_zero_spark.sources.incremental import merge_latest

    base = spark.createDataFrame(
        [(1, 1, "a"), (2, 3, "b"), (3, 1, "c")], "id long, v long, payload string"
    )
    updates = spark.createDataFrame(
        [
            (1, 2, "a2"),   # newer -> replaces
            (2, 2, "b0"),   # stale -> ignored
            (3, 1, "c2"),   # tie -> update wins
            (4, 1, "d"),    # brand new key -> insert
        ],
        "id long, v long, payload string",
    )
    got = {
        (r.id, r.v, r.payload)
        for r in merge_latest(base, updates, key="id", version_col="v").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE b(id BIGINT, v BIGINT, payload VARCHAR)")
    con.execute("CREATE TABLE u(id BIGINT, v BIGINT, payload VARCHAR)")
    con.executemany("INSERT INTO b VALUES (?,?,?)", [tuple(r) for r in base.collect()])
    con.executemany("INSERT INTO u VALUES (?,?,?)", [tuple(r) for r in updates.collect()])
    want = set(
        con.execute(
            """
            SELECT id, v, payload FROM (
              SELECT *, row_number() OVER (PARTITION BY id
                        ORDER BY v DESC, src DESC) AS rn
              FROM (SELECT *, 0 AS src FROM b UNION ALL SELECT *, 1 FROM u)
            ) WHERE rn = 1
            """
        ).fetchall()
    )
    assert got == want
    assert got == {(1, 2, "a2"), (2, 3, "b"), (3, 1, "c2"), (4, 1, "d")}


def test_merge_latest_composite_key(spark):
    from pyspark.sql import functions as F

    from etl_zero_spark.sources.incremental import merge_latest

    base = spark.createDataFrame(
        [("x", 1, 1, "old")], "region string, id long, v long, payload string"
    )
    updates = spark.createDataFrame(
        [("x", 1, 2, "new"), ("y", 1, 1, "other-region")],
        "region string, id long, v long, payload string",
    )
    got = {
        tuple(r)
        for r in merge_latest(
            base, updates, key=["region", "id"], version_col="v"
        ).collect()
    }
    assert got == {("x", 1, 2, "new"), ("y", 1, 1, "other-region")}


def test_jsonl_sink_roundtrip(spark, tmp_path):
    from etl_zero_spark.catalog import Zone, load_table

    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events").limit(200)
    zone = Zone(str(tmp_path), "golden")
    zone.write_jsonl(ev, "events")
    back = zone.read_jsonl(spark, "events", schema=ev.schema)
    cols = ev.columns
    a = {tuple(r[c] for c in cols) for r in ev.collect()}
    b = {tuple(r[c] for c in cols) for r in back.collect()}
    assert a == b  # lossless incl. timestamps and null props


def test_merge_latest_equal_version_updates_deterministic(spark):
    """Two updates with equal (key, version) but different payloads in
    one batch must resolve the same way on every run and partitioning:
    greatest payload struct wins (order-independent), never arrival
    order."""
    from pyspark.sql import functions as F

    from etl_zero_spark.sources.incremental import merge_latest

    base = spark.createDataFrame([(1, "base", 0)], "k long, v string, ver long")
    ups_a = spark.createDataFrame(
        [(1, "alpha", 5), (1, "zeta", 5)], "k long, v string, ver long"
    )
    ups_b = ups_a.repartition(7).sortWithinPartitions(F.desc("v"))
    got_a = merge_latest(base, ups_a, key="k", version_col="ver").collect()
    got_b = merge_latest(base, ups_b, key="k", version_col="ver").collect()
    assert len(got_a) == len(got_b) == 1
    assert got_a[0].v == got_b[0].v == "zeta"
