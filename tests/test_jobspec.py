"""End-to-end pipeline interpreter test: the scheduler-analog 3-stage
DAG over a temp warehouse, on the sf0.001 fixture."""

from datetime import datetime, timedelta

from etl_zero_spark.catalog import FIXTURE_FKS, Warehouse
from etl_zero_spark.plans.jobspec import next_run_delay, run_pipeline, run_scheduled


def test_full_pipeline(spark, tmp_path):
    wh = Warehouse(str(tmp_path), fks=FIXTURE_FKS)
    spec = {
        "extraction": {
            "orders": {"mode": "full"},
            "customer": {"mode": "incremental", "key": "c_custkey"},
        },
        "mapping": True,
        "transformations": ["trim_whitespace", "remove_duplicates"],
        "aggregation": {
            "customer_orders_merged": {
                "group_by": ["o_orderstatus_orders"],
                "aggregations": {"o_totalprice_orders": ["sum", "count"]},
            }
        },
    }
    result = run_pipeline(spark, spec, "/root/testdata/sf0.001", wh)

    assert result.extracted == {
        "orders": "full-refresh",
        "customer": "initial-full-load",
    }
    # FK o_custkey -> c_custkey pairs the two tables (alphabetical sweep
    # order puts customer first)
    assert result.mapped == ["customer_orders_merged"]
    merged = wh.silver_mapping.read(spark, "customer_orders_merged")
    assert "o_totalprice_orders" in merged.columns
    assert merged.count() == 1500  # every order has a customer

    assert "transformed_customer_orders_merged" in result.transformed
    agg = wh.silver.read(spark, "agg_customer_orders_merged")
    assert set(agg.columns) == {
        "o_orderstatus_orders",
        "o_totalprice_orders_sum",
        "o_totalprice_orders_count",
    }
    assert agg.count() >= 1

    # second run: incremental branch appends nothing new
    result2 = run_pipeline(spark, spec, "/root/testdata/sf0.001", wh)
    assert result2.extracted["customer"] == "appended-delta"
    assert wh.raw.read(spark, "customer").count() == 150


def test_warehouse_catalog_databases(spark, tmp_path):
    """S8 parity: the four zones exist as real catalog databases
    (front_end.py:691,850-859), located inside the warehouse root."""
    wh = Warehouse(str(tmp_path))
    made = wh.create_databases(spark, prefix="t8_")
    assert made == ["t8_raw", "t8_silver_mapping", "t8_silver", "t8_golden"]
    names = {d.name for d in spark.catalog.listDatabases()}
    assert set(made) <= names
    spark.range(3).write.saveAsTable("t8_golden.probe")
    assert spark.table("t8_golden.probe").count() == 3
    wh.drop_databases(spark, prefix="t8_")
    names = {d.name for d in spark.catalog.listDatabases()}
    assert not ({"t8_raw", "t8_golden"} & names)


def test_next_run_delay():
    now = datetime(2026, 1, 1, 12, 0)
    assert next_run_delay({"mode": "once"}, now) == timedelta(0)
    assert next_run_delay(
        {"mode": "once"}, now, target=datetime(2026, 1, 1, 12, 30)
    ) == timedelta(minutes=30)
    assert next_run_delay({"mode": "every", "minutes": 7}, now) == timedelta(minutes=7)


class FakeTime:
    """Injectable clock + sleeper: sleeping advances the clock, no real
    waiting (scheduler.py:236-264 semantics without wall time)."""

    def __init__(self, start: datetime):
        self.now = start
        self.sleeps: list[float] = []

    def clock(self) -> datetime:
        return self.now

    def sleep(self, seconds: float) -> None:
        self.sleeps.append(seconds)
        self.now += timedelta(seconds=seconds)


def test_run_scheduled_one_shot_sleeps_until_target():
    ft = FakeTime(datetime(2026, 1, 1, 12, 0))
    ran = []
    n = run_scheduled(
        lambda: ran.append(ft.now),
        {"mode": "once"},
        clock=ft.clock,
        sleep=ft.sleep,
        target=datetime(2026, 1, 1, 12, 45),
    )
    assert n == 1
    assert ft.sleeps == [45 * 60.0]
    assert ran == [datetime(2026, 1, 1, 12, 45)]


def test_run_scheduled_one_shot_past_target_runs_immediately():
    ft = FakeTime(datetime(2026, 1, 1, 12, 0))
    ran = []
    run_scheduled(
        lambda: ran.append(ft.now),
        {"mode": "once"},
        clock=ft.clock,
        sleep=ft.sleep,
        target=datetime(2026, 1, 1, 11, 0),
    )
    assert ft.sleeps == []  # target already passed -> no sleep
    assert ran == [datetime(2026, 1, 1, 12, 0)]


def test_run_scheduled_recurring_two_ticks():
    ft = FakeTime(datetime(2026, 1, 1, 12, 0))
    ran = []
    n = run_scheduled(
        lambda: ran.append(ft.now),
        {"mode": "every", "minutes": 10},
        clock=ft.clock,
        sleep=ft.sleep,
        max_runs=2,
    )
    assert n == 2
    # schedule.every(N).minutes fires one interval after start, then re-arms
    assert ran == [datetime(2026, 1, 1, 12, 10), datetime(2026, 1, 1, 12, 20)]
    assert ft.sleeps == [600.0, 600.0]


def test_pipeline_expectations_quarantine(spark, tmp_path):
    """The expectations block gates violating rows between zones: bad
    rows land in a quarantine table, downstream stages see only clean
    rows, and the status artifact reports the validation outcome."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "id": [1, 2, 3, 4],
                "price": [10.0, -5.0, 30.0, None],
                "status": ["O", "F", "X", "O"],
            }
        ),
        str(src / "items.parquet"),
    )
    wh = Warehouse(str(tmp_path / "wh"))
    spec = {
        "extraction": {"items": {"mode": "full"}},
        "mapping": False,
        "expectations": {
            "items": [
                {"check": "in_range", "col": "price", "lo": 0},
                {"check": "in_set", "col": "status", "allowed": ["O", "F"]},
            ]
        },
        "transformations": [],
    }
    res = run_pipeline(spark, spec, str(src), wh)
    assert res.validated["items"]["passed"]
    assert res.validated["items"]["clean_rows"] == 2  # rows 1 and 4
    clean = wh.silver_mapping.read(spark, "items")
    assert {r.id for r in clean.collect()} == {1, 4}
    bad = wh.silver_mapping.read(spark, "quarantine_items")
    assert {r.id for r in bad.collect()} == {2, 3}
    # downstream transform stage only saw the clean rows
    out = wh.silver.read(spark, "transformed_items")
    assert out.count() == 2


def _write_star(src, n_orders: int) -> None:
    """Tiny star in the shape of the scheduled ETL's sources: orders
    1..n_orders with two line items each; customers and nations fixed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"n_nationkey": [0, 1, 2], "n_name": ["A", "B", "C"]}),
                   str(src / "nation.parquet"))
    cust = list(range(1, 9))
    pq.write_table(pa.table({"c_custkey": cust, "c_nationkey": [c % 3 for c in cust],
                             "c_acctbal": [float(c) for c in cust]}),
                   str(src / "customer.parquet"))
    orders = list(range(1, n_orders + 1))
    pq.write_table(pa.table({"o_orderkey": orders,
                             "o_custkey": [o % 8 + 1 for o in orders],
                             "o_orderstatus": ["F", "O", "P", "X"] * (n_orders // 4),
                             "o_totalprice": [10.0 * o for o in orders]}),
                   str(src / "orders.parquet"))
    li = [o for o in orders for _ in range(2)]
    pq.write_table(pa.table({"l_orderkey": li,
                             "l_quantity": [float(k % 60) for k in range(len(li))],
                             "l_extendedprice": [1.5 * k for k in range(len(li))],
                             "l_returnflag": [" R", "N"] * n_orders}),
                   str(src / "lineitem.parquet"))


STAR_SPEC = {
    "extraction": {
        "nation": {"mode": "full"},
        "customer": {"mode": "incremental", "key": "c_custkey"},
        "orders": {"mode": "incremental", "key": "o_orderkey"},
        "lineitem": {"mode": "incremental", "key": "l_orderkey"},
    },
    "mapping": True,
    "expectations": {"lineitem_orders_merged": [
        {"check": "not_null", "col": "l_orderkey"},
        {"check": "in_range", "col": "l_quantity_lineitem", "lo": 1, "hi": 50},
        {"check": "in_set", "col": "o_orderstatus_orders", "allowed": ["F", "O", "P"]},
    ]},
    "transformations": ["trim_whitespace", "remove_duplicates"],
    "aggregation": {
        "lineitem_orders_merged": {
            "group_by": ["l_returnflag_lineitem"],
            "aggregations": {"l_quantity_lineitem": ["sum", "count"]},
        },
        "customer_nation_merged": {
            "group_by": ["n_name_nation"],
            "aggregations": {"c_acctbal_customer": ["sum"]},
        },
    },
}

#: Spark jobs of one incremental cycle of STAR_SPEC: 4 source-schema
#: reads, 1 full refresh, 3 delta appends (watermarks from footers),
#: 6 silver_mapping writes (3 writes and their broadcast builds), 4
#: transformed writes (each a dedup shuffle and its write) and 4
#: aggregate writes. No validate pass and no zone-read inference.
CYCLE_JOBS = 22


def test_incremental_cycle_job_count(spark, tmp_path):
    """Jobs per incremental cycle stay at what the footer watermark,
    schema-carrying zone reads, observed quarantine counts and
    aggregate-from-written reach; the observed counts add up."""
    import duckdb

    wh = Warehouse(str(tmp_path / "wh"), fks=FIXTURE_FKS)
    _write_star(tmp_path / "c0", 8)
    run_pipeline(spark, STAR_SPEC, str(tmp_path / "c0"), wh)
    _write_star(tmp_path / "c1", 16)
    sc = spark.sparkContext
    group = f"cycle-{tmp_path.name}"
    sc.setJobGroup(group, "one incremental cycle")
    try:
        res = run_pipeline(spark, STAR_SPEC, str(tmp_path / "c1"), wh)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= CYCLE_JOBS, n_jobs

    assert set(res.extracted.values()) == {"full-refresh", "appended-delta"}
    v = res.validated["lineitem_orders_merged"]
    # the mapper's lineitem x orders join over the whole raw zone
    merged_rows = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/wh/raw/lineitem/*.parquet') l "
        f"JOIN read_parquet('{tmp_path}/wh/raw/orders/*.parquet') o "
        "ON l.l_orderkey = o.o_orderkey"
    ).fetchone()[0]
    assert merged_rows == 32
    assert v["clean_rows"] + v["quarantined_rows"] == merged_rows
    assert v["quarantined_rows"] > 0 and v["passed"]
    assert wh.silver_mapping.read(spark, "lineitem_orders_merged").count() == v["clean_rows"]
    assert (wh.silver_mapping.read(spark, "quarantine_lineitem_orders_merged").count()
            == v["quarantined_rows"])


def test_quarantine_everything_reports_zero_clean_rows(spark, tmp_path):
    """A table whose every row is quarantined reports 0 clean rows (the
    observation of an empty write completes, it does not block)."""
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"id": [1, 2, 3], "price": [-1.0, -2.0, -3.0]}),
                   str(src / "items.parquet"))
    wh = Warehouse(str(tmp_path / "wh"))
    spec = {
        "extraction": {"items": {"mode": "full"}},
        "expectations": {"items": [{"check": "in_range", "col": "price", "lo": 0}]},
    }
    out = {}
    t = threading.Thread(
        target=lambda: out.update(res=run_pipeline(spark, spec, str(src), wh)), daemon=True
    )
    t.start()
    t.join(timeout=600)
    assert not t.is_alive(), "run_pipeline blocked on an empty write's observation"
    assert out["res"].validated["items"] == {
        "clean_rows": 0, "quarantined_rows": 3, "passed": True,
    }
    assert wh.silver.read(spark, "transformed_items").count() == 0
