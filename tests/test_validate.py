"""Data-quality expectations (operators/validate.py): planted
violations of every expectation kind, single-job plan shape, DuckDB
cross-check of the violation counts on fixture data."""

import pytest
from pyspark.sql import functions as F

from etl_zero_spark.catalog import load_table
from etl_zero_spark.operators import validate as V
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def dirty(spark):
    return spark.createDataFrame(
        [
            (1, 10.0, "O", "Clerk#001", 1),
            (2, -5.0, "F", "Clerk#002", 2),     # range violation
            (3, None, "P", "Clerk#003", 3),     # null price
            (3, 30.0, "X", "nope", 99),         # dup id, bad status, bad clerk, orphan fk
            (None, 40.0, "O", "Clerk#004", 1),  # null id
        ],
        "id long, price double, status string, clerk string, cust long",
    )


@pytest.fixture(scope="module")
def parents(spark):
    return spark.createDataFrame([(1,), (2,), (3,)], "c long")


def test_validate_counts_planted_violations(spark, dirty, parents):
    rep = V.validate(
        dirty,
        [
            V.not_null("id"),
            V.not_null("price"),
            V.in_range("price", lo=0.0),
            V.in_set("status", ["O", "F", "P"]),
            V.matches("clerk", r"Clerk#\d+"),
            V.unique("id"),
            V.foreign_key("cust", parents, "c"),
        ],
    )
    assert rep.n_rows == 5
    assert not rep.passed
    assert rep.failing() == {
        "not_null(id)": 1,
        "not_null(price)": 1,
        "in_range(price,0.0,None)": 1,   # null price NOT double-counted
        "in_set(status)": 1,
        "matches(clerk)": 1,
        "unique(id)": 2,                  # both rows of the dup group
        "foreign_key(cust)": 1,
    }


def test_validate_passes_clean_fixture(spark, parents):
    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    rep = V.validate(
        orders,
        [
            V.not_null("o_orderkey"),
            V.unique("o_orderkey"),
            V.in_range("o_totalprice", lo=0.0),
            V.foreign_key("o_custkey", customer, "c_custkey"),
        ],
    )
    assert rep.passed and rep.n_rows == orders.count()


def test_validate_counts_match_duckdb(spark):
    """Violation counts cross-checked against DuckDB on the fixture
    with planted range/set bounds chosen to actually fire."""
    import duckdb

    li = load_table(spark, SF_SMOKE, "lineitem")
    rep = V.validate(
        li,
        [V.in_range("l_quantity", hi=25.0), V.in_set("l_returnflag", ["N"])],
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/lineitem.parquet')"
    )
    want_range = con.execute(
        "SELECT count(*) FROM lineitem WHERE l_quantity > 25.0"
    ).fetchone()[0]
    want_set = con.execute(
        "SELECT count(*) FROM lineitem WHERE l_returnflag != 'N'"
    ).fetchone()[0]
    assert rep.violations["in_range(l_quantity,None,25.0)"] == want_range
    assert rep.violations["in_set(l_returnflag)"] == want_set


def test_row_checks_share_one_aggregation(spark, dirty):
    """However many row-level expectations, the compiled job is ONE
    aggregate over one scan — no per-check jobs."""
    exps = [
        V.not_null("id"),
        V.in_range("price", lo=0.0, hi=1e9),
        V.in_set("status", ["O", "F", "P"]),
        V.matches("clerk", r"Clerk#\d+"),
    ]
    aggs = [F.count(F.lit(1)).alias("__total")]
    for e in exps:
        pred = e.violation
        if not e.name.startswith("not_null("):
            pred = F.col(e.col).isNotNull() & pred
        aggs.append(F.sum(pred.cast("long")).alias(e.name))
    plan = dirty.agg(*aggs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ") <= 1
    assert "CartesianProduct" not in plan and "EvalPython" not in plan


def test_quarantine_split(spark, dirty):
    clean, bad = V.quarantine(
        dirty,
        [V.not_null("id"), V.in_range("price", lo=0.0), V.in_set("status", ["O", "F", "P"])],
    )
    assert clean.count() + bad.count() == 5
    ids_bad = {r.id for r in bad.collect()}
    assert ids_bad == {2, 3, None}  # -5 price / bad status / null id
    # null price row (id=3, price None) is CLEAN here: range skips
    # nulls and not_null(price) wasn't requested
    assert 3 in {r.id for r in clean.collect()}
    assert 1 in {r.id for r in clean.collect()}


@pytest.mark.parametrize(
    "make, lost",
    [
        # NULL in the allowed list: "X" IN ('O', NULL) is NULL, not FALSE
        (lambda: V.in_set("st", ["O", None]), "X"),
        # range check on a string that is not a number: the cast is NULL
        (lambda: V.in_range("q", 1, 50), "abc"),
    ],
)
def test_quarantine_keeps_rows_whose_check_is_null(spark, make, lost):
    """A check that evaluates to NULL on a non-null cell quarantines the
    row: clean + quarantined is every input row, and ``validate``
    counts it."""
    df = spark.createDataFrame(
        [(1, "O", "5"), (2, "X", "abc"), (3, None, None)], "id long, st string, q string"
    )
    exp = make()
    clean, bad = V.quarantine(df, [exp])
    assert clean.count() + bad.count() == df.count()
    assert {r.id for r in bad.collect()} == {2}
    assert lost in {r[exp.col] for r in bad.collect()}
    assert V.validate(df, [exp]).violations[exp.name] == 1


def test_expectation_arg_validation(spark, dirty):
    with pytest.raises(ValueError, match="lo and/or hi"):
        V.in_range("price")
    with pytest.raises(ValueError, match="empty"):
        V.in_set("status", [])
    with pytest.raises(ValueError, match="at least one"):
        V.unique()
    with pytest.raises(ValueError, match="duplicate"):
        V.validate(dirty, [V.not_null("id"), V.not_null("id")])


# --- write-audit-publish (checked_commit) -----------------------------------


def test_checked_commit_refuses_and_preserves(spark, tmp_path):
    from etl_zero_spark.operators import validate as V
    from etl_zero_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "t"))
    good = spark.createDataFrame([(1, 10.0)], "id long, v double")
    r = V.checked_commit(tbl, good, [V.not_null("id"), V.in_range("v", 0, 100)])
    assert r["committed_version"] == 0 and r["quarantined_rows"] == 0
    bad = spark.createDataFrame([(2, 10.0), (None, 5.0)], "id long, v double")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="refused"):
        V.checked_commit(tbl, bad, [V.not_null("id")])
    # publish never happened: table still at the good version
    assert tbl.current_version() == 0
    assert tbl.rows() == 1


def test_checked_commit_quarantine_path(spark, tmp_path):
    from etl_zero_spark.operators import validate as V
    from etl_zero_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(str(tmp_path / "t"))
    q = SnapshotTable(str(tmp_path / "q"))
    df = spark.createDataFrame(
        [(1, 10.0), (None, 5.0), (3, -7.0), (4, 20.0)], "id long, v double"
    )
    r = V.checked_commit(
        tbl,
        df,
        [V.not_null("id"), V.in_range("v", 0, 100)],
        on_violation="quarantine",
        quarantine_table=q,
    )
    assert r["quarantined_rows"] == 2
    assert tbl.rows() == 2
    assert {x.id for x in tbl.read(spark).collect()} == {1, 4}
    assert q.rows() == 2
    # second batch appends to the quarantine history
    df2 = spark.createDataFrame([(5, -1.0)], "id long, v double")
    V.checked_commit(
        tbl, df2, [V.in_range("v", 0, 100)],
        mode="append", on_violation="quarantine", quarantine_table=q,
    )
    assert q.rows() == 3 and tbl.rows() == 2
