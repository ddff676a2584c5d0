"""Declarative data-quality validation (engine extension; the
reference's 'zero engineering' pipeline validates nothing — rows that
violate implicit assumptions flow silently into silver_db. At 100 TB a
pipeline needs machine-checkable expectations BETWEEN zones).

Design: one expectation list per table compiles into a SINGLE
aggregation pass — every row-level expectation becomes a conditional
count inside one ``agg`` (one scan, one 1-row result, any number of
checks), never one job per check. Table-level expectations
(uniqueness, referential integrity) each need their own shuffle by
nature (distinct / anti-join) and run as separate bounded jobs.

    report = validate(df, [
        not_null("o_orderkey"),
        unique("o_orderkey"),
        in_range("o_totalprice", lo=0),
        in_set("o_orderstatus", ["O", "F", "P"]),
        matches("o_clerk", r"Clerk#\\d+"),
        foreign_key("o_custkey", customers, "c_custkey"),
    ])
    report.passed      # bool
    report.violations  # {expectation_name: n_violating_rows}

Null semantics: ``not_null`` counts nulls; every OTHER row-level check
skips nulls (a null price is a nullability problem, not a range
problem) — compose with ``not_null`` to forbid both. A check that
evaluates to NULL on a non-null value (a NULL in an ``in_set``
allowed list, a range check on a string that is not a number) counts
as a violation: the row cannot be shown to pass, and ``quarantine``
would otherwise drop it from both of its outputs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: A row-level expectation: name + a Column predicate that is TRUE for
#: VIOLATING rows (nulls excluded upstream, see ``_violates``).
@dataclass(frozen=True)
class RowExpectation:
    name: str
    col: str
    violation: Column


#: A table-level expectation: name + a callable producing the
#: violation COUNT as a 1-row DataFrame job.
@dataclass(frozen=True)
class TableExpectation:
    name: str
    count_violations: Callable[[DataFrame], int]


def not_null(col: str) -> RowExpectation:
    return RowExpectation(f"not_null({col})", col, F.col(col).isNull())


def in_range(
    col: str, lo: float | None = None, hi: float | None = None
) -> RowExpectation:
    if lo is None and hi is None:
        raise ValueError("in_range: need lo and/or hi")
    cond = F.lit(False)
    if lo is not None:
        cond = cond | (F.col(col) < lo)
    if hi is not None:
        cond = cond | (F.col(col) > hi)
    return RowExpectation(f"in_range({col},{lo},{hi})", col, cond)


def in_set(col: str, allowed: list) -> RowExpectation:
    if not allowed:
        raise ValueError("in_set: empty allowed set")
    return RowExpectation(
        f"in_set({col})", col, ~F.col(col).isin(list(allowed))
    )


def matches(col: str, pattern: str) -> RowExpectation:
    """Full-match regex expectation (Java regex, anchored)."""
    return RowExpectation(
        f"matches({col})", col, ~F.col(col).rlike(f"^(?:{pattern})$")
    )


def unique(*cols: str) -> TableExpectation:
    """No duplicate (cols) tuples among fully-non-null tuples: one
    groupBy counting groups with >1 row — a single hash shuffle."""
    if not cols:
        raise ValueError("unique: need at least one column")

    def count(df: DataFrame) -> int:
        d = df.select(*cols).dropna(how="any")
        dup = (
            d.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .agg(F.coalesce(F.sum("__n"), F.lit(0)).alias("v"))
        )
        return int(dup.first().v)

    return TableExpectation(f"unique({','.join(cols)})", count)


def foreign_key(
    col: str, parent: DataFrame, parent_col: str
) -> TableExpectation:
    """Every non-null child value exists in the parent key column: one
    left-anti join (broadcast when the parent is dim-sized, AQE's
    call), counting orphan rows."""

    def count(df: DataFrame) -> int:
        orphans = (
            df.select(F.col(col).alias("__k"))
            .where(F.col("__k").isNotNull())
            .join(
                parent.select(F.col(parent_col).alias("__k")).distinct(),
                "__k",
                "left_anti",
            )
        )
        return orphans.count()

    return TableExpectation(f"foreign_key({col})", count)


def _violates(e: RowExpectation) -> Column:
    """Never-NULL predicate: TRUE for rows violating ``e``. Null cells
    are ``not_null``'s job; a predicate that is NULL on a non-null cell
    is a violation."""
    if e.name.startswith("not_null("):
        return e.violation
    return F.col(e.col).isNotNull() & F.coalesce(e.violation, F.lit(True))


@dataclass
class ValidationReport:
    n_rows: int
    violations: dict[str, int] = field(default_factory=dict)

    @property
    def passed(self) -> bool:
        return all(v == 0 for v in self.violations.values())

    def failing(self) -> dict[str, int]:
        return {k: v for k, v in self.violations.items() if v > 0}


def validate(
    df: DataFrame, expectations: list[RowExpectation | TableExpectation]
) -> ValidationReport:
    """Evaluate every expectation; all row-level checks share ONE
    aggregation job (single scan regardless of check count)."""
    row_exps = [e for e in expectations if isinstance(e, RowExpectation)]
    tbl_exps = [e for e in expectations if isinstance(e, TableExpectation)]
    if len({e.name for e in expectations}) != len(expectations):
        raise ValueError("validate: duplicate expectation names")

    aggs = [F.count(F.lit(1)).alias("__total")]
    for e in row_exps:
        aggs.append(F.sum(_violates(e).cast("long")).alias(e.name))
    row = df.agg(*aggs).first()

    report = ValidationReport(n_rows=int(row["__total"]))
    for e in row_exps:
        report.violations[e.name] = int(row[e.name] or 0)
    for e in tbl_exps:
        report.violations[e.name] = int(e.count_violations(df))
    return report


def quarantine(
    df: DataFrame, expectations: list[RowExpectation]
) -> tuple[DataFrame, DataFrame]:
    """Split rows into (clean, quarantined) on the ROW-LEVEL
    expectations — the write-path variant: clean rows continue to the
    next zone, violating rows land in a quarantine table for triage
    (at scale you never re-scan to find the bad rows twice). One
    predicate, two filters off the same plan; Spark scans twice unless
    the input is cached — callers on a hot path persist first."""
    bad = F.lit(False)
    for e in expectations:
        bad = bad | _violates(e)
    return df.where(~bad), df.where(bad)


def checked_commit(
    table,
    df: DataFrame,
    expectations: list,
    mode: str = "overwrite",
    on_violation: str = "refuse",
    quarantine_table=None,
) -> dict:
    """Write-audit-publish: gate a snapshot-table commit
    (sources/snapshots.SnapshotTable) behind the expectation battery —
    the write-path pairing of declarative validation with the atomic
    table format. The reference publishes unvalidated frames straight
    into silver_db; this is the version where bad data CANNOT become
    the current version.

    ``on_violation``:

    * ``'refuse'`` — any violation aborts: no commit, the table's
      current version is untouched (the audit step of
      write-audit-publish; the staged data never becomes visible
      because visibility IS the manifest).
    * ``'quarantine'`` — row-level violators split off to
      ``quarantine_table`` (a second SnapshotTable, appended so triage
      history accumulates); clean rows commit. Table-level
      expectations (unique, foreign-key) can't be attributed to
      single rows, so they still refuse.

    Returns {committed_version, quarantined_rows, report}.
    """
    if on_violation not in ("refuse", "quarantine"):
        raise ValueError(f"on_violation {on_violation!r}: 'refuse' or 'quarantine'")
    report = validate(df, expectations)
    if report.passed:
        return {
            "committed_version": table.commit(df, mode=mode),
            "quarantined_rows": 0,
            "report": report,
        }
    if on_violation == "refuse":
        raise ValueError(
            f"checked_commit refused: {report.failing()} "
            f"(table stays at version {table.current_version()})"
        )
    tbl_failing = [
        e.name
        for e in expectations
        if isinstance(e, TableExpectation) and report.violations.get(e.name, 0) > 0
    ]
    if tbl_failing:
        raise ValueError(
            f"checked_commit: table-level expectations failed {tbl_failing} — "
            "not attributable to rows, quarantine cannot apply"
        )
    if quarantine_table is None:
        raise ValueError("on_violation='quarantine' needs quarantine_table=")
    row_exps = [e for e in expectations if isinstance(e, RowExpectation)]
    clean, bad = quarantine(df, row_exps)
    q_prev = quarantine_table.current_version()
    prev_rows = quarantine_table.rows() if q_prev is not None else 0
    quarantine_table.commit(bad, mode="append" if q_prev is not None else "overwrite")
    return {
        "committed_version": table.commit(clean, mode=mode),
        # exact distinct bad-row count from the quarantine manifest (a
        # row violating several expectations is still one row)
        "quarantined_rows": quarantine_table.rows() - prev_rows,
        "report": report,
    }
