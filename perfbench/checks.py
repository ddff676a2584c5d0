"""Output checks, run outside the timed region.

Each check returns a list of human-readable problems; an empty list
means the output is correct. The checks read what the program wrote
(zone parquet files) or returned (collected rows), and recompute the
expected answer independently: DuckDB for SQL results and aggregates,
the planted ground truth for the corpus.
"""

from __future__ import annotations

import glob
import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pyarrow.parquet as pq


def _parquet_glob(table_dir: str) -> str:
    return os.path.join(table_dir, "*.parquet")


def zone_rows(table_dir: str) -> int:
    """Row count of a zone table, from parquet footers only."""
    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in glob.glob(_parquet_glob(table_dir)))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# --------------------------------------------------------------------------
# value comparison
# --------------------------------------------------------------------------

def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, bool) or v is None or isinstance(v, (str, datetime, date)):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    return v


def _sort_key(row: tuple) -> tuple:
    out = []
    for v in row:
        if v is None:
            out.append((0, ""))
        elif isinstance(v, float):
            out.append((1, round(v, 4)))
        else:
            out.append((2, str(v)))
    return tuple(out)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def same_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """Compare two results as multisets of rows (numbers compared with a
    1e-9 relative tolerance). Returns a description of the first
    difference, or None."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    g = sorted((tuple(_norm(v) for v in r) for r in got), key=_sort_key)
    w = sorted((tuple(_norm(v) for v in r) for r in want), key=_sort_key)
    for a, b in zip(g, w):
        if len(a) != len(b) or not all(_close(x, y) for x, y in zip(a, b)):
            return f"row {a} != expected {b}"
    return None


# --------------------------------------------------------------------------
# etl_nightly
# --------------------------------------------------------------------------

def check_raw_counts(warehouse_root: str, expected: dict[str, int]) -> list[str]:
    """Raw-zone row counts equal the generated base plus the deltas so far."""
    problems = []
    for table, n in expected.items():
        got = zone_rows(os.path.join(warehouse_root, "raw", table))
        if got != n:
            problems.append(f"raw.{table}: {got} rows, expected {n}")
    return problems


def check_aggregates(warehouse_root: str, aggregation: dict[str, dict]) -> list[str]:
    """Every ``agg_<t>`` table equals a DuckDB recomputation of its spec
    over ``transformed_<t>`` (null group keys dropped, as the program's
    pandas-parity rule does)."""
    problems = []
    con = duckdb.connect()
    try:
        for table, p in aggregation.items():
            src = os.path.join(warehouse_root, "silver", f"transformed_{table}")
            agg = os.path.join(warehouse_root, "silver", f"agg_{table}")
            if not glob.glob(_parquet_glob(agg)):
                problems.append(f"silver.agg_{table}: missing")
                continue
            keys = p.get("group_by", [])
            exprs, names = [], []
            for col, fns in p["aggregations"].items():
                for fn in fns:
                    f = {"mean": "avg"}.get(fn, fn)
                    exprs.append(f"{f}({col})")
                    names.append(f"{col}_{fn}")
            where = " AND ".join(f"{k} IS NOT NULL" for k in keys) or "TRUE"
            group = f"GROUP BY {', '.join(keys)}" if keys else ""
            want = con.execute(
                f"SELECT {', '.join(keys + exprs)} FROM read_parquet('{_parquet_glob(src)}') "
                f"WHERE {where} {group}"
            ).fetchall()
            cols = ", ".join(keys + names)
            got = con.execute(
                f"SELECT {cols} FROM read_parquet('{_parquet_glob(agg)}')"
            ).fetchall()
            diff = same_rows(got, want)
            if diff:
                problems.append(f"silver.agg_{table}: {diff}")
    finally:
        con.close()
    return problems


# --------------------------------------------------------------------------
# query_page
# --------------------------------------------------------------------------

class QueryOracle:
    """DuckDB views over the query page's source tables, one per table."""

    def __init__(self, source_dir: str, tables: tuple[str, ...]):
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(source_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()


def check_query_results(oracle: QueryOracle, results: dict[str, dict]) -> list[str]:
    """``results`` maps each distinct query text to ``{"oracle": sql,
    "rows": [first result], "repeats": [later results]}``; every result
    must match the oracle."""
    problems = []
    for text, r in results.items():
        want = oracle.rows(r["oracle"])
        for i, rows in enumerate([r["rows"]] + r.get("repeats", [])):
            diff = same_rows(rows, want)
            if diff:
                problems.append(f"{text!r} (draw {i}): {diff}")
                break
    return problems


def check_golden(golden_dir: str, saved: dict[str, int]) -> list[str]:
    """Every saved golden table holds as many rows as the result it saved."""
    return [
        f"golden.{name}: {zone_rows(os.path.join(golden_dir, name))} rows, expected {n}"
        for name, n in saved.items()
        if zone_rows(os.path.join(golden_dir, name)) != n
    ]


# --------------------------------------------------------------------------
# corpus_prep
# --------------------------------------------------------------------------

def check_corpus(stats: dict[str, int], doc_ids: list[int], truth: dict) -> list[str]:
    """Surviving-row counts never rise stage over stage, output ids are
    unique, each planted exact-duplicate group keeps exactly one doc and
    every planted eval doc is gone."""
    problems = []
    stages = list(stats.items())
    for (a, na), (b, nb) in zip(stages, stages[1:]):
        if nb > na:
            problems.append(f"stage {b} kept {nb} rows after {a} kept {na}")
    ids = set(doc_ids)
    if len(ids) != len(doc_ids):
        problems.append(f"{len(doc_ids) - len(ids)} duplicate doc_ids in the output")
    if stats and list(stats.values())[-1] != len(doc_ids):
        problems.append(f"output has {len(doc_ids)} rows, last stage counted "
                        f"{list(stats.values())[-1]}")
    bad_groups = [g for g in truth["exact_groups"] if sum(i in ids for i in g) != 1]
    if bad_groups:
        problems.append(f"{len(bad_groups)} exact-duplicate groups not reduced to "
                        f"one doc, e.g. {bad_groups[0]}")
    leaked = [i for i in truth["contaminated"] if i in ids]
    if leaked:
        problems.append(f"{len(leaked)} planted eval docs survived, e.g. {leaked[0]}")
    return problems
