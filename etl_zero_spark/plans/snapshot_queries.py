"""Declared query for the snapshot-table tier (SURVEY §2.13 L6/L11/
L16/L17) — the largest previously pytest-only surface
(sources/snapshots.py), given a hash-checked CORRECTNESS row (r4
verdict #5).

The query drives the real table-format lifecycle inside its own
scratch table — overwrite commit (range-clustered), append, stats-
classified range delete — then reads it back through every read path
the format exists for: time travel to both historical versions, the
current post-delete state, a manifest-pruned range read, and the
row-level CDC diff across the delete. Every one of those reads
replays in DuckDB as a plain filtered scan of ``orders`` with the
same predicates, so the whole lifecycle is value-hash-checked, not
just row-counted. (Pruning/atomicity/CAS properties stay pinned in
tests/test_snapshots.py — this row checks the CONTENTS every path
serves.)

Reference gesture: the reference's zones are drop-and-reload MySQL
databases (data_extraction.py:13-16) with no history at all; this is
the capability a 100 TB lake needs instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_zero_spark.catalog import load_table
from etl_zero_spark.plans.registry import query, scratch_dir
from etl_zero_spark.sources.snapshots import SnapshotTable

# Deterministic key cuts, derived from max(o_orderkey) so every SF
# exercises every branch: delete [50%, 75%]; pruned read [0, 25%].
_DEL_LO, _DEL_HI = 0.5, 0.75
_READ_HI = 0.25

_CUTS_SQL = """
    cuts AS (
      SELECT CAST(floor(max(o_orderkey) * 0.5) AS BIGINT)  AS del_lo,
             CAST(floor(max(o_orderkey) * 0.75) AS BIGINT) AS del_hi,
             CAST(floor(max(o_orderkey) * 0.25) AS BIGINT) AS read_hi
      FROM orders
    )
"""


@query(
    "snap1_time_travel_read",
    "L6+L11+L16+L17: snapshot lifecycle — commit/append/delete, time "
    "travel, manifest-pruned read, CDC row diff",
    f"""
    WITH {_CUTS_SQL}
    SELECT 'v0' AS op, o_orderpriority AS grp,
           count(*) AS n_rows, round(sum(o_totalprice), 2) AS total
    FROM orders WHERE o_orderkey % 10 < 7 GROUP BY 2
    UNION ALL
    SELECT 'v1', o_orderpriority, count(*), round(sum(o_totalprice), 2)
    FROM orders GROUP BY 2
    UNION ALL
    SELECT 'current', o_orderpriority, count(*), round(sum(o_totalprice), 2)
    FROM orders, cuts
    WHERE o_orderkey < del_lo OR o_orderkey > del_hi GROUP BY 2
    UNION ALL
    SELECT 'pruned_read', o_orderpriority, count(*), round(sum(o_totalprice), 2)
    FROM orders, cuts WHERE o_orderkey <= read_hi GROUP BY 2
    UNION ALL
    SELECT 'cdc_delete', o_orderpriority, count(*), round(sum(o_totalprice), 2)
    FROM orders, cuts
    WHERE o_orderkey >= del_lo AND o_orderkey <= del_hi GROUP BY 2
    """,
    "Snapshot-table lifecycle, hash-checked end to end: v0 = overwrite "
    "commit of 70% of orders (range-clustered on the key so the later "
    "delete classifies files from manifest stats), v1 = append of the "
    "rest, v2 = copy-on-write range delete of the [50%,75%] key band. "
    "Read back: time travel to v0 and v1 (historical manifests stay "
    "byte-stable after the delete), the current state, a manifest-"
    "pruned range read (read_where plans only stat-overlapping files), "
    "and diff_rows(v1->v2)'s delete feed (shared files skipped before "
    "any row work). Each tagged branch aggregates per priority and "
    "must equal DuckDB's plain filtered scan of orders — the manifest "
    "machinery has to be transparent to CONTENT on every path.",
)
def snap1_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderkey")).first()[0]
    del_lo, del_hi = int(mx * _DEL_LO), int(mx * _DEL_HI)
    read_hi = int(mx * _READ_HI)

    t = SnapshotTable(scratch_dir("etlzero_snap1_", sf_dir))
    base = o.where(F.col("o_orderkey") % 10 < 7)
    t.commit(
        base.repartitionByRange(4, "o_orderkey").sortWithinPartitions("o_orderkey")
    )  # v0 — clustered: the delete below drops/keeps most files from stats
    t.commit(o.where(F.col("o_orderkey") % 10 >= 7), mode="append")  # v1
    t.delete_where(spark, "o_orderkey", del_lo, del_hi)  # v2

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.groupBy(F.col("o_orderpriority").alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("o_totalprice"), 2).alias("total"),
            )
            .select(F.lit(tag).alias("op"), "*")
        )

    cdc = (
        t.diff_rows(spark, 1, 2)
        .where(F.col("_change_type") == "delete")
        .drop("_change_type")
    )
    return (
        agg(t.read(spark, version=0), "v0")
        .unionByName(agg(t.read(spark, version=1), "v1"))
        .unionByName(agg(t.read(spark), "current"))
        .unionByName(agg(t.read_where(spark, "o_orderkey", None, read_hi), "pruned_read"))
        .unionByName(agg(cdc, "cdc_delete"))
    )
