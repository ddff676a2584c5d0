"""Declared query registry — the driver contract's substance.

One entry per implemented operator from SURVEY.md §2. Each spec pairs a
Spark DataFrame program with the equivalent ANSI SQL that DuckDB runs
on the same parquet views (tables: region nation customer supplier part
orders lineitem events documents embeddings). The driver compares
row-count + schema + order-insensitive value hash at sf0.01, so:

* every computed column is aliased identically on both sides;
* double-valued aggregates are rounded identically on both sides (sum
  order differs between engines in the last ulps);
* LIMIT queries carry a total order (otherwise both engines are free to
  return different prefixes);
* integer SUMs are cast to BIGINT in DuckDB (it widens to HUGEINT).

Specs with ``sql=None`` are non-SQL-expressible (learned/approximate/
streaming) and get the driver's rows-only check; each of those has a
self-consistency pytest instead (SURVEY §5.2).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_zero_spark.catalog import load_table
from etl_zero_spark.session import apply_runtime_confs

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    fn: SparkQuery
    sql: str | None  # DuckDB oracle; None -> rows-only check
    operator: str  # SURVEY §2 inventory id(s)
    description: str


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, operator: str, sql: str | None, description: str = ""):
    """Decorator registering a declared query."""

    def deco(fn: SparkQuery) -> SparkQuery:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_runtime_confs(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = QuerySpec(wrapped, sql, operator, description or fn.__doc__ or "")
        return wrapped

    return deco


#: (prefix, key, pid) -> the scratch directory scratch_dir handed out.
_SCRATCH: dict[tuple[str, str, int], str] = {}


def scratch_dir(prefix: str, key: str) -> str:
    """One scratch directory per (prefix, key) per process, for queries
    that write files and return a LAZY DataFrame over them: the files
    must outlive the call until the caller collects, so the previous
    invocation's copy is wiped on re-entry instead of on exit, and the
    last copy is removed at interpreter exit. Disk stays bounded to one
    copy per key however often the query runs. Queries key by
    ``sf_dir``, so results over two fixture dirs can be pending at
    once; the pid keeps a forked child from wiping its parent's
    directory."""
    k = (prefix, key, os.getpid())
    path = _SCRATCH.get(k)
    if path is None:
        path = tempfile.mkdtemp(prefix=prefix)
        _SCRATCH[k] = path
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    else:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
    return path


# --------------------------------------------------------------------------
# Flagship (SURVEY §7 M1): reference-shaped clean + aggregate on lineitem.
# TPC-H-Q1-flavored pricing summary with the reference's {col}_{fn}
# output naming (transformations_code.py:177-180).
# --------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    "A1+A5+S2+O2 (A5 row count rides the hash-checked count_order "
    "column; its standalone query retired in R5 to free the slot that "
    "declares dd9)",
    """
    SELECT
      l_returnflag,
      l_linestatus,
      round(sum(l_quantity), 2)                                   AS l_quantity_sum,
      round(sum(l_extendedprice), 2)                              AS l_extendedprice_sum,
      round(sum(l_extendedprice * (1 - l_discount)), 2)           AS disc_price_sum,
      round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS charge_sum,
      round(avg(l_quantity), 4)                                   AS l_quantity_mean,
      round(avg(l_extendedprice), 4)                              AS l_extendedprice_mean,
      round(avg(l_discount), 4)                                   AS l_discount_mean,
      count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    "Flagship: filtered multi-function group-by pricing summary on lineitem.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("l_quantity_sum"),
            F.round(F.sum("l_extendedprice"), 2).alias("l_extendedprice_sum"),
            F.round(F.sum(disc), 2).alias("disc_price_sum"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("charge_sum"),
            F.round(F.avg("l_quantity"), 4).alias("l_quantity_mean"),
            F.round(F.avg("l_extendedprice"), 4).alias("l_extendedprice_mean"),
            F.round(F.avg("l_discount"), 4).alias("l_discount_mean"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# §2.1 scans / incremental
# --------------------------------------------------------------------------
@query(
    "s2_s3_incremental_scan",
    "S2+S3+A4",
    """
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props,
           (SELECT coalesce(max(event_id), 0) FROM events) AS src_watermark
    FROM events WHERE event_id > 500
    """,
    "Incremental load in one plan: the watermark probe (MAX(key), "
    "empty->0 default, data_extraction.py:86-92) rides the delta scan "
    "(WHERE key > last, data_extraction.py:95-96) as a 1-row broadcast "
    "scalar; the predicate is pushed to the parquet reader.",
)
def s2_s3_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wm = ev.agg(
        F.coalesce(F.max("event_id"), F.lit(0).cast("long")).alias("src_watermark")
    )
    return ev.where(F.col("event_id") > F.lit(500)).crossJoin(F.broadcast(wm))


@query(
    "cdc1_merge_latest",
    "§2.9: CDC merge/upsert (keep-latest-by-version)",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
             CAST(0 AS BIGINT) AS version
      FROM orders
    ), upd AS (
      SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
             'U' AS o_orderstatus, CAST(1 AS BIGINT) AS version
      FROM orders WHERE o_orderkey % 10 = 0
    ), merged AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                   ORDER BY version DESC) AS rn
      FROM (SELECT * FROM base UNION ALL SELECT * FROM upd)
    )
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, version
    FROM merged WHERE rn = 1
    """,
    "Changelog upsert: a deterministic update feed (every 10th order, "
    "price +1000, status 'U', version 1) merged into the base table "
    "with last-writer-wins (sources/incremental.merge_latest — union + "
    "ONE window shuffle, the engine-side MERGE INTO). The +1000.0 delta "
    "is an exact float op so both engines agree bit-for-bit; the "
    "version tiebreak (updates beat base at equal version) is pinned "
    "by tests/test_incremental.py.",
)
def cdc1_merge_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_zero_spark.sources.incremental import merge_latest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    base = o.withColumn("version", F.lit(0).cast("long"))
    updates = (
        o.where(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("version", F.lit(1).cast("long"))
    )
    return merge_latest(base, updates, key="o_orderkey", version_col="version")


@query(
    "s9_s10_sink_preview",
    "S9 + S10 + O1 (R9 tagged-union fold — both operator ids kept "
    "hash-checked; the freed slot declares pipe1_prepare_corpus)",
    """
    SELECT 's9' AS op, c_custkey, c_name, c_nationkey, c_acctbal,
           c_mktsegment
    FROM customer
    UNION ALL
    SELECT 's10' AS op, c_custkey, c_name, c_nationkey, c_acctbal,
           c_mktsegment
    FROM (SELECT * FROM customer ORDER BY c_custkey LIMIT 5)
    """,
    "Tagged union of the two trivial-sink rows: op='s9' is the CSV "
    "sink round-trip (mapping.py:183-185 to_csv — write customer to an "
    "executor-parallel headered CSV directory, read it back with the "
    "original schema; the written bytes must reproduce the table), "
    "op='s10' the deterministic LIMIT-5 preview "
    "(front_end.py:132,560) — ordered so both engines agree on the "
    "prefix.",
)
def s9_s10_sink_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_zero_spark.catalog import Zone

    c = load_table(spark, sf_dir, "customer")
    zone = Zone(scratch_dir("etlzero_s9_", sf_dir), "golden")
    zone.write_csv(c, "customer")
    s9 = zone.read_csv(spark, "customer", schema=c.schema)
    s10 = c.orderBy("c_custkey").limit(5)
    return (
        s9.withColumn("op", F.lit("s9"))
        .unionByName(s10.withColumn("op", F.lit("s10")))
        .select("op", *c.columns)
    )


# --------------------------------------------------------------------------
# §2.2 row-level transforms
# --------------------------------------------------------------------------
@query(
    "p2_p5_p6_cleaning",
    "P2 + P5 + P6 (incl. fuzzy tier; the R7 fold freed a declared slot "
    "for dd13_line_dedup, the R10 fold absorbs P2's DISTINCT to free "
    "the slot that declares split1 — all three operator ids preserved)",
    """
    SELECT 'p2' AS op, CAST(NULL AS BIGINT) AS key, l_returnflag AS a,
           l_linestatus AS b, CAST(NULL AS VARCHAR) AS c
    FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)
    UNION ALL
    SELECT 'p5' AS op, c_custkey AS key, trim(c_name) AS a,
           trim(c_mktsegment) AS b, CAST(NULL AS VARCHAR) AS c
    FROM customer
    UNION ALL
    SELECT 'p6' AS op, o_orderkey AS key,
           strftime(o_orderdate, '%Y-%m-%d') AS a,
           CASE o_orderkey % 6
             WHEN 0 THEN strftime(o_orderdate, '%d/%m/%Y')
             WHEN 1 THEN strftime(o_orderdate, '%d.%m.%Y')
             WHEN 2 THEN strftime(o_orderdate, '%-d %b %Y')
             WHEN 3 THEN 'not a date'
             WHEN 4 THEN strftime(o_orderdate, '%Y/%m/%d')
             ELSE 'seen ' || strftime(o_orderdate, '%d/%m/%Y') || ' ok'
           END AS b,
           CASE WHEN o_orderkey % 6 = 3 THEN NULL
                ELSE strftime(o_orderdate, '%Y-%m-%d') END AS c
    FROM orders
    """,
    "Date standardization to yyyy-MM-dd STRING output "
    "(transformations_code.py:97-110; name-based detection finds "
    "o_orderdate) — PLUS the full dirty-input tier on a planted column: "
    "each order's date re-rendered in a key-derived dirty format "
    "(day-first slashed/dotted, month-name, year-leading, embedded in "
    "noise words, or unparseable) and pushed through the tiered "
    "try_to_date coalesce with the dateutil-parity fuzzy pandas-UDF as "
    "last resort (functions/dates.py). The oracle reconstructs every "
    "expected value, pinning day-first parity AND the documented "
    "year-leading ISO deviation (dateutil dayfirst would read "
    "1994/05/04 as Apr 5 ONLY by luck of day>12 rows; our engine reads "
    "year-leading as ISO always — the oracle asserts ISO). The noise "
    "case ('seen 04/05/1994 ok') is parseable ONLY by the fuzzy UDF "
    "tier, so the row goes red if the fallback breaks. Folded with the "
    "P5 whitespace-trim projection (transformations_code.py:92-95) as "
    "a tagged union on the harmonized (op, key, a, b, c) schema: "
    "'p5' rows carry (custkey, trimmed name, trimmed segment, NULL); "
    "'p6' rows carry (orderkey, std date, dirty date, re-standardized "
    "dirty date). R10 adds the 'p2' tranche: the exact-dedup DISTINCT "
    "projection (transformations_code.py:78-79) on the harmonized "
    "schema (null key, returnflag/linestatus riding a/b).",
)
def p2_p5_p6_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_zero_spark.functions.dates import (
        fuzzy_parse_date_udf,
        standardize_date_expr,
    )

    li = load_table(spark, sf_dir, "lineitem")
    p2_part = (
        li.select("l_returnflag", "l_linestatus")
        .dropDuplicates()
        .select(
            F.lit("p2").alias("op"),
            F.lit(None).cast("long").alias("key"),
            F.col("l_returnflag").alias("a"),
            F.col("l_linestatus").alias("b"),
            F.lit(None).cast("string").alias("c"),
        )
    )
    c = load_table(spark, sf_dir, "customer")
    p5_part = c.select(
        F.lit("p5").alias("op"),
        F.col("c_custkey").alias("key"),
        F.trim(F.col("c_name")).alias("a"),
        F.trim(F.col("c_mktsegment")).alias("b"),
        F.lit(None).cast("string").alias("c"),
    )
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    key_mod = F.col("o_orderkey") % 6
    dirty = (
        F.when(key_mod == 0, F.date_format(d, "dd/MM/yyyy"))
        .when(key_mod == 1, F.date_format(d, "dd.MM.yyyy"))
        .when(key_mod == 2, F.date_format(d, "d MMM yyyy"))
        .when(key_mod == 3, F.lit("not a date"))
        .when(key_mod == 4, F.date_format(d, "yyyy/MM/dd"))
        .otherwise(
            F.concat(F.lit("seen "), F.date_format(d, "dd/MM/yyyy"), F.lit(" ok"))
        )
    )
    p6_part = o.select(
        F.lit("p6").alias("op"),
        F.col("o_orderkey").alias("key"),
        F.date_format(d, "yyyy-MM-dd").alias("a"),
        dirty.alias("b"),
        F.coalesce(
            standardize_date_expr(dirty), fuzzy_parse_date_udf()(dirty)
        ).alias("c"),
    )
    return p2_part.unionByName(p5_part).unionByName(p6_part)


@query(
    "p7_p8_name_concat_split",
    "P7+P8",
    """
    SELECT
      p_partkey,
      split_part(p_name, ' ', 1) AS first_name_split,
      CASE WHEN strpos(p_name, ' ') > 0
           THEN substr(p_name, strpos(p_name, ' ') + 1) END AS last_name_split,
      trim(coalesce(split_part(p_name, ' ', 1), '')) || ' ' ||
      trim(coalesce(CASE WHEN strpos(p_name, ' ') > 0
           THEN substr(p_name, strpos(p_name, ' ') + 1) END, '')) AS full_name
    FROM part
    """,
    "Name split (limit=1 semantics, missing part -> null) and pandas-exact "
    "concat (empty side keeps the space) — transformations_code.py:112-127.",
)
def p7_p8_name_concat_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    s = F.split(F.col("p_name"), " ", 2)
    first = s.getItem(0)
    last = s.getItem(1)
    part_expr = lambda c: F.trim(F.coalesce(c, F.lit("")))
    return p.select(
        "p_partkey",
        first.alias("first_name_split"),
        last.alias("last_name_split"),
        F.concat(part_expr(first), F.lit(" "), part_expr(last)).alias("full_name"),
    )


# --------------------------------------------------------------------------
# §2.3 joins
# --------------------------------------------------------------------------
@query(
    "j1_j8_join_family",
    "J1+P1 + join family (left outer + left semi + left anti) — the "
    "R13 fold absorbing j7_j8_semi_anti_join to free the declared "
    "slot for qa1 (VERDICT r12 #4); all four operator ids preserved",
    """
    SELECT 'inner' AS op, c.c_custkey, o.o_orderkey,
           o.o_totalprice AS o_totalprice_orders,
           c.c_name AS c_name_customer, c.c_mktsegment AS c_mktsegment_customer
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'left', c.c_custkey, o.o_orderkey, o.o_totalprice,
           c.c_name, c.c_mktsegment
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'semi', c.c_custkey, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           c.c_name, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    UNION ALL
    SELECT 'anti', c.c_custkey, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000)
    """,
    "The four-way join family under one tagged union (the proven "
    "fold shape): inner equi-join with the mapper's source-table "
    "column aliasing (mapping.py:105-127; customer side broadcasts), "
    "the left-outer variant (unmatched customers survive with null "
    "order columns), and the semi/anti branches (EXISTS / NOT "
    "EXISTS) with order columns padded NULL to share the schema. "
    "Each semi/anti branch scans orders with its threshold PUSHED to "
    "the parquet reader (row-group stats prune most of a 100 TB fact "
    "before the join); the anti threshold keeps its set non-empty at "
    "every SF.",
)
def j1_j8_join_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    inner = o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner").select(
        F.lit("inner").alias("op"),
        "c_custkey",
        "o_orderkey",
        F.col("o_totalprice").alias("o_totalprice_orders"),
        F.col("c_name").alias("c_name_customer"),
        F.col("c_mktsegment").alias("c_mktsegment_customer"),
    )
    left = c.join(o, c.c_custkey == o.o_custkey, "left").select(
        F.lit("left").alias("op"),
        "c_custkey",
        "o_orderkey",
        F.col("o_totalprice").alias("o_totalprice_orders"),
        F.col("c_name").alias("c_name_customer"),
        F.col("c_mktsegment").alias("c_mktsegment_customer"),
    )
    semi_o = o.where(F.col("o_totalprice") > 100000)
    anti_o = o.where(F.col("o_totalprice") > 150000)
    pad = [
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice_orders"),
        F.col("c_name").alias("c_name_customer"),
        F.col("c_mktsegment").alias("c_mktsegment_customer"),
    ]
    semi = (
        c.join(semi_o, c.c_custkey == semi_o.o_custkey, "left_semi")
        .select(F.lit("semi").alias("op"), "c_custkey", *pad)
    )
    anti = (
        c.join(anti_o, c.c_custkey == anti_o.o_custkey, "left_anti")
        .select(F.lit("anti").alias("op"), "c_custkey", *pad)
    )
    return inner.unionByName(left).unionByName(semi).unionByName(anti)


@query(
    "j5_revenue_by_nation",
    "J1+A1 (multi-join)",
    """
    SELECT n.n_name, r.r_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
    "TPC-H-Q5-shaped star join: fact shuffles once, every dim broadcasts.",
)
def j5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "scd1_type2_merge",
    "§2.13-L8: SCD Type-2 dimension merge",
    """
    WITH cur AS (
      SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal,
             TIMESTAMP '2020-01-01' AS effective_from, 0 AS src
      FROM customer
    ), ups AS (
      SELECT c_custkey AS k, lower(c_mktsegment) AS seg, c_acctbal AS bal,
             TIMESTAMP '2020-06-01' AS effective_from, 1 AS src
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey, lower(c_mktsegment), c_acctbal + 10.0,
             TIMESTAMP '2020-09-01', 1
      FROM customer WHERE c_custkey % 6 = 0
    ), unioned AS (
      SELECT * FROM cur UNION ALL SELECT * FROM ups
    ), flagged AS (
      SELECT *, lag((seg, bal)) OVER w IS DISTINCT FROM (seg, bal) AS keep
      FROM unioned WINDOW w AS (PARTITION BY k ORDER BY effective_from, src)
    ), kept AS (SELECT * FROM flagged WHERE keep)
    SELECT k, seg, bal, effective_from,
           lead(effective_from) OVER w2 AS effective_to,
           lead(effective_from) OVER w2 IS NULL AS is_current
    FROM kept WINDOW w2 AS (PARTITION BY k ORDER BY effective_from, src)
    """,
    "Slowly-changing-dimension Type 2 over customer: two deterministic "
    "update waves (segment lowercased at 2020-06; +10 balance at "
    "2020-09 for every 6th key) merged into version chains — exactly "
    "one open row per key, no-op updates collapse, intervals half-open "
    "[from, to). sources/scd.scd2_merge runs in ONE by-key hash "
    "exchange (plan-asserted in tests/test_scd.py); the oracle is the "
    "same linearize/change-detect/chain algebra in DuckDB window SQL.",
)
def scd1_type2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from etl_zero_spark.sources.scd import scd2_init, scd2_merge

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").alias("bal"),
    )
    dim = scd2_init(cust, dt.datetime(2020, 1, 1))
    w1 = (
        cust.where(F.col("k") % 3 == 0)
        .withColumn("seg", F.lower("seg"))
        .withColumn("ts", F.lit(dt.datetime(2020, 6, 1)))
    )
    w2 = (
        cust.where(F.col("k") % 6 == 0)
        .withColumn("seg", F.lower("seg"))
        .withColumn("bal", F.col("bal") + 10.0)
        .withColumn("ts", F.lit(dt.datetime(2020, 9, 1)))
    )
    ups = w1.unionByName(w2)
    return scd2_merge(dim, ups, key="k", tracked=["seg", "bal"])


@query(
    "qa1_quantiles",
    "A6: quantile aggregation — exact percentile tier (linear "
    "interpolation, matches DuckDB quantile_cont) hash-checked, plus "
    "the percentile_approx sketch tier (the 100 TB path: mergeable "
    "fixed-size state on the shuffle) as a deterministic tolerance "
    "boolean — the cd_acd pattern. Declared R13 via the slot freed "
    "by folding j7_j8 into j1_j8_join_family (VERDICT r12 #4); the "
    "DuckDB oracle graduated from tests/test_aggregate.py",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS l_extendedprice_p25,
           round(quantile_cont(l_extendedprice, 0.5),  4) AS l_extendedprice_p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS l_extendedprice_p75,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS l_extendedprice_p95,
           TRUE AS approx_within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
    "Grouped quantiles of l_extendedprice per l_returnflag through "
    "operators/aggregate.quantiles: the exact tier (Spark "
    "`percentile`, linear interpolation — identical algebra to "
    "DuckDB's quantile_cont, pinned to 1e-6 in test_aggregate.py) "
    "carries the hash-checked values; the percentile_approx tier "
    "(accuracy 10k — rank error <= n/10k, the only affordable shape "
    "at 100 TB where exact percentile buffers each group) rides as "
    "a 5%-of-value tolerance boolean the oracle pins TRUE, so a "
    "drifting sketch flips the hash. Audit-composition row by "
    "design: both tiers scan once each; the production path is the "
    "sketch tier alone.",
)
def qa1_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_zero_spark.operators.aggregate import quantiles

    li = load_table(spark, sf_dir, "lineitem")
    exact = quantiles(
        li, "l_extendedprice", [0.25, 0.5, 0.75, 0.95],
        by=["l_returnflag"], exact=True,
    )
    approx = quantiles(
        li, "l_extendedprice", [0.5], by=["l_returnflag"], accuracy=10_000
    ).withColumnRenamed("l_extendedprice_p50", "p50_approx")
    # 3 groups: the approx side broadcasts; the tolerance is generous
    # (5% of value at rank error n/10k) so the boolean is deterministic
    # across sketch merge orders while still failing a broken sketch.
    tol = (
        F.abs(F.col("p50_approx") - F.col("l_extendedprice_p50"))
        <= 0.05 * F.col("l_extendedprice_p50")
    )
    return (
        exact.join(F.broadcast(approx), "l_returnflag")
        .select(
            "l_returnflag",
            *[
                F.round(f"l_extendedprice_p{p}", 4).alias(f"l_extendedprice_p{p}")
                for p in (25, 50, 75, 95)
            ],
            tol.alias("approx_within_tol"),
        )
    )


# --------------------------------------------------------------------------
# §2.4 aggregations
# --------------------------------------------------------------------------
@query(
    "a1_a3_aggregate_family",
    "A1+A2+A3 (R10 fold absorbing the standalone histogram to free "
    "the slot that declares q1_gopher_gate — all three operator ids "
    "preserved, every row of all three still hash-checked)",
    """
    SELECT o_orderstatus, o_orderpriority,
           round(sum(o_totalprice), 2) AS o_totalprice_sum,
           round(avg(o_totalprice), 4) AS o_totalprice_mean,
           round(min(o_totalprice), 2) AS o_totalprice_min,
           round(max(o_totalprice), 2) AS o_totalprice_max,
           count(o_totalprice)         AS o_totalprice_count
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    UNION ALL
    SELECT o_orderstatus, 'ALL' AS o_orderpriority,
           round(sum(o_totalprice), 2) AS o_totalprice_sum,
           NULL, NULL, NULL, NULL
    FROM orders
    GROUP BY o_orderstatus
    UNION ALL
    SELECT 'A3' AS o_orderstatus,
           CAST(least(cast(floor((l_quantity - mn) / ((mx - mn) / 10.0)) AS int), 9)
                AS VARCHAR) AS o_orderpriority,
           NULL, NULL, NULL, NULL,
           count(*) AS o_totalprice_count
    FROM lineitem,
         (SELECT min(l_quantity) AS mn, max(l_quantity) AS mx FROM lineitem)
    WHERE l_quantity IS NOT NULL
    GROUP BY 2
    """,
    "The reference's multi-key multi-function aggregation with "
    "{col}_{fn} flattened naming (transformations_code.py:168-184), "
    "unioned with the A2 chart-prep single-function category sum "
    "(front_end.py:818) tagged 'ALL', and (R10 fold) the A3 "
    "equal-width 10-bin histogram (front_end.py:798-806) tagged 'A3' "
    "with the bin index riding the priority column and its count "
    "riding o_totalprice_count.",
)
def a1_a3_aggregate_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both grouping granularities come from ONE grouping-sets pass (one
    # scan + one Expand + one shuffle); two plain groupBys would scan
    # orders twice. grouping_id: 0 = (status, priority), 1 = (status).
    o = load_table(spark, sf_dir, "orders")
    base = o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"]],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("o_totalprice_sum"),
        F.round(F.avg("o_totalprice"), 4).alias("o_totalprice_mean"),
        F.round(F.min("o_totalprice"), 2).alias("o_totalprice_min"),
        F.round(F.max("o_totalprice"), 2).alias("o_totalprice_max"),
        F.count("o_totalprice").alias("o_totalprice_count"),
        F.grouping_id().alias("gid"),
    )
    # No union — a post-aggregate filter on gid would be pushed into the
    # Expand and split the plan back into two scans. One conditional
    # projection keeps it a single Aggregate: gid=1 rows become the A2
    # shape (priority 'ALL', non-sum aggregates nulled) in place.
    is_a2 = F.col("gid") == 1
    null_if_a2 = lambda c: F.when(~is_a2, F.col(c)).alias(c)
    a1_a2 = base.select(
        "o_orderstatus",
        F.when(is_a2, F.lit("ALL")).otherwise(F.col("o_orderpriority")).alias(
            "o_orderpriority"
        ),
        "o_totalprice_sum",
        null_if_a2("o_totalprice_mean"),
        null_if_a2("o_totalprice_min"),
        null_if_a2("o_totalprice_max"),
        null_if_a2("o_totalprice_count"),
    )
    # A3 tranche: equal-width 10-bin histogram — tiny stats agg
    # broadcast into the bucket expression; scan pruned to one column.
    li = load_table(spark, sf_dir, "lineitem").select("l_quantity")
    stats = li.agg(F.min("l_quantity").alias("mn"), F.max("l_quantity").alias("mx"))
    width = (F.col("mx") - F.col("mn")) / F.lit(10.0)
    bucket = F.least(
        F.floor((F.col("l_quantity") - F.col("mn")) / width).cast("int"), F.lit(9)
    )
    a3 = (
        li.crossJoin(F.broadcast(stats))
        .where(F.col("l_quantity").isNotNull())
        .groupBy(bucket.cast("string").alias("o_orderpriority"))
        .agg(F.count(F.lit(1)).alias("o_totalprice_count"))
        .select(
            F.lit("A3").alias("o_orderstatus"),
            "o_orderpriority",
            F.lit(None).cast("double").alias("o_totalprice_sum"),
            F.lit(None).cast("double").alias("o_totalprice_mean"),
            F.lit(None).cast("double").alias("o_totalprice_min"),
            F.lit(None).cast("double").alias("o_totalprice_max"),
            "o_totalprice_count",
        )
    )
    return a1_a2.unionByName(a3)


# --------------------------------------------------------------------------
# §2.5 sort / top-k
# --------------------------------------------------------------------------
@query(
    "o3_top_k",
    "O3",
    """
    SELECT p.p_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_name
    ORDER BY revenue DESC, p.p_name
    LIMIT 10
    """,
    "Top-k by aggregate (text_to_sql.py:180's 'top 5 products' shape); "
    "Spark plans TakeOrderedAndProject — no global sort.",
)
def o3_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "p_name")
        .limit(10)
    )


# --------------------------------------------------------------------------
# §2.13 L13: ANALYZE column stats — NEW declared r14 (VERDICT r13 #2,
# the slot freed by the dd6/dd7 fold)
# --------------------------------------------------------------------------
@query(
    "stats1_analyze",
    "L13: ANALYZE column stats, one scan (operators/stats.py) — NEW "
    "declared r14; exact tiers (count / null fraction / min / max / "
    "avg length) hash-checked vs a DuckDB per-column recompute, the "
    "HLL ndv as an oracle-pinned tolerance boolean (the cd_acd "
    "pattern: sketch values differ across engines, the bound does not)",
    """
    WITH cols("column", dtype) AS (
      VALUES ('doc_id', 'bigint'), ('text', 'string'),
             ('lang', 'string'), ('source', 'string'),
             ('n_chars', 'bigint')
    ),
    prof AS (
      SELECT 'doc_id' AS "column", COUNT(*) AS n_rows,
             COUNT(*) - COUNT(doc_id) AS n_nulls,
             MIN(doc_id)::VARCHAR AS min_value,
             MAX(doc_id)::VARCHAR AS max_value,
             CAST(NULL AS DOUBLE) AS avg_length,
             COUNT(DISTINCT doc_id) AS exact_ndv
      FROM documents
      UNION ALL
      SELECT 'text', COUNT(*), COUNT(*) - COUNT(text),
             MIN(text)::VARCHAR, MAX(text)::VARCHAR,
             AVG(LENGTH(text)), COUNT(DISTINCT text) FROM documents
      UNION ALL
      SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang),
             MIN(lang)::VARCHAR, MAX(lang)::VARCHAR,
             AVG(LENGTH(lang)), COUNT(DISTINCT lang) FROM documents
      UNION ALL
      SELECT 'source', COUNT(*), COUNT(*) - COUNT(source),
             MIN(source)::VARCHAR, MAX(source)::VARCHAR,
             AVG(LENGTH(source)), COUNT(DISTINCT source) FROM documents
      UNION ALL
      SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars),
             MIN(n_chars)::VARCHAR, MAX(n_chars)::VARCHAR,
             CAST(NULL AS DOUBLE), COUNT(DISTINCT n_chars) FROM documents
    )
    SELECT c."column", c.dtype, p.n_rows, p.n_nulls,
           p.n_nulls::DOUBLE / p.n_rows AS null_fraction,
           p.min_value, p.max_value, p.avg_length,
           TRUE AS ndv_within_tol
    FROM cols c JOIN prof p ON c."column" = p."column"
    """,
    "The one-scan ANALYZE battery over the documents table: every "
    "per-column measure folds into a single physical Aggregate (no "
    "per-column jobs — the only acceptable cost model at 100 TB). "
    "Exact measures hash-check against DuckDB's independent "
    "per-column recompute; the HLL distinct-count sketch "
    "(approx_count_distinct, mergeable fixed state — the affordable "
    "shape at scale) is compared to an exact COUNT(DISTINCT) audit "
    "tier computed alongside and shipped as the deterministic "
    "boolean |approx - exact| <= max(2, 15%) (~3 sigma at the "
    "default rsd 0.05), which the oracle pins TRUE.",
)
def stats1_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_zero_spark.operators import stats as stats_op

    # spread=False (R14): pure one-scan aggregation — no row-expansion
    # work for the spread to parallelize; the exchange it adds cost
    # ~2x this query's warm time at sf0.1
    docs = load_table(spark, sf_dir, "documents", spread=False)
    rep = stats_op.analyze(docs)
    # exact-ndv audit tier: one extra agg -> 1-row frame -> stack long
    # (the declared query is the AUDIT composition; production runs
    # analyze() alone and keeps the sketch)
    cols = docs.columns
    exact = docs.agg(
        *[F.countDistinct(c).alias(f"__e_{i}") for i, c in enumerate(cols)]
    )
    stack = ", ".join(f"'{c}', __e_{i}" for i, c in enumerate(cols))
    exact_long = exact.select(
        F.expr(f"stack({len(cols)}, {stack}) AS (column, exact_ndv)")
    )
    tol = F.greatest(F.lit(2.0), 0.15 * F.col("exact_ndv"))
    return (
        rep.join(F.broadcast(exact_long), "column")
        .select(
            "column",
            "dtype",
            "n_rows",
            "n_nulls",
            "null_fraction",
            "min_value",
            "max_value",
            "avg_length",
            (F.abs(F.col("approx_ndv") - F.col("exact_ndv")) <= tol).alias(
                "ndv_within_tol"
            ),
        )
    )
