"""Max-key incremental load (operators S2 + S3 + S6).

Port of the reference's incremental extraction
(ETL_Pipeline_Entire/data_extraction.py:59-107):

* first run of a table -> full load (create-if-missing semantics,
  data_extraction.py:63-81);
* later runs -> the watermark ``MAX(key)`` of the target (S3,
  data_extraction.py:86-92, default 0 on empty), then scan
  ``WHERE key > watermark`` (S2, data_extraction.py:95-96) and append
  (S6, data_extraction.py:102).

Differences by design (SURVEY §7 hard-part 4): the reference keys on
whatever the *first column* is and compares it as a quoted string
(lexicographic); we key on a declared, typed key column so the
comparison is typed and the predicate can be pushed into the scan
(parquet min/max pruning / JDBC WHERE pushdown).

The watermark comes from the target's parquet footers
(``footer_watermark``): the row-group max statistics of the key,
read on the driver with pyarrow, so a cycle launches no Spark job to
find it — only the delta append is a job. When the footers cannot
give the exact answer (the key is not a signed integer, a row group
carries no min/max, the target is a nested directory layout) the
loader falls back to reading the target with Spark and running
``watermark_probe``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def watermark_probe(target: DataFrame, key: str, default=0):
    """S3: ``SELECT MAX(key)`` with empty->default (data_extraction.py:86-92)."""
    row = target.agg(F.max(F.col(key)).alias("w")).first()
    w = row["w"] if row is not None else None
    return default if w is None else w


def _is_signed_int(col) -> bool:
    """A parquet leaf whose values Spark reads as a signed integer with
    the physical order of its footer statistics: INT32/INT64 with no
    logical annotation (Spark's int/long) or a signed INT annotation
    (byte/short). Dates, timestamps, decimals and unsigned ints are out."""
    if col.physical_type not in ("INT32", "INT64"):
        return False
    lt = col.logical_type
    if lt.type == "NONE":
        return col.converted_type == "NONE"
    return lt.type == "INT" and json.loads(lt.to_json()).get("isSigned", False)


def footer_watermark(path: str, key: str, default=0):
    """S3 without a Spark job: ``MAX(key)`` over the row-group
    statistics of every part file under ``path`` (the files Spark
    would read: names starting with ``_`` or ``.`` are skipped).
    Empty files and all-null row groups contribute nothing; no value at
    all gives ``default``.

    Returns None when the footers cannot answer exactly — the key is
    not a top-level signed INT32/INT64 column, a non-empty row group
    has no min/max, a file is unreadable, or ``path`` holds
    subdirectories (a partitioned layout) — and the caller falls back
    to ``watermark_probe``. (With ``default=None`` an empty target also
    reads as None; the fallback then gives the same answer.)"""
    import pyarrow.parquet as pq

    try:
        with os.scandir(path) as entries:
            names = sorted((e.name, e.is_file()) for e in entries)
    except OSError:
        return None
    best = None
    for name, is_file in names:
        if name.startswith(("_", ".")):
            continue
        if not is_file:
            return None
        try:
            md = pq.read_metadata(os.path.join(path, name))
        except (OSError, ValueError):  # unreadable footer: ask Spark
            return None
        idx = next((i for i in range(md.num_columns)
                    if md.schema.column(i).path == key), None)
        if idx is None or not _is_signed_int(md.schema.column(idx)):
            return None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if rg.num_rows == 0:
                continue
            st = rg.column(idx).statistics
            if st is not None and st.has_min_max:
                best = st.max if best is None else max(best, st.max)
            elif not (st is not None and st.has_null_count
                      and st.null_count == rg.num_rows):
                return None
    return default if best is None else best


def incremental_scan(source: DataFrame, key: str, watermark) -> DataFrame:
    """S2: predicate scan ``WHERE key > watermark`` (data_extraction.py:95-96).

    Expressed declaratively so Catalyst pushes the filter to the parquet
    footer (row-group pruning) or the JDBC query.
    """
    return source.where(F.col(key) > F.lit(watermark))


@dataclass
class IncrementalLoader:
    """Stateful table-level incremental loader over a target zone.

    ``run`` returns the number of *source-side phases* executed, mirroring
    the reference's status strings (data_extraction.py:81,104) without
    collecting data to the driver.
    """

    target_root: str

    def _path(self, table: str) -> str:
        return os.path.join(self.target_root, table)

    def _exists(self, table: str) -> bool:
        p = self._path(table)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(p)
        )

    def full_refresh(self, source: DataFrame, table: str) -> None:
        """Total refresh: drop + recreate + full copy
        (data_extraction.py:28-56). Schema travels with the parquet write,
        which subsumes the reference's SHOW CREATE TABLE clone (S7)."""
        source.write.mode("overwrite").parquet(self._path(table))

    def incremental(
        self, spark: SparkSession, source: DataFrame, table: str, key: str, default=0
    ) -> str:
        """Incremental load (data_extraction.py:59-107). Returns which
        branch ran: 'initial-full-load' or 'appended-delta'."""
        if not self._exists(table):
            self.full_refresh(source, table)
            return "initial-full-load"
        w = footer_watermark(self._path(table), key, default=default)
        if w is None:
            target = spark.read.parquet(self._path(table))
            w = watermark_probe(target, key, default=default)
        delta = incremental_scan(source, key, w)
        delta.write.mode("append").parquet(self._path(table))
        return "appended-delta"

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.parquet(self._path(table))


def schedule_etl_job(
    spark: SparkSession,
    loader: IncrementalLoader,
    sources: dict[str, DataFrame],
    spec: dict[str, dict],
) -> dict[str, str]:
    """Job-level dispatch (data_extraction.py:110-144): per table, run
    full refresh or incremental per the extraction spec
    ({table: {"mode": "full"|"incremental", "key": col}})."""
    results: dict[str, str] = {}
    for table, cfg in spec.items():
        src = sources[table]
        if cfg.get("mode", "full") == "incremental":
            results[table] = loader.incremental(
                spark, src, table, cfg["key"], cfg.get("default", 0)
            )
        else:
            loader.full_refresh(src, table)
            results[table] = "full-refresh"
    return results


def merge_latest(
    base: DataFrame,
    updates: DataFrame,
    key: str | list[str],
    version_col: str,
) -> DataFrame:
    """Upsert semantics for changelog ingestion: one row per ``key``,
    the row with the greatest ``version_col`` winning (updates beat
    base rows at equal version — the CDC "last writer wins" rule).

    The reference's incremental load is append-only over a
    monotonically increasing key (data_extraction.py:59-107), which
    silently keeps stale versions when the source UPDATES rows; this is
    the matching merge step a changelog feed needs. Plan shape: union +
    one window (single hash shuffle on key) — the engine-side
    equivalent of MERGE INTO on a table format; on a Delta/Iceberg
    lakehouse the same semantics would push down to the format's MERGE,
    here the result overwrites the target zone table like every other
    transform output.
    """
    keys = [key] if isinstance(key, str) else list(key)
    u = base.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    # Final tiebreak: when one BATCH carries two updates with equal
    # (key, version) but different payloads, row_number alone picks
    # whichever arrived first in partition order — nondeterministic
    # across runs/partitionings. The greatest remaining-column struct
    # wins instead (the same order-independent rule scd2_merge uses
    # for same-(key, ts) dedupe), so replays and re-partitions agree.
    payload = [c for c in base.columns if c not in keys and c != version_col]
    order = [F.col(version_col).desc(), F.col("__src").desc()]
    if payload:
        order.append(F.struct(*[F.col(c) for c in payload]).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        u.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )
