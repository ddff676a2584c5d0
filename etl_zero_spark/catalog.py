"""Zone model + table registry.

The reference's medallion zones are four MySQL *databases*
(source -> raw_db -> silver_db_mapping -> silver_db -> golden_db;
reference: ETL_Pipeline_Entire/data_extraction.py:13-16,
mapping.py:14-19, transformations_code.py:190-196, front_end.py:691-697).
Here a zone is a directory of parquet tables plus temp-view
registration, so every zone table is reachable from ``spark.sql`` and
all movement between zones is a lazy DataFrame write — nothing is
pulled to the driver.

Also carries the PK/FK side metadata the mapper needs: Spark's catalog
has no constraint objects (the reference introspects them from MySQL,
mapping.py:39-65), so they travel as plain dicts.

The query surface (``register_views``) keeps a per-session view cache
so a question does not re-list files, re-infer the parquet schema and
re-read footers for tables that have not changed. It is scoped to the
live ``SparkSession`` (it lives on the session object, so a session
rebuilt after ``stop()`` starts empty), keyed by table path (two
``sf_dir``s with the same table names do not evict each other), and
checked on every call against an ``os.stat`` fingerprint of the
table's files: any rewrite, added or removed part file reloads through
``load_table``, and a table that has disappeared is dropped. It holds
only the lazy DataFrame (its plan and the file listing taken when it
was built), never data.
"""

from __future__ import annotations

import os
import stat
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Canonical fixture tables (TESTDATA.md) in FK-dependency order.
FIXTURE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: PK metadata for the fixture star schema (side metadata; Spark's
#: catalog has no PK/FK — SURVEY §1.1).
FIXTURE_PKS: dict[str, str] = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",  # composite in spirit; first key column
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

#: FK metadata: table -> {fk_column: (parent_table, parent_column)}.
FIXTURE_FKS: dict[str, dict[str, tuple[str, str]]] = {
    "nation": {"n_regionkey": ("region", "r_regionkey")},
    "customer": {"c_nationkey": ("nation", "n_nationkey")},
    "supplier": {"s_nationkey": ("nation", "n_nationkey")},
    "orders": {"o_custkey": ("customer", "c_custkey")},
    "lineitem": {
        "l_orderkey": ("orders", "o_orderkey"),
        "l_partkey": ("part", "p_partkey"),
        "l_suppkey": ("supplier", "s_suppkey"),
    },
    "embeddings": {"vec_id": ("documents", "doc_id")},
}


#: Tables smaller than this skip the under-parallel-scan spread: a
#: dimension this small is broadcast-join fodder and spreading it buys
#: nothing while adding a shuffle stage in front of every use.
_SPREAD_MIN_BYTES = 256 * 1024

#: Minimum average uncompressed bytes/row of a single column for a
#: table to count as document-class (see _spread_if_underparallel).
_SPREAD_MIN_COL_WIDTH = 128.0


def _max_avg_col_width(path: str) -> float | None:
    """Largest per-column average uncompressed bytes/row, from parquet
    footer metadata only (no data read). For a directory table the
    first part file is a representative sample. None when unreadable."""
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            parts = [e.path for e in os.scandir(path)
                     if e.is_file() and e.name.endswith(".parquet")]
            if not parts:
                return None
            path = parts[0]
        md = pq.ParquetFile(path).metadata
        if md.num_rows == 0:
            return None
        # only string/binary leaves: the spread targets text-expression
        # work, and counting numeric array payloads (embeddings) here
        # would re-admit the vector tables the exemption exists for
        per_col: dict[str, int] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for c in range(g.num_columns):
                col = g.column(c)
                if col.physical_type != "BYTE_ARRAY":
                    continue
                per_col[col.path_in_schema] = (
                    per_col.get(col.path_in_schema, 0)
                    + col.total_uncompressed_size
                )
        if not per_col:
            return None
        return max(per_col.values()) / md.num_rows
    except Exception:  # noqa: BLE001 — metadata probe must never fail a read
        return None


def _table_bytes(path: str) -> int | None:
    """On-disk bytes of a parquet table (file or small directory);
    None when unknown or when the directory holds many files — a
    many-file table is already scan-parallel and never needs the
    spread, so the caller treats None as 'big'.

    Counts only ``*.parquet`` entries (consistent with
    _max_avg_col_width) — metadata files (_SUCCESS, .crc) are not scan
    input — and treats a directory containing subdirectories
    (partitioned layout) as size-unknown rather than summing the top
    level to ~0 bytes, which would silently misread a nested table as
    'below minimum' (ADVICE r14)."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            total = 0
            for i, entry in enumerate(os.scandir(path)):
                if i >= 64 or entry.is_dir():
                    return None
                if entry.is_file() and entry.name.endswith(".parquet"):
                    total += entry.stat().st_size
            return total
    except OSError:
        return None
    return None


#: Spark byte-string unit letters, in ascending powers of 1024.
_BYTE_SUFFIXES = "kmgtp"


def _parse_byte_conf(v, default: int) -> int:
    """Parse a Spark byte-string conf value ('134217728', '134217728b',
    '128m', '64mb', '1g', '512k', '1p') into bytes: every suffix
    ``JavaUtils.byteStringAs`` accepts (b, k/kb, m/mb, g/gb, t/tb,
    p/pb, binary multiples). Unparseable values fall back to
    ``default``."""
    s = str(v).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in _BYTE_SUFFIXES:
        mult = 1024 ** (_BYTE_SUFFIXES.index(s[-1]) + 1)
        s = s[:-1]
    try:
        return int(float(s) * mult) if s else default
    except ValueError:
        return default


def _spread_if_underparallel(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-robin repartition a scan whose split count is far below
    the session's parallelism (guide §2.5, input skew: a single small
    parquet file yields ONE scan task, serializing every downstream
    per-row expression — shingle/n-gram explodes, signatures,
    tokenization — while the other cores idle; measured 4.4x on the
    sf0.1 gram explode, R14).

    Scale-adaptive by construction: the split estimate is
    ceil(bytes / maxPartitionBytes), so any table big enough to span
    ~half the cluster's cores is returned untouched — at production
    scale this is a no-op and no extra shuffle is ever added. The
    round-robin exchange this adds on small inputs is a few MB;
    deterministic under retries (sortBeforeRepartition is on by
    default), and Catalyst still pushes filters/pruning through a
    Repartition node into the scan.

    Only DOCUMENT-CLASS tables qualify — some column averages >=
    _SPREAD_MIN_COL_WIDTH uncompressed bytes/row (parquet footer
    metadata, no data read): the per-row expression work this spread
    parallelizes (shingle/n-gram explodes, signatures, tokenization,
    PII regexes) scales with text payload, and only such tables have
    any. Measured at sf0.1: spreading documents (text ~300 B/row) cut
    the gram explode 4.4x, while spreading narrow fact/dimension
    tables (every column <= 24 B/row) only taxed their scans with a
    shuffle (+0.3-1s per query across the lineitem/orders/events
    family), and spreading the 2000-row embeddings table multiplied
    tiny Arrow batches into python task launches (1.5x slower on
    sim2_sim3 — vector kernels parallelize behind their own cogroup
    exchanges already)."""
    size = _table_bytes(path)
    if size is None or size < _SPREAD_MIN_BYTES:
        return df
    width = _max_avg_col_width(path)
    if width is None or width < _SPREAD_MIN_COL_WIDTH:
        return df
    max_pb = _parse_byte_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"),
        134217728,
    )
    parallelism = spark.sparkContext.defaultParallelism
    splits = max(1, -(-size // max_pb))
    if splits * 2 <= parallelism:
        return df.repartition(parallelism)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = True
) -> DataFrame:
    """Scan one fixture table (operator S1: full table scan).

    ``spread=False`` opts out of the under-parallel-scan spread
    (_spread_if_underparallel) for callers whose heavy work is
    shuffle-structured rather than scan-stage: the staged corpus
    pipeline caches ~10 intermediate frames, and spreading its tiny
    input only multiplies cached partitions and task launches
    (measured +2s steady state and unstable 45-60s outliers under
    cache pressure at sf0.1, R14).

    Reference does ``SELECT * FROM t`` into pandas
    (data_extraction.py:46); here it is a lazy parquet scan — Catalyst
    prunes columns and pushes predicates down to the reader, so
    "SELECT *" never actually happens unless the query needs it.

    ``events.ts`` is normalized to TimestampType based on the OBSERVED
    parquet dtype (fixtures have shipped all three over time):

    * ``timestamp_ntz`` — Spark 4's reading of plain ``timestamp[us]``
      parquet; cast to TimestampType. Value-stable because the session
      timezone is pinned UTC (session.RUNTIME_CONFS).
    * ``bigint`` — TIMESTAMP(NANOS) parquet read under
      ``spark.sql.legacy.parquet.nanosAsLong``; integer-divide to µs.
    * ``timestamp`` — already normalized; pass through.

    Matching on the observed dtype (not an assumed fixture encoding) is
    what keeps every downstream consumer — batch windows, sessionize,
    as-of join, the DuckDB ``CAST(ts AS TIMESTAMP)`` oracles — stable
    when the fixture's physical encoding changes.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events":
        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_dtype == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _spread_if_underparallel(spark, df, path) if spread else df


#: Attribute under which a SparkSession carries its query-surface view
#: cache, {table path: (fingerprint, DataFrame)}. Living on the session
#: object scopes the cache to it: a session rebuilt after ``stop()`` is
#: a new object with an empty cache, and the cache is freed with its
#: session. Holds lazy DataFrames only, never data.
_VIEW_CACHE_ATTR = "_etl_zero_view_cache"


def _fingerprint(path: str) -> tuple | None:
    """Cheap ``os.stat`` identity of a table's files; None when the
    table is gone. A single-file table is (inode, size, mtime_ns); a
    directory table is the sorted (name, size, mtime_ns) of its
    entries, so a rewrite, an added or a removed part file changes it."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_ino, st.st_size, st.st_mtime_ns)
        with os.scandir(path) as entries:
            stats = [(e.name, e.stat()) for e in entries]
        return tuple(sorted((n, s.st_size, s.st_mtime_ns) for n, s in stats))
    except (FileNotFoundError, NotADirectoryError):
        return None


def register_views(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Register each fixture table as a temp view (query-surface entry Q1).

    Mirrors the reference exposing every silver table to free SQL
    (front_end.py:215-225) — after this, ``spark.sql`` covers the whole
    SELECT surface.

    Reuses the DataFrame an earlier call loaded for the same table path
    in the same live session while the table's ``_fingerprint`` is
    unchanged; otherwise (first call, rewritten files, new session) it
    loads through ``load_table``. The cache is keyed by path, so
    callers alternating between ``sf_dir``s do not evict each other,
    and holds only the lazy DataFrame, not data. A table whose files
    are gone is left out of the result and dropped from the cache. The
    view is (re)created on every call, so a name a caller repointed in
    the meantime is pointed back at the table.
    """
    cache = vars(spark).setdefault(_VIEW_CACHE_ATTR, {})
    out: dict[str, DataFrame] = {}
    for name in tables or FIXTURE_TABLES:
        path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
        fp = _fingerprint(path)
        if fp is None:
            cache.pop(path, None)
            continue
        hit = cache.get(path)
        if hit is not None and hit[0] == fp:
            df = hit[1]
        else:
            df = load_table(spark, sf_dir, name)
            cache[path] = (fp, df)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


@dataclass
class Zone:
    """One medallion zone = a directory of parquet tables.

    Replaces the reference's per-zone MySQL database + to_sql round-trip
    (data_extraction.py:40-51 clones schema then inserts in 1,000-row
    chunks through the driver). Spark writes schema with the data and
    the write is executor-parallel.
    """

    root: str
    name: str

    def path(self, table: str) -> str:
        return os.path.join(self.root, self.name, table)

    def list_tables(self) -> list[str]:
        zdir = os.path.join(self.root, self.name)
        if not os.path.isdir(zdir):
            return []
        return sorted(
            d for d in os.listdir(zdir) if os.path.isdir(os.path.join(zdir, d))
        )

    def read(
        self, spark: SparkSession, table: str, schema: StructType | None = None
    ) -> DataFrame:
        """Scan a zone table. Without ``schema`` Spark infers it from a
        part-file footer, which costs one Spark job; a caller that
        already holds the schema of what it wrote passes it and the scan
        launches none (Spark reads every field of it as nullable, as
        the parquet write stored it)."""
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self.path(table))

    def write(self, df: DataFrame, table: str, mode: str = "overwrite") -> None:
        """S5 overwrite / S6 append sink (data_extraction.py:40-51,80)."""
        df.write.mode(mode).parquet(self.path(table))

    def write_partitioned(
        self,
        df: DataFrame,
        table: str,
        partition_cols: list[str] | str,
        mode: str = "overwrite",
    ) -> None:
        """Hive-layout partitioned parquet (``.../col=value/...``): the
        at-rest arrangement that makes partition PRUNING possible — a
        predicate on a partition column skips whole directories at
        planning time instead of reading and filtering 100 TB of
        files. Use for the columns every query filters on (event dates,
        tenant, source); high-cardinality keys belong in
        ``write_bucketed`` instead (one directory per value is the
        small-files anti-pattern). Pruning is asserted on the physical
        plan in tests/test_plan_quality.py."""
        cols = [partition_cols] if isinstance(partition_cols, str) else partition_cols
        df.write.mode(mode).partitionBy(*cols).parquet(self.path(table))

    def drop(self, table: str) -> None:
        """S7's ``DROP TABLE IF EXISTS`` analog (data_extraction.py:38-39)."""
        import shutil

        shutil.rmtree(self.path(table), ignore_errors=True)

    def write_csv(self, df: DataFrame, table: str, mode: str = "overwrite") -> str:
        """S9 CSV sink (mapping.py:183-185 ``self.dataset.to_csv``).

        Executor-parallel, header on, values quoted where needed — unlike
        the reference's single-threaded driver-side ``to_csv``. Returns
        the directory written (Spark CSV targets are directories of
        part files — one per task, which is what makes the write scale).
        """
        path = self.path(table) + "_csv"
        (
            df.write.mode(mode)
            .option("header", True)
            # the CSV *writer* trims cell whitespace by default — a data
            # sink must be lossless, so quote-and-keep instead
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(path)
        )
        return path

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_col: str,
        n_buckets: int = 64,
        sort_col: str | None = None,
    ) -> str:
        """Bucketed parquet write: rows hash-partition into ``n_buckets``
        files by ``bucket_col`` and sort within each bucket.

        The 100 TB join lever: two tables bucketed on the same key with
        the same bucket count equi-join WITHOUT a shuffle (Spark's scan
        reports the hashed output partitioning, so SortMergeJoin skips
        both exchanges) — the fact table's shuffle is paid once at write
        time instead of on every join. Same for groupBy on the bucket
        key. Registers a catalog table (bucket metadata lives in the
        metastore) named ``{zone}_{table}_bucketed``; read it back with
        ``read_bucketed``/``spark.table``, NOT ``spark.read.parquet``
        (a bare path read loses the bucketing metadata).
        """
        name = f"{self.name}_{table}_bucketed"
        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, bucket_col)
            .sortBy(sort_col or bucket_col)
            .option("path", self.path(table) + "_bucketed")
            .saveAsTable(name)
        )
        return name

    def read_bucketed(self, spark: SparkSession, table: str) -> DataFrame:
        """Catalog read of a ``write_bucketed`` table (keeps the bucket
        metadata that makes joins shuffle-free)."""
        return spark.table(f"{self.name}_{table}_bucketed")

    def read_csv(self, spark: SparkSession, table: str, schema=None) -> DataFrame:
        """Read back an S9 CSV table; pass the original schema to avoid
        the inference scan (and its string-typed surprises)."""
        path = self.path(table) + "_csv"
        reader = spark.read.option("header", True)
        if schema is not None:
            reader = reader.schema(schema)
        else:
            reader = reader.option("inferSchema", True)
        return reader.csv(path)

    def write_orc(self, df: DataFrame, table: str, mode: str = "overwrite") -> str:
        """ORC sink (columnar alternative to parquet, reader built into
        Spark): same executor-parallel write path and footer statistics,
        for pipelines whose downstream (Hive/Trino ORC estates) reads
        ORC. Zstd-compressed — the current-generation default."""
        path = self.path(table) + "_orc"
        df.write.mode(mode).option("compression", "zstd").orc(path)
        return path

    def read_orc(self, spark: SparkSession, table: str) -> DataFrame:
        """Read back a ``write_orc`` table (schema travels in the ORC
        footer — no inference pass needed, unlike CSV/JSONL)."""
        return spark.read.orc(self.path(table) + "_orc")

    def write_jsonl(self, df: DataFrame, table: str, mode: str = "overwrite") -> str:
        """JSON-lines sink (one object per line, executor-parallel like
        the CSV sink) — the interchange format for event feeds and
        labeling tools. Timestamps serialize ISO-8601; binary columns
        base64 (Spark's JSON writer defaults), so round-trips need the
        original schema like ``read_csv``."""
        path = self.path(table) + "_jsonl"
        # default timestampFormat truncates to millis — a sink must be
        # lossless, so pin microsecond precision (mirrored on read)
        df.write.mode(mode).option(
            "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
        ).json(path)
        return path

    def snapshot(self, table: str):
        """The zone table as a versioned snapshot table
        (sources/snapshots.SnapshotTable): atomic manifest commits,
        time travel, rollback, incremental reads, copy-on-write upsert
        and vacuum — the transactional upgrade of the plain
        ``write``/``read`` path for tables whose refreshes race
        readers or need history. Lives beside the plain layout at
        ``{table}_snapshot`` so both coexist."""
        from etl_zero_spark.sources.snapshots import SnapshotTable

        return SnapshotTable(self.path(table) + "_snapshot")

    def read_jsonl(self, spark: SparkSession, table: str, schema=None) -> DataFrame:
        """Read back a ``write_jsonl`` table; pass the original schema
        to skip inference (and keep integer widths / timestamp types)."""
        path = self.path(table) + "_jsonl"
        reader = spark.read.option(
            "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
        )
        if schema is not None:
            reader = reader.schema(schema)
        return reader.json(path)


@dataclass
class Warehouse:
    """The four zones (S8 database DDL analog, front_end.py:850-859)."""

    root: str
    pks: dict[str, str] = field(default_factory=dict)
    fks: dict[str, dict[str, tuple[str, str]]] = field(default_factory=dict)

    @property
    def raw(self) -> Zone:
        return Zone(self.root, "raw")

    @property
    def silver_mapping(self) -> Zone:
        return Zone(self.root, "silver_mapping")

    @property
    def silver(self) -> Zone:
        return Zone(self.root, "silver")

    @property
    def golden(self) -> Zone:
        return Zone(self.root, "golden")

    def zone(self, name: str) -> Zone:
        return Zone(self.root, name)

    #: Zone names, in medallion order (front_end.py:850-859).
    ZONES = ("raw", "silver_mapping", "silver", "golden")

    def create_databases(self, spark: SparkSession, prefix: str = "") -> list[str]:
        """S8 catalog parity: materialize the four zones as real catalog
        databases (front_end.py:691,850-859 ``CREATE DATABASE``), each
        LOCATION'd inside the warehouse root so ``saveAsTable`` lands in
        the same directory layout the Zone file API uses. ``prefix``
        namespaces the databases (shared metastores).

        ``prefix`` must be a plain identifier fragment (it is spliced
        into DDL), and the LOCATION path is escaped by doubling single
        quotes — stripping them would silently point the database at a
        different directory."""
        import re

        if prefix and not re.fullmatch(r"[A-Za-z0-9_]+", prefix):
            raise ValueError(
                f"prefix {prefix!r} is not a valid identifier fragment "
                "(letters, digits, underscores only)"
            )
        made = []
        for z in self.ZONES:
            name = f"{prefix}{z}"
            loc = os.path.join(self.root, z).replace("'", "''")
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {name} LOCATION '{loc}'")
            made.append(name)
        return made

    def drop_databases(self, spark: SparkSession, prefix: str = "") -> None:
        """S8's DROP DATABASE analog (front_end.py:850-859), CASCADE like
        the reference's drop-and-recreate reset."""
        import re

        if prefix and not re.fullmatch(r"[A-Za-z0-9_]+", prefix):
            raise ValueError(
                f"prefix {prefix!r} is not a valid identifier fragment "
                "(letters, digits, underscores only)"
            )
        for z in self.ZONES:
            spark.sql(f"DROP DATABASE IF EXISTS {prefix}{z} CASCADE")
