"""Loaders for the driver-generated parquet tables (FIXTURES.md §A).

Plain ``spark.read.parquet`` scans — schema comes from the footer, so
Catalyst gets column pruning and predicate pushdown for free. The one
wrinkle is ``events.ts``: the fixture stores parquet TIMESTAMP(NANOS)
which Spark's vectorized reader rejects; with
``spark.sql.legacy.parquet.nanosAsLong`` (an engine conf, set by
``session.get_spark`` or ``session.ensure_engine_conf``) the column
arrives as a long nanosecond count and is converted to a microsecond
TimestampType column here. The DuckDB oracle reads the same column natively as
TIMESTAMP_NS, so both engines agree after truncation to micros.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES: tuple[str, ...] = (
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
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# One analyzed DataFrame per (session, sf_dir, table): spark.read
# .parquet costs ~90-120 ms per call (file listing + footer schema
# read through py4j), and composed operators re-load the same table
# several times inside one query build — measured ~0.5 s of pure
# driver time per benched query. This memoizes the PLAN handle only —
# no data is cached or persisted, so every action still computes from
# the parquet files; clearCache between bench runs is unaffected.
# Same immutable-fixture contract as operators.dedup._SHINGLE_MEMO
# (testdata is generated once, read-only); a caller that rewrites a
# fixture dir in place must call invalidate_table_memo(spark, sf_dir)
# first. Weak-keyed so a stopped session's entries are collectable.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def invalidate_table_memo(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Drop memoized table plans for ``sf_dir`` (or all dirs when
    None) so the next load re-lists and re-reads the parquet footer."""
    per_session = _TABLE_MEMO.get(spark)
    if not per_session:
        return
    stale = (
        [k for k in per_session if k[0] == sf_dir]
        if sf_dir is not None
        else list(per_session)
    )
    for key in stale:
        per_session.pop(key, None)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    per_session = _TABLE_MEMO.setdefault(spark, {})
    key = (sf_dir, name)
    df = per_session.get(key)
    if df is None:
        path = os.path.join(sf_dir, f"{name}.parquet")
        df = _load_events(spark, path) if name == "events" else spark.read.parquet(path)
        per_session[key] = df
    return df


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # Fixture generation A: parquet TIMESTAMP(NANOS) surfaced as a
        # nanosecond count under nanosAsLong.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Fixture generation B: parquet timestamp[us] without timezone.
        # The session timezone is pinned UTC (session.py), so casting to
        # TIMESTAMP (LTZ) is value-preserving and matches DuckDB's naive
        # timestamps — every downstream ts-arithmetic site (unix_micros,
        # window(), cast("long"), timestamp literals) expects LTZ.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def widen(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure enough partitions for the compute that follows.

    The fixture tables are single parquet files → one scan partition,
    which serializes all downstream work on one core. On a real
    cluster a 100 TB table scans as many thousands of partitions and
    this is a no-op (repartitioning there would be a harmful full
    shuffle — hence the guards, never an unconditional repartition).

    Partition estimation is metadata-only — ``inputFiles()`` plus local
    file sizes against ``spark.sql.files.maxPartitionBytes`` — instead
    of ``df.rdd.getNumPartitions()``, which forced plan materialization
    through the RDD API on every call. When
    the layout can't be cheaply estimated (many files, non-local paths,
    unreadable sizes) the answer is "don't shuffle": every such case is
    a real storage layout where the scan already parallelizes.
    """
    spark = df.sparkSession
    target = min_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    files = df.inputFiles()
    if not files or len(files) >= target:
        return df
    try:
        max_bytes = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
        splits = 0
        for f in files:
            path = f.removeprefix("file://").removeprefix("file:")
            if not path.startswith("/"):
                return df  # non-local URI — real storage, scan parallelizes
            splits += max(1, -(-os.path.getsize(path) // max_bytes))
            if splits >= target:
                return df
    except OSError:
        return df
    return df.repartition(target)


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark byte-valued conf ('134217728', '128m', '1g')."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    if raw.endswith("b"):
        raw = raw[:-1]
    if raw and raw[-1] in units:
        return int(float(raw[:-1]) * units[raw[-1]])
    return int(raw) if raw.isdigit() else default


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every fixture table as a temp view (for spark.sql use)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
