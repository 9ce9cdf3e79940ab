"""SparkSession builder tuned for the engine.

The reference runs one JVM per stage x partition (SURVEY.md §3 EP3);
here a single SparkSession owns the whole DAG and parallelism comes
from partitioning. Defaults are sized for local[N] testing but every
knob scales to a multi-executor cluster: AQE handles runtime
re-planning and skew joins, shuffle partitions are explicit, and the
session timezone is pinned to UTC so timestamp semantics are stable
across engines (the DuckDB oracle runs in UTC-naive time).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

ENGINE_CONF: dict[str, str] = {
    # Adaptive execution: runtime partition coalescing + skew-join
    # handling — the scale posture for 100 TB inputs (SURVEY.md §4.3).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Always use the serialized sort-based shuffle writer (r14, guide
    # §2.2/§7). The default bypassMergeThreshold (200) routes every
    # map task of a <=200-partition shuffle through
    # BypassMergeSortShuffleWriter, which opens one file PER REDUCE
    # PARTITION and then concatenates them with mmap/transferTo —
    # M x R tiny files per exchange. jstack during the bench showed
    # task threads serialized in FileChannelImpl.map/unmap (munmap
    # takes process-wide locks), the cause of the 32-core
    # anti-scaling cluster in PERF_r13 (q2 0.25, dedup_exact 0.29,
    # text_chunk_tokens 0.32 low/high-core ratios): stage runtime 12 s
    # vs 4.6 s CPU on a 0.9 MB shuffle. With threshold=1 the
    # UnsafeShuffleWriter buffers serialized rows and writes ONE
    # spill file + index per map task — the exact writer every
    # production shuffle (R > 200) already uses, so this makes local
    # writer choice match scale instead of tuning for it. Interleaved
    # A/B at sf0.1: dedup_exact 1.89->0.75 s, q2 1.94->1.41,
    # text_chunk_tokens 1.14->0.47, dedup_ngram_jaccard 2.51->1.69,
    # q3 1.25->0.83; no query measured worse at 32 or 8 cores.
    # Static (core) conf: applied by get_spark's builder; a session
    # built elsewhere can't set it at runtime, and
    # ensure_engine_conf warns when it is missing (correctness is
    # unaffected — it only picks the writer implementation).
    "spark.shuffle.sort.bypassMergeThreshold": "1",
    # Apply AQE inside cached (persisted) plan compilation too — the
    # default pins every shuffle under a .persist() to the raw
    # shuffle-partition count and pins downstream joins to that width
    # (see tables.load_table, which also sets this for driver-built
    # sessions).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Deterministic timestamp semantics for oracle parity.
    "spark.sql.session.timeZone": "UTC",
    # The driver fixtures store events.ts as parquet TIMESTAMP(NANOS)
    # which Spark cannot read natively; read as long + convert
    # (tables._load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for any pandas-UDF path (similarity / multimodal ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables (region/nation/supplier/part at bench SF) are
    # broadcast-joined; keep the threshold generous.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


#: ENGINE_CONF entries only a session builder can set (Spark core
#: confs); ensure_engine_conf checks them on the running SparkContext
STATIC_CONF = ("spark.shuffle.sort.bypassMergeThreshold",)

ROCKSDB_STATE_CONF = {
    # Large streaming state (wide key spaces, long watermarks) should
    # not live on the JVM heap: RocksDB keeps it off-heap + on local
    # disk with incremental checkpointing — the 100 TB posture
    # (SURVEY.md §4.3). Config-only; no code changes anywhere.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def get_spark(
    app_name: str = "kafkastreamer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state: bool = False,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 if unset);
    ``shuffle_partitions`` defaults to the same width so local shuffles
    use every core without tiny-partition overhead. On a real cluster
    callers pass their own master/partition count.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.setdefault("spark.ui.enabled", "false")
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    if rocksdb_state:
        conf.update(ROCKSDB_STATE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-built session.

    The verification driver constructs its own SparkSession; queries
    still need UTC semantics and the nanos-as-long parquet reader.
    Nothing is dropped silently: a conf that cannot be set, and a
    static conf (``STATIC_CONF``) the running SparkContext lacks, each
    emit one RuntimeWarning per process.
    """
    for k, v in ENGINE_CONF.items():
        if k in STATIC_CONF:
            if spark.sparkContext.getConf().get(k) != v:
                _warn_once(
                    k,
                    f"running without the static conf {k}={v}; set it when "
                    "building the session (session.get_spark does)",
                )
            continue
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            _warn_once(k, f"could not apply engine conf {k}={v}: {exc}")
    return spark


# confs already warned about: ensure_engine_conf runs once per query
# (__spark_entry__.queries), and one warning per conf is enough
_warned: set[str] = set()


def _warn_once(key: str, message: str) -> None:
    if key not in _warned:
        _warned.add(key)
        warnings.warn(message, RuntimeWarning, stacklevel=3)
