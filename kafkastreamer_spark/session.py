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
    # Always use the serialized sort-based shuffle writer. The default
    # bypassMergeThreshold (200) routes every map task of a
    # <=200-partition shuffle through BypassMergeSortShuffleWriter,
    # which opens one file PER REDUCE PARTITION and then concatenates
    # them with mmap/transferTo — M x R tiny files per exchange, with
    # task threads serialized in FileChannelImpl.map/unmap (munmap
    # takes process-wide locks): on 32 cores, stages ran ~2.6x their
    # CPU time on a sub-MB shuffle. With threshold=1 the UnsafeShuffleWriter buffers
    # serialized rows and writes ONE spill file + index per map task —
    # the writer every production shuffle (R > 200) already uses, so
    # local writer choice matches scale instead of tuning for it.
    # Static (core) conf: only a session builder can set it;
    # ensure_engine_conf warns when a session built elsewhere lacks
    # it (correctness is unaffected — it only picks the writer).
    "spark.shuffle.sort.bypassMergeThreshold": "1",
    # Apply AQE inside cached (persisted) plan compilation too. The
    # default (false) compiles every persisted subtree without AQE, so
    # each shuffle under a .persist() runs at the raw shuffle-partition
    # count — 200 near-empty tasks per stage in a default-conf session
    # — and every downstream join is pinned to that width (iterative
    # graph kernels ran 3-5x slower). Purely a physical-planning flag:
    # values are partition-invariant.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Deterministic timestamp semantics for oracle parity.
    "spark.sql.session.timeZone": "UTC",
    # The fixtures store events.ts as parquet TIMESTAMP(NANOS), which
    # Spark cannot read natively; read as long + convert
    # (tables._load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for any pandas-UDF path (similarity / multimodal ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables (region/nation/supplier/part at bench SF) are
    # broadcast-joined; keep the threshold generous.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Write streaming checkpoints (offset and commit logs, state-store
    # deltas, file-sink _spark_metadata) through FileSystem.rename. The
    # default FileContext-based manager renames through FileContext,
    # which on the local FS without libhadoop resolves symlinks by
    # forking a `readlink` child of the JVM for the source and the
    # destination of each file and of its .crc; those forks serialize,
    # so every state partition's commit waits on them (4 partitions on
    # 4 cores: ~1.6 s of commit per 6-batch drain, ~0.05 s here). Each
    # file is still written as temp file + rename, atomic on POSIX and
    # HDFS; no-overwrite is exists-then-rename, the check FileContext
    # itself makes on the local FS (AbstractFileSystem.renameInternal).
    # An object store needs its own manager, set through extra_conf.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


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
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 if unset);
    ``shuffle_partitions`` defaults to the same width so local shuffles
    use every core without tiny-partition overhead. On a real cluster
    callers pass their own master/partition count.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    conf.setdefault("spark.ui.enabled", "false")
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine confs to a session built elsewhere.

    The verification driver constructs its own SparkSession; queries
    still need UTC semantics, the nanos-as-long parquet reader, AQE
    inside cached plans and the FileSystem-based checkpoint manager.
    This is the only place the package sets a conf at runtime: the
    entry adapters and ``sql.run_sql`` call it once per query.

    Every conf is set first; ``spark.conf.isModifiable`` is no guide
    (it is False for the checkpoint manager class, which a runtime set
    does apply). Only a conf the session refuses as static
    (``CANNOT_MODIFY_CONFIG``, as a core conf like the shuffle bypass
    threshold raises) is checked on the running SparkContext instead.
    Nothing is dropped silently: a conf that cannot be set, and a
    static conf the SparkContext lacks, each emit one RuntimeWarning
    per process.
    """
    for k, v in ENGINE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            condition = getattr(exc, "getCondition", lambda: None)()
            if condition != "CANNOT_MODIFY_CONFIG":
                _warn_once(k, f"could not apply engine conf {k}={v}: {exc}")
            elif spark.sparkContext.getConf().get(k) != v:
                _warn_once(
                    k,
                    f"running without the static conf {k}={v}; set it when "
                    "building the session (session.get_spark does)",
                )
    return spark


# confs already warned about: ensure_engine_conf runs once per query
# (__spark_entry__.queries), and one warning per conf is enough
_warned: set[str] = set()


def _warn_once(key: str, message: str) -> None:
    if key not in _warned:
        _warned.add(key)
        warnings.warn(message, RuntimeWarning, stacklevel=3)
