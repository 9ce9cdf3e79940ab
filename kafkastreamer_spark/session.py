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

import functools
import glob
import hashlib
import os
import re
import shutil
import subprocess
import tempfile
import warnings
from pathlib import Path

import pyspark
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
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


# The local FileSystem for a local master, with an in-process chmod(2)
# as setPermission. Without libhadoop, Hadoop's own forks a `chmod`
# child of the JVM for every file it creates, for the file's .crc and
# for every directory: about 15 forks per streaming micro-batch
# (offset, commit and source logs, sink metadata, one parquet file per
# task). The class is on the driver's classpath, which a local master's
# executors share; a cluster keeps its own FileSystem.
NO_FORK_FS = "kafkastreamer_spark.NoForkLocalFileSystem"
_NO_FORK_FS_SOURCE = Path(__file__).with_name("jvm") / "NoForkLocalFileSystem.java"


@functools.cache
def _no_fork_fs_dir() -> str | None:
    """The classpath dir holding the compiled ``NO_FORK_FS``, compiled
    once per machine into a cache dir keyed by the source's hash; None,
    with one RuntimeWarning, when it cannot be compiled."""
    source = _NO_FORK_FS_SOURCE.read_bytes()
    out = Path.home() / ".cache" / "kafkastreamer_spark" / hashlib.sha256(source).hexdigest()[:16]
    if out.is_dir():
        return str(out)
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    jars = glob.glob(os.path.join(spark_home, "jars", "hadoop-client-api-*.jar"))
    javac = shutil.which("javac")
    try:
        if not (javac and jars):
            raise OSError("no javac or no hadoop-client-api jar")
        out.parent.mkdir(parents=True, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=out.parent) as tmp:
            classes = os.path.join(tmp, "classes")
            subprocess.run(
                [javac, "--release", "17", "-cp", jars[0], "-d", classes, str(_NO_FORK_FS_SOURCE)],
                check=True,
                capture_output=True,
                text=True,
                timeout=300,
            )
            try:
                os.replace(classes, out)
            except OSError:
                # another process compiled it first
                if not out.is_dir():
                    raise
    except (OSError, subprocess.SubprocessError) as exc:
        detail = getattr(exc, "stderr", None) or exc
        warnings.warn(
            f"could not compile {_NO_FORK_FS_SOURCE.name}, keeping Hadoop's local "
            f"FileSystem (one chmod fork per created file): {detail}",
            RuntimeWarning,
            stacklevel=4,
        )
        return None
    return str(out)


def _no_fork_fs_classpath() -> str | None:
    """The classpath entry of ``NO_FORK_FS``, or None when a session
    built now could not load it: it did not compile, or a JVM already
    running (a session was built before in this process) was launched
    without it and cannot gain it; ``fs.file.impl`` naming a missing
    class breaks every file read."""
    classes = _no_fork_fs_dir()
    if classes is None or SparkContext._jvm is None:
        return classes
    try:
        SparkContext._jvm.java.lang.Class.forName(NO_FORK_FS)
    except Py4JJavaError:
        return None
    return classes


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
    callers pass their own master/partition count. A local master also
    gets ``NO_FORK_FS`` as the ``file:`` FileSystem, its classes
    appended to ``spark.driver.extraClassPath``.
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
    classes = _no_fork_fs_classpath() if re.fullmatch(r"local(\[.*\])?", master) else None
    if classes:
        classpath = filter(None, (conf.get("spark.driver.extraClassPath"), classes))
        conf["spark.driver.extraClassPath"] = os.pathsep.join(classpath)
        conf.setdefault("spark.hadoop.fs.file.impl", NO_FORK_FS)
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

    Every conf is set; ``spark.conf.isModifiable`` is no guide (it is
    False for the checkpoint manager class, which a runtime set does
    apply). A conf the session refuses as static (``CANNOT_MODIFY_CONFIG``,
    as a core conf like the shuffle bypass threshold raises) is not set
    again in this process, since the refused set costs a py4j exception
    (~7 ms) per call. It is checked on the running SparkContext instead,
    once per SparkContext: a static conf cannot change while its context
    runs, and copying the context's conf costs ~14 ms. Nothing is dropped
    silently: a conf that cannot be set, and a static conf the
    SparkContext lacks, each emit one RuntimeWarning per process.
    """
    for k, v in ENGINE_CONF.items():
        if k not in _static:
            try:
                spark.conf.set(k, v)
                continue
            except Exception as exc:
                condition = getattr(exc, "getCondition", lambda: None)()
                if condition != "CANNOT_MODIFY_CONFIG":
                    _warn_once(k, f"could not apply engine conf {k}={v}: {exc}")
                    continue
                _static.add(k)
        context_key = (spark.sparkContext.applicationId, k)
        if context_key in _checked:
            continue
        _checked.add(context_key)
        if spark.sparkContext.getConf().get(k) != v:
            _warn_once(
                k,
                f"running without the static conf {k}={v}; set it when "
                "building the session (session.get_spark does)",
            )
    return spark


# confs spark.conf.set refused as static: which keys those are depends
# only on the Spark build
_static: set[str] = set()

# (applicationId, key) of each static conf already checked on that
# SparkContext
_checked: set[tuple[str, str]] = set()

# confs already warned about: ensure_engine_conf runs once per query
# (__spark_entry__.queries), and one warning per conf is enough
_warned: set[str] = set()


def _warn_once(key: str, message: str) -> None:
    if key not in _warned:
        _warned.add(key)
        warnings.warn(message, RuntimeWarning, stacklevel=3)
