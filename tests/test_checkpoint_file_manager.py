"""Streaming checkpoints are written through Spark's
FileSystem-based checkpoint manager (``session.ENGINE_CONF``), on
sessions built by ``get_spark`` and on sessions built elsewhere once
``ensure_engine_conf`` ran. The offset and commit logs rely on its
no-overwrite rename, state files on its overwrite, and checkpoints
written under Spark's default FileContext-based manager restart under
it unchanged."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafkastreamer_spark.session import ENGINE_CONF, ensure_engine_conf
from kafkastreamer_spark.streaming import statedir
from kafkastreamer_spark.streaming.core import running_count
from kafkastreamer_spark.streaming.sources import file_source

KEY = "spark.sql.streaming.checkpointFileManagerClass"
PKG = "org.apache.spark.sql.execution.streaming.checkpointing."
SCHEMA = StructType(
    [StructField("key", StringType()), StructField("value", LongType())]
)


def _manager(spark, path: str, fs_impl: str | None = None):
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    if fs_impl is not None:
        conf.set("fs.file.impl", fs_impl)
        # FileSystem.get caches one instance per scheme, whatever the conf
        conf.set("fs.file.impl.disable.cache", "true")
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), conf
    )


def _manager_class(spark, path: str) -> str:
    return _manager(spark, path).getClass().getName()


@pytest.fixture
def plain(spark):
    """A session without the engine's checkpoint manager, as a session
    built with plain ``SparkSession.builder`` starts out."""
    session = spark.newSession()
    session.conf.unset(KEY)
    return session


def test_engine_sessions_use_the_filesystem_manager(spark, plain, tmp_path):
    assert ENGINE_CONF[KEY] == PKG + "FileSystemBasedCheckpointFileManager"
    assert _manager_class(spark, str(tmp_path)) == ENGINE_CONF[KEY]

    assert _manager_class(plain, str(tmp_path)) == PKG + "FileContextBasedCheckpointFileManager"
    ensure_engine_conf(plain)
    assert _manager_class(plain, str(tmp_path)) == ENGINE_CONF[KEY]


def _class_chain(obj) -> list[str]:
    names, cls = [], obj.getClass()
    while cls is not None:
        names.append(cls.getName())
        cls = cls.getSuperclass()
    return names


def _write_atomic(manager, path, data: bytes, overwrite: bool) -> None:
    out = manager.createAtomic(path, overwrite)
    out.write(bytearray(data))
    out.close()


def _overwrite(manager, spark, directory) -> tuple[bytes, list[str]]:
    """Write ``1.delta`` twice, the second time with
    ``overwriteIfPossible=True``; its content and the dir's listing."""
    directory.mkdir()
    target = directory / "1.delta"
    path = spark._jvm.org.apache.hadoop.fs.Path(str(target))
    _write_atomic(manager, path, b"first", overwrite=False)
    _write_atomic(manager, path, b"third", overwrite=True)
    return target.read_bytes(), sorted(os.listdir(directory))


def test_create_atomic_refuses_to_overwrite(spark, tmp_path):
    """The offset and commit logs write batch N's file with
    ``createAtomic(path, overwriteIfPossible=False)``; a second writer
    of the same batch must fail, not replace the first one's file."""
    target = tmp_path / "0"
    manager = _manager(spark, str(tmp_path))
    path = spark._jvm.org.apache.hadoop.fs.Path(str(target))

    _write_atomic(manager, path, b"first", overwrite=False)
    assert target.read_bytes() == b"first"

    with pytest.raises(Py4JJavaError) as err:
        _write_atomic(manager, path, b"second", overwrite=False)
    # Spark raises its SparkFileAlreadyExistsException subclass, which
    # HDFSMetadataLog catches as the Hadoop class
    assert "org.apache.hadoop.fs.FileAlreadyExistsException" in _class_chain(
        err.value.java_exception
    )
    assert target.read_bytes() == b"first"

    # overwriteIfPossible=True (state deltas and snapshots) replaces the
    # file, as rename(2) does under the session's plain LocalFileSystem,
    # and leaves no temp file or .crc beside it
    state = tmp_path / "state"
    assert _overwrite(manager, spark, state) == (b"third", [".1.delta.crc", "1.delta"])


def test_create_atomic_on_sessions_built_elsewhere(spark, plain, tmp_path):
    """What a session not built by ``get_spark`` does today. Its default
    FileContext-based manager replaces the file on overwrite. After
    ``ensure_engine_conf`` the FileSystem-based manager writes through
    the ``file:`` FileSystem of the JVM, which Hive's jars make their
    ProxyLocalFileSystem when the session builder did not name one; its
    rename refuses an existing target, so the overwrite keeps the first
    file and leaves its temp file and .crc beside it."""
    refused = tmp_path / "refused"
    refused.mkdir()
    context = _manager(plain, str(refused))
    assert context.getClass().getName() == PKG + "FileContextBasedCheckpointFileManager"
    path = spark._jvm.org.apache.hadoop.fs.Path(str(refused / "0"))
    _write_atomic(context, path, b"first", overwrite=False)
    with pytest.raises(Py4JJavaError) as err:
        _write_atomic(context, path, b"second", overwrite=False)
    assert "org.apache.hadoop.fs.FileAlreadyExistsException" in _class_chain(
        err.value.java_exception
    )
    assert (refused / "0").read_bytes() == b"first"

    assert _overwrite(context, spark, tmp_path / "context") == (
        b"third",
        [".1.delta.crc", "1.delta"],
    )

    ensure_engine_conf(plain)
    proxy = _manager(plain, str(tmp_path), fs_impl="org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")
    assert proxy.getClass().getName() == ENGINE_CONF[KEY]
    content, names = _overwrite(proxy, spark, tmp_path / "proxy")
    assert content == b"first"
    temp = [n for n in names if ".tmp" in n]
    assert [n for n in names if n not in temp] == [".1.delta.crc", "1.delta"]
    assert len(temp) == 2 and {n.rsplit(".tmp", 1)[1] for n in temp} == {"", ".crc"}


def _append(spark, path: str, rows) -> None:
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _drain(session, inp: str, ckpt: str, out: str) -> None:
    def sink(bdf, bid):
        bdf.write.mode("overwrite").parquet(os.path.join(out, f"b{bid:03d}"))

    q = statedir.run_batches(
        running_count(file_source(session, inp, SCHEMA, max_files_per_trigger=1)),
        ckpt,
        sink,
        output_mode="update",
    )
    q.awaitTermination(120)
    assert q.exception() is None


def test_old_checkpoint_restarts_under_the_filesystem_manager(spark, plain, tmp_path):
    """A ``running_count`` checkpoint (offset and commit logs, state
    deltas) written under the default manager restarts under the
    engine's and continues every key's count exactly."""
    inp, ckpt, out = (str(tmp_path / d) for d in ("in", "ckpt", "out"))
    first = [(f"k{i % 5}", i) for i in range(37)] + [(f"k{i % 3}", i) for i in range(11)]
    second = [(f"k{i % 4}", i) for i in range(29)] + [(f"k{i % 6}", i) for i in range(23)]

    assert _manager_class(plain, ckpt) == PKG + "FileContextBasedCheckpointFileManager"
    _append(spark, inp, first)
    _drain(plain, inp, ckpt, out)
    old_batches = sorted(os.listdir(out))
    assert old_batches
    assert any(f.endswith(".delta") for _, _, fs in os.walk(os.path.join(ckpt, "state")) for f in fs)

    _append(spark, inp, second)
    _drain(spark, inp, ckpt, out)
    new_batches = sorted(set(os.listdir(out)) - set(old_batches))
    assert new_batches and min(new_batches) > max(old_batches)

    # the last update each key emitted is its count over all records
    latest: dict[str, int] = {}
    for b in sorted(os.listdir(out)):
        for r in spark.read.parquet(os.path.join(out, b)).collect():
            latest[r["key"]] = r["count"]
    assert latest == dict(Counter(k for k, _ in first + second))
