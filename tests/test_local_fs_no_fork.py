"""Sessions built by ``get_spark`` with a local master write ``file:``
paths through ``session.NO_FORK_FS``, whose ``setPermission`` is an
in-process ``chmod(2)``: creating a checkpoint file, a sink file or a
directory starts no child process of the JVM, and leaves the modes
Hadoop's local FileSystem leaves. ``ensure_engine_conf`` never points
``fs.file.impl`` at the class, which a JVM it did not start lacks."""

from __future__ import annotations

import os
import stat
from collections import Counter

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafkastreamer_spark.session import ENGINE_CONF, NO_FORK_FS, ensure_engine_conf

SCHEMA = StructType(
    [StructField("key", StringType()), StructField("value", LongType())]
)


def _hadoop_conf(spark, fs_impl: str | None = None):
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    if fs_impl is not None:
        conf.set("fs.file.impl", fs_impl)
        # FileSystem.get caches one instance per scheme, whatever the conf
        conf.set("fs.file.impl.disable.cache", "true")
    return conf


def _fs(spark, path: str, fs_impl: str | None = None):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.Path(path).getFileSystem(_hadoop_conf(spark, fs_impl))


def test_get_spark_sessions_use_the_class(spark, tmp_path):
    jvm = spark._jvm
    assert _fs(spark, tmp_path.as_uri()).getClass().getName() == NO_FORK_FS
    local = jvm.org.apache.hadoop.fs.FileSystem.getLocal(_hadoop_conf(spark))
    assert local.getClass().getName() == NO_FORK_FS
    assert local.exists(jvm.org.apache.hadoop.fs.Path(str(tmp_path)))


def _process_starts(spark, tmp_path, work) -> list[str]:
    """The commands of the processes the JVM started while ``work`` ran,
    from a JFR recording of ``jdk.ProcessStart``."""
    jvm = spark._jvm
    recording = jvm.jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try:
        work()
    finally:
        recording.stop()
    dump = jvm.java.io.File(str(tmp_path / "process-starts.jfr")).toPath()
    recording.dump(dump)
    recording.close()
    return [
        event.getString("command")
        for event in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
        if event.getEventType().getName() == "jdk.ProcessStart"
    ]


def _atomic_writes(spark, directory: str, conf, n: int = 10) -> None:
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(directory), conf
    )
    for i in range(n):
        out = manager.createAtomic(jvm.org.apache.hadoop.fs.Path(f"{directory}/{i}"), False)
        out.write(bytearray(b"v1"))
        out.close()


def _sink_batch(spark, inp: str, ckpt: str, out: str) -> None:
    q = (
        spark.readStream.schema(SCHEMA)
        .parquet(inp)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination(120)
    assert q.exception() is None


def test_checkpoint_writes_and_a_sink_batch_start_no_process(spark, tmp_path):
    ckpt, inp, out = (str(tmp_path / d) for d in ("ckpt", "in", "out"))
    spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA).write.parquet(inp)

    def work():
        _atomic_writes(spark, str(tmp_path / "offsets"), _hadoop_conf(spark))
        _sink_batch(spark, inp, ckpt, out)

    # the driver heartbeater forks `getconf PAGESIZE` once per JVM, on a
    # timer, when it first reads the process-tree metrics
    starts = _process_starts(spark, tmp_path, work)
    assert [cmd for cmd in starts if cmd != "getconf PAGESIZE"] == []
    assert sorted(r["key"] for r in spark.read.parquet(out).collect()) == ["a", "b"]
    commits = os.listdir(os.path.join(ckpt, "commits"))
    assert sorted(f for f in commits if not f.startswith(".")) == ["0"]


def test_the_recording_sees_hadoops_forks(spark, tmp_path):
    """The counter is not blind: the same ten writes through Hadoop's
    own LocalFileSystem fork one ``chmod`` per file and one per .crc,
    and one for the directory the manager creates."""
    conf = _hadoop_conf(spark, "org.apache.hadoop.fs.LocalFileSystem")
    starts = _process_starts(
        spark, tmp_path, lambda: _atomic_writes(spark, str(tmp_path / "offsets"), conf)
    )
    assert Counter(cmd.split()[:2][-1] for cmd in starts if cmd.startswith("chmod ")) == {
        "0644": 20,
        "0755": 1,
    }
    assert len(starts) == 21


def _modes(root) -> dict[str, int]:
    return {
        os.path.relpath(os.path.join(d, n), root): stat.S_IMODE(os.stat(os.path.join(d, n)).st_mode)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
    }


@pytest.mark.parametrize("fs_impl", [None, "org.apache.hadoop.fs.LocalFileSystem"])
def test_modes_match_hadoops(spark, tmp_path, fs_impl):
    """Files and their .crc are 0644, directories 0755, under the class
    (``None``: the session's own FileSystem) and under Hadoop's."""
    jvm = spark._jvm
    fs = _fs(spark, tmp_path.as_uri(), fs_impl)
    Path = jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(Path(str(tmp_path / "d")))
    for name in ("d/f", "e/sub/g"):
        out = fs.create(Path(str(tmp_path / name)), False)
        out.write(bytearray(b"x"))
        out.close()
    assert _modes(tmp_path) == {
        "d": 0o755,
        "d/f": 0o644,
        "d/.f.crc": 0o644,
        "e": 0o755,
        "e/sub": 0o755,
        "e/sub/g": 0o644,
        "e/sub/.g.crc": 0o644,
    }


def test_ensure_engine_conf_never_sets_the_file_system(spark, monkeypatch):
    """A session built elsewhere runs on a JVM that may lack the class;
    naming it as ``fs.file.impl`` there would break every file read."""
    plain = spark.newSession()
    keys = []
    real_set = plain.conf.set

    def recording_set(key, value):
        keys.append(key)
        real_set(key, value)

    monkeypatch.setattr(plain.conf, "set", recording_set)
    ensure_engine_conf(plain)
    assert keys
    assert not [k for k in list(ENGINE_CONF) + keys if "fs.file.impl" in k or "extraClassPath" in k]
