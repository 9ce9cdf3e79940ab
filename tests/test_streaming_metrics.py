"""Operational metrics (reference ``num_msg`` parity): per-stage
observed counters and listener-captured per-batch progress must agree
exactly with the rows the query actually processed."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafkastreamer_spark.streaming import statedir
from kafkastreamer_spark.streaming.core import running_count
from kafkastreamer_spark.streaming.metrics import MetricsCollector, stage_counter
from kafkastreamer_spark.streaming.sources import file_source
from kafkastreamer_spark.streaming.stages import apply_stage

SCHEMA = StructType(
    [StructField("key", StringType()), StructField("value", LongType())]
)


def test_stage_counter_and_listener_progress(spark, tmp_path):
    """A 2-micro-batch stage chain with an observed num_msg counter:
    the listener's summed observedMetrics and numInputRows must both
    equal the exact record count (the reference's num_msg contract,
    Streamer.java:324, without executor-side mutable state — and
    unlike accumulators, observe() counts exactly once per committed
    batch)."""
    rows1 = [(f"Key{i % 3}", i) for i in range(40)]
    rows2 = [(f"Key{i % 3}", i) for i in range(40, 100)]
    inp = str(tmp_path / "in")
    spark.createDataFrame(rows1, SCHEMA).coalesce(1).write.mode("append").parquet(inp)
    spark.createDataFrame(rows2, SCHEMA).coalesce(1).write.mode("append").parquet(inp)

    collector = MetricsCollector()
    spark.streams.addListener(collector)
    try:
        stream = file_source(spark, inp, SCHEMA, max_files_per_trigger=1)
        staged = stage_counter(apply_stage(stream, "adder"), "0")
        out = str(tmp_path / "out")

        def wb(bdf, bid):
            bdf.write.mode("overwrite").parquet(os.path.join(out, f"b{bid}"))

        q = (
            staged.writeStream.foreachBatch(wb)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener events are delivered asynchronously on the bus thread
        deadline = time.time() + 30
        while time.time() < deadline and collector.total_observed("0") < 100:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(collector)

    # the two micro-batches really ran and really transformed the data
    got = []
    for b in sorted(os.listdir(out)):
        got.extend(
            r["value"] for r in spark.read.parquet(os.path.join(out, b)).collect()
        )
    assert sorted(got) == [i + 1 for i in range(100)]  # adder applied

    batch_ids = sorted(
        b.batch_id for b in collector.batches if b.num_input_rows > 0
    )
    assert batch_ids == [0, 1]  # one file per trigger -> two batches
    assert collector.total_input_rows() == 100
    assert collector.total_observed("0") == 100
    # FileStreamSource orders files by modification time; a coarse-
    # mtime filesystem can tie-break the two files either way, so
    # assert the multiset of per-batch counts, not their order.
    per_batch = {
        b.batch_id: b.observed.get("stage_0") for b in collector.batches
    }
    assert sorted([per_batch[0], per_batch[1]]) == [40, 60]
    # a stateless query reports its phases and no state commit
    assert all(b.duration_ms for b in collector.batches)
    assert all(b.state_commit_ms == 0 for b in collector.batches)


def test_running_count_drain_reports_phases(spark, tmp_path):
    """A ``running_count`` drain: every batch the listener captures
    carries the progress report's ``durationMs`` phases and the summed
    state-store commit time of its one stateful operator."""
    inp = str(tmp_path / "in")
    for lo, hi in ((0, 30), (30, 100), (100, 130)):
        rows = [(f"Key{i % 7}", i) for i in range(lo, hi)]
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(inp)

    collector = MetricsCollector()
    spark.streams.addListener(collector)
    try:
        q = statedir.run_batches(
            running_count(file_source(spark, inp, SCHEMA, max_files_per_trigger=1)),
            str(tmp_path / "ckpt"),
            lambda bdf, bid: bdf.count(),
            output_mode="update",
        )
        q.awaitTermination(120)
        deadline = time.time() + 30
        while time.time() < deadline and collector.total_input_rows() < 130:
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(collector)

    ran = [b for b in collector.batches if b.num_input_rows > 0]
    assert sorted(b.batch_id for b in ran) == [0, 1, 2]
    assert collector.total_input_rows() == 130
    for b in ran:
        assert {"addBatch", "walCommit", "commitOffsets", "triggerExecution"} <= set(
            b.duration_ms
        )
        assert b.state_commit_ms >= 0
