"""Topology-compat mode: stage-per-query chaining through directory
channels produces the same results as the single-query compilation."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kafkastreamer_spark.plans import PipelineSpec, StageSpec, compile_pipeline
from kafkastreamer_spark.plans.topology_mode import (
    DirChannels,
    run_topology_available_now,
)
from kafkastreamer_spark.streaming.sources import keyed_int_batch

SPEC = PipelineSpec(
    stages=(StageSpec(0, "adder"), StageSpec(1, "adder"), StageSpec(2, "diff")),
    partitions=2,
    stream_id="t1",
)


def test_chained_matches_single_query(spark, tmp_path):
    channels = DirChannels(str(tmp_path / "ch"), "t1")
    src = keyed_int_batch(spark, 200, 2)
    src.write.mode("append").parquet(channels.path(0))

    run_topology_available_now(spark, SPEC, channels, str(tmp_path / "ckpt"))

    chained = spark.read.parquet(channels.path(3)).select(
        "key", F.col("value").cast("long").alias("value")
    )
    single = compile_pipeline(SPEC)(
        src.withColumn("value", F.col("value").cast("long"))
    )
    assert sorted(map(tuple, chained.collect())) == sorted(map(tuple, single.collect()))
    # net effect of adder,adder,diff = +1
    assert sorted(r["value"] for r in chained.collect()) == list(range(1, 201))


def test_chained_stage_restart_resumes(spark, tmp_path):
    """Each stage has its own checkpoint: re-running the chain after
    appending new input processes only (and exactly) the new records."""
    channels = DirChannels(str(tmp_path / "ch"), "t1")
    ckpt = str(tmp_path / "ckpt")
    keyed_int_batch(spark, 100, 2).write.mode("append").parquet(channels.path(0))
    run_topology_available_now(spark, SPEC, channels, ckpt)

    keyed_int_batch(spark, 250, 2).filter(
        F.col("value").cast("long") >= 100
    ).write.mode("append").parquet(channels.path(0))
    run_topology_available_now(spark, SPEC, channels, ckpt)

    out = spark.read.parquet(channels.path(3))
    vals = sorted(r["value"] for r in out.select(F.col("value").cast("long").alias("value")).collect())
    assert vals == list(range(1, 251))  # no duplicates, no gaps


def test_malformed_payload_same_in_both_drains(spark, tmp_path):
    """A value that is not an integer decodes to null in the stage-per-
    query drain and in the node-per-query DAG drain alike: the record
    survives as (key, null) and the other records still get +3."""
    from kafkastreamer_spark.plans.dag import from_pipeline_spec
    from kafkastreamer_spark.plans.topology_mode import (
        RECORD_SCHEMA,
        _named_path,
        run_dag_available_now,
    )

    spec = PipelineSpec(
        stages=tuple(StageSpec(i, "adder") for i in range(3)), stream_id="m1"
    )
    records = spark.createDataFrame(
        [("k0", "1"), ("k1", "abc"), ("k0", "5")], RECORD_SCHEMA
    )
    channels = DirChannels(str(tmp_path / "ch"), "m1")
    records.write.mode("append").parquet(channels.path(0))
    records.write.mode("append").parquet(_named_path(channels, "src"))

    run_topology_available_now(spark, spec, channels, str(tmp_path / "ck1"))
    sinks = run_dag_available_now(
        spark, from_pipeline_spec(spec), channels, str(tmp_path / "ck2")
    )

    def rows(path):
        return sorted(
            map(tuple, spark.read.parquet(path).select("key", "value").collect()),
            key=repr,
        )

    chained = rows(channels.path(3))
    assert chained == rows(sinks["stage2"])
    assert chained == sorted([("k0", "4"), ("k1", None), ("k0", "8")], key=repr)
