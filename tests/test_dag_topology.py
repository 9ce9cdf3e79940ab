"""DAG topology compiler (plans/dag.py): fan-out/fan-in semantics,
validation strictness, linear-pipeline parity, and streaming."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafkastreamer_spark.plans.dag import (
    DagNode,
    DagSpec,
    compile_dag,
    from_dict,
    from_pipeline_spec,
    validate_dag,
)
from kafkastreamer_spark.plans.pipeline import (
    PipelineSpec,
    StageSpec,
    TopologyError,
    compile_pipeline,
)
from kafkastreamer_spark.streaming.sources import file_source, keyed_int_batch

DIAMOND = from_dict(
    {
        "stream_id": "d1",
        "sinks": ["merged"],
        "nodes": [
            {"name": "src", "operation": "source"},
            {"name": "clean", "operation": "adder", "inputs": ["src"]},
            {"name": "left", "operation": "adder", "inputs": ["clean"]},
            {"name": "right", "operation": "diff", "inputs": ["clean"]},
            {"name": "merged", "operation": "union", "inputs": ["left", "right"]},
        ],
    }
)


def _vals(df):
    return sorted(int(r["value"]) for r in df.collect())


def test_diamond_fan_out_fan_in(spark):
    """src -> clean(+1) forks into +1 and -1 branches, union merges:
    every input i appears exactly twice, as i+2 and as i."""
    src = keyed_int_batch(spark, 50, 2).withColumn(
        "value", F.col("value").cast("long")
    )
    out = compile_dag(DIAMOND)({"src": src})
    assert set(out) == {"merged"}
    got = _vals(out["merged"])
    assert got == sorted(list(range(0, 50)) + list(range(2, 52)))


def test_fan_out_branches_share_upstream(spark):
    """Multiple sinks: both branches are returned and each sees the
    shared cleaned stream (fan-out without a union)."""
    spec = from_dict(
        {
            "sinks": ["left", "right"],
            "nodes": [
                {"name": "src", "operation": "source"},
                {"name": "clean", "operation": "adder", "inputs": ["src"]},
                {"name": "left", "operation": "adder", "inputs": ["clean"]},
                {"name": "right", "operation": "diff", "inputs": ["clean"]},
            ],
        }
    )
    src = keyed_int_batch(spark, 20, 2).withColumn(
        "value", F.col("value").cast("long")
    )
    out = compile_dag(spec)({"src": src})
    assert _vals(out["left"]) == list(range(2, 22))
    assert _vals(out["right"]) == list(range(0, 20))


def test_multi_source_fan_in(spark):
    """Two sources merged into one downstream stage — the two-
    producers-one-topic shape."""
    spec = from_dict(
        {
            "sinks": ["out"],
            "nodes": [
                {"name": "a", "operation": "source"},
                {"name": "b", "operation": "source"},
                {"name": "m", "operation": "union", "inputs": ["a", "b"]},
                {"name": "out", "operation": "adder", "inputs": ["m"]},
            ],
        }
    )
    mk = lambda n: keyed_int_batch(spark, n, 1).withColumn(  # noqa: E731
        "value", F.col("value").cast("long")
    )
    out = compile_dag(spec)({"a": mk(5), "b": mk(3)})
    assert _vals(out["out"]) == sorted([i + 1 for i in range(5)] + [i + 1 for i in range(3)])


def test_linear_pipeline_parity(spark, sf_dir):
    """A linear spec embedded as a chain DAG produces the identical
    rows and the identical optimized plan shape, for both stage
    vocabularies: the integer stages and the corpus stages."""
    from kafkastreamer_spark.plans.corpus_dag import compile_corpus_dag
    from kafkastreamer_spark.plans.corpus_pipeline import (
        compile_corpus_pipeline,
        corpus_spec_from_dict,
    )

    pipe = PipelineSpec(
        stages=(StageSpec(0, "adder"), StageSpec(1, "adder"), StageSpec(2, "diff")),
        stream_id="p1",
    )
    src = keyed_int_batch(spark, 100, 2).withColumn(
        "value", F.col("value").cast("long")
    )
    ops = [("repetition_gate", -1), ("exact_dedup", -1), ("length_gate", 40)]
    corpus_pipe = corpus_spec_from_dict(
        {
            "stream_id": "p2",
            "stages": [
                {"stage": i, "operation": op, "arg": arg}
                for i, (op, arg) in enumerate(ops)
            ],
        }
    )
    corpus_chain = DagSpec(
        nodes=(DagNode("docs", "source"),)
        + tuple(
            DagNode(f"n{i}", op, (f"n{i - 1}" if i else "docs",), arg)
            for i, (op, arg) in enumerate(ops)
        ),
        sinks=(f"n{len(ops) - 1}",),
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    via_pipeline = compile_pipeline(pipe)(src)
    via_dag = compile_dag(from_pipeline_spec(pipe))({"src": src})["stage2"]
    cases = [
        (via_pipeline, via_dag),
        (
            compile_corpus_pipeline(corpus_pipe)(docs),
            compile_corpus_dag(corpus_chain)({"docs": docs})["n2"],
        ),
    ]
    fold = lambda df: df._jdf.queryExecution().optimizedPlan().toString()  # noqa: E731
    for direct, chained in cases:
        rows = sorted(repr(r) for r in direct.collect())
        assert rows and rows == sorted(repr(r) for r in chained.collect())
        for node in ("Project", "Window"):
            assert fold(direct).count(node) == fold(chained).count(node)
    # Catalyst folds the integer chain identically in both forms: one
    # Project with the same composed arithmetic ("(x + 2) - 1")
    assert "+ 2) - 1" in fold(via_dag)
    assert fold(via_dag).count("Project") == 1
    assert "Window" in fold(cases[1][0])


@pytest.mark.parametrize(
    "mutation, match",
    [
        ({"nodes": []}, "no nodes"),
        (
            {
                "nodes": [
                    {"name": "src", "operation": "source"},
                    {"name": "src", "operation": "source"},
                ]
            },
            "duplicate node name",
        ),
        (
            {
                "nodes": [
                    {"name": "src", "operation": "source"},
                    {"name": "a", "operation": "adder", "inputs": ["ghost"]},
                ]
            },
            "unknown input",
        ),
        (
            {
                "nodes": [
                    {"name": "src", "operation": "source"},
                    {"name": "u", "operation": "union", "inputs": ["src"]},
                ]
            },
            "needs >= 2 inputs",
        ),
        (
            {
                "nodes": [
                    {"name": "s1", "operation": "source"},
                    {"name": "s2", "operation": "source"},
                    {"name": "a", "operation": "adder", "inputs": ["s1", "s2"]},
                ]
            },
            "exactly one input",
        ),
        (
            {
                "nodes": [
                    {"name": "src", "operation": "source"},
                    {"name": "a", "operation": "launder", "inputs": ["src"]},
                ]
            },
            "not allowed",
        ),
        (
            {
                "nodes": [
                    {"name": "a", "operation": "adder", "inputs": ["b"]},
                    {"name": "b", "operation": "adder", "inputs": ["a"]},
                ]
            },
            "no source",
        ),
    ],
)
def test_validation_rejects(mutation, match):
    with pytest.raises(TopologyError, match=match):
        from_dict(mutation)


def test_cycle_detected():
    """A cycle below the sources trips the Kahn sort."""
    spec = DagSpec(
        nodes=(
            DagNode("src", "source"),
            DagNode("a", "union", ("src", "c")),
            DagNode("b", "adder", ("a",)),
            DagNode("c", "adder", ("b",)),
            DagNode("out", "adder", ("c",)),
        ),
        sinks=("out",),
    )
    with pytest.raises(TopologyError, match="cycle"):
        validate_dag(spec)


def test_dangling_node_rejected():
    with pytest.raises(TopologyError, match="never reach a sink"):
        from_dict(
            {
                "sinks": ["out"],
                "nodes": [
                    {"name": "src", "operation": "source"},
                    {"name": "out", "operation": "adder", "inputs": ["src"]},
                    {"name": "orphan", "operation": "adder", "inputs": ["src"]},
                ],
            }
        )


def test_default_sinks_are_leaves():
    spec = from_dict(
        {
            "nodes": [
                {"name": "src", "operation": "source"},
                {"name": "a", "operation": "adder", "inputs": ["src"]},
                {"name": "b", "operation": "diff", "inputs": ["src"]},
            ]
        }
    )
    assert spec.sinks == ("a", "b")


def test_streaming_diamond(spark, tmp_path):
    """The same DAG compiles over a streaming source: each sink runs
    as its own query against the shared upstream definition."""
    from kafkastreamer_spark.plans.topology_mode import RECORD_SCHEMA

    inp = str(tmp_path / "in")
    keyed_int_batch(spark, 40, 2).write.mode("append").parquet(inp)
    stream = file_source(spark, inp, RECORD_SCHEMA).withColumn(
        "value", F.col("value").cast("long")
    )
    out = compile_dag(DIAMOND)({"src": stream})["merged"]
    dst = str(tmp_path / "out")
    q = (
        out.writeStream.format("parquet")
        .option("path", dst)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        int(r["value"]) for r in spark.read.parquet(dst).collect()
    )
    assert got == sorted(list(range(0, 40)) + list(range(2, 42)))


def test_dag_deployment_mode_matches_single_query(spark, tmp_path):
    """Stage-per-query DAG deployment (channels per node, one
    checkpointed streaming query per non-source node) produces the
    same multiset as the single-query compilation — the deployment-
    shape parity the linear topology mode proves for chains,
    generalized to the diamond."""
    from kafkastreamer_spark.plans.topology_mode import (
        DirChannels,
        _named_path,
        run_dag_available_now,
    )

    channels = DirChannels(str(tmp_path / "ch"), "d1")
    src = keyed_int_batch(spark, 60, 2)
    src.write.mode("append").parquet(_named_path(channels, "src"))

    sinks = run_dag_available_now(spark, DIAMOND, channels, str(tmp_path / "ck"))
    assert set(sinks) == {"merged"}
    chained = spark.read.parquet(sinks["merged"])

    single = compile_dag(DIAMOND)(
        {"src": src.withColumn("value", F.col("value").cast("long"))}
    )["merged"]
    assert sorted(int(r["value"]) for r in chained.collect()) == _vals(single)


def test_dag_deployment_incremental_restart(spark, tmp_path):
    """Each node's checkpoint is independent: appending new source
    records and re-draining processes exactly the delta."""
    from kafkastreamer_spark.plans.topology_mode import (
        DirChannels,
        _named_path,
        run_dag_available_now,
    )

    channels = DirChannels(str(tmp_path / "ch2"), "d2")
    ck = str(tmp_path / "ck2")
    keyed_int_batch(spark, 20, 2).write.mode("append").parquet(
        _named_path(channels, "src")
    )
    run_dag_available_now(spark, DIAMOND, channels, ck)

    keyed_int_batch(spark, 50, 2).filter(
        F.col("value").cast("long") >= 20
    ).write.mode("append").parquet(_named_path(channels, "src"))
    sinks = run_dag_available_now(spark, DIAMOND, channels, ck)

    got = sorted(
        int(r["value"]) for r in spark.read.parquet(sinks["merged"]).collect()
    )
    assert got == sorted(list(range(0, 50)) + list(range(2, 52)))  # no dups
