"""Pipeline compiler tests (A14/A15): validation parity with the
reference's KafkaParser checks, XML reading of template.xml-shaped
topologies, and compiled-chain golden results."""

from __future__ import annotations

import textwrap

import pytest
from pyspark.sql import functions as F

from kafkastreamer_spark.plans import (
    PipelineSpec,
    StageSpec,
    compile_pipeline,
    parse_topology_xml,
    validate_spec,
)
from kafkastreamer_spark.plans.pipeline import TopologyError, from_dict

TEMPLATE_XML = textwrap.dedent(
    """\
    <?xml version="1.0"?>
    <Stream id="1996">
        <replica value="2"/>
        <partition value="2"/>
        <Streamer><stage>0</stage><operation>adder</operation><jar>/x/</jar></Streamer>
        <Streamer><stage>2</stage><operation>adder</operation><jar>/x/</jar></Streamer>
        <Streamer><stage>1</stage><operation>adder</operation><jar>/x/</jar></Streamer>
        <Producer><jar>/x/</jar><wait>7000</wait></Producer>
    </Stream>
    """
)


def test_validate_contiguous_stages():
    with pytest.raises(TopologyError, match="missing stage: \\[1\\]"):
        validate_spec(
            PipelineSpec(stages=(StageSpec(0, "adder"), StageSpec(2, "adder")))
        )
    with pytest.raises(TopologyError, match="duplicate stage numbers"):
        validate_spec(
            PipelineSpec(
                stages=(StageSpec(0, "adder"), StageSpec(0, "adder"), StageSpec(1, "adder"))
            )
        )


def test_validate_operation_whitelist():
    with pytest.raises(TopologyError, match="not allowed"):
        validate_spec(PipelineSpec(stages=(StageSpec(0, "multiplier"),)))


def test_validate_empty_and_counts():
    with pytest.raises(TopologyError, match="no stages"):
        validate_spec(PipelineSpec(stages=()))
    with pytest.raises(TopologyError, match="partitions"):
        validate_spec(PipelineSpec(stages=(StageSpec(0, "adder"),), partitions=0))


def test_validate_assigns_stream_id_and_sorts():
    spec = validate_spec(
        PipelineSpec(stages=(StageSpec(1, "diff"), StageSpec(0, "adder")))
    )
    assert [s.stage for s in spec.stages] == [0, 1]
    assert spec.stream_id != ""


def test_from_dict_missing_key():
    with pytest.raises(TopologyError, match="missing required key"):
        from_dict({"stages": [{"operation": "adder"}]})


def test_parse_template_xml(tmp_path):
    p = tmp_path / "topo.xml"
    p.write_text(TEMPLATE_XML)
    spec = parse_topology_xml(str(p))
    assert spec.stream_id == "1996"
    assert spec.partitions == 2 and spec.replica == 2
    assert [s.operation for s in spec.stages] == ["adder"] * 3
    assert [s.stage for s in spec.stages] == [0, 1, 2]


def test_parse_xml_rejects_bad_root(tmp_path):
    p = tmp_path / "bad.xml"
    p.write_text("<Pipeline></Pipeline>")
    with pytest.raises(TopologyError, match="root tag"):
        parse_topology_xml(str(p))


def test_compiled_chain_golden(spark, tmp_path):
    """template.xml's 3-adder topology: i → i+3, constant-folded."""
    p = tmp_path / "topo.xml"
    p.write_text(TEMPLATE_XML)
    transform = compile_pipeline(parse_topology_xml(str(p)))
    df = spark.range(1000).select(F.col("id").alias("value"))
    out = transform(df)
    # Catalyst folds the chain into a single (value + 3) projection.
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "+ 3" in plan and "+ 1" not in plan
    assert out.agg(F.min("value"), F.max("value")).collect()[0][0:2] == (3, 1002)


def test_compiled_chain_mixed_ops(spark):
    """adder → diff → identity → power(=1) is the identity overall."""
    spec = validate_spec(
        PipelineSpec(
            stages=(
                StageSpec(0, "adder"),
                StageSpec(1, "diff"),
                StageSpec(2, "identity"),
                StageSpec(3, "power"),
            )
        )
    )
    df = spark.range(50).select(F.col("id").alias("value"))
    out = compile_pipeline(spec)(df)
    assert sorted(r["value"] for r in out.collect()) == list(range(50))
