"""Topology compiler (``plans.topology``): linear and DAG specs over two
stage vocabularies — the reference's integer stages and the corpus
hygiene stages (``plans.corpus_pipeline``) — compiled into one query
or deployed one query per node. The other modules bind its public
names per vocabulary and shape."""

from kafkastreamer_spark.plans.dag import (
    DagNode,
    DagSpec,
    compile_dag,
    from_pipeline_spec,
    validate_dag,
)
from kafkastreamer_spark.plans.pipeline import (
    PipelineSpec,
    StageSpec,
    compile_pipeline,
    parse_topology_xml,
    validate_spec,
)

__all__ = [
    "PipelineSpec",
    "StageSpec",
    "validate_spec",
    "parse_topology_xml",
    "compile_pipeline",
    "DagNode",
    "DagSpec",
    "validate_dag",
    "compile_dag",
    "from_pipeline_spec",
]
