"""DAG topologies over the integer stage vocabulary: fan-out (a node
consumed by several nodes) and fan-in (``union``), a shape the
reference's strictly linear topology cannot express
(KafkaParser.py:144-155). Bindings onto ``plans.topology``."""

from __future__ import annotations

from functools import partial

from kafkastreamer_spark.plans.topology import (  # noqa: F401
    INT,
    SOURCE_OP,
    UNION_OP,
    DagNode,
    DagSpec,
    PipelineSpec,
    chain,
    compile_topology,
    read_dict,
    validate,
)

validate_dag = partial(validate, vocab=INT)
from_dict = partial(read_dict, vocab=INT)
compile_dag = partial(compile_topology, vocab=INT)


def from_pipeline_spec(spec: PipelineSpec) -> DagSpec:
    """A linear spec as its chain DAG: ``src → stage0 → … → stageN``."""
    return chain(validate_dag(spec))
