"""Linear topologies over the integer stage vocabulary — the
reference's format (KafkaParser.py:121-157) as bindings onto the one
compiler in ``plans.topology``: a linear spec compiles as its chain
DAG, which Catalyst folds into one projection (three adders →
``value + 3``)."""

from __future__ import annotations

from functools import partial

from kafkastreamer_spark.plans.topology import (  # noqa: F401
    INT,
    PipelineSpec,
    StageSpec,
    TopologyError,
    compile_linear,
    read_dict,
    read_xml,
    validate,
)

validate_spec = partial(validate, vocab=INT)
from_dict = partial(read_dict, vocab=INT)
parse_topology_xml = partial(read_xml, vocab=INT)
compile_pipeline = partial(compile_linear, vocab=INT)
