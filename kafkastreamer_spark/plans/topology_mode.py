"""Node-per-query deployment of integer topologies: one checkpointed
streaming query per stage or DAG node, wired through channels — the
reference's deployment shape (one JVM per stage, Kafka topics between
them; CreateBash.py:2-22, Streamer.java:89-95). Bindings onto
``plans.topology.drain_available_now``; the two modes differ only in
channel naming:

* linear: channel ``i`` feeds stage ``i`` (``DirChannels.path(i)`` =
  ``stage_<id>_<i>``), checkpoints ``stage<i>``; Kafka channels
  (``KafkaChannels``) in production, directories in tests;
* DAG: one channel per node (``node_<id>_<name>``), checkpoints
  ``node_<name>``.
"""

from __future__ import annotations

from dataclasses import replace

from kafkastreamer_spark.plans.topology import (  # noqa: F401
    INT,
    RECORD_SCHEMA,
    DagSpec,
    DirChannels,
    KafkaChannels,
    PipelineSpec,
    chain,
    drain_available_now,
    validate,
)


def run_topology_available_now(
    spark, spec: PipelineSpec, channels, checkpoint_root: str
) -> None:
    """Drain a bounded linear topology; the result lands in channel
    ``len(spec.stages)``."""
    dag = chain(validate(spec, vocab=INT))
    index = {n.name: i for i, n in enumerate(dag.nodes)}
    drain_available_now(
        spark, dag, channels, checkpoint_root, vocab=INT, channel_of=index.get
    )


def _named_path(channels: DirChannels, name: str) -> str:
    return replace(channels, prefix="node").path(name)


def run_dag_available_now(
    spark, spec: DagSpec, channels: DirChannels, checkpoint_root: str
) -> dict[str, str]:
    """Drain a bounded DAG; returns {sink name: channel path}. Source
    channels are seeded at ``_named_path(channels, source)``."""
    nodes = replace(channels, prefix="node")
    sinks = drain_available_now(
        spark, spec, nodes, checkpoint_root, vocab=INT, checkpoint_prefix="node_"
    )
    return {s: nodes.path(k) for s, k in sinks.items()}
