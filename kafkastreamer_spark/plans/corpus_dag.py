"""DAG topologies over the corpus stage vocabulary: one intake forking
into gate chains tuned per destination and merged back by ``union``.
Bindings onto ``plans.topology`` with ``CORPUS``.

Deployment shapes, as for integer DAGs:

* single query per sink — ``compile_corpus_dag(spec, streaming=True)``
  over streaming sources, one writeStream per sink (the CLI's
  ``--mode corpus-dag --stream``);
* node per query — ``run_corpus_dag_available_now`` drains a bounded
  DAG with one availableNow query per node over parquet channels
  ``cnode_<id>_<name>`` (checkpoints ``cnode_<name>``); a stateful
  node (``exact_dedup``) keeps its state in its own checkpoint.

With arrivals in doc_id order, streamed survivors equal the batch
compile's for the same DAG.
"""

from __future__ import annotations

from collections.abc import Mapping
from functools import partial

from pyspark.sql import SparkSession

from kafkastreamer_spark.plans.corpus_pipeline import CORPUS
from kafkastreamer_spark.plans.dag import from_dict as dag_from_dict
from kafkastreamer_spark.plans.topology import (
    SOURCE_OP,
    DagSpec,
    DirChannels,
    TopologyError,
    compile_topology,
    drain_available_now,
    read_dict,
    validate,
)

validate_corpus_dag = partial(validate, vocab=CORPUS)
corpus_dag_from_dict = partial(read_dict, vocab=CORPUS)
compile_corpus_dag = partial(compile_topology, vocab=CORPUS)


def run_corpus_dag_available_now(
    spark: SparkSession,
    spec: DagSpec,
    seeds: Mapping[str, str],
    channel_root: str,
    checkpoint_root: str,
) -> dict[str, str]:
    """Drain a bounded corpus DAG node by node. ``seeds`` maps every
    source node to an existing parquet directory of documents; returns
    {sink name: channel path}."""
    spec = validate_corpus_dag(spec, streaming=True)
    sources = [n.name for n in spec.nodes if n.operation == SOURCE_OP]
    missing = sorted(set(sources) - set(seeds))
    if missing:
        raise TopologyError(f"no seed directory for sources {missing}")
    channels = DirChannels(
        channel_root, spec.stream_id, "cnode", tuple(seeds.items())
    )
    sinks = drain_available_now(
        spark, spec, channels, checkpoint_root,
        vocab=CORPUS, checkpoint_prefix="cnode_",
    )
    return {s: channels.path(k) for s, k in sinks.items()}


__all__ = [
    "compile_corpus_dag",
    "corpus_dag_from_dict",
    "dag_from_dict",
    "run_corpus_dag_available_now",
    "validate_corpus_dag",
]
