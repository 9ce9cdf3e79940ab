"""The topology compiler: spec → validated DAG → DataFrame transforms.

A topology is a DAG of named nodes. ``source`` nodes bind to caller
DataFrames, ``union`` nodes merge two or more inputs by column name
(fan-in), and every other node applies one stage of a *vocabulary* to
exactly one input. Fan-out needs no node type: a node consumed by
several downstream nodes is built once and shared.

A linear spec — the reference's format (KafkaParser.py:121-157):
contiguous stages 0..N, each wired to the next — is the chain DAG
``src → stage0 → … → stageN`` (``chain``), so linear and DAG specs go
through the same validator, compile loop and drain.

A vocabulary is the table ``op → (batch fn, stream fn or None, default
arg)`` plus what its channels carry. Two exist: ``INT`` here (the
reference's adder / power / diff / identity over keyed string records,
Streamer.java:166-205) and ``plans.corpus_pipeline.CORPUS`` (document
hygiene stages over a documents frame). A stage without a stream fn is
batch-only; compiling it for a stream is a ``TopologyError``.

One spec deploys two ways:

* single query — ``compile_topology`` returns
  ``f({source: df}) -> {sink: df}``; Catalyst plans each sink's branch
  as one query, batch or streaming (one writeStream per sink);
* node per query — ``drain_available_now`` runs one checkpointed
  availableNow query per non-source node, each reading its inputs'
  channels and writing its own: the reference's process-per-stage
  deployment (CreateBash.py:2-22), each node restartable on its own.
  Channels are parquet directories (``DirChannels``) or Kafka topics
  (``KafkaChannels``); the vocabulary decides the channel schema, the
  record codec and how many files a micro-batch reads.

Infrastructure the reference validates (broker sockets, jar paths,
.properties codegen) is out of scope: the SparkSession and the
source/sink options replace it.
"""

from __future__ import annotations

import os
import random
import xml.etree.ElementTree as ET
from collections import deque
from collections.abc import Callable, Hashable, Mapping
from dataclasses import dataclass, field, replace
from functools import partial, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from kafkastreamer_spark.streaming.sources import file_source, kafka_source
from kafkastreamer_spark.streaming.stages import (
    DEFAULT_STAGE_ARG,
    STAGE_FUNCTIONS,
    apply_stage,
    parse_value,
)

SOURCE_OP = "source"
UNION_OP = "union"

RECORD_SCHEMA = StructType(
    [StructField("key", StringType()), StructField("value", StringType())]
)

StageFn = Callable[..., DataFrame]  # (df, arg) -> df


class TopologyError(ValueError):
    """Invalid topology spec (the engine's KafkaParser ValueError)."""


@dataclass(frozen=True)
class StageSpec:
    stage: int
    operation: str
    arg: int = DEFAULT_STAGE_ARG


@dataclass(frozen=True)
class PipelineSpec:
    stages: tuple[StageSpec, ...]
    partitions: int = 1
    replica: int = 1
    stream_id: str = ""


@dataclass(frozen=True)
class DagNode:
    name: str
    operation: str
    inputs: tuple[str, ...] = ()
    arg: int = DEFAULT_STAGE_ARG


@dataclass(frozen=True)
class DagSpec:
    nodes: tuple[DagNode, ...]
    sinks: tuple[str, ...] = field(default_factory=tuple)
    stream_id: str = ""


def _identity(df: DataFrame) -> DataFrame:
    return df


@dataclass(frozen=True)
class Vocabulary:
    """A stage vocabulary and the channels its node-per-query drain uses.

    ``missing_arg`` is the arg readers store for a stage that gives
    none; when it is negative, every negative arg means the op's
    default. ``ttl_ops`` name stages whose stream form keeps state
    bounded by a TTL given as the arg, so streaming requires it > 0.
    ``channel_schema`` is the channel record schema (None: the schema
    of the first source's channel); ``decode``/``encode`` map channel
    records to and from stage input; ``files_per_trigger`` bounds the
    files one micro-batch reads from a channel.
    """

    stages: Mapping[str, tuple[StageFn, StageFn | None, int]]
    missing_arg: int
    ttl_ops: frozenset[str] = frozenset()
    channel_schema: StructType | None = None
    decode: Callable[[DataFrame], DataFrame] = _identity
    encode: Callable[[DataFrame], DataFrame] = _identity
    files_per_trigger: int | None = None

    def arg(self, op: str, arg: int) -> int:
        if arg < 0 and self.missing_arg < 0:
            return self.stages[op][2]
        return arg

    def apply(self, df: DataFrame, node: DagNode, streaming: bool) -> DataFrame:
        batch_fn, stream_fn, _ = self.stages[node.operation]
        fn = stream_fn if streaming else batch_fn
        return fn(df, arg=self.arg(node.operation, node.arg))


# The reference's integer stages: value' = f(value, arg), key untouched.
# Channels carry (key, value) strings; a malformed value decodes to
# null instead of failing the query (the reference crashes,
# Streamer.java:328).
INT = Vocabulary(
    stages={
        op: (partial(apply_stage, op=op),) * 2 + (DEFAULT_STAGE_ARG,)
        for op in STAGE_FUNCTIONS
    },
    missing_arg=DEFAULT_STAGE_ARG,
    channel_schema=RECORD_SCHEMA,
    decode=lambda df: df.withColumn("value", parse_value(F.col("value"))),
    encode=lambda df: df.withColumn("value", F.col("value").cast("string")),
)


def chain(spec: PipelineSpec) -> DagSpec:
    """The chain DAG of a linear spec: source ``src``, one node
    ``stage<i>`` per stage in order, the last stage the sink."""
    nodes = [DagNode("src", SOURCE_OP)]
    for st in spec.stages:
        nodes.append(
            DagNode(f"stage{st.stage}", st.operation, (nodes[-1].name,), st.arg)
        )
    return DagSpec(tuple(nodes), (nodes[-1].name,), spec.stream_id)


def validate(spec, streaming: bool = False, *, vocab: Vocabulary):
    """Validate a linear or DAG spec against ``vocab``.

    A linear spec must number its stages 0..N with no duplicates and
    positive partition/replica counts (KafkaParser.py:149-155,222-227);
    it comes back sorted, with a random stream id when it has none
    (KafkaParser.py:216-220), after its chain DAG passed the DAG rules.
    A DAG needs unique names, known inputs, one input per stage node
    and two or more per union, no cycle, a source, and every node
    reaching a sink (the leaves when no sinks are named); it comes back
    in a deterministic topological order. ``streaming=True`` also
    rejects batch-only stages and TTL stages without a positive TTL —
    unbounded state is refused before any query starts.
    """
    if isinstance(spec, PipelineSpec):
        numbers = sorted(st.stage for st in spec.stages)
        if not numbers:
            raise TopologyError("pipeline has no stages")
        if len(set(numbers)) != len(numbers):
            raise TopologyError("duplicate stage numbers")
        if numbers != list(range(len(numbers))):
            missing = sorted(set(range(numbers[-1] + 1)) - set(numbers))
            raise TopologyError(f"missing stage: {missing}")
        if spec.partitions < 1:
            raise TopologyError("partitions must be >= 1")
        if spec.replica < 1:
            raise TopologyError("replica must be >= 1")
        spec = replace(
            spec,
            stages=tuple(sorted(spec.stages, key=lambda s: s.stage)),
            stream_id=spec.stream_id or str(random.randint(0, 9999)),
        )
        validate(chain(spec), streaming, vocab=vocab)
        return spec

    if not spec.nodes:
        raise TopologyError("dag has no nodes")
    by_name: dict[str, DagNode] = {}
    for n in spec.nodes:
        if n.name in by_name:
            raise TopologyError(f"duplicate node name {n.name!r}")
        by_name[n.name] = n
    for n in spec.nodes:
        op, arity = n.operation, len(n.inputs)
        if op == SOURCE_OP:
            if arity:
                raise TopologyError(f"source node {n.name!r} must have no inputs")
        elif op == UNION_OP:
            if arity < 2:
                raise TopologyError(
                    f"union node {n.name!r} needs >= 2 inputs, got {arity}"
                )
        elif op not in vocab.stages:
            raise TopologyError(
                f"operation {op!r} not allowed; expected one of "
                f"{tuple(vocab.stages) + (SOURCE_OP, UNION_OP)}"
            )
        elif arity != 1:
            raise TopologyError(
                f"stage node {n.name!r} ({op}) needs exactly one input, "
                f"got {arity}"
            )
        elif streaming and vocab.stages[op][1] is None:
            raise TopologyError(
                f"operation {op!r} is a batch-only stage and cannot run in "
                "streaming mode"
            )
        elif streaming and op in vocab.ttl_ops and vocab.arg(op, n.arg) <= 0:
            raise TopologyError(
                f"{op} without a TTL keeps unbounded state in streaming "
                "mode; give it a positive arg (its TTL in event-time minutes)"
            )
        for i in n.inputs:
            if i not in by_name:
                raise TopologyError(f"node {n.name!r} reads unknown input {i!r}")
    if not any(n.operation == SOURCE_OP for n in spec.nodes):
        raise TopologyError("dag has no source nodes")

    consumed = {i for n in spec.nodes for i in n.inputs}
    sinks = tuple(spec.sinks) or tuple(sorted(set(by_name) - consumed))
    for s in sinks:
        if s not in by_name:
            raise TopologyError(f"unknown sink {s!r}")
    if not sinks:
        raise TopologyError("dag has no sinks")

    # Kahn topological sort, deterministic: name-ordered ready set
    indeg = {n.name: len(n.inputs) for n in spec.nodes}
    downstream: dict[str, list[str]] = {n.name: [] for n in spec.nodes}
    for n in spec.nodes:
        for i in n.inputs:
            downstream[i].append(n.name)
    queue = deque(sorted(name for name, d in indeg.items() if d == 0))
    order: list[str] = []
    while queue:
        cur = queue.popleft()
        order.append(cur)
        for nxt in sorted(downstream[cur]):
            indeg[nxt] -= 1
            if indeg[nxt] == 0:
                queue.append(nxt)
    if len(order) != len(spec.nodes):
        cyclic = sorted(name for name, d in indeg.items() if d > 0)
        raise TopologyError(f"dag has a cycle through {cyclic}")

    # every node must reach a sink: the reference's "no gap in the
    # chain", generalized
    reaches = set(sinks)
    for name in reversed(order):
        if any(d in reaches for d in downstream[name]):
            reaches.add(name)
    dangling = sorted(set(by_name) - reaches)
    if dangling:
        raise TopologyError(f"nodes never reach a sink: {dangling}")
    return DagSpec(tuple(by_name[name] for name in order), sinks, spec.stream_id)


def read_dict(d: dict, streaming: bool = False, *, vocab: Vocabulary):
    """Read and validate a spec from its JSON shape.

    Linear: ``{"stream_id", "partitions", "replica",
    "stages": [{"stage": 0, "operation": "adder", "arg": 1}, ...]}``.
    DAG: ``{"stream_id", "sinks": [...], "nodes": [{"name": "src",
    "operation": "source"}, {"name": "a", "operation": "adder",
    "inputs": ["src"]}, ...]}``. A missing ``arg`` is the vocabulary's
    ``missing_arg``.
    """

    def arg(e: dict) -> int:
        return int(e.get("arg", vocab.missing_arg))

    try:
        if "nodes" in d:
            spec = DagSpec(
                tuple(
                    DagNode(
                        str(n["name"]),
                        str(n["operation"]),
                        tuple(str(i) for i in n.get("inputs", ())),
                        arg(n),
                    )
                    for n in d["nodes"]
                ),
                tuple(str(s) for s in d.get("sinks", ())),
                str(d.get("stream_id", "")),
            )
        else:
            spec = PipelineSpec(
                tuple(
                    StageSpec(int(s["stage"]), str(s["operation"]), arg(s))
                    for s in d["stages"]
                ),
                int(d.get("partitions", 1)),
                int(d.get("replica", 1)),
                str(d.get("stream_id", "")),
            )
    except KeyError as exc:
        raise TopologyError(f"topology element missing required key: {exc}") from exc
    return validate(spec, streaming, vocab=vocab)


def read_xml(path: str, streaming: bool = False, *, vocab: Vocabulary) -> PipelineSpec:
    """Read and validate a reference-format topology XML (template.xml):
    ``<Stream id>`` root, ``<partition value>``/``<replica value>``,
    ``<Streamer><stage>/<operation>[/<arg>]``. Infra-only tags (``<jar>``,
    ``<Server>``, ``<Zookeeper>``, ``<Topic>``, ``<Producer>``) are
    ignored."""
    try:
        root = ET.parse(path).getroot()
    except ET.ParseError as exc:
        raise TopologyError(f"malformed topology XML: {exc}") from exc
    if root.tag != "Stream":
        raise TopologyError("root tag must be 'Stream'")

    def count(tag: str) -> int:
        el = root.find(tag)
        return 1 if el is None else int(el.get("value", 1))

    stages = []
    for streamer in root.iter("Streamer"):
        props = {p.tag: (p.text or "") for p in streamer}
        for tag in ("stage", "operation"):
            if tag not in props:
                raise TopologyError(f"no {tag} tag found in 'Streamer' element")
        stages.append(
            StageSpec(
                int(props["stage"]),
                props["operation"],
                int(props.get("arg", vocab.missing_arg)),
            )
        )
    spec = PipelineSpec(
        tuple(stages), count("partition"), count("replica"), root.get("id", "")
    )
    return validate(spec, streaming, vocab=vocab)


def compile_topology(
    spec: DagSpec, streaming: bool = False, *, vocab: Vocabulary
) -> Callable[[Mapping[str, DataFrame]], dict[str, DataFrame]]:
    """Compile a DAG into ``f({source name: df}) -> {sink name: df}``.

    Nodes are built once in topological order, so a shared upstream is
    one subplan for every consumer; ``union`` merges by name, so column
    order never matters. ``streaming=True`` selects each stage's stream
    form. A k-stage integer chain folds into one projection."""
    spec = validate(spec, streaming, vocab=vocab)

    def transform(sources: Mapping[str, DataFrame]) -> dict[str, DataFrame]:
        built: dict[str, DataFrame] = {}
        for n in spec.nodes:
            if n.operation == SOURCE_OP:
                if n.name not in sources:
                    raise TopologyError(f"no DataFrame bound for source {n.name!r}")
                built[n.name] = sources[n.name]
            elif n.operation == UNION_OP:
                built[n.name] = reduce(
                    DataFrame.unionByName, (built[i] for i in n.inputs)
                )
            else:
                built[n.name] = vocab.apply(built[n.inputs[0]], n, streaming)
        return {s: built[s] for s in spec.sinks}

    return transform


def compile_linear(
    spec: PipelineSpec, streaming: bool = False, *, vocab: Vocabulary
) -> Callable[[DataFrame], DataFrame]:
    """Compile a linear spec, as its chain DAG, into one ``df -> df``
    transform."""
    dag = chain(validate(spec, streaming, vocab=vocab))
    transform = compile_topology(dag, streaming, vocab=vocab)
    return lambda df: transform({"src": df})[dag.sinks[0]]


@dataclass(frozen=True)
class DirChannels:
    """Parquet-directory channels. Channel ``k`` is
    ``<root>/<prefix>_<stream_id>_<k>``, after the reference's
    ``__stage_<id>_<i>`` topics (Streamer.java:89-95); ``seeds`` pins
    channels to existing directories, which are read in place."""

    root: str
    stream_id: str
    prefix: str = "stage"
    seeds: tuple[tuple[str, str], ...] = ()

    def path(self, k: Hashable) -> str:
        seeded = dict(self.seeds).get(k)
        return seeded or os.path.join(self.root, f"{self.prefix}_{self.stream_id}_{k}")

    def read(
        self,
        spark: SparkSession,
        k: Hashable,
        schema: StructType = RECORD_SCHEMA,
        max_files_per_trigger: int | None = None,
    ) -> DataFrame:
        return file_source(
            spark, self.path(k), schema, max_files_per_trigger=max_files_per_trigger
        )

    def writer(self, df: DataFrame, k: Hashable, checkpoint: str):
        return (
            df.writeStream.format("parquet")
            .option("path", self.path(k))
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
        )


@dataclass(frozen=True)
class KafkaChannels:
    """Kafka-topic channels: topic ``__stage_<id>_<k>``, the
    reference's names. Carries the integer vocabulary's records."""

    bootstrap: str
    stream_id: str

    def topic(self, k: Hashable) -> str:
        return f"__stage_{self.stream_id}_{k}"

    def read(self, spark: SparkSession, k: Hashable, *_) -> DataFrame:
        return kafka_source(spark, self.bootstrap, self.topic(k)).select("key", "value")

    def writer(self, df: DataFrame, k: Hashable, checkpoint: str):
        return (
            df.selectExpr("CAST(key AS STRING) key", "CAST(value AS STRING) value")
            .writeStream.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap)
            .option("topic", self.topic(k))
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
        )


def drain_available_now(
    spark: SparkSession,
    spec: DagSpec,
    channels,
    checkpoint_root: str,
    *,
    vocab: Vocabulary,
    channel_of: Callable[[str], Hashable] = str,
    checkpoint_prefix: str = "",
) -> dict[str, Hashable]:
    """Drain a bounded topology with one availableNow query per
    non-source node, in topological order, so each node consumes
    everything its inputs produced.

    Source channels are seeded by the caller. A node reads the channel
    ``channel_of(input)`` of each input (unioned for fan-in), applies
    its stage's stream form between the vocabulary's decode and
    encode, and appends to ``channel_of(node)`` with its own checkpoint
    ``<checkpoint_root>/<checkpoint_prefix><node>``: re-draining after
    new input arrives processes exactly the new records, and a node's
    state (e.g. a dedup store) lives in its own checkpoint. Returns
    {sink name: channel key}.
    """
    spec = validate(spec, True, vocab=vocab)
    schema = vocab.channel_schema
    if schema is None:
        first = next(n.name for n in spec.nodes if n.operation == SOURCE_OP)
        schema = spark.read.parquet(channels.path(channel_of(first))).schema
    for n in spec.nodes:
        if n.operation == SOURCE_OP:
            continue
        df = reduce(
            DataFrame.unionByName,
            (
                channels.read(spark, channel_of(i), schema, vocab.files_per_trigger)
                for i in n.inputs
            ),
        )
        if n.operation != UNION_OP:
            df = vocab.encode(vocab.apply(vocab.decode(df), n, streaming=True))
        ckpt = os.path.join(checkpoint_root, f"{checkpoint_prefix}{n.name}")
        writer = channels.writer(df, channel_of(n.name), ckpt)
        writer.trigger(availableNow=True).start().awaitTermination()
    return {s: channel_of(s) for s in spec.sinks}
