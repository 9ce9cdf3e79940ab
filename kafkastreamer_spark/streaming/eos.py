"""Strict end-to-end exactly-once delivery to Kafka-shaped sinks
(SURVEY.md §4.3(2)).

The reference gets exactly-once by committing consumer offsets and the
produced record in ONE Kafka transaction per record
(v1/src/main/java/Stream/Streamer.java:393-415). Micro-batch Spark
cannot transact per record, and the built-in Kafka sink is
at-least-once: a micro-batch that fails after producing but before
committing its checkpoint is replayed and its records are produced
again.

This module closes that gap the way Kafka-ecosystem consumers actually
do it — **idempotent produce + downstream dedup view**:

1. ``exactly_once_sink``: a ``foreachBatch`` producer that stamps every
   record with a deterministic identity ``(eos_batch_id, eos_seq)``
   before producing. The batch id comes from the checkpoint (replays
   reuse it); the seq numbers identical (key, value) copies within the
   batch 1..n, so a *legitimate* in-batch duplicate keeps a distinct
   identity while a *replayed* batch reproduces exactly the same
   identities (a replay re-reads the same source offsets, so the batch
   multiset is identical).
2. ``exactly_once_view``: the downstream helper that collapses produce
   replays by keeping one physical copy per identity — the consumer-side
   half of the contract. Readers through the view observe every input
   record's effect exactly once, for any number of producer retries.

**Guarantee scope.** The deterministic identity relies on Structured
Streaming's replay contract: a failed batch is re-executed under the
SAME batch_id against the SAME checkpointed source offsets, so the
restamped identities are byte-identical and the view collapses them.
That holds for producer failure/retry with an *intact* checkpoint (the
real failure mode, tested by fail-after-produce in
tests/test_streaming_eos.py). It does NOT survive checkpoint loss or
rebuild: a fresh checkpoint may re-batch the same input records under
different (batch_id, seq) and those duplicates pass the view. Same
caveat as Kafka's own transactional producer losing its transaction
log — guard the checkpoint like the data.

Scale shape: the stamp's window partitions by (key, value) — each
partition holds only the copies of one distinct record (size = its
in-batch multiplicity), so there is no per-batch global sort; the view's
dedup shuffles on the same composite identity — high-cardinality,
uniform keys. Both are one exchange.

Channels are pluggable exactly like topology_mode: ``KafkaEosChannel``
produces real Kafka records with the identity in headers
(``includeHeaders``); ``DirEosChannel`` is the broker-free stand-in
(append-only parquet ≙ an at-least-once topic) used by tests — same
code path either side of the channel object.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.query import StreamingQuery

from kafkastreamer_spark.streaming import statedir

EOS_BATCH_COL = "eos_batch_id"
EOS_SEQ_COL = "eos_seq"


def stamp_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
    """Attach the deterministic exactly-once identity to every record
    of one micro-batch: ``eos_batch_id`` = the checkpointed batch id,
    ``eos_seq`` = 1..n over identical (key, value) copies. All rows in
    a seq window are byte-identical, so the row_number needs no
    meaningful sort and any physical order yields the same stamping."""
    w = Window.partitionBy("key", "value").orderBy("key")
    return batch_df.withColumn(EOS_BATCH_COL, F.lit(batch_id)).withColumn(
        EOS_SEQ_COL, F.row_number().over(w)
    )


@dataclass(frozen=True)
class DirEosChannel:
    """Broker-free channel: append-only parquet directory standing in
    for an at-least-once Kafka topic (every produce call appends; a
    replayed batch appends duplicates — exactly the failure mode the
    view must absorb)."""

    path: str

    def write_batch(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.path)

    def read_all(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)


@dataclass(frozen=True)
class KafkaEosChannel:
    """Kafka channel: the identity travels in record headers so the
    payload stays byte-compatible with plain consumers (who simply see
    at-least-once); exactly-once consumers read headers back through
    ``read_all`` + ``exactly_once_view``. Requires a broker — code
    path is exercised broker-free via DirEosChannel (same producer
    shape; see tests/test_streaming_eos.py)."""

    bootstrap: str
    topic: str

    def write_batch(self, df: DataFrame) -> None:
        out = df.select(
            F.col("key").cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
            F.array(
                F.struct(
                    F.lit(EOS_BATCH_COL).alias("key"),
                    F.col(EOS_BATCH_COL).cast("string").cast("binary").alias("value"),
                ),
                F.struct(
                    F.lit(EOS_SEQ_COL).alias("key"),
                    F.col(EOS_SEQ_COL).cast("string").cast("binary").alias("value"),
                ),
            ).alias("headers"),
        )
        (
            out.write.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap)
            .option("topic", self.topic)
            .option("includeHeaders", "true")
            .save()
        )

    def read_all(self, spark: SparkSession) -> DataFrame:
        raw = (
            spark.read.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap)
            .option("subscribe", self.topic)
            .option("includeHeaders", "true")
            .load()
        )
        header = lambda name: F.filter(  # noqa: E731
            F.col("headers"), lambda h: h["key"] == name
        )[0]["value"].cast("string")
        return raw.select(
            F.col("key").cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
            header(EOS_BATCH_COL).cast("long").alias(EOS_BATCH_COL),
            header(EOS_SEQ_COL).cast("int").alias(EOS_SEQ_COL),
        )


def exactly_once_sink(
    stream: DataFrame,
    channel,
    checkpoint: str,
) -> StreamingQuery:
    """Producer half: stamp each micro-batch with its deterministic
    identity and produce through ``channel``. At-least-once at the
    physical layer (a replayed batch produces duplicates), exactly-once
    through ``exactly_once_view`` — the micro-batch translation of the
    reference's per-record transaction (Streamer.java:393-415)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        channel.write_batch(stamp_batch(batch_df, batch_id))

    return statedir.run_batches(stream, checkpoint, write)


def exactly_once_view(df: DataFrame) -> DataFrame:
    """Consumer half: collapse producer replays to one copy per
    identity. Keeps legitimate in-batch duplicates (distinct seq) and
    drops physical re-produces (same batch, same seq). Deterministic:
    surviving copies are byte-identical, so which physical row wins is
    immaterial."""
    w = Window.partitionBy(EOS_BATCH_COL, EOS_SEQ_COL, "key", "value").orderBy(
        EOS_BATCH_COL
    )
    return (
        df.withColumn("_eos_rn", F.row_number().over(w))
        .filter(F.col("_eos_rn") == 1)
        .drop("_eos_rn")
    )


def read_exactly_once(spark: SparkSession, channel) -> DataFrame:
    """Convenience: the channel's content as an exactly-once relation
    (key, value, eos_batch_id, eos_seq)."""
    return exactly_once_view(channel.read_all(spark))
