"""Streaming core: the reference's stage semantics on Structured
Streaming (SURVEY.md §2-A A9-A13, §4.3).

One streaming query replaces the reference's chain of per-partition
JVMs: the stage functions compose into a single projection
(stages.py), the per-key running count is a streaming aggregation in
update mode (A9), and recovery/exactly-once come from checkpointing
instead of hand-rolled Kafka transactions + compacted changelog
replay (A3/A13). The reference's rollback aliasing bug
(Streamer.java:265 — old_state aliases live state, so rollback is a
no-op) is deliberately NOT reproduced: checkpointed state restores
correctly, which tests assert via stop/restart.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.query import StreamingQuery

from kafkastreamer_spark.io import table_exists
from kafkastreamer_spark.streaming import statedir
from kafkastreamer_spark.streaming.stages import apply_stage_chain, parse_value


def stage_transform(
    stream: DataFrame, ops: Sequence[str], quarantine: bool = True
) -> DataFrame:
    """The reference's per-record compute (A10) as a stream transform:
    parse the string payload, apply the stage chain, keep the key.

    Malformed payloads (the reference crashes: Integer.parseInt,
    Streamer.java:328) become null values with the raw payload kept in
    a quarantine column — SURVEY.md §7(d).
    """
    parsed = stream.withColumn("_raw", F.col("value")).withColumn(
        "value", parse_value(F.col("value"))
    )
    out = apply_stage_chain(parsed, ops)
    out = out.select(
        "key",
        F.col("value").cast("string").alias("value"),
        F.when(F.col("value").isNull(), F.col("_raw")).alias("quarantine"),
    )
    if not quarantine:
        out = out.drop("quarantine")
    return out


def running_count(stream: DataFrame, key_col: str = "key") -> DataFrame:
    """Reference A9: per-key running count as a streaming aggregation.

    In update output mode each micro-batch emits the keys whose counts
    changed — the semantic equivalent of the reference's per-record
    state-changelog append (Streamer.java:277-281), minus the
    per-record fsync. State lives in the checkpointed state store
    (RocksDB provider at scale) instead of a compacted topic.

    The state has one partition per ``spark.sql.shuffle.partitions``
    as set when the checkpoint is created; a restart keeps that count
    whatever the session sets later. The rule is one state partition
    per core: ``get_spark`` sets the shuffle width to the core count
    (``SPARK_GRAFT_CPUS``), so state updates use every core and the
    width grows with the cluster. Each partition commits one delta per
    batch, which is cheap through the engine's checkpoint manager. A
    200k-record, 100k-key, 6-batch drain on 4 cores summed 0.007 /
    0.05 / 0.15 s of state commit at 1 / 4 / 8 partitions, and drained
    fastest at 4 (2.2 s, against 2.5 s at 1 and 2.6 s at 8).
    """
    return stream.groupBy(key_col).agg(F.count(F.lit(1)).alias("count"))


def keyed_running_count_stateful(stream: DataFrame) -> DataFrame:
    """A9 generalized through arbitrary-stateful processing
    (applyInPandasWithState): same counts as running_count, but the
    state update is user code — the extension point for any custom
    per-key state machine the reference's Map<String,String> stood for.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        count = state.get[0] if state.exists else 0
        for pdf in pdfs:
            count += len(pdf)
        state.update((count,))
        yield pd.DataFrame({"key": [key[0]], "count": [count]})

    return stream.groupBy("key").applyInPandasWithState(
        update,
        outputStructType="key string, count long",
        stateStructType="count long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def keyed_running_count_tws(stream: DataFrame) -> DataFrame:
    """A9 through ``transformWithStateInPandas`` (Spark 4
    ``StatefulProcessor``) — the successor API to
    ``applyInPandasWithState`` with typed state primitives
    (value/list/map), timers, and per-state TTL.

    Same counts as :func:`running_count`; the per-key tally lives in a
    typed ``ValueState`` cell. Requires the RocksDB state store
    provider (the API rejects the default HDFS-backed provider), which
    is also the 100 TB posture: state off-heap + on local disk with
    changelog checkpointing (``session.ROCKSDB_STATE_CONF``).

    Reference grounding: the state cell is the engine's replacement
    for the per-instance ``Map<String,String>`` the reference mutates
    and re-serializes per record (Streamer.java:65,264-282).

    Environment note: the transformWithState driver worker requires
    the ``protobuf`` Python package (state-server protocol); the test
    gates on its presence (``tests/test_streaming.py::
    test_tws_running_count``) and skips where it cannot install.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "n long")

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            n = self._count.get()[0] if self._count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._count.update((n,))
            yield pd.DataFrame({"key": [key[0]], "count": [n]})

        def close(self) -> None:
            pass

    return stream.groupBy("key").transformWithStateInPandas(
        RunningCount(),
        outputStructType="key string, count long",
        outputMode="update",
        timeMode="none",
    )


def to_memory_sink(
    stream: DataFrame, name: str, output_mode: str = "update"
) -> StreamingQuery:
    """Memory sink for tests/inspection (bounded data only)."""
    return (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def kafka_producer_options(
    bootstrap: str, topic: str, checkpoint: str
) -> dict[str, str]:
    """Producer option map as a pure function (assertable without a
    broker; docs/kafka_smoke_blocker.md). The reference's transactional
    producer (Streamer.java:100-108) maps to checkpointed at-least-once
    here, with strict semantics layered in streaming/eos.py."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "topic": topic,
        "checkpointLocation": checkpoint,
    }


def to_kafka_sink(
    stream: DataFrame,
    bootstrap: str,
    topic: str,
    checkpoint: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Reference A11: produce (key, value) to the downstream stage
    topic. Spark's Kafka sink is at-least-once (duplicates possible on
    micro-batch replay) — the documented default path (SURVEY.md
    §4.3(1)); use exactly_once_parquet_sink / an idempotent consumer
    for strict semantics."""
    return (
        stream.selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")
        .writeStream.format("kafka")
        .options(**kafka_producer_options(bootstrap, topic, checkpoint))
        .outputMode(output_mode)
        .start()
    )


def exactly_once_parquet_sink(
    stream: DataFrame, out_dir: str, checkpoint: str
) -> StreamingQuery:
    """Strict end-to-end exactly-once sink (SURVEY.md §4.3(2)): each
    micro-batch overwrites its own ``out_dir/batch_id=N`` directory,
    so a replayed batch replaces its earlier output instead of
    duplicating it — the batch-granularity form of the reference's
    per-record transaction (Streamer.java:393-415)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        target = os.path.join(out_dir, f"batch_id={batch_id}")
        batch_df.write.mode("overwrite").parquet(target)

    return statedir.run_batches(stream, checkpoint, write_batch)


def keyed_heavy_hitters_stateful(
    stream: DataFrame,
    key_col: str = "key",
    item_col: str = "value",
    capacity: int = 4,
) -> DataFrame:
    """Streaming heavy hitters per key: a Misra-Gries summary of
    ``item_col`` values held in per-key state (applyInPandasWithState)
    — the bounded-memory answer to "top event types per user over an
    unbounded stream". Each batch emits the key's current candidate
    set with estimated counts.

    Guarantees (classic Misra-Gries, capacity k): every item with true
    frequency > n/(k+1) is retained, and true_count - estimate ≤ n/(k+1)
    where n is the key's stream length. State is two parallel arrays
    (items, counts) — fixed size k per key regardless of stream length,
    which is what makes this viable where an exact per-item count map
    would grow without bound (the reference's Map<String,String> state,
    Streamer.java:264-282, is the unbounded version of exactly this).
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            items, counts, n = list(state.get[0]), list(state.get[1]), state.get[2]
        else:
            items, counts, n = [], [], 0
        mg = dict(zip(items, counts))
        for pdf in pdfs:
            for item in pdf[item_col]:
                n += 1
                if item in mg:
                    mg[item] += 1
                elif len(mg) < capacity:
                    mg[item] = 1
                else:
                    # decrement-all: drop zeroed counters
                    mg = {i: c - 1 for i, c in mg.items() if c > 1}
        items = sorted(mg)  # deterministic state/output order
        counts = [mg[i] for i in items]
        state.update((items, counts, n))
        yield pd.DataFrame(
            {
                "key": [key[0]] * len(items),
                "item": items,
                "est_count": counts,
                "stream_len": [n] * len(items),
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType="key string, item string, est_count long, stream_len long",
        stateStructType="items array<string>, counts array<long>, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def merge_upsert_sink(
    stream: DataFrame,
    base_dir: str,
    checkpoint: str,
    key_col: str = "key",
    delta_col: str = "delta",
    pre_flip_hook=None,
    post_publish_hook=None,
) -> StreamingQuery:
    """Streaming CDC apply: the state table (``key_col``, total) is
    the per-key sum of ``delta_col`` over every batch so far (a NULL
    key is one key). Kept through ``statedir.fold_sink``."""

    def partials(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(key_col).agg(F.sum(delta_col).alias("total"))

    return statedir.fold_sink(
        stream,
        base_dir,
        checkpoint,
        statedir.merge_fold(partials, [key_col], {"total": F.sum}),
        pre_flip_hook=pre_flip_hook,
        post_publish_hook=post_publish_hook,
    )


def _bucket_upsert(
    stream: DataFrame,
    table_dir: str,
    checkpoint: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    recompute,
    post_write_hook=None,
    output_mode: str | None = None,
) -> StreamingQuery:
    """The bucket rewrite both upsert sinks share. Per micro-batch:
    the batch rows are tagged with ``_bkt =
    pmod(xxhash64(bucket_cols), n_buckets)`` (a key never changes
    bucket); the current rows of only the affected buckets are read
    back (partition-pruned) and unioned in; ``recompute`` reduces the
    union to the buckets' new contents, which a dynamic partition
    overwrite writes over the affected buckets only. ``recompute``
    must be idempotent — a replayed batch re-reads rows it already
    wrote. ``post_write_hook(batch_id)`` runs after the overwrite,
    before the checkpoint commit (crash-injection point)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bkt = F.pmod(F.xxhash64(*bucket_cols), F.lit(n_buckets)).cast("int")
        batch = batch_df.withColumn("_bkt", bkt)
        affected = [r["_bkt"] for r in batch.select("_bkt").distinct().collect()]
        if not affected:
            return
        rows = batch
        # Existence probe, not a catch-all: a transient read error must
        # fail (and retry) the batch, never rewrite the affected
        # buckets from this batch's rows alone.
        if table_exists(spark, table_dir):
            current = spark.read.parquet(table_dir).filter(
                F.col("_bkt").isin(affected)
            )
            rows = current.select(*batch.columns).unionByName(batch)
        (
            recompute(rows)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bkt")
            .parquet(table_dir)
        )
        if post_write_hook is not None:
            post_write_hook(batch_id)

    return statedir.run_batches(stream, checkpoint, write_batch, output_mode)


def upsert_parquet_sink(
    stream: DataFrame,
    table_dir: str,
    key_cols: Sequence[str],
    version_col: str,
    checkpoint: str,
    n_buckets: int = 64,
    post_write_hook=None,
    output_mode: str | None = None,
) -> StreamingQuery:
    """Streaming keyed upsert (type 1, last writer wins) into a
    hash-bucket-partitioned parquet table: per key the row with the
    highest ``version_col`` is kept, ties broken by the md5 of the
    row, so a replayed batch converges to the same table. Only the
    buckets a batch touches are rewritten (``_bucket_upsert``).
    ``output_mode="update"`` feeds it the changed keys of a running
    aggregation (streaming/ts_similarity.py)."""
    keys = list(key_cols)

    def last_writer_wins(rows: DataFrame) -> DataFrame:
        cells = [F.col(c).cast("string") for c in rows.columns]
        tie = F.md5(F.concat_ws("\x1f", *cells))
        rn = F.row_number().over(
            Window.partitionBy(*keys).orderBy(F.col(version_col).desc(), tie)
        )
        return rows.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")

    return _bucket_upsert(
        stream,
        table_dir,
        checkpoint,
        keys,
        n_buckets,
        last_writer_wins,
        post_write_hook,
        output_mode,
    )


def scd2_upsert_sink(
    stream: DataFrame,
    table_dir: str,
    key_col: str,
    value_col: str,
    ts_col: str,
    checkpoint: str,
    n_buckets: int = 64,
    post_write_hook=None,
) -> StreamingQuery:
    """Streaming SCD type 2: a full version-history table (k, v,
    valid_from, valid_to, is_current; valid_to is the next version's
    start, NULL while current) from a change stream, the streaming
    twin of the batch ``events_scd2_intervals``. Per affected key the
    change events (k, v, valid_from) are deduplicated — so a replayed
    batch adds nothing — and the intervals recomputed with one LEAD
    window. Only the buckets a batch touches are rewritten
    (``_bucket_upsert``)."""

    def history(rows: DataFrame) -> DataFrame:
        events = rows.dropDuplicates(["k", "valid_from", "v"])
        w = Window.partitionBy("k").orderBy("valid_from", "v")
        return events.select(
            "k",
            "v",
            "valid_from",
            "_bkt",
            F.lead("valid_from").over(w).alias("valid_to"),
        ).withColumn("is_current", F.col("valid_to").isNull())

    changes = stream.select(
        F.col(key_col).alias("k"),
        F.col(value_col).alias("v"),
        F.col(ts_col).alias("valid_from"),
    )
    return _bucket_upsert(
        changes,
        table_dir,
        checkpoint,
        ["k"],
        n_buckets,
        history,
        post_write_hook,
    )
