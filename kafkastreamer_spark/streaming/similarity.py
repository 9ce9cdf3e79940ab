"""Streaming maintenance of a top-k similarity result under vector
ingest — the streaming twin of similarity_topk_incremental
(operators/similarity.py; PAPERS.md EDBT 2020): as embedding deltas
arrive, the per-query top-k is updated from (current top-k) union
(delta scores) only, never by rescanning the corpus.

State is the k x |queries| result table itself — tiny by construction
— kept through ``statedir.fold_sink``.

Contract: vectors are immutable — a vec_id is never re-emitted with a
different embedding. The pair-dedup keeps max(c) per
(query, neighbor), which equals THE one deterministic score under
immutability; if upstream could mutate a vector in place, the dedup
must instead version by batch recency (last-writer-wins), like
streaming/core.py's upsert sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafkastreamer_spark.operators._embed import cosine
from kafkastreamer_spark.operators.similarity import TOP_K
from kafkastreamer_spark.streaming import statedir


def maintain_topk(
    vector_stream: DataFrame,
    queries_df: DataFrame,
    state_dir: str,
    checkpoint: str,
    k: int = TOP_K,
    pre_flip_hook=None,
) -> StreamingQuery:
    """Keep the per-query top-k current as vectors stream in.

    ``queries_df`` is the static query set (query_id, qv as double
    array); the stream carries (vec_id, embedding, ...) rows. The fold
    scores the batch against the broadcast queries, unions the
    current state, dedups by pair, re-ranks and keeps k — per batch
    |delta| x |queries| scoring plus a k-bounded window, never a
    corpus rescan.
    """
    q = queries_df.select("query_id", "qv")

    def fold(batch_df: DataFrame, state, batch_id: int) -> DataFrame:
        delta = batch_df.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        scores = delta.join(
            F.broadcast(q), F.col("vec_id") != F.col("query_id")
        ).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("v")).alias("c"),
        )
        merged = scores if state is None else state.unionByName(scores)
        # scores are deterministic and vectors immutable: max == the one value
        deduped = merged.groupBy("query_id", "neighbor_id").agg(
            F.max("c").alias("c")
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("c"), "neighbor_id")
        return (
            deduped.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .drop("_rk")
            .coalesce(1)  # k x |queries| rows by construction
        )

    return statedir.fold_sink(
        vector_stream, state_dir, checkpoint, fold, pre_flip_hook=pre_flip_hook
    )


def read_topk(spark, state_dir: str, k: int = TOP_K) -> DataFrame:
    """The maintained result, rendered exactly like the batch entries
    (cosine4 fixed point + rank) for parity checks."""
    w = Window.partitionBy("query_id").orderBy(F.desc("c"), "neighbor_id")
    state = statedir.read_state(spark, state_dir)
    if state is None:
        raise FileNotFoundError(f"no published state under {state_dir}")
    return (
        state.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.floor(F.col("c") * 10000).alias("cosine4"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )
