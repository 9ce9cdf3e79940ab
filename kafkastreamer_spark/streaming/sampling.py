"""Streaming maintenance of the per-source document cap — the
streaming twin of ``sample_source_cap`` (operators/sampling.py): keep
at most SOURCE_CAP docs per source, chosen by the deterministic
md5(doc_id) order, kept current as documents stream in.

This is the deterministic replacement for a per-stratum streaming
reservoir sample: ranking by a uniform hash of the id IS a uniform
draw, but unlike an RNG reservoir the maintained set is a pure
function of the ids seen — so the streamed result equals the batch
operator run over the same corpus BIT-FOR-BIT (the twin test).

State is the <= SOURCE_CAP x |sources| winner set itself, kept
through ``statedir.fold_sink``.

Scale: per batch the work is |delta| hashing map-side plus a
cap-bounded rank over (state + delta) — the corpus is never
rescanned. The merge's rank partitions by source over a table bounded
by cap x sources; at 1000x sources it stays key-distributed (and the
batch entry's deskewed md5_ranked form applies if a single merge ever
outgrows a task, which cap-bounded state cannot).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafkastreamer_spark.operators.sampling import SOURCE_CAP
from kafkastreamer_spark.streaming import statedir


def maintain_source_cap(
    doc_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    cap: int = SOURCE_CAP,
    pre_flip_hook=None,
) -> StreamingQuery:
    """Keep the per-source md5-ranked document cap current under
    streaming ingest. The stream carries (doc_id, source, ...) rows;
    the fold hashes the batch, unions the current winner set, dedups
    by doc, re-ranks per source and keeps ``cap``."""

    def fold(batch_df: DataFrame, state, batch_id: int) -> DataFrame:
        delta = batch_df.select(
            "doc_id",
            "source",
            F.md5(F.col("doc_id").cast("string")).alias("h"),
        )
        merged = delta if state is None else state.unionByName(delta)
        deduped = merged.dropDuplicates(["source", "doc_id"])
        w = Window.partitionBy("source").orderBy("h", "doc_id")
        return (
            deduped.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= cap)
            .drop("_rk")
            .coalesce(1)  # cap x |sources| rows by construction
        )

    return statedir.fold_sink(
        doc_stream, state_dir, checkpoint, fold, pre_flip_hook=pre_flip_hook
    )


def read_source_cap(spark, state_dir: str) -> DataFrame:
    """The maintained sample, shaped exactly like the batch
    ``sample_source_cap`` output for bit-for-bit parity checks."""
    state = statedir.read_state(spark, state_dir)
    if state is None:
        raise FileNotFoundError(f"no published state under {state_dir}")
    return state.select("doc_id", "source").orderBy("source", "doc_id")
