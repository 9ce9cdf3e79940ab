"""Streaming maintenance of additive corpus statistics — the
streaming twins of batch 226's planning/QA entries:

- ``maintain_isotropy_stats`` twins ``embedding_isotropy_audit``:
  the one-pass identity sum_{i!=j} q_i.q_j = ||sum q||^2 - sum||q||^2
  depends only on per-label SUMS (the per-dimension component sums
  and the per-row self-dot totals), all exactly additive in BIGINT —
  so the audit stays current under vector ingest with per-batch work
  |delta| x 64 and state bounded by labels x 64 rows.
- ``maintain_mixture_schedule`` twins ``sample_epoch_mixture_schedule``:
  per-source doc/token counts are additive; the schedule is a pure
  function of the maintained counts.

Both keep per-key BIGINT totals through ``statedir.fold_sink``
(``statedir.merge_fold`` with ``F.sum``), the same fold as merge_upsert_sink and
cms_merge_sink.

The render helpers re-derive the EXACT batch-entry output shape from
the maintained sums, so the twin tests assert bit-for-bit equality
with the registry entries across micro-batch boundaries, a checkpoint
restart, and a mid-write crash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafkastreamer_spark.operators._embed import tokens
from kafkastreamer_spark.queries.relational18 import _ISO_SCALE, _MIX_BUDGET
from kafkastreamer_spark.streaming import statedir


# ------------------------------------------------------------ isotropy


def _iso_partials(batch_df: DataFrame) -> DataFrame:
    """(label, d) keyed partial sums: component sum s, self-dot ssq
    (dim 0 carries the row count and ssq so they are summed once per
    row, not 64x)."""
    e = batch_df.select(
        F.col("label").cast("long").alias("label"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    dotvv = F.aggregate(
        F.zip_with("v", "v", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    q = e.withColumn("_dot", dotvv).filter(F.col("_dot") > 0).select(
        "label",
        F.transform(
            "v", lambda x: F.floor(x / F.sqrt(F.col("_dot")) * _ISO_SCALE)
        ).alias("q"),
    )
    selfsq = F.aggregate(
        F.transform("q", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        q.withColumn("_ssq", selfsq)
        .select("label", "_ssq", F.posexplode("q").alias("d", "qd"))
        .groupBy("label", "d")
        .agg(
            F.sum("qd").cast("long").alias("s"),
            # attach the per-row scalars to dim 0 only
            F.sum(F.when(F.col("d") == 0, F.col("_ssq")).otherwise(0))
            .cast("long")
            .alias("ssq"),
            F.sum(F.when(F.col("d") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_vecs"),
        )
    )


def maintain_isotropy_stats(
    vector_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    pre_flip_hook=None,
) -> StreamingQuery:
    """Keep the isotropy audit's sufficient statistics current as
    (label, embedding) rows stream in. State: labels x 64 rows of
    (s, ssq, n_vecs) — KBs regardless of corpus size."""
    return statedir.fold_sink(
        vector_stream,
        state_dir,
        checkpoint,
        statedir.merge_fold(
            _iso_partials, ["label", "d"], dict.fromkeys(["s", "ssq", "n_vecs"], F.sum)
        ),
        pre_flip_hook=pre_flip_hook,
    )


def read_isotropy_audit(spark: SparkSession, state_dir: str) -> DataFrame:
    """Render the maintained sums exactly like the batch
    embedding_isotropy_audit output (label, n_vecs, mean_cos_fp4)."""
    state = statedir.read_state(spark, state_dir)
    if state is None:
        raise FileNotFoundError(f"no published state under {state_dir}")
    per_label = state.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).cast("long").alias("normsq"),
        F.sum("ssq").cast("long").alias("ssq"),
        F.sum("n_vecs").cast("long").alias("n_vecs"),
    )
    return (
        per_label.filter(F.col("n_vecs") >= 2)
        .select(
            "label",
            "n_vecs",
            F.expr(
                "(10000 * (normsq - ssq)) div "
                f"(n_vecs * (n_vecs - 1) * {_ISO_SCALE * _ISO_SCALE})"
            ).alias("mean_cos_fp4"),
        )
        .orderBy("label")
    )


# ------------------------------------------------- mixture schedule


def _mix_partials(batch_df: DataFrame) -> DataFrame:
    return (
        batch_df.select(
            "source", F.size(tokens("text")).cast("long").alias("nt")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
    )


def maintain_mixture_schedule(
    doc_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    pre_flip_hook=None,
) -> StreamingQuery:
    """Keep per-source doc/token counts current as documents stream
    in; the epoch/mixture schedule re-derives from them on read.
    State: one row per source."""
    return statedir.fold_sink(
        doc_stream,
        state_dir,
        checkpoint,
        statedir.merge_fold(
            _mix_partials, ["source"], dict.fromkeys(["n_docs", "n_tokens"], F.sum)
        ),
        pre_flip_hook=pre_flip_hook,
    )


def read_mixture_schedule(spark: SparkSession, state_dir: str) -> DataFrame:
    """Render the maintained counts exactly like the batch
    sample_epoch_mixture_schedule output."""
    state = statedir.read_state(spark, state_dir)
    if state is None:
        raise FileNotFoundError(f"no published state under {state_dir}")
    wts = state.withColumn(
        "w_fp4",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 10000).cast("long"),
    )
    tot = wts.agg(F.sum("w_fp4").cast("long").alias("w_tot"))
    return (
        wts.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "w_fp4",
            F.expr(f"({_MIX_BUDGET} * w_fp4) div w_tot").alias("target_tokens"),
            F.expr(
                f"(10000 * (({_MIX_BUDGET} * w_fp4) div w_tot)) div n_tokens"
            ).alias("epochs_fp4"),
        )
        .orderBy("source")
    )
