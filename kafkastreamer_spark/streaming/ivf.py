"""Online IVF index maintenance — the index-side streaming twin of
``similarity_ivf_probe`` (operators/similarity.py): as vectors stream
in, each micro-batch is assigned to its nearest coarse centroid
map-side and appended to a LIST-PARTITIONED parquet index, so queries
probe only their nprobe lists through ordinary partition pruning —
the layout a real IVF index materializes, kept current online.

Separation of concerns mirrors production ANN services: centroids are
TRAINED periodically (here: supplied once at stream start — the batch
entry's deterministic every-step-th choice, or a k-means result from
operators/training.py) and the INDEX is maintained continuously;
re-training triggers a rebuild, it is not an incremental path
(FAISS/Milvus make the same split).

Crash posture: each batch writes only its own
``batch_id=N/cent_id=L`` partitions (the exactly_once_parquet_sink
pattern, replay overwrites the same batch dir — idempotent), so no
read-modify-write of shared state at all; assignments are immutable
under the same immutable-vector contract as the top-k twin.

Scale: assignment is a map-side pick against the centroids broadcast
as one row (one row per vector into the shuffle-free append); the
probe path reads nprobe/n_lists of the index via partition pruning
(plan-asserted in the test). State on disk is the corpus itself,
once — the index IS the partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafkastreamer_spark.operators._embed import norm
from kafkastreamer_spark.operators.similarity import (
    IVF_NPROBE,
    TOP_K,
    ivf_assign,
    ivf_probes,
    ivf_rerank,
)
from kafkastreamer_spark.streaming import statedir


def _require_centroids(centroids: DataFrame) -> DataFrame:
    """(cent_id, cv, ncv) of a centroid table that has rows. An empty
    table would leave every vector without a list, so it is refused
    before any query starts."""
    cents = centroids.select("cent_id", "cv", "ncv")
    if cents.isEmpty():
        raise ValueError("IVF centroid table is empty: no list to assign to")
    return cents


def assign_to_lists(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, v, nv, cent_id) — nearest-centroid coarse quantization
    with the batch entry's ``ivf_assign``, so assignments are
    bit-identical. ``centroids``: (cent_id, cv, ncv)."""
    ep = vectors.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).withColumn("nv", norm(F.col("v")))
    return ivf_assign(ep, centroids)


def maintain_ivf_index(
    vector_stream: DataFrame,
    centroids: DataFrame,
    index_dir: str,
    checkpoint: str,
) -> StreamingQuery:
    """Append each micro-batch's assigned vectors into the
    list-partitioned index. Replay-safe: a batch overwrites only its
    own ``batch_id=N`` subtree. Raises ``ValueError`` on an empty
    centroid table."""
    import os  # noqa: PLC0415

    cents = _require_centroids(centroids)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        assigned = assign_to_lists(batch_df, cents)
        (
            assigned.write.mode("overwrite")
            .partitionBy("cent_id")
            .parquet(os.path.join(index_dir, f"batch_id={batch_id}"))
        )

    return statedir.run_batches(vector_stream, checkpoint, write_batch)


def read_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The maintained index with its partition columns (batch_id,
    cent_id) discovered — filters on cent_id prune at the source."""
    return spark.read.option("basePath", index_dir).parquet(index_dir)


def ivf_probe_maintained(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = IVF_NPROBE,
    k: int = TOP_K,
) -> DataFrame:
    """Query the maintained index with the batch entry's probe and
    re-rank (``ivf_probes``, ``ivf_rerank``), reading ONLY the probed
    lists' partitions, so on the same corpus + centroids the result
    matches ``similarity_ivf_probe`` bit-for-bit. ``queries``:
    (query_id, qv, qnv). Raises ``ValueError`` on an empty centroid
    table."""
    probes = ivf_probes(queries, _require_centroids(centroids), nprobe)
    lists = [r["cent_id"] for r in probes.select("cent_id").distinct().collect()]
    index = read_index(spark, index_dir).filter(F.col("cent_id").isin(lists))
    return ivf_rerank(index, probes, k)
