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

Scale: assignment is a broadcast cross join + map-side argmax (one
row per vector into the shuffle-free append); the probe path reads
nprobe/n_lists of the index via partition pruning (plan-asserted in
the test). State on disk is the corpus itself, once — the index IS
the partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafkastreamer_spark.operators._embed import dot, norm
from kafkastreamer_spark.operators.similarity import IVF_NPROBE, TOP_K
from kafkastreamer_spark.streaming import statedir


def assign_to_lists(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, v, nv, cent_id) — nearest-centroid coarse quantization,
    broadcast centroids + map-side max(struct) argmax (the exact
    expression of the batch entry, so assignments are bit-identical).
    ``centroids``: (cent_id, cv, ncv)."""
    ep = vectors.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).withColumn("nv", norm(F.col("v")))
    return (
        ep.crossJoin(F.broadcast(centroids))
        .select(
            "vec_id",
            "v",
            "nv",
            "cent_id",
            (dot(F.col("v"), F.col("cv")) / (F.col("nv") * F.col("ncv"))).alias(
                "cc"
            ),
        )
        .groupBy("vec_id")
        .agg(
            F.max(F.struct(F.col("cc"), (-F.col("cent_id")).alias("nc"))).alias(
                "m"
            ),
            F.first("v").alias("v"),
            F.first("nv").alias("nv"),
        )
        .select("vec_id", "v", "nv", (-F.col("m.nc")).alias("cent_id"))
    )


def maintain_ivf_index(
    vector_stream: DataFrame,
    centroids: DataFrame,
    index_dir: str,
    checkpoint: str,
) -> StreamingQuery:
    """Append each micro-batch's assigned vectors into the
    list-partitioned index. Replay-safe: a batch overwrites only its
    own ``batch_id=N`` subtree."""
    import os  # noqa: PLC0415

    cents = centroids.select("cent_id", "cv", "ncv")

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
    """Query the maintained index: pick each query's nprobe nearest
    lists, read ONLY those partitions (pruned scan), exact re-rank —
    expression-identical to the batch entry's probe/re-rank, so on
    the same corpus + centroids the result matches bit-for-bit.
    ``queries``: (query_id, qv, qnv)."""
    cents = centroids.select("cent_id", "cv", "ncv")
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("qc"), "cent_id")
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qv",
            "qnv",
            "cent_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qnv") * F.col("ncv"))).alias(
                "qc"
            ),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "qnv", "cent_id")
    )
    probed_lists = [r["cent_id"] for r in probes.select("cent_id").distinct().collect()]
    index = read_index(spark, index_dir).filter(F.col("cent_id").isin(probed_lists))
    scored = (
        index.join(F.broadcast(probes), "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("qv"), F.col("v")) / (F.col("qnv") * F.col("nv"))).alias("c"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("c"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.floor(F.col("c") * 10000).alias("cosine4"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )
