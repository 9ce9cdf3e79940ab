"""Online IVF index maintenance: the list-partitioned index built
incrementally over a streamed corpus, queried with the same
centroids, must reproduce the batch ``similarity_ivf_probe`` result
bit-for-bit — across micro-batch boundaries and a checkpoint restart
— and the probe scan must be partition-PRUNED to the probed lists."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from kafkastreamer_spark.operators._embed import norm
from kafkastreamer_spark.operators.similarity import N_QUERIES, _emb
from kafkastreamer_spark.registry import REGISTRY
from kafkastreamer_spark.streaming.ivf import (
    ivf_probe_maintained,
    maintain_ivf_index,
    read_index,
)
from kafkastreamer_spark.streaming.sources import file_source
from kafkastreamer_spark.tables import load_table


def _centroids_and_queries(spark, sf_dir):
    """The batch entry's deterministic centroid/query derivation."""
    e = _emb(spark, sf_dir)
    n = e.count()
    ncent = max(1, int(math.floor(math.sqrt(float(n)))))
    step = max(1, n // ncent)
    ep = e.select("vec_id", "v", norm(F.col("v")).alias("nv"))
    cents = ep.filter(F.col("vec_id") % step == 0).select(
        F.col("vec_id").alias("cent_id"),
        F.col("v").alias("cv"),
        F.col("nv").alias("ncv"),
    )
    queries = ep.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nv").alias("qnv"),
    )
    return cents.persist(), queries.persist()


def test_maintained_ivf_matches_batch_probe(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    cents, queries = _centroids_and_queries(spark, sf_dir)
    inp = str(tmp_path / "in")
    idx, ckpt = str(tmp_path / "ivf_index"), str(tmp_path / "ckpt")

    # run 1: two of three chunks
    for i in range(2):
        emb.filter(F.col("vec_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
    q = maintain_ivf_index(
        file_source(spark, inp, emb.schema, max_files_per_trigger=1),
        cents,
        idx,
        ckpt,
    )
    q.awaitTermination(180)

    # restart: third chunk
    emb.filter(F.col("vec_id") % 3 == 2).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    q = maintain_ivf_index(
        file_source(spark, inp, emb.schema, max_files_per_trigger=1),
        cents,
        idx,
        ckpt,
    )
    q.awaitTermination(180)

    # the index holds the whole corpus exactly once
    assert read_index(spark, idx).count() == emb.count()

    got = [
        tuple(r)
        for r in ivf_probe_maintained(spark, idx, queries, cents).collect()
    ]
    want = [
        tuple(r)
        for r in REGISTRY["similarity_ivf_probe"].fn(spark, sf_dir).collect()
    ]
    assert got == want


def test_probe_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """The probe must read only the probed lists: the partition filter
    reaches the scan, and the RUNTIME file set (input_file_name) of
    the pruned index read is a strict subset of the full index's.
    (DataFrame.inputFiles() reports the relation's full file index
    pre-pruning, so it cannot witness this.)"""
    from pyspark.sql import Window

    from kafkastreamer_spark.operators._embed import dot

    emb = load_table(spark, sf_dir, "embeddings")
    cents, queries = _centroids_and_queries(spark, sf_dir)
    inp = str(tmp_path / "in")
    idx, ckpt = str(tmp_path / "ivf_index"), str(tmp_path / "ckpt")
    emb.coalesce(1).write.mode("append").parquet(inp)
    q = maintain_ivf_index(
        file_source(spark, inp, emb.schema), cents, idx, ckpt
    )
    q.awaitTermination(180)

    one_query = queries.filter(F.col("query_id") == 0)
    res = ivf_probe_maintained(spark, idx, one_query, cents)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "cent_id" in plan  # partition filter reached the scan

    # the probe's list choice, recomputed exactly as the probe does
    w = Window.partitionBy("query_id").orderBy(F.desc("qc"), "cent_id")
    lists = [
        r["cent_id"]
        for r in one_query.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "cent_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qnv") * F.col("ncv")))
            .alias("qc"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("cent_id")
        .collect()
    ]
    index_all = read_index(spark, idx)
    full = {
        r["f"]
        for r in index_all.select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    scanned = {
        r["f"]
        for r in index_all.filter(F.col("cent_id").isin(lists))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert scanned and scanned < full, (
        f"probe read {len(scanned)}/{len(full)} files — not pruned"
    )


def test_empty_centroid_table_is_refused(spark, sf_dir, tmp_path):
    """With no centroids every vector would land in no list, so the
    index and the probe refuse an empty centroid table before any
    query starts: no checkpoint commit, no index files."""
    import os

    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    cents, queries = _centroids_and_queries(spark, sf_dir)
    empty = cents.limit(0)
    inp = str(tmp_path / "in")
    idx, ckpt = str(tmp_path / "ivf_index"), str(tmp_path / "ckpt")
    emb.coalesce(1).write.parquet(inp)

    with pytest.raises(ValueError, match="centroid table is empty"):
        q = maintain_ivf_index(file_source(spark, inp, emb.schema), empty, idx, ckpt)
        q.awaitTermination(180)
    assert not os.path.exists(os.path.join(ckpt, "commits", "0"))
    assert not os.path.exists(idx)

    with pytest.raises(ValueError, match="centroid table is empty"):
        ivf_probe_maintained(spark, idx, queries, empty)
