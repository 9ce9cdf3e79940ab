"""Training-corpus preparation operators: context-window chunking,
sequence packing, embedding normalization, and a deterministic
k-means (assign + one Lloyd step) over the embeddings table.

These are the ops an LLM-data pipeline runs AFTER dedup/quality
filtering (operators/dedup.py, operators/text.py): split documents
into model-context-sized token chunks, pack short documents into
dense training sequences, and cluster embeddings for curriculum /
diversity sampling.

Reference grounding: none of this exists in the reference (its whole
surface is a keyed running count plus arithmetic maps,
v1/src/main/java/Stream/Streamer.java:264-356); all of it is §2-B /
north-star extension built on Spark built-ins — no Python in any hot
path.

Determinism: token chunks hash with md5; k-means centroids derive
from md5 nibbles (identical hex in both engines); distances fold
with the same sequential dot product DuckDB's list_dot_product uses,
so every query here has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.operators._embed import (
    SQL_TOKENS,
    dot,
    nearest_centroids,
    norm,
    tokens,
)
from kafkastreamer_spark.queries._util import SCALE, fixed
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table, widen

CHUNK_TOKENS = 32  # context-window size (tokens)
CHUNK_STRIDE = 24  # window stride → 8-token overlap
PACK_WINDOW = 2048  # packed-sequence length (tokens)
KMEANS_K = 8
DIM = 64


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return widen(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


# ---------------------------------------------------------------------------
# Context-window chunking
# ---------------------------------------------------------------------------


@register(
    "text_chunk_tokens",
    oracle=f"""
        WITH w AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents)
        SELECT doc_id,
               st // {CHUNK_STRIDE} AS chunk_idx,
               len(list_slice(w, st + 1, st + {CHUNK_TOKENS})) AS n_tok,
               md5(array_to_string(list_slice(w, st + 1, st + {CHUNK_TOKENS}), ' '))
                   AS chunk_hash
        FROM w, UNNEST(range(0, len(w), {CHUNK_STRIDE})) AS t(st)
        ORDER BY doc_id, chunk_idx
    """,
    tags=("llm-data", "text", "chunking"),
)
def text_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding context-window chunking: each document becomes
    overlapping {CHUNK_TOKENS}-token chunks at stride {CHUNK_STRIDE}
    (the tokenize-and-window step before training-sequence assembly;
    the final short chunk is kept).

    Scale shape: pure map — tokenize once, explode chunk starts,
    slice the materialized token array (no re-tokenize per chunk).
    Output rows ≈ n_tokens/stride per doc; the chunk content travels
    as a 32-byte md5, not the token text, so downstream exact-dedup
    of chunks shuffles fixed-size keys."""
    w = widen(load_table(spark, sf_dir, "documents")).select(
        "doc_id", tokens("text").alias("w")
    )
    start = F.col("chunk_idx") * CHUNK_STRIDE
    chunk = F.slice(F.col("w"), start + 1, F.lit(CHUNK_TOKENS))
    return (
        w.select(
            "doc_id",
            "w",
            F.explode(
                F.sequence(F.lit(0), F.floor((F.size("w") - 1) / CHUNK_STRIDE))
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size(chunk).cast("long").alias("n_tok"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "text_pack_sequences",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, len({SQL_TOKENS}) AS n_tok FROM documents
        )
        SELECT lang, doc_id, n_tok,
               CAST(COALESCE(SUM(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS "offset",
               CAST(COALESCE(SUM(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // {PACK_WINDOW} AS BIGINT) AS pack_id
        FROM t
        ORDER BY lang, doc_id
    """,
    tags=("llm-data", "text", "packing"),
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-split): documents are laid out
    end-to-end per language in doc_id order; each doc's start offset
    in the token stream determines its {PACK_WINDOW}-token pack.
    This is the packing layout pretraining pipelines use to avoid
    padding waste — deterministic, order-stable, and computable as a
    single window cumsum (no driver-side loop).

    Scale shape: one shuffle, partitioned by lang — packing keys are
    (lang, pack_id) so parallelism is per-language, not global. A
    100 TB corpus would sub-shard the partition key (e.g. lang ×
    hash-bucket from sample_stratified_hash) the same way; a single
    global ORDER BY would serialize and is deliberately avoided.
    Token counts are exact ints, so the cumsum is engine-portable."""
    t = widen(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return (
        t.select(
            "lang",
            "doc_id",
            "n_tok",
            offset.alias("offset"),
            F.floor(offset / PACK_WINDOW).cast("long").alias("pack_id"),
        )
        .orderBy("lang", "doc_id")
    )


# ---------------------------------------------------------------------------
# Embedding normalization + deterministic k-means
# ---------------------------------------------------------------------------


@register(
    "embedding_normalize",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        u AS (
            SELECT vec_id, nrm,
                   list_transform(v, x -> x / nrm) AS unit
            FROM n
        )
        SELECT vec_id,
               CAST(FLOOR(nrm * {SCALE}) AS BIGINT) AS norm4,
               CAST(FLOOR(list_dot_product(unit, unit) * 1000000) AS BIGINT)
                   AS unitsq6,
               CAST(FLOOR(unit[1] * {SCALE}) AS BIGINT) AS u1_4
        FROM u
        ORDER BY vec_id
    """,
    tags=("llm-data", "similarity", "vector"),
)
def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization of the embedding column — the prep step every
    cosine-based pipeline runs once so later similarity is a plain
    dot product. Emits the norm and two checks of the unit vector
    (its self-dot ≈ 1 and its first component) in fixed point; the
    full array stays internal (engines agree bit-for-bit on the
    arithmetic — fold dot == DuckDB list_dot_product — but hashing
    arrays cross-engine is format-fragile, scalars are not).

    Scale shape: pure map, no shuffle; at 100 TB this pipelines into
    the scan."""
    e = _vecs(spark, sf_dir)
    nrm = norm(F.col("v"))
    withn = e.select("vec_id", "v", nrm.alias("nrm"))
    unit = F.transform(F.col("v"), lambda x: x / F.col("nrm"))
    u = withn.select("vec_id", "nrm", unit.alias("unit"))
    return (
        u.select(
            "vec_id",
            F.floor(F.col("nrm") * SCALE).cast("long").alias("norm4"),
            F.floor(dot(F.col("unit"), F.col("unit")) * 1000000)
            .cast("long")
            .alias("unitsq6"),
            F.floor(F.element_at("unit", 1) * SCALE).cast("long").alias("u1_4"),
        )
        .orderBy("vec_id")
    )


# Deterministic centroid c (0..K-1), component i (1..DIM):
# (hexnibble(md5('c<c>_<i>')[0]) - 8.5) / 8  ∈ (-1, 1), engine-portable.
_SQL_CENT = "((instr('0123456789abcdef', substr(md5('c' || c || '_' || i), 1, 1)) - 8.5) / 8.0)"


def _centroid(c: Column) -> Column:
    """md5-derived centroid vector for cluster id column c."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(DIM)),
        lambda i: (
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(
                    F.md5(F.concat(F.lit("c"), c.cast("string"), F.lit("_"), i.cast("string"))),
                    1,
                    1,
                ),
            )
            - 8.5
        )
        / 8.0,
    )


def _sql_assign_cte() -> str:
    """DuckDB CTE computing (vec_id, cluster, v): nearest of the K
    md5-derived centroids by squared L2, ties to the lower cluster id."""
    return f"""
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        dists AS (
            SELECT vec_id, v, c,
                   CAST(FLOOR(list_dot_product(
                       list_transform(range(1, {DIM + 1}), i -> v[CAST(i AS INT)] - {_SQL_CENT}),
                       list_transform(range(1, {DIM + 1}), i -> v[CAST(i AS INT)] - {_SQL_CENT})
                   ) * {SCALE}) AS BIGINT) AS d4
            FROM e, (SELECT unnest(range({KMEANS_K})) AS c)
        ),
        assign AS (
            SELECT vec_id, v, c AS cluster, d4
            FROM (SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY vec_id ORDER BY d4, c) AS rn
                  FROM dists)
            WHERE rn = 1
        )
    """


def _l2_d4(c: Column) -> Column:
    """Fixed-point squared L2 distance from row column ``v`` to the
    centroid vector ``c.cv``."""
    diff = F.zip_with(F.col("v"), c["cv"], lambda x, y: x - y)
    return F.floor(dot(diff, diff) * SCALE).cast("long")


def _assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, cluster, d4): each vector's nearest of the K
    md5-derived centroids, ties to the lower cluster id."""
    cl = spark.range(KMEANS_K).select(F.col("id").cast("int").alias("c"))
    cents = cl.select("c", _centroid(F.col("c")).alias("cv"))
    return nearest_centroids(_vecs(spark, sf_dir), cents, "c", _l2_d4).select(
        "vec_id", "v", F.col("c").alias("cluster"), F.col("score").alias("d4")
    )


@register(
    "embedding_kmeans_assign",
    oracle=f"""
        WITH {_sql_assign_cte()}
        SELECT vec_id, cluster, d4 FROM assign ORDER BY vec_id
    """,
    tags=("llm-data", "similarity", "clustering"),
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means assignment step: each embedding to its nearest of
    {KMEANS_K} deterministic (md5-derived) centroids by squared L2 —
    the clustering primitive behind diversity sampling and IVF
    coarse quantization.

    Scale shape: the K centroids collect into one broadcast row and
    each vector picks its nearest map-side (``nearest_centroids``);
    the vectors' only exchange is the output sort. Distances compare
    in fixed point so ties break identically across engines."""
    return (
        _assign(spark, sf_dir).select("vec_id", "cluster", "d4").orderBy("vec_id")
    )


@register(
    "embedding_kmeans_step",
    oracle=f"""
        WITH {_sql_assign_cte()}
        SELECT cluster, i AS comp, COUNT(*) AS n_members,
               CAST(SUM(CAST(FLOOR(v[CAST(i AS INT)] * {SCALE}) AS BIGINT))
                    AS DOUBLE) / COUNT(*) / {SCALE} AS mean_comp
        FROM assign, UNNEST(range(1, {DIM + 1})) AS t(i)
        GROUP BY 1, 2
        ORDER BY cluster, comp
    """,
    tags=("llm-data", "similarity", "clustering", "iterative"),
)
def embedding_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration: component-wise mean of each cluster's
    members → the updated centroids (cluster, comp, n_members,
    mean_comp). A full k-means loop is this step iterated with the
    output broadcast back as the next round's centroids (the
    connected-components operator shows the same driver-coordinated
    loop pattern with localCheckpoint lineage truncation).

    Scale shape: one explode (DIM rows per vector) + one shuffle on
    (cluster, comp) with map-side partial sums — the classic
    distributed k-means update. Component sums are exact fixed-point
    BIGINTs, so the means are engine-identical."""
    a = _assign(spark, sf_dir).select(
        "cluster", F.transform("v", lambda x: fixed(x)).alias("vfp")
    )
    return (
        a.select("cluster", F.posexplode("vfp").alias("comp0", "xfp"))
        .select("cluster", (F.col("comp0") + 1).cast("long").alias("comp"), "xfp")
        .groupBy("cluster", "comp")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (F.sum("xfp").cast("double") / F.count(F.lit(1)) / SCALE).alias(
                "mean_comp"
            ),
        )
        .orderBy("cluster", "comp")
    )


# ---------------------------------------------------------------------------
# Batch-inference plumbing (embedding-model stub)
# ---------------------------------------------------------------------------

_EMBED_DIM = 8


def _embed_batches(batches):
    """Arrow-batched fake embedding model: component j of doc text t =
    (hexnibble(md5(t + '_j')[0]) - 7.5) / 8. A real model swaps the
    hash for tokenizer+forward pass; the batch shape (pd.DataFrame in,
    fixed schema out, no per-row Python) is exactly what GPU batch
    inference needs. Deterministic so the SQL oracle reproduces it."""
    import hashlib

    import pandas as pd

    for pdf in batches:
        out = {"doc_id": pdf["doc_id"]}
        for j in range(1, _EMBED_DIM + 1):
            out[f"e{j}"] = [
                (int(hashlib.md5(f"{t}_{j}".encode()).hexdigest()[0], 16) - 7.5)
                / 8.0
                for t in pdf["text"]
            ]
        yield pd.DataFrame(out)


@register(
    "text_embed_batch_stub",
    oracle=f"""
        SELECT doc_id,
               {", ".join(
                   f"(CAST(instr('0123456789abcdef',"
                   f" substr(md5(text || '_{j}'), 1, 1)) AS DOUBLE) - 8.5) / 8.0"
                   f" AS e{j}"
                   for j in range(1, _EMBED_DIM + 1)
               )}
        FROM documents
        ORDER BY doc_id
    """,
    tags=("llm-data", "multimodal", "udf"),
)
def text_embed_batch_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-inference plumbing: embed every document with an
    Arrow-batched mapInPandas "model" (deterministic md5 stub — a real
    encoder is a drop-in for _embed_batches; the Spark-side schema,
    batching, and partitioning are the real thing).

    Scale shape: pure map over Arrow record batches — no shuffle, no
    collect; throughput scales with executors × batch size
    (spark.sql.execution.arrow.maxRecordsPerBatch caps GPU memory per
    batch). Output columns are fixed-width doubles, so the downstream
    join/cluster ops stay columnar."""
    schema = "doc_id long, " + ", ".join(
        f"e{j} double" for j in range(1, _EMBED_DIM + 1)
    )
    return (
        widen(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "text")
        .mapInPandas(_embed_batches, schema=schema)
        .orderBy("doc_id")
    )


@register(
    "embedding_kmeans_two_iter",
    oracle=f"""
        WITH {_sql_assign_cte()},
        means AS (
            SELECT cluster, i AS comp,
                   CAST(SUM(CAST(FLOOR(v[CAST(i AS INT)] * {SCALE}) AS BIGINT))
                        AS DOUBLE) / COUNT(*) / {SCALE} AS m
            FROM assign, UNNEST(range(1, {DIM + 1})) AS t(i)
            GROUP BY 1, 2
        ),
        cent2 AS (
            SELECT cluster AS c2, list(m ORDER BY comp) AS cv
            FROM means GROUP BY cluster
        ),
        d2 AS (
            SELECT a.vec_id, c2,
                   CAST(FLOOR(list_dot_product(
                       list_transform(range(1, {DIM + 1}),
                                      i -> v[CAST(i AS INT)] - cv[CAST(i AS INT)]),
                       list_transform(range(1, {DIM + 1}),
                                      i -> v[CAST(i AS INT)] - cv[CAST(i AS INT)])
                   ) * {SCALE}) AS BIGINT) AS d4
            FROM (SELECT vec_id, v FROM assign) a, cent2
        ),
        assign2 AS (
            SELECT vec_id, c2 AS cluster, d4
            FROM (SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY vec_id ORDER BY d4, c2) AS rn
                  FROM d2)
            WHERE rn = 1
        )
        SELECT cluster, COUNT(*) AS n_members,
               CAST(SUM(d4) AS BIGINT) AS inertia4
        FROM assign2 GROUP BY cluster ORDER BY cluster
    """,
    tags=("llm-data", "similarity", "clustering", "iterative"),
)
def embedding_kmeans_two_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full k-means iterations — seed centroids → assign → Lloyd
    update → REASSIGN against the data-derived centroids — reported
    as iteration-2 cluster sizes and exact fixed-point inertia. This
    closes the iterative loop the single-step operators expose: the
    updated centroid table (K×DIM, built by sorting each cluster's
    component means into an array inside the aggregate) broadcasts
    back into the same map-side distance/argmin shape as iteration 1,
    which is exactly how iteration N+1 always consumes iteration N
    (driver-coordinated, lineage truncated via localCheckpoint in
    long loops — see dedup_cluster_representatives).

    Exactness across the iteration boundary: means are
    exact-integer-sum / count (one correctly-rounded division per
    component), and the iteration-2 distances fold with
    ``F.aggregate(zip_with(...))`` == DuckDB list_dot_product, so
    even the data-dependent second iteration hashes identically."""
    a1 = _assign(spark, sf_dir)
    means = (
        a1.select("cluster", F.transform("v", lambda x: fixed(x)).alias("vfp"))
        .select("cluster", F.posexplode("vfp").alias("comp0", "xfp"))
        .groupBy("cluster", F.col("comp0").alias("comp"))
        .agg(
            (F.sum("xfp").cast("double") / F.count(F.lit(1)) / SCALE).alias("m")
        )
    )
    cent2 = means.groupBy(F.col("cluster").alias("c2")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("comp", "m"))),
            lambda s: s["m"],
        ).alias("cv")
    )
    assign2 = nearest_centroids(
        a1.select("vec_id", "v"), cent2, "c2", _l2_d4
    ).select("vec_id", F.col("c2").alias("cluster"), F.col("score").alias("d4"))
    return (
        assign2.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("d4").cast("long").alias("inertia4"),
        )
        .orderBy("cluster")
    )
