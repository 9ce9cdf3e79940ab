"""Data-selection operators for training-corpus curation (north-star
extension, beyond the reference's surface — its engine scope is the
Kafka stage pipeline, ``Streamer.java``; these cover what a 100 TB
pretraining pipeline additionally needs):

* DSIR-style importance scoring — hashed n-gram importance weights
  against a target distribution (Xie et al., "Data Selection for
  Language Models via Importance Resampling", NeurIPS 2023), in a
  log-free exact-integer variant so the DuckDB oracle hash-matches.
* SemDeDup — semantic dedup inside k-means-style clusters (Abbas et
  al., "SemDeDup", 2023): cluster with a coarse quantizer, then
  near-dup only within clusters, keeping the lowest-id member.

Both follow the library's cross-engine exactness rules: md5-derived
hashing, sequential-left-fold dot products, integer ppm arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.operators._embed import (
    SQL_TOKENS,
    coarse_centroids,
    dot,
    norm,
    tokens,
)
from kafkastreamer_spark.operators.dedup import COSINE_DUP_THRESHOLD
from kafkastreamer_spark.operators.sampling import hash_bucket, sql_hash_bucket
from kafkastreamer_spark.operators.similarity import _SQL_EMB, _sql_cos, ivf_assign
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table, widen

# Shared coarse-quantizer SQL (the IVF centroid scheme): splice after
# ``e AS ({_SQL_EMB})`` to get ``assign(vec_id, v, cent_id)``.
SQL_ASSIGN_CTES = f"""
        params AS (
            SELECT GREATEST(1, CAST(COUNT(*) AS BIGINT)
                   // GREATEST(1, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)))
                                       AS BIGINT))) AS step
            FROM e
        ),
        centroids AS (
            SELECT vec_id AS cent_id, v AS cv FROM e, params
            WHERE vec_id % step = 0
        ),
        assign AS (
            SELECT vec_id, v, cent_id FROM (
                SELECT e.vec_id, e.v, c.cent_id,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                          ORDER BY {_sql_cos('e.v', 'c.cv')} DESC,
                                                   c.cent_id) AS rn
                FROM e JOIN centroids c ON true
            ) WHERE rn = 1
        )"""

# DSIR feature space: word bigrams hashed into this many buckets.
# 10k buckets is the paper's setting; 128 keeps the fixture's weight
# table readable while exercising the identical plan shape (the
# weight table stays broadcast-sized either way: buckets, not docs).
DSIR_BUCKETS = 128
DSIR_TARGET_LANG = "en"
DSIR_TOP_N = 25


@register(
    "text_dsir_importance",
    oracle=f"""
        WITH tok AS (SELECT doc_id, lang, {SQL_TOKENS} AS w FROM documents),
        bg AS (
            SELECT doc_id, lang,
                   unnest(list_transform(range(1, len(w)),
                          i -> w[i] || ' ' || w[i+1])) AS g
            FROM tok
        ),
        feat AS (
            SELECT doc_id, lang, {sql_hash_bucket("g", DSIR_BUCKETS)} AS b
            FROM bg
        ),
        docfeat AS (
            SELECT doc_id, lang, b, count(*) AS c
            FROM feat GROUP BY doc_id, lang, b
        ),
        totals AS (
            SELECT CAST(sum(c) AS BIGINT) AS raw_total,
                   CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                            THEN c ELSE 0 END) AS BIGINT) AS tgt_total
            FROM docfeat
        ),
        bweights AS (
            SELECT b,
                   (CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                             THEN c ELSE 0 END) AS BIGINT) * 1000000)
                       // tgt_total
                   - (CAST(sum(c) AS BIGINT) * 1000000) // raw_total
                       AS w_ppm
            FROM docfeat, totals
            GROUP BY b, tgt_total, raw_total
        ),
        scores AS (
            SELECT doc_id, lang,
                   CAST(sum(c) AS BIGINT) AS n_feats,
                   CAST(sum(c * w_ppm) AS BIGINT) AS score_sum
            FROM docfeat JOIN bweights USING (b)
            GROUP BY doc_id, lang
        )
        SELECT doc_id, lang, n_feats, score_sum,
               CAST(FLOOR(CAST(score_sum AS DOUBLE) / n_feats) AS BIGINT)
                   AS score_avg_ppm
        FROM scores
        ORDER BY CAST(score_sum AS DOUBLE) / n_feats DESC, doc_id
        LIMIT {DSIR_TOP_N}
    """,
    tags=("llm-data", "selection", "dsir", "text"),
)
def text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scores: hashed-bigram bucket counts give
    a target distribution (lang='{en}' documents standing in for the
    high-quality target corpus) and a raw distribution (everything);
    each document scores by how much its own feature mass leans
    toward the target. Log-free exact-integer variant: a bucket's
    weight is ``tgt_ppm - raw_ppm`` (the paper's log-ratio replaced
    by the ppm difference, which preserves sign and ordering for the
    near-uniform hashed-feature distributions DSIR operates on and
    keeps every value integer for the cross-engine hash gate), and a
    document's score is the count-weighted sum of its buckets'
    weights, averaged per feature. Top-25 selected, ties on doc_id.

    Scale shape: one explode + one (doc_id, bucket) groupBy with
    map-side combine — the only corpus-sized shuffle. The bucket
    weight table is DSIR_BUCKETS rows regardless of corpus size, so
    it broadcasts, and the final per-doc score is a second map-side-
    combinable aggregation. Nothing in the plan grows faster than the
    token stream; this is the same shape DSIR runs at corpus scale.

    The last ORDER BY compares score_sum/n_feats as an IEEE double —
    a single correctly-rounded division of identical integers in both
    engines, so ordering (and the floor'd score_avg_ppm output) is
    deterministic cross-engine.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", "lang", tokens("text").alias("w"))
    bigr = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.when(
                F.size("w") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 2),
                    lambda i: F.concat(
                        F.element_at("w", (i + 1).cast("int")),
                        F.lit(" "),
                        F.element_at("w", (i + 2).cast("int")),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    docfeat = (
        bigr.select(
            "doc_id", "lang", hash_bucket(F.col("g"), DSIR_BUCKETS).alias("b")
        )
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()  # feeds totals, bucket weights, and per-doc scores
    )
    is_tgt = F.col("lang") == DSIR_TARGET_LANG
    totals = docfeat.agg(
        F.sum("c").cast("long").alias("raw_total"),
        F.sum(F.when(is_tgt, F.col("c")).otherwise(0)).cast("long").alias("tgt_total"),
    )
    bweights = (
        docfeat.groupBy("b")
        .agg(
            F.sum("c").cast("long").alias("raw_c"),
            F.sum(F.when(is_tgt, F.col("c")).otherwise(0)).cast("long").alias("tgt_c"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                F.expr("(tgt_c * 1000000) div tgt_total")
                - F.expr("(raw_c * 1000000) div raw_total")
            ).alias("w_ppm"),
        )
    )
    scores = (
        docfeat.join(F.broadcast(bweights), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            F.sum(F.col("c") * F.col("w_ppm")).cast("long").alias("score_sum"),
        )
    )
    ratio = F.col("score_sum").cast("double") / F.col("n_feats")
    return (
        scores.select(
            "doc_id",
            "lang",
            "n_feats",
            "score_sum",
            F.floor(ratio).cast("long").alias("score_avg_ppm"),
        )
        .orderBy(ratio.desc(), "doc_id")
        .limit(DSIR_TOP_N)
    )


def _cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-quantizer assignment shared by the SemDeDup family:
    ~sqrt(n) deterministic centroids (the ``similarity_ivf_probe``
    scheme), nearest-centroid picked map-side against the broadcast
    centroids. Returns (vec_id, v, nv, cent_id), persisted — callers
    self-join it."""
    e = widen(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    ep = e.select("vec_id", "v", norm(F.col("v")).alias("nv")).persist()
    return ivf_assign(ep, coarse_centroids(ep)).persist()


def _cluster_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All within-cluster candidate pairs with their exact cosine:
    (vec_dropped, cent_id, vec_kept, c) where vec_kept < vec_dropped.
    Norms are precomputed once per side; the pair cosine is a single
    fold per candidate, matching the oracles' expression order."""
    assign = _cluster_assign(spark, sf_dir)
    a = assign.alias("a")
    b = assign.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nv") * F.col("b.nv"))
    return (
        a.join(
            b,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("vec_dropped"),
            F.col("a.cent_id").alias("cent_id"),
            F.col("a.vec_id").alias("vec_kept"),
            cos.alias("c"),
        )
    )


@register(
    "dedup_semdedup_clustered",
    oracle=f"""
        WITH e AS ({_SQL_EMB}),
        {SQL_ASSIGN_CTES},
        pairs AS (
            SELECT a.cent_id, a.vec_id AS vec_kept, b.vec_id AS vec_dropped,
                   {_sql_cos('a.v', 'b.v')} AS c
            FROM assign a JOIN assign b
              ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
            WHERE {_sql_cos('a.v', 'b.v')} >= {COSINE_DUP_THRESHOLD}
        ),
        best AS (
            SELECT vec_dropped, cent_id, vec_kept, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_dropped
                                      ORDER BY vec_kept) AS rn
            FROM pairs
        )
        SELECT vec_dropped, cent_id, vec_kept AS kept_vec,
               CAST(FLOOR(c * 10000) AS BIGINT) AS cosine4
        FROM best WHERE rn = 1
        ORDER BY vec_dropped
    """,
    tags=("llm-data", "dedup", "selection", "semdedup"),
)
def dedup_semdedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: semantic near-dup detection blocked by DATA-DEPENDENT
    clusters instead of data-independent hyperplane buckets
    (``dedup_embedding_cosine``). Vectors are assigned to ~sqrt(n)
    coarse centroids (the same deterministic quantizer as
    ``similarity_ivf_probe`` — a trained k-means drops in without
    changing the plan), pairwise cosine runs only WITHIN a cluster,
    and for every vector that duplicates a lower-id clustermate the
    lowest-id such neighbor is reported as the kept representative.

    Scale shape: assignment is the IVF map-side pick against the
    broadcast centroids (no shuffle of the corpus); the pair join
    shuffles on cent_id only, so candidate volume is Σ_k C(n_k, 2) ≈ n·sqrt(n)
    for balanced clusters — the SemDeDup paper's reason for
    clustering first. Skewed clusters are the known failure mode at
    scale; the mitigation is raising n_cent (centroid count is a
    parameter of the quantizer, not of this plan) and AQE skew-join
    splitting on the cent_id exchange.
    """
    pairs = _cluster_pairs(spark, sf_dir).filter(
        F.col("c") >= COSINE_DUP_THRESHOLD
    )
    # lowest-id kept neighbor per dropped vector: min over a
    # (vec_kept, cosine) struct — map-side-combinable aggregation, no
    # window over the full pair set.
    return (
        pairs.groupBy("vec_dropped", "cent_id")
        .agg(F.min(F.struct("vec_kept", "c")).alias("m"))
        .select(
            "vec_dropped",
            "cent_id",
            F.col("m.vec_kept").alias("kept_vec"),
            F.floor(F.col("m.c") * 10000).cast("long").alias("cosine4"),
        )
        .orderBy("vec_dropped")
    )


@register(
    "dedup_semdedup_threshold_sweep",
    oracle=f"""
        WITH e AS ({_SQL_EMB}),
        {SQL_ASSIGN_CTES},
        pairs AS (
            SELECT {_sql_cos('a.v', 'b.v')} AS c
            FROM assign a JOIN assign b
              ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
        ),
        bins AS (
            SELECT CAST(FLOOR(c * 10) AS BIGINT) AS bin10,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM pairs GROUP BY 1
        )
        SELECT bin10, n_pairs,
               CAST(sum(n_pairs) OVER (ORDER BY bin10 DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS n_pairs_ge
        FROM bins ORDER BY bin10
    """,
    tags=("llm-data", "dedup", "selection", "evaluation"),
)
def dedup_semdedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold tuning table for SemDeDup: the distribution of
    within-cluster pair cosines in 0.1-wide bins, with the cumulative
    count of pairs AT OR ABOVE each bin — i.e. how many pairs each
    candidate threshold would declare semantic duplicates. This is
    the evaluation a curator runs before committing a threshold to a
    100 TB dedup pass (the SemDeDup paper sweeps exactly this knob).

    Scale shape: identical candidate generation to
    ``dedup_semdedup_clustered`` (cluster-blocked, never all-pairs);
    the histogram is a 21-row aggregate with map-side combine and the
    cumulative sum is a window over those 21 rows. Bin edges are
    floor(c·10) on the bit-exact fold cosine, so both engines bin
    identically.
    """
    bins = (
        _cluster_pairs(spark, sf_dir)
        .select(F.floor(F.col("c") * 10).cast("long").alias("bin10"))
        .groupBy("bin10")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    w = Window.orderBy(F.desc("bin10")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return bins.select(
        "bin10",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("long").alias("n_pairs_ge"),
    ).orderBy("bin10")


@register(
    "text_lm_fluency_score",
    oracle=f"""
        WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
        bg AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w)),
                          i -> struct_pack(ctx := w[i], nxt := w[i+1]))) AS g
            FROM tok
        ),
        docbg AS (
            SELECT doc_id, g.ctx AS ctx, g.nxt AS nxt, count(*) AS c_doc
            FROM bg GROUP BY doc_id, g.ctx, g.nxt
        ),
        bgc AS (
            SELECT ctx, nxt, CAST(sum(c_doc) AS BIGINT) AS c_bg
            FROM docbg GROUP BY ctx, nxt
        ),
        ctxc AS (
            SELECT ctx, CAST(sum(c_bg) AS BIGINT) AS c_ctx
            FROM bgc GROUP BY ctx
        ),
        prob AS (
            SELECT b.ctx, b.nxt, (c_bg * 1000000) // c_ctx AS prob_ppm
            FROM bgc b JOIN ctxc c ON c.ctx = b.ctx
        ),
        score AS (
            SELECT doc_id,
                   CAST(sum(c_doc * prob_ppm) AS BIGINT)
                       // CAST(sum(c_doc) AS BIGINT) AS avg_ppm
            FROM docbg JOIN prob USING (ctx, nxt)
            GROUP BY doc_id
        )
        SELECT LEAST(avg_ppm // 100000, 9) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(avg_ppm) AS BIGINT) AS min_ppm,
               CAST(max(avg_ppm) AS BIGINT) AS max_ppm
        FROM score GROUP BY 1 ORDER BY bucket
    """,
    tags=("llm-data", "selection", "text", "ngram-lm"),
)
def text_lm_fluency_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based fluency gate (the CCNet/KenLM quality-filter stage,
    log-free): train a corpus bigram LM (MLE conditional
    probabilities in exact ppm, as in ``text_trigram_lm_counts``),
    score every document by its count-weighted mean next-word
    probability, and report the score distribution as a decile
    histogram with per-bucket min/max. Low buckets ≈ high perplexity
    — the documents a perplexity filter would drop. All arithmetic
    is positive-integer div, so the DuckDB oracle hash-matches.

    Scale shape: documents reduce to (doc, bigram-type, count) — one
    explode + groupBy with map-side combine; the LM table rolls up
    from that relation (vocabulary-sized, not corpus-sized); scoring
    is ONE shuffle join on the bigram key (the standard LM-scoring
    join — at 100 TB it partitions by n-gram, and AQE handles the
    Zipfian head); the histogram is ≤10 rows.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens("text").alias("w"))
    bg = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("w") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 2),
                    lambda i: F.struct(
                        F.element_at("w", (i + 1).cast("int")).alias("ctx"),
                        F.element_at("w", (i + 2).cast("int")).alias("nxt"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<ctx:string,nxt:string>>"))
        ).alias("g"),
    )
    docbg = (
        bg.select("doc_id", "g.ctx", "g.nxt")
        .groupBy("doc_id", "ctx", "nxt")
        .agg(F.count(F.lit(1)).alias("c_doc"))
        .persist()  # feeds the LM counts and the scoring join
    )
    bgc = docbg.groupBy("ctx", "nxt").agg(F.sum("c_doc").cast("long").alias("c_bg"))
    ctxc = bgc.groupBy(F.col("ctx").alias("cctx")).agg(
        F.sum("c_bg").cast("long").alias("c_ctx")
    )
    prob = bgc.join(ctxc, bgc.ctx == ctxc.cctx).select(
        "ctx", "nxt", F.expr("(c_bg * 1000000) div c_ctx").alias("prob_ppm")
    )
    score = (
        docbg.join(prob, ["ctx", "nxt"])
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.col("c_doc") * F.col("prob_ppm")).cast("long")
            ).alias("s"),
            F.sum("c_doc").cast("long").alias("n"),
        )
        .select("doc_id", F.expr("s div n").alias("avg_ppm"))
    )
    return (
        score.groupBy(
            F.least(F.expr("avg_ppm div 100000"), F.lit(9).cast("long")).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("avg_ppm").cast("long").alias("min_ppm"),
            F.max("avg_ppm").cast("long").alias("max_ppm"),
        )
        .orderBy("bucket")
    )
