"""Capstone composition: training-corpus selection.

The point of the operator library is that the pieces compose into the
actual LLM-data pipeline: score quality → drop near-duplicates (keep
one representative per cluster) → select. This module registers that
end-to-end pipeline as one oracle-checked query — filter, scoring,
candidate generation, connected components, and anti-join all in a
single Catalyst plan (plus the iterative CC rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.operators.dedup import (
    _cluster_oracle,
    dedup_cluster_representatives,
)
from kafkastreamer_spark.operators.text import quality_scores_unsorted
from kafkastreamer_spark.operators._embed import tokens
from kafkastreamer_spark.registry import REGISTRY, register
from kafkastreamer_spark.tables import load_table, widen

MIN_QUALITY = 70


def _corpus_oracle() -> str:
    quality = REGISTRY["text_quality_score"].oracle.replace("ORDER BY doc_id", "")
    # the cluster oracle is a full WITH RECURSIVE query; embed its
    # CTE chain and re-head the final SELECT as a CTE.
    cluster = _cluster_oracle()
    cluster_body = cluster[cluster.index("WITH RECURSIVE") + len("WITH RECURSIVE") :]
    final_select = "SELECT src AS doc_id, LEAST(src, MIN(dst)) AS rep_id"
    cluster_ctes = cluster_body[: cluster_body.index(final_select)].rstrip().rstrip(",")
    return f"""
        WITH RECURSIVE {cluster_ctes},
        reps AS (
            SELECT src AS doc_id, LEAST(src, MIN(dst)) AS rep_id
            FROM reach GROUP BY src
        ),
        quality AS ({quality})
        SELECT q.doc_id, q.lang, q.quality_score
        FROM quality q
        LEFT JOIN reps r ON r.doc_id = q.doc_id
        WHERE q.quality_score >= {MIN_QUALITY}
          AND (r.rep_id IS NULL OR r.rep_id = q.doc_id)
        ORDER BY q.doc_id
    """


@register(
    "pipeline_training_corpus",
    oracle=_corpus_oracle(),
    tags=("llm-data", "pipeline", "dedup", "text"),
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus selection: quality_score ≥ 70 AND (not in a
    near-dup cluster OR the cluster's representative).

    Composes three registered operators (quality scoring, Jaccard
    near-dup pairs, connected-components consolidation) into one
    output — the engine's operators are DataFrames, so composition is
    just more plan."""
    # persist() is a deliberate pushdown barrier, not a reuse cache:
    # without it Catalyst pushes the quality_score >= 70 filter below
    # the widen() repartition, inlining the whole scoring expression
    # (3x split(lower(text)), regexp_replace, aggregate/transform)
    # into a Filter that runs at raw-scan parallelism (ONE task on the
    # single-file fixture) and then RE-computes every feature in the
    # projections above — 26 s of task time on 5,000 docs at sf0.1.
    # Behind the barrier the score is computed once, after the scan
    # has been parallelized.
    quality = (
        quality_scores_unsorted(spark, sf_dir)
        .select("doc_id", "lang", "quality_score")
        .persist()
    )
    reps = dedup_cluster_representatives(spark, sf_dir)
    keep = quality.filter(F.col("quality_score") >= MIN_QUALITY)
    return (
        keep.join(reps, "doc_id", "left")
        .filter(F.col("rep_id").isNull() | (F.col("rep_id") == F.col("doc_id")))
        .select("doc_id", "lang", "quality_score")
        .orderBy("doc_id")
    )


TOKEN_BUDGET = 50_000


@register(
    "corpus_token_budget_select",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, {{toks}} AS w,
                   length(text) AS nc,
                   length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
                       AS n_punct
            FROM documents
        ),
        scored AS (
            SELECT doc_id,
                   CAST(len(w) AS BIGINT) AS n_tok,
                   (CASE WHEN CAST(len(w) AS BIGINT) BETWEEN 20 AND 1000
                         THEN 40 ELSE 0 END
                    + CASE WHEN CAST(FLOOR(CAST(n_punct AS DOUBLE) / nc * 10000)
                                AS BIGINT) < 500 THEN 30 ELSE 0 END
                    + CASE WHEN CAST(FLOOR(CAST(list_sum(list_transform(w,
                                t -> len(t))) AS DOUBLE) / len(w) * 10000)
                                AS BIGINT) BETWEEN 30000 AND 80000 THEN 30
                           ELSE 0 END) AS q
            FROM tok
        ),
        ordered AS (
            SELECT doc_id, n_tok, q,
                   sum(n_tok) OVER (ORDER BY q DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_tok
            FROM scored
        ),
        kept AS (SELECT * FROM ordered WHERE cum_tok <= {TOKEN_BUDGET})
        SELECT count(*) AS n_selected,
               CAST(max(cum_tok) AS BIGINT) AS tokens_used,
               CAST(min(q) AS BIGINT) AS min_quality_admitted,
               CAST(sum(doc_id) AS BIGINT) AS selected_id_sum
        FROM kept
    """.format(toks="string_split_regex(lower(text), '\\s+')"),
    tags=("llm-data", "curation", "budget"),
)
def corpus_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted corpus curation: rank documents by quality score
    (quality DESC, doc_id tie-break), admit greedily while the
    running token total stays within the budget, and report the
    selection audit (docs kept, tokens used, the quality floor the
    budget forced, and an id checksum of the kept set) — the "best
    N tokens" selection every fixed-compute training run makes, with
    the quality floor being the number that tells you whether the
    budget or the corpus is the binding constraint.

    Scale shape: scoring is map-only; the global running token total
    over (q DESC, doc_id) uses the skew-free two-level bucketed
    cumsum of ``operators/deskew.bucketed_running_agg`` — the quality
    score is a tiny-domain leading bucket and doc_id ranges split its
    ties, so the heaviest sort task holds one (q, id-range) slice,
    never the corpus (round 5: the mechanized plan lint flagged the
    previous whole-table running-sum window as base_table)."""
    d = widen(load_table(spark, sf_dir, "documents"))
    w = F.col("w")
    nc = F.length("text")
    n_punct = nc - F.length(F.regexp_replace("text", "[^a-z0-9 ]", ""))
    scored = d.select(
        "doc_id", tokens(F.col("text")).alias("w"), "text"
    ).select(
        "doc_id",
        F.size(w).cast("long").alias("n_tok"),
        (
            F.when(F.size(w).cast("long").between(20, 1000), 40).otherwise(0)
            + F.when(F.floor(n_punct.cast("double") / nc * 10000) < 500, 30)
            .otherwise(0)
            + F.when(
                F.floor(
                    F.aggregate(
                        F.transform(w, lambda t: F.length(t).cast("long")),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).cast("double")
                    / F.size(w)
                    * 10000
                ).between(30000, 80000),
                30,
            ).otherwise(0)
        ).alias("q"),
    )
    from kafkastreamer_spark.operators.deskew import (  # noqa: PLC0415
        bucketed_running_agg,
    )

    ordered = bucketed_running_agg(
        scored,
        [],
        [(F.col("q"), True), (F.floor(F.col("doc_id") / 1024).cast("long"), False)],
        [F.asc("doc_id")],
        "n_tok",
        "cum_tok",
        op="sum",
    ).select("doc_id", "n_tok", "q", "cum_tok")
    kept = ordered.filter(F.col("cum_tok") <= TOKEN_BUDGET)
    return kept.agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.max("cum_tok").cast("long").alias("tokens_used"),
        F.min("q").cast("long").alias("min_quality_admitted"),
        F.sum("doc_id").cast("long").alias("selected_id_sum"),
    )
