"""Second relational batch: right join, extended analytic windows,
array/higher-order functions, approximate aggregates, and the scalar
pandas-UDF surface (SURVEY.md §2-B rows "Joins", "Windows",
"Scalar fns", "UDF surface").
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from kafkastreamer_spark.queries._util import dsum0
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table, widen


@register(
    "join_right_outer",
    oracle=f"""
        SELECT n.n_nationkey, n.n_name,
               COUNT(s.s_suppkey) AS n_supp,
               CAST(COALESCE(SUM(CAST(FLOOR((s.s_acctbal) * 10000) AS BIGINT)), 0) AS DOUBLE)
                   / 10000 AS total_bal
        FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_nationkey, n.n_name
        ORDER BY n_nationkey
    """,
    tags=("relational", "join"),
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: all nations kept, suppliers optional."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("s_suppkey").alias("n_supp"), dsum0("s_acctbal", "total_bal"))
        .orderBy("n_nationkey")
    )


@register(
    "window_distribution",
    oracle="""
        SELECT o_orderkey, o_orderpriority,
               CAST(NTILE(4) OVER w AS INT) AS price_quartile,
               CAST(FLOOR(PERCENT_RANK() OVER w * 10000) AS BIGINT) AS pct_rank4,
               CAST(FLOOR(CUME_DIST() OVER w * 10000) AS BIGINT) AS cume4,
               CAST(DENSE_RANK() OVER w AS BIGINT) AS drank
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderpriority, o_orderkey
        LIMIT 5000
    """,
    tags=("relational", "window"),
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile, percent_rank, cume_dist,
    dense_rank over price within priority class."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.ntile(4).over(w).alias("price_quartile"),
            F.floor(F.percent_rank().over(w) * 10000).alias("pct_rank4"),
            F.floor(F.cume_dist().over(w) * 10000).alias("cume4"),
            F.dense_rank().over(w).cast("long").alias("drank"),
        )
        .orderBy("o_orderpriority", "o_orderkey")
        .limit(5000)
    )


@register(
    "scalar_array_ops",
    oracle="""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings)
        SELECT vec_id, label,
               CAST(len(v) AS INT) AS dim,
               CAST(FLOOR(list_max(v) * 10000) AS BIGINT) AS max4,
               CAST(FLOOR(list_min(v) * 10000) AS BIGINT) AS min4,
               CAST(len(list_filter(v, x -> x > 0)) AS INT) AS n_positive,
               CAST(FLOOR(list_sum(list_transform(v, x -> abs(x))) * 10000) AS BIGINT) AS l1_4
        FROM e
        ORDER BY vec_id
    """,
    tags=("relational", "scalar", "array"),
)
def scalar_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function battery over the embedding column:
    size/min/max/filter/transform+aggregate — all JVM expressions."""
    e = widen(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    l1 = F.aggregate(
        F.transform("v", lambda x: F.abs(x)), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        e.select(
            "vec_id",
            "label",
            F.size("v").alias("dim"),
            F.floor(F.array_max("v") * 10000).alias("max4"),
            F.floor(F.array_min("v") * 10000).alias("min4"),
            F.size(F.filter("v", lambda x: x > 0)).alias("n_positive"),
            F.floor(l1 * 10000).alias("l1_4"),
        )
        .orderBy("vec_id")
    )


@register(
    "agg_approx",
    oracle=None,  # approximate sketches are engine-specific by design
    tags=("relational", "agg", "approx"),
)
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL++ distinct count, approximate
    percentiles): the constant-memory scale path where exact
    distinct/median would shuffle every value. No oracle — sketch
    results are engine-specific; the driver records a rows-only check,
    and the test suite bounds the estimates against exact values."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
            F.percentile_approx("l_extendedprice", [0.5, 0.95], 10000).alias(
                "price_p50_p95"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


_BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def _make_bpe_token_count():
    """Arrow-batched scalar pandas UDF (the engine's sanctioned Python
    path: vectorized batches, never row-at-a-time). Built lazily — the
    decorator parses its DDL return type against the active session."""

    @pandas_udf("long")
    def bpe_token_count(texts: pd.Series) -> pd.Series:
        pat = re.compile(_BPE_PATTERN)
        return texts.str.lower().map(lambda t: len(pat.findall(t)))

    return bpe_token_count


@register(
    "text_token_count_bpe",
    oracle=f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')) AS BIGINT)
                   AS n_bpe_tokens,
               CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT)
                   AS n_ws_tokens
        FROM documents
        ORDER BY doc_id
    """,
    tags=("llm-data", "text", "udf"),
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish tokenizer counting (letter runs / digit runs / single
    punctuation) via an Arrow pandas UDF, next to the JVM whitespace
    count — the UDF-surface demo with an exact oracle (integer counts
    from an identical regex)."""
    d = widen(load_table(spark, sf_dir, "documents"))
    bpe = _make_bpe_token_count()
    return (
        d.select(
            "doc_id",
            bpe(F.col("text")).alias("n_bpe_tokens"),
            F.size(F.split(F.lower("text"), r"\s+")).cast("long").alias("n_ws_tokens"),
        )
        .orderBy("doc_id")
    )
