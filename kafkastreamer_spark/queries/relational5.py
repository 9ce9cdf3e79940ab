"""Fifth coverage batch: null-handling semantics, union-by-name,
multiset set operations, outer explode (SURVEY.md §2-B rows "Set ops",
"Scalar fns", "Projection").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table


@register(
    "scalar_null_handling",
    oracle="""
        WITH j AS (
            SELECT c.c_custkey, c.c_acctbal, o.o_totalprice
            FROM customer c LEFT JOIN orders o
              ON c.c_custkey = o.o_custkey AND o.o_totalprice > 400000
        )
        SELECT c_custkey,
               CAST(COALESCE(o_totalprice, 0) AS DOUBLE) AS price_or_zero,
               CAST(NULLIF(CAST(FLOOR(c_acctbal) AS BIGINT), 0) AS BIGINT) AS bal_nullif0,
               CAST(o_totalprice IS NULL AS INT) AS price_missing,
               CAST(o_totalprice IS NOT DISTINCT FROM NULL AS INT) AS null_safe_eq_null,
               CAST(COALESCE(o_totalprice, c_acctbal, 0) AS DOUBLE) AS first_present
        FROM j
        ORDER BY c_custkey, price_or_zero
    """,
    tags=("relational", "scalar", "null"),
)
def scalar_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics battery: COALESCE chains, NULLIF, IS NULL
    flags, null-safe equality (<=> / IS NOT DISTINCT FROM) — over an
    outer join that actually produces nulls."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    j = c.join(
        o, (c.c_custkey == o.o_custkey) & (o.o_totalprice > 400000), "left"
    ).select("c_custkey", "c_acctbal", "o_totalprice")
    return (
        j.select(
            "c_custkey",
            F.coalesce("o_totalprice", F.lit(0)).cast("double").alias("price_or_zero"),
            F.nullif(F.floor("c_acctbal").cast("long"), F.lit(0)).alias("bal_nullif0"),
            F.col("o_totalprice").isNull().cast("int").alias("price_missing"),
            F.col("o_totalprice").eqNullSafe(F.lit(None).cast("double")).cast("int").alias(
                "null_safe_eq_null"
            ),
            F.coalesce("o_totalprice", "c_acctbal", F.lit(0))
            .cast("double")
            .alias("first_present"),
        )
        .orderBy("c_custkey", "price_or_zero")
    )


@register(
    "setop_union_by_name",
    oracle="""
        SELECT nationkey, kind, COUNT(*) AS n
        FROM (
            SELECT c_nationkey AS nationkey, 'c' AS kind FROM customer
            UNION ALL BY NAME
            SELECT 's' AS kind, s_nationkey AS nationkey FROM supplier
        )
        GROUP BY nationkey, kind
        ORDER BY nationkey, kind
    """,
    tags=("relational", "setop"),
)
def setop_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName: column order differs between the two sides —
    positional UNION would silently mis-bind."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("c").alias("kind")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.lit("s").alias("kind"), F.col("s_nationkey").alias("nationkey")
    )
    return (
        c.unionByName(s)
        .groupBy("nationkey", "kind")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("nationkey", "kind")
    )


@register(
    "setop_intersect_all",
    oracle="""
        SELECT nationkey, COUNT(*) AS n FROM (
            SELECT c_nationkey AS nationkey FROM customer
            INTERSECT ALL
            SELECT s_nationkey AS nationkey FROM supplier
        )
        GROUP BY nationkey
        ORDER BY nationkey
    """,
    tags=("relational", "setop"),
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL (keeps min multiplicity per side)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return (
        c.intersectAll(s)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("nationkey")
    )


@register(
    "setop_except_all",
    oracle="""
        SELECT nationkey, COUNT(*) AS n FROM (
            SELECT c_nationkey AS nationkey FROM customer
            EXCEPT ALL
            SELECT s_nationkey AS nationkey FROM supplier
        )
        GROUP BY nationkey
        ORDER BY nationkey
    """,
    tags=("relational", "setop"),
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL (subtracts multiplicities)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return (
        c.exceptAll(s)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("nationkey")
    )


@register(
    "explode_outer_tokens",
    oracle="""
        WITH src AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN NULL
                        ELSE string_split(substr(text, 1, 20), ' ') END AS toks
            FROM documents
        ),
        ex AS (
            SELECT doc_id, u.tok, u.pos
            FROM src LEFT JOIN LATERAL (
                SELECT unnest(toks) AS tok,
                       generate_subscripts(toks, 1) - 1 AS pos
            ) u ON true
        )
        SELECT doc_id, COALESCE(pos, -1) AS pos, tok
        FROM ex
        ORDER BY doc_id, pos
    """,
    tags=("relational", "scalar", "array"),
)
def explode_outer_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode_outer: rows with NULL arrays survive (pos -1, null
    token) — the LATERAL VIEW OUTER surface. Every 7th doc's array is
    nulled to exercise the outer path."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.when(
        F.col("doc_id") % 7 != 0, F.split(F.substring("text", 1, 20), " ")
    )
    return (
        d.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.posexplode_outer("toks").alias("pos", "tok"))
        .select("doc_id", F.coalesce("pos", F.lit(-1)).alias("pos"), "tok")
        .orderBy("doc_id", "pos")
    )
