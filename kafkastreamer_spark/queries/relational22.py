"""Mann–Kendall trend test, learning-curve by training fraction,
shard-local vs cross-shard dedup economics.

* ``events_mann_kendall_trend`` — the standard nonparametric trend
  test (S statistic + Kendall tau) on daily series: all pairwise
  sign comparisons, so it is EXACT integer arithmetic end-to-end —
  the robust companion of agg_ols_trend's parametric slope.
* ``ml_learning_curve_fractions`` — nearest-centroid accuracy at
  nested 25% / 50% / 100% training draws: the "is more data still
  buying accuracy?" scaling-curve table, built on the
  ml_nearest_centroid_f1 lattice so every point is exact.
* ``dedup_shard_reconcile_plan`` — exact-duplicate groups classified
  by how many hash shards they span: the economics table that prices
  shard-local dedup (free, no network) against the cross-shard
  reconciliation shuffle a global pass needs.

Reference parity note: the reference engine computes nothing of this
kind (keyed integer streamer, v1/src/main/java/Stream/Streamer.java);
these belong to the SURVEY §2 Part-B time-series/ML/LLM-data closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkastreamer_spark.operators._embed import nearest_centroids
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table, widen

# ---------------------------------------------------------------------------
# events_mann_kendall_trend
# ---------------------------------------------------------------------------


@register(
    "events_mann_kendall_trend",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2
        ),
        pairs AS (
            SELECT a.event_type,
                   CASE WHEN b.c > a.c THEN 1
                        WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn
            FROM daily a JOIN daily b
              ON b.event_type = a.event_type AND b.day > a.day
        ),
        norm AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n
            FROM daily GROUP BY event_type
        ),
        sums AS (
            SELECT event_type, CAST(sum(sgn) AS BIGINT) AS s
            FROM pairs GROUP BY event_type
        ),
        s2 AS (
            SELECT n.event_type, n.n, COALESCE(sums.s, 0) AS s
            FROM norm n LEFT JOIN sums USING (event_type)
        )
        SELECT event_type, n AS n_days, s,
               CAST(CASE WHEN n < 2 THEN 0 ELSE
                    (s * 10000 - ((s * 10000) % (n * (n - 1) // 2)
                        + (n * (n - 1) // 2)) % (n * (n - 1) // 2))
                    // (n * (n - 1) // 2) END AS BIGINT) AS tau4
        FROM s2 ORDER BY event_type
    """,
    tags=("events", "time-series", "statistics"),
)
def events_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test per event type on the daily count
    series: S = sum over day pairs i<j of sign(c_j - c_i), and
    Kendall's tau = S / (n(n-1)/2) in 1e-4 fixed point. Everything is
    integer sign arithmetic — no variance, no transcendentals — so
    the oracle is exact; tau's floor division handles negative S via
    the explicit floor-mod identity (truncating div would round a
    falling trend toward zero on both engines, but differently from
    FLOOR — the identity makes both engines FLOOR).

    Scale shape: raw events collapse map-side to |types| x |days|
    daily rows (the ewma/ols discipline — the window never sees raw
    events); the pairwise self-join is over those calendar-bounded
    partials only (<= ~465 pairs per type per month), then a
    count/sum-only rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.day") > F.col("a.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.when(F.col("b.c") > F.col("a.c"), 1)
        .when(F.col("b.c") < F.col("a.c"), -1)
        .otherwise(0)
        .cast("long")
        .alias("sgn"),
    )
    n = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    s = pairs.groupBy("event_type").agg(
        F.coalesce(F.sum("sgn"), F.lit(0)).cast("long").alias("s")
    )
    out = n.join(s, "event_type", "left").select(
        "event_type",
        "n_days",
        F.coalesce("s", F.lit(0).cast("long")).alias("s"),
    )
    # exact floor division (s*10^4) / npairs for possibly-negative s:
    # fdiv(a,b) = (a - ((a % b) + b) % b) / b, b > 0 — both engines'
    # % is truncated (sign of dividend), so the identity matches.
    return out.select(
        "event_type",
        "n_days",
        "s",
        F.when(F.col("n_days") < 2, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "CAST((s * 10000 - ((s * 10000) % (n_days * (n_days - 1) div 2)"
                " + (n_days * (n_days - 1) div 2)) % (n_days * (n_days - 1) div 2))"
                " div (n_days * (n_days - 1) div 2) AS BIGINT)"
            )
        )
        .alias("tau4"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# ml_learning_curve_fractions
# ---------------------------------------------------------------------------

_LC_Q = 10_000
#: nested training fractions as h < cut over the first md5 byte of the
#: vec_id (h in [0, 256)) — 25% / 50% / 100%, each a superset of the
#: previous (a real learning curve adds data, never swaps it)
_LC_CUTS = ((25, 64), (50, 128), (100, 256))


@register(
    "ml_learning_curve_fractions",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label,
                   CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 2))
                        AS BIGINT) AS h,
                   list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(FLOOR(x * {_LC_Q}) AS BIGINT)
                             + {_LC_Q}) AS q
            FROM embeddings
        ),
        cuts AS (SELECT unnest([{", ".join(str(p) for p, _ in _LC_CUTS)}]) AS pct,
                        unnest([{", ".join(str(c) for _, c in _LC_CUTS)}]) AS cut),
        flat AS (
            SELECT c.pct, e.label, t.i, sum(e.q[t.i + 1]) AS s,
                   count(*) AS n
            FROM e CROSS JOIN cuts c CROSS JOIN range(0, 64) AS t(i)
            WHERE e.h < c.cut
            GROUP BY c.pct, e.label, t.i
        ),
        cent AS (
            SELECT pct, label AS clabel, list(s // n ORDER BY i) AS c,
                   any_value(n) AS n_train_label
            FROM flat GROUP BY pct, label
        ),
        ntr AS (
            SELECT pct, CAST(sum(n_train_label) AS BIGINT) AS n_train
            FROM cent GROUP BY pct
        ),
        scored AS (
            SELECT cent.pct, e.vec_id, e.label, cent.clabel,
                   list_sum(list_transform(range(0, 64),
                        i -> (e.q[i + 1] - cent.c[i + 1])
                             * (e.q[i + 1] - cent.c[i + 1]))) AS d2
            FROM e CROSS JOIN cent
        ),
        pred AS (
            SELECT pct, vec_id, label,
                   first(clabel ORDER BY d2, clabel) AS plabel
            FROM scored GROUP BY pct, vec_id, label
        ),
        acc AS (
            SELECT pct, CAST(count(*) AS BIGINT) AS n_eval,
                   CAST(count(*) FILTER (WHERE plabel = label) AS BIGINT)
                       AS n_correct
            FROM pred GROUP BY pct
        )
        SELECT CAST(a.pct AS BIGINT) AS fraction_pct, t.n_train,
               a.n_eval, a.n_correct,
               CAST((a.n_correct * {_LC_Q}) // a.n_eval AS BIGINT)
                   AS accuracy4
        FROM acc a JOIN ntr t USING (pct) ORDER BY fraction_pct
    """,
    tags=("ml", "llm-data", "scaling"),
)
def ml_learning_curve_fractions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Learning curve of the nearest-centroid classifier at NESTED
    25% / 50% / 100% training draws (membership by the first md5 byte
    of vec_id, so each fraction contains the previous — adding data,
    never resampling), always evaluated on the full corpus. The
    "does doubling the data still move accuracy?" table every
    data-acquisition decision starts from, with every point exact on
    the ml_nearest_centroid_f1 integer lattice.

    Scale shape: centroid sums partial-aggregate map-side to
    |fractions| x |labels| x 64 rows; the <= 30-row centroid table
    broadcasts as one array per fraction; scoring streams the corpus
    once, and ``nearest_centroids`` picks each vector's label per
    fraction map-side from |fractions| x |labels| integer fold
    distances (ties to the lowest label); the accuracy rollup is
    count-only. The fraction explode multiplies only the tiny centroid
    build and the broadcast side, never the corpus scan count.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2), 16, 10
        )
        .cast("long")
        .alias("h"),
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _LC_Q).cast("long") + _LC_Q,
        ).alias("q"),
    )
    cuts = F.array(
        *[
            F.struct(
                F.lit(p).cast("long").alias("pct"),
                F.lit(c).cast("long").alias("cut"),
            )
            for p, c in _LC_CUTS
        ]
    )
    train = (
        e.select("label", "h", "q", F.explode(cuts).alias("fc"))
        .select("label", "h", "q", "fc.pct", "fc.cut")
        .filter(F.col("h") < F.col("cut"))
    )
    flat = (
        train.select("pct", "label", F.posexplode("q").alias("i", "qi"))
        .groupBy("pct", "label", "i")
        .agg(F.sum("qi").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    cent = (
        flat.select(
            "pct",
            F.col("label").alias("clabel"),
            F.col("n").alias("n_train_label"),
            F.struct("i", F.expr("s div n").alias("ci")).alias("p"),
        )
        .groupBy("pct", "clabel")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("p")), lambda p: p.ci
            ).alias("c"),
            F.first("n_train_label").alias("n_train_label"),
        )
    )
    ntr = cent.groupBy("pct").agg(
        F.sum("n_train_label").cast("long").alias("n_train")
    )
    pred = nearest_centroids(
        e,
        cent.select("pct", "clabel", "c"),
        "clabel",
        lambda c: F.aggregate(
            F.zip_with("q", c["c"], lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
        by=("pct",),
    )
    acc = pred.groupBy("pct").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.count_if(F.col("clabel") == F.col("label"))
        .cast("long")
        .alias("n_correct"),
    )
    return (
        acc.join(ntr, "pct")
        .select(
            F.col("pct").cast("long").alias("fraction_pct"),
            "n_train",
            "n_eval",
            "n_correct",
            F.expr(f"(n_correct * {_LC_Q}) div n_eval")
            .cast("long")
            .alias("accuracy4"),
        )
        .orderBy("fraction_pct")
    )


# ---------------------------------------------------------------------------
# dedup_shard_reconcile_plan
# ---------------------------------------------------------------------------

_SHARDS = 16


@register(
    "dedup_shard_reconcile_plan",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, md5(text) AS fh,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
                        AS BIGINT) % {_SHARDS} AS shard
            FROM documents
        ),
        g AS (
            SELECT fh, count(*) AS n, count(DISTINCT shard) AS nsh
            FROM d GROUP BY fh HAVING count(*) > 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_dup_groups,
               CAST(COALESCE(sum(n - 1), 0) AS BIGINT) AS n_excess_rows,
               CAST(count(*) FILTER (WHERE nsh = 1) AS BIGINT)
                   AS n_local_groups,
               CAST(COALESCE(sum(n - 1) FILTER (WHERE nsh = 1), 0) AS BIGINT)
                   AS n_local_excess,
               CAST(count(*) FILTER (WHERE nsh > 1) AS BIGINT)
                   AS n_cross_groups,
               CAST(COALESCE(sum(n - 1) FILTER (WHERE nsh > 1), 0) AS BIGINT)
                   AS n_cross_excess,
               CAST(COALESCE(max(nsh), 0) AS BIGINT) AS max_shards_spanned
        FROM g
    """,
    tags=("llm-data", "dedup", "planning"),
)
def dedup_shard_reconcile_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-local vs cross-shard exact-dedup economics under a
    {_SHARDS}-way doc-id hash sharding: how many duplicate groups sit
    entirely inside one shard (removable with NO network — each shard
    dedups independently) versus spanning shards (the only rows a
    global reconciliation shuffle actually has to move), with the
    removable excess row counts for both classes. At 100 TB this
    table IS the dedup execution plan: run the free local pass first,
    then reconcile only the cross-shard groups — the report prices
    exactly how much shuffle that second phase needs.

    Scale shape: one scan emitting (full-hash, shard) pairs — hashes,
    never text, cross the exchange — one count/count-distinct
    aggregate per hash group, and a single global count-only rollup.
    """
    d = widen(load_table(spark, sf_dir, "documents")).select(
        F.md5("text").alias("fh"),
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
                16,
                10,
            ).cast("long")
            % _SHARDS
        ).alias("shard"),
    )
    g = (
        d.groupBy("fh")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("shard").alias("nsh"),
        )
        .filter(F.col("n") > 1)
    )
    zero = F.lit(0).cast("long")
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_groups"),
        F.coalesce(F.sum(F.col("n") - 1), zero)
        .cast("long")
        .alias("n_excess_rows"),
        F.count_if(F.col("nsh") == 1).cast("long").alias("n_local_groups"),
        F.coalesce(F.sum(F.when(F.col("nsh") == 1, F.col("n") - 1)), zero)
        .cast("long")
        .alias("n_local_excess"),
        F.count_if(F.col("nsh") > 1).cast("long").alias("n_cross_groups"),
        F.coalesce(F.sum(F.when(F.col("nsh") > 1, F.col("n") - 1)), zero)
        .cast("long")
        .alias("n_cross_excess"),
        F.coalesce(F.max("nsh"), zero).cast("long").alias("max_shards_spanned"),
    )
