"""``nearest_centroids`` against a NumPy brute force on a hand-built
input: fixed-point squared L2 (best="min") and cosine (best="max"),
exact ties from duplicate centroids going to the lowest id, the rank
order for n = 1 and n = 3, and the grouped form (``by``) scored per
group."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from kafkastreamer_spark.operators._embed import dot, nearest_centroids

ROWS = [
    (1, [1.0, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (3, [0.5, 0.5, 0.0]),
    (4, [-1.0, 0.25, 2.0]),
    (5, [0.3, -0.7, 0.1]),
    (6, [2.0, 2.0, 2.0]),
]
# 9 duplicates 2 and 7 duplicates 4: every score against them ties.
CENTS = [
    (5, [1.0, 1.0, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (9, [0.0, 1.0, 0.0]),
    (4, [1.0, 0.0, 1.0]),
    (7, [1.0, 0.0, 1.0]),
]


def _fold_dot(a, b):
    """Sequential left fold, the same order as ``_embed.dot``."""
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _l2_d4(v, c):
    d = [x - y for x, y in zip(v, c)]
    return math.floor(_fold_dot(d, d) * 10000)


def _cos(v, c):
    return _fold_dot(v, c) / (math.sqrt(_fold_dot(v, v)) * math.sqrt(_fold_dot(c, c)))


def _brute_force(metric, best, n, cents=CENTS):
    """{vec_id: [(cent_id, score), ...]} best-first, ties to lowest id."""
    ids = np.array([cid for cid, _ in cents])
    out = {}
    for vid, v in ROWS:
        scores = np.array([metric(v, c) for _, c in cents], dtype=float)
        key = scores if best == "min" else -scores
        order = np.lexsort((ids, key))[:n]
        out[vid] = [(int(ids[i]), scores[i]) for i in order]
    return out


def _spark_l2(c):
    diff = F.zip_with(F.col("v"), c["cv"], lambda x, y: x - y)
    return F.floor(dot(diff, diff) * 10000).cast("long")


def _spark_cos(c):
    return dot(F.col("v"), c["cv"]) / (F.col("nv") * c["ncv"])


@pytest.fixture(scope="module")
def frames(spark):
    rows = spark.createDataFrame(ROWS, "vec_id long, v array<double>")
    rows = rows.withColumn("nv", F.sqrt(dot(F.col("v"), F.col("v"))))
    cents = spark.createDataFrame(CENTS, "cent_id long, cv array<double>")
    cents = cents.withColumn("ncv", F.sqrt(dot(F.col("cv"), F.col("cv"))))
    return rows, cents


CASES = [
    pytest.param(_l2_d4, _spark_l2, "min", id="l2-min"),
    pytest.param(_cos, _spark_cos, "max", id="cosine-max"),
]


@pytest.mark.parametrize("metric,spark_score,best", CASES)
def test_best_one_matches_brute_force(frames, metric, spark_score, best):
    rows, cents = frames
    got = nearest_centroids(rows, cents, "cent_id", spark_score, best=best)
    assert "rank" not in got.columns
    want = _brute_force(metric, best, 1)
    res = {r["vec_id"]: [(r["cent_id"], r["score"])] for r in got.collect()}
    assert res == want


@pytest.mark.parametrize("metric,spark_score,best", CASES)
def test_best_three_rank_order(frames, metric, spark_score, best):
    rows, cents = frames
    got = nearest_centroids(rows, cents, "cent_id", spark_score, n=3, best=best)
    res: dict[int, list] = {}
    for r in got.orderBy("vec_id", "rank").collect():
        assert r["rank"] == len(res.get(r["vec_id"], [])) + 1
        res.setdefault(r["vec_id"], []).append((r["cent_id"], r["score"]))
    assert res == _brute_force(metric, best, 3)


def test_ties_go_to_lowest_id(frames):
    """Row 2 equals centroids 2 and 9 (cosine 1.0 both); row 3 is at
    the same L2 distance from 5, 2 and 9."""
    rows, cents = frames
    cos = nearest_centroids(rows, cents, "cent_id", _spark_cos, best="max")
    l2 = nearest_centroids(rows, cents, "cent_id", _spark_l2, n=3)
    assert cos.filter("vec_id = 2").first()["cent_id"] == 2
    assert [r["cent_id"] for r in l2.filter("vec_id = 3").orderBy("rank").collect()] == [
        2,
        5,
        9,
    ]


def test_empty_centroid_table_gives_null_id(frames):
    rows, cents = frames
    got = nearest_centroids(rows, cents.limit(0), "cent_id", _spark_l2)
    assert got.count() == len(ROWS)
    assert got.filter(F.col("cent_id").isNotNull()).count() == 0


# Group 1 is CENTS; group 2 reuses ids 2 and 4 for other vectors and
# holds its own exact tie (3 duplicates 8).
GROUPS = {
    1: CENTS,
    2: [
        (8, [0.5, 0.5, 0.0]),
        (3, [0.5, 0.5, 0.0]),
        (2, [-1.0, 0.0, 2.0]),
        (4, [2.0, 2.0, 1.0]),
    ],
}


@pytest.mark.parametrize("metric,spark_score,best", CASES)
def test_grouped_matches_brute_force_per_group(spark, frames, metric, spark_score, best):
    rows, _ = frames
    cents = spark.createDataFrame(
        [(g, cid, cv) for g, cs in GROUPS.items() for cid, cv in cs],
        "g long, cent_id long, cv array<double>",
    ).withColumn("ncv", F.sqrt(dot(F.col("cv"), F.col("cv"))))
    got = nearest_centroids(rows, cents, "cent_id", spark_score, best=best, by=("g",))
    assert got.columns == [*rows.columns, "g", "cent_id", "score"]
    res = {(r["g"], r["vec_id"]): [(r["cent_id"], r["score"])] for r in got.collect()}
    want = {
        (g, vid): picks
        for g, cs in GROUPS.items()
        for vid, picks in _brute_force(metric, best, 1, cs).items()
    }
    assert res == want
    # row 3 equals both 8 and 3 in group 2
    assert res[(2, 3)][0][0] == 3


def test_grouped_empty_centroid_table_gives_no_rows(frames):
    rows, cents = frames
    empty = cents.limit(0).withColumn("g", F.lit(1))
    got = nearest_centroids(rows, empty, "cent_id", _spark_l2, by=("g",))
    assert got.count() == 0
