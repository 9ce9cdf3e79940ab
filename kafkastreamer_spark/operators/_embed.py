"""Shared vector/text expression builders for the operator library.

All cross-engine-deterministic: dot products are sequential left folds
over the array (Spark ``F.aggregate`` ≡ DuckDB ``list_dot_product`` on
DOUBLE[], verified bit-exact), and pseudo-random projections derive
from md5 (identical hex output in both engines) rather than any
engine-specific hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HEX = "0123456789abcdef"


def as_double_array(col) -> Column:
    c = col if isinstance(col, Column) else F.col(col)
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (bit-exact vs DuckDB
    list_dot_product on DOUBLE[])."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def coarse_centroids(ep: DataFrame) -> DataFrame:
    """The IVF coarse quantizer's centroids: every step-th vector of
    ``ep`` (vec_id, v, nv) as (cent_id, cv, ncv), with
    step = n div floor(sqrt(n)) (at least 1), so about sqrt(n) lists.
    The stride is a one-row relation inside the plan, so building the
    plan runs no job."""
    params = ep.agg(F.count(F.lit(1)).alias("cnt")).select(
        F.expr(
            "greatest(CAST(1 AS BIGINT), cnt div greatest(CAST(1 AS BIGINT),"
            " CAST(floor(sqrt(CAST(cnt AS DOUBLE))) AS BIGINT)))"
        ).alias("step")
    )
    return (
        ep.crossJoin(F.broadcast(params))
        .filter(F.col("vec_id") % F.col("step") == 0)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("v").alias("cv"),
            F.col("nv").alias("ncv"),
        )
    )


def nearest_centroids(
    rows: DataFrame,
    centroids: DataFrame,
    id: str,
    score: Callable[[Column], Column],
    n: int = 1,
    best: str = "min",
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Each row's best ``n`` centroids, picked map-side: the centroid
    table is collected into one broadcast row (one per ``by`` group),
    and every row ranks that array in place, so the row side never
    shuffles.

    ``score(c)`` gives a row's score against one centroid; ``c`` is a
    struct of the centroid table's columns and row columns are
    referenced by name. ``best`` is "min" (distances) or "max"
    (similarities); "max" needs a numeric ``id``. Ties go to the
    lowest ``id``. Returns the row columns plus ``id`` and ``score``;
    when ``n > 1``, one row per pick with ``rank`` 1..n (fewer when
    there are fewer centroids). For ``n = 1`` an empty centroid table
    gives a NULL ``id``.

    ``by`` splits the centroid table into independent groups: each
    group is collected into its own array, every row is scored against
    every group's array, and the ``by`` columns come after the row
    columns. With ``by``, an empty centroid table has no groups and
    gives no rows."""
    tie = (lambda c: c[id]) if best == "min" else (lambda c: -c[id])
    ranked = F.transform(
        "_cents",
        lambda c: F.struct(
            score(c).alias("score"), tie(c).alias("tie"), c[id].alias(id)
        ),
    )
    if n == 1:
        pick = F.array_min(ranked) if best == "min" else F.array_max(ranked)
        top = F.array(pick)
    else:
        top = F.slice(F.sort_array(ranked, asc=best == "min"), 1, n)
    cents = centroids.groupBy(*by).agg(
        F.collect_list(
            F.struct(*[c for c in centroids.columns if c not in by])
        ).alias("_cents")
    )
    # The picks are a generator's output, so a filter on the returned
    # id (e.g. the IS NOT NULL a join on it infers) stays above the
    # pick instead of being pushed below it as a second evaluation.
    return (
        rows.crossJoin(F.broadcast(cents))
        .select(*rows.columns, *by, F.posexplode(top).alias("_pos", "_best"))
        .select(
            *rows.columns,
            *by,
            F.col("_best")[id].alias(id),
            F.col("_best.score").alias("score"),
            *([(F.col("_pos") + 1).alias("rank")] if n > 1 else []),
        )
    )


def hyperplane_bucket(n_planes: int, v: Column | str = "v") -> Column:
    """Sign-bucket string over ``n_planes`` md5-derived random
    hyperplanes, computed per row: one nested transform over
    p = 0..n_planes-1 folding dot(plane_p, v), so there is no
    exchange and no plane table."""
    vc = v if isinstance(v, Column) else F.col(v)

    def _proj(p: Column) -> Column:
        plane_vec = F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.instr(
                F.lit(HEX),
                F.substring(
                    F.md5(F.concat(F.lit("plane"), p, F.lit("_"), i)), 1, 1
                ),
            ).cast("double")
            - 8.5,
        )
        return F.aggregate(
            F.zip_with(plane_vec, vc, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda p: F.when(_proj(p.cast("int")) >= 0, "1").otherwise("0"),
        ),
        "",
    )


def tokens(text_col) -> Column:
    """Whitespace tokenization of lowercased text (parity with DuckDB
    string_split_regex(lower(text), '\\s+'))."""
    c = text_col if isinstance(text_col, Column) else F.col(text_col)
    return F.split(F.lower(c), r"\s+")


SQL_TOKENS = "string_split_regex(lower(text), '\\s+')"


def shingles(words: Column, n: int = 3) -> Column:
    """Distinct word n-grams. Empty when the doc has < n words
    (sequence() would go descending — guarded by the when)."""
    return F.when(
        F.size(words) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


MINHASH_MOD = 4294967296  # 2^32: the double-hashing value domain


def minhash_array(sh: Column, perms: int) -> Column:
    """Per-row MinHash signature with Kirsch–Mitzenmacher double
    hashing: each shingle is md5'd ONCE, the digest split into two
    32-bit halves (h1, h2), and "permutation" p hashes the shingle as
    (h1 + p·h2) mod 2^32 — the standard construction for deriving a
    hash family from one base hash (Kirsch & Mitzenmacher, "Less
    Hashing, Same Performance"). mh[p] = min over shingles, rendered
    as a decimal string so band signatures concatenate unchanged.
    Empty-shingle inputs yield a NULL signature (callers drop).

    No row explosion, no shuffle: at 100 TB the signature build is a
    pure map stage, and the md5 count is |shingles|, not
    |shingles|·perms (the previous salted-md5-per-perm form — 12x
    fewer digest computations at 12 perms; the per-perm work is an
    integer multiply-add). Expression shape matters: the (h1, h2)
    pairs are the INPUT of a single F.aggregate fold carrying an
    array of running minima, because a nested
    transform(perms, p -> min(transform(sh, hash(s, p)))) re-evaluates
    the inner md5 array once per outer element — higher-order-function
    arguments are not common-subexpression-eliminated.
    MATERIALIZE the result as a column before deriving band
    signatures — referencing it inside another lambda re-evaluates
    all perms per band element.
    """
    pairs = F.transform(
        sh,
        lambda s: F.struct(
            F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(F.md5(s), 9, 8), 16, 10).cast("long").alias("h2"),
        ),
    )
    pseq = F.sequence(F.lit(0).cast("long"), F.lit(perms - 1).cast("long"))
    mins = F.aggregate(
        pairs,
        F.array_repeat(F.lit(MINHASH_MOD).cast("long"), perms),
        lambda acc, x: F.zip_with(
            acc,
            pseq,
            lambda m, p: F.least(m, (x["h1"] + p * x["h2"]) % MINHASH_MOD),
        ),
    )
    return F.when(F.size(sh) > 0, F.transform(mins, lambda m: m.cast("string")))


def band_sigs(mh: Column, perms: int, bands: int) -> Column:
    """Band signatures from a materialized minhash array: band b joins
    its perms/bands row minhashes with '|' (order = permutation id)."""
    r = perms // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.array_join(F.slice(mh, b * r + 1, r), "|"),
    )


def sql_minhash_ctes(perms: int) -> str:
    """DuckDB mirror of minhash_array() as two CTE bodies (caller
    splices them after a ``posting(doc_id, s)`` CTE): ``hashed`` md5s
    each shingle once into 32-bit halves, ``minhash`` takes the
    per-permutation double-hash minima — same Kirsch–Mitzenmacher
    family, bit-identical values."""
    return f"""
        hashed AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h1,
                   CAST(('0x' || substr(md5(s), 9, 8)) AS BIGINT) AS h2
            FROM posting
        ),
        minhash AS (
            SELECT doc_id, p,
                   CAST(MIN((h1 + p * h2) % {MINHASH_MOD}) AS VARCHAR) AS mh
            FROM hashed, (SELECT unnest(range({perms})) AS p)
            GROUP BY doc_id, p
        )"""


def sql_shingles(words_var: str = "w", n: int = 3) -> str:
    """DuckDB mirror of shingles(); expects a list column named
    ``words_var`` in scope (1-based list indexing). range(a,b) is
    half-open and returns empty when b <= a, matching the <n-words
    guard on the Spark side."""
    parts = "||' '||".join(f"{words_var}[i+{j}]" for j in range(n))
    return (
        f"list_distinct(list_transform(range(1, len({words_var}) - {n - 2}),"
        f" i -> {parts}))"
    )
