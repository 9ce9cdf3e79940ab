"""Deduplication operators over ``documents`` / ``embeddings``
(north-star extension): exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the part that matters at 100 TB):

* Exact dedup groups on md5(normalized text) — the shuffle key is 32
  bytes, not the document body.
* Candidate generation is always inverted-index / LSH-bucket joins —
  never an O(n²) cross join. Verified pair counts stay proportional to
  true-duplicate density.
* All hashing is md5 (identical across Spark/DuckDB), so every
  operator has an exact SQL oracle; MinHash "permutations" derive
  from ONE md5 per shingle via Kirsch–Mitzenmacher double hashing
  ((h1 + p·h2) mod 2^32 — see _embed.minhash_array).

Spark side is pure built-ins (split/explode/groupBy/join + higher-
order array functions) — whole-stage codegen, no Python in the path.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.operators._embed import (
    HEX,
    SQL_TOKENS,
    band_sigs,
    cosine,
    hyperplane_bucket,
    minhash_array,
    shingles,
    sql_minhash_ctes,
    sql_shingles,
    tokens,
)
from kafkastreamer_spark.operators._graph import min_label_step
from kafkastreamer_spark.registry import REGISTRY, register
from kafkastreamer_spark.tables import load_table, widen

JACCARD_THRESHOLD = 0.2
NGRAM_DF_CAP = 64  # shingles in more docs than this are stop-shingles
MINHASH_PERMS = 12
MINHASH_BANDS = 4  # 4 bands × 3 rows: s-curve midpoint ≈ 0.63
COSINE_DUP_THRESHOLD = 0.4  # fixture embeddings are near-random; see tests
SIMHASH_BITS = 128  # round-8 rework: was 64 (see dedup_simhash docstring)
SIMHASH_MAX_HAMMING = 8


# One persisted shingle DataFrame per (session, sf_dir): queries that
# compose two near-dup pipelines (dedup_lsh_recall_audit runs the
# ngram truth AND the minhash candidate side in one plan) would
# otherwise build + persist + materialize the shingle subtree twice
# in the same call. Weak-keyed so a stopped session's entry is
# collectable; values re-persist lazily if an external
# spark.catalog.clearCache() (the driver does this between queries)
# dropped them, so a memo hit never hands back an unpinned fan-out.
#
# ASSUMPTION — fixtures are immutable for the life of a session: the
# memoized plan snapshots the parquet file listing of sf_dir at first
# call, so rewriting/regenerating fixtures at the SAME path within a
# live session would silently serve stale shingles (or fail on
# deleted files). That matches the driver contract (testdata is
# generated once, read-only); a caller that does rewrite a fixture
# dir must call invalidate_shingle_memo(spark, sf_dir) first.
# Distinct sf_dir paths are independent entries — no cross-sf_dir
# sharing (pinned by tests/test_shingle_memo.py).
_SHINGLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[str, DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def invalidate_shingle_memo(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Drop the memoized shingle plan for ``sf_dir`` (or all dirs when
    None) so the next call re-lists and re-reads the parquet files —
    the escape hatch for callers that rewrite a fixture dir in-place
    (see the immutable-fixtures assumption on _SHINGLE_MEMO)."""
    per_session = _SHINGLE_MEMO.get(spark)
    if not per_session:
        return
    stale = [sf_dir] if sf_dir is not None else list(per_session)
    for key in stale:
        df = per_session.pop(key, None)
        if df is not None:
            df.unpersist()


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) with the token column materialized first — an
    inline split() inside the shingle lambda re-runs the regex per
    array element (~7x slower, measured) — and persisted, because
    every near-dup operator fans it into 2-3 join branches and Spark
    re-executes unpersisted subtrees per branch.

    No size-filter on sh: docs with <3 words get an empty list (which
    explodes to zero postings and can never join — same output as the
    oracle's len(w)>=3 guard). An explicit filter(size>0) here gets
    predicate-pushed below the projection AND the repartition,
    re-evaluating the whole shingle expression serially on the single
    scan partition (measured 18x slower)."""
    per_session = _SHINGLE_MEMO.setdefault(spark, {})
    df = per_session.get(sf_dir)
    if df is None:
        d = widen(load_table(spark, sf_dir, "documents"))
        df = (
            d.select("doc_id", tokens("text").alias("w"))
            .select("doc_id", shingles(F.col("w")).alias("sh"))
            .persist()
        )
        per_session[sf_dir] = df
    elif not (df.storageLevel.useMemory or df.storageLevel.useDisk):
        df.persist()
    return df


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

_NORM_SQL = "md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))"


@register(
    "dedup_exact",
    oracle=f"""
        SELECT {_NORM_SQL} AS content_hash,
               MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY 1
        ORDER BY keep_doc_id
    """,
    tags=("llm-data", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on normalized content.

    The group key is md5 of (lower, trim, whitespace-collapsed) text:
    at scale the shuffle moves 32-byte keys instead of document
    bodies, and min(doc_id) picks a deterministic representative.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    content_hash = F.md5(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    )
    return (
        d.groupBy(content_hash.alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_doc_id")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (inverted-index join)
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH words AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
        sh AS (SELECT doc_id, {sql_shingles('w')} AS sh FROM words WHERE len(w) >= 3),
        posting0 AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        dfreq AS (SELECT s, COUNT(*) AS df FROM posting0 GROUP BY s),
        posting AS (
            SELECT p.doc_id, p.s FROM posting0 p
            JOIN dfreq d ON p.s = d.s AND d.df <= {NGRAM_DF_CAP}
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM posting GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               CAST(FLOOR(CAST(n_common AS DOUBLE)
                    / (sa.n + sb.n - n_common) * 10000) AS BIGINT) AS jaccard4
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
    """,
    tags=("llm-data", "dedup"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard ≥ 0.2 over non-stop
    shingles, via inverted-index self-join — never a cross join.

    Scale: raw candidate volume is Σ_s df(s)² — quadratic in the
    document frequency of the most common shingle, which on a skewed
    corpus (boilerplate headers, license blocks) goes quadratic in
    corpus size. The df cap removes shingles appearing in more than
    NGRAM_DF_CAP docs ("stop-shingles") from BOTH the posting list and
    the per-doc set size, so the Jaccard is exactly the Jaccard of the
    capped shingle sets and the oracle shares the semantics. Candidate
    volume is then ≤ cap × |posting| — linear in corpus size.

    Plan shape: df counts aggregate with map-side combine (tiny
    shuffle: one row per distinct shingle); the stop-shingle list
    (df > cap) is by construction small — high-df shingles are few —
    and is removed from the posting list with a BROADCAST left-anti
    join, so the posting list itself is never shuffled for the cap.
    """
    return _ngram_jaccard_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def _ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered (doc_a, doc_b, jaccard4) near-dup pairs — the shared
    body of dedup_ngram_jaccard and the exact-truth side of
    dedup_lsh_recall_audit (which feeds it straight into a join and
    must not inherit a useless sort)."""
    sh = _shingle_sets(spark, sf_dir)
    posting0 = sh.select("doc_id", F.explode("sh").alias("s"))
    # collapse the stop-shingle list (bounded: high-df shingles are few
    # by construction) to ONE broadcast array row, so the df cap and
    # the per-doc capped size are both applied to the shingle ARRAY
    # before the explode — filter() keeps intra-doc duplicates exactly
    # like the old row-level anti-join did (array_except would not)
    stop = (
        posting0.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > NGRAM_DF_CAP)
        .agg(F.collect_list("s").alias("stops"))
    )
    capped = sh.crossJoin(F.broadcast(stop)).select(
        "doc_id",
        F.filter("sh", lambda x: ~F.array_contains(F.col("stops"), x)).alias("shc"),
    )
    # carrying n (the per-doc capped size) on every posting row costs
    # one extra int in the posting shuffle but deletes the sizes
    # aggregate AND both sort-merge size joins below — the pair table
    # is exchanged once (its groupBy) instead of three times.
    # repartition by the self-join key BEFORE the persist: the cached
    # relation then already satisfies the SMJ's distribution on BOTH
    # sides (cached-plan partitioning is AQE-visible since the r11
    # conf), so the self-join sorts without re-exchanging — one
    # exchange of the posting volume instead of two, measured ~0.7 s
    # at sf0.01 under a plain 200-partition driver session and
    # strictly fewer full-relation shuffles at any scale. No explicit
    # partition count: AQE remains free to size it.
    posting = (
        capped.select("doc_id", F.size("shc").alias("n"), F.explode("shc").alias("s"))
        .repartition("s")
        .persist()
    )
    # the posting self-join sides scale with the corpus: pin a shuffle
    # plan (the x256-probe broadcast-underestimate fix, see
    # dedup_minhash_lsh's band-join note)
    a = posting.hint("merge").alias("a")
    b = posting.hint("merge").alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jacc = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        common.filter(jacc >= JACCARD_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.floor(jacc * 10000).alias("jaccard4"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


@register(
    "dedup_minhash_lsh",
    oracle=f"""
        WITH words AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
        sh AS (SELECT doc_id, {sql_shingles('w')} AS sh FROM words WHERE len(w) >= 3),
        posting AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        -- MinHash: "permutation" p = min of the Kirsch–Mitzenmacher
        -- double hash (h1 + p*h2) mod 2^32, one md5 per shingle
        {sql_minhash_ctes(MINHASH_PERMS)},
        -- LSH: band signature = concat of the band's row minhashes
        bands AS (
            SELECT doc_id, p // {MINHASH_PERMS // MINHASH_BANDS} AS band,
                   string_agg(mh, '|' ORDER BY p) AS sig
            FROM minhash
            GROUP BY 1, 2
        ),
        candidates AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
        verified AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
            FROM candidates c
            JOIN posting pa ON pa.doc_id = c.doc_a
            JOIN posting pb ON pb.doc_id = c.doc_b AND pb.s = pa.s
            GROUP BY 1, 2
        )
        SELECT v.doc_a, v.doc_b,
               CAST(FLOOR(CAST(n_common AS DOUBLE)
                    / (sa.n + sb.n - n_common) * 10000) AS BIGINT) AS jaccard4
        FROM verified v
        JOIN sizes sa ON sa.doc_id = v.doc_a
        JOIN sizes sb ON sb.doc_id = v.doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
    """,
    tags=("llm-data", "dedup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle → 12 double-hash minhashes → 4
    bands × 3 rows → band-bucket join → exact-Jaccard verification.

    Scale: the bucket join touches only colliding band signatures —
    candidate volume tracks duplicate density, not n². md5-based
    permutations keep the whole pipeline engine-portable (exact DuckDB
    oracle) and deterministic across runs/partitionings.
    """
    sh = _shingle_sets(spark, sf_dir)
    posting = sh.select("doc_id", F.explode("sh").alias("s"))
    # Per-row signature build (minhash_array): a pure map stage — the
    # classic explode×perms + groupBy(doc,p) shuffle is gone entirely.
    # Same discipline: partition by the band join key at persist so
    # neither self-join side re-exchanges the band table.
    # r14 (guide §2.3, the ngram-posting lesson): each band row also
    # carries the doc's shingle-set size n — one extra long in the
    # band shuffle — so candidate pairs emerge with (na, nb) attached
    # and the two corpus-sized `sizes` sort-merge joins (plus the
    # sizes aggregate and two full exchanges of the verified pair
    # table) below are gone. n = size(sh) is exactly the old
    # sizes-table value, so jaccard4 is bit-identical.
    bands = (
        sh.select(
            "doc_id",
            F.size("sh").alias("n"),
            minhash_array(F.col("sh"), MINHASH_PERMS).alias("mh"),
        )
        .select(
            "doc_id",
            "n",
            F.posexplode(band_sigs(F.col("mh"), MINHASH_PERMS, MINHASH_BANDS)).alias(
                "band", "sig"
            ),
        )
        .filter(F.col("sig") != "")  # docs with no shingles
        .repartition("band", "sig")
        .persist()  # self-joined below
    )
    # Corpus-sized sides must never be planned as broadcasts: after
    # projecting away the wide text column, Catalyst's width-ratio
    # size estimate is ~100x under the true size, so the static
    # planner happily broadcasts the whole band table (found by the
    # x256 probe: a 1 GiB driver collect at 1.28M docs; fatal at
    # 100 TB). The merge hint pins a sort-merge plan (skew-safe: SMJ
    # spills where a shuffle-hash build would OOM on a hot band);
    # measured price at sf0.1 is ~1.7 s warm on this query — the
    # documented cost of the scale fix, like the r8 simhash rework.
    a = bands.hint("merge").alias("a")
    b = bands.hint("merge").alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()  # (na, nb) are functions of the doc ids — same pairs
    )
    # posting (doc x shingle) scales with the corpus — pin sort-merge
    pa = posting.hint("merge").alias("pa")
    pb = posting.hint("merge").alias("pb")
    verified = (
        candidates.join(pa, F.col("pa.doc_id") == F.col("doc_a"))
        .join(
            pb,
            (F.col("pb.doc_id") == F.col("doc_b")) & (F.col("pb.s") == F.col("pa.s")),
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jacc = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        verified.filter(jacc >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.floor(jacc * 10000).alias("jaccard4"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

_SQL_HEXVAL = "(instr('0123456789abcdef', substr(h, 1 + b // 4, 1)) - 1)"
_SQL_BIT = f"(({_SQL_HEXVAL} // CAST(pow(2, 3 - b % 4) AS INT)) % 2)"


@register(
    "dedup_simhash",
    oracle=f"""
        WITH words AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
        toks AS (SELECT doc_id, unnest(list_distinct(w)) AS t FROM words),
        tok_bits AS (
            SELECT doc_id, b, 2 * {_SQL_BIT} - 1 AS wgt
            FROM (SELECT doc_id, md5(t) AS h FROM toks),
                 (SELECT unnest(range({SIMHASH_BITS})) AS b)
        ),
        bitsum AS (
            SELECT doc_id, b, SUM(wgt) AS s FROM tok_bits GROUP BY doc_id, b
        ),
        -- pack each 16-bit chunk into a BIGINT (MSB-first within chunk)
        chunkints AS (
            SELECT doc_id, b // 16 AS c,
                   SUM(CASE WHEN s >= 0
                       THEN (CAST(1 AS BIGINT) << (15 - (b % 16)))
                       ELSE 0 END) AS chunk
            FROM bitsum GROUP BY 1, 2
        ),
        sig AS (
            SELECT doc_id, list(chunk ORDER BY c) AS chunks
            FROM chunkints GROUP BY doc_id
        ),
        blkkeys AS (
            SELECT doc_id, c AS blk,
                   chunks[CAST(2*c+1 AS INT)] * 65536
                       + chunks[CAST(2*c+2 AS INT)] AS v
            FROM sig, (SELECT unnest(range(4)) AS c)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM blkkeys a JOIN blkkeys b
              ON a.blk = b.blk AND a.v = b.v AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(list_sum(list_transform(range(8),
                    i -> bit_count(xor(sa.chunks[CAST(i+1 AS INT)],
                                       sb.chunks[CAST(i+1 AS INT)]))))
                    AS BIGINT) AS hamming
        FROM cand
        JOIN sig sa ON sa.doc_id = doc_a
        JOIN sig sb ON sb.doc_id = doc_b
        WHERE list_sum(list_transform(range(8),
              i -> bit_count(xor(sa.chunks[CAST(i+1 AS INT)],
                                 sb.chunks[CAST(i+1 AS INT)]))))
              <= {SIMHASH_MAX_HAMMING}
        ORDER BY doc_a, doc_b
    """,
    tags=("llm-data", "dedup", "lsh"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 128-bit signature from md5-derived token
    bits, 32-bit-block LSH (any of the four 32-bit blocks equal →
    candidate; pigeonhole guarantees exact recall for hamming ≤ 3,
    probabilistic above), hamming ≤ 8 verification — the
    Manku/Jain/Sarma WWW'07 table scheme with table count and key
    width chosen for corpus scale.

    Round-8 rework, driven by the x64 probe: the original 64-bit/
    16-bit-chunk form keyed a FIXED 2^16 domain, so block buckets
    filled with merely-SIMILAR documents (sharing any 16 signature
    bits) and random collisions grew 4·n²/2^16 — measured 197x wall
    at 64x data (716 s), a guaranteed scale-killer at 10^8+ docs. A
    C(8,4)=70-combination variant fixed the collision domain but
    multiplied every true near-dup pair's candidate rows ~35x
    (duplicate clusters match every combo) — worse on dup-dense
    corpora. The final form keeps the table count at FOUR (generation
    stays ∝ true pairs) and widens the signature instead: 128 simhash
    bits → four 32-bit block keys, 2^32 collision domain, 65536x
    fewer spurious bucket mates per table, same ≤ 3 pigeonhole
    guarantee. Measured x1/x16/x64: docs/SCALING.md round-8 table.

    Scale: signature build is one explode + one groupBy per doc
    (packed accumulators); candidates verify with 8 xor+popcounts
    in-join, and CANONICAL-BLOCK emission (keep a pair only in its
    first equal block, a 3-term when-chain on the in-join keys) makes
    every pair unique before the distinct — the distinct is a safety
    net, not a dedup shuffle.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    # Signature build as explode + a PACKED-accumulator groupBy, all
    # primitive long arithmetic inside whole-stage codegen. The md5
    # hex splits into eight 4-hex-char (16-bit) chunks via conv() —
    # all 32 hex chars of the md5 feed the 128-bit signature; chunk
    # bit p of c{c} is global simhash bit b = 16c + (15-p) —
    # identical bit layout to the oracle's per-nibble expansion.
    # Per-bit sign needs only the SET count: s_b = Σ(2·bit−1) =
    # 2·cnt_b − n_toks, so s_b ≥ 0 ⟺ 2·cnt_b ≥ n. Each SUM
    # accumulator packs FOUR 16-bit counts (bits 4j..4j+3 of a chunk
    # → bytes 0/2/4/6 of one long): 32 packed sums + n = 33 aggregate
    # buffers (the 64-bit ancestor's rejected forms — per-token
    # ±1-array folds and one-SUM-per-bit — lose by 10x+; see git
    # history). 16-bit fields bound per-doc distinct tokens at
    # 65535 — beyond any whitespace-tokenized document.
    n_chunks = SIMHASH_BITS // 16
    # conv() is the expensive per-token op: parse the 32 hex chars as
    # FOUR 8-hex (32-bit) values and split each into its two 16-bit
    # chunks with shifts — half the conv() calls of the naive
    # chunk-per-conv form (32-bit values stay far inside signed-long
    # range; a single 16-hex conv would overflow it).
    tok_chunks = (
        d.select("doc_id", tokens("text").alias("w"))
        .select("doc_id", F.explode(F.array_distinct("w")).alias("t"))
        .select("doc_id", F.md5("t").alias("h"))
        .select(
            "doc_id",
            *[
                F.conv(F.substring("h", 1 + 8 * j, 8), 16, 10)
                .cast("long")
                .alias(f"v{j}")
                for j in range(n_chunks // 2)
            ],
        )
        .select(
            "doc_id",
            *[
                e
                for j in range(n_chunks // 2)
                for e in (
                    F.shiftright(F.col(f"v{j}"), 16).alias(f"c{2 * j}"),
                    F.col(f"v{j}")
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias(f"c{2 * j + 1}"),
                )
            ],
        )
    )

    # The packed accumulators / chunk re-pack / hamming below are
    # built as SQL text (one F.expr per column) instead of nested
    # Column operator calls: the loop forms issued ~1,500 py4j
    # round-trips per invocation, putting 3.4 s of pure DataFrame-
    # CONSTRUCTION time inside the timed query (r13 decomposition:
    # build=3.44 s vs exec=1.63 s). Same expressions, parsed once in
    # the JVM.
    def _packed(c: int, quarter: int) -> str:
        # Σ over tokens of bits 4*quarter+0..3 of chunk c, in 16-bit
        # fields at byte offsets 0/2/4/6.
        return " + ".join(
            f"shiftleft(CAST(shiftright(c{c}, {4 * quarter + j}) & 1 AS BIGINT),"
            f" {16 * j})"
            for j in range(4)
        )

    bit_counts = tok_chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.expr(f"SUM({_packed(c, q)})").alias(f"p_{c}_{q}")
            for c in range(n_chunks)
            for q in range(4)
        ],
    )

    # Re-pack sign bits into EIGHT 16-bit BIGINT chunks (MSB-first).
    # The chunk ints are the verify payload: hamming = Σ
    # bit_count(xor(chunk_a, chunk_b)) — 8 xor+popcount ops per
    # candidate pair instead of a 128-element compare; PAIRS of chunks
    # concatenate into the four 32-bit LSH block keys.
    def _chunk_int(c: int) -> str:
        terms = []
        for p in range(16):  # chunk bit position
            cnt = f"(shiftright(p_{c}_{p // 4}, {16 * (p % 4)}) & 65535)"
            bit = f"CAST(CASE WHEN 2 * {cnt} >= n THEN 1 ELSE 0 END AS BIGINT)"
            terms.append(f"shiftleft({bit}, {p})")
        return " + ".join(terms)

    kcols = [f"k{c}" for c in range(n_chunks)]
    sig = (
        bit_counts.select(
            "doc_id",
            *[F.expr(_chunk_int(c)).alias(f"k{c}") for c in range(n_chunks)],
        )
        .persist()  # block self-join fans this into two branches
    )
    # stack() fans each doc into its 4 (block, 32-bit-key) rows while
    # keeping k0..k7 as scalar columns, so hamming unrolls to 8
    # primitive xor+popcounts — no per-pair array allocation. Block c
    # = k_{2c}*2^16 + k_{2c+1}, matching the oracle's chunk pairing.
    stack_args = ", ".join(
        f"{c}, k{2 * c} * 65536 + k{2 * c + 1}" for c in range(4)
    )
    chunks = sig.select(
        "doc_id",
        *kcols,
        F.expr(f"stack(4, {stack_args}) as (c, chunk)"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.expr(
        " + ".join(
            f"CAST(bit_count(a.k{c} ^ b.k{c}) AS BIGINT)" for c in range(n_chunks)
        )
    )
    # CANONICAL-BLOCK emission: a near-identical pair matches several
    # of the 4 block tables (a hamming-0 pair matches all 4), and
    # emitting it from each would multiply the post-join volume on
    # duplicate-dense corpora. The join keeps a row only in the FIRST
    # block the pair agrees on (3 long-compares on keys it already
    # carries), so every pair is unique before the distinct — the
    # distinct is a safety net, not a dedup shuffle.
    def _blk_eq(c: int):
        return (F.col(f"a.k{2 * c}") == F.col(f"b.k{2 * c}")) & (
            F.col(f"a.k{2 * c + 1}") == F.col(f"b.k{2 * c + 1}")
        )

    first_blk = (
        F.when(_blk_eq(0), 0)
        .when(_blk_eq(1), 1)
        .when(_blk_eq(2), 2)
        .otherwise(3)
    )
    return (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.col("a.c") == first_blk)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (hyperplane-LSH blocked)
# ---------------------------------------------------------------------------

# Deterministic pseudo-random hyperplanes from md5: component i of
# plane p = hexval(md5('plane<p>_<i>')[0]) - 7.5  ∈ {-7.5 … 7.5}\{0}.
_N_PLANES = 8
_SQL_PLANE_COMP = "(instr('0123456789abcdef', substr(md5('plane' || p || '_' || i), 1, 1)) - 8.5)"


@register(
    "dedup_embedding_cosine",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        buckets AS (
            SELECT vec_id, v,
                   string_agg(CASE WHEN list_sum(list_transform(range(1, 65),
                        i -> {_SQL_PLANE_COMP} * v[CAST(i AS INT)])) >= 0
                        THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
            FROM e, (SELECT unnest(range({_N_PLANES})) AS p)
            GROUP BY vec_id, v
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(FLOOR(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                    * 10000) AS BIGINT) AS cosine4
        FROM buckets a JOIN buckets b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
              >= {COSINE_DUP_THRESHOLD}
        ORDER BY vec_a, vec_b
    """,
    tags=("llm-data", "dedup", "similarity", "lsh"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: 8 md5-derived random hyperplanes → sign
    bucket (256 buckets) → within-bucket cosine ≥ threshold.

    Scale: pair volume drops from C(n,2) to Σ_b C(n_b,2) ≈ n²/256;
    more planes → more buckets for bigger corpora. Recall is the
    standard SimHash-angle bound; the same planes are recomputed from
    md5 in both engines, so the oracle is exact.
    """
    e = widen(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # r13 (guide §2.4): per-row sign bucket — the previous
    # crossJoin-with-the-plane-table + groupBy(vec_id, v) exchanged
    # an 8×-exploded copy of every vector and hashed the FULL
    # 64-double array as a group key just to reassemble the signs.
    # See _embed.hyperplane_bucket for the bit-identity argument.
    buckets = e.select(
        "vec_id", "v", hyperplane_bucket(_N_PLANES).alias("bucket")
    ).persist()
    # ^ self-joined below
    a = buckets.alias("a")
    b = buckets.alias("b")
    cos = cosine(F.col("a.v"), F.col("b.v"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= COSINE_DUP_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.floor(cos * 10000).alias("cosine4"),
        )
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster consolidation (iterative connected components)
# ---------------------------------------------------------------------------


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Min-label propagation over an undirected edge list → (id,
    label) with label = smallest id in the component.

    ``edges`` is any (src, dst) list: duplicate, reversed and
    self-loop edges cost join work only and never change the labels
    (a min over a multiset of the same neighbours is the same min).

    The iterative-algorithm pattern on DataFrames (Pregel-style): each
    round is one ``min_label_step`` over the closed edge list; rounds
    are driver-coordinated with ``localCheckpoint`` truncating lineage
    so plan depth stays O(1) per round (at cluster scale use
    ``checkpoint`` with a reliable dir instead). Converges in
    O(diameter) rounds — near-dup clusters are shallow.
    """
    # Materialize the symmetrized edge list once: every round joins
    # against it. One explode keeps a single reference to the
    # (unpersisted) input, so the upstream candidate pipeline runs
    # once; a union with its swap would run it twice.
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint()
    )
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    # Close the edge list with one self-loop per node: a union of two
    # checkpointed relations, no exchange.
    closed = und.unionByName(
        labels.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    )
    # Min-label propagation strictly decreases Σlabel every round until
    # the fixpoint, so an unchanged sum is convergence: one cheap
    # aggregate on the just-checkpointed labels. Seeding with the
    # initial Σid lets an already-converged labeling exit after one
    # round. Σlabel fits a long for these id domains (ids < 2^31,
    # n < 2^31).
    prev_sum = labels.agg(F.sum("lbl")).first()[0]
    for _ in range(max_iter):
        labels = min_label_step(closed, labels).localCheckpoint()
        cur_sum = labels.agg(F.sum("lbl")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(F.col("node").alias("id"), F.col("lbl").alias("label"))


def _cluster_oracle() -> str:
    """Recursive-CTE transitive closure over the jaccard pairs: the
    dedup_ngram_jaccard oracle becomes the ``pairs`` CTE body."""
    pairs_cte = REGISTRY["dedup_ngram_jaccard"].oracle.replace(
        "ORDER BY doc_a, doc_b", ""
    )
    return f"""
        WITH RECURSIVE pairs AS ({pairs_cte}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(src, dst) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        )
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS rep_id
        FROM reach GROUP BY src ORDER BY doc_id
    """


@register(
    "dedup_cluster_representatives",
    oracle=_cluster_oracle(),
    tags=("llm-data", "dedup", "iterative"),
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster consolidation: near-dup pairs (3-gram Jaccard
    ≥ 0.2) → connected components → one representative (min doc id)
    per cluster. The keep/drop decision of a dedup pipeline: drop every
    doc whose rep_id != doc_id.

    Oracle: recursive-CTE transitive closure over the same pairs
    (exact — both sides compute min-id-in-component).
    """
    # _ngram_jaccard_pairs, not dedup_ngram_jaccard: the registered
    # query ends in an orderBy that is pure overhead here (a range
    # exchange + sort feeding a distinct — CC is order-insensitive).
    pairs = _ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    labels = connected_components(edges)
    return (
        labels.select(F.col("id").alias("doc_id"), F.col("label").alias("rep_id"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (train-vs-eval n-gram overlap)
# ---------------------------------------------------------------------------

CONTAM_THRESHOLD = 0.2  # flag train docs sharing ≥20% of shingles with eval


@register(
    "dedup_decontaminate",
    oracle=f"""
        WITH words AS (SELECT doc_id, source, {SQL_TOKENS} AS w FROM documents),
        sh AS (
            SELECT doc_id, source, {sql_shingles('w')} AS sh
            FROM words WHERE len(w) >= 3
        ),
        eval_sh AS (
            SELECT DISTINCT unnest(sh) AS s FROM sh WHERE source = 'src0'
        ),
        train AS (
            SELECT doc_id, unnest(sh) AS s, len(sh) AS n_shingles
            FROM sh WHERE source <> 'src0'
        ),
        hits AS (
            SELECT t.doc_id, t.n_shingles, COUNT(*) AS n_overlap
            FROM train t JOIN eval_sh e ON t.s = e.s
            GROUP BY 1, 2
        )
        SELECT doc_id, n_overlap, n_shingles,
               CAST(FLOOR(CAST(n_overlap AS DOUBLE) / n_shingles * 10000)
                    AS BIGINT) AS contam4
        FROM hits
        WHERE CAST(n_overlap AS DOUBLE) / n_shingles >= {CONTAM_THRESHOLD}
        ORDER BY doc_id
    """,
    tags=("llm-data", "dedup", "decontamination"),
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents whose
    word-3-gram sets overlap an evaluation set (here: source='src0'
    stands in for the benchmark corpus) by ≥20% — the standard
    pre-training hygiene pass that removes eval leakage.

    Scale shape: the eval shingle set is DISTINCT'd first (benchmarks
    are tiny — at 100 TB train vs a few-GB eval this side broadcasts;
    left as a hash join so the same plan covers eval sets that
    don't fit). The train posting list joins on the 3-gram string,
    then one groupBy per train doc. Candidate volume is bounded by
    eval-shingle document frequency in train — never |train|x|eval|.
    The shingle sets reuse _shingle_sets' persisted build."""
    sh = _shingle_sets(spark, sf_dir)
    src = widen(load_table(spark, sf_dir, "documents")).select("doc_id", "source")
    sh_src = sh.join(src, "doc_id")
    eval_sh = (
        sh_src.filter(F.col("source") == "src0")
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    train = sh_src.filter(F.col("source") != "src0").select(
        "doc_id", F.size("sh").alias("n_shingles"), F.explode("sh").alias("s")
    )
    ratio = F.col("n_overlap").cast("double") / F.col("n_shingles")
    return (
        train.join(eval_sh, "s")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(ratio >= CONTAM_THRESHOLD)
        .select(
            "doc_id",
            "n_overlap",
            "n_shingles",
            F.floor(ratio * 10000).alias("contam4"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_incremental",
    oracle="""
        WITH old AS (
            SELECT md5(text) AS h FROM documents WHERE doc_id % 10 < 8
        ),
        new_batch AS (
            SELECT doc_id, md5(text) AS h, source
            FROM documents WHERE doc_id % 10 >= 8
        ),
        within AS (
            SELECT doc_id, h, source,
                   ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
            FROM new_batch
        )
        SELECT w.doc_id, w.source
        FROM within w
        WHERE w.rn = 1
          AND NOT EXISTS (SELECT 1 FROM old o WHERE o.h = w.h)
        ORDER BY w.doc_id
    """,
    tags=("dedup", "training-data", "incremental"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the shape production ingestion actually
    runs: an arriving batch (here the deterministic 20% slice
    doc_id%10>=8) is deduplicated (a) against the already-ingested
    corpus and (b) within itself, and only genuinely new documents
    survive. Admission is first-wins, so re-running the pipeline
    admits the same set (idempotent ingest).

    Scale shape: the corpus side reduces to its DISTINCT md5 set
    (32 bytes/doc — at 100 TB this hash index is ~3 GB/10^8 docs and
    lives as its own bucketed table, appended per batch, never
    rescanned from raw text); the anti-join then shuffles only hash
    keys. Within-batch first-wins is a window over the same key, so
    both decisions reuse one partitioning."""
    d = widen(load_table(spark, sf_dir, "documents"))
    old_hashes = (
        d.filter(F.col("doc_id") % 10 < 8).select(F.md5("text").alias("h")).distinct()
    )
    new_batch = d.filter(F.col("doc_id") % 10 >= 8).select(
        "doc_id", F.md5("text").alias("h"), "source"
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    first_in_batch = (
        new_batch.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    return (
        first_in_batch.join(old_hashes, "h", "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@register(
    "dedup_containment",
    oracle=f"""
        WITH words AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
        sh AS (SELECT doc_id, {sql_shingles('w')} AS sh FROM words WHERE len(w) >= 3),
        sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
        posting AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               CAST(FLOOR(CAST(n_common AS DOUBLE) / sa.n * 10000) AS BIGINT)
                   AS cont_a_in_b4,
               CAST(FLOOR(CAST(n_common AS DOUBLE) / sb.n * 10000) AS BIGINT)
                   AS cont_b_in_a4
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE 2 * n_common >= least(sa.n, sb.n)
        ORDER BY doc_a, doc_b
    """,
    tags=("llm-data", "dedup"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment detection — the partial-duplication case
    Jaccard misses: a short document wholly embedded in a longer one
    (boilerplate wrapping, quoted articles) has low Jaccard but high
    containment |A∩B| / |A|. Pairs where either side is ≥50%
    contained in the other, with both direction ratios reported.

    The admission test is exact integer arithmetic
    (2*common ≥ min(|A|,|B|)); the reported ratios are single
    correctly-rounded divisions, so output is engine-exact. Same
    inverted-index join shape (candidates ∝ Σ df²) and therefore the
    same df-cap escape hatch as ``dedup_ngram_jaccard`` at skew."""
    sh = _shingle_sets(spark, sf_dir)
    sizes = sh.select("doc_id", F.size("sh").alias("n"))
    posting = sh.select("doc_id", F.explode("sh").alias("s"))
    a = posting.alias("a")
    b = posting.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.hint("merge").alias("sa")
    sb = sizes.hint("merge").alias("sb")
    return (
        common.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(2 * F.col("n_common") >= F.least(F.col("sa.n"), F.col("sb.n")))
        .select(
            "doc_a",
            "doc_b",
            F.floor(F.col("n_common").cast("double") / F.col("sa.n") * 10000)
            .cast("long")
            .alias("cont_a_in_b4"),
            F.floor(F.col("n_common").cast("double") / F.col("sb.n") * 10000)
            .cast("long")
            .alias("cont_b_in_a4"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _edit_refine_oracle() -> str:
    lsh = REGISTRY["dedup_minhash_lsh"].oracle
    return f"""
        WITH cand AS ({lsh})
        SELECT c.doc_a, c.doc_b,
               levenshtein(da.text, db.text) AS edit_dist,
               CAST(levenshtein(da.text, db.text) * 10000
                    // greatest(da.n_chars, db.n_chars) AS BIGINT)
                   AS edit_ratio4
        FROM cand c
        JOIN documents da ON da.doc_id = c.doc_a
        JOIN documents db ON db.doc_id = c.doc_b
        WHERE 2 * levenshtein(da.text, db.text)
              <= greatest(da.n_chars, db.n_chars)
        ORDER BY c.doc_a, c.doc_b
    """


@register(
    "dedup_edit_distance_verify",
    oracle=_edit_refine_oracle(),
    tags=("llm-data", "dedup", "verification"),
)
def dedup_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-stage near-dup verification: MinHash-LSH candidate
    pairs re-scored by character-level Levenshtein distance, keeping
    pairs whose edit distance is ≤ half the longer document — the
    expensive-but-precise metric applied only AFTER cheap blocking,
    never across the corpus (edit distance is O(n·m) per pair; the
    candidate set is what makes it affordable). Both engines compute
    the identical Wagner-Fischer metric; the admission test is
    integer (2·dist ≤ max(n_chars)).

    This is the canonical two-stage shape every production dedup
    runs: recall from LSH, precision from exact verification."""
    cand = REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).select("doc_a", "doc_b")
    d = load_table(spark, sf_dir, "documents")
    da = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("text_a"),
        F.col("n_chars").alias("nc_a"),
    )
    db = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("text_b"),
        F.col("n_chars").alias("nc_b"),
    )
    lev = F.levenshtein("text_a", "text_b")
    mx = F.greatest("nc_a", "nc_b")
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .filter(2 * lev <= mx)
        .select(
            "doc_a",
            "doc_b",
            lev.alias("edit_dist"),
            F.expr(
                "levenshtein(text_a, text_b) * 10000"
                " div greatest(nc_a, nc_b)"
            ).alias("edit_ratio4"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_minhash_estimate_audit",
    oracle=f"""
        WITH words AS (SELECT doc_id, {{toks}} AS w FROM documents),
        sh AS (SELECT doc_id, {{shingles}} AS sh FROM words WHERE len(w) >= 3),
        posting AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        {sql_minhash_ctes(MINHASH_PERMS)},
        bands AS (
            SELECT doc_id, p // {MINHASH_PERMS // MINHASH_BANDS} AS band,
                   string_agg(mh, '|' ORDER BY p) AS sig
            FROM minhash GROUP BY 1, 2
        ),
        candidates AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        ),
        est AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(count(*) FILTER (WHERE ma.mh = mb.mh) AS BIGINT)
                       AS n_match
            FROM candidates c
            JOIN minhash ma ON ma.doc_id = c.doc_a
            JOIN minhash mb ON mb.doc_id = c.doc_b AND mb.p = ma.p
            GROUP BY 1, 2
        ),
        sizes AS (SELECT doc_id, len(sh) AS n FROM sh),
        exact AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
            FROM candidates c
            JOIN posting pa ON pa.doc_id = c.doc_a
            JOIN posting pb ON pb.doc_id = c.doc_b AND pb.s = pa.s
            GROUP BY 1, 2
        )
        SELECT e.doc_a AS doc_a, e.doc_b AS doc_b,
               (e.n_match * 1000000) // {MINHASH_PERMS} AS est_ppm,
               (x.n_common * 1000000) // (sa.n + sb.n - x.n_common) AS exact_ppm,
               abs((e.n_match * 1000000) // {MINHASH_PERMS}
                   - (x.n_common * 1000000) // (sa.n + sb.n - x.n_common))
                   AS err_ppm
        FROM est e
        JOIN exact x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b
        JOIN sizes sa ON sa.doc_id = e.doc_a
        JOIN sizes sb ON sb.doc_id = e.doc_b
        ORDER BY e.doc_a, e.doc_b
    """.format(
        toks=SQL_TOKENS, shingles=sql_shingles("w")
    ),
    tags=("llm-data", "dedup", "sketch", "evaluation"),
)
def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for MinHash: on every LSH candidate
    pair, the minhash Jaccard ESTIMATE (matching signature components
    / 12, in exact ppm) next to the TRUE Jaccard and their absolute
    error — the evaluation that justifies a band/row configuration
    before trusting it on 100 TB (expected |err| ≈ √(J(1−J)/k)).
    The Spark side compares signatures as a map-side array zip over
    the materialized minhash columns; the oracle recomputes the same
    numbers from the row-form (doc, permutation) relation — two
    genuinely different plans agreeing exactly, since both estimate
    and truth are integer ratios.

    Scale shape: estimates cost one broadcast-able join of
    signature arrays over the candidate pairs (bounded by collision
    density); the exact-Jaccard verification is the posting-list
    intersection join every LSH pipeline already pays for its final
    filter."""
    sh = _shingle_sets(spark, sf_dir)
    sigs = sh.select(
        "doc_id",
        minhash_array(F.col("sh"), MINHASH_PERMS).alias("mh"),
        F.size("sh").alias("n"),
    ).persist()  # bands + both pair sides read it
    bands = (
        sigs.select(
            "doc_id",
            F.posexplode(band_sigs(F.col("mh"), MINHASH_PERMS, MINHASH_BANDS)).alias(
                "band", "sig"
            ),
        )
        .filter(F.col("sig") != "")
        .persist()
    )
    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ma = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("mh").alias("mh_a"), F.col("n").alias("n_a")
    )
    mb = sigs.select(
        F.col("doc_id").alias("doc_b"), F.col("mh").alias("mh_b"), F.col("n").alias("n_b")
    )
    n_match = F.size(
        F.filter(
            F.zip_with(F.col("mh_a"), F.col("mh_b"), lambda x, y: x == y),
            lambda v: v,
        )
    ).cast("long")
    posting = sh.select("doc_id", F.explode("sh").alias("s"))
    pa = posting.alias("pa")
    pb = posting.alias("pb")
    exact = (
        candidates.join(pa, F.col("pa.doc_id") == F.col("doc_a"))
        .join(
            pb,
            (F.col("pb.doc_id") == F.col("doc_b")) & (F.col("pb.s") == F.col("pa.s")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    est_ppm = F.expr(f"(n_match * 1000000) div {MINHASH_PERMS}")
    exact_ppm = F.expr("(n_common * 1000000) div (n_a + n_b - n_common)")
    return (
        candidates.join(exact, ["doc_a", "doc_b"])
        .join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_match.alias("n_match"),
            "n_common",
            "n_a",
            "n_b",
        )
        .select(
            "doc_a",
            "doc_b",
            est_ppm.alias("est_ppm"),
            exact_ppm.alias("exact_ppm"),
            F.abs(est_ppm - exact_ppm).alias("err_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_cluster_size_histogram",
    oracle="""
        WITH clusters AS (
            SELECT md5(text) AS h, count(*) AS csize
            FROM documents GROUP BY md5(text)
        )
        SELECT csize, count(*) AS n_clusters,
               CAST(csize * count(*) AS BIGINT) AS n_docs,
               CAST((csize - 1) * count(*) AS BIGINT) AS n_removable
        FROM clusters GROUP BY csize ORDER BY csize
    """,
    tags=("llm-data", "dedup", "reporting"),
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution for exact dedup: how many
    content-hash clusters exist at each size, how many documents they
    hold, and how many rows deduplication would remove — the
    dedup-impact forecast (typically a power law: mostly singletons,
    a fat head of boilerplate) that justifies running the expensive
    near-dup passes at all.  Removable = Σ(size−1) per bucket, so the
    histogram's n_removable column sums to the corpus's exact-dup
    overhead.

    Scale shape: two map-side-combined aggregations (hash groups,
    then size groups) — strictly cheaper than dedup_exact itself
    since no representative row is materialized."""
    d = widen(load_table(spark, sf_dir, "documents"))
    clusters = d.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("csize")
    )
    return (
        clusters.groupBy("csize")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "csize",
            "n_clusters",
            (F.col("csize") * F.col("n_clusters")).cast("long").alias("n_docs"),
            ((F.col("csize") - 1) * F.col("n_clusters"))
            .cast("long")
            .alias("n_removable"),
        )
        .orderBy("csize")
    )


@register(
    "dedup_embedding_exact",
    oracle="""
        WITH sig AS (
            SELECT vec_id,
                   md5(array_to_string(list_transform(embedding::DOUBLE[],
                       x -> CAST(CAST(FLOOR(x * 1000000) AS BIGINT) AS VARCHAR)),
                       ',')) AS h
            FROM embeddings
        ),
        clusters AS (
            SELECT h, count(*) AS csize, min(vec_id) AS keep_id
            FROM sig GROUP BY h
        )
        SELECT CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(csize) AS BIGINT) AS n_vectors,
               CAST(sum(csize - 1) AS BIGINT) AS n_removable,
               CAST(max(csize) AS BIGINT) AS max_cluster,
               min(keep_id) AS first_keep_id
        FROM clusters
    """,
    tags=("llm-data", "dedup", "embedding"),
)
def dedup_embedding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate detection over the embedding table: vectors
    fingerprinted by md5 of their fixed-point element rendering
    (floor(x·10⁶) per dim, joined with commas — float-to-string
    formatting is NOT engine-portable, integer rendering is), then
    the dedup summary (clusters, removable rows, the min-id keeper
    convention).  Catches re-ingested/duplicated rows before they
    bias ANN results and nearest-centroid statistics — the embedding
    twin of exact text dedup.

    Scale shape: fingerprint is map-only array work; one hash-keyed
    aggregation with map-side combine; summary is a scalar rollup."""
    e = load_table(spark, sf_dir, "embeddings")
    sig = e.select(
        "vec_id",
        F.md5(
            F.array_join(
                F.transform(
                    F.col("embedding"),
                    lambda x: F.floor(x.cast("double") * 1_000_000)
                    .cast("long")
                    .cast("string"),
                ),
                ",",
            )
        ).alias("h"),
    )
    clusters = sig.groupBy("h").agg(
        F.count(F.lit(1)).alias("csize"), F.min("vec_id").alias("keep_id")
    )
    return clusters.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("csize").cast("long").alias("n_vectors"),
        F.sum(F.col("csize") - 1).cast("long").alias("n_removable"),
        F.max("csize").cast("long").alias("max_cluster"),
        F.min("keep_id").alias("first_keep_id"),
    )


@register(
    "dedup_lsh_scurve_table",
    oracle="""
        WITH j AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS jt),
        grid AS (
            SELECT CAST(jt AS BIGINT) AS j_tenths,
                   CAST(jt AS DOUBLE) / 10 AS jacc
            FROM j
        ),
        curve AS (
            SELECT j_tenths, jacc,
                   jacc * jacc * jacc AS p_row,
                   (1 - jacc * jacc * jacc) * (1 - jacc * jacc * jacc) AS q2
            FROM grid
        )
        SELECT j_tenths, jacc, p_row,
               1 - q2 * q2 AS p_candidate
        FROM curve ORDER BY j_tenths
    """,
    tags=("llm-data", "dedup", "lsh", "tuning"),
)
def dedup_lsh_scurve_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH s-curve that justifies the engine's 4-band × 3-row
    MinHash configuration: for Jaccard J on a 0.1 grid, the
    probability a band matches (J³) and that ANY band matches
    (1 − (1 − J³)⁴) — showing the collision-probability midpoint
    ≈ 0.63 that dedup_minhash_lsh's docstring cites.  Powers expand
    to explicit multiplication chains (j·j·j; squared-squared), so
    both engines produce bit-identical doubles — pow() carries no
    cross-engine rounding guarantee, multiplication does.

    Scale shape: a 9-row constant-space computation — the tuning
    table is free; its value is that reviewers (and the estimate
    audit) can read expected behavior instead of trusting prose."""
    spark_df = spark.range(1, 10).select(
        F.col("id").alias("j_tenths"),
        (F.col("id").cast("double") / 10).alias("jacc"),
    )
    p_row = F.col("jacc") * F.col("jacc") * F.col("jacc")
    q2 = (1 - p_row) * (1 - p_row)
    return (
        spark_df.select(
            "j_tenths",
            "jacc",
            p_row.alias("p_row"),
            (1 - q2 * q2).alias("p_candidate"),
        )
        .orderBy("j_tenths")
    )


@register(
    "dedup_lsh_recall_audit",
    oracle=f"""
        WITH words AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
        sh AS (SELECT doc_id, {sql_shingles('w')} AS sh FROM words WHERE len(w) >= 3),
        posting AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        -- exact-truth side: df-capped postings, Jaccard >= threshold
        dfreq AS (SELECT s, COUNT(*) AS df FROM posting GROUP BY s),
        cposting AS (
            SELECT p.doc_id, p.s FROM posting p
            JOIN dfreq d ON p.s = d.s AND d.df <= {NGRAM_DF_CAP}
        ),
        csizes AS (SELECT doc_id, COUNT(*) AS n FROM cposting GROUP BY doc_id),
        ccommon AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM cposting a JOIN cposting b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        true_pairs AS (
            SELECT doc_a, doc_b FROM ccommon
            JOIN csizes sa ON sa.doc_id = doc_a
            JOIN csizes sb ON sb.doc_id = doc_b
            WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)
                  >= {JACCARD_THRESHOLD}
        ),
        -- LSH candidate side (uncapped postings, as dedup_minhash_lsh)
        {sql_minhash_ctes(MINHASH_PERMS)},
        bands AS (
            SELECT doc_id, p // {MINHASH_PERMS // MINHASH_BANDS} AS band,
                   string_agg(mh, '|' ORDER BY p) AS sig
            FROM minhash GROUP BY 1, 2
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        ),
        hits AS (
            SELECT t.doc_a, t.doc_b FROM true_pairs t
            JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM true_pairs) AS n_true,
               (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
               (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hit,
               CAST(floor(10000.0 * (SELECT count(*) FROM hits)
                    / (SELECT count(*) FROM true_pairs)) AS BIGINT) AS recall4,
               CAST(floor(10000.0 * (SELECT count(*) FROM hits)
                    / (SELECT count(*) FROM cand)) AS BIGINT) AS precision4
    """,
    tags=("llm-data", "dedup", "lsh", "audit"),
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LSH quality audit: of the pairs the exact df-capped
    Jaccard pipeline flags as near-dups (dedup_ngram_jaccard's truth),
    how many did the MinHash band bucketing surface as candidates
    (recall), and what fraction of raised candidates are true
    (precision) — the text-dedup analogue of similarity_recall_at_k,
    turning the s-curve's THEORETICAL collision probabilities
    (dedup_lsh_scurve_table) into a measured operating point for this
    corpus and band configuration.

    Scale shape: composes the two existing pipelines' plans unchanged
    (inverted-index truth, band-bucket candidates), then ONE
    full-outer join of the two pair-sets on (doc_a, doc_b) feeding a
    single count aggregation — each pair-set is referenced exactly
    once, so neither needs a persist, and the whole audit is one
    linear plan reducing to one 5-number row. (The round-10 form
    referenced each pair-set 2-3 times across separate count
    aggregates; the persists that required forced AQE-less cached
    compilation and tripled the plan size — measured 36 s → 5 s at
    sf0.01 under the driver's plain session.)

    Round-12 note on the ×256 tail (VERDICT r11 #1): a
    sort-avoiding variant — tagged union of the two pair-sets into
    one hash aggregation on (doc_a, doc_b), no full-outer SMJ, no
    candidate distinct — was built and MEASURED WORSE at the
    fresh-JVM ×256 disjoint rung (256.8 s vs this form's 152.1 s,
    idle box, 48g heap; its first attempt under concurrent load died
    on UNABLE_TO_ACQUIRE_MEMORY): at 1.28M docs the near-unique pair
    keys make map-side partial aggregation pure overhead — the hash
    map buffers almost every row, falls back to sort-based spill,
    and pays the sort anyway plus the hash-table churn. The SMJ
    sorts of this form spill gracefully and partition across
    executors on a real cluster; the measured per-stage spill
    evidence is in docs/SCALING.md round-12 (single-box
    memory-not-plan wall).
    """
    truth = _ngram_jaccard_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("t")
    )
    sh = _shingle_sets(spark, sf_dir)
    bands = sh.select(
        "doc_id", minhash_array(F.col("sh"), MINHASH_PERMS).alias("mh")
    ).select(
        "doc_id",
        F.posexplode(band_sigs(F.col("mh"), MINHASH_PERMS, MINHASH_BANDS)).alias(
            "band", "sig"
        ),
    ).filter(F.col("sig") != "").repartition("band", "sig").persist()
    # ^ repartitioned by the self-join key before the persist so the
    # cached relation satisfies both SMJ sides' distribution — the
    # same two-elided-exchanges discipline as dedup_minhash_lsh's
    # band table (r13) and the r12 posting list.
    # ^ self-joined below. Like _SHINGLE_MEMO's entries, this persist
    # relies on the caller's clearCache-per-query protocol (the driver
    # does it between queries; bench.py clears before EVERY run) for
    # release — a long-lived session invoking this repeatedly without
    # clearing would accumulate one cached copy per invocation.
    # corpus-sized self-join sides: pin shuffle (see dedup_minhash_lsh)
    a, b = bands.hint("merge").alias("a"), bands.hint("merge").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .select("doc_a", "doc_b", F.lit(1).alias("c"))
    )
    matrix = truth.join(
        cand.hint("merge"), ["doc_a", "doc_b"], "full_outer"
    ).agg(
        F.count("t").cast("long").alias("n_true"),
        F.count("c").cast("long").alias("n_cand"),
        F.count(F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1))
        .cast("long")
        .alias("n_hit"),
    )
    return matrix.select(
        "n_true",
        "n_cand",
        "n_hit",
        F.floor(10000.0 * F.col("n_hit") / F.col("n_true"))
        .cast("long")
        .alias("recall4"),
        F.floor(10000.0 * F.col("n_hit") / F.col("n_cand"))
        .cast("long")
        .alias("precision4"),
    )
