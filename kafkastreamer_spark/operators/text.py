"""Text analysis over the ``documents`` table (north-star extension):
token counting, quality scoring, language ID, fingerprinting.

Everything is built-in-function Spark (split / transform / filter /
aggregate — all JVM-side, whole-stage-codegen) — no Python UDFs in the
hot path. Each query has an exact DuckDB oracle; cross-engine
determinism comes from integer/string arithmetic and the fixed-point
rules in queries/_util.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafkastreamer_spark.operators._embed import SQL_TOKENS, tokens
from kafkastreamer_spark.registry import register
from kafkastreamer_spark.tables import load_table, widen

# Tiny per-language stopword lists for the n-gram/stopword heuristic
# language-ID. Deterministic tie-break: first language in this order
# wins on equal scores.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "es": ("el", "la", "de", "los", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "des", "et", "est"),
}


@register(
    "text_token_stats",
    oracle=f"""
        WITH tok AS (SELECT doc_id, n_chars, {SQL_TOKENS} AS w FROM documents)
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_tokens,
               CAST(n_chars AS BIGINT) AS n_chars,
               CAST(FLOOR(CAST(len(list_filter(w, t -> len(t) >= 6)) AS DOUBLE)
                    / len(w) * 10000) AS BIGINT) AS long_token_pct4,
               CAST(list_sum(list_transform(w, t -> len(t))) AS BIGINT) AS total_token_chars
        FROM tok
        ORDER BY doc_id
    """,
    tags=("llm-data", "text"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, long-token
    ratio (fixed-point), total token chars. Single narrow scan; at
    100 TB this is embarrassingly parallel with no shuffle."""
    d = widen(load_table(spark, sf_dir, "documents"))
    w = F.col("w")
    return (
        d.select("doc_id", "n_chars", tokens("text").alias("w"))
        .select(
            "doc_id",
            F.size(w).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(w)).cast("long").alias("n_distinct_tokens"),
            F.col("n_chars").cast("long").alias("n_chars"),
            F.floor(
                F.size(F.filter(w, lambda t: F.length(t) >= 6)).cast("double")
                / F.size(w)
                * 10000
            ).alias("long_token_pct4"),
            F.aggregate(
                F.transform(w, lambda t: F.length(t).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("total_token_chars"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_quality_score",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang, {SQL_TOKENS} AS w,
                   length(text) AS nc,
                   length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS n_punct
            FROM documents
        ),
        feat AS (
            SELECT doc_id, lang,
                   CAST(len(w) AS BIGINT) AS n_tokens,
                   CAST(FLOOR(CAST(n_punct AS DOUBLE) / nc * 10000) AS BIGINT) AS punct_pct4,
                   CAST(FLOOR(CAST(len(list_filter(w, t -> t IN ('the','a','and','of','to')))
                        AS DOUBLE) / len(w) * 10000) AS BIGINT) AS stopword_pct4,
                   CAST(FLOOR(CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE)
                        / len(w) * 10000) AS BIGINT) AS avg_token_len4
            FROM tok
        )
        SELECT doc_id, lang, n_tokens, punct_pct4, stopword_pct4, avg_token_len4,
               (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 40 ELSE 0 END
                + CASE WHEN punct_pct4 < 500 THEN 30 ELSE 0 END
                + CASE WHEN avg_token_len4 BETWEEN 30000 AND 80000 THEN 30 ELSE 0 END)
                   AS quality_score
        FROM feat
        ORDER BY doc_id
    """,
    tags=("llm-data", "text"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length band + punctuation ratio +
    average token length, combined into a 0-100 score (the standard
    pretraining-corpus filter shape)."""
    return quality_scores_unsorted(spark, sf_dir).orderBy("doc_id")


def quality_scores_unsorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Body of text_quality_score without the presentation sort — for
    composition into downstream plans (pipeline_training_corpus feeds
    it into a join+filter and must not inherit a useless range
    exchange)."""
    d = widen(load_table(spark, sf_dir, "documents"))
    w = F.col("w")
    nc = F.length("text")
    n_punct = nc - F.length(F.regexp_replace("text", "[^a-z0-9 ]", ""))
    stop = F.size(F.filter(w, lambda t: t.isin(*LANG_STOPWORDS["en"])))
    feat = d.select("doc_id", "lang", "text", tokens("text").alias("w")).select(
        "doc_id",
        "lang",
        F.size(w).cast("long").alias("n_tokens"),
        F.floor(n_punct.cast("double") / nc * 10000).alias("punct_pct4"),
        F.floor(stop.cast("double") / F.size(w) * 10000).alias("stopword_pct4"),
        F.floor(
            F.aggregate(
                F.transform(w, lambda t: F.length(t).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.size(w)
            * 10000
        ).alias("avg_token_len4"),
    )
    score = (
        F.when(F.col("n_tokens").between(20, 1000), 40).otherwise(0)
        + F.when(F.col("punct_pct4") < 500, 30).otherwise(0)
        + F.when(F.col("avg_token_len4").between(30000, 80000), 30).otherwise(0)
    )
    return feat.withColumn("quality_score", score)


def _sql_lang_score(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"CAST(len(list_filter(w, t -> t IN ({words}))) AS BIGINT)"


def lang_score(w, lang: str):
    """Stopword-hit count for one language over a token array column."""
    return (
        F.size(F.filter(w, lambda t: t.isin(*LANG_STOPWORDS[lang])))
        .cast("long")
        .alias(f"score_{lang}")
    )


def lang_pred_expr(en, es, de, fr):
    """Deterministic argmax with preference order en>es>de>fr on ties
    — shared by the registered query and the corpus-topology langid
    gate so the two can never drift."""
    return (
        F.when((en >= es) & (en >= de) & (en >= fr), "en")
        .when((es >= de) & (es >= fr), "es")
        .when(de >= fr, "de")
        .otherwise("fr")
    )


@register(
    "text_language_id",
    oracle=f"""
        WITH tok AS (SELECT doc_id, lang, {SQL_TOKENS} AS w FROM documents),
        scores AS (
            SELECT doc_id, lang AS lang_true,
                   {_sql_lang_score('en')} AS score_en,
                   {_sql_lang_score('es')} AS score_es,
                   {_sql_lang_score('de')} AS score_de,
                   {_sql_lang_score('fr')} AS score_fr
            FROM tok
        )
        SELECT doc_id, lang_true, score_en, score_es, score_de, score_fr,
               CASE WHEN score_en >= score_es AND score_en >= score_de
                         AND score_en >= score_fr THEN 'en'
                    WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
                    WHEN score_de >= score_fr THEN 'de'
                    ELSE 'fr' END AS lang_pred
        FROM scores
        ORDER BY doc_id
    """,
    tags=("llm-data", "text"),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID heuristic with deterministic
    preference order en>es>de>fr on ties."""
    d = widen(load_table(spark, sf_dir, "documents"))
    w = F.col("w")

    scored = d.select("doc_id", "lang", tokens("text").alias("w")).select(
        "doc_id", F.col("lang").alias("lang_true"),
        lang_score(w, "en"), lang_score(w, "es"),
        lang_score(w, "de"), lang_score(w, "fr"),
    )
    en, es, de, fr = (F.col(f"score_{x}") for x in ("en", "es", "de", "fr"))
    return scored.withColumn(
        "lang_pred", lang_pred_expr(en, es, de, fr)
    ).orderBy("doc_id")


@register(
    "text_fingerprint",
    oracle=f"""
        WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents)
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fingerprint
        FROM tok
        ORDER BY doc_id
    """,
    tags=("llm-data", "text"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct token set
    (order-insensitive content hash — catches word-order shuffles that
    exact-text dedup misses)."""
    d = widen(load_table(spark, sf_dir, "documents"))
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(F.col("w"))), " "))
    return (
        d.select("doc_id", tokens("text").alias("w"))
        .select("doc_id", fp.alias("fingerprint"))
        .orderBy("doc_id")
    )


WINNOW_WINDOW = 4  # winnowing guarantee window (t = k + w - 1)


@register(
    "text_winnowing_fingerprints",
    oracle=f"""
        WITH words AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
        grams AS (
            SELECT doc_id, i AS pos, md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS h
            FROM words, unnest(range(1, len(w) - 1)) AS t(i)
        ),
        winmin AS (
            SELECT doc_id, pos,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND {WINNOW_WINDOW - 1} FOLLOWING)
                       AS wmin,
                   COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND {WINNOW_WINDOW - 1} FOLLOWING)
                       AS wsize
            FROM grams
        ),
        fps AS (SELECT DISTINCT doc_id, wmin FROM winmin WHERE wsize = {WINNOW_WINDOW})
        SELECT doc_id, COUNT(*) AS n_fps, MIN(wmin) AS min_fp, MAX(wmin) AS max_fp
        FROM fps GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm-data", "text", "dedup"),
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints: hash every word 3-gram
    in position order, keep the minimum hash of each sliding window of
    {WINNOW_WINDOW} grams, dedupe per document (the Schleimer/Wilkerson/
    Aiken scheme — guarantees any shared run of window+k-1 tokens
    yields a shared fingerprint).

    Scale: one posexplode + one window pass partitioned by doc — no
    cross-doc shuffle until the (tiny) fingerprint sets. The summary
    output (count/min/max per doc) keeps the driver compare small; a
    plagiarism join would instead self-join the fps relation.
    """
    from pyspark.sql import Window as W

    d = widen(load_table(spark, sf_dir, "documents"))
    w = F.col("w")
    grams = (
        d.select("doc_id", tokens("text").alias("w"))
        .filter(F.size(w) >= 3)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - 3),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ",
                            F.element_at(w, (i + 1).cast("int")),
                            F.element_at(w, (i + 2).cast("int")),
                            F.element_at(w, (i + 3).cast("int")),
                        )
                    ),
                )
            ).alias("pos", "h"),
        )
    )
    win = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_WINDOW - 1)
    winmin = grams.select(
        "doc_id",
        F.min("h").over(win).alias("wmin"),
        F.count(F.lit(1)).over(win).alias("wsize"),
    )
    fps = winmin.filter(F.col("wsize") == WINNOW_WINDOW).select("doc_id", "wmin").distinct()
    return (
        fps.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.min("wmin").alias("min_fp"),
            F.max("wmin").alias("max_fp"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_top_bigrams",
    oracle=f"""
        WITH tok AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
        bg AS (
            SELECT unnest(list_transform(range(1, len(w)),
                          i -> w[i] || ' ' || w[i+1])) AS bigram
            FROM tok
        )
        SELECT bigram, COUNT(*) AS n
        FROM bg
        GROUP BY bigram
        ORDER BY n DESC, bigram
        LIMIT 30
    """,
    tags=("llm-data", "text"),
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide word-bigram frequencies, top 30 (count DESC, bigram
    ASC for a total order). Non-distinct n-grams — frequency analysis,
    unlike the distinct shingle sets the dedup family uses.

    Scale shape: bigram build is a per-row transform (no shuffle);
    explode + groupBy is one shuffle with map-side partial counts, and
    the top-30 compiles to TakeOrderedAndProject, never a global sort.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens("text").alias("w"))  # materialize w
    bigrams = toks.select(
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
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(30)
    )


@register(
    "text_distinctive_terms",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
            FROM documents
        ),
        tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        df AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        ranked AS (
            SELECT tf.doc_id, tf.t, tf.tf, df.df,
                   ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                      ORDER BY tf.tf DESC, df.df, tf.t) AS rnk
            FROM tf JOIN df ON tf.t = df.t
        )
        SELECT doc_id, rnk, t AS term, tf, df
        FROM ranked WHERE rnk <= 3
        ORDER BY doc_id, rnk
    """,
    tags=("llm-data", "text"),
)
def text_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document — the log-free TF-IDF:
    rank by term frequency descending, document frequency ascending
    (rare-but-repeated terms first), then term. Ordering by the raw
    (tf, df) pair instead of tf*ln(N/df) keeps the score integer and
    engine-exact — libm ln is NOT guaranteed bit-identical across
    engines, and the ranking it induces is the same.

    Scale shape: tf is one shuffle on (doc_id, token); df is a
    shuffle on token with map-side partial distinct; the tf-df join
    is token-keyed (df is |vocab| rows — broadcastable for bounded
    vocabularies, left as a hash join for web-scale vocab); the
    per-doc top-3 is a window over ≤|distinct tokens per doc| rows."""
    tok = widen(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.explode(tokens("text")).alias("t")
    )
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("t").agg(F.count_distinct("doc_id").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), "df", "t")
    return (
        tf.join(df, "t")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", F.col("rnk").cast("long").alias("rnk"),
                F.col("t").alias("term"), "tf", "df")
        .orderBy("doc_id", "rnk")
    )


@register(
    "text_vocab_growth",
    oracle=f"""
        WITH words AS (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
        nd AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS n_docs FROM documents),
        firsts AS (
            SELECT s AS token, min(doc_id) AS first_doc
            FROM words, unnest(w) AS t(s)
            GROUP BY s
        ),
        decile AS (
            SELECT least(CAST(first_doc * 10 // n_docs AS BIGINT), 9) AS bucket,
                   count(*) AS new_tokens
            FROM firsts, nd GROUP BY 1
        )
        SELECT bucket, new_tokens,
               CAST(sum(new_tokens) OVER (ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS vocab_size
        FROM decile ORDER BY bucket
    """,
    tags=("llm-data", "text", "statistics"),
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps'-law audit): distinct-token
    count after each decile of the corpus, computed in ONE pass by
    recording each token's FIRST document (min doc_id per token) and
    bucketing those first occurrences — never re-scanning the prefix
    per checkpoint (the naive formulation is 10 scans + 10
    distincts). The curve's flattening rate is the standard check
    that a corpus keeps contributing novel content as it grows.

    Scale shape: one explode + one (token) shuffle with map-side
    min; the decile rollup and running sum act on ≤10 rows."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.agg((F.max("doc_id") + 1).cast("long").alias("n_docs"))
    toks = widen(d.select("doc_id", tokens(F.col("text")).alias("w")))
    firsts = (
        toks.select("doc_id", F.explode("w").alias("token"))
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    decile = (
        firsts.crossJoin(F.broadcast(n_docs))
        .select(
            F.least(
                F.expr("first_doc * 10 div n_docs"), F.lit(9).cast("long")
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_tokens"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return decile.select(
        "bucket",
        "new_tokens",
        F.sum("new_tokens").over(w).cast("long").alias("vocab_size"),
    ).orderBy("bucket")


@register(
    "text_trigram_lm_counts",
    oracle=f"""
        WITH tok AS (SELECT {SQL_TOKENS} AS w FROM documents),
        tri AS (
            SELECT unnest(list_transform(range(1, len(w) - 1),
                          i -> struct_pack(
                              ctx := w[i] || ' ' || w[i+1],
                              nxt := w[i+2]))) AS g
            FROM tok
        ),
        tric AS (
            SELECT g.ctx AS ctx, g.nxt AS nxt, count(*) AS n_tri
            FROM tri GROUP BY 1, 2
        ),
        ctxc AS (SELECT ctx, sum(n_tri) AS n_ctx FROM tric GROUP BY ctx)
        SELECT t.ctx || ' ' || t.nxt AS trigram, t.n_tri,
               CAST(c.n_ctx AS BIGINT) AS n_ctx,
               (t.n_tri * 1000000) // CAST(c.n_ctx AS BIGINT) AS cond_prob_ppm
        FROM tric t JOIN ctxc c ON c.ctx = t.ctx
        ORDER BY n_tri DESC, trigram
        LIMIT 50
    """,
    tags=("llm-data", "text", "ngram-lm"),
)
def text_trigram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram language-model count table: top-50 trigrams with their
    count, their 2-word context's continuation count, and the MLE
    conditional probability P(w3 | w1 w2) in exact parts-per-million
    ((n_tri · 1e6) div n_ctx — integer arithmetic, no float division
    to disagree on).  The context denominator counts trigram
    CONTINUATIONS (Σ n_tri per ctx), so probabilities per context sum
    to ≤ 1e6 exactly — the n-gram-LM building block (KenLM-style
    count collection) and the perplexity-free fluency signal for
    corpus QA.

    Each trigram is generated as a (context, next-word) struct so the
    context needs no string re-parsing downstream; context totals
    roll up from the trigram counts themselves (second aggregation is
    vocabulary-sized, not corpus-sized).

    Scale shape: per-row array transform (no shuffle) → explode →
    one corpus-wide groupBy with map-side combine; the ctx rollup and
    join act on the distinct-trigram relation, and top-50 compiles to
    TakeOrderedAndProject, never a global sort."""
    d = widen(load_table(spark, sf_dir, "documents"))
    toks = d.select(tokens("text").alias("w"))  # materialize before lambda
    tri = toks.select(
        F.explode(
            F.when(
                F.size("w") >= 3,
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 3),
                    lambda i: F.struct(
                        F.concat(
                            F.element_at("w", (i + 1).cast("int")),
                            F.lit(" "),
                            F.element_at("w", (i + 2).cast("int")),
                        ).alias("ctx"),
                        F.element_at("w", (i + 3).cast("int")).alias("nxt"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<ctx:string,nxt:string>>"))
        ).alias("g")
    )
    tric = (
        tri.select("g.ctx", "g.nxt")
        .groupBy("ctx", "nxt")
        .agg(F.count(F.lit(1)).alias("n_tri"))
        .persist()  # feeds both the ctx rollup and the final join
    )
    ctxc = tric.groupBy(F.col("ctx").alias("cctx")).agg(
        F.sum("n_tri").cast("long").alias("n_ctx")
    )
    return (
        tric.join(ctxc, tric.ctx == ctxc.cctx)
        .select(
            F.concat_ws(" ", "ctx", "nxt").alias("trigram"),
            "n_tri",
            "n_ctx",
            F.expr("(n_tri * 1000000) div n_ctx").alias("cond_prob_ppm"),
        )
        .orderBy(F.desc("n_tri"), "trigram")
        .limit(50)
    )


def _bpe_pairs_sql(src: str, out: str) -> str:
    """Weighted adjacent-symbol pair counts from a char-spaced word
    relation (s: ' a b c ', c: word frequency)."""
    return f"""
        {out} AS (
            SELECT pr, CAST(sum(c) AS BIGINT) AS n FROM (
                SELECT unnest(list_transform(range(1, len(ch)),
                              i -> ch[i] || ' ' || ch[i+1])) AS pr, c
                FROM (SELECT string_split(trim({src}.s), ' ') AS ch, c
                      FROM {src})
            ) GROUP BY pr
        )"""


@register(
    "tokenizer_bpe_first_merges",
    oracle=f"""
        WITH wc AS (
            SELECT t AS word, count(*) AS c FROM (
                SELECT unnest({SQL_TOKENS}) AS t FROM documents
            ) GROUP BY t
        ),
        s0 AS (
            SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' '
                       AS s, c
            FROM wc
        ),
        {_bpe_pairs_sql("s0", "p1")},
        best1 AS (SELECT pr FROM p1 ORDER BY n DESC, pr LIMIT 1),
        s1 AS (
            SELECT replace(replace(s0.s,
                       ' ' || (SELECT pr FROM best1) || ' ',
                       ' ' || replace((SELECT pr FROM best1), ' ', '') || ' '),
                       ' ' || (SELECT pr FROM best1) || ' ',
                       ' ' || replace((SELECT pr FROM best1), ' ', '') || ' ')
                   AS s, c
            FROM s0
        ),
        {_bpe_pairs_sql("s1", "p2")},
        ranked AS (
            SELECT 1 AS iter, pr AS pair, n,
                   row_number() OVER (ORDER BY n DESC, pr) AS rnk
            FROM p1
            UNION ALL
            SELECT 2, pr, n, row_number() OVER (ORDER BY n DESC, pr)
            FROM p2
        )
        SELECT iter, CAST(rnk AS BIGINT) AS rnk, pair, n
        FROM ranked WHERE rnk <= 10
        ORDER BY iter, rnk
    """,
    tags=("llm-data", "tokenizer", "bpe", "iterative"),
)
def tokenizer_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first two iterations of BPE tokenizer training: weighted
    adjacent-symbol pair counts over the corpus vocabulary, the
    winning merge (count DESC, pair ASC), and the re-count after
    applying it — top-10 pair table per iteration.  This is the
    sequential-dependency loop at the heart of tokenizer training
    (each merge changes the next count table); iteration 2's input is
    data-dependent on iteration 1's argmax, and both engines still
    hash identically because every step — char split, weighted count,
    argmax tie-break, literal replace — is deterministic.

    Merges apply as left-to-right non-overlapping literal replaces of
    ' a b ' → ' ab ', run twice so odd/even chains ('a a a a')
    converge the same way on both engines; true-BPE leftmost-single-
    pass semantics differ only on such degenerate runs and the
    deviation is identical cross-engine (documented, not hidden).

    Scale shape: BPE's standard compression applies — pair counting
    runs over the DISTINCT-word relation weighted by frequency (vocab
    ~ O(corpus^0.5) by Heaps), not over raw tokens: one vocab-sized
    shuffle per iteration plus a 1-row argmax broadcast back onto the
    words.  This is exactly how production BPE trainers (SentencePiece
    et al.) batch their count phase."""
    d = widen(load_table(spark, sf_dir, "documents"))
    wc = (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s0 = wc.select(
        F.concat(
            F.lit(" "), F.array_join(F.split("word", ""), " "), F.lit(" ")
        ).alias("s"),
        "c",
    ).persist()  # feeds both iter-1 counts and the merge rewrite

    def pair_counts(sdf: DataFrame) -> DataFrame:
        ch = sdf.select(F.split(F.trim(F.col("s")), " ").alias("ch"), "c")
        prs = ch.select(
            F.explode(
                F.when(
                    F.size("ch") >= 2,
                    F.transform(
                        F.sequence(F.lit(0), F.size("ch") - 2),
                        lambda i: F.concat(
                            F.element_at("ch", (i + 1).cast("int")),
                            F.lit(" "),
                            F.element_at("ch", (i + 2).cast("int")),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("pr"),
            "c",
        )
        return prs.groupBy("pr").agg(F.sum("c").cast("long").alias("n"))

    p1 = pair_counts(s0).persist()  # feeds top-10 AND the argmax
    best1 = p1.orderBy(F.desc("n"), "pr").limit(1).select(F.col("pr").alias("bp"))
    pat = F.concat(F.lit(" "), F.col("bp"), F.lit(" "))
    rep = F.concat(F.lit(" "), F.replace(F.col("bp"), F.lit(" "), F.lit("")), F.lit(" "))
    s1 = s0.crossJoin(F.broadcast(best1)).select(
        F.replace(F.replace(F.col("s"), pat, rep), pat, rep).alias("s"), "c"
    )
    p2 = pair_counts(s1)
    w = Window.orderBy(F.desc("n"), "pr")
    ranked = (
        p1.select(F.lit(1).alias("iter"), F.col("pr").alias("pair"), "n",
                  F.row_number().over(w).alias("rnk"))
        .unionByName(
            p2.select(F.lit(2).alias("iter"), F.col("pr").alias("pair"), "n",
                      F.row_number().over(w).alias("rnk"))
        )
    )
    return (
        ranked.filter(F.col("rnk") <= 10)
        .select("iter", F.col("rnk").cast("long"), "pair", "n")
        .orderBy("iter", "rnk")
    )


@register(
    "text_cooccurrence_lift",
    oracle=f"""
        WITH nd AS (SELECT count(*) AS n_docs FROM documents),
        dt AS (
            SELECT DISTINCT doc_id, s AS token
            FROM (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
                 unnest(w) AS t(s)
        ),
        top AS (
            SELECT token, count(*) AS df
            FROM dt GROUP BY token
            ORDER BY df DESC, token LIMIT 20
        ),
        filtered AS (
            SELECT dt.doc_id, dt.token FROM dt JOIN top USING (token)
        ),
        pairs AS (
            SELECT a.token AS tok_a, b.token AS tok_b, count(*) AS n_ab
            FROM filtered a JOIN filtered b
              ON a.doc_id = b.doc_id AND a.token < b.token
            GROUP BY 1, 2
        )
        SELECT p.tok_a, p.tok_b, p.n_ab,
               ta.df AS df_a, tb.df AS df_b,
               CAST(p.n_ab * (SELECT n_docs FROM nd) AS DOUBLE)
                   / (ta.df * tb.df) AS lift
        FROM pairs p
        JOIN top ta ON ta.token = p.tok_a
        JOIN top tb ON tb.token = p.tok_b
        ORDER BY lift DESC, tok_a, tok_b
        LIMIT 30
    """,
    tags=("llm-data", "text", "association"),
)
def text_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token association mining over documents: document-level
    co-occurrence LIFT — P(a,b)/(P(a)·P(b)) = n_ab·N/(df_a·df_b) —
    for pairs of the top-20 document-frequency tokens, top-30 by
    lift.  Lift is PMI without the logarithm (same ranking,
    monotone), which keeps the statistic a ratio of exact integers
    with ONE final division — engine-identical, where log-based PMI
    would drift in the last ulp.  The text-side sibling of
    basket_pair_cooccurrence (which mines order baskets).

    Scale shape: the vocabulary is pruned to the top-20 tokens
    BEFORE any pairing (broadcast semi-join), so the quadratic step
    is bounded at C(20,2) pairs per doc regardless of corpus size;
    df lookups broadcast; one doc_id-keyed equi-self-join does the
    pairing."""
    d = widen(load_table(spark, sf_dir, "documents"))
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    dt = (
        d.select("doc_id", F.explode(tokens("text")).alias("token"))
        .distinct()
        .persist()  # df counts + two pairing branches
    )
    top = (
        dt.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), "token")
        .limit(20)
    )
    filtered = dt.join(F.broadcast(top.select("token")), "token").select(
        "doc_id", "token"
    )
    b = filtered.select(
        F.col("doc_id").alias("doc_b"), F.col("token").alias("tok_b")
    )
    pairs = (
        filtered.withColumnRenamed("token", "tok_a")
        .join(b, (F.col("doc_id") == F.col("doc_b")) & (F.col("tok_a") < F.col("tok_b")))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ta = top.select(F.col("token").alias("tok_a"), F.col("df").alias("df_a"))
    tb = top.select(F.col("token").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(F.broadcast(ta), "tok_a")
        .join(F.broadcast(tb), "tok_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            "df_a",
            "df_b",
            (
                (F.col("n_ab") * F.col("n_docs")).cast("double")
                / (F.col("df_a") * F.col("df_b"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "tok_a", "tok_b")
        .limit(30)
    )


_LANGID_SCORES_SQL = """
        scores AS (
            SELECT lang AS lang_true,
                   CAST(len(list_filter(w, t -> t IN ('the','a','and','of','to')))
                        AS BIGINT) AS s_en,
                   CAST(len(list_filter(w, t -> t IN ('el','la','de','los','y')))
                        AS BIGINT) AS s_es,
                   CAST(len(list_filter(w, t -> t IN ('der','die','das','und','ist')))
                        AS BIGINT) AS s_de,
                   CAST(len(list_filter(w, t -> t IN ('le','les','des','et','est')))
                        AS BIGINT) AS s_fr
            FROM (SELECT lang, {toks} AS w FROM documents)
        ),
        pred AS (
            SELECT lang_true,
                   CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                             THEN 'en'
                        WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                        WHEN s_de >= s_fr THEN 'de'
                        ELSE 'fr' END AS lang_pred
            FROM scores
        )
"""


@register(
    "text_langid_confusion",
    oracle=f"""
        WITH {_LANGID_SCORES_SQL.format(toks=SQL_TOKENS)}
        SELECT lang_true, lang_pred, count(*) AS n,
               CAST(sum(CASE WHEN lang_true = lang_pred THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_correct
        FROM pred
        GROUP BY lang_true, lang_pred
        ORDER BY lang_true, lang_pred
    """,
    tags=("llm-data", "text", "evaluation"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the stopword language-ID heuristic
    against the ground-truth lang column — the classifier-evaluation
    rollup (per-cell counts; diagonal = correct) a pipeline runs
    before trusting a filter model at scale.  Tie-breaks in the
    argmax follow the same deterministic en>es>de>fr preference as
    text_language_id, so both engines produce the identical matrix.

    Scale shape: per-row scoring is map-only lambda work on the
    token array; the matrix rollup is one |langs|² -bounded shuffle.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    w = F.col("w")

    def score(lang: str):
        return F.size(
            F.filter(w, lambda t: t.isin(*LANG_STOPWORDS[lang]))
        ).cast("long").alias(f"s_{lang}")

    scored = d.select("lang", tokens("text").alias("w")).select(
        F.col("lang").alias("lang_true"),
        score("en"), score("es"), score("de"), score("fr"),
    )
    en, es, de, fr = (F.col(f"s_{x}") for x in ("en", "es", "de", "fr"))
    pred = (
        F.when((en >= es) & (en >= de) & (en >= fr), "en")
        .when((es >= de) & (es >= fr), "es")
        .when(de >= fr, "de")
        .otherwise("fr")
    )
    return (
        scored.select("lang_true", pred.alias("lang_pred"))
        .groupBy("lang_true", "lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("lang_true") == F.col("lang_pred"), 1).otherwise(0)
            ).cast("long").alias("n_correct"),
        )
        .orderBy("lang_true", "lang_pred")
    )


@register(
    "text_source_tv_distance",
    oracle=f"""
        WITH tok AS (
            SELECT source, s AS token
            FROM (SELECT source, {SQL_TOKENS} AS w FROM documents
                  WHERE source IN ('src0', 'src1')),
                 unnest(w) AS t(s)
        ),
        counts AS (
            SELECT token,
                   CAST(count(*) FILTER (WHERE source = 'src0') AS BIGINT) AS c0,
                   CAST(count(*) FILTER (WHERE source = 'src1') AS BIGINT) AS c1
            FROM tok GROUP BY token
        ),
        totals AS (
            SELECT CAST(sum(c0) AS BIGINT) AS n0, CAST(sum(c1) AS BIGINT) AS n1
            FROM counts
        )
        SELECT n0, n1,
               count(*) AS n_tokens_union,
               CAST(sum(abs(c0 * n1 - c1 * n0)) AS BIGINT) AS tv_num,
               CAST(sum(abs(c0 * n1 - c1 * n0)) AS DOUBLE) / (2.0 * n0 * n1)
                   AS tv_distance
        FROM counts, totals
        GROUP BY n0, n1
    """,
    tags=("llm-data", "text", "drift", "statistics"),
)
def text_source_tv_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-variation distance between the token distributions of
    two corpus sources (src0 vs src1) — the text-side drift gate
    (JS/KL need logs and float accumulation; TV = ½Σ|p−q| over the
    common denominator n₀·n₁ is EXACT: Σ|c₀n₁ − c₁n₀| is pure
    integer, one final division).  TV=0 means identical unigram
    mixes; TV→1 means disjoint vocabularies — the cheap first answer
    to "did this source's content shift between crawls".

    Scale shape: one token-keyed count shuffle with map-side combine
    (both sources counted in the same pass via conditional
    aggregation — no join of two per-source tables), then a scalar
    rollup."""
    d = widen(load_table(spark, sf_dir, "documents"))
    tok = (
        d.filter(F.col("source").isin("src0", "src1"))
        .select("source", F.explode(tokens("text")).alias("token"))
    )
    counts = (
        tok.groupBy("token")
        .agg(
            F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
            .cast("long")
            .alias("c0"),
            F.sum(F.when(F.col("source") == "src1", 1).otherwise(0))
            .cast("long")
            .alias("c1"),
        )
        .persist()  # totals + the |c0n1 − c1n0| pass both read it
    )
    totals = counts.agg(
        F.sum("c0").cast("long").alias("n0"), F.sum("c1").cast("long").alias("n1")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .groupBy("n0", "n1")
        .agg(
            F.count(F.lit(1)).alias("n_tokens_union"),
            F.sum(F.abs(F.col("c0") * F.col("n1") - F.col("c1") * F.col("n0")))
            .cast("long")
            .alias("tv_num"),
            (
                F.sum(
                    F.abs(F.col("c0") * F.col("n1") - F.col("c1") * F.col("n0"))
                ).cast("double")
                / (2.0 * F.col("n0") * F.col("n1"))
            ).alias("tv_distance"),
        )
        .select("n0", "n1", "n_tokens_union", "tv_num", "tv_distance")
    )


@register(
    "text_inverted_index_sample",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, s AS token
            FROM (SELECT doc_id, {SQL_TOKENS} AS w FROM documents),
                 unnest(w) AS t(s)
        ),
        tf AS (
            SELECT token, doc_id, count(*) AS tf
            FROM tok GROUP BY token, doc_id
        ),
        stats AS (
            SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
            FROM tf GROUP BY token
            ORDER BY df DESC, token LIMIT 10
        ),
        posting AS (
            SELECT tf.token, tf.doc_id, tf.tf,
                   row_number() OVER (PARTITION BY tf.token
                                      ORDER BY tf.doc_id) AS pos
            FROM tf JOIN stats USING (token)
        )
        SELECT s.token AS token, s.df, s.total_tf,
               string_agg(p.doc_id || ':' || p.tf, ',' ORDER BY p.pos)
                   AS posting_head
        FROM stats s JOIN posting p ON p.token = s.token AND p.pos <= 5
        GROUP BY s.token, s.df, s.total_tf
        ORDER BY s.df DESC, token
    """,
    tags=("llm-data", "text", "index"),
)
def text_inverted_index_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build, sampled: for the 10 highest-DF tokens,
    the document frequency, total term frequency, and the HEAD of the
    doc_id-sorted postings list rendered as 'doc:tf' (the
    search-index layout — postings sorted by doc id for galloping
    intersection).  Spark orders the head deterministically via
    array_sort over (pos, entry) structs; the oracle uses DuckDB's
    ordered string_agg — different mechanisms, identical layout.

    Scale shape: term-frequency build is one (token, doc) shuffle
    with map-side combine; the top-10 DF cut broadcasts back, so
    postings materialize only for sampled tokens.  A full index
    build is the same plan without the cut, writing
    bucketBy(token)-sorted parquet."""
    d = widen(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()  # stats cut + posting join
    )
    stats = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").cast("long").alias("total_tf"))
        .orderBy(F.desc("df"), "token")
        .limit(10)
    )
    wpos = Window.partitionBy("token").orderBy("doc_id")
    posting = (
        tf.join(F.broadcast(stats.select("token")), "token")
        .select(
            "token",
            "doc_id",
            "tf",
            F.row_number().over(wpos).alias("pos"),
        )
        .filter(F.col("pos") <= 5)
    )
    head = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "pos",
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            F.col("tf").cast("string"),
                        ).alias("entry"),
                    )
                )
            ),
            lambda s: s.entry,
        ),
        ",",
    )
    return (
        posting.groupBy("token")
        .agg(head.alias("posting_head"))
        .join(F.broadcast(stats), "token")
        .select("token", "df", "total_tf", "posting_head")
        .orderBy(F.desc("df"), "token")
    )


@register(
    "text_char_frequency_profile",
    oracle="""
        WITH chars AS (
            SELECT lang, c
            FROM (SELECT lang, string_split(replace(lower(text), ' ', ''), '')
                      AS cs
                  FROM documents),
                 unnest(cs) AS t(c)
        ),
        counts AS (
            SELECT lang, c, count(*) AS n,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY count(*) DESC, c) AS rnk
            FROM chars GROUP BY lang, c
        )
        SELECT lang, CAST(rnk AS BIGINT) AS rnk, c AS ch, n
        FROM counts WHERE rnk <= 10
        ORDER BY lang, rnk
    """,
    tags=("llm-data", "text", "statistics"),
)
def text_char_frequency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-frequency profile (top-10 chars, spaces
    stripped) — the char-level signature that language-ID n-gram
    models train on, and the encoding-corruption tripwire (mojibake
    shifts the profile instantly where token stats stay plausible).
    Char splitting uses the ''-split proven engine-identical by
    tokenizer_bpe_first_merges.

    Scale shape: chars explode map-side; one (lang, char) count
    shuffle bounded by |langs|×|alphabet| groups with map-side
    combine; the rank acts on that tiny rollup."""
    d = widen(load_table(spark, sf_dir, "documents"))
    chars = d.select(
        "lang",
        F.explode(
            F.split(F.replace(F.lower(F.col("text")), F.lit(" "), F.lit("")), "")
        ).alias("c"),
    )
    counts = chars.groupBy("lang", "c").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "c")
    return (
        counts.select("lang", "c", "n", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 10)
        .select("lang", F.col("rnk").cast("long"), F.col("c").alias("ch"), "n")
        .orderBy("lang", "rnk")
    )


@register(
    "text_encoding_anomaly_scan",
    oracle="""
        WITH scan AS (
            SELECT doc_id, lang,
                   length(text) AS nc,
                   length(text) - length(regexp_replace(text, '[^ -~]', '', 'g'))
                       AS n_nonascii
            FROM documents
        )
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN n_nonascii > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_docs_nonascii,
               CAST(sum(n_nonascii) AS BIGINT) AS total_nonascii_chars,
               CAST(max(n_nonascii) AS BIGINT) AS max_doc_nonascii
        FROM scan GROUP BY lang ORDER BY lang
    """,
    tags=("llm-data", "text", "encoding", "quality"),
)
def text_encoding_anomaly_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-anomaly scan: per language, how many documents carry
    characters outside printable ASCII and how many such characters —
    for an ASCII-expected language a nonzero count is the mojibake /
    double-encoding tripwire, while for CJK it calibrates the
    expected baseline.  The counter is the
    length-minus-stripped-length idiom with an RE2-safe printable
    class ('[^ -~]') — no codepoint iteration, both engines count
    identically.

    Scale shape: map-only regex + length arithmetic in codegen; one
    |langs|-group rollup with map-side combine."""
    d = widen(load_table(spark, sf_dir, "documents"))
    n_nonascii = F.length("text") - F.length(
        F.regexp_replace("text", "[^ -~]", "")
    )
    scan = d.select("doc_id", "lang", n_nonascii.alias("n_nonascii"))
    return (
        scan.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_nonascii") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_docs_nonascii"),
            F.sum("n_nonascii").cast("long").alias("total_nonascii_chars"),
            F.max("n_nonascii").cast("long").alias("max_doc_nonascii"),
        )
        .orderBy("lang")
    )


@register(
    "text_lexical_diversity",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, {SQL_TOKENS} AS w FROM documents
        )
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(w)) AS BIGINT) AS n_types,
               CAST(FLOOR(CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
                    * 10000) AS BIGINT) AS ttr4,
               CAST(len(list_filter(list_distinct(w),
                    t -> len(list_filter(w, x -> x = t)) = 1)) AS BIGINT)
                   AS n_hapax,
               CAST(FLOOR(CAST(len(list_filter(list_distinct(w),
                    t -> len(list_filter(w, x -> x = t)) = 1)) AS DOUBLE)
                    / len(w) * 10000) AS BIGINT) AS hapax_pct4
        FROM tok ORDER BY doc_id
    """,
    tags=("llm-data", "text"),
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per document: type-token ratio and
    hapax-legomenon fraction (words occurring exactly once), both in
    fixed-point basis points.

    The hapax count is a nested higher-order function over the token
    array — O(types x tokens) per document but entirely JVM-side with
    zero shuffle, which beats the explode + (doc_id, token) groupBy
    alternative for the short-document regime (the explode variant's
    shuffle carries one row per token occurrence). For a long-document
    corpus the explode form would win; both are expressible here and
    the array form is the default because pretraining filters run on
    bounded-length chunks.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    w = F.col("w")
    hapax = F.size(
        F.filter(
            F.array_distinct(w),
            lambda t: F.size(F.filter(w, lambda x: x == t)) == 1,
        )
    )
    return (
        d.select("doc_id", tokens("text").alias("w"))
        .select(
            "doc_id",
            F.size(w).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(w)).cast("long").alias("n_types"),
            F.floor(
                F.size(F.array_distinct(w)).cast("double") / F.size(w) * 10000
            ).alias("ttr4"),
            hapax.cast("long").alias("n_hapax"),
            F.floor(hapax.cast("double") / F.size(w) * 10000).alias("hapax_pct4"),
        )
        .orderBy("doc_id")
    )


@register(
    "udtf_chunk_text",
    oracle="""
        WITH tok AS (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
            FROM documents
        ),
        ch AS (
            SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
                   array_to_string(list_slice(w, i * 50 + 1, i * 50 + 50), ' ')
                       AS chunk_text
            FROM tok, unnest(range((len(w) + 49) // 50)) AS u(i)
        )
        SELECT doc_id, chunk_idx, chunk_text
        FROM ch ORDER BY doc_id, chunk_idx
    """,
    tags=("llm-data", "text", "udf"),
)
def udtf_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking through a Python UDTF (Spark 4 user-defined
    TABLE function, Arrow-optimized) applied per-row via LATERAL —
    completing the UDF surface next to pandas scalar / grouped /
    mapInPandas / applyInPandasWithState.

    The tokenizer is ``re.split(r"\\s+", lower(text))`` to mirror the
    engine's SQL tokenization exactly (including empty leading
    fields). The built-in-functions version of this operator is
    ``text_chunk_tokens`` — that one is the 100 TB hot path (pure
    codegen, no Python); this one exists to certify the UDTF API
    against the same oracle. One Python worker pass, no shuffle; the
    lateral expansion parallelizes per input partition.
    """
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx bigint, chunk_text string", useArrow=True)
    class _ChunkText:
        def eval(self, text: str, size: int):  # noqa: ANN001
            w = re.split(r"\s+", text.lower())
            for i in range(0, len(w), size):
                yield i // size, " ".join(w[i : i + size])

    spark.udtf.register("engine_chunk_text", _ChunkText)
    docs = widen(load_table(spark, sf_dir, "documents"))
    docs.select("doc_id", "text").createOrReplaceTempView("_udtf_chunk_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk_text
        FROM _udtf_chunk_docs d, LATERAL engine_chunk_text(d.text, 50) c
        ORDER BY d.doc_id, c.chunk_idx
        """
    )


@register(
    "text_tfidf_topk",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest({SQL_TOKENS}) AS term FROM documents
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM tok GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   (tf.tf * n.n_docs * 1000) // df.df AS score_q
            FROM tf JOIN df USING (term) CROSS JOIN n
        ),
        ranked AS (
            SELECT doc_id, term, score_q,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY score_q DESC, term) AS rnk
            FROM scored
        )
        SELECT doc_id, term, CAST(score_q AS BIGINT) AS score_q,
               CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk
    """,
    tags=("llm-data", "text"),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document with LOG-FREE integer scoring:
    score_q = tf * N * 1000 div df — rank-equivalent to tf * (N/df)
    (the idf log is monotone in N/df, so per-document top-k by the
    rational score ranks identically to unsmoothed tf-idf), and exact
    integer division keeps the ranking bit-identical across engines
    where a floating ln() would not be.

    Scale shape: explode → (doc, term) count (map-side combined);
    document frequency is an aggregate of THAT table (no second
    explode); the df join shuffles on the term key — vocabulary-sized,
    zipf-distributed, and AQE's skew handling covers the stop-word
    head. The per-doc top-3 is a bounded window per document.
    """
    d = widen(load_table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.expr("tf * n_docs * 1000 div df").alias("score_q"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score_q").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "term",
            F.col("score_q").cast("long").alias("score_q"),
            F.col("rnk").cast("long").alias("rnk"),
        )
        .orderBy("doc_id", "rnk")
    )
