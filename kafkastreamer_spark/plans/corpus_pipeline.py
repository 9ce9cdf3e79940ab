"""The corpus stage vocabulary: the reference's topology format driving
document-hygiene stages instead of integer stage functions.

A user declares e.g. "repetition gate → exact dedup → per-source cap →
temperature mix" in the reference's XML/dict shape, linear or as a DAG,
and the compiler in ``plans.topology`` turns it into one composed
DataFrame transform — the corpus-prep capstone
(operators/quality.py ``pipeline_corpus_prep``) as a declarative
topology. Frames are documents-shaped (doc_id, text, lang, source, ...).

Stages (``CORPUS_STAGES``: op → batch fn, stream fn or None, default
arg; a negative arg means the default):

- ``repetition_gate`` — drop Gopher-repetitive docs via the map-only
  flag expression (bit-identical to the metrics query for docs with
  >= 2 tokens; sub-2-token docs are flagged and dropped, see
  with_repetition_flag). Streamable.
- ``gopher_gate`` — keep docs passing all four Gopher rules, with the
  registered quality_gopher_rules thresholds. Streamable.
- ``length_gate`` — keep docs with at least ``arg`` tokens. Streamable.
- ``langid_gate`` — keep docs whose predicted language equals their
  ``lang``, scored like text_language_id. Streamable.
- ``exact_dedup`` — keep the lowest-doc_id copy per md5(text). Batch:
  a rank. Streaming: ``dropDuplicatesWithinWatermark`` on the hash,
  which keeps the first arrival (the lowest id when ids arrive in
  order). The stream form's ``arg`` is a TTL in event-time minutes and
  must be > 0 (``ttl_ops``): it is the watermark delay that bounds the
  dedup state, and the input needs a timestamp column ``ts``. A
  duplicate arriving more than TTL after its first copy is re-admitted,
  the usual windowed-dedup contract. Batch ignores the TTL.
- ``source_cap`` — at most ``arg`` docs per source in md5(doc_id)
  order. Batch-only (a per-group rank).
- ``temperature_mix`` — per-language count^0.5 rebalance with
  multiplier ``arg``. Batch-only.

Node-per-query drains read channels one file per trigger, so the
streaming exact_dedup sees documents in the order they were seeded.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, functions as F

from kafkastreamer_spark.plans.topology import (
    PipelineSpec,
    StageSpec,
    TopologyError,
    Vocabulary,
    compile_linear,
    read_dict,
    read_xml,
    validate,
)


def _repetition_gate(df: DataFrame, arg: int) -> DataFrame:
    from kafkastreamer_spark.operators.quality import with_repetition_flag

    return with_repetition_flag(df).filter(F.col("flag") == 0).drop("flag")


def _exact_dedup_batch(df: DataFrame, arg: int) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


#: event-time column the streaming exact_dedup stage keys its TTL on
EVENT_TIME_COL = "ts"


def _exact_dedup_streaming(df: DataFrame, arg: int) -> DataFrame:
    # first-arrival-wins on the content hash, state bounded by the
    # TTL (= arg minutes, compile-time validated > 0): the watermark
    # delay IS the dedup window, so the state store evicts hashes
    # older than TTL behind the watermark instead of growing with
    # every distinct document forever.
    from pyspark.sql.types import TimestampType

    field = next(
        (f for f in df.schema.fields if f.name == EVENT_TIME_COL), None
    )
    if field is None or not isinstance(field.dataType, TimestampType):
        raise TopologyError(
            f"streaming exact_dedup needs a timestamp event-time column "
            f"{EVENT_TIME_COL!r} to bound its state (TTL {arg} min); "
            f"input columns: {df.columns}"
        )
    return (
        df.withColumn("_h", F.md5("text"))
        .withWatermark(EVENT_TIME_COL, f"{arg} minutes")
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )


def _gopher_gate(df: DataFrame, arg: int) -> DataFrame:
    # keep docs passing ALL four Gopher rules (word-count band, mean
    # word length band, min stopwords, alpha ratio) — the same
    # integer cross-multiplication thresholds as the registered
    # quality_gopher_rules (per-source pass_all parity pinned by
    # test); stateless, streamable. The token array is materialized
    # before the counting lambdas touch it (the re-evaluation trap
    # documented on with_repetition_flag).
    staged = df.withColumn("_gw", F.split(F.lower("text"), r"\s+"))
    w = F.col("_gw")
    n_words = F.size(w).cast("long")
    total_chars = F.aggregate(
        F.transform(w, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_stop = F.size(
        F.filter(w, lambda t: t.isin("the", "a", "and", "of", "to"))
    ).cast("long")
    n_alpha = F.size(F.filter(w, lambda t: t.rlike("[a-z]"))).cast("long")
    keep = (
        n_words.between(50, 100000)
        & (total_chars >= n_words * 3)
        & (total_chars <= n_words * 10)
        & (n_stop >= 2)
        & (n_alpha * 10 >= n_words * 8)
    )
    return staged.filter(keep).drop("_gw")


def _length_gate(df: DataFrame, arg: int) -> DataFrame:
    from kafkastreamer_spark.operators._embed import tokens

    return df.filter(F.size(tokens("text")) >= arg)


def _langid_gate(df: DataFrame, arg: int) -> DataFrame:
    # keep docs whose heuristic language prediction agrees with the
    # declared lang column — the mislabeled-document filter every
    # multilingual intake runs; shares the registered
    # text_language_id's exact scoring/tie-break expressions
    from kafkastreamer_spark.operators._embed import tokens
    from kafkastreamer_spark.operators.text import lang_pred_expr, lang_score

    w = F.col("_w")
    staged = df.withColumn("_w", tokens("text")).withColumn(
        "_pred",
        lang_pred_expr(
            lang_score(w, "en"),
            lang_score(w, "es"),
            lang_score(w, "de"),
            lang_score(w, "fr"),
        ),
    )
    return staged.filter(F.col("_pred") == F.col("lang")).drop("_w", "_pred")


def _source_cap(df: DataFrame, arg: int) -> DataFrame:
    from kafkastreamer_spark.operators.deskew import md5_ranked

    return md5_ranked(df, ["source"], "doc_id", "_crn").filter(
        F.col("_crn") <= arg
    ).drop("_crn")


def _temperature_mix(df: DataFrame, arg: int) -> DataFrame:
    from kafkastreamer_spark.operators.deskew import md5_ranked

    ranked = md5_ranked(df, ["lang"], "doc_id", "_lrn", count_name="_lcnt")
    target = F.least(
        F.col("_lcnt"),
        F.floor(F.sqrt(F.col("_lcnt").cast("double")) * arg).cast("long"),
    )
    return ranked.filter(F.col("_lrn") <= target).drop("_lrn", "_lcnt")


# op -> (batch transform, streaming transform or None, default arg)
CORPUS_STAGES: dict[str, tuple] = {
    "repetition_gate": (_repetition_gate, _repetition_gate, 0),
    "gopher_gate": (_gopher_gate, _gopher_gate, 0),
    "length_gate": (_length_gate, _length_gate, 20),
    "langid_gate": (_langid_gate, _langid_gate, 0),
    "exact_dedup": (_exact_dedup_batch, _exact_dedup_streaming, 0),
    "source_cap": (_source_cap, None, 15),
    "temperature_mix": (_temperature_mix, None, 4),
}
ALLOWED_CORPUS_OPERATIONS = tuple(CORPUS_STAGES)

CORPUS = Vocabulary(
    stages=CORPUS_STAGES,
    missing_arg=-1,
    ttl_ops=frozenset({"exact_dedup"}),
    files_per_trigger=1,
)


@dataclass(frozen=True)
class CorpusStageSpec(StageSpec):
    arg: int = -1  # -1 -> the operation's default


CorpusPipelineSpec = PipelineSpec
validate_corpus_spec = partial(validate, vocab=CORPUS)
corpus_spec_from_dict = partial(read_dict, vocab=CORPUS)
parse_corpus_topology_xml = partial(read_xml, vocab=CORPUS)
compile_corpus_pipeline = partial(compile_linear, vocab=CORPUS)


def _register_topology_report() -> None:
    """Driver-checkable certification of the topology compiler: a
    registered query that RUNS a compiled declarative chain
    (gopher_gate -> exact_dedup -> source_cap) and reports per-source
    survivors, with a DuckDB oracle expressing the same chain in SQL.
    If the compiler, a stage transform, or the spec plumbing drifts,
    the driver's hash compare catches it — not just the unit tests."""
    from kafkastreamer_spark.registry import register
    from kafkastreamer_spark.tables import load_table, widen

    @register(
        "pipeline_corpus_topology",
        oracle="""
        WITH tok AS (
            SELECT doc_id, source, text,
                   string_split_regex(lower(text), '\\s+') AS w
            FROM documents
        ),
        f AS (
            SELECT doc_id, source, text,
                   CAST(len(w) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(w, t -> len(t))) AS BIGINT)
                       AS total_chars,
                   CAST(len(list_filter(w,
                        t -> t IN ('the','a','and','of','to'))) AS BIGINT)
                       AS n_stop,
                   CAST(len(list_filter(w,
                        t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha
            FROM tok
        ),
        keep AS (
            SELECT doc_id, source, text FROM f
            WHERE n_words BETWEEN 50 AND 100000
              AND total_chars >= n_words * 3
              AND total_chars <= n_words * 10
              AND n_stop >= 2
              AND n_alpha * 10 >= n_words * 8
        ),
        dedup AS (
            SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       ROW_NUMBER() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) AS rn
                FROM keep
            ) WHERE rn = 1
        ),
        capped AS (
            SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       ROW_NUMBER() OVER (
                           PARTITION BY source
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ) AS crn
                FROM dedup
            ) WHERE crn <= 15
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS first_doc
        FROM capped GROUP BY source ORDER BY source
        """,
        tags=("pipeline", "topology", "llm-data"),
    )
    def pipeline_corpus_topology(spark, sf_dir):
        """Per-source survivors of the DECLARATIVE hygiene topology
        gopher_gate -> exact_dedup -> source_cap(15), executed through
        the corpus topology compiler (the same path the CLI's corpus
        mode and the XML surface use) — certifying compiler + stage
        vocabulary end-to-end against an independent SQL oracle.

        Scale shape: the chain is one composed plan — gopher flags in
        one codegen pass, dedup rank + deskewed cap rank, counts-only
        rollup (the capstone's cost class; see pipeline_corpus_prep).
        """
        spec = corpus_spec_from_dict(
            {
                "stream_id": "cert",
                "stages": [
                    {"stage": 0, "operation": "gopher_gate"},
                    {"stage": 1, "operation": "exact_dedup"},
                    {"stage": 2, "operation": "source_cap", "arg": 15},
                ],
            }
        )
        docs = widen(load_table(spark, sf_dir, "documents"))
        survivors = compile_corpus_pipeline(spec)(docs)
        return (
            survivors.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.min("doc_id").cast("long").alias("first_doc"),
            )
            .orderBy("source")
        )


_register_topology_report()
