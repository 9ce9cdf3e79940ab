"""CLI: run a reference-style topology on the Spark engine.

The reference's workflow is `KafkaParser.py -F topology.xml` → bash
scripts → hand-started JVMs. The engine's is one command:

    python -m kafkastreamer_spark --topology topology.xml \
        --mode single|chained|dag|corpus|corpus-dag --out /tmp/out

The topology is a linear spec (reference XML, or JSON with `stages`)
or a DAG (JSON with `nodes` and `sinks`); `dag` and `corpus-dag` always
read JSON. The mode picks the stage vocabulary and the deployment, and
all modes run through the one compiler in `kafkastreamer_spark.plans`:

- `single`, `dag`: integer stages over `--records` keyed records,
  compiled into one query;
- `chained`: a linear integer topology deployed one streaming query
  per stage, wired through directory channels (Kafka topics with
  `--bootstrap`), as the reference deploys it;
- `corpus`, `corpus-dag`: corpus hygiene stages over the documents
  parquet dir `--input`. With `--stream` the same topology runs as a
  Structured Streaming job: the input dir is a file source read one
  file per micro-batch, batch-only stages and a TTL-less exact_dedup
  are rejected before anything starts, and survivors land through the
  batchId-idempotent exactly-once parquet sink.

Each sink is written to its own directory under `--out`: `result/`
(linear integer), `survivors/` (linear corpus) or `<sink>/` (DAG).
`chained` leaves its channels in `channels/stage_<id>_<i>`. An invalid
topology exits with code 2.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

from pyspark.sql import functions as F


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="kafkastreamer_spark")
    ap.add_argument("--topology", required=True, help="topology XML (reference format) or JSON")
    ap.add_argument(
        "--mode",
        choices=["single", "chained", "dag", "corpus", "corpus-dag"],
        default="single",
    )
    ap.add_argument("--records", type=int, default=1000, help="bounded source size")
    ap.add_argument(
        "--input",
        default="",
        help="documents parquet dir (corpus modes; default: documents.parquet "
        "under $SPARK_GRAFT_SF_DIR)",
    )
    ap.add_argument("--out", default="", help="output directory (default: temp)")
    ap.add_argument(
        "--stream",
        action="store_true",
        help="corpus mode: run the topology as a streaming job over the "
        "input dir (one file per micro-batch, exactly-once sink)",
    )
    ap.add_argument("--bootstrap", default="", help="Kafka bootstrap (chained mode)")
    ap.add_argument("--show", type=int, default=10, help="rows to print")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from kafkastreamer_spark.plans.corpus_pipeline import CORPUS
    from kafkastreamer_spark.plans.topology import (
        INT,
        SOURCE_OP,
        PipelineSpec,
        TopologyError,
        chain,
        compile_topology,
        read_dict,
        read_xml,
    )

    vocab = CORPUS if args.mode.startswith("corpus") else INT
    streaming = args.stream and vocab is CORPUS
    try:
        if args.mode.endswith("dag") or args.topology.endswith(".json"):
            with open(args.topology) as fh:
                spec = read_dict(json.load(fh), streaming, vocab=vocab)
        else:
            spec = read_xml(args.topology, streaming, vocab=vocab)
        linear = isinstance(spec, PipelineSpec)
        if args.mode == "chained" and not linear:
            raise TopologyError("chained mode runs a linear topology")
    except (TopologyError, ValueError, OSError) as exc:
        # ValueError covers json.JSONDecodeError; OSError a missing or
        # unreadable file
        print(f"error: invalid topology: {exc}", file=sys.stderr)
        return 2

    from kafkastreamer_spark.plans.topology_mode import (
        DirChannels,
        KafkaChannels,
        run_topology_available_now,
    )
    from kafkastreamer_spark.session import get_spark
    from kafkastreamer_spark.streaming.core import exactly_once_parquet_sink
    from kafkastreamer_spark.streaming.sources import file_source, keyed_int_batch
    from kafkastreamer_spark.tables import DEFAULT_SF_DIR, widen

    dag = chain(spec) if linear else spec
    stream_id = dag.stream_id or args.mode
    partitions = spec.partitions if linear else 2
    # only stop the session if this CLI call created it — embedding
    # callers (tests, notebooks) keep theirs
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name=f"kafkastreamer-{stream_id}")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = args.out or tempfile.mkdtemp(prefix=f"ks_{stream_id}_")
    counts: dict[str, int] = {}

    if args.mode == "chained":
        if args.bootstrap:
            channels = KafkaChannels(args.bootstrap, stream_id)
        else:
            channels = DirChannels(os.path.join(out_dir, "channels"), stream_id)
            keyed_int_batch(spark, args.records, partitions).write.mode(
                "append"
            ).parquet(channels.path(0))
        run_topology_available_now(spark, spec, channels, os.path.join(out_dir, "ckpt"))
        if not args.bootstrap:
            final = spark.read.parquet(channels.path(len(spec.stages)))
            final.orderBy(F.col("value").cast("long")).show(args.show, truncate=False)
    else:
        if vocab is INT:
            src = keyed_int_batch(spark, args.records, partitions).withColumn(
                "value", F.col("value").cast("long")
            )
        else:
            in_dir = args.input or os.path.join(DEFAULT_SF_DIR, "documents.parquet")
            docs = spark.read.parquet(in_dir)
            if streaming:
                src = file_source(
                    spark, in_dir, docs.schema,
                    max_files_per_trigger=CORPUS.files_per_trigger,
                )
            else:
                src = widen(docs)
        sources = {n.name: src for n in dag.nodes if n.operation == SOURCE_OP}
        results = compile_topology(dag, streaming, vocab=vocab)(sources)
        linear_sink = "result" if vocab is INT else "survivors"
        for sink, df in results.items():
            name = linear_sink if linear else sink
            path = os.path.join(out_dir, name)
            if streaming:
                ckpt = "_checkpoint" if linear else f"_checkpoint_{sink}"
                exactly_once_parquet_sink(
                    df, path, os.path.join(out_dir, ckpt)
                ).awaitTermination()
            else:
                df.write.mode("overwrite").parquet(path)
            written = spark.read.parquet(path)
            counts[name] = written.count()
            if vocab is INT:
                print(f"-- sink {name}:")
                written.orderBy("value").show(args.show, truncate=False)

    print(
        f"stream_id={stream_id} mode={args.mode} nodes={len(dag.nodes)} "
        + "".join(f"{name}={n} " for name, n in counts.items())
        + f"out={out_dir}"
    )
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
