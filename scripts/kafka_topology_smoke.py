"""Turnkey broker smoke test for the Kafka path (round-3 verdict #3).

The Kafka transport (`streaming/sources.py kafka_stage_source`,
`plans/topology_mode.KafkaChannels`, `streaming/eos.py
KafkaEosChannel`) is the one code path with zero runtime evidence in
this sandbox — `docs/kafka_smoke_blocker.md` records why (no broker,
no spark-sql-kafka jar, no Python client; installs prohibited). This
script is the *ready-to-run* smoke the day a broker exists:

    python scripts/kafka_topology_smoke.py --bootstrap host:9092

drives the reference's own acceptance workload (SURVEY.md §5: the
3-stage `adder` topology from template.xml, N keyed ints in, END
value i + 3 out) end-to-end through real Kafka topics, then replays
the exactly-once protocol through `KafkaEosChannel` and asserts the
dedup view holds. With no broker reachable it drops to `--dry-run`:
the SAME spec, seeding, drain loop, and verification run through
`DirChannels`/`DirEosChannel` (identical code path minus the
transport), so the script's own logic is CI-verified continuously
(tests/test_kafka_smoke_dry_run.py) — on deployment day only the
transport is new.

Exit code 0 = smoke passed (or dry-run passed). Non-zero = failure,
with the environment blockers re-verified and printed when the broker
path is unavailable.
"""

from __future__ import annotations

import argparse
import glob
import importlib.util
import json
import os
import shutil
import socket
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from kafkastreamer_spark.plans.pipeline import from_dict  # noqa: E402
from kafkastreamer_spark.plans.topology_mode import (  # noqa: E402
    DirChannels,
    KafkaChannels,
    run_topology_available_now,
)
from kafkastreamer_spark.streaming.eos import (  # noqa: E402
    DirEosChannel,
    KafkaEosChannel,
    exactly_once_sink,
    exactly_once_view,
)
from kafkastreamer_spark.streaming.sources import keyed_int_batch  # noqa: E402

SPEC = from_dict(
    {
        "stream_id": "smoke",
        "partitions": 2,
        "replica": 1,
        "stages": [
            {"stage": 0, "operation": "adder"},
            {"stage": 1, "operation": "adder"},
            {"stage": 2, "operation": "adder"},
        ],
    }
)


# ---------------------------------------------------------------------------
# Environment probes (the three blockers of docs/kafka_smoke_blocker.md)
# ---------------------------------------------------------------------------


def probe_blockers(bootstrap: str) -> dict:
    host, _, port = bootstrap.partition(":")
    reachable = False
    try:
        with socket.create_connection((host, int(port or "9092")), timeout=3):
            reachable = True
    except OSError:
        pass
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = glob.glob(os.path.join(spark_home, "jars", "*kafka*.jar")) + glob.glob(
        os.path.join(spark_home, "jars", "*", "*kafka*.jar")
    )
    return {
        "broker_reachable": reachable,
        "spark_sql_kafka_jar": sorted(jars),
        "python_kafka_client": importlib.util.find_spec("kafka") is not None,
    }


# ---------------------------------------------------------------------------
# The smoke body — transport-agnostic
# ---------------------------------------------------------------------------


def seed(spark, channels, n: int) -> None:
    """Records 0..n-1 into channel 0 (the reference's Producer.java
    workload)."""
    src = keyed_int_batch(spark, n, SPEC.partitions)
    if isinstance(channels, DirChannels):
        src.write.mode("append").parquet(channels.path(0))
    else:
        (
            src.selectExpr("CAST(key AS STRING) key", "CAST(value AS STRING) value")
            .write.format("kafka")
            .option("kafka.bootstrap.servers", channels.bootstrap)
            .option("topic", channels.topic(0))
            .save()
        )


def read_final(spark, channels):
    """Batch-read the last stage's output channel."""
    if isinstance(channels, DirChannels):
        return spark.read.parquet(channels.path(len(SPEC.stages)))
    raw = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", channels.bootstrap)
        .option("subscribe", channels.topic(len(SPEC.stages)))
        .load()
    )
    return raw.selectExpr("CAST(key AS STRING) key", "CAST(value AS STRING) value")


def verify_end_values(df, n: int) -> dict:
    """Every record i in [0, n) arrives exactly once with value i+3."""
    vals = df.select(F.col("value").cast("long").alias("v"))
    total = vals.count()
    distinct = vals.distinct().count()
    rng = vals.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).collect()[0]
    ok = total == n and distinct == n and rng.lo == 3 and rng.hi == n + 2
    return {"ok": ok, "total": total, "distinct": distinct,
            "lo": rng.lo, "hi": rng.hi, "expected": [3, n + 2]}


def run_topology_smoke(spark, channels, ckpt_root: str, n: int) -> dict:
    seed(spark, channels, n)
    run_topology_available_now(spark, SPEC, channels, ckpt_root)
    return verify_end_values(read_final(spark, channels), n)


def run_eos_smoke(spark, channel, src_dir: str, ckpt: str, n: int) -> dict:
    """Exactly-once envelope through the channel: produce a stream of
    n records (at-least-once at the physical layer), read back through
    the dedup view, expect exactly n distinct records."""
    keyed_int_batch(spark, n, SPEC.partitions).write.mode("append").parquet(src_dir)
    from kafkastreamer_spark.plans.topology_mode import RECORD_SCHEMA
    from kafkastreamer_spark.streaming.sources import file_source

    stream = file_source(spark, src_dir, RECORD_SCHEMA)
    q = exactly_once_sink(stream, channel, ckpt)
    q.awaitTermination()
    # replay the same produce (simulated at-least-once duplicate)
    q2 = exactly_once_sink(stream, channel, ckpt + "_replay")
    q2.awaitTermination()
    raw = channel.read_all(spark)
    deduped = exactly_once_view(raw)
    return {
        "raw_rows": raw.count(),
        "deduped_rows": deduped.count(),
        "ok": deduped.count() == n,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bootstrap", default=os.environ.get("KAFKA_BOOTSTRAP", "localhost:9092"))
    ap.add_argument("--records", type=int, default=1000)
    ap.add_argument("--dry-run", action="store_true",
                    help="force the DirChannels transport (no broker needed)")
    args = ap.parse_args()

    blockers = probe_blockers(args.bootstrap)
    kafka_ready = (
        blockers["broker_reachable"] and bool(blockers["spark_sql_kafka_jar"])
    )
    mode = "kafka" if (kafka_ready and not args.dry_run) else "dry_run"

    from kafkastreamer_spark.session import get_spark

    spark = get_spark(app_name="kafka-topology-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="kafka_smoke_")
    try:
        if mode == "kafka":
            channels = KafkaChannels(args.bootstrap, "smoke")
            eos_channel = KafkaEosChannel(args.bootstrap, "__eos_smoke")
        else:
            channels = DirChannels(os.path.join(tmp, "ch"), "smoke")
            eos_channel = DirEosChannel(os.path.join(tmp, "eos"))

        topo = run_topology_smoke(
            spark, channels, os.path.join(tmp, "ckpt"), args.records
        )
        eos = run_eos_smoke(
            spark, eos_channel, os.path.join(tmp, "eos_src"),
            os.path.join(tmp, "eos_ckpt"), args.records,
        )
        result = {
            "mode": mode,
            "records": args.records,
            "blockers": blockers,
            "topology": topo,
            "eos": eos,
            "ok": topo["ok"] and eos["ok"],
        }
        print(json.dumps(result))
        return 0 if result["ok"] else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
