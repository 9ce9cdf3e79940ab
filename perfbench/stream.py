"""Stream workload: the reference's 3-stage ``adder`` topology
(``template.xml`` semantics: record i is ``(Key<i%2>, i)`` and leaves
the last stage as i + 3) and a stateful running count.

A closed-loop round drains fixed parquet backlogs three ways:

* ``single``: the whole topology compiled into one streaming query
  (``plans.pipeline.compile_pipeline``), one file per trigger;
* ``chained``: one query per stage through parquet directory channels
  (``plans.topology_mode.run_topology_available_now``);
* ``state``: ``streaming.core.running_count`` in update mode over a
  wide, skewed key space drawn from the seed, one file per trigger.

The first round runs in the fresh JVM (cold); the rounds after it are
warm. Then an open-loop phase drops files into a running single query
at a fixed rate and times each record from its due time to the end of
the micro-batch that committed it. Every phase's output is checked
afterwards: each record exactly once with END = i + 3, and the
running counts equal to the generator's per-key tallies.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Context, median, quantile, start_session, timed_setups
from layers import cpu_util, drain, exec_metrics

SPEC = {
    "stream_id": "bench",
    "partitions": 2,
    "replica": 1,
    "stages": [{"stage": i, "operation": "adder"} for i in range(3)],
}
# --seconds buys one warm round per WARM_ROUND_S (a round's time on four
# cores), at least two; a fixed count, as for the batch passes.
WARM_ROUND_S = 8.0
DURATION_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class Sizes:
    def __init__(self, tiny: bool) -> None:
        k = 20 if tiny else 1
        self.adder_records = 400_000 // k
        self.adder_files = 6
        self.state_records = 200_000 // k
        self.state_files = 6
        self.state_keys = 100_000 // k
        # Open loop: 40k records/s as a 1,600-record file every 40 ms
        # for 8 s, about a fifth of the single-query drain rate.
        self.open_files = 25 if tiny else 200
        self.open_interval_s = 0.04
        self.open_per_file = 1_600 // k


def _split(rng: np.random.Generator, n: int, parts: int) -> np.ndarray:
    """``parts`` file sizes summing to ``n``, each jittered by up to ±25%."""
    w = rng.uniform(0.75, 1.25, parts)
    sizes = np.floor(w / w.sum() * n).astype(np.int64)
    sizes[-1] += n - sizes.sum()
    return sizes


def _write_records(path: str, lo: int, hi: int, keys: np.ndarray | None = None) -> None:
    ids = np.arange(lo, hi)
    key = np.array(["Key0", "Key1"])[ids % 2] if keys is None else keys
    pq.write_table(pa.table({"key": pa.array(key), "value": pa.array(ids).cast(pa.string())}), path)


def write_backlog(d: str, sizes: np.ndarray, keys: np.ndarray | None = None) -> None:
    os.makedirs(d, exist_ok=True)
    lo = 0
    for i, n in enumerate(sizes):
        part = None if keys is None else keys[lo:lo + n]
        _write_records(os.path.join(d, f"part-{i:05d}.parquet"), lo, lo + int(n), part)
        lo += int(n)


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressLog:
    """StreamingQueryListener keeping every progress event (traced runs;
    the chained topology starts its queries internally)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                log.started.append(str(event.id))

            def onQueryProgress(self, event):  # noqa: N802
                log.progress.append(event.progress)

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self.started: list[str] = []
        self.progress: list = []
        spark.streams.addListener(_Listener())


def run(ctx: Context) -> tuple[dict, dict, dict]:
    from pyspark.sql import functions as F

    from kafkastreamer_spark.plans.pipeline import compile_pipeline, from_dict
    from kafkastreamer_spark.plans.topology_mode import RECORD_SCHEMA, DirChannels, run_topology_available_now
    from kafkastreamer_spark.streaming.core import running_count
    from kafkastreamer_spark.streaming.sources import file_source

    spec = from_dict(SPEC)
    sz = Sizes(ctx.tiny)
    rng = np.random.default_rng(ctx.seed)
    adder_sizes = _split(rng, sz.adder_records, sz.adder_files)
    # Skewed key space: key k is drawn with density ~ k^(-2/3).
    state_keys = np.floor(sz.state_keys * rng.random(sz.state_records) ** 3).astype(np.int64)
    tallies = np.bincount(state_keys, minlength=sz.state_keys)
    state_sizes = _split(rng, sz.state_records, sz.state_files)
    open_sizes = _split(rng, sz.open_files * sz.open_per_file, sz.open_files)
    src, state_src, warm_src = ctx.path("backlog"), ctx.path("state_backlog"), ctx.path("warm_backlog")
    counter = itertools.count()

    def fresh(name: str) -> str:
        return ctx.path("runs", f"{name}-{next(counter)}")

    def stage() -> None:
        write_backlog(src, adder_sizes)
        write_backlog(state_src, state_sizes, np.char.add("k", state_keys.astype(str)))
        write_backlog(warm_src, np.array([500, 500]))

    compile_ms: list[float] = []

    def single(spark, source: str, out: str):
        t0 = time.perf_counter()
        stream = file_source(spark, source, RECORD_SCHEMA, max_files_per_trigger=1)
        tc = time.perf_counter()
        compiled = compile_pipeline(spec)(stream)
        compile_ms.append((time.perf_counter() - tc) * 1e3)
        q = (
            compiled.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", out + "-ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return time.perf_counter() - t0, q

    def chained(spark, root: str) -> float:
        channels = DirChannels(root=root, stream_id=spec.stream_id)
        os.makedirs(channels.path(0))
        for f in sorted(os.listdir(src)):
            os.link(os.path.join(src, f), os.path.join(channels.path(0), f))
        t0 = time.perf_counter()
        run_topology_available_now(spark, spec, channels, root + "-ckpt")
        return time.perf_counter() - t0

    def stateful(spark, out: str):
        def sink(batch_df, batch_id):
            batch_df.withColumn("batch", F.lit(batch_id)).write.mode("append").parquet(out)

        t0 = time.perf_counter()
        q = (
            running_count(file_source(spark, state_src, RECORD_SCHEMA, max_files_per_trigger=1))
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", out + "-ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return time.perf_counter() - t0, q

    def warm(spark) -> None:
        single(spark, warm_src, fresh("warm"))

    setup = timed_setups(ctx, stage, warm)
    spark = ctx.spark
    log = ProgressLog(spark) if ctx.trace else None

    rounds: list[dict] = []
    checks: list[tuple[str, str, int]] = []  # (phase, output dir, records)
    t_start = time.perf_counter()
    for _ in range(1 + max(2, round(ctx.seconds / WARM_ROUND_S))):
        r: dict = {}
        with ctx.spans.span("round", 0, index=len(rounds), cold=not rounds) as rs:
            out = fresh("single")
            with ctx.spans.span("single", rs) as ps:
                r["single_s"], q = single(spark, src, out)
            r["single_progress"] = _progress(q)
            r["single_run_id"] = str(q.runId)
            _batch_spans(ctx, r["single_progress"], ps)
            checks.append(("single", out, sz.adder_records))

            root = fresh("chained")
            n_started = len(log.started) if log else 0
            with ctx.spans.span("chained", rs):
                r["chained_s"] = chained(spark, root)
            if log:
                drain(spark.sparkContext)
                r["chained_queries"] = log.started[n_started:]
            checks.append(("chained", DirChannels(root, spec.stream_id).path(3), sz.adder_records))

            out = fresh("state")
            with ctx.spans.span("state", rs) as ps:
                r["state_s"], q = stateful(spark, out)
            r["state_progress"] = _progress(q)
            _batch_spans(ctx, r["state_progress"], ps)
            r["state_out"] = out
        ctx.attempted += 3
        rounds.append(r)

    with ctx.spans.span("open_loop", 0) as ps:
        ol = open_loop(ctx, spark, spec, open_sizes, sz.open_interval_s)
    _batch_spans(ctx, ol["progress"], ps)
    ctx.attempted += 1
    checks.append(("open_loop", ol["out"], int(open_sizes.sum())))
    measured_s = time.perf_counter() - t_start

    t_verify = time.perf_counter()
    with ctx.spans.span("verify", 0):
        ctx.attempted += len(checks) + len(rounds)
        for why in check_adder(checks) + check_counts([r["state_out"] for r in rounds], tallies):
            ctx.fail(why)
    verify_s = time.perf_counter() - t_verify

    warm_rounds = rounds[1:]
    n_adder, n_state = sz.adder_records, sz.state_records

    def round_wall(r):
        return r["single_s"] + r["chained_s"] + r["state_s"]

    e2e = {
        "setup_s": setup["setup_s"],
        "wall_s": median(round_wall(r) for r in warm_rounds),
        "cold_wall_s": round_wall(rounds[0]),
        "latency_p50_ms": ol["p50_ms"],
        "latency_p99_ms": ol["p99_ms"],
    }
    last = warm_rounds[-1]
    drained = [p for r in warm_rounds for p in r["single_progress"]]
    state = last["state_progress"]

    def dur(batches, key):
        return median(p["durationMs"].get(key, 0) for p in batches)

    layers = {k: v for k, v in setup.items() if k.startswith("session.")}
    layers.update({
        "stream.drain_rps": median(n_adder / r["single_s"] for r in warm_rounds),
        "stream.chained_rps": median(n_adder / r["chained_s"] for r in warm_rounds),
        "stream.state_rps": median(n_state / r["state_s"] for r in warm_rounds),
        "stream.latency_samples": ol["samples"],
        "sources.latest_offset_ms": dur(drained, "latestOffset"),
        "sources.get_batch_ms": dur(drained, "getBatch"),
        "sources.backlog_records": ol["backlog_max"],
        "microbatch.count": len(last["single_progress"]),
        "microbatch.rows_p50": median(p["numInputRows"] for p in drained),
        "microbatch.query_planning_ms": dur(drained, "queryPlanning"),
        "microbatch.add_batch_ms": dur(drained, "addBatch"),
        "microbatch.wal_commit_ms": dur(drained, "walCommit"),
        "microbatch.commit_offsets_ms": dur(drained, "commitOffsets"),
        "microbatch.trigger_p50_ms": dur(drained, "triggerExecution"),
        "state.rows_total": state[-1]["stateOperators"][0]["numRowsTotal"] if state else 0,
        "state.rows_updated": sum(p["stateOperators"][0]["numRowsUpdated"] for p in state),
        "state.memory_mb": max((p["stateOperators"][0]["memoryUsedBytes"] for p in state), default=0)
        / 2**20,
        "state.commit_ms": sum(p["stateOperators"][0]["commitTimeMs"] for p in state),
        "state.commit_ms_stateless": sum(
            op["commitTimeMs"] for p in drained + ol["progress"] for op in p["stateOperators"]
        ),
        "pipeline.compile_ms": median(compile_ms),
        "gen.records": int(open_sizes.sum()),
        "gen.lag_ms_max": ol["lag_ms_max"],
    })
    if log is not None:
        layers.update(_traced_layers(ctx, spark, log, last, single, src, n_adder))
    detail = {
        "rounds": len(rounds),
        "measured_s": measured_s,
        "verify_s": verify_s,
        "records": {"adder": n_adder, "state": n_state, "state_keys": int((tallies > 0).sum()),
                    "open_loop": int(open_sizes.sum())},
        "phases_s": [
            {k: r[k] for k in ("single_s", "chained_s", "state_s")} for r in rounds
        ],
        "open_loop": {k: v for k, v in ol.items() if k not in ("progress", "out")},
        "setup": setup,
    }
    return e2e, layers, detail


def _progress(q) -> list[dict]:
    """Progress of every micro-batch that read input, as plain dicts."""
    out = []
    for p in q.recentProgress:
        if p.numInputRows <= 0:
            continue
        out.append({
            "batchId": p.batchId,
            "timestamp": p.timestamp,
            "numInputRows": p.numInputRows,
            "durationMs": dict(p.durationMs),
            "stateOperators": [
                {"numRowsTotal": s.numRowsTotal, "numRowsUpdated": s.numRowsUpdated,
                 "memoryUsedBytes": s.memoryUsedBytes, "commitTimeMs": s.commitTimeMs}
                for s in p.stateOperators
            ],
        })
    return out


def _batch_spans(ctx: Context, progress: list[dict], parent: int) -> None:
    """micro-batch spans and, under each, its ``durationMs`` phases laid
    end to end in execution order."""
    if not ctx.spans.enabled:
        return
    for p in progress:
        start = _epoch(p["timestamp"])
        d = p["durationMs"]
        bid = ctx.spans.add("microbatch", start, start + d.get("triggerExecution", 0) / 1e3,
                            parent, batch=p["batchId"], rows=p["numInputRows"])
        t = start
        for k in DURATION_PHASES:
            ms = d.get(k, 0) / 1e3
            ctx.spans.add(k, t, t + ms, bid)
            t += ms


def open_loop(ctx: Context, spark, spec, sizes: np.ndarray, interval: float) -> dict:
    """Drop one file every ``interval`` seconds into a running single
    query; time each record from its file's due time to the end of the
    micro-batch that committed it."""
    from kafkastreamer_spark.plans.pipeline import compile_pipeline
    from kafkastreamer_spark.plans.topology_mode import RECORD_SCHEMA
    from kafkastreamer_spark.streaming.sources import file_source

    src, staging, out = ctx.path("open", "src"), ctx.path("open", "staging"), ctx.path("open", "out")
    os.makedirs(src)
    os.makedirs(staging)
    total = int(sizes.sum())
    q = (
        compile_pipeline(spec)(file_source(spark, src, RECORD_SCHEMA))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "-ckpt")
        .outputMode("append")
        .start()
    )
    deadline = time.time() + 30
    while "Waiting for data" not in q.status["message"] and time.time() < deadline:
        time.sleep(0.01)
    t0 = time.time() + 0.2
    due = t0 + interval * np.arange(len(sizes))
    dropped = np.zeros(len(sizes))
    errors: list[BaseException] = []

    def generate() -> None:
        try:
            lo = 0
            for k, n in enumerate(sizes):
                tmp = os.path.join(staging, f"part-{k:05d}.parquet")
                _write_records(tmp, lo, lo + int(n))
                lo += int(n)
                pause = due[k] - time.time()
                if pause > 0:
                    time.sleep(pause)
                os.replace(tmp, os.path.join(src, f"part-{k:05d}.parquet"))
                dropped[k] = time.time()
        except BaseException as exc:  # re-raised on the main thread below
            errors.append(exc)

    gen = threading.Thread(target=generate, name="perfbench-generator")
    gen.start()
    gen.join()
    if errors:
        q.stop()
        raise errors[0]
    deadline = time.time() + 60
    while time.time() < deadline:
        done = sum(p.numInputRows for p in q.recentProgress)
        if done >= total:
            break
        time.sleep(0.02)
    q.stop()
    progress = _progress(q)

    ends = np.array([_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
                     for p in progress])
    committed = np.cumsum([p["numInputRows"] for p in progress])
    # Files become visible atomically and the source takes them in drop
    # order, so file k landed in the first batch whose cumulative row
    # count covers it.
    batch_of = np.minimum(np.searchsorted(committed, np.cumsum(sizes)), len(ends) - 1)
    lat_ms = (ends[batch_of] - due) * 1e3
    per_record = np.repeat(lat_ms, sizes)
    generated = np.array([sizes[dropped <= e].sum() for e in ends])
    return {
        "progress": progress,
        "out": out,
        "p50_ms": quantile(per_record, 0.5),
        "p99_ms": quantile(per_record, 0.99),
        "samples": int(per_record.size),
        "batches": len(progress),
        "backlog_max": int(max(0, (generated - committed).max())) if len(ends) else 0,
        "lag_ms_max": float((dropped - due).max() * 1e3),
    }


def committed_files(path: str) -> list[str]:
    """Data files a streaming file sink has committed: the union of the
    ``add`` entries of its ``_spark_metadata`` log."""
    import json
    from urllib.parse import unquote, urlparse

    log = os.path.join(path, "_spark_metadata")
    files: set[str] = set()
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                if entry.get("action", "add") == "add":
                    files.add(unquote(urlparse(entry["path"]).path))
    return sorted(files)


def check_adder(checks: list[tuple[str, str, int]]) -> list[str]:
    """For each ``(phase, sink dir, n)``: records 0..n-1 each exactly
    once, as (Key<i%2>, i + 3), among the files the sink committed."""
    errors = []
    for phase, path, n in checks:
        t = pq.read_table(committed_files(path), columns=["key", "value"])
        vals = t.column("value").cast(pa.int64()).to_numpy()
        order = np.argsort(vals)
        vals = vals[order]
        keys = t.column("key").to_numpy(zero_copy_only=False)[order]
        if len(vals) != n or not np.array_equal(vals, np.arange(3, n + 3)):
            errors.append(f"{phase}: {len(vals)} records, want {n} records 3..{n + 2} exactly once")
        elif not np.array_equal(keys, np.array(["Key0", "Key1"])[(vals - 3) % 2]):
            errors.append(f"{phase}: records with a key other than Key<i%2>")
    return errors


def check_counts(paths: list[str], tallies: np.ndarray) -> list[str]:
    """In every running-count output, the last emitted count of each key
    equals the generator's tally."""
    import pyarrow.dataset as ds

    want = {f"k{k}": int(c) for k, c in enumerate(tallies) if c}
    errors = []
    for i, path in enumerate(paths):
        df = ds.dataset(path, format="parquet").to_table(columns=["key", "count", "batch"]).to_pandas()
        last = df.sort_values("batch").drop_duplicates("key", keep="last")
        have = dict(zip(last["key"], last["count"].astype(int)))
        if have != want:
            wrong = sum(1 for k in want.keys() | have.keys() if want.get(k) != have.get(k))
            errors.append(f"state drain {i}: {wrong} of {len(want)} keys have the wrong count")
    return errors


def _traced_layers(ctx: Context, spark, log: ProgressLog, last: dict, single, src: str, n: int) -> dict:
    """Layers only a traced run measures: executor metrics of the last
    single-query drain, per-stage time of the last chained drain, and
    the single drain of the ``n``-record backlog again on ``local[1]``."""
    sc = spark.sparkContext
    ex = exec_metrics(sc, [last["single_run_id"]])
    out = {f"exec.{k}": v for k, v in ex.items() if k != "jobs"}
    out["exec.cpu_util"] = cpu_util(ex, int(sc.defaultParallelism))
    for i, qid in enumerate(last["chained_queries"]):
        ms = sum(p.durationMs.get("triggerExecution", 0) for p in log.progress if str(p.id) == qid)
        out[f"topology.stage{i}_s"] = ms / 1e3

    spark.stop()
    spark = start_session(ctx, master="local[1]")
    out_dir = ctx.path("local1", "out")
    secs, _ = single(spark, src, out_dir)
    out["scale.drain_rps_local1"] = n / secs
    ctx.attempted += 1
    for why in check_adder([("local[1] single", out_dir, n)]):
        ctx.fail(why)
    return out
