"""The streaming package's one micro-batch commit path.

``run_batches`` is the only ``foreachBatch`` starter: a checkpointed,
availableNow-triggered query that hands every micro-batch and its
batch id to a function. Sinks whose output is keyed by batch id
(``exactly_once_parquet_sink``, the IVF index, the EOS producer) or
rewritten idempotently (the bucketed upserts) call it directly.

``fold_sink`` is the only state sink. A state sink keeps a small
parquet table that each micro-batch folds into:
``state' = fold(batch_df, state, batch_id)``, with ``state`` None
before the first publish. ``fold_sink`` owns everything around the
fold:

1. **Pairing check.** The pointer records the streaming query id
   (stable across restarts from the same checkpoint) that published
   the current version. A different query id means the state dir was
   re-paired with a fresh checkpoint, whose batch ids restart at 0;
   that raises ``ValueError`` instead of skipping or re-applying
   batches against stale state.
2. **Replay skip.** A batch whose id the pointer already records has
   committed its state; a crash before the checkpoint commit
   re-delivers it, and the sink skips it. Folds therefore need not be
   idempotent (sums, sketch merges, the novelty bloom).
3. **Publish.** ``publish_state`` writes the fold's table into a fresh
   ``v{batch_id}_{attempt}`` dir and flips the ``_CURRENT`` pointer
   with ``os.rename``, so a crash at any instant leaves the pointer
   naming a complete table. The previous version is kept for readers
   that resolved the pointer just before the flip (one publish of
   slack); older ones are GC'd.

Test hooks: ``pre_flip_hook(batch_id)`` runs after the version write
and before the flip; ``post_publish_hook(batch_id)`` runs after the
flip and before ``foreachBatch`` returns, i.e. before the checkpoint
commit. A hook that raises simulates a driver crash in that window.

Durability: the pointer flip is fsync'd (file and directory); the
parquet payload's durability is the filesystem's.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

POINTER = "_CURRENT"


def _pointer(state_dir: str) -> tuple[str | None, str | None]:
    """(published version dir name, publishing query id) from the
    pointer file; (None, None) before the first publish."""
    ptr = os.path.join(state_dir, POINTER)
    if not os.path.exists(ptr):
        return None, None
    with open(ptr, encoding="utf-8") as fh:
        lines = fh.read().split()
    return (lines[0] if lines else None), (lines[1] if len(lines) > 1 else None)


def current_version(state_dir: str) -> str | None:
    """Name of the currently published version dir, or None if no
    state has ever been published."""
    return _pointer(state_dir)[0]


def applied_batch(state_dir: str) -> int | None:
    """The batch id whose publish the pointer names, or None. Version
    dirs are ``v{batch_id}_{attempt}``, so the pointer doubles as the
    replay high-water mark."""
    name = current_version(state_dir)
    if name is None:
        return None
    try:
        return int(name[1:].split("_", 1)[0])
    except ValueError:
        return None


def state_exists(state_dir: str) -> bool:
    """True iff a complete published version exists."""
    name = current_version(state_dir)
    return name is not None and os.path.isdir(os.path.join(state_dir, name))


def read_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The currently published state table, or None before the first
    publish. Always a complete table: the pointer only ever names a
    version whose parquet job committed."""
    name = current_version(state_dir)
    if name is None:
        return None
    return spark.read.parquet(os.path.join(state_dir, name))


def _fresh_version_dir(state_dir: str, batch_id: int) -> str:
    attempt = 0
    while True:
        name = f"v{batch_id}_{attempt}"
        path = os.path.join(state_dir, name)
        if not os.path.exists(path):
            return name
        attempt += 1


def publish_state(
    df: DataFrame,
    state_dir: str,
    batch_id: int,
    pre_flip_hook=None,
    query_id: str | None = None,
) -> None:
    """Persist ``df`` as the new current state, atomically.

    1. write the table into a fresh ``v{batch_id}_{attempt}`` dir
       (never the dir the pointer references — safe to plan lazily
       over the current state);
    2. flip the pointer: write ``_CURRENT.tmp`` (the version name and,
       if given, ``query_id`` on a second line) then ``os.rename`` it
       over ``_CURRENT`` (atomic replace on POSIX), then fsync the
       state_dir so the rename survives OS crash/power loss;
    3. GC older version dirs, retaining the one the pointer named
       before this flip (best-effort; leftovers are retried on the
       next publish).

    Raises ``ValueError`` if ``batch_id`` is lower than the already
    applied batch: batch ids only move forward within one checkpoint.

    ``pre_flip_hook(batch_id)``, if given, runs after the version
    write but before the pointer flip.
    """
    applied = applied_batch(state_dir)
    if applied is not None and batch_id < applied:
        raise ValueError(
            f"batch id regression on {state_dir!r}: batch {batch_id} "
            f"arrived but batch {applied} is already applied — a fresh "
            "checkpoint was re-paired with an existing state_dir "
            "(create and delete them together)"
        )
    os.makedirs(state_dir, exist_ok=True)
    prev = current_version(state_dir)
    name = _fresh_version_dir(state_dir, batch_id)
    df.write.mode("overwrite").parquet(os.path.join(state_dir, name))
    if pre_flip_hook is not None:
        pre_flip_hook(batch_id)
    ptr = os.path.join(state_dir, POINTER)
    tmp = ptr + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(name if query_id is None else f"{name}\n{query_id}\n")
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, ptr)  # the atomic commit point
    try:
        dir_fd = os.open(state_dir, os.O_RDONLY)
        try:
            os.fsync(dir_fd)  # make the rename durable, not just atomic
        finally:
            os.close(dir_fd)
    except OSError:
        pass  # platforms that can't fsync a directory keep atomicity only
    for entry in os.listdir(state_dir):
        if entry in (name, prev, POINTER) or not entry.startswith("v"):
            continue
        shutil.rmtree(os.path.join(state_dir, entry), ignore_errors=True)


def run_batches(
    stream: DataFrame, checkpoint: str, fn, output_mode: str | None = None
) -> StreamingQuery:
    """Start ``fn(batch_df, batch_id)`` over every micro-batch of
    ``stream``: checkpointed at ``checkpoint``, availableNow trigger.
    ``output_mode`` (e.g. ``"update"`` over a running aggregation)
    is passed to the writer when given."""
    writer = stream.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint
    )
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    return writer.trigger(availableNow=True).start()


def fold_sink(
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    fold,
    pre_flip_hook=None,
    post_publish_hook=None,
) -> StreamingQuery:
    """Maintain ``state_dir`` as the fold of every micro-batch:
    ``fold(batch_df, state_or_None, batch_id) -> DataFrame`` is the
    next state. Pairing check, replay skip, publish and hooks as in
    the module docstring."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        query_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        name, owner = _pointer(state_dir)
        if owner is not None and owner != query_id:
            raise ValueError(
                f"{state_dir!r} was published by streaming query {owner} "
                f"(version {name}) but batch {batch_id} comes from query "
                f"{query_id}: a fresh checkpoint was paired with an "
                "existing state_dir (create and delete them together)"
            )
        if applied_batch(state_dir) == batch_id:
            return  # replay of an already-published batch
        state = fold(batch_df, read_state(spark, state_dir), batch_id)
        publish_state(state, state_dir, batch_id, pre_flip_hook, query_id)
        if post_publish_hook is not None:
            post_publish_hook(batch_id)

    return run_batches(stream, checkpoint, apply_batch)


def merge_fold(to_partials, key_cols, merges):
    """The fold of an associative per-key merge: the first batch's
    ``to_partials(batch_df)`` is the state; later batches group
    state ∪ partials by ``key_cols`` (none: one global row) and merge
    each column with ``merges[col]`` (``F.sum`` for additive totals,
    a sketch union aggregate for sketches). Grouping, unlike a join,
    merges NULL keys into one row."""

    def fold(batch_df: DataFrame, state, batch_id: int) -> DataFrame:
        partials = to_partials(batch_df)
        if state is None:
            return partials
        return (
            state.unionByName(partials)
            .groupBy(*key_cols)
            .agg(*[agg(c).alias(c) for c, agg in merges.items()])
        )

    return fold

