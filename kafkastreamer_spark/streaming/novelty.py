"""Streaming corpus-novelty gate with BOUNDED state: a Bloom filter
over every admitted document's word 3-grams.

The batch novelty diagnostics (``text_ngram_novelty_decile``,
``dedup_rate_by_decile``) tell a curator the intake is re-crawling
known content; the production response is to GATE at intake: admit a
document only if enough of its n-grams are new. Exact "seen n-grams"
state is unbounded (it grows with the distinct-shingle count of the
corpus — the same trap as the TTL-less exact_dedup stage,
plans/corpus_pipeline.py); this twin bounds it with the classic
one-sided trade: a fixed m-bit Bloom filter whose false positives can
only UNDERCOUNT a document's novelty (a genuinely novel shingle may
be counted as seen; a seen shingle is never counted novel). The gate
is therefore conservative-reject: it never admits a document the
exact gate would reject, and rejects a borderline novel document with
probability bounded by the standard Bloom FP formula
(1 - e^{-kn/m})^k per shingle lookup.

Sizing m (the capacity contract): at k = 4 hashes the per-lookup FP
stays <= 1e-4 while kn/m <= -ln(1 - 1e-1) ~= 0.1054, i.e. up to
n ~= m/38 distinct admitted shingles — size **m >= 38x** (round to
40x) the expected distinct admitted shingle count. At the default
m = 2^22 bits (512 KiB) that is ~110k shingles; by ~260k shingles the
per-lookup FP has already risen to ~2.3e-3. Because an undersized
bitmap degrades SILENTLY (conservative-reject decays toward
reject-everything), ``maintain_novelty_gate`` measures the fill ratio
of every new bitmap at publish time and RAISES once it crosses
``saturation_fill`` (default 0.5, where per-lookup FP is ~6e-2 at
k=4) instead of continuing to gate with meaningless decisions — the
state is left at the last healthy publish. ``m_bits`` must be a power
of two (8 <= m): the vectorized scorer reduces the 128-bit md5-derived
double hash modulo 2^64 before taking ``% m``, which equals exact
integer arithmetic only when m divides 2^64.

Replay/crash semantics: the gate is a ``statedir.fold_sink`` fold
that writes the batch's survivors before returning the new bloom, so
the survivors are on disk before the pointer flip. A batch replayed
after the flip is skipped by the sink (re-scoring it against a bloom
that already holds its own shingles would reject its admitted docs);
one replayed before the flip re-scores against the old bloom and
rewrites the same survivors.

Determinism: shingle arrays come from the SAME Spark expression as
the batch operators (no tokenizer drift); bits are double-hashed from
the shingle's md5 (h1 + i*h2 mod m), so a given corpus always maps to
the same bitmap — the gate's decisions are reproducible bit-for-bit.
The md5 itself is computed JVM-SIDE (``F.md5`` once per shingle,
split into four 32-bit ``conv(substring(...), 16, 10)`` quarters that
each fit a long), so the Arrow passes only flatten numeric lists and
run whole-array numpy positions / membership / bit-sets — zero
per-shingle Python in the hot path. ``_positions``/``_test``/``_set``
and ``_hash_uniques`` remain the scalar references the parity tests
check the Spark-hashed vectorized path against.

Scale: per batch, one Arrow pass scores documents against the
broadcast bitmap and one Arrow pass emits per-partition bitmaps of
the ADMITTED documents' shingles (each m/8 bytes); the driver ORs
#partitions bitmaps — a bounded, documented driver materialization of
the same class as the IVF list-id collects. No shuffle at all. The
per-batch broadcast is unpersisted at batch end so a long-running
stream holds one bitmap, not one per micro-batch.

Reference parity note: no reference analog (keyed int streamer,
v1/src/main/java/Stream/Streamer.java); SURVEY §2 Part-B intake.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from itertools import chain

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkastreamer_spark.operators._embed import shingles, tokens
from kafkastreamer_spark.streaming import statedir

BLOOM_BITS = 1 << 22  # 512 KiB of state, forever
BLOOM_HASHES = 4
NOVELTY_THRESHOLD = 0.5  # admit docs with >= 50% unseen shingles
SATURATION_FILL = 0.5  # raise past this fill ratio (FP ~6e-2 at k=4)


def _positions(shingle: str, m: int) -> list[int]:
    """Scalar reference for the double-hash bit positions (exact
    integer arithmetic; the vectorized path must match it)."""
    d = hashlib.md5(shingle.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:16], "big")
    return [(h1 + i * h2) % m for i in range(BLOOM_HASHES)]


def _test(bloom: np.ndarray, pos: list[int]) -> bool:
    return all(bloom[p >> 3] & (1 << (p & 7)) for p in pos)


def _set(bloom: np.ndarray, pos: list[int]) -> None:
    for p in pos:
        bloom[p >> 3] |= 1 << (p & 7)


def _hash_uniques(uniq: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) uint64 arrays for an array of shingles — the Python
    reference the hot path's Spark-side md5 columns are parity-tested
    against (the gate itself never calls this per shingle)."""
    h1 = np.empty(len(uniq), dtype=np.uint64)
    h2 = np.empty(len(uniq), dtype=np.uint64)
    md5 = hashlib.md5
    for i, s in enumerate(uniq):
        d = md5(s.encode("utf-8")).digest()
        h1[i] = int.from_bytes(d[:8], "big")
        h2[i] = int.from_bytes(d[8:16], "big")
    return h1, h2


_HASH_COLS = ("_h1a", "_h1b", "_h2a", "_h2b")


def _with_shingle_hashes(df: DataFrame, n: int, text_col: str) -> DataFrame:
    """Stage the shingle array plus four array<long> columns carrying
    each shingle's md5 as 32-bit quarters, ALL computed JVM-side:
    ``md5`` once per shingle, then ``conv(substring(hex), 16, 10)``
    per quarter (8 hex chars always fit a long). The Arrow passes then
    only flatten numeric lists — no Python hashing at all."""
    df = df.withColumn("_sh", shingles(tokens(text_col), n))
    df = df.withColumn("_hx", F.transform("_sh", F.md5))

    def quarter(start: int):
        # NOTE: must return a ONE-arg lambda — a two-arg lambda would
        # make transform() bind the second parameter to the element
        # INDEX, not a Python default
        return lambda h: F.conv(F.substring(h, start, 8), 16, 10).cast(
            "long"
        )

    for name, start in zip(_HASH_COLS, (1, 9, 17, 25)):
        df = df.withColumn(name, F.transform("_hx", quarter(start)))
    return df.drop("_hx")


def _flat_positions(pdf: pd.DataFrame, total: int, m: int) -> np.ndarray:
    """(total, BLOOM_HASHES) positions from the staged hash columns:
    reassemble h1/h2 uint64 from the 32-bit quarters and double-hash.
    Bit-identical to the scalar reference because md5 hex is
    big-endian — (int(hex[:8],16) << 32) | int(hex[8:16],16) ==
    int.from_bytes(digest[:8], 'big')."""
    q = [
        np.fromiter(
            chain.from_iterable(pdf[c]), dtype=np.int64, count=total
        ).astype(np.uint64)
        for c in _HASH_COLS
    ]
    h1 = (q[0] << np.uint64(32)) | q[1]
    h2 = (q[2] << np.uint64(32)) | q[3]
    return _positions_batch(h1, h2, m)


def _positions_batch(h1: np.ndarray, h2: np.ndarray, m: int) -> np.ndarray:
    """(n, BLOOM_HASHES) int64 bit positions. uint64 arithmetic wraps
    mod 2^64; because m is a power of two dividing 2^64 this equals
    the scalar reference's exact (h1 + i*h2) % m."""
    i = np.arange(BLOOM_HASHES, dtype=np.uint64)
    pos = (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)
    return pos.astype(np.int64)


def _member_mask(bloom: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Per-row all-bits-set membership for a (n, k) position array."""
    byte = bloom[pos >> 3]
    bit = np.left_shift(
        np.uint8(1), (pos & 7).astype(np.uint8), dtype=np.uint8
    )
    return ((byte & bit) != 0).all(axis=1)


def _set_batch(bloom: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.ravel()
    bit = np.left_shift(
        np.uint8(1), (flat & 7).astype(np.uint8), dtype=np.uint8
    )
    np.bitwise_or.at(bloom, flat >> 3, bit)


def bloom_fill_ratio(bloom_bytes: bytes) -> float:
    """Fraction of set bits — the capacity gauge an operator watches
    (FP rate rises with fill; re-size m when this passes ~0.5)."""
    arr = np.frombuffer(bloom_bytes, dtype=np.uint8)
    return float(np.unpackbits(arr).sum()) / (len(arr) * 8)


def read_bloom(spark: SparkSession, state_dir: str) -> bytes | None:
    df = statedir.read_state(spark, state_dir)
    if df is None:
        return None
    return bytes(df.collect()[0]["bloom"])


class BloomSaturationError(RuntimeError):
    """The gate's bitmap crossed the saturation threshold: its
    conservative-reject contract is decaying toward rejecting every
    novel document. Re-shard or re-size m (>= 38x the expected
    distinct admitted shingle count for per-lookup FP <= 1e-4 at
    k=4) and rebuild the state."""


def maintain_novelty_gate(
    stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = NOVELTY_THRESHOLD,
    m_bits: int = BLOOM_BITS,
    saturation_fill: float = SATURATION_FILL,
    pre_flip_hook=None,
):
    """Run the gate over a document stream: survivors (novelty >=
    ``threshold``, no-shingle docs always pass) land in
    ``out_dir/batch_id=N``; the bloom state lives in ``state_dir``.
    Raises ``BloomSaturationError`` (failing the query) the moment a
    batch would publish a bitmap filled past ``saturation_fill`` —
    see the module docstring's m-sizing rule. Returns the
    StreamingQuery (availableNow trigger)."""
    import os

    if m_bits < 8 or (m_bits & (m_bits - 1)) != 0:
        raise ValueError(
            f"m_bits must be a power of two >= 8, got {m_bits} (the "
            "vectorized double hash reduces mod 2^64 before % m)"
        )
    spark = stream.sparkSession

    def fold(bdf: DataFrame, state, batch_id: int) -> DataFrame:
        """Score the batch against the current bloom, write its
        survivors, and return the bloom row OR'd with the survivors'
        shingles."""
        bloom0 = (
            np.frombuffer(bytes(state.collect()[0]["bloom"]), dtype=np.uint8).copy()
            if state is not None
            else np.zeros(m_bits // 8, dtype=np.uint8)
        )
        bc = spark.sparkContext.broadcast(bloom0.tobytes())
        survivors = None
        try:
            staged = _with_shingle_hashes(bdf, n, text_col)

            def score(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                bl = np.frombuffer(bc.value, dtype=np.uint8)
                for pdf in pdfs:
                    lens = pdf["_sh"].map(len).to_numpy(dtype=np.int64)
                    total = int(lens.sum())
                    if total == 0:
                        yield pdf  # no-shingle docs always pass
                        continue
                    pos = _flat_positions(pdf, total, m_bits)
                    novel_flat = ~_member_mask(bl, pos)
                    csum = np.concatenate(
                        [[0], np.cumsum(novel_flat, dtype=np.int64)]
                    )
                    ends = np.cumsum(lens)
                    novel = csum[ends] - csum[ends - lens]
                    keep = (lens == 0) | (novel >= threshold * lens)
                    yield pdf[pd.Series(keep, index=pdf.index)]

            survivors = staged.mapInPandas(
                score, schema=staged.schema
            ).persist()
            target = os.path.join(out_dir, f"batch_id={batch_id}")
            survivors.drop("_sh", *_HASH_COLS).write.mode(
                "overwrite"
            ).parquet(target)

            def bits(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                part = np.zeros(m_bits // 8, dtype=np.uint8)
                any_sh = False
                for pdf in pdfs:
                    total = int(pdf[_HASH_COLS[0]].map(len).sum())
                    if total == 0:
                        continue
                    any_sh = True
                    _set_batch(part, _flat_positions(pdf, total, m_bits))
                if any_sh:
                    yield pd.DataFrame({"b": [part.tobytes()]})

            parts = survivors.select(*_HASH_COLS).mapInPandas(
                bits, schema="b binary"
            ).collect()  # bounded: #partitions x m/8 bytes (documented)
            merged = bloom0
            for r in parts:
                merged |= np.frombuffer(r["b"], dtype=np.uint8)
            fill = float(np.unpackbits(merged).sum()) / m_bits
            if fill > saturation_fill:
                raise BloomSaturationError(
                    f"novelty-gate bloom at {state_dir!r} is "
                    f"{fill:.2%} full after batch {batch_id} "
                    f"(threshold {saturation_fill:.0%}): m_bits="
                    f"{m_bits} is undersized for this corpus — size "
                    "m >= 38x the expected distinct admitted shingle "
                    "count (FP <= 1e-4 at k=4) and rebuild the state"
                )
            return spark.createDataFrame(
                [(bytearray(merged.tobytes()),)], "bloom binary"
            ).coalesce(1)
        finally:
            if survivors is not None:
                survivors.unpersist()
            bc.unpersist(blocking=False)

    return statedir.fold_sink(
        stream, state_dir, checkpoint, fold, pre_flip_hook=pre_flip_hook
    )
