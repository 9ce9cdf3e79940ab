"""Streaming sketch maintenance and stateful per-key detectors.

The Count-Min, HyperLogLog and KLL sinks keep one sketch as a
``statedir.fold_sink`` state table, merged per micro-batch: CMS cells
add (d*w rows, kilobytes), HLL and KLL sketches union (one row). State
stays bounded whatever the stream volume — unlike the reference's
exact per-key Map state, which grows with key cardinality
(v1/src/main/java/Stream/Streamer.java:323-344).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafkastreamer_spark.operators.sketches import CMS_DEPTH, CMS_WIDTH
from kafkastreamer_spark.streaming import statedir


def cms_cells(df: DataFrame, key_col: str) -> DataFrame:
    """(d, bucket, cell) Count-Min cells for a (micro-)batch — md5
    bucket hashes, identical to the batch operator's layout."""
    salted = df.select(
        F.col(key_col).cast("string").alias("k"),
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("d"),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("d").cast("string"), F.lit(":"), F.col("k"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % CMS_WIDTH,
    )
    return salted.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("cell"))


def cms_merge_sink(
    stream: DataFrame,
    base_dir: str,
    checkpoint: str,
    key_col: str,
    pre_flip_hook=None,
    post_publish_hook=None,
) -> StreamingQuery:
    """Maintain a persistent Count-Min sketch over a stream: the state
    (d, bucket, cell) is the cell-wise sum of every batch's
    ``cms_cells``. Kept through ``statedir.fold_sink``."""
    return statedir.fold_sink(
        stream,
        base_dir,
        checkpoint,
        statedir.merge_fold(
            lambda batch_df: cms_cells(batch_df, key_col),
            ["d", "bucket"],
            {"cell": F.sum},
        ),
        pre_flip_hook=pre_flip_hook,
        post_publish_hook=post_publish_hook,
    )


def _sketch_fold(batch_agg, merge_agg):
    """One-row sketch state (sk): each batch aggregates into a sketch
    with ``batch_agg`` and ``merge_agg`` unions it into the state."""
    return statedir.merge_fold(
        lambda batch_df: batch_df.agg(batch_agg.alias("sk")), [], {"sk": merge_agg}
    )


def hll_merge_sink(
    stream: DataFrame,
    base_dir: str,
    checkpoint: str,
    key_col: str,
    pre_flip_hook=None,
    post_publish_hook=None,
) -> StreamingQuery:
    """Maintain a persistent HyperLogLog distinct-count sketch of
    ``key_col`` (``hll_sketch_agg`` per batch, ``hll_union_agg`` into
    the state). State is one sketch row (KBs at lgConfigK=12)
    whatever the stream's cardinality."""
    return statedir.fold_sink(
        stream,
        base_dir,
        checkpoint,
        _sketch_fold(F.hll_sketch_agg(key_col), F.hll_union_agg),
        pre_flip_hook=pre_flip_hook,
        post_publish_hook=post_publish_hook,
    )


def rate_limit_stateful(
    stream: DataFrame, key_col: str, ts_col: str, limit: int
) -> DataFrame:
    """Streaming admission control — the stateful twin of the batch
    ``events_rate_limit_quota``: per (key, week) the first ``limit``
    rows (in stream arrival order) are admitted, later ones emit as
    throttled. State per key is one (week_start, count) pair — it
    RESETS when the key's stream moves to a new week, so state size is
    O(active keys), not O(keys × weeks); a real deployment adds an
    idle timeout to drop keys that go quiet.

    Batch parity caveat (tested): arrival order within a micro-batch
    follows the input order, so parity with the batch quota holds when
    the stream is time-ordered per key — the Kafka-partition-per-key
    delivery the reference assumes (Streamer.java:113-120).
    """
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        week, count = state.get if state.exists else (None, 0)
        admitted = 0
        throttled = 0
        for pdf in pdfs:
            weeks = pdf[ts_col].dt.to_period("W").dt.start_time
            for w in weeks:
                wk = str(w.date())
                if wk != week:
                    week, count = wk, 0
                if count < limit:
                    count += 1
                    admitted += 1
                else:
                    throttled += 1
        state.update((week, count))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "admitted": [admitted],
                "throttled": [throttled],
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} long, admitted long, throttled long",
        stateStructType="week string, count long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def quota_sample_stateful(
    stream: DataFrame, key_col: str, id_col: str, limit: int
) -> DataFrame:
    """Streaming head-sampling quota: admit the FIRST ``limit`` rows
    per key over the whole stream (arrival order), emitting each
    admitted row with its admission rank — the stateful "take the
    first N examples per source/user" sampler a training-data intake
    applies before expensive downstream processing.  State per key is
    a single admitted-count (compare rate_limit_stateful, whose quota
    resets per window); rows beyond the quota are dropped, not
    flagged, so downstream volume is hard-capped at keys×limit.

    Batch parity (tested): when the stream arrives ordered per key,
    the admitted set equals the batch row_number()<=N head sample
    (``events_quota_sample``)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (count,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            take = max(0, min(limit - count, len(pdf)))
            if take > 0:
                out = pdf.iloc[:take][[id_col]].copy()
                out[key_col] = key[0]
                out["rk"] = range(count + 1, count + take + 1)
                count += take
                yield out[[key_col, id_col, "rk"]]
            else:
                count += 0
        state.update((count,))

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} long, {id_col} long, rk long",
        stateStructType="count long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sliding_distinct_pairs(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    horizon: int = 7,
) -> DataFrame:
    """Streaming half of the rolling-window COUNT(DISTINCT) — the
    stateful twin of the batch ``events_wau_sliding``
    (queries/relational11.py).

    A sliding distinct count is non-mergeable, so no watermark window
    aggregate computes it. The decomposition mirrors the batch side:
    the hard stateful part is a streaming DISTINCT of (key, day)
    pairs, after which the trailing-``horizon`` aggregation is the
    shared ``wau_from_day_user`` (explode each pair into the ≤7
    window-ends it feeds, countDistinct per window).

    State per key is its recent distinct days pruned to the last
    ``horizon`` (a CSV of ISO dates — ≤ 77 bytes/user at horizon 7,
    bounded regardless of stream length). Pruning is SAFE, not
    best-effort: a day that recurs after being pruned re-emits its
    pair, and the downstream countDistinct collapses duplicates — the
    contract is "every active (key, day) emitted at least once", which
    makes the state bound exact rather than a memory/correctness
    trade-off.

    Output (append mode): one row per newly-seen (key, day) pair with
    ``d`` as an ISO date string.
    """
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (seen_csv,) = state.get if state.exists else ("",)
        seen = set(seen_csv.split(",")) if seen_csv else set()
        new_days: list[str] = []
        for pdf in pdfs:
            for d in pdf[ts_col].dt.strftime("%Y-%m-%d"):
                if d not in seen:
                    seen.add(d)
                    new_days.append(d)
        if new_days:
            state.update((",".join(sorted(seen)[-horizon:]),))
            yield pd.DataFrame({key_col: key[0], "d": new_days})

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} long, d string",
        stateStructType="days string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_zscore_stateful(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    z_threshold_x100: int = 300,
    min_history: int = 5,
) -> DataFrame:
    """Streaming point-anomaly gate: each event is scored against its
    key's history SO FAR — |v − mean| vs (threshold/100)·stddev — and
    flagged when it deviates, with the history then updated. The
    stateful twin of the batch prefix-window z-score
    (events_value_zscore's family), for live alerting.

    Exactness discipline: state per key is (n, Σv₄, Σv₄²) in exact
    integers (fixed-point values ≤ ~10⁵ ⇒ Σv₄² safe past 10⁸ events
    per key), so replaying micro-batches or re-partitioning the
    stream reproduces identical flags. The comparison is cross-
    multiplied — (100·|v₄·n − Σv₄|)² vs z₁₀₀²·(n·Σv₄² − (Σv₄)²) — so no
    square root or division ever runs; everything is int arithmetic
    (python ints, overflow-free).

    Batch parity (tested): when events arrive ordered (ts, id) per
    key, flags equal the batch formulation computed with prefix
    windows over the same fixed-point sums."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, s1, s2 = state.get if state.exists else (0, 0, 0)
        ids, flags = [], []
        for pdf in pdfs:
            for eid, v in zip(pdf[id_col], pdf[value_col]):
                v4 = int(v * 10000 // 1)  # floor, matches F.floor(v*1e4)
                flagged = False
                if n >= min_history:
                    # |v - mean| > z * stddev with mean = s1/(n*1e4) and
                    # sigma^2 = (n*s2 - s1^2)/(n^2*1e8); multiplying both
                    # sides of the squared inequality by n^2*1e8 gives
                    # (100*|v4*n - s1|)^2 > z100^2 * (n*s2 - s1^2)
                    lhs = (100 * abs(v4 * n - s1)) ** 2
                    rhs = z_threshold_x100**2 * (n * s2 - s1 * s1)
                    flagged = lhs > rhs
                ids.append(int(eid))
                flags.append(flagged)
                n, s1, s2 = n + 1, s1 + v4, s2 + v4 * v4
        state.update((n, s1, s2))
        if ids:
            yield pd.DataFrame(
                {key_col: key[0], id_col: ids, "is_anomaly": flags}
            )

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} long, {id_col} long, is_anomaly boolean",
        stateStructType="n long, s1 long, s2 long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def kll_merge_sink(
    stream: DataFrame,
    base_dir: str,
    checkpoint: str,
    value_col: str,
    pre_flip_hook=None,
    post_publish_hook=None,
) -> StreamingQuery:
    """Maintain a persistent KLL quantile sketch of ``value_col``
    (``kll_sketch_agg_double`` per batch, ``kll_merge_agg_double``
    into the state). A KLL sketch's bytes depend on compaction
    randomness: compare quantiles within its rank-error bound, never
    bit-equality."""
    return statedir.fold_sink(
        stream,
        base_dir,
        checkpoint,
        _sketch_fold(F.kll_sketch_agg_double(value_col), F.kll_merge_agg_double),
        pre_flip_hook=pre_flip_hook,
        post_publish_hook=post_publish_hook,
    )


def alarm_hysteresis_stateful(
    stream: DataFrame,
    key_col: str = "event_type",
    day_col: str = "day",
    x_col: str = "x",
    hi: int = 120,
    lo: int = 80,
) -> DataFrame:
    """Streaming Schmitt-trigger latch — the stateful twin of the
    batch events_alarm_hysteresis (which reconstructs the latch with
    a last-ignorenulls window): per key, the alarm switches ON when
    the day's count crosses ``hi``, OFF below ``lo``, and HOLDS
    between the thresholds. State per key is a single int (the
    latch), updated in (day) order within each micro-batch; absolute
    thresholds rather than the batch query's own-mean-relative ones,
    because a stream cannot know its full-series mean — operations
    set them (and that is how real alerting thresholds work).

    Batch parity (tested): when per-key rows arrive day-ordered, the
    emitted (key, day, alarm_on) sequence equals the pure-python
    latch replay across any micro-batch split."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (latch,) = state.get if state.exists else (0,)
        days, states = [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(day_col)
            for day, x in zip(pdf[day_col], pdf[x_col]):
                if x > hi:
                    latch = 1
                elif x < lo:
                    latch = 0
                days.append(day)
                states.append(latch)
        state.update((latch,))
        if days:
            yield pd.DataFrame(
                {key_col: key[0], day_col: days, "alarm_on": states}
            )

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} string, {day_col} string, alarm_on long",
        stateStructType="latch long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def rolling_median_stateful(
    stream: DataFrame,
    key_col: str = "event_type",
    day_col: str = "day",
    x_col: str = "x",
    horizon: int = 7,
) -> DataFrame:
    """Streaming rolling-{horizon}-day exact median — the stateful
    twin of the batch events_rolling_median_7d (which builds the
    window with collect_list over a day-ordered frame): per key, the
    state is the last ≤``horizon`` (day, count) pairs; each arriving
    daily row appends, trims the window to the ``horizon`` most
    recent days, and emits the LOWER median (sorted window element
    ⌊(n+1)/2⌋ — the identical convention, so stream and batch agree
    exactly). Same-day re-delivery replaces the day's count (at-least
    -once upstream collapses to exactly-once output semantics, the
    CDC pattern of upsert_parquet_sink).

    State per key is bounded by ``horizon`` — O(1) per key like the
    latch and WAU twins, so a 100 TB stream's state store scales with
    the key domain only.

    Batch parity (tested): when per-key rows arrive day-ordered, the
    emitted (key, day, rolling_median) rows equal the batch
    construction across any micro-batch split."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            days, counts = state.get
            days, counts = list(days), list(counts)
        else:
            days, counts = [], []
        out_day, out_n, out_med = [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(day_col)
            for day, x in zip(pdf[day_col], pdf[x_col]):
                x = int(x)
                if days and day in days:
                    counts[days.index(day)] = x  # same-day re-delivery
                else:
                    days.append(day)
                    counts.append(x)
                    if len(days) > horizon:
                        # trim to the `horizon` most recent days
                        order = sorted(range(len(days)), key=days.__getitem__)
                        keep = sorted(order[-horizon:])
                        days = [days[i] for i in keep]
                        counts = [counts[i] for i in keep]
                win = sorted(counts)
                out_day.append(day)
                out_n.append(len(win))
                out_med.append(win[(len(win) + 1) // 2 - 1])
        state.update((days, counts))
        if out_day:
            yield pd.DataFrame(
                {
                    key_col: key[0],
                    day_col: out_day,
                    "window_days": out_n,
                    "rolling_median": out_med,
                }
            )

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=(
            f"{key_col} string, {day_col} string,"
            " window_days long, rolling_median long"
        ),
        stateStructType="days array<string>, counts array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_finalize_on_timeout(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionizer that FINALIZES sessions via event-time
    timeouts — the arbitrary-stateful counterpart of the built-in
    session_window aggregation (events_session_window_native): per
    key, events within ``gap_minutes`` of the session's end extend
    it; a larger gap closes it (emitted immediately); and a session
    with NO further events is closed by the state timeout when the
    WATERMARK passes session_end + gap — the mechanism the built-in
    operator uses internally, exercised here through the public
    GroupStateTimeout.EventTimeTimeout API so custom session payloads
    (first/last timestamps, counts — or anything else) can ride it.

    The input stream must carry a watermark on ``ts_col``. Sessions
    still open when the stream pauses remain in the state store
    (readable via the Spark 4 state data source) — exactly the
    recovery contract of the built-in operator.

    Output: (key, session_start_us, session_end_us, n_events) — epoch
    microseconds, BIGINT-exact for parity checks.

    State per key is one open session (3 longs) — O(1), scale bounded
    by the live-key domain like the latch/WAU/median twins."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        out: list[tuple[int, int, int]] = []
        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            out.append((start_us, end_us, n))
        else:
            if state.exists:
                start_us, end_us, n = state.get
            else:
                start_us = end_us = -1
                n = 0
            ts_all = []
            for pdf in pdfs:
                # pandas datetime64[ns/us] -> epoch microseconds
                ts_all.extend(
                    int(v) // 1000
                    for v in pd.to_datetime(pdf[ts_col]).astype("int64")
                )
            for t in sorted(ts_all):
                if n == 0:
                    start_us = end_us = t
                    n = 1
                elif t - end_us <= gap_us:
                    end_us = max(end_us, t)
                    n += 1
                else:
                    out.append((start_us, end_us, n))
                    start_us = end_us = t
                    n = 1
            if n > 0:
                state.update((start_us, end_us, n))
                wm_ms = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(
                    max((end_us + gap_us) // 1000, wm_ms + 1)
                )
        if out:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(out),
                    "session_start_us": [o[0] for o in out],
                    "session_end_us": [o[1] for o in out],
                    "n_events": [o[2] for o in out],
                }
            )

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=(
            f"{key_col} long, session_start_us long,"
            " session_end_us long, n_events long"
        ),
        stateStructType="start_us long, end_us long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
