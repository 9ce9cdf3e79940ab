"""Per-stage record counters and query progress capture — the
engine's answer to the reference's operational metrics.

The reference counts records as a side effect of stage compute
(``num_msg++`` in ``compute``, Streamer.java:322-356, reported via
stdout). A distributed engine can't mutate a shared counter from
executors; the Spark-native equivalents are:

* ``DataFrame.observe`` — named aggregate metrics evaluated inline
  with the plan (no extra pass, no accumulator races: the counts are
  exactly-once per successful micro-batch, unlike accumulators which
  double-count task retries);
* ``StreamingQueryListener`` — driver-side progress events carrying
  per-batch ``numInputRows`` and every observed metric.

``stage_counter`` stamps a stage DataFrame with the reference's
``num_msg`` counter; ``MetricsCollector`` gathers per-batch progress
rows that tests (and operators) can assert against. Both are pure
metadata paths: nothing here adds a shuffle or touches row data.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


def stage_counter(df: DataFrame, stage: str) -> DataFrame:
    """Attach the reference's per-stage ``num_msg`` counter
    (Streamer.java:324 ``num_msg++``) as an observed metric named
    ``stage_<stage>``. The count is evaluated inside the existing
    plan (no second scan) and surfaces in every micro-batch's
    progress event under ``observedMetrics``."""
    return df.observe(f"stage_{stage}", F.count(F.lit(1)).alias("num_msg"))


@dataclass
class BatchMetrics:
    """One micro-batch's progress. ``duration_ms`` is the progress
    report's ``durationMs`` (phase -> ms: ``addBatch``, ``walCommit``,
    ``commitOffsets``, ``triggerExecution``, ...); ``state_commit_ms``
    sums ``commitTimeMs`` over the batch's stateful operators (0 for a
    stateless query)."""

    batch_id: int
    num_input_rows: int
    observed: dict[str, int] = field(default_factory=dict)
    duration_ms: dict[str, int] = field(default_factory=dict)
    state_commit_ms: int = 0


class MetricsCollector(StreamingQueryListener):
    """Driver-side progress capture: one BatchMetrics per micro-batch,
    with every ``stage_*`` observed num_msg counter and the batch's
    phase timings. Thread-safe —
    listener callbacks arrive on Spark's listener-bus thread."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches: list[BatchMetrics] = []

    # -- StreamingQueryListener interface --------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        observed = {
            name: int(row["num_msg"])
            for name, row in (p.observedMetrics or {}).items()
            if "num_msg" in (row.asDict() if hasattr(row, "asDict") else {})
        }
        with self._lock:
            self.batches.append(
                BatchMetrics(
                    batch_id=int(p.batchId),
                    num_input_rows=int(p.numInputRows),
                    observed=observed,
                    duration_ms=dict(p.durationMs or {}),
                    state_commit_ms=sum(
                        int(op.commitTimeMs) for op in p.stateOperators or ()
                    ),
                )
            )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- assertions helpers ----------------------------------------------
    def total_input_rows(self) -> int:
        with self._lock:
            return sum(b.num_input_rows for b in self.batches)

    def total_observed(self, stage: str) -> int:
        key = f"stage_{stage}"
        with self._lock:
            return sum(b.observed.get(key, 0) for b in self.batches)
