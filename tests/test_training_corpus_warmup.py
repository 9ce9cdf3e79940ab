"""``pipeline_training_corpus`` materializes its quality leg on a
concurrent thread; a failure there must reach the caller."""

from __future__ import annotations

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from kafkastreamer_spark.registry import REGISTRY, _ensure_loaded


class WarmupFailed(Exception):
    pass


def test_warmup_thread_failure_is_raised(spark, sf_dir, monkeypatch):
    _ensure_loaded()

    def fail(self, *args, **kwargs):
        raise WarmupFailed("injected save failure")

    monkeypatch.setattr(DataFrameWriter, "save", fail)
    try:
        with pytest.raises(WarmupFailed):
            REGISTRY["pipeline_training_corpus"].fn(spark, sf_dir)
    finally:
        spark.catalog.clearCache()
