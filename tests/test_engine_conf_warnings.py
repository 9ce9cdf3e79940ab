"""ensure_engine_conf never drops a conf silently: a runtime conf the
session refuses, and a static conf the running SparkContext lacks,
each raise one RuntimeWarning per process."""

from __future__ import annotations

import warnings

import pytest
from pyspark import SparkConf

from kafkastreamer_spark import session
from kafkastreamer_spark.session import ENGINE_CONF, STATIC_CONF, ensure_engine_conf

REFUSED = "spark.sql.session.timeZone"


@pytest.fixture
def fresh_warnings(monkeypatch):
    monkeypatch.setattr(session, "_warned", set())


def _engine_warnings(record) -> list[str]:
    return [str(w.message) for w in record if w.category is RuntimeWarning]


def test_refused_conf_warns_once(spark, monkeypatch, fresh_warnings):
    real_set = spark.conf.set

    def refusing_set(key, value):
        if key == REFUSED:
            raise RuntimeError("CANNOT_MODIFY_CONFIG")
        real_set(key, value)

    monkeypatch.setattr(spark.conf, "set", refusing_set)
    with warnings.catch_warnings(record=True) as record:
        warnings.simplefilter("always")
        ensure_engine_conf(spark)
        ensure_engine_conf(spark)
    got = _engine_warnings(record)
    assert len(got) == 1
    assert REFUSED in got[0] and "CANNOT_MODIFY_CONFIG" in got[0]


def test_missing_static_conf_warns_once(spark, monkeypatch, fresh_warnings):
    # the test session is built by get_spark, so it has every static conf
    with warnings.catch_warnings(record=True) as record:
        warnings.simplefilter("always")
        ensure_engine_conf(spark)
    assert _engine_warnings(record) == []

    # a session built without them, as plain SparkSession.builder does
    monkeypatch.setattr(
        spark.sparkContext, "getConf", lambda: SparkConf(loadDefaults=False)
    )
    with warnings.catch_warnings(record=True) as record:
        warnings.simplefilter("always")
        ensure_engine_conf(spark)
        ensure_engine_conf(spark)
    got = _engine_warnings(record)
    assert len(got) == len(STATIC_CONF) == 1
    key = STATIC_CONF[0]
    assert f"{key}={ENGINE_CONF[key]}" in got[0]
