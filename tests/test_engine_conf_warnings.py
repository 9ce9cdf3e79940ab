"""ensure_engine_conf never drops a conf silently: a runtime conf the
session refuses, and a static conf the running SparkContext lacks,
each raise one RuntimeWarning per process. A static conf is checked
once per SparkContext."""

from __future__ import annotations

import warnings

import pytest
from pyspark import SparkConf

from kafkastreamer_spark import session
from kafkastreamer_spark.session import ENGINE_CONF, ensure_engine_conf

REFUSED = "spark.sql.session.timeZone"
# the one ENGINE_CONF key spark.conf.set refuses (a core conf)
STATIC = "spark.shuffle.sort.bypassMergeThreshold"


@pytest.fixture
def fresh_warnings(monkeypatch):
    """No conf warned about, and no static conf checked on the test
    session's SparkContext yet."""
    monkeypatch.setattr(session, "_warned", set())
    monkeypatch.setattr(session, "_checked", set())


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
    # a session built without the static confs, as plain
    # SparkSession.builder does
    monkeypatch.setattr(
        spark.sparkContext, "getConf", lambda: SparkConf(loadDefaults=False)
    )
    with warnings.catch_warnings(record=True) as record:
        warnings.simplefilter("always")
        ensure_engine_conf(spark)
        ensure_engine_conf(spark)
    got = _engine_warnings(record)
    assert len(got) == 1
    assert f"{STATIC}={ENGINE_CONF[STATIC]}" in got[0]


def test_second_call_makes_no_conf_copy(spark, monkeypatch, fresh_warnings):
    """The test session is built by get_spark, so it has every static
    conf: the first call checks that on a copy of the SparkContext's
    conf and warns about nothing; a second call on the same context
    copies nothing."""
    copies = []
    real_get_conf = spark.sparkContext.getConf

    def counting_get_conf():
        copies.append(1)
        return real_get_conf()

    monkeypatch.setattr(spark.sparkContext, "getConf", counting_get_conf)
    with warnings.catch_warnings(record=True) as record:
        warnings.simplefilter("always")
        ensure_engine_conf(spark)
        assert len(copies) == 1
        ensure_engine_conf(spark)
    assert len(copies) == 1
    assert _engine_warnings(record) == []


def test_second_call_skips_the_static_conf(spark, monkeypatch, fresh_warnings):
    """Once the static conf was found missing and warned about, a second
    call neither copies the SparkContext's conf nor sets the key again
    (a refused set raises through py4j)."""
    copies, sets = [], []
    real_set = spark.conf.set

    def empty_conf():
        copies.append(1)
        return SparkConf(loadDefaults=False)

    def recording_set(key, value):
        sets.append(key)
        real_set(key, value)

    monkeypatch.setattr(spark.sparkContext, "getConf", empty_conf)
    monkeypatch.setattr(spark.conf, "set", recording_set)
    with warnings.catch_warnings(record=True) as record:
        warnings.simplefilter("always")
        ensure_engine_conf(spark)
        assert len(copies) == 1 and len(_engine_warnings(record)) == 1
        sets.clear()
        ensure_engine_conf(spark)
    assert len(copies) == 1
    assert STATIC not in sets
    assert sorted(sets) == sorted(k for k in ENGINE_CONF if k != STATIC)
