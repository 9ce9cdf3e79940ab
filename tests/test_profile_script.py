"""scripts/query_profile.py on the test session: two queries profiled back
to back each report the median of their warm runs, stage rows that add
up to their run's executor totals, plan-node rows only from their own
run's job group, and the whole output ends in one JSON line."""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import statistics

import pytest

from kafkastreamer_spark.registry import _ensure_loaded

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ["q3_shipping_priority", "q1_pricing_summary"]
RUNS = 3


def _load_script():
    spec = importlib.util.spec_from_file_location(
        "query_profile", os.path.join(ROOT, "scripts", "query_profile.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture(scope="module")
def profiled(spark, sf_dir):
    """(stdout lines, {query: job ids of its last run's group})."""
    _ensure_loaded()
    # a child session, so the script's Catalyst listener never sees the
    # other tests' queries
    session = spark.newSession()
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            _load_script().profile_queries(session, QUERIES, RUNS, sf_dir)
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    tracker = spark.sparkContext.statusTracker()
    groups = {q: set(tracker.getJobIdsForGroup(f"{q}#{RUNS - 1}")) for q in QUERIES}
    return out.getvalue().splitlines(), groups


@pytest.fixture(scope="module")
def records(profiled):
    lines, _ = profiled
    return json.loads(lines[-1])


def test_final_line_is_every_record(records):
    assert list(records) == QUERIES


def test_steady_is_the_median_of_warm_runs(records):
    for rec in records.values():
        assert len(rec["warm"]) == RUNS - 1 and rec["cold"] > 0
        assert rec["steady"] == round(statistics.median(rec["warm"]), 3)


def test_stage_run_times_add_up_to_exec_run_s(records):
    for rec in records.values():
        assert rec["stages"] and rec["exec"]["jobs"] > 0
        run_s = sum(s["run_ms"] for s in rec["stages"]) / 1e3
        assert run_s == pytest.approx(rec["exec"]["run_s"], abs=1e-9)


def test_plan_nodes_come_from_their_own_run(records, profiled):
    _, groups = profiled
    seen = set()
    for name, rec in records.items():
        assert rec["group"] == f"{name}#{RUNS - 1}"
        assert rec["sql"] and any(n["metrics"] for e in rec["sql"] for n in e["nodes"])
        for execution in rec["sql"]:
            assert execution["jobs"] and set(execution["jobs"]) <= groups[name]
            assert execution["execution"] not in seen
            seen.add(execution["execution"])


def test_report_prints_every_block(profiled):
    text = "\n".join(profiled[0])
    for name in QUERIES:
        assert f"== {name}: steady=" in text
    for block in ("catalyst ms (", "exec: jobs=", " run_ms ", "-- SQL execution "):
        assert text.count(block) >= len(QUERIES), block
