"""Pins the event-log parser over a tiny recorded log: job-to-span
attribution, metric-id-to-plan-node mapping and unit normalization.

    python3 -m pytest perfbench/test_eventlog.py
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "tiny_eventlog.json")
SPANS = [
    {"id": "r-0", "name": "pass", "parent": None, "start_ms": 0, "end_ms": 5000},
    {"id": "r-1", "name": "queries.build", "parent": "r-0", "start_ms": 900, "end_ms": 1900},
    {"id": "r-2", "name": "dialect.run_script", "parent": "r-0", "start_ms": 2000, "end_ms": 3000},
]


@pytest.fixture(scope="module")
def log():
    return eventlog.Log(eventlog.load(LOG))


def test_jobs_attributed_by_group_then_by_time(log):
    # job 0 carries the span id as its job group; job 1 runs under the
    # streaming query's own group and falls inside r-2's interval
    assert log.assign(SPANS) == {0: "r-1", 1: "r-2"}


def test_accumulator_ids_map_to_plan_nodes(log):
    assert log.accums[20] == ("MapInPandas", "data sent to Python workers", "size")
    assert log.accums[11] == ("Exchange", "shuffle write time", "nsTiming")
    # a node that appears only in the adaptive re-plan is mapped too
    assert log.accums[30] == ("HashAggregate", "time in aggregation build", "timing")


def test_units_are_normalized():
    assert eventlog.metric_value("timing", 250) == 0.25
    assert eventlog.metric_value("nsTiming", 1_000_000) == pytest.approx(0.001)
    assert eventlog.metric_value("size", 4096) == 4096


def test_fold_over_a_pass(log):
    m = eventlog.fold(log, SPANS, "r-0", cores=4)
    assert m["spark.jobs"] == 2
    assert m["queries.eager_jobs"] == 1
    assert m["streaming.jobs_per_batch"] == 1.0
    assert m["spark.tasks"] == 3 and m["spark.stages"] == 2
    assert m["spark.task_s"] == pytest.approx(0.74)
    assert m["spark.cpu_s"] == pytest.approx(0.45)
    assert m["spark.gc_s"] == pytest.approx(0.005)
    assert m["spark.task_launch_s"] == pytest.approx(0.025)
    assert m["spark.shuffle_read_bytes"] == 100
    assert m["spark.shuffle_write_bytes"] == 200
    assert m["spark.shuffle_fetch_wait_s"] == pytest.approx(0.002)
    assert m["spark.spill_bytes"] == 64
    assert m["spark.input_bytes"] == 5000
    # wall 5 s minus the union of the job spans (0.8 s + 0.4 s)
    assert m["spark.driver_gap_s"] == pytest.approx(3.8)
    # task wall (0.5 + 0.2 + 0.15 s) over 4 cores x 5 s
    assert m["spark.core_busy_frac"] == pytest.approx(0.85 / 20)
    # stage 0: max 480 / mean 320 = 1.5, the only stage with >1 task
    assert m["spark.task_skew"] == pytest.approx(1.5)
    assert m["python.nodes"] == 1
    assert m["python.bytes_sent"] == 4096
    assert m["python.bytes_received"] == 1024
    assert m["python.rows_received"] == 7
    assert m["python.stage_task_s"] == pytest.approx(0.64)
    assert m["python.task_share"] == pytest.approx(0.64 / 0.74)


def test_fold_scopes_to_the_span_subtree(log):
    m = eventlog.fold(log, SPANS, "r-2", cores=4)
    assert m["spark.jobs"] == 1
    assert m["python.bytes_sent"] == 0
    assert m["spark.task_s"] == pytest.approx(0.1)
