"""Pins the event-log parser on a committed fixture: a trimmed real Spark
event log of two described jobs (one with a shuffle) and one without tasks.

    python3 -m pytest perfbench/tests
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import tracing  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog.jsonl")


def parsed():
    with open(FIXTURE) as f:
        return tracing.parse_event_log(f)


def test_stages_and_tasks_attributed_to_job_description():
    rows = parsed()
    assert set(rows) == {"cold:q_small", "warm0:q_small"}
    assert rows["cold:q_small"]["stages"] == 2
    assert rows["cold:q_small"]["tasks"] == 3
    assert rows["warm0:q_small"]["stages"] == 1
    assert rows["warm0:q_small"]["tasks"] == 1


def test_task_metrics_summed_in_reported_units():
    cold = parsed()["cold:q_small"]
    assert cold["cpu_ms"] == pytest.approx(339.660115)  # ns -> ms
    assert cold["run_ms"] == 620
    assert cold["shuffle_write_mb"] * 1024 * 1024 == pytest.approx(572)
    assert cold["shuffle_read_mb"] * 1024 * 1024 == pytest.approx(572)
    assert cold["spill_mb"] == 0
    assert parsed()["warm0:q_small"]["shuffle_read_mb"] == 0


def test_stage_metrics_names_and_sums():
    total = tracing.sum_rows(parsed().values())
    m = tracing.stage_metrics(total)
    assert m["stage.count"] == 3
    assert m["task.count"] == 4
    assert m["stage.cpu_ms"] == pytest.approx(339.660115 + 26.550712)
    assert m["stage.run_ms"] == 666


def test_undescribed_jobs_and_blank_lines_are_tolerated():
    lines = [
        '{"Event":"SparkListenerJobStart","Job ID":0,"Stage IDs":[7],"Properties":{}}',
        "",
        '{"Event":"SparkListenerTaskEnd","Stage ID":7,"Task Metrics":'
        '{"Executor Run Time":5,"Executor CPU Time":2000000}}',
    ]
    rows = tracing.parse_event_log(lines)
    assert rows[""]["tasks"] == 1
    assert rows[""]["cpu_ms"] == pytest.approx(2.0)
