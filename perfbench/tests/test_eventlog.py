"""The event-log parser on a committed fixture.

``eventlog_fixture.jsonl`` is a Spark 4.1 event log of two job groups,
trimmed to the fields the parser reads: ``op0`` is a repartition →
``mapInPandas`` → aggregate job over 1,000 rows on ``local[2]``, ``op1``
a ``spark.range(10).count()``.  Run with
``python -m pytest perfbench/tests``.
"""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import eventlog  # noqa: E402

FIXTURE = Path(__file__).with_name("eventlog_fixture.jsonl")


@pytest.fixture(scope="module")
def groups():
    return eventlog.parse_file(str(FIXTURE))


def test_groups_and_counts(groups):
    assert set(groups) == {"op0", "op1"}
    op0, op1 = groups["op0"], groups["op1"]
    assert (op0.jobs, op0.stages, op0.tasks) == (1, 3, 6)
    assert (op1.jobs, op1.stages, op1.tasks) == (1, 2, 3)


def test_units(groups):
    op0 = groups["op0"]
    # ms → s, ns → s, bytes → MB
    assert op0.executor_run_s == pytest.approx(4.917)
    assert op0.executor_cpu_s == pytest.approx(0.754035, rel=1e-6)
    assert op0.gc_s == pytest.approx(0.072)
    assert op0.shuffle_write_mb == pytest.approx(9565 / 2**20)
    assert op0.spill_mb == 0.0
    # the Python runner metric is in ms: it must fit inside executor time
    assert op0.python_worker_s == pytest.approx(3.882)
    assert 0 < op0.python_worker_s < op0.executor_run_s
    assert groups["op1"].python_worker_s == 0.0


def test_stage_coverage(groups):
    op0 = groups["op0"]
    first, last = op0.stage_spans[0][0], op0.stage_spans[-1][1]
    covered = op0.covered_s(first - 1.0, last + 1.0)
    gaps = sum(b[0] - a[1] for a, b in zip(op0.stage_spans, op0.stage_spans[1:]))
    assert covered == pytest.approx(last - first - gaps)
    # clipped to the window it is asked about
    assert op0.covered_s(first, first + 0.1) == pytest.approx(0.1)
    assert op0.covered_s(last + 1.0, last + 2.0) == 0.0


def test_ungrouped_jobs_are_ignored():
    lines = [
        '{"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Properties": {}}',
        '{"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": {}}',
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {"Executor Run Time": 5}}',
    ]
    assert eventlog.parse(lines) == {}


def test_overlapping_stages_count_once():
    t = eventlog.GroupTotals(stage_spans=[(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)])
    assert t.covered_s(0.0, 10.0) == pytest.approx(4.0)
