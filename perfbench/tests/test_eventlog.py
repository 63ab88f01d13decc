"""eventlog.layer_metrics on a small recorded log.

``data/eventlog_small.jsonl`` is a Spark 4.1 event log of a two-wave
``run_extract_job`` over 40 pages, run under the job description
``perfbench:timed``, followed by an untagged read-back job.  It was cut
down to the jobs, stages and tasks of five jobs and to the fields the
parser reads."""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_counts_only_tagged_jobs():
    m = eventlog.layer_metrics(eventlog.read(LOG), "perfbench:timed", 2.0, 4)
    assert m["spark.jobs"] == 3
    # job 2's first stage was skipped (its shuffle output was reused)
    assert m["spark.stages"] == 3
    assert m["spark.tasks"] == 12
    assert m["spark.python_sent_mb"] == pytest.approx((28168 + 48176) / 1e6)
    assert m["spark.python_returned_mb"] == pytest.approx((20424 + 28472) / 1e6)
    assert m["spark.python_start_s"] == pytest.approx(6.177)
    assert m["spark.python_run_s"] == pytest.approx(11.196 + 1.525)
    assert m["spark.extract_stage.task_max_s"] >= m["spark.extract_stage.task_p50_s"] > 0
    assert m["spark.core_busy_share"] == pytest.approx(m["spark.executor_run_s"] / 8.0)
    assert m["spark.input_mb"] > 0 and m["spark.output_mb"] > 0
    assert m["spark.shuffle_write_mb"] > 0 and m["spark.shuffle_read_mb"] > 0


def test_untagged_description_sees_other_jobs():
    m = eventlog.layer_metrics(eventlog.read(LOG), None, 1.0, 4)
    assert m["spark.jobs"] == 2
    assert m["spark.python_sent_mb"] == 0.0


def test_unknown_description_is_empty():
    m = eventlog.layer_metrics(eventlog.read(LOG), "nothing", 1.0, 4)
    assert m["spark.jobs"] == m["spark.tasks"] == 0
    assert m["spark.extract_stage.task_max_s"] == 0.0
