import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def layers():
    # recorded from a local[2] session: one untagged job, a tagged
    # two-stage aggregation, and a tagged mapInPandas job
    return eventlog.parse_file(LOG)


def test_only_tagged_jobs_are_kept(layers):
    assert set(layers) == {"demo|agg|exec|0", "demo|udf|exec|0"}


def test_jobs_stages_and_tasks_are_counted(layers):
    agg = layers["demo|agg|exec|0"]
    assert (agg.jobs, agg.stages, agg.tasks) == (2, 2, 3)
    udf = layers["demo|udf|exec|0"]
    assert (udf.jobs, udf.stages, udf.tasks) == (1, 1, 2)


def test_shuffle_bytes_balance(layers):
    agg = layers["demo|agg|exec|0"]
    assert agg.shuffle_write_bytes == agg.shuffle_read_bytes == 364
    assert agg.sql["shuffle bytes written"] == 364
    assert layers["demo|udf|exec|0"].shuffle_write_bytes == 0


def test_task_times_are_seconds(layers):
    udf = layers["demo|udf|exec|0"]
    assert 0 < udf.task_cpu_s <= udf.task_run_s
    # two tasks ran side by side inside the job's wall
    assert udf.task_run_s <= 2 * udf.job_s + 0.01


def test_python_runner_metrics_are_read(layers):
    sql = layers["demo|udf|exec|0"].sql
    assert sql["data sent to Python workers"] == 1184
    assert sql["data returned from Python workers"] == 1152
    # nanosecond timings come out in seconds, below the tasks' run time
    run_s = sql["time to run Python workers"]
    assert 0 < run_s <= layers["demo|udf|exec|0"].task_run_s
    assert "time to run Python workers" not in layers["demo|agg|exec|0"].sql


def test_union_of_job_intervals():
    assert eventlog.union_s([]) == 0
    assert eventlog.union_s([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert eventlog.union_s([(2000, 2500), (0, 100)]) == 0.6


def test_layers_add_up():
    a, b = eventlog.Layer(), eventlog.Layer()
    a.jobs, a.sql = 1, {"scan time": 0.5}
    b.jobs, b.sql, b.job_intervals = 2, {"scan time": 0.25}, [(0, 10)]
    a.add(b)
    assert (a.jobs, a.sql, a.job_intervals) == (3, {"scan time": 0.75}, [(0, 10)])
