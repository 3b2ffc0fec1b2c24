"""Pins the event-log parser against one tiny labelled query.

Run with ``python3 -m pytest perfbench/test_eventlog.py``.
"""

from operator import add

import pytest

from perfbench import eventlog

LABEL = "wl:layer.one:op"


@pytest.fixture(scope="module")
def parsed(tmp_path_factory):
    from pyspark.sql import SparkSession

    event_dir = tmp_path_factory.mktemp("events")
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(event_dir))
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    try:
        sc.setJobGroup(LABEL, "t1:exec")
        # one job: a 4-task map stage shuffling into a 2-task reduce stage
        pairs = sc.parallelize(range(1000), 4).map(lambda x: (x % 10, 1))
        counts = dict(pairs.reduceByKey(add, 2).collect())
        sc.setJobGroup("", "")
        sc.parallelize(range(10), 3).count()
        app_id = sc.applicationId
    finally:
        spark.stop()
    counters, _ = eventlog.parse(eventlog.log_lines(str(event_dir), app_id))
    return counts, counters


def test_labelled_query_counters(parsed):
    counts, counters = parsed
    assert counts == {k: 100 for k in range(10)}
    c = counters[(LABEL, "t1:exec", False)]
    assert c.jobs == 1
    assert c.tasks == 6
    assert c.failed_tasks == 0
    assert c.shuffle_bytes > 0
    assert c.task_s > 0
    assert len(c.stage_skew) == 2


def test_unlabelled_job_is_kept_apart(parsed):
    _, counters = parsed
    other = counters[("", "", False)]
    assert other.jobs == 1
    assert other.tasks == 3
    assert other.shuffle_bytes == 0
