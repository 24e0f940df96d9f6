"""Tests of the event-log reader on a small recorded log.

``data/small_eventlog.json`` was recorded from a ``local[2]`` session
that ran ``functions.stats.auc`` on 3000 rows under the job group
``perfbench:0`` and then one ungrouped aggregate over ``spark.range``;
events the reader does not use were dropped to keep the file small.

Run with ``python3 -m pytest perfbench/tests -q``.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "small_eventlog.json")
BUCKET_EXCHANGE = ("hashpartitioning(__gps_pid", "REPARTITION_BY_NUM")


def _log():
    return eventlog.read(LOG)


def test_jobs_carry_their_group():
    log = _log()
    grouped = sorted(j.job_id for j in log.jobs.values() if j.group == "perfbench:0")
    ungrouped = sorted(j.job_id for j in log.jobs.values() if j.group is None)
    assert grouped == list(range(9))
    assert ungrouped == [9, 10]
    assert all(j.submit_ms > 0 for j in log.jobs.values())


def test_rollup_sums_the_tasks_of_the_given_jobs():
    log = _log()
    auc = eventlog.rollup(log, range(9))
    assert auc["spark.jobs"] == 9
    assert auc["spark.stages"] == 9
    assert auc["spark.tasks"] == 11
    assert auc["spark.input_mb"] > 0
    assert auc["spark.shuffle_read_mb"] == auc["spark.shuffle_write_mb"] > 0
    assert auc["spark.executor_cpu_s"] <= auc["spark.executor_run_s"]
    everything = eventlog.rollup(log, log.jobs)
    assert everything["spark.tasks"] == len(log.tasks) == 14
    assert eventlog.rollup(log, [])["spark.tasks"] == 0


def test_exchange_skew_of_the_prefix_scan_bucket_exchange():
    log = _log()
    # two bucket ids hash to one of the two reducers: 3000 rows and 0
    assert eventlog.exchange_skew(log, BUCKET_EXCHANGE, range(9)) == 2.0
    # the ungrouped aggregate ran no such exchange
    assert eventlog.exchange_skew(log, BUCKET_EXCHANGE, [9, 10]) is None
    assert eventlog.exchange_skew(log, ("no such exchange",), log.jobs) is None


def test_torn_last_line_is_ignored():
    with open(LOG, encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    torn = eventlog.parse(lines[:-1] + [lines[-1][: len(lines[-1]) // 2]])
    whole = eventlog.parse(lines)
    assert len(torn.jobs) == len(whole.jobs)
