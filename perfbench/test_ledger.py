"""The ledger parser on a small recorded Spark 4.1 event log.

The log under ``testdata/`` was recorded from a two-action local[2]
application (``demo.count``: range(1000).repartition(3).count();
``demo.agg``: a 3-key groupBy count), trimmed to the events the parser
reads and split into two rolled files.

Run with ``python -m pytest perfbench/test_ledger.py``.
"""

import os
import shutil

import pytest

from ledger import event_files, ledger

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "eventlog_v2_local-1")


def test_rolled_files_read_in_order():
    assert [os.path.basename(f) for f in event_files(LOG)] == ["events_1_local-1", "events_2_local-1"]
    # the parent directory resolves to its single application
    assert event_files(os.path.dirname(LOG)) == event_files(LOG)


def test_rollup_per_description():
    rows = ledger(LOG)
    assert set(rows) == {"demo.count", "demo.agg"}
    count, agg = rows["demo.count"], rows["demo.agg"]
    assert (count.jobs, count.stages, count.tasks) == (3, 3, 6)
    assert (agg.jobs, agg.stages, agg.tasks) == (2, 2, 3)
    assert count.failed_tasks == agg.failed_tasks == 0
    # 1000 rows cross the repartition shuffle, then 3 partial counts
    assert count.shuffle_records_written == 1003
    assert 0 < count.task_cpu_s <= count.task_run_s
    assert 0 < count.wall_s and 0 < agg.wall_s


def test_torn_last_line_is_skipped(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    shutil.copytree(LOG, app)
    with open(app / "events_2_local-1", "a") as f:
        f.write('{"Event": "SparkListenerTaskEnd", "Stage')
    assert ledger(str(app))["demo.agg"].tasks == 3


def test_torn_line_in_the_middle_is_an_error(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    shutil.copytree(LOG, app)
    first = app / "events_1_local-1"
    first.write_text('{"Event": "SparkListenerJobSt\n' + first.read_text())
    with pytest.raises(ValueError):
        ledger(str(app))

