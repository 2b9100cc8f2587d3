"""Event-log reader over a small canned Spark 4 rolling event log.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def jobs():
    return eventlog.read_jobs(DATA)


def test_reads_rolling_directory(jobs):
    assert [os.path.basename(p) for p in eventlog.event_files(DATA)] == ["events_1_local-1"]
    assert [(j.job_id, j.submit_ms, j.end_ms) for j in jobs] == [(0, 1000, 1700), (1, 2700, 3000)]


def test_udf_node_repeated_by_aqe_counts_once(jobs):
    s = eventlog.summarize(jobs, [(0.9, 3.2)])
    # the local_topk node is in the plan twice (start + AQE update); its
    # time is the two tasks' updates, not twice that
    assert s.udf("local_topk").run_ms == 650
    assert s.udf("local_topk").sent_b == 2 * 2**20
    assert s.udf("local_topk").boot_ms == 25
    assert s.udf("local_topk").out_rows == 10
    assert s.udf("prune_batch").run_ms == 100
    assert s.udf("prune_batch").out_rows == 7
    # the scan's row counter is not a Python-worker metric
    assert set(s.udfs) == {"local_topk", "prune_batch"}
    assert s.python().run_ms == 750


def test_window_rollup(jobs):
    s = eventlog.summarize(jobs, [(0.9, 3.2)])
    assert s.jobs == 2
    assert s.job_run_s == pytest.approx(1.0)  # [1.0, 1.7] + [2.7, 3.0]
    assert s.idle_s == pytest.approx(1.3)  # 2.3 s window minus 1.0 s of jobs
    assert s.task_s == pytest.approx(0.98)
    assert s.cpu_s == pytest.approx(0.98)
    assert s.gc_s == pytest.approx(0.03)
    assert s.shuffle_write_mb == pytest.approx(1.0)
    assert s.spill_mb == pytest.approx(1.0)
    assert s.max_concurrent_tasks == 2


def test_window_filter(jobs):
    second = eventlog.summarize(jobs, [(2.5, 3.5)])
    assert second.jobs == 1 and second.udfs == {}
    assert second.idle_s == pytest.approx(0.7)
    assert eventlog.summarize(jobs, [(5.0, 6.0)]).jobs == 0
