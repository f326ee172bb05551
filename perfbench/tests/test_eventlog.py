"""The event-log fold on a recorded tiny log (see record_tiny_eventlog.py):
group g_join ran a shuffled join with 200 output rows, group g_py a
mapInPandas over 100 rows, and one job ran with no group."""

import os

from perfbench.eventlog import GroupTotals, fold, total

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")


def folded():
    with open(LOG) as f:
        return fold(f)


def test_jobs_are_folded_by_group():
    g = folded()
    assert set(g) == {"g_join", "g_py", ""}
    assert g["g_join"].jobs >= 1 and g["g_py"].jobs >= 1 and g[""].jobs >= 1


def test_join_group_totals():
    j = folded()["g_join"]
    assert j.join_rows == 200
    assert j.shuffle_records > 0 and j.shuffle_write_bytes > 0
    assert j.py_sent_bytes == 0
    assert j.executor_run_ms >= 0 and j.tasks >= 2
    assert j.task_skew >= 1.0


def test_python_boundary_bytes():
    p = folded()["g_py"]
    assert p.py_sent_bytes > 0 and p.py_returned_bytes > 0
    assert p.join_rows == 0


def test_total_sums_groups():
    g = folded()
    t = total(g, ["g_join", "g_py", "missing"])
    assert t.jobs == g["g_join"].jobs + g["g_py"].jobs
    assert t.shuffle_records == g["g_join"].shuffle_records + g["g_py"].shuffle_records
    assert GroupTotals().task_skew == 1.0


def test_task_skew_is_max_over_median():
    g = GroupTotals(stage_tasks={1: [10, 10, 40], 2: [5]})
    assert g.task_skew == 4.0
