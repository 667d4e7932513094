"""Pins the benchmark's event-log parser on a tiny hand-made log.

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "tiny_eventlog.jsonl")


def _stats():
    return eventlog.summarize(eventlog.read_events(os.path.dirname(FIXTURE)))


def test_only_tagged_groups_are_kept():
    assert list(_stats()) == ["k#1"]


def test_jobs_stages_and_executions():
    s = _stats()["k#1"]
    assert sorted(s.job_spans) == [(1000, 1200), (1150, 1500)]
    assert eventlog.union_ms(s.job_spans) == 500
    assert (s.stages, s.one_task_stages, s.sql_executions) == (2, 1, 1)


def test_task_metrics_are_summed():
    s = _stats()["k#1"]
    assert (s.tasks, s.run_ms, s.cpu_ns, s.gc_ms) == (3, 600, 480_000_000, 15)
    assert (s.shuffle_read_bytes, s.shuffle_write_bytes) == (2_000_000, 2_000_000)
    assert (s.input_bytes, s.output_bytes, s.spill_bytes) == (3_000_000, 1_000_000, 0)


def test_plan_shape_uses_the_final_adaptive_plan():
    # the initial plan has one Exchange and nothing else; the AQE update
    # replaces it with the plan below
    assert _stats()["k#1"].plan == {
        "exchange": 2,
        "single_partition": 1,
        "bnlj": 1,
        "expand": 1,
        "python_eval": 1,
    }


def test_python_worker_metrics_come_from_task_updates():
    assert _stats()["k#1"].py == {
        "py_total_ms": 200,
        "py_boot_ms": 30,
        "py_init_ms": 40,
        "py_sent_bytes": 5_000_000,
        "py_rows_received": 10,
    }


def test_union_of_disjoint_and_nested_spans():
    assert eventlog.union_ms([]) == 0
    assert eventlog.union_ms([(0, 10), (20, 30)]) == 20
    assert eventlog.union_ms([(0, 100), (10, 20), (50, 120)]) == 120


def test_rolling_layout_is_read_in_file_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = open(FIXTURE).read().splitlines(keepends=True)
    # events_10 must come after events_2: numeric, not lexical, order
    (d / "events_2_local-1").write_text("".join(lines[:12]))
    (d / "events_10_local-1").write_text("".join(lines[12:]))
    (d / "appstatus_local-1").write_text("")
    assert [e["Event"] for e in eventlog.read_events(str(tmp_path))] == [
        e["Event"] for e in eventlog.read_events(os.path.dirname(FIXTURE))
    ]
    shutil.rmtree(d)
