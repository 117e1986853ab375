"""Unit tests for the event-log reader, on a small committed fixture.

The fixture is a two-part rolling log (``eventlog_v2_local-1``) holding
two operations. The first one's query function fires two overlapping
eager jobs before its final action (with Python-worker accumulables).
The second one's query function drains a stream (one fed and one idle
micro-batch) before its final action. A last job falls after both
windows.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402
from eventlog import MB, Window  # noqa: E402

FIXTURE = HERE / "fixtures" / "eventlog_v2_local-1"
B = 1_700_000_000_000
WINDOWS = [
    Window("q84", B + 0, B + 3000, B + 4000),
    Window("q89", B + 5000, B + 8000, B + 8500),
]


def attribute(windows):
    return eventlog.attribute(eventlog.read_events(FIXTURE), windows)


@pytest.fixture(scope="module")
def ops():
    return attribute(WINDOWS).ops


def test_rolling_parts_read_in_order():
    assert [p.name for p in eventlog.log_files(FIXTURE)] == [
        "events_1_local-1",
        "events_2_local-1",
    ]
    # the directory that holds the rolling log resolves to the same parts
    assert eventlog.log_files(FIXTURE.parent) == eventlog.log_files(FIXTURE)


def test_eager_jobs_split_from_final_action(ops):
    op = ops[0]
    assert (op.eager_jobs, op.exec_jobs) == (2, 1)
    # eager jobs span 0.5-1.5 s and 1.2-2.0 s: their union is 1.5 s
    assert op.eager_s == pytest.approx(1.5)
    assert (op.stages, op.tasks) == (3, 3)
    assert op.task_run_s == pytest.approx(1.8)
    assert op.task_cpu_s == pytest.approx(1.5)
    assert op.input_mb == pytest.approx(1.0)
    assert op.shuffle_write_mb == pytest.approx(0.5)
    assert op.shuffle_read_mb == pytest.approx(0.5)
    assert op.python_run_s == pytest.approx(0.3)
    assert op.python_start_s == pytest.approx(0.05)
    assert op.python_io_mb == pytest.approx(1.5)
    assert op.stream_queries == op.stream_batches == 0


def test_stream_batches_attributed_by_query_id(ops):
    op = ops[1]
    assert (op.stream_queries, op.stream_batches, op.stream_batches_idle) == (1, 2, 1)
    assert op.stream_trigger_ms == 1300
    assert op.stream_planning_ms == 100
    assert op.stream_addbatch_ms == 900
    assert op.stream_walcommit_ms == 50
    assert op.stream_commit_ms == 40
    assert op.stream_state_commit_ms == 30
    assert op.stream_state_instances == 8
    # the micro-batch job counts as eager: it ran inside the query function
    assert (op.eager_jobs, op.exec_jobs) == (1, 1)
    # cover = job 5.2-6.2 s and batches 5.15-6.35 s, 6.4-6.5 s
    assert op.eager_s == pytest.approx(1.3)
    assert op.task_run_s == pytest.approx(1.1)


def test_job_outside_every_window_is_ignored(ops):
    assert sum(o.tasks for o in ops) == 5
    assert sum(o.eager_jobs + o.exec_jobs for o in ops) == 5
    assert attribute(WINDOWS).orphan_jobs == []


def test_spans_inside_their_calls_do_not_overrun(ops):
    # both final-action jobs end 0.1 s before their sink returns
    assert [o.overrun_ms for o in ops] == [-100, -100]


def test_spans_ending_after_their_call_are_overruns():
    ops = attribute(
        [Window("q84", B + 0, B + 1800, B + 3500), Window("q89", B + 5000, B + 6000, B + 8500)]
    ).ops
    # eager job 1.2-2.0 s ends 0.2 s after the query function; the final
    # job 3.1-3.9 s ends 0.4 s after the sink
    assert ops[0].overrun_ms == 400
    # the first batch 5.15-6.35 s starts inside the query function and
    # ends 0.35 s after it; the second starts later and counts as exec
    assert ops[1].overrun_ms == 350
    assert ops[1].eager_s == pytest.approx(0.85)


def test_job_between_windows_is_an_orphan():
    got = attribute(WINDOWS + [Window("q01", B + 9500, B + 9600, B + 9700)])
    assert got.orphan_jobs == [B + 9000]


def test_union_ms_clips_and_merges():
    assert eventlog.union_ms([(0, 10), (5, 20), (30, 40)], 2, 35) == 18 + 5
    assert eventlog.union_ms([], 0, 10) == 0
    assert eventlog.union_ms([(50, 60)], 0, 10) == 0
    assert MB == 1024 * 1024
