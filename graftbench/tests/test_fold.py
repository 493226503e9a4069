"""Tests for the event-log folder and the process-tree CPU split.

    python3 -m pytest graftbench/tests -q

The event log and spans under ``data/`` were recorded by
``record_fixture.py``: an ``iteration`` span holding ``outer``, which
runs one job itself, opens ``inner`` (one shuffling query) and then
sleeps 0.3 s with no job running.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from procs import Proc, cpu_split  # noqa: E402
from spans import (  # noqa: E402
    Fold,
    StageRecord,
    _union_length,
    load_spans,
    read_event_log,
    stage_totals,
    task_skew,
)

DATA = os.path.join(HERE, "data")


@pytest.fixture(scope="module")
def fold():
    spans = load_spans(os.path.join(DATA, "spans.jsonl"))
    return Fold(spans, read_event_log(os.path.join(DATA, "eventlog.jsonl")))


def by_name(fold, name):
    (s,) = [s for s in fold.spans.values() if s.name == name]
    return s


def own_stages(fold, span_id):
    return [st for st in fold.log.stages.values() if st.group == span_id]


def test_every_stage_is_credited_to_the_span_that_ran_it(fold):
    outer, inner = by_name(fold, "outer"), by_name(fold, "inner")
    groups = {st.group for st in fold.log.stages.values()}
    assert groups == {outer.id, inner.id}
    assert {j.group for j in fold.log.jobs.values()} == {outer.id, inner.id}
    inner_t = stage_totals(own_stages(fold, inner.id))
    assert inner_t["shuffle_write"] > 0
    assert inner_t["tasks"] >= 2


def test_a_span_includes_the_stages_of_its_descendants(fold):
    root, outer, inner = (by_name(fold, n) for n in ("iteration", "outer", "inner"))
    ids = lambda stages: {st.stage_id for st in stages}  # noqa: E731
    assert ids(fold.stages(inner.id)) == ids(own_stages(fold, inner.id))
    assert ids(fold.stages(outer.id)) == (
        ids(own_stages(fold, outer.id)) | ids(own_stages(fold, inner.id))
    )
    assert ids(fold.stages(root.id)) == set(fold.log.stages)
    assert own_stages(fold, root.id) == []


def test_self_time_is_wall_minus_child_cover(fold):
    root, outer, inner = (by_name(fold, n) for n in ("iteration", "outer", "inner"))
    assert fold.self_time(inner.id) == pytest.approx(inner.wall)
    assert fold.self_time(outer.id) == pytest.approx(outer.wall - inner.wall)
    assert fold.self_time(root.id) == pytest.approx(root.wall - outer.wall)
    # the 0.3 s sleep after inner is outer's own time
    assert fold.self_time(outer.id) >= 0.3


def test_job_gap_counts_the_sleep_but_not_the_jobs(fold):
    outer = by_name(fold, "outer")
    gap = fold.job_gap(outer.id)
    assert 0.3 <= gap < outer.wall


def test_union_length_merges_overlaps_and_clips():
    assert _union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _union_length([(-5, 1), (9, 20)], 0, 10) == 2
    assert _union_length([], 0, 10) == 0


def test_task_skew_uses_the_slowest_multi_task_stage():
    fast = StageRecord(0, "g", run_ms=[10, 10, 50])
    slow = StageRecord(1, "g", run_ms=[100, 100, 400])
    single = StageRecord(2, "g", run_ms=[9000])
    assert task_skew([fast, slow, single]) == 4.0
    assert task_skew([single]) == 1.0


def test_cpu_split_counts_each_process_once():
    procs = {
        100: Proc(100, 1, "python3 run.py", own_s=1.0, reaped_s=0.5),
        101: Proc(101, 100, "/usr/bin/java -cp x", own_s=10.0, reaped_s=3.0),
        102: Proc(102, 101, "python3 -m pyspark.daemon", own_s=2.0, reaped_s=4.0),
        103: Proc(103, 102, "python3 -m pyspark.daemon", own_s=1.0, reaped_s=0.0),
        200: Proc(200, 1, "/usr/bin/java other", own_s=99.0, reaped_s=0.0),
    }
    split = cpu_split(procs, 100)
    assert split["driver"] == 1.5
    assert split["jvm"] == 10.0
    # live daemon + live worker + workers each of them reaped
    assert split["python_workers"] == 2.0 + 4.0 + 1.0 + 3.0
    assert split["total"] == 21.5
