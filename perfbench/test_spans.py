"""Event-log reader and span arithmetic, on a small fixture log.

``fixtures/eventlog.jsonl`` is a real Spark 4 event log of one labelled
write (``p1:x``: a 2 000-row range joined to a 500-row range on ``id % 100``,
so the join emits 2 000 x 5 rows), cut down to the fields the reader uses.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog.jsonl")


def _label(desc):
    return desc if desc and desc.startswith("p") else None


def test_event_log_rows():
    rows = spans.read_event_log(FIXTURE, _label)
    assert set(rows) == {"p1:x"}
    r = rows["p1:x"]
    assert (r["jobs"], r["stages"], r["tasks"]) == (3, 3, 7)
    assert r["join_rows"] == 2000 * 5
    assert r["run_s"] > 0 and r["cpu_s"] > 0
    assert r["output_mb"] > 0
    assert r["shuffle_read_mb"] == r["shuffle_write_mb"] > 0
    assert r["task_skew"] >= 1.0
    assert len(r["job_intervals"]) == 3


def test_unlabelled_jobs_count_as_setup():
    rows = spans.read_event_log(FIXTURE, lambda desc: None)
    assert set(rows) == {spans.SETUP}
    assert rows[spans.SETUP]["jobs"] == 3


def test_self_time_subtracts_children():
    tr = spans.Tracer(True)
    tr.spans = [
        {"id": 0, "name": "op", "parent": None, "op": "x", "pass": 1, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "op": "x", "pass": 1, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "op": "x", "pass": 1, "start": 3.0, "end": 6.0},
    ]
    self_s = {s["name"]: s["self_s"] for s in tr.self_times()}
    assert self_s == {"op": 5.0, "a": 3.0, "b": 3.0}


def test_driver_gap_is_time_outside_jobs():
    assert spans.driver_gap(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]) == 10.0 - 4.0


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == []
