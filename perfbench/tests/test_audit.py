import json

import numpy as np
import pytest

from perfbench import audit
from perfbench.sink import JournalSinkFactory, fails_first_attempt


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))            # 1..100
    assert audit.percentile(xs, 0.5) == 50
    assert audit.percentile(xs, 0.99) == 99
    assert audit.percentile(xs, 1.0) == 100
    assert audit.percentile(xs, 0.0) == 1
    assert audit.percentile([7.0], 0.99) == 7.0
    assert audit.percentile([3, 1, 2], 0.5) == 2
    with pytest.raises(ValueError):
        audit.percentile([], 0.5)


def test_median_of_even_sample_averages():
    assert audit.median([4, 1, 3, 2]) == 2.5


def _put(t0, ids, failed=(), batch=0):
    return {"batch": batch, "t0": t0, "t1": t0 + 0.001, "ids": list(ids),
            "failed": list(failed)}


def test_canned_journal_lateness_and_retries():
    # 6 events, ts 0..5 s; due = 100 + ts (speedup 1)
    ts = np.arange(6, dtype=float)
    due = 100.0 + ts
    journals = [
        [_put(100.5, [0, 1, 2], failed=[1]),   # 1 rejected once
         _put(101.2, [1]),                    # retry of 1
         _put(103.0, [3])],
        [_put(104.25, [4, 5])],
    ]
    d = audit.audit_delivery(journals, 6, ts, due, max_per_request=3)
    assert d.problems == []
    assert (d.accepted, d.offered, d.requests, d.retried) == (6, 7, 4, 1)
    # arrivals: 0->100.5, 2->100.5, 1->101.2, 3->103, 4->104.25, 5->104.25
    assert sorted(d.lateness.tolist()) == pytest.approx(
        sorted([0.5, -1.5, 0.2, 0.0, 0.25, -0.75]))
    assert d.first_arrival == 100.5
    assert audit.percentile(d.lateness, 0.5) == pytest.approx(0.0)


def test_audit_flags_every_violation():
    ts = np.arange(5, dtype=float)
    due = np.zeros(5)
    journals = [[_put(1.0, [2, 1]),            # out of ts order
                 _put(1.1, [3, 3, 3, 3])]]     # over cap, duplicates
    d = audit.audit_delivery(journals, 5, ts, due, max_per_request=3)
    assert d.order_violations == 1
    assert d.cap_violations == 1
    assert d.duplicates == 3
    assert d.missing == 2                      # ids 0 and 4
    assert {p.split("=")[0] for p in d.problems} == {
        "order_violations", "cap_violations", "duplicates", "missing"}


def test_order_is_checked_per_sink_instance():
    ts = np.arange(4, dtype=float)
    journals = [[_put(1.0, [2, 3])], [_put(1.0, [0, 1])]]
    d = audit.audit_delivery(journals, 4, ts, np.zeros(4), 500)
    assert d.order_violations == 0 and d.problems == []


def test_cross_batch_order_is_checked_across_sink_instances():
    # batch 0 emits ts 0, 1, 3 over two senders; batch 1 brings ts 2 (a
    # straggler the gate should have held 3 back for) and ts 4
    ts = np.arange(5, dtype=float)
    journals = [[_put(1.0, [0, 1], batch=0)], [_put(1.0, [3], batch=0)],
                [_put(2.0, [2, 4], batch=1)]]
    d = audit.audit_delivery(journals, 5, ts, np.zeros(5), 500)
    assert d.order_violations == 0
    assert d.batch_order_violations == 1
    assert d.problems == ["batch_order_violations=1"]
    journals[1][0]["batch"] = 1                # 3 held back to batch 1
    assert audit.audit_delivery(journals, 5, ts, np.zeros(5),
                                500).problems == []
    assert audit.cross_batch_violations(
        np.array([2, 0, 1, 1]), np.array([5.0, 3.0, 1.0, 4.0])) == 1


def test_journal_sink_rejects_planned_records_once(tmp_path):
    seed, rate = 3, 2_000                     # 20%
    factory = JournalSinkFactory(str(tmp_path), seed, rate)
    factory.batch = 7
    sink = factory()
    records = [{"payload": f'{{"event_id":{i},"x":1}}', "ts": "t"}
               for i in range(50)]
    failed = sink.put_records(records)
    planned = [i for i in range(50) if fails_first_attempt(i, seed, rate)]
    assert failed == planned and planned
    assert sink.put_records([records[i] for i in failed]) == []
    [puts] = audit.read_journals(str(tmp_path))
    assert [p["ids"] for p in puts] == [list(range(50)), planned]
    assert {p["batch"] for p in puts} == {7}
    d = audit.audit_delivery([puts], 50, np.arange(50.0), np.zeros(50), 500)
    assert d.problems == [] and d.retried == len(planned)
    assert d.accepted / d.offered == 50 / (50 + len(planned))
    json.dumps(puts)


def test_oracle_rule_is_order_insensitive():
    cols, rows = ["b", "a"], [(1, "x"), (2, None)]
    assert audit.compare_to_oracle(cols, rows, ["a", "b"],
                                   [(None, 2), ("x", 1)]) == []
    assert audit.compare_to_oracle(cols, rows, ["a", "b"],
                                   [(None, 2), ("y", 1)]) == [
        "value-hash mismatch"]
    assert audit.compare_to_oracle(cols, rows[:1], ["a", "b"], rows) == [
        "rows 1 != 2"]
