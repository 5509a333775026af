"""Checks on the benchmark itself (no Spark): seeded inputs, declared
splits, failure counting and the span arithmetic.

Run with ``python -m pytest perfbench/tests -q``.
"""

import datetime

import pytest

import gen
from checks import Checks
from spans import self_ms, union_length


class FakeResult:
    def __init__(self, inserted, updated, success=True):
        self.inserted, self.updated, self.success = inserted, updated, success

    def __bool__(self):
        return self.success


def as_row(t):
    return dict(zip(gen.COLUMNS, t))


def apply(store: dict, batch: gen.Batch) -> tuple[int, int]:
    """Reference upsert: last row per key wins; count unseen and changed."""
    last = {r[0]: r for r in batch.rows}
    ins = upd = 0
    for key, row in last.items():
        if key not in store:
            ins += 1
        elif store[key] != row:
            upd += 1
        store[key] = row
    return ins, upd


@pytest.mark.parametrize("cls,n", [(gen.IncrBatches, 12), (gen.BulkBatches, 4)])
def test_same_seed_same_batches(cls, n):
    a, b = cls(7), cls(7)
    for k in range(n):
        x, y = a.batch(k), b.batch(k)
        assert x.rows == y.rows
        assert (x.expect_inserted, x.expect_updated) == (y.expect_inserted, y.expect_updated)
        assert x.window_rows == y.window_rows


@pytest.mark.parametrize("cls", [gen.IncrBatches, gen.BulkBatches])
def test_other_seed_same_shape_other_values(cls):
    a, b = cls(1), cls(2)
    for k in range(4):
        x, y = a.batch(k), b.batch(k)
        assert len(x.rows) == len(y.rows)
        assert (x.expect_inserted, x.expect_updated) == (y.expect_inserted, y.expect_updated)
        assert x.rows != y.rows


def test_base_rows_seeded_and_before_batches():
    rows = gen.base_rows(3, n=2000)
    assert rows == gen.base_rows(3, n=2000)
    assert rows != gen.base_rows(4, n=2000)
    assert [r[0] for r in rows] == list(range(2000))
    assert all(gen.BASE_BEGIN <= r[1] < gen.BASE_END for r in rows)
    assert max(r[1] for r in rows) < gen.BATCH_EPOCH


@pytest.mark.parametrize("cls,n,split", [
    (gen.IncrBatches, 15, (16, 2)),
    (gen.BulkBatches, 4, (18_000, 1_000)),
])
def test_declared_split_matches_reference_upsert(cls, n, split):
    store = {r[0]: r for r in gen.base_rows(5, n=500)}
    batches = cls(5)
    for k in range(n):
        b = batches.batch(k)
        assert apply(store, b) == (b.expect_inserted, b.expect_updated)
        in_window = {r for r in store.values() if b.begin <= r[1] < b.end}
        assert gen.readable(in_window) == b.window_rows
    # every op after the first few has the steady shape
    assert (b.expect_inserted, b.expect_updated) == split


def test_batches_must_be_generated_in_order():
    batches = gen.IncrBatches(1)
    batches.batch(0)
    with pytest.raises(ValueError):
        batches.batch(2)


def test_correct_results_pass():
    b = gen.IncrBatches(9)
    for k in range(4):
        batch = b.batch(k)
    checks = Checks()
    assert checks.sync_result(3, FakeResult(16, 2), batch)
    assert checks.read_back(3, [as_row(r) for r in batch.window_rows], batch)
    assert checks.expect("rowcount", 10, 10)
    assert (checks.attempted, checks.failed, checks.correct) == (3, 0, True)


@pytest.mark.parametrize("tamper", [
    "inserted", "updated", "success", "value", "ts", "missing", "extra",
])
def test_tampered_result_counts_as_failure(tamper):
    b = gen.IncrBatches(9)
    for k in range(4):
        batch = b.batch(k)
    res = FakeResult(16, 2)
    rows = [as_row(r) for r in sorted(batch.window_rows)]
    if tamper == "inserted":
        res.inserted += 1
    elif tamper == "updated":
        res.updated -= 1
    elif tamper == "success":
        res.success = False
    elif tamper == "value":
        rows[0]["value"] += 0.01
    elif tamper == "ts":
        rows[0]["ts"] += datetime.timedelta(microseconds=1)
    elif tamper == "missing":
        rows.pop()
    elif tamper == "extra":
        rows.append(dict(rows[0]))
    checks = Checks()
    checks.sync_result(3, res, batch)
    checks.read_back(3, rows, batch)
    assert checks.attempted == 2
    assert checks.failed == 1
    assert not checks.correct


def test_exception_counts_as_failure():
    checks = Checks()
    checks.error("op 0", RuntimeError("boom"))
    assert (checks.attempted, checks.failed, checks.correct) == (1, 1, False)


def test_union_length_clips_and_merges():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(-5, 1), (9, 20)], 0, 10) == 2
    assert union_length([], 0, 10) == 0


def test_self_time_subtracts_direct_children_once():
    spans = [
        {"id": 0, "name": "pipe.sync", "parent": None, "start": 0.0, "end": 1.0},
        {"id": 1, "name": "store.merge", "parent": 0, "start": 0.1, "end": 0.5},
        {"id": 2, "name": "store.read", "parent": 1, "start": 0.2, "end": 0.3},
        {"id": 3, "name": "store.append", "parent": 0, "start": 0.4, "end": 0.6},
    ]
    assert self_ms(spans, "pipe.sync") == pytest.approx(500.0)
    assert self_ms(spans, "store.merge") == pytest.approx(300.0)
