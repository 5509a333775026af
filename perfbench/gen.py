"""Seeded input generators for the pipe benchmark (pure Python + NumPy).

Every generator is a function of ``seed`` and the op index alone, so the
same seed replays the same batches on any commit. Each batch declares the
split the engine must report (``expect_inserted`` / ``expect_updated``)
and the rows its time window must hold afterwards (``window_rows``); the
split is known by construction, never derived from the program.

The base table mimics the sf0.1 ``events`` table: 100k rows over
2024-01-01 .. 2024-01-31 (exclusive), ``event_id`` 0..99999 in time
order. All batches write past the base data, so a window read-back has
an exact expected row set.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field

import numpy as np

COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
#: read-back filter: every type but ``error``
READ_TYPES = ("click", "purchase", "signup", "view")

BASE_ROWS = 100_000
BASE_BEGIN = datetime.datetime(2024, 1, 1)
BASE_END = datetime.datetime(2024, 1, 31)
#: first batch window starts here, past every base row
BATCH_EPOCH = datetime.datetime(2024, 2, 1)

_US = datetime.timedelta(microseconds=1)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed) % (1 << 63), *stream])


def _rows(rng: np.random.Generator, n: int, first_id: int,
          begin: datetime.datetime, span_us: int) -> list[tuple]:
    """``n`` event rows with sorted timestamps in ``[begin, begin+span)``."""
    offs = np.sort(rng.integers(0, span_us, size=n))
    users = rng.integers(0, 1500, size=n)
    types = rng.integers(0, len(EVENT_TYPES), size=n)
    values = np.round(rng.exponential(50.0, size=n), 2)
    ks = rng.integers(0, 100, size=n)
    return [
        (first_id + i, begin + int(offs[i]) * _US, int(users[i]),
         EVENT_TYPES[types[i]], float(values[i]), f'{{"k": {int(ks[i])}}}')
        for i in range(n)
    ]


def base_rows(seed: int, n: int = BASE_ROWS) -> list[tuple]:
    """The table every workload's pipe is built from at set-up."""
    span = int((BASE_END - BASE_BEGIN) / _US)
    return _rows(_rng(seed, 0), n, 0, BASE_BEGIN, span)


def as_dict(row: tuple) -> dict:
    return dict(zip(COLUMNS, row))


def readable(rows) -> set[tuple]:
    """The subset of ``rows`` the read-back's ``params`` filter keeps."""
    return {r for r in rows if r[3] in READ_TYPES}


def _changed(rng: np.random.Generator, row: tuple) -> tuple:
    """``row`` with a different ``value`` (a late correction)."""
    bump = round(float(rng.integers(1, 500)) / 100.0, 2)
    return row[:4] + (round(row[4] + bump, 2),) + row[5:]


@dataclass
class Batch:
    index: int
    rows: list[tuple]
    expect_inserted: int
    expect_updated: int
    begin: datetime.datetime
    end: datetime.datetime
    #: the rows ``[begin, end)`` holds once this batch is synced
    window_rows: set[tuple] = field(default_factory=set)

    @property
    def user_bytes(self) -> int:
        """Size of the batch's rows as text (their ``repr``), in bytes."""
        return sum(len(repr(r)) for r in self.rows)


class IncrBatches:
    """Small list-of-dicts batches, one 10-minute window per op.

    Batch ``k`` holds ``NEW`` fresh rows in its own window, then (from
    ``k >= LAG_MIN``) ``CORRECTIONS`` late corrections and ``REPLAYS``
    exact replays of rows written ``LAG_MIN..LAG_MAX`` ops earlier. The
    corrected and replayed rows are distinct, so the split is exactly
    ``(NEW, CORRECTIONS)``.
    """

    NEW, CORRECTIONS, REPLAYS = 16, 2, 2
    LAG_MIN, LAG_MAX = 3, 6
    WINDOW = datetime.timedelta(minutes=10)
    FIRST_ID = 1_000_000

    def __init__(self, seed: int):
        self.seed = seed
        self._fresh: dict[int, list[tuple]] = {}  # op -> current rows
        self._next = 0

    def batch(self, k: int) -> Batch:
        if k != self._next:
            raise ValueError(f"batches are generated in order: want {self._next}, got {k}")
        self._next += 1
        rng = _rng(self.seed, 1, k)
        begin = BATCH_EPOCH + k * self.WINDOW
        fresh = _rows(rng, self.NEW, self.FIRST_ID + k * self.NEW, begin,
                      int(self.WINDOW / _US))
        self._fresh[k] = list(fresh)
        rows = list(fresh)
        n_upd = 0
        if k >= self.LAG_MIN:
            pool = [(j, i) for j in range(max(0, k - self.LAG_MAX), k - self.LAG_MIN + 1)
                    for i in range(self.NEW)]
            pick = rng.choice(len(pool), size=self.CORRECTIONS + self.REPLAYS,
                              replace=False)
            for n, p in enumerate(pick):
                j, i = pool[int(p)]
                if n < self.CORRECTIONS:
                    self._fresh[j][i] = _changed(rng, self._fresh[j][i])
                    n_upd += 1
                rows.append(self._fresh[j][i])
        self._fresh.pop(k - self.LAG_MAX - 1, None)
        return Batch(k, rows, self.NEW, n_upd, begin, begin + self.WINDOW,
                     readable(fresh))


class BulkBatches:
    """Large batches handed over as Spark DataFrames, one 6-hour window
    per op.

    Batch ``k`` holds ``NEW`` fresh rows in its own window plus (from
    ``k >= 1``) an ``OVERLAP`` of the previous batch's rows, the first
    ``CHANGED`` of which carry a new ``value``; the split is exactly
    ``(NEW, CHANGED)``.
    """

    NEW, OVERLAP, CHANGED = 18_000, 2_000, 1_000
    WINDOW = datetime.timedelta(hours=6)
    FIRST_ID = 10_000_000

    def __init__(self, seed: int):
        self.seed = seed
        self._prev: list[tuple] | None = None
        self._next = 0

    def batch(self, k: int) -> Batch:
        if k != self._next:
            raise ValueError(f"batches are generated in order: want {self._next}, got {k}")
        self._next += 1
        rng = _rng(self.seed, 2, k)
        begin = BATCH_EPOCH + k * self.WINDOW
        fresh = _rows(rng, self.NEW, self.FIRST_ID + k * self.NEW, begin,
                      int(self.WINDOW / _US))
        rows = list(fresh)
        n_upd = 0
        if self._prev is not None:
            pick = rng.choice(len(self._prev), size=self.OVERLAP, replace=False)
            for n, p in enumerate(pick):
                row = self._prev[int(p)]
                if n < self.CHANGED:
                    row = _changed(rng, row)
                    n_upd += 1
                rows.append(row)
        self._prev = fresh
        return Batch(k, rows, self.NEW, n_upd, begin, begin + self.WINDOW,
                     readable(fresh))


def to_arrow(rows: list[tuple]):
    """Rows as a pyarrow table with the base table's schema (µs UTC ts)."""
    import pyarrow as pa
    cols = list(zip(*rows)) if rows else [()] * len(COLUMNS)
    return pa.table({
        "event_id": pa.array(cols[0], pa.int64()),
        "ts": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(cols[2], pa.int64()),
        "event_type": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.float64()),
        "props": pa.array(cols[5], pa.string()),
    })
