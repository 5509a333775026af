"""Output checks: every check is one attempted op, every mismatch a failure."""

from __future__ import annotations

import sys

import gen


def row_tuple(row) -> tuple:
    """A collected Spark ``Row`` as a generator row tuple. Timestamps come
    back naive in the process time zone, which run.py pins to UTC."""
    return tuple(row[c] for c in gen.COLUMNS)


class Checks:
    #: failures beyond this many are counted but not printed
    PRINT_MAX = 20

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def _fail(self, msg: str) -> None:
        self.failed += 1
        if self.failed <= self.PRINT_MAX:
            print(f"perfbench: check failed: {msg}", file=sys.stderr, flush=True)

    def expect(self, what: str, got, want) -> bool:
        self.attempted += 1
        if got != want:
            self._fail(f"{what}: got {got!r}, want {want!r}")
            return False
        return True

    def error(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self._fail(f"{what}: {type(exc).__name__}: {exc}")

    def sync_result(self, k: int, res, batch: gen.Batch) -> bool:
        """The sync succeeded with exactly the generator's split."""
        got = (bool(res), res.inserted, res.updated) if res is not None else None
        return self.expect(f"op {k} sync split", got,
                           (True, batch.expect_inserted, batch.expect_updated))

    def read_back(self, k: int, rows, batch: gen.Batch) -> bool:
        """The read-back returned exactly the rows written into the window."""
        got = [row_tuple(r) for r in rows] if rows is not None else []
        self.attempted += 1
        if len(got) != len(batch.window_rows) or set(got) != batch.window_rows:
            self._fail(f"op {k} read-back: {len(got)} rows, want "
                       f"{len(batch.window_rows)} (content differs)")
            return False
        return True

    @property
    def correct(self) -> bool:
        return self.failed == 0 and self.attempted > 0
