"""Partitioned-Parquet instance store with MERGE semantics.

Implements the instance-connector contract surface the reference defines in
meerschaum/connectors/instance/_pipes.py:17-665 (sync/read/clear/dedup/drop)
on a directory of hive-partitioned parquet. The physical layout IS the
reference's epoch-aligned range-partition grid
(connectors/sql/_partition.py:26-942): one directory per
``chunk_minutes``-wide epoch cell, keyed by ``_mrsm_part = floor(epoch_us /
width_us)``.

Scale notes (designed for 100 TB / 1000 executors, tested on local[32]):
  * Reads pass an explicit schema (no footer inference) and prune on the
    partition column, so a time-bounded read lists/opens only the matching
    partition directories. A driver-sized window skips Spark altogether
    (``read_local``): the matching cells' parquet footers pick the row
    groups that overlap it, and when those hold at most the caller's
    row gate, pyarrow reads them on the driver under the table lock.
  * MERGE rewrites only the partitions the patch touches: affected cells are
    computed from the patch, the existing rows of those cells are anti-joined
    against patch keys (null-safe), and keep ∪ patch is written to a staging
    dir then swapped in per-partition. Work is proportional to the patch's
    time-range, never the table size.
  * Appends of unseen rows add files (no rewrite) — the common
    incremental-sync case costs one write of the new rows.
  * A diff sync commits its inserts and its corrections in ONE publish.
    A distributed one stages both splits of its diff in one Spark job
    (``stage_sync``); ``merge`` then reads the staged corrections, folds
    the staged inserts of the files it rewrites, and publishes its
    rewrite from that staging dir, beside the other inserts
    (``_commit``).
  * A driver-sized sync writes without Spark: ``merge`` given pyarrow
    tables (corrections plus inserts) rewrites the touched files with
    pyarrow and stages them beside the inserts for ONE publish
    (``_merge_arrow``, ``_stage_arrow``). The files keep Spark's layout
    and footer statistics and read back through both readers.
  * Every write is atomic and cross-process safe: it holds a per-table
    flock (``locking.ProcessLock`` — the local stand-in for the reference's
    per-sync DB transaction, connectors/sql/_pipes.py:2217-2809), lands its
    rows in a fresh ``_staging_*`` dir, and commits through ONE publish
    step (``_publish``): a fsync'd manifest of the files to remove and the
    staged files to move in, applied by the same idempotent roll-forward
    that the next lock holder runs on a manifest a killed writer left
    behind (``recover_interrupted_swap``). Appends, merges, range
    replaces, cell swaps and overwrites differ only in what they remove.
    On a real cluster the publish would be a table-format commit
    (Delta/Iceberg); the layout and pruning strategy carry over unchanged.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import shutil
import time
import uuid
from typing import Any, Iterable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meerschaum_spark.chunks import DEFAULT_CHUNK_MINUTES
from meerschaum_spark.dtypes import UNIT_US, normalize_unit, to_spark_type
from meerschaum_spark.locking import ProcessLock, process_lock
from meerschaum_spark.params import sql_in_condition

EXISTS_TTL_SECONDS = 60.0  # reference config/_default.py:244-258
PART_COL = "_mrsm_part"
NULL_PART_DIR = f"{PART_COL}=__HIVE_DEFAULT_PARTITION__"
#: publish manifest (format: ``ParquetPipeStore._publish``): present
#: exactly for the duration of a publish's rename window; a crashed writer
#: leaves it behind and the next lock holder ROLLS it FORWARD
MANIFEST_NAME = "_swap_manifest.json"
#: ``stage_sync``'s split column: a directory level of its one write job,
#: never a column of a data file
SPLIT_COL = "_mrsm_split"
_EPOCH = datetime.datetime(1970, 1, 1)


def has_map(t: T.DataType) -> bool:
    """Whether a Spark type holds a map anywhere — a key Spark cannot
    group by, whose collected values group wrongly in Python, and whose
    Arrow form (a list of pairs) the driver-local read does not serve."""
    if isinstance(t, T.MapType):
        return True
    if isinstance(t, T.ArrayType):
        return has_map(t.elementType)
    if isinstance(t, T.StructType):
        return any(has_map(f.dataType) for f in t.fields)
    return False


class UnsupportedKeyType(Exception):
    """A value Python cannot compare with Spark's equality semantics (a
    dict: a map, or a struct collected through Arrow)."""


def norm_key(v: Any) -> Any:
    """Normalize one value so Python equality and hashing match Spark's
    null-safe equality: NaN equals NaN, -0.0 equals +0.0, nulls equal
    each other; arrays and Row structs compare element-wise; decimals by
    numeric value (Python Decimal hash/eq already are). Dicts raise
    ``UnsupportedKeyType``."""
    if v is None:
        return None
    if isinstance(v, float):
        if v != v:                      # NaN: Spark groups NaNs together
            return ("__mrsm_nan__",)
        return v + 0.0                  # collapses -0.0 into +0.0
    if isinstance(v, (bytearray, bytes)):
        return bytes(v)
    if isinstance(v, (list, tuple)):    # ArrayType / StructType (Row)
        return tuple(norm_key(x) for x in v)
    if isinstance(v, dict):
        raise UnsupportedKeyType(type(v).__name__)
    return v


def row_keys(tbl: "pa.Table", cols: Sequence[str]) -> list[tuple]:
    """The rows of ``tbl``'s ``cols`` as tuples of ``norm_key`` values,
    timestamps as epoch µs — so two rows compare equal exactly when
    Spark's null-safe equality holds on every column."""
    import pyarrow as pa
    lists = []
    for c in cols:
        col = tbl[c]
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.int64())
        lists.append([norm_key(v) for v in col.to_pylist()])
    return list(zip(*lists)) if lists else [()] * tbl.num_rows


class ParquetPipeStore:
    """One pipe's physical table: ``<root>/<target>/data/_mrsm_part=N/*.parquet``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        target: str,
        dt_col: str | None = None,
        dt_is_int: bool = False,
        dt_unit: str = "microsecond",
        chunk_minutes: int = DEFAULT_CHUNK_MINUTES,
        lock_path: str | None = None,
    ):
        self.spark = spark
        self.root = root
        self.target = target
        self.dt_col = dt_col
        self.dt_is_int = dt_is_int
        self.dt_unit = normalize_unit(dt_unit)
        self.chunk_minutes = int(chunk_minutes)
        self.width_us = self.chunk_minutes * 60_000_000
        #: lock under ANOTHER table's lockfile (ADVICE r11): a side
        #: table NESTED inside a base pipe directory (annidx,
        #: rollup_*) must share the BASE pipe's lock — its own
        #: lockfile would live at <pipe-dir>/.locks/<side>.lock,
        #: INSIDE the directory the base drop() rmtrees, so a
        #: side-store-only holder (another process's read→recover)
        #: could be mid-rename while drop() deletes under it. One
        #: lock per pipe covers base + side tables; re-entrancy makes
        #: the nested acquires free.
        self._lock_path = lock_path
        self._exists_cache: tuple[bool, float] | None = None

    # -- paths -------------------------------------------------------------

    @property
    def path(self) -> str:
        return os.path.join(self.root, self.target)

    @property
    def data_path(self) -> str:
        return os.path.join(self.path, "data")

    # -- cross-process commit protocol --------------------------------------

    @property
    def lock(self) -> ProcessLock:
        """Per-table cross-process write lock (``<root>/.locks/``),
        shared with ``Pipe._write_lock``: flock across OS processes,
        re-entrant RLock within one. Every store mutation holds it for
        its read-modify-write, so two drivers syncing the same pipe
        serialize exactly like the reference's per-sync DB transaction
        (connectors/sql/_pipes.py:2217-2809). Nested side stores share
        their base pipe's lock via ``lock_path`` (see ``__init__``)."""
        return process_lock(self._lock_path or self.path)

    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST_NAME)

    def _write_manifest(self, doc: dict) -> None:
        """Atomically publish the manifest (tmp + rename + fsync):
        written AFTER the staged parquet is complete and BEFORE the
        first rename, so its presence always means 'staging holds the
        full new state for the listed files — roll forward'."""
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())

    def _clear_manifest(self) -> None:
        try:
            os.remove(self._manifest_path())
        except FileNotFoundError:
            pass

    def _maybe_recover(self) -> None:
        """Cheap fast-path probe (one isfile) callers sprinkle before
        reads/mutations; the slow path only runs when a dead writer
        actually left a manifest behind."""
        if os.path.isfile(self._manifest_path()):
            self.recover_interrupted_swap()

    def recover_interrupted_swap(self) -> bool:
        """Roll FORWARD a publish whose writer died mid-commit.

        The manifest is only ever written once the staged parquet is
        complete, so the staged files ARE the committed new state:
        recovery re-runs the writer's own idempotent ``_roll_forward``.
        Rolling back is impossible by construction — the interrupted
        writer may already have removed replaced files.

        Returns True when a recovery was performed. Safe to call any
        time: takes the write lock, so it cannot fire while the writer
        is alive mid-publish (the writer holds the lock for the whole
        window), and re-checks the manifest under the lock."""
        if not os.path.isfile(self._manifest_path()):
            return False
        with self.lock:
            try:
                with open(self._manifest_path()) as f:
                    doc = json.load(f)
            except (FileNotFoundError, json.JSONDecodeError):
                return False  # writer finished, or torn tmp never published
            if not re.fullmatch(r"_staging_[0-9a-f]{12}",
                                str(doc.get("staging", ""))):
                # A manifest that parses as JSON but carries a
                # missing/empty/foreign 'staging' field is TORN, not a
                # commit record (ADVICE r11): trusting it would make
                # staging the table dir itself (or a parent), which the
                # roll-forward deletes at its end — refuse any
                # destructive action, clear the malformed manifest, and
                # let the caller proceed on the (still intact) published
                # state.
                self._clear_manifest()
                return False
            self._roll_forward(doc)
            self._mark_exists(self._exists_uncached())
            self._refresh_listing()
            return True

    def exists(self, refresh: bool = False) -> bool:
        """Directory probe with a TTL cache (reference caches ``exists``
        for 60 s, core/Pipe/_cache.py + config/_default.py:244-258): on a
        busy driver the per-call listing dominates small-sync latency.
        Local writes update the cache in place; external writers are
        covered by expiry.

        ``refresh=True`` bypasses the cache — write paths whose behavior
        forks on existence (first-sync append vs diff) must probe fresh:
        a stale False cached up to TTL seconds before another writer
        created the table would otherwise append without diffing."""
        now = time.monotonic()
        if not refresh and self._exists_cache is not None:
            val, ts = self._exists_cache
            if now - ts < EXISTS_TTL_SECONDS:
                return val
        val = self._exists_uncached()
        self._exists_cache = (val, now)
        return val

    def _exists_uncached(self) -> bool:
        return bool(self._cell_dirs(self.data_path))

    def _mark_exists(self, val: bool) -> None:
        self._exists_cache = (val, time.monotonic())

    def _refresh_listing(self) -> None:
        """Invalidate Spark's cached file listing/data for this table.
        Spark shares a FileStatusCache across queries with no TTL: after a
        partition rewrite a plan can reference deleted files
        (FAILED_READ_FILE), and after an append it can silently MISS the
        new files. Every mutation must end with this."""
        try:
            self.spark.catalog.refreshByPath(self.data_path)
        except Exception:
            pass  # path may not exist yet

    # -- partition key -----------------------------------------------------

    def _epoch_us_col(self) -> F.Column:
        c = F.col(self.dt_col)
        if self.dt_is_int:
            return (c.cast("long") * F.lit(UNIT_US[self.dt_unit])).cast("long")
        return F.unix_micros(c)

    def _epoch_us_sql(self) -> str:
        q = "`" + self.dt_col.replace("`", "``") + "`"
        if self.dt_is_int:
            return f"(cast({q} as bigint) * {UNIT_US[self.dt_unit]})"
        return f"unix_micros({q})"

    def part_expr(self) -> F.Column:
        """The partition-cell expression, exact int64 end to end: floor
        division spelled as subtract-nonneg-remainder + truncating
        ``div`` (the engine's cross-engine discipline). The previous
        ``floor(epoch / width)`` float division is lossy above 2^53 µs
        and disagreed with the driver-side ``part_index_of``'s exact
        ``//`` at extreme epochs — the partition key must never touch a
        double. pmod keeps negative int-axis epochs flooring like
        ``//``."""
        e = self._epoch_us_sql()
        w = self.width_us
        return F.expr(f"(({e}) - pmod(({e}), {w})) div {w}").cast("long")

    def with_part(self, df: DataFrame) -> DataFrame:
        if self.dt_col is None or self.dt_col not in df.columns:
            return df.withColumn(PART_COL, F.lit(0).cast("long"))
        return df.withColumn(PART_COL, self.part_expr())

    def part_index_of(self, epoch_us: int) -> int:
        return epoch_us // self.width_us

    # -- schema ------------------------------------------------------------

    def read_schema(self, dtypes: dict[str, str] | None) -> T.StructType | None:
        """Explicit read schema from registered dtypes (+ partition col).

        Passing a schema skips footer inference — at 100 TB, inference would
        list and open every file before the first byte of real work.
        """
        if not dtypes:
            return None
        fields = [T.StructField(c, to_spark_type(dt), True) for c, dt in dtypes.items()]
        fields.append(T.StructField(PART_COL, T.LongType(), True))
        return T.StructType(fields)

    def arrow_schema(self, dtypes: dict[str, str] | None) -> "pa.Schema | None":
        """``read_schema`` without ``PART_COL`` as Arrow: the shape of
        every table the driver-local read returns and of every file the
        Arrow writer stages."""
        from pyspark.sql.pandas.types import to_arrow_schema
        schema = self.read_schema(dtypes)
        if schema is None:
            return None
        return to_arrow_schema(T.StructType(
            [f for f in schema.fields if f.name != PART_COL]))

    # -- read --------------------------------------------------------------

    def read(
        self,
        dtypes: dict[str, str] | None = None,
        begin_us: int | None = None,
        end_us: int | None = None,
        keep_part_col: bool = False,
        part_values: Iterable[Any] | None = None,
    ) -> DataFrame:
        """Scan the table with partition pruning from epoch-µs bounds.

        ``end_us`` is exclusive (matching the engine-wide bound contract).
        """
        self._maybe_recover()  # one isfile; heals a dead writer's swap
        if not self.exists():
            schema = self.read_schema(dtypes) or T.StructType([])
            empty = self.spark.createDataFrame([], schema)
            return empty if keep_part_col else empty.drop(PART_COL)
        reader = self.spark.read
        schema = self.read_schema(dtypes)
        if schema is not None:
            reader = reader.schema(schema)
        else:
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(self.data_path)
        if begin_us is not None:
            df = df.filter(F.col(PART_COL) >= self.part_index_of(begin_us))
        if end_us is not None:
            df = df.filter(F.col(PART_COL) <= self.part_index_of(end_us - 1))
        if part_values is not None:
            vals = list(part_values)
            non_null = [v for v in vals if v is not None]
            cond = (sql_in_condition(PART_COL, non_null)
                    if non_null else F.lit(False))
            if any(v is None for v in vals):
                cond = cond | F.col(PART_COL).isNull()
            df = df.filter(cond)
        return df if keep_part_col else df.drop(PART_COL)

    def read_local(
        self,
        dtypes: dict[str, str] | None,
        begin_us: int | None,
        end_us: int | None,
        max_rows: int,
        order_by: Sequence[str] = (),
        descending: bool = False,
    ) -> "pa.Table | None":
        """The window ``[begin_us, end_us)`` as a driver-local
        ``pyarrow.Table`` shaped like ``read``'s explicit-schema frame
        (without ``PART_COL``), sorted like Spark's ``orderBy`` on
        ``order_by`` — or None when the read must go through Spark.

        Rows come from whole row groups whose footer dt min/max overlaps
        the window, so the caller still applies the dt filter. Declines
        (None) when those row groups hold more than ``max_rows`` rows or
        lack dt statistics, when the pipe has no dt column or registered
        dtypes, when the schema holds a map, when an unbounded read would
        miss the null-dt cell, when a stored column's Arrow type is not
        the one Spark's read schema asks for (Spark may convert it; this
        read never casts), and when a float sort column holds a NaN
        (pyarrow sorts NaN beside nulls, Spark above +inf). A column an
        older file lacks reads as nulls, as in Spark.

        Listing and reading hold the table lock: a concurrent publish
        can neither remove a listed file before it is opened nor expose
        both copies of a merged file."""
        import pyarrow as pa
        import pyarrow.compute as pc

        schema = self.read_schema(dtypes)
        if self.dt_col is None or schema is None or self.dt_col not in dtypes:
            return None
        if any(has_map(f.dataType) for f in schema.fields):
            return None
        target = self.arrow_schema(dtypes)
        with self.lock:
            self._maybe_recover()
            if not self.exists():
                return target.empty_table()
            if (begin_us is None and end_us is None
                    and os.path.isdir(os.path.join(self.data_path,
                                                   NULL_PART_DIR))):
                return None
            try:
                parts = self._read_row_groups(target, begin_us, end_us,
                                              max_rows)
            except (OSError, pa.ArrowException):
                return None  # an unreadable file fails the Spark way
        if parts is None:
            return None
        tbl = pa.concat_tables(parts) if parts else target.empty_table()
        if not order_by or not tbl.num_rows:
            return tbl
        for c in order_by:
            t = target.field(c).type
            if pa.types.is_nested(t):
                return None
            if pa.types.is_floating(t) and pc.any(pc.is_nan(tbl[c])).as_py():
                return None
        # Spark's default null order: first ascending, last descending
        direction = "descending" if descending else "ascending"
        return tbl.take(pc.sort_indices(
            tbl, sort_keys=[(c, direction) for c in order_by],
            null_placement="at_end" if descending else "at_start"))

    def _read_row_groups(self, target, begin_us: int | None,
                         end_us: int | None, max_rows: int) -> list | None:
        """``read_local``'s footer gate and row-group read, under its
        lock hold: one ``target``-shaped table per file, or None to
        decline."""
        files = self._parquet_files(self.data_path,
                                    self._cell_names(begin_us, end_us))
        picked: dict[str, list[int]] = {}
        n = 0
        for rel, rg, rows, lo, hi in self._row_groups(files):
            if lo is None:
                return None
            if ((end_us is None or lo < end_us)
                    and (begin_us is None or hi >= begin_us)):
                n += rows
                if n > max_rows:
                    return None
                picked.setdefault(rel, []).append(rg)
        return self._read_arrow(target, picked)

    def _read_arrow(self, target, picked: dict) -> list | None:
        """The ``picked`` row groups (``cell/file`` → group indices) as
        one ``target``-shaped table per file, projected without casts: a
        column a file lacks becomes nulls, and a stored Arrow type other
        than the target's declines (None). Unreadable files raise what
        pyarrow raises."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        parts = []
        for rel, groups in picked.items():
            with pq.ParquetFile(os.path.join(self.data_path, rel)) as pf:
                names = set(pf.schema_arrow.names)
                got = pf.read_row_groups(
                    groups, columns=[c for c in target.names if c in names])
            cols = []
            for field in target:
                if field.name not in names:
                    cols.append(pa.nulls(got.num_rows, field.type))
                elif got[field.name].type.equals(field.type):
                    cols.append(got[field.name])
                else:
                    return None
            parts.append(pa.Table.from_arrays(cols, schema=target))
        return parts

    # -- write paths -------------------------------------------------------

    def append(self, df: DataFrame) -> list[str]:
        """File-add append of rows known to be unseen (no rewrite).

        Returns the final paths of the files it moved in — the
        written-rows set AS FILES, which rollup delta and ANN
        maintenance read instead of rescanning base-table cells."""
        with self.lock:
            self._maybe_recover()
            return self._publish(self._stage(self.with_part(df)))

    def _rebalanced(self, df: DataFrame,
                    by: Sequence[str] = (PART_COL,)) -> DataFrame:
        """REBALANCE(``by``, the write's partition columns) before a
        partitioned write: AQE coalesces a small sync's N task-outputs
        into one file per partition cell (instead of tasks × cells small
        files that every later backtrack scan and merge re-lists), and
        splits skewed cells of a bulk load into multiple right-sized
        files. This is the standard AQE answer to the dynamic-partition
        small-files problem. When AQE is off (the low-latency sync
        window) fall back to a plain repartition(``by``): one task — one
        file — per touched cell,
        which is the right shape for a small incremental sync (few cells,
        tiny shuffle) and keeps every later backtrack scan from paying a
        tasks × cells small-file listing."""
        try:
            aqe = self.spark.conf.get("spark.sql.adaptive.enabled")
        except Exception:
            aqe = "true"
        if str(aqe).lower() != "true":
            return df.repartition(*by)
        return df.hint("rebalance", *by)

    def overwrite(self, df: DataFrame) -> None:
        """Full-table replace: the publish removes every stored file."""
        with self.lock:
            self._maybe_recover()
            staging = self._stage(self.with_part(df))
            self._publish(staging, self._parquet_files(self.data_path))

    def merge(
        self,
        patch: "DataFrame | pa.Table | None",
        keys: list[str],
        dtypes: dict[str, str] | None = None,
        begin_us: int | None = None,
        end_us: int | None = None,
        parts: list | None = None,
        inserts: "pa.Table | str | None" = None,
        max_rows: int = 0,
    ) -> list[str]:
        """Upsert ``patch`` on ``keys``: delete-matching + insert, rewriting
        only affected partitions.

        Equivalent of the reference's per-flavor MERGE templates
        (meerschaum/utils/sql.py:74-236, get_update_queries :1667-1991) and of
        Delta ``MERGE INTO`` with a partition-pruning merge condition. Key
        equality is null-safe (``eqNullSafe``), replacing the reference's
        COALESCE-sentinel machinery (utils/sql.py:1994-2045).

        When the caller already knows the patch's time bounds
        (``begin_us``/``end_us``, exclusive end — sync's diff computed them
        anyway), the existing side prunes STATICALLY on the partition
        column and the swap list comes from the staging directory after
        the write — the whole merge is then ONE Spark action. Without
        bounds, the affected-partition list is collected from the patch
        first (one extra small action), exactly the reference's
        MERGE date-bound pre-filter shape (utils/sql.py:1920-1933).

        ``parts`` (caller-known affected CELL list, e.g. observed from
        the sync diff job): prunes the existing side to exactly those
        partition cells with NO extra action and NO contiguous-window
        assumption — the right path for SCATTERED patches (late
        corrections spread across history), where a [min, max] window
        covers the whole table and the footer-range file pruning
        degenerates to touching every file.

        Holds the cross-process lock for the WHOLE read-modify-write
        (listing, footer stats, anti-join, publish): two drivers merging
        the same pipe serialize like the reference's DB transaction.

        ``inserts`` are a diff sync's unseen rows, committed in the
        merge's ONE publish: a staging dir of cells (``stage_sync``'s,
        which the merge publishes its rewrite from) or, beside a
        pyarrow patch, a pyarrow table. The Spark merge treats staged
        insert files as stored ones, as if they had been appended
        first: a file it rewrites folds into the rewrite (its returned
        path then no longer exists, like an appended file a later merge
        rewrote); the rest move in as they are. ``patch=None`` publishes
        the inserts alone.

        A pyarrow ``patch`` (key-unique, a driver-local diff's
        corrections; it may be empty) is merged with pyarrow: the
        touched files (``parts``' files, or the footer-pruned files of
        ``[begin_us, end_us)``) are read, their rows whose key matches a
        patch key are dropped, and the kept rows plus the patch are
        staged beside the inserts, one file per cell each
        (``_merge_arrow``). That declines when dt is not a merge key, the
        patch lacks a stored column (the re-attach below needs a join),
        no scope is given, or the touched files' footers count more than
        ``max_rows`` rows; the patch then takes the Spark merge, and the
        inserts are staged with pyarrow for its publish. Returns the
        files the inserts moved in.
        """
        with self.lock:
            self._maybe_recover()
            rows = None
            if patch is not None and not isinstance(patch, DataFrame):
                done = self._merge_arrow(patch, keys, dtypes, begin_us,
                                         end_us, parts, inserts, max_rows)
                if done is not None:
                    return done
                rows, inserts = inserts, None
                if patch.num_rows:
                    schema = self.read_schema(dtypes)
                    patch = self.spark.createDataFrame(patch, T.StructType(
                        [schema[c] for c in patch.column_names]))
                else:
                    patch = None
            if rows is not None and rows.num_rows:
                inserts = self._stage_arrow([("ins", rows)],
                                            self.arrow_schema(dtypes))
            if patch is None:
                return self._commit(None, [], inserts)
            staging, remove, fold = self._merge_stage(
                patch, keys, dtypes, begin_us, end_us, parts, inserts)
            return self._commit(staging, remove, inserts, fold)

    def _merge_stage(self, patch: DataFrame, keys: list[str],
                     dtypes: dict[str, str] | None, begin_us: int | None,
                     end_us: int | None, parts: list | None,
                     inserts: str | None,
                     ) -> tuple[str | None, list[str], list[str]]:
        """``merge``'s Spark form, under its lock hold: stage keep ∪
        patch and return the staging dir (None: nothing to rewrite), the
        stored files it replaces and the ``inserts`` files it folded in
        (see ``merge``)."""
        if not self.exists():
            return self._stage(self.with_part(patch)), [], []
        ins = self._parquet_files(inserts) if inserts is not None else []
        # Partial-column patches that omit the partition-driving
        # datetime column MUST recover it before _mrsm_part is
        # computed — otherwise every patch row lands in partition 0,
        # the true partitions keep their stale rows, and pruned reads
        # go wrong. Re-attach dt_col (and any other missing columns)
        # first via a column-pruned key join against the whole table;
        # this is the only merge shape that cannot be
        # partition-scoped, because the patch carries no time bounds.
        if (
            self.dt_col is not None
            and self.dt_col not in patch.columns
            and self.dt_col not in keys
        ):
            full = self.read(dtypes=dtypes, keep_part_col=False)
            missing_pre = [c for c in full.columns
                           if c not in patch.columns]
            patch = self._reattach(patch, full, keys, missing_pre)
        patch = self.with_part(patch)
        touched: list[str] | None = None
        fold: list[str] = []
        if parts is not None:
            if not parts:
                return None, [], []
            existing = self.read(dtypes=dtypes, keep_part_col=True,
                                 part_values=parts)
            cells = {self._part_dir_name(v) for v in parts}
            fold = [f for f in ins if os.path.dirname(f) in cells]
        elif begin_us is not None and end_us is not None:
            # file-level pruning inside the affected cells: parquet
            # footer min/max of the dt column decides which FILES can
            # hold a matchable row (key sets include dt on this path,
            # so a row matching a patch key has the patch row's dt —
            # a file whose dt range misses [begin_us, end_us) cannot
            # participate). Untouched files stay in place; the
            # rewrite is proportional to overlapping files, not to
            # the cell width — the same economics as Delta's
            # file-pruned MERGE.
            touched, untouched = self._split_files_by_dt(begin_us, end_us)
            ins_t, ins_u = (self._split_files_by_dt(begin_us, end_us, inserts)
                            if ins else ([], []))
            if touched is not None and ins_t is not None and (untouched
                                                              or ins_u):
                existing = self._read_files(touched, dtypes, patch)
                fold = ins_t
            else:
                touched = None
                existing = self.read(dtypes=dtypes, keep_part_col=True,
                                     begin_us=begin_us, end_us=end_us)
                cells = set(self._cell_names(begin_us, end_us, inserts)
                            if ins else ())
                fold = [f for f in ins if os.path.dirname(f) in cells]
        else:
            # Affected partitions: small driver-side list (bounded by
            # the patch's time range / chunk width — the analogue of
            # MERGE date-bound pruning).
            parts = [r[0] for r in
                     patch.select(PART_COL).distinct().collect()]
            if not parts:
                return None, [], []
            existing = self.read(dtypes=dtypes, keep_part_col=True,
                                 part_values=parts)
            cells = {self._part_dir_name(v) for v in parts}
            fold = [f for f in ins if os.path.dirname(f) in cells]
        if fold:
            # staged inserts never match a patch key (their keys are not
            # stored), so the anti-join keeps them
            existing = existing.unionByName(
                self._read_files(fold, dtypes, patch, inserts),
                allowMissingColumns=True)

        # Partial-column patches: re-attach the stored values of
        # columns the patch does not carry (reference J7,
        # core/Pipe/_sync.py:993-1006 — an update must not null out
        # unmentioned columns), via a bounded left join on the keys.
        missing = [c for c in existing.columns
                   if c not in patch.columns and c != PART_COL]
        if missing:
            patch = self._reattach(patch, existing, keys, missing)

        # The anti-join below would broadcast a driver-local patch (a
        # LocalTableScan, exact size statistics) or a staged one whose
        # files fit the broadcast threshold — a job of its own when AQE
        # is off. Shuffle-hash it instead: the merge stays one job. A
        # larger patch keeps the planner's sort-merge join.
        p = (patch.hint("shuffle_hash")
             if patch.isLocal() or self._broadcastable(inserts)
             else patch).alias("p")
        e = existing.alias("e")
        cond = None
        for k in keys:
            c = F.col(f"e.{k}").eqNullSafe(F.col(f"p.{k}"))
            cond = c if cond is None else (cond & c)
        keep = e.join(p, on=cond, how="left_anti")
        # column union — kept rows MUST NOT lose columns absent from
        # the patch
        merged = keep.unionByName(patch, allowMissingColumns=True)
        staging = self._stage(merged)
        # file granularity: the touched files go, the staged ones move in
        # beside the untouched files; otherwise whole cells swap
        return staging, (self._cell_files(staging, parts) if touched is None
                         else touched), fold

    def _merge_arrow(self, patch, keys: list[str],
                     dtypes: dict[str, str] | None, begin_us: int | None,
                     end_us: int | None, parts: list | None, inserts,
                     max_rows: int) -> list[str] | None:
        """``merge``'s driver-side form for a pyarrow patch, under its
        lock hold: stage kept ∪ patch and the inserts into one dir and
        publish it in place of the touched files. Returns the insert
        files moved in, or None (nothing written) to decline."""
        import pyarrow as pa

        target = self.arrow_schema(dtypes)
        if target is None:
            return None
        tables = [("ins", inserts)] if inserts is not None else []
        touched: list[str] = []
        if patch.num_rows:
            if (self.dt_col not in keys
                    or any(c not in patch.column_names for c in target.names)):
                return None
            if parts is not None:
                touched = self._parquet_files(
                    self.data_path, [self._part_dir_name(p) for p in parts])
            elif begin_us is not None and end_us is not None:
                touched = self._split_files_by_dt(begin_us, end_us)[0]
            else:
                return None
            if touched is None:
                return None
            picked: dict[str, list[int]] = {}
            n = 0
            try:
                for rel, rg, rows, _lo, _hi in self._row_groups(touched):
                    n += rows
                    picked.setdefault(rel, []).append(rg)
                stored = None if n > max_rows else self._read_arrow(target,
                                                                    picked)
            except (OSError, pa.ArrowException):
                return None
            if stored is None:
                return None
            matched = set(row_keys(patch, keys))
            kept = [t.filter(pa.array([k not in matched
                                       for k in row_keys(t, keys)],
                                      pa.bool_()))
                    for t in stored]
            tables.append(("part", pa.concat_tables(
                [*kept, patch.select(target.names).cast(target)])))
        staging = self._stage_arrow(tables, target)
        return [p for p in self._publish(staging, touched)
                if os.path.basename(p).startswith("ins-")]

    def _read_files(self, files: list[str],
                    dtypes: dict[str, str] | None,
                    patch: DataFrame, root: str | None = None) -> DataFrame:
        """The rows of explicit data files (``cell/file`` paths under
        ``root``, the data dir by default), with ``PART_COL``; an empty
        frame shaped like the table when none."""
        schema = self.read_schema(dtypes)
        if not files:
            return self.spark.createDataFrame([], schema or patch.schema)
        root = root or self.data_path
        reader = self.spark.read.option("basePath", root)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*[os.path.join(root, f) for f in files])

    def _split_files_by_dt(
        self, begin_us: int, end_us: int, root: str | None = None,
    ) -> tuple[list[str] | None, list[str]]:
        """Partition the data files (``cell/file`` paths under ``root``,
        the data dir by default) of the in-range cells into (touched,
        untouched) by parquet footer dt statistics.
        Returns ``(None, [])`` when pruning is unavailable (no dt column,
        a row group without stats, an unreadable footer) — callers then
        fall back to the cell-level path.

        Driver-side footer reads are bounded by the patch's time range
        (files of the matching cells only); on a cluster this is the
        table-format metadata lookup Delta/Iceberg do from their
        manifests."""
        import pyarrow as pa

        if self.dt_col is None:
            return None, []
        root = root or self.data_path
        files = self._parquet_files(root,
                                    self._cell_names(begin_us, end_us, root))
        spans: dict[str, tuple[int, int]] = {}
        try:
            for rel, _rg, _n, lo, hi in self._row_groups(files, root):
                if lo is None:
                    return None, []  # no stats → cannot prune safely
                a, b = spans.get(rel, (lo, hi))
                spans[rel] = (min(a, lo), max(b, hi))
        except (OSError, pa.ArrowException):
            return None, []
        # overlap test against the exclusive-end patch range; a file
        # without row groups holds no rows and stays untouched
        touched = [f for f in files if f in spans
                   and spans[f][0] < end_us and spans[f][1] >= begin_us]
        return touched, [f for f in files if f not in touched]

    def _cell_names(self, begin_us: int | None, end_us: int | None,
                    root: str | None = None) -> list[str]:
        """Dir names of the non-null cells under ``root`` (the data dir by
        default) that can hold a row of ``[begin_us, end_us)`` (either
        side None: unbounded)."""
        lo = None if begin_us is None else self.part_index_of(begin_us)
        hi = None if end_us is None else self.part_index_of(end_us - 1)
        cells = [int(n.split("=", 1)[1])
                 for n in self._cell_dirs(root or self.data_path)
                 if n != NULL_PART_DIR]
        return [self._part_dir_name(c) for c in sorted(cells)
                if (lo is None or c >= lo) and (hi is None or c <= hi)]

    def _row_groups(
        self, files: Iterable[str], root: str | None = None,
    ) -> Iterator[tuple[str, int, int, int | None, int | None]]:
        """The one parquet footer walker: ``(cell/file, row group,
        num_rows, lo_us, hi_us)`` for every row group of ``files`` (under
        ``root``, the data dir by default), with
        the dt column's footer min/max in epoch µs (the int axis scaled
        to µs) — both None where the group carries no dt statistics.
        Reads footers only; an unreadable file raises what pyarrow
        raises."""
        import pyarrow.parquet as pq
        for rel in files:
            meta = pq.read_metadata(os.path.join(root or self.data_path, rel))
            idx = None
            if meta.num_row_groups:
                rg0 = meta.row_group(0)
                idx = next((i for i in range(rg0.num_columns)
                            if rg0.column(i).path_in_schema == self.dt_col),
                           None)
            for rg in range(meta.num_row_groups):
                group = meta.row_group(rg)
                st = group.column(idx).statistics if idx is not None else None
                lo = hi = None
                if st is not None and st.has_min_max:
                    lo, hi = self._stat_us(st.min), self._stat_us(st.max)
                    if lo is None or hi is None:
                        lo = hi = None
                yield rel, rg, group.num_rows, lo, hi

    def _stat_us(self, v: Any) -> int | None:
        """A dt footer statistic as epoch µs (exact integer arithmetic);
        None for a value of neither axis' type."""
        if self.dt_is_int:
            return (int(v) * UNIT_US[self.dt_unit]
                    if isinstance(v, int) and not isinstance(v, bool) else None)
        if not isinstance(v, datetime.datetime):
            return None
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds

    @staticmethod
    def _reattach(
        patch: DataFrame,
        existing: DataFrame,
        keys: list[str],
        missing: list[str],
    ) -> DataFrame:
        """Left-join the stored values of ``missing`` columns onto ``patch``
        by null-safe key equality (reference J7 partial-column update)."""
        if not missing:
            return patch
        e_m = existing.select(*keys, *missing).alias("em")
        p_m = patch.alias("pm")
        cond_m = None
        for k in keys:
            c = F.col(f"pm.{k}").eqNullSafe(F.col(f"em.{k}"))
            cond_m = c if cond_m is None else (cond_m & c)
        return p_m.join(e_m, on=cond_m, how="left").select(
            *[F.col(f"pm.{c}") for c in patch.columns],
            *[F.col(f"em.{c}").alias(c) for c in missing],
        )

    def replace_range(self, df: DataFrame, begin_us: int, end_us: int,
                      dtypes: dict[str, str] | None = None) -> None:
        """Atomically replace every stored row whose dt epoch lies in
        ``[begin_us, end_us)`` with ``df`` (whose rows must all lie in
        that range — the caller's recompute supersedes the window).

        The fused form of ``delete_where(range)`` + ``append(df)`` used
        by rollup maintenance: ONE job (keep-outside-range ∪ new rows)
        and ONE partition swap instead of two of each, with no window
        where the range is empty. Cells the recompute emptied are
        removed because the swap lists every affected cell; cells that
        only the new rows populate come from the staging listing."""
        with self.lock:
            self._maybe_recover()
            p_lo = self.part_index_of(begin_us)
            p_hi = self.part_index_of(end_us - 1)
            # stored cells overlapping the range — from the directory
            # listing, no Spark job (null-dt rows live in the null cell,
            # which a bounded range never touches)
            affected = [v for v in self.partition_values()
                        if v is not None and p_lo <= v <= p_hi]
            if not affected:
                self.append(df)  # nothing stored overlaps
                return
            us = self._epoch_us_col()
            keep = (self.read(dtypes=dtypes, keep_part_col=True,
                              part_values=affected)
                    .filter((us < F.lit(begin_us)) | (us >= F.lit(end_us))))
            self._swap_partitions(
                keep.unionByName(self.with_part(df),
                                 allowMissingColumns=True), affected)

    def delete_where(self, cond: F.Column, dtypes: dict[str, str] | None = None,
                     begin_us: int | None = None, end_us: int | None = None) -> int:
        """Bounded DELETE (reference clear_pipe, connectors/sql/_pipes.py:3158-3246):
        rewrite affected partitions without the matching rows. Returns rows deleted."""
        with self.lock:
            self._maybe_recover()
            if not self.exists():
                return 0
            df = self.read(dtypes=dtypes, keep_part_col=True,
                           begin_us=begin_us, end_us=end_us)
            affected = [r[0] for r in
                        df.filter(cond).select(PART_COL).distinct().collect()]
            if not affected:
                return 0
            scoped = self.read(dtypes=dtypes, keep_part_col=True,
                               part_values=affected)
            # n_before must be known BEFORE the swap (its files are gone
            # after); the after-count rides the swap's write job as an
            # Observation — one action saved per delete vs the previous
            # count/count/write shape. The unobservable-metrics fallback
            # (detached foreachBatch session, see Pipe._obs_get) recounts
            # the POST-swap state fresh, which is exactly ``remaining``.
            n_before = scoped.count()
            from pyspark.sql import Observation
            obs = Observation()
            remaining = (scoped
                         .filter(~F.coalesce(cond, F.lit(False)))
                         .observe(obs, F.count(F.lit(1)).alias("_n")))
            self._swap_partitions(remaining, affected)
            try:
                n_after = int(obs.get["_n"])
            except Exception:
                n_after = self.read(dtypes=dtypes,
                                    part_values=affected).count()
            return n_before - n_after

    def drop(self) -> None:
        with self.lock:
            if os.path.isdir(self.path):
                shutil.rmtree(self.path)
            # reap the lockfile while we hold it: a dropped pipe must
            # not leave a file in <root>/.locks forever. Safe under the
            # lock — a waiter that acquires the orphaned inode detects
            # the path mismatch and retries on the fresh file
            # (locking.ProcessLock._flock inode recheck).
            from meerschaum_spark.locking import lockfile_for
            try:
                os.unlink(lockfile_for(self.path))
            except OSError:
                pass
            self._mark_exists(False)
            self._refresh_listing()

    # -- staged publish ----------------------------------------------------

    def _staging_dir(self) -> str:
        return os.path.join(self.path, f"_staging_{uuid.uuid4().hex[:12]}")

    @staticmethod
    def _part_dir_name(value: Any) -> str:
        if value is None:
            return NULL_PART_DIR
        return f"{PART_COL}={value}"

    @staticmethod
    def _cell_dirs(root: str) -> list[str]:
        """Names of the partition-cell dirs directly under ``root``."""
        if not os.path.isdir(root):
            return []
        return [e.name for e in os.scandir(root)
                if e.is_dir() and e.name.startswith(f"{PART_COL}=")]

    @classmethod
    def _parquet_files(cls, root: str,
                       cells: Iterable[str] | None = None) -> list[str]:
        """``cell/file`` paths of the parquet files under ``root``, in the
        given cell dirs only (every cell when None)."""
        out: list[str] = []
        for cell in sorted(cls._cell_dirs(root) if cells is None else cells):
            d = os.path.join(root, cell)
            if os.path.isdir(d):
                out += [os.path.join(cell, f) for f in sorted(os.listdir(d))
                        if f.endswith(".parquet")]
        return out

    def _stage(self, df: DataFrame, sort_by: list[str] | None = None,
               by: Sequence[str] = (PART_COL,)) -> str:
        """Write ``df`` (carrying PART_COL) into a fresh staging dir and
        return it. Spark refuses to overwrite a path it is also reading
        (self-referential plan), and a job that dies half-way must leave
        the table untouched — so no write targets the table itself.
        ``sort_by`` applies a per-task sort (PART_COL first, so rows of
        one cell stay contiguous) AFTER the rebalance — the clustering
        write for ``optimize(cluster_by=...)``; sorting before the
        rebalance would be undone by its shuffle. ``by``: the partition
        columns, one dir level each."""
        staging = self._staging_dir()
        out = self._rebalanced(df, by)
        if sort_by:
            out = out.sortWithinPartitions(PART_COL, *sort_by)
        try:
            out.write.mode("overwrite").partitionBy(*by).parquet(staging)
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        return staging

    def _stage_arrow(self, tables: Iterable[tuple[str, Any]], target) -> str:
        """``_stage`` for driver-local rows: write each ``(kind, pyarrow
        table)`` into one fresh staging dir with pyarrow, one file per
        cell named ``<kind>-<uuid>``, and return the dir. Files hold the
        ``target`` columns (those a table lacks as nulls) and no
        ``PART_COL`` — the cell is the dir name, as in Spark's
        partitioned write — and are snappy-compressed with
        UTC-adjusted ``TIMESTAMP_MICROS`` and min/max statistics, which
        ``_row_groups`` and ``rowcount_from_footers`` read. The Spark
        version in the key-value metadata makes Spark's reader treat the
        dates and timestamps as proleptic Gregorian, like its own files."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        staging = self._staging_dir()
        meta = {"org.apache.spark.version": self.spark.version}
        try:
            for kind, tbl in tables:
                if not tbl.num_rows:
                    continue
                tbl = pa.Table.from_arrays(
                    [tbl[f.name].cast(f.type) if f.name in tbl.column_names
                     else pa.nulls(tbl.num_rows, f.type) for f in target],
                    schema=target).replace_schema_metadata(meta)
                cells: dict[Any, list[int]] = {}
                for i, us in enumerate(self._epoch_us(tbl)):
                    cells.setdefault(None if us is None
                                     else self.part_index_of(us), []).append(i)
                for cell, rows in cells.items():
                    d = os.path.join(staging, self._part_dir_name(cell))
                    os.makedirs(d, exist_ok=True)
                    pq.write_table(
                        tbl.take(pa.array(rows, pa.int64())),
                        os.path.join(d, f"{kind}-{uuid.uuid4().hex}"
                                        ".snappy.parquet"),
                        compression="snappy", coerce_timestamps="us")
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        return staging

    def _epoch_us(self, tbl) -> list:
        """The dt column of a pyarrow table as epoch µs per row (None for
        a null dt; 0 for every row when the store has no dt column, the
        cell ``with_part`` gives such rows)."""
        import pyarrow as pa
        if self.dt_col is None or self.dt_col not in tbl.column_names:
            return [0] * tbl.num_rows
        vals = tbl[self.dt_col].cast(pa.int64()).to_pylist()
        scale = UNIT_US[self.dt_unit] if self.dt_is_int else 1
        return [None if v is None else v * scale for v in vals]

    def stage_sync(self, unseen: DataFrame, patch: DataFrame) -> str:
        """Write a diff sync's unseen rows and its key-unique correction
        patch (the same columns) in ONE Spark job into one fresh staging
        dir, partitioned by split and cell, and return it. The insert
        cells then sit at its top, like any staging dir's, for
        ``merge``'s ``inserts``; the patch stays nested under
        ``SPLIT_COL=upd`` (``read_staged``), which no publish moves and
        every roll-forward removes with the dir. The split is a
        directory level, so no file carries it."""
        frame = (self.with_part(unseen).withColumn(SPLIT_COL, F.lit("ins"))
                 .unionByName(self.with_part(patch)
                              .withColumn(SPLIT_COL, F.lit("upd"))))
        staging = self._stage(frame, by=(SPLIT_COL, PART_COL))
        ins = os.path.join(staging, f"{SPLIT_COL}=ins")
        try:
            for cell in self._cell_dirs(ins):
                os.rename(os.path.join(ins, cell), os.path.join(staging, cell))
        except BaseException:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        shutil.rmtree(ins, ignore_errors=True)
        return staging

    def read_staged(self, staging: str,
                    schema: T.StructType) -> DataFrame | None:
        """The patch ``stage_sync`` staged in ``staging``, with
        ``PART_COL``, read with the staged frame's ``schema`` (no footer
        inference, no casts); None when it holds no row. The files are
        named one by one: Spark skips a directory whose name starts with
        an underscore."""
        root = os.path.join(staging, f"{SPLIT_COL}=upd")
        files = self._parquet_files(root)
        if not files:
            return None
        return (self.spark.read.option("basePath", root)
                .schema(T.StructType([*schema.fields, T.StructField(
                    PART_COL, T.LongType(), True)]))
                .parquet(*[os.path.join(root, rel) for rel in files]))

    def _broadcastable(self, staging: str | None) -> bool:
        """Whether ``staging`` (None: no staging dir) holds a patch
        ``stage_sync`` staged whose files fit the session's broadcast
        threshold, so the planner would broadcast it."""
        if staging is None:
            return False
        root = os.path.join(staging, f"{SPLIT_COL}=upd")
        files = self._parquet_files(root)
        if not files:
            return False
        size = sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return size <= (self.spark._jsparkSession.sessionState().conf()
                        .autoBroadcastJoinThreshold())

    def discard_staged(self, staging: str) -> None:
        """Remove a staging dir no publish has taken: a gone one is
        skipped, and the dir a left-behind manifest names stays for its
        roll-forward."""
        try:
            with open(self._manifest_path()) as f:
                keep = json.load(f).get("staging")
        except (OSError, ValueError):
            keep = None
        if os.path.basename(staging) != keep:
            shutil.rmtree(staging, ignore_errors=True)

    def _cell_files(self, staging: str, parts: Iterable[Any] | None,
                    ) -> list[str]:
        """The stored files of every cell ``staging`` holds, plus those
        of the ``parts`` cells: what a whole-cell swap replaces."""
        cells = set(self._cell_dirs(staging))
        cells.update(self._part_dir_name(v) for v in parts or ())
        return self._parquet_files(self.data_path, cells)

    def _commit(self, staging: str | None, remove: list[str],
                inserts: str | None, fold: Sequence[str] = ()) -> list[str]:
        """Publish the files staged in ``staging`` in place of the
        ``remove`` files, together with the insert files staged in
        ``inserts``: ``staging``'s files move into ``inserts`` and ONE
        publish commits both; insert files ``staging`` already folded in
        (``fold``) are dropped first. Returns the inserts' final paths.
        The caller holds the lock."""
        if inserts is None:
            if staging is not None:
                self._publish(staging, remove)
            return []
        ins = self._parquet_files(inserts)
        for rel in fold:
            os.remove(os.path.join(inserts, rel))
        if staging is not None:
            for rel in self._parquet_files(staging):
                os.makedirs(os.path.join(inserts, os.path.dirname(rel)),
                            exist_ok=True)
                os.rename(os.path.join(staging, rel),
                          os.path.join(inserts, rel))
            shutil.rmtree(staging, ignore_errors=True)
        self._publish(inserts, remove)
        return [os.path.join(self.data_path, rel) for rel in ins]

    def _publish(self, staging: str, remove: Iterable[str] = ()) -> list[str]:
        """The one commit step of every write: make ``staging``'s files
        the table's and delete the ``remove`` files (``cell/file``
        paths), atomically across crashes. Returns the final paths of
        the files moved in. The caller holds the lock.

        Manifest format (``MANIFEST_NAME`` in the table dir, written and
        fsync'd after the staged parquet is complete and before the
        first rename)::

            {"staging": "_staging_<12 hex>",
             "remove":  ["<cell>/<file>.parquet", ...],
             "moves":   ["<cell>/<file>.parquet", ...]}

        Each ``moves`` entry goes from ``<staging>/<entry>`` to
        ``data/<entry>`` (Spark's job-unique names and the Arrow
        writer's uuid names never collide). ``_roll_forward`` applies it; a writer killed mid-way leaves it
        for the next lock holder's ``recover_interrupted_swap``, which
        runs the same roll-forward. A publish with nothing to move or
        remove writes no manifest. Afterwards the table exists if a file
        moved in; otherwise one listing re-probes it."""
        moves, remove = self._parquet_files(staging), list(remove)
        try:
            if moves or remove:
                doc = {"staging": os.path.basename(staging),
                       "remove": remove, "moves": moves}
                self._write_manifest(doc)
                self._roll_forward(doc)
        except BaseException:
            # in-process failure mid-publish: roll forward NOW (we still
            # hold the lock); if even that fails the manifest stays on
            # disk and the next lock holder completes it
            try:
                self.recover_interrupted_swap()
            except Exception:
                pass
            raise
        finally:
            # an unrecovered manifest keeps its staging for the next
            # lock holder
            if not os.path.isfile(self._manifest_path()):
                shutil.rmtree(staging, ignore_errors=True)
        self._mark_exists(True if moves else self._exists_uncached())
        self._refresh_listing()
        return [os.path.join(self.data_path, rel) for rel in moves]

    def _roll_forward(self, doc: dict) -> None:
        """Apply a publish manifest idempotently — the writer and a later
        recovery run exactly this: delete the listed files (gone ones are
        skipped), move each staged file still in staging, drop cell dirs
        the removals left without data files, then clear the manifest
        and the staging dir."""
        staging = os.path.join(self.path, doc["staging"])
        for rel in doc.get("remove", []):
            try:
                os.remove(os.path.join(self.data_path, rel))
            except FileNotFoundError:
                pass
        crash = os.environ.get("MRSM_TEST_CRASH_SWAP")
        for i, rel in enumerate(doc.get("moves", [])):
            src = os.path.join(staging, rel)
            if os.path.isfile(src):
                dst = os.path.join(self.data_path, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.move(src, dst)
                if crash == "after_first_move" and i == 0:
                    # test-only crash injection: die with the publish half
                    # applied (manifest present, staging live)
                    os._exit(137)
        for cell in {os.path.dirname(rel) for rel in doc.get("remove", [])}:
            if not self._parquet_files(self.data_path, [cell]):
                shutil.rmtree(os.path.join(self.data_path, cell),
                              ignore_errors=True)
        self._clear_manifest()
        shutil.rmtree(staging, ignore_errors=True)

    def _swap_partitions(self, df: DataFrame, parts: list[Any] | None,
                         sort_by: list[str] | None = None) -> None:
        """Replace whole partition cells: stage ``df``, then publish it
        in place of every stored file of the cells it lands in plus
        ``parts`` — cells listed there but absent from the staged rows
        come out empty and are deleted (a replace_range or delete can
        empty a cell). ``parts=None``: only the staged cells — a local
        scandir, not a Spark action (the bounds-pruned merge).
        ``sort_by``: see ``_stage``."""
        with self.lock:
            self._maybe_recover()
            staging = self._stage(df, sort_by)
            self._publish(staging, self._cell_files(staging, parts))

    # -- stats -------------------------------------------------------------

    def rowcount_from_footers(self) -> int | None:
        """Total stored rows from parquet footer metadata — driver-side,
        no Spark job (the manifest-count a table format serves from its
        metadata layer; reference rowcount issues COUNT(*) to the
        database, connectors/sql/_pipes.py get_pipe_rowcount). Returns
        None when any footer is unreadable — callers then fall back to a
        Spark count."""
        try:
            import pyarrow.parquet as pq
        except Exception:
            return None
        if not self.exists():
            return 0
        try:
            return sum(pq.ParquetFile(os.path.join(self.data_path, rel))
                       .metadata.num_rows
                       for rel in self._parquet_files(self.data_path))
        except Exception:
            return None

    def size_bytes(self) -> int:
        total = 0
        for dirpath, _dirnames, filenames in os.walk(self.data_path):
            for f in filenames:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
        return total

    def partition_values(self) -> list[int | None]:
        if not self.exists():
            return []
        out = [None if name == NULL_PART_DIR else int(name.split("=", 1)[1])
               for name in self._cell_dirs(self.data_path)]
        return sorted(out, key=lambda v: (v is None, v))
