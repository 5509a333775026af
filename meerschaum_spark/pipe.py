"""The Pipe: incremental-sync unit of work, Spark-first.

Re-expresses the reference's core object (meerschaum/core/Pipe/__init__.py:65-88
identity; _sync.py sync funnel; _data.py read path) on the DataFrame API with a
partitioned-Parquet instance store. The reference's pandas/SQL dual
implementations collapse into single Catalyst-planned jobs:

  sync:   source → dtype-enforce → (anti/semi joins vs time+key-pruned
          target scan) → append unseen + MERGE updates
  read:   scan → partition-pruned filter(begin/end/params) → select →
          orderBy(indices) → limit

Scale stance: the diff never scans the whole table — the backtrack scan is
bounded by the patch's [min(dt), max(dt)] ∓ 1 minute (reference
core/Pipe/_sync.py:794-858) plus an IN-pushdown of distinct key values when
the patch holds ≤ 250 of them (reference _sync.py:860-878,
config/_default.py:247). Both prune parquet partitions/row-groups via
Catalyst; patch-side joins broadcast when small (AQE).
"""

from __future__ import annotations

import dataclasses
import datetime
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql import types as T

from meerschaum_spark import dataframe as mdf
from meerschaum_spark.chunks import DEFAULT_CHUNK_MINUTES, get_chunk_bounds
from meerschaum_spark.dtypes import (
    UNIT_US,
    canonical_dtype,
    datetime_to_int,
    normalize_unit,
    parse_date_bound,
    widen_dtypes,
)
from meerschaum_spark.params import (
    combine_filters,
    datetime_filter,
    params_to_filter,
    sql_in_condition,
)
from meerschaum_spark.registry import PipeRegistry, target_name
from meerschaum_spark.functions.persist import pin as _persist_pin
from meerschaum_spark.store import (
    PART_COL,
    ParquetPipeStore,
    UnsupportedKeyType,
    has_map,
    norm_key,
    row_keys,
)

DEFAULT_BACKTRACK_MINUTES = 1440   # reference config/_default.py:236
FILTER_PARAMS_INDEX_LIMIT = 250    # reference config/_default.py:247
#: batch null-count in any single key column above which the diff's
#: marker join salts the null key (see _split_existing): ~1M rows on one
#: reducer is where a single task visibly straggles; below that the
#: plain join is cheaper than the x16 replication of the backtrack
#: aggregate. Class-level so tests (and operators) can tune it.
HOT_NULL_KEY_ROWS = 1_000_000
BOUNDS_SLOP_MINUTES = 1            # reference core/Pipe/_sync.py:794-858
HIT_COL = "_mrsm_hit"              # marker: batch row's key exists in store
ORD_COL = "_mrsm_ord"              # batch row order tag (keep-last dedupe)
VERIFY_BOUND_DAYS = 366            # reference config/_default.py:239


import contextlib
import os
import threading

#: atomic read-modify-write of the deferred-rollup invalidation logs
#: across Pipe objects in one process (same scope as the write lock:
#: multi-PROCESS writers are outside the engine's concurrency contract;
#: os.replace keeps each individual publish atomic regardless)
_ROLLUP_PENDING_LOCK = threading.Lock()

_AQE_LOCK = threading.Lock()
_AQE_DEPTH = 0
_AQE_PREV: str | None = None


@contextlib.contextmanager
def _low_latency_plan(spark: SparkSession):
    """Plan small-batch sync actions WITHOUT AQE.

    AQE materializes every exchange as its own job — measured on the sync
    diff, a single incremental sync becomes 7–9 sequential driver
    re-planning rounds of 1–3 tasks each, and the round-trip latency (not
    the work) dominates. An incremental sync is, by construction, a small
    bounded DAG (batch scan → one key join against a time-bounded
    backtrack → write), exactly the shape AQE cannot improve; one
    pipelined job is strictly better. Refcounted so concurrent chunk
    syncs (verify's worker pool) nest safely; the previous value is
    restored when the last sync exits. Other queries planned on this
    session during the window also plan without AQE — acceptable for an
    instance session whose concurrent work IS chunk syncs; analytics
    sessions should not interleave planning with a sync storm anyway.
    Bulk paths (first-table load, check_existing=False) keep AQE for its
    rebalance-write and skew handling.
    """
    global _AQE_DEPTH, _AQE_PREV
    confs = {
        "spark.sql.adaptive.enabled": "false",
        # a small sync's shuffles should be a handful of tasks, not the
        # analytics-width default: per-task launch latency (~10 ms) times
        # 32 partitions times several stages IS the small-sync latency.
        # 8 partitions comfortably covers incremental batch sizes; bulk
        # paths keep the session default + AQE.
        "spark.sql.shuffle.partitions": "8",
    }
    with _AQE_LOCK:
        _AQE_DEPTH += 1
        if _AQE_DEPTH == 1:
            prev: dict[str, str | None] = {}
            try:
                for k, v in confs.items():
                    prev[k] = spark.conf.get(k)
                    spark.conf.set(k, v)
                _AQE_PREV = prev
            except Exception:
                _AQE_PREV = None
    try:
        yield
    finally:
        with _AQE_LOCK:
            _AQE_DEPTH -= 1
            if _AQE_DEPTH == 0 and _AQE_PREV is not None:
                try:
                    for k, v in _AQE_PREV.items():
                        if v is not None:
                            spark.conf.set(k, v)
                except Exception:
                    pass
                _AQE_PREV = None


_DEFINITION_BAD_WORDS = (
    "drop ", "drop\n", "delete from", "truncate ", "alter ", "insert into",
    "update ", "create table", "grant ", "revoke ", "--", ";",
)


def _guard_definition(definition: str) -> None:
    """Reject definitions containing DDL/DML or statement separators
    (reference's injection guard, utils/sql.py:1130-1138). Definitions are
    read-only SELECTs by contract."""
    low = f" {definition.lower()} "
    for word in _DEFINITION_BAD_WORDS:
        if word in low:
            raise ValueError(
                f"Unsafe token {word.strip()!r} in pipe definition; "
                "definitions must be read-only SELECT statements.")


#: Spark types whose collected values ``row_keys`` compares exactly as
#: the Spark diff does (see ``_driver_comparable``)
_FLAT_TYPES = (T.BooleanType, T.ByteType, T.ShortType, T.IntegerType,
               T.LongType, T.FloatType, T.DoubleType, T.DecimalType,
               T.StringType, T.BinaryType, T.DateType, T.TimestampType)


def _driver_comparable(t: T.DataType) -> bool:
    """Whether the driver-side diff (``Pipe._local_sync``) compares a
    column of Spark type ``t`` like the Spark diff's fingerprint: flat
    types, and arrays of flat types other than floats (the fingerprint
    normalizes only top-level floats) and timestamps (collected as
    process-local wall times). Maps and structs collect as pairs and
    dicts."""
    if isinstance(t, T.ArrayType):
        e = t.elementType
        return (not isinstance(e, (T.FloatType, T.DoubleType,
                                   T.TimestampType))
                and _driver_comparable(e))
    return isinstance(t, _FLAT_TYPES)


def _null_marks(sql: str, t: T.DataType, depth: int = 0) -> str | None:
    """SQL for the null positions inside a value of type ``t`` (array
    elements, struct fields, recursively), or None when ``t`` nests no
    such position. ``xxhash64`` skips null elements and fields, so the
    diff fingerprint hashes these beside the values."""
    if isinstance(t, T.ArrayType):
        x = f"_mrsm_x{depth}"
        inner = _null_marks(x, t.elementType, depth + 1)
        mark = (f"isnull({x})" if inner is None
                else f"struct(isnull({x}), {inner})")
        return f"transform({sql}, {x} -> {mark})"
    if isinstance(t, T.StructType):
        marks = []
        for f in t.fields:
            field = f"{sql}.{_quote(f.name)}"
            marks.append(f"isnull({field})")
            inner = _null_marks(field, f.dataType, depth)
            if inner is not None:
                marks.append(inner)
        return f"struct({', '.join(marks)})" if marks else None
    return None


def _quote(name: str) -> str:
    """A column name as a backquoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def _dedupe_rows_local(rows: list, keys: list,
                       ord_col: str | None = None) -> list | None:
    """Driver-side replica of ``Pipe._dedupe_patch`` for already-collected
    rows: keep the greatest-``ORD_COL`` row per null-safe key group (the
    reference's keep='last' batch semantics). Returns None when a key
    value's grouping equality cannot be replicated in Python (map types)
    — the caller then falls back to the window dedupe."""
    ord_col = ord_col or ORD_COL
    winners: dict = {}
    try:
        for r in rows:
            k = tuple(norm_key(r[c]) for c in keys)
            prev = winners.get(k)
            if prev is None or r[ord_col] > prev[ord_col]:
                winners[k] = r
    except (UnsupportedKeyType, TypeError):
        return None
    return list(winners.values())


class SyncResult:
    def __init__(self, success: bool, message: str = "",
                 inserted: int = 0, updated: int = 0):
        self.success = success
        self.message = message
        self.inserted = inserted
        self.updated = updated

    def __bool__(self) -> bool:
        return self.success

    def __repr__(self) -> str:
        return (f"SyncResult(success={self.success}, inserted={self.inserted}, "
                f"updated={self.updated}, message={self.message!r})")


class OptimizeResult(int):
    """``pipe.optimize()``'s return: behaves as the combined rewritten-
    partition count (base table + maintained ANN side table — the r12
    contract, so ``== 0`` / ``>= 1`` comparisons keep working) while
    exposing the split as ``.base`` and ``.ann_index`` (ADVICE r12: a
    caller comparing the combined value against base partition counts
    had no way to tell the two apart)."""

    base: int
    ann_index: int

    def __new__(cls, total: int, base: int | None = None,
                ann_index: int = 0):
        self = super().__new__(cls, total)
        self.base = int(total) - int(ann_index) if base is None else int(base)
        self.ann_index = int(ann_index)
        return self

    def __repr__(self) -> str:
        return (f"OptimizeResult({int(self)}, base={self.base}, "
                f"ann_index={self.ann_index})")


@dataclasses.dataclass
class _Written:
    """What one mutating call changed — the only input of the post-write
    tail (``Pipe._after_write``, which documents who fills what)."""

    n_ins: int = 0
    n_upd: int = 0
    #: the written rows' dt window [begin, end) in epoch µs; None when
    #: unbounded (null dts, no dt, half-open clear)
    begin_us: int | None = None
    end_us: int | None = None
    #: the files the append moved in (None: not usable — side tables
    #: take their window or full form)
    new_files: list | None = None
    #: the exact partition cells the updates touched (None: unknown)
    ucells: list | None = None
    #: per rollup conf name, the update-touched bucket edges (µs), or
    #: None for a conf whose set overflowed ``_ROLLUP_UB_CAP``
    ubuckets: dict | None = None
    #: a matched row's dt may have changed (dt is not a merge key), so
    #: its old bucket/cell lies outside the window
    dt_moved: bool = False


class Pipe:
    """``Pipe(connector, metric, location, instance=path)`` — same 4-part
    identity as the reference (core/Pipe/__init__.py:65-88)."""

    #: see module constant — class-level so tests/operators can tune it
    HOT_NULL_KEY_ROWS = HOT_NULL_KEY_ROWS
    #: whether the most recent diff routed through the salted marker join
    #: (observability for the hot-null-key guard; False until a diff runs)
    _last_diff_salted = False

    def __init__(
        self,
        connector: str,
        metric: str,
        location: str | None = None,
        instance: str = "/tmp/mrsm_spark_instance",
        spark: SparkSession | None = None,
        columns: dict[str, str] | None = None,
        dtypes: dict[str, str] | None = None,
        parameters: dict[str, Any] | None = None,
        target: str | None = None,
        upsert: bool | None = None,
        static: bool | None = None,
        enforce: bool | None = None,
        null_indices: bool | None = None,
        autoincrement: bool | None = None,
        mixed_numerics: bool | None = None,
        tags: list[str] | None = None,
        temporary: bool = False,
        fetch_fn: Callable[..., Any] | None = None,
        sync_fn: Callable[..., Any] | None = None,
    ):
        if spark is None:
            from meerschaum_spark.session import get_spark
            spark = get_spark()
        self.spark = spark
        self.connector = str(connector)
        self.metric = str(metric)
        self.location = location if location else None
        self.instance = instance
        #: temporary pipes never touch the registry (reference
        #: core/Pipe/__init__.py:218,372: in-memory attributes only);
        #: their data cleans up with vacuum_temp / the instance GC
        self.temporary = bool(temporary)
        self.registry = PipeRegistry.for_instance(instance)
        self.target = target or target_name(self.connector, self.metric, self.location)
        self.fetch_fn = fetch_fn
        self.sync_fn = sync_fn

        existing = self.registry.load(self.target) or {}
        params: dict[str, Any] = dict(existing.get("parameters", {}))
        for k, v in (parameters or {}).items():
            params[k] = v
        if columns is not None:
            params["columns"] = dict(columns)
        if dtypes is not None:
            params.setdefault("dtypes", {}).update(
                {c: canonical_dtype(d) for c, d in dtypes.items()}
            )
        for flag, val in (("upsert", upsert), ("static", static),
                          ("enforce", enforce), ("null_indices", null_indices),
                          ("autoincrement", autoincrement),
                          ("mixed_numerics", mixed_numerics)):
            if val is not None:
                params[flag] = bool(val)
        if tags is not None:
            params["tags"] = list(tags)
        self.parameters = params
        self._store: ParquetPipeStore | None = None

    # ------------------------------------------------------------------ meta

    @property
    def keys(self) -> dict[str, str | None]:
        return {"connector": self.connector, "metric": self.metric,
                "location": self.location}

    @property
    def columns(self) -> dict[str, str]:
        return dict(self.parameters.get("columns", {}))

    @property
    def dt_col(self) -> str | None:
        return self.columns.get("datetime") or self.columns.get("primary")

    @property
    def index_cols(self) -> list[str]:
        """Join keys: all roles except the explicitly-excluded 'value'
        (reference core/Pipe/_sync.py:910-919)."""
        out, seen = [], set()
        for role, col in self.columns.items():
            if role == "value" or not col or col in seen:
                continue
            seen.add(col)
            out.append(col)
        return out

    @property
    def dtypes(self) -> dict[str, str]:
        return dict(self.parameters.get("dtypes", {}))

    @property
    def upsert(self) -> bool:
        return bool(self.parameters.get("upsert", False))

    @property
    def static(self) -> bool:
        return bool(self.parameters.get("static", False))

    @property
    def enforce(self) -> bool:
        return bool(self.parameters.get("enforce", True))

    @property
    def autoincrement(self) -> bool:
        return bool(self.parameters.get("autoincrement", False))

    @property
    def tags(self) -> list[str]:
        """Tag list riding in parameters (reference
        core/Pipe/_attributes.py tags accessor)."""
        return list(self.parameters.get("tags", []))

    @tags.setter
    def tags(self, tags: list[str]) -> None:
        self.parameters["tags"] = list(tags)

    @property
    def mixed_numerics(self) -> bool:
        """When True (default), int columns widen to ``numeric`` when
        floats arrive (reference core/Pipe/_attributes.py:506-514); when
        False the conflict falls back to ``str``, matching the
        reference's object fallback (utils/dataframe.py:266-295)."""
        return bool(self.parameters.get("mixed_numerics", True))

    @property
    def precision_unit(self) -> str:
        prec = self.parameters.get("precision") or {}
        return normalize_unit(prec.get("unit", "microsecond"))

    @property
    def backtrack_minutes(self) -> int:
        fetch = self.parameters.get("fetch") or {}
        return int(fetch.get("backtrack_minutes", DEFAULT_BACKTRACK_MINUTES))

    @property
    def chunk_minutes(self) -> int:
        verify = self.parameters.get("verify") or {}
        return int(verify.get("chunk_minutes", DEFAULT_CHUNK_MINUTES))

    @property
    def dt_is_int(self) -> bool:
        dt = self.dt_col
        if not dt:
            return False
        return canonical_dtype(self.dtypes.get(dt, "datetime")).startswith("int")

    @property
    def store(self) -> ParquetPipeStore:
        if self._store is None:
            self._store = ParquetPipeStore(
                self.spark, self.instance, self.target,
                dt_col=self.dt_col, dt_is_int=self.dt_is_int,
                dt_unit=self.precision_unit, chunk_minutes=self.chunk_minutes,
            )
        return self._store

    def _invalidate_store(self) -> None:
        self._store = None

    @property
    def _write_lock(self):
        """Serializes store mutations — across THREADS (read-modify-write
        + publish must not interleave; rollup maintenance re-acquires
        under sync paths, hence re-entrant) and
        since r11 across OS PROCESSES (``locking.ProcessLock``: flock on
        ``<instance>/.locks/<target>.lock`` — the reference's per-sync
        DB-transaction guarantee, VERDICT r10 gap #1). The store shares
        the same object, so pipe-level holds nest store-level holds."""
        return self.store.lock

    # -------------------------------------------------------------- registry

    def register(self) -> None:
        if self.temporary:
            return  # reference: temporary pipes are never registered
        self.registry.save(self.target, {"keys": self.keys,
                                         "parameters": self.parameters})

    def edit(self, **parameters: Any) -> None:
        self.parameters.update(parameters)
        self.register()

    def exists(self, refresh: bool = False) -> bool:
        return self.store.exists(refresh=refresh)

    def delete(self) -> None:
        """Drop data and deregister (reference core/Pipe/_drop.py + _delete)."""
        self.store.drop()
        self.registry.delete(self.target)
        self._drop_rollup_pending()
        self._invalidate_store()

    def drop(self) -> None:
        self.store.drop()
        self._drop_rollup_pending()
        self._invalidate_store()

    def _drop_rollup_pending(self) -> None:
        """A dropped table has nothing to refresh — a recreated pipe must
        not inherit the old invalidation log."""
        with _ROLLUP_PENDING_LOCK, contextlib.suppress(OSError):
            os.remove(self._rollup_pending_path())

    # ------------------------------------------------------------- utilities

    def _bound_us(self, bound: Any) -> int | None:
        """Engine bound → epoch µs for partition pruning."""
        if bound is None:
            return None
        if isinstance(bound, datetime.datetime):
            return datetime_to_int(bound, "microsecond")
        return int(bound) * UNIT_US[self.precision_unit]

    def _parse_bound(self, bound: Any) -> Any:
        dt = self.dt_col
        dt_dtype = self.dtypes.get(dt, "datetime") if dt else "datetime"
        return parse_date_bound(bound, dt_dtype, self.precision_unit)

    # ------------------------------------------------------------------ read

    def get_data(
        self,
        select_columns: list[str] | None = None,
        omit_columns: list[str] | None = None,
        begin: Any = None,
        end: Any = None,
        params: dict[str, Any] | None = None,
        order: str | None = "asc",
        limit: int | None = None,
        as_iterator: bool = False,
        chunk_minutes: int | None = None,
        replace_nulls: Any = None,
    ) -> DataFrame | Iterator[DataFrame] | None:
        """Parameterized read (reference core/Pipe/_data.py:22-318 →
        connectors/sql/_pipes.py:1079-1559). Begin inclusive, end exclusive.
        ``replace_nulls`` COALESCEs every non-key column to the given value
        (reference _pipes.py:1412-1424).

        Driver-sized windows are read with pyarrow, like the reference's
        in-memory pandas read: when the footers of the window's row
        groups count at most ``_LOCAL_FUSED_ROWS`` rows,
        ``store.read_local`` reads and sorts them on the driver and the
        frame is built by ``createDataFrame(pa.Table)`` — a JVM-only
        ``LocalTableScan``. The dt/params filters, select/omit,
        ``replace_nulls`` and ``limit`` stay Spark expressions that the
        optimizer folds into that relation, so ``collect()`` runs no
        Spark job. Larger windows, and the cases ``read_local`` declines
        (a NaN in a float sort column, a stored type Spark would
        convert, an unbounded read of a pipe with null-dt rows, ...),
        keep the lazy partition-pruned scan plus ``orderBy``.

        Either way the result is a snapshot of the table as of this
        call: the Arrow read copies the rows now, and the lazy scan fixes
        its file listing when the frame is built."""
        begin, end = self._parse_bound(begin), self._parse_bound(end)
        if as_iterator:
            return self._iterate_data(select_columns, omit_columns, begin, end,
                                      params, order, limit,
                                      chunk_minutes or self.chunk_minutes)
        return self._read_frame(select_columns, omit_columns, begin, end,
                                params, order, limit, replace_nulls)[0]

    def _read_frame(self, select_columns, omit_columns, begin, end, params,
                    order, limit, replace_nulls) -> tuple[DataFrame, bool]:
        """``get_data``'s frame for parsed bounds, and whether it was read
        on the driver (a ``LocalTableScan`` that ``collect()`` serves with
        no Spark job)."""
        dtypes = self.dtypes or None
        begin_us, end_us = self._bound_us(begin), self._bound_us(end)
        visible = list(self.dtypes)
        if select_columns:
            visible = [c for c in select_columns if c in visible]
        if omit_columns:
            visible = [c for c in visible if c not in omit_columns]
        sort_cols = self._order_cols(visible) if order else []
        tbl = self.store.read_local(dtypes, begin_us, end_us,
                                    self._LOCAL_FUSED_ROWS, sort_cols,
                                    descending=order != "asc")
        if tbl is not None:
            if begin_us is not None or end_us is not None:
                # the dt window on the driver as well (exact on epoch µs),
                # so the frame carries one Spark filter fewer to analyze
                import pyarrow as pa
                tbl = tbl.filter(pa.array([
                    u is not None and (begin_us is None or u >= begin_us)
                    and (end_us is None or u < end_us)
                    for u in self.store._epoch_us(tbl)], pa.bool_()))
            df = self.spark.createDataFrame(tbl, T.StructType([
                f for f in self.store.read_schema(dtypes).fields
                if f.name != PART_COL]))
        else:
            df = self._dt_window(
                self.store.read(dtypes=dtypes, begin_us=begin_us,
                                end_us=end_us), begin, end)
        cond = params_to_filter(params)
        if cond is not None:
            df = df.filter(cond)
        if select_columns:
            df = df.select(*[c for c in select_columns if c in df.columns])
        if omit_columns:
            df = df.drop(*[c for c in omit_columns if c in df.columns])
        if replace_nulls is not None:
            keys = set(self.index_cols)
            for c in df.columns:
                if c not in keys:
                    df = df.withColumn(
                        c, F.coalesce(F.col(c),
                                      F.lit(replace_nulls).cast(df.schema[c].dataType)))
        sort_cols = self._order_cols(df.columns) if order else []
        if tbl is None and sort_cols:
            df = df.orderBy(*[
                F.col(c).asc() if order == "asc" else F.col(c).desc()
                for c in sort_cols
            ])
        if limit is not None:
            df = df.limit(int(limit))
        return df, tbl is not None

    def _order_cols(self, columns: list[str]) -> list[str]:
        """``get_data``'s sort columns among ``columns``: dt first, then
        the index columns, de-duplicated (reference _pipes.py:1519-1537);
        none when dt is not among them."""
        if not self.dt_col or self.dt_col not in columns:
            return []
        return list(dict.fromkeys(c for c in [self.dt_col, *self.index_cols]
                                  if c in columns))

    def _dt_window(self, df: DataFrame, begin: Any, end: Any) -> DataFrame:
        """``df`` filtered to the parsed window ``[begin, end)``."""
        if (begin is not None or end is not None) and (
            self.dt_col is None or (df.columns and self.dt_col not in df.columns)
        ):
            # bounds against a missing/misregistered datetime column must
            # error, not silently return the unbounded table
            raise ValueError(
                f"begin/end given but datetime column "
                f"{self.dt_col!r} is not in the stored columns."
            )
        cond = datetime_filter(self.dt_col if self.dt_col in df.columns
                               else None, begin, end)
        return df.filter(cond) if cond is not None else df

    def _iterate_data(self, select_columns, omit_columns, begin, end, params,
                      order, limit, chunk_minutes) -> Iterator[DataFrame]:
        """Chunked read (reference _data.py:321-410): one DataFrame per
        epoch-aligned window — each prunes to its own partitions."""
        if begin is None:
            begin = self.get_sync_time(newest=False, params=params)
        if end is None:
            last = self.get_sync_time(newest=True, params=params)
            if last is not None:
                one = (datetime.timedelta(microseconds=1)
                       if isinstance(last, datetime.datetime) else 1)
                end = last + one
        if begin is None or end is None:
            return
        for b, e in get_chunk_bounds(begin, end, chunk_minutes,
                                     unit=self.precision_unit):
            yield self.get_data(select_columns, omit_columns, b, e, params,
                                order, limit)

    def get_docs(self, **kw: Any) -> list[dict[str, Any]]:
        """Row dicts (reference get_pipe_docs, core/Pipe/_data.py:1003-1026)."""
        df = self.get_data(**kw)
        return [row.asDict(recursive=True) for row in df.collect()]

    def get_backtrack_data(self, backtrack_minutes: int | None = None,
                           begin: Any = None, **kw: Any) -> DataFrame | None:
        """Most-recent trailing window (reference core/Pipe/_data.py:413-514)."""
        bt = backtrack_minutes if backtrack_minutes is not None else self.backtrack_minutes
        if begin is None:
            begin = self.get_sync_time()
        if begin is not None:
            if isinstance(begin, datetime.datetime):
                begin = begin - datetime.timedelta(minutes=bt)
            else:
                begin = begin - (bt * 60_000_000) // UNIT_US[self.precision_unit]
        return self.get_data(begin=begin, **kw)

    # ------------------------------------------------------------ aggregates

    def get_sync_time(self, newest: bool = True,
                      params: dict[str, Any] | None = None) -> Any:
        """Newest (or oldest) dt value (reference
        connectors/sql/_pipes.py:2812-2942).

        Fast path (no params): read the min/max statistics straight from
        the newest partition's parquet footers — metadata-only, no Spark
        job, O(files in one partition). Falls back to a partition-ordered
        Spark scan when params filter rows or stats are unavailable."""
        dt = self.dt_col
        if dt is None or not self.exists():
            return None
        if params is None:
            val = self._sync_time_from_footers(newest)
            if val is not None:
                return self._parse_bound(val)
        agg = F.max if newest else F.min
        cond = params_to_filter(params)
        parts = self.store.partition_values()
        ordered = sorted([p for p in parts if p is not None], reverse=newest)
        if None in parts:
            ordered.append(None)
        for part in ordered:
            df = self.store.read(dtypes=self.dtypes or None, part_values=[part])
            if cond is not None:
                df = df.filter(cond)
            val = df.agg(agg(F.col(dt)).alias("t")).first()["t"]
            if val is not None:
                return self._parse_bound(val)
        return None

    def _sync_time_from_footers(self, newest: bool) -> Any:
        """Parquet-footer statistics of the newest (oldest) partition —
        the Spark analogue of an index-backed ORDER BY dt LIMIT 1."""
        import os

        try:
            import pyarrow.parquet as pq
        except ImportError:
            return None
        dt = self.dt_col
        parts = [p for p in self.store.partition_values() if p is not None]
        if not parts:
            return None
        target = max(parts) if newest else min(parts)
        part_dir = os.path.join(self.store.data_path,
                                self.store._part_dir_name(target))
        best = None
        try:
            for fname in os.listdir(part_dir):
                if not fname.endswith(".parquet"):
                    continue
                meta = pq.ParquetFile(os.path.join(part_dir, fname)).metadata
                for rg in range(meta.num_row_groups):
                    group = meta.row_group(rg)
                    for ci in range(group.num_columns):
                        col = group.column(ci)
                        if col.path_in_schema != dt:
                            continue
                        stats = col.statistics
                        if stats is None or not stats.has_min_max:
                            return None  # stats missing → Spark fallback
                        val = stats.max if newest else stats.min
                        if best is None or (val > best if newest else val < best):
                            best = val
        except OSError:
            return None
        return best

    def get_rowcount(self, begin: Any = None, end: Any = None,
                     params: dict[str, Any] | None = None) -> int:
        if begin is None and end is None and not params:
            # unfiltered count straight from parquet footer metadata —
            # no Spark job (same metadata-first shape as get_sync_time)
            n = self.store.rowcount_from_footers()
            if n is not None:
                return n
        df, local = self._read_frame(None, None, self._parse_bound(begin),
                                     self._parse_bound(end), params, None,
                                     None, None)
        # a driver-read window counts on the driver: collect() of the
        # folded LocalTableScan runs no job, count() would run two
        return len(df.select(F.lit(1)).collect()) if local else df.count()

    def get_size(self) -> int:
        return self.store.size_bytes() if self.exists() else 0

    def get_distinct_count(self, col: str) -> int:
        df = self.get_data(select_columns=[col], order=None)
        return df.distinct().count()

    # ------------------------------------------------------------------ sync

    def sync(
        self,
        data: Any = None,
        begin: Any = None,
        end: Any = None,
        params: dict[str, Any] | None = None,
        check_existing: bool = True,
        force_full_scan: bool = False,
    ) -> SyncResult:
        """The main write path (reference core/Pipe/_sync.py:40-467 →
        connectors/sql/_pipes.py:1802-2215)."""
        if data is None:
            if self.sync_fn is not None:
                # plugin-connector sync protocol (reference dispatch,
                # core/Pipe/_sync.py:244-269): the plugin owns the whole
                # sync; it may call back into pipe.sync(df) itself
                out = self.sync_fn(self, begin=begin, end=end, params=params)
                if isinstance(out, SyncResult):
                    return out
                if isinstance(out, tuple):
                    return SyncResult(bool(out[0]), str(out[1]))
                return SyncResult(bool(out), "plugin sync")
            data = self.fetch(begin=begin, end=end, params=params)
            if data is None:
                return SyncResult(False, "No data to sync and no fetch source.")

        import collections.abc

        import pandas as _pd
        if (not isinstance(data, (DataFrame, _pd.DataFrame, list, tuple,
                                  str, dict))
                and isinstance(data, collections.abc.Iterator)):
            # chunk generators sync chunk-by-chunk (reference
            # core/Pipe/_sync.py:313-401 df_is_chunk_generator path)
            total_ins = total_upd = n_chunks = 0
            for chunk in data:
                res = self.sync(chunk, begin=begin, end=end, params=params,
                                check_existing=check_existing,
                                force_full_scan=force_full_scan)
                n_chunks += 1
                total_ins += res.inserted
                total_upd += res.updated
                if not res.success:
                    return SyncResult(
                        False, f"Chunk {n_chunks} failed: {res.message}",
                        total_ins, total_upd)
            return SyncResult(
                True, f"Synced {n_chunks} chunk(s): inserted {total_ins}, "
                f"updated {total_upd}.", total_ins, total_upd)
        if isinstance(data, _pd.DataFrame) and (data.empty or not len(data.columns)):
            return SyncResult(True, "Empty batch.", 0, 0)
        if isinstance(data, (list, tuple)) and not data:
            return SyncResult(True, "Empty batch.", 0, 0)
        local_out: dict = {}
        # a small driver-local batch headed for the diff stays a bare
        # LocalRelation, so the driver-side diff collects it with no job
        fold = (self._LOCAL_FUSED_ROWS if check_existing and not self.upsert
                else 0)
        df, inferred = mdf.to_spark_df(self.spark, data, self.dtypes or None,
                                       _local_out=local_out, _fold_rows=fold)
        if df is None or not df.columns:
            return SyncResult(True, "Empty batch.", 0, 0)

        self._evolve_dtypes(inferred)
        df = self._apply_autotime(df)
        sync_persisted: list[DataFrame] = []
        df = self._apply_autoincrement(df, _persisted=sync_persisted)
        # columns injected by autotime/autoincrement need registering too
        from meerschaum_spark.dtypes import from_spark_type, is_fallback_type
        self._evolve_dtypes({
            c: from_spark_type(f.dataType)
            for c, f in zip(df.columns, df.schema.fields) if c not in inferred
        })
        if self.enforce:
            df = mdf.enforce_dtypes(df, self.dtypes)
        else:
            # a type the registry can only name by its "str" fallback (a
            # struct, a map) is stored as the registered type either way:
            # stored as itself, no read schema could read it back
            df = mdf.enforce_dtypes(df, {
                c: self.dtypes[c] for c, f in zip(df.columns, df.schema.fields)
                if c in self.dtypes and is_fallback_type(f.dataType)})

        # Batch-order tag, assigned BEFORE any join/shuffle so it captures
        # the source row order (partition_id << 33 | row_in_partition —
        # deterministic for a parquet scan or createDataFrame). Patch
        # dedupe orders by it desc to match the reference's
        # drop_duplicates(keep='last') batch semantics
        # (core/Pipe/_sync.py drop_duplicates / utils/dataframe.py
        # filter_existing); dropped again before every write.
        df = df.withColumn(ORD_COL, F.monotonically_increasing_id())

        # content-dedup at ingest (opt-in): drop rows whose dedup-column
        # content was EVER stored before, regardless of keys/time — the
        # training-corpus ingest contract ("never ingest a document twice")
        # that the key-diff alone cannot express
        df = self._ingest_dedup_filter(df)
        if getattr(self._fps_tls, "empty", False):
            # the guard dropped EVERY row (pure replay): skip the diff,
            # append, and fingerprint commit entirely — steady-state
            # re-ingestion costs one job, not a full sync cycle. (A
            # populated fingerprint table implies a prior successful
            # sync, so registration already happened.)
            for cached in sync_persisted:
                cached.unpersist()
            return SyncResult(
                True, "Inserted 0, updated 0 rows "
                "(all content previously ingested).", 0, 0)

        if not self.registry.load(self.target):
            self.register()

        # fresh probe, not the TTL cache: a stale False here would take the
        # append-without-diff path over a table another writer just created
        first_sync = not self.exists(refresh=True)
        pdf = local_out.get("pdf")
        # FUSED driver-local small batches: the diff is computed once and
        # split on the driver (see ``_local_sync``, ``_fused_local_diff``)
        fused = pdf is not None and len(pdf) <= fold
        if fused and first_sync:
            df = mdf.narrow(self.spark, df, len(pdf))
        if first_sync:
            w = self._observed_write(
                self._dedupe_patch(df) if self.upsert else df.drop(ORD_COL),
                self.store.append, sync_persisted)
            w.new_files = None  # a new table's side tables build in full
            self._after_write(w)
            return SyncResult(True, f"Inserted {w.n_ins} rows (new table).",
                              w.n_ins, 0)

        if self.upsert:
            with _low_latency_plan(self.spark):
                pre = self._dedupe_patch(df)
                keys = [c for c in self.index_cols
                        if c in pre.columns] or pre.columns
                w = self._observed_write(
                    pre, lambda p: self.store.merge(
                        p, keys, dtypes=self.dtypes or None),
                    sync_persisted, update=True,
                    dt_moved=self.dt_col not in keys)
            self._after_write(w)
            return SyncResult(True, f"Upserted {w.n_upd} rows.", 0, w.n_upd)

        if not check_existing:
            w = self._observed_write(df.drop(ORD_COL), self.store.append,
                                     sync_persisted)
            self._after_write(w)
            return SyncResult(True, f"Inserted {w.n_ins} rows (no diff).",
                              w.n_ins, 0)

        merge_keys = self._merge_keys(df.columns)
        dtc = self.dt_col
        ru_confs = self._rollup_confs if dtc and dtc in df.columns else []
        with contextlib.ExitStack() as stack:
            stack.enter_context(_low_latency_plan(self.spark))
            # a long-running service must not leak one cache entry per sync
            stack.callback(lambda: [c.unpersist() for c in sync_persisted])
            if fused:
                if not force_full_scan:
                    done = self._local_sync(df, ru_confs, merge_keys)
                    if done is not None:
                        return done
                df = mdf.narrow(self.spark, df, len(pdf))
            bounds: dict = {}
            # ONE write-lock hold from the diff's plan to its publish: the
            # backtrack scan's file listing is captured when it is planned,
            # so the diff runs against the very files the merge then lists
            # and rewrites, and no other publish can delete one mid-job
            with self._write_lock:
                marked = self._split_existing(
                    df, force_full_scan=force_full_scan, _bounds=bounds,
                    _local_pdf=pdf,
                    _stats_hint=getattr(self._fps_tls, "stats", None))
                if fused:
                    m, new_files = self._fused_spark_write(
                        df, marked, bounds, ru_confs, merge_keys)
                else:
                    m, new_files = self._diff_write(
                        df, marked, bounds, ru_confs, merge_keys)
            return self._finish_diff_sync(m, bounds, ru_confs, new_files,
                                          merge_keys)

    def _fused_spark_write(self, df: DataFrame, marked: DataFrame,
                           bounds: dict, ru_confs: list,
                           merge_keys: list) -> tuple[dict, list]:
        """A declined driver-side diff of a small driver-local batch,
        under the caller's write-lock hold: evaluate the Spark diff
        ``marked`` ONCE (a batch-bounded toArrow), split it on the
        driver, and write frames built from the Arrow splits — the
        inserts, then the corrections. Returns the diff metrics and the
        files the inserts moved in."""
        dtc = self.dt_col
        sel = [F.col(c) for c in marked.columns]
        if dtc and dtc in marked.columns:
            # store.part_expr — same exact-int64 cell expression as
            # store.with_part and the observed path's _ucells aggregate
            # (float floor(epoch/width) diverges past 2^53 µs)
            sel += [self._dt_us().alias("_m_us"),
                    self.store.part_expr().alias("_m_cell")]
        sel += [self._rollup_bucket_us(conf).alias(f"_m_rub{i}")
                for i, conf in enumerate(ru_confs)]
        m, unseen, update, deduped = self._fused_local_diff(
            marked.select(*sel).toArrow(), df.schema, ru_confs)
        new_files = (self.store.append(self._local_frame(unseen, df.schema))
                     if unseen.num_rows else [])
        self._merge_update(m, self._local_frame(update, df.schema),
                           bounds, merge_keys, deduped)
        return m, new_files

    def _diff_write(self, df: DataFrame, marked: DataFrame, bounds: dict,
                    ru_confs: list, merge_keys: list) -> tuple[dict, list]:
        """The distributed diff sync's writes, under the caller's
        write-lock hold. ONE Spark job evaluates the diff ``marked``
        once, counts both splits in an Observation above the split
        point, and stages the unseen rows beside the update rows deduped
        by ORD_COL (``store.stage_sync``): the two branches share the
        DPP cell broadcast, the backtrack aggregate's broadcast and any
        exchange below the join, so the backtrack is scanned and
        aggregated once. The merge then reads the
        staged corrections back, and ONE publish commits them with the
        inserts, so a reader never sees the inserts alone. Returns the
        diff metrics and the files the inserts moved in."""
        dtc = self.dt_col
        # DPP diff path: no stats job ran, so the merge/rollup bounds
        # ride THIS Observation instead — collected from the very job
        # that materializes the diff. Diff-output bounds are a (tighter)
        # superset of every row the sync writes: unseen rows and update
        # patch rows are both diff rows, and with dt among the merge
        # keys a matched stored row shares its patch row's dt.
        deferred_bounds = bool(bounds.get("deferred"))
        obs_aggs = [
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.col(HIT_COL)).alias("n_update"),
        ]
        # dt aggregates are epoch µs: a collected timestamp is a
        # process-local wall time, which misplaces the merge window
        # in any non-UTC driver zone (and is ambiguous in a DST
        # fall-back hour)
        if deferred_bounds and dtc and dtc in marked.columns:
            obs_aggs += [
                F.min(self._dt_us()).alias("_lo"),
                F.max(self._dt_us()).alias("_hi"),
                F.count(F.when(F.col(dtc).isNull(), 1)).alias("_dt_nulls"),
            ]
        # update-touched rollup buckets ride the SAME Observation (one
        # capped sorted collect_set per rollup conf — update rows name
        # few distinct buckets in the common late-correction shape):
        # maintenance can then recompute ONLY those buckets from base
        # storage and delta-fold the insert-only remainder, making
        # update-sync maintenance cost ∝ touched buckets instead of
        # the patch's whole time window.
        if dtc and dtc in marked.columns:
            # the UPDATE rows' own dt window, for the merge: pruning
            # the merge to the update span (not the whole batch span)
            # keeps a wide-insert + narrow-late-correction sync from
            # file-rewriting every cell the batch touched
            hit_dt = F.when(F.col(HIT_COL).isNotNull(), self._dt_us())
            obs_aggs += [F.min(hit_dt).alias("_ulo"),
                         F.max(hit_dt).alias("_uhi")]
            # ...and the update rows' exact partition CELLS
            # (store.part_expr — the SAME exact-int64 expression the
            # store writes as PART_COL; a float floor(epoch/width)
            # here can disagree past 2^53 µs and prune the WRONG
            # cells): a SCATTERED late-correction batch spans the
            # whole table as a [min, max] window, but touches only a
            # handful of cells — the merge then prunes and swaps
            # exactly those cells instead of rewriting everything in
            # the span
            ucell = self.store.part_expr()
            obs_aggs.append(F.slice(F.sort_array(F.collect_set(
                F.when(F.col(HIT_COL).isNotNull(), ucell))),
                1, self._MERGE_CELLS_CAP + 1).alias("_ucells"))
        for ru_i, ru_conf in enumerate(ru_confs):
            obs_aggs.append(
                F.slice(F.sort_array(F.collect_set(
                    F.when(F.col(HIT_COL).isNotNull(),
                           self._rollup_bucket_us(ru_conf)))),
                    1, self._ROLLUP_UB_CAP + 1).alias(f"_ru_ub{ru_i}"))
        obs = Observation()
        cols = [c for c in marked.columns if c not in (HIT_COL, ORD_COL)]
        # both branches read the OBSERVED diff: the optimizer pushes no
        # filter below the Observation, so neither branch's outer join
        # turns inner (which could broadcast the batch and re-aggregate
        # the backtrack in a job of its own). The branches then plan the
        # same join, its broadcasts are reused, and the two copies of
        # the Observation count the same rows.
        observed = marked.observe(obs, *obs_aggs)
        unseen = observed.filter(F.col(HIT_COL).isNull()).select(*cols)
        patch = self._dedupe_patch(
            observed.filter(F.col(HIT_COL).isNotNull()).drop(HIT_COL))
        # On a detached (foreachBatch-cloned) session Observation.get
        # WILL fail: snapshot the counts before the write instead (one
        # extra probe join over the micro-batch-sized input)
        m: dict | None = None
        if self._obs_detached(df):
            row = marked.agg(*obs_aggs).first()
            m = row.asDict() if row is not None else {}
        staging = self.store.stage_sync(unseen, patch)
        try:
            if m is None:
                try:
                    m = obs.get
                except Exception as exc:
                    raise RuntimeError(
                        f"sync of {self.target!r}: the diff's observed "
                        "metrics are unavailable, so nothing was written. "
                        "Re-running the same batch completes the sync."
                    ) from exc
            new_files = self._merge_update(
                m, self.store.read_staged(staging, unseen.schema), bounds,
                merge_keys, True, inserts=staging)
        finally:
            self.store.discard_staged(staging)
        return m, new_files

    def _merge_keys(self, columns: list) -> list:
        """The diff sync's merge keys among ``columns``: the index columns,
        else every batch column."""
        return ([c for c in self.index_cols if c in columns]
                or [c for c in columns if c not in (ORD_COL, HIT_COL)])

    def _merge_update(self, m: dict, update, bounds: dict, merge_keys: list,
                      update_deduped: bool = False, inserts=None) -> list:
        """The write step every diff path shares: the bounded merge of
        the update patch, under the write lock. ``update`` must still
        carry ORD_COL (patch dedupe orders by it) unless
        ``update_deduped`` says it is already key-unique and ORD_COL-free
        (the fused paths' driver-side dedupe, the distributed path's
        staged one; the merge plan then never re-evaluates the patch
        through a shuffle). ``m`` holds the diff metrics
        (n_total/n_update plus the optional _lo/_hi/_dt_nulls/_ulo/_uhi/
        _ucells/_ru_ub*; the dt bounds in epoch µs, see ``_dt_us``).
        ``bounds["deferred"]`` (DPP path): no stats job ran, so the
        window comes from the observed ``_lo``/``_hi`` and is filled into
        ``bounds`` here; otherwise the stats job's null-dt count is
        ``bounds["dt_nulls"]``.

        ``inserts`` are the diff's unseen rows, which ``store.merge``
        commits in the same publish as the corrections: pyarrow beside a
        pyarrow ``update`` (``_local_sync``), or the staging dir
        ``store.stage_sync`` wrote both splits to (``_diff_write``;
        ``update`` is then its staged patch, None when no row updates).
        Returns the files the inserts moved in."""
        n_update = int(m["n_update"])
        nulls = bool(m.get("_dt_nulls") or bounds.get("dt_nulls"))
        if bounds.get("deferred") and m.get("_lo") is not None and not nulls:
            bounds["begin_us"], bounds["end_us"] = self._slop_us(
                m["_lo"], m["_hi"])
        if not n_update and (inserts is None or not int(m["n_total"])):
            return []
        # pass the diff's time bounds so the merge prunes the existing
        # side statically and runs as ONE action (the bounds path is only
        # sound when the partition-driving dt is itself a merge key —
        # matched rows then live in the same cells as their patch rows)
        use_bounds = self.dt_col in merge_keys and "begin_us" in bounds
        # prune the merge to the UPDATE rows' own (slop-widened) window,
        # not the whole batch window: a wide-insert +
        # narrow-late-correction sync then file-rewrites only the
        # correction's cells — and the insert files stay untouched,
        # which keeps the rollup delta's captured-file patch alive
        mb_lo, mb_hi = bounds.get("begin_us"), bounds.get("end_us")
        if use_bounds and m.get("_ulo") is not None:
            u_lo, u_hi = self._slop_us(m["_ulo"], m["_uhi"])
            mb_lo, mb_hi = max(mb_lo, u_lo), min(mb_hi, u_hi)
        # SCATTERED updates: when the update cells cover less than their
        # [min, max] window's cell span, hand the merge the exact cell
        # list (zero extra actions) — the window path would footer-probe
        # and rewrite every file in the span. Dense narrow windows keep
        # the bounds path: its within-cell FILE-level footer pruning is
        # finer than cells.
        mparts: list | None = None
        ucells = m.get("_ucells")
        if (use_bounds and ucells is not None
                and len(ucells) <= self._MERGE_CELLS_CAP):
            cells = sorted(int(c) for c in ucells)
            span = (self.store.part_index_of(mb_hi - 1)
                    - self.store.part_index_of(mb_lo) + 1)
            if cells and len(cells) < span:
                mparts = cells
        with self._write_lock:
            # merge sources must be key-unique: a batch carrying two rows
            # for one key would otherwise insert both. The fused paths
            # dedupe on the driver, the distributed path inside its
            # staging job; otherwise the window dedupe rides inside the
            # merge's own action.
            return self.store.merge(
                update if update_deduped else self._dedupe_patch(update),
                merge_keys,
                dtypes=self.dtypes or None,
                begin_us=mb_lo if use_bounds and mparts is None else None,
                end_us=mb_hi if use_bounds and mparts is None else None,
                parts=mparts,
                inserts=inserts,
                max_rows=self._LOCAL_FUSED_ROWS,
            )

    def _finish_diff_sync(self, m: dict, bounds: dict, ru_confs: list,
                          new_files: list | None, merge_keys: list,
                          ) -> "SyncResult":
        """Shared diff-sync tail (every diff path, after its writes): the
        post-write tail on a record built from the diff metrics ``m``
        and the ``bounds`` ``_merge_update`` completed."""
        n_update = int(m["n_update"])
        n_unseen = int(m["n_total"]) - n_update
        nulls = bool(m.get("_dt_nulls") or bounds.get("dt_nulls"))
        # dt not a merge key: a matched row's dt may have CHANGED, and
        # its old bucket/cell lies outside the window (the use_bounds
        # guard in _merge_update, for the side tables)
        dt_moved = bool(n_update) and self.dt_col not in merge_keys
        ucells = m.get("_ucells")
        # null-dt rows sit in no window and no observed cell: drop the
        # files and cells so every side table takes its full form
        self._after_write(_Written(
            n_ins=n_unseen, n_upd=n_update,
            begin_us=bounds.get("begin_us"), end_us=bounds.get("end_us"),
            new_files=None if nulls else new_files,
            ucells=(ucells if ucells and not nulls
                    and len(ucells) <= self._ANN_CELLS_CAP else None),
            ubuckets=(self._update_buckets_from_metrics(m, ru_confs)
                      if n_update and not dt_moved else None),
            dt_moved=dt_moved))
        return SyncResult(
            True, f"Inserted {n_unseen}, updated {n_update} rows.",
            n_unseen, n_update,
        )

    def _observed_write(self, pre: DataFrame,
                        write: Callable[[DataFrame], Any],
                        persisted: list, update: bool = False,
                        dt_moved: bool = False) -> _Written:
        """Write ``pre`` through ``write`` under the write lock and return
        its record — the first, upsert and no-check paths. Rows and dt
        bounds are counted DURING the write (an Observation on the write
        job itself; a separate count would re-scan the whole source).
        The sync's persisted frames are released either way. ``update``
        books the rows as updates (upsert: the merge does not split);
        ``write``'s return value is the record's files (an append's)."""
        aggs = [F.count(F.lit(1)).alias("n")]
        dt = self.dt_col
        if (self._rollup_confs or self._ann_conf) and dt in pre.columns:
            us = self._dt_us()
            aggs += [F.min(us).alias("_ru_lo"), F.max(us).alias("_ru_hi"),
                     F.count(F.when(F.col(dt).isNull(), 1))
                     .alias("_ru_nulls")]
        try:
            obs = Observation()
            with self._write_lock:
                new_files = write(pre.observe(obs, *aggs))
            m = self._obs_get(obs, pre, aggs)
        finally:
            for cached in persisted:
                cached.unpersist()
        n = int(m["n"])
        # null-dt rows fall in the null cell, which no window covers
        nulls = bool(m.get("_ru_nulls"))
        bounded = m.get("_ru_lo") is not None and not nulls
        return _Written(
            n_ins=0 if update else n, n_upd=n if update else 0,
            begin_us=int(m["_ru_lo"]) if bounded else None,
            end_us=int(m["_ru_hi"]) + 1 if bounded else None,
            new_files=None if nulls else new_files, dt_moved=dt_moved)

    def _after_write(self, w: _Written) -> None:
        """The post-write tail of every mutating entry point, in order:
        commit the batch's ingest fingerprints, maintain the rollups,
        maintain the ANN index, register. A write that changed no rows
        skips the two side tables.

        Who fills which record fields::

            entry point   ins/upd   window        files  ucells  ubuckets dt_moved
            first sync    ins       observed      -      -       -        -
            upsert sync   upd       observed      -      -       -        dt∉keys
            no-check      ins       observed      yes    -       -        -
            diff sync     both      slop-widened  yes    ≤cap    ≤cap     dt∉keys
            deduplicate   upd       unbounded     -      swapped -        -
            clear         upd       delete range  -      -       -        -

        "observed" = min/max dt counted by the write job itself; "≤cap"
        = observed, None past ``_ANN_CELLS_CAP`` cells or (per conf)
        ``_ROLLUP_UB_CAP`` buckets; null dts leave the window unbounded
        and drop files and cells.

        Which rollup branch each field selects (confs with
        ``refresh='deferred'`` only log the range — see
        ``_rollup_deferred`` — and ``_maintain_rollups`` /
        ``_try_rollup_delta_files`` serve the eager ones)::

            window unbounded, or dt_moved       full refresh
            ins only, or upd with ubuckets      delta-fold files, recompute
                                                ubuckets (declines with
                                                neither → next row)
            otherwise                           bounded window recompute

        Which ANN branch (``_ann_after_write``)::

            no index/codebook yet, or dt_moved  rebuild
            upd without ucells, or ins          re-encode the window
              without files                     (unbounded → rebuild)
            otherwise                           swap ucells, encode the
                                                files outside them

        A missing rollup table is built in full by the bounded branches
        (mid-life enablement), like a missing ANN index."""
        self._commit_fingerprints()
        if w.n_ins or w.n_upd:
            b, e = (None, None) if w.dt_moved else (w.begin_us, w.end_us)
            if self.dt_col:  # deferred confs only log (None → "full")
                self._log_rollup_invalidation(
                    [c for c in self._rollup_confs
                     if self._rollup_deferred(c)], b, e)
            if b is None or e is None:
                self._maintain_rollups(None, None)
            elif not ((not w.n_upd or w.ubuckets is not None)
                      and self._try_rollup_delta_files(
                          w.new_files, b, e, update_buckets=w.ubuckets)):
                self._maintain_rollups(b, e)
            self._ann_after_write(w)
        self.register()

    #: driver-local batches at or below this row count take the fused
    #: diff paths: the driver-side diff and write (``_local_sync``), or,
    #: where that declines, one collect of the Spark diff. It also gates
    #: the rows the driver reads: the backtrack window, the files a
    #: driver-side merge rewrites, and a ``get_data`` window. Larger
    #: batches keep the in-action Observation path, whose write job
    #: materializes the batch without a driver round-trip.
    _LOCAL_FUSED_ROWS = 8192

    def _local_sync(self, df: DataFrame, ru_confs: list,
                    merge_keys: list) -> SyncResult | None:
        """The whole diff sync of a small driver-local batch, on the
        driver and with no Spark job, like the reference's in-memory
        pandas sync; None when it declines (nothing written — the caller
        runs the Spark diff).

        The batch is collected by a job-free ``collect()`` (its plan
        folds into a ``LocalTableScan``). Under one write-lock hold the
        backtrack window — the batch's dt span, slop-widened and rounded
        outward in the axis' units exactly as ``_split_existing`` does —
        is read with ``store.read_local``, the batch is split with the
        Spark diff's rules (keys match null-safe; a row is unchanged when
        ANY stored version of its key equals it on every batch column,
        the ``collect_set`` semantics; an update when its key is stored;
        otherwise unseen; ``row_keys`` gives NaN = NaN and -0.0 = 0.0),
        and ``store.merge`` commits the inserts and corrections in ONE
        publish. A reader never sees the inserts without the
        corrections, and a kill leaves all or nothing.

        Declines: no dt column in the batch, no registered dtypes, a
        batch column whose stored type differs (``enforce=False``) or
        that ``_driver_comparable`` rejects (a map or struct; a float or
        timestamp inside an array — the Spark fingerprint normalizes only
        top-level floats), a rollup interval finer than the integer axis
        unit, an empty batch or a null dt, and a backtrack window whose
        footers count more than ``_LOCAL_FUSED_ROWS`` rows (or that
        ``read_local`` declines otherwise)."""
        import pyarrow as pa

        dtc = self.dt_col
        dtypes = self.dtypes or None
        schema = self.store.read_schema(dtypes)
        cols = [c for c in df.columns if c != ORD_COL]
        unit_us = UNIT_US[self.precision_unit]
        if (dtc not in cols or schema is None
                or any(c not in schema.names
                       or schema[c].dataType != df.schema[c].dataType
                       or not _driver_comparable(df.schema[c].dataType)
                       for c in cols)
                or (self.dt_is_int
                    and any(self._rollup_width_us(c) < unit_us
                            for c in ru_confs))):
            return None
        batch = self._collect_arrow(df)
        us = self.store._epoch_us(batch)
        if not us or None in us:
            return None
        begin_us, end_us = self._slop_us(min(us), max(us))
        # the backtrack read's bounds in the axis' own units, rounded
        # outward, back in µs
        lo, hi = begin_us // unit_us * unit_us, -(-end_us // unit_us) * unit_us
        keys = [c for c in self.index_cols if c in cols]
        key_at = [cols.index(k) for k in keys]
        with self._write_lock:
            stored = self.store.read_local(dtypes, lo, hi,
                                           self._LOCAL_FUSED_ROWS)
            if stored is None:
                return None
            versions: dict = {}
            for u, r in zip(self.store._epoch_us(stored),
                            row_keys(stored, cols)):
                if u is not None and lo <= u < hi:
                    versions.setdefault(tuple(r[i] for i in key_at),
                                        set()).add(r)
            # no keys: every row shares the key (), so only an exact
            # stored copy matches, and a changed row is unseen
            changed, hit = [], []
            for i, r in enumerate(row_keys(batch, cols)):
                vs = versions.get(tuple(r[j] for j in key_at))
                if vs is None or r not in vs:
                    changed.append(i)
                    hit.append(1 if keys and vs is not None else None)
            m_us = [us[i] for i in changed]
            tbl = batch.take(pa.array(changed, pa.int64()))
            extra = {HIT_COL: pa.array(hit, pa.int32()),
                     "_m_us": pa.array(m_us, pa.int64()),
                     "_m_cell": pa.array([self.store.part_index_of(u)
                                          for u in m_us], pa.int64())}
            for i, conf in enumerate(ru_confs):
                extra[f"_m_rub{i}"] = pa.array(
                    [self._rollup_bucket_of(conf, u) for u in m_us],
                    pa.int64())
            for name, arr in extra.items():
                tbl = tbl.append_column(name, arr)
            m, unseen, update, deduped = self._fused_local_diff(
                tbl, df.schema, ru_confs)
            if not deduped:
                return None
            bounds = {"begin_us": begin_us, "end_us": end_us, "dt_nulls": 0}
            new_files = self._merge_update(m, update, bounds, merge_keys,
                                           True, inserts=unseen)
        return self._finish_diff_sync(m, bounds, ru_confs, new_files,
                                      merge_keys)

    def _collect_arrow(self, df: DataFrame):
        """``df``'s rows as a pyarrow table typed by ``df``'s schema,
        through ``collect()`` — which, for projections of a
        ``LocalRelation``, runs no Spark job (``toArrow()`` would run
        one). Timestamps travel as epoch µs: a collected timestamp is a
        process-local wall time, ambiguous in a DST fall-back hour."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(df.schema)
        rows = df.select(*[
            F.unix_micros(F.col(_quote(c))).alias(c)
            if pa.types.is_timestamp(f.type) else F.col(_quote(c))
            for c, f in zip(df.columns, target)]).collect()
        cols = list(zip(*rows)) if rows else [()] * len(target)
        return pa.Table.from_arrays([
            pa.array(v, pa.int64()).cast(f.type)
            if pa.types.is_timestamp(f.type) else pa.array(v, f.type)
            for f, v in zip(target, cols)], schema=target)

    def _local_frame(self, tbl, schema: T.StructType) -> DataFrame:
        """A pyarrow table as a JVM-only ``LocalTableScan`` frame typed
        by ``schema``'s fields of its columns — no Python worker runs on
        it, and values travel as Arrow keeps them (null, NaN and -0.0
        apart, timestamps as UTC instants)."""
        return self.spark.createDataFrame(
            tbl, T.StructType([schema[c] for c in tbl.column_names]))

    def _fused_local_diff(self, tbl, schema: T.StructType, ru_confs: list,
                          ) -> tuple[dict, Any, Any, bool]:
        """Split a driver-local diff, given as the Arrow table ``tbl`` of
        the batch's changed rows (``schema``'s columns, ORD_COL
        included, plus ``HIT_COL`` — non-null on updates — the dt as
        epoch µs ``_m_us``, its cell ``_m_cell`` and one ``_m_rub<i>``
        rollup bucket per conf of ``ru_confs``). Both fused paths build
        it: ``_local_sync`` on the driver, the declined path by one
        ``toArrow()`` of the Spark diff. Returns the Observation-shaped
        metrics, the unseen rows, the update patch, and whether the
        patch is already key-deduped (ORD_COL-free)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        def capped_set(col, cap: int) -> list:
            return sorted(pc.unique(col).drop_null().to_pylist())[:cap + 1]

        hit = pc.is_valid(tbl[HIT_COL])
        upd = tbl.filter(hit)
        m: dict = {"n_total": tbl.num_rows, "n_update": upd.num_rows}
        if "_m_us" in tbl.column_names:
            lo_hi = pc.min_max(tbl["_m_us"])
            u_lo_hi = pc.min_max(upd["_m_us"])
            m.update(_lo=lo_hi["min"].as_py(), _hi=lo_hi["max"].as_py(),
                     _dt_nulls=tbl["_m_us"].null_count,
                     _ulo=u_lo_hi["min"].as_py(),
                     _uhi=u_lo_hi["max"].as_py(),
                     _ucells=capped_set(upd["_m_cell"],
                                        self._MERGE_CELLS_CAP))
        for i in range(len(ru_confs)):
            m[f"_ru_ub{i}"] = capped_set(upd[f"_m_rub{i}"],
                                         self._ROLLUP_UB_CAP)
        p_cols = list(schema.names)
        unseen = tbl.filter(pc.invert(hit)).select(
            [c for c in p_cols if c != ORD_COL])
        # Patch dedupe runs HERE, on the driver (keep the max-ORD row per
        # null-safe key group — exactly _dedupe_patch's window), so the
        # merge, which references its patch twice (anti-join + union),
        # plans no window. Map-typed keys are read off the schema: Arrow
        # hands a map back as a list of pairs, which would group like an
        # array, where Spark cannot group at all. Struct keys come back as
        # dicts, which _dedupe_rows_local declines. Both keep the window.
        keys = self._merge_keys(p_cols)
        rows = upd.select(keys + [ORD_COL]).to_pylist()
        deduped = (None if any(has_map(schema[k].dataType) for k in keys)
                   else _dedupe_rows_local(rows, keys))
        if deduped is None:
            return m, unseen, upd.select(p_cols), False
        # the winners are elements of ``rows``: take them by position
        pos = {id(r): i for i, r in enumerate(rows)}
        winners = upd.take(pa.array(sorted(pos[id(r)] for r in deduped),
                                    pa.int64()))
        return (m, unseen, winners.select([c for c in p_cols if c != ORD_COL]),
                True)

    def filter_existing(
        self, df: DataFrame, force_full_scan: bool = False,
    ) -> tuple[DataFrame, DataFrame]:
        """Split an incoming batch into (unseen, update) against the stored
        table (reference core/Pipe/_sync.py:665-1008)."""
        marked = self._split_existing(df, force_full_scan=force_full_scan)
        return (
            marked.filter(F.col(HIT_COL).isNull()).drop(HIT_COL),
            marked.filter(F.col(HIT_COL).isNotNull()).drop(HIT_COL),
        )

    def _local_batch_stats(
        self, pdf, stats_cols: list, dt: str | None, key_cols: list,
        force_full_scan: bool, pushdown: dict,
    ) -> dict:
        """Driver-side replica of the batch-stats job for local input:
        dt bounds (epoch µs) + per-key distinct values straight from the
        pandas frame. Fills ``pushdown`` in place for columns whose literal
        equality provably matches the stored column's (int/str/bool/
        datetime); anything exotic (decimal, bytes, geometry) keeps the
        full backtrack — pushdown is a pruning optimization, never worth
        a semantic gamble.

        The frame may be a SUPERSET of the batch (ingest-dedup can drop
        rows after conversion): superset bounds/values only widen the
        backtrack, so every error direction is conservative."""
        import pandas as _pd

        def _py(v):
            if isinstance(v, _pd.Timestamp):
                if v.tzinfo is not None:
                    # naive-UTC: the engine's reading of a naive value
                    v = v.tz_convert("UTC").tz_localize(None)
                return v.to_pydatetime()
            return v.item() if hasattr(v, "item") else v

        stats: dict = {}
        if dt and dt in stats_cols:
            s = pdf[dt]
            nn = s.dropna()
            # null count unconditionally (hot-null-key salting input);
            # bounds only when they may narrow the backtrack
            stats["_dt_nulls"] = int(len(s) - len(nn))
            if not force_full_scan:
                stats["_lo"] = self._bound_us(_py(nn.min()) if len(nn)
                                              else None)
                stats["_hi"] = self._bound_us(_py(nn.max()) if len(nn)
                                              else None)
        for col in key_cols:
            s = pdf[col]
            n_null = int(s.isna().sum())
            vals = [_py(v) for v in s.dropna().unique().tolist()]
            stats[f"_nd_{col}"] = len(vals)
            stats[f"_nn_{col}"] = n_null
            safe = all(isinstance(v, (int, str, bool, datetime.datetime))
                       for v in vals)
            if (0 < len(vals) <= FILTER_PARAMS_INDEX_LIMIT
                    and not n_null and safe):
                pushdown[col] = vals
        return stats

    def _dt_us(self) -> F.Column:
        """The dt column as epoch µs (a long) on either axis. Aggregates
        the driver reads back must be instants: a collected timestamp is
        a process-local naive datetime, which ``_bound_us`` would read as
        UTC."""
        c = F.col(self.dt_col)
        if self.dt_is_int:
            return c.cast("long") * F.lit(UNIT_US[self.precision_unit])
        return F.unix_micros(c)

    @staticmethod
    def _slop_us(lo_us: int, hi_us: int) -> tuple[int, int]:
        """Epoch-µs [lo, hi] → slop-widened half-open [begin, end)
        (reference backtrack slop, core/Pipe/_sync.py:794-858)."""
        slop = BOUNDS_SLOP_MINUTES * 60_000_000
        return int(lo_us) - slop, int(hi_us) + slop + 1

    def _dpp_backtrack(self, df: DataFrame,
                       _bounds: dict | None) -> DataFrame:
        """Backtrack scan pruned AT RUNTIME by the batch's own partition
        cells — the one-job sync path for distributed batches.

        The batch's ``_mrsm_part`` ids (floor(epoch_us / width), the same
        expression ``store.with_part`` uses at write time) are distinct-ed
        and broadcast; the store scan left-semi joins on the partition
        column, and Spark's dynamic partition pruning turns the broadcast
        into a ``dynamicpruningexpression`` partition filter on the scan —
        only the batch's cells are listed and read, INSIDE the same job as
        the diff. This replaces the static [min-slop, max+slop] prune,
        which needed a separate stats action per sync to learn the bounds
        first (the per-sync fixed cost the r7 bench flagged). A sparse
        batch also prunes TIGHTER: only cells holding actual rows are
        read, not the contiguous span.

        Null-dt rows yield a null cell id, which no equi-join key matches
        — the null partition is unioned in instead, and only when its
        directory actually exists (one driver-side stat; most pipes never
        have one, and an unconditional union was MEASURED to cost a
        second eager file-listing of the whole table per sync). Extra
        backtrack rows are harmless to the diff, which only consumes
        key-matched rows.

        Two deliberate trade-offs vs the stats path, both recorded in the
        r8 design note: the ≤250-distinct-key IN pushdown is dropped
        (within-cell row filtering falls to parquet row-group stats and —
        on shuffle joins — Spark's runtime bloom-filter injection), and
        the hot-null-KEY salting guard cannot trigger (its input was the
        stats job's null counts; AQE skew splitting covers the shuffle
        case at bulk sizes, and small backtracks broadcast — no reducer
        to pin).
        """
        import os

        from meerschaum_spark.store import NULL_PART_DIR, PART_COL
        # store.part_expr: the DPP semi-join key MUST be the exact
        # int64 expression the store wrote as PART_COL — a float
        # floor(epoch/width) cell can differ past 2^53 µs on int-axis
        # epochs, and a missed semi-join match re-inserts existing rows
        # as duplicates
        part_expr = self.store.part_expr()
        # the > -2^62 comparison is always true for real cell ids (and
        # null-rejecting) — it exists because Spark's PartitionPruning
        # rule only plants a DPP filter when the build side carries a
        # LIKELY-SELECTIVE predicate (IsNotNull alone does not qualify);
        # verified by the plan-shape test asserting dynamicpruning in
        # the scan's PartitionFilters
        parts = (df.select(part_expr.alias(PART_COL))
                 .distinct()
                 .filter(F.col(PART_COL) > F.lit(-(1 << 62))))
        scan = self.store.read(dtypes=self.dtypes or None,
                               keep_part_col=True)
        bt_main = (scan.join(F.broadcast(parts), on=PART_COL,
                             how="left_semi").drop(PART_COL))
        if _bounds is not None:
            # merge/rollup bounds move onto the caller's diff Observation
            # (sync() collects them from the write job itself)
            _bounds["deferred"] = True
        if not os.path.isdir(os.path.join(self.store.data_path,
                                          NULL_PART_DIR)):
            return bt_main
        bt_null = self.store.read(dtypes=self.dtypes or None,
                                  part_values=[None])
        return bt_main.unionByName(bt_null)

    def _split_existing(
        self, df: DataFrame, force_full_scan: bool = False,
        _bounds: dict | None = None,
        _local_pdf=None,
        _stats_hint: dict | None = None,
    ) -> DataFrame:
        """The diff against the stored table, as ONE DataFrame: every
        changed row of the batch, tagged ``_mrsm_hit`` non-null when its
        index key already exists (→ update) and null when unseen.

        Plan shape: one bounded scan of the target (dt-range partition
        pruning + distinct-key IN pushdown), then
          delta  = batch ⟕̸ backtrack  on ALL columns        (full-row anti)
          marked = delta ⟕  distinct backtrack keys + tag   (one left join)
        The single marker join replaces the reference's separate
        unseen/update anti+semi pair — both splits and both counts come from
        one plan. All key comparisons are null-safe (eqNullSafe) — the
        reference's COALESCE-sentinel trick
        (connectors/sql/_pipes.py:2566-2607) is unnecessary on Spark.
        """
        dt = self.dt_col
        keys = [c for c in self.index_cols if c in df.columns]
        # ONE stats job: dt min/max + per-key distinct counts — the
        # reference derives the same bounds/pushdown from the in-memory
        # batch (core/Pipe/_sync.py:794-878); here it costs one pass
        stats_aggs: list[F.Column] = []
        key_cols = [c for c in keys if c != dt]
        if dt and dt in df.columns:
            if not force_full_scan:
                stats_aggs += [F.min(self._dt_us()).alias("_lo"),
                               F.max(self._dt_us()).alias("_hi")]
            # null count collected even under force_full_scan: it feeds
            # the hot-null-key salting decision, not the bounds
            stats_aggs.append(F.count(F.when(F.col(dt).isNull(), 1))
                              .alias("_dt_nulls"))
        for col in key_cols:
            # HLL estimate, not exact countDistinct: the only decision is
            # "≤ 250 distinct?", and the exact distinct shuffle would cost
            # more than the pushdown saves on large batches. Exact values
            # are collected below only when the estimate says it pays off.
            stats_aggs.append(F.approx_count_distinct(col, rsd=0.05)
                              .alias(f"_nd_{col}"))
            stats_aggs.append(F.count(F.when(F.col(col).isNull(), 1))
                              .alias(f"_nn_{col}"))
        # run stats (and the pushdown collect below) BEFORE persisting: the
        # stats need only the dt + key columns, so an un-cached run is a
        # column-pruned scan of the batch; persisting first would force the
        # stats job to materialize every column into the cache. The full
        # batch materializes later inside the write job that consumes it.
        stats_cols = ([dt] if dt and dt in df.columns else []) + key_cols
        stats_src = df.select(*stats_cols) if stats_cols else df
        # Local-batch fast path: rows that arrived as driver-local data
        # (dict/list/pandas syncs, HTTP payloads — the reference's dominant
        # small-batch cadence) carry their converted pandas frame in
        # ``_local_pdf``, so BOTH probe actions (stats agg + per-key
        # distinct collect) collapse into driver-side Python — two fewer
        # Spark jobs on the per-sync critical path. Distributed batches
        # keep the one-pass HLL stats job + bounded pushdown collect.
        stats: dict | None = None
        pushdown: dict[str, list] = {}
        use_local = (
            _local_pdf is not None and stats_aggs
            and all(c in _local_pdf.columns for c in stats_cols))
        # Distributed batches with dt AMONG THE KEYS take the one-job DPP
        # path: no stats action at all — the backtrack prunes at runtime
        # inside the diff job itself (see below). dt ∈ keys is what makes
        # per-cell pruning COMPLETE: a stored row can only match a batch
        # row if every key — including dt — is eqNullSafe-equal, so the
        # matching row lives in exactly the batch row's partition cell
        # (or the null cell, unioned unconditionally). When dt is not a
        # key, a match may carry ANY dt and only the contiguous
        # [min-slop, max+slop] window is sound — that path keeps the
        # stats job.
        use_dpp = (
            not use_local and _stats_hint is None and not force_full_scan
            and dt is not None and dt in df.columns and dt in keys)
        if use_dpp:
            pass  # no probe actions; bounds ride the caller's Observation
        elif use_local:
            stats = self._local_batch_stats(_local_pdf, stats_cols, dt,
                                            key_cols, force_full_scan,
                                            pushdown)
        elif _stats_hint is not None and stats_aggs:
            # the ingest-dedup guard already observed the batch's stats on
            # its checkpoint job — reuse them instead of a second pass.
            # Under force_full_scan the dt BOUNDS must not narrow the
            # backtrack, so drop them (matching stats_aggs' own guard) —
            # but keep _dt_nulls: the hot-null-key salting decision reads
            # it, and a full-scan diff is exactly where a hot null dt key
            # hurts most.
            stats = dict(_stats_hint)
            if force_full_scan:
                for k in ("_lo", "_hi"):
                    stats.pop(k, None)
        elif stats_aggs:
            row = stats_src.agg(*stats_aggs).first()
            stats = row.asDict() if row is not None else None

        begin = end = None
        if _bounds is not None and stats is not None:
            # null-dt rows sit in no window and no observed cell: the
            # caller's side-table tail must take its full form for them
            _bounds["dt_nulls"] = stats.get("_dt_nulls")
        if stats is not None and "_lo" in stats and stats["_lo"] is not None:
            begin_us, end_us = self._slop_us(stats["_lo"], stats["_hi"])
            # the backtrack read's bounds in the axis' own units, rounded
            # outward
            unit_us = UNIT_US[self.precision_unit]
            begin, end = begin_us // unit_us, -(-end_us // unit_us)
            if _bounds is not None and not stats["_dt_nulls"]:
                # epoch-µs bounds for the caller's merge partition pruning;
                # withheld when the batch carries null dts (those rows fall
                # outside any range — the merge must fall back to the
                # collected-parts path)
                _bounds["begin_us"], _bounds["end_us"] = begin_us, end_us

        # distinct-key IN pushdown (≤ 250 values per key col): collect only
        # for key columns the stats job proved small and null-free (the
        # local fast path above already filled ``pushdown`` exactly)
        if not use_local:
            for col in key_cols:
                if stats is None:
                    break
                n_distinct = stats[f"_nd_{col}"]
                has_nulls = stats[f"_nn_{col}"] > 0
                # 1.2× slack covers the HLL rsd; the exact distinct below is
                # bounded and double-checks the limit
                if (0 < n_distinct <= FILTER_PARAMS_INDEX_LIMIT * 1.2
                        and not has_nulls):
                    vals = [r[0] for r in
                            df.select(col).distinct()
                            .limit(FILTER_PARAMS_INDEX_LIMIT + 1).collect()]
                    if len(vals) <= FILTER_PARAMS_INDEX_LIMIT:
                        pushdown[col] = vals

        # No persist of the batch or the backtrack: after the fingerprint
        # rewrite each appears exactly ONCE in the diff plan, so a cache
        # build would be pure overhead. Nothing reads ``marked`` after the
        # sync's one staging job either (``_diff_write``).

        # NOTE: the pushdown is applied as a plain Column filter, NOT routed
        # through the user-facing params DSL — data values are not operator
        # syntax (a key value like '_foo' must not be parsed as negation).
        # Catalyst still pushes the In() predicate into the parquet scan.
        if use_dpp:
            backtrack = self._dpp_backtrack(df, _bounds)
        else:
            # the lazy scan, not get_data's snapshot: the fused path
            # evaluates this plan inside its write-locked collect
            begin, end = self._parse_bound(begin), self._parse_bound(end)
            backtrack = self._dt_window(
                self.store.read(dtypes=self.dtypes or None,
                                begin_us=self._bound_us(begin),
                                end_us=self._bound_us(end)), begin, end)
            for col, vals in pushdown.items():
                # one-py4j-call IN: 250 keys via Column.isin would cost
                # ~0.4 s of per-literal driver↔JVM chatter on this, the
                # reference's dominant small-batch path
                backtrack = backtrack.filter(sql_in_condition(col, vals))

        # Row-identity fingerprint instead of an all-columns join condition:
        # equality over every shared column collapses to one 2×64-bit hash
        # pair, so the stored side shuffles as (keys, fp) — a handful of
        # bytes per row — rather than full rows, and the whole diff becomes
        # ONE null-safe key join against a key-unique aggregate. (The
        # previous shape — full-row anti-join + key-marker join — shuffled
        # the backtrack rows twice with an all-columns comparison; at 100 TB
        # that doubles the dominant shuffle.) Collision risk of the 128-bit
        # pair on a same-key row is ~2⁻¹²⁸ — far below cosmic-ray rate.
        common = [c for c in df.columns if c in backtrack.columns]
        if not common:
            # disjoint schemas: nothing can match — everything is unseen
            return df.withColumn(HIT_COL, F.lit(None).cast("int"))

        def _fp(frame: DataFrame) -> F.Column:
            # ONE expr string instead of ~2N py4j literal/column calls —
            # fingerprint construction is on every sync's critical path
            # and the per-call driver↔JVM round-trips were measurable
            ins: list[str] = []
            marks: list[str] = []
            for c in common:
                q = _quote(c)
                t = frame.schema[c].dataType
                marks.append(f"isnull({q})")
                nested = _null_marks(q, t)
                if nested is not None:
                    marks.append(nested)
                if t.simpleString() in ("float", "double"):
                    # IEEE: -0.0 + 0.0 == +0.0, NaN + 0.0 == NaN — matches
                    # Spark's join-key normalization of floats, which plain
                    # bit-hashing would not
                    q = f"({q} + 0.0D)"
                ins.append(q)
            # xxhash64 skips nulls, so (5, null) and (null, 5) would hash
            # alike: the null positions are hashed too
            args = ", ".join([*ins, *marks])
            return F.expr(
                f"named_struct('a', xxhash64({args}), "
                f"'b', xxhash64(1, {args}))")

        FP, FPS = "_mrsm_fp", "_mrsm_fps"
        bt_fp = backtrack.select(*keys, _fp(backtrack).alias(FP))
        if not keys:
            # no index columns: drop exact duplicates, everything else is new
            bt_d = bt_fp.distinct()
            return (
                df.withColumn(FP, _fp(df))
                .join(bt_d, on=[FP], how="left_anti")
                .drop(FP)
                .withColumn(HIT_COL, F.lit(None).cast("int"))
            )
        # key-unique aggregate: the store SHOULD be key-unique by
        # construction, but a collect_set keeps the diff correct even if a
        # key carries several stored versions (any full match → unchanged)
        bt_keyed = (bt_fp.groupBy(*keys)
                    .agg(F.collect_set(FP).alias(FPS)))
        d = df.withColumn(FP, _fp(df))
        hit = F.when(F.col(FPS).isNotNull(), F.lit(1)).cast("int")
        not_unchanged = (F.col(FPS).isNull()
                         | ~F.array_contains(F.col(FPS), F.col(FP)))
        # Hot-NULL-key guard: the stats pass already counted nulls per key
        # column for free — when one key column carries a huge null share
        # (sensor feeds with unkeyed rows, the case the reference's DB
        # backend absorbs server-side), a shuffle marker join would hash
        # every null-key row to ONE reducer. Route through salted_join
        # (functions/skew.py): batch rows spread over 16 salts, the tiny
        # key-unique backtrack aggregate replicates per salt. Hot NON-null
        # keys are left to AQE's runtime skew splitting; nulls are the
        # case we can detect statically at zero cost.
        self._last_diff_salted = False
        nn_vals = [(stats or {}).get(f"_nn_{c}") or 0 for c in key_cols]
        if dt and dt in keys and stats:
            nn_vals.append(stats.get("_dt_nulls") or 0)
        if nn_vals and max(nn_vals) >= self.HOT_NULL_KEY_ROWS:
            from meerschaum_spark.functions.skew import salted_join
            self._last_diff_salted = True
            joined = salted_join(d, bt_keyed, on=keys, n_salts=16,
                                 how="left", null_safe=True)
            return (joined.filter(not_unchanged)
                    .select(*df.columns, hit.alias(HIT_COL)))
        dd, kk = d.alias("x"), bt_keyed.alias("k")
        key_cond = None
        for c in keys:
            eq = F.col(f"x.{c}").eqNullSafe(F.col(f"k.{c}"))
            key_cond = eq if key_cond is None else (key_cond & eq)
        joined = dd.join(kk, on=key_cond, how="left")
        return (
            joined.filter(not_unchanged)
            .select(
                *[F.col(f"x.{c}") for c in df.columns],
                hit.alias(HIT_COL),
            )
        )

    # -------------------------------------------------- ingest content dedup

    @property
    def _dedup_conf(self) -> dict:
        conf = self.parameters.get("dedup")
        return conf if isinstance(conf, dict) else {}

    @property
    def _fps_dir(self) -> str:
        import os
        return os.path.join(self.store.path, "fingerprints")

    @property
    def _fps_tls(self):
        # pending fingerprints are per-THREAD: verify's worker pool syncs
        # one pipe from several threads, and an instance attribute would
        # let one chunk's commit consume another's pending plan
        tls = getattr(self, "_fps_tls_obj", None)
        if tls is None:
            import threading as _th
            tls = _th.local()
            self._fps_tls_obj = tls
        return tls

    def _ingest_dedup_filter(self, df: DataFrame) -> DataFrame:
        """Opt-in content dedup at ingest
        (``parameters['dedup'] = {'method': ..., 'column': 'text'}``):
        drop batch rows whose dedup-column content has EVER been synced,
        via an incremental fingerprint side table — the stored corpus is
        never rescanned (at 100 TB a content column scan per sync is the
        cost this table exists to avoid).

        ``method='exact'``: 2×64-bit content hash pair (false drop
        ~2⁻¹²⁸); batch-internal duplicates keep the FIRST occurrence in
        source order. ``method='minhash'``: MinHash-banded-LSH guard —
        an incoming row dropped when ≥ ``min_bands`` of its band hashes
        collide with the STORED corpus's (near-dup-at-ingest; the
        standard OR-construction recall geometry, ``k``/``bands``
        configurable). The minhash guard deliberately checks against
        stored content only — within-batch fuzzy dups are
        ``near_dup_clusters``' job."""
        conf = self._dedup_conf
        col = conf.get("column")
        method = conf.get("method", "exact")
        self._fps_tls.pending = None
        self._fps_tls.stats = None
        self._fps_tls.empty = False
        if not col or col not in df.columns:
            return df
        if method == "exact":
            return self._ingest_dedup_exact(df, col)
        if method == "minhash":
            return self._ingest_dedup_minhash(df, col, conf)
        return df

    def _ingest_dedup_exact(self, df: DataFrame, col: str) -> DataFrame:
        import os
        # ONE materialization for the whole guard (was two): scan + hash +
        # first-wins window + seen anti-join checkpoint together, and the
        # same job doubles as the sync's batch-stats pass — an Observation
        # rides the checkpoint action collecting the surviving-row count,
        # dt bounds, and per-key cardinalities, so a dedup-guarded sync
        # launches NO separate stats job and an all-duplicates batch
        # short-circuits before the diff/append machinery spins up (the
        # steady-state replay case pays one job total).
        dt = self.dt_col if self.dt_col and self.dt_col in df.columns else None
        key_cols = [c for c in self.index_cols
                    if c in df.columns and c != dt]
        stats_cols = ([dt] if dt else []) + key_cols
        fps = df.select(
            F.col(ORD_COL), *[F.col(c) for c in stats_cols],
            F.xxhash64(F.col(col)).alias("_fp1"),
            F.xxhash64(F.lit(1), F.col(col)).alias("_fp2"),
        )
        w = Window.partitionBy("_fp1", "_fp2").orderBy(F.col(ORD_COL).asc())
        keep = (fps.withColumn("_fprn", F.row_number().over(w))
                .filter(F.col("_fprn") == 1).drop("_fprn"))
        have_seen = os.path.isdir(self._fps_dir)
        if have_seen:
            seen = (self.spark.read.schema("_fp1 long, _fp2 long")
                    .parquet(self._fps_dir))
            keep = keep.join(seen, on=["_fp1", "_fp2"], how="left_anti")
        obs_aggs: list[F.Column] = [F.count(F.lit(1)).alias("_n")]
        if dt:
            obs_aggs += [F.min(self._dt_us()).alias("_lo"),
                         F.max(self._dt_us()).alias("_hi"),
                         F.count(F.when(F.col(dt).isNull(), 1))
                         .alias("_dt_nulls")]
        for c in key_cols:
            obs_aggs.append(F.approx_count_distinct(c, rsd=0.05)
                            .alias(f"_nd_{c}"))
            obs_aggs.append(F.count(F.when(F.col(c).isNull(), 1))
                            .alias(f"_nn_{c}"))
        if self._obs_detached(df):
            # foreachBatch clone: Observation cannot collect — checkpoint
            # plain, then one cheap agg over the checkpointed frame
            keep = keep.transform(_persist_pin)
            row = keep.agg(*obs_aggs).first()
            stats = row.asDict() if row is not None else {"_n": 0}
        else:
            obs = Observation()
            keep = keep.observe(obs, *obs_aggs).transform(_persist_pin)
            stats = dict(obs.get)
        if not int(stats.get("_n") or 0) and have_seen:
            # every row's content was already ingested: nothing to diff,
            # write, or fingerprint — the caller returns a no-op sync.
            # Guarded on the side table EXISTING: without it, zero
            # survivors just means the batch itself was empty (the
            # within-batch window drops nothing from a fresh corpus), and
            # a brand-new pipe must still fall through to the normal
            # machinery so registration happens.
            self._fps_tls.empty = True
            return df
        stats.pop("_n", None)
        self._fps_tls.stats = stats if stats_cols else None
        self._fps_tls.pending = (self._fps_dir, "_fp1 long, _fp2 long",
                                 keep.select("_fp1", "_fp2"))
        return df.join(keep.select(ORD_COL), on=ORD_COL, how="left_semi")

    def _ingest_dedup_minhash(self, df: DataFrame, col: str,
                              conf: dict) -> DataFrame:
        import os

        import meerschaum_spark.functions.dedup as D
        k = int(conf.get("k", D.DEFAULT_MINHASH_K))
        bands = int(conf.get("bands", D.DEFAULT_BANDS))
        min_bands = int(conf.get("min_bands", 1))
        lsh_dir = self._fps_dir + "_lsh"
        sigs = D.minhash_signatures(df.select(F.col(ORD_COL), F.col(col)),
                                    text_col=col, id_col=ORD_COL, k=k)
        # One materialization of the MinHash pass: every downstream sync
        # action (bounds probe, diff job, append, fingerprint commit)
        # embeds this plan — without the checkpoint each re-tokenizes and
        # re-hashes the whole batch. The checkpointed frame is tiny
        # (``bands`` rows per doc of (ord, band, hash)); the batch itself
        # stays lazy so its scan still prunes columns per consumer.
        buckets = D.band_hash_rows(sigs, ORD_COL, k, bands).transform(_persist_pin)
        if os.path.isdir(lsh_dir):
            seen = (self.spark.read.schema("band int, bh string")
                    .parquet(lsh_dir))
            hits = (buckets.join(seen, on=["band", "bh"], how="left_semi")
                    .groupBy(ORD_COL)
                    .agg(F.count(F.lit(1)).alias("_nb"))
                    .filter(F.col("_nb") >= min_bands)
                    .select(ORD_COL))
            df = df.join(hits, on=ORD_COL, how="left_anti")
        survivors = (buckets
                     .join(df.select(ORD_COL), on=ORD_COL, how="left_semi")
                     .select(F.col("band").cast("int").alias("band"), "bh")
                     .distinct())
        self._fps_tls.pending = (lsh_dir, "band int, bh string", survivors)
        return df

    #: compact the fingerprint side table when it accumulates this many
    #: files (one small file lands per sync)
    _FPS_COMPACT_FILES = 64

    def _commit_fingerprints(self) -> None:
        """Record the surviving batch's fingerprints after a successful
        write (re-derives them from the batch plan — one extra pruned
        pass, only when the feature is on). Compacts the side table when
        sync cadence has fragmented it into many small files."""
        import os
        import shutil as _sh
        pending = getattr(self._fps_tls, "pending", None)
        if pending is None:
            return
        self._fps_tls.pending = None
        fps_dir, schema, fps = pending
        fps.write.mode("append").parquet(fps_dir)
        try:
            n_files = sum(1 for e in os.scandir(fps_dir)
                          if e.is_file() and e.name.endswith(".parquet"))
        except OSError:
            return
        if n_files >= self._FPS_COMPACT_FILES:
            compacted = (self.spark.read.schema(schema)
                         .parquet(fps_dir).distinct())
            tmp = fps_dir + "_compact"
            compacted.write.mode("overwrite").parquet(tmp)
            _sh.rmtree(fps_dir)
            os.replace(tmp, fps_dir)
            self.spark.catalog.refreshByPath(fps_dir)

    # ---------------------------------------------- incremental ANN index

    #: update-cells cap for the ANN index's bucket-scoped recompute —
    #: shares the merge's observed-cells economics (_ucells)
    _ANN_CELLS_CAP = 64

    @property
    def _ann_conf(self) -> dict | None:
        """Incrementally-maintained ANN index config (VERDICT r10 #6)::

            parameters['ann_index'] = {
                'column': 'embedding',   # array<float> column
                'id': 'vec_id',          # defaults to columns['id']
                'n_centroids': 16,       # IVF cells (codebook rows)
                'subspaces': 2,          # PQ codes; 0 -> IVF-only
                'subdim': 32,            # inferred from dim when absent
                'codec': 'pq',           # or 'sq8' (IVF-SQ8: one
                                         # clamped uint8 per dimension,
                                         # frozen per-dim stats — 4×
                                         # compression, higher recall)
                'train_iters': 0,        # Lloyd iterations at freeze
            }

        The index is the IVF-PQ codes table (id, cell, code0..codeM —
        ``similarity.ivfpq_corpus_codes``) kept as a SIDE TABLE on the
        base table's partition grid and maintained like a rollup:
        insert-only syncs encode ONLY the appended files (O(patch) —
        the encode is a shuffle-free literal-array projection), update
        syncs recompute exactly the observed touched cells, anything
        unbounded rebuilds. The codebook (IVF centroids == PQ codebook
        rows, the catalog's seeded-rows convention) FREEZES at first
        build — codes stay comparable across syncs; re-freeze =
        ``refresh_ann_index(refreeze=True)``. A 100 TB corpus cannot
        re-encode per sync; this is the rollup-substrate answer the
        session-cached index tables (queries_llm ``_ivfpq_codes``)
        deliberately don't give."""
        c = self.parameters.get("ann_index")
        return dict(c) if c else None

    def _ann_store(self) -> ParquetPipeStore:
        return ParquetPipeStore(
            self.spark, self.store.path, "annidx",
            dt_col=self.dt_col, dt_is_int=self.dt_is_int,
            dt_unit=self.precision_unit, chunk_minutes=self.chunk_minutes,
            lock_path=self.store.path,  # nested: share the base lock
        )

    def _ann_id_col(self, conf: dict) -> str:
        return conf.get("id") or self.columns.get("id") or next(
            c for c in self.index_cols if c != self.dt_col)

    @staticmethod
    def _ann_codec(conf: dict) -> str:
        codec = (conf.get("codec") or "pq").lower()
        if codec not in ("pq", "sq8"):
            raise ValueError(
                f"ann_index codec {codec!r} not supported — "
                "'pq' (IVF-PQ, default) or 'sq8' (IVF-SQ8)")
        return codec

    def _ann_code_cols(self, conf: dict) -> list[str]:
        """The codec's code columns in the index table: PQ stores one
        BIGINT per subspace, SQ8 one uint8-range BIGINT array at full
        dimensionality (4× compression, higher recall — the measured
        r12 ladder: SQ8 0.72 vs IVF-PQ+refine 0.20 recall@5)."""
        if self._ann_codec(conf) == "sq8":
            return ["sq8"]
        return [f"code{m}" for m in range(int(conf.get("subspaces", 2)))]

    def _ann_dtypes(self, conf: dict) -> dict[str, str]:
        out: dict[str, str] = {}
        if self.dt_col:
            out[self.dt_col] = (self.dtypes or {}).get(
                self.dt_col, "datetime")
        out[self._ann_id_col(conf)] = "int64"
        out["cell"] = "int64"
        for c in self._ann_code_cols(conf):
            out[c] = "array(int64)" if c == "sq8" else "int64"
        return out

    def _ann_codebook_path(self) -> str:
        return os.path.join(self._ann_store().path, "_ann_codebook.json")

    def _load_ann_doc(self) -> dict | None:
        """The full frozen-codebook document (ids/vecs + codec extras:
        ``train_iters``, ``sq8_stats``) — re-publishes must carry the
        WHOLE doc or a refresh silently drops the codec's frozen
        training artifacts."""
        import json
        try:
            with open(self._ann_codebook_path()) as f:
                doc = json.load(f)
            doc["ids"] = [int(i) for i in doc["ids"]]
            doc["vecs"] = [[float(x) for x in v] for v in doc["vecs"]]
            return doc
        except (OSError, ValueError, KeyError):
            return None

    def _load_ann_codebook(self) -> list | None:
        doc = self._load_ann_doc()
        if doc is None:
            return None
        return list(zip(doc["ids"], doc["vecs"]))

    def _freeze_ann_codebook(self, conf: dict) -> list:
        """Snapshot the ``n_centroids`` smallest-id rows' vectors as the
        frozen codebook (atomic publish; doubles as IVF centroids and PQ
        codebook — the seeded-rows convention of the emb_* catalog
        family). JSON round-trips doubles exactly (repr), and the encode
        re-materializes them as array<float> literals, so frozen
        assignments are bit-identical to first-build ones."""
        import json
        idc, vc = self._ann_id_col(conf), conf["column"]
        id_dt = (self.dtypes or {}).get(idc)
        if id_dt is not None and id_dt.split("(")[0] not in (
                "int", "int8", "int16", "int32", "int64"):
            # validate here — the first code path every configured
            # index crosses — instead of failing incidentally inside
            # int() below or forcing a long read schema onto a
            # non-integer parquet column later (ADVICE r11)
            raise ValueError(
                f"ann_index requires an integer id column; "
                f"{idc!r} is {id_dt!r} — point parameters['ann_index']"
                f"['id'] at an integer column")
        n = int(conf.get("n_centroids", 16))
        stored = self.store.read(dtypes=self.dtypes or None)
        if id_dt is None:
            # no declared dtype for the id — fall back to the actual
            # Spark schema so a string id raises the same domain error
            # instead of failing incidentally inside int() at freeze or
            # silently coercing digit-strings (ADVICE r12)
            actual = next((f.dataType.typeName()
                           for f in stored.schema.fields
                           if f.name == idc), None)
            if actual not in ("byte", "short", "integer", "long"):
                raise ValueError(
                    f"ann_index requires an integer id column; "
                    f"{idc!r} reads as Spark type {actual!r} — point "
                    f"parameters['ann_index']['id'] at an integer "
                    f"column or declare an integer dtype for it")
        rows = (stored
                .select(idc, vc).orderBy(idc).limit(n).collect())
        if not rows:
            raise ValueError("ann_index: cannot freeze a codebook from "
                             "an empty table")
        doc = {"ids": [int(r[0]) for r in rows],
               "vecs": [[float(x) for x in r[1]] for r in rows]}
        iters = int(conf.get("train_iters", 0) or 0)
        if iters > 0:
            seeds = list(zip(doc["ids"], doc["vecs"]))
            trained = self._train_ann_centroids(conf, seeds, iters)
            doc = {"ids": [i for i, _ in trained],
                   "vecs": [v for _, v in trained],
                   "train_iters": iters}
        if (conf.get("codec") or "pq") == "sq8":
            # the SQ8 training pass: per-dimension (min, max) over the
            # FIRST-build corpus, frozen with the codebook so codes
            # stay comparable across syncs (later out-of-range values
            # clamp to [0, 255], the FAISS convention)
            from meerschaum_spark.functions.similarity import sq8_stats
            doc["sq8_stats"] = [
                [mn, mx] for mn, mx in sq8_stats(stored, vec_col=vc)]
        if conf.get("residual") and self._ann_codec(conf) == "sq8":
            raise ValueError(
                "ann_index residual encoding applies to the 'pq' codec "
                "only (SQ8 quantizes absolute per-dimension values; "
                "residualizing them changes the frozen stats' meaning)")
        if conf.get("residual"):
            # residual PQ (the faithful FAISS IVFADC encoding — Jégou
            # et al. 2011 §III: PQ codes r = v − centroid[cell]) needs
            # a residual codebook DISTINCT from the coarse centroids:
            # with the seeded-rows convention each codebook row's own
            # residual is exactly zero (it assigns to itself), so
            # every residual codebook entry degenerates to the zero
            # vector — hence trained centroids are REQUIRED, and the
            # residual codebook is the ORIGINAL seeds' residuals vs
            # the trained centroids, frozen alongside them. (The
            # seeded-centroid case was measured ~16% WORSE in
            # emb_residual_pq_gain — this guard encodes that finding.)
            if iters <= 0:
                raise ValueError(
                    "ann_index residual encoding requires "
                    "train_iters > 0: against untrained seeded "
                    "centroids the residual codebook is degenerate "
                    "(each seed's residual vs itself is zero)")
            seeds = [[float(x) for x in r[1]] for r in rows]
            cents = doc["vecs"]

            def _sq(a: list, b: list) -> float:
                acc = 0.0
                for x, y in zip(a, b):
                    d = x - y
                    acc = acc + d * d
                return acc

            res_vecs = []
            for sv in seeds:
                best, pos = None, -1
                for p, cv in enumerate(cents):
                    d = _sq(sv, cv)
                    if best is None or d < best:
                        best, pos = d, p
                res_vecs.append([x - c for x, c in zip(sv, cents[pos])])
            doc["res_vecs"] = res_vecs
        path = self._ann_codebook_path()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(doc, f)
        os.replace(path + ".tmp", path)
        return [(i, v) for i, v in zip(doc["ids"], doc["vecs"])]

    def _train_ann_centroids(self, conf: dict, seeds: list,
                             iters: int) -> list:
        """Exact-integer Lloyd k-means over the FULL vectors at freeze
        time (``parameters['ann_index']['train_iters']`` — VERDICT r11
        #6a): the frozen codebook becomes TRAINED centroids instead of
        the seeded smallest-id rows, improving both IVF cell balance
        and the sliced PQ codes (the codebook doubles as both, the
        seeded-rows convention; the Lloyd-step machinery and its ~36%
        measured SSE gain live in ``functions/similarity.pq_train_gain``
        — this is the same step run full-dim). Runs ONCE, at freeze:
        per-sync encodes never retrain, so sync-then-search ≡ rebuild
        stays hash-exact by the same freeze argument as seeded
        codebooks.

        Determinism (the freeze contract): µ-quantized int64 arithmetic
        end to end — integer sqdist argmin with (d, position) tie-break,
        order-insensitive integer sums, python floor-division means; a
        centroid that loses all members keeps its previous value.
        Assignment expressions are built as ONE parsed SQL string (the
        r11 py4j-literal lesson: a Column-API literal codebook costs
        thousands of driver round trips per plan). Trained centroids
        come back as q/1e6 floats whose JSON repr round-trips exactly.
        At 100 TB, k-means training runs on a sample; point
        ``train_iters`` at a pipe holding the sample or accept the
        full-scan cost knowingly — each iteration is one shuffle-free
        assignment projection + one (cell, pos) hash agg."""
        scale = 1_000_000
        vc = conf["column"]
        q = "`" + vc.replace("`", "``") + "`"
        n = len(seeds)
        dim = len(seeds[0][1])
        xq = (f"transform({q}, x -> CAST(floor(CAST(x AS DOUBLE) "
              f"* {scale}.0 + 0.5D) AS BIGINT))")
        base = (self.store.read(dtypes=self.dtypes or None)
                .selectExpr(f"{xq} AS _xq"))
        from meerschaum_spark.functions.similarity import _q_micro
        cvs = [[_q_micro(x) for x in vec] for _i, vec in seeds]
        for _it in range(iters):
            scored = ",".join(
                "named_struct('d', aggregate(zip_with(_xq, array("
                + ",".join(f"{int(v)}L" for v in cv)
                + "), (a, b) -> (a - b) * (a - b)), 0L, "
                f"(acc, x) -> acc + x), 'i', {pi}L)"
                for pi, cv in enumerate(cvs))
            # the argmin MUST live one projection BELOW the generator:
            # a generator's sibling expressions are re-evaluated per
            # OUTPUT row (GenerateExec plans the surrounding Project
            # above itself), so co-locating the 16-centroid fold with
            # posexplode re-ran it ×dim per vector — measured 3.3 s vs
            # 0.38 s for this assignment job at sf0.1 (r13 §1/§4.4)
            assigned = (base.selectExpr(
                f"array_min(array({scored})).i AS _cell", "_xq")
                .selectExpr("_cell", "posexplode(_xq) AS (_pos, _x)"))
            sums = (assigned.groupBy("_cell", "_pos")
                    .agg(F.sum("_x").alias("s"),
                         F.count(F.lit(1)).alias("nn"))
                    .collect())
            acc: dict[int, list] = {}
            for r in sums:
                acc.setdefault(int(r["_cell"]),
                               [None] * dim)[int(r["_pos"])] = (
                    int(r["s"]) // int(r["nn"]))
            cvs = [acc.get(pi) or cvs[pi] for pi in range(n)]
        return [(pi, [v / float(scale) for v in cv])
                for pi, cv in enumerate(cvs)]

    def _ann_encode(self, rows: DataFrame, conf: dict,
                    codebook: list) -> DataFrame:
        """Patch rows → index rows: IVF cell + PQ codes, shuffle-free
        literal-array argmins. Work is exactly O(|rows|): feeding it the
        appended files IS the plan-level O(patch) guarantee
        (``test_ann_index.py`` pins the physical consequence — prior
        index files survive an insert-only sync untouched).

        The expressions are built as SQL TEXT and parsed JVM-side in one
        call: the Column-API form constructs thousands of literal Column
        objects — MEASURED 8.8 s of pure driver-side py4j per encode
        PLAN at 16×64 + 2×16×32 codebook literals, before any action.

        Distances fold in IEEE DOUBLES in fixed element order (the
        proven ``_pq_subdist_dbl`` ≡ ``list_reduce`` cross-engine
        idiom; Spark's 0.0-seeded aggregate matches DuckDB's init-free
        reduce because 0.0 + x1 == x1 exactly) — the exact-decimal
        assignment idiom of the emb_* catalog family MEASURED ~5×
        slower here (4.3 s vs 0.9 s per 30k rows), and the per-sync
        index encode is the one place that cost multiplies by the
        corpus. Every argmin is array_min over (d, id) structs so each
        distance is evaluated ONCE (array_position(d_arr,
        array_min(d_arr)) evaluates the whole distance array twice) —
        same (distance asc, id asc) tie-break. Value equivalence is
        pinned by ``test_ann_index.py``'s pure-Python IEEE replay and
        the catalog oracle's cross-engine hash."""
        idc, vc = self._ann_id_col(conf), conf["column"]
        dim = len(codebook[0][1])
        subspaces = int(conf.get("subspaces", 2))
        subdim = int(conf.get("subdim") or (dim // max(subspaces, 1)))
        q = "`" + vc.replace("`", "``") + "`"

        def flit(x: float) -> str:
            return repr(float(x)) + "D"

        def sqdist_dbl(vec_sql: str, lit_vals: list) -> str:
            arr = "array(" + ",".join(flit(x) for x in lit_vals) + ")"
            return (f"aggregate(zip_with({vec_sql}, {arr}, "
                    f"(x, y) -> (CAST(x AS DOUBLE) - y) "
                    f"* (CAST(x AS DOUBLE) - y)), 0.0D, "
                    f"(acc, x) -> acc + x)")

        def argmin_sql(dists: list[str], out: str) -> str:
            scored = ",".join(
                f"named_struct('d', {d}, 'i', CAST({i} AS BIGINT))"
                for i, d in enumerate(dists))
            return f"array_min(array({scored})).i AS {out}"

        cells = argmin_sql([sqdist_dbl(q, v) for _i, v in codebook],
                           "_cell_pos")
        sel = ([self.dt_col] if self.dt_col else []) + [idc]
        # codebook ids ride as a literal lookup so `cell` is the
        # centroid ID (== position for the seeded 0..n-1 convention,
        # but correct for any id set)
        id_arr = "array(" + ",".join(
            f"CAST({int(i)} AS BIGINT)" for i, _v in codebook) + ")"
        exprs = [cells]
        if self._ann_codec(conf) == "sq8":
            # IVF-SQ8: same coarse cell, per-dimension affine codes
            # against the FROZEN stats (clamped — later syncs may
            # exceed the first-build range)
            from meerschaum_spark.functions.similarity import (
                sq8_encode_expr,
            )
            doc = self._load_ann_doc()
            stats = [(float(mn), float(mx))
                     for mn, mx in (doc or {}).get("sq8_stats", [])]
            if not stats:
                raise ValueError(
                    "ann_index codec 'sq8' but the frozen codebook "
                    "doc has no sq8_stats — refresh_ann_index("
                    "refreeze=True) to re-freeze with the codec set")
            exprs.append(f"{sq8_encode_expr(stats, vc, clamp=True)} "
                         f"AS sq8")
            out = rows.selectExpr(*sel, *exprs)
        elif conf.get("residual"):
            # residual PQ (Jégou et al. 2011 §III): codes quantize
            # r = v − centroid[cell] against the FROZEN residual
            # codebook (the seeds' residuals vs the trained
            # centroids) — a two-stage projection because the code
            # argmins depend on _cell_pos
            doc = self._load_ann_doc()
            res_cb = (doc or {}).get("res_vecs")
            if not res_cb:
                raise ValueError(
                    "ann_index residual encoding but the frozen "
                    "codebook doc has no res_vecs — "
                    "refresh_ann_index(refreeze=True) to re-freeze "
                    "with residual set")
            cents = [v for _i, v in codebook]
            stage1 = rows.selectExpr(*sel, f"{q} AS _v", cells)
            rs_exprs = []
            for m in range(subspaces):
                off = m * subdim
                cent_m = "array(" + ",".join(
                    "array(" + ",".join(flit(x)
                                        for x in cv[off:off + subdim])
                    + ")" for cv in cents) + ")"
                rs_exprs.append(
                    f"zip_with(slice(_v, {off + 1}, {subdim}), "
                    f"element_at({cent_m}, CAST(_cell_pos + 1 AS INT)), "
                    f"(x, c) -> CAST(x AS DOUBLE) - c) AS _rs{m}")
            stage2 = stage1.selectExpr(*sel, "_cell_pos", *rs_exprs)
            code_exprs = []
            for m in range(subspaces):
                off = m * subdim
                dists = []
                for rv in res_cb:
                    arr = "array(" + ",".join(
                        flit(x) for x in rv[off:off + subdim]) + ")"
                    dists.append(
                        f"aggregate(zip_with(_rs{m}, {arr}, "
                        f"(x, y) -> (x - y) * (x - y)), 0.0D, "
                        f"(acc, x) -> acc + x)")
                code_exprs.append(argmin_sql(dists, f"code{m}"))
            out = stage2.selectExpr(*sel, "_cell_pos", *code_exprs)
        else:
            for m in range(subspaces):
                half = f"slice({q}, {m * subdim + 1}, {subdim})"
                dists = [sqdist_dbl(half, v[m * subdim:(m + 1) * subdim])
                         for _i, v in codebook]
                exprs.append(argmin_sql(dists, f"code{m}"))
            out = rows.selectExpr(*sel, *exprs)
        return out.select(
            *sel,
            F.expr(f"element_at({id_arr}, CAST(_cell_pos + 1 AS INT))")
            .alias("cell"),
            *self._ann_code_cols(conf))

    def refresh_ann_index(self, refreeze: bool = False) -> None:
        """Full rebuild of the ANN index side table (first build, or
        after mutations no bounded recompute covers — the rollup
        ``refresh_rollup`` analogue). ``refreeze=True`` re-snapshots the
        codebook first (codes change meaning: any externally-cached
        search artifacts are invalid)."""
        import json
        conf = self._ann_conf
        if not conf:
            raise KeyError("no parameters['ann_index'] configured")
        with self._write_lock:
            astore = self._ann_store()
            doc = None if refreeze else self._load_ann_doc()
            astore.drop()  # also removes the codebook file in its dir
            if doc is None:
                if not self.exists():
                    return  # nothing to freeze from or encode yet
                cb = self._freeze_ann_codebook(conf)
            else:
                # re-publish the surviving frozen codebook post-drop —
                # the WHOLE doc, so codec artifacts (train_iters,
                # sq8_stats) survive the refresh
                cb = list(zip(doc["ids"], doc["vecs"]))
                path = self._ann_codebook_path()
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path + ".tmp", "w") as f:
                    json.dump(doc, f)
                os.replace(path + ".tmp", path)
            if self.exists():
                base = self.store.read(dtypes=self.dtypes or None)
                astore.append(self._ann_encode(base, conf, cb))

    def _ann_after_write(self, w: _Written) -> None:
        """Post-write ANN maintenance (branches: ``_after_write``). Update
        cells swap-recompute from base storage; appended files OUTSIDE
        those cells encode-append (no double count, O(patch) — the
        plan-pinned path); anything else re-encodes the write's
        cell-aligned window via ``replace_range``, or rebuilds when the
        window is unbounded."""
        conf = self._ann_conf
        if not conf:
            return
        with self._write_lock:
            astore = self._ann_store()
            cb = self._load_ann_codebook()
            if w.dt_moved or not astore.exists() or cb is None:
                self.refresh_ann_index()
                return
            if (w.n_upd and not w.ucells) or (w.n_ins and not w.new_files):
                # the window covers both the updates and the inserts
                if w.begin_us is None or w.end_us is None:
                    self.refresh_ann_index()
                    return
                b0 = (self.store.part_index_of(w.begin_us)
                      * self.store.width_us)
                e0 = ((self.store.part_index_of(w.end_us - 1) + 1)
                      * self.store.width_us)
                base = self.store.read(dtypes=self.dtypes or None,
                                       begin_us=b0, end_us=e0)
                astore.replace_range(self._ann_encode(base, conf, cb),
                                     b0, e0, dtypes=self._ann_dtypes(conf))
                return
            if w.n_upd:
                base = self.store.read(dtypes=self.dtypes or None,
                                       part_values=w.ucells)
                astore._swap_partitions(
                    astore.with_part(self._ann_encode(base, conf, cb)),
                    w.ucells)
            if not w.n_ins:
                return
            files = [f for f in w.new_files if os.path.exists(f)]
            if len(files) != len(w.new_files):
                # a concurrent merge rewrote appended files — their
                # rows live in rewritten cells; rebuild is the only
                # sound cover (rare race, same rule as rollups)
                self.refresh_ann_index()
                return
            patch = self._read_appended(files)
            if w.n_upd:
                # rows in recomputed cells are already covered
                patch = patch.filter(
                    ~self.store.part_expr().isin(w.ucells))
            astore.append(self._ann_encode(patch, conf, cb))

    def get_ann_index(self) -> DataFrame:
        """The maintained index table (id, cell, code0..codeM [+ dt])."""
        conf = self._ann_conf
        if not conf:
            raise KeyError("no parameters['ann_index'] configured")
        astore = self._ann_store()
        if not astore.exists():
            self.refresh_ann_index()
        return self._ann_store().read(dtypes=self._ann_dtypes(conf))

    def ann_search(self, queries: DataFrame, k: int = 5, nprobe: int = 1,
                   refine: int = 0) -> DataFrame:
        """Search over the MAINTAINED index (never re-encodes the
        corpus): the index store is the ``corpus_codes`` side of
        ``similarity.ivfpq_topk`` (codec ``'pq'``, default) or
        ``similarity.ivfsq8_topk`` (codec ``'sq8'``); the frozen
        codebook provides the coarse centroids, the PQ codebook, and
        (sq8) the frozen per-dimension stats."""
        import struct

        from meerschaum_spark.functions.similarity import ivfpq_topk
        conf = self._ann_conf
        if not conf:
            raise KeyError("no parameters['ann_index'] configured")
        idc, vc = self._ann_id_col(conf), conf["column"]
        codes = self.get_ann_index().select(
            idc, "cell", *self._ann_code_cols(conf))
        cb = self._load_ann_codebook()
        if cb is None:
            # an empty/never-synced pipe has nothing to freeze a
            # codebook from, so get_ann_index()'s lazy refresh returns
            # without one — surface the domain condition instead of a
            # bare 'NoneType is not subscriptable' (ADVICE r11)
            raise ValueError(
                "ann_search: the index has no frozen codebook because "
                "the pipe has no data yet — sync rows first (the first "
                "sync builds the index and freezes the codebook)")
        corpus = self.store.read(dtypes=self.dtypes or None).select(idc, vc)

        # The codebook is ALREADY a driver-side list; hand it to the
        # search builders as one (they embed it as literal SQL text)
        # instead of round-tripping it through createDataFrame+collect —
        # two pure-overhead jobs plus their driver-planning gaps per
        # search, measured ~2.5 s on the profiled pipe_ann_search_topk
        # run. The previous DataFrame carried an array<float> schema, so
        # reproduce that cast's float32 rounding driver-side exactly
        # (IEEE round-to-nearest-even; overflow → ±inf like the cast):
        # frozen UNTRAINED vectors came off an array<float> column and
        # round-trip unchanged, trained ones round the same way the
        # collect used to return them.
        def _f32(x: float) -> float:
            try:
                return struct.unpack("<f", struct.pack("<f", float(x)))[0]
            except OverflowError:
                return float("inf") if float(x) > 0 else float("-inf")

        cb32 = [(int(i), [_f32(x) for x in v]) for i, v in cb]
        if self._ann_codec(conf) == "sq8":
            from meerschaum_spark.functions.similarity import ivfsq8_topk
            doc = self._load_ann_doc() or {}
            stats = [(float(mn), float(mx))
                     for mn, mx in doc.get("sq8_stats", [])]
            return ivfsq8_topk(codes, queries, cb32, stats, id_col=idc,
                               vec_col=vc, k=k, nprobe=nprobe,
                               refine=refine, corpus=corpus)
        dim = len(cb[0][1])
        subspaces = int(conf.get("subspaces", 2))
        subdim = int(conf.get("subdim") or (dim // max(subspaces, 1)))
        if conf.get("residual"):
            from meerschaum_spark.functions.similarity import (
                ivfpq_residual_topk,
            )
            doc = self._load_ann_doc() or {}
            res_cb = doc.get("res_vecs")
            if not res_cb:
                raise ValueError(
                    "ann_search: residual set but the frozen codebook "
                    "doc has no res_vecs — refresh_ann_index("
                    "refreeze=True)")
            return ivfpq_residual_topk(
                codes, queries, cb, res_cb, id_col=idc, vec_col=vc,
                k=k, subspaces=subspaces, subdim=subdim, nprobe=nprobe,
                refine=refine, corpus=corpus)
        return ivfpq_topk(corpus, queries, cb32, cb32, id_col=idc,
                          vec_col=vc, k=k, subspaces=subspaces,
                          subdim=subdim, nprobe=nprobe, refine=refine,
                          corpus_codes=codes)

    # ------------------------------------------------- incremental rollups

    #: fixed-width rollup intervals (epoch-aligned in UTC, so the bucket
    #: grid and the store's partition grid never straddle each other)
    _ROLLUP_WIDTH_US = {
        "second": 1_000_000,
        "minute": 60_000_000,
        "hour": 3_600_000_000,
        "day": 86_400_000_000,
    }

    @property
    def _rollup_confs(self) -> list[dict]:
        """Continuous-aggregate configs (TimescaleDB continuous-aggregate
        analogue — the reference's primary backend; compress/hypertable
        machinery lives in connectors/sql/_compress.py:31-636 but the
        reference has no rollup maintenance, this is a beyond-parity
        scale feature)::

            parameters['rollups'] = [{'name': 'hourly', 'interval': 'hour',
                                      'groupby': ['event_type'],
                                      'values': ['value']}]

        Each sync recomputes ONLY the buckets its patch touched from the
        stored table (scan pruned to the patch's time range) and MERGEs
        them into a side table — work per sync is proportional to the
        patch's time span, never to table history. That is the
        continuous-aggregate invalidation model: correct under updates
        and late data because touched buckets are recomputed from
        post-merge storage, not incremented."""
        confs = self.parameters.get("rollups") or []
        return [c for c in confs if isinstance(c, dict) and c.get("name")]

    def _rollup_store(self, conf: dict) -> ParquetPipeStore:
        return ParquetPipeStore(
            self.spark, self.store.path, f"rollup_{conf['name']}",
            dt_col=self.dt_col, dt_is_int=self.dt_is_int,
            dt_unit=self.precision_unit, chunk_minutes=self.chunk_minutes,
            lock_path=self.store.path,  # nested: share the base lock
        )

    def _rollup_width_us(self, conf: dict) -> int:
        unit = str(conf.get("interval", "hour")).lower().rstrip("s")
        try:
            return self._ROLLUP_WIDTH_US[unit]
        except KeyError:
            raise ValueError(
                f"rollup interval must be one of "
                f"{sorted(self._ROLLUP_WIDTH_US)}, got {unit!r}") from None

    def _rollup_bucket(self, conf: dict) -> F.Column:
        """Bucket expression named after the dt column — the rollup table
        reads as a downsampled pipe with the same time axis."""
        dt = self.dt_col
        width_us = self._rollup_width_us(conf)
        if self.dt_is_int:
            width_units = width_us // UNIT_US[self.precision_unit]
            if width_units <= 0:
                raise ValueError(
                    "rollup interval is finer than the integer axis unit")
            c = F.col(dt).cast("long")
            return (c - F.pmod(c, F.lit(width_units))).alias(dt)
        # pure epoch arithmetic, NOT date_trunc: the session timezone
        # shifts date_trunc's day/hour boundaries, while the maintenance
        # window math (b0/e0) floors epoch microseconds — a non-UTC
        # session would recompute buckets from a fraction of their rows.
        # For fixed-width UTC-aligned intervals the two agree under UTC;
        # this form agrees under EVERY session timezone.
        us = F.unix_micros(F.col(dt))
        # us - pmod(us, width): exact long arithmetic (a double-division
        # floor could round at bucket boundaries), floor semantics for
        # pre-epoch timestamps included
        return F.timestamp_micros(us - F.pmod(us, F.lit(width_us))).alias(dt)

    #: max distinct update-touched buckets tracked per rollup conf by the
    #: diff job's Observation (a sorted collect_set, sliced to cap+1 so
    #: overflow is detectable without shipping an unbounded metric row).
    #: Above the cap the conf falls back to the bounded window recompute —
    #: at that point the touched set approaches the window anyway.
    _ROLLUP_UB_CAP = 128

    #: max distinct update-row partition cells tracked for the merge's
    #: scattered-patch pruning (same capped-sorted-collect_set shape);
    #: above it the merge keeps the [min, max] bounds path.
    _MERGE_CELLS_CAP = 256

    def _rollup_bucket_us(self, conf: dict) -> F.Column:
        """Bucket lower edge in epoch-µs as a long — the cross-axis bucket
        identity used by update-bucket tracking (the collect_set metric
        and the maintenance isin filters). Exactly consistent with
        ``_rollup_bucket``: the int axis floors in axis units first, then
        scales, so both expressions name the same bucket for every row.
        Idempotent on already-floored values, so it also serves as the
        bucket key of a ROLLUP row's dt column."""
        width_us = self._rollup_width_us(conf)
        c = F.col(self.dt_col)
        if self.dt_is_int:
            unit_us = UNIT_US[self.precision_unit]
            wu = width_us // unit_us
            cl = c.cast("long")
            return (cl - F.pmod(cl, F.lit(wu))) * F.lit(unit_us)
        us = F.unix_micros(c)
        return us - F.pmod(us, F.lit(width_us))

    def _rollup_bucket_of(self, conf: dict, us: int) -> int:
        """``_rollup_bucket_us`` of one epoch-µs dt, on the driver (Python
        ``%`` floors like ``pmod``)."""
        width_us = self._rollup_width_us(conf)
        if not self.dt_is_int:
            return us - us % width_us
        unit_us = UNIT_US[self.precision_unit]
        v, wu = us // unit_us, width_us // unit_us
        return (v - v % wu) * unit_us

    def _rollup_aggs(self, conf: dict, columns: list[str]) -> list[F.Column]:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for v in conf.get("values") or []:
            if v not in columns:
                continue
            # exact-decimal accumulation: double sums are order-sensitive,
            # so an incremental recompute could drift from a full one
            aggs += [
                F.sum(F.col(v).cast("decimal(18,6)")).cast("decimal(28,6)")
                .alias(f"sum_{v}"),
                F.min(v).alias(f"min_{v}"),
                F.max(v).alias(f"max_{v}"),
            ]
        return aggs

    def _rollup_dtypes(self, conf: dict) -> dict[str, str]:
        dt = self.dt_col
        out = {dt: self.dtypes.get(dt, "datetime")}
        for g in conf.get("groupby") or []:
            out[g] = self.dtypes.get(g, "str")
        out["n_rows"] = "int64"
        for v in conf.get("values") or []:
            out[f"sum_{v}"] = "numeric(28,6)"
            out[f"min_{v}"] = self.dtypes.get(v, "float")
            out[f"max_{v}"] = self.dtypes.get(v, "float")
        return out

    @staticmethod
    def _obs_get(obs: "Observation", pre: DataFrame,
                 aggs: list[F.Column]) -> dict:
        """Observation metrics with an explicit-recount fallback.

        ``Observation.get`` cannot retrieve metrics when sync runs on a
        foreachBatch callback thread (the micro-batch executes on a
        cloned session whose listener row never reaches the observation;
        PythonSQLUtils.toPyRow asserts). The fused count-during-write
        stays the fast path everywhere else; in that context the same
        aggregates recompute as one explicit job over the pre-observe
        frame — correctness identical, one extra pass. That holds only
        while ``pre`` does not read the store it was written to (the
        ``_observed_write`` paths); the diff path raises instead."""
        try:
            return obs.get
        except Exception:
            row = pre.agg(*aggs).first()
            return row.asDict() if row is not None else {}

    def _obs_detached(self, frame: DataFrame) -> bool:
        """True when ``frame`` belongs to a session other than the pipe's
        (the foreachBatch micro-batch clone) — exactly the context where
        ``Observation.get`` cannot retrieve metrics, so callers that need
        pre-write counts must snapshot them before writing."""
        try:
            return not frame.sparkSession._jsparkSession.equals(
                self.spark._jsparkSession)
        except Exception:
            return False

    def _read_appended(self, files: list) -> DataFrame:
        """The rows an append wrote, read back from its captured files
        under the registered schema — no lineage back through the diff,
        whose re-evaluation after the append would see its own rows as
        existing."""
        from pyspark.sql import types as T

        from meerschaum_spark.dtypes import to_spark_type
        return self.spark.read.schema(T.StructType([
            T.StructField(c, to_spark_type(d), True)
            for c, d in (self.dtypes or {}).items() if c != PART_COL
        ])).parquet(*files)

    # ------------------------------------------- deferred rollup refresh

    #: flush folds the pending ranges into at most this many bounded
    #: recomputes (each = one replace_range job); beyond it the
    #: closest-gap pairs merge first, so a long run of contiguous syncs
    #: still flushes as ONE window
    _ROLLUP_FLUSH_MAX_RANGES = 16

    @staticmethod
    def _rollup_deferred(conf: dict) -> bool:
        """``{'refresh': 'deferred'}`` on a rollup conf switches it from
        per-sync (eager) maintenance to an INVALIDATION LOG: syncs record
        only the damaged time range (a driver-side JSON append, no Spark
        job) and the next ``get_rollup``/``flush_rollups`` folds the
        coalesced ranges in one amortized pass. This is TimescaleDB's
        continuous-aggregate architecture (invalidation log + deferred
        refresh; the reference's primary backend) — observable semantics
        are identical because reads flush first, but a burst of N small
        syncs pays ONE maintenance job instead of N."""
        return str(conf.get("refresh", "eager")).lower() == "deferred"

    @property
    def _eager_rollup_confs(self) -> list[dict]:
        return [c for c in self._rollup_confs if not self._rollup_deferred(c)]

    def _rollup_pending_path(self) -> str:
        return os.path.join(self.registry.registry_dir,
                            f"{self.target}.rollup_pending.json")

    def _load_rollup_pending(self) -> dict:
        """The invalidation log; no file means nothing is pending. An
        unreadable or corrupt log fails SAFE: its ranges are lost, so
        every deferred conf is marked ``"full"`` (rebuild at the next
        read) — never served stale as fresh — and a warning says so.
        The next logged range rewrites the file valid."""
        import json
        import warnings
        path = self._rollup_pending_path()
        try:
            with open(path) as f:
                doc = json.load(f)
        except FileNotFoundError:
            return {}
        except (OSError, ValueError):
            doc = None
        if isinstance(doc, dict) and all(
                isinstance(v, list) for v in doc.values()):
            return doc
        warnings.warn(f"rollup invalidation log {path} is unreadable or "
                      "corrupt; deferred rollups will rebuild in full",
                      stacklevel=2)
        return {c["name"]: ["full"] for c in self._rollup_confs
                if self._rollup_deferred(c)}

    def _save_rollup_pending(self, doc: dict) -> None:
        import json
        path = self._rollup_pending_path()
        if not any(doc.values()):
            with contextlib.suppress(OSError):
                os.remove(path)
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, path)

    def _log_rollup_invalidation(self, confs: list[dict],
                                 begin_us: int | None,
                                 end_us: int | None) -> None:
        """Record damaged ranges for deferred confs. ``None`` bounds mean
        unbounded damage → a ``"full"`` marker (flush rebuilds). The
        read-modify-write is atomic across Pipe objects in-process
        (module lock + os.replace); duplicate ranges are fine — flush
        coalesces."""
        if not confs:
            return
        entry = ("full" if begin_us is None or end_us is None
                 else [int(begin_us), int(end_us)])
        with _ROLLUP_PENDING_LOCK:
            doc = self._load_rollup_pending()
            for conf in confs:
                doc.setdefault(conf["name"], []).append(entry)
            self._save_rollup_pending(doc)

    @staticmethod
    def _coalesce_us_ranges(ranges: list[list[int]], width: int,
                            max_ranges: int) -> list[tuple[int, int]]:
        """Bucket-align, merge overlapping/adjacent ranges, then greedily
        merge the closest pairs until at most ``max_ranges`` remain —
        each surviving range becomes one bounded recompute job."""
        aligned = sorted(
            ((lo // width) * width, ((hi - 1) // width + 1) * width)
            for lo, hi in ranges)
        merged: list[list[int]] = []
        for lo, hi in aligned:
            if merged and lo <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], hi)
            else:
                merged.append([lo, hi])
        while len(merged) > max_ranges:
            gaps = [(merged[i + 1][0] - merged[i][1], i)
                    for i in range(len(merged) - 1)]
            _, i = min(gaps)
            merged[i][1] = merged[i + 1][1]
            del merged[i + 1]
        return [(lo, hi) for lo, hi in merged]

    def flush_rollups(self, name: str | None = None) -> None:
        """Fold every pending deferred invalidation into the rollup
        table(s) — called implicitly by ``get_rollup``; call explicitly
        to bound read-time latency (the background-refresh-policy hook)."""
        for conf in self._rollup_confs:
            if name is None or conf["name"] == name:
                self._flush_rollup_pending(conf)

    def _flush_rollup_pending(self, conf: dict) -> None:
        name = conf["name"]
        if not self._load_rollup_pending().get(name):
            return  # cheap no-pending fast path (one stat + read)
        with self._write_lock:
            with _ROLLUP_PENDING_LOCK:
                doc = self._load_rollup_pending()
                entries = doc.pop(name, None)
                if not entries:
                    return
                # claim the entries BEFORE maintaining: a concurrent sync
                # logging new damage mid-flush appends to the (now
                # claimed-empty) log and is folded by the next flush
                self._save_rollup_pending(doc)
            try:
                if any(e == "full" for e in entries):
                    self.refresh_rollup(name)
                    return
                width = self._rollup_width_us(conf)
                for lo, hi in self._coalesce_us_ranges(
                        [e for e in entries if e != "full"], width,
                        self._ROLLUP_FLUSH_MAX_RANGES):
                    self._maintain_rollup_one(conf, lo, hi)
            except BaseException:
                # maintenance failed: restore the claim so the damage is
                # not silently forgotten
                with _ROLLUP_PENDING_LOCK:
                    doc = self._load_rollup_pending()
                    doc.setdefault(name, []).extend(entries)
                    self._save_rollup_pending(doc)
                raise

    def _maintain_rollups(self, begin_us: int | None,
                          end_us: int | None) -> None:
        """Recompute the patch-touched buckets from storage and MERGE them
        into each eager rollup table. ``end_us`` exclusive; ``None``
        bounds mean the caller could not bound the patch (null dts) →
        full refresh. (Deferred confs were logged by ``_after_write``.)"""
        confs = self._eager_rollup_confs
        if not confs or not self.dt_col:
            return
        # under the write lock: concurrent syncs serialize their main
        # writes there already — an unserialized rollup merge could scan
        # storage before a peer's append lands yet swap partitions after
        # the peer's merge, stranding stale bucket rows
        with self._write_lock:
            if begin_us is None or end_us is None:
                for conf in confs:
                    self.refresh_rollup(conf["name"])
                return
            for conf in confs:
                self._maintain_rollup_one(conf, begin_us, end_us)

    def _maintain_rollup_one(self, conf: dict, begin_us: int,
                             end_us: int) -> None:
        """Bounded window recompute for ONE rollup conf (caller holds the
        write lock)."""
        rstore = self._rollup_store(conf)
        if not rstore.exists():
            # first maintenance for a rollup configured mid-life:
            # buckets OUTSIDE the patch bounds have never been
            # computed, so a bounded build would silently miss all
            # prior history — full build instead (RLock: safe here)
            self.refresh_rollup(conf["name"])
            return
        width = self._rollup_width_us(conf)
        b0 = (begin_us // width) * width
        e0 = ((end_us - 1) // width + 1) * width
        part = self._rollup_compute(conf, b0, e0)
        # range-replace, NOT merge: a sync update that changes a
        # groupby column (or an upsert that moves rows between
        # buckets) can EMPTY a (bucket, group) combo — a merge
        # only replaces matched keys, so the stale combo row
        # would be stranded and get_rollup would serve phantom
        # aggregates. replace_range publishes the recompute as
        # the entire bucket-aligned window in ONE job + ONE
        # partition swap — still patch-proportional work.
        rstore.replace_range(part, b0, e0,
                             dtypes=self._rollup_dtypes(conf))

    def _update_buckets_from_metrics(self, m: dict,
                                     ru_confs: list[dict]) -> dict | None:
        """Decode the per-conf update-touched bucket metrics collected by
        the diff Observation into ``{conf_name: [bucket_us, ...]}``.

        Returns None when the metrics are absent entirely (dt not in the
        batch → the caller keeps the legacy window paths). A conf whose
        set overflowed ``_ROLLUP_UB_CAP`` maps to None — that ONE conf
        falls back to the bounded window recompute while the others stay
        bucket-scoped."""
        if not ru_confs:
            return None
        out: dict = {}
        for i, conf in enumerate(ru_confs):
            vals = m.get(f"_ru_ub{i}")
            if vals is None:
                return None
            vals = list(vals)
            out[conf["name"]] = ([int(v) for v in vals]
                                 if len(vals) <= self._ROLLUP_UB_CAP
                                 else None)
        return out

    def _try_rollup_delta_files(self, files: list | None, begin_us: int,
                                end_us: int,
                                update_buckets: dict | None = None) -> bool:
        """Delta-maintain the rollups from the append's captured file
        set. Returns True when maintenance was handled (delta, or the
        bounded recompute as an internal fallback after a read failure)
        or there is none to do (no eager rollups — deferred confs were
        logged by ``_after_write``); False when not applicable — no
        captured files (for a pure-insert sync), or no registered dtypes
        to read them with — so the caller dispatches normally.
        ``update_buckets`` (update syncs with dt among the merge keys):
        the observed per-conf touched bucket sets — those buckets
        recompute wholesale, the rest delta-fold. An update-only sync
        (no appended files) is then handled too: the delta side is
        simply empty. A concurrent merge
        may rewrite the captured files between append and here
        (cross-Pipe-object writers don't share this object's lock); the
        existence pre-check plus the recompute fallback keeps that race
        harmless — the staging swap only publishes after a fully
        successful job."""
        # when every conf defers, the sync pays ZERO rollup jobs (and
        # the caller never needed to capture files at all)
        if not self._eager_rollup_confs or not self.dt_col:
            return True
        if not self.dtypes:
            return False
        if not files:
            if update_buckets is None:
                return False
            self._maintain_rollups_delta(None, begin_us, end_us,
                                         update_buckets=update_buckets)
            return True
        missing = [f for f in files if not os.path.exists(f)]
        if missing:
            # a concurrent (or this sync's own) merge rewrote some of the
            # appended files — their ROWS survive in the rewritten files,
            # only the captured paths died. The file path names its
            # partition cell, and a cell names the rollup buckets it can
            # hold: promote those buckets into the recompute set and keep
            # the delta for everything else, instead of abandoning the
            # whole window.
            update_buckets = self._promote_missing_file_buckets(
                missing, update_buckets, begin_us, end_us)
            if update_buckets is None:
                self._maintain_rollups(begin_us, end_us)
                return True
            files = [f for f in files if f not in set(missing)]
            if not files:
                self._maintain_rollups_delta(None, begin_us, end_us,
                                             update_buckets=update_buckets)
                return True
        try:
            patch = self._read_appended(files)
            self._maintain_rollups_delta(patch, begin_us, end_us,
                                         update_buckets=update_buckets)
        except Exception:
            self._maintain_rollups(begin_us, end_us)
        return True

    def _promote_missing_file_buckets(
            self, missing: list, update_buckets: dict | None,
            begin_us: int, end_us: int) -> dict | None:
        """Map rewritten (now-missing) appended files to the rollup
        buckets their partition cells cover, merged into the observed
        update-bucket sets. Returns the widened per-conf dict, or None
        when a path has no parseable cell (the null-dt partition, or a
        layout change) or a widened set overflows the cap — callers then
        take the bounded window recompute."""
        import re
        cells: set[int] = set()
        for p in missing:
            mm = re.search(r"_mrsm_part=(-?\d+)", str(p))
            if mm is None:
                return None
            cells.add(int(mm.group(1)))
        out: dict = {}
        for conf in self._rollup_confs:
            width = self._rollup_width_us(conf)
            prev = (update_buckets or {}).get(conf["name"])
            if update_buckets is not None and prev is None:
                out[conf["name"]] = None  # already beyond cap
                continue
            if self.store.width_us // width > self._ROLLUP_UB_CAP:
                # one cell alone spans more buckets than the cap — don't
                # even enumerate them
                out[conf["name"]] = None
                continue
            b0 = (begin_us // width) * width
            e0 = ((end_us - 1) // width + 1) * width
            got = set(prev or [])
            for cell in cells:
                lo = cell * self.store.width_us
                hi = (cell + 1) * self.store.width_us
                u = (lo // width) * width
                while u < hi:
                    # buckets outside the patch window hold no patch rows
                    # and must not be re-published into replace_range
                    if b0 <= u < e0:
                        got.add(u)
                    u += width
            if len(got) > self._ROLLUP_UB_CAP:
                out[conf["name"]] = None
                continue
            out[conf["name"]] = sorted(got)
        return out

    def _maintain_rollups_delta(self, patch: DataFrame | None, begin_us: int,
                                end_us: int,
                                update_buckets: dict | None = None) -> None:
        """Incremental-view-maintenance: fold the appended patch's
        per-bucket aggregates into the stored rollup rows — count/sum
        add, min/max take least/greatest — reading only the (tiny)
        rollup window, never the base-table buckets the recompute path
        scans. Pure inserts are fully decomposable; for UPDATE syncs
        (``update_buckets``: the observed ``{conf: [bucket_us, ...]}``
        touched sets) the touched buckets recompute WHOLESALE from base
        storage — min/max cannot retract, and a recomputed bucket is
        correct under every mutation shape, including a groupby value
        change that empties a (bucket, group) combo — while untouched
        buckets still delta-fold. The recompute scan prunes to exactly
        the touched buckets' partitions via ``part_values`` (never a
        window rescan); a conf whose touched set overflowed the metric
        cap maps to None and takes the bounded window recompute. The
        decimal sum column accumulates exactly (order-insensitive), so a
        delta-maintained rollup is bit-identical to a recomputed one —
        the equivalences ``test_rollup.py`` pins."""
        dt = self.dt_col
        with self._write_lock:
            for conf in self._eager_rollup_confs:
                touched: list[int] | None = None
                if update_buckets is not None:
                    touched = update_buckets.get(conf["name"])
                    if touched is None:
                        # overflowed metric cap: bucket scoping unsound
                        # for this conf — bounded window recompute
                        self._maintain_rollup_one(conf, begin_us, end_us)
                        continue
                rstore = self._rollup_store(conf)
                if not rstore.exists():
                    # mid-life enablement: history outside the patch has
                    # never been aggregated — full build (as recompute)
                    self.refresh_rollup(conf["name"])
                    continue
                width = self._rollup_width_us(conf)
                b0 = (begin_us // width) * width
                e0 = ((end_us - 1) // width + 1) * width
                bucket_us = self._rollup_bucket_us(conf)
                groups = [g for g in conf.get("groupby") or []
                          if g in (patch.columns if patch is not None
                                   else self.dtypes or {})]
                delta = None
                if patch is not None:
                    delta = patch
                    if touched:
                        # inserts landing in an update-touched bucket are
                        # covered by that bucket's recompute (post-append
                        # base scan) — folding them too would double-count
                        delta = delta.filter(~bucket_us.isin(touched))
                    delta = delta.groupBy(
                        self._rollup_bucket(conf),
                        *[F.col(g) for g in groups],
                    ).agg(*self._rollup_aggs(conf, patch.columns))
                existing = rstore.read(
                    dtypes=self._rollup_dtypes(conf),
                    begin_us=b0, end_us=e0)
                # a rollup row's dt IS its bucket edge, so the same
                # bucket-us expression keys both sides
                existing = existing.filter((bucket_us >= F.lit(b0))
                                           & (bucket_us < F.lit(e0)))
                if touched:
                    existing = existing.filter(~bucket_us.isin(touched))
                combine = [F.sum("n_rows").cast("long").alias("n_rows")]
                for v in conf.get("values") or []:
                    if f"sum_{v}" not in existing.columns:
                        continue
                    combine += [
                        F.sum(f"sum_{v}").cast("decimal(28,6)")
                        .alias(f"sum_{v}"),
                        F.min(f"min_{v}").alias(f"min_{v}"),
                        F.max(f"max_{v}").alias(f"max_{v}"),
                    ]
                folded = existing if delta is None else (
                    existing.unionByName(delta, allowMissingColumns=True))
                merged = folded.groupBy(dt, *groups).agg(*combine)
                if touched:
                    # recompute the update-touched buckets wholesale from
                    # post-merge base storage, pruned to EXACTLY their
                    # partitions (part_values — scattered late corrections
                    # never widen the scan to the whole patch window)
                    cells = sorted({
                        cell for u in touched for cell in range(
                            self.store.part_index_of(u),
                            self.store.part_index_of(u + width - 1) + 1)})
                    base = self.store.read(dtypes=self.dtypes or None,
                                           part_values=cells)
                    base = base.filter(bucket_us.isin(touched))
                    bgroups = [g for g in conf.get("groupby") or []
                               if g in base.columns]
                    recomputed = base.groupBy(
                        self._rollup_bucket(conf), *bgroups,
                    ).agg(*self._rollup_aggs(conf, base.columns))
                    merged = merged.unionByName(recomputed,
                                                allowMissingColumns=True)
                rstore.replace_range(merged, b0, e0,
                                     dtypes=self._rollup_dtypes(conf))

    def _rollup_compute(self, conf: dict, b0_us: int | None,
                        e0_us: int | None) -> DataFrame:
        dt = self.dt_col
        scoped = self.store.read(dtypes=self.dtypes or None,
                                 begin_us=b0_us, end_us=e0_us)
        if b0_us is not None:
            c = F.col(dt)
            us = (c.cast("long") * F.lit(UNIT_US[self.precision_unit])
                  if self.dt_is_int else F.unix_micros(c))
            scoped = scoped.filter((us >= F.lit(b0_us)) & (us < F.lit(e0_us)))
        groups = [self._rollup_bucket(conf)] + [
            F.col(g) for g in conf.get("groupby") or [] if g in scoped.columns]
        return scoped.groupBy(*groups).agg(
            *self._rollup_aggs(conf, scoped.columns))

    def refresh_rollup(self, name: str) -> None:
        """Full rebuild of one rollup table (used after operations that can
        EMPTY buckets — deduplicate — where a merge could strand rows)."""
        conf = next((c for c in self._rollup_confs if c["name"] == name), None)
        if conf is None:
            raise KeyError(f"no rollup named {name!r} configured")
        with self._write_lock:
            rstore = self._rollup_store(conf)
            rstore.drop()
            if self.exists():
                rstore.append(self._rollup_compute(conf, None, None))
            # a full rebuild supersedes any deferred damage logged before
            # it — drain the conf's pending entries so the next flush
            # doesn't re-maintain ranges the rebuild already covered
            with _ROLLUP_PENDING_LOCK:
                doc = self._load_rollup_pending()
                if doc.pop(name, None) is not None:
                    self._save_rollup_pending(doc)

    def get_rollup(self, name: str, gapfill: bool = False) -> DataFrame:
        """Read one rollup table.

        ``gapfill=True`` returns a dense bucket spine over the GLOBAL
        observed [min, max] bucket range, crossed with every group
        combination (TimescaleDB ``time_bucket_gapfill`` over the query
        range): missing buckets appear with ``n_rows = 0`` and NULL
        aggregates — downstream LOCF/interp is one window away. The
        spine generates via sequence + explode (no driver loop) in pure
        EPOCH arithmetic (a rendered-timestamp literal would shift with
        the driver's OS timezone); the min/max probe is one tiny action
        over the rollup table itself, never the base table. Null-keyed
        rollup rows (the null-dt bucket, null group values) are
        preserved: group matching is null-safe and null-dt rows append
        past the spine."""
        conf = next((c for c in self._rollup_confs if c["name"] == name), None)
        if conf is None:
            raise KeyError(f"no rollup named {name!r} configured")
        # deferred-refresh contract: fold any pending invalidations
        # before serving (no-pending fast path is one stat + json read,
        # and a conf later switched back to eager still drains its log)
        self._flush_rollup_pending(conf)
        df = self._rollup_store(conf).read(dtypes=self._rollup_dtypes(conf))
        if not gapfill or self.dt_col is None:
            return df
        dt = self.dt_col
        groups = [g for g in (conf.get("groupby") or []) if g in df.columns]
        dtc = F.col(dt)
        us_col = (dtc.cast("long") * F.lit(UNIT_US[self.precision_unit])
                  if self.dt_is_int else F.unix_micros(dtc))
        row = (df.filter(dtc.isNotNull())
               .agg(F.min(us_col).alias("_lo"), F.max(us_col).alias("_hi"))
               .first())
        if row is None or row["_lo"] is None:
            return df
        lo_us, hi_us = int(row["_lo"]), int(row["_hi"])
        width_us = self._rollup_width_us(conf)
        seq = F.explode(F.sequence(F.lit(lo_us), F.lit(hi_us),
                                   F.lit(width_us))).alias("_us")
        if self.dt_is_int:
            bucket = (F.col("_us") / F.lit(UNIT_US[self.precision_unit]))                 .cast("long").alias(dt)
        else:
            bucket = F.timestamp_micros(F.col("_us")).alias(dt)
        combos = (df.select(*groups).distinct() if groups
                  else self.spark.range(1).select(F.lit(0).alias("_one")))
        spine = combos.select(*(groups or []), seq).select(
            *(groups or []), bucket)
        right = df.select(*[F.col(c).alias(f"_r_{c}") for c in df.columns])
        cond = F.col(dt) == F.col(f"_r_{dt}")
        for g in groups:
            # eqNullSafe: null group values are real combos
            cond = cond & F.col(g).eqNullSafe(F.col(f"_r_{g}"))
        agg_cols = [c for c in df.columns if c != dt and c not in groups]
        filled = (spine.join(right, cond, "left")
                  .select(dt, *groups,
                          *[F.col(f"_r_{c}").alias(c) for c in agg_cols]))
        null_dt_rows = df.filter(dtc.isNull())
        out = filled.unionByName(null_dt_rows)
        return out.withColumn(
            "n_rows", F.coalesce(F.col("n_rows"), F.lit(0).cast("long")))

    def _dedupe_patch(self, df: DataFrame) -> DataFrame:
        """Dedupe an upsert patch on its keys — MERGE sources must be
        key-unique (reference dedupes via drop_duplicates keep='last',
        core/Pipe/_sync.py).

        When the batch carries the ingest-order tag (``ORD_COL``, stamped
        by ``sync`` before any shuffle), the per-key winner is the LAST
        row of the batch in source order — the reference's keep='last'.
        Without the tag (external callers) the winner is the row with the
        greatest non-key values, a deterministic fallback."""
        keys = [c for c in self.index_cols if c in df.columns]
        if not keys:
            return (df.drop(ORD_COL).dropDuplicates()
                    if ORD_COL in df.columns else df.dropDuplicates())
        if ORD_COL in df.columns:
            order = [F.col(ORD_COL).desc()]
        else:
            others = [c for c in df.columns if c not in keys]
            order = ([F.col(c).desc_nulls_last() for c in others]
                     or [F.lit(1).asc()])
        w = Window.partitionBy(*keys).orderBy(*order)
        return (df.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn", ORD_COL))

    def _evolve_dtypes(self, inferred: dict[str, str]) -> None:
        """Schema evolution: union new columns, widen conflicts (reference
        connectors/sql/_pipes.py:3496-3832). Disabled by static/enforce flags."""
        if self.static:
            return
        current = self.dtypes
        changed = False
        for col, new_dt in inferred.items():
            new_dt = canonical_dtype(new_dt)
            if col not in current:
                current[col] = new_dt
                changed = True
            elif self.enforce and canonical_dtype(current[col]) != new_dt:
                widened = widen_dtypes(current[col], new_dt,
                                       mixed_numerics=self.mixed_numerics)
                if widened != canonical_dtype(current[col]):
                    current[col] = widened
                    changed = True
        if changed:
            self.parameters["dtypes"] = current

    def _apply_autotime(self, df: DataFrame) -> DataFrame:
        """Stamp the datetime column when absent and autotime is enabled
        (reference core/Pipe/_sync.py:412-434)."""
        dt = self.columns.get("datetime")
        if not dt or dt in df.columns:
            return df
        if not (self.parameters.get("autotime")
                or self.parameters.get("static_autotime")):
            return df
        prec = self.parameters.get("precision") or {}
        unit = normalize_unit(prec.get("unit", "microsecond"))
        interval = int(prec.get("interval", 1))
        step_us = UNIT_US[unit] * interval
        # integer `div`, not float `/`: epoch-µs quotients are exactly
        # the kind of near-integer doubles whose rounding can flip a
        # floor across the bucket boundary
        cells = F.expr(f"unix_micros(current_timestamp()) div {int(step_us)}")
        if self.dt_is_int:
            # step_us = UNIT_US[unit] * interval, so the integer-axis
            # value is exactly cells * interval
            return df.withColumn(dt, (cells * F.lit(interval)).cast("long"))
        return df.withColumn(
            dt, F.timestamp_micros((cells * F.lit(int(step_us))).cast("long")))

    def _apply_autoincrement(self, df: DataFrame,
                             _persisted: list | None = None) -> DataFrame:
        """Generate the primary key when configured and absent (reference
        connectors/sql/_pipes.py:1962-2073). Offsets from the stored max.

        Within-batch ids are assigned from per-partition counts plus
        cumulative offsets (zipWithIndex-style), entirely in parallel:
        ``monotonically_increasing_id`` already encodes
        ``partition_id << 33 | row_in_partition`` (documented layout), so
        one tiny aggregation (rows = #partitions) yields the offset table,
        which is applied as a literal map — no global Window, no
        single-task funnel, no shuffle of the batch itself."""
        pk = self.columns.get("primary")
        if not pk or pk in df.columns or not self.autoincrement:
            return df
        offset = 0
        if self.exists():
            stored = self.store.read(dtypes=self.dtypes or None)
            if pk in stored.columns:
                row = stored.agg(F.max(pk).alias("m")).first()
                offset = int(row["m"] or 0)
        mask = (1 << 33) - 1
        # persist so the count job and every later action see identical
        # partition layouts (and therefore identical generated ids)
        tagged = df.withColumn("_mrsm_mid", F.monotonically_increasing_id()).persist()
        if _persisted is not None:
            _persisted.append(tagged)
        parts = sorted(
            (r["_pid"], r["_n"])
            for r in tagged.groupBy(
                F.shiftright(F.col("_mrsm_mid"), 33).alias("_pid")
            ).agg(F.count(F.lit(1)).alias("_n")).collect()
        )
        cum, offsets = 0, {}
        for pid, n in parts:
            offsets[pid] = cum
            cum += n
        if offsets:
            pairs: list[F.Column] = []
            for pid, off in offsets.items():
                pairs += [F.lit(int(pid)), F.lit(int(off))]
            off_col = F.element_at(
                F.create_map(*pairs), F.shiftright(F.col("_mrsm_mid"), 33)
            )
        else:
            off_col = F.lit(0)
        return tagged.withColumn(
            pk,
            (F.col("_mrsm_mid").bitwiseAND(F.lit(mask)) + off_col
             + F.lit(offset) + 1).cast("long"),
        ).drop("_mrsm_mid")

    # ----------------------------------------------------------------- fetch

    @property
    def parents(self) -> list["Pipe"]:
        """Parent pipes referenced by this pipe's definition (reference
        core/Pipe/_attributes.py:783-988: ``parameters['parents']`` holds
        key dicts)."""
        out = []
        for keys in self.parameters.get("parents", []):
            out.append(Pipe(
                keys.get("connector", ""), keys.get("metric", ""),
                keys.get("location"), instance=self.instance, spark=self.spark,
            ))
        return out

    def _register_parent_views(self) -> None:
        """Expose each parent's stored table as a temp view named by its
        target, so SQL definitions can reference it.

        This replaces the reference's textual CTE-pushdown rewriting
        (connectors/sql/_fetch.py:227-342): Catalyst pushes the child's
        dt bounds through the view into the parent's partition-pruned
        scan — no string surgery. The view is the parent's lazy scan,
        never ``get_data``'s driver-local snapshot, which has no scan to
        push into."""
        for parent in self.parents:
            parent.store.read(dtypes=parent.dtypes or None) \
                .createOrReplaceTempView(parent.target)

    def fetch(self, begin: Any = None, end: Any = None,
              params: dict[str, Any] | None = None) -> Any:
        """Pull new rows from the pipe's source (reference
        core/Pipe/_fetch.py:20-181): a plugin-style callable or a SQL
        ``definition`` over session views, bounded by
        begin = last sync time − backtrack."""
        self._register_parent_views()
        if begin is None:
            st = self.get_sync_time()
            if st is not None:
                if isinstance(st, datetime.datetime):
                    begin = st - datetime.timedelta(minutes=self.backtrack_minutes)
                else:
                    begin = st - (self.backtrack_minutes * 60_000_000
                                  ) // UNIT_US[self.precision_unit]
        if self.fetch_fn is not None:
            return self.fetch_fn(self, begin=begin, end=end, params=params)
        definition = self._resolve_definition()
        if definition is None:
            return None
        _guard_definition(definition)
        df = self.spark.sql(
            f"WITH definition AS ({definition}) SELECT * FROM definition"
        )
        cond = combine_filters(
            datetime_filter(self.dt_col if self.dt_col in df.columns else None,
                            self._parse_bound(begin), self._parse_bound(end)),
            params_to_filter(params),
        )
        return df.filter(cond) if cond is not None else df

    def filter_new_per_id(self, source: DataFrame,
                          id_col: str | None = None) -> DataFrame:
        """J6 — per-id incremental fetch: keep source rows newer than THAT
        id's last-seen dt (reference's experimental join-fetch,
        connectors/sql/_fetch.py:449-521: definition LEFT JOIN sync-times
        CTE ON id WHERE dt > st OR st IS NULL). The sync-times side is a
        small aggregate of the target — broadcast."""
        dt = self.dt_col
        id_col = id_col or self.columns.get("id")
        if dt is None or id_col is None:
            raise ValueError("filter_new_per_id needs datetime and id columns")
        if not self.exists():
            return source
        target = self.store.read(dtypes=self.dtypes or None)
        sync_times = target.groupBy(F.col(id_col).alias("_st_id")) \
                           .agg(F.max(dt).alias("_st_dt"))
        joined = source.join(
            F.broadcast(sync_times),
            source[id_col].eqNullSafe(F.col("_st_id")), "left")
        return (joined.filter((F.col(dt) > F.col("_st_dt"))
                              | F.col("_st_dt").isNull())
                .drop("_st_id", "_st_dt"))

    def _resolve_definition(self) -> str | None:
        """Definition resolution order (reference
        connectors/sql/_fetch.py:372-432)."""
        fetch = self.parameters.get("fetch") or {}
        for container, key in ((fetch, "definition"), (self.parameters, "definition"),
                               (self.parameters, "query"), (self.parameters, "sql")):
            val = container.get(key)
            if val:
                return str(val)
        return None

    # ----------------------------------------- maintenance: dedup/clear/verify

    def deduplicate(self, begin: Any = None, end: Any = None,
                    params: dict[str, Any] | None = None) -> SyncResult:
        """Remove duplicate index-key rows keeping one deterministic winner
        (reference core/Pipe/_deduplicate.py:14-287; SQL ROW_NUMBER form
        connectors/sql/_pipes.py:3888-4105). ``dropDuplicates`` is
        nondeterministic — the window-rank form is required for keep-last."""
        keys = self.index_cols
        if not keys or not self.exists():
            return SyncResult(True, "Nothing to deduplicate.")
        begin, end = self._parse_bound(begin), self._parse_bound(end)
        df = self.store.read(dtypes=self.dtypes or None, keep_part_col=True,
                             begin_us=self._bound_us(begin),
                             end_us=self._bound_us(end))
        cond = combine_filters(
            datetime_filter(self.dt_col, begin, end), params_to_filter(params))
        if cond is not None:
            df = df.filter(cond)
        others = [c for c in df.columns
                  if c not in keys and c != "_mrsm_part"]
        order = ([F.col(c).desc_nulls_last() for c in others] or [F.lit(1).asc()])
        w = Window.partitionBy(*keys).orderBy(*order)
        ranked = df.withColumn("_rn", F.row_number().over(w))
        # ONE job yields both the affected-partition list and the removed-row
        # count (the per-partition duplicate tally) — replacing the previous
        # distinct-parts job plus two full bounded rowcount jobs
        dup_stats = (ranked.filter(F.col("_rn") > 1)
                     .groupBy("_mrsm_part")
                     .agg(F.count(F.lit(1)).alias("_n")).collect())
        dup_parts = [r["_mrsm_part"] for r in dup_stats]
        n_removed = sum(r["_n"] for r in dup_stats)
        if not dup_parts:
            return SyncResult(True, "No duplicates found.", 0, 0)
        # Keep rows by the GLOBAL ranking, scoped to the partitions being
        # rewritten. Re-ranking only the rewritten partitions would let a
        # duplicate whose rank-1 winner lives in a DIFFERENT partition
        # promote itself back to rank 1 and survive (cross-partition
        # duplicates arise when the datetime column is not an index key).
        deduped = (ranked
                   .filter(F.col("_mrsm_part").isin(dup_parts)
                           & (F.col("_rn") == 1))
                   .drop("_rn"))
        if cond is not None:
            # rows outside the requested window in the same partitions
            # pass through untouched
            scoped = self.store.read(dtypes=self.dtypes or None,
                                     keep_part_col=True,
                                     part_values=dup_parts)
            out_scope = scoped.filter(~F.coalesce(cond, F.lit(False)))
            deduped = deduped.unionByName(out_scope)
        self.store._swap_partitions(deduped, dup_parts)
        # dedup can empty buckets, so rollups take the rebuild form (the
        # dedup pass itself already walked the table); the ANN index's
        # stale rows live in exactly the rewritten cells
        self._fps_tls.pending = None  # only a sync commits fingerprints
        self._after_write(_Written(n_upd=n_removed, ucells=dup_parts))
        return SyncResult(True, f"Removed {n_removed} duplicates.",
                          0, n_removed)

    def clear(self, begin: Any = None, end: Any = None,
              params: dict[str, Any] | None = None) -> int:
        """Bounded delete (reference core/Pipe/_clear.py; SQL
        connectors/sql/_pipes.py:3158-3246). Returns rows removed."""
        if not self.exists():
            return 0
        begin, end = self._parse_bound(begin), self._parse_bound(end)
        cond = combine_filters(
            datetime_filter(self.dt_col, begin, end),
            params_to_filter(params),
        )
        if cond is None:
            cond = F.lit(True)
        n = self.store.delete_where(cond, dtypes=self.dtypes or None,
                                    begin_us=self._bound_us(begin),
                                    end_us=self._bound_us(end))
        if n:
            self._fps_tls.pending = None  # only a sync commits fingerprints
            # a half-open delete (one bound None) damages an unbounded
            # range
            self._after_write(_Written(
                n_upd=n, begin_us=self._bound_us(begin),
                end_us=self._bound_us(end)))
        return n

    def prune(self, keep: Any) -> int:
        """Retention policy (TimescaleDB ``drop_chunks``/retention-policy
        analogue; the reference delegates retention to the DBMS): drop
        every row older than ``keep`` relative to the pipe's NEWEST
        timestamp — so a stalled feed never silently empties its own
        history the way a wall-clock cutoff would. ``keep`` accepts an
        ``'every'``-less schedule-grammar duration (``'30 days'``,
        ``'12 hours'``), a ``datetime.timedelta``, or — on integer axes —
        a bare count of axis units. Returns rows removed; the bounded
        delete prunes partitions and maintains rollups like any
        ``clear``."""
        newest = self.get_sync_time()
        if newest is None:
            return 0
        if isinstance(keep, datetime.timedelta):
            delta_us = int(keep.total_seconds() * 1_000_000)
        elif isinstance(keep, (int, float)) and not isinstance(keep, bool):
            delta_us = int(keep) * UNIT_US[self.precision_unit]
        else:
            from meerschaum_spark.streaming.schedule import parse_schedule
            sched = parse_schedule(f"every {keep}")
            if sched.seconds is None:
                raise ValueError(f"not a duration: {keep!r}")
            delta_us = int(sched.seconds * 1_000_000)
        if delta_us <= 0:
            raise ValueError(f"retention window must be positive: {keep!r}")
        if isinstance(newest, datetime.datetime):
            cutoff: Any = newest - datetime.timedelta(microseconds=delta_us)
        else:
            cutoff = int(newest) - delta_us // UNIT_US[self.precision_unit]
        return self.clear(end=cutoff)

    def verify(
        self,
        source: Callable[[Any, Any], Any] | None = None,
        begin: Any = None,
        end: Any = None,
        chunk_minutes: int | None = None,
        max_retries: int = 3,
        rowcount_only: bool = False,
        workers: int = 1,
        bound_days: int | None = VERIFY_BOUND_DAYS,
    ) -> SyncResult:
        """Chunked re-sync over the epoch-aligned grid (reference
        core/Pipe/_verify.py:18-440): each ``[b, e)`` window re-fetches and
        re-syncs; upsert/diff semantics make it idempotent. Chunks touch
        disjoint store partitions, so they could run concurrently.

        When no explicit ``begin`` is given, the window is capped at
        ``bound_days`` before the end bound (reference _verify.py:52,599 +
        config/_default.py:239, default 366) — an unbounded verify on a
        ten-year pipe must not walk its full history. Pass
        ``bound_days=None`` (or an explicit ``begin``) for a full walk.

        ``rowcount_only=True`` compares local vs source rowcounts per chunk
        instead of re-syncing (reference _verify.py:218-245) and reports
        the mismatched windows."""
        chunk_minutes = chunk_minutes or self.chunk_minutes
        explicit_begin = begin is not None
        begin = self._parse_bound(begin) if begin is not None else \
            self.get_sync_time(newest=False)
        end = self._parse_bound(end) if end is not None else None
        if end is None:
            last = self.get_sync_time(newest=True)
            if last is not None:
                end = last + (datetime.timedelta(microseconds=1)
                              if isinstance(last, datetime.datetime) else 1)
        if begin is None or end is None:
            return SyncResult(False, "No bounds to verify.")
        if not explicit_begin and bound_days is not None:
            if isinstance(end, datetime.datetime):
                floor = end - datetime.timedelta(days=bound_days)
            else:
                floor = end - (bound_days * 86_400_000_000
                               // UNIT_US[self.precision_unit])
            if begin < floor:
                begin = floor
        if rowcount_only:
            mismatched = []
            for b, e in get_chunk_bounds(begin, end, chunk_minutes,
                                         unit=self.precision_unit):
                data = source(b, e) if source is not None \
                    else self.fetch(begin=b, end=e)
                if data is None:
                    continue
                src_df, _ = mdf.to_spark_df(self.spark, data, self.dtypes or None)
                n_src = src_df.count()
                n_local = self.get_rowcount(begin=b, end=e)
                if n_src != n_local:
                    mismatched.append((b, e, n_src, n_local))
            if mismatched:
                return SyncResult(
                    False, f"{len(mismatched)} chunk(s) mismatched: "
                    + "; ".join(f"[{b}, {e}) src={s} local={l}"
                                for b, e, s, l in mismatched[:5]))
            return SyncResult(True, "All chunk rowcounts match.")

        retry_counts: dict[tuple, int] = {}

        def sync_chunk(bounds):
            b, e = bounds
            last = None
            for attempt in range(max_retries):
                # re-fetch per attempt: a chunk GENERATOR is consumed by a
                # failed sync, so retrying the same object would sync the
                # leftovers (or nothing) and report spurious success
                data = source(b, e) if source is not None \
                    else self.fetch(begin=b, end=e)
                if data is None:
                    return SyncResult(True, "empty", 0, 0)
                last = self.sync(data, begin=b, end=e)
                if attempt:
                    retry_counts[(b, e)] = attempt
                if last.success:
                    return last
            return last or SyncResult(False, f"Chunk [{b}, {e}) failed.")

        bounds = list(get_chunk_bounds(begin, end, chunk_minutes,
                                       unit=self.precision_unit))
        results: list[SyncResult]
        if workers > 1:
            # chunks touch disjoint store partitions; Spark schedules the
            # jobs concurrently and the pipe's write lock serializes only
            # the committer-sensitive store mutations (reference pools
            # chunk syncs the same way, core/Pipe/_sync.py:313-401)
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(max_workers=workers) as pool:
                results = list(pool.map(sync_chunk, bounds))
        else:
            results = [sync_chunk(bnd) for bnd in bounds]
        total_ins = sum(r.inserted for r in results if r)
        total_upd = sum(r.updated for r in results if r)
        failed = [r for r in results if not r]
        retry_note = (f" ({len(retry_counts)} chunk(s) retried, "
                      f"{sum(retry_counts.values())} retries)"
                      if retry_counts else "")
        if failed:
            return SyncResult(False, f"{len(failed)} chunk(s) failed: "
                              f"{failed[0].message}{retry_note}",
                              total_ins, total_upd)
        return SyncResult(True, f"Verified: +{total_ins} inserted, "
                          f"{total_upd} updated.{retry_note}",
                          total_ins, total_upd)

    def copy_to(self, other: "Pipe", begin: Any = None, end: Any = None,
                params: dict[str, Any] | None = None) -> SyncResult:
        """Pipe→pipe copy (reference core/Pipe/_copy.py:14+). ``other``
        may be any object with ``.columns``/``.parameters``/``.sync`` —
        including a ``RemotePipe``, which makes this the reference's
        cross-INSTANCE sync (connectors/api/_pipes.py): local storage →
        HTTP → a remote engine's store."""
        df = self.get_data(begin=begin, end=end, params=params, order=None)
        if other.columns == {} and self.columns:
            other.parameters["columns"] = self.columns
        out = other.sync(df)
        if isinstance(out, tuple) and len(out) == 2:
            # RemotePipe returns (status_code, payload) — normalize
            code, payload = out
            payload = payload or {}
            ok = code == 200 and bool(payload.get("success", True))
            return SyncResult(ok, str(payload.get("message", code)),
                              int(payload.get("inserted") or 0),
                              int(payload.get("updated") or 0))
        return out

    def repartition_grid(self, chunk_minutes: int) -> SyncResult:
        """Rebuild the table onto a new epoch-aligned grid width (reference
        M8: connectors/sql/_partition.py:795-942 table rebuild +
        core/Pipe/_maintenance.py:109+). One full read + one full
        partitioned write; the registry records the new width so reads,
        chunk iterators, and verify all follow it."""
        if chunk_minutes <= 0:
            return SyncResult(False, "chunk_minutes must be positive.")
        old = self.chunk_minutes
        if chunk_minutes == old:
            return SyncResult(True, "Grid unchanged.")
        df = None
        if self.exists():
            df = self.store.read(dtypes=self.dtypes or None)
        self.parameters.setdefault("verify", {})["chunk_minutes"] = int(chunk_minutes)
        self._invalidate_store()
        if df is not None:
            self.store.overwrite(df)
        self.register()
        return SyncResult(True, f"Repartitioned {old} → {chunk_minutes} min grid.")

    def optimize(self, max_files_per_partition: int = 1,
                 cluster_by: list[str] | None = None,
                 zorder: bool = False) -> int:
        """Compact partitions that accumulated small append files — the
        OPTIMIZE analogue (reference maps compress/vacuum to this,
        SURVEY §2.9 M9/M10; TimescaleDB compression policy
        connectors/sql/_compress.py:31-636 collapses to a rewrite since
        parquet is already columnar). Returns partitions rewritten —
        across the base table AND the maintained ANN index side table,
        whose per-sync append files are compacted by the same pass
        (``_compact_ann_index``).

        ``cluster_by`` adds the ZORDER-lite half of OPTIMIZE: rows sort
        by the given columns WITHIN each time partition before the
        rewrite (TimescaleDB's ``segmentby``/``orderby`` compression
        layout, connectors/sql/_compress.py:199-519), so parquet
        row-group min/max stats become selective for those columns and
        point/range reads on them prune at the row-group level — the
        poor man's secondary index. Clustering rewrites EVERY partition
        (a layout change, not just a compaction).

        ``zorder=True`` upgrades the lexicographic layout to a Morton
        (Z-order) interleave of the ``cluster_by`` keys (the
        Delta/Iceberg OPTIMIZE ZORDER layout, ``functions/layout.py``):
        a plain sort makes file/row-group stats selective for the
        LEADING key only, while the interleave gives every key ~equal
        locality so range predicates on ANY of them prune files. The
        z-value is a pure codegen Column (shift/and/or over
        min-max-bucketed keys; one stats job per numeric key), sorted
        within partitions and never written to the table.

        Returns an :class:`OptimizeResult` — an ``int`` equal to the
        TOTAL partitions rewritten (base + ANN side table, the r12
        combined contract), with the split exposed as ``.base`` /
        ``.ann_index`` so callers comparing against base partition
        counts aren't misled by the combined value (ADVICE r12)."""
        import os
        if not self.exists():
            return OptimizeResult(0)
        # hold the cross-process store lock across listing + read-plan +
        # swap: a concurrent sync appending a file between our listing
        # and the swap's rename would have that file's rows dropped by
        # the rewrite (ADVICE r12; the lock is re-entrant, so the
        # swap's own acquisition nests)
        with self.store.lock:
            targets: list[int | None] = []
            for part in self.store.partition_values():
                if cluster_by:
                    targets.append(part)
                    continue
                d = os.path.join(self.store.data_path,
                                 self.store._part_dir_name(part))
                n_files = sum(1 for f in os.listdir(d)
                              if f.endswith(".parquet"))
                if n_files > max_files_per_partition:
                    targets.append(part)
            n_base = 0
            if targets:
                scoped = self.store.read(dtypes=self.dtypes or None,
                                         keep_part_col=True,
                                         part_values=targets)
                compacted = scoped.repartition("_mrsm_part")
                keys = list(cluster_by or [])
                unknown = [c for c in keys if c not in scoped.columns]
                if unknown:
                    # a typo'd key must not degrade to an expensive
                    # unclustered full-table rewrite that reports success
                    raise KeyError(
                        f"cluster_by columns not in the table: {unknown}")
                sort_by: list | None = keys or None
                if zorder:
                    if len(keys) < 2:
                        raise ValueError(
                            "zorder=True needs >= 2 cluster_by columns; "
                            "a single key is already optimally clustered "
                            "by a plain sort")
                    from meerschaum_spark.functions.layout import (
                        zorder_column,
                    )
                    sort_by = [zorder_column(scoped, keys)]
                self.store._swap_partitions(compacted, targets,
                                            sort_by=sort_by)
                n_base = len(targets)
            n_ann = self._compact_ann_index(max_files_per_partition)
        return OptimizeResult(n_base + n_ann, base=n_base, ann_index=n_ann)

    def _compact_ann_index(self, max_files_per_partition: int = 1) -> int:
        """Compact the maintained ANN index's small files alongside
        ``optimize()`` (VERDICT r11 #6b): every insert-only sync appends
        one encode file per touched index cell, so a busy cell
        accumulates exactly the small-file debt optimize() exists to
        pay down — but the base rewrite never touched the side table.
        Pure physical rewrite: cells re-read and swapped 1:1 (codes are
        NEVER re-encoded — sync-then-search ≡ rebuild stays hash-exact
        by construction; pinned in test_ann_index).

        Listing + read-plan + swap all run under the shared pipe
        ProcessLock (the side store shares the BASE pipe's lock_path):
        without it a cross-process sync appending an encode file
        between the listing and the swap's rename would have that
        file's rows silently dropped by the rewrite (ADVICE r12). The
        lock is re-entrant, so the nested hold from ``optimize()``
        (and the swap's own acquisition) stack."""
        import os
        conf = self._ann_conf
        if not conf:
            return 0
        astore = self._ann_store()
        if not astore.exists():
            return 0
        with astore.lock:
            targets: list[int | None] = []
            for part in astore.partition_values():
                d = os.path.join(astore.data_path,
                                 astore._part_dir_name(part))
                n_files = sum(1 for f in os.listdir(d)
                              if f.endswith(".parquet"))
                if n_files > max_files_per_partition:
                    targets.append(part)
            if not targets:
                return 0
            scoped = astore.read(dtypes=self._ann_dtypes(conf),
                                 keep_part_col=True, part_values=targets)
            astore._swap_partitions(scoped.repartition(PART_COL), targets)
        return len(targets)

    def vacuum(self, stale_minutes: int = 1440) -> int:
        """Remove orphaned staging dirs of any interrupted write (the
        reference GCs stale temp tables after 1440 min,
        connectors/sql/_pipes.py:4128-4153). Returns dirs removed."""
        import os
        import shutil
        import time
        removed = 0
        if not os.path.isdir(self.store.path):
            return 0
        cutoff = time.time() - stale_minutes * 60
        for entry in os.scandir(self.store.path):
            if entry.is_dir() and entry.name.startswith("_staging_"):
                if entry.stat().st_mtime < cutoff:
                    shutil.rmtree(entry.path, ignore_errors=True)
                    removed += 1
        return removed

    def analyze(self, columns: list[str] | None = None) -> dict[str, dict]:
        """Per-column table statistics in ONE aggregation job (reference
        ``analyze`` / UPDATE STATISTICS, connectors/sql/_pipes.py
        maintenance actions): count, nulls, distinct estimate (HLL),
        min/max for orderable columns. On parquet the scan-level stats
        already live in footers; this surfaces the table-level view the
        reference materializes into the flavor's statistics catalog."""
        if not self.exists():
            return {}
        df = self.get_data(order=None)
        cols = [c for c in (columns or df.columns) if c in df.columns]
        orderable = {
            c: f.dataType.typeName() not in ("binary", "array", "map", "struct")
            for c, f in zip(df.columns, df.schema.fields)
        }
        aggs: list[F.Column] = [F.count(F.lit(1)).alias("_rows")]
        for c in cols:
            aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"_nn_{c}"))
            aggs.append(F.approx_count_distinct(c).alias(f"_nd_{c}"))
            if orderable.get(c):
                aggs.append(F.min(c).alias(f"_min_{c}"))
                aggs.append(F.max(c).alias(f"_max_{c}"))
        row = df.agg(*aggs).first()
        out: dict[str, dict] = {}
        for c in cols:
            stats = {
                "rows": row["_rows"],
                "nulls": row[f"_nn_{c}"],
                "approx_distinct": row[f"_nd_{c}"],
            }
            if orderable.get(c):
                stats["min"] = row[f"_min_{c}"]
                stats["max"] = row[f"_max_{c}"]
            out[c] = stats
        return out


def sync_many(jobs, workers: int = 4) -> list[SyncResult]:
    """Sync several pipes CONCURRENTLY on one shared Spark driver —
    the fleet-ingestion amortizer.

    ``jobs``: iterable of ``(pipe, data)`` or ``(pipe, data, kwargs)``;
    returns one ``SyncResult`` per job in input order (a raised
    exception becomes a failed result, never kills sibling jobs).

    Why this exists: a single sync's latency floor is driver-side plan
    construction/analysis (~0.35-0.4 s per action, cProfile r8) — work
    the JVM does on the calling thread while executors idle. Running N
    pipes' syncs on a thread pool overlaps that fixed cost: the JVM
    analyzes pipe B's plans while pipe A's jobs execute, so fleet
    throughput scales with ``workers`` until the executors saturate.
    Correctness is unchanged — each pipe's own write lock already
    serializes committer-sensitive store mutations, so two jobs naming
    the SAME pipe simply queue on its lock (the supported, if
    pointless, case), and distinct pipes share no mutable state. The
    same economics as ``Pipe.verify``'s pooled chunk workers, lifted
    across pipes. (The reference runs one OS process per pipe job —
    meerschaum/utils/jobs — paying a full interpreter + connection per
    pipe; one shared driver amortizes instead.)"""
    jobs = list(jobs)

    def run(job) -> SyncResult:
        pipe, data = job[0], job[1]
        kwargs = job[2] if len(job) > 2 else {}
        try:
            return pipe.sync(data, **kwargs)
        except Exception as exc:  # isolate: one bad frame ≠ fleet failure
            return SyncResult(False, f"{type(exc).__name__}: {exc}")

    if workers <= 1 or len(jobs) <= 1:
        return [run(j) for j in jobs]
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=workers) as pool:
        return list(pool.map(run, jobs))
