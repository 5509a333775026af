"""Read-path details: select/omit, replace_nulls, iterator chunks,
backtrack slice, per-id incremental filter (J6), registry listing, and
the driver-local Arrow read of small windows against the Spark read."""

import collections
import datetime
import math
import uuid
from decimal import Decimal

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from conftest import spark_jobs
from meerschaum_spark.pipe import Pipe
from meerschaum_spark.store import ParquetPipeStore

UTC = datetime.timezone.utc


def dtm(*args):
    return datetime.datetime(*args, tzinfo=UTC)


@pytest.fixture()
def filled(spark, instance_dir):
    pipe = Pipe("data", "ev", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"})
    rows = [{"dt": dtm(2024, 1, d, h), "id": i,
             "val": None if (d == 2 and i == 1) else float(d * 100 + h)}
            for d in range(1, 5) for h in (0, 12) for i in (1, 2)]
    pipe.sync(pd.DataFrame(rows))
    return pipe


def test_select_and_omit(filled):
    df = filled.get_data(select_columns=["dt", "val"], order=None)
    assert df.columns == ["dt", "val"]
    df2 = filled.get_data(omit_columns=["val"], order=None)
    assert "val" not in df2.columns


def test_replace_nulls(filled):
    df = filled.get_data(params={"id": 1}, replace_nulls=-1.0, order=None)
    vals = [r["val"] for r in df.collect()]
    assert -1.0 in vals and None not in vals
    # key columns are never coalesced
    assert all(r["id"] == 1 for r in df.collect())


def test_iterator_chunks_cover_everything(filled):
    chunks = list(filled.get_data(as_iterator=True, chunk_minutes=1440))
    assert len(chunks) >= 4  # daily grid over 4 days
    total = sum(c.count() for c in chunks)
    assert total == filled.get_rowcount()


def test_backtrack_data(filled):
    bt = filled.get_backtrack_data(backtrack_minutes=24 * 60, order=None)
    # window = [last_sync - 1d, ∞) → days 3 12:00? last is day4 12:00 → from day3 12:00
    assert bt.count() == 6


def test_filter_new_per_id(spark, instance_dir):
    pipe = Pipe("data", "perid", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"})
    pipe.sync(pd.DataFrame([
        {"dt": dtm(2024, 1, 1), "id": 1, "val": 1.0},
        {"dt": dtm(2024, 1, 3), "id": 2, "val": 2.0},
    ]))
    source = spark.createDataFrame([
        (dtm(2024, 1, 2), 1, 10.0),   # newer than id 1's sync time → keep
        (dtm(2024, 1, 2), 2, 20.0),   # older than id 2's sync time → drop
        (dtm(2024, 1, 1), 3, 30.0),   # unseen id → keep
    ], "dt timestamp, id long, val double")
    out = pipe.filter_new_per_id(source)
    kept = sorted((r["id"], r["val"]) for r in out.collect())
    assert kept == [(1, 10.0), (3, 30.0)]


def test_registry_listing(spark, instance_dir):
    p1 = Pipe("connA", "m1", instance=instance_dir, spark=spark,
              columns={"datetime": "dt"})
    p2 = Pipe("connB", "m2", "loc1", instance=instance_dir, spark=spark,
              columns={"datetime": "dt"})
    p1.register(); p2.register()
    keys = p1.registry.fetch_pipes_keys()
    assert ("connA", "m1", None) in keys and ("connB", "m2", "loc1") in keys
    assert p1.registry.fetch_pipes_keys(connector="connB") == \
        [("connB", "m2", "loc1")]


def test_get_docs_and_distinct(filled):
    docs = filled.get_docs(begin=dtm(2024, 1, 1), end=dtm(2024, 1, 2))
    assert len(docs) == 4 and all(isinstance(d, dict) for d in docs)
    assert filled.get_distinct_count("id") == 2
    assert filled.get_size() > 0


def test_get_data_bounds_without_dt_col_raises(spark, instance_dir):
    """Bounds against a pipe with no registered datetime column must raise,
    not silently return the unbounded table."""
    import pandas as pd
    import pytest as _pytest
    from meerschaum_spark.pipe import Pipe
    pipe = Pipe("test", "nodt", instance=instance_dir, spark=spark,
                columns={"id": "id"})
    pipe.sync(pd.DataFrame([{"id": 1, "val": 2}]))
    with _pytest.raises(ValueError, match="datetime column"):
        pipe.get_data(begin="2024-01-01")


# -- the driver-local Arrow read vs the Spark read -------------------------


def _norm(v):
    """A collected value in a form that compares exactly: NaN equals
    NaN, -0.0 differs from 0.0, bytearray equals bytes."""
    if isinstance(v, float):
        return ("nan",) if v != v else (v, math.copysign(1.0, v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, (list, tuple)):  # arrays and Rows
        return tuple(_norm(x) for x in v)
    return v


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df):
    return [_norm(r) for r in df.collect()]


def _spark_read(pipe, monkeypatch, **kw):
    """``get_data`` with the Arrow read's gate at 0 rows: every window
    holding a row goes through the Spark scan."""
    with monkeypatch.context() as m:
        m.setattr(Pipe, "_LOCAL_FUSED_ROWS", 0)
        df = pipe.get_data(**kw)
    assert "FileScan" in _plan(df)
    return df


def _assert_same_read(pipe, monkeypatch, **kw):
    """The Arrow read and the Spark read of one ``get_data`` call return
    the same schema and the same rows — in the same order unless
    ``order=None``. Returns the rows."""
    local = pipe.get_data(**kw)
    plan = _plan(local)
    assert "LocalTableScan" in plan and "FileScan" not in plan, plan
    spark_df = _spark_read(pipe, monkeypatch, **kw)
    assert local.schema == spark_df.schema
    got, want = _rows(local), _rows(spark_df)
    if kw.get("order", "asc") is None:
        assert collections.Counter(got) == collections.Counter(want)
    else:
        assert got == want
    return got


ORDERS = ["asc", "desc", None]


@pytest.mark.parametrize("order", ORDERS)
def test_arrow_read_matches_spark_dtype_zoo(spark, instance_dir,
                                            monkeypatch, order):
    """Every special dtype reads back identically through Arrow: json,
    numeric(28,6), uuid, bytes, bool, date and WKB geometry (FIXTURES
    F3), nulls included, and — from a Spark frame — arrays, nested
    arrays, and the string forms enforce gives structs and maps."""
    zoo = Pipe("arrow", "zoo", instance=instance_dir, spark=spark,
               columns={"datetime": "dt", "id": "id"},
               dtypes={"num_col": "numeric(28,6)", "geom_col": "geometry"})
    res = zoo.sync(pd.DataFrame([{
        "dt": dtm(2024, 1, 1 + i % 3, i), "id": i,
        "json_col": None if i == 4 else {"b": i, "a": [i, "x"]},
        "num_col": None if i == 5 else Decimal(f"{i - 3}.123456"),
        "uuid_col": None if i == 6 else uuid.UUID(int=i),
        "bytes_col": None if i == 1 else bytes([i, 255 - i]),
        "bool_col": None if i == 2 else i % 2 == 0,
        "date_col": None if i == 3 else datetime.date(1969 + i, 12, 31),
        "geom_col": None if i == 7 else f"POINT ({i} {-i})",
    } for i in range(8)]))
    assert res.success, res.message
    window = {"begin": dtm(2024, 1, 1), "end": dtm(2024, 1, 3)}
    assert len(_assert_same_read(zoo, monkeypatch, order=order,
                                 **window)) == 6
    _assert_same_read(zoo, monkeypatch, order=order)

    src = (spark.range(6)
           .select(F.expr("timestamp_micros(1704067200000000 + id * 3600000001)")
                   .alias("ts"), F.col("id"))
           .withColumn("arr", F.when(F.col("id") != 2, F.array(
               F.col("id").cast("double"), F.lit(None).cast("double"),
               F.lit(-0.0))))
           .withColumn("nested", F.array(F.array(F.col("id")),
                                         F.array().cast("array<bigint>")))
           .withColumn("words", F.array(F.lit("a"), F.col("id").cast("string")))
           .withColumn("st", F.struct(F.col("id").alias("a"),
                                      F.lit("x").alias("b")))
           .withColumn("mp", F.create_map(F.lit("k"), F.col("id"))))
    nested = Pipe("arrow", "nested", instance=instance_dir, spark=spark,
                  columns={"datetime": "ts", "id": "id"})
    assert nested.sync(src).success
    assert nested.dtypes["nested"] == "array(array(int64))"
    got = _assert_same_read(nested, monkeypatch, order=order)
    assert len(got) == 6


def test_arrow_read_timestamps_and_int_axis(spark, instance_dir,
                                            monkeypatch):
    """µs-UTC instants (sub-second, pre-1970) and the F4 int epoch axis
    window and sort the same way on both reads."""
    ts = Pipe("arrow", "ts", instance=instance_dir, spark=spark,
              columns={"datetime": "dt", "id": "id"})
    stamps = [datetime.datetime(1969, 12, 31, 23, 59, 59, 999999, UTC),
              datetime.datetime(1970, 1, 1, 0, 0, 0, 1, UTC),
              dtm(2024, 3, 10, 6, 59, 59) + datetime.timedelta(microseconds=7),
              dtm(2024, 3, 10, 7)]
    ts.sync(pd.DataFrame([{"dt": d, "id": i, "val": float(i)}
                          for i, d in enumerate(stamps)]))
    for order in ORDERS:
        got = _assert_same_read(
            ts, monkeypatch, order=order,
            begin=datetime.datetime(1970, 1, 1, tzinfo=UTC),
            end=dtm(2024, 3, 10, 7))
        assert len(got) == 2
        assert len(_assert_same_read(ts, monkeypatch, order=order)) == 4
    [row] = ts.get_data(begin=stamps[0], end=stamps[1]).collect()
    assert row["id"] == 0

    epoch = Pipe("arrow", "epoch", instance=instance_dir, spark=spark,
                 columns={"datetime": "ts", "id": "id"},
                 dtypes={"ts": "int64"},
                 parameters={"precision": {"unit": "second"},
                             "verify": {"chunk_minutes": 60}})
    epoch.sync(pd.DataFrame([{"ts": 1_704_067_200 + 700 * i, "id": i % 3,
                              "val": float(i)} for i in range(-5, 20)]))
    for order in ORDERS:
        assert len(_assert_same_read(
            epoch, monkeypatch, order=order,
            begin=dtm(2024, 1, 1), end=dtm(2024, 1, 1, 2))) == 11
        assert len(_assert_same_read(
            epoch, monkeypatch, order=order,
            begin=1_704_067_200 - 1400, end=1_704_067_200 + 701)) == 4


def test_arrow_read_null_nan_negative_zero(spark, instance_dir, monkeypatch):
    """A float value column keeps null, NaN and -0.0 apart; a NaN in a
    float sort column declines the Arrow read (pyarrow sorts NaN beside
    nulls, Spark above +inf) unless no sort is asked for."""
    vals = [None, float("nan"), -0.0, 0.0, 1.5, None]
    pipe = Pipe("arrow", "nan", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"})
    pipe.sync(pd.DataFrame({
        "dt": [dtm(2024, 1, 1, i) for i in range(6)], "id": range(6),
        "val": pd.arrays.ArrowExtensionArray(pa.array(vals, pa.float64()))}))
    for order in ORDERS:
        got = _assert_same_read(pipe, monkeypatch, order=order)
        assert len(got) == 6
    by_id = {r["id"]: r["val"] for r in pipe.get_data().collect()}
    assert by_id[0] is None and math.isnan(by_id[1])
    assert math.copysign(1.0, by_id[2]) < 0 and math.copysign(1.0, by_id[3]) > 0

    # a float index column: sorts through Arrow without a NaN, declines
    # with one (in the rows read: the NaN lives in day 2's cell)
    keyed = Pipe("arrow", "fkey", instance=instance_dir, spark=spark,
                 columns={"datetime": "dt", "id": "f"},
                 parameters={"verify": {"chunk_minutes": 1440}})
    keyed.sync(pd.DataFrame({
        "dt": [dtm(2024, 1, 1)] * 4 + [dtm(2024, 1, 2)] * 2,
        "f": pd.arrays.ArrowExtensionArray(pa.array(
            [1.0, None, -0.5, 2.0, float("nan"), 3.0], pa.float64())),
        "val": range(6)}))
    day1 = {"begin": dtm(2024, 1, 1), "end": dtm(2024, 1, 2)}
    for order in ORDERS:
        assert len(_assert_same_read(keyed, monkeypatch, order=order,
                                     **day1)) == 4
    for order in ("asc", "desc"):
        df = keyed.get_data(order=order, begin=dtm(2024, 1, 2))
        assert "FileScan" in _plan(df)
        fs = [r["f"] for r in df.collect()]
        # Spark puts NaN above every number
        assert _norm(fs) == (((3.0, 1.0), ("nan",)) if order == "asc"
                             else (("nan",), (3.0, 1.0))), fs
    assert len(_assert_same_read(keyed, monkeypatch, order=None)) == 6


def test_arrow_read_options(filled, monkeypatch):
    """select/omit, params, replace_nulls, limit and as_iterator ride on
    the Arrow read as Spark expressions."""
    window = {"begin": dtm(2024, 1, 1, 12), "end": dtm(2024, 1, 4)}
    for order in ORDERS:
        cases = [
            {},
            {"select_columns": ["val", "dt"]},
            {"select_columns": ["val", "id"]},    # no dt: no sort
            {"omit_columns": ["val"]},
            {"params": {"id": 2}},
            {"params": {"id": [1], "val": None}},
            {"params": {"id": "_2", "val": "_None"}},
            {"replace_nulls": -1.0},
        ]
        if order is not None:
            cases.append({"limit": 3})
        for kw in cases:
            _assert_same_read(filled, monkeypatch, order=order,
                              **window, **kw)
    got = _assert_same_read(filled, monkeypatch, replace_nulls=-1.0,
                            params={"id": 1}, order="desc")
    assert [r[2] for r in got].count((-1.0, -1.0)) == 2  # day 2 nulls
    chunks = list(filled.get_data(as_iterator=True, chunk_minutes=1440,
                                  order="desc"))
    assert len(chunks) >= 4
    assert all("LocalTableScan" in _plan(c) for c in chunks)
    with monkeypatch.context() as m:
        m.setattr(Pipe, "_LOCAL_FUSED_ROWS", 0)
        spark_chunks = list(filled.get_data(as_iterator=True,
                                            chunk_minutes=1440,
                                            order="desc"))
    assert [_rows(c) for c in chunks] == [_rows(c) for c in spark_chunks]


def test_arrow_read_unbounded_with_null_dt(spark, instance_dir, monkeypatch):
    """An unbounded read of a pipe with null-dt rows stays on Spark, which
    reads the null cell; bounded reads, which exclude those rows anyway,
    take the Arrow read."""
    pipe = Pipe("arrow", "nulldt", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"})
    pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 1, h), "id": h,
                             "val": float(h)} for h in range(3)]))
    pipe.sync(pd.DataFrame([{"dt": None, "id": 9, "val": 9.0}]))
    df = pipe.get_data()
    assert "FileScan" in _plan(df)
    assert [r["id"] for r in df.collect()] == [9, 0, 1, 2]  # nulls first
    assert len(_assert_same_read(pipe, monkeypatch,
                                 begin=dtm(2024, 1, 1))) == 3
    assert len(_assert_same_read(pipe, monkeypatch,
                                 end=dtm(2024, 1, 2))) == 3


def test_arrow_read_column_added_later(spark, instance_dir, monkeypatch):
    """A column a later sync adds reads as null in the older files."""
    pipe = Pipe("arrow", "evolve", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"})
    pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 1, h), "id": h}
                            for h in range(3)]))
    pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 1, h), "id": h,
                             "extra": f"e{h}"} for h in range(3, 5)]))
    for order in ORDERS:
        got = _assert_same_read(pipe, monkeypatch, order=order)
        assert sorted((r[1], r[2]) for r in got) == [
            (0, None), (1, None), (2, None), (3, "e3"), (4, "e4")]


def test_arrow_read_empty_window(filled, monkeypatch):
    """A window without rows reads as an empty frame of the same schema."""
    window = {"begin": dtm(2023, 1, 1), "end": dtm(2023, 1, 2)}
    local = filled.get_data(**window)
    assert "LocalTableScan" in _plan(local) and local.collect() == []
    with monkeypatch.context() as m:
        m.setattr(ParquetPipeStore, "read_local", lambda *a, **k: None)
        scanned = filled.get_data(**window)
    assert "FileScan" in _plan(scanned) and scanned.collect() == []
    assert local.schema == scanned.schema


def test_arrow_read_declines_maps_and_foreign_types(spark, instance_dir,
                                                   monkeypatch):
    """A read schema holding a map, and a stored column whose type is not
    the registered one (``enforce=False`` kept an int where the dtypes
    say ``int64``), go the Spark way."""
    from pyspark.sql import types as T

    src = (spark.range(2).select(F.expr("timestamp_micros(id)").alias("ts"),
                                 F.col("id"))
           .withColumn("st", F.struct(F.col("id").alias("a")))
           .withColumn("mp", F.create_map(F.lit("k"), F.col("id"))))
    raw = Pipe("arrow", "raw", instance=instance_dir, spark=spark,
               columns={"datetime": "ts", "id": "id"}, enforce=False,
               dtypes={"n": "int64"})
    assert raw.sync(src.withColumn("n", F.col("id").cast("int"))).success
    assert raw.dtypes["st"] == raw.dtypes["mp"] == "str"
    assert raw.store.read_local(raw.dtypes, None, None, 8192) is None
    assert "FileScan" in _plan(raw.get_data())

    plain = Pipe("arrow", "plain", instance=instance_dir, spark=spark,
                 columns={"datetime": "ts", "id": "id"})
    assert plain.sync(src.drop("st", "mp")).success
    store = plain.store
    assert store.read_local(plain.dtypes, None, None, 8192) is not None
    with_map = T.StructType(store.read_schema(plain.dtypes).fields + [
        T.StructField("m", T.MapType(T.StringType(), T.LongType()))])
    monkeypatch.setattr(store, "read_schema", lambda dtypes: with_map)
    assert store.read_local(plain.dtypes, None, None, 8192) is None


def test_small_read_runs_no_spark_job(spark, instance_dir):
    """A window whose footers count at most ``_LOCAL_FUSED_ROWS`` rows
    collects without a Spark job; a larger one runs the Spark scan."""
    pipe = Pipe("arrow", "jobs", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "id"},
                parameters={"verify": {"chunk_minutes": 60}})
    n = Pipe._LOCAL_FUSED_ROWS + 808
    src = spark.range(n).select(
        F.expr("timestamp_micros(1704067200000000 + id * 1000000)")
        .alias("ts"), F.col("id"), (F.col("id") % 3).alias("kind"))
    assert pipe.sync(src).inserted == n
    for k in range(3):  # small incremental syncs add small files
        pipe.sync([{"ts": dtm(2024, 1, 1, 0, 20, 30 + k), "id": n + k,
                    "kind": 1}])

    small = pipe.get_data(begin=dtm(2024, 1, 1, 0, 10),
                          end=dtm(2024, 1, 1, 0, 30), params={"kind": [1]})
    assert "LocalTableScan" in _plan(small)
    with spark_jobs(spark, "arrow_small_read") as jobs:
        rows = small.collect()
    assert len(rows) == 400 + 3
    assert jobs() == 0, f"small windowed read ran {jobs()} jobs"

    with spark_jobs(spark, "arrow_large_read") as jobs:
        rows = pipe.get_data(params={"kind": [1]}).collect()
    assert len(rows) == (n + 1) // 3 + 3
    assert jobs() >= 1
