"""The driver-side small sync (``Pipe._local_sync``): a driver-local batch
of at most ``Pipe._LOCAL_FUSED_ROWS`` rows is diffed against a
pyarrow-read backtrack and committed by one pyarrow-written publish,
with no Spark job.

Every result is checked against a twin pipe synced with the same rows as
a Spark DataFrame, which takes the Spark diff and the Spark writers."""

import datetime
import math
import uuid
from decimal import Decimal

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import spark_jobs
from meerschaum_spark import dataframe as mdf
from meerschaum_spark.pipe import Pipe, _driver_comparable
from meerschaum_spark.store import ParquetPipeStore

UTC = datetime.timezone.utc
COLS = {"datetime": "dt", "id": "id"}


def dtm(*args):
    return datetime.datetime(*args, tzinfo=UTC)


def _norm(v):
    """A collected value in a form that compares exactly: NaN equals
    NaN, -0.0 differs from 0.0, bytearray equals bytes."""
    if isinstance(v, float):
        return ("nan",) if v != v else (v, math.copysign(1.0, v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _table(pipe):
    """Every stored row through Spark's explicit-schema reader."""
    return sorted((_norm(r) for r in pipe.store.read(pipe.dtypes).collect()),
                  key=repr)


def _local_read(pipe, **kw):
    """``get_data`` rows, asserting the driver-local read served them
    (a stored type it does not expect would make it decline)."""
    df = pipe.get_data(**kw)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "FileScan" not in plan, plan
    return [_norm(r) for r in df.collect()]


@pytest.fixture()
def local_syncs(monkeypatch):
    """What each ``Pipe._local_sync`` call returned (None: declined)."""
    got: list = []
    orig = Pipe._local_sync

    def spy(self, *a):
        out = orig(self, *a)
        got.append(out)
        return out
    monkeypatch.setattr(Pipe, "_local_sync", spy)
    return got


def _twins(spark, instance_dir, name, **kw):
    return (Pipe("local", name, instance=instance_dir, spark=spark, **kw),
            Pipe("twin", name, instance=instance_dir, spark=spark, **kw))


def _sync_both(spark, loc, twin, pdf):
    """Sync ``pdf`` into ``loc`` as a pandas frame and into ``twin`` as
    the Spark frame the same conversion gives; both results."""
    sdf = mdf.to_spark_df(spark, pdf, loc.dtypes or None)[0]
    return loc.sync(pdf), twin.sync(sdf)


def test_local_sync_matches_spark_twin(spark, instance_dir, local_syncs):
    """A mixed batch — corrections, exact replays, new keys, and one key
    corrected twice (the last row wins) — splits and stores exactly as
    the Spark diff does, and as ``filter_existing`` reports."""
    loc, twin = _twins(spark, instance_dir, "mixed", columns=COLS)
    seed = pd.DataFrame([{"dt": dtm(2024, 1, 1, i % 24), "id": i,
                          "v": float(i), "s": f"s{i}"} for i in range(40)])
    _sync_both(spark, loc, twin, seed)
    rows = ([{"dt": dtm(2024, 1, 1, i % 24), "id": i, "v": float(i) + 0.5,
              "s": f"s{i}"} for i in (1, 2, 3)]
            + [{"dt": dtm(2024, 1, 1, i % 24), "id": i, "v": float(i),
                "s": f"s{i}"} for i in (4, 5)]
            + [{"dt": dtm(2024, 1, 1, 6), "id": 6, "v": 60.0, "s": "a"},
               {"dt": dtm(2024, 1, 1, 6), "id": 6, "v": 61.0, "s": "b"}]
            + [{"dt": dtm(2024, 1, 2, i % 24), "id": 100 + i, "v": 1.0,
                "s": None} for i in range(5)])
    batch = pd.DataFrame(rows)
    split = [f.count() for f in twin.filter_existing(
        mdf.to_spark_df(spark, batch, twin.dtypes)[0])]
    r_loc, r_twin = _sync_both(spark, loc, twin, batch)
    assert local_syncs and local_syncs[-1] is not None
    assert (r_loc.inserted, r_loc.updated) == (5, 5), r_loc.message
    assert (r_twin.inserted, r_twin.updated) == (5, 5), r_twin.message
    assert split == [5, 5]
    assert _table(loc) == _table(twin)
    got = {r[1]: r for r in _table(loc)}
    assert got[6][2] == (61.0, 1.0) and got[6][3] == "b"
    assert loc.get_rowcount() == twin.get_rowcount() == 45


@pytest.mark.parametrize("path", ["dpp", "stats"])
def test_spark_diff_sees_null_positions(spark, instance_dir, local_syncs,
                                        path):
    """Same-keyed rows that differ only in where a null sits — between
    two same-typed columns, or among an array's elements — are updates
    on the Spark diff (the DPP path, and the stats path a full-scan sync
    takes) as on the driver-side sync, and both store the same rows."""
    loc, twin = _twins(spark, instance_dir, f"nullpos_{path}", columns=COLS)

    def frame(a, b, arr):
        return pd.DataFrame({
            "dt": [dtm(2024, 1, 1, 1), dtm(2024, 1, 1, 2)], "id": [1, 2],
            "a": pd.array(a, "Int64"), "b": pd.array(b, "Int64"),
            "arr": pd.arrays.ArrowExtensionArray(
                pa.array(arr, pa.list_(pa.int64())))})

    _sync_both(spark, loc, twin, frame([5, 7], [None, 7], [[1, 2], [1, None]]))
    fix = frame([None, 7], [5, 7], [[1, 2], [None, 1]])
    r_loc = loc.sync(fix)
    r_twin = twin.sync(mdf.to_spark_df(spark, fix, twin.dtypes)[0],
                       force_full_scan=path == "stats")
    assert local_syncs[-1] is not None
    assert (r_loc.inserted, r_loc.updated) == (0, 2), r_loc.message
    assert (r_twin.inserted, r_twin.updated) == (0, 2), r_twin.message
    assert _table(loc) == _table(twin)
    got = {r["id"]: (r["a"], r["b"], r["arr"]) for r in twin.get_data().collect()}
    assert got == {1: (None, 5, [1, 2]), 2: (7, 7, [None, 1])}


def test_arrow_list_with_null_list_syncs(spark, instance_dir, local_syncs):
    """A pandas batch whose Arrow-backed list column holds a null list
    syncs — as a new table, then through the driver-side sync — and the
    null is stored as null, not as an empty list."""
    pipe = Pipe("local", "nulllist", instance=instance_dir, spark=spark,
                columns=COLS)

    def frame(ids, tags):
        return pd.DataFrame({
            "dt": [dtm(2024, 1, 1, i) for i in ids], "id": ids,
            "tags": pd.arrays.ArrowExtensionArray(
                pa.array(tags, pa.list_(pa.int64())))})

    r1 = pipe.sync(frame([1, 2, 3], [[1, 2], None, []]))
    assert r1.success and r1.inserted == 3, r1.message
    r2 = pipe.sync(frame([2, 3, 4], [[7], None, None]))
    assert local_syncs[-1] is not None
    assert (r2.inserted, r2.updated) == (1, 2), r2.message
    got = {r["id"]: r["tags"] for r in pipe.get_data().collect()}
    assert got == {1: [1, 2], 2: [7], 3: None, 4: None}


def test_local_sync_null_nan_negative_zero(spark, instance_dir, local_syncs):
    """Null, NaN and -0.0 in a key column and in a value column: null
    matches null, NaN matches NaN, -0.0 matches 0.0 (the Spark join and
    fingerprint rules); a changed value is an update."""
    loc, twin = _twins(spark, instance_dir, "nan",
                       columns={"datetime": "dt", "id": "fk"})
    nan = float("nan")

    def frame(rows):
        return pd.DataFrame({
            "dt": [dtm(2024, 1, d) for d, _, _ in rows],
            "fk": pd.arrays.ArrowExtensionArray(
                pa.array([k for _, k, _ in rows], pa.float64())),
            "v": pd.arrays.ArrowExtensionArray(
                pa.array([v for _, _, v in rows], pa.float64())),
        })
    _sync_both(spark, loc, twin, frame([
        (1, None, 1.0), (2, nan, 2.0), (3, 0.0, 3.0), (4, 4.0, nan),
        (5, 5.0, -0.0), (6, 6.0, None), (7, -0.0, 7.0)]))
    r_loc, r_twin = _sync_both(spark, loc, twin, frame([
        (1, None, 11.0),   # null key matches: update
        (2, nan, 2.0),     # NaN key matches, same value: unchanged
        (3, -0.0, 3.0),    # -0.0 key matches 0.0: unchanged
        (4, 4.0, nan),     # NaN value equals NaN: unchanged
        (5, 5.0, 0.0),     # 0.0 equals -0.0: unchanged
        (6, 6.0, nan),     # null -> NaN: update
        (7, 0.0, -0.0),    # 0.0 key matches -0.0, 7.0 -> -0.0: update
        (8, nan, None),    # unseen
    ]))
    assert local_syncs[-1] is not None
    assert (r_loc.inserted, r_loc.updated) == (1, 3), r_loc.message
    assert (r_twin.inserted, r_twin.updated) == (1, 3), r_twin.message
    assert _table(loc) == _table(twin)
    # unordered: a NaN in the float sort column declines the ordered
    # driver-local read
    assert sorted(_local_read(loc, order=None)) == \
        sorted(_local_read(twin, order=None))


def _arrow_col(values, typ):
    """An Arrow-backed pandas column: list values stay arrays (an object
    column of lists is sniffed as json) and NaN stays apart from null."""
    return pd.arrays.ArrowExtensionArray(pa.array(values, typ))


def _zoo(ids, shift=0):
    """FIXTURES F3 rows: every special dtype, nulls included, plus a
    string array."""
    ids = list(ids)
    df = pd.DataFrame([{
        "dt": dtm(2024, 1, 1 + i % 3, i), "id": i,
        "json_col": None if i == 4 else {"b": i + shift, "a": [i, "x"]},
        "num_col": None if i == 5 else Decimal(f"{i - 3 + shift}.123456"),
        "uuid_col": None if i == 6 else uuid.UUID(int=i + shift),
        "bytes_col": None if i == 1 else bytes([i, 255 - i - shift]),
        "bool_col": None if i == 2 else (i + shift) % 2 == 0,
        "date_col": None if i == 3 else datetime.date(1969 + i + shift, 12, 31),
        "geom_col": None if i == 7 else f"POINT ({i + shift} {-i})",
    } for i in ids])
    df["tags"] = _arrow_col([[] if i == 0 else [f"t{i + shift}", None]
                             for i in ids], pa.list_(pa.string()))
    return df


def test_local_sync_dtype_zoo_reads_back(spark, instance_dir, local_syncs):
    """The F3 dtype zoo (json, numeric(28,6), uuid, bytes, bool, date, WKB
    geometry, arrays) corrected and inserted through the pyarrow writer
    reads back exactly like the Spark-written twin — through the
    driver-local read and through Spark's explicit-schema reader."""
    loc = Pipe("local", "zoo", instance=instance_dir, spark=spark,
               columns=COLS,
               dtypes={"num_col": "numeric(28,6)", "geom_col": "geometry"})
    first = _zoo(range(8))
    loc.sync(first)
    # a static twin keeps the local pipe's dtypes: from a Spark frame a
    # json, uuid or geometry column would register as its Spark type
    twin = Pipe("twin", "zoo", instance=instance_dir, spark=spark,
                columns=COLS, dtypes=dict(loc.dtypes),
                parameters={"static": True})
    twin.sync(mdf.to_spark_df(spark, first, loc.dtypes)[0])
    r_loc, r_twin = _sync_both(spark, loc, twin,
                               pd.concat([_zoo(range(1, 8, 2), shift=1),
                                          _zoo(range(8, 12))]))
    assert local_syncs[-1] is not None
    assert (r_loc.inserted, r_loc.updated) == (4, 4), r_loc.message
    assert (r_twin.inserted, r_twin.updated) == (4, 4), r_twin.message
    assert loc.dtypes["tags"] == "array(str)"
    assert _table(loc) == _table(twin)
    for kw in ({}, {"begin": dtm(2024, 1, 2), "end": dtm(2024, 1, 3)}):
        assert _local_read(loc, **kw) == _local_read(twin, **kw)
    names = [f.rsplit("/", 1)[-1]
             for f in loc.store._parquet_files(loc.store.data_path)]
    assert any(n.startswith("ins-") for n in names), names


def test_local_sync_rollups_and_int_axis(spark, instance_dir, local_syncs):
    """Rollup buckets computed on the driver (the update-touched bucket
    sets the maintenance recomputes) match the Spark diff's, on the
    datetime axis and on an integer epoch axis."""
    rollups = [{"name": "h", "interval": "hour", "groupby": ["g"],
                "values": ["v"]}]
    for axis in ("datetime", "int"):
        int_axis = axis == "int"
        loc, twin = _twins(
            spark, instance_dir, f"roll_{axis}", columns=COLS,
            dtypes={"dt": "int64"} if int_axis else None,
            parameters={"rollups": rollups,
                        **({"precision": {"unit": "second"}}
                           if int_axis else {})})

        def at(h, m):
            t = dtm(2024, 1, 1, h, m)
            return int(t.timestamp()) if int_axis else t
        _sync_both(spark, loc, twin, pd.DataFrame([
            {"dt": at(h, 7 * i % 60), "id": 10 * h + i, "g": i % 2,
             "v": float(i)} for h in range(4) for i in range(6)]))
        r_loc, r_twin = _sync_both(spark, loc, twin, pd.DataFrame(
            [{"dt": at(1, 7), "id": 11, "g": 1, "v": -9.0},
             {"dt": at(3, 14), "id": 32, "g": 0, "v": 99.0},
             {"dt": at(5, 0), "id": 50, "g": 0, "v": 1.0}]))
        assert local_syncs[-1] is not None
        assert (r_loc.inserted, r_loc.updated) == (1, 2), r_loc.message
        assert (r_twin.inserted, r_twin.updated) == (1, 2), r_twin.message
        assert _table(loc) == _table(twin)
        assert (sorted(map(tuple, loc.get_rollup("h").collect()))
                == sorted(map(tuple, twin.get_rollup("h").collect())))


def test_local_sync_one_publish_no_job(spark, instance_dir, local_syncs,
                                       monkeypatch):
    """A 16-new + 2-correction + 2-replay dict batch — the benchmark's
    small-sync shape — runs no Spark job and commits with exactly one
    publish; a reader after it sees every insert and correction."""
    publishes: list = []
    orig = ParquetPipeStore._publish

    def spy(self, *a, **k):
        publishes.append(self.target)
        return orig(self, *a, **k)
    monkeypatch.setattr(ParquetPipeStore, "_publish", spy)
    pipe = Pipe("local", "cadence", instance=instance_dir, spark=spark,
                columns=COLS)
    pipe.sync([{"dt": dtm(2024, 1, 1, 0, i), "id": i, "v": float(i)}
               for i in range(40)])
    batch = ([{"dt": dtm(2024, 1, 1, 1, i), "id": 100 + i, "v": 1.0}
              for i in range(16)]
             + [{"dt": dtm(2024, 1, 1, 0, i), "id": i, "v": -1.0}
                for i in (3, 7)]
             + [{"dt": dtm(2024, 1, 1, 0, i), "id": i, "v": float(i)}
                for i in (4, 8)])
    publishes.clear()
    with spark_jobs(spark, "local_cadence") as jobs:
        res = pipe.sync(batch)
    assert local_syncs[-1] is not None
    assert (res.inserted, res.updated) == (16, 2), res.message
    assert jobs() == 0, f"driver-side sync ran {jobs()} jobs"
    assert publishes == [pipe.target], publishes
    got = {r["id"]: r["v"] for r in pipe.get_data().collect()}
    assert len(got) == 56 and got[3] == got[7] == -1.0 and got[4] == 4.0


def test_local_sync_declines_take_the_spark_diff(spark, instance_dir,
                                                 local_syncs, monkeypatch):
    """A float array column, a null dt and a backtrack window above the
    gate each decline the driver-side sync; the batch then takes the
    Spark diff (its ``toArrow`` collect) with the same result. A map or
    struct column cannot reach it from a local batch (both are stored
    as strings), so its type gate is checked directly."""
    assert not _driver_comparable(T.MapType(T.StringType(), T.LongType()))
    assert not _driver_comparable(T.StructType([T.StructField("a",
                                                              T.LongType())]))
    assert not _driver_comparable(T.ArrayType(T.DoubleType()))
    assert not _driver_comparable(T.ArrayType(T.TimestampType()))
    assert not _driver_comparable(T.TimestampNTZType())
    assert _driver_comparable(T.ArrayType(T.ArrayType(T.LongType())))
    assert _driver_comparable(T.DecimalType(28, 6))

    spark_diffs: list = []
    orig = Pipe._fused_local_diff
    monkeypatch.setattr(Pipe, "_fused_local_diff", lambda self, *a: (
        spark_diffs.append(1) or orig(self, *a)))

    def declined(pipe, rows):
        local_syncs.clear()
        spark_diffs.clear()
        with spark_jobs(spark, f"declined_{pipe.target}") as jobs:
            res = pipe.sync(rows)
        assert local_syncs == [None] and spark_diffs == [1]
        assert jobs() >= 1
        return res

    emb = Pipe("local", "emb", instance=instance_dir, spark=spark,
               columns=COLS)

    def embs(rows):
        return pd.DataFrame({
            "dt": [dtm(2024, 1, 1, h) for h, _, _ in rows],
            "id": [i for _, i, _ in rows],
            "e": _arrow_col([e for _, _, e in rows], pa.list_(pa.float64()))})
    emb.sync(embs([(i, i, [float(i), -0.0]) for i in range(3)]))
    assert emb.dtypes["e"] == "array(float64)"
    res = declined(emb, embs([(1, 1, [1.0, -0.0]), (2, 2, [9.0, -0.0]),
                              (5, 5, [5.0])]))
    assert (res.inserted, res.updated) == (1, 1), res.message

    nulls = Pipe("local", "nulldt", instance=instance_dir, spark=spark,
                 columns=COLS)
    nulls.sync([{"dt": dtm(2024, 1, 1, i), "id": i, "v": 1.0}
                for i in range(3)])
    res = declined(nulls, [{"dt": None, "id": 9, "v": 1.0},
                           {"dt": dtm(2024, 1, 1, 1), "id": 1, "v": 2.0}])
    assert (res.inserted, res.updated) == (1, 1), res.message
    assert nulls.get_rowcount() == 4

    wide = Pipe("local", "wide", instance=instance_dir, spark=spark,
                columns=COLS)
    wide.sync([{"dt": dtm(2024, 1, 1, 0, i), "id": i, "v": 1.0}
               for i in range(20)])
    monkeypatch.setattr(Pipe, "_LOCAL_FUSED_ROWS", 5)
    res = declined(wide, [{"dt": dtm(2024, 1, 1, 0, i), "id": i, "v": 2.0}
                          for i in (0, 19)])
    assert (res.inserted, res.updated) == (0, 2), res.message
    assert sorted(r["v"] for r in wide.get_data().collect()) == \
        [1.0] * 18 + [2.0] * 2


def test_small_rowcount_runs_no_spark_job(spark, instance_dir, monkeypatch):
    """A bounded ``get_rowcount`` whose window the driver-local read
    serves counts on the driver with no Spark job, and agrees with the
    Spark count that a window above the gate takes."""
    pipe = Pipe("local", "count", instance=instance_dir, spark=spark,
                columns=COLS, parameters={"verify": {"chunk_minutes": 60}})
    n = Pipe._LOCAL_FUSED_ROWS + 808
    src = spark.range(n).select(
        F.expr("timestamp_micros(1704067200000000 + id * 1000000)")
        .alias("dt"), F.col("id"), (F.col("id") % 3).alias("kind"))
    assert pipe.sync(src).inserted == n
    window = {"begin": dtm(2024, 1, 1, 0, 10), "end": dtm(2024, 1, 1, 0, 30),
              "params": {"kind": [1]}}
    with spark_jobs(spark, "small_rowcount") as jobs:
        small = pipe.get_rowcount(**window)
    assert jobs() == 0, f"small rowcount ran {jobs()} jobs"
    whole = {"begin": dtm(2024, 1, 1), "end": dtm(2024, 1, 2)}
    with spark_jobs(spark, "large_rowcount") as jobs:
        large = pipe.get_rowcount(**whole)
    assert jobs() >= 1
    assert large == n
    with monkeypatch.context() as m:
        m.setattr(Pipe, "_LOCAL_FUSED_ROWS", 0)
        assert small == pipe.get_rowcount(**window) == 400


def test_enforce_false_struct_and_map_read_back(spark, instance_dir):
    """With ``enforce=False`` a struct or map column is stored as the
    string its registered dtype names, as with ``enforce=True``; stored
    as itself, no read could load it back."""
    src = (spark.range(3)
           .select(F.expr("timestamp_micros(1704067200000000 + id)")
                   .alias("dt"), F.col("id"))
           .withColumn("st", F.struct(F.col("id").alias("a"),
                                      F.lit("x").alias("b")))
           .withColumn("mp", F.create_map(F.lit("k"), F.col("id"))))
    got = []
    for enforce in (True, False):
        pipe = Pipe("enforce", str(enforce), instance=instance_dir,
                    spark=spark, columns=COLS,
                    parameters={"enforce": enforce})
        assert pipe.sync(src).success
        assert pipe.dtypes["st"] == pipe.dtypes["mp"] == "str"
        got.append(sorted(tuple(r) for r in pipe.get_data().collect()))
    assert got[0] == got[1]
    assert isinstance(got[1][0][2], str) and isinstance(got[1][0][3], str)
