"""Export surface + maintenance ops (optimize/vacuum) round-trips."""

import datetime
import json
import os
import tempfile
import time
from decimal import Decimal

import pandas as pd
import pytest

from meerschaum_spark import export as E
from meerschaum_spark.pipe import Pipe

UTC = datetime.timezone.utc


def dtm(*args):
    return datetime.datetime(*args, tzinfo=UTC)


def test_json_rows_canonical(spark):
    df = spark.createDataFrame(
        [(1, dtm(2024, 1, 1, 12, 30), Decimal("1.50"), b"\x00\x01")],
        "id long, dt timestamp, num decimal(10,2), blob binary")
    [row] = E.df_to_json_rows(df)
    doc = json.loads(row)
    assert doc["dt"].startswith("2024-01-01T12:30:00")
    assert doc["num"] == "1.50"
    assert doc["blob"] == "AAE="
    # keys sorted (canonical)
    assert list(doc.keys()) == sorted(doc.keys())


def test_iter_json_docs(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(5)],
                               "id long, v double")
    docs = list(E.iter_json_docs(df))
    assert len(docs) == 5 and docs[0].keys() == {"id", "v"}


def test_write_csv_and_json(spark):
    df = spark.createDataFrame(
        [(1, dtm(2024, 1, 1), [1, 2], b"ab")],
        "id long, dt timestamp, arr array<int>, blob binary")
    with tempfile.TemporaryDirectory() as d:
        E.write_csv(df, os.path.join(d, "csv"))
        back = spark.read.option("header", "true").csv(os.path.join(d, "csv"))
        row = back.first()
        assert row["arr"] == "[1,2]"
        assert row["blob"] == "YWI="
        E.write_json(df, os.path.join(d, "json"))
        jback = spark.read.json(os.path.join(d, "json"))
        assert jback.count() == 1


def test_optimize_compacts_small_files(spark, instance_dir):
    pipe = Pipe("maint", "opt", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"})
    # several appends → several files in one partition
    for i in range(4):
        pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 1 + i), "id": 1,
                                 "val": i}]), check_existing=False)
    part_dir = next(
        os.path.join(pipe.store.data_path, d)
        for d in os.listdir(pipe.store.data_path) if d.startswith("_mrsm_part="))
    files_before = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
    assert len(files_before) > 1
    n = pipe.optimize()
    assert n >= 1
    files_after = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
    assert len(files_after) < len(files_before)
    assert pipe.get_rowcount() == 4  # content unchanged


def test_vacuum_removes_stale_staging(spark, instance_dir):
    pipe = Pipe("maint", "vac", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"})
    pipe.sync(pd.DataFrame([{"dt": dtm(2024, 1, 1), "id": 1, "val": 1}]))
    stale = os.path.join(pipe.store.path, "_staging_deadbeef")
    os.makedirs(stale)
    old = time.time() - 100_000
    os.utime(stale, (old, old))
    fresh = os.path.join(pipe.store.path, "_staging_fresh001")
    os.makedirs(fresh)
    assert pipe.vacuum() == 1
    assert not os.path.isdir(stale)
    assert os.path.isdir(fresh)  # young staging dirs are left alone


def test_analyze_statistics(spark, instance_dir):
    """analyze() reports per-column count/null/distinct/min-max stats from
    one aggregation job (reference maintenance analyze action)."""
    import datetime

    import pandas as pd

    from meerschaum_spark.pipe import Pipe

    UTC = datetime.timezone.utc
    pipe = Pipe("maint", "stats", instance=instance_dir, spark=spark,
                columns={"datetime": "dt", "id": "id"})
    pipe.sync(pd.DataFrame([
        {"dt": datetime.datetime(2024, 1, 1, tzinfo=UTC), "id": 1, "val": 10.0},
        {"dt": datetime.datetime(2024, 1, 2, tzinfo=UTC), "id": 2, "val": None},
        {"dt": datetime.datetime(2024, 1, 3, tzinfo=UTC), "id": 3, "val": 30.0},
    ]))
    stats = pipe.analyze()
    assert stats["val"]["rows"] == 3
    assert stats["val"]["nulls"] == 1
    assert stats["val"]["min"] == 10.0 and stats["val"]["max"] == 30.0
    assert stats["id"]["approx_distinct"] >= 2
    assert pipe.analyze(columns=["id"]).keys() == {"id"}
    assert Pipe("maint", "none", instance=instance_dir,
                spark=spark).analyze() == {}


def test_prune_retention(spark, instance_dir, sf_dir):
    """pipe.prune drops rows older than the window relative to the
    NEWEST stored timestamp (not wall clock), maintains partitions, and
    accepts grammar strings / timedeltas / int-axis unit counts."""
    import datetime

    from pyspark.sql import functions as F

    from meerschaum_spark.sources import load_table
    from meerschaum_spark.pipe import Pipe

    events = load_table(spark, sf_dir, "events")
    pipe = Pipe("maint", "prune", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "event_id"})
    pipe.sync(events)
    newest = pipe.get_sync_time()
    keep = datetime.timedelta(days=10)
    expect_kept = events.filter(F.col("ts") >= newest - keep).count()
    removed = pipe.prune("10 days")
    assert pipe.get_rowcount() == expect_kept
    assert removed == events.count() - expect_kept
    # idempotent: nothing newer got dropped
    assert pipe.prune(keep) == 0

    # integer axis: keep last 5 units
    p2 = Pipe("maint", "prune_int", instance=instance_dir, spark=spark,
              columns={"datetime": "k", "id": "k"},
              parameters={"precision": {"unit": "second"}},
              dtypes={"k": "int64"})
    p2.sync([{"k": i} for i in range(10)])
    assert p2.prune(5) == 4  # keeps k in [4, 9]
    assert p2.get_rowcount() == 6


def test_optimize_cluster_by_sorts_row_groups(spark, instance_dir, sf_dir):
    """optimize(cluster_by=...) rewrites partitions with rows sorted by
    the cluster keys, so parquet row-group min/max stats become
    selective (ZORDER-lite). Proof: within every rewritten file the
    row-group minima are non-decreasing and groups don't overlap."""
    import os

    import pyarrow.parquet as pq

    from meerschaum_spark.sources import load_table
    from meerschaum_spark.pipe import Pipe

    events = load_table(spark, sf_dir, "events")
    pipe = Pipe("maint", "clust", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "event_id"})
    pipe.sync(events)
    n = pipe.optimize(cluster_by=["user_id"])
    assert n >= 1
    # rowcount unchanged, data intact
    assert pipe.get_rowcount() == events.count()
    checked = 0
    for root, _dirs, files in os.walk(pipe.store.data_path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            vals = (pq.read_table(os.path.join(root, f),
                                  columns=["user_id"])
                    .column("user_id").to_pylist())
            if len(vals) > 1:
                assert vals == sorted(vals), f"{f} not clustered"
                checked += 1
    assert checked >= 1


def test_optimize_cluster_by_unknown_column_raises(spark, instance_dir,
                                                   sf_dir):
    """A typo'd cluster key must raise, not degrade to an unclustered
    full-table rewrite that reports success."""
    import pytest

    from meerschaum_spark.sources import load_table
    from meerschaum_spark.pipe import Pipe

    pipe = Pipe("maint", "clustbad", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "event_id"})
    pipe.sync(load_table(spark, sf_dir, "events").limit(100))
    with pytest.raises(KeyError):
        pipe.optimize(cluster_by=["userid"])  # typo for user_id


def test_store_replace_range_semantics(spark, tmp_path):
    """replace_range swaps a bucket-aligned window in one pass: rows
    outside the window survive untouched, emptied cells disappear from
    disk, and cells only the replacement populates are created."""
    import datetime as dt

    from pyspark.sql import functions as F

    from meerschaum_spark.store import ParquetPipeStore

    store = ParquetPipeStore(spark, str(tmp_path), "rr", dt_col="ts",
                             chunk_minutes=60)  # one cell per hour
    rows = [(dt.datetime(2024, 1, 1, h, 30), h, float(h)) for h in range(6)]
    df = spark.createDataFrame(rows, "ts timestamp, k long, v double")
    store.append(df)

    def us(h):
        return int(dt.datetime(2024, 1, 1, h).replace(
            tzinfo=dt.timezone.utc).timestamp()) * 1_000_000

    # replace hours [1, 4): hour 1 gets one new row, hour 2 is emptied,
    # hour 3 gets two rows
    new = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 1, 5), 100, 1.5),
         (dt.datetime(2024, 1, 1, 3, 5), 300, 3.5),
         (dt.datetime(2024, 1, 1, 3, 50), 301, 3.6)],
        "ts timestamp, k long, v double")
    store.replace_range(new, us(1), us(4))
    got = {(r["k"], r["v"]) for r in store.read().collect()}
    assert got == {(0, 0.0), (100, 1.5), (300, 3.5), (301, 3.6),
                   (4, 4.0), (5, 5.0)}
    # the emptied hour-2 cell is GONE from disk (no stale directory)
    import os as _os
    cells = {e.name for e in _os.scandir(store.data_path)
             if e.name.startswith("_mrsm_part=")}
    assert f"_mrsm_part={us(2) // store.width_us}" not in cells

    # replacing a window with NO stored overlap is a pure append
    far = spark.createDataFrame([(dt.datetime(2024, 2, 1, 0, 5), 999, 9.9)],
                                "ts timestamp, k long, v double")
    feb = int(dt.datetime(2024, 2, 1).replace(
        tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    store.replace_range(far, feb, feb + 3_600_000_000)
    assert store.read().filter(F.col("k") == 999).count() == 1
    assert store.read().count() == 7


@pytest.mark.parametrize("kind", ["append", "merge_files", "merge_cells",
                                  "replace_range", "overwrite"])
def test_store_write_failure_after_first_move_rolls_forward(
        spark, tmp_path, monkeypatch, kind):
    """Every store write commits through one staged publish: a failure
    right after the publish's first file move is rolled forward in
    process, so the store reads back the write's exact committed state,
    and the table dir keeps no manifest, staging dir, committer
    ``_temporary`` dir or ``_SUCCESS`` marker."""
    import datetime as dt
    import shutil

    from meerschaum_spark.store import MANIFEST_NAME, ParquetPipeStore

    schema = "ts timestamp, k long, v double"

    def at(h, m=30):
        return dt.datetime(2024, 1, 1, h, m)

    def us(h, m=0):
        return int(at(h, m).replace(
            tzinfo=dt.timezone.utc).timestamp()) * 1_000_000

    def frame(*rows):
        return spark.createDataFrame(list(rows), schema)

    store = ParquetPipeStore(spark, str(tmp_path), "wf", dt_col="ts",
                             chunk_minutes=60)  # one cell per hour
    store.append(frame(*[(at(h), h, float(h)) for h in range(6)]))
    # a second file in the hour-1 cell: the file-pruned merge keeps it
    [beside] = store.append(frame((at(1, 10), 10, 10.0)))
    state = {(h, float(h)) for h in range(6)} | {(10, 10.0)}
    ops = {
        "append": (
            lambda: store.append(frame((at(6), 6, 6.0), (at(7), 7, 7.0))),
            state | {(6, 6.0), (7, 7.0)}),
        "merge_files": (
            lambda: store.merge(frame((at(1), 1, -1.0)), ["ts", "k"],
                                begin_us=us(1, 20), end_us=us(1, 40)),
            state - {(1, 1.0)} | {(1, -1.0)}),
        "merge_cells": (
            lambda: store.merge(frame((at(2), 2, -2.0)), ["ts", "k"],
                                parts=[us(2) // store.width_us]),
            state - {(2, 2.0)} | {(2, -2.0)}),
        "replace_range": (
            lambda: store.replace_range(frame((at(1, 5), 100, 1.5)),
                                        us(1), us(3)),
            {(0, 0.0), (3, 3.0), (4, 4.0), (5, 5.0), (100, 1.5)}),
        "overwrite": (
            lambda: store.overwrite(frame((at(9), 9, 9.0))), {(9, 9.0)}),
    }
    write, expected = ops[kind]

    real_move, moved = shutil.move, []

    def move_then_fail_once(src, dst):
        real_move(src, dst)
        moved.append(dst)
        if len(moved) == 1:
            raise OSError("injected failure after the first move")

    monkeypatch.setattr(shutil, "move", move_then_fail_once)
    with pytest.raises(OSError, match="injected"):
        write()
    assert {(r["k"], r["v"]) for r in store.read().collect()} == expected
    if kind == "merge_files":
        assert os.path.isfile(beside), "file pruning rewrote an untouched file"
    leftovers = [os.path.join(d, n)
                 for d, dirs, files in os.walk(store.path)
                 for n in dirs + files
                 if n in (MANIFEST_NAME, "_temporary", "_SUCCESS")
                 or n.startswith("_staging_")]
    assert not leftovers


def test_optimize_zorder_improves_trailing_key_locality(spark, instance_dir):
    """optimize(zorder=True) interleaves the cluster keys: under a plain
    lexicographic (x, y) sort every consecutive chunk of rows spans the
    FULL y range (stats on y prune nothing), while the Morton layout
    keeps both axes local — chunk y-extents (the row-group-pruning
    proxy) must shrink by at least 2x. Also: identical rows, no helper
    column leaks into the written schema."""
    import os

    import pyarrow.parquet as pq

    from meerschaum_spark.pipe import Pipe

    rows = [{"k": i, "x": i % 64, "y": i // 64} for i in range(4096)]

    def build(name, **opt_kwargs):
        p = Pipe("maint", name, instance=instance_dir, spark=spark,
                 columns={"datetime": "k", "id": "k"},
                 parameters={"precision": {"unit": "second"}},
                 dtypes={"k": "int64", "x": "int64", "y": "int64"})
        p.sync(rows)
        assert p.optimize(cluster_by=["x", "y"], **opt_kwargs) >= 1
        chunks = []
        for root, _d, files in os.walk(p.store.data_path):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                path = os.path.join(root, f)
                schema = pq.read_schema(path)
                assert all(not n.startswith("_z") for n in schema.names)
                ys = (pq.read_table(path, columns=["x", "y"])
                      .column("y").to_pylist())
                step = max(1, len(ys) // 16)
                for i in range(0, len(ys), step):
                    c = ys[i:i + step]
                    if len(c) > 1:
                        chunks.append(max(c) - min(c))
        assert p.get_rowcount() == 4096
        return sum(chunks) / len(chunks)

    plain = build("zplain")
    zord = build("zmorton", zorder=True)
    assert zord * 2 < plain, (plain, zord)


def test_optimize_zorder_single_key_raises(spark, instance_dir):
    import pytest

    from meerschaum_spark.pipe import Pipe

    p = Pipe("maint", "zone", instance=instance_dir, spark=spark,
             columns={"datetime": "k", "id": "k"},
             parameters={"precision": {"unit": "second"}},
             dtypes={"k": "int64", "x": "int64"})
    p.sync([{"k": i, "x": i} for i in range(10)])
    with pytest.raises(ValueError):
        p.optimize(cluster_by=["x"], zorder=True)
