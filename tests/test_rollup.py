"""Incremental rollup maintenance (continuous-aggregate analogue).

Beyond-reference scale feature: each sync recomputes only the buckets its
patch touched (scan pruned to the patch's time range) and merges them into
a side table — the TimescaleDB continuous-aggregate invalidation model on
the Spark substrate. The reference has no rollup maintenance; its
TimescaleDB backend gets this from the database (SURVEY §2.9 M9 context).
"""

import datetime

from pyspark.sql import functions as F

from meerschaum_spark.pipe import Pipe
from meerschaum_spark.plans.inspect import plan_report
from meerschaum_spark.sources import load_table

ROLLUPS = [{"name": "hourly", "interval": "hour",
            "groupby": ["event_type"], "values": ["value"]}]


def _expected_hourly(stored):
    return (
        stored.groupBy(F.date_trunc("hour", "ts").alias("ts"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum(F.col("value").cast("decimal(18,6)"))
             .cast("decimal(28,6)").alias("sum_value"),
             F.min("value").alias("min_value"),
             F.max("value").alias("max_value"))
    )


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_rollup_tracks_syncs_updates_clear_dedup(spark, instance_dir, sf_dir):
    events = load_table(spark, sf_dir, "events").persist()
    try:
        pipe = Pipe("roll", "ev", instance=instance_dir, spark=spark,
                    columns={"datetime": "ts", "id": "event_id"},
                    parameters={"rollups": ROLLUPS})
        cut = datetime.datetime(2024, 1, 15)
        pipe.sync(events.filter(F.col("ts") < F.lit(cut)))
        # overlapping second batch (late-data shape)
        pipe.sync(events.filter(
            F.col("ts") >= F.lit(cut) - datetime.timedelta(days=2)))
        # update one row through the diff path — its bucket must recompute
        row = events.orderBy("ts", "event_id").limit(1).collect()[0].asDict()
        row["value"] = -5.0
        res = pipe.sync([row])
        assert res.updated == 1
        got = _rows(pipe.get_rollup("hourly"))
        assert got == _rows(_expected_hourly(pipe.get_data(order=None)))
        # the mutated bucket really carries the new min
        bucket = datetime.datetime(row["ts"].year, row["ts"].month,
                                   row["ts"].day, row["ts"].hour)
        mb = (pipe.get_rollup("hourly")
              .filter((F.col("ts") == F.lit(bucket))
                      & (F.col("event_type") == row["event_type"]))
              .collect())
        assert mb and float(mb[0]["min_value"]) == -5.0

        # bounded clear: affected buckets recompute, empty buckets vanish
        pipe.clear(begin=datetime.datetime(2024, 1, 10),
                   end=datetime.datetime(2024, 1, 12))
        assert _rows(pipe.get_rollup("hourly")) == _rows(
            _expected_hourly(pipe.get_data(order=None)))

        # dedup rebuilds
        pipe.deduplicate()
        assert _rows(pipe.get_rollup("hourly")) == _rows(
            _expected_hourly(pipe.get_data(order=None)))
    finally:
        events.unpersist()


def test_rollup_maintenance_scan_is_bounded(spark, instance_dir, sf_dir):
    """The scale contract: the per-sync recompute scan prunes to the
    patch-touched partition range — maintenance cost follows the patch's
    time span, not table history."""
    events = load_table(spark, sf_dir, "events")
    pipe = Pipe("roll", "evp", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "event_id"},
                parameters={"rollups": ROLLUPS,
                            "verify": {"chunk_minutes": 1440}})
    pipe.sync(events)
    conf = pipe._rollup_confs[0]
    day_us = 86_400_000_000
    b0 = int(datetime.datetime(2024, 1, 10).timestamp()) * 1_000_000
    part = pipe._rollup_compute(conf, b0, b0 + day_us)
    r = plan_report(part)
    assert r["partition_filters"] and "_mrsm_part" in r["partition_filters"][0]
    # the bucket agg shuffles once (the groupBy), nothing more
    assert r["shuffles"] <= 1


def test_rollup_int_axis(spark, instance_dir):
    """Integer epoch axes bucket by floor-multiples of the interval."""
    rows = [{"k": i, "v": float(i)} for i in range(10)]
    pipe = Pipe("roll", "intax", instance=instance_dir, spark=spark,
                columns={"datetime": "k", "id": "k"},
                parameters={"precision": {"unit": "second"},
                            "rollups": [{"name": "m", "interval": "minute",
                                         "values": ["v"]}]},
                dtypes={"k": "int64"})
    pipe.sync(rows)
    out = {(r["k"], r["n_rows"]) for r in pipe.get_rollup("m").collect()}
    assert out == {(0, 10)}
    pipe.sync([{"k": 61, "v": 1.0}])
    out = {(r["k"], r["n_rows"]) for r in pipe.get_rollup("m").collect()}
    assert out == {(0, 10), (60, 1)}


def test_rollup_upsert_and_nodiff_paths(spark, instance_dir, sf_dir):
    """The upsert and check_existing=False write paths maintain rollups
    through their Observation bounds too."""
    events = load_table(spark, sf_dir, "events").limit(200).persist()
    try:
        pipe = Pipe("roll", "ups", instance=instance_dir, spark=spark,
                    columns={"datetime": "ts", "id": "event_id"},
                    parameters={"rollups": ROLLUPS, "upsert": True})
        pipe.sync(events)
        pipe.sync(events)  # idempotent merge
        assert _rows(pipe.get_rollup("hourly")) == _rows(
            _expected_hourly(pipe.get_data(order=None)))

        pipe2 = Pipe("roll", "nodiff", instance=instance_dir, spark=spark,
                     columns={"datetime": "ts", "id": "event_id"},
                     parameters={"rollups": ROLLUPS})
        pipe2.sync(events)
        pipe2.sync(events.limit(50), check_existing=False)  # dup append
        assert _rows(pipe2.get_rollup("hourly")) == _rows(
            _expected_hourly(pipe2.get_data(order=None)))
    finally:
        events.unpersist()


def test_rollup_groupby_change_no_stranded_bucket(spark, instance_dir):
    """A diff-path update that CHANGES a groupby column empties its old
    (bucket, group) combo — the maintenance recompute must delete the
    stale combo row, not leave it behind (a merge-only publish would:
    the recomputed part simply lacks the emptied combo's key, so merge
    never touches it and get_rollup serves phantom aggregates)."""
    import datetime as dt
    rows = [
        {"ts": dt.datetime(2024, 1, 1, 0, 15), "event_id": 1,
         "event_type": "A", "value": 1.0},
        {"ts": dt.datetime(2024, 1, 1, 0, 45), "event_id": 2,
         "event_type": "B", "value": 2.0},
    ]
    pipe = Pipe("roll", "strand", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "event_id"},
                parameters={"rollups": ROLLUPS})
    pipe.sync(rows)
    before = {r["event_type"] for r in pipe.get_rollup("hourly").collect()}
    assert before == {"A", "B"}
    # move the only "A" row to group "B" (event_type is NOT an index col,
    # so this rides the update path); the (bucket, "A") combo is now empty
    res = pipe.sync([{"ts": dt.datetime(2024, 1, 1, 0, 15), "event_id": 1,
                      "event_type": "B", "value": 1.0}])
    assert res.updated == 1
    got = _rows(pipe.get_rollup("hourly"))
    assert got == _rows(_expected_hourly(pipe.get_data(order=None)))
    assert not any(r[1] == "A" for r in got)


def test_rollup_configured_midlife_builds_full_history(spark, instance_dir):
    """Enabling a rollup on a pipe that ALREADY holds history must build
    every historical bucket on the first maintenance pass, not just the
    buckets the triggering patch touched."""
    import datetime as dt
    pipe = Pipe("roll", "midlife", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "event_id"})
    pipe.sync([{"ts": dt.datetime(2024, 1, 1, 3, 0), "event_id": 1,
                "event_type": "A", "value": 1.0},
               {"ts": dt.datetime(2024, 1, 2, 9, 0), "event_id": 2,
                "event_type": "B", "value": 2.0}])
    pipe.parameters["rollups"] = ROLLUPS
    # the triggering patch touches only one NEW bucket; history must
    # appear in the rollup anyway
    pipe.sync([{"ts": dt.datetime(2024, 1, 3, 5, 0), "event_id": 3,
                "event_type": "A", "value": 3.0}])
    assert _rows(pipe.get_rollup("hourly")) == _rows(
        _expected_hourly(pipe.get_data(order=None)))
    assert pipe.get_rollup("hourly").count() == 3


def test_rollup_null_dt_rows_force_refresh(spark, instance_dir):
    """A batch carrying null-dt rows must not leave the null bucket out
    of the rollup (the Observation min/max skip nulls)."""
    import datetime as dt
    rows = [
        {"ts": dt.datetime(2024, 1, 1, 0, 30), "event_id": 1, "v": 1.0},
        {"ts": None, "event_id": 2, "v": 2.0},
    ]
    pipe = Pipe("roll", "nulls", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "event_id"},
                parameters={"rollups": [{"name": "hourly",
                                         "interval": "hour",
                                         "values": ["v"]}],
                            "null_indices": True})
    pipe.sync(rows)
    got = {(r["ts"], r["n_rows"]) for r in pipe.get_rollup("hourly").collect()}
    assert (None, 1) in got
    assert (dt.datetime(2024, 1, 1, 0, 0), 1) in got


def test_concurrent_syncs_with_rollups(spark, instance_dir, sf_dir):
    """Two threads syncing DISJOINT time slices of one pipe concurrently:
    the write lock serializes partition swaps and rollup merges, so the
    final table and rollup must equal a serial full rebuild."""
    import datetime as dt
    from concurrent.futures import ThreadPoolExecutor

    events = load_table(spark, sf_dir, "events").persist()
    try:
        pipe = Pipe("roll", "conc", instance=instance_dir, spark=spark,
                    columns={"datetime": "ts", "id": "event_id"},
                    parameters={"rollups": ROLLUPS})
        cut = dt.datetime(2024, 1, 15)
        lo = events.filter(F.col("ts") < F.lit(cut))
        hi = events.filter(F.col("ts") >= F.lit(cut))
        with ThreadPoolExecutor(max_workers=2) as ex:
            futs = [ex.submit(pipe.sync, b) for b in (lo, hi)]
            results = [f.result(timeout=300) for f in futs]
        assert all(r.success for r in results)
        assert pipe.get_rowcount() == events.count()
        assert _rows(pipe.get_rollup("hourly")) == _rows(
            _expected_hourly(pipe.get_data(order=None)))
    finally:
        events.unpersist()


def test_rollup_gapfill(spark, instance_dir, sf_dir):
    """get_rollup(gapfill=True) densifies the bucket spine: buckets
    emptied by a bounded clear reappear with n_rows=0 and NULL sums."""
    import datetime as dt
    events = load_table(spark, sf_dir, "events").persist()
    try:
        pipe = Pipe("roll", "gap", instance=instance_dir, spark=spark,
                    columns={"datetime": "ts", "id": "event_id"},
                    parameters={"rollups": ROLLUPS})
        pipe.sync(events)
        b0 = dt.datetime(2024, 1, 3)
        b1 = dt.datetime(2024, 1, 4)
        pipe.clear(begin=b0, end=b1)
        sparse = pipe.get_rollup("hourly")
        dense = pipe.get_rollup("hourly", gapfill=True)
        # cleared buckets absent from the sparse read, zero-filled in
        # the dense one
        assert sparse.filter((F.col("ts") >= b0)
                             & (F.col("ts") < b1)).count() == 0
        gap = dense.filter((F.col("ts") >= b0) & (F.col("ts") < b1))
        assert gap.count() > 0
        assert gap.filter(F.col("n_rows") != 0).count() == 0
        assert gap.filter(F.col("sum_value").isNotNull()).count() == 0
        # observed buckets identical in both reads
        obs = {tuple(r) for r in sparse.collect()}
        dobs = {tuple(r) for r in dense.filter(F.col("n_rows") > 0).collect()}
        assert obs == dobs
    finally:
        events.unpersist()


def test_rollup_maintenance_under_concurrent_syncs(spark, instance_dir):
    """Bucket-scoped rollup maintenance stays exact when 6 threads sync
    interleaved batches concurrently: after the storm, the incrementally
    maintained rollup equals a from-scratch rebuild (the r6 strand-fix
    plus the write-lock serialization, under real contention)."""
    import datetime as dtm
    from concurrent.futures import ThreadPoolExecutor

    import pandas as pd

    from meerschaum_spark.pipe import Pipe

    pipe = Pipe("conc", "rollup_stress", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "id"},
                parameters={"rollups": [{"name": "hourly",
                                         "interval": "hour",
                                         "groupby": ["kind"],
                                         "values": ["v"]}]})
    base = dtm.datetime(2024, 3, 1)

    def batch(worker: int):
        return pd.DataFrame([
            {"ts": base + dtm.timedelta(minutes=i * 11 + worker),
             "id": worker * 1000 + i,
             "kind": "a" if (i + worker) % 2 else "b",
             "v": float(worker + i)}
            for i in range(30)])

    with ThreadPoolExecutor(max_workers=6) as pool:
        results = list(pool.map(lambda w: pipe.sync(batch(w)), range(6)))
    assert all(r.success for r in results)
    assert pipe.get_rowcount() == 180

    maintained = {(r["ts"], r["kind"]): (r["n_rows"], r["sum_v"])
                  for r in pipe.get_rollup("hourly").collect()}
    pipe.refresh_rollup("hourly")  # full rebuild from storage
    rebuilt = {(r["ts"], r["kind"]): (r["n_rows"], r["sum_v"])
               for r in pipe.get_rollup("hourly").collect()}
    assert maintained == rebuilt
    assert sum(c for c, _ in rebuilt.values()) == 180


def test_rollup_delta_path_matches_recompute(spark, instance_dir):
    """r8 incremental-view-maintenance: insert-only driver-local syncs
    fold the patch into the rollup rows (delta) instead of recomputing
    buckets from the base table. The delta-maintained rollup must be
    value-identical to a full rebuild after every batch — including
    batches that extend an EXISTING bucket, open new buckets, carry
    several groups, and one later UPDATE (which must route back through
    the recompute path)."""
    pipe = Pipe("roll", "delta", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "id"},
                parameters={"rollups": [{"name": "hourly",
                                         "interval": "hour",
                                         "groupby": ["g"],
                                         "values": ["v"]}]})
    t0 = datetime.datetime(2024, 3, 1, 10, 0)

    def rows_of(df):
        return sorted((r["ts"], r["g"], r["n_rows"],
                       float(r["sum_v"]), r["min_v"], r["max_v"])
                      for r in df.collect())

    def expected():
        base = pipe.get_data(order=None)
        return rows_of(
            base.groupBy(F.date_trunc("hour", "ts").alias("ts"), "g")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.col("v").cast("decimal(18,6)"))
                 .cast("decimal(28,6)").alias("sum_v"),
                 F.min("v").alias("min_v"), F.max("v").alias("max_v")))

    batches = [
        # seed: two groups across two buckets
        [{"ts": t0, "id": 1, "g": "a", "v": 3.0},
         {"ts": t0 + datetime.timedelta(minutes=40), "id": 2, "g": "b",
          "v": 5.5},
         {"ts": t0 + datetime.timedelta(hours=1), "id": 3, "g": "a",
          "v": -2.0}],
        # extend an existing bucket (new min for g=a) + open a new bucket
        [{"ts": t0 + datetime.timedelta(minutes=5), "id": 4, "g": "a",
          "v": -9.0},
         {"ts": t0 + datetime.timedelta(hours=3), "id": 5, "g": "b",
          "v": 1.25}],
        # new group in an old bucket
        [{"ts": t0 + datetime.timedelta(minutes=6), "id": 6, "g": "c",
          "v": 7.0}],
    ]
    for batch in batches:
        res = pipe.sync(batch)
        assert res.success and res.updated == 0
        assert rows_of(pipe.get_rollup("hourly")) == expected()

    # an update must NOT blind-fold into the delta (retraction needed):
    # its bucket recomputes — bucket-scoped since r8 — and the rollup
    # still matches a full rebuild
    res = pipe.sync([{"ts": t0, "id": 1, "g": "a", "v": 100.0}])
    assert res.updated == 1
    assert rows_of(pipe.get_rollup("hourly")) == expected()


def _hourly_expected(pipe):
    base = pipe.get_data(order=None)
    return sorted(
        (r["ts"], r["g"], r["n_rows"], float(r["sum_v"]),
         r["min_v"], r["max_v"])
        for r in base.groupBy(F.date_trunc("hour", "ts").alias("ts"), "g")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum(F.col("v").cast("decimal(18,6)"))
             .cast("decimal(28,6)").alias("sum_v"),
             F.min("v").alias("min_v"), F.max("v").alias("max_v"))
        .collect())


def _hourly_rows(pipe):
    return sorted((r["ts"], r["g"], r["n_rows"], float(r["sum_v"]),
                   r["min_v"], r["max_v"])
                  for r in pipe.get_rollup("hourly").collect())


def test_rollup_update_sync_bucket_scoped(spark, instance_dir, monkeypatch):
    """r8 hybrid maintenance: a mixed insert+update sync recomputes ONLY
    the update-touched buckets (observed via the diff job's collect_set
    metric) and delta-folds the insert-only remainder — never the whole
    patch window. Verified two ways: the window-recompute entry points
    are spied to assert they DON'T run, and the rollup stays
    value-identical to a full rebuild (scattered updates, a groupby
    change, and an update-only sync included)."""
    pipe = Pipe("roll", "hybrid", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "id"},
                parameters={"rollups": [{"name": "hourly",
                                         "interval": "hour",
                                         "groupby": ["g"],
                                         "values": ["v"]}],
                            "verify": {"chunk_minutes": 60}})
    t0 = datetime.datetime(2024, 3, 1, 0, 0)
    seed = [{"ts": t0 + datetime.timedelta(hours=h, minutes=m),
             "id": h * 100 + m, "g": "a" if m % 2 else "b",
             "v": float(h * 10 + m)}
            for h in range(6) for m in range(0, 30, 7)]
    assert pipe.sync(seed).success
    assert _hourly_rows(pipe) == _hourly_expected(pipe)

    window_recomputes = []
    orig_one = Pipe._maintain_rollup_one
    monkeypatch.setattr(
        Pipe, "_maintain_rollup_one",
        lambda self, conf, b, e: (window_recomputes.append((b, e)),
                                  orig_one(self, conf, b, e)))
    full = []
    orig_full = Pipe._maintain_rollups
    monkeypatch.setattr(
        Pipe, "_maintain_rollups",
        lambda self, b, e: (full.append((b, e)), orig_full(self, b, e)))

    # mixed sync: 2 scattered update buckets (h=0 value change, h=3
    # groupby flip) + inserts extending h=5 and opening h=7 — the
    # window [h0, h7] spans everything, but only 2 buckets recompute
    mixed = [
        {"ts": t0, "id": 0, "g": "b", "v": -50.0},                  # update
        {"ts": t0 + datetime.timedelta(hours=3, minutes=7),
         "id": 307, "g": "b", "v": 37.0},                           # g flip
        {"ts": t0 + datetime.timedelta(hours=5, minutes=45),
         "id": 545, "g": "a", "v": 1.0},                            # insert
        {"ts": t0 + datetime.timedelta(hours=7), "id": 700, "g": "c",
         "v": 2.0},                                                 # insert
    ]
    res = pipe.sync(mixed)
    assert res.success and res.inserted == 2 and res.updated == 2
    assert not window_recomputes and not full, (
        "update sync fell back to a window recompute")
    assert _hourly_rows(pipe) == _hourly_expected(pipe)

    # update-ONLY sync (no appended files): still bucket-scoped
    res = pipe.sync([{"ts": t0, "id": 0, "g": "b", "v": 9.0}])
    assert res.updated == 1 and res.inserted == 0
    assert not window_recomputes and not full
    assert _hourly_rows(pipe) == _hourly_expected(pipe)

    # collision: an insert and an update land in the SAME cell within
    # merge slop — the merge rewrites the freshly appended file, and the
    # delta path must promote that cell's buckets into the recompute set
    # (never the whole window)
    res = pipe.sync([
        {"ts": t0 + datetime.timedelta(hours=5, minutes=45),
         "id": 545, "g": "a", "v": -3.0},                           # update
        {"ts": t0 + datetime.timedelta(hours=5, minutes=46),
         "id": 546, "g": "b", "v": 4.0},                            # insert
    ])
    assert res.updated == 1 and res.inserted == 1
    assert not window_recomputes and not full
    assert _hourly_rows(pipe) == _hourly_expected(pipe)


def test_rollup_update_bucket_cap_overflow_falls_back(
        spark, instance_dir, monkeypatch):
    """When the update-touched bucket set overflows the metric cap the
    conf takes the bounded window recompute — correctness holds at a
    coarser scan granularity."""
    monkeypatch.setattr(Pipe, "_ROLLUP_UB_CAP", 2)
    pipe = Pipe("roll", "ubcap", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "id"},
                parameters={"rollups": [{"name": "hourly",
                                         "interval": "hour",
                                         "groupby": ["g"],
                                         "values": ["v"]}]})
    t0 = datetime.datetime(2024, 3, 2, 0, 0)
    seed = [{"ts": t0 + datetime.timedelta(hours=h), "id": h, "g": "a",
             "v": float(h)} for h in range(6)]
    assert pipe.sync(seed).success
    # updates touch 4 distinct buckets > cap of 2
    res = pipe.sync([{"ts": t0 + datetime.timedelta(hours=h), "id": h,
                      "g": "a", "v": float(-h - 1)} for h in range(4)])
    assert res.updated == 4
    assert _hourly_rows(pipe) == _hourly_expected(pipe)


def test_rollup_update_bucket_scoped_int_axis(spark, instance_dir):
    """The bucket-us identity is exact on integer epoch axes too (floor
    in axis units, then scale): update syncs stay bucket-scoped and
    value-identical to a rebuild."""
    pipe = Pipe("roll", "ubint", instance=instance_dir, spark=spark,
                columns={"datetime": "k", "id": "k"},
                parameters={"precision": {"unit": "second"},
                            "rollups": [{"name": "m", "interval": "minute",
                                         "values": ["v"]}]},
                dtypes={"k": "int64"})
    pipe.sync([{"k": i, "v": float(i)} for i in range(0, 180, 13)])
    res = pipe.sync([{"k": 13, "v": 99.0},          # update bucket 0
                     {"k": 130, "v": -1.0},         # update bucket 120
                     {"k": 181, "v": 5.0}])         # insert bucket 180
    assert res.updated == 2 and res.inserted == 1
    got = sorted((r["k"], r["n_rows"], float(r["sum_v"]), r["min_v"],
                  r["max_v"]) for r in pipe.get_rollup("m").collect())
    base = pipe.get_data(order=None)
    exp = sorted(
        (r["k"], r["n_rows"], float(r["sum_v"]), r["min_v"], r["max_v"])
        for r in base.groupBy(
            (F.col("k") - F.pmod(F.col("k"), F.lit(60))).alias("k"))
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum(F.col("v").cast("decimal(18,6)"))
             .cast("decimal(28,6)").alias("sum_v"),
             F.min("v").alias("min_v"), F.max("v").alias("max_v"))
        .collect())
    assert got == exp


# ------------------------------------------------------- deferred refresh

DEFERRED_ROLLUPS = [{"name": "hourly", "interval": "hour",
                     "groupby": ["event_type"], "values": ["value"],
                     "refresh": "deferred"}]


def test_rollup_deferred_matches_eager_lifecycle(spark, instance_dir, sf_dir):
    """The deferred policy (invalidation log + flush-on-read) must be
    observably identical to eager per-sync maintenance across the whole
    mutation surface: overlapping syncs, a diff-path update, a bounded
    clear, and a dedup rebuild. Between sync and read the side table is
    allowed to be stale — the pending log carries the damage."""
    import os

    events = load_table(spark, sf_dir, "events").limit(400).persist()
    try:
        pipe = Pipe("roll", "defer", instance=instance_dir, spark=spark,
                    columns={"datetime": "ts", "id": "event_id"},
                    parameters={"rollups": DEFERRED_ROLLUPS})
        cut = datetime.datetime(2024, 1, 15)
        pipe.sync(events.filter(F.col("ts") < F.lit(cut)))
        # a sync on a deferred-only pipe must leave a pending log and NO
        # rollup store yet (zero maintenance jobs ran)
        assert os.path.isfile(pipe._rollup_pending_path())
        pipe.sync(events.filter(
            F.col("ts") >= F.lit(cut) - datetime.timedelta(days=2)))
        row = events.orderBy("ts", "event_id").limit(1).collect()[0].asDict()
        row["value"] = -5.0
        assert pipe.sync([row]).updated == 1
        # read folds the log: identical to a full recompute
        assert _rows(pipe.get_rollup("hourly")) == _rows(
            _expected_hourly(pipe.get_data(order=None)))
        # the log is drained after the flush
        assert not pipe._load_rollup_pending().get("hourly")

        # bounded clear logs a range; dedup-shaped damage logs "full"
        lo_ts = pipe.get_data(order=None).agg(F.min("ts")).first()[0]
        n_cleared = pipe.clear(begin=lo_ts,
                               end=lo_ts + datetime.timedelta(days=1))
        assert n_cleared > 0
        assert pipe._load_rollup_pending().get("hourly")
        assert _rows(pipe.get_rollup("hourly")) == _rows(
            _expected_hourly(pipe.get_data(order=None)))
        pipe.deduplicate()
        assert _rows(pipe.get_rollup("hourly")) == _rows(
            _expected_hourly(pipe.get_data(order=None)))
    finally:
        events.unpersist()


def test_rollup_deferred_log_survives_pipe_object(spark, instance_dir):
    """The invalidation log is durable instance state, not Pipe-object
    state: a fresh Pipe on the same target folds damage logged by the
    old one."""
    rows = [{"k": i, "v": float(i)} for i in range(10)]
    kw = dict(columns={"datetime": "k", "id": "k"},
              parameters={"precision": {"unit": "second"},
                          "rollups": [{"name": "m", "interval": "minute",
                                       "values": ["v"],
                                       "refresh": "deferred"}]},
              dtypes={"k": "int64"})
    p1 = Pipe("roll", "deferobj", instance=instance_dir, spark=spark, **kw)
    p1.sync(rows)
    p2 = Pipe("roll", "deferobj", instance=instance_dir, spark=spark, **kw)
    out = {(r["k"], r["n_rows"]) for r in p2.get_rollup("m").collect()}
    assert out == {(0, 10)}


def test_rollup_deferred_many_syncs_coalesce(spark, instance_dir):
    """A burst of scattered small syncs flushes as at most
    _ROLLUP_FLUSH_MAX_RANGES bounded recomputes — and is still exact."""
    kw = dict(columns={"datetime": "k", "id": "k"},
              parameters={"precision": {"unit": "second"},
                          "rollups": [{"name": "m", "interval": "minute",
                                       "values": ["v"],
                                       "refresh": "deferred"}]},
              dtypes={"k": "int64"})
    pipe = Pipe("roll", "defermany", instance=instance_dir, spark=spark, **kw)
    for i in range(24):
        # scattered minutes, far apart, written one row at a time
        pipe.sync([{"k": i * 600, "v": float(i)}])
    entries = pipe._load_rollup_pending()["m"]
    assert len(entries) == 24
    out = {(r["k"], r["n_rows"]) for r in pipe.get_rollup("m").collect()}
    assert out == {(i * 600 // 60 * 60, 1) for i in range(24)}


def test_coalesce_us_ranges_unit():
    """Range coalescing: bucket-aligns, merges overlaps/adjacency, and
    caps the count by merging closest-gap pairs first."""
    W = 60_000_000  # one minute in µs
    f = Pipe._coalesce_us_ranges
    # overlap + adjacency merge
    got = f([[0, W], [W, 2 * W], [5 * W, 6 * W]], W, 16)
    assert got == [(0, 2 * W), (5 * W, 6 * W)]
    # unaligned bounds align outward to bucket edges
    got = f([[10, 20]], W, 16)
    assert got == [(0, W)]
    # cap merges the CLOSEST pair (gap between 0-1 and 2-3 is smaller
    # than to 10-11)
    got = f([[0, W], [2 * W, 3 * W], [10 * W, 11 * W]], W, 2)
    assert got == [(0, 3 * W), (10 * W, 11 * W)]


def test_rollup_deferred_mixed_confs(spark, instance_dir):
    """One eager + one deferred conf on the same pipe: the eager table
    maintains per sync, the deferred one at read — both exact."""
    rows = [{"k": i, "v": float(i)} for i in range(10)]
    kw = dict(columns={"datetime": "k", "id": "k"},
              parameters={"precision": {"unit": "second"},
                          "rollups": [
                              {"name": "eager_m", "interval": "minute",
                               "values": ["v"]},
                              {"name": "defer_m", "interval": "minute",
                               "values": ["v"], "refresh": "deferred"},
                          ]},
              dtypes={"k": "int64"})
    pipe = Pipe("roll", "defermix", instance=instance_dir, spark=spark, **kw)
    pipe.sync(rows)
    # eager side table exists and is current WITHOUT a flush
    eager = {(r["k"], r["n_rows"])
             for r in pipe._rollup_store(
                 pipe._rollup_confs[0]).read(
                     dtypes=pipe._rollup_dtypes(
                         pipe._rollup_confs[0])).collect()}
    assert eager == {(0, 10)}
    # deferred side is pending until read
    assert pipe._load_rollup_pending().get("defer_m")
    assert not pipe._load_rollup_pending().get("eager_m")
    out = {(r["k"], r["n_rows"]) for r in pipe.get_rollup("defer_m").collect()}
    assert out == {(0, 10)}


def test_rollup_deferred_flush_failure_keeps_log(spark, instance_dir,
                                                 monkeypatch):
    """A failed flush must NOT lose the claimed invalidations — the next
    (healthy) flush folds them."""
    rows = [{"k": i, "v": float(i)} for i in range(5)]
    kw = dict(columns={"datetime": "k", "id": "k"},
              parameters={"precision": {"unit": "second"},
                          "rollups": [{"name": "m", "interval": "minute",
                                       "values": ["v"],
                                       "refresh": "deferred"}]},
              dtypes={"k": "int64"})
    pipe = Pipe("roll", "deferfail", instance=instance_dir, spark=spark, **kw)
    pipe.sync(rows)
    boom = RuntimeError("maintenance died")

    def exploding(conf, b, e):
        raise boom

    monkeypatch.setattr(pipe, "_maintain_rollup_one", exploding)
    import pytest as _pytest
    with _pytest.raises(RuntimeError):
        pipe.get_rollup("m")
    assert pipe._load_rollup_pending().get("m")  # restored, not lost
    monkeypatch.undo()
    out = {(r["k"], r["n_rows"]) for r in pipe.get_rollup("m").collect()}
    assert out == {(0, 5)}


def test_rollup_deferred_corrupt_log_rebuilds(spark, instance_dir):
    """A corrupt invalidation log fails SAFE: the ranges it held are
    lost, so every deferred conf rebuilds in full at the next read (with
    a warning) — a log rewritten with only the newest range would serve
    the lost range's buckets stale."""
    from collections import Counter

    import pytest as _pytest

    kw = dict(columns={"datetime": "k", "id": "k"},
              parameters={"precision": {"unit": "second"},
                          "rollups": [{"name": "m", "interval": "minute",
                                       "values": ["v"],
                                       "refresh": "deferred"}]},
              dtypes={"k": "int64"})
    pipe = Pipe("roll", "defercorrupt", instance=instance_dir, spark=spark,
                **kw)
    pipe.sync([{"k": i, "v": float(i)} for i in range(10)])
    pipe.get_rollup("m").collect()  # flush: the rollup table now exists
    # minute 2 damage is logged, then the log is corrupted
    pipe.sync([{"k": 120 + i, "v": 1.0} for i in range(3)])
    with open(pipe._rollup_pending_path(), "w") as f:
        f.write('{"m": [[120000000, 1')
    with _pytest.warns(UserWarning, match="invalidation log"):
        pipe.sync([{"k": 300, "v": 2.0}])  # minute 5
    got = {(r["k"], r["n_rows"]) for r in pipe.get_rollup("m").collect()}
    want = Counter(r["k"] // 60 * 60
                   for r in pipe.get_data(order=None).collect())
    assert got == set(want.items()) == {(0, 10), (120, 3), (300, 1)}


def test_rollup_deferred_drop_clears_log(spark, instance_dir):
    import os

    rows = [{"k": 1, "v": 1.0}]
    kw = dict(columns={"datetime": "k", "id": "k"},
              parameters={"precision": {"unit": "second"},
                          "rollups": [{"name": "m", "interval": "minute",
                                       "values": ["v"],
                                       "refresh": "deferred"}]},
              dtypes={"k": "int64"})
    pipe = Pipe("roll", "deferdrop", instance=instance_dir, spark=spark, **kw)
    pipe.sync(rows)
    assert os.path.isfile(pipe._rollup_pending_path())
    pipe.drop()
    assert not os.path.isfile(pipe._rollup_pending_path())
