"""Salted aggregation/join equivalence with the unsalted plans."""

from pyspark.sql import functions as F

from meerschaum_spark.functions.skew import salted_agg, salted_join, with_salt


def test_salted_agg_matches_plain(spark):
    # one hot key (0) dominating
    df = spark.range(10_000).select(
        (F.when(F.col("id") % 10 < 8, 0).otherwise(F.col("id") % 100))
        .alias("k"),
        (F.col("id") * 2).alias("v"))
    plain = {(r["k"]): (r["s"], r["n"], r["mn"], r["mx"])
             for r in df.groupBy("k").agg(
                 F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"),
                 F.min("v").alias("mn"), F.max("v").alias("mx")).collect()}
    salted = {(r["k"]): (r["sum_v"], r["count_v"], r["min_v"], r["max_v"])
              for r in salted_agg(df, ["k"],
                                  {"v": "sum"} | {}, n_salts=8)
              .join(salted_agg(df, ["k"], {"v": "count"}, 8), "k")
              .join(salted_agg(df, ["k"], {"v": "min"}, 8), "k")
              .join(salted_agg(df, ["k"], {"v": "max"}, 8), "k").collect()}
    assert plain == salted


def test_salted_join_matches_plain(spark):
    big = spark.range(5_000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(7)], "k long, name string")
    plain = sorted((r["v"], r["name"])
                   for r in big.join(small, "k").collect())
    salted = sorted((r["v"], r["name"])
                    for r in salted_join(big, small, "k", n_salts=4).collect())
    assert plain == salted


def test_salt_is_deterministic(spark):
    df = spark.range(100).select(F.col("id").alias("k"))
    a = [r["_salt"] for r in with_salt(df, 8).orderBy("k").collect()]
    b = [r["_salt"] for r in with_salt(df, 8).orderBy("k").collect()]
    assert a == b
    assert set(a) <= set(range(8))


def test_salted_join_null_safe_and_left(spark):
    """Multi-key null-safe salted join: NULL keys match null-safely, left
    rows without a match survive, multiplicity is exact."""
    big = spark.createDataFrame(
        [(None, 1, i) for i in range(200)]       # hot null key
        + [(5, 2, 900), (6, 1, 901)],
        "k1 int, k2 int, v int")
    small = spark.createDataFrame(
        [(None, 1, "null-dim"), (5, 2, "five")],
        "k1 int, k2 int, name string")
    from meerschaum_spark.functions.skew import salted_join, with_salt
    out = salted_join(big, small, on=["k1", "k2"], n_salts=8,
                      how="left", null_safe=True).collect()
    assert len(out) == 202  # multiplicity preserved, no dup matches
    by_v = {r["v"]: r["name"] for r in out}
    assert by_v[0] == "null-dim" and by_v[17] == "null-dim"
    assert by_v[900] == "five"
    assert by_v[901] is None  # unmatched left row survives
    # the hot key's rows really spread: >= 8 distinct salts among them
    salts = {r["_s"] for r in with_salt(
        big.filter(F.col("k1").isNull()), 16, "_s").collect()}
    assert len(salts) >= 8


def test_salted_join_rejects_right_and_full(spark):
    """Right/full joins would emit each unmatched small-side row once per
    salt replica — salted_join must refuse them (r7 advisory)."""
    import pytest

    big = spark.range(10).select(F.col("id").alias("k"))
    small = spark.createDataFrame([(1, "a")], "k long, name string")
    for how in ("right", "full", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="inner.*left|left.*inner"):
            salted_join(big, small, "k", how=how)
    # the accepted spellings still pass validation
    for how in ("inner", "left", "left_outer", "leftOuter"):
        salted_join(big, small, "k", how=how)


def test_salted_top_k_matches_plain_window(spark):
    """salted_top_k == plain per-key window rank on skewed keys
    (deterministic total order)."""
    from pyspark.sql import Window

    from meerschaum_spark.functions.skew import salted_top_k
    df = spark.range(20_000).select(
        (F.when(F.col("id") % 10 < 9, "hot").otherwise(
            F.concat(F.lit("k"), (F.col("id") % 50).cast("string"))))
        .alias("k"),
        (F.col("id") * 37 % 1013).alias("score"),
        F.col("id"))
    order = [F.col("score").desc(), F.col("id")]
    plain = {(r["k"], r["id"], r["rnk"]) for r in
             df.withColumn("rnk", F.row_number().over(
                 Window.partitionBy("k").orderBy(*order)))
             .filter(F.col("rnk") <= 25).collect()}
    salted = {(r["k"], r["id"], r["rnk"]) for r in
              salted_top_k(df, ["k"], order, k=25, n_salts=8).collect()}
    assert salted == plain and len(plain) > 25


def test_hot_null_key_sync_salts_diff(spark, instance_dir, monkeypatch):
    """The diff marker join salts the null key when batch stats cross the
    threshold (r7: skew helpers are load-bearing on the sync path). The
    salted diff must be bit-identical to the plain one: same insert /
    update counts across initial sync, idempotent replay, and a
    re-keyed update batch — with 90% of id values NULL."""
    import datetime as dtm

    import pandas as pd

    from meerschaum_spark.pipe import Pipe

    # the marker join lives in the Spark diff: keep these small local
    # batches off the driver-side sync, which joins nothing
    monkeypatch.setattr(Pipe, "_LOCAL_FUSED_ROWS", 0)
    rows = [{"ts": dtm.datetime(2024, 1, 1) + dtm.timedelta(minutes=i),
             "id": (i if i % 10 == 0 else None), "v": float(i)}
            for i in range(400)]

    def run(name, threshold):
        pipe = Pipe("skew", name, instance=instance_dir, spark=spark,
                    columns={"datetime": "ts", "id": "id"})
        pipe.HOT_NULL_KEY_ROWS = threshold
        r1 = pipe.sync(pd.DataFrame(rows))
        first_salted = pipe._last_diff_salted
        r2 = pipe.sync(pd.DataFrame(rows))          # idempotent replay
        replay_salted = pipe._last_diff_salted
        mutated = [dict(r) for r in rows[:50]]
        for m in mutated:
            m["v"] = -m["v"] - 1.0
        r3 = pipe.sync(pd.DataFrame(mutated))       # 45 null-id updates
        return pipe, (r1.inserted, r1.updated, r2.inserted, r2.updated,
                      r3.inserted, r3.updated), first_salted, replay_salted

    # plain path (threshold far above the batch)
    _, plain_counts, s0, _ = run("plain", 10**9)
    assert not s0
    # salted path (threshold below the 360 null ids per batch)
    hot_pipe, hot_counts, _s1, s2 = run("hot", 100)
    assert s2  # replay (non-first) sync went through the salted join
    assert hot_counts == plain_counts
    assert plain_counts == (400, 0, 0, 0, 0, 50)
    # stored data identical
    a = {(r["ts"], r["id"], r["v"]) for r in hot_pipe.get_data().collect()}
    assert len(a) == 400 and sum(1 for t in a if t[2] < 0) == 50
