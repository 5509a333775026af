"""Incrementally-maintained ANN index under sync (VERDICT r10 #6).

The IVF-PQ codes table is a side table on the base pipe's partition
grid, maintained through the rollup-style dispatch: insert-only syncs
encode ONLY the appended files (O(patch) — pinned PHYSICALLY here: the
prior index files survive byte-for-byte), update syncs swap-recompute
exactly the touched cells, and the codebook freezes at first build so
codes stay comparable across syncs. Equivalence bar: after any sync
sequence, the maintained index equals a from-scratch encode of the
final table against the FROZEN codebook.
"""

from __future__ import annotations

import datetime
import glob
import os

import pytest

from meerschaum_spark.pipe import Pipe

DIM, SUBSPACES, SUBDIM, NCENT = 8, 2, 4, 4


def _vec(i: int, flip: bool = False) -> list:
    v = [float(((i * 7 + j * 13) % 29) - 14) / 4.0 for j in range(DIM)]
    return [-x for x in v] if flip else v


def _rows(ids, flip=()):
    base = datetime.datetime(2024, 3, 1)
    return [(base + datetime.timedelta(hours=int(i)), int(i),
             _vec(i, i in flip)) for i in ids]


def _mk_df(spark, ids, flip=()):
    return spark.createDataFrame(
        _rows(ids, flip), "ts timestamp, vec_id long, embedding array<float>")


def _mk_pipe(spark, instance_dir) -> Pipe:
    return Pipe(
        "t", "ann", instance=instance_dir, spark=spark,
        columns={"datetime": "ts", "id": "vec_id"},
        parameters={"ann_index": {
            "column": "embedding", "n_centroids": NCENT,
            "subspaces": SUBSPACES, "subdim": SUBDIM,
        }})


def _index_rows(pipe) -> dict:
    return {r["vec_id"]: (r["cell"], r["code0"], r["code1"])
            for r in pipe.get_ann_index().collect()}


def _full_encode(spark, pipe, ids, flip=()) -> dict:
    """INDEPENDENT pure-Python IEEE replay of the from-scratch encode
    against the FROZEN codebook — the rebuild the incremental
    maintenance must equal bit-for-bit. Python floats ARE IEEE
    doubles, and the fold runs in the engine's element order, so this
    replays ``pipe._ann_encode``'s double arithmetic exactly (the
    fixture's quarter-valued vectors are float32-exact, so the
    float32 write/widen round-trip is lossless too)."""
    cb = pipe._load_ann_codebook()
    assert cb is not None

    def sq(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            d = float(x) - float(y)
            acc = acc + d * d
        return acc

    def argmin(dists) -> int:
        best, pos = None, -1
        for i, d in enumerate(dists):
            if best is None or d < best:
                best, pos = d, i
        return pos

    out = {}
    for i in ids:
        v = _vec(i, i in flip)
        cell_pos = argmin([sq(v, cv) for _cid, cv in cb])
        cell = cb[cell_pos][0]
        codes = []
        for m in range(SUBSPACES):
            lo, hi = m * SUBDIM, (m + 1) * SUBDIM
            codes.append(argmin([sq(v[lo:hi], cv[lo:hi])
                                 for _cid, cv in cb]))
        out[int(i)] = (cell, *codes)
    return out


def _index_files(pipe) -> dict:
    return {p: os.path.getmtime(p) for p in glob.glob(
        os.path.join(pipe._ann_store().data_path, "*", "*.parquet"))}


def test_ann_index_sync_equals_rebuild(spark, instance_dir):
    pipe = _mk_pipe(spark, instance_dir)

    # -- first sync: full build + codebook freeze
    assert pipe.sync(_mk_df(spark, range(40))).success
    assert os.path.isfile(pipe._ann_codebook_path())
    cb = pipe._load_ann_codebook()
    assert [i for i, _ in cb] == list(range(NCENT))
    got = _index_rows(pipe)
    assert len(got) == 40
    assert got == _full_encode(spark, pipe, range(40))
    files_a = _index_files(pipe)
    assert files_a

    # -- insert-only sync: O(patch) — prior index files UNTOUCHED
    assert pipe.sync(_mk_df(spark, range(40, 60))).success
    files_b = _index_files(pipe)
    for path, mtime in files_a.items():
        assert path in files_b and files_b[path] == mtime, (
            "insert-only sync rewrote a pre-existing index file: " + path)
    assert len(files_b) > len(files_a)
    got = _index_rows(pipe)
    assert len(got) == 60
    assert got == _full_encode(spark, pipe, range(60))

    # -- update sync: ids 5..9 flip sign (hour 5-9 -> day-cell 0 only);
    #    includes id 5 < NCENT? no (NCENT=4) — codebook must NOT change
    flip = {5, 6, 7, 8, 9}
    assert pipe.sync(_mk_df(spark, sorted(flip), flip=flip)).success
    assert pipe._load_ann_codebook() == cb, "codebook must stay frozen"
    files_c = _index_files(pipe)
    cell0 = pipe.store.part_index_of(
        int(datetime.datetime(2024, 3, 1).timestamp() * 1_000_000))
    for path, mtime in files_b.items():
        if f"_mrsm_part={cell0}" in path:
            continue  # the touched cell legitimately rewrote
        assert path in files_c and files_c[path] == mtime, (
            "update sync touched an index cell outside the patch: " + path)
    got = _index_rows(pipe)
    assert len(got) == 60
    assert got == _full_encode(spark, pipe, range(60), flip=flip)


@pytest.mark.parametrize("mode", ["upsert", "no_check", "full_scan_null_dt"])
def test_ann_index_upsert_and_no_check_equal_rebuild(
        spark, instance_dir, mode):
    """The sync paths the diff test above does not reach: an upsert sync
    (merge; the index re-encodes the write's cell window), a
    ``check_existing=False`` append (the index encodes the appended
    files), and a ``force_full_scan`` diff (the stats path) whose updates
    hit a null-dt row — it sits in no observed cell, so the index must
    not stop at the non-null update cells. Either way the maintained
    index must equal a ``refresh_ann_index()`` rebuild and the IEEE
    replay."""
    schema = "ts timestamp, vec_id long, embedding array<float>"
    pipe = _mk_pipe(spark, instance_dir)
    if mode == "upsert":
        pipe.parameters["upsert"] = True
    null_rows = ([(None, 100, _vec(100))] if mode == "full_scan_null_dt"
                 else [])
    assert pipe.sync(spark.createDataFrame(
        _rows(range(40)) + null_rows, schema)).success
    flip: set = set()
    if mode == "upsert":
        flip = {5, 6, 7}
        res = pipe.sync(_mk_df(spark, [5, 6, 7, 40, 41], flip=flip))
        assert res.success and res.updated == 5
        ids = range(42)
    elif mode == "no_check":
        res = pipe.sync(_mk_df(spark, range(40, 60)), check_existing=False)
        assert res.success and res.inserted == 20
        ids = range(60)
    else:
        flip = {5, 100}
        res = pipe.sync(spark.createDataFrame(
            _rows([5], flip=flip) + [(None, 100, _vec(100, True))],
            schema), force_full_scan=True)
        assert res.success and res.updated == 2
        ids = [*range(40), 100]
    maintained = _index_rows(pipe)
    pipe.refresh_ann_index()
    assert maintained == _index_rows(pipe)
    assert maintained == _full_encode(spark, pipe, ids, flip=flip)


def test_ann_index_codebook_freeze_survives_centroid_update(
        spark, instance_dir):
    """Updating a CODEBOOK-SOURCE row's vector must re-encode that row
    against the FROZEN codebook, not re-derive centroids."""
    pipe = _mk_pipe(spark, instance_dir)
    assert pipe.sync(_mk_df(spark, range(30))).success
    cb = pipe._load_ann_codebook()
    flip = {1}  # vec_id 1 < NCENT: its vector seeds the codebook
    assert pipe.sync(_mk_df(spark, [1], flip=flip)).success
    assert pipe._load_ann_codebook() == cb
    assert _index_rows(pipe) == _full_encode(spark, pipe, range(30),
                                             flip=flip)


def test_ann_search_uses_maintained_index(spark, instance_dir):
    pipe = _mk_pipe(spark, instance_dir)
    assert pipe.sync(_mk_df(spark, range(50))).success
    q = _mk_df(spark, [3, 17]).drop("ts")
    out = pipe.ann_search(q, k=5, nprobe=2, refine=2).collect()
    assert {r["query_id"] for r in out} <= {3, 17}
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        assert 1 <= r["rnk"] <= 5


def test_ann_index_clear_and_dedup_maintenance(spark, instance_dir):
    pipe = _mk_pipe(spark, instance_dir)
    assert pipe.sync(_mk_df(spark, range(60))).success
    # bounded clear: hours 48.. (day-cell 2) disappear from the index
    pipe.clear(begin=datetime.datetime(2024, 3, 3))
    got = _index_rows(pipe)
    assert set(got) == set(range(48))
    assert got == {k: v for k, v in
                   _full_encode(spark, pipe, range(48)).items()}
    # duplicate rows then deduplicate: index stays exact
    assert pipe.sync(_mk_df(spark, range(10))).success  # no-op re-sync
    assert len(_index_rows(pipe)) == 48


@pytest.mark.parametrize("dtype_str,expect", [
    ("array(float32)", "array<float>"),
    ("array(int64)", "array<bigint>"),
    ("array(array(float64))", "array<array<double>>"),
])
def test_array_dtype_roundtrip(dtype_str, expect):
    from meerschaum_spark.dtypes import (
        canonical_dtype,
        from_spark_type,
        to_spark_type,
    )
    t = to_spark_type(dtype_str)
    assert t.simpleString() == expect
    assert canonical_dtype(from_spark_type(t)) == canonical_dtype(dtype_str)


def test_ann_index_under_streaming_ingest(spark, instance_dir):
    """The maintained index through the foreachBatch streaming path
    (detached session: Observation falls back to the pre-append probe,
    so _ucells/_dt metrics still drive the ann dispatch). Two staged
    arrivals with an OVERLAP (replay) plus a changed row: the final
    index must equal the pure-Python IEEE replay of the final state."""
    import shutil
    import tempfile

    from meerschaum_spark.streaming import stream_sync_pipe

    src_dir = tempfile.mkdtemp(prefix="ann_stream_src_")
    ckpt_dir = tempfile.mkdtemp(prefix="ann_stream_ckpt_")
    try:
        pipe = _mk_pipe(spark, instance_dir)
        schema = _mk_df(spark, [0]).schema
        # arrival 1: ids 0..29
        _mk_df(spark, range(30)).write.parquet(src_dir + "/b1")
        q = stream_sync_pipe(
            pipe, spark.readStream.schema(schema).parquet(src_dir + "/*"),
            ckpt_dir)
        q.awaitTermination(120)
        assert _index_rows(pipe) == _full_encode(spark, pipe, range(30))
        # arrival 2: overlap 20..29 replayed verbatim + new 30..39 +
        # id 7 with a FLIPPED vector (an update through the stream)
        flip = {7}
        (_mk_df(spark, range(20, 40))
         .unionByName(_mk_df(spark, [7], flip=flip))
         .write.parquet(src_dir + "/b2"))
        q2 = stream_sync_pipe(
            pipe, spark.readStream.schema(schema).parquet(src_dir + "/*"),
            ckpt_dir)
        q2.awaitTermination(120)
        assert pipe.get_rowcount() == 40
        got = _index_rows(pipe)
        assert len(got) == 40
        assert got == _full_encode(spark, pipe, range(40), flip=flip)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ckpt_dir, ignore_errors=True)


def test_ann_encode_plan_is_shuffle_free(spark, instance_dir):
    """The index encode must be a pure projection: zero Exchange, zero
    joins — the plan-level O(patch) guarantee (work ∝ input rows, the
    codebook rides as literals). Feeding it the appended files (the
    insert maintenance path) therefore reads exactly those files."""
    from meerschaum_spark.plans import plan_report

    pipe = _mk_pipe(spark, instance_dir)
    assert pipe.sync(_mk_df(spark, range(20))).success
    cb = pipe._load_ann_codebook()
    enc = pipe._ann_encode(_mk_df(spark, range(20)), pipe._ann_conf, cb)
    r = plan_report(enc)
    assert r["shuffles"] == 0, r
    assert r["sortmerge_joins"] == 0 and r["broadcast_joins"] == 0, r
    # the file-delta path reads EXACTLY the patch files
    files = sorted(glob.glob(
        os.path.join(pipe.store.data_path, "*", "*.parquet")))
    patch = spark.read.schema(
        _mk_df(spark, [0]).schema).parquet(*files)
    enc2 = pipe._ann_encode(patch, pipe._ann_conf, cb)
    from urllib.parse import urlparse
    got = {urlparse(f).path for f in enc2.inputFiles()}
    assert got == {os.path.abspath(f) for f in files}, (got, files)


def test_ann_index_under_verify_backfill(spark, instance_dir):
    """END-TO-END: ANN maintenance under ``pipe.verify()``'s chunked
    backfill (VERDICT r11 #3 — the reference's heaviest repair loop,
    core/Pipe/_verify.py:18-440; an index that drifts under backfill is
    worse than no index). The source of truth moved under the pipe:
    one verify chunk REWRITES index-covered cells (flipped vectors in
    day 0), another APPENDS rows the pipe missed (new ids inside day 1),
    and a third re-syncs byte-identical data (pure no-op). After the
    walk the maintained index must equal both the pure-Python IEEE
    replay of the final truth AND ``refresh_ann_index()``'s from-scratch
    rebuild, with the codebook still frozen."""
    import datetime as dt

    pipe = _mk_pipe(spark, instance_dir)
    assert pipe.sync(_mk_df(spark, range(60))).success  # hours 0..59
    cb = pipe._load_ann_codebook()

    # the truth drifts: ids 10..14 flipped (day 0), five rows the pipe
    # never saw at hours 30.5..34.5 (day 1), day 2 untouched
    flip = {10, 11, 12, 13, 14}
    base = dt.datetime(2024, 3, 1)
    truth = _rows(range(60), flip=flip) + [
        (base + dt.timedelta(hours=30 + j, minutes=30), 200 + j,
         _vec(200 + j)) for j in range(5)]

    def _naive(x):
        return (x.astimezone(dt.timezone.utc).replace(tzinfo=None)
                if getattr(x, "tzinfo", None) else x)

    def fetch_truth(b, e):
        b, e = _naive(b), _naive(e)
        rows = [r for r in truth if b <= r[0] < e]
        if not rows:
            return None
        return spark.createDataFrame(
            rows, "ts timestamp, vec_id long, embedding array<float>")

    res = pipe.verify(source=fetch_truth, chunk_minutes=1440,
                      bound_days=None)
    assert res.success, res.message
    assert res.inserted == 5 and res.updated == 5, (res.inserted,
                                                    res.updated)
    assert pipe._load_ann_codebook() == cb, "codebook must stay frozen"

    expect = _full_encode(spark, pipe, range(60), flip=flip)
    expect.update(_full_encode(spark, pipe, range(200, 205)))
    got = _index_rows(pipe)
    assert len(got) == 65
    assert got == expect

    # ...and the incremental result must equal the from-scratch rebuild
    pipe.refresh_ann_index()
    assert pipe._load_ann_codebook() == cb
    assert _index_rows(pipe) == expect


def test_ann_config_rejects_non_integer_id(spark, instance_dir):
    """A string id column must fail at freeze time with a clear error
    naming the constraint, not incidentally inside int() (ADVICE r11)."""
    pipe = Pipe(
        "t", "ann_badid", instance=instance_dir, spark=spark,
        columns={"datetime": "ts", "id": "name"},
        parameters={"ann_index": {
            "column": "embedding", "n_centroids": NCENT,
            "subspaces": SUBSPACES, "subdim": SUBDIM,
        }})
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 3, 1), "a", _vec(1))],
        "ts timestamp, name string, embedding array<float>")
    with pytest.raises(ValueError, match="integer id column"):
        pipe.sync(df)


def test_ann_search_without_data_raises_domain_error(spark, instance_dir):
    """ann_search on an empty pipe: a clear ValueError about the
    missing codebook, never 'NoneType is not subscriptable'."""
    pipe = _mk_pipe(spark, instance_dir)
    q = _mk_df(spark, [3]).drop("ts")
    with pytest.raises(ValueError, match="no frozen codebook"):
        pipe.ann_search(q, k=3)


def test_optimize_compacts_ann_index_files(spark, instance_dir):
    """Insert-only syncs append one encode file per touched index cell;
    pipe.optimize() must pay down the side table's small-file debt too
    (VERDICT r11 #6b) — a pure physical rewrite: same rows, same codes,
    one file per cell, search results identical."""
    pipe = _mk_pipe(spark, instance_dir)
    # three insert syncs into the SAME day-cell -> 3 small index files
    assert pipe.sync(_mk_df(spark, range(8))).success
    assert pipe.sync(_mk_df(spark, range(8, 16))).success
    assert pipe.sync(_mk_df(spark, range(16, 24))).success
    before = _index_rows(pipe)

    def files_per_cell():
        out = {}
        for d in glob.glob(os.path.join(
                pipe._ann_store().data_path, "_mrsm_part=*")):
            out[os.path.basename(d)] = sum(
                1 for f in os.listdir(d) if f.endswith(".parquet"))
        return out

    fc = files_per_cell()
    assert max(fc.values()) >= 3, fc  # debt actually accumulated
    n = pipe.optimize()
    assert n >= 1
    fc2 = files_per_cell()
    assert max(fc2.values()) == 1, fc2
    assert _index_rows(pipe) == before  # codes byte-identical per row
    # idempotent: nothing left to compact
    assert pipe.optimize() == 0


def test_ann_trained_codebook_at_freeze(spark, instance_dir):
    """parameters['ann_index']['train_iters'] runs exact-integer Lloyd
    k-means at freeze time (VERDICT r11 #6a): the frozen codebook is
    trained centroids, not the seeded smallest-id rows. The freeze
    contract is unchanged — later syncs encode against the frozen
    trained codebook, so the maintained index still equals the
    pure-Python replay — and the training must not lose to the seeds:
    full-dim quantization SSE (trained) <= SSE (seeded), computed
    independently in pure Python."""
    pipe = Pipe(
        "t", "ann_trained", instance=instance_dir, spark=spark,
        columns={"datetime": "ts", "id": "vec_id"},
        parameters={"ann_index": {
            "column": "embedding", "n_centroids": NCENT,
            "subspaces": SUBSPACES, "subdim": SUBDIM,
            "train_iters": 2,
        }})
    assert pipe.sync(_mk_df(spark, range(40))).success
    cb = pipe._load_ann_codebook()
    assert [i for i, _ in cb] == list(range(NCENT))
    seeded = [_vec(i) for i in range(NCENT)]
    assert [v for _, v in cb] != seeded, "training changed nothing"

    # maintained index == replay against the FROZEN (trained) codebook
    assert _index_rows(pipe) == _full_encode(spark, pipe, range(40))

    # SSE check in exact µ-quantized integers, pure Python
    def q(v):
        import math
        return [int(math.floor(float(x) * 1_000_000 + 0.5)) for x in v]

    def sse(cents):
        tot = 0
        for i in range(40):
            xv = q(_vec(i))
            tot += min(sum((a - b) ** 2 for a, b in zip(xv, cv))
                       for cv in cents)
        return tot

    assert sse([q(v) for _, v in cb]) <= sse([q(v) for v in seeded])

    # later syncs encode against the frozen trained codebook
    assert pipe.sync(_mk_df(spark, range(40, 55))).success
    assert pipe._load_ann_codebook() == cb
    assert _index_rows(pipe) == _full_encode(spark, pipe, range(55))
    # search works over the trained maintained index
    out = pipe.ann_search(_mk_df(spark, [7]).drop("ts"), k=3).collect()
    assert out and all(r["neighbor_id"] != 7 for r in out)


def test_ann_config_rejects_string_id_without_declared_dtype(
        spark, instance_dir):
    """ADVICE r12: when NO dtype is declared for the id column, the
    freeze must fall back to the store's actual Spark schema and raise
    the same domain error a declared string dtype gets — never fail
    incidentally inside int() or silently coerce digit-strings."""
    # seed the store via a plain pipe (string id is fine without ann)
    base = Pipe("t", "ann_noddt", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "name"})
    df = spark.createDataFrame(
        [(datetime.datetime(2024, 3, 1), "7", _vec(1)),
         (datetime.datetime(2024, 3, 1, 1), "8", _vec(2))],
        "ts timestamp, name string, embedding array<float>")
    assert base.sync(df).success
    # re-open with ann config and NO dtypes (simulates a registry doc
    # that never recorded dtypes); freeze must hit the schema fallback
    pipe = Pipe("t", "ann_noddt", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "name"},
                parameters={"ann_index": {
                    "column": "embedding", "n_centroids": NCENT,
                    "subspaces": SUBSPACES, "subdim": SUBDIM,
                }})
    pipe.parameters.pop("dtypes", None)
    assert not pipe.dtypes
    with pytest.raises(ValueError, match="integer id column"):
        pipe._freeze_ann_codebook(pipe._ann_conf)


def test_optimize_result_reports_base_and_ann_split(spark, instance_dir):
    """optimize() returns an int-compatible OptimizeResult whose .base /
    .ann_index split disambiguates the combined count (ADVICE r12)."""
    from meerschaum_spark.pipe import OptimizeResult

    pipe = _mk_pipe(spark, instance_dir)
    assert pipe.sync(_mk_df(spark, range(8))).success
    assert pipe.sync(_mk_df(spark, range(8, 16))).success
    n = pipe.optimize()
    assert isinstance(n, OptimizeResult)
    assert int(n) == n.base + n.ann_index
    assert n.base >= 1 and n.ann_index >= 1
    again = pipe.optimize()
    assert again == 0 and again.base == 0 and again.ann_index == 0


# ---------------------------------------------------------------- IVF-SQ8


def _mk_sq8_pipe(spark, instance_dir) -> Pipe:
    return Pipe(
        "t", "ann_sq8", instance=instance_dir, spark=spark,
        columns={"datetime": "ts", "id": "vec_id"},
        parameters={"ann_index": {
            "column": "embedding", "n_centroids": NCENT,
            "codec": "sq8",
        }})


def _sq8_replay(pipe, ids, flip=(), stats=None) -> dict:
    """Pure-Python IEEE replay of the IVF-SQ8 encode: frozen-codebook
    cell argmin (same as PQ's) + clamped per-dim affine codes against
    the FROZEN stats — python floats are IEEE doubles and the
    arithmetic runs in the engine's operation order."""
    import math

    cb = pipe._load_ann_codebook()
    doc = pipe._load_ann_doc()
    st = stats if stats is not None else doc["sq8_stats"]

    def sq(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            d = float(x) - float(y)
            acc = acc + d * d
        return acc

    out = {}
    for i in ids:
        v = _vec(i, i in flip)
        best, pos = None, -1
        for p, (_cid, cv) in enumerate(cb):
            d = sq(v, cv)
            if best is None or d < best:
                best, pos = d, p
        codes = []
        for x, (mn, mx) in zip(v, st):
            s = float(mx) - float(mn)
            if s == 0.0:
                codes.append(0)
            else:
                c = math.floor((float(x) - float(mn)) * 255.0 / s + 0.5)
                codes.append(int(min(255.0, max(0.0, c))))
        out[int(i)] = (cb[pos][0], tuple(codes))
    return out


def _sq8_index_rows(pipe) -> dict:
    return {r["vec_id"]: (r["cell"], tuple(r["sq8"]))
            for r in pipe.get_ann_index().collect()}


def test_sq8_codec_maintained_index_equals_rebuild(spark, instance_dir):
    """IVF-SQ8 codec under the full 3-sync replay: first build freezes
    codebook + per-dim stats, insert-only delta-encodes, the update
    sync recomputes touched cells — and the maintained index equals
    both the pure-Python IEEE replay and refresh_ann_index()'s
    from-scratch rebuild with the SAME frozen artifacts (the
    sync-then-search ≡ rebuild bar, codec-independent)."""
    pipe = _mk_sq8_pipe(spark, instance_dir)
    assert pipe.sync(_mk_df(spark, range(24))).success
    doc = pipe._load_ann_doc()
    assert doc is not None and len(doc["sq8_stats"]) == DIM
    frozen_stats = [tuple(s) for s in doc["sq8_stats"]]
    assert _sq8_index_rows(pipe) == _sq8_replay(pipe, range(24))

    # insert-only sync: frozen stats, not re-derived
    assert pipe.sync(_mk_df(spark, range(24, 40))).success
    assert pipe._load_ann_doc()["sq8_stats"] == [
        list(s) for s in frozen_stats]
    assert _sq8_index_rows(pipe) == _sq8_replay(pipe, range(40))

    # update sync: sign flips exceed the frozen range -> codes clamp
    flips = {1, 3, 30}
    assert pipe.sync(_mk_df(spark, sorted(flips), flip=flips)).success
    expect = _sq8_replay(pipe, range(40), flip=flips)
    assert _sq8_index_rows(pipe) == expect
    # clamping actually exercised: at least one flipped row pegs 0/255
    flat = [c for i in flips for c in expect[i][1]]
    assert 0 in flat or 255 in flat

    # full rebuild equals the maintained index; the re-published doc
    # keeps the frozen stats (the whole-doc re-publish contract)
    pipe.refresh_ann_index()
    assert pipe._load_ann_doc()["sq8_stats"] == [
        list(s) for s in frozen_stats]
    assert _sq8_index_rows(pipe) == expect


def test_sq8_codec_ann_search(spark, instance_dir):
    """ann_search routes through ivfsq8_topk on the sq8 codec: self
    excluded, k respected, and with nprobe=NCENT (all cells probed) +
    refine the exact nearest neighbor wins rank 1."""
    pipe = _mk_sq8_pipe(spark, instance_dir)
    assert pipe.sync(_mk_df(spark, range(40))).success
    q = _mk_df(spark, [7]).drop("ts")
    out = pipe.ann_search(q, k=3).collect()
    assert len(out) == 3
    assert all(r["neighbor_id"] != 7 for r in out)
    assert [r["rnk"] for r in sorted(out, key=lambda r: r["rnk"])] == \
        [1, 2, 3]

    # brute-force IEEE truth for the refine arm
    def sq(a, b):
        return sum((float(x) - float(y)) ** 2 for x, y in zip(a, b))

    truth = min((i for i in range(40) if i != 7),
                key=lambda i: (sq(_vec(7), _vec(i)), i))
    ref = pipe.ann_search(q, k=3, nprobe=NCENT, refine=4).collect()
    top = next(r for r in ref if r["rnk"] == 1)
    assert top["neighbor_id"] == truth


def test_ann_codec_validation(spark, instance_dir):
    pipe = Pipe(
        "t", "ann_badcodec", instance=instance_dir, spark=spark,
        columns={"datetime": "ts", "id": "vec_id"},
        parameters={"ann_index": {
            "column": "embedding", "n_centroids": NCENT,
            "codec": "opq",
        }})
    with pytest.raises(ValueError, match="codec"):
        pipe.sync(_mk_df(spark, range(8)))


# ---------------------------------------------------------- residual PQ


def _mk_residual_pipe(spark, instance_dir) -> Pipe:
    return Pipe(
        "t", "ann_res", instance=instance_dir, spark=spark,
        columns={"datetime": "ts", "id": "vec_id"},
        parameters={"ann_index": {
            "column": "embedding", "n_centroids": NCENT,
            "subspaces": SUBSPACES, "subdim": SUBDIM,
            "train_iters": 1, "residual": True,
        }})


def _residual_replay(pipe, ids, flip=()) -> dict:
    """Pure-Python IEEE replay of the residual encode: trained-centroid
    cell argmin, r = v − centroid[cell], per-subspace argmin of the
    double fold vs the frozen residual codebook."""
    doc = pipe._load_ann_doc()
    cents = doc["vecs"]
    res_cb = doc["res_vecs"]

    def fold(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            d = float(x) - float(y)
            acc = acc + d * d
        return acc

    def argmin(dists) -> int:
        best, pos = None, -1
        for i, d in enumerate(dists):
            if best is None or d < best:
                best, pos = d, i
        return pos

    out = {}
    for i in ids:
        v = _vec(i, i in flip)
        pos = argmin([fold(v, cv) for cv in cents])
        cell = doc["ids"][pos]
        rs = [float(x) - c for x, c in zip(v, cents[pos])]
        codes = []
        for m in range(SUBSPACES):
            lo, hi = m * SUBDIM, (m + 1) * SUBDIM
            codes.append(argmin([fold(rs[lo:hi], rv[lo:hi])
                                 for rv in res_cb]))
        out[int(i)] = (cell, *codes)
    return out


def test_residual_maintained_index_equals_replay(spark, instance_dir):
    """Residual PQ under the 3-sync replay: the frozen doc carries the
    trained centroids AND the seeds' residual codebook; insert/update
    maintenance encodes residuals against both frozen artifacts, equal
    to the pure-Python IEEE replay and to refresh's rebuild."""
    pipe = _mk_residual_pipe(spark, instance_dir)
    assert pipe.sync(_mk_df(spark, range(24))).success
    doc = pipe._load_ann_doc()
    assert doc.get("res_vecs") and len(doc["res_vecs"]) == NCENT
    # the trained centroids differ from the seeds, so the residual
    # codebook is NOT degenerate (the seeded-centroid zero-residual
    # trap the train_iters requirement exists to prevent)
    assert any(any(abs(x) > 1e-12 for x in rv) for rv in doc["res_vecs"])
    assert _index_rows(pipe) == _residual_replay(pipe, range(24))

    assert pipe.sync(_mk_df(spark, range(24, 40))).success
    assert _index_rows(pipe) == _residual_replay(pipe, range(40))

    flips = {1, 3, 30}
    assert pipe.sync(_mk_df(spark, sorted(flips), flip=flips)).success
    expect = _residual_replay(pipe, range(40), flip=flips)
    assert _index_rows(pipe) == expect

    # rebuild equality + whole-doc re-publish keeps res_vecs
    frozen_res = [list(rv) for rv in doc["res_vecs"]]
    pipe.refresh_ann_index()
    assert pipe._load_ann_doc()["res_vecs"] == frozen_res
    assert _index_rows(pipe) == expect


def test_residual_requires_trained_centroids(spark, instance_dir):
    pipe = Pipe(
        "t", "ann_res_untrained", instance=instance_dir, spark=spark,
        columns={"datetime": "ts", "id": "vec_id"},
        parameters={"ann_index": {
            "column": "embedding", "n_centroids": NCENT,
            "subspaces": SUBSPACES, "subdim": SUBDIM,
            "residual": True,
        }})
    with pytest.raises(ValueError, match="train_iters"):
        pipe.sync(_mk_df(spark, range(8)))


def test_residual_with_sq8_rejected(spark, instance_dir):
    pipe = Pipe(
        "t", "ann_res_sq8", instance=instance_dir, spark=spark,
        columns={"datetime": "ts", "id": "vec_id"},
        parameters={"ann_index": {
            "column": "embedding", "n_centroids": NCENT,
            "codec": "sq8", "train_iters": 1, "residual": True,
        }})
    with pytest.raises(ValueError, match="'pq' codec"):
        pipe.sync(_mk_df(spark, range(8)))


def test_residual_ann_search(spark, instance_dir):
    """ann_search on a residual pipe routes through the residual-aware
    ADC (raw-vector LUTs would be meaningless against residual codes);
    with all cells probed + refine, rank 1 is the exact neighbor."""
    pipe = _mk_residual_pipe(spark, instance_dir)
    assert pipe.sync(_mk_df(spark, range(40))).success
    q = _mk_df(spark, [7]).drop("ts")
    out = pipe.ann_search(q, k=3).collect()
    assert len(out) == 3 and all(r["neighbor_id"] != 7 for r in out)

    def sq(a, b):
        return sum((float(x) - float(y)) ** 2 for x, y in zip(a, b))

    truth = min((i for i in range(40) if i != 7),
                key=lambda i: (sq(_vec(7), _vec(i)), i))
    ref = pipe.ann_search(q, k=3, nprobe=NCENT, refine=4).collect()
    assert next(r for r in ref if r["rnk"] == 1)["neighbor_id"] == truth


def test_sq8_search_code_dist_exact(spark, instance_dir):
    """The sq8 no-refine search output carries the exact integer code
    distance (its ranking key — r13 search gate enabler): with every
    cell probed, the returned (neighbor, code_dist) set equals the
    pure-Python integer replay over the maintained codes, and the rank
    order is exactly (distance, id)."""
    pipe = _mk_sq8_pipe(spark, instance_dir)
    assert pipe.sync(_mk_df(spark, range(40))).success
    out = pipe.ann_search(_mk_df(spark, [7]).drop("ts"), k=40,
                          nprobe=NCENT).collect()
    replay = _sq8_replay(pipe, range(40))
    qc = replay[7][1]
    expect = sorted(
        (sum((a - b) ** 2 for a, b in zip(qc, replay[i][1])), i)
        for i in range(40) if i != 7)
    assert sorted((r["code_dist"], r["neighbor_id"]) for r in out) \
        == expect
    by_rank = sorted(out, key=lambda r: r["rnk"])
    assert [(r["code_dist"], r["neighbor_id"]) for r in by_rank] == expect


def test_residual_search_adc_exact(spark, instance_dir):
    """The residual no-refine search output carries adc (r13 search
    gate enabler), and with all cells probed each candidate's adc
    equals the pure-Python IEEE replay: per-subspace folds between the
    query's residual (vs the candidate's OWN cell centroid) and the
    residual-codebook entries its codes name — bit-exact, because the
    engine's 0.0-seeded aggregate adds in the same element order."""
    pipe = _mk_residual_pipe(spark, instance_dir)
    assert pipe.sync(_mk_df(spark, range(40))).success
    doc = pipe._load_ann_doc()
    cents, res_cb, ids = doc["vecs"], doc["res_vecs"], doc["ids"]
    out = pipe.ann_search(_mk_df(spark, [7]).drop("ts"), k=40,
                          nprobe=NCENT).collect()
    replay = _residual_replay(pipe, range(40))
    q = _vec(7)

    def fold(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            d = x - y
            acc = acc + d * d
        return acc

    expect = {}
    for i in range(40):
        if i == 7:
            continue
        cell, c0, c1 = replay[i]
        pos = ids.index(cell)
        qres = [float(x) - c for x, c in zip(q, cents[pos])]
        expect[i] = (fold(qres[:SUBDIM], res_cb[c0][:SUBDIM])
                     + fold(qres[SUBDIM:], res_cb[c1][SUBDIM:]))
    assert {r["neighbor_id"]: r["adc"] for r in out} == expect
