"""Cross-PROCESS write atomicity (VERDICT r10 gap #1).

The in-process ``test_concurrent_syncs_one_pipe`` cannot cover two OS
processes (or two drivers) syncing the same pipe: before r11 the write
lock was a ``threading.RLock`` and the staging swap was bare directory
renames, so interleaved swaps could lose files. These tests spawn REAL
subprocesses, each with its own JVM, against one shared instance dir:

* two concurrent writers upserting interleaved key ranges into the same
  partition cells — final rowcount and values must be exact;
* a writer killed mid-publish (``MRSM_TEST_CRASH_SWAP=after_first_move``,
  ``os._exit(137)`` after the first file rename) — in a merge's cell swap,
  in a plain append, and in the one publish of a driver-side or a
  distributed diff sync alike, the manifest must be present, and the
  next reader must roll the publish FORWARD to the exact committed
  state;
* ``ProcessLock`` semantics across processes (blocking exclusion,
  non-blocking failure) and re-entrancy within one.

Reference parity: connectors/sql/_pipes.py:2217-2809 gets this from the
database transaction; the Parquet store now gets it from flock + a
roll-forward swap manifest (store.py ``recover_interrupted_swap``).
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: worker: upsert ``rounds`` batches of rows keyed worker_id mod 2 into
#: the SAME three day-cells as the other worker; every batch rewrites
#: shared cells, so unserialised swaps WOULD interleave.
WORKER = textwrap.dedent("""
    import os, sys
    sys.path.insert(0, {repo!r})
    inst, wid, n, rounds = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[2]")
             .appName(f"writer{{wid}}")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    from meerschaum_spark import Pipe
    import datetime as dt
    pipe = Pipe("t", "atom", instance=inst, spark=spark,
                columns={{"datetime": "ts", "id": "k"}}, upsert=True)
    base = dt.datetime(2024, 1, 1)
    for r in range(rounds):
        rows = [(base + dt.timedelta(days=(i % 3), minutes=i),
                 wid + 2 * i, wid * 1000 + r)
                for i in range(n)]
        res = pipe.sync(spark.createDataFrame(rows, "ts timestamp, k long, v long"))
        assert res.success, res.message
    spark.stop()
    print("WORKER_OK", wid)
""")

CRASHER = textwrap.dedent("""
    import os, sys
    sys.path.insert(0, {repo!r})
    inst = sys.argv[1]
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[2]")
             .appName("crasher")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    from meerschaum_spark import Pipe
    import datetime as dt
    if sys.argv[3] == "local_sync":
        # the engine's parquet settings: the driver-side sync reads the
        # backtrack through footer dt statistics, which Spark's default
        # INT96 timestamps do not carry
        from meerschaum_spark.session import apply_engine_confs
        apply_engine_confs(spark)
    # 10-minute cells (the default is 30 days, one cell for all rows
    # here): each crash-mode write below spans several cells, so its
    # publish has more than one file to move
    pipe = Pipe("t", "atom", instance=inst, spark=spark,
                columns={{"datetime": "ts", "id": "k"}},
                parameters={{"verify": {{"chunk_minutes": 10}}}},
                upsert=sys.argv[3] == "merge")
    base = dt.datetime(2024, 1, 1)
    if sys.argv[2] == "seed":
        rows = [(base + dt.timedelta(days=i % 3, minutes=i), i, 0)
                for i in range(60)]
        res = pipe.sync(spark.createDataFrame(rows, "ts timestamp, k long, v long"))
        assert res.success, res.message
        print("SEED_OK")
    else:
        # merge: update every third key (day 0, minutes 0-57 -> six
        # cells); append: 30 new keys over three days (nine cells);
        # local_sync: both at once, as a list of dicts (the driver-side
        # diff, whose inserts and corrections share one publish);
        # distributed: both at once, as a Spark DataFrame (the Spark
        # diff, whose inserts and corrections share one publish too).
        # MRSM_TEST_CRASH_SWAP kills us after the FIRST file rename
        os.environ["MRSM_TEST_CRASH_SWAP"] = "after_first_move"
        both = [*range(0, 60, 3), *range(60, 90)]
        keys = {{"merge": range(0, 60, 3), "append": range(60, 90),
                 "local_sync": both, "distributed": both}}[sys.argv[3]]
        rows = [(base + dt.timedelta(days=i % 3, minutes=i), i, 999)
                for i in keys]
        if sys.argv[3] == "local_sync":
            utc = dt.timezone.utc
            pipe.sync([{{"ts": ts.replace(tzinfo=utc), "k": k, "v": v}}
                       for ts, k, v in rows])
        else:
            pipe.sync(spark.createDataFrame(rows, "ts timestamp, k long, v long"))
        print("CRASHER_SURVIVED")  # must be unreachable
""")


def _run(script: str, *args: str, timeout: int = 420,
         env: dict | None = None) -> subprocess.CompletedProcess:
    full_env = dict(os.environ)
    full_env["PYTHONPATH"] = REPO
    full_env.pop("MRSM_TEST_CRASH_SWAP", None)
    if env:
        full_env.update(env)
    with tempfile.NamedTemporaryFile(
            "w", suffix=".py", delete=False) as f:
        f.write(script.format(repo=REPO))
        path = f.name
    try:
        return subprocess.run(
            [sys.executable, path, *args],
            capture_output=True, text=True, timeout=timeout, env=full_env)
    finally:
        os.unlink(path)


def _table_rows(inst: str) -> dict[int, int]:
    """{k: v} straight from the parquet files (duckdb — no Spark)."""
    duckdb = pytest.importorskip("duckdb")
    files = glob.glob(os.path.join(inst, "*", "data", "*", "*.parquet"))
    assert files, "no data files written"
    con = duckdb.connect()
    rows = con.execute(
        "SELECT k, v FROM read_parquet(?)", [files]).fetchall()
    out = dict(rows)
    assert len(out) == len(rows), "duplicate keys in stored table"
    return out


@pytest.mark.slow
def test_two_process_writers_exact():
    """Two OS processes upsert interleaved keys into the same cells
    concurrently: every row lands, no duplicates, last value per key."""
    inst = tempfile.mkdtemp(prefix="mrsm_atom_")
    n, rounds = 40, 3
    procs = []
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(WORKER.format(repo=REPO))
        wpath = f.name
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env.pop("MRSM_TEST_CRASH_SWAP", None)
    try:
        for wid in (0, 1):
            procs.append(subprocess.Popen(
                [sys.executable, wpath, inst, str(wid), str(n), str(rounds)],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                text=True, env=env))
        for p in procs:
            out, err = p.communicate(timeout=420)
            assert p.returncode == 0, f"worker failed:\n{out}\n{err[-3000:]}"
            assert "WORKER_OK" in out
    finally:
        os.unlink(wpath)
    got = _table_rows(inst)
    # worker 0 wrote even keys 0..78, worker 1 odd keys 1..79; the last
    # round's value (wid*1000 + rounds-1) must have won for every key
    assert len(got) == 2 * n
    for i in range(n):
        assert got[2 * i] == 0 * 1000 + (rounds - 1)
        assert got[2 * i + 1] == 1 * 1000 + (rounds - 1)


@pytest.mark.slow
@pytest.mark.parametrize("write",
                         ["merge", "append", "local_sync", "distributed"])
def test_crash_mid_swap_rolls_forward(write):
    """A writer SIGKILL'd between file renames — of a merge's cell swap,
    of a plain append, or of a driver-side or distributed diff sync's
    single publish of its inserts and corrections — leaves the manifest;
    the next reader completes the publish to the exact committed
    state."""
    inst = tempfile.mkdtemp(prefix="mrsm_crash_")
    seed = _run(CRASHER, inst, "seed", write)
    assert seed.returncode == 0 and "SEED_OK" in seed.stdout, \
        seed.stderr[-3000:]
    crash = _run(CRASHER, inst, "crash", write)
    assert crash.returncode == 137, (
        f"crash hook did not fire (rc={crash.returncode}):\n"
        f"{crash.stdout}\n{crash.stderr[-3000:]}")
    # the dead writer must have left the manifest + staging behind
    target = next(d for d in os.listdir(inst)
                  if os.path.isdir(os.path.join(inst, d))
                  and not d.startswith("."))
    mpath = os.path.join(inst, target, "_swap_manifest.json")
    assert os.path.isfile(mpath), "no manifest left by crashed writer"
    doc = json.load(open(mpath))
    staging = os.path.join(inst, target, doc["staging"])
    assert any(os.path.isfile(os.path.join(staging, rel))
               for rel in doc["moves"]), "manifest lists no pending move"
    # recovery: any reader heals it (store.read -> _maybe_recover)
    from meerschaum_spark.store import ParquetPipeStore
    from meerschaum_spark.session import get_spark
    spark = get_spark("meerschaum_spark_tests")
    store = ParquetPipeStore(spark, inst, target, dt_col="ts")
    n = store.read().count()
    assert not os.path.isfile(mpath), "manifest not cleared by recovery"
    assert not glob.glob(os.path.join(inst, target, "_staging_*")), \
        "staging dir not cleaned up"
    n_keys = 60 if write == "merge" else 90
    assert n == n_keys
    got = _table_rows(inst)  # also asserts no duplicate keys
    assert len(got) == n_keys
    for k in range(n_keys):
        updated = {"merge": k % 3 == 0, "append": k >= 60,
                   "local_sync": k % 3 == 0 or k >= 60,
                   "distributed": k % 3 == 0 or k >= 60}[write]
        assert got[k] == (999 if updated else 0), f"key {k}"


def test_process_lock_excludes_other_process(tmp_path):
    """flock semantics: a child process cannot take the held lock
    non-blocking; after release it can. Re-entrancy in-process."""
    from meerschaum_spark.locking import lockfile_for, process_lock

    store_path = str(tmp_path / "pipe_t")
    lk = process_lock(store_path)
    probe = textwrap.dedent(f"""
        import fcntl, os, sys
        fd = os.open({lockfile_for(store_path)!r}, os.O_RDWR | os.O_CREAT)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            print("ACQUIRED")
        except OSError:
            print("BLOCKED")
    """)
    with lk:
        with lk:  # re-entrant
            assert lk.held
            r = subprocess.run([sys.executable, "-c", probe],
                               capture_output=True, text=True, timeout=60)
            assert r.stdout.strip() == "BLOCKED", r.stderr
        assert lk.held  # inner release keeps the outer hold
    assert not lk.held
    r = subprocess.run([sys.executable, "-c", probe],
                       capture_output=True, text=True, timeout=60)
    assert r.stdout.strip() == "ACQUIRED", r.stderr
    # same-process non-blocking refusal while held by a THREAD
    import threading
    acquired = threading.Event()
    release = threading.Event()

    def holder():
        with lk:
            acquired.set()
            release.wait(30)

    t = threading.Thread(target=holder)
    t.start()
    assert acquired.wait(10)
    assert lk.acquire(blocking=False) is False
    release.set()
    t.join(30)
    assert lk.acquire(blocking=False) is True
    lk.release()


def test_drop_reaps_lockfile_and_lock_still_works(spark, tmp_path):
    """drop() must not strand a lockfile in <root>/.locks, and the
    unlink must not break waiters (the inode-recheck retries onto the
    fresh file)."""
    from meerschaum_spark.locking import lockfile_for
    from meerschaum_spark.store import ParquetPipeStore

    store = ParquetPipeStore(spark, str(tmp_path), "t_reap", dt_col="ts")
    lf = lockfile_for(store.path)
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1)], "ts string, v int"
    ).selectExpr("CAST(ts AS TIMESTAMP) ts", "v")
    store.append(df)
    assert os.path.isfile(lf)
    store.drop()
    assert not os.path.isfile(lf)
    # the lock object still functions after the reap (fresh inode)
    with store.lock:
        assert store.lock.held
    store.append(df)  # store usable again
    assert store.read().count() == 1
    store.drop()
