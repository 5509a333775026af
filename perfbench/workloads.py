"""The benchmark's workloads: closed-loop pipe syncs with a read-back.

One op = one ``pipe.sync(batch)`` followed by one windowed
``pipe.get_data(begin, end, params=...).collect()`` over the window just
written. A run builds the workload's starting pipe at set-up, discards
``warmup`` ops, then times a fixed number of ops (a function of
``--seconds`` only, so both commits of an A/B walk the same state
trajectory). Every sync's split, every read-back's rows and the final
row count are checked against the generator.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

import gen
from checks import Checks
from spans import JvmCpu, SparkOps, Tracer, self_ms, summed_ms

#: set-up builds per run; ``setup_s`` is their median
SETUP_BUILDS = 3
#: a host probe runs before every ``PROBE_EVERY``-th op
PROBE_EVERY = 4
#: stop starting ops after this many seconds of the run (180 s budget)
DEADLINE_S = 150.0

COLUMNS_ARG = {"datetime": "ts", "id": "event_id"}
READ_PARAMS = {"event_type": list(gen.READ_TYPES)}


class Workload:
    name = ""
    #: timed ops per second of ``--seconds``
    ops_per_second = 0.0
    warmup = 0

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed

    def batches(self):
        raise NotImplementedError

    def sync_input(self, batch: gen.Batch):
        """The object handed to ``pipe.sync`` (built outside the timing)."""
        raise NotImplementedError

    def timed_ops(self, seconds: int) -> int:
        return max(4, round(seconds * self.ops_per_second))


class IncrSync(Workload):
    """~16 new rows + 2 late corrections + 2 replays as a list of dicts:
    the reference's dominant small-batch cadence (fused driver-local diff)."""

    name = "incr_sync"
    ops_per_second = 0.5
    warmup = 5

    def batches(self):
        return gen.IncrBatches(self.seed)

    def sync_input(self, batch):
        return [gen.as_dict(r) for r in batch.rows]


class BulkSync(Workload):
    """~20k-row Spark DataFrame batches with a 10% overlap, half changed:
    the executor-bound distributed diff path (the control)."""

    name = "bulk_sync"
    ops_per_second = 0.3
    warmup = 2

    def batches(self):
        return gen.BulkBatches(self.seed)

    def sync_input(self, batch):
        import pyarrow.parquet as pq
        path = os.path.join(self.work, "bulk", f"batch_{batch.index}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(gen.to_arrow(batch.rows), path)
        return self.spark.read.parquet(path)


WORKLOADS = {w.name: w for w in (IncrSync, BulkSync)}


def _list_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _host_probe(spark) -> tuple[float, float]:
    """A fixed Spark aggregate and a fixed Python loop, in ms: code-
    independent yardsticks for how fast the host is right now."""
    t0 = time.perf_counter()
    spark.range(1 << 21, numPartitions=4).selectExpr("sum(id % 7)").collect()
    t1 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i % 7
    t2 = time.perf_counter()
    return (t1 - t0) * 1e3, (t2 - t1) * 1e3


def _measure(fn, op_id: str, tracer: Tracer | None, sparkops: SparkOps | None):
    """Time ``fn()``; with a ``tracer``, also record its spans and its Spark
    work under ``op_id``. Returns (result, wall ms, Spark stats or None)."""
    if tracer is None:
        t0 = time.perf_counter()
        out = fn()
        return out, (time.perf_counter() - t0) * 1e3, None
    sparkops.tag(op_id)
    try:
        e0, t0 = time.time(), time.perf_counter()
        with tracer.op(op_id):
            out = fn()
        t1, e1 = time.perf_counter(), time.time()
    finally:
        sparkops.untag()
    return out, (t1 - t0) * 1e3, sparkops.collect(op_id, e0, e1)


def build_pipe(spark, instance: str, base_path: str, checks: Checks):
    from meerschaum_spark.pipe import Pipe
    pipe = Pipe("perfbench", "events", instance=instance, spark=spark,
                columns=COLUMNS_ARG)
    res = pipe.sync(spark.read.parquet(base_path))
    checks.expect("setup sync", (res.success, res.inserted, res.updated),
                  (True, gen.BASE_ROWS, 0))
    checks.expect("setup rowcount", pipe.get_rowcount(), gen.BASE_ROWS)
    return pipe


def run(wl: Workload, seconds: int, trace: bool, jvm_start_s: float,
        started: float) -> tuple[Checks, dict, dict]:
    """Run ``wl``; returns (checks, end-to-end metrics, per-layer metrics)."""
    spark, work = wl.spark, wl.work
    checks = Checks()
    base_path = os.path.join(work, "base.parquet")
    import pyarrow.parquet as pq
    pq.write_table(gen.to_arrow(gen.base_rows(wl.seed)), base_path)

    setups = []
    for b in range(SETUP_BUILDS):
        instance = os.path.join(work, f"instance_{b}")
        t0 = time.perf_counter()
        pipe = build_pipe(spark, instance, base_path, checks)
        setups.append(time.perf_counter() - t0)
        if b < SETUP_BUILDS - 1:
            shutil.rmtree(instance, ignore_errors=True)

    tracer = Tracer() if trace else None
    sparkops = SparkOps(spark) if trace else None
    jvm_cpu = JvmCpu(spark)
    if tracer:
        tracer.install()

    data_path = pipe.store.data_path
    gen_batches = wl.batches()
    n_ops = wl.warmup + wl.timed_ops(seconds)
    expected_rows = gen.BASE_ROWS
    timed: list[dict] = []
    probes: list[tuple[float, float]] = []
    for k in range(n_ops):
        if time.perf_counter() - started > DEADLINE_S:
            print(f"perfbench: deadline hit after {k} of {n_ops} ops", file=sys.stderr)
            break
        if k % PROBE_EVERY == 0:
            probes.append(_host_probe(spark))
        batch = gen_batches.batch(k)
        data = wl.sync_input(batch)
        is_timed = k >= wl.warmup
        traced = bool(tracer) and is_timed and (k - wl.warmup) % 2 == 0
        rec: dict = {"k": k, "traced": traced, "rows": len(batch.rows),
                     "user_bytes": batch.user_bytes}
        files_before = _list_files(data_path) if traced else None
        cpu0 = (jvm_cpu.seconds(), time.process_time())

        op_tracer = tracer if traced else None
        try:
            res, rec["sync_ms"], rec["spark_sync"] = _measure(
                lambda: pipe.sync(data), f"{k}-sync", op_tracer, sparkops)
            got, rec["read_ms"], rec["spark_read"] = _measure(
                lambda: pipe.get_data(begin=batch.begin, end=batch.end,
                                      params=READ_PARAMS).collect(),
                f"{k}-read", op_tracer, sparkops)
        except Exception as exc:  # a failed op is counted, the run goes on
            checks.error(f"op {k}", exc)
            continue
        rec["jvm_cpu_s"] = jvm_cpu.seconds() - cpu0[0]
        rec["py_cpu_s"] = time.process_time() - cpu0[1]
        if traced:
            after = _list_files(data_path)
            rec["files_written"] = len(after.keys() - files_before.keys())
            rec["files_deleted"] = len(files_before.keys() - after.keys())
            rec["bytes_written"] = sum(after[p] for p in after.keys() - files_before.keys())
        print(f"perfbench: op {k}{'' if is_timed else ' (warm-up)'} "
              f"sync {rec['sync_ms']:.0f} ms, read {rec['read_ms']:.0f} ms",
              file=sys.stderr, flush=True)
        checks.sync_result(k, res, batch)
        checks.read_back(k, got, batch)
        expected_rows += batch.expect_inserted
        if is_timed:
            timed.append(rec)

    checks.expect("final rowcount", pipe.get_rowcount(), expected_rows)
    print(f"perfbench: setup builds {', '.join(f'{s:.2f}' for s in setups)} s; "
          f"host probes (spark ms, py ms) {[(round(a), round(b)) for a, b in probes]}",
          file=sys.stderr)
    files_total = len(_list_files(data_path))
    if tracer:
        tracer.uninstall()
        tracer.dump(os.path.join(work, "spans.json"))

    sync_ms = [r["sync_ms"] for r in timed]
    read_ms = [r["read_ms"] for r in timed]
    e2e = {
        "setup_s": (_median(setups), "s"),
        "sync_p50_ms": (_median(sync_ms), "ms"),
        "read_p50_ms": (_median(read_ms), "ms"),
        "rows_per_s": (sum(r["rows"] for r in timed) / (sum(sync_ms) / 1e3)
                       if sync_ms else 0.0, "rows/s"),
    }
    layers = _layer_metrics(tracer, timed, files_total, jvm_start_s, probes) if tracer else {}
    return checks, e2e, layers


def _layer_metrics(tracer: Tracer, timed: list[dict], files_total: int,
                   jvm_start_s: float, probes) -> dict:
    traced = [r for r in timed if r["traced"]]
    plain = [r for r in timed if not r["traced"]]

    def per_op(kind, fn):
        return _median([fn(tracer.op_spans(f"{r['k']}-{kind}")) for r in traced])

    def spark(kind, key):
        return _median([r[f"spark_{kind}"][key] for r in traced])

    def op_ms(rs):
        return _median([r["sync_ms"] + r["read_ms"] for r in rs])

    overhead = (op_ms(traced) / op_ms(plain) - 1.0) * 100 if plain and traced else 0.0
    user_bytes = sum(r["user_bytes"] for r in traced)
    return {
        "session.jvm_start_s": (jvm_start_s, "s"),
        "dataframe.to_spark_df_ms": (per_op("sync", lambda s: summed_ms(s, "dataframe.to_spark_df")), "ms"),
        "registry.load_ms": (per_op("sync", lambda s: summed_ms(s, "registry.load")), "ms"),
        "registry.save_ms": (per_op("sync", lambda s: summed_ms(s, "registry.save")), "ms"),
        "store.append_ms": (per_op("sync", lambda s: summed_ms(s, "store.append")), "ms"),
        "store.merge_ms": (per_op("sync", lambda s: summed_ms(s, "store.merge")), "ms"),
        "store.read_ms": (per_op("read", lambda s: summed_ms(s, "store.read")), "ms"),
        "store.files_written_per_sync": (_median([r["files_written"] for r in traced]), "count"),
        "store.files_deleted_per_sync": (_median([r["files_deleted"] for r in traced]), "count"),
        "store.bytes_written_per_user_byte": (
            sum(r["bytes_written"] for r in traced) / user_bytes if user_bytes else 0.0, "ratio"),
        "store.files_total": (files_total, "count"),
        "pipe.sync_self_ms": (per_op("sync", lambda s: self_ms(s, "pipe.sync")), "ms"),
        "pipe.get_data_self_ms": (per_op("read", lambda s: self_ms(s, "pipe.get_data")), "ms"),
        "spark.jobs_per_sync": (spark("sync", "jobs"), "count"),
        "spark.stages_per_sync": (spark("sync", "stages"), "count"),
        "spark.jobs_per_read": (spark("read", "jobs"), "count"),
        "spark.driver_floor_ms_per_sync": (spark("sync", "driver_floor_ms"), "ms"),
        "spark.driver_floor_ms_per_read": (spark("read", "driver_floor_ms"), "ms"),
        "spark.executor_cpu_ms_per_sync": (spark("sync", "executor_cpu_ms"), "ms"),
        "spark.shuffle_write_bytes_per_sync": (spark("sync", "shuffle_write_bytes"), "bytes"),
        "proc.jvm_cpu_s_per_op": (_median([r["jvm_cpu_s"] for r in timed]), "s"),
        "proc.py_cpu_s_per_op": (_median([r["py_cpu_s"] for r in timed]), "s"),
        "host.spark_probe_ms": (_median([p[0] for p in probes]), "ms"),
        "host.py_probe_ms": (_median([p[1] for p in probes]), "ms"),
        "trace.overhead_pct": (overhead, "%"),
    }
