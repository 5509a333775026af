"""SparkSession factory tuned for the engine.

Scale stance: these configs are correct on a 1000-executor cluster, not
just local[32] — AQE for runtime re-planning (skew joins, partition
coalescing), UTC session timezone (canonical µs-UTC storage, mirroring
the reference's timestamp discipline, reference
meerschaum/utils/dtypes/__init__.py:39-56), Arrow for any pandas-UDF
boundary, and dynamic partition overwrite so MERGE rewrites only the
partitions a patch touches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Partition-overwrite must be dynamic for the store's MERGE implementation:
# overwriting a partitioned parquet table only replaces partitions present
# in the written DataFrame.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE decides broadcasts from RUNTIME sizes (not estimates), so a
    # larger threshold is safe and pays off on the sync diff: the
    # backtrack side is bounded by the batch's own time window and is
    # usually far smaller than the table — broadcasting it keeps the
    # batch entirely shuffle-free through the diff join. 64 MB covers
    # ~1M-row (keys, fingerprint) aggregates; bigger ones fall back to
    # shuffle join automatically.
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.parquet.compression.codec": "snappy",
    # INT96 (the legacy default) carries NO min/max statistics — every
    # time-bounded scan loses row-group pruning and the file-pruned MERGE
    # cannot classify files. TIMESTAMP_MICROS is the modern, smaller,
    # stats-bearing physical type and matches the engine's canonical µs.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # local parquet files are small; pack more of them per task
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.enabled": "false",
    # v2 committer: a speed choice only — every write lands in staging first
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
}


def get_spark(
    app_name: str = "meerschaum_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    On a real cluster, pass ``master=None`` with a pre-set master URL and
    a ``shuffle_partitions`` sized to ~2-3× total cores; locally defaults
    to ``local[$SPARK_GRAFT_CPUS]`` with shuffle partitions = cores.

    Side effect (ADVICE r13): when the preloading worker daemon is
    enabled (the default), this prepends the repo root to
    ``os.environ['PYTHONPATH']`` **process-globally** and leaves it
    there — the python daemon is launched by the JVM (possibly long
    after this call, and again on executor restarts), so restoring the
    prior value after ``getOrCreate`` would break daemon respawns. Any
    subprocess the host application spawns later inherits the extra
    path entry. Set ``SPARK_GRAFT_DAEMON_MODULE=""`` to disable both
    the daemon and the mutation.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    # Preload-then-fork for python workers (guide §4.5, one level up):
    # pyspark's daemon forks a fresh worker whenever the idle pool can't
    # supply one, and each fresh worker imports numpy/pandas/pyarrow from
    # scratch — measured here as ~50 s user CPU + ~230 s kernel CPU
    # (~1.1M copy-on-write faults) for one 32-fork storm, turning 1 s
    # Arrow-stage queries into 15-50 s ones mid-session (the multi-layer
    # multimodal pipelines, which need runner-layers × cores workers at
    # once, hit this hardest). meerschaum_spark.pydaemon preloads those
    # imports in the daemon so forked workers inherit them via COW.
    # The daemon process inherits the JVM's environment, which inherits
    # ours — PYTHONPATH must reach the repo before the gateway launches.
    # Same mechanism on cluster executors; disable with
    # SPARK_GRAFT_DAEMON_MODULE="".
    daemon_mod = os.environ.get(
        "SPARK_GRAFT_DAEMON_MODULE", "meerschaum_spark.pydaemon")
    if daemon_mod:
        repo_root = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__)))
        py_path = os.environ.get("PYTHONPATH", "")
        if repo_root not in py_path.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                repo_root + os.pathsep + py_path if py_path else repo_root)
        builder = builder.config("spark.python.daemon.module", daemon_mod)
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an externally-created
    session (the driver passes its own SparkSession to ``entry``)."""
    for k, v in ENGINE_CONFS.items():
        if k.startswith(("spark.sql.", "spark.ui.")):
            try:
                spark.conf.set(k, v)
            except Exception:
                pass  # static confs can't change post-start; safe to skip
        elif k.startswith("spark.hadoop."):
            # hadoop confs are read per-job from the live configuration,
            # so they CAN be applied to an externally-created session
            try:
                spark.sparkContext._jsc.hadoopConfiguration().set(
                    k[len("spark.hadoop."):], v)
            except Exception:
                pass
    return spark
