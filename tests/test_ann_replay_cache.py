"""The shared ANN replay pipe (r14): the gate queries whose build
replays are identical share one session-cached built-and-updated pipe
(`queries_llm._ann_replay_pipe`). These tests pin the contract that
makes the sharing safe:

* the shared pipe's search/index results equal an INDEPENDENTLY built
  pipe's (same replay, fresh temp store) — sharing changes job count,
  never rows;
* the second call returns the memoized instance (no rebuild);
* the cache_log evictor drops the store dir and the next call rebuilds
  from the parquet inputs (the bench rep-loop contract).
"""

import os

import pytest
from pyspark.sql import functions as F

from meerschaum_spark import cache_log
from meerschaum_spark import queries_llm as QL

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _search_rows(pipe, spark):
    queries = (QL._ann_base(spark, SF_DIR).filter(F.col("vec_id") < 5)
               .withColumn("embedding",
                           F.transform("embedding", lambda x: -x))
               .drop("ts"))
    return [tuple(r) for r in
            pipe.ann_search(queries, k=5, nprobe=2).collect()]


def test_shared_pipe_matches_independent_build(spark):
    import shutil
    import tempfile

    from meerschaum_spark.pipe import Pipe

    shared = QL._ann_replay_pipe("pq_search", spark, SF_DIR)
    got = _search_rows(shared, spark)

    base = QL._ann_base(spark, SF_DIR).persist()
    inst = tempfile.mkdtemp(prefix="mrsm_t_annind_")
    try:
        params, _shape = QL._ANN_REPLAY["pq_search"]
        ind = Pipe("t", "annind", instance=inst, spark=spark,
                   columns={"datetime": "ts", "id": "vec_id"},
                   parameters={"ann_index": dict(params)})
        assert ind.sync(base).success
        upd = (base.filter(F.expr(QL._ANNIDX_UPDATED))
               .withColumn("embedding",
                           F.transform("embedding", lambda x: -x)))
        assert ind.sync(upd).success
        want = _search_rows(ind, spark)
    finally:
        base.unpersist()
        shutil.rmtree(inst, ignore_errors=True)
    assert got == want and got


def test_shared_pipe_memoized_and_evictable(spark):
    p1 = QL._ann_replay_pipe("pq_search", spark, SF_DIR)
    key = ("pq_search", spark.sparkContext.applicationId, SF_DIR)
    inst1 = QL._ANN_PIPE_CACHE[key]
    p2 = QL._ann_replay_pipe("pq_search", spark, SF_DIR)
    assert QL._ANN_PIPE_CACHE[key] == inst1  # memo hit, no rebuild
    rows1 = _search_rows(p1, spark)
    assert rows1 == _search_rows(p2, spark)

    assert cache_log.evict("ann_pipe:pq_search")
    assert key not in QL._ANN_PIPE_CACHE
    assert not os.path.exists(inst1)  # evictor drops the store dir

    n0 = len(cache_log.BUILDS)
    p3 = QL._ann_replay_pipe("pq_search", spark, SF_DIR)
    assert QL._ANN_PIPE_CACHE[key] != inst1
    assert [n for n, _s in cache_log.BUILDS[n0:]] == ["ann_pipe:pq_search"]
    assert _search_rows(p3, spark) == rows1
