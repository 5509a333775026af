"""Plan-health regression tests: pushdown, pruning, partition filters.

These lock in the physical properties the engine's 100 TB story depends
on — a change that silently drops a PushedFilter or partition filter
fails here, not in production."""

import datetime

import pytest

from meerschaum_spark.pipe import Pipe
from meerschaum_spark.plans import plan_report
from meerschaum_spark.queries import q1_pricing_summary, q3_shipping_priority
from meerschaum_spark.sources import load_table


def test_q1_pushdown_and_pruning(spark, sf_dir):
    r = plan_report(q1_pricing_summary(spark, sf_dir))
    assert any("l_shipdate" in f for f in r["pushed_filters"])
    # projection pruned: never reads more than the 7 needed columns
    assert all(len(cols) <= 7 for cols in r["read_schemas"])
    # map-side combine before the shuffle (partial_sum in the plan)
    from meerschaum_spark.plans import explain_str
    assert "partial_sum" in explain_str(
        q1_pricing_summary(spark, sf_dir), "simple")


def test_q3_broadcasts_dimensions(spark, sf_dir):
    r = plan_report(q3_shipping_priority(spark, sf_dir))
    assert r["broadcast_joins"] >= 1
    assert any("c_mktsegment" in f for f in r["pushed_filters"])


def test_store_read_prunes_partitions(spark, instance_dir, sf_dir,
                                     monkeypatch):
    pipe = Pipe("plans", "ev", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "event_id"})
    pipe.sync(load_table(spark, sf_dir, "events"))
    window = dict(begin=datetime.datetime(2024, 1, 10),
                  end=datetime.datetime(2024, 1, 12),
                  params={"event_type": "click"}, order=None)
    # this window is driver-sized, so get_data serves it from pyarrow
    # (a LocalTableScan); the Spark scan's contract below is the one
    # every window above Pipe._LOCAL_FUSED_ROWS rows takes
    assert plan_report(pipe.get_data(**window))["partition_filters"] == []
    monkeypatch.setattr(Pipe, "_LOCAL_FUSED_ROWS", 0)
    df = pipe.get_data(**window)
    r = plan_report(df)
    # dt bounds must reach BOTH layers: directory pruning + row-group stats
    assert r["partition_filters"] and "_mrsm_part" in r["partition_filters"][0]
    assert any("ts" in f for f in r["pushed_filters"])
    assert any("event_type" in f for f in r["pushed_filters"])
    assert r["shuffles"] == 0


def test_sync_backtrack_scan_is_bounded(spark, instance_dir, sf_dir):
    """The sync diff's backtrack scan must show the scale contract in its
    physical plan. r8 contract for distributed batches (dt among the
    keys): the store scan carries a DYNAMIC partition-pruning filter on
    ``_mrsm_part`` fed by the batch's own cell ids — runtime pruning
    inside the same job as the diff, with no separate stats action —
    the difference between diffing a day and scanning 100 TB."""
    from meerschaum_spark.pipe import _low_latency_plan
    pipe = Pipe("plans", "sync", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "event_id"})
    events = load_table(spark, sf_dir, "events")
    pipe.sync(events)
    small = events.filter("ts >= timestamp'2024-01-10' AND "
                          "ts < timestamp'2024-01-11'").limit(50)
    with _low_latency_plan(spark):
        marked = pipe._split_existing(small.localCheckpoint())
        plan = marked._jdf.queryExecution().executedPlan().toString()
    r = plan_report(marked)
    # the stored-table scan is partition-pruned by the batch's cell ids,
    # planted as a dynamicpruningexpression partition filter
    assert r["partition_filters"] and \
        any("_mrsm_part" in f for f in r["partition_filters"])
    assert "dynamicpruning" in plan.lower(), plan[:1200]


def test_distributed_sync_write_plan_shares_the_backtrack(
        spark, instance_dir, tmp_path, monkeypatch):
    """A mixed Spark DataFrame sync stages both diff splits — the unseen
    rows and the deduped corrections — in ONE write job whose plan scans
    the stored table once: the second branch reuses the broadcast of the
    backtrack's key aggregate instead of re-reading and re-aggregating
    the backtrack."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from meerschaum_spark.store import PART_COL, SPLIT_COL, ParquetPipeStore

    def batch(name, ids, val):
        path = str(tmp_path / f"{name}.parquet")
        base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
        pq.write_table(pa.table({
            "ts": pa.array([base + datetime.timedelta(minutes=i)
                            for i in ids], pa.timestamp("us", tz="UTC")),
            "id": pa.array(list(ids), pa.int64()),
            "v": pa.array([val] * len(ids), pa.float64())}), path)
        return spark.read.parquet(path)

    pipe = Pipe("plans", "onediff", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "id"})
    pipe.sync(batch("seed", range(100), 0.0))
    plans: list = []
    orig = ParquetPipeStore._stage

    def spy(self, df, sort_by=None, by=(PART_COL,)):
        if SPLIT_COL in by:
            plans.append(df._jdf.queryExecution().executedPlan().toString())
        return orig(self, df, sort_by, by)

    monkeypatch.setattr(ParquetPipeStore, "_stage", spy)
    r = pipe.sync(batch("mixed", range(50, 150), 1.0))
    assert (r.inserted, r.updated) == (50, 50), r.message
    assert len(plans) == 1, plans
    lines = plans[0].splitlines()
    # the stored-table scan is the only one reading the partition column
    scans = [ln for ln in lines if "FileScan" in ln and PART_COL in ln]
    assert len(scans) == 1, plans[0]
    assert any("ReusedExchange" in ln and "_mrsm_fps" in ln
               for ln in lines), plans[0]


def test_sync_local_batch_keeps_key_in_pushdown(spark, instance_dir,
                                                sf_dir):
    """Driver-local batches (the reference's dominant small-sync form)
    keep the static contract: dt-range partition pruning plus the
    ≤250-distinct-key IN() pushdown reaching the parquet scan — both
    derived from the in-memory frame with zero probe actions."""
    import pandas as pd
    pipe = Pipe("plans", "synclocal", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "event_id"})
    events = load_table(spark, sf_dir, "events")
    pipe.sync(events)
    pdf = (events.filter("ts >= timestamp'2024-01-10' AND "
                         "ts < timestamp'2024-01-11'").limit(50)
           .toPandas())
    df, _ = __import__("meerschaum_spark.dataframe", fromlist=["x"]) \
        .to_spark_df(spark, pd.DataFrame(pdf), pipe.dtypes or None)
    marked = pipe._split_existing(df, _local_pdf=pdf)
    r = plan_report(marked)
    assert r["partition_filters"] and \
        any("_mrsm_part" in f for f in r["partition_filters"])
    # ≤250 distinct event_ids → key IN() reaches the parquet scan
    assert any("event_id" in f and "In" in f for f in r["pushed_filters"])


def test_sync_diff_is_single_key_join_on_fingerprints(spark, instance_dir,
                                                      sf_dir):
    """The r5 diff contract, r8-amended: ONE key join in the diff plan
    (the null-safe key join against the (keys, fingerprint-set)
    aggregate) — the stored side must never shuffle full rows through an
    all-columns join condition, and the batch must not be key-joined
    twice. The distributed path adds exactly one more join node: the
    broadcast LEFT-SEMI on ``_mrsm_part`` that feeds runtime partition
    pruning (it moves cell IDS, not rows — a handful of longs)."""
    from meerschaum_spark.plans import explain_str
    pipe = Pipe("plans", "fpdiff", instance=instance_dir, spark=spark,
                columns={"datetime": "ts", "id": "event_id"})
    events = load_table(spark, sf_dir, "events")
    pipe.sync(events)
    marked = pipe._split_existing(events)
    plan = explain_str(marked, "simple")
    n_joins = plan.count("Join")
    assert n_joins == 2, f"expected key join + DPP semi join only:\n{plan[:1200]}"
    # the extra join is the broadcast pruning semi join, nothing heavier
    import re
    assert re.search(r"BroadcastHashJoin \[_mrsm_part.*LeftSemi", plan), \
        plan[:1200]
    # row equality rides on the hash pair, not a column-by-column condition
    assert "xxhash64" in plan.lower()


def test_geo_and_multimodal_udfs_are_arrow_batched(spark, sf_dir):
    """Python-boundary operators must be Arrow-batched (ArrowEvalPython /
    MapInPandas nodes), never row-at-a-time BatchEvalPython."""
    from meerschaum_spark.queries_llm import (
        geo_wkb_roundtrip,
        multimodal_png_decode,
    )
    from meerschaum_spark.plans import explain_str
    for q in (geo_wkb_roundtrip, multimodal_png_decode):
        plan = explain_str(q(spark, sf_dir), "simple")
        assert "BatchEvalPython" not in plan, plan[:800]
        assert ("ArrowEvalPython" in plan) or ("MapInPandas" in plan), plan[:800]


def test_q15_q17_broadcast_aggregate_sides(spark, sf_dir):
    """The correlated-subquery rewrites must broadcast their small
    aggregate sides: Q15's 1-row max and Q17's per-part thresholds are
    dimension-sized, never shuffle-joined against lineitem."""
    from meerschaum_spark.plans import plan_report
    from meerschaum_spark.queries import (
        q15_top_supplier,
        q17_small_quantity_revenue,
    )
    assert plan_report(q15_top_supplier(spark, sf_dir))["broadcast_joins"] >= 2
    r17 = plan_report(q17_small_quantity_revenue(spark, sf_dir))
    assert r17["broadcast_joins"] >= 2
    # the brand filter reaches the part scan
    assert any("p_brand" in f for f in r17["pushed_filters"])


def test_q9_broadcasts_all_dims(spark, sf_dir):
    """Q9 (the classic shuffle-heavy profit shape): part, supplier, and
    nation are dimension-sized and must ALL ride broadcast joins — the
    only shuffle-partitioned joins allowed are against orders (fact-to-
    fact on orderkey), so lineitem is never reshuffled for a dimension.
    The part-name filter must also reach the part scan."""
    from meerschaum_spark.plans import plan_report
    from meerschaum_spark.queries import q9_product_profit
    r = plan_report(q9_product_profit(spark, sf_dir))
    assert r["broadcast_joins"] >= 3, r
    # at most the orders join shuffle + the final groupBy + sort land
    # exchanges on the fact path
    assert r["sortmerge_joins"] <= 1, r
    assert any("p_name" in f for f in r["pushed_filters"]), r


def test_near_dup_rerank_is_candidate_proportional(spark, sf_dir):
    """The fused near-dup pass must compute shingle sets only for docs
    surviving the LSH candidate semi-join — the plan has to show a
    LeftSemi against the candidate ids, keeping the exact re-rank
    candidate-proportional at corpus scale."""
    from meerschaum_spark.functions.dedup import near_dup_clusters
    from meerschaum_spark.plans import explain_str
    docs = load_table(spark, sf_dir, "documents")
    out = near_dup_clusters(docs, threshold=0.5)
    # inspect the edge-building plan: components checkpoint collapses the
    # final plan, so look at the scored-pairs stage instead
    from meerschaum_spark.functions import dedup as D
    from pyspark.sql import functions as F
    cands = D.lsh_candidate_pairs(docs).localCheckpoint(eager=True)
    cand_ids = (cands.select(F.col("doc_a").alias("doc_id"))
                .union(cands.select(F.col("doc_b").alias("doc_id")))
                .distinct())
    needed = docs.join(cand_ids, on="doc_id", how="left_semi")
    assert "LeftSemi" in explain_str(needed, "simple")
    # end-to-end still returns the expected shape
    assert out.columns == ["doc_id", "cluster_id", "keep"]


def test_contamination_broadcasts_eval_shingles(spark, sf_dir):
    """The contamination scan's eval-set shingles are benchmark-sized
    and must broadcast — a shuffle join here would re-shuffle the whole
    corpus at 100 TB."""
    from meerschaum_spark.plans import plan_report
    from meerschaum_spark.queries_llm import doc_contamination_check
    r = plan_report(doc_contamination_check(spark, sf_dir))
    assert r["broadcast_joins"] >= 1


def test_stratified_sample_is_scan_only(spark, sf_dir):
    """Deterministic hash sampling must stay a pure scan + filter: no
    join, no shuffle before the final sort."""
    from meerschaum_spark.plans import explain_str
    from meerschaum_spark.queries_llm import doc_stratified_sample
    plan = explain_str(doc_stratified_sample(spark, sf_dir), "simple")
    assert "Join" not in plan


def test_chunk_and_shard_are_shuffle_free(spark, sf_dir):
    """The row-multiplying chunker and the shard assignment are narrow
    maps — zero exchanges; at 100 TB either becoming a shuffle would
    dominate the whole pass."""
    from meerschaum_spark.functions.corpus import shard_assign
    from meerschaum_spark.functions.text import chunk_documents
    docs = load_table(spark, sf_dir, "documents")
    assert plan_report(chunk_documents(docs))["shuffles"] == 0
    assert plan_report(shard_assign(docs))["shuffles"] == 0


def test_ivf_assignment_is_narrow(spark, sf_dir):
    """IVF coarse assignment must not multiply rows or shuffle: the
    centroid argmin is a literal-array expression, not a join."""
    from meerschaum_spark.functions.similarity import assign_ivf_cells
    from pyspark.sql import functions as F
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8)
    r = plan_report(assign_ivf_cells(emb, cents))
    assert r["shuffles"] == 0
    assert r["broadcast_joins"] == 0  # no join at all, not even broadcast


def test_q7_q19_join_strategies(spark, sf_dir):
    """r5 analytics shapes keep their scale contracts: Q7's five-way join
    broadcasts every dimension chain (only the fact side shuffles into
    the group-by), and Q19's OR-of-ANDs still pushes the extracted
    per-side conjuncts into the scans."""
    from meerschaum_spark.plans import plan_report
    from meerschaum_spark.queries import (
        q7_nation_trade_flow,
        q19_disjunctive_pushdown,
    )
    r7 = plan_report(q7_nation_trade_flow(spark, sf_dir))
    assert r7["broadcast_joins"] >= 3
    r19 = plan_report(q19_disjunctive_pushdown(spark, sf_dir))
    assert r19["broadcast_joins"] >= 1
    # Catalyst extracts `p_brand IN (...)`-style conjuncts from the
    # disjunction and pushes them to the part scan
    assert any("p_brand" in f for f in r19["pushed_filters"])


def test_gopher_quality_is_scan_only(spark, sf_dir):
    """The Gopher rules are a narrow codegen projection: zero shuffles,
    and the scan reads only (doc_id, text)."""
    from meerschaum_spark.queries_llm import doc_gopher_quality
    r = plan_report(doc_gopher_quality(spark, sf_dir))
    assert r["shuffles"] <= 1            # the final orderBy only
    assert all(len(cols) <= 2 for cols in r["read_schemas"])


def test_bm25_stats_broadcast_and_topk(spark, sf_dir):
    """BM25: the corpus-stats row joins back as a broadcast (no shuffle
    keyed on data), and top-k runs as TakeOrderedAndProject, never a
    single-partition global window."""
    from meerschaum_spark.plans import explain_str
    from meerschaum_spark.queries_llm import doc_bm25_topk
    df = doc_bm25_topk(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" in simple or "BroadcastHashJoin" in simple
    assert "TakeOrderedAndProject" in simple


def test_int8_quantize_is_shuffle_free(spark, sf_dir):
    from meerschaum_spark.queries_llm import emb_int8_quantize
    r = plan_report(emb_int8_quantize(spark, sf_dir))
    assert r["shuffles"] <= 1            # the final orderBy only


def test_affinity_pairs_never_self_joins_orders(spark, sf_dir):
    """Market-basket pairs expand inside the basket array — the plan
    must show zero joins between order-grain tables (the oracle's naive
    self-join would shuffle the fact table twice at 100 TB)."""
    from meerschaum_spark.plans import explain_str
    from meerschaum_spark.queries import part_affinity_pairs
    df = part_affinity_pairs(spark, sf_dir)
    simple = explain_str(df, "simple")
    assert "SortMergeJoin" not in simple
    # exactly one broadcast join: lineitem → part (the dimension)
    import re
    assert len(re.findall(r"BroadcastHashJoin", simple)) == 1


def test_dsir_weight_table_broadcasts(spark, sf_dir):
    """The 1024-row DSIR weight table must broadcast back over the
    bucket table — a shuffle join here would re-partition the whole
    exploded corpus at 100 TB."""
    from meerschaum_spark.queries_llm import doc_dsir_weights
    r = plan_report(doc_dsir_weights(spark, sf_dir))
    assert r["broadcast_joins"] >= 2   # weight join + threshold join
    assert r["sortmerge_joins"] == 0


def test_hll_register_pages_stay_small(spark, sf_dir):
    """HLL: the shuffle after the register groupBy carries <=256 rows
    per group — the plan must show partial aggregation (map-side
    combine), i.e. two HashAggregates around each Exchange."""
    from meerschaum_spark.plans import explain_str
    from meerschaum_spark.queries import events_hll_distinct
    simple = explain_str(events_hll_distinct(spark, sf_dir), "simple")
    import re
    # partial+final pairs: at least as many HashAggregates as 2x the
    # register/total aggregations
    assert len(re.findall(r"HashAggregate", simple)) >= 4
    assert "SortMergeJoin" not in simple


def test_cell_balanced_sample_single_rank_shuffle(spark, sf_dir):
    """Cluster-balanced sampling: centroid assignment is a narrow
    literal projection; the only wide operations are the per-cell
    window (one shuffle on cell) and the final sort."""
    from meerschaum_spark.queries_llm import emb_cell_balanced_sample
    r = plan_report(emb_cell_balanced_sample(spark, sf_dir))
    assert r["sortmerge_joins"] == 0
    assert r["broadcast_joins"] == 0
    assert r["shuffles"] <= 3   # cell window + rank window reuse + orderBy



def test_r6_operator_plan_shapes(spark, sf_dir):
    """Plan contracts for the r6 operators: the quantile sketch prunes
    its scan to the two columns it needs, the domain cap broadcasts its
    count side (never a shuffle join), and the BPE pair count shuffles
    only after aggregation (partial counts, not raw text)."""
    from meerschaum_spark.plans import plan_report
    from meerschaum_spark.queries import events_quantile_histogram_est
    from meerschaum_spark.queries_llm import (
        doc_bpe_pair_counts,
        doc_domain_caps,
    )
    rq = plan_report(events_quantile_histogram_est(spark, sf_dir))
    assert any(set(s) <= {"event_type", "value"} and s
               for s in rq["read_schemas"]), rq["read_schemas"]
    rc = plan_report(doc_domain_caps(spark, sf_dir))
    assert rc["broadcast_joins"] >= 1 and rc["sortmerge_joins"] == 0, rc
    rb = plan_report(doc_bpe_pair_counts(spark, sf_dir))
    # explode + partial hash agg runs BEFORE the exchange: the plan has
    # a partial_count on the map side (raw pairs never shuffle unreduced)
    from meerschaum_spark.plans import explain_str
    plan = explain_str(doc_bpe_pair_counts(spark, sf_dir), "formatted")
    assert "partial_count" in plan or "partial count" in plan.lower(), \
        plan[:800]


def test_r7_operator_plan_shapes(spark, sf_dir):
    """Plan contracts for the r7 operators: OHLC is ONE hash aggregation
    (no per-bucket window sort), the skyline has no cartesian product,
    and the sequential applyInPandas operators carry the explicit
    numbered repartition (AQE must not byte-coalesce the python stage)
    with NO second shuffle for the groupBy."""
    from meerschaum_spark.plans import explain_str, plan_report
    from meerschaum_spark.queries import (
        events_ema_sequential,
        events_ohlc_candles,
        part_skyline_pareto,
    )

    ohlc = explain_str(events_ohlc_candles(spark, sf_dir), "simple")
    # min_by/max_by fold into the aggregate (ObjectHashAggregate for the
    # typed-imperative aggs): no Window node anywhere
    assert "Window" not in ohlc, ohlc[:600]
    assert "Aggregate" in ohlc

    sky = explain_str(part_skyline_pareto(spark, sf_dir), "simple")
    assert "CartesianProduct" not in sky
    rp = plan_report(part_skyline_pareto(spark, sf_dir))
    assert rp["broadcast_joins"] >= 1 and rp["sortmerge_joins"] == 0, rp

    ema = explain_str(events_ema_sequential(spark, sf_dir), "simple")
    # the user repartition survives (REPARTITION_BY_NUM) and Catalyst
    # reuses it for the grouping: exactly ONE user_id hash exchange
    assert "REPARTITION_BY_NUM" in ema, ema[:800]
    import re
    n_user_exchanges = len(re.findall(
        r"Exchange hashpartitioning\(user_id", ema))
    assert n_user_exchanges == 1, ema[:1200]
    assert "FlatMapGroupsInPandas" in ema


def test_r8_operator_plan_shapes(spark, sf_dir):
    """Plan contracts for the r8 additions: the prefix-filter similarity
    join never materializes an all-pairs stage (no cartesian; every join
    is key-equi), max-drawdown's aggregate reuses the window's hash
    partitioning (exactly ONE series-key exchange), and CUSUM carries
    the sequential family's explicit numbered repartition with no
    second shuffle for the python groupBy."""
    import re

    from meerschaum_spark.plans import explain_str
    from meerschaum_spark.queries import (
        events_cusum_changepoint,
        events_max_drawdown,
    )
    from meerschaum_spark.queries_llm import doc_jaccard_prefix_join

    pj = explain_str(doc_jaccard_prefix_join(spark, sf_dir), "simple")
    assert "CartesianProduct" not in pj, pj[:800]
    assert "BroadcastNestedLoopJoin" not in pj, pj[:800]

    dd = explain_str(events_max_drawdown(spark, sf_dir), "simple")
    n_user_exchanges = len(re.findall(
        r"Exchange hashpartitioning\(user_id", dd))
    assert n_user_exchanges == 1, dd[:1200]
    assert "Window" in dd

    cu = explain_str(events_cusum_changepoint(spark, sf_dir), "simple")
    assert "REPARTITION_BY_NUM" in cu, cu[:800]
    n_user_exchanges = len(re.findall(
        r"Exchange hashpartitioning\(user_id", cu))
    assert n_user_exchanges == 1, cu[:1200]
    assert "FlatMapGroupsInPandas" in cu

    from meerschaum_spark.queries import events_holt_linear
    ho = explain_str(events_holt_linear(spark, sf_dir), "simple")
    assert "REPARTITION_BY_NUM" in ho, ho[:800]
    n_user_exchanges = len(re.findall(
        r"Exchange hashpartitioning\(user_id", ho))
    assert n_user_exchanges == 1, ho[:1200]
    assert "FlatMapGroupsInPandas" in ho


def test_r8_round2_plan_shapes(spark, sf_dir):
    """Plan contracts for the second r8 batch: triangle counting never
    plans a cartesian product (wedge generation + closing are key-equi
    hash joins on the ORIENTED edge list), the ACF pipeline broadcasts
    the hour-level aggregate (the only non-broadcast stage is the raw
    scan's map-side-combined hash agg), and the RFM ranking contains NO
    single-partition window — the global row number comes from the
    range-partitioned mapInPandas pattern."""
    import re

    from meerschaum_spark.plans import explain_str
    from meerschaum_spark.queries import (
        customer_rfm_segments,
        events_acf_hourly,
        part_triangle_count,
    )

    tri = explain_str(part_triangle_count(spark, sf_dir), "simple")
    assert "CartesianProduct" not in tri, tri[:800]
    assert "BroadcastNestedLoopJoin" not in tri, tri[:800]

    acf = explain_str(events_acf_hourly(spark, sf_dir), "simple")
    # the hourly self-join must broadcast the (tiny) hour-level frame,
    # never sort-merge the lag expansion
    assert "BroadcastHashJoin" in acf, acf[:800]
    assert "SortMergeJoin" not in acf, acf[:800]

    rfm = explain_str(customer_rfm_segments(spark, sf_dir), "simple")
    # a global row_number window would show as an Exchange to ONE
    # partition (SinglePartition) feeding a Window — the scale trap the
    # distributed ranking exists to avoid
    assert "Exchange SinglePartition" not in rfm or \
        "Window" not in rfm.split("Exchange SinglePartition")[1][:400], \
        rfm[:1200]
    assert re.search(r"Window\b", rfm) is None, rfm[:1200]
    assert "MapInPandas" in rfm


def test_r8_round3_plan_shapes(spark, sf_dir):
    """Plan contracts for the third r8 batch: the sweep-line peak
    concurrency NEVER plans a single-partition global window (the
    running sum is the distributed range-partition + local-cumsum
    pattern), the OLS stats_agg is ONE windowless hash aggregate over
    the scan, and the cohort matrix joins on the aggregation's own
    hash partitioning (no broadcast of the at-scale-large first-order
    frame needed, no cartesian)."""
    import re

    from meerschaum_spark.plans import explain_str
    from meerschaum_spark.queries import (
        events_max_concurrency,
        events_stats_agg_linear,
        orders_retention_cohort,
    )

    mc = explain_str(events_max_concurrency(spark, sf_dir), "simple")
    assert re.search(r"Window\b", mc) is None, mc[:1200]
    assert "MapInPandas" in mc
    # the only SinglePartition exchange allowed is the final one-row
    # reduction, never one feeding a Window/Sort over the sweep
    for m in re.finditer(r"Exchange SinglePartition", mc):
        tail = mc[m.end():m.end() + 300]
        assert "Window" not in tail, mc[:1500]

    ols = explain_str(events_stats_agg_linear(spark, sf_dir), "simple")
    assert re.search(r"Window\b", ols) is None, ols[:1200]
    assert "FlatMapGroupsInPandas" not in ols
    assert "MapInPandas" not in ols

    co = explain_str(orders_retention_cohort(spark, sf_dir), "simple")
    assert "CartesianProduct" not in co
    assert "BroadcastNestedLoopJoin" not in co

    from meerschaum_spark.queries import customer_symspell_pairs
    sy = explain_str(customer_symspell_pairs(spark, sf_dir), "simple")
    # the delete-variant blocking makes the candidate generation a
    # bucket aggregation + in-task expansion — the quadratic
    # name-vs-name comparison must never appear as a
    # cartesian/nested-loop node
    assert "CartesianProduct" not in sy, sy[:800]
    assert "BroadcastNestedLoopJoin" not in sy, sy[:800]

    from meerschaum_spark.queries import (
        nation_supplier_hhi,
        part_abc_analysis,
    )
    abc = explain_str(part_abc_analysis(spark, sf_dir), "simple")
    # cumulative revenue comes from the distributed prefix sum, never a
    # single-partition ordered window
    assert re.search(r"Window\b", abc) is None, abc[:1200]
    assert "MapInPandas" in abc

    hhi = explain_str(nation_supplier_hhi(spark, sf_dir), "simple")
    assert "SortMergeJoin" not in hhi, hhi[:800]
    assert "BroadcastHashJoin" in hhi, hhi[:800]

    from meerschaum_spark.queries import part_assoc_rules
    ar = explain_str(part_assoc_rules(spark, sf_dir), "simple")
    # pair counts come from the in-task basket expansion, never an
    # order-to-order join; the rule-metric joins broadcast the tiny
    # item-support table
    assert "CartesianProduct" not in ar, ar[:800]
    assert "BroadcastNestedLoopJoin" not in ar, ar[:800]


def test_r9_plan_shapes(spark, sf_dir):
    """Plan contracts for the r9 additions: no cartesian products or
    nested-loop joins anywhere; the span family's chaining windows
    partition on fine-grained (doc_a, doc_b, diagonal) keys — never a
    single-partition window; the audio path is exactly two Arrow
    stages (synth + features) with no Python elsewhere; the BPE encode
    is fold+agg only (no window at all)."""
    import re

    from meerschaum_spark.plans import explain_str
    from meerschaum_spark.queries_llm import (
        doc_bpe_encode_fertility,
        doc_dup_span_fraction,
        doc_substring_dup_spans,
        multimodal_audio_features,
    )

    for fn in (doc_substring_dup_spans, doc_dup_span_fraction,
               multimodal_audio_features, doc_bpe_encode_fertility):
        p = explain_str(fn(spark, sf_dir), "simple")
        assert "CartesianProduct" not in p, (fn.__name__, p[:800])
        assert "BroadcastNestedLoopJoin" not in p, (fn.__name__, p[:800])
        assert not re.search(
            r"Exchange SinglePartition[\s\S]{0,400}Window", p), (
            fn.__name__, p[:1200])

    audio = explain_str(multimodal_audio_features(spark, sf_dir), "simple")
    assert audio.count("MapInPandas") == 2, audio[:1200]

    bpe = explain_str(doc_bpe_encode_fertility(spark, sf_dir), "simple")
    assert re.search(r"Window\b", bpe) is None, bpe[:1200]
    assert "MapInPandas" not in bpe and "FlatMapGroupsInPandas" not in bpe


def test_r10_plan_shapes(spark, sf_dir):
    """Plan contracts for the r10 additions: the dedup quality report
    (removal sets → method/overlap/domain sections) joins without
    cartesians or nested loops, and its exact-dedup window partitions
    on the fine-grained md5 hash — never a single partition; the
    routed containment join on driver-shaped data compiles to the
    prefix plan (no MinHash band stage in the physical plan)."""
    import re

    from meerschaum_spark.plans import explain_str
    from meerschaum_spark.queries_llm import (
        doc_containment_join,
        doc_dedup_quality_report,
    )

    rep = explain_str(doc_dedup_quality_report(spark, sf_dir), "simple")
    assert "CartesianProduct" not in rep, rep[:800]
    # the one BroadcastNestedLoopJoin is the intended shape: the corpus
    # totals crossJoin is a ONE-ROW broadcast build side (same totals
    # pattern as the cascade report) — allow exactly that many
    assert rep.count("BroadcastNestedLoopJoin") <= 1, rep[:1200]
    assert not re.search(
        r"Exchange SinglePartition[\s\S]{0,400}Window", rep), rep[:1200]

    # which ROUTE the containment join takes is pinned behaviorally by
    # test_functions.test_containment_join_routes_by_corpus_shape (plan
    # text is route-ambiguous once the shingle table is checkpointed);
    # here: the routed operator must stay cartesian-free either way
    cj = explain_str(doc_containment_join(spark, sf_dir), "simple")
    assert "CartesianProduct" not in cj, cj[:800]
    assert "BroadcastNestedLoopJoin" not in cj, cj[:800]


def test_r10_block3_plan_shapes(spark, sf_dir):
    """Plan contracts for the r10 second/third-block operators: keyness
    joins its totals via broadcast (never a sort-merge on the corpus
    explode), its per-scope top-k window is never single-partition, and
    the IVF-PQ search is cartesian- and sort-merge-free — the cell join
    broadcasts the query side and the refine fetch broadcasts the
    shortlist, so the corpus never shuffles on either side."""
    import re

    from meerschaum_spark.plans import explain_str
    from meerschaum_spark.queries_llm import (
        doc_source_keyness,
        emb_ivfpq_topk,
    )

    kn = explain_str(doc_source_keyness(spark, sf_dir), "simple")
    assert "CartesianProduct" not in kn, kn[:800]
    assert not re.search(
        r"Exchange SinglePartition[\s\S]{0,400}Window", kn), kn[:1200]

    pq = explain_str(emb_ivfpq_topk(spark, sf_dir), "simple")
    assert "CartesianProduct" not in pq, pq[:800]
    assert "SortMergeJoin" not in pq, pq[:800]
    # two broadcast equi-joins by contract: cell join (query side) and
    # the refine fetch (shortlist side)
    assert pq.count("BroadcastHashJoin") >= 2, pq[:1200]


def test_r10_tail_plan_shapes(spark, sf_dir):
    """Plan contracts for the r10-tail operators: nothing plans a
    cartesian product; the tile fan-out decodes through exactly one
    Arrow python node per mapInPandas stage (payload synth + decode —
    never a re-inlined duplicate); the robust-stats windows are always
    series-partitioned, never a single-partition global sort; and the
    LSH quality report's truth and candidate sides are both equi-joins."""
    import re

    from meerschaum_spark.plans import explain_str
    from meerschaum_spark.queries import (
        events_changepoint,
        events_mad_outliers,
        events_theil_sen_slope,
    )
    from meerschaum_spark.queries_llm import (
        doc_lsh_quality,
        emb_residual_pq_gain,
        multimodal_image_tiles,
    )

    for fn in (events_theil_sen_slope, events_mad_outliers,
               events_changepoint):
        p = explain_str(fn(spark, sf_dir), "simple")
        assert "CartesianProduct" not in p, p[:800]
        assert not re.search(
            r"Exchange SinglePartition[\s\S]{0,400}Window", p), p[:1200]

    lq = explain_str(doc_lsh_quality(spark, sf_dir), "simple")
    assert "CartesianProduct" not in lq, lq[:800]

    ti = explain_str(multimodal_image_tiles(spark, sf_dir), "simple")
    assert "CartesianProduct" not in ti, ti[:800]
    # one synth node + one decode node — CollapseProject must not have
    # duplicated either python stage
    assert ti.count("MapInPandas") == 2, ti[:1200]

    rp = explain_str(emb_residual_pq_gain(spark, sf_dir), "simple")
    assert "CartesianProduct" not in rp, rp[:800]
    assert "SortMergeJoin" not in rp, rp[:800]

    from meerschaum_spark.queries import (
        events_markov_attribution,
        events_survival_km,
    )

    km = explain_str(events_survival_km(spark, sf_dir), "simple")
    # the horizon joins in as a 1-row broadcast (BroadcastNestedLoop is
    # fine there); a real CartesianProduct never is
    assert "CartesianProduct" not in km, km[:800]
    assert not re.search(
        r"Exchange SinglePartition[\s\S]{0,400}Window", km), km[:1200]

    # attribution returns a driver-local relation built from the
    # contracted count matrix — its plan must never re-scan parquet
    ma = explain_str(events_markov_attribution(spark, sf_dir), "simple")
    assert "FileScan" not in ma and "parquet" not in ma.lower(), ma[:800]


def test_r12_plan_shapes(spark, sf_dir):
    """Plan contracts for the r12 tail operators: the seasonal
    decomposition's moving-average window is partitioned by event_type
    (never a single-partition global sort) and the whole query is one
    scan → hash agg → window → hash agg with no joins; the LSH tuning
    curve plans no cartesian product in any of its three arms (each
    candidate side is a capped equi-bucket self-join)."""
    import re

    from meerschaum_spark.plans import explain_str
    from meerschaum_spark.queries import events_seasonal_decompose
    from meerschaum_spark.queries_llm import doc_lsh_band_tuning

    sd = explain_str(events_seasonal_decompose(spark, sf_dir), "simple")
    assert "CartesianProduct" not in sd, sd[:800]
    assert "Join" not in sd, sd[:800]
    assert not re.search(
        r"Exchange SinglePartition[\s\S]{0,400}Window", sd), sd[:1200]

    bt = explain_str(doc_lsh_band_tuning(spark, sf_dir), "simple")
    assert "CartesianProduct" not in bt, bt[:800]


def test_r13_plan_shapes(spark, tmp_path):
    """Plan contracts for the r13 ANN codecs: both maintained-index
    encodes (IVF-SQ8 and residual PQ) stay shuffle-free literal
    projections — the O(patch) per-sync guarantee is plan-structural,
    not incidental — and both searches broadcast the (tiny) query side
    into the cell equi-join with no sort-merge join or cartesian."""
    import datetime

    from meerschaum_spark.pipe import Pipe
    from meerschaum_spark.plans import explain_str, plan_report

    def mk(metric, extra):
        p = Pipe("t", metric, instance=str(tmp_path), spark=spark,
                 columns={"datetime": "ts", "id": "vec_id"},
                 parameters={"ann_index": {
                     "column": "embedding", "n_centroids": 4,
                     "subspaces": 2, "subdim": 4, **extra}})
        rows = [(datetime.datetime(2024, 3, 1) +
                 datetime.timedelta(hours=i), i,
                 [float(((i * 7 + j * 13) % 29) - 14) / 4.0
                  for j in range(8)]) for i in range(16)]
        df = spark.createDataFrame(
            rows, "ts timestamp, vec_id long, embedding array<float>")
        assert p.sync(df).success
        return p, df

    for metric, extra in (
            ("p13_sq8", {"codec": "sq8"}),
            ("p13_res", {"train_iters": 1, "residual": True})):
        pipe, df = mk(metric, extra)
        enc = pipe._ann_encode(df, pipe._ann_conf,
                               pipe._load_ann_codebook())
        r = plan_report(enc)
        assert r["shuffles"] == 0, (metric, r)
        assert r["sortmerge_joins"] == 0 and r["broadcast_joins"] == 0, \
            (metric, r)
        q = df.filter("vec_id = 3").drop("ts")
        s = pipe.ann_search(q, k=3)
        plan = explain_str(s, "simple")
        assert "CartesianProduct" not in plan, plan[:800]
        sr = plan_report(s)
        assert sr["sortmerge_joins"] == 0, (metric, sr)
        assert sr["broadcast_joins"] >= 1, (metric, sr)


def test_ahash_neardup_plan_shape(spark, sf_dir):
    """The image aHash near-dup query: the hash window partitions by
    the image id (never a single-partition window) and the pigeonhole
    block join is an equi-join — no cartesian anywhere."""
    import re

    from meerschaum_spark.plans import explain_str
    from meerschaum_spark.queries_llm import multimodal_image_ahash_neardup

    d = explain_str(multimodal_image_ahash_neardup(spark, sf_dir),
                    "simple")
    assert "CartesianProduct" not in d, d[:800]
    assert not re.search(
        r"Exchange SinglePartition[\s\S]{0,400}Window", d), d[:1200]
