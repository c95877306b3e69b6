"""Physical-plan shape assertions: the optimizations the engine's
scale story depends on must be visible in the executed plan, so a
refactor that silently loses pushdown / map-side combine / broadcast
fails here rather than at 100 TB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tstoolbox_spark.operators.core import date_slice
from tstoolbox_spark.operators.window import rolling_window

TESTDATA = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_date_slice_pushes_filters_to_scan(spark):
    ev = spark.read.parquet(f"{TESTDATA}/events.parquet")
    plan = _plan(date_slice(ev.select("ts", "value"), "2024-01-02", "2024-01-03"))
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(ts" in plan and "LessThanOrEqual(ts" in plan


def test_projection_prunes_scan_schema(spark):
    ev = spark.read.parquet(f"{TESTDATA}/events.parquet")
    plan = _plan(ev.select("ts", "value").filter(F.col("value") > 0))
    # ReadSchema carries only the projected columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "ts" in read_schema and "value" in read_schema
    assert "event_type" not in read_schema and "props" not in read_schema


def test_rollup_has_mapside_partial_aggregation(spark):
    from tstoolbox_spark.datagen import generate_sequences
    from tstoolbox_spark.pipeline.rollup import rollup_base
    from tstoolbox_spark.timeaxis import with_time_axis

    seq = with_time_axis(generate_sequences(spark, 1000))
    plan = _plan(rollup_base(seq, "1m"))
    assert "partial_sum" in plan and "partial_min" in plan
    assert plan.count("Exchange") == 1  # exactly one shuffle


def test_broadcast_join_is_broadcast(spark):
    orders = spark.read.parquet(f"{TESTDATA}/orders.parquet")
    cust = spark.read.parquet(f"{TESTDATA}/customer.parquet")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_multi_stat_rolling_reuses_one_sort(spark):
    ev = spark.read.parquet(f"{TESTDATA}/events.parquet").select(
        "ts", "user_id", "value"
    )
    out = rolling_window(
        ev, ["sum", "mean", "min", "max", "count"], window=10, key_cols=["user_id"]
    )
    plan = _plan(out)
    # five statistics over the same frame: one shuffle, one sort
    assert plan.count("Exchange") == 1
    assert plan.count("Sort ") + plan.count("[SORT") <= 2


def test_tier_cascade_reads_partials_not_raw(spark):
    from tstoolbox_spark.datagen import generate_sequences
    from tstoolbox_spark.pipeline.rollup import rollup_base, rollup_cascade
    from tstoolbox_spark.timeaxis import with_time_axis

    seq = with_time_axis(generate_sequences(spark, 1000))
    m = rollup_base(seq, "1m")
    h = rollup_cascade(m, "1h")
    # the optimized cascade aggregates the 1m partial columns, never
    # the raw token payload
    opt = _optimized(h)
    assert "n_tok_sum" in opt
    assert "tokens" not in opt.split("Aggregate")[0]


def test_rank_family_has_no_single_task_key_sort(spark):
    """VERDICT r1 §wrong-3: rank/pct_rank/spearman/fdc must not plan a
    Window.partitionBy(<low-card key>).orderBy(value) — that sorts each
    key's entire data in one task. The distributed path shows up as
    repartitionbyrange + a window over (keys, __pid) instead."""
    from tstoolbox_spark.operators.stats import fdc_scalable
    from tstoolbox_spark.operators.transform import normalization
    from tstoolbox_spark.operators.window import rank

    ev = spark.read.parquet(f"{TESTDATA}/events.parquet").select(
        "ts", "event_id", "event_type", "value"
    )

    def window_sort_specs(df):
        # every Window operator's partition spec in the executed plan
        plan = _plan(df)
        return [
            line
            for line in plan.splitlines()
            if "Window [" in line or "RunningWindowFunction" in line
        ]

    for out in (
        rank(ev, "average", value_cols=["value"], key_cols=["event_type"]),
        normalization(ev, mode="pct_rank", value_cols=["value"],
                      key_cols=["event_type"]),
        fdc_scalable(ev, "value", key_cols=["event_type"]),
    ):
        for spec in window_sort_specs(out):
            # any window over the value must also partition by __pid —
            # i.e. be the per-partition local rank, never a whole-key sort
            if "value" in spec and "windowspecdefinition(event_type" in spec:
                assert "__pid" in spec, spec


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """write_bucketed x2 on the same key -> sort-merge join with ZERO
    Exchange (the co-located big-big join the 100 TB plan relies on)."""
    from tstoolbox_spark.tables import read_bucketed, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ev = spark.read.parquet(f"{TESTDATA}/events.parquet")
        a = ev.select("user_id", "event_id", "value")
        b = ev.select("user_id", F.col("value").alias("v2"))
        write_bucketed(a, "bj_a", ["user_id"], n_buckets=8, sort_cols=["user_id"])
        write_bucketed(b, "bj_b", ["user_id"], n_buckets=8, sort_cols=["user_id"])
        j = read_bucketed(spark, "bj_a").join(read_bucketed(spark, "bj_b"), "user_id")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS bj_a")
        spark.sql("DROP TABLE IF EXISTS bj_b")


def test_sampling_is_narrow_filter(spark):
    """Deterministic sampling must stay a scan + filter — no Exchange,
    no join: the decision is a pure function of the row."""
    from tstoolbox_spark.textops.sampling import hash_sample, stratified_sample

    docs = spark.read.parquet(f"{TESTDATA}/documents.parquet")
    plan = _plan(hash_sample(docs, 0.25))
    assert "Exchange" not in plan and "Join" not in plan
    plan2 = _plan(
        stratified_sample(docs, {"src0": 1.0, "src1": 0.1}, default_fraction=0.02)
    )
    assert "Exchange" not in plan2 and "Join" not in plan2


def test_repetition_flags_shuffles_are_doc_keyed(spark):
    """Repetition analysis is two doc-keyed aggregations over one
    exploded unit frame plus the final pivot/backfill join — linear in
    corpus size, no self-join of the corpus against itself."""
    from tstoolbox_spark.textops.quality import repetition_flags

    docs = spark.read.parquet(f"{TESTDATA}/documents.parquet")
    plan = _plan(repetition_flags(docs))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # partial aggregation before each shuffle (map-side combine)
    assert "partial_count" in plan or "Partial" in plan


def test_ols_is_single_partial_agg_pass(spark):
    """regression: fitting coefficients must touch the table exactly
    once — one map-side-combinable aggregation, no window, no join,
    no second scan."""
    from tstoolbox_spark.operators.regression import ols_fit

    ev = (spark.read.parquet(f"{TESTDATA}/events.parquet")
          .select("event_type", "ts", "value")
          .withColumn("hr", F.hour("ts"))
          .withColumn("dow", F.dayofweek("ts")))
    plan = _plan(ols_fit(ev, "value", ["hr", "dow"],
                         key_cols=["event_type"],
                         exact_decimal="decimal(28,2)"))
    assert plan.count("FileScan") == 1
    assert "Window" not in plan and "Join" not in plan
    assert "partial_" in plan or "Partial" in plan  # map-side combine


def test_pca_covariance_shuffles_cells_not_rows(spark):
    """pca: the only Exchange after the Gram stage is keyed by (i, j)
    cell — d(d+1)/2 keys regardless of row count — and the small
    joins assembling the covariance formula are broadcasts."""
    from tstoolbox_spark.operators.pca import quantized_covariance

    emb = spark.read.parquet(f"{TESTDATA}/embeddings.parquet")
    plan = _plan(quantized_covariance(emb, "embedding"))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # si/sj/n attach via broadcast
    assert plan.count("BroadcastHashJoin") >= 2
    assert "hashpartitioning(i" in plan  # cell-keyed reduce


def test_pq_scan_reads_codes_not_floats(spark, tmp_path):
    """PQ's scale claim: top-k over a pre-encoded corpus is a scan of
    the codes column only — the float embeddings never leave disk
    (ReadSchema excludes them), and scoring is literal-array lookups
    with no join or extra shuffle."""
    from tstoolbox_spark.textops.similarity import pq_encode, pq_topk

    emb = spark.read.parquet(f"{TESTDATA}/embeddings.parquet")
    rows = emb.orderBy("vec_id").limit(16).collect()
    dsub = len(rows[0]["embedding"]) // 8
    books = [
        [[float(x) for x in r["embedding"][m * dsub:(m + 1) * dsub]]
         for r in rows]
        for m in range(8)
    ]
    enc_path = str(tmp_path / "codes")
    pq_encode(emb, books).select("vec_id", "pq_code").write.parquet(enc_path)
    codes = spark.read.parquet(enc_path)
    q = [float(x) for x in rows[0]["embedding"]]
    plan = _plan(pq_topk(codes, q, books, k=10, codes_col="pq_code"))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "pq_code" in read_schema and "embedding" not in read_schema
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan  # k-row ordered take, no sort


def test_pq_inline_encode_stays_inside_codegen(spark):
    """VERDICT r3 #3: a pq_topk plan that unrolls m*k*dsub distance
    terms into one projection blows janino's 64 KB method limit and
    drops the whole ANN scan stage to interpreted execution. Locks
    the ADC lookup projection of the default pq_topk plan: every
    generated method stays small enough to compile AND to JIT
    (8000-byte HotSpot huge-method threshold)."""
    import re

    from tstoolbox_spark.textops.similarity import pq_topk

    emb = spark.read.parquet(f"{TESTDATA}/embeddings.parquet")
    rows = emb.orderBy("vec_id").limit(16).collect()
    dsub = len(rows[0]["embedding"]) // 8
    books = [
        [[float(x) for x in r["embedding"][m * dsub:(m + 1) * dsub]]
         for r in rows]
        for m in range(8)
    ]
    q = [float(x) for x in rows[0]["embedding"]]
    # the encode is one Arrow-batched numpy UDF; the codegen contract
    # below locks the ADC lookup projection (m literal-table
    # element_at terms) that scores its codes
    out = pq_topk(emb, q, books, k=10)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "codegen")
    txt = out._jdf.queryExecution().explainString(jmode)
    sizes = [int(x) for x in re.findall(r"maxMethodCodeSize:(\d+)", txt)]
    assert sizes, "codegen explain produced no compiled subtree sizes"
    assert max(sizes) < 8000, f"generated method too large: {sizes}"


def test_hist_tier_cascade_is_partial_agg_over_partials(spark):
    """Histogram tier reads never rescan raw: the quantile read's scan
    schema is the partial schema, every groupBy map-side combines, and
    the whole day->month->quantile chain costs exactly 3 exchanges
    (base histogram, cascade merge, quantile window)."""
    from tstoolbox_spark.pipeline import rollup

    li = spark.read.parquet(f"{TESTDATA}/lineitem.parquet").select(
        F.col("l_returnflag").alias("source"),
        F.col("l_shipdate").cast("timestamp").alias("ts"),
        F.col("l_quantity").cast("int").alias("n_tok"),
    )
    out = rollup.hist_quantiles(
        rollup.hist_cascade(rollup.hist_base(li, "1d"), "1mo")
    )
    plan = _plan(out)
    assert plan.count("Exchange") == 3
    assert "partial_count" in plan or "partial_sum" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema  # pruned to 3 columns


def test_bm25_broadcasts_idf_and_never_cross_joins(spark):
    """BM25's per-term stats are a |query|-row frame: it must reach the
    scored corpus as a broadcast, and nothing in the plan may
    degenerate to a cartesian/nested-loop join."""
    from tstoolbox_spark.textops.retrieval import bm25_topk

    docs = spark.read.parquet(f"{TESTDATA}/documents.parquet")
    plan = _plan(bm25_topk(docs, ["data", "join"], k=10))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k take, not a full sort


def test_upsample_linear_single_window_sort(spark):
    """The upsample is one window sort + arithmetic explode: one
    exchange (the window partition), one Sort, no join."""
    from tstoolbox_spark.operators.core import upsample_linear

    ev = spark.read.parquet(f"{TESTDATA}/events.parquet").select(
        "event_type", "ts", "value"
    )
    plan = _plan(upsample_linear(ev, 900, ["value"], key_cols=["event_type"]))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "Generate explode" in plan


def test_theil_sen_pairs_are_key_equi_join(spark):
    """The O(n²) pair generation must be an equi hash/merge join on the
    key (bounded per key by the guard), never a cartesian product."""
    from tstoolbox_spark.operators.stats import theil_sen

    ev = spark.read.parquet(f"{TESTDATA}/events.parquet").select(
        "event_type", "ts", "value"
    )
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("ts")
    ).agg(F.avg("value").alias("v"))
    plan = _plan(theil_sen(hourly, "v", key_cols=["event_type"]))
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_ljung_box_no_single_partition_sort(spark):
    """ljung_box / ar2: one window sort per key partition, all partials
    map-side-combinable longs, never a SinglePartition exchange."""
    from tstoolbox_spark.operators.stats import ar2_yule_walker, ljung_box

    ev = spark.read.parquet(f"{TESTDATA}/events.parquet")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("ts")
    ).agg(F.avg("value").alias("v"))
    for out in (
        ljung_box(hourly, "v", 5, key_cols=["event_type"]),
        ar2_yule_walker(hourly, "v", key_cols=["event_type"]),
    ):
        plan = _plan(out)
        assert "Exchange SinglePartition" not in plan
        assert "partial_sum" in plan  # quantized partials combine map-side


def test_shard_assign_no_global_single_task_sort(spark):
    """shard_assign rides distributed_rank: the size ordering must not
    collapse to a one-task global sort."""
    from tstoolbox_spark.textops.packing import shard_assign

    docs = spark.read.parquet(f"{TESTDATA}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    plan = _plan(shard_assign(docs, 8, size_col="n_chars"))
    assert "Exchange SinglePartition" not in plan


def test_holt_forecast_horizon_join_is_broadcast(spark):
    """holt_winters_forecast joins the horizon rows to the metadata-
    scale seasonal queue via broadcast — no shuffled join of the
    forecast explode."""
    from tstoolbox_spark.operators.scan import holt_winters_forecast

    ev = spark.read.parquet(f"{TESTDATA}/events.parquet")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("ts")
    ).agg(F.avg("value").alias("v"))
    fc = holt_winters_forecast(hourly, 0.3, 0.1, 0.2, 24, horizon=12,
                               step_seconds=3600, value_col="v",
                               ts_col="ts", key_cols=["event_type"])
    plan = _plan(fc)
    assert "BroadcastHashJoin" in plan


def test_drift_family_plan_shapes(spark):
    """Drift diagnostics: psi/chi2 are single map-side-combinable
    aggregation passes over the union (no SinglePartition exchange on
    the raw rows); keyed ks_2sample never collapses to a one-task
    global sort (the ECDF rides range-partitioned prefix sums, the
    totals ride a broadcast join); adf's six decimal sums combine
    map-side."""
    from tstoolbox_spark.operators.drift import (
        adf_test,
        chi2_homogeneity,
        ks_2sample,
        psi,
    )

    ev = spark.read.parquet(f"{TESTDATA}/events.parquet")
    ref = ev.where(F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
    cur = ev.where(F.col("ts") >= F.lit("2024-01-16").cast("timestamp"))

    plan = _plan(psi(ref, cur, "value", 0.0, 500.0, 10, key_cols=["event_type"]))
    assert "partial_sum" in plan
    assert "Exchange SinglePartition" not in plan

    plan = _plan(chi2_homogeneity(ref, cur, "event_type", key_cols=["user_id"]))
    assert "partial_sum" in plan
    assert "Exchange SinglePartition" not in plan

    plan = _plan(ks_2sample(ref, cur, "value", key_cols=["event_type"]))
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan  # totals + prefix offsets

    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("ts")
    ).agg(F.avg("value").alias("v"))
    plan = _plan(adf_test(hourly, "v", key_cols=["event_type"]))
    assert "partial_sum" in plan
    assert "Exchange SinglePartition" not in plan


def test_cms_estimate_broadcasts_grid_and_partial_aggs(spark):
    from tstoolbox_spark.pipeline.cms import cms_estimate, cms_partials

    ev = spark.read.parquet(f"{TESTDATA}/events.parquet")
    grid = cms_partials(ev, "user_id", tier=None)
    # grid build: explode collapses into a partial-aggregating hash agg
    gplan = _plan(grid)
    assert "partial_count" in gplan or "HashAggregate" in gplan
    est = cms_estimate(grid, ev.select("user_id").distinct(), "user_id")
    eplan = _plan(est)
    assert "BroadcastHashJoin" in eplan   # grid is the broadcast side
    assert "SortMergeJoin" not in eplan


def test_bloom_probe_broadcasts_word_table(spark):
    from tstoolbox_spark.pipeline.bloom import bloom_build, bloom_probe

    docs = spark.read.parquet(f"{TESTDATA}/documents.parquet")
    bf = bloom_build(docs, "doc_id")
    plan = _plan(
        bloom_probe(bf, docs.select(F.col("doc_id").cast("string").alias("doc_id")), "doc_id")
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_weighted_mean_is_one_partial_agg_no_window(spark):
    from tstoolbox_spark.operators.aggregate import weighted_mean

    li = spark.read.parquet(f"{TESTDATA}/lineitem.parquet").select(
        F.col("l_returnflag"),
        F.col("l_shipdate").cast("timestamp").alias("ts"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").alias("qty"),
    )
    plan = _plan(weighted_mean(li, "price", "qty", tier="1mo",
                               key_cols=["l_returnflag"]))
    assert "Window" not in plan
    # map-side combine: partial aggregate before the exchange
    assert plan.count("HashAggregate") >= 2


def test_state_durations_single_window_then_agg(spark):
    from tstoolbox_spark.operators.states import state_durations

    ev = spark.read.parquet(f"{TESTDATA}/events.parquet").select(
        "user_id", "ts", "event_type"
    )
    plan = _plan(
        state_durations(ev, "event_type", tier="1d", key_cols=["user_id"])
    )
    # exactly one window (the lead), then hash aggregation
    assert plan.count("Window") == 1
    assert "HashAggregate" in plan


def test_backtest_bounds_row_is_broadcast(spark):
    from tstoolbox_spark.operators.backtest import rolling_origin_folds

    ev = spark.read.parquet(f"{TESTDATA}/events.parquet").select("ts", "value")
    plan = _plan(rolling_origin_folds(ev, n_folds=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_index_scan_prunes_cells_and_reads_codes_only(spark, tmp_path):
    """IVFADC's scale claim: a query over a materialized ivfpq_index
    is a codes-only scan (ReadSchema has cell + pq_code, never the
    float embeddings) with the probe's cell predicate PUSHED to the
    parquet source, scored by literal-table lookups — no join, and
    the only 'sort' is the k-row ordered take."""
    from tstoolbox_spark.textops.similarity import ivfpq_index, ivfpq_topk

    emb = spark.read.parquet(f"{TESTDATA}/embeddings.parquet")
    rows = emb.orderBy("vec_id").limit(16).collect()
    dim = len(rows[0]["embedding"])
    dsub = dim // 8
    cents = [[float(x) for x in rows[i]["embedding"]] for i in range(4)]
    books = [
        [[float(x) for x in r["embedding"][m * dsub:(m + 1) * dsub]]
         for r in rows]
        for m in range(8)
    ]
    idx_path = str(tmp_path / "ivfpq_idx")
    ivfpq_index(emb, cents, books).write.partitionBy("cell").parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    q = [float(x) for x in rows[0]["embedding"]]
    plan = _plan(ivfpq_topk(None, q, cents, books, k=10, nprobe=2, index=idx))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "pq_code" in read_schema and "embedding" not in read_schema
    # cell is a partition column of the index layout: the isin filter
    # must show up as partition pruning, not a post-scan Filter
    assert "PartitionFilters: [cell" in plan.replace("\n", " ") or (
        "PartitionFilters" in plan and "cell IN" in plan
    )
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
