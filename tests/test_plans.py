"""Physical-plan audits: the scale claims in the operator docstrings,
pinned by .explain() (the 100 TB design contract — pushdown, pruning,
broadcast, top-k, no Python in hot paths)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from emdrive_spark import catalog, registry
from emdrive_spark.engine import Engine
from emdrive_spark.server import _rows_json, serve
from emdrive_spark.sources.tables import load

from .conftest import SF_SMOKE, _live_dir, spark_jobs

registry.load_all()


def _plan(spark, name: str) -> str:
    df = registry.REGISTRY[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    plan = _plan(spark, "filter_eq")
    assert "PushedFilters" in plan
    assert "c_mktsegment" in plan.split("PushedFilters")[1][:200]


def test_projection_prunes_columns(spark):
    plan = _plan(spark, "project")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_broadcast_join_is_broadcast(spark):
    assert "BroadcastHashJoin" in _plan(spark, "join_broadcast")


def test_semi_join_planned_as_semi(spark):
    assert "LeftSemi" in _plan(spark, "join_semi")


def test_limit_is_take_ordered(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "limit")


def test_knn_is_take_ordered_not_global_sort(spark):
    plan = _plan(spark, "knn_topk")
    assert "TakeOrderedAndProject" in plan


def test_text_quality_has_no_python_in_hot_path(spark):
    # higher-order array lambdas run JVM-side (not codegen'd, but never
    # Python) — the contract is zero Python eval nodes in the plan
    plan = _plan(spark, "text_quality")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_distance_threshold_is_pure_codegen(spark):
    plan = _plan(spark, "distance_threshold")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_asof_join_single_shuffle(spark):
    # one Exchange for the window partitioning (plus AQE reads); the
    # point is there is NO join-explosion (no CartesianProduct/BNLJ)
    plan = _plan(spark, "join_asof")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partitioned_sink_read_prunes(spark):
    # the o_year=1997 filter must resolve via partition pruning — the
    # scan's PartitionFilters carries it and only one partition dir is
    # listed (partition count 1 in the scan node)
    plan = _plan(spark, "sink_partitioned")
    assert "PartitionFilters" in plan
    assert "o_year" in plan.split("PartitionFilters")[1][:200]


def test_bucketed_join_has_no_shuffle(spark):
    # both sides bucketed+sorted on the key: sort-merge join directly on
    # bucket reads — no *shuffle* Exchange anywhere in the plan. At this
    # SF the planner would (rightly) broadcast instead, which also hides
    # bucketing; pin the big-table path by disabling broadcast.
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "sink_bucketed_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert "SortMergeJoin" in plan
    assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan
    assert "SelectedBucketsCount" in plan


def test_salted_join_matches_unsalted(spark):
    salted = registry.REGISTRY["join_skew_salted"].fn(spark, SF_SMOKE)
    o = load(spark, SF_SMOKE, "orders")
    c = load(spark, SF_SMOKE, "customer")
    plain = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_mktsegment")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_knn_join_broadcasts_queries(spark):
    plan = _plan(spark, "knn_join")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_compaction_reduces_file_count(spark):
    import glob
    import os

    from emdrive_spark.sources.tables import staging_dir

    registry.REGISTRY["compact_small_files"].fn(spark, SF_SMOKE).count()
    frag = glob.glob(os.path.join(staging_dir(spark, "supplier_fragmented"), "*.parquet"))
    comp = glob.glob(os.path.join(staging_dir(spark, "supplier_compacted"), "*.parquet"))
    assert len(comp) <= 2
    # at smoke SF supplier is tiny (empty partitions write no file);
    # the invariant is a strict reduction, not a fixed ratio
    assert len(frag) > 2 * len(comp)


def test_contamination_broadcasts_benchmark_set(spark):
    # the benchmark shingle vocabulary must broadcast — the corpus side
    # of the probe never shuffles its payload
    plan = _plan(spark, "contamination_ngram")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pipeline_filters_are_pure_codegen(spark):
    # scrub / sample / quality gate: single whole-corpus projections,
    # zero Python eval and zero exchange
    for name in ("text_pii_scrub", "sample_stratified", "quality_filter_gopher"):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "Exchange" not in plan, name


def test_funnel_stages_are_user_cardinality(spark):
    # every funnel join keys on user_id aggregates — no event-scale
    # nested loop anywhere
    plan = _plan(spark, "events_funnel")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_semijoin_pushdown(spark):
    """At 100 TB the defaults govern (10 GB application-side threshold —
    exactly the regime where a shuffle join over a selectively-filtered
    dim benefits); here the thresholds are forced down to pin that the
    engine's join shapes are bloom-eligible: Catalyst injects a
    BloomFilter semi-join filter on the fact side ahead of the shuffle."""
    from pyspark.sql import functions as F

    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in keys.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = load(spark, SF_SMOKE, "lineitem")
        dim = (
            load(spark, SF_SMOKE, "orders")
            .filter(F.col("o_totalprice") > 400000)
            .select("o_orderkey")
        )
        j = li.join(dim, li["l_orderkey"] == dim["o_orderkey"])
        plan = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloom" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# -- round-3 pipeline additions ------------------------------------------


def test_pack_sequences_has_no_single_partition_window(spark):
    # the global prefix sum is two-phase (per-partition subtotals +
    # broadcast offsets) — a naive Window.orderBy with no partitionBy
    # would show as Exchange SinglePartition and serialize the corpus
    # through one task
    plan = _plan(spark, "pack_sequences")
    assert "SinglePartition" not in plan
    assert "Broadcast" in plan  # offsets join is a broadcast


def test_dedup_lines_global_no_python_no_single_partition(spark):
    plan = _plan(spark, "dedup_lines_global")
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_spans_exact_no_python_no_cartesian(spark):
    # gram dedup is a groupBy on the 8-byte key + join back on
    # duplicated keys only; span merge is a doc_id-partitioned window —
    # nothing may serialize the corpus or fall back to a nested loop
    plan = _plan(spark, "dedup_spans_exact")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_text_repetition_no_python_no_single_partition(spark):
    plan = _plan(spark, "text_repetition")
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sample_domain_mix_broadcasts_rates(spark):
    # the per-source rate table broadcasts onto the corpus scan; the
    # single-partition exchanges in the plan belong to the |sources|-row
    # rate computation, never to the documents side (which is a pure
    # scan + broadcast-probe + filter)
    plan = _plan(spark, "sample_domain_mix")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# -- round-3 corpus/scale additions ---------------------------------------


def test_zorder_cluster_is_range_partitioned_codegen(spark):
    # the one exchange must be the range repartition that IS the
    # clustering; the z-value math stays JVM-side arithmetic
    plan = _plan(spark, "zorder_cluster")
    assert "rangepartitioning" in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cdc_changes_is_one_full_outer_merge_join(spark):
    plan = _plan(spark, "cdc_changes")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_perplexity_bucket_lm_join_unhinted(spark):
    # r8 (r7 VERDICT item 1): the log-prob table is VOCABULARY-sized —
    # corpus-unbounded — so its join onto the token stream must carry
    # no broadcast hint (AQE broadcasts only when the built side
    # measures small). The only hint left is the 1-row token total.
    df = registry.REGISTRY["text_perplexity_bucket"].fn(spark, SF_SMOKE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("UnresolvedHint") + analyzed.count("ResolvedHint") <= 1
    plan = _plan(spark, "text_perplexity_bucket")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_broadcasts_idf_and_filters_before_shuffle(spark):
    plan = _plan(spark, "text_search_bm25")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the query-term membership filter must exist as a plan Filter (it
    # runs in the generate/project stage, before the groupBy exchange)
    assert "Filter" in plan and "tok" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_classifier_linear_pure_codegen(spark):
    plan = _plan(spark, "quality_classifier_linear")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SinglePartition" not in plan


def test_events_ewma_no_python_no_single_partition(spark):
    plan = _plan(spark, "events_ewma")
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_interval_overlap_never_nested_loop(spark):
    # the bucket grid must turn the theta join into a hash join —
    # a BroadcastNestedLoopJoin/CartesianProduct here is the O(|A|x|B|)
    # plan the op exists to avoid
    plan = _plan(spark, "join_interval_overlap")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_edit_verified_no_cartesian(spark):
    plan = _plan(spark, "dedup_edit_verified")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_events_cusum_no_python_single_user_shuffle(spark):
    plan = _plan(spark, "events_cusum")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_events_transitions_no_python(spark):
    plan = _plan(spark, "events_transitions")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_window_islands_reuses_user_partitioning(spark):
    plan = _plan(spark, "window_islands")
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_point_in_time_join_no_nested_loop(spark):
    # SCD-2 point-in-time lookup: dimension broadcast, interval match
    # resolved per key — never a cartesian/nested-loop fallback
    plan = _plan(spark, "join_point_in_time")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_merge_scd2_broadcasts_change_set(spark):
    # the change set drives anti/semi sides as broadcast joins; history
    # rewrite is partition-parallel with no Python and no nested loop
    plan = _plan(spark, "merge_scd2")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_federated_join_broadcasts_json_dim(spark):
    # Parquet fact x JSON dim in one plan: the tiny dim broadcasts
    plan = _plan(spark, "source_federated_join")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_keyword_extract_df_join_unhinted(spark):
    # r8 (r7 VERDICT item 1): the document-frequency table has one row
    # per DISTINCT TOKEN — corpus-unbounded — so its join must carry
    # no broadcast hint at all (same for text_tfidf, which shares the
    # df construction); AQE decides at runtime.
    for op in ("text_keyword_extract", "text_tfidf"):
        df = registry.REGISTRY[op].fn(spark, SF_SMOKE)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("UnresolvedHint") + analyzed.count("ResolvedHint") == 0
        plan = _plan(spark, op)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mm_shard_pack_no_single_partition(spark):
    # WebDataset shard assignment via the two-phase prefix sum: payload
    # cardinality data never funnels through one partition
    plan = _plan(spark, "mm_shard_pack")
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_behavioral_rollups_stay_partitioned(spark):
    # cohort/segment rollups: per-user and per-segment windows keep
    # their natural partitioning — no global window, no Python
    for name in (
        "user_rfm_segments",
        "events_cohort_ltv",
        "customer_pareto",
        "events_seasonality",
        "user_time_to_convert",
        "events_ohlc",
        "events_sliding_distinct",
        "embedding_dim_stats",
    ):
        plan = _plan(spark, name)
        assert "SinglePartition" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_outlier_mad_broadcasts_stats(spark):
    # per-type median/MAD tables broadcast back onto the event stream;
    # events shuffle only for the two tiny per-type aggregations
    plan = _plan(spark, "events_outlier_mad")
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_detect_gaps_global_lag_is_bucket_partitioned(spark):
    # global feed-gap detection must NOT run one global lag() window:
    # events bucket by a deterministic hour key and each bucket lags in
    # parallel (boundary rows stitched via the tiny per-bucket bounds
    # frame). The old scale bug was a windowspecdefinition ordered on
    # ts with no partition key → Exchange SinglePartition on all events.
    plan = _plan(spark, "events_detect_gaps")
    assert "windowspecdefinition(pid" in plan
    assert "windowspecdefinition(ts" not in plan  # every window pid-keyed
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sink_manifest_scans_the_sink(spark):
    # the manifest must aggregate the written dataset (read-back scan of
    # the orders_manifest path), not shortcut to the source table
    from emdrive_spark.sources.tables import staging_dir

    plan = _plan(spark, "sink_manifest")
    assert staging_dir(spark, "orders_manifest") in plan


def test_agg_moments_single_aggregation_pass(spark):
    plan = _plan(spark, "agg_moments")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # partial+final hash aggregate pair over one scan — no join, no window
    assert "SortMergeJoin" not in plan and "Window" not in plan


# ---------------------------------------------------------------------------
# Fleet-wide scale-marker audit: every registered op's executed plan is
# scanned for the three marker classes that can hide a scale killer.
# Ops listed here have been triaged — each marker is a documented benign
# pattern at its location. Any op NOT listed that plans one of these
# markers fails, so a future op with an accidental global window,
# cartesian fallback, or stray Python eval is caught at test time.
_SCALE_MARKER_ALLOWLIST = {
    # -- Exchange SinglePartition that moves one row per task (two-phase
    #    scalar aggregate) or a #partitions-row control frame:
    "tpch_q6": {"Exchange SinglePartition"},  # global scalar sum
    "tpch_q14": {"Exchange SinglePartition"},  # global scalar ratio
    "tpch_q15": {"Exchange SinglePartition"},  # max(total_rev) scalar
    "tpch_q17": {"Exchange SinglePartition"},  # avg-qty scalar subquery
    "tpch_q19": {"Exchange SinglePartition"},  # global scalar sum
    "tpch_q11": {"Exchange SinglePartition", "BroadcastNestedLoopJoin"},
    "tpch_q22": {"Exchange SinglePartition", "BroadcastNestedLoopJoin"},
    "subquery_scalar": {"Exchange SinglePartition"},
    "analyze_table": {"Exchange SinglePartition"},  # 1-row stats
    "table_vacuum": {"Exchange SinglePartition"},  # per-version scalar count
    "table_quality_audit": {"Exchange SinglePartition"},  # stacked 1-row
    "events_funnel": {"Exchange SinglePartition"},  # per-stage counts
    "events_cusum": {"Exchange SinglePartition", "BroadcastNestedLoopJoin"},
    "events_gap_fill": {"Exchange SinglePartition"},  # grid min/max
    "events_interpolate": {"Exchange SinglePartition", "BroadcastNestedLoopJoin"},
    "events_detect_gaps": {"Exchange SinglePartition"},  # bounds frame
    "agg_ks_test": {"Exchange SinglePartition"},  # |buckets|-row prefix frame
    "events_survival_km": {"Exchange SinglePartition"},  # |days|-row life table
    "agg_mannwhitney": {"Exchange SinglePartition"},  # distinct-value rank frame
    "events_ab_test": {"BroadcastNestedLoopJoin"},  # 2x 1-row stats
    "basket_pair_lift": {"Exchange SinglePartition", "BroadcastNestedLoopJoin"},
    "sample_domain_mix": {"Exchange SinglePartition", "BroadcastNestedLoopJoin"},
    "sample_temperature": {"Exchange SinglePartition", "BroadcastNestedLoopJoin"},
    "text_search_bm25": {"Exchange SinglePartition", "BroadcastNestedLoopJoin"},
    "text_perplexity_bucket": {"Exchange SinglePartition", "BroadcastNestedLoopJoin"},
    # 1-row corpus-total scalar broadcast (the perplexity-bucket shape)
    "text_collocation_pmi": {"Exchange SinglePartition", "BroadcastNestedLoopJoin"},
    # 1-row grand-total N broadcast into the cell projection (r7)
    "agg_mutual_info": {"Exchange SinglePartition", "BroadcastNestedLoopJoin"},
    # global 15-scalar aggregate: map-side combine -> 1-row final (r7)
    "agg_corr_matrix": {"Exchange SinglePartition"},
    "agg_benford": {"Exchange SinglePartition", "BroadcastNestedLoopJoin"},
    "ann_recall": {"BroadcastNestedLoopJoin"},  # k-row recall compare
    # node-count scalar broadcast into each PageRank iteration (1-row
    # agg, same two-phase-scalar shape as the tpch entries above)
    "graph_pagerank": {"Exchange SinglePartition", "BroadcastNestedLoopJoin"},
    # -- BroadcastNestedLoopJoin of a broadcast-tiny query/probe set
    #    (the intended plan for bulk distance scoring):
    "vector_dot": {"BroadcastNestedLoopJoin"},
    "vector_cosine": {"BroadcastNestedLoopJoin"},
    "knn_topk": {"BroadcastNestedLoopJoin"},
    "topk_by_distance": {"BroadcastNestedLoopJoin"},
    "knn_join": {"BroadcastNestedLoopJoin"},
    "join_cross": {"BroadcastNestedLoopJoin"},  # the cross-join op itself
    # -- the §2.10 Python extension surface (each value-checked against
    #    a declarative twin; Arrow-batched where the API allows):
    "udf_pandas_scalar": {"ArrowEvalPython"},
    "udf_grouped_agg": {"ArrowEvalPython"},
    "udf_grouped_map": {"ArrowEvalPython"},
    "udf_map_in_pandas": {"ArrowEvalPython"},
    "udf_table_function": {"BatchEvalPython"},  # UDTF: no Arrow variant
    # -- stateful streaming twins (applyInPandasWithState is Python by
    #    definition; the batch twin is the oracle):
    "stream_ewma": {"ArrowEvalPython", "FlatMapGroupsInPandasWithState"},
}

_SCALE_MARKERS = (
    "Exchange SinglePartition",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "BatchEvalPython",
    "ArrowEvalPython",
)


@pytest.mark.slow
def test_fleet_scale_markers_all_triaged(spark):
    """One pass over every registered op: no plan may contain a scale
    marker that is not explicitly triaged above. Streaming ops execute
    their (finite) stream on build; sink ops stage to the per-session
    dir — both fine at smoke SF."""
    unexpected = {}
    for name, spec in registry.REGISTRY.items():
        df = spec.fn(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = {m for m in _SCALE_MARKERS if m in plan}
        extra = hits - _SCALE_MARKER_ALLOWLIST.get(name, set())
        if extra:
            unexpected[name] = sorted(extra)
    assert not unexpected, f"untriaged scale markers: {unexpected}"


# -- the served `@` scan over an in-memory table ---------------------------

_PHOTOS = (
    "CREATE TABLE photos (id UINT32 PRIMARY KEY, "
    "hash UINT64 METRIC KEY USING mtree(hamming), url STRING(256))"
)


def _insert(engine, ids):
    values = ", ".join(f"({i}, {i * 2654435761 % 2**64}, 'u{i}')" for i in ids)
    engine.execute(f"INSERT INTO photos (id, hash, url) VALUES {values}")


def _two_inserts(engine, per_insert=2):
    engine.execute(_PHOTOS)
    _insert(engine, range(per_insert))
    _insert(engine, range(per_insert, 2 * per_insert))


_KNN_SQL = "SELECT id, hash @ 7 AS d FROM photos ORDER BY d LIMIT 10"
_RADIUS_SQL = "SELECT id, hash @ 7 AS d FROM photos WHERE d < 40"


def _knn_plan_lines(engine):
    df = engine.execute(_KNN_SQL)
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def test_knn_over_inserts_is_codegen_over_checkpoint(engine):
    """Two INSERTs of more local rows together than a driver-side read
    should evaluate: the read compacts them into one checkpoint, so the
    `@` projection runs as a whole-stage-codegen Project over the
    checkpoint scan in executor tasks, not in a LocalTableScan that
    Catalyst computed on the driver."""
    _two_inserts(engine, catalog._LOCAL_ROWS_MAX // 2 + 1)
    lines = _knn_plan_lines(engine)
    project = next(i for i, ln in enumerate(lines) if "Project [" in ln and "bit_count" in ln)
    assert "*(" in lines[project], lines
    assert "Scan ExistingRDD" in lines[project + 1], lines
    assert not any("LocalTableScan" in ln and "__emdrive_sel_" in ln for ln in lines), lines


def test_knn_distance_is_one_offset_xor(engine):
    """The compacted kNN's codegen Project computes `@` as one bit_count
    over an offset long per operand, with no per-row pmod or decimal
    division (the 32-bit limb split those were)."""
    _two_inserts(engine, catalog._LOCAL_ROWS_MAX // 2 + 1)
    line = next(ln for ln in _knn_plan_lines(engine) if "Project [" in ln and "bit_count" in ln)
    assert "*(" in line, line
    assert line.count("bit_count(") == 1, line
    assert "pmod" not in line and " / " not in line, line


@pytest.fixture
def served(spark):
    """The test session as server.serve() sets it up, until teardown."""
    httpd = serve(spark, host="127.0.0.1", port=0)
    try:
        yield
    finally:
        httpd.server_close()


def _served_jobs(engine, spark, sql: str, group: str) -> int:
    """Spark jobs one served statement runs: Engine.execute, then the
    server's capped collect, after a first read that may compact."""
    _rows_json(engine.execute(sql), 10_000)
    return spark_jobs(spark, group, lambda: _rows_json(engine.execute(sql), 10_000))


def _stages(spark, group: str) -> int:
    tracker = spark.sparkContext.statusTracker()
    return sum(len(tracker.getJobInfo(j).stageIds) for j in tracker.getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "per_insert, radius_jobs",
    # a LocalTableScan answers a capped collect on the driver, with no job
    [(20, 0), (catalog._LOCAL_ROWS_MAX // 2 + 1, 1)],
    ids=["local", "compacted"],
)
def test_served_statement_runs_one_job(engine, spark, served, per_insert, radius_jobs):
    """A served kNN runs one Spark job of one stage, and a radius
    statement at most one job: its capped collect (CollectLimit) scans
    every partition of a compacted table in its first job, so it needs
    no second one. The optimizer merges the cap's limit into the kNN's
    smaller one, so no CollectLimit goes over its TakeOrderedAndProject,
    which would shuffle the top-k rows into one partition in a second
    stage."""
    _two_inserts(engine, per_insert)
    assert _served_jobs(engine, spark, _KNN_SQL, f"knn-{per_insert}") == 1
    assert _stages(spark, f"knn-{per_insert}") == 1
    assert _served_jobs(engine, spark, _RADIUS_SQL, f"radius-{per_insert}") == radius_jobs


@pytest.mark.xfail(
    strict=True,
    reason="a table of no more rows than the LIMIT loses the limit in the "
    "optimizer (EliminateLimits), so the kNN plans as a global range-"
    "partitioned sort: a sampling job, a shuffle job and a result job",
)
def test_knn_over_table_within_its_limit_runs_one_job(engine, spark, served):
    _two_inserts(engine)
    assert _served_jobs(engine, spark, _KNN_SQL, "knn-within-limit") == 1


def test_small_table_reads_as_one_local_relation(engine):
    """Two small INSERTs stay one local relation on the driver, which
    Catalyst projects with no job; compacting them would add a shuffle
    and checkpoint job plus a defaultParallelism-task read job to every
    CREATE, INSERT, SELECT sequence over a few rows."""
    _two_inserts(engine)
    entry = engine.catalog.get("photos")
    analyzed = entry.df._jdf.queryExecution().analyzed().toString()
    assert "Union" not in analyzed, analyzed
    lines = _knn_plan_lines(engine)
    assert entry.base is None and len(entry.local_rows) == 4
    assert not any("Scan ExistingRDD" in ln for ln in lines), lines
    assert any("LocalTableScan" in ln and "__emdrive_sel_" in ln for ln in lines), lines


def test_compacted_table_has_default_parallelism_partitions(engine, spark):
    _two_inserts(engine, catalog._LOCAL_ROWS_MAX // 2 + 1)
    df = engine.catalog.scan("photos")
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def _part_files(root):
    return sorted(f for f in os.listdir(_live_dir(root, "photos")) if f.startswith("part-"))


def _durable_insert_jobs(spark, root, base_ids, first_ids, timed_ids, restart=False) -> int:
    """Spark jobs of one served durable 50-row INSERT of ``timed_ids``
    after a fold of ``base_ids`` into the base and a first, untimed
    append of ``first_ids`` (then a restore into a new engine, if
    ``restart``); the base files must not be rewritten."""
    engine = Engine(spark, data_directory=root)
    engine.execute(_PHOTOS)
    _insert(engine, base_ids)  # past the local-row limit: folds into a base
    _insert(engine, first_ids)
    if restart:
        engine = Engine(spark, data_directory=root)
        engine.catalog.restore(root)
    base_files = _part_files(root)
    jobs = spark_jobs(spark, "durable-insert", lambda: _insert(engine, timed_ids))
    assert _part_files(root) == base_files  # appended, not rewritten
    return jobs


def test_durable_insert_above_base_range_runs_no_job(spark, served, tmp_path):
    """A served durable 50-row INSERT of keys above the base's PK range
    runs no Spark job: the range read from the fold's parquet footers
    rules out every key, and the delta file is written by pyarrow on
    the driver."""
    n = catalog._LOCAL_ROWS_MAX + 1
    jobs = _durable_insert_jobs(
        spark, str(tmp_path / "data"), range(n), range(5_000, 5_050), range(6_000, 6_050)
    )
    assert jobs == 0


def test_durable_insert_after_restore_runs_no_job(spark, served, tmp_path):
    """The first served durable INSERT after a restart, of keys above
    the base's PK range, runs no Spark job either: the restore reads
    the range from the base files' footers and the delta rows as local
    rows, so the INSERT appends a delta."""
    n = catalog._LOCAL_ROWS_MAX + 1
    jobs = _durable_insert_jobs(
        spark,
        str(tmp_path / "data"),
        range(n),
        range(5_000, 5_050),
        range(6_000, 6_050),
        restart=True,
    )
    assert jobs == 0


def test_durable_insert_runs_one_job(spark, served, tmp_path):
    """A served durable 50-row INSERT of absent keys inside the base's
    PK range (odd keys over a base of even ones) runs one Spark job: the
    PK probe of the parquet base. The keys reach it as an IN list, not
    as a semi-join whose LocalTableScan build side is broadcast in a job
    of its own."""
    n = catalog._LOCAL_ROWS_MAX + 1
    jobs = _durable_insert_jobs(
        spark, str(tmp_path / "data"), range(0, 2 * n, 2), range(101, 201, 2), range(1, 101, 2)
    )
    assert jobs == 1


def test_fold_leaves_default_parallelism_files(spark, tmp_path):
    """A save past the local-row limit folds base + deltas into exactly
    defaultParallelism PK-range-partitioned files, the partition count
    of a compacted in-memory table."""
    root = str(tmp_path / "data")
    engine = Engine(spark, data_directory=root)
    engine.execute(_PHOTOS)
    _insert(engine, range(100))
    _insert(engine, range(100, 200))
    assert len(_part_files(root)) == 1  # CREATE's empty base; two deltas
    _insert(engine, range(200, catalog._LOCAL_ROWS_MAX + 1))
    n = spark.sparkContext.defaultParallelism
    assert len(_part_files(root)) == n
    assert not [f for f in os.listdir(_live_dir(root, "photos")) if "delta" in f]
    df = engine.catalog.scan("photos")
    assert df.rdd.getNumPartitions() == n
    assert df.count() == catalog._LOCAL_ROWS_MAX + 1
    # the layout contract: each file sorted by PK, the files' PK ranges disjoint
    ranges = []
    for f in _part_files(root):
        ids = pq.read_table(os.path.join(_live_dir(root, "photos"), f), columns=["id"])["id"].to_pylist()
        assert ids == sorted(ids)
        ranges.append((ids[0], ids[-1]))
    ranges.sort()
    assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:])), ranges


def test_system_columns_is_a_local_relation(engine):
    """The system views plan as a LocalTableScan, not a parallelized
    Python RDD split into defaultParallelism slices."""
    _two_inserts(engine)
    for view in ("system_columns", "system_tables"):
        df = engine.execute(f"SELECT * FROM {view}")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" not in plan, plan
