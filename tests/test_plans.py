"""Physical-plan regression tests: the scale properties the engine promises
(pushdown, pruning, broadcasts, partial aggregation) must be visible in the
optimized plans — a slow plan that still returns correct rows should fail CI.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from iceberg_benchmark_poc_spark.bench.census import census
from iceberg_benchmark_poc_spark.core.registry import all_queries

from .conftest import SF_DIR, fixture_queries, small_source_queries


#: compiled-plan cache: four registry-wide sweeps in this file each walk all
#: ~200 queries, and recompiling every plan per sweep made this file alone
#: ~8.5 min (r10 verdict #6). Plans depend on the broadcast threshold (the
#: gate test compiles under -1) and on the input directory, so both are
#: part of the key, with the explain mode.
_PLAN_CACHE: dict[tuple[str, str, str, str], str] = {}


def plan_of(spark, name: str, sf_dir: str = SF_DIR, mode: str = "formatted") -> str:
    key = (name, spark.conf.get("spark.sql.autoBroadcastJoinThreshold"), sf_dir, mode)
    if key not in _PLAN_CACHE:
        df = all_queries()[name].fn(spark, sf_dir)
        explain = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        _PLAN_CACHE[key] = df._jdf.queryExecution().explainString(explain)
    return _PLAN_CACHE[key]


def scans(plan: str) -> list[tuple[str, str]]:
    """[(table, pushed_filters)] for every parquet scan in the plan."""
    return [
        (m.group(1), m.group(2))
        for m in re.finditer(r"Location.*?/(\w+)\.parquet.*?PushedFilters: (\[[^\]]*\])", plan, re.S)
    ]


def test_wide_projection_prunes_and_pushes(spark):
    plan = plan_of(spark, "q_wide_projection")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # 3 projected columns + the filter column — nothing else off the 16-col table
    assert cols == {"l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"}
    table, filters = scans(plan)[0]
    assert "GreaterThanOrEqual(l_shipdate" in filters and "LessThan(l_shipdate" in filters


def test_star_join_broadcasts_dimensions(spark):
    plan = plan_of(spark, "q_star_join")
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
    by_table = dict(scans(plan))
    assert "o_orderdate" in by_table["orders"]  # date range pushed to the orders scan


def _hash_joins(plan: str) -> list[tuple[str, str]]:
    """(join node, build side) of every hash join in a simple-mode plan."""
    return re.findall(r"(\w+HashJoin) \[.*?\], \[.*?\], \w+, (Build\w+)", plan)


def test_dv_joins_broadcast_the_dv_side(spark, degenerate_sf):
    """The DV side, the right side of every DV join, is the hash build
    side. Over one-row-group sources ``core.io.join_small`` builds it in the
    scan's task; over two row groups, as at scale, it is broadcast."""
    two_row_groups, _ = degenerate_sf("two_row_groups")
    for name in ("q_dv_hash_join", "q_dv_semi_join", "q_dv_anti_join", "q_ordered_manifest"):
        assert _hash_joins(plan_of(spark, name, mode="simple")) == [("ShuffledHashJoin", "BuildRight")], name
        two = plan_of(spark, name, two_row_groups, mode="simple")
        assert _hash_joins(two) == [("BroadcastHashJoin", "BuildRight")], name


def test_fact_dim_joins_broadcast_and_push(spark):
    # Q14/Q19 shapes: part broadcasts; Q14's one-month predicate reaches the
    # lineitem scan
    plan = plan_of(spark, "q_promo_revenue")
    assert "BroadcastHashJoin" in plan
    assert "l_shipdate" in dict(scans(plan)).get("lineitem", "")
    assert "BroadcastHashJoin" in plan_of(spark, "q_disjunct_revenue")


def test_market_share_filters_push_to_scans(spark):
    # Q8 shape: seven tables. The fixed nation/region legs broadcast by
    # hint; the part/supplier/customer chains are planner-chosen since r11
    # (SF-scaled slices are not hint-frozen — at bench scale the static
    # planner or AQE broadcasts them from real sizes). Pinned here: the
    # market filters reach their scans, and the nation legs broadcast.
    plan = plan_of(spark, "q_market_share")
    assert plan.count("BroadcastHashJoin") >= 2  # nation legs (+ region)
    assert "p_type" in dict(scans(plan)).get("part", "")  # market filter pushed
    assert "CartesianProduct" not in plan


def test_order_count_dist_preaggregates_orders(spark):
    # Q13 shape: orders must collapse to per-customer counts BEFORE the join —
    # the join's output is customer-sized, never |orders|-sized. In the
    # optimized logical tree the pre-aggregate prints BELOW the join; the
    # naive join-then-count form has no Aggregate under the Join at all.
    df = all_queries()["q_order_count_dist"].fn(spark, SF_DIR)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    head, sep, below_join = logical.partition("Join")
    assert sep, f"no join in plan:\n{logical}"
    assert "Aggregate" in below_join, f"orders not pre-aggregated below the join:\n{logical}"
    # priority filter pushed down to a scan (scans() can mispair adjacent
    # blocks when an earlier scan carries no PushedFilters line)
    plan = plan_of(spark, "q_order_count_dist")
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan


def test_top_supplier_broadcasts_scalar_max(spark):
    # Q15 shape: the 1-row max joins back by broadcast; no global sort
    plan = plan_of(spark, "q_top_supplier")
    assert "BroadcastHashJoin" in plan
    assert "l_shipdate" in dict(scans(plan)).get("lineitem", "")  # quarter pushed


def test_anomaly_broadcasts_moment_table(spark):
    # the per-type moment table (5 rows) broadcasts back to the event scan
    plan = plan_of(spark, "q_anomaly")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_partitioned_sink_prunes_directories(spark):
    # the read-back scan must carry the lang predicate as a PARTITION filter
    # (directory-level pruning), not a data filter
    plan = plan_of(spark, "q_partitioned_sink")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), f"no partition filter in scan: {plan[:400]}"


def test_pricing_summary_partial_aggregates(spark):
    plan = plan_of(spark, "q_pricing_summary")
    # partial HashAggregate must appear below (before) the exchange
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_salted_agg_two_phase(spark):
    plan = plan_of(spark, "q_salted_agg")
    # two aggregation phases (salted partial + merge), each with map-side partials
    assert plan.count("HashAggregate") >= 4


def test_no_cartesian_in_similarity_path(spark):
    # LSH candidate generation must never degrade to a cartesian product
    plan = plan_of(spark, "q_minhash_dedup")
    assert "CartesianProduct" not in plan


# (the registry-wide cartesian/BNLJ/Python-stage audit is
# test_plan_audit_every_query below, with PYTHON_STAGE_ALLOWED/BNLJ_ALLOWED)


#: queries whose plan intentionally sorts or windows through ONE partition.
#: Every entry sorts a set that is metadata-scale BY CONSTRUCTION (manifest
#: entries / row-group stats / commit logs: <1M rows even at 100 TB with
#: 128 MB files — README scale notes) or tiny by construction (the
#: |ranges|-row totals table of the two-phase prefix sum, a group-by result
#: under its final ORDER BY). Corpus-scale global sorts are
#: forbidden — q_corpus_select/q_shard_pack route theirs through
#: operators/prefix.py and appear here only for that totals table.
GLOBAL_SORT_ALLOWLIST = {
    "q_approx_stats": "prefix-sum totals table: one row per range partition",
    "q_asof_join": "rate-snapshot dimension (one row per 90min of span): lead() validity intervals",
    "q_corpus_select": "prefix-sum totals table: one row per range partition",
    "q_equidepth_hist": "prefix-sum totals table: one row per range partition",
    "q_power_users": "prefix-sum totals table: one row per range partition",
    "q_rfm_segments": "prefix-sum totals table over the melted 3-metric histogram: one row per range partition",
    "q_shard_pack": "prefix-sum totals table: one row per range partition",
    "q_dv_positional_join": "manifest entries (reference positional semantics)",
    "q_growth": "commit log",
    "q_lead_lag": "commit log",
    "q_ordered_manifest": "manifest entries (reference ordered-DV semantics)",
    "q_range_span": "row-group stats",
    "q_scan_tree": "manifest tree levels",
    "q_skip_rate": "row-group stats",
    "q_sorted_write": "manifest entries (the writer-organization layout itself)",
    "q_spill_policy": "MDV policy set (reference bin-pack semantics)",
    "q_zorder": "file/row-group stats",
    "q_skyline": "prefix-max offsets table: one row per range partition",
    "q_zipf_slope": "vocabulary rank window: metadata-scale relative to the corpus",
    "q_expire_snapshots": "manifest entries: the retention cutoff's empty-frame min/max window",
    "q_mixture_sample": "per-source table: its empty-frame totals window and the final ORDER BY",
    # final ORDER BY through core.io.order_small: the last stage runs in one task
    "q_binpack_plan": "manifest entries: per-partition window and rollup under the final ORDER BY",
    "q_equality_delete": "final ORDER BY over the order statuses",
    "q_late_orders": "final ORDER BY over the order priorities",
    "q_orphan_files": "final ORDER BY over the orphan months",
    "q_partition_evolution": "final ORDER BY over the candidate partition specs",
    "q_schema_evolution": "final ORDER BY over the schema versions",
    "q_table_fsck": "final ORDER BY over the partition months",
    "q_wap_audit": "final ORDER BY over the audit gates",
}


def _detail_blocks(plan: str) -> dict[int, tuple[str, str]]:
    """{node_id: (node_type, body)} from a formatted explain string."""
    return {
        int(m.group(1)): (m.group(2), m.group(3))
        for m in re.finditer(r"^\((\d+)\) (\S+)\n((?:(?!^\(\d+\)).*\n?)*)", plan, re.M)
    }


def _into_one_partition(node_type: str, body: str) -> bool:
    """A SinglePartition exchange or a ``coalesce(1)``."""
    if node_type == "Exchange":
        return "SinglePartition" in body
    return node_type == "Coalesce" and re.search(r"^Arguments: 1$", body, re.M) is not None


def test_no_undocumented_global_sorts(spark):
    """Registry-wide: a SinglePartition exchange or a ``Coalesce 1`` feeding
    a Sort or a Window is a global sort/window — every input row through
    one task. Allowed only for documented metadata-scale sets; a
    corpus-scale query acquiring one is a 100 TB bottleneck regression
    (exactly what q_corpus_select/q_shard_pack had before the two-phase
    prefix sum)."""
    offenders = {}
    for name in sorted(all_queries()):
        try:
            plan = plan_of(spark, name)
        except Exception as e:  # noqa: BLE001
            offenders[name] = f"explain failed: {e}"
            continue
        blocks = _detail_blocks(plan)
        hits = [
            k
            for k, (t, body) in blocks.items()
            if _into_one_partition(t, body) and blocks.get(k + 1, ("", ""))[0] in ("Sort", "Window")
        ]
        if hits and name not in GLOBAL_SORT_ALLOWLIST:
            offenders[name] = f"single-partition sort at nodes {hits}"
    assert not offenders, f"undocumented global sorts: {offenders}"
    assert set(GLOBAL_SORT_ALLOWLIST) <= set(all_queries())


#: (build, exec) Spark jobs at sf0.001 of every query that reads a
#: ``core.fixtures`` relation, plus q_equality_delete (its ``orders`` and
#: ``customer`` load through ``core.io.load_small``, as the storage listing
#: of q_orphan_files and q_table_fsck does), counted by
#: ``bench.census`` on the second of two runs. Under AQE each exchange runs
#: as its own job, and the result stage is one more. The one-row-group
#: sources load as one partition, so a group-by, window or sort over them
#: plans no exchange, and ``core.io.join_small`` joins two such sides in the
#: scan's task with no broadcast: the layout queries, q_binpack_plan, the
#: DV joins and q_equality_delete run in the result stage alone. What is
#: left is q_scan_tree's distinct counts and the broadcast of its per-level
#: counts, a ``spread_narrow`` exchange before a codec UDF, or
#: q_orphan_files' broadcast: its anti join is pushed below the listing's
#: union, so its sides are no longer one partition each.
METADATA_JOB_COUNTS = {
    "q_agg_stats": (0, 1),
    "q_binpack_plan": (0, 1),
    "q_compaction": (0, 1),
    "q_cost_model": (0, 1),
    "q_dv_anti_join": (0, 1),
    "q_dv_apply": (0, 1),
    "q_dv_coalesce": (0, 2),
    "q_dv_hash_join": (0, 1),
    "q_dv_payload_roundtrip": (0, 2),
    "q_dv_positional_join": (0, 1),
    "q_dv_semi_join": (0, 1),
    "q_equality_delete": (0, 1),
    "q_expire_snapshots": (0, 1),
    "q_group_agg": (0, 1),
    "q_growth": (0, 1),
    "q_lead_lag": (0, 1),
    "q_minmax_prune": (0, 1),
    "q_ordered_manifest": (0, 1),
    "q_orphan_files": (0, 2),
    "q_partition_filter": (0, 1),
    "q_partition_summary": (0, 1),
    "q_percentiles": (0, 1),
    "q_range_span": (0, 1),
    "q_read_stats": (0, 1),
    "q_roaring_roundtrip": (0, 2),
    "q_roaring_runs": (0, 2),
    "q_scan_flat": (0, 1),
    "q_scan_tree": (0, 4),
    "q_skip_rate": (0, 1),
    "q_snapshot_diff": (0, 1),
    "q_sorted_write": (0, 1),
    "q_spill_policy": (0, 2),
    "q_table_fsck": (0, 1),
    "q_time_travel": (0, 1),
    "q_zorder": (0, 1),
}


#: (build, exec) Spark jobs at sf0.001 of the exact-quantile queries: no
#: driver fold, the range ids from footer bounds. q_equidepth_hist runs its
#: range exchange, the offsets table's SinglePartition exchange, its
#: broadcast, the bucket rollup's exchange and the result stage;
#: q_approx_stats adds its sketch and distinct-count passes.
QUANTILE_JOB_COUNTS = {
    "q_approx_stats": (0, 10),
    "q_equidepth_hist": (0, 5),
}


#: (build, exec) Spark jobs at sf0.001 of the queries whose exec count moves
#: by one between identical runs of one commit (the copurchase-graph family
#: of queries/analytic.py and two planner-chosen TPC-H joins), counted by
#: ``bench.census``. Pinned at the largest count seen over nine fresh
#: sessions on a 4-core host (six at 4 configured cores, three at 8); the
#: gate asserts no more than these, so a query that gains a job fails while
#: the one-job jitter passes.
JITTERING_JOB_COUNTS = {
    "q_clustering_coeff": (3, 12),
    "q_jaccard_neighbors": (3, 12),
    "q_min_cost_supplier": (0, 9),
    "q_nation_volume": (0, 6),
    "q_triangles": (3, 10),
}


@pytest.mark.parametrize("name", sorted(METADATA_JOB_COUNTS))
def test_metadata_query_job_counts(spark, name):
    assert census(spark, SF_DIR, [name])[name] == METADATA_JOB_COUNTS[name]


def test_metadata_job_gate_covers_every_fixture_query():
    assert set(fixture_queries()) <= set(METADATA_JOB_COUNTS)


@pytest.mark.parametrize("name", sorted(JITTERING_JOB_COUNTS))
def test_jittering_query_job_counts_stay_at_most(spark, name):
    build, exec_ = census(spark, SF_DIR, [name])[name]
    most_build, most_exec = JITTERING_JOB_COUNTS[name]
    assert build <= most_build and exec_ <= most_exec, (build, exec_)


@pytest.mark.parametrize("name", sorted(QUANTILE_JOB_COUNTS))
def test_quantile_query_job_counts(spark, name):
    assert census(spark, SF_DIR, [name])[name] == QUANTILE_JOB_COUNTS[name]


def test_plan_allowlists_not_stale():
    """Every plan-audit-allowlisted query still exists in the registry —
    a rename must update its justification, not orphan it."""
    names = set(all_queries())
    assert set(BNLJ_ALLOWED) <= names  # defined below; resolved at call time
    assert set(PYTHON_STAGE_ALLOWED) <= names
    assert set(GLOBAL_SORT_ALLOWLIST) <= names
    assert RANGE_SORT_ALLOWED <= names


def test_neardup_bucket_join_stays_equi(spark):
    # candidate generation must be the bucket equi-join, never a cross
    # product over the corpus
    plan = plan_of(spark, "q_embed_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dv_payload_roundtrip_is_narrow(spark):
    # build -> encode -> decode -> aggregate all happen within one task
    # tree; the only allowed exchange is the deliberate spread of the ~1%
    # sampled (file_id, drc) metadata rows across the cluster before the
    # codec UDF (core.io.spread_narrow — keyed REPARTITION_BY_COL, no-op at
    # production split counts). Any aggregation/join exchange, or an
    # exchange carrying more than the two scalar columns, is a regression.
    plan = plan_of(spark, "q_dv_payload_roundtrip")
    exchanges = re.findall(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\nArguments: ([^\n]*)", plan
    )
    assert len(exchanges) <= 1, plan
    for cols, args in exchanges:
        # keyed repartition (REPARTITION_BY_NUM when the count is explicit),
        # never an aggregation ENSURE_REQUIREMENTS exchange
        assert "REPARTITION_BY" in args and "hashpartitioning" in args, (cols, args)
        assert "file_id" in cols and "text" not in cols


def test_pivot_is_single_aggregation(spark):
    # pivot as conditional aggregation: one shuffle (built-in .pivot()
    # would plan two aggregations and shuffle twice)
    plan = plan_of(spark, "q_pivot")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_approx_stats_bounded_error(spark):
    # the query now gates itself: every accuracy verdict must be True (the
    # oracle asserts the same as literals, so a drifting sketch goes red at
    # the driver, not just here)
    row = all_queries()["q_approx_stats"].fn(spark, SF_DIR).collect()[0]
    assert row["n_rows"] > 0
    for col in (
        "orders_within_10pct",
        "parts_within_10pct",
        "q50_within_10pct",
        "q95_within_10pct",
        "q99_within_10pct",
    ):
        assert row[col] is True, f"{col} failed the in-engine 10% accuracy gate"


def test_ivf_assignment_is_map_only(spark):
    """q_ivf_topk's nearest-centroid assignment must be an expression over a
    broadcast one-row centroid table: no explode/window shuffle per vector,
    and the final top-k exchange is the only shuffle after the corpus scan."""
    plan = plan_of(spark, "q_ivf_topk")
    # no exchange keyed on the per-vector id: assignment happens in-place on
    # the scan partitions (posexplode/aggregation exist only on the tiny
    # |cells| x |dims| centroid side); the sole big-side exchange is the
    # final per-query top-k window
    assert not re.search(r"Exchange hashpartitioning\(vec_id", plan)
    # rank<=k is pushed into the window as a group-limit (top-k, not full sort)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_dup_clusters_labels_and_sizes_classes(spark):
    """q_dup_clusters labels and sizes exact-dup classes and expands them
    to documents last: the executed plan has no anti-join (singletons keep
    their own id through a left join), never scans documents (the class
    relation's cut did, at build time, and carries the member doc_ids), and
    its one cluster_id exchange, under the size window, carries no text.
    Checked on the final AQE plan after execution."""
    df = all_queries()["q_dup_clusters"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    lines = plan.splitlines()
    assert "LeftAnti" not in plan, plan
    assert "/documents.parquet" not in plan, plan
    by_cluster = [i for i, line in enumerate(lines) if "Exchange hashpartitioning(cluster_id" in line]
    assert len(by_cluster) == 1, plan
    assert "text#" not in lines[by_cluster[0] + 1], plan


def test_corpus_select_shuffles_metadata_only(spark):
    """The budget sort of q_corpus_select must order (doc_id, tokens, score)
    rows — the text column stays behind the dedup/quality stages."""
    plan = plan_of(spark, "q_corpus_select")
    m = re.search(r"\((\d+)\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\nArguments: SinglePartition", plan)
    assert m, "expected the single-partition exchange for the budget window"
    assert "text" not in m.group(2)  # only (doc_id, tokens, score) are sorted


def test_attribution_join_is_equi_on_user(spark):
    """The interval join must hash-partition on user_id (equi part) with the
    time bound as a post-join filter — never a cartesian/BNLJ."""
    plan = plan_of(spark, "q_stream_attribution")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_is_map_only(spark):
    """The hash-gate sample is a pure narrow filter: no exchange anywhere —
    sampling must never cost a shuffle regardless of corpus size."""
    plan = plan_of(spark, "q_stratified_sample")
    assert "Exchange" not in plan


def test_heavy_hitters_aggregates_map_side(spark):
    """The exploded token stream must partial-aggregate before its exchange
    (hot tokens collapse map-side), and the top-N rank must be a group-limit,
    not a full sort of the vocabulary."""
    plan = plan_of(spark, "q_heavy_hitters")
    assert re.search(r"partial_count", plan)  # partial agg below the first shuffle
    # rank<=N collapses to a bounded top-k operator — either the rank-window
    # group-limit or (better) a full TakeOrderedAndProject pushed from the
    # row_number filter — never a full sort of the vocabulary
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan
    assert not re.search(r"(?m)^\s*\+?-? ?Sort ", plan)


def test_decontaminate_corpus_never_shuffles(spark):
    """Both decontamination joins broadcast the tiny side: the corpus gram
    stream reaches its semi-join as a scan, never through a gram-keyed
    exchange."""
    plan = plan_of(spark, "q_decontaminate")
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2
    assert not re.search(r"Exchange hashpartitioning\(gram", plan)


def test_ship_priority_pushes_filters_and_takes_ordered(spark):
    plan = plan_of(spark, "q_ship_priority")
    # top-10 must be TakeOrderedAndProject, never a global sort of the agg
    assert "TakeOrderedAndProject" in plan
    by_table = dict(scans(plan))
    assert "LessThan(o_orderdate" in by_table["orders"]
    assert "GreaterThanOrEqual(l_shipdate" in by_table["lineitem"]
    assert "EqualTo(c_mktsegment,BUILDING)" in by_table["customer"]


def test_local_volume_region_cut_pushes_down(spark):
    """q_local_volume (Q5 shape): the ASIA cut must reach the region scan,
    and the fixed nation/region legs broadcast. The supplier/customer joins
    are planner-chosen since r11 (SF-scaled slices are not hint-frozen), so
    their physical strategy is NOT pinned — AQE picks broadcast at bench
    scale and shuffle past the threshold."""
    plan = plan_of(spark, "q_local_volume")
    assert "EqualTo(r_name,ASIA)" in dict(scans(plan))["region"]
    # the fixed catalog legs (nation, region) still broadcast by hint
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_manifest_json_parse_stays_in_codegen(spark):
    plan = plan_of(spark, "q_manifest_json")
    # render + parse + rollup is one codegen'd map stage feeding one agg
    # exchange: no python UDF, no join, and a map-side partial aggregate
    assert not python_nodes(plan)
    assert plan.index("HashAggregate") < plan.index("Exchange")


# ---------------------------------------------------------------------------
# repo-wide plan audit
# ---------------------------------------------------------------------------

#: Python stages by design: query -> the Python plan nodes it holds. The DV
#: codec runs plain pickled UDFs (a per-file numpy call; its worker loads
#: neither pandas nor pyarrow), the multimodal decode pipeline pairs an
#: Arrow scalar UDF with a mapInPandas leaf, and the rest are one pandas
#: leaf each. Everything else must stay JVM-side.
PYTHON_STAGE_ALLOWED = {
    "q_dv_payload_roundtrip": {"BatchEvalPython"},
    "q_roaring_roundtrip": {"BatchEvalPython"},
    "q_roaring_runs": {"BatchEvalPython"},
    "q_frame_sample": {"ArrowEvalPython", "MapInPandas"},
    "q_manifest_flush": {"FlatMapGroupsInPandas"},  # per-writer replay of the event log
    "q_media_embed": {"ArrowEvalPython", "MapInPandas"},
    "q_media_features": {"ArrowEvalPython", "MapInPandas"},
    "q_media_resize": {"ArrowEvalPython", "MapInPandas"},
    "q_avro_roundtrip": {"MapInPandas"},  # pure-python OCF codec in mapInPandas leaves
    "q_audio_features": {"ArrowEvalPython", "MapInPandas"},  # WAV codec + windowed features
    "q_video_features": {"ArrowEvalPython", "MapInPandas"},  # AVI container walk + motion
    "q_bpe_train": {"MapInPandas"},  # every BPE merge round in one task over the type dictionary
    "q_bpe_encode": {"MapInPandas"},  # the same one-task trainer, its symbols exploded JVM-side
}


def python_nodes(plan: str) -> set[str]:
    """Names of the Python-evaluating operators in a formatted plan:
    BatchEvalPython, ArrowEvalPython, MapInPandas, MapInArrow,
    FlatMapGroupsInPandas, ArrowWindowPython, the UDTF nodes, ..."""
    names = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    return {n for n in names if "Python" in n or "Pandas" in n or n.endswith("InArrow")}


#: a range-partitioned ORDER BY stays only where the stage under the sort
#: does row-scale work that core.io.order_small would run in one task
RANGE_SORT_ALLOWED = {
    "q_manifest_flush",  # per-writer pandas replay of the event log (one row per event)
}

#: BroadcastNestedLoopJoin is acceptable only when the broadcast side is
#: tiny by construction — a scalar aggregate, the %100 query set, the
#: centroid table, a generated sequence. Each name here was checked by hand;
#: a new appearance means a join lost its equi-condition and must be fixed.
BNLJ_ALLOWED = {
    "q_approx_stats",    # one-row exact-quantile bounds fold joined to the sketch agg
    "q_assoc_rules",     # one-row distinct-order-count fold broadcast to surviving pairs
    "q_asof_join",       # one-row probe-max-ts bound clamping the last rate interval
    "q_dv_coalesce",     # scalar manifest-count bound
    "q_embed_topk",      # broadcast query set vs corpus (the exact baseline)
    "q_ann_int8",        # same capped broadcast query set, int8-quantized scoring
    "q_kmeans",          # broadcast K=8 centroid table crossed with the corpus, per iteration
    "q_gap_fill",        # 1-row hour-range bounds crossed with the distinct type set
    "q_interp_linear",   # same 1-row hour-range bounds cross as q_gap_fill
    "q_bm25",            # two 1-row corpus totals (L, N) broadcast to probe-term postings
    "q_funnel",          # three 1-row stage counts combined by scalar cross join
    "q_idle_customers",  # 1-row balance-threshold fold broadcast to customers
    "q_pmi_bigrams",     # two 1-row corpus-total folds broadcast to the bigram set
    "q_power_users",     # 1-row user-count and threshold folds broadcast to user totals
    "q_countmin_topk",   # k-row probe set crossed with the D-row lane table (<=K*D rows)
    "q_tfidf_terms",     # one-row corpus-count fold (lazy N, no eager count())
    "q_ivf_topk",        # broadcast centroids (|cells| rows)
    "q_ngram_jaccard",   # broadcast sampled probe set
    "q_scan_tree",       # scalar per-level manifest counts
    "q_spill_policy",    # scalar cap remaining after must-inline
    "q_autocorr",        # 2-row lag list crossed with the metadata-scale daily table
    "q_churn",           # 1-row final-week span fold broadcast to the activity pairs
    "q_rfm_segments",    # three 1-row quintile-cut folds broadcast to user metrics
    "q_benford",         # one-row grand-total fold broadcast to the 9-digit table
    "q_keyness_terms",   # one-row corpus-token-total fold broadcast to the vocabulary
    "q_important_stock",  # 1-row national-stock-total fold broadcast to per-part values
}


def test_plan_audit_every_query(spark):
    """Global scale guardrail over every registered query's physical plan:
    no cartesian product, no range-sampling sort exchange, Python stages
    exactly as PYTHON_STAGE_ALLOWED names them (none for any other query),
    and nested-loop broadcasts only on the explicit allowlist."""
    for name in sorted(all_queries()):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert python_nodes(plan) == PYTHON_STAGE_ALLOWED.get(name, set()), (
            f"{name}: Python stages {sorted(python_nodes(plan))}"
        )
        if name not in BNLJ_ALLOWED:
            assert "BroadcastNestedLoopJoin" not in plan, f"{name}: nested-loop join"
        if name not in RANGE_SORT_ALLOWED:
            # a final ORDER BY over a small result goes through core.io.order_small
            assert "rangepartitioning" not in plan, f"{name}: range-partitioned sort"


def test_no_container_typed_outputs_on_oracle_gated_queries(spark):
    """Driver-contract guard (round-6 regression class): the correctness
    driver's pandas canonicalizer sorts + factorizes every output column, and
    list/dict cells crash it (`TypeError: unhashable type: 'list'` —
    q_inverted_index was the registry's first never-green query because it
    shipped an ARRAY<BIGINT> postings column). Every oracle-gated query must
    emit scalar columns only; encode sequences as joined text or a
    fingerprint. Schema inspection is analysis-only, so this covers all
    registered queries cheaply."""
    for name, q in sorted(all_queries().items()):
        if q.oracle is None:
            continue
        df = q.fn(spark, SF_DIR)
        for col, dtype in df.dtypes:
            assert not dtype.startswith(("array", "map", "struct")), (
                f"{name}: output column {col!r} has container type {dtype} — "
                f"the driver canonicalizer cannot hash list/dict cells; emit "
                f"array_join'd text or an md5 fingerprint instead"
            )


def test_late_orders_decorrelates_exists(spark):
    plan = plan_of(spark, "q_late_orders")
    # correlated EXISTS must become a semi join with the date filter pushed
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(o_orderdate,1996-01-01" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_no_expensive_expr_duplicated_inside_lambdas(spark):
    """Higher-order-function guard: an unbound expensive expression (split,
    regexp, hash) referenced inside a lambda is inlined into EVERY element
    access — e.g. re-tokenizing a document once per array element, turning a
    linear scan quadratic (cost q_repetition_ngrams 6.6x before it was bound
    as a column). Expensive inputs to transform/filter/aggregate lambdas must
    be projected as columns first."""
    import re

    expensive = ("split(", "regexp_replace(", "regexp_extract", "md5(", "array_distinct(")
    for name in sorted(all_queries()):
        plan = plan_of(spark, name)
        for lam in re.findall(r"lambdafunction\(.*?lambda", plan):
            for e in expensive:
                assert lam.count(e) < 2, (
                    f"{name}: {e!r} appears {lam.count(e)}x inside one lambda — "
                    f"bind it as a column before the higher-order function"
                )


def test_sessionize_single_exchange(spark):
    """q_sessionize's docstring claim: one user_id shuffle serves both the
    session-numbering window AND the per-session aggregate (the groupBy
    keys are a superset of the window partition key)."""
    plan = plan_of(spark, "q_sessionize")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(user_id" in plan


def test_equiwidth_hist_single_pass(spark):
    """q_equiwidth_hist is one map-side-combined aggregation: partial
    HashAggregate before the single Exchange, no join, no window sort."""
    plan = plan_of(spark, "q_equiwidth_hist")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert plan.index("HashAggregate") < plan.index("Exchange")
    assert "Join" not in plan and "Window" not in plan


def test_reconcile_joins_aggregates_not_ledgers(spark):
    """q_reconcile must aggregate BOTH sides to day grain before the full
    outer join — two aggregation exchanges only; raw-fact join would add
    hashpartitioning exchanges on the ungrouped rows."""
    plan = plan_of(spark, "q_reconcile")
    assert "FullOuter" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    # both join inputs are aggregated: every exchange carries day_idx keys
    keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert keys and all(k == "day_idx" for k in keys), keys


def test_waiting_suppliers_fact_shuffles_on_orderkey_only(spark):
    """q_waiting_suppliers' docstring claim: the only big-data shuffles are
    on orderkey (join + quantifier aggregate + flag-back join) plus the
    metadata-scale supplier rollup; dimensions broadcast, and the naive
    double-self-join's extra fact shuffles never appear."""
    plan = plan_of(spark, "q_waiting_suppliers")
    keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert keys and set(keys) <= {"l_orderkey", "s_name"}, keys
    assert "BroadcastNestedLoopJoin" not in plan


def test_profit_by_nation_pushes_part_filter_before_broadcast(spark):
    """The part-name predicate must reach the parquet scan (so only
    matching partkeys ship in the broadcast) and the single aggregation
    exchange carries the nation grouping."""
    plan = plan_of(spark, "q_profit_by_nation")
    assert "StringContains(p_name,red)" in dict(scans(plan))["part"]
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(n_name" in plan


def test_markov_shuffles_raw_events_once(spark):
    """Raw events shuffle exactly once (user_id for the lead window); the
    transition counts and per-src normalizing window run on the
    |types|^2 metadata-scale table."""
    plan = plan_of(spark, "q_markov")
    keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert keys.count("user_id") == 1, keys
    assert set(keys) <= {"user_id", "src"}, keys


def test_rolling_distinct_broadcasts_day_grid(spark):
    """The report-day restriction joins against the distinct-days table by
    broadcast — never a sort-merge range join of the pair table — and
    every shuffle carries a pair/day key, not raw events."""
    plan = plan_of(spark, "q_rolling_distinct")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert keys and set(keys) <= {"user_id", "day_idx", "report_day"}, keys


def test_event_paths_reuses_user_partitioning(spark):
    """q_event_paths' docstring claim: one user_id exchange serves both the
    rank window and the per-user path build (superset grouping keys);
    the only other exchange is the metadata-scale path histogram."""
    plan = plan_of(spark, "q_event_paths")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert set(keys) == {"user_id", "path"}, keys


def test_benford_scans_one_column(spark):
    """The digit profile reads exactly one column from orders — a scan
    that pulls more than o_totalprice is a projection-pruning regression."""
    plan = plan_of(spark, "q_benford")
    assert "ReadSchema: struct<o_totalprice:double>" in plan


def test_khop_plan_stays_linear_in_hops(spark):
    """The visible q_khop plan must stay flat: edge build and per-round
    frontiers sit behind lazy checkpoints, so the top-level plan never
    re-derives earlier rounds (pre-checkpoint this exploded to ~37
    exchanges for 3 hops) and never degrades to a nested-loop join."""
    plan = plan_of(spark, "q_khop")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert "BroadcastNestedLoopJoin" not in plan


def test_cep_match_reuses_user_partitioning(spark):
    """Same superset-grouping-key property as q_event_paths: one user_id
    exchange serves the rank window and the path build; the rollup
    exchange is the 2x|types| report."""
    plan = plan_of(spark, "q_cep_match")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    keys = re.findall(r"hashpartitioning\((\w+)", plan)
    assert set(keys) == {"user_id", "first_event"}, keys


def test_skyline_never_sorts_the_catalog_globally(spark):
    """q_skyline's scan must be the two-phase prefix-max. The operator
    derives DETERMINISTIC range ids (width_bucket over the price domain
    folded from parquet footer stats), so there is no boundary sampling, no
    boundary-pinning localCheckpoint, and no lineage cut: the whole plan is
    visible. Pinned: no ExistingRDD cut, the catalog-scale window
    partitioned by the range id (never an unpartitioned window over the
    catalog — the only global window is the |ranges|-row offsets table),
    and no cartesian anywhere. That both phases share one range exchange at
    run time is checked on the executed plan in test_properties.py
    (test_prefix_scan_materializes_one_range_exchange)."""
    plan = plan_of(spark, "q_skyline")
    assert "ExistingRDD" not in plan  # the r11 pinning cut is gone
    assert "hashpartitioning(__range_pid" in plan  # per-range catalog window
    # the deterministic range id is a width_bucket expression, not a sampled
    # partition id: no rangepartitioning exchange anywhere in the operator
    assert "width_bucket" in plan
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_prefix_scan_range_ids_live_only_in_the_operator():
    """One prefix-scan path: range ids (width_bucket, the __range_pid
    column) are built only in operators/prefix.py — no query inlines its
    own copy of the scan — and the operator has no sampled-boundary mode
    (repartitionByRange)."""
    pkg = Path(__file__).resolve().parents[1] / "iceberg_benchmark_poc_spark"
    prefix = pkg / "operators" / "prefix.py"
    offenders = [
        str(path.relative_to(pkg))
        for path in sorted(pkg.rglob("*.py"))
        if path != prefix and re.search(r"width_bucket|__range_pid", path.read_text())
    ]
    assert not offenders, f"range ids built outside operators/prefix.py: {offenders}"
    assert "repartitionByRange" not in prefix.read_text()


#: the calls that materialize a frame outside core.io.cut
_MATERIALIZE_CALLS = re.compile(
    r"localCheckpoint|\.persist\(|\.cache\(\)|\.checkpoint\(|unpersist|StorageLevel"
)


def test_queries_and_operators_materialize_only_through_cut():
    """One materialization policy: every query and operator materializes a
    frame through core.io.cut (a lazy local checkpoint replicated on two
    executors), never with its own persist, cache, checkpoint or storage
    level, and never unpersists."""
    pkg = Path(__file__).resolve().parents[1] / "iceberg_benchmark_poc_spark"
    offenders = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for sub in ("queries", "operators")
        for path in sorted((pkg / sub).rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _MATERIALIZE_CALLS.search(line)
    ]
    assert not offenders, "materialized outside core.io.cut:\n" + "\n".join(offenders)


def test_minhash_lsh_path_is_defined_once():
    """One MinHash-LSH near-duplicate path: textpipe.py holds one shingle CTE
    and one LSH CTE chain (every oracle of the family calls _shingles_cte /
    _lsh_ctes instead of carrying a copy), candidate Jaccard is computed
    only by operators/text.py's jaccard_from_arrays (no other module calls
    array_intersect), and the exploded jaccard_for_pairs is gone."""
    pkg = Path(__file__).resolve().parents[1] / "iceberg_benchmark_poc_spark"
    textpipe = (pkg / "queries" / "textpipe.py").read_text()
    assert textpipe.count("range({MINHASH_K})") == 1
    assert textpipe.count("ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle") == 1
    assert textpipe.count("md5(shingle)") == 1
    text_ops = pkg / "operators" / "text.py"
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        assert "jaccard_for_pairs" not in src, path.relative_to(pkg)
        if path != text_ops:
            assert not re.search(r"array_intersect\(", src), path.relative_to(pkg)


def test_min_cost_supplier_window_partitions_by_part(spark):
    """q_min_cost_supplier (TPC-H Q2 shape): the fixed nation/region legs
    broadcast by hint; the part/supplier joins are planner-chosen since r11
    (filtered slices of SF-scaled tables are not hint-frozen). What IS
    pinned: the correlated-min window partitions by p_partkey — never a
    global sort — and the size/type cuts reach the part scan."""
    plan = plan_of(spark, "q_min_cost_supplier")
    assert "hashpartitioning(p_partkey" in plan
    assert plan.count("BroadcastHashJoin") >= 2  # nation, region legs
    part_scan = dict(scans(plan))["part"]
    assert "EqualTo(p_size" in part_scan
    # no global Sort outside the window's per-partition local sort
    assert "rangepartitioning" not in plan


def test_shipmode_priority_filters_before_the_orders_join(spark):
    """q_shipmode_priority (Q12 shape): the three derived-date predicates
    are lineitem-local, so they must evaluate below the orderkey join —
    the Filter NODE carrying the year predicate sits in the join's input
    subtree, not above the join — and the 7-group fold partial-aggregates
    before its exchange. Node-anchored: formatted-plan ids are assigned
    bottom-up, so every input of a join has a smaller id than the join."""
    plan = plan_of(spark, "q_shipmode_priority")
    blocks = plan.split("\n\n")
    year_filter_ids = [
        int(re.match(r"\((\d+)\) Filter", b).group(1))
        for b in blocks
        if re.match(r"\(\d+\) Filter", b) and "1997-01-01" in b
    ]
    join_ids = [
        int(re.match(r"\((\d+)\) \w+Join", b).group(1))
        for b in blocks
        if re.match(r"\(\d+\) \w+Join", b)
    ]
    assert year_filter_ids, "derived-date filter node missing from the plan"
    assert join_ids, "orderkey join node missing from the plan"
    assert max(year_filter_ids) < min(join_ids), (
        "derived-date filter must evaluate below the orders join",
        year_filter_ids,
        join_ids,
    )
    assert "partial_sum" in plan  # map-side combine before the 7-group exchange


#: tables whose row counts grow with SF — a FORCED broadcast of one of these
#: with no cardinality cut below it is the plan choice that ages worst at
#: 100x (r8 verdict: q_min_cost_supplier broadcast the unfiltered supplier
#: dimension). nation/region are fixed 25/5-row catalogs and exempt.
SF_SCALED_TABLES = {
    "lineitem", "orders", "customer", "part", "supplier",
    "documents", "embeddings", "events",
}


def _sketch_nodes(plan: str) -> list[tuple[int, str, int]]:
    """[(depth, name, id)] for the formatted plan's tree sketch."""
    nodes = []
    for line in plan.splitlines():
        m = re.match(r"^([:\s]*)(?:[+*][-\s]+)?(\w[\w ]*?)\s*\((\d+)\)\s*$", line)
        if m:
            nodes.append((len(m.group(1)), m.group(2).strip(), int(m.group(3))))
        elif nodes and not line.strip():
            break  # sketch ends at the first blank line
    return nodes


def _node_details(plan: str) -> dict[int, str]:
    out = {}
    for b in plan.split("\n\n"):
        m = re.match(r"\((\d+)\) ", b)
        if m:
            out[int(m.group(1))] = b
    return out


def _filter_is_real(block: str) -> bool:
    """True if a Filter node's condition cuts rows beyond null-pruning."""
    m = re.search(r"Condition : (.*)", block)
    if not m:
        return False
    cond = re.sub(r"isnotnull\([^)]*\)", "", m.group(1))
    # LIKE compiles to StartsWith/EndsWith/Contains in physical plans
    return bool(re.search(r"[<>=]|LIKE|IN \(| INSET |StartsWith|EndsWith|Contains", cond))


#: queries allowed a forced broadcast of an SF-scaled table with no cut
#: below the exchange — each with the reason the hint is the design:
UNCUT_BROADCAST_ALLOWED = {
    # stream-static enrichment: the broadcast IS the family's semantic —
    # the stream side must never be the shuffled side of the join
    # (streaming/dedup_join.py enrich_events); the batch twin compiles the
    # same code, so it carries the same hint
    "q_stream_enrich",
}

#: Forced broadcasts whose only cardinality cut is a FILTER (no aggregate)
#: on an SF-scaled table. A bare filter is NOT sufficient justification —
#: constant-fraction slices still grow linearly with SF (r10 advice), so
#: every such hint must be documented here with why its build side is
#: bounded (or why the hint is the benchmarked design). Everything NOT
#: bounded was un-frozen in r11 and left planner-chosen instead
#: (q_ship_priority, q_local_volume, q_disjunct_revenue, q_market_share,
#: q_small_qty_revenue, q_profit_by_nation, q_min_cost_supplier,
#: q_part_supplier_cnt, q_surplus_suppliers, q_nation_volume).
FILTER_CUT_BROADCAST_SIZED = {
    # constant-cap probe sets: filter includes vec_id < QUERY_CAP (32), so
    # the build side is a fixed row count at every SF
    "q_embed_topk": "query set capped at 32 vectors (vec_id < QUERY_CAP)",
    "q_embed_ann": "query set capped at 32 vectors (vec_id < QUERY_CAP)",
    "q_ann_int8": "query set capped at 32 vectors (vec_id < QUERY_CAP)",
    # DV manifests are file-granular METADATA (one row per data file with
    # deletes): at 100 TB that is ~file-count x 30%, orders of magnitude
    # under row counts, and broadcast-resolution IS the reference strategy
    # being benchmarked (poc/test_dv_resolution_strategies.py)
    "q_dv_hash_join": "DV manifest: file-granular metadata, reference's broadcast-resolution strategy",
    "q_dv_semi_join": "DV manifest: file-granular metadata, reference's broadcast-resolution strategy",
    "q_dv_anti_join": "DV manifest: file-granular metadata, reference's broadcast-resolution strategy",
    "q_ordered_manifest": "DV manifest: file-granular metadata, reference's broadcast-resolution strategy",
    # equality-delete manifests are commit-sized (rows deleted per commit),
    # not table-sized — the fixture models one commit's delete set
    "q_equality_delete": "equality-delete manifest is commit-sized by nature",
}


def test_no_query_force_broadcasts_an_unfiltered_sf_table(spark, degenerate_sf):
    """Registry-wide (r9 verdict #5, tightened per r10 advice): every FORCED
    broadcast of an SF-scaled table in every compiled plan must carry an
    AGGREGATE below the exchange (a genuinely bounded build side), OR — if
    its only cut is a filter — be individually documented in
    FILTER_CUT_BROADCAST_SIZED with why the filtered side is bounded. A bare
    filter no longer passes silently: constant-fraction slices grow linearly
    with SF, so the old any-real-filter rule accepted hints a 100x scale-up
    cannot re-plan away. Auto-broadcast is disabled for the compile so the
    only BroadcastExchanges left are the explicit F.broadcast hints. The
    queries over ``core.io.load_small`` sources are compiled a second time
    over two-row-group sources: over one row group ``core.io.join_small``
    hashes in the scan's task instead, and two row groups give the plan
    every table has at scale, forced broadcasts included."""
    two_row_groups, _ = degenerate_sf("two_row_groups")
    compiles = [(name, SF_DIR) for name in sorted(all_queries())]
    compiles += [(name, two_row_groups) for name in small_source_queries()]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bad: list[str] = []
        filter_only_seen: set[str] = set()
        for name, sf_dir in compiles:
            if name in UNCUT_BROADCAST_ALLOWED:
                continue
            plan = plan_of(spark, name, sf_dir)
            nodes = _sketch_nodes(plan)
            details = _node_details(plan)
            assert nodes, f"could not parse formatted plan for {name}"
            assert details, f"could not parse formatted plan details for {name}"
            for i, (depth, nm, _nid) in enumerate(nodes):
                if "BroadcastExchange" not in nm:
                    continue
                subtree = []
                for d2, nm2, nid2 in nodes[i + 1:]:
                    if d2 <= depth:
                        break
                    subtree.append((nm2, nid2))
                txt = "\n\n".join(details.get(nid, "") for _, nid in subtree)
                tables = set(re.findall(r"Location[^\n]*?/(\w+)\.parquet", txt))
                if not (tables & SF_SCALED_TABLES):
                    continue  # fixed-size catalog (nation/region) — broadcast freely
                has_agg = any("Aggregate" in nm2 for nm2, _ in subtree)
                has_filter = any(
                    "Filter" in nm2 and _filter_is_real(details.get(nid2, ""))
                    for nm2, nid2 in subtree
                )
                if has_agg:
                    continue  # aggregated build side: bounded by group keys
                if has_filter:
                    filter_only_seen.add(name)
                    if name not in FILTER_CUT_BROADCAST_SIZED:
                        bad.append(
                            f"{name}: filter-only cut on {sorted(tables & SF_SCALED_TABLES)}"
                            " — document in FILTER_CUT_BROADCAST_SIZED or un-freeze the hint"
                        )
                    continue
                bad.append(f"{name}: NO cut on {sorted(tables & SF_SCALED_TABLES)}")
                break
        assert not bad, (
            "forced broadcast of an SF-scaled table without a bounded "
            f"(aggregate or documented) build side in: {bad}"
        )
        stale = set(FILTER_CUT_BROADCAST_SIZED) - filter_only_seen
        assert not stale, (
            f"FILTER_CUT_BROADCAST_SIZED entries no longer match any forced "
            f"filter-cut broadcast (un-frozen or rewritten — delete them): {sorted(stale)}"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_uncut_broadcast_allowlist_not_stale():
    assert UNCUT_BROADCAST_ALLOWED <= set(all_queries()), (
        "UNCUT_BROADCAST_ALLOWED names a query that no longer exists"
    )
    assert set(FILTER_CUT_BROADCAST_SIZED) <= set(all_queries()), (
        "FILTER_CUT_BROADCAST_SIZED names a query that no longer exists"
    )


def test_forecast_revenue_is_a_pure_pushed_scan(spark):
    """q_forecast_revenue (TPC-H Q6 shape): the scan IS the query — every
    predicate (ship-year range, discount band, quantity cap) must reach the
    parquet scan as a pushed filter, the ReadSchema must carry only the 4
    referenced columns of the 16-column table, and the fold must partial-
    aggregate before its single 1-row exchange."""
    plan = plan_of(spark, "q_forecast_revenue")
    table, filters = scans(plan)[0]
    assert table == "lineitem"
    for pushed in (
        "GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity",
    ):
        assert pushed in filters, f"{pushed} not pushed: {filters}"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}
    assert "partial_sum" in plan
    assert "Join" not in plan and "Sort" not in plan


def test_bpe_band_is_flat_above_its_checkpoints(spark):
    """q_bpe_encode's plan must stay the minimal shape: the word-count
    shuffle -> ONE MapInPandas task that runs every merge round over the
    type dictionary -> explode -> map-side partial sum -> the token
    exchange. No cut (the plan has no RDD leaf), no joins, no per-round
    subtrees."""
    plan = plan_of(spark, "q_bpe_encode")
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan
    assert "Join" not in plan
    assert "partial_sum" in plan
    nodes = _sketch_nodes(plan)  # the first tree only, if AQE prints two
    mip = [i for i, (_, nm, _) in enumerate(nodes) if nm.startswith("MapInPandas")]
    assert len(mip) == 1, nodes
    depth = nodes[mip[0]][0]
    below = []
    for d, nm, _ in nodes[mip[0] + 1:]:
        if d <= depth:
            break
        below.append(nm)
    assert sum("Exchange" in nm for nm in below) == 1, below  # the word count
    assert any("HashAggregate" in nm for nm in below), below

    from iceberg_benchmark_poc_spark.queries.bpe import _word_types

    sub = _word_types(spark, SF_DIR)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    sub_plan = sub._jdf.queryExecution().explainString(mode)
    assert "partial_count" in sub_plan or "partial_sum" in sub_plan
    assert len(re.findall(r"\(\d+\) Exchange", sub_plan)) == 1


def test_important_stock_scalar_joins_back_as_one_row_broadcast(spark):
    """q_important_stock (Q11 shape): the national total/count scalar is a
    1-row broadcast (the allowlisted BNLJ), and the doubly-consumed value
    sub-plan sits behind a cut (core.io.cut) so the partsupp distinct
    shuffle executes once, not once per consumer. The per-part aggregation's
    own shape (map-side partial, one ps_partkey exchange) is pinned on the
    un-checkpointed helper, since the checkpoint hides it from the top plan."""
    plan = plan_of(spark, "q_important_stock")
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row scalar fold
    assert "ExistingRDD" in plan or "LogicalRDD" in plan  # the checkpoint cut
    from iceberg_benchmark_poc_spark.queries.tpch_derived import _q11_stock_values

    sub = _q11_stock_values(spark, SF_DIR)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    sub_plan = sub._jdf.queryExecution().explainString(mode)
    assert sub_plan.count("hashpartitioning(ps_partkey") >= 1
    assert "partial_sum" in sub_plan  # map-side combine before the exchange
