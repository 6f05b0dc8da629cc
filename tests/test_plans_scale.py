"""Physical-plan assertions: the scale properties every query claims
(pushdown, broadcast strategy, no accidental cartesian products) are
pinned here against ``.explain``-style plan text, so a refactor that
silently loses a PushedFilter or turns a broadcast join into a
nested-loop fails CI — correctness tests alone would not catch it.

The registry-wide sweeps read one module-scoped build of every row's
plan, which also feeds the PLAN_SHAPES.json ratchet.
"""

from __future__ import annotations

import json
import os

import pytest

from qms_datawarehouse_spark import planaudit
from qms_datawarehouse_spark.plans.registry import REGISTRY

from conftest import SF_DIR

LEDGER = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_SHAPES.json"
)


def _plan(spark, name: str) -> str:
    # eager-checkpoint queries return a Scan ExistingRDD (which would
    # pass every structural assertion vacuously) — row_plans keeps the
    # real plan checkpoint_result recorded during construction
    plans = planaudit.row_plans(name, lambda: REGISTRY[name].fn(spark, SF_DIR))
    return plans[name]


@pytest.fixture(scope="module")
def registry_plans(spark) -> dict[str, str]:
    """Every registry row's plan (``name``) and side captures
    (``name/side``), each row built once for the whole module."""
    plans: dict[str, str] = {}
    for name, qd in REGISTRY.items():
        plans.update(planaudit.row_plans(name, lambda: qd.fn(spark, SF_DIR)))
    return plans


def test_point_lookup_pushes_both_predicates(spark):
    plan = _plan(spark, "s8_point_lookup")
    assert "PushedFilters" in plan
    assert "EqualTo(o_custkey,42)" in plan.replace(" ", "")
    assert "EqualTo(o_orderstatus,F)" in plan.replace(" ", "")


def test_incremental_scan_pushes_cursor_predicate(spark):
    plan = _plan(spark, "s1_incremental_scan")
    # the delta predicate must reach the scan on the RAW column
    assert "GreaterThan(ts" in plan.replace(" ", "")


def test_projection_prunes_read_schema(spark):
    plan = _plan(spark, "p4_projection")
    # ReadSchema has exactly the referenced columns, not all 11
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema
    assert "l_shipdate" not in read_schema
    assert "l_returnflag" not in read_schema


def test_dim_joins_are_broadcast(spark):
    for name in ("j2_orders_customer", "j5_denormalized_orders", "q5_region_revenue"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_flagship_single_fact_shuffle(spark):
    plan = _plan(spark, "flagship_staff_report")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # one groupBy(orderkey) pass produces first-ship AND company sets:
    # lineitem must be scanned exactly once
    assert plan.count("lineitem.parquet") == 1


def test_no_cartesian_products_anywhere(registry_plans):
    """Only the explicitly-documented brute-force baselines may build
    all-pairs; everything else must stay equi-join shaped."""
    allowed = {
        "dedup_embedding_cosine",  # documented small-block baseline
        "similarity_topk_cosine",  # 1-row broadcast query vector
        "similarity_zero_norm",  # same shape (degenerate-input twin)
        "similarity_ivf_probe",  # 1-row broadcast codebook + query
        "ivf_index_incremental_replay",  # same broadcast-codebook assign
    }
    for name in REGISTRY:
        if name in allowed:
            continue
        assert "CartesianProduct" not in registry_plans[name], name


def test_plan_shapes_do_not_grow(registry_plans):
    """PLAN_SHAPES.json is a ratchet over every row's plan shape
    (``planaudit.shape``: exchanges by partitioning, broadcasts, file
    scans, joins by strategy, Python/Arrow evals): a count above its
    ledger entry fails by row and key; a ``null`` entry (the count
    differs between 2 and 4 cores) is skipped. A shrinking count is
    locked in, and a new or removed row recorded, by regenerating:
    ``python tools/plan_shapes.py``."""
    with open(LEDGER) as f:
        ledger = json.load(f)
    assert set(ledger) == set(registry_plans), {
        "not in ledger": sorted(set(registry_plans) - set(ledger)),
        "not in registry": sorted(set(ledger) - set(registry_plans)),
    }
    grown = {}
    for row, plan in registry_plans.items():
        for key, n in planaudit.shape(plan).items():
            cap = ledger[row][key]
            if cap is not None and n > cap:
                grown[f"{row} {key}"] = f"{cap} -> {n}"
    assert not grown, grown


def test_plan_capture_is_opt_in(spark, warehouse):
    """Outside ``planaudit.capture()`` a checkpointed row keeps no plan
    text anywhere in planaudit and still unpersists its caches (only
    the eager checkpoint's own RDD stays persisted); inside it, the
    row's plan and a join-MV refresh's side plans are recorded."""
    from pyspark.sql import functions as F

    from qms_datawarehouse_spark.operators.join_matview import (
        refresh_join_matview,
    )
    from qms_datawarehouse_spark.operators.merge import merge_upsert

    from test_join_matview import N_BUCKETS, _seed

    def persistent_rdds():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persistent_rdds()
    out = REGISTRY["dedup_minhash_lsh"].fn(spark, SF_DIR)  # noqa: F841
    # out (held, so the context cleaner cannot drop it) keeps its
    # eager checkpoint persisted; sh and bl are gone
    assert len(persistent_rdds() - before) == 1
    held = [
        k for k, v in vars(planaudit).items()
        if not k.startswith("__") and "isFinalPlan" in repr(v)
    ]
    assert held == [], f"planaudit keeps plan text in {held}"

    with planaudit.capture() as plans:
        REGISTRY["dedup_minhash_lsh"].fn(spark, SF_DIR)
    assert "isFinalPlan" in plans["dedup_minhash_lsh"]

    _seed(spark, warehouse)
    moved = spark.createDataFrame(
        [("13", 13, 77, "2024-02-01")],
        "`_id` string, cust_id long, segment long, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    merge_upsert(warehouse, "dims", moved, n_buckets=N_BUCKETS)
    with planaudit.capture() as plans:
        assert refresh_join_matview(warehouse, "mv").mode == "incremental"
    assert {"join_matview:dim_diff", "join_matview:dim_probe"} <= set(plans)


def test_minhash_has_no_explode_before_signatures(spark):
    """The signature stage must compute per-row (array_min over the
    shingle array), never via explode+groupBy (which shuffles the
    whole shingle corpus)."""
    from qms_datawarehouse_spark.operators.dedup import _minhash_sig_cols  # noqa: F401

    plan = _plan(spark, "dedup_minhash_lsh")
    # explode appears only in the band layout (4 rows/doc), and the
    # candidate+verify joins are equi-joins
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_asof_join_is_single_shuffle_window(spark):
    plan = _plan(spark, "asof_join_last_purchase")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_stays_equi(spark):
    plan = _plan(spark, "range_join_purchases_1h")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["q1_pricing_summary", "q6_revenue_filter"])
def test_scan_agg_queries_whole_stage_codegen(spark, name):
    # AQE finalizes the physical plan lazily — execute first, then
    # inspect the final plan for codegen spans
    df = REGISTRY[name].fn(spark, SF_DIR)
    df.collect()  # count() would execute a different (count-agg) plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes are WholeStageCodegen spans in the compact form
    assert "*(" in plan


def test_time_partitioned_write_prunes_partitions(spark, warehouse):
    """A date predicate on a time-partitioned table must prune whole
    partition directories (PartitionFilters), not filter rows."""
    from pyspark.sql import functions as F

    from qms_datawarehouse_spark.plans.registry import tables

    (events,) = tables(spark, SF_DIR, "events")
    warehouse.write_time_partitioned("events_td", events, ts_col="ts")

    df = warehouse.read("events_td").filter(
        F.col("_event_date") == "2024-01-05"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_event_date" in plan.split("PartitionFilters")[1].splitlines()[0]
    # row results still correct
    n_direct = events.filter(F.to_date("ts") == "2024-01-05").count()
    assert df.count() == n_direct


def test_q7_nation_filters_reach_the_scans(spark):
    """The bilateral pair's nation filter must be pushed into BOTH
    nation-role scans (pre-filtered broadcast dims), and every dim
    join stays broadcast — the fact shrinks at its first join."""
    plan = _plan(spark, "q7_nation_trade")
    squashed = plan.replace(" ", "")
    assert squashed.count("In(n_name,[NATION_1,NATION_2])") >= 2
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("lineitem.parquet") == 1


def test_q9_like_filter_pushed_and_part_broadcast(spark):
    plan = _plan(spark, "q9_product_profit")
    assert "StringContains(p_name,red)" in plan.replace(" ", "")
    assert "BroadcastHashJoin" in plan
    assert plan.count("lineitem.parquet") == 1


def test_embedding_lsh_is_an_equi_join_not_all_pairs(spark):
    """The scale path must generate candidates via a bucket equi-join;
    a refactor that loses the bucket key silently degrades to the
    corpus² cross join."""
    plan = _plan(spark, "dedup_embedding_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the baseline next door IS all-pairs, by design
    base = _plan(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" in base or "BroadcastNestedLoopJoin" in base


def test_stratified_sample_is_shuffle_free(spark):
    plan = _plan(spark, "curation_stratified_sample")
    # map-side hash-threshold filter: a single scan stage, no exchange
    assert "Exchange" not in plan
    assert plan.count("documents.parquet") == 1


def test_pack_sequences_windows_per_shard_only(spark):
    plan = _plan(spark, "curation_pack_sequences")
    # exactly one hash exchange (partition by shard); the groupBy
    # reuses the shard partitioning — a second exchange would mean the
    # packing had acquired a global stage
    import re

    hash_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert hash_exchanges == 1, plan[:2000]
    assert "rangepartitioning" not in plan  # no global sort anywhere


def test_contamination_broadcasts_benchmark_side(spark):
    plan = _plan(spark, "curation_contamination")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # probe must not shuffle the corpus


def test_knn_join_prunes_topk_before_shuffle(spark):
    plan = _plan(spark, "similarity_knn_join_lsh")
    # Spark's WindowGroupLimit partial mode runs BEFORE the exchange:
    # at most k rows per query vector cross the wire
    assert "WindowGroupLimit" in plan
    assert plan.index("WindowGroupLimit") is not None
    assert "CartesianProduct" not in plan


def test_scd2_single_keyed_shuffle(spark):
    plan = _plan(spark, "scd2_user_event_type")
    import re

    hash_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    # lag-filter window and lead window share the user_id partitioning
    assert hash_exchanges == 1, plan[:2000]


def test_q2_q11_q20_broadcast_dims_no_cartesian(spark):
    """The adapted TPC-H Q2/Q11/Q20 shapes: dims broadcast; the only
    cross join allowed is the one-row scalar threshold in Q11; no
    nested-loop joins over the fact table."""
    for name in ("q2_min_cost_supplier", "q11_important_parts", "q20_heavy_shippers"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
    # Q20's IN-subquery must become a semi join, not an aggregate rejoin
    assert "LeftSemi" in _plan(spark, "q20_heavy_shippers")


def test_q20_name_filter_prunes_fact_scan(spark):
    """The date-window predicate reaches the lineitem scan."""
    plan = _plan(spark, "q20_heavy_shippers")
    assert "GreaterThanOrEqual(l_shipdate" in plan.replace(" ", "")


def test_dynamic_partition_pruning_on_time_partitioned_fact(spark, tmp_path, warehouse):
    """DPP: joining the date-partitioned fact to a FILTERED dim plants
    a dynamicpruning subquery on the fact's partition column — at
    100 TB the fact reads only the partitions the dim's surviving
    rows name, decided at runtime. This is the Spark feature that
    makes star-joins over partitioned facts feasible without manually
    propagating the dim filter."""
    import datetime as dt

    from pyspark.sql import functions as F

    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 5, 12), i % 7, "t", 1.0)
        for i in range(200)
    ]
    fact = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    warehouse.write_time_partitioned("events_tp", fact, "ts")
    stored = warehouse.read("events_tp")

    dim = spark.createDataFrame(
        [(dt.date(2024, 1, 1 + i), "keep" if i < 2 else "drop") for i in range(5)],
        "d date, flag string",
    )
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    # force the non-broadcast-reuse DPP path to be visible either way
    joined = stored.join(dim.filter(F.col("flag") == "keep"),
                         stored["_event_date"] == dim["d"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert joined.count() == 80  # 2 of 5 days survive


def test_domain_mix_single_keyed_exchange(spark):
    """One hash exchange on source (the window), nothing else."""
    plan = _plan(spark, "curation_domain_mix")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_repetition_partial_aggregation_before_exchange(spark):
    """The gram counts partial-aggregate map-side: HashAggregate
    appears below the exchange on the (doc, n, gram) grain."""
    plan = _plan(spark, "text_repetition")
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    # three scan branches, one union — no re-scan explosion
    assert plan.count("Scan parquet") == 3


def test_calendar_join_broadcasts_tiny_side(spark):
    plan = _plan(spark, "calendar_fill_gaps")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime Bloom-filter join pruning: with a selective dim side,
    Catalyst injects bloom_filter_agg on the creation side and
    might_contain on the fact side — rows that cannot join are
    dropped at the fact scan, before the shuffle. The DPP analog for
    NON-partition join keys; thresholds here are test-scaled (the
    defaults target multi-GB sides)."""
    from pyspark.sql import functions as F

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0"
        )
        # force a shuffle join: with a broadcast join the filter is moot
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_no_unintended_cartesian_anywhere(registry_plans):
    """Global plan invariant over the ENTIRE registry: no query plans
    a CartesianProduct or BroadcastNestedLoopJoin except the
    explicitly-bounded cases (1-row scalar broadcasts, the K-row IVF
    codebook, and the declared all-pairs baseline). A new query that
    accidentally drops a join predicate fails here by name."""
    allowed = {
        # all-pairs baseline, labeled as such (LSH variant is the scale path)
        "dedup_embedding_cosine",
        # crossJoin(broadcast(single query vector))
        "similarity_topk_cosine",
        # same 1-row broadcast shape — the zero-norm degenerate twin
        "similarity_zero_norm",
        # broadcast codebook (K rows, bounded)
        "similarity_ivf_probe",
        # same broadcast-codebook assign shape (build + update legs)
        "ivf_index_incremental_replay",
        # broadcast M·K codebook list + 1-row query vector
        "similarity_pq_adc",
        # broadcast centroid/codeword lists + 1-row query+probe set
        "similarity_ivfpq",
        # 1-row scalar subquery broadcasts
        "q22_idle_customers",
        "q11_important_parts",
        # 1-row corpus-stats broadcasts (n_docs / total_len / n_users)
        "rfm_segments",
        # 1-row customer-count + three 1-row threshold broadcasts
        "rfm_segments_approx",
        "text_inverted_index",
        "bm25_topk",
        "basket_type_lift",
        # 1-row vocabulary-size broadcast (add-1 smoothing denominator)
        "text_bigram_lm_score",
        # 1-row Σweight broadcast (mixture denominator)
        "curation_temperature_mix",
        # 1-row query-vector broadcast for the coarse pass
        "similarity_truncated_rerank",
        # per-edge 1-row total ⨯ 1-row orphan-count combine
        "dq_referential_integrity",
        # range join against the DAY LIST (one row per calendar day —
        # bounded broadcast; the du side streams past it once)
        "rolling_7d_active_users",
        # three 1-row counter aggregates combine into the audit row
        "dedup_minhash_recall_audit",
        # 1-row viewer-count broadcast joins the 1-row latency summary
        "funnel_time_to_convert",
        # K-row centroid-list broadcast, twice (one per Lloyd iteration)
        "embedding_kmeans_2iter",
        # same K-row centroid broadcasts (shared Lloyd stage); the
        # pair stage itself is a cluster-keyed equi-join
        "dedup_semantic",
        # identical shape with K = n div 64 (still a bounded centroid
        # codebook riding one broadcast per Lloyd assign)
        "dedup_semantic_scaled",
        # 1-row query-vector broadcast for the rerank; candidates come
        # from the 37-key bucket equi-join
        "similarity_ann_multiprobe",
        # two 1-row aggregates combine (exact counters x bottom-K
        # sketch frame) via a broadcast
        "sketch_kmv_setops",
        # 1-row query-hash broadcast onto the banded candidate set
        "similarity_image_phash_topk",
        # same shape, audio fingerprint domain
        "similarity_audio_fp_topk",
        # 1-row high-water-mark broadcast x 3-row mode-constant list
        "watermark_late_replay",
        # K-row centroid broadcasts (the shared Lloyd assign stage)
        "semantic_gate_replay_two_epochs",
        # 1-row node-count broadcast per power iteration (r0, r1, r2)
        "graph_pagerank_2iter",
        # 1-row global-triangle-count broadcast onto the top-20 rows
        "graph_triangles_lsh",
        # inherits both rankers' bounded broadcasts (1-row corpus
        # stats + 1-row query vector); the fusion join itself is a
        # k-row full-outer equi-join
        "similarity_rrf_fusion",
        # 1-row pooled-moments broadcast combines with the 2-row arm
        # aggregate
        "experiment_cuped_adjusted",
        # 1-row global high-water-mark broadcast joins the per-feed
        # aggregate
        "dq_freshness_sla",
    }
    offenders = {}
    for name in REGISTRY:
        plan = registry_plans[name]
        bad = [
            kind
            for kind in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if kind in plan
        ]
        if bad and name not in allowed:
            offenders[name] = bad
    assert not offenders, offenders


def test_truncated_rerank_is_two_takeordereds(spark):
    """Both retrieval stages must be TakeOrdered cuts (no global sort,
    corpus never shuffled); the coarse pass reads the prefix only."""
    plan = _plan(spark, "similarity_truncated_rerank")
    assert plan.count("TakeOrderedAndProject") == 2
    assert "CartesianProduct" not in plan


def test_bigram_lm_builds_pairs_map_side(spark):
    """Bigram pair generation must not need a window or explode-join:
    pairs come from zipping the word array with its own tail."""
    plan = _plan(spark, "text_bigram_lm_score")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_ohlc_single_partitioning(spark):
    """The window pass and the aggregation share the (event_type, day)
    partitioning — one real data exchange (plus the 1-row result
    collect AQE may add), never one per analytic function."""
    plan = _plan(spark, "timeseries_ohlc_daily")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "CartesianProduct" not in plan


def test_w4_dist_single_window_node(spark):
    """percent_rank, cume_dist, and ntile must ride ONE Window node
    over one exchange, not one pass each."""
    plan = _plan(spark, "w4_dist_functions")
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_referential_integrity_no_cartesian(spark):
    """Every FK edge is an anti equi-join; the two 1-row aggregates
    combine via a broadcast, never a CartesianProduct."""
    plan = _plan(spark, "dq_referential_integrity")
    assert "CartesianProduct" not in plan
    assert plan.count("LeftAnti") == 4


def test_temporal_split_is_map_side_case(spark):
    """The split assignment is a map-side CASE: one aggregation
    exchange, no join."""
    plan = _plan(spark, "curation_temporal_split")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # agg partials


# --------------------------------------------------------------------
# No-unbounded-global-window sweep (the round-9 playbook addition —
# same spirit as the no-cartesian sweep above)
# --------------------------------------------------------------------

def _global_window_nodes(plan: str) -> list[str]:
    """Window nodes with an EMPTY partition spec — the plan shape that
    exchanges the node's whole input to ONE task (WindowExec warns
    'No Partition Defined ... Moving all data to a single partition').

    Physical-plan text format: ``Window [exprs], [part], [order]``
    with the partition group OMITTED when empty — so a global ordered
    window prints exactly two top-level bracket groups and the second
    carries sort directions, while a partitioned-unordered window
    also prints two groups but its second group has no ASC/DESC."""
    import re

    hits = []
    for line in plan.splitlines():
        t = re.sub(r"^[\s:+\-*()\d]*", "", line)
        if not t.startswith("Window "):
            continue
        groups, depth, cur = [], 0, ""
        for ch in t[len("Window "):]:
            if ch == "[":
                depth += 1
                if depth == 1:
                    cur = ""
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(cur)
                    continue
            if depth >= 1:
                cur += ch
        if len(groups) == 2 and (
            " ASC" in groups[1] or " DESC" in groups[1]
        ):
            hits.append(t[:160])
        elif len(groups) >= 3 and "#" not in groups[1]:
            # constant partition spec (e.g. partitionBy(lit(1))) — the
            # same single-task shape; Catalyst usually folds these to
            # an empty spec (registry measured ZERO such nodes), this
            # arm future-proofs the sweep against ones it keeps
            hits.append(t[:160])
    return hits


def test_no_unbounded_global_window_anywhere(registry_plans):
    """Global plan invariant over the ENTIRE registry: no query may
    run a Window with an empty partition spec over unbounded input —
    the single-task sort that killed dedup_semantic_scaled's seed
    rank, the semantic-gate training, corpus_curation's budget cut,
    and sketch_kmv_setops' global rank (all rewritten round 9 as
    TakeOrdered cuts / two-pass histogram plans). A new query that
    reaches for row_number().over(Window.orderBy(...)) on corpus-
    sized input fails here BY NAME at authoring time.

    Exemptions, each with the boundedness argument:
    - rank-family global windows that Spark bounded with a
      WindowGroupLimit (partial mode runs before the exchange, so at
      most k rows per partition cross the wire) pass automatically;
    - the allowlist below names windows whose INPUT is bounded by
      construction (a grain much smaller than the data: days, years,
      a k-row shortlist, an integer-bp histogram)."""
    allowed = {
        # windows over ≤10001-row quality_bp histograms (integer basis
        # points — the domain, not the corpus, bounds the input)
        "corpus_curation",
        # cumulative sum over the per-DAY grain (O(days) rows)
        "growth_daily_users",
        # lag over the per-YEAR grain (O(years) rows)
        "revenue_yoy_growth",
        # exact ntile quantiles over the CUSTOMER grain — much smaller
        # than the fact table and exactness is the row's point; the
        # approx-threshold relaxation is REGISTERED as the sibling row
        # rfm_segments_approx and documented in docs/SCALING.md
        "rfm_segments",
        # cumulative windows over the bounded metric DOMAINS (days /
        # order counts / $1000 buckets), never the customer frame
        "rfm_segments_approx",
        # ECDF cumulative sums over the DISTINCT-CENTS domain (bounded
        # by the price range, not the row count — see its docstring)
        "stats_ks_drift",
        # both rank windows run over top-k shortlists (each ranker
        # ends in a GlobalLimit before the window)
        "similarity_rrf_fusion",
        # vocab-id rank over the limit(_VOCAB_V) word table
        "text_tokenize_ids",
    }
    rank_fns = ("row_number()", "rank(", "dense_rank(")
    offenders = {}
    for name in REGISTRY:
        plan = registry_plans[name]
        nodes = _global_window_nodes(plan)
        if not nodes:
            continue
        if name in allowed:
            continue
        if "WindowGroupLimit" in plan and all(
            any(fn in n for fn in rank_fns) for n in nodes
        ):
            continue  # group-limit-bounded rank windows are fine
        offenders[name] = nodes
    assert not offenders, offenders
