"""Physical-plan regression guards — the scale properties the engine
promises must be visible in the plan, not just hoped for:

- dimension joins BROADCAST (no sort-merge shuffle of the fact table),
- filters PUSH DOWN into the parquet scan,
- projections PRUNE the read schema,
- global top-k runs as TakeOrderedAndProject (no full sort).
"""

import contextlib
import io
import re

import pytest

from impractical_impala_spark.registry import all_queries

_Q = all_queries()


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_star_join_broadcasts_dims_only(spark, sf_small):
    """Scale contract for the star join: ONLY the fixed-size dimensions
    (nation, region) pin broadcast hints; orders/customer join via
    shuffle so AQE — not a pinned hint — decides whether they fit in
    memory. With auto-broadcast disabled, the only BroadcastHashJoins
    left are the pinned hints, so fact-side pins would show up here."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(_Q["q5_revenue_by_nation"].build(spark, sf_small))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    # formatted explain prints each node in tree + detail sections, so
    # count the "(n) NodeName" detail headers for exact node counts
    bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
    shuffled = len(re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)", plan))
    assert bhj == 2  # nation + region only
    # the two fact-scale joins (lineitem⋈orders, ⋈customer) shuffle
    assert shuffled == 2


def test_star_join_aqe_promotes_at_small_sf(spark, sf_small):
    """At small SF the de-pinned fact joins should still end up as
    broadcasts — chosen by AQE from runtime stats, not by a pinned hint."""
    df = _Q["q5_revenue_by_nation"].build(spark, sf_small)
    df.collect()  # AQE finalizes the plan only on execution
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in final


def test_filter_pushdown_reaches_scan(spark, sf_small):
    plan = plan_of(_Q["o07_in_filter"].build(spark, sf_small))
    assert "PushedFilters: [In(event_type" in plan


def test_range_filter_pushdown(spark, sf_small):
    plan = plan_of(_Q["q6_revenue_delta"].build(spark, sf_small))
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity,24.0)" in plan.replace(" ", "")


def test_column_pruning(spark, sf_small):
    plan = plan_of(_Q["o01_scan_projection"].build(spark, sf_small))
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "p_partkey" in read and "p_name" in read and "p_brand" in read
    assert "p_retailprice" not in read and "p_size" not in read


def test_topk_avoids_global_sort(spark, sf_small):
    plan = plan_of(_Q["o08_sort_topk"].build(spark, sf_small))
    assert "TakeOrderedAndProject" in plan


def test_semi_join_stays_semi(spark, sf_small):
    plan = plan_of(_Q["o15_semi_join"].build(spark, sf_small))
    assert "LeftSemi" in plan


def test_pivot_has_no_value_discovery_job(spark, sf_small):
    """Explicit pivot values => plan builds without triggering a
    distinct collection job (would show as an extra collect)."""
    df = _Q["o16_pivot"].build(spark, sf_small)
    # building the plan must not execute anything; explain is enough
    assert "click" in plan_of(df)


def test_whole_stage_codegen_on_hot_path(spark, sf_small):
    df = _Q["q1_pricing_summary"].build(spark, sf_small)
    df.collect()  # AQE finalizes the plan only on execution
    final = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark WholeStageCodegen stages in the executed plan
    assert "*(1)" in final and "*(2)" in final
    assert "partial_sum" in final, "map-side partial aggregation missing"


@pytest.mark.parametrize("name,n_pinned", [
    # q7: nation broadcast twice (supplier-side + customer-side)
    ("q7_volume_shipping", 2),
    # q8: nation⋈region dim (customer side) + nation (supplier side);
    # region joins nation inside the pinned dim subtree
    ("q8_market_share", 3),
])
def test_tpch_plus_broadcasts_dims_only(spark, sf_small, name, n_pinned):
    """Round-2 TPC-H wave inherits the dims-only broadcast contract:
    with auto-broadcast off, the only BroadcastHashJoins are the pinned
    nation/region hints — fact-scale sides (orders, customer, part,
    supplier) must not pin."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(_Q[name].build(spark, sf_small))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
    assert bhj == n_pinned
    # every fact-side join shuffles when nothing auto-broadcasts
    assert len(re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)",
                          plan)) >= 3


def test_q19_join_stays_hash_under_disjunction(spark, sf_small):
    """The OR-of-conjunctions must not degrade the part join to a
    nested-loop: Catalyst extracts the common l_partkey = p_partkey
    equi-condition."""
    df = _Q["q19_disjunctive_predicates"].build(spark, sf_small)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in final
    assert "CartesianProduct" not in final


def test_size_gate_drops_hint_on_unreadable_lake_path():
    """Past the gate (or off local disk entirely) the broadcast hint
    must vanish so candidate joins shuffle — the lake-scale plan."""
    from impractical_impala_spark.broadcast_gate import corpus_fits_broadcast

    assert corpus_fits_broadcast("/root/testdata/sf0.01", "documents")
    assert not corpus_fits_broadcast("s3://some-lake/prefix", "documents")
    assert not corpus_fits_broadcast("/nonexistent", "embeddings")


def test_q18_does_not_pin_customer_broadcast(spark, sf_small):
    """q18's customer side scales with the fact data: no pinned hint
    (AQE promotes it at small SF from runtime stats instead)."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(_Q["q18_large_volume_customers"].build(spark, sf_small))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 0


def test_q15_has_no_global_window_funnel(spark, sf_small):
    """q15's global max must be a 1-row aggregate broadcast back, not
    Window.partitionBy() — an empty partition spec funnels every
    per-supplier row through ONE task (millions of rows at 100 TB)."""
    plan = plan_of(_Q["q15_top_supplier"].build(spark, sf_small))
    assert len(re.findall(r"\(\d+\) Window", plan)) == 0
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_flagship_broadcast_set_is_nation_region(spark, sf_small):
    """The flagship's pinned broadcast set is exactly {nation, region}
    (docstring contract): two BroadcastHashJoins with auto-broadcast
    off, and both dim tables scanned beneath them."""
    from impractical_impala_spark.plans.tpch import flagship

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(flagship(spark, sf_small))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2
    assert "nation.parquet" in plan and "region.parquet" in plan


def test_sink_roundtrip_prunes_partitions(spark, sf_small):
    """The read-back side of the sink roundtrip filters on the
    partition key, so the scan must prune at the directory level
    (PartitionFilters), not post-scan."""
    plan = plan_of(_Q["sink_roundtrip_partitioned"].build(spark, sf_small))
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "o_orderpriority" in pf[0]


def test_contamination_has_no_corpus_shuffle_join(spark, sf_small):
    """The benchmark side broadcasts (size-gated): the exploded corpus
    must reach the join without an exchange — at 100 TB a corpus-wide
    shuffle on the shingle key is the difference between one pass and
    a lake-sized sort."""
    plan = plan_of(_Q["text_ngram_contamination"].build(spark, sf_small))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1
    assert len(re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)",
                          plan)) == 0


def test_chunking_is_shuffle_free(spark, sf_small):
    """doc_chunk_tokens is pure per-row expression work — any Exchange
    in its plan is a regression."""
    plan = plan_of(_Q["doc_chunk_tokens"].build(spark, sf_small))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0


def test_q2_broadcasts_dims_only(spark, sf_small):
    """q2 inherits the dims-only contract: nation + region pin (2 BHJ
    with auto-broadcast off); supplier/part joins shuffle. Exactly 5
    scans (one per table — the correlated min must NOT re-read the
    euro subtree) and the min window is keyed, so exactly one Window
    node partitioned on p_partkey."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(_Q["q2_min_cost_supplier"].build(spark, sf_small))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2
    assert len(re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)",
                          plan)) == 2
    assert len(re.findall(r"\(\d+\) Scan", plan)) == 5
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "ann_lsh_bucketed",
                                  "dedup_embedding_lsh"])
def test_gate_off_plans_have_no_pinned_broadcast(spark, sf_small, name,
                                                 monkeypatch):
    """Force the size gate shut (cap=0, as on a real lake) and disable
    auto-broadcast: the candidate/re-fetch joins must all shuffle —
    proof the fast-path hint cannot survive to 100 TB."""
    from impractical_impala_spark import broadcast_gate

    monkeypatch.setattr(broadcast_gate, "_BROADCAST_CAP_BYTES", 0)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(_Q[name].build(spark, sf_small))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 0
    assert len(re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)",
                          plan)) >= 3


def test_minhash_queries_share_one_signature_cache(spark, sf_small):
    """The minhash queries read ONE cached signature relation
    (``dedup._minhash_sigs``): two ``.cache()`` calls over the same
    input with different projections are two cache entries, each held
    for the whole session. Counts the session's cached relations, not
    persistent RDDs: a returned checkpoint is a persistent RDD too, and
    the ContextCleaner frees it at GC-dependent times."""
    spark.catalog.clearCache()
    try:
        for name in ("dedup_minhash_lsh", "minhash_calibration",
                     "dedup_banding_sweep"):
            _Q[name].build(spark, sf_small).collect()
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.numCachedEntries() == 1
    finally:
        spark.catalog.clearCache()


def test_hyperplane_queries_share_one_signature_cache(spark, sf_small):
    """The hyperplane-LSH queries read ONE cached signature relation
    (``similarity._hp_sigs``: vectors plus the 12-bit ``hp``) and slice
    every bucket layout from it after the cache; a per-layout cache
    would add one session-long entry per layout. The other two entries
    are the bits sweep's pair table, which its volume and scoring
    branches both read, and the exact panel's vectors
    (``ann_cosine_topk``)."""
    spark.catalog.clearCache()
    try:
        for name in ("ann_lsh_bucketed", "ann_lsh_multiprobe",
                     "ann_lsh_bits_sweep"):
            _Q[name].build(spark, sf_small).collect()
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.numCachedEntries() == 3
    finally:
        spark.catalog.clearCache()


def test_hp_signature_matches_independent_reference(spark, sf_small):
    """Every vector's 12-bit ``hp`` from the Spark helper and from the
    DuckDB twin equals a plain-Python reference: bit p is set when the
    left fold ``acc += x * s`` over plane p, in index order (the order
    of Spark's ``aggregate``), ends above zero."""
    import duckdb
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from impractical_impala_spark.queries.similarity import (
        N_PLANES, _plane_sign)
    from impractical_impala_spark.queries import similarity

    path = f"{sf_small}/embeddings.parquet"
    t = pq.read_table(path, columns=["vec_id", "embedding"]).to_pydict()
    want = {}
    for vec_id, emb in zip(t["vec_id"], t["embedding"]):
        hp = 0
        for p in range(N_PLANES):
            acc = 0.0
            for j, x in enumerate(emb):
                acc += float(x) * _plane_sign(p, j)
            if acc > 0:
                hp |= 1 << p
        want[vec_id] = hp
    spark_hp = {r.vec_id: r.hp for r in similarity._emb(spark, sf_small)
                .select("vec_id", F.expr(similarity._hp_expr("v"))
                        .alias("hp")).collect()}
    duck_hp = dict(duckdb.connect().execute(
        f"SELECT vec_id, {similarity._duck_hp('v')} FROM ("
        "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
        f" AS v FROM read_parquet('{path}'))").fetchall())
    assert len(want) > 0
    assert spark_hp == want
    assert duck_hp == want


def test_global_rank_has_no_data_funnel(spark, sf_small):
    """q_global_rank's big-table window must be keyed on the range id
    (range exchange + hash exchange on __range_id); the only
    single-partition work allowed is the prefix sum over the per-range
    COUNTS (model-size: one row per range). A plain global
    ROW_NUMBER() window would show neither exchange."""
    plan = plan_of(_Q["q_global_rank"].build(spark, sf_small))
    assert "rangepartitioning" in plan, plan
    assert "hashpartitioning(__range_id" in plan, plan
    assert "HashAggregate" in plan  # per-range counts stage exists


def test_analytics_cumulative_single_model_size_window(spark, sf_small):
    """events_cumulative_users' only Window is the running sum over the
    per-day frame — the corpus never crosses a single-partition
    boundary, the #days model-size frame does (after two reduces)."""
    plan = plan_of(_Q["events_cumulative_users"].build(spark, sf_small))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    # both reduces (user first-touch, per-day count) are partial+final
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 4


def test_analytics_funnel_no_event_history_sort(spark, sf_small):
    """The funnel must never sort or window a user's event history —
    each stage is a min-agg + join; the only non-equi joins are the two
    1-row count combines at the end."""
    plan = plan_of(_Q["events_funnel"].build(spark, sf_small))
    assert not re.findall(r"\(\d+\) Window\b", plan)
    assert not re.findall(r"\(\d+\) Sort\b", plan)
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 2


def test_analytics_gapfill_distributed_spine(spark, sf_small):
    """The hour spine is generated executor-side (Generate from
    sequence/explode — never a driver-built calendar) and the LOCF fill
    is the single series-keyed Window."""
    plan = plan_of(_Q["events_gapfill_locf"].build(spark, sf_small))
    assert len(re.findall(r"\(\d+\) Generate\b", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1


def test_centroid_map_side_combine(spark, sf_small):
    """emb_label_centroid's posexplode fan-out must collapse via
    partial aggregation before its single shuffle — the plan is
    Generate -> partial HashAggregate -> Exchange -> final."""
    plan = plan_of(_Q["emb_label_centroid"].build(spark, sf_small))
    assert len(re.findall(r"\(\d+\) Generate\b", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2


def test_bucketed_join_is_shuffle_free(spark, sf_small):
    """bucketed_join_segments' whole point: with broadcast disabled the
    custkey join must be a SortMergeJoin fed DIRECTLY by the two
    bucketed scans — zero Exchange between scan and join. The only
    exchanges allowed are the post-join aggregation's."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(_Q["bucketed_join_segments"].build(spark, sf_small))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) == 1
    assert plan.count("Bucketed: true") == 2, plan
    # exchanges exist only above the join (groupBy + orderBy), so the
    # join node id must be smaller than every exchange node id
    join_id = int(re.search(r"\((\d+)\) SortMergeJoin", plan).group(1))
    exch_ids = [int(m) for m in re.findall(r"\((\d+)\) Exchange", plan)]
    assert exch_ids and all(e > join_id for e in exch_ids), plan


def test_cdc_latest_has_no_window(spark, sf_small):
    """cdc_latest_state must use the map-side-combinable struct max —
    never a ROW_NUMBER window, which would sort each key's history."""
    plan = plan_of(_Q["cdc_latest_state"].build(spark, sf_small))
    assert not re.findall(r"\(\d+\) Window\b", plan)
    # struct max is not hash-aggregable, so the per-user reduce plans as
    # SortAggregate — crucially WITH a partial (map-side) mode before its
    # exchange; the state rollup on top stays a HashAggregate pair
    assert len(re.findall(r"\(\d+\) SortAggregate", plan)) == 2
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2


def test_scd2_reuses_one_user_shuffle(spark, sf_small):
    """Both SCD2 windows partition and order identically, so the plan
    must carry exactly ONE user_id exchange (the change filter runs
    between window passes without repartitioning)."""
    plan = plan_of(_Q["scd2_user_state"].build(spark, sf_small))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(user_id" in plan, plan


def test_covariance_corpus_stays_out_of_shuffle(spark, sf_small):
    """emb_covariance's corpus pass happens inside MapInPandas (gram
    partials) and Generate (posexplode with partial agg); the stats
    frames attach via pinned broadcasts, never a corpus-side shuffle
    join."""
    plan = plan_of(_Q["emb_covariance"].build(spark, sf_small))
    assert "MapInPandas" in plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2
    assert not re.findall(r"\(\d+\) SortMergeJoin", plan)


def test_curriculum_has_no_global_window(spark, sf_small):
    """Bucket assignment must come from broadcast percentile cutpoints,
    never a global NTILE window (a corpus funnel)."""
    plan = plan_of(_Q["curriculum_buckets"].build(spark, sf_small))
    assert not re.findall(r"\(\d+\) Window\b", plan)
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1


def test_markov_single_corpus_pass(spark, sf_small):
    """events_markov_transitions must scan the corpus ONCE: lead()
    window + count matrix, normalized by a window over the model-size
    matrix. A totals branch re-derived from the counts would duplicate
    the whole scan->window->agg subtree (two scans)."""
    plan = plan_of(_Q["events_markov_transitions"].build(spark, sf_small))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2


def test_time_rollup_single_corpus_scan(spark, sf_small):
    """The hour/day/week cascade must scan the corpus ONCE: the cached
    model-size hour frame feeds all three grains; an uncached union
    re-expands the scan subtree per grain."""
    plan = plan_of(_Q["events_time_rollup"].build(spark, sf_small))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert plan.count("InMemoryTableScan") >= 3


def test_lateral_topn_is_not_a_loop(spark, sf_small):
    """The correlated LATERAL must be rewritten by Catalyst into a
    windowed join — never a per-row nested loop or cartesian."""
    plan = plan_of(_Q["q_lateral_topn"].build(spark, sf_small))
    assert not re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert "CartesianProduct" not in plan


def test_session_paths_one_corpus_shuffle(spark, sf_small):
    """Sessionize + rank + path-assemble off ONE user-keyed exchange
    (hash(user_id) satisfies the (user, session) grouping) and one
    corpus scan; only the final path agg adds an exchange."""
    plan = plan_of(_Q["session_paths"].build(spark, sf_small))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2


def test_rolling_slope_one_corpus_shuffle(spark, sf_small):
    """min-window, sliding-sum frames, and the per-user agg all reuse
    the single user_id exchange; one corpus scan."""
    plan = plan_of(_Q["events_rolling_slope"].build(spark, sf_small))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_skew_profile_topk_is_take_ordered(spark, sf_small):
    """Top-20 hot keys must compile to TakeOrderedAndProject (per-
    partition top-k + 20-row merge), never a single-partition global
    window over the key aggregate."""
    plan = plan_of(_Q["skew_key_profile"].build(spark, sf_small))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_yoy_broadcasts_both_dims(spark, sf_small):
    """customer and nation attach to the orders fact as broadcasts; the
    only exchange shuffles the yearly aggregate's grouping key."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(_Q["nation_revenue_yoy"].build(spark, sf_small))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2
    assert not re.findall(r"\(\d+\) SortMergeJoin", plan)


def test_histogram_stats_attach_without_fact_shuffle(spark, sf_small):
    """The dynamic range is a 1-row aggregate broadcast back over the
    scan — the orders column must not shuffle before binning (the only
    exchanges are the 1-row stats exchange and the 16-bin group-by)."""
    plan = plan_of(_Q["price_histogram"].build(spark, sf_small))
    assert "BroadcastNestedLoopJoin" in plan
    assert "ReadSchema: struct<o_totalprice:double>" in plan


def test_cohesion_never_joins_rows_to_rows(spark, sf_small):
    """The sum-of-vectors identity must keep the plan free of any
    vector-to-vector join: the only join combines the two per-label
    aggregate frames (model-size)."""
    plan = plan_of(_Q["emb_intra_label_cohesion"].build(spark, sf_small))
    assert len(re.findall(r"\(\d+\) (?:Broadcast|SortMerge|ShuffledHash)HashJoin",
                          plan)) <= 1
    assert "CartesianProduct" not in plan


def test_dpp_scan_has_dynamic_pruning(spark, sf_small):
    """dpp_partition_prune's whole contract: the year-partitioned fact
    scan must carry a dynamicpruning subquery in its PartitionFilters —
    the runtime join-driven prune that makes scan cost proportional to
    the selected years. The executed plan (not just explain) is
    inspected because the pruning subquery renders there."""
    df = _Q["dpp_partition_prune"].build(spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_runtime_bloom_filter_join_injects(spark, sf_small):
    """Runtime row-level Bloom-filter pruning (the shuffle-join sibling
    of DPP): with a selective dim filter and a forced shuffle join, the
    optimizer must build a bloom_filter_agg on the filtered side and
    probe it on the fact side before the shuffle — at 100 TB this is
    what keeps a selective star join from shuffling the whole fact
    table. Thresholds are lowered only inside this test; the engine
    leaves the conservative defaults for real plans."""
    from pyspark.sql import functions as F

    from impractical_impala_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_small, "lineitem") \
            .select("l_orderkey", "l_extendedprice")
        o = load_table(spark, sf_small, "orders") \
            .filter(F.col("o_orderpriority") == "1-URGENT") \
            .select("o_orderkey")
        j = li.join(o, li.l_orderkey == o.o_orderkey) \
            .agg(F.count(F.lit(1)).alias("n"))
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "bloom_filter_agg" in plan, plan[:2000]
    assert "might_contain" in plan.lower(), plan[:2000]
