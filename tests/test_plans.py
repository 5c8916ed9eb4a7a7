"""Plan-quality assertions: these lock in the scale properties the
engine is designed around. A regression that turns a broadcast join
into a cartesian product, or stops filter/column pushdown from
reaching the parquet scan, fails HERE — not in a 100 TB incident.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from maston_spark.queries import all_queries


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    return all_queries()


def test_no_cartesian_products_anywhere(spark, sf_dir, qs):
    """No registered query may plan a cartesian/nested-loop join,
    except the deliberate tiny cross joins (q09 crosses two
    5-25 row dimensions; q43/44 broadcast a 10-row query set)."""
    allowed = {"q09_join_cross"}
    offenders = {}
    for name, q in qs.items():
        if name in allowed:
            continue
        p = plan_of(q(spark, sf_dir))
        if "CartesianProduct" in p:
            offenders[name] = "CartesianProduct"
    assert not offenders, f"cartesian joins leaked into: {offenders}"


def test_dimension_joins_broadcast(spark, sf_dir, qs):
    """q03 carries no user hint: below autoBroadcastJoinThreshold the
    planner chooses broadcast-hash on its own; with the threshold
    disabled it must degrade to sort-merge — proving the broadcast is
    planner-chosen, not hint-forced (a forced broadcast of the
    sf-scaling customer table would OOM at cluster scale)."""
    p = plan_of(qs["q03_join_inner"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        p_no_auto = plan_of(qs["q03_join_inner"](spark, sf_dir))
    finally:
        spark.conf.set(key, prev)
    assert "BroadcastHashJoin" not in p_no_auto
    assert "SortMergeJoin" in p_no_auto or "ShuffledHashJoin" in p_no_auto


def test_filter_and_projection_pushdown_reach_scan(spark, sf_dir):
    from maston_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_quantity")
    p = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # only the two referenced columns are read from parquet
    assert "ReadSchema: struct<l_quantity:double,l_shipdate:timestamp_ntz>" in p


def test_flagship_aggregation_is_whole_stage_codegen(spark, sf_dir, qs):
    df = qs["q01_pricing_summary"](spark, sf_dir)
    df.collect()
    # after execution AQE has finalized the plan; '*(N)' prefixes mark
    # whole-stage-codegen stages, partial_sum proves map-side combine
    p = plan_of(df)
    assert "isFinalPlan=true" in p
    assert "*(1) HashAggregate" in p or "*(2) HashAggregate" in p
    assert "partial_sum" in p


def test_validated_layer_stays_jvm_side(spark):
    """The validated-ingest column algebra must not contain a Python
    UDF node (BatchEvalPython/ArrowEvalPython) — it is pure Catalyst."""
    from pyspark.sql import Row

    from maston_spark.validated import safe_from_json, safe_serialize_json, with_error_headers

    df = spark.createDataFrame([Row(value='{"a": 1}')])
    out = safe_serialize_json(
        with_error_headers(safe_from_json(df, "value", "a int"), app_id="x")
    )
    p = plan_of(out)
    assert "EvalPython" not in p


def test_minhash_single_hash_pass(spark, sf_dir):
    """The MinHash plan computes the md5 lane ONCE; the 16 signature
    mins are integer aggregates over it (regression guard for the
    expression-duplication trap)."""
    from maston_spark.session import load_table
    from maston_spark.llm.dedup import minhash_frame

    d = load_table(spark, sf_dir, "documents")
    p = optimized_of(minhash_frame(d))
    assert p.count("md5") == 1
    assert "BatchEvalPython" not in p


def test_asof_join_single_shuffle(spark, sf_dir, qs):
    """The as-of join must shuffle each side once (union+window
    strategy), never range-join or nested-loop."""
    p = plan_of(qs["q12_asof_join"](spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert p.count("Exchange hashpartitioning") <= 2


def test_sort_within_partitions_is_local(spark, sf_dir):
    """sortWithinPartitions plans a non-global Sort with NO exchange —
    the write-side clustering primitive (e.g. ordering rows inside
    parquet files) that must never trigger a full shuffle."""
    from maston_spark.session import load_table

    o = load_table(spark, sf_dir, "orders")
    p = plan_of(o.sortWithinPartitions("o_orderdate"))
    assert "Sort [o_orderdate" in p and "false, 0" in p  # global=false
    assert "Exchange" not in p
    # contrast: a global orderBy of the same column DOES exchange
    pg = plan_of(o.orderBy("o_orderdate"))
    assert "rangepartitioning" in pg.lower() or "Exchange" in pg


def test_six_way_join_broadcasts_all_dims(spark, sf_dir, qs):
    """q66 (TPC-H-Q5 shape): at this sf every dimension side
    (region/nation/supplier/customer) lands under
    spark.sql.autoBroadcastJoinThreshold (64 MB default), so the
    planner broadcasts all four WITHOUT user hints — only
    region/nation carry explicit hints because only they are bounded
    at every sf. The only shuffled join is orders⋈lineitem. This
    assertion is threshold-dependent by design: at sf where
    supplier/customer outgrow the threshold, the correct plan
    becomes sort-merge for those sides and this test's premise (tiny
    dims) no longer holds."""
    p = plan_of(qs["q66_local_supplier_volume"](spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 4
    assert p.count("SortMergeJoin") + p.count("ShuffledHashJoin") <= 1


def test_subqueries_plan_as_semi_anti_joins(spark, sf_dir, qs):
    """EXISTS/IN → LeftSemi, NOT EXISTS → LeftAnti — never a per-row
    subquery or nested loop."""
    p_exists = plan_of(qs["q67_exists_subquery"](spark, sf_dir))
    assert "LeftSemi" in p_exists
    p_in = plan_of(qs["q71_in_subquery"](spark, sf_dir))
    assert "LeftSemi" in p_in and "BroadcastHashJoin" in p_in
    p_not = plan_of(qs["q68_not_exists_antijoin"](spark, sf_dir))
    assert "LeftAnti" in p_not


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir, qs):
    """q65's top-10 must plan TakeOrderedAndProject (per-partition
    heap + driver merge of 10 rows/partition), not a full sort of
    the aggregate output."""
    p = plan_of(qs["q65_shipping_priority"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_repetition_stats_partial_agg_and_pruned_scan(spark, sf_dir, qs):
    """q74 must keep its scale shape: the parquet scan reads only
    (doc_id, text), the <2-token filter runs before the bigram
    explode, and BOTH aggregations partial-aggregate map-side before
    their exchange (the exploded bigram stream must never hit a
    shuffle uncombined)."""
    df = qs["q74_repetition_stats"](spark, sf_dir)
    p = plan_of(df)
    assert "partial_count" in p, "first agg lost its map-side combine"
    assert "partial_sum" in p, "second agg lost its map-side combine"
    gen = p.index("Generate")
    scan = p.rindex("Scan parquet")
    assert gen < scan, "explode should sit directly above the scan"
    read_schema = p[p.index("ReadSchema", scan):].splitlines()[0]
    assert "text" in read_schema and "lang" not in read_schema, read_schema


def test_avro_evolution_serde_is_exchange_free(spark, sf_dir, qs):
    """q87's whole encode→id-dispatch→decode→project chain must be
    a shuffle-free map pipeline over a pruned 3-column scan — the
    serde never repartitions, so it scales linearly with input
    splits regardless of how many schema versions are live."""
    p = plan_of(qs["q87_avro_evolution"](spark, sf_dir))
    assert "Exchange" not in p, "serde chain grew a shuffle"
    scan = p.rindex("Scan parquet")
    read_schema = p[p.index("ReadSchema", scan):].splitlines()[0]
    assert "o_totalprice" not in read_schema and "o_orderkey" in read_schema


def test_embedding_neardup_single_shuffle_no_joins(spark, sf_dir, qs):
    """q48's steady-state plan (no degenerate buckets): exactly ONE
    exchange — the hash repartition on (lvl, bucket) that co-locates
    each bucket for pair generation — reading the persisted hashed
    corpus; zero joins and zero broadcasts (bucket populations ride
    in the task closure, bounded by plane depth)."""
    df = qs["q48_embedding_neardup"](spark, sf_dir)
    p = plan_of(df)
    assert p.count("Exchange") == 1, p
    assert "Join" not in p and "BroadcastExchange" not in p
    assert "InMemoryTableScan" in p, "hashed corpus is not persisted"
    spark.catalog.clearCache()


def test_doc_prepartition_makes_text_aggs_exchange_free(spark, sf_dir, qs):
    """The doc-id pre-partition pattern: lexical diversity and
    repetition stats must plan EXACTLY ONE hash exchange (the
    explicit repartition) — every downstream grouping contains the
    id, so Spark's subset-partitioning rule elides their exchanges.
    A second hashpartitioning exchange means the pattern regressed
    into a token-level shuffle."""
    for name in ("q101_lexical_diversity", "q74_repetition_stats"):
        p = plan_of(qs[name](spark, sf_dir))
        n = p.count("Exchange hashpartitioning")
        assert n == 1, f"{name}: expected 1 hash exchange, got {n}\n{p}"


def test_curation_pipeline_two_exchanges_gate_at_scan(spark, sf_dir, qs):
    """The composed curation pipeline must stay two exchanges
    end-to-end (content-hash window, source window) with the quality
    gate evaluated at the parquet scan and both ranking windows
    getting a partial WindowGroupLimit (map-side top-k pruning)."""
    p = plan_of(qs["q113_curation_pipeline"](spark, sf_dir))
    assert p.count("Exchange hashpartitioning") == 2, p
    assert p.count("WindowGroupLimit") == 4  # partial+final per window
    assert "DataFilters" in p or "Filter" in p


def test_budget_select_single_range_exchange(spark, sf_dir, qs):
    """q127's global ordered cut must NOT plan the naive global
    window (a single-partition Exchange SinglePartition + Window) —
    the whole point of the two-phase prefix sum. Exactly one
    range exchange on the sort key feeds the Arrow cut."""
    p = plan_of(qs["q127_budget_select"](spark, sf_dir))
    assert "SinglePartition" not in p, p
    assert "Window" not in p, p
    assert "rangepartitioning" in p.lower(), p
    assert p.count("MapInPandas") == 1


def test_bm25_broadcasts_stats_and_df(spark, sf_dir, qs):
    """q123's corpus stats (1 row) and per-term document frequencies
    (<= |query| rows) must reach the scoring join as broadcasts; the
    corpus itself is never broadcast and never cartesian-joined."""
    p = plan_of(qs["q123_bm25_rank"](spark, sf_dir))
    assert p.count("BroadcastNestedLoopJoin") <= 1  # only the 1-row stats
    assert "BroadcastHashJoin" in p  # df_t equi-join
    assert "CartesianProduct" not in p
    # global top-k compiles to per-partition top-k + k-row merge
    assert "TakeOrderedAndProject" in p


def test_exact_percentiles_no_object_hash_aggregate(spark, sf_dir, qs):
    """q15 must stay on codegen hash aggregates + one window — the
    builtin percentile's ObjectHashAggregate (per-group value buffer)
    is the unbounded-state shape the rewrite exists to avoid."""
    p = plan_of(qs["q15_agg_percentile"](spark, sf_dir))
    assert "ObjectHashAggregate" not in p, p
    assert "percentile" not in p.lower(), p


def test_mg_heavy_hitters_no_corpus_shuffle_before_confirm(spark, sf_dir, qs):
    """q173's candidate pass is a mapInPandas fold (corpus never
    shuffles); the confirm pass broadcasts the candidate set (a
    BroadcastHashJoin semi, never a shuffled join of the corpus) and
    the exact count is a partial+final hash aggregate."""
    p = plan_of(qs["q173_mg_heavy_hitters"](spark, sf_dir))
    assert "MapInPandas" in p, p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_pareto_frontier_local_prune_then_candidates_only(spark, sf_dir, qs):
    """q174 must show the mapInPandas local skyline and NO
    partition-less global window over the corpus (the single-task
    trap the local-prune exists to avoid)."""
    p = plan_of(qs["q174_pareto_frontier"](spark, sf_dir))
    assert "MapInPandas" in p, p
    assert "SinglePartition" not in p or "Window" not in p, p


def test_ks_drift_windows_only_on_bounded_grid(spark, sf_dir, qs):
    """q178's corpus work is ONE hash aggregate; every window runs
    over the persisted |values|x|groups| counts frame (InMemoryRelation
    in the plan), so re-running six consumers costs no extra scans."""
    p = plan_of(qs["q178_ks_drift"](spark, sf_dir))
    assert "InMemoryTableScan" in p, p
    assert "CartesianProduct" not in p, p


def test_oov_rate_broadcasts_vocab(spark, sf_dir, qs):
    """q183's vocab side must reach the membership join as a
    broadcast — the unhinted-mid-size-aggregate lesson (q165)."""
    p = plan_of(qs["q183_oov_rate"](spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_seasonal_anomalies_broadcast_profile(spark, sf_dir, qs):
    """q182's seasonal profile (<= |groups|x24 rows) joins back
    broadcast; the corpus sees exactly one aggregation."""
    p = plan_of(qs["q182_seasonal_anomalies"](spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "SinglePartition" not in p, p


def test_join_key_profile_one_scan_per_table(spark, sf_dir, qs):
    """q181's fused profile reads each candidate table ONCE for the
    sketch pipeline (plus once for the declared f2_exact garnish) —
    the whole point of the fusion. Scans are counted in the
    optimized plan; the sketch side's scans project only md5-derived
    int64 columns (no full-row reads)."""
    p = plan_of(qs["q181_join_planning"](spark, sf_dir))
    # 2 sketch scans + 2 garnish scans across orders+lineitem
    assert p.count("Scan parquet") <= 4, p
    assert "CartesianProduct" not in p, p


def test_quantile_sample_sketch_folds_in_scan(spark, sf_dir, qs):
    """q191's sketch half is a mapInPandas fold over the scan; the
    only windows in the plan run over survivor/garnish frames and
    the plan carries no cartesian or object-hash aggregate."""
    p = plan_of(qs["q191_quantile_sketch"](spark, sf_dir))
    assert "MapInPandas" in p, p
    assert "ObjectHashAggregate" not in p, p
    assert "CartesianProduct" not in p, p


def test_kll_partials_then_group_merge(spark, sf_dir, qs):
    """q192: per-partition KLL partials (MapInPandas) feed one
    per-group applyInPandas merge (FlatMapGroupsInPandas) — sketch
    rows shuffle, the corpus does not re-shuffle for the sketch."""
    p = plan_of(qs["q192_kll_quantiles"](spark, sf_dir))
    assert "MapInPandas" in p, p
    assert "FlatMapGroupsInPandas" in p, p
    assert "CartesianProduct" not in p, p


def test_funnel_attribution_single_window_no_extra_pass(spark, sf_dir, qs):
    """q193's keeper source rides the SAME content-hash window as
    the dedup rank (one Window node computing both), and the scored
    frame is persisted across the two stage attributions."""
    p = plan_of(qs["q193_funnel_attribution"](spark, sf_dir))
    assert "InMemoryTableScan" in p, p
    assert "CartesianProduct" not in p, p


def test_binned_tvd_edges_broadcast(spark, sf_dir, qs):
    """q194: the decile edge row and the bin/size tables join back
    broadcast; the corpus sees one aggregation after the edge pass
    and no single-partition window."""
    p = plan_of(qs["q194_binned_tvd_drift"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_hll_registers_no_corpus_shuffle_of_values(spark, sf_dir, qs):
    """q202's plan: the corpus reaches the register aggregation as a
    partial (map-side) hash agg — the only exchange carries (group,
    bucket) register partials, never raw values, and no sort/window
    touches the corpus."""
    p = plan_of(qs["q202_hll_distinct"](spark, sf_dir))
    assert "partial_max" in p  # registers fold map-side, pre-exchange
    assert p.count("Sort") == 1  # only the 3-row output orderBy


def test_salted_join_key_includes_salt(spark, sf_dir, qs):
    """q207's join condition carries the salt column next to the
    key, and the replicated dim side generates its salts with
    posexplode (no Python, no crossJoin)."""
    p = optimized_of(qs["q207_salted_join"](spark, sf_dir))
    assert "__salt" in p
    assert "Generate" in p  # posexplode replication
    assert "Cartesian" not in p


def test_zorder_layout_no_sort(spark, sf_dir, qs):
    """q205 is sort-free: file assignment is a projection of the
    z key, the report one aggregation (plus the 1-row bounds agg) —
    a global sort would defeat the 'layout planning without laying
    out' point."""
    p = plan_of(qs["q205_zorder_layout"](spark, sf_dir))
    # the only Sort allowed is the output orderBy on the 64-row report
    body = p.split("TakeOrdered")[0]
    assert body.count("Sort") <= 1, p


def test_zipf_rank_has_no_partitionless_window(spark, sf_dir, qs):
    """q117's vocabulary rank is two-phase (range partition +
    per-partition offsets + mapInPandas numbering) — no Window node
    may appear anywhere in the plan: a partition-less
    ``row_number() OVER (ORDER BY ...)`` pulls the whole vocabulary
    through ONE task (Spark logs 'WindowExec: No Partition Defined'),
    and web-scale text has an effectively unbounded vocabulary."""
    p = plan_of(qs["q117_zipf_fit"](spark, sf_dir))
    assert "Window" not in p, p
    # the two-phase shape: one range exchange + the Arrow numbering pass
    assert "rangepartitioning" in p.lower(), p
    assert "MapInPandas" in p or "ArrowEvalPython" in p, p


def test_compaction_plan_has_no_partitionless_window(spark, sf_dir, qs):
    """q219's running prefix sum over the file manifest is the
    two-phase distributed prefix (range partition + per-partition
    size offsets + mapInPandas cumsum) — a 100 TB table's manifest
    is millions of rows, and the old partition-less ``sum() OVER
    (ORDER BY size DESC)`` pulled all of them through one task
    (round-14 verdict fix; pattern at relational.global_rank)."""
    p = plan_of(qs["q219_compaction_plan"](spark, sf_dir))
    assert "Window" not in p, p
    assert "rangepartitioning" in p.lower(), p
    assert "MapInPandas" in p or "ArrowEvalPython" in p, p


def test_qini_rank_is_two_phase(spark, sf_dir, qs):
    """q294's score ordering must be the two-phase global rank
    (range partition + Arrow numbering) — a partition-less
    ntile/row_number over the corpus would single-task it; the only
    Window allowed is the |buckets|-row cumulative frame."""
    p = plan_of(qs["q294_qini_uplift"](spark, sf_dir))
    assert "rangepartitioning" in p.lower(), p
    assert "MapInPandas" in p or "ArrowEvalPython" in p, p


def test_bloom_pruned_join_prunes_before_the_shuffle(spark, sf_dir, qs):
    """q244's fact side must pass through the Bloom-probe filter
    BEFORE the join (the whole point is shrinking the shuffle), and
    the plan must stay a real equi-join — never a cartesian."""
    p = plan_of(qs["q244_bloom_pruned_join"](spark, sf_dir))
    assert "xxhash64" in p, p
    assert "Cartesian" not in p
    # the probe is a pure-JVM filter (xxhash64 positions +
    # binary-literal bit test — no ArrowEvalPython on the fact scan);
    # it must still sit BELOW the join in the plan tree, i.e. appear
    # after the join node in the top-down printed plan
    assert "ArrowEvalPython" not in p, "probe crosses the Python boundary"
    join_pos = min(
        (p.find(k) for k in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
         if p.find(k) >= 0),
        default=-1,
    )
    assert join_pos >= 0, p
    probe_pos = p.find("xxhash64")
    assert probe_pos > join_pos, "bloom probe is not below the join"


def test_conformal_rank_has_no_partitionless_window(spark, sf_dir, qs):
    """q254's residual order statistic must come from the two-phase
    global rank — a partition-less window over continuous residuals
    would single-task the calibration corpus."""
    p = plan_of(qs["q254_conformal_interval"](spark, sf_dir))
    assert "Window" not in p, p
    assert "rangepartitioning" in p.lower(), p


def test_bh_fdr_rank_has_no_partitionless_window(spark, sf_dir, qs):
    """q264's hypothesis ranking is the two-phase global rank — at
    10⁹ hypotheses a partition-less ``row_number() OVER (ORDER BY
    lane)`` would pull the whole battery through one task."""
    p = plan_of(qs["q264_bh_fdr"](spark, sf_dir))
    assert "Window" not in p, p
    assert "rangepartitioning" in p.lower(), p


def test_systematic_sample_has_no_partitionless_window(spark, sf_dir, qs):
    """q271's md5-permuted ordering is two-phase for the same
    reason; the keep test is a modulo projection."""
    p = plan_of(qs["q271_systematic_sample"](spark, sf_dir))
    assert "Window" not in p, p
    assert "rangepartitioning" in p.lower(), p


def test_spatial_grid_join_is_an_equi_join(spark, sf_dir, qs):
    """q269 must meet on the (cell_x, cell_y) hash key — never a
    cartesian/broadcast-nested-loop pair enumeration."""
    p = plan_of(qs["q269_spatial_grid_join"](spark, sf_dir))
    assert "Cartesian" not in p, p
    assert "BroadcastNestedLoop" not in p, p


def test_quantile_normalize_windows_are_group_partitioned(spark, sf_dir, qs):
    """q268 keeps exactly one kind of Window — the within-GROUP rank
    (hash-partitioned); the global reference ranking must be the
    two-phase rank (rangepartitioning present, and no partition-less
    window over the pooled corpus)."""
    p = plan_of(qs["q268_quantile_normalize"](spark, sf_dir))
    assert "rangepartitioning" in p.lower(), p
    # every Window node in the plan carries a partition spec: the
    # within-group row_number windows are partitioned by the group
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", p):
        assert m.group(1).strip(), p


def test_encoding_advisor_windows_are_pid_partitioned(spark, sf_dir):
    """q305's run-count phase must keep the two-phase shape: range
    partition on the (column, order, value) total order, then
    per-(column, __pid) windows. A ``Window.partitionBy(column)``
    (one task per profiled column — the shape q305 escaped once,
    measured 8.4× worse at 10×) or a partition-less window must
    fail this test (round-15 verdict finding #1)."""
    import re

    from maston_spark.profiling import _encoding_run_summary
    from maston_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem")
    summary = _encoding_run_summary(
        li,
        ["l_returnflag", "l_linestatus", "l_shipdate", "l_suppkey"],
        ["l_orderkey", "l_linenumber"],
    )
    p = plan_of(summary)
    assert "rangepartitioning" in p.lower(), p
    wins = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", p)
    assert wins, "expected the run-count Window in the plan:\n" + p
    for spec in wins:
        assert "column" in spec and "__pid" in spec, (spec, p)


def test_assortativity_folds_moments_from_one_edge_scan(spark, sf_dir, qs):
    """q273 symmetrizes no edge list (no Union) and persists nothing
    (no InMemoryRelation): three moments fold from the degree table
    and Σxy from one edge ⋈ degree join. Every consumer of the edge
    list reads one exchange, so lineitem is scanned once."""
    df = qs["q273_assortativity"](spark, sf_dir)
    p = optimized_of(df)
    assert "Union" not in p and "InMemoryRelation" not in p, p
    df.collect()
    final = plan_of(df).split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1, final
