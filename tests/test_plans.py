"""Physical-plan regression tests: the plan shapes PLANS.md documents,
asserted so a refactor can't silently regress them (SURVEY.md §4.3 —
the plan IS the product at 100 TB)."""

from __future__ import annotations

import pytest

from canary_weather_etl_spark.plans import REGISTRY


def _plan(spark, name, sf_dir) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_scan_prunes_columns(spark, sf_dir):
    plan = _plan(spark, "q1_groupby_avg", sf_dir)
    assert "ReadSchema: struct<l_extendedprice:double,l_returnflag:string>" in plan, \
        "scan must read exactly the two needed columns"


def test_q2_uses_distributed_topk(spark, sf_dir):
    plan = _plan(spark, "q2_groupby2_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan, \
        "ORDER BY + LIMIT must plan as distributed top-k, not a global sort"


def test_q3_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, "q3_filtered_groupby_avg", sf_dir)
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]" in plan


def test_dim_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, "q_join_broadcast_dims", sf_dir)
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_fact_join_partial_aggregates(spark, sf_dir):
    plan = _plan(spark, "q_join_inner_fact", sf_dir)
    # partial+final hash aggregation: map-side combine before the exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_semi_anti_join_shapes(spark, sf_dir):
    anti = _plan(spark, "q_join_left_anti", sf_dir)
    assert "LeftAnti" in anti
    semi = _plan(spark, "q_join_left_semi", sf_dir)
    assert "LeftSemi" in semi


def test_minhash_pipeline_no_fullwidth_shingle_join(spark, sf_dir):
    """The scale guarantee of the LSH path: the only self-join is on
    (band, band_hash) — no join keyed on raw shingle strings.

    The final plan no longer shows the banding join: verify_pairs_jaccard
    localCheckpoints the candidate pairs (eager, r13 — unmaterialized,
    three consumers re-ran the LSH lineage and OOM'd at 1000x), which
    cuts lineage to `Scan ExistingRDD[a,b]`. So the band-key join is
    asserted on the PRE-checkpoint candidate frame, and the final plan
    keeps only the no-shingle-join guarantee."""
    from canary_weather_etl_spark.operators import dedup as D
    from canary_weather_etl_spark.plans.registry import load

    d = load(spark, sf_dir, "documents")
    sets = D.shingle_sets(d, "doc_id", "text", 2)
    sigs = D.minhash_signatures_from_sets(sets, 32)
    cands = D.lsh_candidate_pairs(sigs, 8, 32)
    cplan = cands._jdf.queryExecution().executedPlan().toString()
    assert "band_hash" in cplan, \
        "candidate generation must self-join on the folded band key"

    plan = _plan(spark, "q_dedup_minhash_lsh", sf_dir)
    assert "shingle" not in plan.lower().replace("shingle_sets", ""), \
        "verification must use array_intersect on candidates, not a shingle join"


def test_window_single_shuffle(spark, sf_dir):
    plan = _plan(spark, "q_window_rank", sf_dir)
    # one exchange for the window partitionBy; AQE may add a read marker
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, f"window expected exactly one shuffle, got {n_exchange}"


def test_join_hints_control_physical_strategy(spark, sf_dir):
    """Spark-first physical control: hints select the join implementation
    without touching semantics — MERGE forces SortMergeJoin where AQE
    would broadcast, SHUFFLE_HASH forces ShuffledHashJoin. The lever for
    overriding Catalyst when table stats mislead it at 100 TB."""
    from canary_weather_etl_spark.plans.registry import load

    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")

    merged = c.join(n.hint("merge"), c.c_nationkey == n.n_nationkey)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan

    hashed = c.join(n.hint("shuffle_hash"), c.c_nationkey == n.n_nationkey)
    plan = hashed._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan

    # same rows under every strategy (semantics-invisible)
    a = {tuple(r) for r in merged.collect()}
    b = {tuple(r) for r in hashed.collect()}
    base = {tuple(r) for r in
            c.join(n, c.c_nationkey == n.n_nationkey).collect()}
    assert a == b == base


def test_global_rank_no_single_partition_window(spark, sf_dir):
    """q_global_rank's windows must all be partitioned (by __pid) — no
    empty partitionBy window funneling the table through one task."""
    import re

    from canary_weather_etl_spark.plans.registry import REGISTRY
    df = REGISTRY["q_global_rank"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        assert "__pid" in spec, f"unpartitioned window: {spec}"


def test_bitmap_semi_join_equals_left_semi(spark):
    """bitmap_semi_join must be EXACT (no Bloom false positives): same
    rows as left_semi on bucket-boundary keys (1, 4096, 32768, 32769,
    65536) and misses adjacent to hits."""
    from pyspark.sql import functions as F
    from canary_weather_etl_spark.operators.bitmapjoin import bitmap_semi_join

    fact = spark.createDataFrame(
        [(k,) for k in [1, 2, 7, 4095, 4096, 4097, 32767, 32768, 32769,
                        65535, 65536, 65537, 100000]], "k long")
    keys = spark.createDataFrame(
        [(k,) for k in [1, 4096, 32768, 32769, 65536]], "j long")
    got = sorted(r.k for r in
                 bitmap_semi_join(fact, keys, "k", "j").collect())
    want = sorted(r.k for r in
                  fact.join(keys, fact.k == keys.j, "left_semi").collect())
    assert got == want == [1, 4096, 32768, 32769, 65536]


def test_window_rank_filter_pushes_group_limit(spark, sf_dir):
    """rank<=k on top of a window is NOT a full window + filter since Spark
    3.5: the WindowGroupLimit rule keeps only k+ rows per group BEFORE the
    shuffle/sort — per-partition heaps, the per-group analog of
    TakeOrderedAndProject. At 100 TB this is the difference between sorting
    every group fully and keeping 3 rows per group per mapper."""
    from canary_weather_etl_spark.plans import REGISTRY
    df = REGISTRY["q_window_rank"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_coactivity_cap_applied_before_collect(spark, sf_dir):
    """r15 scale-safety pin (VERDICT r14 #1): in the coactivity edge
    build, the hot-cell cap must drop rows BEFORE the collect_list
    aggregate, so no aggregation buffer ever holds an uncapped cell's
    user array (a single group's collect_list state cannot spill — the
    per-task OOM vector on a viral cell). The shipped shape is a window
    count over the cell partition (spillable row buffer) + filter; the
    collect_list aggregate must inherit the window's hash partitioning
    (no Exchange between the cap filter and the collect)."""
    import re

    from canary_weather_etl_spark.plans.advanced_sql import coactivity_edges

    cap = 37  # not the default: the filter literal must come from the arg
    plan = (coactivity_edges(spark, sf_dir, cell_cap=cap)
            ._jdf.queryExecution().executedPlan().toString())
    collect = "functions=[collect_list("
    window = "Window [count(1) windowspecdefinition("
    assert collect in plan and window in plan, plan[:2000]
    i_collect = plan.index(collect)
    i_window = plan.index(window)
    # the plan tree prints downstream-first: the collect aggregate must
    # sit ABOVE the window+filter (i.e. consume already-capped rows)
    assert i_collect < i_window, \
        "cap/window must run below the collect_list aggregate"
    between = plan[i_collect:i_window]
    assert re.search(rf"Filter \(__n#\d+L <= {cap}\)", between), \
        "the cell_cap filter must sit between the collect and the window"
    assert "Exchange" not in between, \
        "collect_list must inherit the window's cell partitioning"
