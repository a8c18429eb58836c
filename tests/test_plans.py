"""Physical-plan hygiene: pushdown, broadcast, codegen (the properties that
decide whether these plans survive a 100x scale-up)."""

from pyspark.sql import functions as F

from nifi_daffodil_spark.plans import driver_queries as dq

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_broadcast_join_chosen_for_dims(spark):
    plan = _plan(dq.q_join_broadcast_enrich(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushed_to_parquet_scan(spark):
    df = dq.q_agg_pricing_summary(spark, SF)
    analyzed = df._jdf.queryExecution().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in analyzed


def test_column_pruning_reaches_scan(spark):
    """A two-column projection must not read all lineitem columns."""
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
        .filter(F.col("l_quantity") > 10)
    )
    analyzed = df._jdf.queryExecution().toString()
    rs = analyzed.split("ReadSchema:")[-1]
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_extendedprice" not in rs and "l_shipdate" not in rs


def test_whole_stage_codegen_covers_validation(spark):
    from nifi_daffodil_spark.operators.validate import with_validation

    # range-backed (a LocalRelation would constant-fold the whole plan away)
    ev = spark.range(100).select(
        F.col("id").alias("lsn"),
        F.lit("I").alias("op"),
        F.col("id").cast("string").alias("conv_id"),
        (F.col("id") % 10).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("id").cast("string").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.current_timestamp().alias("ts"),
    )
    plan = _plan(with_validation(ev, "full", 100))
    assert "*(1)" in plan  # '*' marks whole-stage-codegen spans


def test_lww_dedup_no_extra_exchange_after_repartition(spark):
    """The engine's merge-ready batch has exactly ONE exchange — the dedup
    window shuffle. Redistribution for the MERGE/write is owned by the sink;
    a (bucket, salt) repartition here would be shuffled away downstream
    (round-1 verdict: the salt exchange was a pure extra shuffle)."""
    from nifi_daffodil_spark.config import EngineConfig
    from nifi_daffodil_spark.engine import CdcEngine

    eng = CdcEngine(spark, None, EngineConfig(n_buckets=8))
    ev = spark.createDataFrame(
        [(1, "I", "c", 0, "user", "t", None, None)],
        "lsn long, op string, conv_id string, turn_idx long, role string, "
        "text string, tool string, ts timestamp",
    )
    plan = _plan(eng._finish_batch(ev))
    assert plan.count("Exchange") == 1, plan
    # the single exchange keys on bucket (so the sink's partitioned delta
    # write is exchange-free) and the dedup window rides it: its superset
    # partition key (bucket, conv_id, turn_idx) needs no second shuffle,
    # and WindowGroupLimit pushes the rank-1 filter below the sort
    assert "Exchange hashpartitioning(bucket" in plan
    assert "WindowGroupLimit" in plan


def test_connected_components_no_cartesian(spark):
    """The transitive-closure rounds are equality joins + groupBy min —
    never a cross join, at any iteration count."""
    from nifi_daffodil_spark.operators.text_dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "d1 long, d2 long"
    )
    # small_graph_edges=0 forces the ITERATIVE path — the union-find fast
    # path has no joins at all, which would make these assertions vacuous
    plan = _plan(connected_components(pairs, max_iter=3, small_graph_edges=0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_index_probe_is_partition_pruned(spark, tmp_path):
    """Serving reads ONLY the probed cells' files: the vectors scan must
    carry a partition filter on `cell` — at 10^9 rows this is the
    difference between scanning nprobe/n_cells of the index and all of it."""
    import numpy as np

    from nifi_daffodil_spark.operators.similarity import IvfIndex

    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    idx = IvfIndex.build(df, str(tmp_path / "ivf"), n_cells=4, sample=64)
    plan = _plan(idx.topk(rows[0][1], k=3, nprobe=1))
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*\]", plan)
    assert m, f"no cell partition filter in scan:\n{plan[:2000]}"


def test_asof_join_no_range_join_explosion(spark):
    """The as-of join must plan as union+window (one key shuffle), never a
    range-condition nested-loop/cartesian join."""
    plan = _plan(dq.q_asof_join(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_asof_variants_same_plan_shape(spark):
    """Forward direction and tolerance must not change the plan class: still
    union+window on one key shuffle — no range join, no extra exchange
    beyond the backward variant's."""
    for q in (dq.q_asof_forward, dq.q_asof_tolerance):
        plan = _plan(q(spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Window" in plan
        base = _plan(dq.q_asof_join(spark, SF))
        assert (
            plan.count("Exchange hashpartitioning")
            == base.count("Exchange hashpartitioning")
        )


def test_sessionize_single_shuffle(spark):
    """lag-window, running-sum window, and session agg all key on user_id:
    Catalyst must reuse ONE exchange for all three (hashpartitioning on
    user_id satisfies the agg's (user_id, session_seq) clustering)."""
    plan = _plan(dq.q_sessionize(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1


def test_tpch_q3_broadcasts_and_pushes_down(spark):
    plan = _plan(dq.q_tpch_q3_topk(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThan(l_shipdate" in plan and "LessThan(o_orderdate" in plan


def test_tpch_q4_semi_join_with_pushdown(spark):
    """The EXISTS re-expression must be a SEMI join (no row multiplication
    from multi-line orders) with both filters pushed to their scans."""
    plan = _plan(dq.q_tpch_q4_semijoin(spark, SF))
    assert "LeftSemi" in plan
    analyzed = dq.q_tpch_q4_semijoin(spark, SF)._jdf.queryExecution().toString()
    assert "GreaterThan(l_discount" in analyzed
    assert "GreaterThanOrEqual(o_orderdate" in analyzed


def test_scd2_single_exchange(spark):
    """SCD2 history is one window over the merge key: exactly one shuffle,
    never a self-join of history against itself."""
    plan = _plan(dq.q_cdc_scd2(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_text_repetition_zero_shuffle_no_python(spark):
    """The whole computation is map-side (sorted bigram array + run-length
    aggregate): no Python evaluation and no KEYED exchange — the only
    permitted exchange is the adaptive round-robin spread that floors scan
    parallelism on single-row-group inputs (round 6); a well-split input
    plans with zero exchanges."""
    plan = _plan(dq.q_text_repetition(spark, SF))
    assert "Python" not in plan  # no ArrowEvalPython / BatchEvalPython
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("Exchange") <= 1  # at most the round-robin spread


def test_pivot_single_aggregation(spark):
    """The conditional-aggregate pivot must be ONE hash aggregation on
    user_id — DataFrame.pivot() would plan a second aggregation +
    exchange (pivotfirst), doubling the shuffle at scale."""
    plan = _plan(dq.q_cdc_pivot(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "pivotfirst" not in plan


def test_rolling_window_single_exchange(spark):
    plan = _plan(dq.q_cdc_rolling_window(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1


def test_changelog_single_aggregation_exchange(spark):
    """The before/after-image changelog computes BOTH images in one grouped
    aggregation (max_by with a condition-masked old side): exactly one
    exchange keyed by user_id, partial aggregation below it, and no join —
    the two-as-of-states self-join shape would shuffle the table twice."""
    plan = _plan(dq.q_cdc_changelog(spark, SF))
    assert plan.count("Exchange") == 1, plan
    assert "Exchange hashpartitioning(user_id" in plan
    assert "partial_max" in plan  # map-side combine before the shuffle
    assert "Join" not in plan


def test_salted_join_two_path(spark):
    """Two-path skew join (round-4 verdict #3): the cold majority takes a
    plain equi-join with NO salt-range replication; the only cross join in
    the plan is the salt replication of the HOT build rows, whose input is
    the hot-key-filtered build side (a semi join against the detected hot
    set), never the raw build scan — so replication is bounded by
    (hot keys x n_salt), not |build| x n_salt."""
    plan = _plan(dq.q_join_salted_orders(spark, SF))
    # exactly one cross-join operator: the salt-range replication
    n_cross = plan.count("BroadcastNestedLoopJoin") + plan.count("CartesianProduct")
    assert n_cross == 1, plan
    # probe split into hot (semi) and cold (anti) against the hot-key set,
    # plus the build side's own hot filter
    assert plan.count("LeftSemi") >= 2, plan
    assert "LeftAnti" in plan
    # both paths feed one union before the final aggregation
    assert "Union" in plan
    # the hot path joins on (key, salt); the cold path on the key ALONE
    import re

    inner = [
        m.group(0)
        for m in re.finditer(
            r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*", plan
        )
        if "Semi" not in m.group(0) and "Anti" not in m.group(0)
    ]
    assert any("_salt" in j for j in inner), plan      # hot path is salted
    assert any("_salt" not in j for j in inner), plan  # cold path is not


def test_incr_agg_two_exchanges_no_recompute_join(spark):
    """Incremental aggregate maintenance costs two exchanges — the per-key
    image aggregation and the tiny per-type delta sum — and must contain no
    join at all: joining the changelog back to the recomputed new state
    would shuffle |state| rows and defeat the point of maintaining the
    aggregate from |changed keys| deltas."""
    plan = _plan(dq.q_cdc_incr_agg(spark, SF))
    assert plan.count("Exchange") == 2, plan
    assert "Exchange hashpartitioning(user_id" in plan
    assert "Join" not in plan
    assert "partial_max" in plan  # map-side combine below the image exchange


def test_queries_and_oracles_expose_the_same_57_names():
    """queries() and oracle_sql() are views of one catalogue table."""
    names = list(dq.queries())
    assert len(names) == len(set(names)) == 57
    assert names == list(dq.oracle_sql())
