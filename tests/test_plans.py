"""Physical-plan regression tests: the scale story, asserted.

Each test pins the plan property that makes an operator survive a
100×-scale-up — filter pushdown to the Parquet scan, top-k instead of
global sort, equi-join instead of cartesian, broadcast of small dims,
single-exchange window+agg reuse. A correctness-preserving change that
regresses one of these is a perf bug we want caught in CI, not at the
cluster.
"""

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _ev(spark):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(os.path.join(SF, "events.parquet")).withColumn(
        "uid", F.col("user_id").cast("double")
    )


def test_knn_compiles_to_takeordered(spark):
    """Global kNN must be a distributed partial top-k
    (TakeOrderedAndProject), never a full Sort + Limit — the reference's
    takeOrdered analog (FilterExec.scala:48-49) without the driver
    round-trip."""
    from simba_spark.operators.filters import knn

    plan = _plan(knn(_ev(spark), ["value", "uid"], (10.0, 5.0), 5, tiebreak="event_id"))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_distance_join_grid_has_no_cartesian(spark):
    """The grid distance join must execute as an equi-join on the cell
    key (shuffle/broadcast hash or SMJ) — a cartesian in this plan means
    the blocking key was lost and the join is O(|L|·|R|)."""
    from simba_spark.operators.distance_join import distance_join

    cust = spark.read.parquet(os.path.join(SF, "customer.parquet"))
    supp = spark.read.parquet(os.path.join(SF, "supplier.parquet"))
    out = distance_join(
        cust.withColumn("c_nat", F.col("c_nationkey").cast("double")),
        supp.withColumn("s_nat", F.col("s_nationkey").cast("double")),
        ["c_acctbal", "c_nat"], ["s_acctbal", "s_nat"], 100.0, algo="grid",
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_filter_pushes_to_parquet_scan(spark):
    """Range predicates are sargable Column arithmetic — they must reach
    the Parquet reader as PushedFilters (row-group min/max skipping does
    the local index's job, SURVEY §4.2)."""
    from simba_spark.operators.filters import range_query

    ev = spark.read.parquet(os.path.join(SF, "events.parquet"))
    out = range_query(ev, ["value", "user_id"], (10.0, 5), (50.0, 20))
    plan = _plan(out)
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(value,10.0)" in plan


def test_small_dim_join_broadcasts(spark):
    """Joining a fact table to a tiny dim must broadcast the dim, not
    shuffle the fact side."""
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    nation = spark.read.parquet(os.path.join(SF, "nation.parquet"))
    supp = spark.read.parquet(os.path.join(SF, "supplier.parquet"))
    out = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name").agg(F.count(F.lit(1)).alias("n"))
    )
    assert "BroadcastHashJoin" in _plan(out)


def test_sessionize_single_exchange(spark):
    """sessionize + session_stats group on the same key the windows
    partition by — Catalyst must plan exactly ONE shuffle exchange (the
    rollup reuses the window's partitioning)."""
    from simba_spark.operators.sessionize import session_stats

    ev = _ev(spark)
    plan = _plan(session_stats(ev, ts_col="ts"))
    assert plan.count("Exchange hashpartitioning") == 1


def test_persisted_layout_prunes_files_and_rowgroups(spark, tmp_path):
    """The layout's 'index' claim, asserted at the plan level: a routed
    range query over a persisted z-order layout must carry (a)
    PartitionFilters on the bucket directory column — files of pruned
    buckets never even get tasks (the PartitionPruningRDD analog,
    ref: IndexedRelationScan.scala:57-87) — and (b) pushed z-interval
    filters, so surviving files still skip row groups via min/max stats."""
    from simba_spark.context import SimbaContext
    from simba_spark.plans.layouts import ZBCOL, ZCOL

    ctx = SimbaContext(spark)
    ev = _ev(spark)
    ctx.create_index(ev, ["value", "uid"], "plan_prune_idx", kind="zorder")
    try:
        ctx.persist_index("plan_prune_idx", str(tmp_path / "plan_prune_idx"))
        lay = ctx.layouts.get("plan_prune_idx")
        out = ctx.range_query(lay.data, ["value", "uid"], (20.0, 30.0), (60.0, 90.0))
        plan = _plan(out)
        pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert pf and f"{ZBCOL}" in pf[0] and " IN " in pf[0], plan
        assert f"GreaterThanOrEqual({ZCOL}" in plan or f"{ZCOL}" in plan.split("PushedFilters")[1][:400], plan
        # and the routed result equals the naive scan
        naive = ev.filter(
            (F.col("value") >= 20) & (F.col("value") <= 60)
            & (F.col("uid") >= 30) & (F.col("uid") <= 90)
        )
        assert out.count() == naive.count()
    finally:
        ctx.drop_index("plan_prune_idx")


def test_layout_routing_survives_reread(spark, tmp_path):
    """Transparent routing parity (ref: sameResult matching,
    QueryExecution.scala:30-33): a FRESH read of a persisted layout's
    parquet path must route without the caller holding the original
    DataFrame object."""
    from simba_spark.context import SimbaContext

    ctx = SimbaContext(spark)
    ev = _ev(spark)
    ctx.create_index(ev, ["value", "uid"], "reread_idx", kind="zorder")
    try:
        path = str(tmp_path / "reread_idx")
        ctx.persist_index("reread_idx", path)
        fresh = spark.read.parquet(os.path.join(path, "data"))
        lay = ctx.layouts.layout_for(fresh)
        assert lay is not None and lay.name == "reread_idx"
    finally:
        ctx.drop_index("reread_idx")


@pytest.fixture(scope="module")
def persisted_ev(spark, tmp_path_factory):
    """(ctx, clean frame) of a persisted z-order layout of the events."""
    from simba_spark.context import SimbaContext

    ctx = SimbaContext(spark)
    ctx.create_index(_ev(spark), ["value", "uid"], "budget_idx", kind="zorder")
    ctx.persist_index("budget_idx", str(tmp_path_factory.mktemp("budget")))
    yield ctx, ctx.layouts.get("budget_idx").data
    ctx.drop_index("budget_idx")


def _cost(spark, fn):
    from simba_spark.driver_cost import DriverCost

    with DriverCost(spark) as cost:
        fn()
    return cost


def test_indexed_reads_fire_one_job_each(spark, persisted_ev):
    """Call to rows, an indexed range or circle read is one Spark job,
    and so is an indexed kNN read whose phase 1 is final: its rows are
    fetched once (Arrow) and returned as a driver-local frame, so the
    action fires no second job. k=1 at a data point makes phase 1 final
    (θ = 0 and bucket boxes are disjoint)."""
    ctx, ev = persisted_ev
    cols = ["value", "uid"]
    assert _cost(spark, lambda: ctx.range_query(
        ev, cols, (20.0, 30.0), (60.0, 90.0)).collect()).jobs == 1
    assert _cost(spark, lambda: ctx.circle_range(
        ev, cols, (40.0, 60.0), 30.0).collect()).jobs == 1
    p = ev.select(*cols).orderBy("event_id").first()
    knn = ctx.knn(ev, cols, tuple(p), 1, tiebreak="event_id")
    assert "LocalTableScan" in _plan(knn), _plan(knn)
    assert _cost(spark, lambda: ctx.knn(
        ev, cols, tuple(p), 1, tiebreak="event_id").collect()).jobs == 1
    # the local answer is the scan's answer, every column (ts is NTZ)
    from simba_spark.operators.filters import knn as knn_scan

    assert knn.collect() == knn_scan(
        _ev(spark), cols, tuple(p), 1, tiebreak="event_id").collect()


def test_indexed_range_build_py4j_budget(spark, persisted_ev):
    """Building an indexed range read is a few dozen py4j round trips:
    the predicate and the z-interval cover are each one parsed SQL
    expression. Built op by op as Columns, the same reads took
    300-1,700 (every Column op is ~13 round trips of call-site
    capture in PySpark 4.1)."""
    ctx, ev = persisted_ev
    for lo, hi in [((20.0, 30.0), (60.0, 90.0)), ((0.0, 0.0), (5.0, 5.0)),
                   ((10.0, 100.0), (400.0, 900.0)), ((-1.0, 7.0), (1.0, 9.0))]:
        cost = _cost(spark, lambda: ctx.range_query(ev, ["value", "uid"], lo, hi))
        assert cost.jobs == 0
        assert cost.py4j_calls <= 60, (lo, hi, cost.py4j_calls)


def test_st_sql_functions_stay_jvm_side(spark):
    """The st_* SQL surface must compile to inlined higher-order-function
    expressions — a BatchEvalPython/ArrowEvalPython node means per-row
    Python in the hot path (the anti-pattern the engine exists to avoid)."""
    from simba_spark.functions import register_sql_functions

    register_sql_functions(spark)
    _ev(spark).createOrReplaceTempView("ev_st")
    out = spark.sql(
        "SELECT event_id FROM ev_st "
        "WHERE st_within_range(st_point(value, uid), st_point(20D, 30D), st_point(60D, 90D)) "
        "  AND st_within_circle(st_point(value, uid), st_point(40D, 60D), 500D) "
        "  AND st_distance(st_point(value, uid), st_point(40D, 60D)) >= 0D"
    )
    plan = _plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # semantics: equals the Column-builder path
    from simba_spark.operators.filters import range_query

    expect = range_query(_ev(spark), ["value", "uid"], (20.0, 30.0), (60.0, 90.0))
    assert out.count() == expect.count()


def test_whole_stage_codegen_covers_spatial_filters(spark):
    """Spatial predicates are plain Column arithmetic ⇒ fully inside
    WholeStageCodegen (strictly better than the reference's
    CodegenFallback expressions, SURVEY §4.2)."""
    from simba_spark.operators.filters import circle_range

    out = circle_range(_ev(spark), ["value", "uid"], (50.0, 10.0), 25.0)
    plan = _plan(out)
    # '*(n)' prefixes mark WholeStageCodegen regions in the plan string;
    # every Filter node must carry one (no interpreted-eval fallback)
    filter_lines = [
        l for l in plan.splitlines() if "Filter " in l and "PushedFilters" not in l
    ]
    assert filter_lines and all("*(" in l.split("Filter")[0] for l in filter_lines)


def test_broadcast_knn_join_no_pair_shuffle(spark, pair_dfs):
    """The broadcast kNN plan must keep the window in place: left is
    hash-partitioned by its id BEFORE the broadcast cross join (BNLJ
    preserves streamed-side partitioning), so no |L|x|R| pair exchange
    exists, and Spark's WindowGroupLimit prunes to k per task."""
    import re

    from simba_spark.operators.knn_join import knn_join

    a, b = pair_dfs
    out = knn_join(a, b, ["x", "y"], ["x", "y"], 3, left_id="id",
                   algo="broadcast", right_tiebreak="id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    shuffles = re.findall(r"Exchange hashpartitioning", plan)
    assert len(shuffles) == 1, plan  # the skinny left repartition only
    assert "WindowGroupLimit" in plan, plan
    assert plan.index("BroadcastNestedLoopJoin") > plan.index("Window"), (
        "window must sit directly on the join output"
    )


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key + count must sort-merge join
    with NO Exchange on either side — the co-located-join contract that
    makes repeated joins over a 100 TB fact table affordable."""
    import re

    from simba_spark.sources import write_bucketed

    a = spark.range(0, 5000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 5000).selectExpr("id AS k", "id * 3 AS vb")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(a, "bk_a", "k", 8, sort_cols="k")
        write_bucketed(b, "bk_b", "k", 8, sort_cols="k")
        out = spark.table("bk_a").join(spark.table("bk_b"), on="k", how="inner")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"Exchange hashpartitioning", plan), plan
        assert out.count() == 5000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_interval_join_plans_equi_join_not_cartesian(spark):
    """The binned interval join must plan a shuffled equi-join on the bin
    key — never the BroadcastNestedLoop/cartesian Spark gives a raw
    inequality join."""
    from simba_spark.operators.interval import interval_join

    a = spark.range(0, 1000).selectExpr("id", "CAST(id AS DOUBLE) AS s",
                                        "CAST(id + 5 AS DOUBLE) AS e")
    b = spark.range(0, 1000).selectExpr("id", "CAST(id AS DOUBLE) * 1.5 AS p")
    out = interval_join(a, b, "s", "e", "p", bin_width=10.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert out.count() > 0


def test_interval_join_default_two_tier_plans_equi_join(spark):
    """The DEFAULT (two-tier) interval join must also plan an equi-join
    on (tier, bin) — the heavy-tail robustness must not cost the plan
    shape."""
    from simba_spark.operators.interval import interval_join

    a = spark.range(0, 1000).selectExpr("id", "CAST(id AS DOUBLE) AS s",
                                        "CAST(id + 5 AS DOUBLE) AS e")
    b = spark.range(0, 1000).selectExpr("id", "CAST(id AS DOUBLE) * 1.5 AS p")
    out = interval_join(a, b, "s", "e", "p")  # default bin_width
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    # the 1-row tier-stats broadcast legitimately crossJoins (BNL over
    # ONE row); the DATA join must be a hash/sort-merge equi-join
    assert any(
        op in plan
        for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), plan
    assert out.count() > 0


def test_polygon_distance_join_plans_equi_join(spark):
    """Grid-celled polygon-point distance join: equi-join on cells, not
    a cartesian refine."""
    import random

    from simba_spark.operators.polygon import polygon_distance_join

    rng = random.Random(3)
    polys = spark.createDataFrame(
        [
            (i, [{"x": (cx := rng.uniform(0, 100)), "y": (cy := rng.uniform(0, 100))},
                 {"x": cx + 5.0, "y": cy + 1.0}, {"x": cx - 3.0, "y": cy + 4.0}])
            for i in range(50)
        ],
        "id long, poly array<struct<x: double, y: double>>",
    )
    pts = spark.createDataFrame(
        [(j, rng.uniform(0, 100), rng.uniform(0, 100)) for j in range(200)],
        "id long, x double, y double",
    )
    out = polygon_distance_join(polys, pts, "poly", ["x", "y"], 3.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    # the 1-row cell-width broadcast legitimately crossJoins; the DATA
    # join must be a hash/sort-merge equi-join on the cell columns
    assert any(
        op in plan
        for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), plan
    assert "__cx" in plan and "__cy" in plan


def test_contamination_plans_hash_join_on_shingle(spark):
    """Contamination check: equi-join on the shingle key (broadcast or
    shuffled hash/sort-merge), never a nested-loop scan."""
    from simba_spark.operators.dedup import contamination_check

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta epsilon zeta eta theta") for i in range(50)],
        "doc_id long, text string",
    )
    ev = docs.filter("doc_id % 7 = 0")
    out = contamination_check(docs, ev, shingle_k=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tpch_q6_filters_reach_parquet_scan(spark):
    """Q6's whole predicate set (date range + discount band + quantity
    cap) must be pushed to the Parquet scan — at 100 TB this is the
    difference between reading a year and reading everything."""
    import __spark_entry__ as em

    plan = _plan(em.q_tpch_q6(spark, SF))
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_tpch_q5_broadcasts_dims_no_cartesian(spark):
    """Q5's nation/region dims must broadcast; the 6-way join must not
    degenerate into a cartesian anywhere."""
    import __spark_entry__ as em

    plan = _plan(em.q_tpch_q5(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_plans_no_join_single_key_shuffle(spark):
    """The as-of join's scale contract: ZERO join nodes (union +
    running-last window), shuffles only hash-partition on the key."""
    from simba_spark.operators.asof import asof_join

    ev = _ev(spark)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("pid")
    )
    plan = _plan(asof_join(clicks, purch, on="user_id", left_time="ts",
                           tiebreak_col="pid"))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    # every exchange hashes on the key — no global sorts, no round-robin
    import re

    for ex in re.findall(r"Exchange (\w+)", plan):
        assert ex == "hashpartitioning"


def test_resample_no_cartesian_single_window(spark):
    """resample: dense-join on (key, bucket) stays an equi-join; the
    forward-fill is one window pass."""
    from simba_spark.operators.timeseries import resample

    ev = _ev(spark)
    plan = _plan(
        resample(
            ev, ts_col="ts", key_col="user_id", bucket_us=3_600_000_000,
            aggs={"n": F.count(F.lit(1)), "sv": F.sum("value")},
            zero_fill=["n"], ffill=["sv"],
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    assert len(re.findall(r"\bWindow \[", plan)) == 1


def test_merge_upsert_single_window_no_join(spark):
    """merge_upsert: union + one per-key window — no join node at all."""
    from simba_spark.operators.pipeline import merge_upsert

    a = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    b = spark.range(50).selectExpr("id AS k", "id * 3 AS v")
    plan = _plan(merge_upsert(a, b, "k"))
    assert "Join" not in plan
    import re

    assert len(re.findall(r"\bWindow \[", plan)) == 1
    assert "Union" in plan


def test_q_segment_join_driver_row_no_cartesian(spark):
    """Round-5 re-route: the segment_join driver row runs through the
    generalized shape_shape_join grid program — the pair join is a cell
    equi-join, never the crossJoin it debuted with (the 1-row cell-width
    stats broadcast is the only nested-loop node allowed)."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.q_segment_join(spark, SF))
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_session_conf_drives_join_algorithm_dispatch(spark):
    """Reference parity (simba.join.* conf dispatch,
    SimbaSessionState.scala:191-227): flipping the session conf changes
    the physical program with no code change; an explicit algo= still
    wins."""
    from simba_spark.operators.distance_join import distance_join
    from simba_spark.operators.knn_join import knn_join

    cust = spark.read.parquet(os.path.join(SF, "customer.parquet")).select(
        "c_custkey",
        F.col("c_acctbal").alias("x"),
        F.col("c_nationkey").cast("double").alias("y"),
    )
    supp = spark.read.parquet(os.path.join(SF, "supplier.parquet")).select(
        "s_suppkey",
        F.col("s_acctbal").alias("x2"),
        F.col("s_nationkey").cast("double").alias("y2"),
    )
    # distance_join: default grid -> cell equi-join; conf=cross -> cartesian
    dflt = _plan(distance_join(cust, supp, ["x", "y"], ["x2", "y2"], 50.0,
                               left_prefix="a_", right_prefix="b_"))
    assert "CartesianProduct" not in dflt
    spark.conf.set("simba_spark.join.distanceJoin", "cross")
    try:
        crossed = _plan(distance_join(cust, supp, ["x", "y"], ["x2", "y2"], 50.0,
                                      left_prefix="a_", right_prefix="b_"))
        assert "CartesianProduct" in crossed or "BroadcastNestedLoopJoin" in crossed
        # explicit argument beats the conf
        explicit = _plan(distance_join(cust, supp, ["x", "y"], ["x2", "y2"], 50.0,
                                       algo="grid", left_prefix="a_",
                                       right_prefix="b_"))
        assert ("CartesianProduct" not in explicit
                and "BroadcastNestedLoopJoin" not in explicit)
    finally:
        spark.conf.unset("simba_spark.join.distanceJoin")

    # knn_join: conf=cross -> cartesian pair stream; default -> no cartesian
    kd = _plan(knn_join(cust, supp, ["x", "y"], ["x2", "y2"], 2,
                        left_id="c_custkey", right_tiebreak="s_suppkey",
                        broadcast_bytes=1.0))
    assert "CartesianProduct" not in kd and "BroadcastNestedLoopJoin" not in kd
    spark.conf.set("simba_spark.join.knnJoin", "cross")
    try:
        kc = _plan(knn_join(cust, supp, ["x", "y"], ["x2", "y2"], 2,
                            left_id="c_custkey", right_tiebreak="s_suppkey"))
        assert "CartesianProduct" in kc or "BroadcastNestedLoopJoin" in kc
    finally:
        spark.conf.unset("simba_spark.join.knnJoin")


def test_round6_late_debut_plan_shapes(spark):
    """Plan audit for the round-6 late debuts: top-ks compile to
    TakeOrderedAndProject, and none of the join-based operators plans
    a cartesian / broadcast-nested-loop join (the scalar 1-row
    crossJoins in bm25 are BNLJ by construction and exempt)."""
    from pyspark.sql import functions as F

    from simba_spark.operators.analytics import attribution, transition_matrix
    from simba_spark.operators.graph import k_hop, label_propagation
    from simba_spark.operators.stats import skew_report
    from simba_spark.operators.text import phrase_search

    ev = spark.range(200).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 11).alias("user_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 60).alias("ts"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("event_type"),
        F.lit(1.0).alias("value"),
    )
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")

    # top-k operators: global sort never materializes
    p = _plan(skew_report(ev, ["user_id"], top=5))
    assert "TakeOrderedAndProject" in p

    # join-based operators: no cartesian anywhere
    for df in (
        attribution(ev),
        transition_matrix(ev),
        phrase_search(docs, "a b"),
        label_propagation(edges, iters=2),
        k_hop(edges, seeds, k=2),
    ):
        p = _plan(df)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoop" not in p


def test_file_stats_matches_duckdb_filename_scan(spark, sf_dir):
    duckdb = pytest.importorskip("duckdb")

    from simba_spark.sources import file_stats

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    got = {
        r.file_name: (r.n_rows, r.l_orderkey_min, r.l_orderkey_max)
        for r in file_stats(df, stat_cols=["l_orderkey"]).collect()
    }
    con = duckdb.connect()
    o = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            "SELECT regexp_extract(filename, '[^/]*$'), count(*), "
            "min(l_orderkey), max(l_orderkey) "
            f"FROM read_parquet('{sf_dir}/lineitem.parquet', "
            "filename=true) GROUP BY 1"
        ).fetchall()
    }
    assert got == o and len(got) >= 1


def test_round9_debut_plan_shapes(spark):
    """Plan audit for the round-9 debuts: batch BM25 explodes the
    corpus ONCE (not per query), broadcasts its query map and idf
    table; temperature_mixture is a zero-shuffle filter after its
    skinny count; contrastive_pairs broadcasts the anchor frame; the
    KN trigram scorer plans equi-joins only."""
    from pyspark.sql import functions as F

    from simba_spark.operators.pipeline import temperature_mixture
    from simba_spark.operators.similarity import contrastive_pairs
    from simba_spark.operators.text import bm25_topk_batch, kn_trigram_lm_score

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * (1 + i % 3), "en" if i % 3 else "fr")
         for i in range(40)],
        "doc_id long, text string, lang string",
    )

    p = _plan(bm25_topk_batch(docs, {"a": ["alpha"], "b": ["beta"]}, k=5))
    # ONE corpus token explode feeds tf (the dl explode is separate):
    # per-query plans would generate 2x per query
    assert p.count("Generate explode") <= 2
    assert "BroadcastHashJoin" in p  # idf + query map broadcast
    assert "CartesianProduct" not in p

    out = temperature_mixture(docs, "lang", "doc_id", alpha=0.5)
    p = _plan(out)
    assert "Exchange" not in p  # rates inlined as literals: filter only

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5)], i % 3) for i in range(30)],
        "vec_id long, embedding array<double>, label int",
    )
    p = _plan(contrastive_pairs(emb, k=3, n_anchors=4))
    assert "BroadcastNestedLoop" in p  # anchors broadcast, corpus streams

    p = _plan(kn_trigram_lm_score(docs))
    assert "CartesianProduct" not in p


def test_round10_debut_plan_shapes(spark):
    """Plan audit for the round-10 debuts: silhouette is a
    zero-join literal-centroid projection + one aggregate exchange;
    lm_dirichlet keeps the term filter BEFORE the tf aggregation and
    broadcasts its cf table; ivf_knn_join plans ONE list equi-join
    (never a cartesian) at nprobe < C; fd_profile and anova plan no
    joins at all; km_survival never plans a partition-less row window
    (its only Window is the two-phase offset pass over the tiny
    per-partition frame)."""
    from pyspark.sql import functions as F

    from simba_spark.operators.analytics import km_survival
    from simba_spark.operators.clustering import silhouette
    from simba_spark.operators.similarity import ivf_knn_join
    from simba_spark.operators.stats import anova_oneway, fd_profile
    from simba_spark.operators.text import lm_dirichlet_topk

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), float(i % 3)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    p = _plan(silhouette(emb, k=3, iters=1, dim=3))
    assert "Join" not in p and "CartesianProduct" not in p

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * (1 + i % 3)) for i in range(40)],
        "doc_id long, text string",
    )
    p = _plan(lm_dirichlet_topk(docs, ["alpha", "beta"], k=5))
    assert "BroadcastHashJoin" in p  # cf + |C| broadcast
    assert "CartesianProduct" not in p
    # the term filter precedes the tf aggregation (postings-only shuffle)
    assert "TakeOrderedAndProject" in p

    p = _plan(ivf_knn_join(emb, k=2, n_centroids=4, nprobe=2))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoop" not in p

    rows = spark.createDataFrame(
        [(float(i % 9), f"g{i % 3}") for i in range(40)],
        "v double, g string")
    p = _plan(anova_oneway(rows, "v", "g"))
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p

    p = _plan(fd_profile(rows, [("g", "v")]))
    assert "Join" not in p

    lt = spark.createDataFrame(
        [(i % 11, i % 2) for i in range(50)], "duration long, event int")
    p = _plan(km_survival(lt))
    # no global single-partition row window: every Window in the plan
    # is either partitioned or over the tiny per-partition offsets
    assert "CartesianProduct" not in p


# ---------------------------------------------------------------------------
# loop operators: one SQL statement per round, broadcast node sides


def _loop_fixtures(spark):
    import random

    graph = spark.range(200).select(
        (F.col("id") % 50).alias("src"),
        ((F.col("id") * 7 + 3) % 53).alias("dst"),
    )
    chain = spark.createDataFrame([(i, i + 1) for i in range(16)],
                                  "a_id long, b_id long")
    rng = random.Random(13)
    pts = spark.createDataFrame(
        [(i, round(rng.uniform(0, 5), 3), round(rng.uniform(0, 5), 3))
         for i in range(60)],
        "pid2 long, x double, y double")
    return graph, chain, pts


@pytest.mark.parametrize("op,max_jobs,max_py4j", [
    ("pagerank", 23, 290),
    ("personalized_pagerank", 23, 300),
    ("connected_components", 20, 270),
    ("dbscan", 29, 1150),
    ("louvain_moves", 35, 4800),
])
def test_loop_ops_build_job_and_py4j_budgets(spark, op, max_jobs, max_py4j):
    """Build-phase ceilings of the loop operators, just above what they
    take with each round built as one SQL statement, the dangling mass
    and the convergence count observed on the round's own checkpoint
    job, and the node-sized side broadcast (21 jobs / 189 round trips
    for pagerank and 21 / 191 for personalized PageRank, which share
    the rounds; 18 / 242 and 26 / 1,086). Built op by op, the same
    calls took 49 jobs / 1,809 round trips (pagerank, 6 iterations),
    52 / 2,177
    (personalized PageRank, the same graph and iterations), 49 / 2,854
    (components of a 17-node chain) and 64 / 4,397 (dbscan of 60
    points). louvain_moves is louvain's level-1 move kernel (33 jobs /
    4,577 round trips); its own copy of the kernel took 39 jobs."""
    from simba_spark.operators.clustering import dbscan
    from simba_spark.operators.dedup import connected_components
    from simba_spark.operators.graph import (louvain_moves, pagerank,
                                             personalized_pagerank)

    graph, chain, pts = _loop_fixtures(spark)
    seeds = spark.createDataFrame([(0,), (7,)], "node long")
    build = {
        "pagerank": lambda: pagerank(graph, iters=6),
        "personalized_pagerank": lambda: personalized_pagerank(
            graph, seeds, iters=6),
        "louvain_moves": lambda: louvain_moves(graph, iters=4),
        "connected_components": lambda: connected_components(chain),
        "dbscan": lambda: dbscan(pts, ["x", "y"], eps=0.7, min_pts=3,
                                 id_col="pid2"),
    }[op]
    cost = _cost(spark, build)
    assert cost.jobs <= max_jobs, cost.jobs
    assert cost.py4j_calls <= max_py4j, cost.py4j_calls


class _CheckpointPlans:
    """Executed plans of every frame an operator checkpoints (the final
    adaptive plan once it has run)."""

    def __init__(self, monkeypatch):
        from pyspark.sql.classic.dataframe import DataFrame

        self.plans = []
        orig = DataFrame.localCheckpoint

        def capture(df, eager=True, storageLevel=None):
            out = orig(df, eager)
            self.plans.append(_plan(df).split("== Initial Plan ==")[0])
            return out

        monkeypatch.setattr(DataFrame, "localCheckpoint", capture)


def _components_mirror(pairs, a_col="a_id", b_col="b_id"):
    """DuckDB recursive-CTE components: min id reachable, per id."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE p (a BIGINT, b BIGINT)")
    rows = [(r[a_col], r[b_col]) for r in pairs.collect()]
    if rows:
        con.executemany("INSERT INTO p VALUES (?, ?)", rows)
    return dict(con.execute("""
        WITH RECURSIVE e AS (SELECT a AS src, b AS dst FROM p
                             UNION SELECT b, a FROM p),
        reach(id, r) AS (SELECT DISTINCT src, src FROM e
                         UNION SELECT e.src, reach.r FROM e
                         JOIN reach ON e.dst = reach.id)
        SELECT id, min(r) FROM reach GROUP BY id""").fetchall())


@pytest.mark.parametrize("bound", ["default", 0])
def test_loop_ops_broadcast_guard_both_sides(spark, monkeypatch, request,
                                            bound):
    """Both sides of the node-side broadcast guard give the oracle's
    answer. With the default bound a round streams the checkpointed
    edges through a broadcast of the ranks (labels): the edge scan is
    never exchanged. With the bound at 0 no hint is written and the
    edge side is shuffled into the join. The benchmark has no workload
    above the bound, so this is that side's only coverage."""
    duckdb = pytest.importorskip("duckdb")
    from simba_spark.operators import _bcast
    from simba_spark.operators.dedup import connected_components
    from simba_spark.operators.graph import (pagerank, pagerank_sql,
                                             personalized_pagerank,
                                             personalized_pagerank_sql)

    if bound == 0:
        monkeypatch.setattr(_bcast, "_EDGE_BCAST_MAX_BYTES", 0)
        # and no size-based broadcast either (the fixture's edge side
        # is small enough for one): the joins must shuffle
        for key in ("spark.sql.autoBroadcastJoinThreshold",
                    "spark.sql.adaptive.autoBroadcastJoinThreshold"):
            old = spark.conf.get(key, None)
            spark.conf.set(key, "-1")
            request.addfinalizer(
                lambda k=key, v=old: spark.conf.unset(k) if v is None
                else spark.conf.set(k, v))
    graph, chain, _ = _loop_fixtures(spark)
    rows = [(r.src, r.dst, float(1 + (r.src + r.dst) % 4))
            for r in graph.collect()]
    weighted = spark.createDataFrame(rows, "src long, dst long, w double")
    con = duckdb.connect()
    con.execute("CREATE TABLE e (src BIGINT, dst BIGINT, w DOUBLE)")
    con.executemany("INSERT INTO e VALUES (?, ?, ?)", rows)

    plans = _CheckpointPlans(monkeypatch)
    want = dict(con.execute(pagerank_sql("e", iters=6)).fetchall())
    got = {r.node: r.rank for r in pagerank(graph, iters=6).collect()}
    assert got == want
    assert {r.node: r.rank for r in pagerank(
        graph, iters=6, salt_hot_nodes=4).collect()} == want
    want_w = dict(con.execute(
        pagerank_sql("e", iters=6, weight="w")).fetchall())
    assert {r.node: r.rank for r in pagerank(
        weighted, iters=6, weight="w").collect()} == want_w
    seeds = spark.createDataFrame([(0,), (7,)], "node long")
    want_p = dict(con.execute(personalized_pagerank_sql(
        "e", "(SELECT 0 AS node UNION ALL SELECT 7)", iters=6)).fetchall())
    assert {r.node: r.rank for r in personalized_pagerank(
        graph, seeds, iters=6).collect()} == want_p
    # every node a seed: plain PageRank, bit for bit
    every = spark.createDataFrame([(v,) for v in want], "node long")
    assert {r.node: r.rank for r in personalized_pagerank(
        graph, every, iters=6, round_to=None).collect()} == {
        r.node: r.rank for r in pagerank(
            graph, iters=6, round_to=None).collect()}

    two = chain.unionByName(spark.createDataFrame(
        [(100, 101), (101, 102), (102, 100), (7, 7)],
        "a_id long, b_id long"))
    got = {r.id: r.component for r in connected_components(two).collect()}
    assert got == _components_mirror(two)
    assert got[16] == 0 and got[102] == 100 and got[7] == 0

    # the rounds: the edge scan feeds the ranks (labels) join directly
    # under the hint, and through an exchange on the join key without it
    pr_rounds = [p for p in plans.plans if "max(__dang" in p]
    cc_rounds = [p for p in plans.plans if "min(__cand" in p]
    assert len(pr_rounds) >= 3 * 4 and len(cc_rounds) >= 3
    edge_shuffled = (
        ["Exchange hashpartitioning(src" in p for p in pr_rounds]
        + ["Exchange hashpartitioning(dst" in p for p in cc_rounds])
    if bound == 0:
        assert all(edge_shuffled)
        assert not any("BroadcastHashJoin" in p for p in pr_rounds + cc_rounds)
    else:
        assert not any(edge_shuffled)


def test_components_round_plan_shape(spark, monkeypatch):
    """A components round after round 0, at sf0.1 scale (4,000 ids),
    plans ONE exchange, the aggregate's hashpartitioning(id): the edge
    checkpoint streams through the labels broadcast, which the
    label-of-label lookup reuses. No repartition(id) exchange closes
    the round: the aggregate's output already is hash(id), and a
    checkpoint scan does not carry partitioning into the next round."""
    from simba_spark.operators.dedup import connected_components

    # 80 chains of 50 nodes
    pairs = spark.range(4000).filter(F.col("id") % 50 != 49).select(
        F.col("id").alias("a_id"), (F.col("id") + 1).alias("b_id"))
    plans = _CheckpointPlans(monkeypatch)
    connected_components(pairs)
    rounds = [p for p in plans.plans if "min(__cand" in p]
    assert len(rounds) >= 2
    for p in rounds:
        assert p.count("Exchange hashpartitioning(") == 1, p
        assert "Exchange hashpartitioning(id" in p
        assert "REPARTITION_BY_COL" not in p
        assert "ReusedExchange" in p  # one labels broadcast, two probes
