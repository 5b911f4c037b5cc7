"""Layout ("index" analog) tests: routed plans must hash-match unrouted
plans (SURVEY.md §5 equivalence properties) and persist/load must
round-trip (ref parity: IndexManager.persistIndex/loadIndex)."""

import os

import pytest

from simba_spark.context import SimbaContext


@pytest.fixture(scope="module")
def lctx(spark):
    return SimbaContext(spark)


def _ids(df, col="id"):
    return sorted(r[col] for r in df.collect())


def test_layout_routed_equals_naive(lctx, points_df):
    from simba_spark.operators.filters import circle_range, range_query

    lay = lctx.create_index(points_df, ["x", "y"], "pts_idx", kind="zorder")
    lo, hi = (100.0, 100.0), (300.0, 300.0)
    naive = range_query(points_df, ["x", "y"], lo, hi)
    routed = lctx.range_query(lay.data, ["x", "y"], lo, hi)
    assert _ids(routed) == _ids(naive)
    assert routed.columns == points_df.columns

    naive_c = circle_range(points_df, ["x", "y"], (500.0, 500.0), 80.0)
    routed_c = lctx.circle_range(lay.data, ["x", "y"], (500.0, 500.0), 80.0)
    assert _ids(routed_c) == _ids(naive_c)
    lctx.drop_index("pts_idx")


def test_layout_pruning_drops_partitions(lctx, points_df):
    lay = lctx.create_index(points_df, ["x", "y"], "pts_idx2", kind="zorder",
                            num_partitions=16)
    cands = lay.candidate_partitions([0.0, 0.0], [50.0, 50.0])
    assert 0 < len(cands) < len(lay.bounds), (
        "a small corner box should prune most z-ordered partitions"
    )
    lctx.drop_index("pts_idx2")


def test_layout_persist_load_roundtrip(lctx, points_df, tmp_path):
    from simba_spark.operators.filters import range_query

    lctx.create_index(points_df, ["x", "y"], "pl_idx", kind="zorder")
    path = str(tmp_path / "pl_idx")
    lctx.persist_index("pl_idx", path)
    lctx.drop_index("pl_idx")
    assert not lctx.has_index("pl_idx")

    lay = lctx.load_index("pl_loaded", path)
    lo, hi = (100.0, 100.0), (300.0, 300.0)
    naive = range_query(points_df, ["x", "y"], lo, hi)
    routed = lctx.range_query(lay.data, ["x", "y"], lo, hi)
    # regression: loaded layouts must recompute partition bounds — reader
    # partitioning differs from writer partitioning
    assert _ids(routed) == _ids(naive)
    assert lay.data.columns == points_df.columns
    lctx.drop_index("pl_loaded")


def test_layout_ddl_surface(lctx, points_df):
    lctx.create_index(points_df, ["x"], "ddl_idx", kind="range")
    assert lctx.has_index("ddl_idx")
    info = lctx.show_index()
    assert any(i["name"] == "ddl_idx" and i["kind"] == "range" for i in info)
    assert lctx.drop_index("ddl_idx")
    assert not lctx.drop_index("ddl_idx")


def test_layout_routed_knn_equals_naive(spark):
    """Two-phase bound-and-prune kNN through a z-order layout must
    return exactly the naive top-k, for query points inside and far
    outside the data's bounding box."""
    from pyspark.sql import functions as F

    from simba_spark.context import SimbaContext
    from simba_spark.operators.filters import knn

    ctx = SimbaContext(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").withColumn(
        "uid", F.col("user_id").cast("double")
    )
    lay = ctx.create_index(ev, ["value", "uid"], "ev_knn_idx", kind="zorder")
    try:
        for q, k in [((123.0, 45.0), 25), ((0.0, 0.0), 5), ((1e6, -50.0), 7)]:
            naive = [
                r.event_id
                for r in knn(ev, ["value", "uid"], q, k, tiebreak="event_id").collect()
            ]
            routed = [
                r.event_id
                for r in ctx.knn(lay.data, ["value", "uid"], q, k, tiebreak="event_id").collect()
            ]
            assert routed == naive, (q, k)
    finally:
        ctx.drop_index("ev_knn_idx")


@pytest.mark.parametrize("extra", [
    "INTERVAL '1' YEAR",                      # no Arrow type
    "named_struct('b', array(1.0D, CAST(id AS DOUBLE)))",  # not rebuilt
])
def test_layout_knn_arrow_fallback(spark, extra):
    """A final phase 1 answers from its Arrow-fetched rows; a column
    Arrow cannot carry, or PySpark cannot rebuild from Arrow (a struct
    holding an array of non-null elements), runs phase 1 again in the
    action instead — with the same answer."""
    from simba_spark.context import SimbaContext
    from simba_spark.operators.filters import knn

    ctx = SimbaContext(spark)
    df = spark.range(3000).selectExpr(
        "id", "CAST(id % 60 AS DOUBLE) AS x", "CAST(id DIV 60 AS DOUBLE) AS y",
        f"{extra} AS extra")
    lay = ctx.create_index(df, ["x", "y"], "arrow_fallback_idx", kind="zorder")
    try:
        # k=1 at a data point: θ = 0, so phase 1 is final
        for q, k in [((10.0, 20.0), 1), ((30.5, 25.5), 7)]:
            routed = ctx.knn(lay.data, ["x", "y"], q, k, tiebreak="id")
            if k == 1:
                plan = routed._jdf.queryExecution().executedPlan().toString()
                assert "LocalTableScan" not in plan, plan
            naive = knn(df, ["x", "y"], q, k, tiebreak="id")
            # Python cannot hold a year-month interval: compare as text
            shown = ("id", "x", "y", "CAST(extra AS STRING)")
            assert routed.selectExpr(*shown).collect() == \
                naive.selectExpr(*shown).collect()
    finally:
        ctx.drop_index("arrow_fallback_idx")


def test_layout_knn_prunes_partitions(spark):
    """The θ-bound phase-2 partition set must be a strict subset on
    clustered data (the point of the layout)."""
    from pyspark.sql import functions as F

    from simba_spark.context import SimbaContext
    from simba_spark.operators.filters import _bounds_mindist2

    ctx = SimbaContext(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").withColumn(
        "uid", F.col("user_id").cast("double")
    )
    lay = ctx.create_index(ev, ["value", "uid"], "ev_prune_idx", kind="zorder")
    try:
        q = [123.0, 45.0]
        ranked = sorted(
            lay.bounds, key=lambda b: _bounds_mindist2(b, ["value", "uid"], q)
        )
        assert len(ranked) > 4
        # nearest bucket box is (near-)touching the point; the farthest is
        # far away — the distance ranking that drives phase-1 selection
        near = _bounds_mindist2(ranked[0], ["value", "uid"], q)
        far = _bounds_mindist2(ranked[-1], ["value", "uid"], q)
        assert near < 1.0 and far > 100.0 * max(near, 1e-9)
        # and the pruned phase-2 z-cover of a small ball is a strict
        # subset of the z domain
        ranges = lay.z_ranges_for_box([q[0] - 5, q[1] - 5], [q[0] + 5, q[1] + 5])
        assert ranges and len(ranges) >= 1
        covered = sum(b - a + 1 for a, b in ranges)
        assert covered < (1 << (2 * lay.bits)) // 100
    finally:
        ctx.drop_index("ev_prune_idx")

def test_selectivity_adaptive_scan(lctx, points_df):
    """A near-domain-wide box must fall back to the plain scan (pruning
    can't skip I/O; the z-interval OR would be pure overhead — ref:
    IndexedRelationScan.scala:173-180 selectivity threshold), while a
    small box still gets the pruned plan. Results identical either way."""
    from simba_spark.operators.filters import range_query

    lay = lctx.create_index(points_df, ["x", "y"], "sel_idx", kind="zorder")
    try:
        wide = lctx.layouts.prune_for_range(
            lay.data, ["x", "y"], (1.0, 1.0), (999.0, 999.0)
        )
        assert wide is lay.data, "wide box should skip the pruned rewrite"
        narrow = lctx.layouts.prune_for_range(
            lay.data, ["x", "y"], (0.0, 0.0), (60.0, 60.0)
        )
        assert narrow is not lay.data, "small box should get z pruning"
        # and routed results still match the naive scan at both extremes
        for lo, hi in [((1.0, 1.0), (999.0, 999.0)), ((0.0, 0.0), (60.0, 60.0))]:
            naive = range_query(points_df, ["x", "y"], lo, hi)
            routed = lctx.range_query(lay.data, ["x", "y"], lo, hi)
            assert _ids(routed) == _ids(naive), (lo, hi)
    finally:
        lctx.drop_index("sel_idx")


def test_set_index_storage_level(lctx, points_df):
    """Post-hoc cache-level DDL (ref: DataSet.setStorageLevel,
    DataSet.scala:178-226)."""
    from pyspark.storagelevel import StorageLevel

    lay = lctx.create_index(points_df, ["x", "y"], "sl_idx", kind="zorder")
    try:
        assert lctx.set_index_storage_level("sl_idx", StorageLevel.DISK_ONLY)
        assert lay.df.storageLevel == StorageLevel.DISK_ONLY
        assert lay.df.count() > 0  # still computable at the new level
        assert not lctx.set_index_storage_level("missing_idx", StorageLevel.DISK_ONLY)
    finally:
        lctx.drop_index("sl_idx")


def test_sql_view_routes_to_persisted_layout(lctx, points_df, tmp_path):
    """A SQL-defined view over a persisted layout's path routes through
    the index (reference parity: sameResult matching routes SQL over
    temp views, QueryExecution.scala:30-33) — but only bare scans: a
    filtered or column-renamed view must NOT be silently replaced by the
    full relation."""
    from simba_spark.operators.filters import range_query

    spark = points_df.sparkSession
    lctx.create_index(points_df, ["x", "y"], "sqlv_idx", kind="zorder")
    path = str(tmp_path / "sqlv")
    lctx.persist_index("sqlv_idx", path)
    try:
        data_dir = f"{path}/data"
        spark.sql(
            f"CREATE OR REPLACE TEMP VIEW sqlv AS SELECT * FROM parquet.`{data_dir}`"
        )
        tbl = spark.table("sqlv")
        assert lctx.layouts.layout_for(tbl) is not None
        assert lctx.layouts.layout_for(tbl.filter("x > 10")) is None
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW sqlv_renamed AS "
            f"SELECT x AS y, y AS x, id, __simba_z, __simba_zb FROM parquet.`{data_dir}`"
        )
        assert lctx.layouts.layout_for(spark.table("sqlv_renamed")) is None
        naive = _ids(range_query(points_df, ["x", "y"], (100.0, 100.0), (300.0, 300.0)))
        routed = _ids(lctx.range_query(tbl, ["x", "y"], (100.0, 100.0), (300.0, 300.0)))
        assert routed == naive
    finally:
        lctx.drop_index("sqlv_idx")
        assert lctx.layouts.layout_for(spark.table("sqlv")) is None


def test_circle_covered_buckets_short_circuit(lctx, points_df):
    """Dist.furthest analog (ref: spatial/Dist.scala:24-34 via
    IndexedRelationScan.scala:169): a ball that swallows whole buckets
    must (a) produce the identical row set as the naive filter and
    (b) actually engage the covered route — at least one bucket fully
    inside the ball scans predicate-free."""
    from pyspark.sql import functions as F

    from simba_spark.operators.filters import circle_range

    lay = lctx.create_index(points_df, ["x", "y"], "cov_idx", kind="zorder",
                            num_partitions=16)
    try:
        # huge ball centered mid-domain: swallows interior buckets whole
        center, r = (500.0, 500.0), 450.0
        naive = circle_range(points_df, ["x", "y"], center, r)
        routed = lctx.circle_range(lay.data, ["x", "y"], center, r)
        assert _ids(routed) == _ids(naive)
        assert routed.columns == points_df.columns
        # the registry route itself must report covered buckets
        assert lctx.layouts.circle_scan(lay.data, ["x", "y"], center, r) is not None
        # a tiny ball covers no bucket -> falls back (None), still exact
        assert lctx.layouts.circle_scan(lay.data, ["x", "y"], (500.0, 500.0), 1.0) is None
        tiny_naive = circle_range(points_df, ["x", "y"], (500.0, 500.0), 30.0)
        tiny_routed = lctx.circle_range(lay.data, ["x", "y"], (500.0, 500.0), 30.0)
        assert _ids(tiny_routed) == _ids(tiny_naive)
    finally:
        lctx.drop_index("cov_idx")
