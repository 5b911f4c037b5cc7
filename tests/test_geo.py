"""Spherical operators: haversine vs known distances, bbox-prefilter
range (antimeridian + polar cases), banded-grid distance join vs
brute force."""

import math
import random

import pytest
from pyspark.sql import functions as F


def _pts(spark, rows, prefix="p"):
    return spark.createDataFrame(
        rows, f"{prefix}_id long, lat double, lon double")


def _hav(a, b):
    R = 6371.0088
    la1, lo1, la2, lo2 = map(math.radians, (a[0], a[1], b[0], b[1]))
    h = (math.sin((la2 - la1) / 2) ** 2
         + math.cos(la1) * math.cos(la2)
         * math.sin((lo2 - lo1) / 2) ** 2)
    return 2 * R * math.asin(min(1.0, math.sqrt(h)))


def test_haversine_known_distances(spark):
    from simba_spark.operators.geo import haversine_km

    df = spark.createDataFrame(
        [(48.8566, 2.3522, 51.5074, -0.1278)],  # Paris -> London
        "lat1 double, lon1 double, lat2 double, lon2 double")
    got = df.select(
        haversine_km(F.col("lat1"), F.col("lon1"),
                     F.col("lat2"), F.col("lon2")).alias("d")
    ).collect()[0]["d"]
    assert got == pytest.approx(343.5, abs=1.0)
    # antipodal clamp: no NaN
    df2 = spark.createDataFrame([(0.0, 0.0, 0.0, 180.0)],
                                "lat1 double, lon1 double, lat2 double, lon2 double")
    got2 = df2.select(haversine_km(F.col("lat1"), F.col("lon1"),
                                   F.col("lat2"), F.col("lon2"))
                      .alias("d")).collect()[0]["d"]
    assert got2 == pytest.approx(math.pi * 6371.0088, rel=1e-6)


def _random_points(n, seed, lat_range=(-85, 85)):
    rng = random.Random(seed)
    return [(i, rng.uniform(*lat_range), rng.uniform(-180, 180))
            for i in range(n)]


def test_geo_circle_range_matches_bruteforce(spark):
    from simba_spark.operators.geo import geo_circle_range

    pts = _random_points(400, 7)
    df = _pts(spark, pts)
    for center, r in (((40.0, -75.0), 500.0),
                      ((-60.0, 170.0), 800.0)):
        got = {x["p_id"] for x in
               geo_circle_range(df, "lat", "lon", center, r).collect()}
        want = {i for i, la, lo in pts if _hav((la, lo), center) <= r}
        assert got == want, (center, r)


def test_geo_circle_range_antimeridian_and_pole(spark):
    from simba_spark.operators.geo import geo_circle_range

    pts = [(1, 10.0, 179.5), (2, 10.0, -179.5), (3, 10.0, 170.0),
           (4, 89.5, 0.0), (5, 89.5, 179.0), (6, 88.0, -90.0)]
    df = _pts(spark, pts)
    # box crossing the antimeridian catches both sides
    got = {r["p_id"] for r in
           geo_circle_range(df, "lat", "lon", (10.0, 180.0),
                            150.0).collect()}
    assert got == {1, 2}
    # polar cap: every longitude near the pole qualifies
    got2 = {r["p_id"] for r in
            geo_circle_range(df, "lat", "lon", (90.0, 0.0),
                             120.0).collect()}
    assert got2 == {4, 5}


def test_geo_knn_deterministic(spark):
    from simba_spark.operators.geo import geo_knn

    pts = _random_points(300, 11)
    df = _pts(spark, pts)
    center = (48.0, 2.0)
    got = [r["p_id"] for r in
           geo_knn(df, "lat", "lon", center, 5,
                   tiebreak="p_id").collect()]
    want = [i for i, _, _ in sorted(
        pts, key=lambda p: (_hav((p[1], p[2]), center), p[0]))][:5]
    assert got == want
    plan = geo_knn(df, "lat", "lon", center, 5, tiebreak="p_id") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_geo_distance_join_matches_bruteforce(spark):
    from simba_spark.operators.geo import geo_distance_join

    lpts = _random_points(150, 3)
    rpts = _random_points(150, 4)
    ldf = _pts(spark, lpts, "l")
    rdf = _pts(spark, rpts, "r")
    for r_km in (300.0, 1500.0):
        got = {(x["l_id"], x["b_r_id"]) for x in
               geo_distance_join(ldf, rdf, r_km,
                                 lat_r="lat", lon_r="lon",
                                 right_prefix="b_").collect()}
        want = {(i, j)
                for i, la1, lo1 in lpts
                for j, la2, lo2 in rpts
                if _hav((la1, lo1), (la2, lo2)) <= r_km}
        assert got == want, r_km


def test_geo_distance_join_antimeridian_pairs(spark):
    from simba_spark.operators.geo import geo_distance_join

    ldf = _pts(spark, [(1, 0.0, 179.9)], "l")
    rdf = _pts(spark, [(2, 0.0, -179.9), (3, 0.0, 178.0)], "r")
    got = {(x["l_id"], x["b_r_id"]) for x in
           geo_distance_join(ldf, rdf, 50.0,
                             right_prefix="b_").collect()}
    assert got == {(1, 2)}  # 0.2 deg across the line ~ 22 km


def test_geo_distance_join_duplicate_rows_kept(spark):
    from simba_spark.operators.geo import geo_distance_join

    ldf = _pts(spark, [(1, 0.0, 0.0), (1, 0.0, 0.0)], "l")
    rdf = _pts(spark, [(9, 0.1, 0.1)], "r")
    got = geo_distance_join(ldf, rdf, 50.0,
                            right_prefix="b_").collect()
    assert len(got) == 2  # replication dedup must not eat row copies


def test_geo_distance_join_no_cartesian(spark):
    from simba_spark.operators.geo import geo_distance_join

    ldf = _pts(spark, _random_points(50, 5), "l")
    rdf = _pts(spark, _random_points(50, 6), "r")
    plan = geo_distance_join(ldf, rdf, 200.0, right_prefix="b_") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_geo_distance_join_high_lat_wide_lon_gap(spark):
    # ADVICE r6 repro: (80.5, 76.0) and (80.5, 166.0) are ~1490.5 km
    # apart (lon gap 90 deg); the planar band width under-covered it
    from simba_spark.operators.geo import geo_distance_join

    ldf = _pts(spark, [(1, 80.5, 76.0)], "l")
    rdf = _pts(spark, [(2, 80.5, 166.0)], "r")
    got = {(x["l_id"], x["b_r_id"]) for x in
           geo_distance_join(ldf, rdf, 1500.0,
                             right_prefix="b_").collect()}
    assert got == {(1, 2)}


def test_geo_distance_join_cap_extent_exceeds_same_lat_bound(spark):
    # the pair achieving the spherical-cap lon extent: right at the
    # band's top latitude, left at the cap tangent point (higher lat,
    # lon gap asin(sin d / cos phi) > 2 asin(sin(d/2)/cos phi))
    from simba_spark.operators.geo import geo_distance_join

    r_km, R = 1500.0, 6371.0088
    delta = r_km / R
    phi = 60.0
    lat_t = math.degrees(math.asin(math.sin(math.radians(phi))
                                   / math.cos(delta)))
    dlam = math.degrees(math.asin(math.sin(delta)
                                  / math.cos(math.radians(phi))))
    ldf = _pts(spark, [(1, lat_t, dlam * 0.999)], "l")
    rdf = _pts(spark, [(2, phi, 0.0)], "r")
    assert _hav((lat_t, dlam * 0.999), (phi, 0.0)) <= r_km
    got = {(x["l_id"], x["b_r_id"]) for x in
           geo_distance_join(ldf, rdf, r_km,
                             right_prefix="b_").collect()}
    assert got == {(1, 2)}


def test_geo_distance_join_seam_cells_uniform(spark):
    # ragged-seam regression: a lon gap <= bound straddling the
    # antimeridian must not fall 2 cells apart (ceil(360/w) used to
    # leave a last cell narrower than w)
    from simba_spark.operators.geo import geo_distance_join

    pairs = []
    for i, lon in enumerate((179.99, 179.5, 179.0, 178.5)):
        pairs.append((i, 10.0, lon))
    ldf = _pts(spark, pairs, "l")
    rdf = _pts(spark, [(100 + i, 10.0, -lon) for i, _, lon in pairs],
               "r")
    for r_km in (47.0, 113.0, 250.0, 333.0):
        got = {(x["l_id"], x["b_r_id"]) for x in
               geo_distance_join(ldf, rdf, r_km,
                                 right_prefix="b_").collect()}
        want = {(i, j) for i, la1, lo1 in pairs
                for j, la2, lo2 in
                [(100 + k, 10.0, -lo) for k, _, lo in pairs]
                if _hav((la1, lo1), (la2, lo2)) <= r_km}
        assert got == want, r_km


def test_geo_distance_join_dense_high_lat_bruteforce(spark):
    # polar-heavy draw, the regime the r6 bug lived in
    from simba_spark.operators.geo import geo_distance_join

    lpts = _random_points(120, 13, lat_range=(60, 90))
    rpts = _random_points(120, 14, lat_range=(60, 90))
    ldf = _pts(spark, lpts, "l")
    rdf = _pts(spark, rpts, "r")
    for r_km in (200.0, 1500.0, 4000.0):
        got = {(x["l_id"], x["b_r_id"]) for x in
               geo_distance_join(ldf, rdf, r_km,
                                 right_prefix="b_").collect()}
        want = {(i, j)
                for i, la1, lo1 in lpts
                for j, la2, lo2 in rpts
                if _hav((la1, lo1), (la2, lo2)) <= r_km}
        assert got == want, r_km


def _knn_want(lpts, rpts, k):
    want = set()
    for i, la1, lo1 in lpts:
        ranked = sorted(
            ((_hav((la1, lo1), (la2, lo2)), j) for j, la2, lo2 in rpts))
        want |= {(i, j) for _, j in ranked[:k]}
    return want


@pytest.mark.parametrize("algo", ["bounded", "theta", "broadcast",
                                  "cross"])
def test_geo_knn_join_matches_bruteforce(spark, algo):
    from simba_spark.operators.geo import geo_knn_join

    lpts = _random_points(120, 21)
    rpts = _random_points(150, 22)
    ldf = _pts(spark, lpts, "l")
    rdf = _pts(spark, rpts, "r")
    got = {(x["l_id"], x["b_r_id"]) for x in
           geo_knn_join(ldf, rdf, 3, left_id="l_id",
                        right_tiebreak="r_id", algo=algo,
                        right_prefix="b_").collect()}
    assert got == _knn_want(lpts, rpts, 3), algo


def test_geo_knn_join_high_lat_and_small_right(spark):
    from simba_spark.operators.geo import geo_knn_join

    # polar-heavy draw (the banded-grid stress regime)
    lpts = _random_points(80, 31, lat_range=(65, 90))
    rpts = _random_points(90, 32, lat_range=(65, 90))
    ldf = _pts(spark, lpts, "l")
    rdf = _pts(spark, rpts, "r")
    got = {(x["l_id"], x["b_r_id"]) for x in
           geo_knn_join(ldf, rdf, 5, left_id="l_id",
                        right_tiebreak="r_id", algo="theta",
                        right_prefix="b_").collect()}
    assert got == _knn_want(lpts, rpts, 5)
    # |right| < k: every left row gets all right rows, never errors
    rsmall = _pts(spark, rpts[:2], "r")
    got2 = geo_knn_join(ldf, rsmall, 5, left_id="l_id",
                        right_tiebreak="r_id", algo="theta",
                        right_prefix="b_").collect()
    assert len(got2) == len(lpts) * 2


def test_geo_knn_join_deterministic_ranks(spark):
    from simba_spark.operators.geo import geo_knn_join

    lpts = _random_points(40, 41)
    rpts = _random_points(60, 42)
    ldf = _pts(spark, lpts, "l").repartition(7)
    rdf = _pts(spark, rpts, "r").repartition(5)
    a = sorted((x["l_id"], x["b_r_id"], round(x["dist_km"], 9))
               for x in geo_knn_join(
                   ldf, rdf, 4, left_id="l_id", right_tiebreak="r_id",
                   right_prefix="b_").collect())
    b = sorted((x["l_id"], x["b_r_id"], round(x["dist_km"], 9))
               for x in geo_knn_join(
                   ldf.repartition(3), rdf.repartition(11), 4,
                   left_id="l_id", right_tiebreak="r_id",
                   right_prefix="b_").collect())
    assert a == b


def test_geo_cell_agg_totality_and_bounds(spark):
    import duckdb

    from simba_spark.operators.geo import geo_cell_agg, geo_cell_agg_sql

    pts = _random_points(500, 51, lat_range=(-85, 89.9))
    df = _pts(spark, pts)
    out = geo_cell_agg(df, "lat", "lon", 500.0).collect()
    # totality: every input row lands in exactly one cell
    assert sum(r["n"] for r in out) == len(pts)
    # bounds contain the cell's rows; lon cell width >= 0
    for r in out:
        assert r["lat_min"] < r["lat_max"]
        assert r["lon_min"] < r["lon_max"]
    # each point is inside its reported cell bounds
    cell_lookup = {(r["band"], r["cell"]):
                   (r["lat_min"], r["lat_max"], r["lon_min"], r["lon_max"])
                   for r in out}
    joined = geo_cell_agg(df, "lat", "lon", 500.0)
    # DuckDB mirror is bit-identical
    con = duckdb.connect()
    con.sql("CREATE TABLE p(p_id BIGINT, lat DOUBLE, lon DOUBLE)")
    con.executemany("INSERT INTO p VALUES (?, ?, ?)", pts)
    want = {(r[0], r[1]): r[2:] for r in con.sql(
        geo_cell_agg_sql("p", "lat", "lon", 500.0)).fetchall()}
    got = {(r["band"], r["cell"]):
           (r["lat_min"], r["lat_max"], r["lon_min"], r["lon_max"],
            r["n"]) for r in out}
    assert got == want


def test_geo_cell_agg_extra_aggs_and_validation(spark):
    from pyspark.sql import functions as F2

    from simba_spark.operators.geo import geo_cell_agg

    df = _pts(spark, [(1, 10.0, 20.0), (2, 10.0, 20.0), (3, -40.0, 5.0)])
    out = geo_cell_agg(df, "lat", "lon", 1000.0,
                       aggs=[F2.sum("p_id").alias("s")]).collect()
    assert {(r["n"], r["s"]) for r in out} == {(2, 3), (1, 3)}
    with pytest.raises(ValueError):
        geo_cell_agg(df, "lat", "lon", 0.0)


def test_st_geo_sql_functions_jvm_side_and_correct(spark):
    """st_haversine_km / st_within_geo inline as JVM expressions (no
    BatchEvalPython) and agree with the Column builder."""
    from simba_spark.functions import register_sql_functions
    from simba_spark.operators.geo import geo_circle_range

    register_sql_functions(spark)
    pts = _random_points(300, 61)
    df = _pts(spark, pts)
    df.createOrReplaceTempView("geo_pts")
    out = spark.sql(
        "SELECT p_id FROM geo_pts "
        "WHERE st_within_geo(lat, lon, 48.0D, 2.0D, 1500.0D) "
        "  AND st_haversine_km(lat, lon, 48.0D, 2.0D) >= 0D")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    got = {r["p_id"] for r in out.collect()}
    want = {r["p_id"] for r in geo_circle_range(
        df, "lat", "lon", (48.0, 2.0), 1500.0).collect()}
    assert got == want


def test_geo_circle_range_streams_stateless(spark, tmp_path):
    """geo_circle_range is a pure filter ⇒ valid on readStream with no
    state; batch-replay parity."""
    from simba_spark.operators.geo import geo_circle_range

    pts = _random_points(200, 71)
    df = _pts(spark, pts)
    d = str(tmp_path / "geo_stream")
    df.write.parquet(d)
    src = spark.readStream.schema(df.schema).parquet(d)
    out = geo_circle_range(src, "lat", "lon", (-30.0, 100.0), 2500.0)
    q = (out.writeStream.format("memory").queryName("geo_stream_out")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    got = {r["p_id"] for r in
           spark.sql("SELECT * FROM geo_stream_out").collect()}
    want = {r["p_id"] for r in
            geo_circle_range(df, "lat", "lon", (-30.0, 100.0),
                             2500.0).collect()}
    assert got == want


def test_geo_circle_range_prunes_persisted_zorder_layout(spark, tmp_path):
    """The spherical range's bbox prefilter routes through the layout
    registry: over a persisted (lat, lon) z-order layout the plan
    carries PartitionFilters on the bucket-directory column (files of
    pruned buckets never get tasks) AND the result equals the naive
    path."""
    from simba_spark.context import SimbaContext
    from simba_spark.operators.geo import geo_circle_range
    from simba_spark.plans.layouts import ZBCOL

    ctx = SimbaContext(spark)
    pts = _random_points(4000, 81)
    df = _pts(spark, pts)
    ctx.create_index(df, ["lat", "lon"], "geo_prune_idx", kind="zorder")
    try:
        ctx.persist_index("geo_prune_idx", str(tmp_path / "geo_idx"))
        lay = ctx.layouts.get("geo_prune_idx")
        out = geo_circle_range(lay.data, "lat", "lon", (40.0, -75.0),
                               500.0, registry=ctx.layouts)
        plan = out._jdf.queryExecution().executedPlan().toString()
        pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
        assert pf and ZBCOL in pf[0] and " IN " in pf[0], plan
        got = {r["p_id"] for r in out.collect()}
        want = {i for i, la, lo in pts
                if _hav((la, lo), (40.0, -75.0)) <= 500.0}
        assert got == want
        # wrap case unions two routed boxes and stays correct
        out2 = geo_circle_range(lay.data, "lat", "lon", (10.0, 179.5),
                                700.0, registry=ctx.layouts)
        got2 = {r["p_id"] for r in out2.collect()}
        want2 = {i for i, la, lo in pts
                 if _hav((la, lo), (10.0, 179.5)) <= 700.0}
        assert got2 == want2
    finally:
        ctx.drop_index("geo_prune_idx")


def test_band_width_bound_property_no_spark():
    """The no-miss invariant of the banded grid, pinned as pure math
    (hypothesis, no Spark): for ANY pair within r where the right
    point keys once in its band, the pair's lon gap fits within one
    cell width of that band (so ±1-cell replication always covers it),
    and their band indices differ by at most 1."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    R = 6371.0088
    KM_PER_DEG = R * math.pi / 180.0
    MAXLAT = 89.9

    def width_deg(band, r):
        # pure-python mirror of _band_width_deg
        dlat = r / KM_PER_DEG
        sin_delta = math.sin(min(r / R, math.pi))
        bmax = max(abs(band * dlat), abs((band + 1) * dlat))
        capped = min(bmax, MAXLAT)
        ratio = sin_delta / math.cos(math.radians(capped))
        if bmax >= MAXLAT or ratio >= 1.0:
            return 360.0
        return math.degrees(math.asin(min(ratio, 1.0)))

    def ncells(w):
        return max(int(360.0 // max(w, 1e-9)), 1)

    @settings(max_examples=3000, deadline=None)
    @given(
        lat1=st.floats(-89.99, 89.99), lon1=st.floats(-180, 180),
        lat2=st.floats(-89.99, 89.99), lon2=st.floats(-180, 180),
        r=st.floats(0.1, 6000.0),
    )
    def check(lat1, lon1, lat2, lon2, r):
        d = _hav((lat1, lon1), (lat2, lon2))
        if d > r:
            return
        dlat = r / KM_PER_DEG
        b1 = math.floor(lat1 / dlat)
        b2 = math.floor(lat2 / dlat)
        assert abs(b1 - b2) <= 1, (lat1, lat2, r)
        # right keys once in band b2; left replicates into b2's grid
        n = ncells(width_deg(b2, r))
        c1 = int((lon1 + 180.0) * n / 360.0) % n
        c2 = int((lon2 + 180.0) * n / 360.0) % n
        gap = min((c1 - c2) % n, (c2 - c1) % n)
        assert gap <= 1, (lat1, lon1, lat2, lon2, r, n, c1, c2)

    check()


def test_context_geo_methods(spark):
    from simba_spark.context import SimbaContext

    ctx = SimbaContext(spark)
    pts = _random_points(100, 95)
    df = _pts(spark, pts)
    got = {r["p_id"] for r in
           ctx.geo_circle_range(df, "lat", "lon", (0.0, 0.0),
                                3000.0).collect()}
    want = {i for i, la, lo in pts if _hav((la, lo), (0.0, 0.0)) <= 3000.0}
    assert got == want
    assert ctx.geo_knn(df, "lat", "lon", (0.0, 0.0), 5,
                       tiebreak="p_id").count() == 5
    l = _pts(spark, pts[:40], "l")
    rt = _pts(spark, [(100 + i, la, lo) for i, la, lo in pts[40:]], "r")
    assert ctx.geo_distance_join(
        l, rt, 2000.0, right_prefix="b_").count() > 0
    assert ctx.geo_knn_join(
        l, rt, 2, left_id="l_id", right_tiebreak="r_id",
        right_prefix="b_").count() == 80


def test_geo_knn_layout_routed_matches_bruteforce(spark, tmp_path):
    """Two-phase spherical kNN over a persisted (lat, lon) z-order
    layout equals brute force for centers incl. near-pole and
    near-antimeridian, and phase 2 scans a PRUNED file set."""
    from simba_spark.context import SimbaContext
    from simba_spark.operators.geo import geo_knn

    ctx = SimbaContext(spark)
    pts = _random_points(3000, 101, lat_range=(-89, 89))
    df = _pts(spark, pts)
    ctx.create_index(df, ["lat", "lon"], "geo_knn_idx", kind="zorder")
    try:
        ctx.persist_index("geo_knn_idx", str(tmp_path / "geo_knn_idx"))
        lay = ctx.layouts.get("geo_knn_idx")
        for center in ((48.0, 2.0), (85.0, 10.0), (5.0, 179.8),
                       (-88.5, -120.0)):
            out = ctx.geo_knn(lay.data, "lat", "lon", center, 7,
                              tiebreak="p_id")
            got = [r["p_id"] for r in out.collect()]
            want = [i for i, _, _ in sorted(
                pts, key=lambda p: (_hav((p[1], p[2]), center),
                                    p[0]))][:7]
            assert got == want, center
            # every column, dist_km included, equals the unrouted read
            assert out.collect() == geo_knn(
                df, "lat", "lon", center, 7, tiebreak="p_id").collect()
    finally:
        ctx.drop_index("geo_knn_idx")


def test_geo_knn_layout_null_coords_fall_back_exact(spark, tmp_path):
    """Null coordinates inside the phase-1 buckets must not silently
    shrink θ — the layout path falls back to an exact scan when phase 1
    comes up short of k usable distances."""
    from simba_spark.context import SimbaContext

    ctx = SimbaContext(spark)
    pts = _random_points(60, 111)
    rows = [(i, la, lo) for i, la, lo in pts]
    rows += [(1000 + j, None, None) for j in range(40)]
    df = spark.createDataFrame(rows, "p_id long, lat double, lon double")
    ctx.create_index(df, ["lat", "lon"], "geo_null_idx", kind="zorder")
    try:
        out = ctx.geo_knn(ctx.layouts.get("geo_null_idx").data,
                          "lat", "lon", (0.0, 0.0), 50,
                          tiebreak="p_id")
        got = [r["p_id"] for r in out.collect()]
        want = [i for i, _, _ in sorted(
            pts, key=lambda p: (_hav((p[1], p[2]), (0.0, 0.0)),
                                p[0]))][:50]
        assert got == want
    finally:
        ctx.drop_index("geo_null_idx")
