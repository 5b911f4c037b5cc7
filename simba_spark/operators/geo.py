"""Spherical (lat/lon) spatial operators — haversine range, kNN, and
distance join.

The reference engine's predicates are Euclidean
(ref: src/main/scala/org/apache/spark/sql/simba/spatial/Point.scala —
minDist is L2); real-world location columns are WGS-84 degrees, where
L2 over (lat, lon) distorts with latitude and breaks at the antimeridian.
This module is the spherical counterpart of `operators/filters.py` /
`operators/distance_join.py`: the same plan shapes (sargable
prefilter → exact refine; grid-cell equi-join → exact refine), with
great-circle arithmetic.

Scale design mirrors the Euclidean family:
- `geo_circle_range`: a SARGABLE bounding-box prefilter (lat between,
  lon between — pushed to Parquet row groups) guards the exact
  haversine refine; the box handles antimeridian wrap (two lon ranges)
  and polar caps (lon filter dropped) instead of silently missing
  rows.
- `geo_knn`: exact global top-k by haversine — TakeOrderedAndProject,
  k rows to the driver.
- `geo_distance_join`: latitude-banded grid blocking. Bands are
  `radius`-tall; within band b the lon cell width is derived FROM THE
  BAND INDEX (at the band's max |lat|, clamped at 89.9°), so both
  sides compute identical equi-join keys without agreeing on a global
  width that near-polar data would blow up. The left side replicates
  to its 3×3 cell neighborhood (wrap via modulo); the right side
  keys each row once, so every candidate pair is emitted exactly once
  — one equi-join + exact haversine refine, no cartesian anywhere.

All arithmetic is plain Column math (radians/sin/cos/asin/sqrt) —
codegen'd, engine-portable, mirrored term-for-term by the SQL
oracles.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .filters import _local_answer, _phase1_rows, range_query

EARTH_RADIUS_KM = 6371.0088
#: km per degree of latitude (and of longitude at the equator)
_KM_PER_DEG = EARTH_RADIUS_KM * math.pi / 180.0
#: cos() guard: bands touching the pole get one single cell
_MAX_BAND_LAT = 89.9


def haversine_km(lat1, lon1, lat2, lon2):
    """Great-circle distance in km between two (lat, lon) degree
    pairs — 2R·asin(min(1, √(sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2)))).
    Pure Column arithmetic; the min() clamps float drift past the
    asin domain on antipodal pairs."""
    la1, lo1 = F.radians(lat1), F.radians(lon1)
    la2, lo2 = F.radians(lat2), F.radians(lon2)
    sdla = F.sin((la2 - la1) / 2)
    sdlo = F.sin((lo2 - lo1) / 2)
    h = sdla * sdla + F.cos(la1) * F.cos(la2) * sdlo * sdlo
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(
        F.least(F.lit(1.0), F.sqrt(h)))


def haversine_km_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """DuckDB mirror of :func:`haversine_km`, term-for-term."""
    return (
        f"2.0 * {EARTH_RADIUS_KM!r} * asin(least(1.0::DOUBLE, sqrt("
        f"sin((radians({lat2}) - radians({lat1})) / 2)"
        f" * sin((radians({lat2}) - radians({lat1})) / 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * sin((radians({lon2}) - radians({lon1})) / 2)"
        f" * sin((radians({lon2}) - radians({lon1})) / 2))))"
    )


def geo_circle_range(
    df: DataFrame,
    lat_col: str,
    lon_col: str,
    center: Tuple[float, float],
    radius_km: float,
    registry=None,
) -> DataFrame:
    """All rows within ``radius_km`` of ``center`` (closed bound, like
    ``in_circle_range``). Sargable bbox prefilter + exact refine;
    antimeridian wrap becomes two lon ranges, a polar-cap box drops
    the lon filter (every longitude qualifies near the pole).

    With ``registry`` (a ``LayoutRegistry``), each bbox routes through
    the layout-aware :func:`operators.filters.range_query` — a
    persisted (lat, lon) z-order layout then prunes bucket DIRECTORIES
    at planning time (PartitionFilters) on top of the row-group
    min/max skipping the raw predicate already gets."""
    clat, clon = float(center[0]), float(center[1])
    r = float(radius_km)
    if r < 0:
        raise ValueError("radius_km must be >= 0")
    dlat = r / _KM_PER_DEG
    lat = F.col(lat_col).cast("double")
    lon = F.col(lon_col).cast("double")
    lat_lo, lat_hi = clat - dlat, clat + dlat
    # (lon_lo, lon_hi) boxes; None = the full circle of longitudes
    boxes = [(-180.0, 180.0)]
    if abs(clat) + dlat < _MAX_BAND_LAT:
        dlon = r / (_KM_PER_DEG *
                    math.cos(math.radians(min(abs(clat) + dlat,
                                              _MAX_BAND_LAT))))
        lo, hi = clon - dlon, clon + dlon
        if dlon < 180.0:
            if lo < -180.0:
                boxes = [(lo + 360.0, 180.0), (-180.0, hi)]
            elif hi > 180.0:
                boxes = [(lo, 180.0), (-180.0, hi - 360.0)]
            else:
                boxes = [(lo, hi)]
    dist = haversine_km(lat, lon, F.lit(clat), F.lit(clon))
    if registry is not None:
        parts = [
            range_query(df, [lat_col, lon_col], (lat_lo, blo),
                        (lat_hi, bhi), registry=registry)
            for blo, bhi in boxes
        ]
        pre_df = parts[0]
        for p in parts[1:]:
            pre_df = pre_df.unionByName(p)
        return pre_df.filter(dist <= r)
    pre = lat.between(lat_lo, lat_hi)
    if boxes != [(-180.0, 180.0)]:
        cond = None
        for blo, bhi in boxes:
            c = lon.between(blo, bhi)
            cond = c if cond is None else (cond | c)
        pre = pre & cond
    return df.filter(pre & (dist <= r))


def geo_knn(
    df: DataFrame,
    lat_col: str,
    lon_col: str,
    center: Tuple[float, float],
    k: int,
    tiebreak: Optional[str] = None,
    out_col: str = "dist_km",
    registry=None,
) -> DataFrame:
    """Exact k nearest rows to ``center`` by great-circle distance —
    TakeOrderedAndProject (k rows cross the wire), deterministic with
    a ``tiebreak`` column.

    With ``registry`` and a registered (lat, lon) z-order layout, the
    two-phase bound-and-prune of the Euclidean indexed kNN runs
    instead (same shape as filters._knn_via_layout, spherical
    metric): phase 1 answers kNN over the smallest bucket prefix (by
    a spherical lower bound on box distance) holding >= k rows; its
    kth haversine distance θ prunes the final scan to the z-cover of
    the θ-ball's lat/lon box (antimeridian wrap = union of two
    covers, polar cap = full-lon box). Only k rows reach the driver,
    via Arrow, in one job when phase 1 is final; pruned buckets cost
    no I/O."""
    clat, clon = float(center[0]), float(center[1])
    lay = registry.layout_for(df) if registry is not None else None
    if (
        lay is not None
        and lay.kind == "zorder"
        and [lat_col, lon_col] == lay.cols
        and lay.bounds
        and lay.bits > 0
    ):
        return _geo_knn_via_layout(lay, lat_col, lon_col,
                                   (clat, clon), k, tiebreak, out_col)
    return _geo_knn_scan(df, lat_col, lon_col, (clat, clon), k,
                         tiebreak, out_col)


def _geo_knn_scan(df, lat_col, lon_col, center, k, tiebreak, out_col):
    clat, clon = center
    d = haversine_km(F.col(lat_col).cast("double"),
                     F.col(lon_col).cast("double"),
                     F.lit(clat), F.lit(clon))
    order = [F.col(out_col).asc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    return (
        df.withColumn(out_col, d)
        .filter(F.col(out_col).isNotNull())
        .orderBy(*order).limit(int(k))
    )


def _geo_bounds_min_km(bounds_row, q):
    """Driver-side LOWER bound (km) on great-circle distance from q to
    a bucket's (lat, lon) bounds box — 0 if q is inside. Two safe
    bounds, take the max: d >= R·|Δφ| (latitude gap alone), and
    d >= 2R·asin(cos(φ_max)·sin(Δλ/2)) from the haversine with the
    smallest cos over the box's and q's latitudes (underestimates,
    never over). Used only to ORDER/prune buckets — correctness of the
    final answer never depends on it."""
    lo0, hi0 = bounds_row.get("min_0"), bounds_row.get("max_0")
    lo1, hi1 = bounds_row.get("min_1"), bounds_row.get("max_1")
    if lo0 is None or hi0 is None or lo1 is None or hi1 is None:
        return float("inf")
    qlat, qlon = q
    dlat = max(float(lo0) - qlat, 0.0, qlat - float(hi0))
    d_lat = _KM_PER_DEG * dlat
    # min lon gap to the box, across the wrap
    if float(lo1) <= qlon <= float(hi1):
        dlon = 0.0
    else:
        gaps = []
        for edge in (float(lo1), float(hi1)):
            g = abs(qlon - edge) % 360.0
            gaps.append(min(g, 360.0 - g))
        dlon = min(gaps)
    max_abs_lat = max(abs(float(lo0)), abs(float(hi0)), abs(qlat))
    cos_min = math.cos(math.radians(min(max_abs_lat, 90.0)))
    d_lon = 2.0 * EARTH_RADIUS_KM * math.asin(
        max(0.0, min(1.0, cos_min * math.sin(math.radians(dlon) / 2))))
    return max(d_lat, d_lon)


def _geo_ball_boxes(center, radius_km):
    """The θ-ball's sargable lat/lon boxes (shared rule with
    geo_circle_range): [(lat_lo, lat_hi, lon_lo, lon_hi), ...] —
    two boxes across the antimeridian, full-lon box near a pole."""
    clat, clon = center
    r = float(radius_km)
    dlat = r / _KM_PER_DEG
    lat_lo, lat_hi = clat - dlat, clat + dlat
    boxes = [(-180.0, 180.0)]
    if abs(clat) + dlat < _MAX_BAND_LAT:
        dlon = r / (_KM_PER_DEG *
                    math.cos(math.radians(min(abs(clat) + dlat,
                                              _MAX_BAND_LAT))))
        lo, hi = clon - dlon, clon + dlon
        if dlon < 180.0:
            if lo < -180.0:
                boxes = [(lo + 360.0, 180.0), (-180.0, hi)]
            elif hi > 180.0:
                boxes = [(lo, 180.0), (-180.0, hi - 360.0)]
            else:
                boxes = [(lo, hi)]
    return [(lat_lo, lat_hi, blo, bhi) for blo, bhi in boxes]


def _geo_knn_via_layout(lay, lat_col, lon_col, center, k, tiebreak,
                        out_col):
    """Two-phase spherical bound-and-prune over a (lat, lon) z-order
    layout — the geo mirror of filters._knn_via_layout (ref:
    IndexedRelationScan.scala:117-151, spherical metric), sharing its
    phase-1 fetch: one job when phase 1 is final."""
    k = int(k)
    q = center
    ranked = sorted(lay.bounds, key=lambda b: _geo_bounds_min_km(b, q))
    sel, acc = [], 0
    for b in ranked:
        sel.append(b)
        acc += int(b["count"])
        if acc >= k:
            break
    if acc < k or len(sel) == len(ranked):
        return _geo_knn_scan(lay.pruned_scan(None), lat_col, lon_col,
                             q, k, tiebreak, out_col)
    sel_zbs = {int(b["zb"]) for b in sel}
    phase1 = _geo_knn_scan(
        lay.pruned_scan(lay.z_ranges_for_buckets(sorted(sel_zbs))),
        lat_col, lon_col, q, k, tiebreak, out_col)
    rows, theta = _phase1_rows(phase1, out_col, k)
    if theta is None:
        return _geo_knn_scan(lay.pruned_scan(None), lat_col, lon_col,
                             q, k, tiebreak, out_col)

    others_reach = any(
        _geo_bounds_min_km(b, q) <= theta
        for b in ranked
        if int(b["zb"]) not in sel_zbs
    )
    if not others_reach:
        return _local_answer(phase1, rows)
    ranges = []
    for lat_lo, lat_hi, lon_lo, lon_hi in _geo_ball_boxes(q, theta):
        rs = lay.z_ranges_for_box([lat_lo, lon_lo], [lat_hi, lon_hi])
        if rs is None:
            # a θ-ball box spanning the whole domain prunes nothing
            ranges = None
            break
        ranges.extend(rs)
    return _geo_knn_scan(lay.pruned_scan(ranges), lat_col, lon_col,
                         q, k, tiebreak, out_col)


def _band_width_deg(band, radius_km: float):
    """Lon cell width (degrees) for a lat band, derived from the BAND
    INDEX so both join sides compute identical keys.

    The width must bound the longitude separation of ANY pair within
    ``radius_km`` whose single-keyed endpoint lies in the band. That
    bound is the spherical-cap longitude extent: a cap of angular
    radius δ = r/R centered at latitude φ spans Δλ = asin(sin δ /
    cos φ) to either side (standard bounding-box result; it EXCEEDS
    the planar r/(km_per_deg·cos φ) and the same-latitude
    2·asin(sin(δ/2)/cos φ), both of which drop qualifying pairs at
    high latitude). Evaluated at the band's max |lat| (smallest cos
    in the band → largest extent). When sin δ / cos φ ≥ 1 the cap
    wraps every longitude (it can contain the pole), so the band
    collapses to one 360° cell — same for bands past _MAX_BAND_LAT.
    """
    dlat = radius_km / _KM_PER_DEG
    sin_delta = math.sin(min(radius_km / EARTH_RADIUS_KM, math.pi))
    band_max_abs = F.greatest(
        F.abs(band.cast("double") * dlat),
        F.abs((band.cast("double") + 1) * dlat),
    )
    capped = F.least(band_max_abs, F.lit(_MAX_BAND_LAT))
    ratio = F.lit(sin_delta) / F.cos(F.radians(capped))
    w = F.degrees(F.asin(F.least(ratio, F.lit(1.0))))
    return F.when((band_max_abs >= _MAX_BAND_LAT) | (ratio >= 1.0),
                  F.lit(360.0)).otherwise(w)


def _geo_ncells(w):
    """UNIFORM cells, each 360/ncell >= w wide: floor (not ceil) keeps
    every cell at least w wide, so a lon gap <= w is always <= 1 cell
    apart — ceil left a ragged final cell narrower than w at the
    antimeridian seam, where a <= w gap could straddle 2 cell
    boundaries and escape +/-1 replication."""
    return F.greatest(
        F.floor(F.lit(360.0) / F.greatest(w, F.lit(1e-9))),
        F.lit(1)).cast("long")


def _geo_cell_of(lon, ncell):
    # lon=180 lands on cell index ncell -> mod wraps it to 0,
    # the same cell as lon=-180
    return (F.floor((lon + F.lit(180.0))
                    * ncell.cast("double") / F.lit(360.0))
            .cast("long") % ncell)


def _geo_keyed(df, lat_c: str, lon_c: str, radius_km: float,
               replicate: bool):
    """Attach the banded-grid (__gb, __gc) join key. ``replicate``
    emits the 3x3 (band, cell) neighborhood as TWO small explodes —
    bands first (always 3 distinct), then the array_distinct'd
    lon-neighbor cells of THAT band (a 1-cell polar band collapses its
    three lon-neighbors to one entry without touching row multiplicity;
    a row-level dropDuplicates would eat legitimately duplicated input
    rows). Two explodes keep each projection's expression tree small —
    inlining all 9 (band, cell) structs into one array expression
    overflows janino's 64KB method limit and knocks the whole stage
    out of codegen."""
    r = float(radius_km)
    dlat = r / _KM_PER_DEG
    lat = F.col(lat_c).cast("double")
    lon = F.col(lon_c).cast("double")
    band = F.floor(lat / F.lit(dlat)).cast("long")
    if not replicate:
        ncell = _geo_ncells(_band_width_deg(band, r))
        return df.withColumn("__gb", band) \
                 .withColumn("__gc", _geo_cell_of(lon, ncell))
    out = df.withColumn(
        "__gb", F.explode(F.array(band - 1, band, band + 1)))
    b = F.col("__gb")
    ncell = _geo_ncells(_band_width_deg(b, r))
    cell = _geo_cell_of(lon, ncell)
    cells = F.array_distinct(F.array(
        *[((cell + dc) % ncell + ncell) % ncell
          for dc in (-1, 0, 1)]))
    return out.withColumn("__gc", F.explode(cells))


def geo_distance_join(
    left: DataFrame,
    right: DataFrame,
    radius_km: float,
    lat_l: str = "lat",
    lon_l: str = "lon",
    lat_r: str = "lat",
    lon_r: str = "lon",
    left_prefix: str = "",
    right_prefix: str = "",
    out_col: str = "dist_km",
) -> DataFrame:
    """All (left, right) pairs within ``radius_km`` great-circle km
    (closed bound). Latitude-banded grid equi-join + exact refine —
    the spherical `DJSpark` analog
    (ref: src/main/scala/org/apache/spark/sql/simba/execution/join/DJSpark.scala:44-100,
    same partition-join-refine shape, spherical metric).

    The left row replicates to its 3×3 (band, lon-cell) neighborhood
    (9 skinny rows; lon cells wrap via modulo so the antimeridian
    needs no special casing); the right row is keyed ONCE, so each
    qualifying pair appears exactly once. Lon cell width varies per
    band (computed from the band index at the band's max |lat|) —
    thin cells at the equator, one full-circle cell at the poles —
    so the key space stays balanced without a data-dependent global
    constant. One shuffle on (band, cell), AQE handles residual skew.
    """
    from .distance_join import _prefix_columns

    r = float(radius_km)
    if r < 0:
        raise ValueError("radius_km must be >= 0")
    left = _prefix_columns(left, left_prefix)
    right = _prefix_columns(right, right_prefix)
    lat_l, lon_l = left_prefix + lat_l, left_prefix + lon_l
    lat_r, lon_r = right_prefix + lat_r, right_prefix + lon_r
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(
            f"geo_distance_join: overlapping output columns {sorted(overlap)}"
            " — disambiguate with left_prefix/right_prefix")
    dlat = r / _KM_PER_DEG

    # size-guarded parallelism (round-11 opt): small inputs arrive in
    # one parquet split, putting the replicate-explode AND the per-pair
    # haversine refine on ONE core; big inputs skip the exchange
    from ..functions import parallelize_small

    lk = _geo_keyed(parallelize_small(left), lat_l, lon_l, r,
                    replicate=True)
    rk = _geo_keyed(parallelize_small(right), lat_r, lon_r, r,
                    replicate=False)
    joined = lk.join(rk, on=["__gb", "__gc"])
    dist = haversine_km(
        F.col(lat_l).cast("double"), F.col(lon_l).cast("double"),
        F.col(lat_r).cast("double"), F.col(lon_r).cast("double"))
    return (
        joined.withColumn(out_col, dist)
        .filter(F.col(out_col) <= r)
        .drop("__gb", "__gc")
    )


def _geo_estimate_theta(left_sample, right_sample, k: int,
                        margin: float) -> float:
    """Driver-side: high quantile of kth-NN great-circle distance from
    left-sample points to the right sample (numpy haversine over small
    samples; blockwise like knn_join._estimate_theta)."""
    import numpy as np

    if len(left_sample) == 0 or len(right_sample) == 0:
        return float("inf")
    L = np.radians(np.asarray(left_sample, dtype="float64"))
    R = np.radians(np.asarray(right_sample, dtype="float64"))
    kk = min(k, len(R))
    # chord trick: on 3-D unit vectors, chord² = 2 − 2·cos(angle) is
    # MONOTONE in the great-circle angle, so the kth-NN selection over
    # chord² equals the selection over haversine km — the pairwise
    # pass becomes one BLAS matmul per block with ZERO per-element
    # trig (a 2000×20000 elementwise-sin pass measured seconds on
    # page-fault-bound hosts; the matmul form is milliseconds), and
    # only the |L| kept kth values convert to km via asin
    def unit3(A):
        clat = np.cos(A[:, 0])
        return np.column_stack(
            (clat * np.cos(A[:, 1]), clat * np.sin(A[:, 1]),
             np.sin(A[:, 0])))

    U, V = unit3(L), unit3(R)
    qs = []
    # ~1 MB matmul outputs: fresh multi-MB numpy temporaries are
    # mmap'd, munmap'd, and re-faulted EVERY call on ballooned hosts
    # (an 8 MB-block variant measured 22 s warm; ~1 MB blocks run the
    # same math in under 0.1 s)
    B = max(1, (1 << 17) // max(1, len(V)))
    for i in range(0, len(U), B):
        # einsum, not @: BLAS fans a skinny (B×3)·(3×N) matmul out to
        # every core and the thread sync dwarfs the flops (measured
        # 3-8 s vs 0.9 s single-threaded einsum for the same pass)
        dot = np.einsum("bd,rd->br", U[i: i + B], V)
        kth = -np.partition(-dot, kk - 1, axis=1)[:, kk - 1]
        qs.append(kth)
    kth_cos = np.clip(np.concatenate(qs), -1.0, 1.0)
    # kth great-circle distance per left point: angle via the chord
    # asin form (accurate near 0, unlike arccos)
    kth_km = 2.0 * EARTH_RADIUS_KM * np.arcsin(
        np.sqrt(np.maximum(0.0, (1.0 - kth_cos) / 2.0)))
    theta = float(np.quantile(kth_km, 0.95) * margin)
    return min(theta, math.pi * EARTH_RADIUS_KM)


def _geo_bounded_round(lp, rp, theta, k, lid, lat_l, lon_l, lat_r,
                       lon_r, rtb, out_col):
    """One θ-bounded candidate round over the banded grid
    (:func:`geo_distance_join`), per-left top-k window with the
    candidate count riding along; split into exact rows (>= k
    candidates — their true kth-NN dist <= θ and the grid is
    exhaustive within θ) and deficient ids. Skinny key-only frames
    when a unique right key exists, same as knn_join._bounded_round."""
    skinny = rtb is not None
    if skinny:
        lj = lp.select(*dict.fromkeys([lid, lat_l, lon_l]))
        rj = rp.select(*dict.fromkeys([rtb, lat_r, lon_r]))
    else:
        lj, rj = lp, rp
    cand = geo_distance_join(
        lj, rj, theta, lat_l=lat_l, lon_l=lon_l, lat_r=lat_r,
        lon_r=lon_r, out_col=out_col)
    order = [F.col(out_col).asc()] + ([F.col(rtb).asc()] if rtb else [])
    from pyspark.sql import Window

    w = Window.partitionBy(lid).orderBy(*order)
    wall = Window.partitionBy(lid)
    ranked = (
        cand.withColumn("__rn", F.row_number().over(w))
        .withColumn("__cnt", F.count(F.lit(1)).over(wall))
        .filter(F.col("__rn") <= int(k))
    )
    if skinny:
        ranked = ranked.select(lid, rtb, out_col, "__cnt")
    ranked = ranked.localCheckpoint(eager=True)
    ok = ranked.filter(F.col("__cnt") >= k).drop("__rn", "__cnt")
    if skinny:
        ok = (
            ok.join(lp, on=lid, how="inner")
            .join(rp, on=rtb, how="inner")
            .select(*lp.columns, *rp.columns, out_col)
        )
    ok_ids = ranked.filter(F.col("__cnt") >= k).select(lid).distinct()
    retry_ids = lp.select(lid).join(ok_ids, on=lid, how="left_anti")
    return ok, retry_ids


def geo_knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    lat_l: str = "lat",
    lon_l: str = "lon",
    lat_r: str = "lat",
    lon_r: str = "lon",
    left_id: str = None,
    algo: Optional[str] = None,
    left_prefix: str = "",
    right_prefix: str = "",
    right_tiebreak: Optional[str] = None,
    sample_cap: int = 20000,
    seed: int = 42,
    theta_margin: float = 1.25,
    cross_warn_rows: int = 100_000,
    out_col: str = "dist_km",
) -> DataFrame:
    """For each left row, exactly-k nearest right rows by great-circle
    distance — the spherical RKJSpark analog (ref:
    src/main/scala/org/apache/spark/sql/simba/execution/join/RKJSpark.scala:105-141,
    same θ-bound no-false-dismissal shape, spherical metric).

    Program (mirrors operators.knn_join):
    - θ from driver-side hash samples (kth-NN haversine quantile ×
      margin; exactness never depends on θ, only performance does);
    - one banded-grid candidate round at θ: a left row with >= k
      candidates within θ has its exact answer (grid is exhaustive
      within θ);
    - deficient rows escalate (θ×4 grid retry, then a bounded cross);
    - a broadcast-small right side routes to BNL + in-place window,
      zero pair shuffle.

    ``right_tiebreak`` must be a UNIQUE right key (as in
    :func:`.knn_join.knn_join`): it both makes tie order deterministic
    and enables the skinny-frame optimization, whose wide-payload
    join-back joins on it — a non-unique tiebreak would multiply
    result rows there.
    """
    from .knn_join import (_bnl_pairs_ok, _broadcast_cap, _hash_sample,
                           _plan_bytes, _spread, _topk)
    from .distance_join import _prefix_columns, _session_algo

    if left_id is None:
        raise ValueError("geo_knn_join requires left_id (unique left key)")
    k = int(k)
    if algo is None:
        algo = _session_algo(left, "simba_spark.join.geoKnnJoin",
                             "bounded")
    lp = _prefix_columns(left, left_prefix)
    rp = _prefix_columns(right, right_prefix)
    lid = left_prefix + left_id
    lat_l, lon_l = left_prefix + lat_l, left_prefix + lon_l
    lat_r, lon_r = right_prefix + lat_r, right_prefix + lon_r
    overlap = set(lp.columns) & set(rp.columns)
    if overlap:
        raise ValueError(
            f"geo_knn_join: overlapping output columns {sorted(overlap)}"
            " — disambiguate with left_prefix/right_prefix")
    rtb = right_prefix + right_tiebreak if right_tiebreak else None
    dist = haversine_km(
        F.col(lat_l).cast("double"), F.col(lon_l).cast("double"),
        F.col(lat_r).cast("double"), F.col(lon_r).cast("double"))

    if algo == "cross":
        pairs = _spread(lp).crossJoin(rp).withColumn(out_col, dist)
        return _topk(pairs, lid, k, F.col(out_col), rtb)
    if algo == "bounded" and _plan_bytes(rp) <= _broadcast_cap(rp) \
            and _bnl_pairs_ok(lp, rp):
        algo = "broadcast"
    if algo == "broadcast":
        n = int(lp.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"))
        pairs = (
            lp.repartition(n, F.col(lid))
            .crossJoin(F.broadcast(rp))
            .withColumn(out_col, dist)
        )
        return _topk(pairs, lid, k, F.col(out_col), rtb)
    if algo not in ("bounded", "theta"):
        raise ValueError(f"unknown geo-knn-join algo: {algo}")

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        rs_f = pool.submit(_hash_sample, rp, [lat_r, lon_r],
                           sample_cap, seed)
        # 512 left probes: the 95th-quantile kth-NN estimate is stable
        # to ~2% at this size, well inside theta_margin — and the
        # driver-side pairwise pass scales linearly in it
        ls_f = pool.submit(_hash_sample, lp, [lat_l, lon_l],
                           512, seed + 1)
        rs, ls = rs_f.result(), ls_f.result()
    theta = _geo_estimate_theta(ls, rs, k, margin=theta_margin)
    if not math.isfinite(theta):
        pairs = _spread(lp).crossJoin(rp).withColumn(out_col, dist)
        return _topk(pairs, lid, k, F.col(out_col), rtb)

    ok1, retry_ids = _geo_bounded_round(
        lp, rp, theta, k, lid, lat_l, lon_l, lat_r, lon_r, rtb, out_col)
    small_cap = 1024
    head = retry_ids.take(small_cap + 1)
    if len(head) == 0:
        return ok1
    if len(head) <= small_cap:
        ids = [r[0] for r in head]
        lp2 = lp.filter(F.col(lid).isin(ids))
        retry_pairs = _spread(lp2).crossJoin(rp) \
            .withColumn(out_col, dist)
        retry_topk = _topk(retry_pairs, lid, k, F.col(out_col), rtb)
        return ok1.unionByName(retry_topk)

    lp_retry = lp.join(retry_ids, on=lid, how="left_semi")
    ok2, retry2_ids = _geo_bounded_round(
        lp_retry, rp, min(theta * 4.0, math.pi * EARTH_RADIUS_KM), k,
        lid, lat_l, lon_l, lat_r, lon_r, rtb, out_col)
    n_retry2 = retry2_ids.count()
    result = ok1.unionByName(ok2)
    if n_retry2 == 0:
        return result
    if n_retry2 > cross_warn_rows:
        import warnings

        warnings.warn(
            f"geo_knn_join: {n_retry2} left rows still deficient after "
            f"θ×4 retry — falling back to a {n_retry2}×|right| cross "
            "join; consider a larger sample_cap/theta_margin",
            RuntimeWarning,
        )
    lp2 = lp.join(retry2_ids, on=lid, how="left_semi")
    retry_pairs = _spread(lp2).crossJoin(rp).withColumn(out_col, dist)
    retry_topk = _topk(retry_pairs, lid, k, F.col(out_col), rtb)
    return result.unionByName(retry_topk)


def _band_width_deg_sql(band_expr: str, radius_km: float) -> str:
    """DuckDB mirror of :func:`_band_width_deg`, term-for-term."""
    dlat = radius_km / _KM_PER_DEG
    sin_delta = math.sin(min(radius_km / EARTH_RADIUS_KM, math.pi))
    bmax = (f"greatest(abs(CAST({band_expr} AS DOUBLE) * {dlat!r}), "
            f"abs((CAST({band_expr} AS DOUBLE) + 1) * {dlat!r}))")
    ratio = f"({sin_delta!r} / cos(radians(least({bmax}, {_MAX_BAND_LAT!r}))))"
    w = f"degrees(asin(least({ratio}, 1.0::DOUBLE)))"
    return (f"(CASE WHEN {bmax} >= {_MAX_BAND_LAT!r} OR {ratio} >= 1.0 "
            f"THEN 360.0::DOUBLE ELSE {w} END)")


def geo_cell_agg(
    df: DataFrame,
    lat_col: str,
    lon_col: str,
    cell_km: float,
    aggs: Optional[Sequence] = None,
) -> DataFrame:
    """Spatial rollup over the banded grid: one row per occupied
    (lat-band, lon-cell) at ``cell_km`` resolution with its row count,
    cell bounds, and any caller aggregate Columns — the heatmap /
    density-summary primitive (and the profiling input for choosing a
    geo_distance_join radius).

    Uses the SAME banded grid as :func:`geo_distance_join` (bands
    ``cell_km`` tall; per-band uniform lon cells at the spherical-cap
    extent), so a cell-agg profile directly predicts that join's key
    distribution. ONE combine-friendly groupBy on (band, cell) —
    nothing but one skinny row per occupied cell leaves any partition;
    bounds are arithmetic on the keys, computed post-aggregate.
    """
    r = float(cell_km)
    if r <= 0:
        raise ValueError("cell_km must be > 0")
    dlat = r / _KM_PER_DEG
    lat = F.col(lat_col).cast("double")
    lon = F.col(lon_col).cast("double")
    band = F.floor(lat / F.lit(dlat)).cast("long")
    ncell = F.greatest(
        F.floor(F.lit(360.0)
                / F.greatest(_band_width_deg(band, r), F.lit(1e-9))),
        F.lit(1)).cast("long")
    cell = (F.floor((lon + F.lit(180.0))
                    * ncell.cast("double") / F.lit(360.0))
            .cast("long") % ncell)
    out = (
        df.filter(lat.isNotNull() & lon.isNotNull())
        .groupBy(band.alias("band"), cell.alias("cell"))
        .agg(F.count(F.lit(1)).alias("n"), *(aggs or []))
    )
    nc2 = F.greatest(
        F.floor(F.lit(360.0)
                / F.greatest(_band_width_deg(F.col("band"), r),
                             F.lit(1e-9))),
        F.lit(1)).cast("long")
    return out.select(
        "band", "cell",
        (F.col("band").cast("double") * dlat).alias("lat_min"),
        ((F.col("band").cast("double") + 1) * dlat).alias("lat_max"),
        (F.col("cell").cast("double") * 360.0 / nc2.cast("double")
         - 180.0).alias("lon_min"),
        ((F.col("cell").cast("double") + 1) * 360.0 / nc2.cast("double")
         - 180.0).alias("lon_max"),
        *[c for c in out.columns if c not in ("band", "cell")],
    )


def geo_cell_agg_sql(
    from_sql: str,
    lat_expr: str,
    lon_expr: str,
    cell_km: float,
    agg_sql: str = "",
    carry: Sequence[str] = (),
) -> str:
    """DuckDB mirror of :func:`geo_cell_agg` (count + optional extra
    aggregate clauses over ``carry`` columns), term-for-term grid
    arithmetic."""
    r = float(cell_km)
    dlat = r / _KM_PER_DEG
    band = f"CAST(floor(CAST({lat_expr} AS DOUBLE) / {dlat!r}) AS BIGINT)"
    w = _band_width_deg_sql("band", r)
    extra = f", {agg_sql}" if agg_sql else ""
    cs = "".join(f", {c}" for c in carry)
    return f"""
WITH __k AS (
  SELECT {band} AS band, CAST({lon_expr} AS DOUBLE) AS lon{cs}
  FROM {from_sql}
  WHERE {lat_expr} IS NOT NULL AND {lon_expr} IS NOT NULL
), __n AS (
  SELECT band, lon,
         greatest(CAST(floor(360.0 / greatest({w}, 1e-9)) AS BIGINT),
                  1) AS ncell{cs}
  FROM __k
), __c AS (
  SELECT band,
         CAST(floor((lon + 180.0) * CAST(ncell AS DOUBLE) / 360.0)
              AS BIGINT) % ncell AS cell,
         ncell{cs}
  FROM __n
)
SELECT band, cell,
       CAST(band AS DOUBLE) * {dlat!r} AS lat_min,
       (CAST(band AS DOUBLE) + 1) * {dlat!r} AS lat_max,
       CAST(cell AS DOUBLE) * 360.0 / CAST(any_value(ncell) AS DOUBLE)
           - 180.0 AS lon_min,
       (CAST(cell AS DOUBLE) + 1) * 360.0
           / CAST(any_value(ncell) AS DOUBLE) - 180.0 AS lon_max,
       count(*)::BIGINT AS n{extra}
FROM __c
GROUP BY band, cell
"""
