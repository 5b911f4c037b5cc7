"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 +
north-star ops); each callable takes (spark, sf_dir) → DataFrame.
``oracle_sql()`` — DuckDB-runnable ANSI SQL equivalents for EVERY
queries() entry (approximate ops are seeded/deterministic, so even the
LSH and z-order families are reproduced bit-for-bit in SQL).

Conventions for hash-matching (driver compares sorted-by-name columns,
order-insensitive values):
- every computed column is aliased identically in Spark and SQL;
- float *aggregates* are rounded (engines sum in different orders);
- per-row arithmetic is written with the same association order in both
  engines so IEEE doubles agree bit-for-bit;
- kNN/top-k queries order by (key, id-tiebreak) in both engines.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # plain reads: the driver testdata is all µs-precision parquet
    # (events.ts included — an earlier generation carried
    # TIMESTAMP(NANOS), which is why get_spark still tolerates
    # nanos-as-long files; q_sessionize asserts the dtype it expects)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _ts_us(df: DataFrame, col: str):
    """Exact integer-µs epoch value of a timestamp column, independent
    of the session timezone. TIMESTAMP_NTZ diffs against the NTZ epoch
    wall-clock (a cast would route through the session zone and shift
    across DST); TIMESTAMP uses unix_micros directly."""
    if dict(df.dtypes).get(col) == "timestamp_ntz":
        return F.expr(
            f"timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ'1970-01-01 00:00:00', `{col}`)"
        )
    return F.unix_micros(F.col(col))


def _cents_sum(expr) -> F.Column:
    """Order-independent money aggregate: round each term to integer
    cents (the per-term double is bit-identical across engines), sum
    exactly as longs, divide once. A plain round(sum(double), 2) can
    flip the last cent with summation order — at 60k+ terms the float
    error reaches the half-cent boundary often enough to flake an
    oracle hash (tpch_q10 did)."""
    return F.sum(F.round(expr * 100.0, 0).cast("long")) / 100.0


#: DuckDB rendering of :func:`_cents_sum` — keep both in sync.
def _cents_sum_sql(expr: str) -> str:
    return f"sum(CAST(round(({expr}) * 100.0, 0) AS BIGINT)) / 100.0"


# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact kNN join — 3 nearest customers per supplier in
    (acctbal, nationkey) space at sf0.001 (SURVEY §2.3 RKJ semantics)."""
    sf_dir = "/root/testdata/sf0.001"
    from simba_spark.operators.knn_join import knn_join

    supp = _t(spark, sf_dir, "supplier").withColumn(
        "s_nat", F.col("s_nationkey").cast("double")
    )
    cust = _t(spark, sf_dir, "customer").withColumn(
        "c_nat", F.col("c_nationkey").cast("double")
    )
    out = knn_join(
        supp, cust, ["s_acctbal", "s_nat"], ["c_acctbal", "c_nat"], 3,
        left_id="s_suppkey", algo="bounded", right_tiebreak="c_custkey",
    )
    return out.select(
        F.col("l_s_suppkey").alias("s_suppkey"),
        F.col("r_c_custkey").alias("c_custkey"),
        F.round("dist", 4).alias("dist_r"),
    )


# ---------------------------------------------------------------------------
# spatial filter queries (events as the point table: x=value, y=user_id)

_BOX_LO, _BOX_HI = (20.0, 30.0), (60.0, 90.0)
_CIRCLE_C, _CIRCLE_R = (250.0, 75.0), 40.0
_KNN_Q, _KNN_K = (123.0, 45.0), 25


def q_range_filter(spark, sf_dir):
    from simba_spark.operators.filters import range_query

    ev = _t(spark, sf_dir, "events").withColumn("uid", F.col("user_id").cast("double"))
    return range_query(ev, ["value", "uid"], _BOX_LO, _BOX_HI).select(
        "event_id", "user_id", "value", "event_type"
    )


def q_circle_range(spark, sf_dir):
    from simba_spark.operators.filters import circle_range

    ev = _t(spark, sf_dir, "events").withColumn("uid", F.col("user_id").cast("double"))
    return circle_range(ev, ["value", "uid"], _CIRCLE_C, _CIRCLE_R).select(
        "event_id", "user_id", "value"
    )


def q_knn(spark, sf_dir):
    from simba_spark.operators.filters import knn

    ev = _t(spark, sf_dir, "events").withColumn("uid", F.col("user_id").cast("double"))
    return knn(ev, ["value", "uid"], _KNN_Q, _KNN_K, tiebreak="event_id").select(
        "event_id", "user_id", "value"
    )


def q_knn_and_filter(spark, sf_dir):
    """Boolean combination with kNN inside → set semantics
    (ref: FilterExec.scala:51-68): knn-50 ∩ (event_type = 'click')."""
    from simba_spark.operators.filters import knn, knn_and

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("uid", F.col("user_id").cast("double"))
        .select("event_id", "user_id", "value", "event_type", "uid")
    )
    knn_df = knn(ev, ["value", "uid"], _KNN_Q, 50, tiebreak="event_id")
    return knn_and(ev, knn_df, F.col("event_type") == "click").select(
        "event_id", "user_id", "value"
    )


def q_knn_not_filter(spark, sf_dir):
    """NOT knn = subtract (set semantics), restricted to a small box so
    the result is meaningfully sized."""
    from simba_spark.operators.filters import knn, knn_not, range_query

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("uid", F.col("user_id").cast("double"))
        .select("event_id", "user_id", "value", "uid")
    )
    box = range_query(ev, ["value", "uid"], (100.0, 40.0), (150.0, 60.0))
    knn_df = knn(box, ["value", "uid"], _KNN_Q, 10, tiebreak="event_id")
    return knn_not(box, knn_df).select("event_id", "user_id", "value")


_POLY = [(100.0, 20.0), (300.0, 10.0), (400.0, 80.0), (200.0, 140.0), (50.0, 90.0)]


def q_polygon_range(spark, sf_dir):
    """Literal-polygon containment filter compiled to pure Column
    arithmetic (generalizes InRange beyond axis boxes; ref Polygon
    support via JTS, Polygon.scala:32)."""
    from simba_spark.operators.polygon import polygon_range

    ev = _t(spark, sf_dir, "events").withColumn("uid", F.col("user_id").cast("double"))
    return polygon_range(ev, ["value", "uid"], _POLY).select(
        "event_id", "user_id", "value"
    )


def q_knn_or_filter(spark, sf_dir):
    """A OR knn → union + distinct set semantics (FilterExec.scala:51-68)."""
    from simba_spark.operators.filters import knn, knn_or

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("uid", F.col("user_id").cast("double"))
        .select("event_id", "user_id", "value", "uid")
    )
    knn_df = knn(ev, ["value", "uid"], _KNN_Q, 20, tiebreak="event_id")
    cond = (F.col("value") >= 480.0)
    return knn_or(ev, knn_df, cond).select("event_id", "user_id", "value")


#: persisted layouts live inside the repo (driver may run from any cwd)
_LAYOUT_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".layouts")


def _source_fingerprint(src: str) -> dict:
    """Size+mtime signature of a parquet file/dir — invalidates a cached
    layout when the driver regenerates testdata."""
    out = {}
    if os.path.isdir(src):
        for f in sorted(os.listdir(src)):
            st = os.stat(os.path.join(src, f))
            out[f] = [st.st_size, int(st.st_mtime)]
    else:
        st = os.stat(src)
        out[os.path.basename(src)] = [st.st_size, int(st.st_mtime)]
    return out


#: session-lifetime registry cache — an engine loads an index once per
#: session, not once per query (ref: IndexManager is session state,
#: SimbaSessionState.scala:40-49)
_LAYOUT_CACHE: dict = {}


def _ev_layout(spark, sf_dir):
    """Build-once persisted z-order layout over events(value, uid).

    The build (cluster + bucket-partitioned Parquet write) runs only when
    the cached copy is missing or stale; steady-state queries load JSON
    metadata and plan a file-pruned, row-group-skipping scan — the index
    build is amortized across queries exactly like the reference's
    persistIndex/loadIndex lifecycle (ref: IndexManager.scala:122-176)."""
    from simba_spark.context import SimbaContext

    cache_key = (id(spark), sf_dir)
    if cache_key in _LAYOUT_CACHE:
        return _LAYOUT_CACHE[cache_key]

    ctx = SimbaContext(spark)
    name = "ev_zorder"
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(_LAYOUT_ROOT, tag, name)
    src = os.path.join(sf_dir, "events.parquet")
    fp = _source_fingerprint(src)
    fp_file = os.path.join(path, "source.json")
    fresh = False
    if os.path.exists(os.path.join(path, "layout.json")) and os.path.exists(fp_file):
        try:
            with open(fp_file) as f:
                fresh = json.load(f) == fp
        except Exception:
            fresh = False
    if fresh:
        lay = ctx.load_index(name, path)
    else:
        ev = _t(spark, sf_dir, "events").withColumn(
            "uid", F.col("user_id").cast("double")
        )
        ctx.create_index(ev, ["value", "uid"], name, kind="zorder")
        ctx.persist_index(name, path)
        with open(fp_file, "w") as f:
            json.dump(fp, f)
        lay = ctx.layouts.get(name)
    _LAYOUT_CACHE[cache_key] = (ctx, lay)
    return ctx, lay


def _build_once(sf_dir: str, name: str, src_file: str, builder) -> str:
    """Generic build-once cache: run `builder(path)` unless `path` holds
    a fresh artifact for the source file (size+mtime fingerprint)."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(_LAYOUT_ROOT, tag, name)
    fp = _source_fingerprint(os.path.join(sf_dir, src_file))
    fp_file = os.path.join(path, "source.json")
    if os.path.exists(fp_file):
        try:
            with open(fp_file) as f:
                if json.load(f) == fp:
                    return path
        except Exception:
            pass
    builder(path)
    with open(fp_file, "w") as f:
        json.dump(fp, f)
    return path


def _ivf_layout_path(spark, sf_dir) -> str:
    """Build-once persisted IVF layout over embeddings (inverted lists
    as parquet partition dirs — a probe reads only its nprobe lists)."""
    from simba_spark.operators.similarity import build_ivf_layout

    def build(path):
        embs = _t(spark, sf_dir, "embeddings")
        build_ivf_layout(embs, path, n_centroids=8, seed=42)

    return _build_once(sf_dir, "emb_ivf", "embeddings.parquet", build)


def _ivfpq_layout_path(spark, sf_dir) -> str:
    """Build-once persisted two-level IVF×PQ layout over embeddings
    (PQ codes partitioned by inverted list — a probe reads nprobe
    partition dirs of 8-byte codes)."""
    from simba_spark.operators.pq import build_ivfpq_layout

    def build(path):
        embs = _t(spark, sf_dir, "embeddings")
        build_ivfpq_layout(embs, path, n_centroids=8, m=8, nbits=4,
                           sample_cap=512, iters=5, seed=42)

    return _build_once(sf_dir, "emb_ivfpq", "embeddings.parquet", build)


def _ivfpq_residual_layout_path(spark, sf_dir) -> str:
    """Build-once RESIDUAL-encoded IVF×PQ layout (IVFADC): codes are
    of x − centroid[list], one ADC LUT per probed list at query time;
    same 8-byte budget quantizing only the cell-local range."""
    from simba_spark.operators.pq import build_ivfpq_layout

    def build(path):
        embs = _t(spark, sf_dir, "embeddings")
        build_ivfpq_layout(embs, path, n_centroids=8, m=8, nbits=4,
                           sample_cap=512, iters=5, seed=42,
                           encode="residual")

    return _build_once(sf_dir, "emb_ivfpq_res", "embeddings.parquet",
                       build)


def _ann_layout_path(spark, sf_dir) -> str:
    """Build-once persisted hyperplane-LSH layout over embeddings."""
    from simba_spark.operators.similarity import build_ann_layout

    def build(path):
        embs = _t(spark, sf_dir, "embeddings")
        build_ann_layout(embs, path, n_planes=8, seed=42)

    return _build_once(sf_dir, "emb_ann", "embeddings.parquet", build)


def prepare(spark, sf_dir):
    """Optional bench hook: pre-build persisted layouts so the timed
    region measures the query, not the (amortized) index build."""
    _ev_layout(spark, sf_dir)
    _ivf_layout_path(spark, sf_dir)
    _ann_layout_path(spark, sf_dir)
    _ivfpq_layout_path(spark, sf_dir)


def q_layout_routed_range(spark, sf_dir):
    """Same result set as q_range_filter but routed through a persisted
    z-order layout: bucket directories prune files at planning time and
    z-interval predicates skip row groups (SURVEY §2.1 index scans)."""
    ctx, lay = _ev_layout(spark, sf_dir)
    return ctx.range_query(lay.data, ["value", "uid"], _BOX_LO, _BOX_HI).select(
        "event_id", "user_id", "value", "event_type"
    )


def q_layout_routed_knn(spark, sf_dir):
    """Same result as q_knn but through the z-order layout's two-phase
    bound-and-prune (ref: IndexedRelationScan.scala:117-151 analog)."""
    ctx, lay = _ev_layout(spark, sf_dir)
    return ctx.knn(lay.data, ["value", "uid"], _KNN_Q, _KNN_K, tiebreak="event_id").select(
        "event_id", "user_id", "value"
    )


#: shape-column query box (InRange over non-point shape rows,
#: ref: InRange.scala:35-42 — intersection, not containment)
_SHAPE_LO, _SHAPE_HI = (200.0, 40.0), (260.0, 80.0)


def _ev_segments(spark, sf_dir):
    """Deterministic segment column derived from events: start at
    (value, uid), end offset by small id-dependent integer deltas."""
    from simba_spark.operators.shapes import segment_struct

    ev = _t(spark, sf_dir, "events").withColumn("uid", F.col("user_id").cast("double"))
    return ev.withColumn(
        "seg",
        segment_struct(
            F.col("value"),
            F.col("uid"),
            F.col("value") + (F.col("event_id") % 17).cast("double") - F.lit(8.0),
            F.col("uid") + (F.col("event_id") % 11).cast("double") - F.lit(5.0),
        ),
    )


def q_segment_range(spark, sf_dir):
    """InRange over a line-segment column: closed segment-box
    intersection via separating axes, pure Column arithmetic
    (ref semantics: InRange.scala:35-42 + LineSegment JTS analog)."""
    from simba_spark.operators.shapes import shape_range

    segs = _ev_segments(spark, sf_dir)
    return shape_range(segs, "seg", _SHAPE_LO, _SHAPE_HI, kind="segment").select(
        "event_id", "user_id", "value"
    )


def q_segment_join(spark, sf_dir):
    """Segment-segment intersection join (closed; orientation tests as
    Column arithmetic — ref: LineSegment.intersects via JTS,
    LineSegment.scala:33-45) through the generalized canonical-cell
    grid join (shape_shape_join) — cell equi-join, no cartesian."""
    from simba_spark.operators.shapes import shape_shape_join

    segs = _ev_segments(spark, sf_dir)
    a = segs.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("id"), "seg"
    )
    b = segs.filter(F.col("event_id") % 89 == 0).select(
        F.col("event_id").alias("id"), "seg"
    )
    out = shape_shape_join(
        a, b, "seg", "seg", r=0.0, left_kind="segment", right_kind="segment"
    )
    return out.select(F.col("a_id"), F.col("b_id"))


def q_box_box_join(spark, sf_dir):
    """Box-box INTERSECTION join (r=0) through the generalized
    canonical-cell grid join — the MBR×MBR cell of the reference's
    shape-dispatch matrix (ref: MBR.intersects, MBR.scala:60-67, joined
    by DJSpark.scala:47-53 over ShapeUtils.getShape'd rows). Cell
    equi-join with unique canonical-cell emission; no cartesian."""
    from simba_spark.operators.shapes import mbr_struct, shape_shape_join

    ev = _t(spark, sf_dir, "events").withColumn(
        "uid", F.col("user_id").cast("double")
    )
    boxes = ev.withColumn(
        "box",
        mbr_struct(
            [F.col("value"), F.col("uid")],
            [
                F.col("value") + (F.col("event_id") % 13).cast("double"),
                F.col("uid") + (F.col("event_id") % 7).cast("double"),
            ],
        ),
    )
    a = boxes.filter(F.col("event_id") % 101 == 0).select(
        F.col("event_id").alias("id"), "box"
    )
    b = boxes.filter(F.col("event_id") % 103 == 0).select(
        F.col("event_id").alias("id"), "box"
    )
    out = shape_shape_join(
        a, b, "box", "box", r=0.0, left_kind="mbr", right_kind="mbr"
    )
    return out.select(F.col("a_id"), F.col("b_id"))


def q_segment_circle_join(spark, sf_dir):
    """MIXED-kind distance join: (segment, circle) pairs with
    minDist(segment, circle) <= r — dist(center, segment) <= r +
    circle radius, clamped-projection arithmetic (ref:
    LineSegment.minDist + Circle.minDist dispatch, LineSegment.scala:
    47-76, Circle.scala:33-52). Same canonical-cell grid program."""
    from simba_spark.operators.shapes import circle_struct, shape_shape_join

    segs = _ev_segments(spark, sf_dir).filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("id"), "seg"
    )
    ev = _t(spark, sf_dir, "events").withColumn(
        "uid", F.col("user_id").cast("double")
    )
    circles = ev.filter(F.col("event_id") % 89 == 0).select(
        F.col("event_id").alias("id"),
        circle_struct(
            [F.col("value"), F.col("uid")],
            (F.col("event_id") % 5).cast("double") / F.lit(2.0),
        ).alias("circ"),
    )
    out = shape_shape_join(
        segs, circles, "seg", "circ", r=3.0,
        left_kind="segment", right_kind="circle",
    )
    return out.select(F.col("a_id"), F.col("b_id"))


def q_box_range(spark, sf_dir):
    """InRange over an MBR column: closed box-box intersection
    (ref: MBR.intersects, MBR.scala:60-67)."""
    from simba_spark.operators.shapes import mbr_struct, shape_range

    ev = _t(spark, sf_dir, "events").withColumn("uid", F.col("user_id").cast("double"))
    boxes = ev.withColumn(
        "box",
        mbr_struct(
            [F.col("value"), F.col("uid")],
            [
                F.col("value") + (F.col("event_id") % 13).cast("double"),
                F.col("uid") + (F.col("event_id") % 7).cast("double"),
            ],
        ),
    )
    return shape_range(boxes, "box", _SHAPE_LO, _SHAPE_HI, kind="mbr").select(
        "event_id", "user_id", "value"
    )


def _ev_triangles(spark, sf_dir):
    """Deterministic per-row triangle column derived from events —
    polygon-valued rows (ref: Polygon.scala:32 rows via ShapeType)."""
    ev = _t(spark, sf_dir, "events").withColumn("uid", F.col("user_id").cast("double"))
    v1 = F.struct(F.col("value").alias("x"), F.col("uid").alias("y"))
    v2 = F.struct(
        (F.col("value") + (F.col("event_id") % 17).cast("double") - F.lit(8.0)).alias("x"),
        (F.col("uid") + (F.col("event_id") % 11).cast("double") - F.lit(5.0)).alias("y"),
    )
    v3 = F.struct(
        (F.col("value") - (F.col("event_id") % 13).cast("double") + F.lit(6.0)).alias("x"),
        (F.col("uid") + (F.col("event_id") % 7).cast("double") - F.lit(3.0)).alias("y"),
    )
    return ev.withColumn("poly", F.array(v1, v2, v3))


def q_polygon_box_range(spark, sf_dir):
    """InRange over a polygon COLUMN: closed polygon-box intersection
    for polygon-valued rows (ref: Polygon.intersects(MBR),
    Polygon.scala:40-107 dispatched from MBR.scala:60-67) — vertex-in-
    box OR box-corner-in-polygon OR edge-crosses-box, all higher-order
    Column arithmetic."""
    from simba_spark.operators.shapes import shape_range

    tris = _ev_triangles(spark, sf_dir)
    return shape_range(tris, "poly", _SHAPE_LO, _SHAPE_HI, kind="polygon").select(
        "event_id", "user_id", "value"
    )


def q_circle_rows_range(spark, sf_dir):
    """InRange over a circle COLUMN (ShapeType tag-2 rows,
    ref: KryoShapeSerializer.scala:35): closed circle-box intersection
    minDist(center, box) <= r."""
    from simba_spark.operators.shapes import circle_struct, shape_range

    ev = _t(spark, sf_dir, "events").withColumn("uid", F.col("user_id").cast("double"))
    circ = ev.withColumn(
        "circ",
        circle_struct(
            [F.col("value"), F.col("uid")],
            (F.col("event_id") % 9).cast("double") + F.lit(0.5),
        ),
    )
    return shape_range(circ, "circ", _SHAPE_LO, _SHAPE_HI, kind="circle").select(
        "event_id", "user_id", "value"
    )


def q_segment_knn(spark, sf_dir):
    """InKNN over a shape column: the 25 segment rows nearest the query
    point by minDist (ref: InKNN via Shape.minDist dispatch,
    InKNN.scala:31-49) — TakeOrderedAndProject, ≤ k rows to driver."""
    from simba_spark.operators.shapes import shape_knn

    segs = _ev_segments(spark, sf_dir)
    out = shape_knn(segs, "seg", (230.0, 60.0), 25, kind="segment",
                    tiebreak="event_id")
    return out.select(
        "event_id", "user_id", "value", F.round("shape_dist", 6).alias("sd6")
    )


def q_segment_distance_join(spark, sf_dir):
    """Distance join over SEGMENT rows: (segment, point) pairs with
    minDist <= r (ref: DJSpark + Shape.minDist dispatch) — grid-celled
    equi-join on the r-expanded segment bbox, codegen'd clamped-
    projection refine."""
    from simba_spark.operators.shapes import shape_distance_join

    segs = _ev_segments(spark, sf_dir).filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("id"), "seg"
    )
    ev = _t(spark, sf_dir, "events").withColumn("uid", F.col("user_id").cast("double"))
    pts = ev.filter(F.col("event_id") % 3 == 0).select(
        F.col("event_id").alias("id"), F.col("value").alias("x"), F.col("uid").alias("y")
    )
    out = shape_distance_join(segs, pts, "seg", ["x", "y"], 3.0, kind="segment")
    return out.select("a_id", "b_id")


def q_polygon_distance_join(spark, sf_dir):
    """Polygon-point distance join: pairs with
    dist(polygon, point) <= r (closed; ref: Polygon.minDist,
    Polygon.scala:83-107 + DJSpark grid program). Grid-celled equi-join
    on the r-expanded polygon MBR, exact JVM-side refine."""
    from simba_spark.operators.polygon import polygon_distance_join

    tris = _ev_triangles(spark, sf_dir)
    a = tris.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("id"), "poly"
    )
    ev = _t(spark, sf_dir, "events").withColumn("uid", F.col("user_id").cast("double"))
    b = ev.filter(F.col("event_id") % 3 == 0).select(
        F.col("event_id").alias("id"), F.col("value").alias("x"), F.col("uid").alias("y")
    )
    out = polygon_distance_join(a, b, "poly", ["x", "y"], 4.0)
    return out.select(F.col("a_id"), F.col("b_id"))


#: literal query segment for polygon×segment range (crosses the
#: events value×uid space diagonally)
_PSEG = (50.0, 10.0, 450.0, 140.0)


def q_polygon_segment_range(spark, sf_dir):
    """Polygon-COLUMN vs literal-segment intersection filter — the
    reference's Polygon.intersects(LineSegment) JTS dispatch
    (ref: Polygon.scala:40-107): edge-pair orientation tests + the
    fully-inside case, all higher-order Column arithmetic."""
    from simba_spark.operators.polygon import polygon_intersects_segment_col

    tris = _ev_triangles(spark, sf_dir)
    return tris.filter(polygon_intersects_segment_col("poly", *_PSEG)).select(
        "event_id", "user_id", "value"
    )


def q_polygon_polygon_join(spark, sf_dir):
    """Polygon-polygon INTERSECTION join (r=0) over two triangle sets —
    the last shape-matrix cell (ref: Polygon.intersects(Polygon),
    Polygon.scala:40-107) as a distributed grid join with
    canonical-cell unique emission (no dedup shuffle)."""
    from simba_spark.operators.polygon import polygon_polygon_join

    tris = _ev_triangles(spark, sf_dir)
    a = tris.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("id"), "poly"
    )
    b = tris.filter(F.col("event_id") % 89 == 0).select(
        F.col("event_id").alias("id"), "poly"
    )
    out = polygon_polygon_join(a, b, "poly", "poly", 0.0)
    return out.select("a_id", "b_id")


def q_polygon_polygon_distance_join(spark, sf_dir):
    """Polygon-polygon DISTANCE join: pairs with
    dist(poly_a, poly_b) <= r (closed; ref: Polygon.minDist
    generalized, Polygon.scala:83-107 + DJSpark grid program) — grid
    equi-join on the r-expanded MBR, canonical-cell emission, exact
    edge-pair refine."""
    from simba_spark.operators.polygon import polygon_polygon_join

    tris = _ev_triangles(spark, sf_dir)
    a = tris.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("id"), "poly"
    )
    b = tris.filter(F.col("event_id") % 89 == 0).select(
        F.col("event_id").alias("id"), "poly"
    )
    out = polygon_polygon_join(a, b, "poly", "poly", 4.0)
    return out.select("a_id", "b_id")


def q_interval_1d(spark, sf_dir):
    """1-D interval scan through a range layout (TreeMap/Treap analog,
    ref: TreeMapIndexedRelation.scala:41-60), closed bounds."""
    from simba_spark.context import SimbaContext

    ctx = SimbaContext(spark)
    li = _t(spark, sf_dir, "lineitem")
    lay = ctx.create_index(li, ["l_extendedprice"], "li_idx", kind="range")
    return lay.data.filter(
        (F.col("l_extendedprice") >= 1000.0) & (F.col("l_extendedprice") <= 1100.0)
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")


# ---------------------------------------------------------------------------
# spatial joins

_DJ_R = 200.0


def q_interval_join(spark, sf_dir):
    """Temporal-style interval join: event-derived [value, value+len]
    intervals vs event value points, closed bounds — binned equi-join
    instead of the cartesian Spark would plan for an inequality join."""
    from simba_spark.operators.interval import interval_join

    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 97 == 0).select(
        "event_id",
        F.col("value").alias("s"),
        (F.col("value") + (F.col("event_id") % 5).cast("double")).alias("e"),
    )
    b = ev.filter(F.col("event_id") % 3 == 0).select("event_id", "value")
    out = interval_join(a, b, "s", "e", "value")
    return out.select(
        F.col("a_event_id").alias("a_id"), F.col("b_event_id").alias("b_id")
    )


def q_interval_overlap(spark, sf_dir):
    """Session-overlap-style join: pairs of event-derived intervals that
    overlap (closed), via the canonical-bin equi-join (each pair emits
    in exactly one bin — no dedup shuffle)."""
    from simba_spark.operators.interval import interval_overlap_join

    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 97 == 0).select(
        "event_id",
        F.col("value").alias("s"),
        (F.col("value") + (F.col("event_id") % 7).cast("double")).alias("e"),
    )
    b = ev.filter(F.col("event_id") % 89 == 0).select(
        "event_id",
        F.col("value").alias("s"),
        (F.col("value") + (F.col("event_id") % 4).cast("double")).alias("e"),
    )
    out = interval_overlap_join(a, b, "s", "e", "s", "e")
    return out.select(
        F.col("a_event_id").alias("a_id"), F.col("b_event_id").alias("b_id")
    )


def q_distance_join(spark, sf_dir):
    from simba_spark.operators.distance_join import distance_join

    cust = _t(spark, sf_dir, "customer").withColumn("c_nat", F.col("c_nationkey").cast("double"))
    supp = _t(spark, sf_dir, "supplier").withColumn("s_nat", F.col("s_nationkey").cast("double"))
    return distance_join(
        cust, supp, ["c_acctbal", "c_nat"], ["s_acctbal", "s_nat"], _DJ_R,
        algo="grid",
    ).select("c_custkey", "s_suppkey")


def q_distance_join_self(spark, sf_dir):
    from simba_spark.operators.distance_join import self_distance_join

    supp = _t(spark, sf_dir, "supplier").withColumn("s_nat", F.col("s_nationkey").cast("double"))
    return self_distance_join(
        supp, ["s_acctbal", "s_nat"], 500.0, id_col="s_suppkey", algo="grid"
    ).select(
        F.col("a_s_suppkey").alias("a_suppkey"),
        F.col("b_s_suppkey").alias("b_suppkey"),
    )


def q_knn_join(spark, sf_dir):
    from simba_spark.operators.knn_join import knn_join

    supp = _t(spark, sf_dir, "supplier").withColumn("s_nat", F.col("s_nationkey").cast("double"))
    cust = _t(spark, sf_dir, "customer").withColumn("c_nat", F.col("c_nationkey").cast("double"))
    out = knn_join(
        supp, cust, ["s_acctbal", "s_nat"], ["c_acctbal", "c_nat"], 3,
        left_id="s_suppkey", algo="bounded", right_tiebreak="c_custkey",
    )
    return out.select(
        F.col("l_s_suppkey").alias("s_suppkey"),
        F.col("r_c_custkey").alias("c_custkey"),
    )


def q_knn_join_voronoi(spark, sf_dir):
    """Exact kNN join via Voronoi pivot partitioning (VKJSpark analog,
    ref: VKJSpark.scala:38-398): triangle-inequality bounds make the
    pivot-cell replication lossless, so the brute-force SQL ranking is
    a true oracle. Sides reversed vs `knn_join` to vary the shape."""
    from simba_spark.operators.knn_join import knn_join

    supp = _t(spark, sf_dir, "supplier").withColumn("s_nat", F.col("s_nationkey").cast("double"))
    cust = _t(spark, sf_dir, "customer").withColumn("c_nat", F.col("c_nationkey").cast("double"))
    out = knn_join(
        cust, supp, ["c_acctbal", "c_nat"], ["s_acctbal", "s_nat"], 2,
        left_id="c_custkey", algo="voronoi", right_tiebreak="s_suppkey",
    )
    return out.select(
        F.col("l_c_custkey").alias("c_custkey"),
        F.col("r_s_suppkey").alias("s_suppkey"),
    )


def q_knn_join_highd(spark, sf_dir):
    """8-D exact kNN join: the 'bounded' router's d >= 6 rule steers it
    to the dimension-agnostic Voronoi program (grid candidate
    generation replicates ~2^d per cell — ref parity: N-dim Point,
    Point.scala:28-29, with VKJSpark as the reference's own high-d
    plan). broadcast_bytes=1 forces past the small-side broadcast route
    so the driver row exercises the high-d path itself; exactness is
    algorithm-independent, so brute-force SQL ranking is a true
    oracle."""
    from simba_spark.operators.knn_join import knn_join

    emb = _t(spark, sf_dir, "embeddings")
    dims = [
        F.element_at("embedding", i + 1).cast("double").alias(f"d{i}")
        for i in range(8)
    ]
    pts = emb.select(F.col("vec_id"), *dims)
    cols = [f"d{i}" for i in range(8)]
    out = knn_join(
        pts.filter(F.col("vec_id") % 7 == 0), pts, cols, cols, 3,
        left_id="vec_id", right_tiebreak="vec_id", broadcast_bytes=1.0,
    )
    return out.select(
        F.col("l_vec_id").alias("a_id"),
        F.col("r_vec_id").alias("b_id"),
        F.col("dist"),
    )


def q_zknn_join(spark, sf_dir):
    """Approximate z-order kNN join. Approximate ≠ unverifiable: the
    pipeline is deterministic given the seed, and `_zknn_oracle_sql`
    reproduces it bit-for-bit in DuckDB (hash-matched row)."""
    from simba_spark.operators.knn_join import zknn_join

    supp = _t(spark, sf_dir, "supplier").withColumn("s_nat", F.col("s_nationkey").cast("double"))
    cust = _t(spark, sf_dir, "customer").withColumn("c_nat", F.col("c_nationkey").cast("double"))
    out = zknn_join(
        supp, cust, ["s_acctbal", "s_nat"], ["c_acctbal", "c_nat"], 3,
        left_id="s_suppkey", shifts=2, seed=42, right_tiebreak="c_custkey",
    )
    return out.select(
        F.col("l_s_suppkey").alias("s_suppkey"),
        F.col("r_c_custkey").alias("c_custkey"),
    )


# ---------------------------------------------------------------------------
# pass-through relational suite (inherited Spark SQL — SURVEY §2.4)


def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_orders(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    rev = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )
    return rev


def q_skewed_join(spark, sf_dir):
    """Skew-salted equi-join (operators.pipeline.salted_join): hot
    o_custkey values spread across 8 reducers via a deterministic
    per-row salt + right-side replication — results identical to the
    plain join, which IS the oracle. The ahead-of-time skew fix for
    the cases AQE skew-split can't reach (hash-agg feeding a join,
    co-partitioned writes)."""
    from simba_spark.operators.pipeline import salted_join

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    out = salted_join(orders, cust, ["o_custkey"], n_salts=8)
    return out.select("o_orderkey", "o_custkey", "c_nationkey")


def q_nation_volume(spark, sf_dir):
    """Q5-style multi-join: revenue per nation (customer+supplier co-located)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 (shipping priority): top-10 unshipped orders by revenue
    for a market segment — the canonical 3-way join + agg + top-k."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local supplier volume): revenue by nation for one
    region-year where the customer and supplier share a nation — the
    canonical 6-way snowflake join. nation/region are broadcast
    explicitly (tiny dims at any scale); the fact-side joins shuffle on
    their keys and AQE handles runtime sizing."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change): pure scan-filter-agg.
    The predicate set (date range + discount band + quantity cap) must
    reach the parquet scan as PushedFilters; the agg is a single
    map-side-combined sum."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue")
        )
    )


def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 (order priority checking), adapted to this schema: the
    lineitem table has no commit/receipt dates, so "late" is
    l_shipdate > o_orderdate + 30 days. The EXISTS is a LEFT SEMI join
    (no row multiplication, lineitem side never aggregated); the final
    groupBy is on a 5-value key — a broadcast-sized result."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping between two nations): the two-nation
    filter is applied on broadcast nation dims BEFORE the fact joins,
    so the supplier/customer sides shrink first; fact joins shuffle on
    their keys with AQE sizing."""
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_3") & (
        F.col("cust_nation") == "NATION_7"
    ) | (F.col("supp_nation") == "NATION_7") & (
        F.col("cust_nation") == "NATION_3"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") <= "1997-12-31")
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            _t(spark, sf_dir, "orders"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(
            _t(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            _cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned item reporting): top-20 customers by revenue
    lost to returns in a quarter. Fact joins shuffle on keys, nation is
    broadcast, and the top-20 is TakeOrdered (no global sort
    materialization) with c_custkey as the deterministic tiebreak."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    nat = _t(spark, sf_dir, "nation")
    return (
        _t(spark, sf_dir, "customer")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            _cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution): LEFT join keeps
    customers with zero qualifying orders (count(o_orderkey) skips
    nulls), then a second skinny groupBy builds the histogram. Both
    shuffles are on skinny keys; the histogram fits anywhere."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        _t(spark, sf_dir, "customer")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promotion effect), adapted: p_type here is a flat
    6-value enum, so the promo class is p_type = 'PROMO' (the original
    LIKE 'PROMO%'). One fact-dim join (part broadcast-eligible at this
    scale, AQE decides) + a conditional aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    part = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0)
                )
                / F.sum(disc),
                4,
            ).alias("promo_revenue")
        )
    )


def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): quarterly revenue per supplier, then
    the max-revenue supplier(s). The max is a 1-row aggregate joined
    back by broadcast (never a window over the full revenue table);
    comparing on the ROUNDED revenue keeps both engines' equality
    semantics identical."""
    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            _cents_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        _t(spark, sf_dir, "supplier")
        .join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("__mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue), adapted: no container
    column, so the part class is p_brand + p_size. The correlated
    "0.5 * avg quantity for this part" subquery becomes a skinny
    per-part aggregate joined back on partkey — one extra shuffle on
    l_partkey instead of a per-row subquery."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") < 15)
    )
    avg_q = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("__avg_qty")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_q, F.col("l_partkey") == F.col("__pk"))
        .filter(F.col("l_quantity") < F.col("__avg_qty"))
        .agg(
            F.round(_cents_sum(F.col("l_extendedprice")) / 7.0, 2).alias(
                "avg_yearly"
            )
        )
    )


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds the threshold, top-100 by price. The qualifying-order set
    is a skinny groupBy(l_orderkey) semi-join (l_quantity is integral,
    so the HAVING threshold is exact); the final top-100 is
    TakeOrdered with o_orderkey as tiebreak."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__sq"))
        .filter(F.col("__sq") > 250)
        .select("l_orderkey")
    )
    return (
        _t(spark, sf_dir, "customer")
        .join(
            _t(spark, sf_dir, "orders"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(big.withColumnRenamed("l_orderkey", "__ok"),
              F.col("o_orderkey") == F.col("__ok"), "left_semi")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 (discounted revenue), adapted: the three OR-ed
    brand/size/quantity bands (no container/shipmode columns here).
    Catalyst pushes the common l_quantity bounds and the join key into
    the scans; the OR-matrix evaluates post-join inside codegen."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(band).agg(
        _cents_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue")
    )


def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity), adapted: no phone column,
    so the country code is c_nationkey % 5, and "dormant" means no
    orders since 1999 (the unfiltered anti-join is empty at this order
    density). The avg-balance threshold is a 1-row broadcast; the
    anti-join shuffles on custkey."""
    cust = _t(spark, sf_dir, "customer").filter(
        (F.col("c_nationkey") % 5).isin(0, 1, 2, 3)
    )
    thr = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__thr")
    )
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1999-01-01"
    )
    return (
        cust.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("__thr"))
        .join(
            recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .groupBy((F.col("c_nationkey") % 5).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _cents_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def q_asof_join(spark, sf_dir):
    """As-of join: each click event matched to the same user's most
    recent purchase at-or-before it (point-in-time enrichment). One
    shuffle, zero join nodes — union + per-key running-last window
    (simba_spark.operators.asof). The oracle is an explicit DuckDB
    window formulation that encodes the pid tiebreak (native ASOF has
    no tiebreak and could diverge on duplicate (user_id, ts))."""
    from simba_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", _ts_us(ev, "ts").alias("tus"), "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("pid"), "value"
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_prefix="p_",
        tiebreak_col="pid",
    )
    return out.select(
        "event_id",
        "user_id",
        "tus",
        F.col("p_pid").alias("p_event_id"),
        F.round("p_value", 4).alias("p_value"),
        (F.col("tus") - _ts_us(out, "p_ts")).alias("lag_us"),
    )


def q_window_top_orders_per_cust(spark, sf_dir):
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def q_rollup_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q_events_agg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


def q_events_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile`,
    single-pass JVM agg). Rounded to 6dp: Spark and DuckDB both use
    linear interpolation on the sorted values; rounding absorbs the
    last-ulp association difference."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


def q_cube_events(spark, sf_dir):
    """CUBE grouping sets: all 4 aggregation lattices in one pass
    (event_type × user decile, each margin, grand total)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "user_decile", (F.col("user_id") % 10).cast("long")
    )
    return ev.cube("event_type", "user_decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_events_lead_lag(spark, sf_dir):
    """Ordered-window function battery: lag diff, lead, ntile over a
    fully deterministic (time, id) order."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("tus", _ts_us(ev, "ts"))
    w = Window.partitionBy("user_id").orderBy(F.col("tus").asc(), F.col("event_id").asc())
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("d_value"),
        F.lead("event_id").over(w).alias("next_event_id"),
        F.ntile(4).over(w).alias("quartile"),
    )


def q_events_resample(spark, sf_dir):
    """Dense hourly resample per user with gap fill: every hour in each
    user's span gets a row — counts zero-filled, the last observed
    value forward-filled across empty hours
    (simba_spark.operators.timeseries.resample)."""
    from simba_spark.operators.timeseries import resample

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("tus", _ts_us(ev, "ts"))
    out = resample(
        ev,
        ts_col="tus",
        key_col="user_id",
        bucket_us=3_600_000_000,
        aggs={
            "n_events": F.count(F.lit(1)),
            "sum_value": F.round(F.sum("value"), 2),
            # ordering key (tus, event_id) packed as a fixed-width
            # string: max_by/arg_max take no composite keys, and a bare
            # tus key would be tie-NONDETERMINISTIC across engines if
            # two events ever shared a (user, µs). Zero-padded
            # lexicographic == numeric for non-negative values.
            "last_value": F.round(
                F.expr(
                    "max_by(value, concat(lpad(cast(tus AS string), 20, '0'),"
                    " '#', lpad(cast(event_id AS string), 10, '0')))"
                ),
                4,
            ),
        },
        zero_fill=["n_events"],
        ffill=["last_value"],
    )
    return out.select("user_id", "bucket", "n_events", "sum_value", "last_value")


def q_events_rolling(spark, sf_dir):
    """Trailing 1-hour rolling aggregates per user via a RANGE window
    frame — point-in-time features at event cadence."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("tus", _ts_us(ev, "ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("tus").asc())
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "tus",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.avg("value").over(w), 4).alias("avg_1h"),
    )


def q_doc_tfidf(spark, sf_dir):
    """Per-document top-3 keywords by smoothed TF-IDF
    (simba_spark.operators.text.tfidf_topk); deterministic tie order."""
    from simba_spark.operators.text import tfidf_topk

    docs = _t(spark, sf_dir, "documents")
    return tfidf_topk(docs, top_n=3)


def q_stratified_sample(spark, sf_dir):
    """Per-source deterministic sampling rates (corpus re-balancing):
    same md5-uniform as doc_sample, so the sample nests and stays
    engine-stable (simba_spark.operators.pipeline.stratified_sample)."""
    from simba_spark.operators.pipeline import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs,
        strata_col="source",
        rates={"src0": 0.8, "src1": 0.5, "src2": 0.2},
        key_col="doc_id",
        seed=7,
        default_rate=0.1,
    )
    return out.select("doc_id", "source")


def q_orders_upsert(spark, sf_dir):
    """Incremental-batch merge (SCD1): an updates batch (10%-discounted
    re-priced orders) replaces same-key rows, the rest pass through —
    simba_spark.operators.pipeline.merge_upsert, one shuffle."""
    from simba_spark.operators.pipeline import merge_upsert

    orders = _t(spark, sf_dir, "orders")
    # price derives by pure IEEE double multiply, NO rounding: x*0.9
    # lands on .xx5 half-boundaries systematically and Spark/DuckDB
    # round() disagree there (DuckDB's bare 0.9 is DECIMAL); identical
    # raw doubles hash identically under the 9-sig-digit normalization
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * F.lit(0.9)
    ).withColumn("o_orderstatus", F.lit("U"))
    out = merge_upsert(orders, updates, "o_orderkey")
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").alias("price"),
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) over the events
    stream — batch form; the streaming form is
    simba_spark.streaming.sessionize_stream (applyInPandasWithState).
    Micros (not nanos): DuckDB timestamps are µs precision, so integer-µs
    math is the unit both engines agree on exactly."""
    from simba_spark.operators.sessionize import session_stats

    ev = _t(spark, sf_dir, "events")
    ts_type = dict(ev.dtypes)["ts"]
    # fail loudly on a surprise schema: a nanos-as-long events file
    # would otherwise be cast as SECONDS and garble every session
    assert ts_type.startswith("timestamp"), (
        f"events.ts is {ts_type}; expected a timestamp type — "
        "a legacy nanos-as-long file needs explicit unit handling"
    )
    if ts_type == "timestamp_ntz":
        # wall-clock diff, NOT cast('timestamp'): the cast routes
        # through the session zone and would shift µs values across DST
        ev = ev.withColumn(
            "ts_us",
            F.expr(
                "timestampdiff(MICROSECOND, "
                "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            ),
        )
    else:
        ev = ev.withColumn("ts_us", F.unix_micros(F.col("ts")))
    out = session_stats(ev, ts_col="ts_us", gap_ns=30 * 60 * 1_000_000)
    return out.withColumnRenamed("duration", "duration_us")


def q_customers_without_orders(spark, sf_dir):
    """Anti-join pass-through (inherited join surface, SURVEY §2.3):
    customers with no URGENT order (non-empty at every sf)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, how="left_anti"
    ).select("c_custkey", "c_name")


def q_parts_with_lineitems(spark, sf_dir):
    """Semi-join pass-through: parts that ship in large quantity."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return part.join(
        li, part.p_partkey == li.l_partkey, how="left_semi"
    ).select("p_partkey", "p_name")


# ---------------------------------------------------------------------------
# north-star: text analysis


def q_doc_token_stats(spark, sf_dir):
    from simba_spark.operators.text import bpe_ish_token_count, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_subtokens"),
    )


def q_doc_quality(spark, sf_dir):
    from simba_spark.operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    return quality_score(docs).select(
        "doc_id", "n_tokens", "punct_ratio", "stopword_ratio", "quality_score"
    )


def q_doc_lang_id(spark, sf_dir):
    from simba_spark.operators.text import lang_id

    docs = _t(spark, sf_dir, "documents")
    return lang_id(docs).select("doc_id", "lang_pred")


def q_doc_fingerprint(spark, sf_dir):
    from simba_spark.operators.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return fingerprint(docs).select("doc_id", "fingerprint")


def q_exact_dedup(spark, sf_dir):
    from simba_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id")


def q_minhash_pairs(spark, sf_dir):
    """MinHash LSH near-dup candidates with the DuckDB-reproducible
    md5long hash — the oracle recomputes signatures, band collisions,
    and exact Jaccard end-to-end (the xxhash64 scale path is covered by
    pytest S-curve/recall tests)."""
    from simba_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, num_hashes=32, bands=16, shingle_k=5, hash_fn="md5long"
    )


def q_incremental_dedup(spark, sf_dir):
    """Incremental near-dup dedup (dedup.incremental_minhash_dedup) —
    the daily-crawl shape: documents with doc_id % 3 == 0 are the
    increment, the rest the standing corpus; the increment keeps only
    docs that near-dup neither the corpus (probed via the persistable
    band register — corpus text touched only for candidate ids) nor a
    smaller-id increment sibling (the one-sweep policy). md5long hash
    so the oracle replays signatures, band collisions, and exact
    Jaccard end-to-end."""
    from simba_spark.operators.dedup import incremental_minhash_dedup

    docs = _t(spark, sf_dir, "documents")
    inc = docs.filter(F.col("doc_id") % 3 == 0)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    out = incremental_minhash_dedup(
        inc, corpus, num_hashes=32, bands=16, shingle_k=5,
        jaccard_threshold=0.8, hash_fn="md5long")
    return out.select("doc_id")


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (md5long 60-bit hash): the oracle
    brute-forces Hamming <= 3 over all pairs — valid because pigeonhole
    chunk blocking is lossless, so blocked == brute force."""
    from simba_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=3, hash_fn="md5long")


#: shared by the `ngram_jaccard` oracle and as the TRUTH side of the
#: `blocking_eval` oracle (one source, no drift)
_NGRAM_JACCARD_ORACLE = r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents
            ), grams AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(t) >= 3
                            THEN list_transform(range(1, len(t) - 1),
                                                i -> array_to_string(t[i:i+2], ' '))
                            WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
                            ELSE [] END
                     ) AS g
              FROM toks
            ), scored AS (
              SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                     len(list_intersect(a.g, b.g)) AS inter,
                     len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS un
              FROM grams a, grams b
              WHERE a.doc_id < b.doc_id
            )
            SELECT a_id, b_id, inter::DOUBLE / un AS jaccard
            FROM scored WHERE un > 0 AND inter::DOUBLE / un >= 0.3
        """


def q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard >= 0.3 pairs, prefix-filtered shingle
    blocking + exact string-set verification. Fully oracle-checked: the
    DuckDB side recomputes word-3-gram sets and brute-forces all pairs."""
    from simba_spark.operators.dedup import ngram_jaccard_join

    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_join(docs, shingle_k=3, jaccard_threshold=0.3)


# ---------------------------------------------------------------------------
# north-star: similarity search


def q_mmr_rerank(spark, sf_dir):
    """MMR diversity re-ranking (operators.retrieval.mmr_rerank) of
    the top-40 cosine candidates for the vec_id=0 query: greedy
    λ·rel − (1−λ)·max-sim-to-selected, k=10 — the redundancy pass
    between retrieval and a RAG context window. k bounded rounds, no
    driver collect; cosines round to 6 before the max (the engine's
    vector ranking convention)."""
    from simba_spark.operators.retrieval import mmr_rerank
    from simba_spark.operators.similarity import cosine_topk

    embs = _t(spark, sf_dir, "embeddings")
    qvec = [float(x)
            for x in embs.filter(F.col("vec_id") == 0).first()["embedding"]]
    cand = cosine_topk(embs, qvec, 40).select(
        "vec_id", F.round("cosine_sim", 6).alias("rel"), "embedding")
    return mmr_rerank(cand, k=10, lam=0.7, id_col="vec_id",
                      score_col="rel", vec_col="embedding")


def q_embedding_topk(spark, sf_dir):
    from simba_spark.operators.similarity import cosine_topk

    embs = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = cosine_topk(embs, qvec, 10)
    return out.select("vec_id", F.round("cosine_sim", 4).alias("sim4"))


def q_vector_knn_join(spark, sf_dir):
    """Vector kNN self-join (cosine), exact algo — the windowed top-k
    oracle path of simba_spark.operators.similarity.knn_join_vectors;
    the LSH+multi-probe default is equivalence-tested against this in
    pytest. Ranking key is cosine rounded to 6dp (same convention the
    engine uses), ties by neighbor id."""
    from simba_spark.operators.similarity import knn_join_vectors

    embs = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    out = knn_join_vectors(embs, 3, algo="exact")
    return out.select(
        "a_id", "b_id", F.round("cosine_sim", 4).alias("sim4"), "rank"
    )


def q_embedding_dup_pairs(spark, sf_dir):
    """Cosine >= 0.42 pairs, left side blocked to vec_id % 5 == 0 so the
    DuckDB oracle's cross join stays tractable at sf0.01."""
    from simba_spark.operators.dedup import embedding_dup_pairs

    embs = _t(spark, sf_dir, "embeddings")
    left = embs.filter(F.col("vec_id") % 5 == 0)
    out = embedding_dup_pairs(left, threshold=0.42, algo="exact")
    return out.select("a_id", "b_id", F.round("cosine_sim", 4).alias("sim4"))


def q_contamination(spark, sf_dir):
    """Benchmark-contamination check: training docs sharing any 8-token
    shingle with the pseudo eval set (doc_id % 17 == 0) — the
    decontamination pass of a pretraining pipeline."""
    from simba_spark.operators.dedup import contamination_check

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 17 == 0)
    return contamination_check(docs, ev, shingle_k=8)


def q_doc_repetition(spark, sf_dir):
    """Within-doc repetition quality signals (dup token/2-gram/3-gram
    ratios) — Gopher-style boilerplate detection, zero shuffle."""
    from simba_spark.operators.text import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def q_doc_chunk(spark, sf_dir):
    """Token-window chunking with overlap (32-token chunks, stride 24):
    the splitter in front of packing/embedding indexes. Zero-shuffle
    explode+slice; short tail chunks dropped unless they are the only
    chunk."""
    from simba_spark.operators.text import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"),
        chunk_tokens=32, stride=24, min_tail_tokens=8,
    )


def q_dup_ngrams(spark, sf_dir):
    """Cross-document duplicated 5-gram fraction (C4/RefinedWeb
    boilerplate signal): gram shuffle + id shuffle, skew-bounded by
    aggregating hot grams to one row before the join-back."""
    from simba_spark.operators.dedup import dup_ngram_fraction

    return dup_ngram_fraction(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0),
        n=5, min_doc_count=2,
    )


def q_lm_score(spark, sf_dir):
    """Per-document mean unigram log-likelihood under the corpus's own
    add-0.5-smoothed unigram distribution — the cheap LM-quality /
    perplexity-proxy filter of a pretraining pipeline. One corpus
    term-count pass + a broadcast vocabulary join; avg rounded to 6dp
    (cross-engine float-sum convention)."""
    from simba_spark.operators.text import unigram_lm_score

    return unigram_lm_score(_t(spark, sf_dir, "documents"))


def q_pii_redact(spark, sf_dir):
    """PII redaction over documents deterministically enriched with
    synthetic PII spans (the corpus text itself is clean token soup, so
    the query plants emails / IPv4s / phones / cards / SSNs keyed on
    doc_id, then strips them). Pure regexp Column arithmetic — zero
    shuffle, whole-stage codegen (simba_spark.operators.text.pii_redact).
    """
    from simba_spark.operators.text import pii_redact

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    text = F.concat(
        F.col("text"),
        F.when(
            i % 3 == 0,
            F.concat(F.lit(" contact user"), s(i), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            i % 5 == 0,
            F.concat(F.lit(" from 10.0."), s(i % 256), F.lit(".17")),
        ).otherwise(F.lit("")),
        F.when(
            i % 7 == 0,
            F.concat(
                F.lit(" call +1 555-"),
                F.lpad(s(i % 10000), 4, "0"),
                F.lit("-"),
                F.lpad(s(i % 9999), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            i % 11 == 0,
            F.concat(F.lit(" card 4111 1111 1111 "), F.lpad(s(i % 10000), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            i % 13 == 0,
            F.concat(F.lit(" ssn 123-45-"), F.lpad(s(i % 10000), 4, "0")),
        ).otherwise(F.lit("")),
    )
    out = pii_redact(d.select("doc_id", text.alias("text")))
    return out.select(
        "doc_id",
        "n_email",
        "n_card",
        "n_ssn",
        "n_phone",
        "n_ipv4",
        "n_pii",
        "text_redacted",
    )


def q_paragraph_dedup(spark, sf_dir):
    """Paragraph-level exact dedup: documents rebuilt as two-paragraph
    texts where every group of five docs shares its group-leader's text
    as the second paragraph (planted boilerplate). The operator keeps
    only the globally first occurrence of each paragraph and reassembles
    — the leader doc also loses its own duplicated second paragraph
    (within-doc dedup). Decision shuffle is skinny (md5, id, pos) only
    (simba_spark.operators.dedup.paragraph_dedup)."""
    from simba_spark.operators.dedup import paragraph_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tmpl = d.select(
        F.col("doc_id").alias("__tid"), F.col("text").alias("__ttext")
    )
    built = (
        d.withColumn("__tid", F.col("doc_id") - F.col("doc_id") % 5)
        .join(F.broadcast(tmpl), on="__tid")
        .select(
            "doc_id",
            F.concat(
                F.concat_ws("\n\n", F.col("text"), F.col("__ttext")),
                F.when(
                    F.col("doc_id") % 2 == 0,
                    F.lit("\n\nSHARED FOOTER --- boilerplate"),
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
    )
    out = paragraph_dedup(built, "text", "doc_id")
    return out.select(
        "doc_id", F.md5("text").alias("text_md5"), "n_paras", "n_dropped"
    )


def q_mixture_sample(spark, sf_dir):
    """Target-mixture downsampling: balance the corpus to equal parts
    en/de/fr/es (zh dropped) — the largest such corpus achievable
    without upsampling, decided by the engine-stable md5 uniform. The
    binding (smallest) language keeps 100%
    (simba_spark.operators.pipeline.mixture_sample)."""
    from simba_spark.operators.pipeline import mixture_sample

    d = _t(spark, sf_dir, "documents")
    out = mixture_sample(
        d,
        source_col="lang",
        weights={"en": 1, "de": 1, "fr": 1, "es": 1},
        key_col="doc_id",
        seed=11,
    )
    return out.select("doc_id", "lang", "source")


def q_scrub_ngrams(spark, sf_dir):
    """Span-level boilerplate scrubbing: every token position covered by
    a 3-gram that appears in more than 2 distinct documents is removed
    and the text reassembled (the transform counterpart of dup_ngrams'
    signal). Skinny exploded rows — gram hashes are computed inside the
    token array (simba_spark.operators.dedup.remove_duplicated_ngrams)."""
    from simba_spark.operators.dedup import remove_duplicated_ngrams

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = remove_duplicated_ngrams(d, n=3, max_doc_freq=2)
    return out.select(
        "doc_id", F.md5("text").alias("text_md5"), "n_tokens", "n_removed"
    )


def q_global_order(spark, sf_dir):
    """Deterministic global training-order permutation: 0-based rank of
    every document under the seeded md5 ordering. Two-phase rank —
    range-repartition on the hash + broadcast per-partition offsets,
    never a single-partition window
    (simba_spark.operators.pipeline.global_order)."""
    from simba_spark.operators.pipeline import global_order

    d = _t(spark, sf_dir, "documents")
    return global_order(d, "doc_id", seed=5).select("doc_id", "train_order")


def q_inverted_index(spark, sf_dir):
    """Inverted index with the stop-term guard: document frequencies
    are computed on skinny rows first and terms with df > 395 never
    materialize a posting list anywhere in the plan (the 100 TB skew
    guard). Postings emitted as a CSV string for engine-portable
    comparison."""
    from simba_spark.operators.text import inverted_index

    out = inverted_index(_t(spark, sf_dir, "documents"), max_doc_freq=395)
    return out.select(
        "term",
        "doc_freq",
        "term_freq",
        F.array_join(F.transform("postings", lambda x: x.cast("string")), ",").alias(
            "postings_csv"
        ),
    )


def q_dedup_resolve(spark, sf_dir):
    """Near-dup clusters resolved to their best member: exact-cosine
    pairs (vec_id%5==0, thr 0.25 — the dedup_components family) →
    connected components → keep the highest-L2-norm member per cluster
    (ties → min id); unclustered rows pass through. The production
    ending of a near-dedup pipeline: dedup without downgrading the
    corpus."""
    from simba_spark.operators.dedup import dedup_resolve, embedding_dup_pairs

    embs = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    norm = F.round(
        F.sqrt(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ),
        6,
    )
    base = embs.select("vec_id", norm.alias("norm"), "label")
    pairs = embedding_dup_pairs(embs, threshold=0.25, algo="exact")
    return dedup_resolve(base, pairs, id_col="vec_id", score_col="norm")


def q_dedup_components(spark, sf_dir):
    """Exact near-dup clustering: cosine>=0.42 pairs (blocked to
    vec_id%5==0 like embedding_dup_pairs) → connected components →
    (id, component). The iterative min-label propagation is mirrored by
    a recursive CTE in DuckDB — a full oracle for an iterative op."""
    from simba_spark.operators.dedup import connected_components, embedding_dup_pairs

    embs = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    pairs = embedding_dup_pairs(embs, threshold=0.25, algo="exact")
    return connected_components(pairs).select("id", "component")


def q_embedding_ann_topk(spark, sf_dir):
    """Approximate top-k through a persisted LSH layout: multi-probe
    signature buckets are parquet partition dirs, so the probe prunes
    files at planning time (seeded; rows-only check)."""
    from simba_spark.operators.similarity import cosine_topk_ann_layout

    embs = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).first()["embedding"]]
    path = _ann_layout_path(spark, sf_dir)
    out = cosine_topk_ann_layout(spark, path, qvec, 10, probe_hamming=3)
    return out.select("vec_id", F.round("cosine_sim", 4).alias("sim4"))


def q_embedding_ivf_topk(spark, sf_dir):
    """Top-k through a persisted IVF layout at FULL probe width
    (nprobe = n_centroids): every inverted list is visited, so the
    result is exact by construction and the brute-force SQL is a true
    oracle — this checks the whole IVF path (layout write/load, list
    routing, per-list scoring) loses no rows at bucket boundaries.
    The approximate configuration (nprobe < C, partition-directory
    pruning) is recall- and plan-asserted in
    tests/test_similarity.py + test_plans.py."""
    from simba_spark.operators.similarity import cosine_topk_ivf_layout

    embs = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 7).first()["embedding"]]
    path = _ivf_layout_path(spark, sf_dir)
    out = cosine_topk_ivf_layout(spark, path, qvec, 10, nprobe=8)
    return out.select("vec_id", F.round("cosine_sim", 4).alias("sim4"))


def q_sq_topk(spark, sf_dir):
    """Scalar-quantization (SQ8) ANN at the exact-by-construction
    configuration (shortlist=None re-ranks every row with exact
    cosine) — oracles the train -> encode -> dequantized-ADC -> rerank
    plumbing like the pq_topk row; dim bytes/vector (4x vs float32),
    no codebook training, exact per-dim min/max bounds from ONE
    combine-friendly aggregate pass (no sample needed)."""
    from simba_spark.operators.pq import sq_topk, sq_train

    embs = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            embs.filter(F.col("vec_id") == 3).first()["embedding"]]
    model = sq_train(embs)
    out = sq_topk(embs, model, qvec, 10)
    return out.select("vec_id", F.round("cosine_sim", 4).alias("sim4"))


def q_pq_topk(spark, sf_dir):
    """Product-quantization ANN at the exact-by-construction
    configuration (shortlist=None re-ranks EVERY row with exact
    cosine), so the brute-force SQL is a true oracle for the whole
    train → encode → ADC-score → re-rank plumbing — the same trick as
    the full-probe IVF row. The approximate configuration (code-only
    scan, bounded shortlist; recall 1.0 at nbits=8/shortlist=50 on
    this table) is asserted in tests/test_pq.py."""
    from simba_spark.operators.pq import pq_topk, pq_train

    embs = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            embs.filter(F.col("vec_id") == 7).first()["embedding"]]
    model = pq_train(embs, m=8, nbits=4, sample_cap=512, iters=5,
                     seed=42)
    out = pq_topk(embs, model, qvec, 10)
    return out.select("vec_id", F.round("cosine_sim", 4).alias("sim4"))


def q_ivfpq_topk(spark, sf_dir):
    """Two-level IVF×PQ probe at the exact-by-construction
    configuration (nprobe = n_centroids visits every list,
    shortlist=None re-ranks every row) — the brute-force SQL oracles
    the COMPOSED layout: coarse routing via partition-directory
    pruning, ADC over 8-byte codes, exact re-rank. The approximate
    configuration (nprobe < C) is recall- and plan-asserted in
    tests/test_pq.py."""
    from simba_spark.operators.pq import ivfpq_topk

    embs = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            embs.filter(F.col("vec_id") == 7).first()["embedding"]]
    path = _ivfpq_layout_path(spark, sf_dir)
    out = ivfpq_topk(spark, path, embs, qvec, 10, nprobe=8)
    return out.select("vec_id", F.round("cosine_sim", 4).alias("sim4"))


def q_ivfpq_residual_topk(spark, sf_dir):
    """Residual-encoded IVF×PQ probe (pq.build_ivfpq_layout
    encode='residual' — the Jégou et al. IVFADC form) at the
    exact-by-construction configuration: nprobe = n_centroids visits
    every list through a union of per-list partition-pruned branches
    (each scored with its own q − centroid[list] LUT), shortlist=None
    re-ranks every row. The recall uplift of residual codes over raw
    at a tight shortlist is asserted in tests/test_pq.py and measured
    in bench_ann.json."""
    from simba_spark.operators.pq import ivfpq_topk

    embs = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in
            embs.filter(F.col("vec_id") == 7).first()["embedding"]]
    path = _ivfpq_residual_layout_path(spark, sf_dir)
    out = ivfpq_topk(spark, path, embs, qvec, 10, nprobe=8)
    return out.select("vec_id", F.round("cosine_sim", 4).alias("sim4"))


def q_term_stats(spark, sf_dir):
    """Corpus vocabulary stats: top-30 terms by document frequency
    (IDF/stopword-list input; explode + one combine-friendly groupBy)."""
    from simba_spark.operators.text import term_stats

    docs = _t(spark, sf_dir, "documents")
    out = term_stats(docs)
    return out.orderBy(F.col("doc_freq").desc(), F.col("term").asc()).limit(30)


def q_corpus_build(spark, sf_dir):
    """End-to-end corpus build — the pipeline ops COMPOSE: exact dedup
    (keep min doc_id per normalized-text fingerprint) → per-source
    quota (12) → sequence packing (3000 chars, global doc_id order).
    One SQL oracle mirrors the whole chain."""
    from simba_spark.operators.dedup import exact_dedup
    from simba_spark.operators.pipeline import group_quota, pack_sequences

    docs = _t(spark, sf_dir, "documents")
    deduped = exact_dedup(docs)
    quota = group_quota(deduped, "source", 12, order_col="doc_id")
    packed = pack_sequences(quota, "n_chars", 3000, order_col="doc_id")
    return packed.select("doc_id", "source", "pack_id", "pack_pos")


def q_corpus_build_v2(spark, sf_dir):
    """Full pretraining-corpus pipeline — every stage a first-class
    operator, one SQL oracle for the whole chain: exact dedup →
    DECONTAMINATION (drop docs sharing any 8-shingle with the pseudo
    eval set) → repetition filter (dup_3gram_ratio <= 0.1) →
    per-source quota (10) → sequence packing (3000 chars)."""
    from simba_spark.operators.dedup import contamination_check, exact_dedup
    from simba_spark.operators.pipeline import group_quota, pack_sequences
    from simba_spark.operators.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    deduped = exact_dedup(docs)
    ev = docs.filter(F.col("doc_id") % 17 == 0)
    hits = contamination_check(deduped, ev, shingle_k=8).select("doc_id")
    clean = deduped.join(hits, on="doc_id", how="left_anti")
    low_rep = repetition_stats(clean).filter(
        F.col("dup_3gram_ratio") <= 0.1
    ).select("doc_id")
    kept = clean.join(low_rep, on="doc_id", how="left_semi")
    quota = group_quota(kept, "source", 10, order_col="doc_id")
    packed = pack_sequences(quota, "n_chars", 3000, order_col="doc_id")
    return packed.select("doc_id", "source", "pack_id", "pack_pos")


def q_doc_sample(spark, sf_dir):
    """Deterministic hash sampling (reproducible corpus subsetting):
    membership = md5-derived uniform < rate, mirrored exactly in SQL."""
    from simba_spark.operators.pipeline import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.2, seed=7).select("doc_id", "source")


def q_source_quota(spark, sf_dir):
    """Per-source quota: at most 15 docs per source (binding at sf0.01:
    every source has 25 docs, so the quota actually cuts)."""
    from simba_spark.operators.pipeline import group_quota

    docs = _t(spark, sf_dir, "documents")
    return group_quota(docs, "source", 15, order_col="doc_id").select(
        "doc_id", "source"
    )


def q_doc_pack(spark, sf_dir):
    """Greedy sequence packing into ~4000-char packs over the global
    doc_id order — two-phase running total, no single-partition window."""
    from simba_spark.operators.pipeline import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, "n_chars", 4000, order_col="doc_id").select(
        "doc_id", "pack_id", "pack_pos"
    )


# ---------------------------------------------------------------------------
# north-star: multimodal


def q_blob_stats(spark, sf_dir):
    from simba_spark.operators.multimodal import attach_blob

    docs = _t(spark, sf_dir, "documents")
    out = attach_blob(docs, "text", media_type="text/plain")
    return out.select(
        "doc_id",
        F.col("blob_meta.byte_size").alias("byte_size"),
        F.col("blob_meta.content_hash").alias("content_hash"),
    )


def q_image_features(spark, sf_dir):
    """Deterministic fake decode through mapInPandas (real codec is a
    stub — SURVEY north-star; rows-only check)."""
    from simba_spark.operators.multimodal import attach_blob, decode_image_features

    docs = _t(spark, sf_dir, "documents")
    blobs = attach_blob(docs, "text")
    return decode_image_features(blobs, mode="fake")


def q_video_frames(spark, sf_dir):
    """Frame sampling over video-like payloads (fake demux — the codec
    seam takes a real one); one row per sampled frame through Arrow
    mapInPandas, frame hashes recomputed from md5 text bytes in SQL."""
    from simba_spark.operators.multimodal import attach_blob, sample_frames

    docs = _t(spark, sf_dir, "documents")
    blobs = attach_blob(docs, "text")
    return sample_frames(blobs, every_n=10, mode="fake")


def q_audio_features(spark, sf_dir):
    """Audio-feature extraction plumbing (codec stubbed; rows-only)."""
    from simba_spark.operators.multimodal import attach_blob, extract_audio_features

    docs = _t(spark, sf_dir, "documents")
    blobs = attach_blob(docs, "text")
    return extract_audio_features(blobs, mode="fake")


def q_hll_orders(spark, sf_dir):
    """HyperLogLog distinct estimate next to the exact count
    (operators.sketches.hll_distinct): approx distinct l_orderkey per
    l_returnflag from md5-derived registers — the combine-friendly
    sketch whose reduce input is ≤ 2^p rows/group no matter how many
    rows feed it. The oracle recomputes the identical registers,
    harmonic mean, and linear-counting branch in SQL."""
    from simba_spark.operators.sketches import hll_distinct

    li = _t(spark, sf_dir, "lineitem")
    approx = hll_distinct(
        li, "l_orderkey", group_by=["l_returnflag"], p=12,
        out_col="approx_orders",
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders")
    )
    return approx.join(exact, "l_returnflag")


def q_theta_parts(spark, sf_dir):
    """Theta-sketch set cardinalities (operators.sketches.kmv_theta):
    distinct-part overlap between two lineitem slices (parts shipped in
    Feb 1995 vs parts ordered in quantity ≥ 49) estimated from the
    k=256 minimum hashes of the union — set intersection over
    arbitrarily large sides for the cost of two skinny distincts and a
    top-k."""
    from simba_spark.operators.sketches import kmv_theta

    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(
        "l_shipdate >= '1995-02-01' AND l_shipdate < '1995-03-01'"
    )
    b = li.filter("l_quantity >= 49")
    return kmv_theta(a, b, "l_partkey", k=256)


def q_theta_active(spark, sf_dir):
    """Persisted-theta-sketch set operations
    (operators.sketches.theta_sketch/theta_intersect): per-priority
    customer overlap between two overlapping order-date windows. Each
    side is reduced to its k=256 smallest distinct custkey hashes (the
    mergeable sketch you'd persist per day at 100 TB); the intersect
    estimates A/B/A∪B/A∩B at the common threshold min(θa, θb) without
    touching raw data again. Exact when a side holds < k keys."""
    from simba_spark.operators.sketches import theta_intersect, theta_sketch

    orders = _t(spark, sf_dir, "orders")
    a = orders.filter("o_orderdate < '1999-01-01'")
    b = orders.filter("o_orderdate >= '1997-01-01'")
    k = 256
    return theta_intersect(
        theta_sketch(a, "o_custkey", ["o_orderpriority"], k=k),
        theta_sketch(b, "o_custkey", ["o_orderpriority"], k=k),
        group_by=["o_orderpriority"], k=k,
    )


def q_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank (operators.graph.pagerank) over the
    customer→supplier trade graph (distinct (o_custkey, l_suppkey)
    pairs via orders⋈lineitem; suppliers with suppkey%3==0 link back,
    the rest are dangling). Per iteration one SQL statement: one join
    + one aggregate that also carries the dangling mass, checkpointed
    ranks. Oracle: the same 6 iterations unrolled as chained CTEs."""
    from simba_spark.operators.graph import pagerank

    return pagerank(_trade_edges(spark, sf_dir), iters=6)


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (operators.pipeline.weighted_sample): 200 documents drawn with
    probability ∝ n_chars via the Efraimidis–Spirakis key
    u^(1/w) over the engine's md5 uniform — one TakeOrderedAndProject
    pass, no RNG state, stable across partitioning and engines."""
    from simba_spark.operators.pipeline import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", 200, seed=7).select(
        "doc_id", "source", "n_chars"
    )


def q_hll_merged(spark, sf_dir):
    """Mergeable-sketch workflow (operators.sketches.hll_sketch/merge/
    estimate): lineitem split into two arbitrary halves, each half
    sketched independently (the ≤ 2^p register rows are what a real
    pipeline persists per day/partition), the sketches max-merged and
    estimated — and the merged estimate is checked against sketching
    the whole table directly. merged == direct by construction
    (register max is lossless), which this row exhibits as data."""
    from simba_spark.operators.sketches import (
        hll_distinct, hll_estimate, hll_merge, hll_sketch,
    )

    li = _t(spark, sf_dir, "lineitem")
    h1 = li.filter("l_linenumber % 2 = 0")
    h2 = li.filter("l_linenumber % 2 = 1")
    merged = hll_estimate(
        hll_merge(
            [
                hll_sketch(h1, "l_orderkey", ["l_returnflag"], p=11),
                hll_sketch(h2, "l_orderkey", ["l_returnflag"], p=11),
            ],
            ["l_returnflag"],
        ),
        ["l_returnflag"], p=11, out_col="merged_est",
    )
    direct = hll_distinct(
        li, "l_orderkey", ["l_returnflag"], p=11, out_col="direct_est"
    )
    return merged.join(direct, "l_returnflag")


def q_ivf_knn_join(spark, sf_dir):
    """IVF-bucketed two-sided vector kNN join (operators.similarity.
    ivf_knn_join) at FULL probe width (nprobe = n_centroids): every
    inverted list is probed, so the result is exact by construction
    and the brute-force window SQL is a true oracle — this checks the
    whole join path (sampled quantizer, literal list assignments, the
    explode-probe replication, within-list ranking) loses no pairs at
    list boundaries. The approximate nprobe < C configuration is
    recall-asserted in tests/test_similarity.py. A right row lives in
    exactly one list, so no dedup stage exists; the all-pairs
    cartesian never materializes at nprobe < C."""
    from simba_spark.operators.similarity import ivf_knn_join

    embs = _t(spark, sf_dir, "embeddings")
    out = ivf_knn_join(
        embs.filter(F.col("vec_id") % 9 == 0),
        embs.filter(F.col("vec_id") % 3 == 1),
        k=3, n_centroids=8, nprobe=8)
    return out.select(
        "a_id", "b_id", F.round("cosine_sim", 4).alias("sim4"), "rank")


def q_ivfpq_knn_join(spark, sf_dir):
    """IVF×PQ two-sided vector kNN join (operators.similarity.
    ivfpq_knn_join) at FULL probe width with an all-pass shortlist:
    every inverted list is probed and every ADC-scored candidate
    reaches the exact re-rank, so the brute-force window SQL is a true
    oracle while the row still drives the whole codes pipeline —
    sampled coarse quantizer, per-subspace PQ codebooks, the 2-byte*m
    code encode, the JOIN-form ADC fold (each left row is its own
    query), the shortlist window, and the skinny id re-rank join. The
    production nprobe < C / small-shortlist configuration is
    recall-asserted in tests/test_pq.py and measured in
    bench_ann.json. At 100 TB the candidate equi-join carries m-byte
    codes instead of full vectors — a 32× byte reduction at 64-d
    float — and only ≤ shortlist rows per left row ever fetch a
    vector."""
    from simba_spark.operators.similarity import ivfpq_knn_join

    embs = _t(spark, sf_dir, "embeddings")
    out = ivfpq_knn_join(
        embs.filter(F.col("vec_id") % 21 == 0),
        embs.filter(F.col("vec_id") % 3 == 2),
        k=3, n_centroids=8, nprobe=8, m=8, nbits=4, shortlist=100_000)
    return out.select(
        "a_id", "b_id", F.round("cosine_sim", 4).alias("sim4"), "rank")


def q_silhouette(spark, sf_dir):
    """Per-cluster simplified silhouette (operators.clustering.
    silhouette) of the kmeans_embeddings clustering (k=4, 2 iters):
    the O(n*k) centroid form — a = dist to own centroid, b = dist to
    nearest other, s = (b-a)/max(a,b) — the clustering-quality
    diagnostic that scales where pairwise silhouette can't. One
    zero-shuffle literal-centroid projection + one skinny
    groupBy(cluster); distances reuse the assignment's left-folded
    codegen chain (bit-identical in the oracle)."""
    from simba_spark.operators.clustering import silhouette

    emb = _t(spark, sf_dir, "embeddings")
    return silhouette(emb, vec_col="embedding", id_col="vec_id",
                      k=4, iters=2, dim=64)


def q_quantile_events(spark, sf_dir):
    """Mergeable quantile sketch (operators.sketches.quantile_digest):
    p50/p90/p99 of events.value per event_type from the k=512 bottom-k
    uniform row sample (smallest md5 hashes of the unique event_id).
    The rank-filtered window compiles to WindowGroupLimit — partial
    per-partition top-k before the exchange, so each partition ships
    ≤ k skinny rows per group however many it holds; the exact
    `percentile` agg cannot pre-aggregate at all, which is the 100 TB
    problem this solves. The oracle recomputes the identical sample
    and interpolation arithmetic in SQL."""
    from simba_spark.operators.sketches import quantile_digest

    ev = _t(spark, sf_dir, "events")
    return quantile_digest(
        ev, "value", "event_id", qs=(0.5, 0.9, 0.99),
        group_by=["event_type"], k=512,
    )


def q_quantile_merged(spark, sf_dir):
    """Sketch-merge workflow (operators.sketches.quantile_sketch/merge/
    estimate): events split into two arbitrary halves, each sketched
    independently (the ≤ k sample rows are what a pipeline persists per
    day), bottom-k-merged and estimated — next to estimating the whole
    table directly. Bottom-k is associative, so merged == direct
    EXACTLY, which this row exhibits as data (same pattern as
    hll_merged)."""
    from simba_spark.operators.sketches import (
        quantile_digest, quantile_estimate, quantile_merge, quantile_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    h1 = ev.filter("event_id % 2 = 0")
    h2 = ev.filter("event_id % 2 = 1")
    merged = quantile_estimate(
        quantile_merge(
            [
                quantile_sketch(h1, "value", "event_id",
                                ["event_type"], k=256),
                quantile_sketch(h2, "value", "event_id",
                                ["event_type"], k=256),
            ],
            ["event_type"], k=256,
        ),
        qs=(0.5, 0.99), group_by=["event_type"],
    ).withColumnsRenamed({"q500": "merged_q500", "q990": "merged_q990"})
    direct = quantile_digest(
        ev, "value", "event_id", qs=(0.5, 0.99),
        group_by=["event_type"], k=256,
    ).withColumnsRenamed({"q500": "direct_q500", "q990": "direct_q990"})
    return merged.join(direct, "event_type")


def q_triangles(spark, sf_dir):
    """Exact triangle count (operators.graph.triangle_count) over the
    part-co-occurrence graph (parts appearing in the same order among
    the first 3 line numbers). Degree-ordered edge orientation bounds
    the wedge intermediate at O(m^1.5) even under hub parts — the
    naive wedge join is sum-of-squared-hub-degrees."""
    from simba_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").filter("l_linenumber <= 3")
    a = li.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("dst"))
    edges = a.join(b, "l_orderkey").filter("src < dst").select("src", "dst")
    return triangle_count(edges)


def q_events_json(spark, sf_dir):
    """Semi-structured pass-through: JSON extraction from the events
    props column (Spark get_json_object — inherited surface, asserted
    against DuckDB's independent JSON parser) + per-type stats."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


def q_events_histogram(spark, sf_dir):
    """Fixed-width histogram profile (operators.stats.histogram_fixed):
    25 bins of events.value per event_type; out-of-range rows clamp
    into the edge bins so the histogram is total. One skinny groupBy —
    ≤ nbins rows per group leave any partition."""
    from simba_spark.operators.stats import histogram_fixed

    ev = _t(spark, sf_dir, "events")
    return histogram_fixed(
        ev, "value", 0.0, 500.0, nbins=25, group_by=["event_type"]
    )


def q_heavy_tokens(spark, sf_dir):
    """Exact heavy hitters (operators.stats.heavy_hitters) over the
    corpus token stream: tokens carrying >= 0.5% of all token
    occurrences, with exact counts and shares — the profiling pass
    behind stopword lists. Map-side combine absorbs hot tokens before
    the skinny per-token shuffle."""
    from simba_spark.operators.stats import heavy_hitters
    from simba_spark.operators.text import TOKEN_SPLIT_RE

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT_RE)
        ).alias("token")
    ).filter(F.col("token") != "")
    return heavy_hitters(toks, "token", min_share=0.005)


def q_cm_heavy(spark, sf_dir):
    """Count-Min sketch (operators.sketches.cm_sketch/cm_estimate):
    approximate token frequencies from a depth=4 × width=2048 counter
    grid next to the exact counts of the heavy tokens. ≤ depth·width
    skinny rows leave any partition however many tokens it held — the
    bounded-memory complement to exact heavy_hitters when the value
    universe is too wide to shuffle; CM never underestimates, which
    this row exhibits as data (n_cm >= n_exact). All-integer counts,
    so the oracle reproduces the grid and the min-over-depths probe
    exactly."""
    from simba_spark.operators.sketches import cm_estimate, cm_sketch
    from simba_spark.operators.stats import heavy_hitters
    from simba_spark.operators.text import TOKEN_SPLIT_RE

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), TOKEN_SPLIT_RE)
        ).alias("token")
    ).filter(F.col("token") != "")
    sk = cm_sketch(toks, "token", depth=4, width=2048)
    # hh is referenced twice (probe items + final join) — a lazy
    # localCheckpoint computes the token-count subtree once instead of
    # re-exploding the corpus per reference
    hh = heavy_hitters(toks, "token", min_share=0.005).select(
        F.col("value").alias("token"), F.col("n").alias("n_exact")
    ).localCheckpoint(eager=False)
    est = cm_estimate(sk, hh.select("token"), "token",
                      depth=4, width=2048, out_col="n_cm")
    return hh.join(est, "token")


def q_winsorize_events(spark, sf_dir):
    """Sketched winsorization (operators.pipeline.winsorize): events
    values clipped to the [p2, p98] thresholds estimated by the
    bottom-k quantile sketch — the robustification pass before
    normalizing a feature column. The whole program is one plan (the
    1-row threshold frame broadcasts back, no driver collect), so the
    oracle reproduces sketch + interpolation + clip bit-for-bit."""
    from simba_spark.operators.pipeline import winsorize

    ev = _t(spark, sf_dir, "events")
    return winsorize(
        ev, "value", "event_id", lo_q=0.02, hi_q=0.98, k=512,
    ).select("event_id", "event_type", "value", "value_w")


def q_kmeans_embeddings(spark, sf_dir):
    """Distributed Lloyd's k-means (operators.clustering.kmeans) over
    the embeddings table: k=4 centroids, 2 iterations, deterministic
    bottom-k-by-md5 init. Per iteration: ONE zero-shuffle literal-
    centroid assignment projection + ONE skinny groupBy(cluster) with
    per-dimension round(avg, 6); only k x d doubles ever reach the
    driver. Oracle: the same iterations unrolled as chained CTEs with
    the identical left-folded distance arithmetic — assignments match
    bit-for-bit."""
    from simba_spark.operators.clustering import kmeans

    emb = _t(spark, sf_dir, "embeddings")
    out, _ = kmeans(emb, vec_col="embedding", id_col="vec_id",
                    k=4, iters=2, dim=64)
    return out.select("vec_id", "cluster")


def q_events_ewma(spark, sf_dir):
    """Bounded-window EWMA per user (operators.timeseries.ewma,
    alpha=0.25, last 8 observations): one ordered window pass, two
    constant-size aggregate folds per row; numerator and weight sum
    use the SAME left fold so the oracle's list_reduce matches
    bit-for-bit (no libm pow divergence)."""
    from simba_spark.operators.timeseries import ewma

    ev = _t(spark, sf_dir, "events")
    out = ewma(ev, ts_col="ts", key_col="user_id", value_col="value",
               alpha=0.25, window=8, tiebreak_col="event_id")
    return out.select("event_id", "ewma")


def q_cov_matrix(spark, sf_dir):
    """Sample covariance matrix (operators.stats.cov_matrix): all
    lineitem numeric pairs incl. variances in ONE aggregate pass,
    tidy (col_a, col_b, n_pairs, cov) rows rounded to 6 — the PCA /
    feature-scaling input. Oracle: same single-aggregate program."""
    from simba_spark.operators.stats import cov_matrix

    li = _t(spark, sf_dir, "lineitem")
    return cov_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])


def q_validate_events(spark, sf_dir):
    """Row-level data-quality gate (operators.pipeline.validate_rows):
    events checked against 4 named rules (non-null finite value,
    known event_type, non-null user, ts present); emits each row's
    sorted failed-rule list (empty = clean) — zero-shuffle codegen,
    NULL rule results count as failures. Oracle: the identical CASE
    array + list_filter."""
    from simba_spark.operators.pipeline import validate_rows

    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    rules = {
        "value_finite": v.isNotNull() & ~F.isnan(v)
        & (F.abs(v) != F.lit(float("inf"))),
        "known_type": F.col("event_type").isin("click", "view", "purchase"),
        "user_present": F.col("user_id").isNotNull(),
        "ts_present": F.col("ts").isNotNull(),
    }
    out = validate_rows(ev, rules)
    return out.select(
        "event_id", F.array_join("failed_rules", ",").alias("failed"))


def q_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation screen (operators.stats.corr_matrix):
    all lineitem numeric-pair correlations in ONE aggregate pass (no
    joins), tidy (col_a, col_b, n_pairs, corr) rows rounded to 6.
    Oracle: the same single-aggregate + per-pair projection."""
    from simba_spark.operators.stats import corr_matrix

    li = _t(spark, sf_dir, "lineitem")
    return corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])


def q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood dedup blocking
    (operators.dedup.sorted_neighborhood_pairs, Hernández & Stolfo
    merge/purge): documents ranked by normalized text, candidate
    pairs within 3 ranks — two-phase global rank + band equi-join,
    output bounded by n*window. Oracle: row_number over the identical
    order key + rank-distance self-join."""
    from simba_spark.operators.dedup import sorted_neighborhood_pairs

    docs = _t(spark, sf_dir, "documents")
    docs = docs.withColumn("__norm", F.lower(F.trim("text")))
    return sorted_neighborhood_pairs(docs, "__norm", "doc_id", window=3)


def q_quantile_bin(spark, sf_dir):
    """Equal-frequency feature binning
    (operators.pipeline.quantile_bin): events.value into 8 bins at
    sketched i/8-quantile cuts — QuantileDiscretizer semantics as one
    lazy engine-reproducible plan (<= k sketch rows shuffle, 1-row
    broadcast thresholds, codegen comparison-sum assignment). Oracle:
    identical sketch + interpolation + comparison sum."""
    from simba_spark.operators.pipeline import quantile_bin

    ev = _t(spark, sf_dir, "events")
    out = quantile_bin(ev, "value", "event_id", nbins=8, k=512)
    return out.select("event_id", "value_bin")


def q_table_diff(spark, sf_dir):
    """Snapshot reconciliation (operators.pipeline.table_diff): diff
    orders against a simulated next-day snapshot (keys %13==0 removed,
    %7==0 repriced, %11==0 re-inserted under offset keys) — one
    full-outer shuffle join on pre-projected keys+compare columns,
    null-safe per-column comparison, codegen status CASE. Oracle: the
    same FULL JOIN + IS DISTINCT FROM program."""
    from simba_spark.operators.pipeline import table_diff

    orders = _t(spark, sf_dir, "orders")
    changed = F.when(F.col("o_orderkey") % 7 == 0,
                     F.col("o_totalprice") * F.lit(0.9)) \
        .otherwise(F.col("o_totalprice"))
    right = (
        orders.filter(F.col("o_orderkey") % 13 != 0)
        .select("o_orderkey", changed.alias("o_totalprice"),
                "o_orderstatus")
        .unionAll(
            orders.filter(F.col("o_orderkey") % 11 == 0)
            .select((F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                    "o_totalprice", "o_orderstatus"))
    )
    out = table_diff(orders, right, key_cols=["o_orderkey"],
                     compare_cols=["o_totalprice", "o_orderstatus"])
    return out.select(
        "o_orderkey", "diff_status",
        F.array_join("changed_cols", ",").alias("changed"))


def q_events_gapfill(spark, sf_dir):
    """Dense hourly resample per user with LINEAR INTERPOLATION across
    empty buckets (timeseries.resample interp policy — TimescaleDB's
    time_bucket_gapfill + interpolate analog): counts zero-filled,
    the hourly avg linearly interpolated between the bracketing
    non-empty hours (leading/trailing gaps stay NULL). Oracle: the
    same bracketing ignore-nulls window scans + identical
    interpolation arithmetic."""
    from simba_spark.operators.timeseries import resample

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("tus", _ts_us(ev, "ts"))
    out = resample(
        ev,
        ts_col="tus",
        key_col="user_id",
        bucket_us=3_600_000_000,
        aggs={
            "n_events": F.count(F.lit(1)),
            "avg_value": F.round(F.avg("value"), 4),
        },
        zero_fill=("n_events",),
        interp=("avg_value",),
    )
    return out.select("user_id", "bucket", "n_events", "avg_value")


def q_leakage_split(spark, sf_dir):
    """Leakage-safe train/val/test split
    (operators.pipeline.split_assign): every row sharing an exact-dup
    fingerprint group lands in the same split (near/exact duplicates
    can never straddle train/test, unlike per-row randomSplit);
    zero-shuffle md5-uniform CASE, stable across partitioning and
    engines. Oracle: the identical fingerprint + cumulative-boundary
    CASE expression."""
    from simba_spark.operators.pipeline import split_assign
    from simba_spark.operators.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    out = split_assign(fingerprint(docs), key_col="fingerprint",
                       splits=(("train", 0.8), ("val", 0.1),
                               ("test", 0.1)), seed=7)
    return out.select("doc_id", "fingerprint", "split")


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic near-dup pairs
    (operators.dedup.semantic_dedup_pairs): k-means clusters (k=4,
    2 Lloyd iterations, Arrow assignment kernel) block the candidate
    space, cosine >= 0.42 checked within clusters only — the n^2/k
    candidate bound that makes embedding dedup viable at corpus scale.
    Oracle: the kmeans assignment CTEs (identical distance arithmetic)
    + the same within-cluster pair join."""
    from simba_spark.operators.dedup import semantic_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(emb, threshold=0.42, k=4, iters=2, dim=64)


def q_dataset_fingerprint(spark, sf_dir):
    """Order-insensitive dataset content fingerprint (operators.
    pipeline.dataset_fingerprint) of lineitem over its key + measure
    columns: exact md5-prefix sum mod 2^64 — the one-aggregate
    migration/backfill parity check (partials commute, so the result
    is partitioning/engine independent by construction)."""
    from simba_spark.operators.pipeline import dataset_fingerprint

    li = _t(spark, sf_dir, "lineitem")
    return dataset_fingerprint(
        li, ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
             "l_returnflag"])


def q_pmi_collocations(spark, sf_dir):
    """NPMI collocation scoring (operators.text.pmi_collocations) over
    the same a-priori-pruned doc-co-occurrence frame as token_cooc —
    association strength instead of raw counts: a pair that always
    co-occurs scores 1 whatever its frequency, chance pairs score 0.
    Log arguments are exact integer products; the one libm ln rounds
    to 6 per the engine float convention."""
    from simba_spark.operators.text import pmi_collocations

    docs = _t(spark, sf_dir, "documents")
    return pmi_collocations(docs, min_doc_freq=120, min_pair_freq=60)


def q_token_cooc(spark, sf_dir):
    """Frequent token co-occurrence (operators.text.token_cooccurrence,
    a-priori-pruned pair mining): token pairs sharing >= 60 documents,
    each token itself in >= 120 documents. The singleton filter runs on
    skinny distinct (doc, token) rows FIRST, so the quadratic pair join
    only sees each doc's frequent tokens — the bound that keeps
    market-basket mining feasible at corpus scale."""
    from simba_spark.operators.text import token_cooccurrence

    docs = _t(spark, sf_dir, "documents")
    return token_cooccurrence(docs, min_doc_freq=120, min_pair_freq=60)


def q_table_profile(spark, sf_dir):
    """One-scan column profiler (operators.stats.profile_columns):
    per-column nonnull/null/distinct/min/max/mean over lineitem — the
    new-data-drop sanity pass. Single aggregate pass (multi-column
    COUNT(DISTINCT) via Spark's Expand)."""
    from simba_spark.operators.stats import profile_columns

    return profile_columns(_t(spark, sf_dir, "lineitem"))


#: lineitem columns for the profile oracle: (name, orderable, numeric)
_PROFILE_COLS = [
    ("l_orderkey", True, True), ("l_partkey", True, True),
    ("l_suppkey", True, True), ("l_linenumber", True, True),
    ("l_quantity", True, True), ("l_extendedprice", True, True),
    ("l_discount", True, True), ("l_tax", True, True),
    ("l_returnflag", True, False), ("l_linestatus", True, False),
    ("l_shipdate", True, False),
]


def _profile_oracle_sql() -> str:
    blocks = []
    for c, orderable, numeric in _PROFILE_COLS:
        mi = f"CAST(min({c}) AS VARCHAR)" if orderable else "NULL"
        ma = f"CAST(max({c}) AS VARCHAR)" if orderable else "NULL"
        av = f"round(avg({c}), 6)" if numeric else "CAST(NULL AS DOUBLE)"
        blocks.append(
            f"SELECT '{c}' AS column, count({c}) AS n_nonnull, "
            f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null, "
            f"count(DISTINCT {c}) AS n_distinct, {mi} AS min_value, "
            f"{ma} AS max_value, {av} AS mean_value FROM lineitem"
        )
    return "\nUNION ALL\n".join(blocks)


def q_bloom_join(spark, sf_dir):
    """Bloom-filter join pruning (operators.pipeline.bloom_semi_join,
    how='inner'): lineitem is cut to (probably-)matching rows by a
    broadcast bitset built from BUILDING-segment order keys BEFORE its
    shuffle, then exactly joined — identical rows to the plain join
    (bloom filters have no false negatives), which IS the oracle. The
    100 TB win: the fact-table shuffle carries ~|matches| rows, not
    the full scan."""
    from simba_spark.operators.pipeline import bloom_semi_join

    cust = _t(spark, sf_dir, "customer").filter("c_mktsegment = 'BUILDING'")
    orders = _t(spark, sf_dir, "orders")
    sm = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    # size m from the ACTUAL build side (~14 bits/key per the SCALE.md
    # sizing table) — one small count job, exactly how a real pipeline
    # sizes the filter; a constant m would silently stop pruning at the
    # next scale up (at sf1's 297k keys a 2^18 filter is 98% full).
    # The build side is read three times (count, bitset build, exact
    # join) — persist it, it is broadcast-small by contract. k=3 hashes:
    # at >= 10 bits/key fpr is already ~0.7%, and each extra hash is
    # another explode row per key and literal reference in the probe.
    sm = sm.persist()
    n_keys = max(1, sm.count())
    m_bits = 1 << max(17, min(24, (14 * n_keys - 1).bit_length()))
    joined = bloom_semi_join(
        li, sm, "l_orderkey", "o_orderkey", m_bits=m_bits, n_hashes=3,
        how="inner",
    )
    out = joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        _cents_sum(
            F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
        ).alias("revenue"),
    )
    # materialize the <= 5-row aggregate (bounded by distinct order
    # priorities) so the cached build side can be released NOW instead
    # of pinning executor storage for the rest of the session
    rows = out.collect()
    sm.unpersist()
    return spark.createDataFrame(rows, out.schema)


def q_stickiness(spark, sf_dir):
    """DAU/MAU stickiness per month (operators.analytics.stickiness):
    avg observed-day DAU over MAU from two combine-friendly distinct
    aggregates — shuffles carry distinct (bucket, user) pairs, never
    events."""
    from simba_spark.operators.analytics import stickiness

    return stickiness(_t(spark, sf_dir, "events"))


def q_funnel(spark, sf_dir):
    """Ordered-funnel analysis (operators.analytics.funnel): users
    progressing signup → view → click → purchase in timestamp order,
    each step's time at-or-after the previous step's. k-1 chained
    min-aggregate joins on the user key — never a per-user event-array
    collect, so a hot user costs the same as anyone else."""
    from simba_spark.operators.analytics import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(ev, ["signup", "view", "click", "purchase"])


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention (operators.analytics.cohort_retention):
    users bucketed by the week of their first event, distinct-counted
    in each later week. Two skinny shuffles (first-touch groupBy +
    (cohort, offset) distinct count)."""
    from simba_spark.operators.analytics import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"))


def q_volume_anomaly(spark, sf_dir):
    """Event-volume anomaly detection (operators.analytics.
    volume_anomaly): hourly (event_type, hour) counts z-scored against
    each type's mean/stddev across hours; |z| > 2 flagged. The raw
    table collapses to skinny counts in one combine-friendly shuffle;
    the moment table is #types rows, broadcast back."""
    from simba_spark.operators.analytics import volume_anomaly

    return volume_anomaly(_t(spark, sf_dir, "events"))


def q_prf_bm25(spark, sf_dir):
    """Pseudo-relevance-feedback retrieval (operators.retrieval.
    prf_expand composed with bm25_topk): the {hash, join, spark}
    query expanded with the top-5 idf-discounted terms of its own
    top-10 feedback docs, then re-ranked — the RM1-style expanded
    round. The expansion list is a parameter-bounded 5-row collect;
    the oracle re-derives the identical terms in SQL and runs the
    term-table-parameterized BM25."""
    from simba_spark.operators.retrieval import prf_expand
    from simba_spark.operators.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    orig = ["hash", "join", "spark"]
    exp = [r.term for r in
           prf_expand(docs, orig, k_docs=10, k_terms=5)
           .orderBy(F.desc("weight"), F.asc("term")).collect()]
    return bm25_topk(docs, orig + exp, k=25)


def q_qlm_retrieval(spark, sf_dir):
    """Dirichlet query-likelihood retrieval (operators.text.
    lm_dirichlet_topk): top-25 documents for {hash, join, spark} under
    the Zhai–Lafferty LM ranking (Lucene LMDirichletSimilarity
    convention, mu=2000) — the language-model companion to the bm25
    row on the same query. Same postings-only shuffle shape: the term
    filter precedes the tf aggregation, |C| and the per-term
    collection frequencies broadcast, one TakeOrderedAndProject."""
    from simba_spark.operators.text import lm_dirichlet_topk

    docs = _t(spark, sf_dir, "documents")
    return lm_dirichlet_topk(docs, ["hash", "join", "spark"], k=25)


def q_lexdiv(spark, sf_dir):
    """Per-document lexical diversity (operators.text.
    lexical_diversity): type-token ratio, hapax share, Guiraud index —
    the vocabulary-richness quality signal behind boilerplate /
    keyword-stuffing filters. One tokenize-explode reduced map-side to
    (doc, term) pairs, then one per-doc aggregate; exact counts."""
    from simba_spark.operators.text import lexical_diversity

    return lexical_diversity(_t(spark, sf_dir, "documents"))


def q_bm25(spark, sf_dir):
    """BM25 ranked retrieval (operators.text.bm25_topk): top-25
    documents for the query {hash, join, spark} under Okapi BM25 with
    Lucene's non-negative idf. The term filter lands BEFORE the tf
    aggregation (the shuffle carries the query's postings only, not
    the corpus), doc length is a separate skinny count, and the final
    top-k is one TakeOrderedAndProject on the rounded score."""
    from simba_spark.operators.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, ["hash", "join", "spark"], k=25)


def q_hits(spark, sf_dir):
    """HITS hubs/authorities (operators.graph.hits) over the trade
    graph, 4 rounds, L1-normalized (no libm sqrt — oracle-exact).
    Per round: two skinny join+groupBy passes + two 1-row normalizer
    broadcasts; score frames checkpoint so lineage stays flat."""
    from simba_spark.operators.graph import hits

    return hits(_trade_edges(spark, sf_dir), iters=4)


def q_shortest_paths(spark, sf_dir):
    """Weighted SSSP (operators.graph.shortest_paths): Bellman–Ford
    distances from customer 1 over the trade graph with deterministic
    edge weights (dst % 7 + 1); 4 relaxation rounds = exact for paths
    of ≤ 4 edges. Per round: one frontier⋈edges join + one skinny min
    groupBy; distance frame checkpointed so lineage stays flat."""
    from simba_spark.operators.graph import shortest_paths

    e = _trade_edges(spark, sf_dir).withColumn(
        "w", (F.col("dst") % 7 + 1).cast("double")
    )
    return shortest_paths(e, 1, weight="w", iters=4)


def q_psi_drift(spark, sf_dir):
    """Feature-drift monitoring (operators.stats.psi_drift): PSI of
    order totalprice between the pre-1998 reference and the 1998+
    current snapshot. Bin edges are the REFERENCE's equal-frequency
    sketch quantiles applied to both sides; one sketch pass + two
    zero-shuffle bin assignments + two ≤ nbins-row aggregates."""
    from simba_spark.operators.stats import psi_drift

    orders = _t(spark, sf_dir, "orders")
    ref = orders.filter("o_orderdate < '1998-01-01'")
    cur = orders.filter("o_orderdate >= '1998-01-01'")
    return psi_drift(ref, cur, "o_totalprice", "o_orderkey", nbins=10)


def q_robust_z(spark, sf_dir):
    """Median/MAD robust outlier scoring (operators.stats.robust_zscore):
    modified z-scores for event values per event_type — two mergeable
    quantile-sketch passes (median, then MAD), each ≤ k rows per group
    over the wire, joined back as skinny frames; one lazy plan. The
    50%-breakdown alternative to mean/σ anomaly scoring."""
    from simba_spark.operators.stats import robust_zscore

    ev = _t(spark, sf_dir, "events")
    out = robust_zscore(ev, "value", "event_id",
                        group_by=["event_type"], threshold=3.5)
    return out.select("event_id", "event_type", "value",
                      "robust_z", "is_outlier")


def q_forecast_events(spark, sf_dir):
    """Seasonal-naive volume forecast with drift
    (operators.timeseries.forecast_seasonal_naive): hourly event
    counts per event_type, predicting 12 hours ahead from the value
    one 24-hour season back plus the linear drift term. One skinny
    per-key aggregate + an explode to horizon rows + one equi-join
    back to the series."""
    from simba_spark.operators.timeseries import forecast_seasonal_naive

    ev = _t(spark, sf_dir, "events")
    series = (
        ev.withColumn("tus", _ts_us(ev, "ts"))
        .withColumn("bucket", F.expr("tus div 3600000000"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return forecast_seasonal_naive(
        series, "event_type", "bucket", "n",
        period=24, horizon=12, drift=True,
    )


def q_adamic_adar(spark, sf_dir):
    """Link prediction (operators.graph.adamic_adar) over the
    customer→supplier trade graph: supplier pairs scored by common
    customers and the Adamic–Adar index Σ 1/ln(deg(w)). Wedge centers
    are capped at degree 40 (the Σ deg² truncation knob for power-law
    graphs); the wedge self-join is over center neighbor lists only
    and the output aggregate is skinny (u, v)."""
    from simba_spark.operators.graph import adamic_adar

    return adamic_adar(
        _trade_edges(spark, sf_dir), min_common=8, max_degree=40
    )


def q_basket_rules(spark, sf_dir):
    """Pairwise market-basket association rules
    (operators.analytics.basket_rules): brand co-purchase within
    orders (basket = l_orderkey, item = p_brand via lineitem⋈part),
    support ≥ 2%, confidence ≥ 10% in at least one direction. The
    Apriori frequent-item prefilter runs before the pair self-join,
    so the explosion is over frequent items only; all ratios are
    fixed-tree double divisions (bit-reproducible in SQL)."""
    from simba_spark.operators.analytics import basket_rules

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    baskets = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
        F.col("l_orderkey").alias("bk"), F.col("p_brand").alias("it")
    )
    return basket_rules(baskets, "bk", "it",
                        min_support=0.02, min_confidence=0.1)


def q_edit_dist(spark, sf_dir):
    """Blocked edit-distance self-join
    (operators.dedup.edit_distance_pairs): supplier-name pairs within
    Levenshtein distance 1, via PassJoin pigeonhole segment blocking —
    an equi-join on (length, segment-slot, substring) keys instead of
    the n² cross product; exact levenshtein refine runs only on
    surviving candidates. Oracle: the naive length-windowed cross join
    (blocking moves work, never rows)."""
    from simba_spark.operators.dedup import edit_distance_pairs

    sup = _t(spark, sf_dir, "supplier")
    return edit_distance_pairs(sup, "s_name", "s_suppkey", max_dist=1)


def q_hybrid_retrieval(spark, sf_dir):
    """Hybrid lexical+vector retrieval (operators.retrieval.rrf_fuse):
    BM25 top-40 for {hash, join, spark} fused with cosine top-40
    around embedding #0 by reciprocal-rank fusion (k=60), keeping the
    fused top-20. Scores on incomparable scales combine by rank only;
    the fused float is a fixed-order coalesced sum so it is
    bit-reproducible in the SQL mirror. Both candidate lists are
    bounded (40 rows), so the fuse is one skinny groupBy."""
    from simba_spark.operators.retrieval import rrf_fuse
    from simba_spark.operators.similarity import cosine_topk
    from simba_spark.operators.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    embs = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in embs.filter(F.col("vec_id") == 0).first()["embedding"]]
    lex = bm25_topk(docs, ["hash", "join", "spark"], k=40)
    vec = cosine_topk(embs, qvec, 40).select(
        F.col("vec_id").alias("doc_id"), "cosine_sim"
    )
    return rrf_fuse(
        [lex, vec], ["doc_id"], ["score", "cosine_sim"], k=60, topk=20
    )


RETRIEVAL_EVAL_TERMS = ["data", "hash", "join", "spark"]


def q_retrieval_eval(spark, sf_dir):
    """Offline retrieval evaluation (operators.retrieval.
    retrieval_metrics): per-query recall@10 / MRR@10 / nDCG@10 of
    four single-term BM25 top-15 runs against tf-graded judgments
    (grade = term frequency capped at 5) — the TREC-style eval loop
    run in-engine. The four runs come from ONE bm25_topk_batch corpus
    pass (shared postings/doc-length/idf tables — running bm25_topk
    per query would re-explode the corpus 4x); candidate lists are
    bounded (4×15 rows), qrels are judgment-sized, DCG sums fold
    rank-ordered arrays (never an engine SUM), so both engines replay
    identical arithmetic."""
    from simba_spark.operators.retrieval import retrieval_metrics
    from simba_spark.operators.text import bm25_topk_batch

    docs = _t(spark, sf_dir, "documents")
    ranked = bm25_topk_batch(
        docs, {t: [t] for t in RETRIEVAL_EVAL_TERMS}, k=15)
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    )
    qrels = (
        toks.filter(F.col("term").isin(RETRIEVAL_EVAL_TERMS))
        .groupBy(F.col("term").alias("query"), "doc_id")
        .agg(F.least(F.count(F.lit(1)), F.lit(5).cast("long")).alias("grade"))
    )
    return retrieval_metrics(ranked, qrels, k=10)


def q_temperature_mixture(spark, sf_dir):
    """Temperature-based language rebalancing (operators.pipeline.
    temperature_mixture): the mC4/T5 alpha-sampling rule at
    alpha=0.3 over the documents corpus — source weight count^alpha,
    largest no-upsampling corpus, md5-hash membership. The keep rate
    has the closed form min(1, (n_min/n_s)^(1-alpha)) (the weight
    normalizer cancels), so both engines evaluate one identical
    div-pow-mul per language; one skinny per-lang count + a
    zero-shuffle filter."""
    from simba_spark.operators.pipeline import temperature_mixture

    docs = _t(spark, sf_dir, "documents")
    out = temperature_mixture(docs, "lang", "doc_id", alpha=0.3)
    return out.select("doc_id", "lang")


def q_skyline_orders(spark, sf_dir):
    """Skyline / Pareto front (operators.skyline.skyline): orders not
    dominated on (totalprice MAX, orderdate MIN) — highest-value
    earliest orders, the classic ICDE'01 dominance query. Sample-front
    broadcast prune (exactness never depends on the sample) + bounded
    exact dominance anti-join over survivors; oracle is the direct
    NOT EXISTS definition."""
    from simba_spark.operators.skyline import skyline

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice",
        (F.unix_micros(F.col("o_orderdate").cast("timestamp_ltz"))
         / F.lit(86400000000.0)).alias("odays"))
    return skyline(orders, ["o_totalprice", "odays"], ["max", "min"])


def q_contrastive_pairs(spark, sf_dir):
    """Contrastive-pair mining (operators.similarity.
    contrastive_pairs): per anchor the 5 hardest positives (same
    label, lowest cosine) and 5 hardest negatives (different label,
    highest cosine) over the labeled embeddings — the metric-learning
    training-data op. Broadcast anchors, corpus-linear codegen'd
    cosine, bounded windows, rounded-sim deterministic order."""
    from simba_spark.operators.similarity import contrastive_pairs

    return contrastive_pairs(_t(spark, sf_dir, "embeddings"), k=5,
                             n_anchors=16)


def q_scd2_apply(spark, sf_dir):
    """Incremental SCD2 merge (operators.pipeline.scd2_apply): the
    pre-1997 customer (status, priority) dimension absorbs the 1997+
    order batch — only batch keys are touched (anti/semi join on the
    key set), each affected timeline rebuilt from its version rows +
    the batch (version-count-sized per key, late arrivals land
    mid-timeline correctly); the nightly-merge shape that never
    rescans the accumulated history."""
    from simba_spark.operators.pipeline import scd2_apply, scd2_build

    orders = _t(spark, sf_dir, "orders")
    split = F.lit("1997-01-01").cast("date")
    dim = scd2_build(
        orders.filter(F.col("o_orderdate") < split),
        key_col="o_custkey", ts_col="o_orderdate",
        attr_cols=["o_orderstatus", "o_orderpriority"],
        tiebreak_col="o_orderkey")
    return scd2_apply(
        dim, orders.filter(F.col("o_orderdate") >= split),
        key_col="o_custkey", ts_col="o_orderdate",
        attr_cols=["o_orderstatus", "o_orderpriority"],
        tiebreak_col="o_orderkey")


def q_fd_profile(spark, sf_dir):
    """Approximate functional-dependency profile (operators.stats.
    fd_profile): the g3 violation measure for three candidate FDs on
    orders — o_orderkey→o_orderstatus holds exactly (key FD, rate 0),
    the others price how dirty the dependency is. Per pair one (A, B)
    groupBy reduced to a skinny per-A max; exact integer counts."""
    from simba_spark.operators.stats import fd_profile

    return fd_profile(_t(spark, sf_dir, "orders"), [
        ("o_custkey", "o_orderpriority"),
        ("o_orderkey", "o_orderstatus"),
        ("o_orderstatus", "o_orderpriority"),
    ])


def q_km_churn(spark, sf_dir):
    """Kaplan–Meier customer-lifetime curve (operators.analytics.
    km_survival): per customer, duration = days between first and last
    order; customers whose last order lands in the final half-year are
    CENSORED (still active at the horizon) rather than counted as
    churned — the right-censoring-aware upgrade of cohort_retention.
    Distinct durations are calendar-bounded, so the prefix-product
    fold is constant-size at any corpus scale."""
    from simba_spark.operators.analytics import km_survival

    orders = _t(spark, sf_dir, "orders")
    lt = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("__first"),
        F.max("o_orderdate").alias("__last"),
    ).select(
        F.datediff("__last", "__first").alias("duration"),
        (F.col("__last") < F.lit("1998-01-01").cast("date")).alias("event"),
    )
    return km_survival(lt)


def q_scd2_delete(spark, sf_dir):
    """Incremental SCD2 merge WITH CDC tombstones (operators.pipeline.
    scd2_apply(delete_col=...)): the scd2_apply splice, where 1997+
    batch rows with o_orderkey % 7 == 0 arrive as DELETE events — each
    closes the version valid at its date and opens a coverage gap
    until the key's next insert; a trailing delete leaves the key with
    no open version. The tombstone rides the rebuild as a phantom
    version filtered after the lead() pass, so the anti/semi-join
    batch-keys-only scale shape is unchanged."""
    from simba_spark.operators.pipeline import scd2_apply, scd2_build

    orders = _t(spark, sf_dir, "orders")
    split = F.lit("1997-01-01").cast("date")
    dim = scd2_build(
        orders.filter(F.col("o_orderdate") < split),
        key_col="o_custkey", ts_col="o_orderdate",
        attr_cols=["o_orderstatus", "o_orderpriority"],
        tiebreak_col="o_orderkey")
    batch = orders.filter(F.col("o_orderdate") >= split).withColumn(
        "__is_del", F.col("o_orderkey") % 7 == 0)
    return scd2_apply(
        dim, batch,
        key_col="o_custkey", ts_col="o_orderdate",
        attr_cols=["o_orderstatus", "o_orderpriority"],
        tiebreak_col="o_orderkey", delete_col="__is_del")


def q_kruskal_events(spark, sf_dir):
    """Kruskal–Wallis H (operators.stats.kruskal_wallis): does event
    value distribution differ across event types? — the k-sample
    rank test over the events table (the mannwhitney machinery
    generalized: exact midranks from the two-phase running_total,
    group-ordered Σ R²/n fold, tie-corrected H vs chi-square(k-1))."""
    from simba_spark.operators.stats import kruskal_wallis

    return kruskal_wallis(_t(spark, sf_dir, "events"), "value",
                          "event_type")


def q_anova_events(spark, sf_dir):
    """One-way ANOVA F + eta^2 (operators.stats.anova_oneway): do mean
    event values differ across event types? — the parametric companion
    to the kruskal_events rank test. ONE combine-friendly per-group
    moment aggregate; every cross-group float reduction (grand sum,
    SSW, SSB) is a group-ordered k-row fold, so no accumulation order
    differs between engines."""
    from simba_spark.operators.stats import anova_oneway

    return anova_oneway(_t(spark, sf_dir, "events"), "value",
                        "event_type")


def q_kn_trigram_lm(spark, sf_dir):
    """Interpolated Kneser–Ney trigram scoring (operators.text.
    kn_trigram_lm_score): per-doc mean trigram log-likelihood under
    the corpus's own KN model (D=0.75) — continuation counts make
    repeated-collocation boilerplate score low where add-α bigram
    smoothing is fooled. One trigram explode + five vocabulary-scaled
    count tables joined back on skinny keys; sum-to-1 normalization
    property asserted in tests."""
    from simba_spark.operators.text import kn_trigram_lm_score

    return kn_trigram_lm_score(_t(spark, sf_dir, "documents"))


def q_trunc_recall(spark, sf_dir):
    """Matryoshka truncation evaluation (operators.similarity.
    truncation_recall): recall@10 of prefix-width-{8,16,32} cosine
    top-k against the full 64-d top-k for the 8 lowest-id query
    vectors — the offline storage/latency knob for MRL embeddings and
    IVF/PQ input widths. One broadcast-query corpus-linear pass per
    width, bounded windows, rounded-sim deterministic rank order."""
    from simba_spark.operators.similarity import truncation_recall

    embs = _t(spark, sf_dir, "embeddings")
    return truncation_recall(embs, [8, 16, 32], k=10)


def _trade_edges(spark, sf_dir):
    """The customer→supplier trade graph shared by the graph-family
    queries (same construction as q_pagerank): distinct (o_custkey,
    l_suppkey+1e6) pairs via orders⋈lineitem; suppliers with
    suppkey%3==0 link back, the rest are dangling."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .distinct()
    )
    back = cs.filter("dst % 3 = 0").select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return cs.unionByName(back)


def q_label_prop(spark, sf_dir):
    """Deterministic label propagation (operators.graph.
    label_propagation): 4 synchronous LPA iterations over the
    undirected trade graph, ties broken by smallest label. Per
    iteration one node-keyed equi-join + one skinny (node, label)
    count + a window top-1; labels localCheckpoint'd. Oracle: the same
    4 iterations unrolled as chained CTEs."""
    from simba_spark.operators.graph import label_propagation

    return label_propagation(_trade_edges(spark, sf_dir), iters=4)


def q_k_core(spark, sf_dir):
    """k-core peeling (operators.graph.k_core): the maximal subgraph
    of the undirected trade graph where every node keeps >= 10
    neighbors, with within-core degrees. 6 fixed peeling rounds
    (fixpoint by round 5 on this graph — asserted in tests); per round
    one skinny degree aggregate + two left-semi joins, edge frame
    localCheckpoint'd. Oracle: the same rounds unrolled as
    MATERIALIZED CTEs (each level is referenced 3x — inlining would
    be a 3^rounds plan)."""
    from simba_spark.operators.graph import k_core

    return k_core(_trade_edges(spark, sf_dir), k=10, iters=6,
                  assert_converged=False)


def q_clustering_coeff(spark, sf_dir):
    """Per-node local clustering coefficient (operators.graph.
    clustering_coefficient) over the trade graph — degree-ordered
    wedge orientation keeps the intermediate O(m^1.5) under hubs,
    each triangle attributes to its three corners via one explode,
    leaves (degree < 2) are NULL by contract."""
    from simba_spark.operators.graph import clustering_coefficient

    return clustering_coefficient(_trade_edges(spark, sf_dir))


def _trade_hyperball(spark, sf_dir):
    """The HyperBall register trajectory (iters=4, p=6) over the
    directed trade graph — hyperanf, harmonic_centrality, and
    effective_diameter each derive from these localCheckpoint'd round
    frames (graph.hyperball_sketches). Computed FRESH per call: the
    round-9 (session, sf_dir) memo made bench reps 2+ of the three
    consumer queries reuse a materialized trajectory instead of
    computing from parquet, which the optimization round's
    no-cross-run-caching rule forbids — sharing now happens only
    WITHIN one query invocation (the checkpointed round frames feed
    that query's several consumers once)."""
    from simba_spark.operators.graph import hyperball_sketches

    # assume_distinct: _trade_edges is distinct by construction (cs is
    # .distinct() and the back-edge set lives in a disjoint (src, dst)
    # id range), so the operator's dedup exchange would re-shuffle
    # 782k already-unique pairs per query for nothing. Cost-only seam:
    # max-merge is idempotent, duplicates could never change registers.
    return hyperball_sketches(_trade_edges(spark, sf_dir), iters=4, p=6,
                              assume_distinct=True)


def q_bpe_fertility(spark, sf_dir):
    """Tokenizer fertility eval (operators.text.bpe_fertility):
    subwords per word by LANGUAGE under the corpus's own 8 learned
    merges — the cross-lingual tokenizer-quality metric (merges
    trained mostly on the dominant language fragment the tail
    languages; this row prices it). 8-row bounded merge collect,
    zero-shuffle encode, one skinny group aggregate."""
    from simba_spark.operators.text import bpe_fertility, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=8).orderBy("merge_rank").collect()
    return bpe_fertility(docs, merges)


def q_louvain(spark, sf_dir):
    """Deterministic synchronous Louvain move phase (operators.graph.
    louvain_moves): modularity-GAIN community moves over the trade
    graph, md5 bucket schedule (half the nodes move per round, the
    parallel-Louvain anti-swap discipline), strict-positive-gain
    acceptance, smallest-community tie-break — beats label_prop's
    plurality rule on Newman modularity (asserted in tests)."""
    from simba_spark.operators.graph import louvain_moves

    return louvain_moves(_trade_edges(spark, sf_dir), iters=4)


def q_louvain_levels(spark, sf_dir):
    """FULL multi-level Louvain (operators.graph.louvain): the
    synchronous move kernel, then community-graph CONTRACTION
    (parallel super-edges collapse to integer weights, internal edges
    to self mass) and a second weighted move phase; the output is the
    best level by an EXACT integer modularity score (4m·W_in − Σd_c²,
    HUGEINT/decimal both engines), so Q >= the one-level q_louvain row
    by construction. Level 2 runs on the contracted graph — one node
    per level-1 community. Level 1 is the q_louvain row's move phase
    (the weighted kernel at w=1)."""
    from simba_spark.operators.graph import louvain

    return louvain(_trade_edges(spark, sf_dir), iters=4, levels=2)


_FDR_PAIRS = [("click", "view"), ("click", "purchase"),
              ("signup", "error"), ("view", "purchase")]


def q_blocking_eval(spark, sf_dir):
    """Blocking-quality metrics (operators.dedup.blocking_eval,
    Christen's pair completeness / reduction ratio): how much of the
    exact ngram-Jaccard >= 0.3 near-dup truth does sorted-neighborhood
    window-5 blocking recover, and how much of the C(n,2) comparison
    space does it avoid — the eval every blocker of this family
    (LSH bands, SN windows, grid cells, pigeonholes) should report
    before it ships. Canonicalized distinct pairs, exact BIGINT
    counts, fixed-tree ratio divisions (no float sums)."""
    from simba_spark.operators.dedup import (blocking_eval,
                                             ngram_jaccard_join,
                                             sorted_neighborhood_pairs)

    docs = _t(spark, sf_dir, "documents")
    cand = sorted_neighborhood_pairs(
        docs.withColumn("__norm", F.lower(F.trim("text"))),
        "__norm", "doc_id", window=5)
    truth = ngram_jaccard_join(docs, shingle_k=3, jaccard_threshold=0.3)
    return blocking_eval(cand, truth, n_records=docs.count())


def q_fdr_ks(spark, sf_dir):
    """Benjamini–Hochberg FDR correction (operators.stats.fdr_bh) over
    a battery of two-sample KS tests — the multiple-testing control
    the per-test battery needs the moment it fans out over many
    segments: four event-type value-distribution comparisons feed one
    (test_id, d_stat, p_value) frame, and fdr_bh attaches the adjusted
    q-value (min_{j>=i} p_(j)*m/j, clamped) + the FDR-alpha discovery
    flag. q is division+MIN arithmetic over exact ranks — no float
    sums, no rounding needed; the rank and reverse-min passes run the
    two-phase range-repartition program (never a single-partition
    window over the test frame)."""
    from simba_spark.operators.stats import fdr_bh, ks_test_battery

    ev = _t(spark, sf_dir, "events")
    # one shared pass over events for all four tests (round-11 opt:
    # the per-test ks_test loop scanned events 4x and ran 8 cumulative
    # programs; the battery runs 1 scan + 1 multi-column cumulative —
    # same values by the battery's equivalence argument, oracle-proved)
    tests = ks_test_battery(
        ev, "value", "event_type", _FDR_PAIRS
    ).select("test_id", "d_stat", "p_value")
    return fdr_bh(tests, p_col="p_value", alpha=0.25)


def q_textrank(spark, sf_dir):
    """TextRank keyword extraction (operators.text.textrank_keywords):
    corpus keywords as the highest-PageRank terms of the window-2 word
    co-occurrence graph — the graph-centrality companion of TF-IDF
    (a term matters because important terms co-occur with it, not
    because it is rare). One posexplode, window co-located (doc, pos)
    equi-joins, canonical-pair integer weights, weighted pagerank on
    the vocabulary-sized graph, rounded-score top-25."""
    from simba_spark.operators.text import textrank_keywords

    docs = _t(spark, sf_dir, "documents")
    return textrank_keywords(docs, window=2, k=25, iters=6)


def q_dbscan(spark, sf_dir):
    """Distributed DBSCAN (operators.clustering.dbscan) over suppliers
    in (acctbal, nationkey) space — density clustering with explicit
    noise where k-means' spherical prototypes break, composed from the
    engine's own primitives: grid distance join for the eps-pairs
    (never all-pairs), one skinny neighbor count, pointer-doubling
    connected components over the core-core graph, min-label border
    resolution. eps=250, min_pts=3 (closed ball, self included) keeps
    all three roles populated at sf0.01. Oracle: brute-force pairs +
    recursive-CTE components."""
    from simba_spark.operators.clustering import dbscan

    supp = _t(spark, sf_dir, "supplier").withColumn(
        "s_nat", F.col("s_nationkey").cast("double"))
    return dbscan(supp, ["s_acctbal", "s_nat"], eps=250.0, min_pts=3,
                  id_col="s_suppkey")


def q_betweenness(spark, sf_dir):
    """Sampled truncated-Brandes betweenness centrality (operators.
    graph.betweenness_centrality) over the trade graph: 8 md5-lowest
    seed sources, geodesics capped at 3 hops (k-betweenness — the
    Brandes & Pich 2007 estimator family), completing the centrality
    battery next to pagerank/harmonic/HITS. Path counts are exact
    BIGINTs and the backward δ accumulation runs in fixed-point 1e-9
    units (floor-quantized contributions, integer sums), so no float
    accumulation order exists in either engine."""
    from simba_spark.operators.graph import betweenness_centrality

    return betweenness_centrality(
        _trade_edges(spark, sf_dir), n_seeds=8, depth=3)


def q_k_truss(spark, sf_dir):
    """k-truss decomposition (operators.graph.k_truss) of the part
    co-occurrence graph (the q_triangles graph): surviving edges must
    close >= 2 triangles within the surviving subgraph (k=4) — the
    edge-level sharpening of k_core. Per round one degree-ordered
    single-corner triangle enumeration (the O(m^1.5) triangle_count
    discipline), a 3-way member explode, and one (a, b) support count;
    6 fixed peeling rounds with the early fixpoint exit (fixpoint by
    round 6 at sf0.001 / round 5 at sf0.01, asserted in tests; the
    oracle runs the identical unrolled rounds)."""
    from simba_spark.operators.graph import k_truss

    li = _t(spark, sf_dir, "lineitem").filter("l_linenumber <= 3")
    a = li.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("dst"))
    edges = a.join(b, "l_orderkey").filter("src < dst").select("src", "dst")
    return k_truss(edges, k=4, iters=6, assert_converged=False)


def q_clustering_coeff_capped(spark, sf_dir):
    """Hub-capped local clustering coefficient (clustering_coefficient
    (max_degree=64)): exact on the subgraph induced by degree <= 64
    nodes, hubs marked NULL — the bounded form for power-law graphs
    where one degree-10^6 hub alone costs ~10^12 wedges; the
    default-exact row is `clustering_coeff`."""
    from simba_spark.operators.graph import clustering_coefficient

    return clustering_coefficient(_trade_edges(spark, sf_dir),
                                  max_degree=64)


def q_harmonic_centrality(spark, sf_dir):
    """Per-node approximate harmonic centrality (operators.graph.
    hyperball_harmonic — the HyperBall application of hyperanf):
    H(v) = Σ_t Δ|ball|/t over the directed trade graph for t=1..3 (a
    prefix of the shared iters=4 trajectory), per-node estimates
    joined 1:1 on the node key, fixed-order Δ/t fold."""
    from simba_spark.operators.graph import hyperball_harmonic

    return hyperball_harmonic(
        _trade_hyperball(spark, sf_dir), p=6, iters=3)


def q_effective_diameter(spark, sf_dir):
    """Effective diameter (operators.graph.effective_diameter) of the
    trade graph at q=0.9 from the SHARED hyperball trajectory's
    neighborhood function — the interpolated distance within which
    90% of reachable pairs sit, THE statistic the ANF/HyperANF line
    exists to produce. The (t, nf) input is parameter-sized, so the
    interpolation window is trivially cheap."""
    from simba_spark.operators.graph import (effective_diameter,
                                             hyperball_nf)

    nf = hyperball_nf(_trade_hyperball(spark, sf_dir), p=6)
    return effective_diameter(nf, q=0.9)


def q_hyperanf(spark, sf_dir):
    """HyperANF neighborhood function (operators.graph.hyperanf) of
    the directed trade graph: N(t) for t=0..4 from one md5-register
    HLL ball per node, merged along out-edges each round — sketches
    meet graphs; the whole register trajectory is bit-reproducible,
    so the oracle replays it register-for-register. Consumes the
    shared trajectory (_trade_hyperball)."""
    from simba_spark.operators.graph import hyperball_nf

    return hyperball_nf(_trade_hyperball(spark, sf_dir), p=6)


def q_k_hop(spark, sf_dir):
    """k-hop BFS (operators.graph.k_hop): exact shortest hop-distance
    (0..3) from the customers whose key is a multiple of 100, over the
    directed trade graph. Per hop one dist⋈edges join + one
    min-aggregate on the node id — state is O(reached nodes), paths
    never materialize."""
    from simba_spark.operators.graph import k_hop

    edges = _trade_edges(spark, sf_dir)
    seeds = edges.select(F.col("src").alias("node")).filter(
        "node % 100 = 0"
    )
    return k_hop(edges, seeds, k=3)


def q_skew_report(spark, sf_dir):
    """Join-key skew diagnostics (operators.stats.skew_report): the 20
    hottest l_suppkey values with share, fair-share skew ratio
    (divide-first double arithmetic — n·distinct as int64 overflows at
    100 TB key spaces), and the salt factor capping a salted shuffle
    at 500 rows/task. One skinny groupBy + 1-row broadcast totals +
    TakeOrderedAndProject."""
    from simba_spark.operators.stats import skew_report

    li = _t(spark, sf_dir, "lineitem")
    return skew_report(li, ["l_suppkey"], top=20, target_rows_per_task=500)


def q_phrase_search(spark, sf_dir):
    """Exact phrase search (operators.text.phrase_search): documents
    containing "hash join" as a consecutive token run, with per-doc
    match counts — positional postings equi-joined on (doc, pos-i),
    never a per-doc array; non-phrase terms are filtered before any
    shuffle."""
    from simba_spark.operators.text import phrase_search

    return phrase_search(_t(spark, sf_dir, "documents"), "hash join")


def q_events_pivot(spark, sf_dir):
    """Inherited pivot (wide conditional aggregation): per-day event
    counts and value sums pivoted to one column pair per event type.
    Pivot values are pinned (the 5 known types) so the plan is a
    single aggregate pass — Spark's two-job value-discovery scan is
    skipped, which is also the 100 TB shape (never let pivot() scan
    the table once per distinct-value discovery)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .pivot("event_type", types)
        .agg(
            F.count(F.lit(1)).alias("n"),
            _cents_sum(F.col("value")).alias("val"),
        )
    )


def q_attribution(spark, sf_dir):
    """Multi-touch conversion attribution (operators.analytics.
    attribution, model='linear'): every purchase's value split equally
    across the user's click/view touches in the 6 h window ending at
    the conversion. One user-keyed equi-join with the window as a join
    predicate; credits summed in fixed-point 1e-4 units so the totals
    are partitioning/engine-exact."""
    from simba_spark.operators.analytics import attribution

    return attribution(
        _t(spark, sf_dir, "events"), model="linear", lookback_seconds=21600
    )


def q_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix (operators.analytics.
    transition_matrix): consecutive-event (from, to) counts and
    row-normalized probabilities per user timeline. One user-keyed
    lead() window + a skinny pair count; ties broken by event_id so
    the matrix is a pure function of the data."""
    from simba_spark.operators.analytics import transition_matrix

    return transition_matrix(_t(spark, sf_dir, "events"))


def q_seasonal_decompose(spark, sf_dir):
    """Classical additive decomposition (operators.timeseries.
    seasonal_decompose) of the daily event-count series per type,
    period 7 — trend (centered 7-bucket MA), day-of-week seasonal
    (centered), residual. Count series keep every aggregate an exact
    integer sum; the one float reduction (centering) is a fixed-order
    fold in both engines."""
    from simba_spark.operators.timeseries import seasonal_decompose

    ev = _t(spark, sf_dir, "events")
    series = ev.groupBy(
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            " div 86400000000"
        ).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return seasonal_decompose(series, "event_type", period=7)


def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend (operators.timeseries.theil_sen) of the
    daily event-count series per type — the median-of-pairwise-slopes
    estimator a spiked day cannot bend where linreg_trend's OLS
    follows it. Pairwise slopes are exact-integer divisions; medians
    come from sorted-array element arithmetic (fixed tree, no engine
    median() convention in the loop)."""
    from simba_spark.operators.timeseries import theil_sen

    ev = _t(spark, sf_dir, "events")
    series = ev.groupBy(
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            " div 86400000000"
        ).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return theil_sen(series, "event_type", "bucket", "n_events")


def q_holt_forecast(spark, sf_dir):
    """Holt linear-trend forecast (operators.timeseries.holt_forecast)
    of the hourly event-count series per type, 6 hours ahead — the
    trending-series complement to forecast_events' seasonal-naive.
    The coupled (level, trend) recursion runs as ONE fixed-order
    JVM aggregate fold per key (bit-identical to the oracle's
    recursive-CTE steps; no libm, no closed form)."""
    from simba_spark.operators.timeseries import holt_forecast

    ev = _t(spark, sf_dir, "events")
    series = ev.groupBy(
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            " div 3600000000"
        ).alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n_events"))
    return holt_forecast(series, "event_type", "bucket", "n_events",
                         alpha=0.3, beta=0.1, horizon=6)


def q_holt_winters(spark, sf_dir):
    """Holt–Winters additive seasonal forecast (operators.timeseries.
    holt_winters_forecast) of the DAILY event-count series per type,
    weekly season (m=7), 7 days ahead — the triple-smoothing step up
    from holt_forecast when the series repeats. The (level, trend,
    seasonal-array) recursion runs as ONE fixed-order JVM aggregate
    fold per key, bit-identical to the oracle's recursive CTE."""
    from simba_spark.operators.timeseries import holt_winters_forecast

    ev = _t(spark, sf_dir, "events")
    series = ev.groupBy(
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            " div 86400000000"
        ).alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n_events"))
    return holt_winters_forecast(
        series, "event_type", "bucket", "n_events",
        period=7, alpha=0.3, beta=0.1, gamma=0.2, horizon=7)


def q_acf_events(spark, sf_dir):
    """Per-type autocorrelation (operators.timeseries.acf) of the
    hourly event-count series at lags 1..6 — the seasonality
    diagnostic feeding forecast_seasonal_naive's lag choice. Count
    series make every moment sum an exact integer, so the Pearson
    fold is bit-identical across engines. One lag-explode + one
    (key, bucket) equi-join + one combine-friendly moment aggregate."""
    from simba_spark.operators.timeseries import acf

    ev = _t(spark, sf_dir, "events")
    series = ev.groupBy(
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            " div 3600000000"
        ).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return acf(series, "event_type", lags=6)


def q_cusum_events(spark, sf_dir):
    """Two-sided CUSUM change-point scores (operators.timeseries.
    cusum) over the same hourly per-type count series as acf_events.
    The textbook max(0, S+z-slack) recursion unrolled exactly as
    prefix-sum minus running-min — two windows partitioned by key, no
    recursion, no driver state."""
    from simba_spark.operators.timeseries import cusum

    ev = _t(spark, sf_dir, "events")
    series = ev.groupBy(
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            " div 3600000000"
        ).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return cusum(series, "event_type", slack=0.5, threshold=4.0)


def q_linreg_trend(spark, sf_dir):
    """Per-type OLS trend (operators.timeseries.linreg_series) of the
    hourly event-count series: slope/intercept/r² from ONE five-sum
    aggregate per key — the sustained-drift screen next to
    cusum_events' shift detector. Exact integer moments on count
    series → bit-identical OLS across engines."""
    from simba_spark.operators.timeseries import linreg_series

    ev = _t(spark, sf_dir, "events")
    series = ev.groupBy(
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            " div 3600000000"
        ).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return linreg_series(series, "event_type")


def q_modularity(spark, sf_dir):
    """Newman modularity terms (operators.graph.modularity) of the
    label-propagation communities over the trade graph — two
    first-class ops COMPOSING, one oracle mirroring the whole chain.
    All inputs are exact integer counts (m, m_in, d_c), so q_c is
    bit-identical across engines."""
    from simba_spark.operators.graph import label_propagation, modularity

    # one materialization of the orders⋈lineitem edge build for both
    # consumers (label_propagation round 1 pins it at build time;
    # modularity's once-distinct then reads the checkpoint instead of
    # re-running the join+distinct)
    edges = _trade_edges(spark, sf_dir).localCheckpoint(eager=False)
    labels = label_propagation(edges, iters=4)
    return modularity(edges, labels)


def q_ks_value(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov test (operators.stats.ks_test):
    does the `value` distribution differ between click and purchase
    events? Exact integer CDFs over distinct values via TWO two-phase
    running_total passes (never a single-partition window); D and the
    asymptotic p in one final row."""
    from simba_spark.operators.stats import ks_test

    return ks_test(_t(spark, sf_dir, "events"), "value", "event_type",
                   "click", "purchase")


def q_welch_value(spark, sf_dir):
    """Welch's unequal-variance t statistic (operators.stats.
    welch_ttest) for the click-vs-purchase `value` mean shift — ONE
    six-sum aggregate pass, 1 row out, Welch–Satterthwaite df."""
    from simba_spark.operators.stats import welch_ttest

    return welch_ttest(_t(spark, sf_dir, "events"), "value",
                       "event_type", "click", "purchase")


def q_mi_docs(spark, sf_dir):
    """Mutual information between document source and language
    (operators.stats.mutual_information): one joint groupBy + two
    marginal re-aggregations of the joint frame, MI/H_a/H_b/NMI in
    one row. The feature-redundancy screen chi-square can't give."""
    from simba_spark.operators.stats import mutual_information

    return mutual_information(_t(spark, sf_dir, "documents"),
                              "source", "lang")


def q_gini_prices(spark, sf_dir):
    """Gini concentration of order totalprice per market segment
    (operators.stats.gini, grouped path: per-group rank windows) —
    the one-number inequality score next to skew_report's offender
    list."""
    from simba_spark.operators.stats import gini

    orders = _t(spark, sf_dir, "orders")
    return gini(orders, "o_totalprice", group_col="o_orderpriority")


def q_benford_prices(spark, sf_dir):
    """First-significant-digit Benford screen over order totalprice
    (operators.stats.benford): per-digit observed vs expected shares
    + χ² terms; the digit is extracted arithmetically (no string
    formatting) so both engines agree bit-for-bit."""
    from simba_spark.operators.stats import benford

    return benford(_t(spark, sf_dir, "orders"), "o_totalprice")


def q_spearman(spark, sf_dir):
    """Spearman rank correlation (operators.stats.spearman_corr) of
    order totalprice vs the order's line count — the monotone
    association Pearson misreads under outliers. Fractional ranks are
    exact 0.5-multiples, so the whole statistic is exact arithmetic
    (no float-order noise class at all)."""
    from simba_spark.operators.stats import spearman_corr

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cnt = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).alias("n_lines"))
    joined = orders.join(cnt, "o_orderkey")
    return spearman_corr(joined, "o_totalprice", "n_lines")


def q_mannwhitney(spark, sf_dir):
    """Mann-Whitney U test (operators.stats.mannwhitney_u) of event
    value between click and purchase events — the nonparametric
    complement to welch_value/ks_value. Rank sums exact, tie
    correction exact integer arithmetic; z is the engine-portable
    report."""
    from simba_spark.operators.stats import mannwhitney_u

    ev = _t(spark, sf_dir, "events")
    return mannwhitney_u(ev, "value", "event_type", "click", "purchase")


def q_assortativity(spark, sf_dir):
    """Degree assortativity (operators.graph.degree_assortativity) of
    the trade graph — Newman's r over both edge orientations; exact
    integer moments."""
    from simba_spark.operators.graph import degree_assortativity

    return degree_assortativity(_trade_edges(spark, sf_dir))


def q_zipf_fit(spark, sf_dir):
    """Zipf's-law fit (operators.text.zipf_fit) of the corpus
    frequency spectrum: OLS of ln(freq) on ln(rank) over the
    build_vocab ranking (two-phase, never a single-partition window)
    — the one-row corpus-health diagnostic (natural text ~ -1;
    templated corpora bend the curve)."""
    from simba_spark.operators.text import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"), min_count=2)


def q_build_vocab(spark, sf_dir):
    """Frequency-ranked vocabulary with stable contiguous ids
    (operators.text.build_vocab): top-50 terms with term_freq >= 3,
    term_id 0 = most frequent (ties by term asc). The global dense
    rank runs two-phase via running_total on the (-freq, term) struct
    key — never a single-partition window over the vocabulary."""
    from simba_spark.operators.text import build_vocab

    return build_vocab(_t(spark, sf_dir, "documents"), min_count=3,
                       max_size=50)


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (operators.text.bpe_train):
    the first 8 byte-pair merges learned from the documents corpus —
    Sennrich et al. 2016 semantics (frequency-weighted overlapping
    pair counts, left-to-right non-overlapping merges, count-desc /
    pair-asc tie order). One corpus-sized explode + groupBy builds the
    word-frequency table; every merge iteration then runs over the
    vocabulary-sized frame only, with a 1-row top-1 collect per merge
    (parameter-bounded driver state)."""
    from simba_spark.operators.text import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"), num_merges=8)


def q_bpe_merges_sampled(spark, sf_dir):
    """SAMPLED BPE training (bpe_train(sample_fraction=0.5)) — the
    100 TB mode: merge ranking learned on a deterministic md5-hash
    half-sample of the distinct-word table, so each of the num_merges
    sequential jobs touches a bounded vocabulary slice. Membership
    depends only on the word hash (engine-portable), so the oracle
    replays the identical sampled merge table."""
    from simba_spark.operators.text import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"), num_merges=8,
                     sample_fraction=0.5)


def q_doc_bpe(spark, sf_dir):
    """BPE ENCODING oracle row (operators.text.bpe_apply): the corpus
    is re-tokenized with its own 8 learned merges — per doc the
    subword count and first-5 subwords. The merge list is an
    8-row parameter-bounded collect (the bpe_train contract); the
    encode itself is a zero-shuffle codegen transform."""
    from simba_spark.operators.text import bpe_apply, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, num_merges=8).orderBy("merge_rank").collect()
    enc = bpe_apply(docs, merges=merges)
    return enc.select(
        "doc_id",
        F.size("bpe_tokens").alias("n_subwords"),
        F.expr("array_join(slice(bpe_tokens, 1, 5), ' ')")
        .alias("head_subwords"),
    )


def q_bigram_lm(spark, sf_dir):
    """Per-document bigram LM score (operators.text.bigram_lm_score):
    mean ln P(b|a) under the corpus's add-α bigram model. Pairs slice
    out of the token ARRAY against its own shift — zero windows, zero
    self-joins; word-salad text scores low where the unigram proxy
    (lm_score) passes it."""
    from simba_spark.operators.text import bigram_lm_score

    return bigram_lm_score(_t(spark, sf_dir, "documents"))


def q_top_paths(spark, sf_dir):
    """Top-20 user journeys (operators.analytics.top_paths): each
    user's first 5 events joined into an 'a>b>c' path, counted across
    users. The row_number cap runs BEFORE any collection so per-user
    state is parameter-bounded; final count is a skinny groupBy(path)
    + TakeOrderedAndProject."""
    from simba_spark.operators.analytics import top_paths

    return top_paths(_t(spark, sf_dir, "events"), max_len=5, k=20)


def q_linkage(spark, sf_dir):
    """Fellegi–Sunter record-linkage scoring (operators.dedup.
    linkage_score) composed with sorted-neighborhood blocking
    (operators.dedup.sorted_neighborhood_pairs): candidate pairs are
    customers within 5 global name-ranks, so candidates grow LINEARLY
    (n·window) at any scale — blocking is the scale knob: a naive
    nation-only equi-join block measured 128 s at sf1 (~450M
    levenshtein pairs) vs ~n·5 pairs here. Each pair scores on name
    edit-similarity and segment equality with log2(m/u) weights; the
    scorer itself is pure codegen arithmetic."""
    from simba_spark.operators.dedup import (linkage_score,
                                             sorted_neighborhood_pairs)

    cust = _t(spark, sf_dir, "customer")
    pairs = sorted_neighborhood_pairs(cust, "c_name", "c_custkey", window=5)
    a = cust.select(
        F.col("c_custkey").alias("a_id"), F.col("c_name").alias("name_a"),
        F.col("c_mktsegment").alias("seg_a"),
    )
    b = cust.select(
        F.col("c_custkey").alias("b_id"), F.col("c_name").alias("name_b"),
        F.col("c_mktsegment").alias("seg_b"),
    )
    enriched = pairs.join(a, "a_id").join(b, "b_id")
    return linkage_score(
        enriched,
        [
            ("name_a", "name_b", "levenshtein", 0.9, 0.05, 0.9),
            ("seg_a", "seg_b", "exact", 0.8, 0.2),
        ],
    ).select(
        "a_id", "b_id", "rank_dist",
        "agree_name_a", "agree_seg_a", "n_agree", "score",
    )


def q_quantile_bin_grouped(spark, sf_dir):
    """Per-group equal-frequency binning (operators.pipeline.
    quantile_bin with group_by): events.value into 4 bins at
    PER-EVENT-TYPE sketched quantile cuts — one call produces the
    per-source/per-language cut frames a feature pipeline needs,
    broadcast back as a #groups-row frame. Oracle: the same grouped
    sketch + interpolation + comparison sum, LEFT JOINed."""
    from simba_spark.operators.pipeline import quantile_bin

    ev = _t(spark, sf_dir, "events")
    out = quantile_bin(
        ev, "value", "event_id", nbins=4, k=256, group_by=["event_type"]
    )
    return out.select("event_id", "event_type", "value_bin")


def q_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank (operators.graph.personalized_pagerank):
    TrustRank-style proximity to the customers whose key is a multiple
    of 100, over the directed trade graph (6 iterations, teleport +
    dangling mass returning to the seeds, unreachable nodes exactly
    0). Runs pagerank's rounds, with the teleport flag on the seeds
    only."""
    from simba_spark.operators.graph import personalized_pagerank

    edges = _trade_edges(spark, sf_dir)
    seeds = edges.select(F.col("src").alias("node")).filter("node % 100 = 0")
    return personalized_pagerank(edges, seeds, iters=6)


def q_rank_normalize(spark, sf_dir):
    """Percentile-rank feature transform (operators.pipeline.
    rank_normalize): events.value → percent_rank in [0,1] with
    min-rank ties, NULL-preserving. Ranks computed on the skinny
    DISTINCT-VALUE frame via the two-phase running_total (never a
    single-partition window), then joined back on the value."""
    from simba_spark.operators.pipeline import rank_normalize

    ev = _t(spark, sf_dir, "events")
    return rank_normalize(ev, "value").select("event_id", "value", "value_pr")


def q_chisq(spark, sf_dir):
    """Chi-square independence test (operators.stats.
    chisq_independence): is event_type independent of the day-of-week?
    One skinny (a, b) groupBy over the data; expected counts from the
    row-total × col-total cross join (r×c rows — never the data
    again); Cramér's V for effect size."""
    from simba_spark.operators.stats import chisq_independence

    ev = _t(spark, sf_dir, "events").withColumn(
        "dow", F.dayofweek("ts")
    )
    return chisq_independence(ev, "event_type", "dow")


def q_rollup_incremental(spark, sf_dir):
    """Continuous-aggregate / hypertable-rollup analog (operators.
    timeseries.rollup_state/merge/finalize): events split into a
    20-day "history" and the trailing "new batch", each rolled up to
    per-(day, event_type) EXACT mergeable partials (fixed-point long
    sums — a double partial would be neither exact nor associative),
    merged, finalized. The incremental pattern a 100 TB metrics store
    runs nightly: fold the new day in, never re-scan history. The
    oracle computes the direct rollup over everything — equal BY THE
    MERGE PROPERTY, which this row exhibits as data."""
    from simba_spark.operators.timeseries import (rollup_finalize,
                                                  rollup_merge, rollup_state)

    ev = _t(spark, sf_dir, "events")
    cut = "2024-01-21"
    hist = ev.filter(F.col("ts") < cut)
    newb = ev.filter(F.col("ts") >= cut)
    merged = rollup_merge(
        rollup_state(hist, bucket="day", keys=["event_type"]),
        rollup_state(newb, bucket="day", keys=["event_type"]),
    )
    return rollup_finalize(merged)


def _rfm_oracle_sql() -> str:
    """DuckDB mirror of :func:`q_rfm`: the per-user RFM frame, then
    pipeline.quantile_bin_sql nested once per metric (identical sketch
    + interpolation + comparison-sum arithmetic per bin column)."""
    from simba_spark.operators.pipeline import quantile_bin_sql

    per_user = """(
      SELECT user_id,
             date_diff('day', CAST(max(ts) AS DATE),
                       CAST((SELECT max(ts) FROM events) AS DATE))
               AS recency_days,
             count(*) AS frequency,
             sum(CAST(round(value * 100.0, 0) AS BIGINT)) / 100.0
               AS monetary
      FROM events GROUP BY 1
    )"""
    binned = per_user
    for col in ("recency_days", "frequency", "monetary"):
        binned = "(" + quantile_bin_sql(
            binned, col, "user_id", nbins=4, k=256
        ) + ")"
    return f"""
        SELECT user_id, recency_days, frequency, monetary,
               recency_days_bin AS r_bin, frequency_bin AS f_bin,
               monetary_bin AS m_bin,
               recency_days_bin * 100 + frequency_bin * 10
                 + monetary_bin AS segment
        FROM {binned}
    """


def q_rfm(spark, sf_dir):
    """RFM segmentation — a composition showcase of the public API:
    per-user Recency (days since last event, vs the corpus max so the
    result is a pure function of the data), Frequency (event count),
    Monetary (cent-summed value), each quartile-binned with
    pipeline.quantile_bin over the SAME per-user frame (three bin
    columns from three sketched cut rows, all broadcast), segment code
    = r*100 + f*10 + m. One groupBy(user) + three ≤k-row sketch
    shuffles; the big table is scanned once."""
    from simba_spark.operators.pipeline import quantile_bin

    ev = _t(spark, sf_dir, "events")
    gmax = ev.agg(F.max("ts").alias("__gmax"))
    per_user = (
        ev.crossJoin(F.broadcast(gmax))
        .groupBy(F.col("user_id").alias("user_id"))
        .agg(
            # cast to long: Spark datediff is INT, DuckDB date_diff is
            # BIGINT — the driver hash is type-sensitive
            F.datediff(F.min("__gmax"), F.max("ts")).cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            _cents_sum(F.col("value")).alias("monetary"),
        )
    )
    out = per_user
    for col in ("recency_days", "frequency", "monetary"):
        out = quantile_bin(out, col, "user_id", nbins=4, k=256)
    return out.select(
        "user_id", "recency_days", "frequency", "monetary",
        F.col("recency_days_bin").alias("r_bin"),
        F.col("frequency_bin").alias("f_bin"),
        F.col("monetary_bin").alias("m_bin"),
        (
            F.col("recency_days_bin") * 100
            + F.col("frequency_bin") * 10
            + F.col("monetary_bin")
        ).alias("segment"),
    )


# ---------------------------------------------------------------------------
# spherical geo family — WGS-84 coords derived from integer keys by pure
# integer modulo (bit-identical in both engines), spread over the full
# globe including high latitudes (the banded grid's stress regime)


def _geo_coords(df, id_col: str, lat_mult: int, lon_mult: int,
                lat_col: str = "lat", lon_col: str = "lon"):
    lat = (F.col(id_col) * lat_mult % 17000).cast("double") / 100.0 - 85.0
    lon = (F.col(id_col) * lon_mult % 36000).cast("double") / 100.0 - 180.0
    return df.withColumn(lat_col, lat).withColumn(lon_col, lon)


def _geo_coords_sql(id_expr: str, lat_mult: int, lon_mult: int):
    lat = f"(CAST({id_expr} * {lat_mult} % 17000 AS DOUBLE) / 100.0 - 85.0)"
    lon = f"(CAST({id_expr} * {lon_mult} % 36000 AS DOUBLE) / 100.0 - 180.0)"
    return lat, lon


def q_geo_distance_join(spark, sf_dir):
    """Spherical distance join (geo_distance_join): all odd/even event
    pairs within 300 great-circle km — banded-grid equi-join + exact
    haversine refine, no cartesian (SURVEY §2.3 DJSpark shape,
    spherical metric)."""
    from simba_spark.operators.geo import geo_distance_join

    ev = _t(spark, sf_dir, "events").select("event_id")
    l = _geo_coords(ev.filter(F.col("event_id") % 2 == 0), "event_id",
                    37, 59, "l_lat", "l_lon") \
        .select(F.col("event_id").alias("l_id"), "l_lat", "l_lon")
    r = _geo_coords(ev.filter(F.col("event_id") % 2 == 1), "event_id",
                    37, 59, "r_lat", "r_lon") \
        .select(F.col("event_id").alias("r_id"), "r_lat", "r_lon")
    out = geo_distance_join(l, r, 300.0, lat_l="l_lat", lon_l="l_lon",
                            lat_r="r_lat", lon_r="r_lon")
    return out.select("l_id", "r_id",
                      F.round("dist_km", 4).alias("dist_r"))


def q_geo_knn_join(spark, sf_dir):
    """Spherical kNN join (geo_knn_join, θ-bounded grid program): 3
    nearest customers per supplier by great-circle distance."""
    from simba_spark.operators.geo import geo_knn_join

    s = _geo_coords(_t(spark, sf_dir, "supplier").select("s_suppkey"),
                    "s_suppkey", 41, 71, "s_lat", "s_lon")
    c = _geo_coords(_t(spark, sf_dir, "customer").select("c_custkey"),
                    "c_custkey", 37, 59, "c_lat", "c_lon")
    out = geo_knn_join(
        s, c, 3, lat_l="s_lat", lon_l="s_lon", lat_r="c_lat",
        lon_r="c_lon", left_id="s_suppkey", right_tiebreak="c_custkey",
        algo="theta",
    )
    return out.select("s_suppkey", "c_custkey",
                      F.round("dist_km", 4).alias("dist_r"))


def q_geo_circle_range(spark, sf_dir):
    """Spherical range (geo_circle_range): events within 2000 km of a
    high-latitude center — sargable bbox prefilter + haversine refine."""
    from simba_spark.operators.geo import geo_circle_range

    ev = _geo_coords(_t(spark, sf_dir, "events").select("event_id"),
                     "event_id", 37, 59)
    out = geo_circle_range(ev, "lat", "lon", (72.0, 150.0), 2000.0)
    return out.select("event_id")


def q_geo_knn(spark, sf_dir):
    """Spherical global kNN (geo_knn): 25 events nearest a center —
    TakeOrderedAndProject, 25 rows to the driver."""
    from simba_spark.operators.geo import geo_knn

    ev = _geo_coords(_t(spark, sf_dir, "events").select("event_id"),
                     "event_id", 37, 59)
    out = geo_knn(ev, "lat", "lon", (48.0, 2.0), 25,
                  tiebreak="event_id")
    return out.select("event_id", F.round("dist_km", 4).alias("dist_r"))


def q_geo_stream_knn(spark, sf_dir):
    """Streaming spherical kNN kernel (streaming.ops.
    streaming_geo_knn_join): every event gets its 3 nearest of 25
    nation "sites" by great-circle distance. The op is a STATELESS
    projection — the dimension-sized static side is one broadcast
    (lat, lon, id)-struct array literal, per-row top-k is
    slice(array_sort(transform(...))), no shuffle, no state — so
    running it on the batch events frame exercises the IDENTICAL
    kernel the stream runs per micro-batch (replayed-stream ≡ batch
    equality is pytest-checked in test_streaming.py)."""
    from simba_spark.streaming import streaming_geo_knn_join

    from simba_spark.functions import parallelize_small

    # the per-row top-k (25 great-circle distances + array_sort per
    # event) is compute-dense and events is a one-split scan — spread
    # it; the plan-time guards no-op at scale (r12)
    ev = _geo_coords(
        parallelize_small(_t(spark, sf_dir, "events").select("event_id")),
        "event_id", 37, 59)
    sites = _geo_coords(
        _t(spark, sf_dir, "nation").select("n_nationkey"),
        "n_nationkey", 41, 71, "t_lat", "t_lon")
    out = streaming_geo_knn_join(
        ev, sites, 3, lat_t="t_lat", lon_t="t_lon",
        static_id="n_nationkey")
    return out.select("event_id",
                      F.col("s_n_nationkey").alias("site_key"),
                      F.round("dist_km", 4).alias("dist_r"))


# ---------------------------------------------------------------------------
# SCD2 dimension build (warehouse family, next to orders_upsert/table_diff)


def q_scd2_build(spark, sf_dir):
    """Type-2 dimension from the orders change stream: per customer the
    (status, priority) validity timeline — consecutive-dup collapse +
    [valid_from, valid_to) intervals, open version NULL; one shuffle
    (both window passes share the (key, ts, tiebreak) sort)."""
    from simba_spark.operators.pipeline import scd2_build

    orders = _t(spark, sf_dir, "orders")
    return scd2_build(
        orders, key_col="o_custkey", ts_col="o_orderdate",
        attr_cols=["o_orderstatus", "o_orderpriority"],
        tiebreak_col="o_orderkey",
    )


def _geo_layout(spark, sf_dir):
    """Build-once persisted (lat, lon) z-order layout over the derived
    geo events — the spherical family's index lifecycle (same
    amortization as _ev_layout)."""
    from simba_spark.context import SimbaContext

    cache_key = (id(spark), sf_dir, "geo")
    if cache_key in _LAYOUT_CACHE:
        return _LAYOUT_CACHE[cache_key]
    ctx = SimbaContext(spark)
    name = "ev_geo_zorder"
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(_LAYOUT_ROOT, tag, name)
    src = os.path.join(sf_dir, "events.parquet")
    fp = _source_fingerprint(src)
    fp_file = os.path.join(path, "source.json")
    fresh = False
    if os.path.exists(os.path.join(path, "layout.json")) \
            and os.path.exists(fp_file):
        try:
            with open(fp_file) as f:
                fresh = json.load(f) == fp
        except Exception:
            fresh = False
    if fresh:
        lay = ctx.load_index(name, path)
    else:
        ev = _geo_coords(_t(spark, sf_dir, "events").select("event_id"),
                         "event_id", 37, 59)
        ctx.create_index(ev, ["lat", "lon"], name, kind="zorder")
        ctx.persist_index(name, path)
        with open(fp_file, "w") as f:
            json.dump(fp, f)
        lay = ctx.layouts.get(name)
    _LAYOUT_CACHE[cache_key] = (ctx, lay)
    return ctx, lay


def q_geo_routed_range(spark, sf_dir):
    """Same result as q_geo_circle_range but through the persisted
    (lat, lon) z-order layout: the bbox prefilter routes to sargable
    z-intervals + bucket-dir pruning (planning-time file skipping)."""
    from simba_spark.operators.geo import geo_circle_range

    ctx, lay = _geo_layout(spark, sf_dir)
    out = geo_circle_range(lay.data, "lat", "lon", (72.0, 150.0),
                           2000.0, registry=ctx.layouts)
    return out.select("event_id")


def q_geo_routed_knn(spark, sf_dir):
    """Same result as q_geo_knn but through the layout's two-phase
    spherical bound-and-prune (phase-1 θ from the nearest bucket
    prefix, phase-2 θ-ball z-cover)."""
    ctx, lay = _geo_layout(spark, sf_dir)
    out = ctx.geo_knn(lay.data, "lat", "lon", (48.0, 2.0), 25,
                      tiebreak="event_id")
    return out.select("event_id", F.round("dist_km", 4).alias("dist_r"))


def q_events_unpivot(spark, sf_dir):
    """Inherited UNPIVOT/melt: wide event measures to (metric, value)
    long form — zero shuffle, the feature-table normalization step."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "value",
        F.col("user_id").cast("double").alias("uid"))
    return ev.unpivot(["event_id"], ["value", "uid"],
                      "metric", "m_value")


def q_geo_cells(spark, sf_dir):
    """Spherical cell rollup (geo_cell_agg): per-cell event counts +
    cent-exact value sums over the 500-km banded grid — one skinny
    combine-friendly groupBy; the heatmap / join-radius-profiling
    primitive."""
    from simba_spark.operators.geo import geo_cell_agg

    ev = _geo_coords(
        _t(spark, sf_dir, "events").select("event_id", "value"),
        "event_id", 37, 59)
    return geo_cell_agg(ev, "lat", "lon", 500.0,
                        aggs=[_cents_sum(F.col("value")).alias("val_sum")])


def q_hll_rolling(spark, sf_dir):
    """Rolling trailing-7-day distinct users from DAILY mergeable HLL
    sketches (hll_rolling ∘ hll_sketch): the pre-aggregate-then-merge
    workflow that makes rolling distincts feasible without re-reading
    raw data."""
    from simba_spark.operators.sketches import hll_rolling, hll_sketch

    ev = _t(spark, sf_dir, "events").select(
        F.datediff(F.col("ts").cast("date"),
                   F.lit("1970-01-01").cast("date"))
        .cast("long").alias("day"),
        "user_id")
    sk = hll_sketch(ev, "user_id", group_by=["day"], p=12)
    return hll_rolling(sk, "day", 7, p=12,
                       out_col="approx_users").select(
        "day", F.round("approx_users", 4).alias("approx_users"))


def q_er_resolve(spark, sf_dir):
    """End-to-end entity resolution, composed from tested stages:
    sorted-neighborhood blocking (linear candidates) → Fellegi–Sunter
    scoring → score-thresholded match edges → pointer-doubling
    connected components → one canonical member per entity (max
    acctbal, min-key tiebreak). Output: every clustered customer with
    its entity id and the entity's canonical key."""
    from pyspark.sql import Window

    from simba_spark.operators.dedup import (connected_components,
                                             linkage_score,
                                             sorted_neighborhood_pairs)

    cust = _t(spark, sf_dir, "customer")
    pairs = sorted_neighborhood_pairs(cust, "c_name", "c_custkey",
                                      window=5)
    a = cust.select(F.col("c_custkey").alias("a_id"),
                    F.col("c_name").alias("name_a"),
                    F.col("c_mktsegment").alias("seg_a"))
    b = cust.select(F.col("c_custkey").alias("b_id"),
                    F.col("c_name").alias("name_b"),
                    F.col("c_mktsegment").alias("seg_b"))
    scored = linkage_score(
        pairs.join(a, "a_id").join(b, "b_id"),
        [
            ("name_a", "name_b", "levenshtein", 0.9, 0.05, 0.9),
            ("seg_a", "seg_b", "exact", 0.8, 0.2),
        ],
    )
    edges = scored.filter(F.col("score") >= 4.0).select("a_id", "b_id")
    comp = connected_components(edges)
    enriched = comp.join(
        cust.select(F.col("c_custkey").alias("id"), "c_acctbal"), "id")
    w = Window.partitionBy("component").orderBy(
        F.col("c_acctbal").desc(), F.col("id").asc())
    canon = (
        enriched.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("component", F.col("id").alias("canonical_id"))
    )
    return comp.join(canon, "component").select(
        "id", "component", "canonical_id")


def q_events_ohlc(spark, sf_dir):
    """OHLC bars (timeseries.ohlc): daily open/high/low/close + exact
    cent sums per event type — one (key, bucket) shuffle shared by both
    window passes and the aggregate; open/close picked by row_number
    over (ts, event_id), never a float min on ts."""
    from simba_spark.operators.timeseries import ohlc

    ev = _t(spark, sf_dir, "events")
    return ohlc(ev, "ts", "value", key_cols=["event_type"],
                tiebreak_col="event_id")


def q_stream_session_window(spark, sf_dir):
    """Native session_window gap sessionization driven through the
    STREAMING kernel (streaming.streaming_session_window_stats) on the
    batch events frame: the op is one stateful groupBy(session_window)
    aggregation whose expression tree is identical in batch mode
    (Catalyst's EliminateEventTimeWatermark drops the watermark node),
    so this row driver-checks the exact session-merge + integer-cent
    arithmetic the live stream runs per micro-batch; replayed-stream ≡
    batch equality is pytest-checked in test_streaming.py. Session
    rule is the native one: an event exactly ``gap`` after its
    predecessor starts a NEW session ([t, t+gap) half-open merge)."""
    from simba_spark.streaming import streaming_session_window_stats

    ev = _t(spark, sf_dir, "events")
    out = streaming_session_window_stats(
        ev, ts_col="ts", key_col="user_id", gap="30 minutes",
        val_col="value")
    return out.select(
        "user_id", "session_start", "session_end", "n_events", "val_sum")


def q_stream_trending(spark, sf_dir):
    """Streaming trending-terms kernel (streaming.
    streaming_trending_terms) driven on a batch frame: hourly top-10
    tokens over the documents corpus with a derived event time
    (doc_id minutes past 2024-01-01 — deterministic), the two chained
    stateful aggregations (window-term counts, then per-window top-k
    via slice(array_sort(collect_list(struct(-n, term))))) evaluate
    identically in batch mode; replay ≡ batch is pytest-checked."""
    from simba_spark.streaming import streaming_trending_terms

    docs = _t(spark, sf_dir, "documents").select(
        (F.lit("2024-01-01").cast("timestamp")
         + F.make_interval(mins=F.col("doc_id").cast("int"))).alias("ts"),
        "text",
    )
    out = streaming_trending_terms(docs, window="1 hour", k=10)
    return out.select(
        F.col("window")["start"].alias("bucket"), "term", "n", "rank")


def q_stream_cm(spark, sf_dir):
    """Streaming windowed Count-Min kernel (streaming.
    streaming_windowed_cm) on the batch events frame: hourly mergeable
    CM sketch rows of user_id per event_type (depth 4 × width 256) —
    the same counter grid as batch cm_sketch per window, emitted in
    the persistable form cm_merge/cm_estimate consume; the stateful
    aggregation's expression tree is identical in batch mode."""
    from simba_spark.streaming.ops import streaming_windowed_cm

    ev = _t(spark, sf_dir, "events")
    out = streaming_windowed_cm(
        ev, ts_col="ts", col="user_id", key_col="event_type",
        window="1 hour", depth=4, width=256)
    return out.select(
        F.col("window")["start"].alias("bucket"), "event_type",
        "__cm_d", "__cm_b", "__cm_n")


def q_stream_hll(spark, sf_dir):
    """Streaming windowed HyperLogLog kernel (streaming.
    streaming_windowed_hll) on the batch events frame: hourly approx
    distinct users per event_type from the same md5 registers as batch
    hll_distinct — state ≤ 2^p longs per open (window, key) where
    exact streaming COUNT(DISTINCT) holds every user; the two chained
    stateful aggregations' expression trees are identical in batch
    mode, so the oracle is the batch sketch over the same buckets."""
    from simba_spark.streaming.ops import streaming_windowed_hll

    ev = _t(spark, sf_dir, "events")
    out = streaming_windowed_hll(
        ev, ts_col="ts", col="user_id", key_col="event_type",
        window="1 hour", p=12)
    return out.select(
        F.col("window")["start"].alias("bucket"), "event_type",
        F.round("approx_distinct", 4).alias("approx_users"))


def q_stream_quantile(spark, sf_dir):
    """Streaming windowed quantile kernel (streaming.
    streaming_windowed_quantile) on the batch events frame: hourly
    p50/p90 of value per event_type via the bucketed quantile sample —
    state ≤ k (h, v) structs per open (window, key) where exact
    streaming percentiles hold every row; per-bucket struct-MIN is the
    algebraic aggregate the state store maintains incrementally. The
    oracle is the batch bucketed sketch + identical interpolation over
    the same hour buckets."""
    from simba_spark.streaming.ops import streaming_windowed_quantile

    ev = _t(spark, sf_dir, "events")
    out = streaming_windowed_quantile(
        ev, ts_col="ts", col="value", key_col="event_type",
        window="1 hour", qs=(0.5, 0.9), k=256, id_col="event_id")
    return out.select(
        F.col("window")["start"].alias("bucket"), "event_type",
        "q500", "q900")


def q_stream_ohlc(spark, sf_dir):
    """Hourly OHLC bars through the STREAMING kernel
    (streaming.streaming_windowed_ohlc) on the batch events frame —
    open/close are the algebraic min/max of struct(ts, tiebreak, v)
    the state store would merge incrementally (vs the batch operator's
    row_number picks; identical when (ts, tiebreak) is total, which
    event_id guarantees). One stateful-aggregation-shaped groupBy,
    exact integer-cent sums; batch parity pytest-checked in
    test_streaming.py."""
    from simba_spark.streaming import streaming_windowed_ohlc

    ev = _t(spark, sf_dir, "events")
    out = streaming_windowed_ohlc(
        ev, ts_col="ts", val_col="value", key_cols=["event_type"],
        window="1 hour", tiebreak_col="event_id")
    return out.select("bucket", "event_type", "open", "high", "low",
                      "close", "n", "val_sum")


def q_impute_events(spark, sf_dir):
    """Per-group mean imputation (pipeline.impute): values deleted on a
    deterministic rule (event_id % 7 == 0) are refilled with their
    event type's mean — one skinny aggregate broadcast back, zero data
    shuffle."""
    from simba_spark.operators.pipeline import impute

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value")).alias("v"))
    out = impute(ev, ["v"], "mean", group_by=["event_type"])
    return out.select("event_id", "event_type",
                      F.round("v", 6).alias("v_filled"))


def q_cm_join_size(spark, sf_dir):
    """Join-cardinality estimation BEFORE paying for the join
    (sketches.cm_join_size): CM inner product of lineitem.l_orderkey ×
    orders.o_orderkey sketches, next to the exact join size — the
    broadcast-vs-shuffle-vs-salt planning primitive. Never
    underestimates (asserted as data: est >= exact)."""
    from simba_spark.operators.sketches import cm_join_size, cm_sketch

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    ska = cm_sketch(li, "l_orderkey", depth=4, width=512)
    skb = cm_sketch(orders, "o_orderkey", depth=4, width=512)
    est = cm_join_size(ska, skb)
    exact = li.join(orders,
                    F.col("l_orderkey") == F.col("o_orderkey")) \
        .agg(F.count(F.lit(1)).alias("exact_join_rows"))
    return est.crossJoin(F.broadcast(exact))


def q_impute_median(spark, sf_dir):
    """Sketched per-group MEDIAN imputation (pipeline.impute
    strategy='median'): the deleted values refill with the event
    type's bottom-k-sketch median — deterministic, mergeable, exact
    below k rows per group."""
    from simba_spark.operators.pipeline import impute

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value")).alias("v"))
    out = impute(ev, ["v"], "median", group_by=["event_type"],
                 id_col="event_id", k=256)
    return out.select("event_id", "event_type",
                      F.round("v", 6).alias("v_filled"))


def q_theta_rolling(spark, sf_dir):
    """Rolling trailing-7-day distinct users from DAILY theta sketches
    (theta_rolling ∘ theta_sketch) — exact below k, (k-1)/θ above;
    the persisted-daily-sketch rolling workflow, exact-mode sibling of
    hll_rolling."""
    from simba_spark.operators.sketches import theta_rolling, theta_sketch

    ev = _t(spark, sf_dir, "events").select(
        F.datediff(F.col("ts").cast("date"),
                   F.lit("1970-01-01").cast("date"))
        .cast("long").alias("day"),
        "user_id")
    sk = theta_sketch(ev, "user_id", group_by=["day"], k=512)
    return theta_rolling(sk, "day", 7, k=512, out_col="roll_users")


def q_scd2_lookup(spark, sf_dir):
    """Point-in-time join (scd2_lookup): each order picks the
    (status, priority) dimension version valid at its date from the
    scd2_build timeline — one key equi-join with interval residuals."""
    from simba_spark.operators.pipeline import scd2_build, scd2_lookup

    orders = _t(spark, sf_dir, "orders")
    dim = scd2_build(
        orders, key_col="o_custkey", ts_col="o_orderdate",
        attr_cols=["o_orderstatus", "o_orderpriority"],
        tiebreak_col="o_orderkey",
    ).select(
        "o_custkey",
        F.col("o_orderstatus").alias("status_v"),
        F.col("o_orderpriority").alias("priority_v"),
        "valid_from", "valid_to",
    )
    facts = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    return scd2_lookup(facts, dim, key_fact="o_custkey",
                       ts_fact="o_orderdate")


# ---------------------------------------------------------------------------
# Derived partsupp — closes the last 5 TPC-H queries. TPC-H ships
# partsupp as a base table; the driver schema doesn't, but lineitem's
# DISTINCT (l_partkey, l_suppkey) IS the part-supplier relation those
# queries join on (in real TPC-H every lineitem pair comes FROM
# partsupp), and availqty/supplycost derive deterministically from the
# keys with pure integer arithmetic — identical in both engines, like
# the geo family's derived coordinates.


def _partsupp(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    pk, sk = F.col("ps_partkey"), F.col("ps_suppkey")
    return (
        li.select(F.col("l_partkey").alias("ps_partkey"),
                  F.col("l_suppkey").alias("ps_suppkey"))
        .distinct()
        .withColumn("ps_availqty",
                    (pk * 13 + sk * 17) % 9999 + 1)
        .withColumn("ps_supplycost",
                    ((pk * 7 + sk * 11) % 90000).cast("double")
                    / 100.0 + 100.0)
    )


_PARTSUPP_SQL = """(
  SELECT ps_partkey, ps_suppkey,
         (ps_partkey * 13 + ps_suppkey * 17) % 9999 + 1 AS ps_availqty,
         CAST((ps_partkey * 7 + ps_suppkey * 11) % 90000 AS DOUBLE)
             / 100.0 + 100.0 AS ps_supplycost
  FROM (SELECT DISTINCT l_partkey AS ps_partkey,
               l_suppkey AS ps_suppkey FROM lineitem)
)"""


def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 (minimum-cost supplier), adapted: for STANDARD parts of
    size >= 25 with EUROPE suppliers, the supplier(s) achieving the
    part's minimum supply cost. The per-part min is a skinny aggregate
    joined back (broadcast), never a window over the full partsupp."""
    ps = _partsupp(spark, sf_dir)
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") >= 25)
    ).select("p_partkey")
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    reg = _t(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE").select("r_regionkey")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eligible = (
        ps.join(F.broadcast(part),
                F.col("ps_partkey") == F.col("p_partkey"))
        .join(supp, F.col("ps_suppkey") == F.col("s_suppkey"))
    )
    minc = eligible.groupBy(F.col("ps_partkey").alias("mk")).agg(
        F.min("ps_supplycost").alias("min_cost"))
    return (
        eligible.join(F.broadcast(minc),
                      (F.col("ps_partkey") == F.col("mk"))
                      & (F.col("ps_supplycost") == F.col("min_cost")))
        .select("ps_partkey", "s_name", "n_name",
                F.round("s_acctbal", 2).alias("acctbal_r"),
                F.round("ps_supplycost", 2).alias("cost_r"))
    )


def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 (product-type profit), adapted: profit on 'red' parts
    by supplier nation and order year. Both profit terms are rounded
    to exact cents PER ROW before the long sum, so the aggregate is
    partitioning/engine-exact."""
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_name").contains("red")).select("p_partkey")
    ps = _partsupp(spark, sf_dir).select(
        "ps_partkey", "ps_suppkey", "ps_supplycost")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year"))
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation"))
    supp = _t(spark, sf_dir, "supplier") \
        .join(F.broadcast(nat),
              F.col("s_nationkey") == F.col("n_nationkey")) \
        .select("s_suppkey", "nation")
    rev_c = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100.0, 0).cast("long")
    cost_c = F.round(F.col("ps_supplycost")
                     * F.col("l_quantity") * 100.0, 0).cast("long")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(ps, (F.col("l_partkey") == F.col("ps_partkey"))
              & (F.col("l_suppkey") == F.col("ps_suppkey")))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", "o_year")
        .agg(((F.sum(rev_c) - F.sum(cost_c)).cast("double") / 100.0)
             .alias("profit"))
    )


def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 (important stock), adapted: per-part inventory value
    (supplycost × availqty) for NATION_3 suppliers, keeping parts
    above 1/1000 of the nation's total. All values are exact long
    cents (cost has 2 decimals, qty is integral), so the threshold
    comparison is engine-exact."""
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3").select("n_nationkey")
    supp = _t(spark, sf_dir, "supplier") \
        .join(F.broadcast(nat),
              F.col("s_nationkey") == F.col("n_nationkey")) \
        .select("s_suppkey")
    ps = _partsupp(spark, sf_dir)
    val_c = (F.round(F.col("ps_supplycost") * 100.0, 0).cast("long")
             * F.col("ps_availqty").cast("long"))
    scoped = ps.join(supp, F.col("ps_suppkey") == F.col("s_suppkey")) \
        .select("ps_partkey", val_c.alias("__vc"))
    per_part = scoped.groupBy("ps_partkey").agg(
        F.sum("__vc").alias("__pvc"))
    total = scoped.agg(F.sum("__vc").alias("__tvc"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("__pvc").cast("double")
                > F.col("__tvc").cast("double") * 0.001)
        .select("ps_partkey",
                (F.col("__pvc").cast("double") / 100.0).alias("value"))
    )


def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 (part/supplier relationship), adapted: distinct
    supplier counts per (brand, type, size) for parts NOT of brand
    'B_1' and not SMALL, excluding suppliers in deficit (the
    complaint-comment filter has no comment column to read)."""
    bad_supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0).select("s_suppkey")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "B_1") & (F.col("p_type") != "SMALL")
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    ps = _partsupp(spark, sf_dir).select("ps_partkey", "ps_suppkey")
    return (
        ps.join(F.broadcast(part),
                F.col("ps_partkey") == F.col("p_partkey"))
        .join(bad_supp, F.col("ps_suppkey") == F.col("s_suppkey"),
              "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 (potential part promotion), adapted: NATION_3
    suppliers holding availqty > half the 1996 shipped quantity of a
    'red' part they supply. The shipped-quantity aggregate is skinny
    (part, supp) and the final projection is a semi-join."""
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("red")).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01"))
    shipped = (
        li.join(F.broadcast(part),
                F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("l_partkey").alias("sk_pk"),
                 F.col("l_suppkey").alias("sk_sk"))
        .agg(F.sum("l_quantity").alias("qty"))
    )
    ps = _partsupp(spark, sf_dir)
    heavy = ps.join(
        shipped,
        (F.col("ps_partkey") == F.col("sk_pk"))
        & (F.col("ps_suppkey") == F.col("sk_sk"))
        & (F.col("ps_availqty").cast("double")
           > F.col("qty") * 0.5),
    ).select("ps_suppkey").distinct()
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3").select("n_nationkey")
    supp = _t(spark, sf_dir, "supplier") \
        .join(F.broadcast(nat),
              F.col("s_nationkey") == F.col("n_nationkey")) \
        .select("s_suppkey", "s_name")
    return supp.join(heavy, F.col("s_suppkey") == F.col("ps_suppkey"),
                     "left_semi").select("s_suppkey", "s_name")


# ---------------------------------------------------------------------------
# TPC-H Q8 / Q12 / Q21 — the three remaining no-partsupp queries


def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 (national market share), adapted: share of NATION_3
    suppliers in EUROPE-customer PROMO-part order volume by year.
    Broadcast dims prune the fact side first; volume summed in exact
    cents so the share division is engine/partitioning-stable."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO") \
        .select("p_partkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), "n_regionkey")
    region = _t(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE").select("r_regionkey")
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"),
        F.col("n_name").alias("supp_nation"))
    supp = _t(spark, sf_dir, "supplier") \
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk")) \
        .select("s_suppkey", "supp_nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") <= "1997-12-31"))
    li = _t(spark, sf_dir, "lineitem")
    vol_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0, 0
    ).cast("long")
    joined = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.year("o_orderdate").alias("o_year"),
                vol_cents.alias("vol"), "supp_nation")
    )
    return (
        joined.groupBy("o_year")
        .agg(F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_3",
                         F.col("vol")).otherwise(F.lit(0)))
            .cast("double")
            / F.sum("vol").cast("double"), 6).alias("mkt_share"))
        .orderBy("o_year")
    )


def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 (shipping-priority lines), adapted to this schema:
    lineitem has no shipmode/commit/receipt dates, so the group key is
    l_returnflag and "late" is l_shipdate > o_orderdate + 30 days (the
    Q4 convention). One fact-fact equi-join + a 3-row conditional
    aggregate — exact long counts."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    ).select("l_orderkey", "l_shipdate", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting), adapted: "late"
    is l_shipdate > o_orderdate + 30 days. Multi-supplier F-orders
    where ONLY this supplier shipped late: EXISTS → left-semi,
    NOT EXISTS → left-anti, both on the order key (no row
    multiplication, no correlated subquery materialization)."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    with_ord = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    late = with_ord.filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    ).select("l_orderkey", "l_suppkey")
    l2 = li.select(F.col("l_orderkey").alias("o2_key"),
                   F.col("l_suppkey").alias("o2_supp"))
    l3 = late.select(F.col("l_orderkey").alias("o3_key"),
                     F.col("l_suppkey").alias("o3_supp"))
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3").select("n_nationkey")
    supp = _t(spark, sf_dir, "supplier") \
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")) \
        .select("s_suppkey", "s_name")
    waiting = (
        late
        .join(l2, (F.col("l_orderkey") == F.col("o2_key"))
              & (F.col("l_suppkey") != F.col("o2_supp")), "left_semi")
        .join(l3, (F.col("l_orderkey") == F.col("o3_key"))
              & (F.col("l_suppkey") != F.col("o3_supp")), "left_anti")
    )
    return (
        waiting.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# registry


#: the external driver's correctness gate checks the FIRST 50 registry
#: entries only — so ``queries()`` is capped at exactly 50, ordered
#: newest/least-proven first (every new operator earns a driver row in
#: its debut round). The most-proven bedrock queries (green in rounds
#: 1–3) rotate into ``extra_queries()``: still oracle-checked locally
#: on every ``scripts/check_oracle.py`` run and still benchable, just
#: outside the driver's 50-row window.
_DRIVER_QUERY_CAP = 50


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = {
        # --- round-11 debuts (first driver check) ---
        "blocking_eval": q_blocking_eval,
        "fdr_ks": q_fdr_ks,
        "textrank": q_textrank,
        "dbscan": q_dbscan,
        "betweenness": q_betweenness,
        "ivfpq_knn_join": q_ivfpq_knn_join,
        # --- round-10 late debuts seated (first driver check;
        #     VERDICT r10 #1) ---
        "k_truss": q_k_truss,
        "stream_quantile": q_stream_quantile,
        # --- round-10 debuts retained (1 driver green, earning 2nd) ---
        "louvain_levels": q_louvain_levels,
        "anova_events": q_anova_events,
        "silhouette": q_silhouette,
        "qlm_retrieval": q_qlm_retrieval,
        "lexdiv": q_lexdiv,
        "scd2_delete": q_scd2_delete,
        "stream_hll": q_stream_hll,
        "fd_profile": q_fd_profile,
        "km_churn": q_km_churn,
        "ivf_knn_join": q_ivf_knn_join,
        # --- round-10 seatings retained (1 driver green, earning 2nd;
        #     rotate out next round per the ledger) ---
        "bpe_merges_sampled": q_bpe_merges_sampled,
        "retrieval_eval": q_retrieval_eval,
        "temperature_mixture": q_temperature_mixture,
        "trunc_recall": q_trunc_recall,
        "kn_trigram_lm": q_kn_trigram_lm,
        "kruskal_events": q_kruskal_events,
        "scd2_apply": q_scd2_apply,
        "contrastive_pairs": q_contrastive_pairs,
        "skyline_orders": q_skyline_orders,
        "clustering_coeff_capped": q_clustering_coeff_capped,
        "stream_trending": q_stream_trending,
        "holt_winters": q_holt_winters,
        "louvain": q_louvain,
        "stream_cm": q_stream_cm,
        "bpe_fertility": q_bpe_fertility,
        # --- after-r3 cohort re-seat cycle, batch 2 (VERDICT r10 #1):
        #     the 12 ledger rows whose driver greens are 7 rounds old
        #     re-earn a green and rotate back out next round ---
        "top_orders": q_top_orders,
        "nation_volume": q_nation_volume,
        "window_top_orders": q_window_top_orders_per_cust,
        "customers_without_orders": q_customers_without_orders,
        "parts_with_lineitems": q_parts_with_lineitems,
        "events_agg": q_events_agg,
        "rollup_lineitem": q_rollup_lineitem,
        "doc_token_stats": q_doc_token_stats,
        "doc_lang_id": q_doc_lang_id,
        "embedding_topk": q_embedding_topk,
        "doc_quality": q_doc_quality,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        # --- after-r4 cohort re-seats (greens r2+r3+r4 — 7 rounds
        #     old) ---
        "segment_range": q_segment_range,
        "box_range": q_box_range,
        "interval_overlap": q_interval_overlap,
        "sessionize": q_sessionize,
        "ngram_jaccard": q_ngram_jaccard,
    }
    assert len(q) == _DRIVER_QUERY_CAP, (
        f"queries() must stay at exactly {_DRIVER_QUERY_CAP} entries "
        f"(the driver's correctness window), got {len(q)} — rotate the "
        "most-proven entries into extra_queries()"
    )
    return q


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Bedrock queries rotated out of the driver's 50-row window after
    three consecutive green rounds (CORRECTNESS_r01–r03: rows+schema+
    hash all true). Local harnesses (`scripts/check_oracle.py`,
    `bench.py`, pytest) merge this dict with :func:`queries` so the
    oracle coverage stays total; every entry still has its SQL mirror
    in :func:`oracle_sql`."""
    return {
        # --- rotated after round 10: the 18 round-9 seatings + 2
        #     round-9 streaming debuts with 2 driver greens each
        #     (r9+r10), plus the 5 after-r3 re-seats that re-earned
        #     their green in round 10 ---
        "seasonal_decompose": q_seasonal_decompose,
        "bpe_merges": q_bpe_merges,
        "holt_forecast": q_holt_forecast,
        "pmi_collocations": q_pmi_collocations,
        "harmonic_centrality": q_harmonic_centrality,
        "mmr_rerank": q_mmr_rerank,
        "sq_topk": q_sq_topk,
        "effective_diameter": q_effective_diameter,
        "dataset_fingerprint": q_dataset_fingerprint,
        "doc_bpe": q_doc_bpe,
        "clustering_coeff": q_clustering_coeff,
        "zipf_fit": q_zipf_fit,
        "prf_bm25": q_prf_bm25,
        "stickiness": q_stickiness,
        "theil_sen": q_theil_sen,
        "spearman": q_spearman,
        "mannwhitney": q_mannwhitney,
        "assortativity": q_assortativity,
        "stream_session_window": q_stream_session_window,
        "stream_ohlc": q_stream_ohlc,
        "knn_and_filter": q_knn_and_filter,
        "layout_routed_knn": q_layout_routed_knn,
        "distance_join_self": q_distance_join_self,
        "range_filter": q_range_filter,
        "tpch_q1": q_tpch_q1,
        # --- rotated after round 9: the 3 round-8 debuts + 19 round-8
        #     seatings with 2 driver greens each (r8+r9), plus
        #     gini_prices / hyperanf (2 greens on their current code
        #     paths) and the 6 r7-bedrock rows on their 3rd green ---
        "geo_stream_knn": q_geo_stream_knn,
        "ivfpq_residual_topk": q_ivfpq_residual_topk,
        "incremental_dedup": q_incremental_dedup,
        "geo_circle_range": q_geo_circle_range,
        "geo_knn": q_geo_knn,
        "geo_cells": q_geo_cells,
        "tpch_q2": q_tpch_q2,
        "tpch_q9": q_tpch_q9,
        "tpch_q11": q_tpch_q11,
        "tpch_q16": q_tpch_q16,
        "tpch_q20": q_tpch_q20,
        "geo_routed_range": q_geo_routed_range,
        "geo_routed_knn": q_geo_routed_knn,
        "events_unpivot": q_events_unpivot,
        "hll_rolling": q_hll_rolling,
        "scd2_lookup": q_scd2_lookup,
        "theta_rolling": q_theta_rolling,
        "cm_join_size": q_cm_join_size,
        "impute_median": q_impute_median,
        "events_ohlc": q_events_ohlc,
        "impute_events": q_impute_events,
        "er_resolve": q_er_resolve,
        "gini_prices": q_gini_prices,
        "hyperanf": q_hyperanf,
        "modularity": q_modularity,
        "personalized_pagerank": q_personalized_pagerank,
        "edit_dist": q_edit_dist,
        "hybrid_retrieval": q_hybrid_retrieval,
        "rfm_segments": q_rfm,
        "shortest_paths": q_shortest_paths,
        # --- rotated after round 8 with 2 driver greens each (r7+r8)
        #     to seat the round-9 queue; all re-verified locally by
        #     every check_oracle.py run ---
        "acf_events": q_acf_events,
        "cusum_events": q_cusum_events,
        "ks_value": q_ks_value,
        "welch_value": q_welch_value,
        "mi_docs": q_mi_docs,
        "linreg_trend": q_linreg_trend,
        "build_vocab": q_build_vocab,
        "bigram_lm": q_bigram_lm,
        "benford_prices": q_benford_prices,
        "linkage": q_linkage,
        "quantile_bin_grouped": q_quantile_bin_grouped,
        "rank_normalize": q_rank_normalize,
        "chisq_events": q_chisq,
        "rollup_incremental": q_rollup_incremental,
        "theta_active": q_theta_active,
        "basket_rules": q_basket_rules,
        "adamic_adar": q_adamic_adar,
        "forecast_events": q_forecast_events,
        "robust_z": q_robust_z,
        "psi_drift": q_psi_drift,
        # --- rotated after round 7 with 1 driver green each (r7) to
        #     seat the round-8 queue + debuts; all re-verified locally
        #     by every check_oracle.py run ---
        "geo_distance_join": q_geo_distance_join,
        "geo_knn_join": q_geo_knn_join,
        "scd2_build": q_scd2_build,
        "tpch_q8": q_tpch_q8,
        "tpch_q12": q_tpch_q12,
        "tpch_q21": q_tpch_q21,
        "pq_topk": q_pq_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "k_core": q_k_core,
        "funnel": q_funnel,
        "cohort_retention": q_cohort_retention,
        "volume_anomaly": q_volume_anomaly,
        "bm25": q_bm25,
        "label_prop": q_label_prop,
        "k_hop": q_k_hop,
        "skew_report": q_skew_report,
        "phrase_search": q_phrase_search,
        "events_pivot": q_events_pivot,
        "attribution": q_attribution,
        "transition_matrix": q_transition_matrix,
        "top_paths": q_top_paths,
        "hits": q_hits,
        # --- rotated after round 6 with 1 driver green each (r6) to
        #     seat the 44-query backlog per the round-6 brief; all
        #     re-verified locally by every check_oracle.py run ---
        "events_ewma": q_events_ewma,
        "cov_matrix": q_cov_matrix,
        "validate_events": q_validate_events,
        "corr_matrix": q_corr_matrix,
        "sorted_neighborhood": q_sorted_neighborhood,
        "quantile_bin": q_quantile_bin,
        "table_diff": q_table_diff,
        "events_gapfill": q_events_gapfill,
        "leakage_split": q_leakage_split,
        "semantic_dedup": q_semantic_dedup,
        "kmeans_embeddings": q_kmeans_embeddings,
        "quantile_events": q_quantile_events,
        "quantile_merged": q_quantile_merged,
        "cm_heavy": q_cm_heavy,
        "winsorize_events": q_winsorize_events,
        "token_cooc": q_token_cooc,
        "tpch_q4": q_tpch_q4,
        "tpch_q7": q_tpch_q7,
        "tpch_q10": q_tpch_q10,
        "tpch_q13": q_tpch_q13,
        "tpch_q14": q_tpch_q14,
        "tpch_q15": q_tpch_q15,
        "tpch_q17": q_tpch_q17,
        "tpch_q19": q_tpch_q19,
        "tpch_q22": q_tpch_q22,
        "global_order": q_global_order,
        "scrub_ngrams": q_scrub_ngrams,
        "events_json": q_events_json,
        "events_histogram": q_events_histogram,
        "heavy_tokens": q_heavy_tokens,
        "table_profile": q_table_profile,
        # --- rotated after round 6 with 2 driver greens (r5+r6) ---
        "hll_orders": q_hll_orders,
        "hll_merged": q_hll_merged,
        "theta_parts": q_theta_parts,
        "pagerank": q_pagerank,
        "triangles": q_triangles,
        "weighted_sample": q_weighted_sample,
        "bloom_join": q_bloom_join,
        "pii_redact": q_pii_redact,
        "paragraph_dedup": q_paragraph_dedup,
        "mixture_sample": q_mixture_sample,
        "tpch_q18": q_tpch_q18,
        "lm_score": q_lm_score,
        "inverted_index": q_inverted_index,
        "dedup_resolve": q_dedup_resolve,
        "box_box_join": q_box_box_join,
        "segment_circle_join": q_segment_circle_join,
        "knn_join_highd": q_knn_join_highd,
        "doc_chunk": q_doc_chunk,
        "dup_ngrams": q_dup_ngrams,
        # --- rotated after round 5 (3 driver greens each: r3+r4+r5,
        #     except corpus_build/doc_pack r2+r4+r5) ---
        "corpus_build": q_corpus_build,
        "corpus_build_v2": q_corpus_build_v2,
        "doc_pack": q_doc_pack,
        "segment_join": q_segment_join,
        "polygon_box_range": q_polygon_box_range,
        "circle_rows_range": q_circle_rows_range,
        "polygon_distance_join": q_polygon_distance_join,
        "segment_knn": q_segment_knn,
        "segment_distance_join": q_segment_distance_join,
        "knn_join": q_knn_join,
        "zknn_join": q_zknn_join,
        "contamination": q_contamination,
        "doc_repetition": q_doc_repetition,
        "embedding_ivf_topk": q_embedding_ivf_topk,
        # --- rotated mid-round-6 with 2 driver greens (r4+r5) each to
        #     seat the kmeans/semantic-dedup debuts — plain lead/lag
        #     window functions and an inherited CUBE aggregate, code
        #     paths untouched since round 4, re-verified locally ---
        "events_lead_lag": q_events_lead_lag,
        "cube_events": q_cube_events,
        "events_resample": q_events_resample,
        "doc_tfidf": q_doc_tfidf,
        "events_rolling": q_events_rolling,
        "vector_knn_join": q_vector_knn_join,
        "skewed_join": q_skewed_join,
        "polygon_polygon_join": q_polygon_polygon_join,
        "polygon_polygon_distance_join": q_polygon_polygon_distance_join,
        "asof_join": q_asof_join,
        "events_quantiles": q_events_quantiles,
        # --- rotated after round 5 with 2 driver greens (r4+r5) to
        #     seat the 15 promotions — untouched code paths whose
        #     operator families keep other driver rows (tpch_q18;
        #     video_frames' multimodal siblings are locally green) ---
        "tpch_q5": q_tpch_q5,
        "tpch_q6": q_tpch_q6,
        "video_frames": q_video_frames,
        "orders_upsert": q_orders_upsert,
        "stratified_sample": q_stratified_sample,
        "polygon_segment_range": q_polygon_segment_range,
        # --- rotated mid-round-5 to seat the sketch/graph debuts
        #     (3 driver greens each — r1/r2/r4 for the multimodal trio,
        #     r2/r4 + round-3 local for the sampling pair; all
        #     untouched by this round's code changes) ---
        "blob_stats": q_blob_stats,
        "image_features": q_image_features,
        "audio_features": q_audio_features,
        "doc_sample": q_doc_sample,
        "source_quota": q_source_quota,
        "term_stats": q_term_stats,
        "tpch_q3": q_tpch_q3,
        # --- rotated after round 5's debuts (green r2+r3+r4; untouched
        #     by round-5 code changes — changed paths stay in the
        #     driver window for re-verification) ---
        "interval_join": q_interval_join,
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "layout_routed_range": q_layout_routed_range,
        "distance_join": q_distance_join,
        "knn_join_voronoi": q_knn_join_voronoi,
        "embedding_ann_topk": q_embedding_ann_topk,
        # --- after-r3-era rows not in the round-11 re-seat window
        #     (circle_range / knn re-verified audit-green in the r10
        #     audit; interval_1d's layout family holds fresher rows;
        #     doc_fingerprint displaced by the ivfpq_knn_join debut) ---
        "circle_range": q_circle_range,
        "knn": q_knn,
        "interval_1d": q_interval_1d,
        "doc_fingerprint": q_doc_fingerprint,
        "exact_dedup": q_exact_dedup,
        "dedup_components": q_dedup_components,
        "polygon_range": q_polygon_range,
        "knn_not_filter": q_knn_not_filter,
        "knn_or_filter": q_knn_or_filter,
    }


# ---------------------------------------------------------------------------
# oracles


def _ann_oracle_sql() -> str:
    """DuckDB SQL reproducing ``q_embedding_ann_topk``.

    The hyperplane LSH is seeded: the plane matrix is a data-independent
    numpy draw we regenerate here and embed as literals. Signatures are
    recomputed per row with the SAME fold association as the Spark
    expression ((0.0 + e1·p1) + e2·p2 + …), the multi-probe set is
    exactly `bit_count(sig XOR qsig) <= probe_hamming`, and the cosine
    ranking mirrors the already-hash-matched embedding_topk pattern.
    Sign decisions agree across engines unless a dot product sits within
    ~1 ulp of zero (probability ≈ 0 for continuous data).
    """
    from simba_spark.operators.dedup import hyperplane_planes

    planes = hyperplane_planes(8, 64, 42)

    def sig_expr(vec):
        dots = []
        for p in planes:
            terms = "0.0"
            for i, x in enumerate(p):
                terms = f"({terms} + (CAST({vec}[{i + 1}] AS DOUBLE) * {float(x)!r}))"
            dots.append(terms)
        bits = " | ".join(
            f"(CASE WHEN {d} >= 0 THEN (1 << {p_idx}) ELSE 0 END)"
            for p_idx, d in enumerate(dots)
        )
        return f"({bits})"

    return f"""
        WITH q AS (
          SELECT embedding FROM embeddings WHERE vec_id = 0
        ),
        qs AS (
          SELECT {sig_expr("q.embedding")} AS qsig FROM q
        ),
        s AS (
          SELECT e.vec_id, e.embedding, {sig_expr("e.embedding")} AS sig
          FROM embeddings e
        )
        SELECT s.vec_id,
               round(list_cosine_similarity(s.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4) AS sim4
        FROM s, q, qs
        WHERE bit_count(CAST(xor(s.sig, qs.qsig) AS BIGINT)) <= 3
        ORDER BY round(list_cosine_similarity(s.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) DESC,
                 s.vec_id ASC
        LIMIT 10
    """


#: SQL vertex expressions of the _ev_triangles triangle (must mirror
#: the Column arithmetic term-for-term)
_TRI_VX = [
    "value",
    "(value + CAST(event_id % 17 AS DOUBLE) - 8.0)",
    "(value - CAST(event_id % 13 AS DOUBLE) + 6.0)",
]
_TRI_VY = [
    "CAST(user_id AS DOUBLE)",
    "(CAST(user_id AS DOUBLE) + CAST(event_id % 11 AS DOUBLE) - 5.0)",
    "(CAST(user_id AS DOUBLE) + CAST(event_id % 7 AS DOUBLE) - 3.0)",
]


def _poly_contains_sql(vx, vy, px, py, eps: float = 1e-12) -> str:
    """Closed point-in-polygon with DYNAMIC vertex expressions — the
    SQL mirror of operators.polygon.in_polygon_col (crossing parity +
    eps on-edge), generated per edge."""
    n = len(vx)
    crossings, on_edge = [], []
    for i in range(n):
        x1, y1 = vx[i], vy[i]
        x2, y2 = vx[(i + 1) % n], vy[(i + 1) % n]
        straddle = f"(({y1} > {py}) != ({y2} > {py}))"
        xin = f"((({x2}) - ({x1})) * (({py}) - ({y1})) / (({y2}) - ({y1})) + ({x1}))"
        crossings.append(
            f"CASE WHEN {straddle} AND (({px}) < {xin}) THEN 1 ELSE 0 END"
        )
        cross = (
            f"((({x2}) - ({x1})) * (({py}) - ({y1}))"
            f" - (({y2}) - ({y1})) * (({px}) - ({x1})))"
        )
        on_edge.append(
            f"(abs({cross}) <= {eps}"
            f" AND ({px}) >= least({x1}, {x2}) AND ({px}) <= greatest({x1}, {x2})"
            f" AND ({py}) >= least({y1}, {y2}) AND ({py}) <= greatest({y1}, {y2}))"
        )
    return (
        "(((" + " + ".join(crossings) + ") % 2 = 1) OR "
        + " OR ".join(on_edge)
        + ")"
    )


def _edge_box_sql(x1, y1, x2, y2, lo, hi) -> str:
    """SQL mirror of the per-edge separating-axis segment-box test in
    operators.polygon.polygon_intersects_box_col."""
    dx, dy = f"(({x2}) - ({x1}))", f"(({y2}) - ({y1}))"

    def cross(cx, cy):
        return f"({dx} * ({cy} - ({y1})) - {dy} * ({cx} - ({x1})))"

    c1, c2 = cross(lo[0], lo[1]), cross(hi[0], lo[1])
    c3, c4 = cross(lo[0], hi[1]), cross(hi[0], hi[1])
    return (
        f"(least({x1}, {x2}) <= {hi[0]} AND greatest({x1}, {x2}) >= {lo[0]}"
        f" AND least({y1}, {y2}) <= {hi[1]} AND greatest({y1}, {y2}) >= {lo[1]}"
        f" AND NOT ({c1} > 0 AND {c2} > 0 AND {c3} > 0 AND {c4} > 0)"
        f" AND NOT ({c1} < 0 AND {c2} < 0 AND {c3} < 0 AND {c4} < 0))"
    )


def _poly_box_sql(vx, vy, lo, hi) -> str:
    """SQL mirror of polygon_intersects_box_col: vertex-in-box OR
    box-corner-in-polygon OR edge-crosses-box."""
    n = len(vx)
    vin = " OR ".join(
        f"(({vx[i]}) >= {lo[0]} AND ({vx[i]}) <= {hi[0]}"
        f" AND ({vy[i]}) >= {lo[1]} AND ({vy[i]}) <= {hi[1]})"
        for i in range(n)
    )
    corners = " OR ".join(
        _poly_contains_sql(vx, vy, str(cx), str(cy))
        for cx, cy in ((lo[0], lo[1]), (hi[0], lo[1]), (lo[0], hi[1]), (hi[0], hi[1]))
    )
    edges = " OR ".join(
        _edge_box_sql(vx[i], vy[i], vx[(i + 1) % n], vy[(i + 1) % n], lo, hi)
        for i in range(n)
    )
    return f"(({vin}) OR ({corners}) OR ({edges}))"


def _point_seg_d2_sql(cx, cy, x1, y1, x2, y2) -> str:
    """SQL mirror of operators.polygon._point_seg_d2 (clamped
    projection, identical association order)."""
    dx, dy = f"(({x2}) - ({x1}))", f"(({y2}) - ({y1}))"
    len2 = f"({dx} * {dx} + {dy} * {dy})"
    t_raw = f"(((({cx}) - ({x1})) * {dx} + (({cy}) - ({y1})) * {dy}) / {len2})"
    t = f"(CASE WHEN {len2} > 0 THEN least(greatest({t_raw}, 0.0), 1.0) ELSE 0.0 END)"
    px = f"(({x1}) + {t} * {dx})"
    py = f"(({y1}) + {t} * {dy})"
    return f"((({cx}) - {px}) * (({cx}) - {px}) + (({cy}) - {py}) * (({cy}) - {py}))"


def _polygon_distance_join_oracle_sql() -> str:
    """DuckDB mirror of q_polygon_distance_join: cross join + the
    identical CASE-guarded point-to-triangle distance arithmetic
    (the operator is exact, so the oracle is the semantic predicate)."""
    vx = [e.replace("value", "a.value").replace("event_id", "a.event_id").replace("user_id", "a.user_id") for e in _TRI_VX]
    vy = [e.replace("value", "a.value").replace("event_id", "a.event_id").replace("user_id", "a.user_id") for e in _TRI_VY]
    px, py = "b.value", "CAST(b.user_id AS DOUBLE)"
    n = len(vx)
    d2s = [
        _point_seg_d2_sql(px, py, vx[i], vy[i], vx[(i + 1) % n], vy[(i + 1) % n])
        for i in range(n)
    ]
    contains = _poly_contains_sql(vx, vy, px, py)
    dist2 = f"(CASE WHEN {contains} THEN 0.0 ELSE least({', '.join(d2s)}) END)"
    return f"""
        SELECT a.event_id AS a_id, b.event_id AS b_id
        FROM events a, events b
        WHERE a.event_id % 97 = 0 AND b.event_id % 3 = 0
          AND {dist2} <= 16.0
    """


def _seg_seg_intersect_sql(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2) -> str:
    """SQL mirror of shapes.seg_seg_intersect_coords (closed
    orientation test, identical association order)."""

    def orient(ox, oy, px, py, qx, qy):
        return (
            f"((({px}) - ({ox})) * (({qy}) - ({oy}))"
            f" - (({py}) - ({oy})) * (({qx}) - ({ox})))"
        )

    o1 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    o2 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    o3 = orient(bx1, by1, bx2, by2, ax1, ay1)
    o4 = orient(bx1, by1, bx2, by2, ax2, ay2)
    proper = (
        f"((({o1} > 0 AND {o2} < 0) OR ({o1} < 0 AND {o2} > 0))"
        f" AND (({o3} > 0 AND {o4} < 0) OR ({o3} < 0 AND {o4} > 0)))"
    )

    def onb(px, py, sx1, sy1, sx2, sy2):
        return (
            f"(({px}) >= least({sx1}, {sx2}) AND ({px}) <= greatest({sx1}, {sx2})"
            f" AND ({py}) >= least({sy1}, {sy2}) AND ({py}) <= greatest({sy1}, {sy2}))"
        )

    touch = (
        f"(({o1} = 0 AND {onb(bx1, by1, ax1, ay1, ax2, ay2)})"
        f" OR ({o2} = 0 AND {onb(bx2, by2, ax1, ay1, ax2, ay2)})"
        f" OR ({o3} = 0 AND {onb(ax1, ay1, bx1, by1, bx2, by2)})"
        f" OR ({o4} = 0 AND {onb(ax2, ay2, bx1, by1, bx2, by2)}))"
    )
    return f"({proper} OR {touch})"


def _poly_seg_sql(vx, vy, seg) -> str:
    """SQL mirror of polygon_intersects_segment_col: some edge
    intersects the literal segment OR its first endpoint is inside."""
    n = len(vx)
    sx1, sy1, sx2, sy2 = (repr(float(v)) for v in seg)
    edges = " OR ".join(
        _seg_seg_intersect_sql(
            vx[i], vy[i], vx[(i + 1) % n], vy[(i + 1) % n], sx1, sy1, sx2, sy2
        )
        for i in range(n)
    )
    return f"(({edges}) OR {_poly_contains_sql(vx, vy, sx1, sy1)})"


def _poly_poly_intersect_sql(ax, ay, bx, by) -> str:
    """SQL mirror of polygons_intersect_col: some edge pair intersects
    OR A's first vertex in B OR B's first vertex in A."""
    n, m = len(ax), len(bx)
    edge_pairs = " OR ".join(
        _seg_seg_intersect_sql(
            ax[i], ay[i], ax[(i + 1) % n], ay[(i + 1) % n],
            bx[j], by[j], bx[(j + 1) % m], by[(j + 1) % m],
        )
        for i in range(n)
        for j in range(m)
    )
    a_in_b = _poly_contains_sql(bx, by, ax[0], ay[0])
    b_in_a = _poly_contains_sql(ax, ay, bx[0], by[0])
    return f"(({edge_pairs}) OR {a_in_b} OR {b_in_a})"


def _seg_seg_d2_sql(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2) -> str:
    """SQL mirror of polygon._seg_seg_d2 (min of the four clamped
    endpoint projections)."""
    return "least({}, {}, {}, {})".format(
        _point_seg_d2_sql(ax1, ay1, bx1, by1, bx2, by2),
        _point_seg_d2_sql(ax2, ay2, bx1, by1, bx2, by2),
        _point_seg_d2_sql(bx1, by1, ax1, ay1, ax2, ay2),
        _point_seg_d2_sql(bx2, by2, ax1, ay1, ax2, ay2),
    )


def _poly_poly_dist2_sql(ax, ay, bx, by) -> str:
    """SQL mirror of polygon_to_polygon_dist2: 0 when intersecting,
    else the min over edge pairs of the segment-segment distance."""
    n, m = len(ax), len(bx)
    d2s = [
        _seg_seg_d2_sql(
            ax[i], ay[i], ax[(i + 1) % n], ay[(i + 1) % n],
            bx[j], by[j], bx[(j + 1) % m], by[(j + 1) % m],
        )
        for i in range(n)
        for j in range(m)
    ]
    return (
        f"(CASE WHEN {_poly_poly_intersect_sql(ax, ay, bx, by)} THEN 0.0"
        f" ELSE least({', '.join(d2s)}) END)"
    )


def _tri_sql(alias: str):
    """(_TRI_VX, _TRI_VY) rebased onto a table alias."""
    vx = [
        e.replace("value", f"{alias}.value").replace(
            "event_id", f"{alias}.event_id"
        ).replace("user_id", f"{alias}.user_id")
        for e in _TRI_VX
    ]
    vy = [
        e.replace("value", f"{alias}.value").replace(
            "event_id", f"{alias}.event_id"
        ).replace("user_id", f"{alias}.user_id")
        for e in _TRI_VY
    ]
    return vx, vy


def _polygon_polygon_join_oracle_sql(r: float) -> str:
    """DuckDB mirror of the polygon-polygon grid join: cross join +
    the identical intersection / distance predicate (the operator is
    exact, so the oracle is the semantic predicate)."""
    ax, ay = _tri_sql("a")
    bx, by = _tri_sql("b")
    if r == 0.0:
        pred = _poly_poly_intersect_sql(ax, ay, bx, by)
    else:
        pred = f"({_poly_poly_dist2_sql(ax, ay, bx, by)} <= {r * r!r})"
    return f"""
        SELECT a.event_id AS a_id, b.event_id AS b_id
        FROM events a, events b
        WHERE a.event_id % 97 = 0 AND b.event_id % 89 = 0
          AND {pred}
    """


def _zknn_oracle_sql() -> str:
    """DuckDB SQL reproducing ``q_zknn_join`` bit-for-bit.

    zknn is approximate-by-algorithm but DETERMINISTIC given the seed:
    the shift vector is span * u where u comes from Random(seed) (a
    data-independent draw we can embed as a literal), and every other
    step — grid scaling, z-interleave, per-shift global right-rank,
    ±window_mult·k candidate windows, (dist, id) top-k — is plain
    arithmetic both engines execute identically (IEEE doubles, same
    association order as the Column expressions). This turns the whole
    scalable-rank pipeline into a hash-matched row instead of a
    rows-only check.
    """
    import random

    rng = random.Random(42)
    u0, u1 = rng.random(), rng.random()  # uniform(0, sp) = sp * random()
    bits, k_w = 16, 3 * 2  # bits/dim; k * window_mult
    scale = (1 << bits) - 1

    def ival(col, sv, mn):
        return (
            f"LEAST({scale}, GREATEST(0, CAST(round((({col} + {sv}) - {mn})"
            f" * p.iso) AS BIGINT)))"
        )

    # bit j of coord i -> position j*2 + i (z_value_col layout)
    z_terms = " | ".join(
        f"(((i0 >> {j}) & 1) << {2 * j}) | (((i1 >> {j}) & 1) << {2 * j + 1})"
        for j in range(bits)
    )

    def zsrc(table, idc, c0, c1):
        return f"""
          SELECT tag, {idc}, ({z_terms}) AS z FROM (
            SELECT sh.tag, t.{idc},
                   {ival(f"t.{c0}", "sh.sv0", "p.mn0")} AS i0,
                   {ival(f"CAST(t.{c1} AS DOUBLE)", "sh.sv1", "p.mn1")} AS i1
            FROM {table} t CROSS JOIN shifts sh CROSS JOIN params p
          )"""

    d2 = (
        "(0.0 + (s.s_acctbal - c.c_acctbal)*(s.s_acctbal - c.c_acctbal))"
        " + (CAST(s.s_nationkey AS DOUBLE) - CAST(c.c_nationkey AS DOUBLE))"
        " * (CAST(s.s_nationkey AS DOUBLE) - CAST(c.c_nationkey AS DOUBLE))"
    )
    return f"""
        WITH bounds AS (
          SELECT min(d0) AS mn0, max(d0) AS mx0, min(d1) AS mn1, max(d1) AS mx1
          FROM (
            SELECT s_acctbal AS d0, CAST(s_nationkey AS DOUBLE) AS d1 FROM supplier
            UNION ALL
            SELECT c_acctbal AS d0, CAST(c_nationkey AS DOUBLE) AS d1 FROM customer
          )
        ),
        params AS (
          SELECT mn0, mn1,
                 CASE WHEN mx0 > mn0 THEN mx0 - mn0 ELSE 1.0 END AS sp0,
                 CASE WHEN mx1 > mn1 THEN mx1 - mn1 ELSE 1.0 END AS sp1,
                 {float(scale)!r} / GREATEST(
                   CASE WHEN mx0 > mn0 THEN mx0 - mn0 ELSE 1.0 END,
                   CASE WHEN mx1 > mn1 THEN mx1 - mn1 ELSE 1.0 END) AS iso
          FROM bounds
        ),
        shifts AS (
          SELECT 0 AS tag, 0.0 AS sv0, 0.0 AS sv1 FROM params
          UNION ALL
          SELECT 1, sp0 * {u0!r}, sp1 * {u1!r} FROM params
        ),
        rz AS ({zsrc("customer", "c_custkey", "c_acctbal", "c_nationkey")}),
        lz AS ({zsrc("supplier", "s_suppkey", "s_acctbal", "s_nationkey")}),
        rranks AS (
          SELECT tag, c_custkey,
                 ROW_NUMBER() OVER (PARTITION BY tag ORDER BY z, c_custkey) AS rnk
          FROM rz
        ),
        lcounts AS (
          SELECT l.tag, l.s_suppkey, COUNT(r.c_custkey) AS c
          FROM lz l LEFT JOIN rz r ON r.tag = l.tag AND r.z <= l.z
          GROUP BY l.tag, l.s_suppkey
        ),
        cand AS (
          SELECT DISTINCT lc.s_suppkey, rr.c_custkey
          FROM lcounts lc JOIN rranks rr
            ON rr.tag = lc.tag
           AND rr.rnk BETWEEN GREATEST(lc.c - {k_w - 1}, 1) AND lc.c + {k_w}
        ),
        scored AS (
          SELECT cd.s_suppkey, cd.c_custkey,
                 ROW_NUMBER() OVER (
                   PARTITION BY cd.s_suppkey
                   ORDER BY sqrt({d2}) ASC, cd.c_custkey ASC) AS rn
          FROM cand cd
          JOIN supplier s USING (s_suppkey)
          JOIN customer c USING (c_custkey)
        )
        SELECT s_suppkey, c_custkey FROM scored WHERE rn <= 3
    """

def _ev_d2(cx: float, cy: float) -> str:
    return (
        f"((value - {cx})*(value - {cx}) + "
        f"(CAST(user_id AS DOUBLE) - {cy})*(CAST(user_id AS DOUBLE) - {cy}))"
    )


_SW = {
    "en": r"\b(the|and|of|to|in|is|that|it|for|was)\b",
    "de": r"\b(der|die|und|das|ist|nicht|mit|ein|auf|im)\b",
    "fr": r"\b(le|la|et|les|des|est|une|dans|que|pour)\b",
    "es": r"\b(el|los|que|de|se|por|con|para|las|una)\b",
}
_PUNCT_SQL = r"[.,;:!?''\"()\[\]{}-]"   # '' escapes a quote inside SQL string


def _md5long_sql(expr: str, salt: int) -> str:
    """DuckDB mirror of dedup._hash64(hash_fn='md5long')."""
    return f"('0x' || substr(md5(({expr}) || '#{salt}'), 1, 15))::BIGINT"


def _minhash_oracle() -> str:
    """Recomputes the full MinHash-LSH pipeline in DuckDB: word-5-gram
    sets, one md5long base hash per shingle + 32 affine-derived
    minhashes, 16 banded hashes, band-collision candidates, exact set
    Jaccard."""
    from simba_spark.operators.dedup import affine_consts, affine_sql

    seed, nh, bands = 42, 32, 16
    consts = affine_consts(nh, seed)
    sig_exprs = ",\n                     ".join(
        f"coalesce(list_min(list_transform(bs, b -> {affine_sql('b', *consts[j])})), 0) AS m{j}"
        for j in range(nh)
    )
    band_exprs = ",\n                     ".join(
        _md5long_sql(f"m{2 * b}::VARCHAR || ',' || m{2 * b + 1}::VARCHAR", b)
        + f" AS bh{b}"
        for b in range(bands)
    )
    collide = " OR ".join(f"x.bh{b} = y.bh{b}" for b in range(bands))
    inter = "len(list_intersect(x.gd, y.gd))"
    un = f"len(x.gd) + len(y.gd) - {inter}"
    return rf"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
          FROM documents
        ), grams AS (
          SELECT doc_id,
                 list_distinct(
                   CASE WHEN len(t) >= 5
                        THEN list_transform(range(1, len(t) - 3),
                                            i -> array_to_string(t[i:i+4], ' '))
                        WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
                        ELSE [] END
                 ) AS gd
          FROM toks
        ), based AS (
          SELECT doc_id, gd,
                 list_transform(gd, s -> {_md5long_sql('s', 42)}) AS bs
          FROM grams
        ), sigs AS (
          SELECT doc_id, gd,
                     {sig_exprs}
          FROM based
        ), banded AS (
          SELECT *,
                     {band_exprs}
          FROM sigs
        )
        SELECT x.doc_id AS a_id, y.doc_id AS b_id,
               CASE WHEN ({un}) > 0
                    THEN ({inter})::DOUBLE / ({un})
                    ELSE 0.0 END AS jaccard
        FROM banded x, banded y
        WHERE x.doc_id < y.doc_id AND ({collide})
    """


def _incremental_dedup_oracle() -> str:
    """Full replay of incremental_minhash_dedup in DuckDB: the same
    md5long signature/band CTEs as `_minhash_oracle`, then an
    increment row survives iff NO colliding corpus doc verifies at
    Jaccard >= 0.8 AND NO colliding smaller-id increment sibling does
    (the one-sweep policy)."""
    from simba_spark.operators.dedup import affine_consts, affine_sql

    seed, nh, bands = 42, 32, 16
    consts = affine_consts(nh, seed)
    sig_exprs = ",\n                     ".join(
        f"coalesce(list_min(list_transform(bs, b -> {affine_sql('b', *consts[j])})), 0) AS m{j}"
        for j in range(nh)
    )
    band_exprs = ",\n                     ".join(
        _md5long_sql(f"m{2 * b}::VARCHAR || ',' || m{2 * b + 1}::VARCHAR", b)
        + f" AS bh{b}"
        for b in range(bands)
    )

    def collide(x, y):
        return " OR ".join(f"{x}.bh{b} = {y}.bh{b}" for b in range(bands))

    def jac_ok(x, y):
        inter = f"len(list_intersect({x}.gd, {y}.gd))"
        un = f"len({x}.gd) + len({y}.gd) - {inter}"
        return (f"(({un}) > 0 AND ({inter})::DOUBLE / ({un}) >= 0.8)")

    return rf"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
          FROM documents
        ), grams AS (
          SELECT doc_id,
                 list_distinct(
                   CASE WHEN len(t) >= 5
                        THEN list_transform(range(1, len(t) - 3),
                                            i -> array_to_string(t[i:i+4], ' '))
                        WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
                        ELSE [] END
                 ) AS gd
          FROM toks
        ), based AS (
          SELECT doc_id, gd,
                 list_transform(gd, s -> {_md5long_sql('s', 42)}) AS bs
          FROM grams
        ), sigs AS (
          SELECT doc_id, gd,
                     {sig_exprs}
          FROM based
        ), banded AS (
          SELECT *,
                     {band_exprs}
          FROM sigs
        )
        SELECT i.doc_id
        FROM banded i
        WHERE i.doc_id % 3 = 0
          AND i.doc_id NOT IN (
            SELECT x.doc_id FROM banded x, banded c
            WHERE x.doc_id % 3 = 0 AND c.doc_id % 3 != 0
              AND ({collide('x', 'c')}) AND {jac_ok('x', 'c')})
          AND i.doc_id NOT IN (
            SELECT y.doc_id FROM banded a, banded y
            WHERE a.doc_id % 3 = 0 AND y.doc_id % 3 = 0
              AND a.doc_id < y.doc_id
              AND ({collide('a', 'y')}) AND {jac_ok('a', 'y')})
    """


def _simhash_oracle() -> str:
    """Brute-force SimHash oracle (valid because pigeonhole chunk
    blocking is lossless): 60-bit md5long token hashes, per-bit majority
    sign, Hamming <= 3 over all pairs."""
    bit_terms = " + ".join(
        f"CASE WHEN 2 * len(list_filter(h, v -> ((v >> {i}) & 1) = 1)) > len(h) "
        f"THEN {1 << i}::BIGINT ELSE 0::BIGINT END"
        for i in range(60)
    )
    return rf"""
        WITH hs AS (
          SELECT doc_id,
                 list_transform(string_split_regex(lower(trim(text)), '\s+'),
                                t -> {_md5long_sql('t', 0)}) AS h
          FROM documents
        ), sh AS (
          SELECT doc_id, ({bit_terms}) AS simhash FROM hs
        )
        SELECT x.doc_id AS a_id, y.doc_id AS b_id,
               bit_count(xor(x.simhash, y.simhash)) AS hamming
        FROM sh x, sh y
        WHERE x.doc_id < y.doc_id
          AND bit_count(xor(x.simhash, y.simhash)) <= 3
    """


def _md5_byte_sql(i: int) -> str:
    """Byte i of md5(text) as an integer (the fake-decode feature seed)."""
    return f"('0x' || substr(md5(text), {2 * i + 1}, 2))::INT"


def _polygon_oracle() -> str:
    from simba_spark.operators.polygon import in_polygon_sql

    pred = in_polygon_sql("value", "CAST(user_id AS DOUBLE)", _POLY)
    return f"SELECT event_id, user_id, value FROM events WHERE {pred}"


#: SQL mirror of q_pii_redact's deterministic enrichment — must stay
#: byte-identical to the Spark concat in q_pii_redact.
_PII_ENRICH_SQL = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 = 0
                THEN ' contact user' || doc_id || '@example.com'
                ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                THEN ' from 10.0.' || (doc_id % 256) || '.17'
                ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                THEN ' call +1 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                     || '-' || lpad((doc_id % 9999)::VARCHAR, 4, '0')
                ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                THEN ' card 4111 1111 1111 '
                     || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                ELSE '' END
           || CASE WHEN doc_id % 13 = 0
                THEN ' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                ELSE '' END
           AS text
    FROM documents
"""


def _pii_oracle_sql() -> str:
    """DuckDB mirror of q_pii_redact: the same enrichment CTE, then the
    operator's own SQL rendering (simba_spark.operators.text.
    pii_redact_sql — shared pattern table, sequential-count semantics)."""
    from simba_spark.operators.text import pii_redact_sql

    exprs = ",\n                   ".join(pii_redact_sql("text"))
    return f"""
        WITH enr AS ({_PII_ENRICH_SQL})
        SELECT doc_id, n_email, n_card, n_ssn, n_phone, n_ipv4,
               (n_email + n_card + n_ssn + n_phone + n_ipv4)::BIGINT AS n_pii,
               text_redacted
        FROM (SELECT doc_id,
                   {exprs}
              FROM enr)
    """


def oracle_sql() -> dict[str, str]:
    d2_circle = _ev_d2(*_CIRCLE_C)
    d2_knn = _ev_d2(*_KNN_Q)
    box = (
        f"value >= {_BOX_LO[0]} AND value <= {_BOX_HI[0]} "
        f"AND CAST(user_id AS DOUBLE) >= {_BOX_LO[1]} AND CAST(user_id AS DOUBLE) <= {_BOX_HI[1]}"
    )
    dj_d2 = (
        "((c.c_acctbal - s.s_acctbal)*(c.c_acctbal - s.s_acctbal) + "
        "(CAST(c.c_nationkey AS DOUBLE) - CAST(s.s_nationkey AS DOUBLE))*"
        "(CAST(c.c_nationkey AS DOUBLE) - CAST(s.s_nationkey AS DOUBLE)))"
    )
    sj_d2 = (
        "((a.s_acctbal - b.s_acctbal)*(a.s_acctbal - b.s_acctbal) + "
        "(CAST(a.s_nationkey AS DOUBLE) - CAST(b.s_nationkey AS DOUBLE))*"
        "(CAST(a.s_nationkey AS DOUBLE) - CAST(b.s_nationkey AS DOUBLE)))"
    )
    kj_d2 = (
        "((s.s_acctbal - c.c_acctbal)*(s.s_acctbal - c.c_acctbal) + "
        "(CAST(s.s_nationkey AS DOUBLE) - CAST(c.c_nationkey AS DOUBLE))*"
        "(CAST(s.s_nationkey AS DOUBLE) - CAST(c.c_nationkey AS DOUBLE)))"
    )
    sw_counts = ", ".join(
        f"len(regexp_extract_all(lower(text), '{_SW[l]}')) AS sw_{l}"
        for l in ("en", "de", "fr", "es")
    )
    n_tokens = r"len(string_split_regex(text, '\s+'))"
    punct = f"len(regexp_extract_all(text, '{_PUNCT_SQL}'))"
    sw_en = f"len(regexp_extract_all(lower(text), '{_SW['en']}'))"

    from simba_spark.operators.clustering import (dbscan_sql, kmeans_sql,
                                                  silhouette_sql)
    from simba_spark.operators.dedup import (blocking_eval_sql,
                                             edit_distance_pairs_sql,
                                             linkage_score_sql,
                                             semantic_dedup_sql)
    from simba_spark.operators.graph import (adamic_adar_sql,
                                             betweenness_centrality_sql,
                                             clustering_coefficient_sql,
                                             k_truss_sql,
                                             louvain_moves_sql,
                                             louvain_sql,
                                             degree_assortativity_sql,
                                             effective_diameter_sql,
                                             harmonic_centrality_sql,
                                             hits_sql,
                                             pagerank_sql,
                                             shortest_paths_sql,
                                             triangle_count_sql)
    from simba_spark.operators.similarity import (contrastive_pairs_sql,
                                                  truncation_recall_sql)
    from simba_spark.operators.skyline import skyline_sql
    from simba_spark.operators.pipeline import (dataset_fingerprint_sql,
                                                quantile_bin_sql,
                                                rank_normalize_sql,
                                                split_assign_sql,
                                                table_diff_sql,
                                                temperature_mixture_sql,
                                                weighted_sample_key_sql,
                                                winsorize_sql)
    from simba_spark.operators.stats import (anova_oneway_sql,
                                             fd_profile_sql,
                                             fdr_bh_sql,
                                             chisq_independence_sql,
                                             kruskal_wallis_sql,
                                             mannwhitney_u_sql,
                                             spearman_corr_sql,
                                             corr_matrix_sql, cov_matrix_sql,
                                             histogram_fixed_sql)
    from simba_spark.operators.analytics import (km_survival_sql,
                                                 stickiness_sql)
    from simba_spark.operators.retrieval import (mmr_rerank_sql,
                                                 prf_expand_sql,
                                                 retrieval_metrics_sql)
    from simba_spark.operators.text import (bpe_apply_sql,
                                            bpe_fertility_sql,
                                            bpe_train_sql,
                                            kn_trigram_lm_sql,
                                            zipf_fit_sql,
                                            pmi_collocations_sql,
                                            token_cooccurrence_sql)
    from simba_spark.operators.sketches import (
        cm_estimate_sql, cm_sketch_sql,
        hll_distinct_sql, hll_estimate_sql, hll_sketch_sql, kmv_theta_sql,
        quantile_estimate_sql, quantile_merge_sql, quantile_sketch_sql,
        quantile_sketch_bucketed_sql,
        theta_intersect_sql, theta_sketch_sql,
    )

    hll_sub = hll_distinct_sql(
        "lineitem", "l_orderkey", ["l_returnflag"], p=12,
        out_col="approx_orders",
    )
    pr_edges = """(
        SELECT src, dst FROM (
          SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        UNION ALL
        SELECT dst AS src, src AS dst FROM (
          SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        WHERE dst % 3 = 0
    )"""
    ws_key = weighted_sample_key_sql("doc_id", "n_chars", 7)

    from simba_spark.operators.analytics import (
        attribution_sql, basket_rules_sql, cohort_retention_sql, funnel_sql,
        top_paths_sql, transition_matrix_sql, volume_anomaly_sql,
    )
    from simba_spark.operators.retrieval import rrf_fuse_sql
    from simba_spark.operators.text import (bm25_batch_sql, bm25_sql,
                                            lexical_diversity_sql,
                                            lm_dirichlet_sql,
                                            phrase_search_sql,
                                            textrank_keywords_sql)
    from simba_spark.operators.timeseries import (
        acf_sql, cusum_sql, forecast_seasonal_naive_sql,
        holt_forecast_sql, holt_winters_sql,
        seasonal_decompose_sql, theil_sen_sql,
        linreg_series_sql, rollup_sql)

    from simba_spark.operators.graph import (hyperanf_sql, k_core_sql,
                                             k_hop_sql,
                                             label_propagation_sql,
                                             modularity_sql,
                                             personalized_pagerank_sql)
    from simba_spark.operators.stats import (benford_sql, gini_sql,
                                             ks_test_sql,
                                             mutual_information_sql,
                                             psi_drift_sql,
                                             robust_zscore_sql,
                                             skew_report_sql,
                                             welch_ttest_sql)

    from simba_spark.operators.geo import haversine_km_sql

    _gl_lat, _gl_lon = _geo_coords_sql("l.event_id", 37, 59)
    _gr_lat, _gr_lon = _geo_coords_sql("r.event_id", 37, 59)
    _gs_lat, _gs_lon = _geo_coords_sql("s_suppkey", 41, 71)
    _gc_lat, _gc_lon = _geo_coords_sql("c_custkey", 37, 59)
    _ge_lat, _ge_lon = _geo_coords_sql("event_id", 37, 59)
    geo_dj_hav = haversine_km_sql(_gl_lat, _gl_lon, _gr_lat, _gr_lon)
    geo_kj_hav = haversine_km_sql("s.lat", "s.lon", "c.lat", "c.lon")
    geo_cr_hav = haversine_km_sql(_ge_lat, _ge_lon, "72.0", "150.0")
    geo_knn_hav = haversine_km_sql(_ge_lat, _ge_lon, "48.0", "2.0")
    _gn_lat, _gn_lon = _geo_coords_sql("n_nationkey", 41, 71)
    geo_sk_hav = haversine_km_sql("e.lat", "e.lon", "n.lat", "n.lon")

    from simba_spark.operators.geo import geo_cell_agg_sql
    from simba_spark.operators.sketches import hll_rolling_sql

    geo_cells_sql = geo_cell_agg_sql(
        f"(SELECT {_ge_lat} AS lat, {_ge_lon} AS lon, value "
        "FROM events) __g",
        "lat", "lon", 500.0,
        agg_sql=_cents_sum_sql("value") + " AS val_sum",
        carry=["value"],
    )
    from simba_spark.operators.sketches import (quantile_estimate_sql,
                                                 quantile_sketch_sql,
                                                 theta_rolling_sql,
                                                 theta_sketch_sql)

    _imed_base = (
        "(SELECT event_id, event_type, "
        "CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS __iv "
        "FROM events) __b")
    _imed_est = quantile_estimate_sql(
        quantile_sketch_sql(_imed_base, "__iv", "event_id",
                            ["event_type"], k=256),
        [0.5], ["event_type"])

    theta_roll_sql = theta_rolling_sql(
        theta_sketch_sql(
            "SELECT CAST(date_diff('day', DATE '1970-01-01', "
            "CAST(ts AS DATE)) AS BIGINT) AS day, user_id FROM events",
            "user_id", ["day"], k=512),
        "day", 7, k=512, out_col="roll_users")

    hll_roll_sql = hll_rolling_sql(
        hll_sketch_sql(
            "(SELECT CAST(date_diff('day', DATE '1970-01-01', "
            "CAST(ts AS DATE)) AS BIGINT) AS day, user_id "
            "FROM events) __e",
            "user_id", ["day"], p=12),
        "day", 7, p=12, out_col="approx_users")

    from simba_spark.operators.timeseries import ohlc_sql

    _er_pairs = """(
      WITH __r AS (
        SELECT c_custkey, c_name, c_mktsegment,
               row_number() OVER (
                 ORDER BY c_name || chr(1) ||
                          lpad(length(c_custkey::VARCHAR)::VARCHAR,
                               4, '0') || c_custkey::VARCHAR
               ) AS rk
        FROM customer
        WHERE c_name IS NOT NULL AND c_custkey IS NOT NULL
      )
      SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
             a.c_name AS name_a, a.c_mktsegment AS seg_a,
             b.c_name AS name_b, b.c_mktsegment AS seg_b
      FROM __r a JOIN __r b ON b.rk > a.rk AND b.rk - a.rk <= 5
    )"""
    _er_edges = linkage_score_sql(
        _er_pairs,
        [
            ("name_a", "name_b", "levenshtein", 0.9, 0.05, 0.9),
            ("seg_a", "seg_b", "exact", 0.8, 0.2),
        ],
        select_cols="a_id, b_id",
        threshold=4.0,
    )

    return {
        "tpch_q2": f"""
            WITH __ps AS (SELECT * FROM {_PARTSUPP_SQL}),
            __supp AS (
              SELECT s_suppkey, s_name, s_acctbal, n.n_name
              FROM supplier s
              JOIN nation n ON s.s_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              WHERE r.r_name = 'EUROPE'
            ), __elig AS (
              SELECT ps.ps_partkey, ps.ps_supplycost,
                     s.s_name, s.n_name, s.s_acctbal
              FROM __ps ps
              JOIN part p ON ps.ps_partkey = p.p_partkey
              JOIN __supp s ON ps.ps_suppkey = s.s_suppkey
              WHERE p.p_type = 'STANDARD' AND p.p_size >= 25
            ), __min AS (
              SELECT ps_partkey AS mk, min(ps_supplycost) AS min_cost
              FROM __elig GROUP BY ps_partkey
            )
            SELECT e.ps_partkey, e.s_name, e.n_name,
                   round(e.s_acctbal, 2) AS acctbal_r,
                   round(e.ps_supplycost, 2) AS cost_r
            FROM __elig e JOIN __min m
              ON e.ps_partkey = m.mk AND e.ps_supplycost = m.min_cost
        """,
        "tpch_q9": f"""
            WITH __ps AS (SELECT * FROM {_PARTSUPP_SQL})
            SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
                   CAST(sum(CAST(round(l.l_extendedprice
                                       * (1 - l.l_discount) * 100.0, 0)
                                 AS BIGINT))
                        - sum(CAST(round(ps.ps_supplycost
                                         * l.l_quantity * 100.0, 0)
                                   AS BIGINT)) AS DOUBLE) / 100.0
                       AS profit
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN __ps ps ON l.l_partkey = ps.ps_partkey
                        AND l.l_suppkey = ps.ps_suppkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE p.p_name LIKE '%red%'
            GROUP BY n.n_name, year(o.o_orderdate)
        """,
        "tpch_q11": f"""
            WITH __ps AS (SELECT * FROM {_PARTSUPP_SQL}),
            __scoped AS (
              SELECT ps.ps_partkey,
                     CAST(round(ps.ps_supplycost * 100.0, 0) AS BIGINT)
                         * CAST(ps.ps_availqty AS BIGINT) AS __vc
              FROM __ps ps
              JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
              JOIN nation n ON s.s_nationkey = n.n_nationkey
              WHERE n.n_name = 'NATION_3'
            ), __pp AS (
              SELECT ps_partkey, CAST(sum(__vc) AS BIGINT) AS __pvc
              FROM __scoped GROUP BY ps_partkey
            ), __t AS (
              SELECT CAST(sum(__vc) AS BIGINT) AS __tvc FROM __scoped
            )
            SELECT ps_partkey,
                   CAST(__pvc AS DOUBLE) / 100.0 AS value
            FROM __pp CROSS JOIN __t
            WHERE CAST(__pvc AS DOUBLE) > CAST(__tvc AS DOUBLE) * 0.001
        """,
        "tpch_q16": f"""
            WITH __ps AS (SELECT * FROM {_PARTSUPP_SQL})
            SELECT p.p_brand, p.p_type, p.p_size,
                   CAST(count(DISTINCT ps.ps_suppkey) AS BIGINT)
                       AS supplier_cnt
            FROM __ps ps
            JOIN part p ON ps.ps_partkey = p.p_partkey
            WHERE p.p_brand <> 'B_1' AND p.p_type <> 'SMALL'
              AND ps.ps_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p.p_brand, p.p_type, p.p_size
        """,
        "tpch_q20": f"""
            WITH __ps AS (SELECT * FROM {_PARTSUPP_SQL}),
            __shipped AS (
              SELECT l.l_partkey AS sk_pk, l.l_suppkey AS sk_sk,
                     sum(l.l_quantity) AS qty
              FROM lineitem l
              JOIN part p ON l.l_partkey = p.p_partkey
              WHERE p.p_name LIKE 'red%'
                AND l.l_shipdate >= '1996-01-01'
                AND l.l_shipdate < '1997-01-01'
              GROUP BY l.l_partkey, l.l_suppkey
            ), __heavy AS (
              SELECT DISTINCT ps.ps_suppkey
              FROM __ps ps
              JOIN __shipped s
                ON ps.ps_partkey = s.sk_pk
               AND ps.ps_suppkey = s.sk_sk
               AND CAST(ps.ps_availqty AS DOUBLE) > s.qty * 0.5
            )
            SELECT s.s_suppkey, s.s_name
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_3'
              AND s.s_suppkey IN (SELECT ps_suppkey FROM __heavy)
        """,
        "er_resolve": f"""
            WITH RECURSIVE me AS (
              SELECT a_id, b_id FROM ({_er_edges})
            ), edges AS (
              SELECT a_id AS src, b_id AS dst FROM me
              UNION SELECT b_id, a_id FROM me
            ), nodes AS (
              SELECT DISTINCT src AS id FROM edges
            ), reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.src, reach.r FROM edges e
              JOIN reach ON e.dst = reach.id
            ), comp AS (
              SELECT id, min(r) AS component FROM reach GROUP BY id
            ), canon AS (
              SELECT component, id AS canonical_id FROM (
                SELECT c.component, c.id,
                       row_number() OVER (
                         PARTITION BY c.component
                         ORDER BY cu.c_acctbal DESC, c.id ASC) AS rn
                FROM comp c JOIN customer cu ON cu.c_custkey = c.id
              ) WHERE rn = 1
            )
            SELECT c.id, c.component, canon.canonical_id
            FROM comp c JOIN canon USING (component)
        """,
        "events_ohlc": ohlc_sql("events", "ts", "value",
                                key_cols=["event_type"],
                                tiebreak_col="event_id"),
        # streaming_windowed_ohlc batch-parity row: same OHLC algebra
        # on hourly tumbling windows (min/max struct(ts, tb, v) ≡
        # row_number picks when (ts, tb) is total)
        "stream_ohlc": ohlc_sql(
            "events", "ts", "value", key_cols=["event_type"],
            bucket_sql="CAST(date_trunc('hour', {ts}) AS TIMESTAMP)",
            tiebreak_col="event_id"),
        # streaming_session_window_stats batch-parity row: native
        # session_window merge rule — [t, t+gap) half-open windows, so
        # an event EXACTLY gap after its predecessor starts a NEW
        # session (>= in the island split, not >)
        "stream_session_window": """
            WITH __e AS (
              SELECT user_id, ts, CAST(value AS DOUBLE) AS __v
              FROM events WHERE ts IS NOT NULL
            ), __g AS (
              SELECT user_id, ts, __v,
                     CASE WHEN lag(ts) OVER w IS NULL
                           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS __new
              FROM __e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), __s AS (
              SELECT user_id, ts, __v,
                     sum(__new) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS __sid
              FROM __g
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   count(*)::BIGINT AS n_events,
                   CAST(sum(CAST(round(__v * 100.0, 0) AS BIGINT))
                        AS DOUBLE) / 100.0 AS val_sum
            FROM __s GROUP BY user_id, __sid
        """,
        "impute_events": """
            WITH __e AS (
              SELECT event_id, event_type,
                     CASE WHEN event_id % 7 = 0
                          THEN NULL ELSE value END AS v
              FROM events
            ), __f AS (
              SELECT event_type,
                     round(avg(CASE WHEN NOT isnan(CAST(v AS DOUBLE))
                                    THEN v END), 6) AS __fill
              FROM __e GROUP BY event_type
            )
            SELECT e.event_id, e.event_type,
                   round(coalesce(
                       CASE WHEN NOT isnan(CAST(e.v AS DOUBLE))
                            THEN e.v END,
                       f.__fill), 6) AS v_filled
            FROM __e e LEFT JOIN __f f USING (event_type)
        """,
        "theta_rolling": theta_roll_sql,
        "cm_join_size": f"""
            WITH __sa AS ({cm_sketch_sql("lineitem", "l_orderkey",
                                         depth=4, width=512)}),
            __sb AS ({cm_sketch_sql("orders", "o_orderkey",
                                    depth=4, width=512)}),
            __ip AS (
              SELECT a.__cm_d,
                     CAST(sum(a.__cm_n * b.__cm_n) AS BIGINT) AS __p
              FROM __sa a
              JOIN __sb b ON a.__cm_d = b.__cm_d
                         AND a.__cm_b = b.__cm_b
              GROUP BY a.__cm_d
            ), __est AS (
              SELECT CAST(min(__p) AS BIGINT) AS est_join_rows FROM __ip
            ), __ex AS (
              SELECT count(*)::BIGINT AS exact_join_rows
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            )
            SELECT est_join_rows, exact_join_rows
            FROM __est CROSS JOIN __ex
        """,
        "impute_median": f"""
            WITH __e AS (
              SELECT event_id, event_type,
                     CASE WHEN event_id % 7 = 0
                          THEN NULL ELSE value END AS v
              FROM events
            ), __f AS (
              SELECT event_type, round(q500, 6) AS __fill
              FROM ({_imed_est})
            )
            SELECT e.event_id, e.event_type,
                   round(coalesce(
                       CASE WHEN NOT isnan(CAST(e.v AS DOUBLE))
                            THEN e.v END,
                       f.__fill), 6) AS v_filled
            FROM __e e LEFT JOIN __f f USING (event_type)
        """,
        "geo_cells": geo_cells_sql,
        "geo_routed_range": f"""
            SELECT event_id FROM events
            WHERE {geo_cr_hav} <= 2000.0
        """,
        "geo_routed_knn": f"""
            SELECT event_id, round({geo_knn_hav}, 4) AS dist_r
            FROM events
            ORDER BY {geo_knn_hav} ASC, event_id ASC
            LIMIT 25
        """,
        "events_unpivot": """
            SELECT event_id, 'value' AS metric, value AS m_value
            FROM events
            UNION ALL
            SELECT event_id, 'uid', CAST(user_id AS DOUBLE) FROM events
        """,
        "hll_rolling": (
            f"SELECT day, round(approx_users, 4) AS approx_users "
            f"FROM ({hll_roll_sql})"),
        "scd2_lookup": """
            WITH base AS (
              SELECT o_custkey, o_orderdate, o_orderstatus,
                     o_orderpriority, o_orderkey
              FROM orders
              WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
            ), lagged AS (
              SELECT *,
                     lag(o_orderstatus) OVER w AS __ps,
                     lag(o_orderpriority) OVER w AS __pp,
                     lag(o_orderdate) OVER w AS __pd
              FROM base
              WINDOW w AS (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey)
            ), versions AS (
              SELECT * FROM lagged
              WHERE __pd IS NULL
                 OR NOT (o_orderstatus IS NOT DISTINCT FROM __ps
                         AND o_orderpriority IS NOT DISTINCT FROM __pp)
            ), dim AS (
              SELECT o_custkey AS d_key,
                     o_orderstatus AS status_v,
                     o_orderpriority AS priority_v,
                     o_orderdate AS valid_from,
                     lead(o_orderdate) OVER (
                         PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey) AS valid_to
              FROM versions
            )
            SELECT f.o_orderkey, f.o_custkey, f.o_orderdate,
                   d.status_v, d.priority_v, d.valid_from, d.valid_to
            FROM orders f
            JOIN dim d
              ON f.o_custkey = d.d_key
             AND d.valid_from <= f.o_orderdate
             AND (d.valid_to IS NULL OR f.o_orderdate < d.valid_to)
        """,
        "geo_distance_join": f"""
            SELECT l.event_id AS l_id, r.event_id AS r_id,
                   round({geo_dj_hav}, 4) AS dist_r
            FROM events l, events r
            WHERE l.event_id % 2 = 0 AND r.event_id % 2 = 1
              AND {geo_dj_hav} <= 300.0
        """,
        "geo_knn_join": f"""
            WITH s AS (SELECT s_suppkey, {_gs_lat} AS lat,
                              {_gs_lon} AS lon FROM supplier),
                 c AS (SELECT c_custkey, {_gc_lat} AS lat,
                              {_gc_lon} AS lon FROM customer),
                 p AS (SELECT s.s_suppkey, c.c_custkey,
                              {geo_kj_hav} AS d
                       FROM s, c)
            SELECT s_suppkey, c_custkey, round(d, 4) AS dist_r
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY s_suppkey ORDER BY d, c_custkey
                  ) AS rn FROM p)
            WHERE rn <= 3
        """,
        "geo_circle_range": f"""
            SELECT event_id FROM events
            WHERE {geo_cr_hav} <= 2000.0
        """,
        "geo_knn": f"""
            SELECT event_id, round({geo_knn_hav}, 4) AS dist_r
            FROM events
            ORDER BY {geo_knn_hav} ASC, event_id ASC
            LIMIT 25
        """,
        "geo_stream_knn": f"""
            WITH e AS (SELECT event_id, {_ge_lat} AS lat,
                              {_ge_lon} AS lon FROM events),
                 n AS (SELECT n_nationkey, {_gn_lat} AS lat,
                              {_gn_lon} AS lon FROM nation),
                 p AS (SELECT e.event_id, n.n_nationkey AS site_key,
                              {geo_sk_hav} AS d
                       FROM e, n)
            SELECT event_id, site_key, round(d, 4) AS dist_r
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY event_id ORDER BY d, site_key
                  ) AS rn FROM p)
            WHERE rn <= 3
        """,
        "scd2_build": """
            WITH base AS (
              SELECT o_custkey, o_orderdate, o_orderstatus,
                     o_orderpriority, o_orderkey
              FROM orders
              WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
            ), lagged AS (
              SELECT *,
                     lag(o_orderstatus) OVER w AS __ps,
                     lag(o_orderpriority) OVER w AS __pp,
                     lag(o_orderdate) OVER w AS __pd
              FROM base
              WINDOW w AS (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey)
            ), versions AS (
              SELECT * FROM lagged
              WHERE __pd IS NULL
                 OR NOT (o_orderstatus IS NOT DISTINCT FROM __ps
                         AND o_orderpriority IS NOT DISTINCT FROM __pp)
            )
            SELECT o_custkey, o_orderstatus, o_orderpriority,
                   o_orderdate AS valid_from,
                   lead(o_orderdate) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS valid_to
            FROM versions
        """,
        "tpch_q8": f"""
            SELECT o_year,
                   round(CAST(sum(CASE WHEN nation = 'NATION_3'
                                       THEN vol ELSE 0 END) AS DOUBLE)
                         / CAST(sum(vol) AS DOUBLE), 6) AS mkt_share
            FROM (
              SELECT year(o.o_orderdate) AS o_year,
                     CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                * 100.0, 0) AS BIGINT) AS vol,
                     n2.n_name AS nation
              FROM lineitem l
              JOIN part p ON l.l_partkey = p.p_partkey
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
              JOIN region r ON n1.n_regionkey = r.r_regionkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
              WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
                AND o.o_orderdate >= '1996-01-01'
                AND o.o_orderdate <= '1997-12-31'
            )
            GROUP BY o_year
        """,
        "tpch_q12": """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN o_orderpriority IN
                                      ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN
                                      ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT)
                       AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= '1996-01-01'
              AND l_shipdate < '1997-01-01'
              AND l_shipdate > o_orderdate + INTERVAL 30 DAY
            GROUP BY l_returnflag
        """,
        "tpch_q21": """
            WITH late AS (
              SELECT l.l_orderkey, l.l_suppkey
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE o.o_orderstatus = 'F'
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
            )
            SELECT s.s_name, count(*) AS numwait
            FROM late l1
            JOIN supplier s ON l1.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_3'
              AND EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM late l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey)
            GROUP BY s.s_name
        """,
        "skew_report": skew_report_sql(
            "lineitem", ["l_suppkey"], top=20, target_rows_per_task=500
        ),
        "bm25": bm25_sql("documents", ["hash", "join", "spark"], k=25),
        "qlm_retrieval": lm_dirichlet_sql(
            "documents", ["hash", "join", "spark"], k=25),
        "lexdiv": lexical_diversity_sql("documents"),
        "retrieval_eval": retrieval_metrics_sql(
            bm25_batch_sql("documents",
                           {t: [t] for t in RETRIEVAL_EVAL_TERMS}, k=15),
            ("SELECT term AS query, doc_id,"
             " CAST(least(count(*), 5) AS BIGINT) AS grade FROM ("
             "SELECT doc_id, unnest(regexp_split_to_array("
             "lower(trim(text)), '\\s+')) AS term FROM documents)"
             " WHERE term IN ("
             + ", ".join(f"'{t}'" for t in RETRIEVAL_EVAL_TERMS)
             + ") GROUP BY 1, 2"),
            k=10),
        "prf_bm25": bm25_sql(
            "documents", [], k=25,
            terms_sql=(
                "SELECT term FROM ("
                + prf_expand_sql("documents", ["hash", "join", "spark"],
                                 k_docs=10, k_terms=5)
                + ") UNION SELECT unnest(['hash', 'join', 'spark']) AS term"
            )),
        "basket_rules": basket_rules_sql(
            "SELECT l.l_orderkey AS bk, p.p_brand AS it FROM lineitem l "
            "JOIN part p ON l.l_partkey = p.p_partkey",
            "bk", "it", min_support=0.02, min_confidence=0.1,
        ),
        "edit_dist": edit_distance_pairs_sql(
            "SELECT * FROM supplier", "s_name", "s_suppkey", max_dist=1
        ),
        "hybrid_retrieval": rrf_fuse_sql(
            [
                bm25_sql("documents", ["hash", "join", "spark"], k=40),
                """
                WITH __q AS (SELECT embedding::DOUBLE[] AS qv
                             FROM embeddings WHERE vec_id = 0)
                SELECT e.vec_id AS doc_id,
                       round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                    __q.qv), 6) AS cosine_sim
                FROM embeddings e, __q
                ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                      __q.qv), 6) DESC,
                         e.vec_id ASC
                LIMIT 40
                """,
            ],
            ["doc_id"], ["score", "cosine_sim"], k=60, topk=20,
        ),
        "phrase_search": phrase_search_sql("documents", "hash join"),
        # the conditional-aggregation rendering of Spark's pivot; the
        # NULLIF/FILTER forms reproduce pivot's NULL (not 0) for empty
        # (day, type) cells, and the cent-sum matches _cents_sum
        "events_pivot": (
            "SELECT CAST(date_trunc('day', ts) AS DATE) AS day,\n"
            + ",\n".join(
                f"NULLIF(count(CASE WHEN event_type = '{t}' THEN 1 END), 0)"
                f" AS {t}_n,\n"
                f"sum(CAST(round(value * 100.0, 0) AS BIGINT))"
                f" FILTER (WHERE event_type = '{t}') / 100.0 AS {t}_val"
                for t in ("click", "view", "purchase", "signup", "error")
            )
            + "\nFROM events GROUP BY 1"
        ),
        "label_prop": label_propagation_sql(pr_edges, iters=4),
        "k_core": k_core_sql(pr_edges, k=10, iters=6),
        "hyperanf": hyperanf_sql(pr_edges, iters=4, p=6),
        "harmonic_centrality": harmonic_centrality_sql(
            pr_edges, iters=3, p=6),
        # p=6 since round 9: shares the ONE hyperball trajectory with
        # hyperanf / harmonic_centrality (was an independent p=5 run)
        "effective_diameter": effective_diameter_sql(
            hyperanf_sql(pr_edges, iters=4, p=6), q=0.9),
        "clustering_coeff": clustering_coefficient_sql(pr_edges),
        "clustering_coeff_capped": clustering_coefficient_sql(
            pr_edges, max_degree=64),
        "louvain": louvain_moves_sql(pr_edges, iters=4),
        "louvain_levels": louvain_sql(pr_edges, iters=4, levels=2),
        "betweenness": betweenness_centrality_sql(
            pr_edges, n_seeds=8, depth=3),
        "textrank": textrank_keywords_sql(
            "documents", window=2, k=25, iters=6),
        "fdr_ks": fdr_bh_sql(
            "(" + "\nUNION ALL\n".join(
                f"SELECT '{a}_vs_{b}' AS test_id, d_stat, p_value "
                f"FROM ({ks_test_sql('events', 'value', 'event_type', a, b)})"
                for a, b in _FDR_PAIRS) + ")",
            p_col="p_value", alpha=0.25),
        "dbscan": dbscan_sql(
            "(SELECT s_suppkey, s_acctbal, "
            "CAST(s_nationkey AS DOUBLE) AS s_nat FROM supplier)",
            ["s_acctbal", "s_nat"], eps=250.0, min_pts=3,
            id_col="s_suppkey"),
        "assortativity": degree_assortativity_sql(pr_edges),
        "spearman": spearman_corr_sql(
            "(SELECT o_totalprice, n_lines FROM orders JOIN "
            "(SELECT l_orderkey AS o_orderkey, count(*) AS n_lines "
            "FROM lineitem GROUP BY 1) USING (o_orderkey))",
            "o_totalprice", "n_lines"),
        "mannwhitney": mannwhitney_u_sql(
            "events", "value", "event_type", "click", "purchase"),
        "kruskal_events": kruskal_wallis_sql(
            "events", "value", "event_type"),
        "anova_events": anova_oneway_sql(
            "events", "value", "event_type"),
        "fd_profile": fd_profile_sql("orders", [
            ("o_custkey", "o_orderpriority"),
            ("o_orderkey", "o_orderstatus"),
            ("o_orderstatus", "o_orderpriority"),
        ]),
        "km_churn": km_survival_sql(
            "(SELECT date_diff('day', min(o_orderdate), max(o_orderdate))"
            " AS duration,"
            " max(o_orderdate) < DATE '1998-01-01' AS event"
            " FROM orders GROUP BY o_custkey)"),
        # incremental SCD2 merge: the same splice pipeline — old
        # versions re-enter as events (src 0, before same-ts batch
        # rows), batch keys only, collapse re-runs across the splice
        # streaming_windowed_cm batch-parity row: the same md5 hash60
        # buckets as batch cm_sketch, per hourly window
        "stream_quantile": quantile_estimate_sql(
            quantile_sketch_bucketed_sql(
                "(SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)"
                " AS bucket, event_type, event_id, value FROM events)",
                "value", "event_id", ["bucket", "event_type"], k=256),
            qs=(0.5, 0.9), group_exprs=["bucket", "event_type"],
        ),
        "stream_hll": (
            "SELECT bucket, event_type,"
            " round(approx_users, 4) AS approx_users FROM ("
            + hll_distinct_sql(
                "(SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)"
                " AS bucket, event_type, user_id FROM events)",
                "user_id", ["bucket", "event_type"], p=12,
                out_col="approx_users") + ")"),
        "stream_cm": """
            WITH __b AS (
              SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                     event_type, d.__cm_d,
                     CASE d.__cm_d
                       WHEN 0 THEN (('0x' || substr(md5((user_id) || '#42'), 1, 15))::BIGINT) % 256
                       WHEN 1 THEN (('0x' || substr(md5((user_id) || '#43'), 1, 15))::BIGINT) % 256
                       WHEN 2 THEN (('0x' || substr(md5((user_id) || '#44'), 1, 15))::BIGINT) % 256
                       ELSE (('0x' || substr(md5((user_id) || '#45'), 1, 15))::BIGINT) % 256
                     END AS __cm_b
              FROM events, (SELECT unnest([0, 1, 2, 3]) AS __cm_d) d
              WHERE user_id IS NOT NULL
            )
            SELECT bucket, event_type, __cm_d, __cm_b,
                   count(*)::BIGINT AS __cm_n
            FROM __b GROUP BY 1, 2, 3, 4
        """,
        # streaming_trending_terms batch-parity row: hourly windows on
        # the derived doc_id-minute event time; top-k = (n DESC, term
        # ASC), the struct(-n, term) sort order
        "stream_trending": """
            WITH __tok AS (
              SELECT CAST(TIMESTAMP '2024-01-01' +
                          to_minutes(CAST(doc_id AS INT)) AS TIMESTAMP)
                       AS ts,
                     unnest(regexp_split_to_array(lower(trim(text)),
                                                  '\\s+')) AS term
              FROM documents
            ), __c AS (
              SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                     term, count(*)::BIGINT AS n
              FROM __tok WHERE length(term) >= 1 GROUP BY 1, 2
            )
            SELECT bucket, term, n, CAST(__rn AS INT) AS "rank" FROM (
              SELECT *, row_number() OVER (
                PARTITION BY bucket ORDER BY n DESC, term ASC) AS __rn
              FROM __c
            ) WHERE __rn <= 10
        """,
        "scd2_apply": """
            WITH old_base AS (
              SELECT o_custkey, o_orderdate, o_orderstatus,
                     o_orderpriority, o_orderkey
              FROM orders
              WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
                AND o_orderdate < DATE '1997-01-01'
            ), old_lag AS (
              SELECT *,
                     lag(o_orderstatus) OVER w AS __ps,
                     lag(o_orderpriority) OVER w AS __pp,
                     lag(o_orderdate) OVER w AS __pd
              FROM old_base
              WINDOW w AS (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey)
            ), old_dim AS (
              SELECT o_custkey, o_orderstatus, o_orderpriority,
                     o_orderdate AS valid_from,
                     lead(o_orderdate) OVER (
                         PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey) AS valid_to
              FROM old_lag
              WHERE __pd IS NULL
                 OR NOT (o_orderstatus IS NOT DISTINCT FROM __ps
                         AND o_orderpriority IS NOT DISTINCT FROM __pp)
            ), batch AS (
              SELECT o_custkey, o_orderdate, o_orderstatus,
                     o_orderpriority, o_orderkey
              FROM orders
              WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
                AND o_orderdate >= DATE '1997-01-01'
            ), affected AS (SELECT DISTINCT o_custkey FROM batch),
            events AS (
              SELECT d.o_custkey, d.o_orderstatus, d.o_orderpriority,
                     d.valid_from AS o_orderdate,
                     0 AS __src, d.valid_to AS __vto,
                     CAST(NULL AS BIGINT) AS __tb
              FROM old_dim d JOIN affected a USING (o_custkey)
              UNION ALL
              SELECT o_custkey, o_orderstatus, o_orderpriority,
                     o_orderdate, 1 AS __src,
                     CAST(NULL AS TIMESTAMP) AS __vto,
                     o_orderkey AS __tb
              FROM batch
            ), lagged AS (
              SELECT *,
                     lag(o_orderstatus) OVER w AS __ps,
                     lag(o_orderpriority) OVER w AS __pp,
                     lag(o_orderdate) OVER w AS __pd
              FROM events
              WINDOW w AS (PARTITION BY o_custkey
                           ORDER BY o_orderdate, __src,
                                    __vto ASC NULLS LAST, __tb,
                                    o_orderstatus, o_orderpriority)
            ), rebuilt AS (
              SELECT o_custkey, o_orderstatus, o_orderpriority,
                     o_orderdate AS valid_from,
                     lead(o_orderdate) OVER (
                         PARTITION BY o_custkey
                         ORDER BY o_orderdate, __src,
                                  __vto ASC NULLS LAST, __tb,
                                  o_orderstatus, o_orderpriority)
                       AS valid_to
              FROM lagged
              WHERE __pd IS NULL
                 OR NOT (o_orderstatus IS NOT DISTINCT FROM __ps
                         AND o_orderpriority IS NOT DISTINCT FROM __pp)
            )
            SELECT * FROM rebuilt
            UNION ALL
            SELECT o_custkey, o_orderstatus, o_orderpriority,
                   valid_from, valid_to
            FROM old_dim
            WHERE o_custkey NOT IN (SELECT o_custkey FROM affected)
        """,
        # scd2_apply with CDC tombstones: same splice, batch rows with
        # o_orderkey % 7 = 0 are deletes — attrs nulled, __del joins
        # the change-detection columns, tombstone versions filtered
        # AFTER the lead() pass stamps valid_to onto predecessors
        "scd2_delete": """
            WITH old_base AS (
              SELECT o_custkey, o_orderdate, o_orderstatus,
                     o_orderpriority, o_orderkey
              FROM orders
              WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
                AND o_orderdate < DATE '1997-01-01'
            ), old_lag AS (
              SELECT *,
                     lag(o_orderstatus) OVER w AS __ps,
                     lag(o_orderpriority) OVER w AS __pp,
                     lag(o_orderdate) OVER w AS __pd
              FROM old_base
              WINDOW w AS (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey)
            ), old_dim AS (
              SELECT o_custkey, o_orderstatus, o_orderpriority,
                     o_orderdate AS valid_from,
                     lead(o_orderdate) OVER (
                         PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey) AS valid_to
              FROM old_lag
              WHERE __pd IS NULL
                 OR NOT (o_orderstatus IS NOT DISTINCT FROM __ps
                         AND o_orderpriority IS NOT DISTINCT FROM __pp)
            ), batch AS (
              SELECT o_custkey,
                     CASE WHEN o_orderkey % 7 <> 0
                          THEN o_orderstatus END AS o_orderstatus,
                     CASE WHEN o_orderkey % 7 <> 0
                          THEN o_orderpriority END AS o_orderpriority,
                     o_orderdate, o_orderkey,
                     CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS __del
              FROM orders
              WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
                AND o_orderdate >= DATE '1997-01-01'
            ), affected AS (SELECT DISTINCT o_custkey FROM batch),
            events AS (
              SELECT d.o_custkey, d.o_orderstatus, d.o_orderpriority,
                     d.valid_from AS o_orderdate,
                     0 AS __src, d.valid_to AS __vto,
                     CAST(NULL AS BIGINT) AS __tb, 0 AS __del
              FROM old_dim d JOIN affected a USING (o_custkey)
              UNION ALL
              SELECT o_custkey, o_orderstatus, o_orderpriority,
                     o_orderdate, 1 AS __src,
                     CAST(NULL AS TIMESTAMP) AS __vto,
                     o_orderkey AS __tb, __del
              FROM batch
            ), lagged AS (
              SELECT *,
                     lag(o_orderstatus) OVER w AS __ps,
                     lag(o_orderpriority) OVER w AS __pp,
                     lag(__del) OVER w AS __pl,
                     lag(o_orderdate) OVER w AS __pd
              FROM events
              WINDOW w AS (PARTITION BY o_custkey
                           ORDER BY o_orderdate, __src,
                                    __vto ASC NULLS LAST, __tb,
                                    o_orderstatus, o_orderpriority)
            ), rebuilt AS (
              SELECT o_custkey, o_orderstatus, o_orderpriority, __del,
                     o_orderdate AS valid_from,
                     lead(o_orderdate) OVER (
                         PARTITION BY o_custkey
                         ORDER BY o_orderdate, __src,
                                  __vto ASC NULLS LAST, __tb,
                                  o_orderstatus, o_orderpriority)
                       AS valid_to
              FROM lagged
              WHERE __pd IS NULL
                 OR NOT (o_orderstatus IS NOT DISTINCT FROM __ps
                         AND o_orderpriority IS NOT DISTINCT FROM __pp
                         AND __del IS NOT DISTINCT FROM __pl)
            )
            SELECT o_custkey, o_orderstatus, o_orderpriority,
                   valid_from, valid_to
            FROM rebuilt WHERE __del = 0
            UNION ALL
            SELECT o_custkey, o_orderstatus, o_orderpriority,
                   valid_from, valid_to
            FROM old_dim
            WHERE o_custkey NOT IN (SELECT o_custkey FROM affected)
        """,
        "stickiness": stickiness_sql("events"),
        "theil_sen": theil_sen_sql(
            "SELECT event_type, epoch_us(ts) // 86400000000 AS bucket,"
            " count(*) AS n_events FROM events GROUP BY 1, 2",
            key="event_type", bucket="bucket", value="n_events"),
        "personalized_pagerank": personalized_pagerank_sql(
            pr_edges,
            f"(SELECT src AS node FROM {pr_edges} e2 WHERE src % 100 = 0)",
            iters=6,
        ),
        "k_hop": k_hop_sql(
            pr_edges,
            f"(SELECT src AS node FROM {pr_edges} e2 WHERE src % 100 = 0)",
            k=3,
        ),
        "funnel": funnel_sql(
            "events", ["signup", "view", "click", "purchase"]
        ),
        "cohort_retention": cohort_retention_sql("events"),
        "attribution": attribution_sql(
            "events", model="linear", lookback_seconds=21600
        ),
        "transition_matrix": transition_matrix_sql("events"),
        "top_paths": top_paths_sql("events", max_len=5, k=20),
        "acf_events": acf_sql(
            "(SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,"
            " count(*) AS x FROM events GROUP BY 1, 2)",
            key_col="event_type", lags=6),
        "bpe_merges": bpe_train_sql("documents", num_merges=8),
        "bpe_merges_sampled": bpe_train_sql(
            "documents", num_merges=8, sample_fraction=0.5),
        "bpe_fertility": bpe_fertility_sql("documents", num_merges=8),
        "temperature_mixture": temperature_mixture_sql(
            "documents", "lang", "doc_id", alpha=0.3,
            select="t.doc_id, t.lang"),
        "trunc_recall": truncation_recall_sql(
            "embeddings", [8, 16, 32], k=10),
        "kn_trigram_lm": kn_trigram_lm_sql("documents"),
        "contrastive_pairs": contrastive_pairs_sql(
            "embeddings", k=5, n_anchors=16),
        "skyline_orders": skyline_sql(
            "SELECT o_orderkey, o_totalprice,"
            " epoch_us(o_orderdate) / 86400000000.0 AS odays FROM orders",
            ["o_totalprice", "odays"], ["max", "min"]),
        "doc_bpe": bpe_apply_sql("documents", num_merges=8),
        "zipf_fit": zipf_fit_sql("documents", min_count=2),
        "dataset_fingerprint": dataset_fingerprint_sql(
            "lineitem", ["l_orderkey", "l_partkey", "l_suppkey",
                         "l_quantity", "l_returnflag"]),
        "pmi_collocations": pmi_collocations_sql(
            "documents", min_doc_freq=120, min_pair_freq=60),
        "holt_forecast": holt_forecast_sql(
            "SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,"
            " CAST(count(*) AS DOUBLE) AS n_events FROM events"
            " GROUP BY 1, 2",
            key="event_type", bucket="bucket", value="n_events",
            alpha=0.3, beta=0.1, horizon=6),
        "holt_winters": holt_winters_sql(
            "SELECT event_type, epoch_us(ts) // 86400000000 AS bucket,"
            " CAST(count(*) AS DOUBLE) AS n_events FROM events"
            " GROUP BY 1, 2",
            key="event_type", bucket="bucket", value="n_events",
            period=7, alpha=0.3, beta=0.1, gamma=0.2, horizon=7),
        "seasonal_decompose": seasonal_decompose_sql(
            "(SELECT event_type, epoch_us(ts) // 86400000000 AS bucket,"
            " count(*) AS n_events FROM events GROUP BY 1, 2)",
            key_col="event_type", val_col="n_events", period=7),
        "cusum_events": cusum_sql(
            "(SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,"
            " count(*) AS x FROM events GROUP BY 1, 2)",
            key_col="event_type", slack=0.5, threshold=4.0),
        "ks_value": ks_test_sql("events", "value", "event_type",
                                "click", "purchase"),
        "welch_value": welch_ttest_sql("events", "value", "event_type",
                                       "click", "purchase"),
        "mi_docs": mutual_information_sql("documents", "source", "lang"),
        "gini_prices": gini_sql("orders", "o_totalprice",
                                group_col="o_orderpriority"),
        "benford_prices": benford_sql("orders", "o_totalprice"),
        "linreg_trend": linreg_series_sql(
            "(SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,"
            " count(*) AS x FROM events GROUP BY 1, 2)",
            key_col="event_type"),
        "modularity": modularity_sql(
            pr_edges,
            "(" + label_propagation_sql(pr_edges, iters=4) + ")"),
        "build_vocab": r"""
            WITH __t AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
              FROM documents
            ), __c AS (
              SELECT term, count(*)::BIGINT AS term_freq,
                     count(DISTINCT doc_id)::BIGINT AS doc_freq
              FROM __t WHERE term <> ''
              GROUP BY term HAVING count(*) >= 3
            )
            SELECT term,
                   (row_number() OVER (ORDER BY term_freq DESC, term ASC)
                    - 1)::BIGINT AS term_id,
                   term_freq, doc_freq
            FROM __c
            QUALIFY term_id < 50
        """,
        "bigram_lm": r"""
            WITH __d AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                 x -> x <> '') AS ts
              FROM documents
            ), __p AS (
              SELECT doc_id,
                     unnest(CASE WHEN len(ts) >= 2
                                 THEN ts[1:len(ts)-1] ELSE [] END) AS a,
                     unnest(CASE WHEN len(ts) >= 2
                                 THEN ts[2:len(ts)] ELSE [] END) AS b
              FROM __d
            ), __big AS (
              SELECT a, b, count(*)::BIGINT AS nab FROM __p GROUP BY a, b
            ), __ctx AS (
              SELECT a, sum(nab)::BIGINT AS na FROM __big GROUP BY a
            ), __v AS (
              SELECT count(DISTINCT t)::BIGINT AS v FROM (
                SELECT unnest(ts) AS t FROM __d)
            )
            SELECT p.doc_id, count(*)::BIGINT AS n_bigrams,
                   round(avg(ln((g.nab + 0.5::DOUBLE)
                                / (c.na + 0.5::DOUBLE * v.v))), 6)
                     AS lm2_score
            FROM __p p
            JOIN __big g ON p.a = g.a AND p.b = g.b
            JOIN __ctx c ON p.a = c.a
            CROSS JOIN __v v
            GROUP BY p.doc_id
        """,
        "linkage": linkage_score_sql(
            """(
              WITH __r AS (
                SELECT c_custkey, c_name, c_mktsegment,
                       row_number() OVER (
                         ORDER BY c_name || chr(1) ||
                                  lpad(length(c_custkey::VARCHAR)::VARCHAR,
                                       4, '0') || c_custkey::VARCHAR
                       ) AS rk
                FROM customer
                WHERE c_name IS NOT NULL AND c_custkey IS NOT NULL
              )
              SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
                     (b.rk - a.rk) AS rank_dist,
                     a.c_name AS name_a, a.c_mktsegment AS seg_a,
                     b.c_name AS name_b, b.c_mktsegment AS seg_b
              FROM __r a JOIN __r b ON b.rk > a.rk AND b.rk - a.rk <= 5
            )""",
            [
                ("name_a", "name_b", "levenshtein", 0.9, 0.05, 0.9),
                ("seg_a", "seg_b", "exact", 0.8, 0.2),
            ],
            select_cols="a_id, b_id, rank_dist",
        ),
        "volume_anomaly": volume_anomaly_sql("events"),
        "hll_orders": f"""
            WITH approx AS ({hll_sub})
            SELECT a.l_returnflag, a.approx_orders, e.exact_orders
            FROM approx a JOIN (
              SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders
              FROM lineitem GROUP BY l_returnflag
            ) e USING (l_returnflag)
        """,
        "hll_merged": f"""
            WITH merged_regs AS (
              SELECT l_returnflag, __hll_b, max(__hll_m) AS __hll_m FROM (
                {hll_sketch_sql("(SELECT * FROM lineitem WHERE l_linenumber % 2 = 0)", "l_orderkey", ["l_returnflag"], p=11)}
                UNION ALL
                {hll_sketch_sql("(SELECT * FROM lineitem WHERE l_linenumber % 2 = 1)", "l_orderkey", ["l_returnflag"], p=11)}
              ) GROUP BY l_returnflag, __hll_b
            ),
            merged AS (
              {hll_estimate_sql("SELECT * FROM merged_regs", ["l_returnflag"], p=11, out_col="merged_est")}
            ),
            direct AS (
              {hll_distinct_sql("lineitem", "l_orderkey", ["l_returnflag"], p=11, out_col="direct_est")}
            )
            SELECT m.l_returnflag, m.merged_est, d.direct_est
            FROM merged m JOIN direct d USING (l_returnflag)
        """,
        "winsorize_events": winsorize_sql(
            "events", "value", "event_id", lo_q=0.02, hi_q=0.98, k=512,
            select_cols="event_id, event_type, value", out_col="value_w",
        ),
        "token_cooc": token_cooccurrence_sql(
            "documents", min_doc_freq=120, min_pair_freq=60,
        ),
        "kmeans_embeddings": kmeans_sql(
            "embeddings", vec_col="embedding", id_col="vec_id",
            k=4, iters=2, dim=64,
        ),
        "silhouette": silhouette_sql(
            "embeddings", vec_col="embedding", id_col="vec_id",
            k=4, iters=2, dim=64,
        ),
        "semantic_dedup": semantic_dedup_sql(
            "embeddings", vec_col="embedding", id_col="vec_id",
            threshold=0.42, k=4, iters=2, dim=64,
        ),
        "events_ewma": """
            WITH e AS (
              SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS v
              FROM events WHERE value IS NOT NULL
            ), w AS (
              SELECT event_id,
                     list(v) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW
                     ) AS l
              FROM e
            )
            SELECT event_id,
                   list_reduce(l, (acc, x) -> acc * 0.75::DOUBLE + x) /
                   list_reduce(list_transform(l, x -> 1.0::DOUBLE),
                               (acc, x) -> acc * 0.75::DOUBLE + x)
                   + 0.0::DOUBLE AS ewma
            FROM w
        """,
        "cov_matrix": cov_matrix_sql(
            "lineitem",
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        ),
        "validate_events": """
            SELECT event_id,
                   coalesce(array_to_string(list_filter([
                     CASE WHEN NOT coalesce(
                       event_type IN ('click','view','purchase'), false)
                       THEN 'known_type' END,
                     CASE WHEN NOT coalesce(ts IS NOT NULL, false)
                       THEN 'ts_present' END,
                     CASE WHEN NOT coalesce(user_id IS NOT NULL, false)
                       THEN 'user_present' END,
                     CASE WHEN NOT coalesce(
                       value IS NOT NULL AND NOT isnan(value)
                       AND abs(value) != 'infinity'::DOUBLE, false)
                       THEN 'value_finite' END
                   ], x -> x IS NOT NULL), ','), '') AS failed
            FROM events
        """,
        "corr_matrix": corr_matrix_sql(
            "lineitem",
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        ),
        "sorted_neighborhood": """
            WITH r AS (
              SELECT doc_id,
                     row_number() OVER (
                       ORDER BY lower(trim(text)) || chr(1) ||
                                lpad(length(doc_id::VARCHAR)::VARCHAR, 4, '0')
                                || doc_id::VARCHAR
                     ) AS rk
              FROM documents
              WHERE text IS NOT NULL AND doc_id IS NOT NULL
            )
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   (b.rk - a.rk) AS rank_dist
            FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk <= 3
        """,
        "quantile_bin": f"""
            SELECT event_id, value_bin FROM ({quantile_bin_sql(
                "events", "value", "event_id", nbins=8, k=512)})
        """,
        "quantile_bin_grouped": f"""
            SELECT event_id, event_type, value_bin FROM ({quantile_bin_sql(
                "events", "value", "event_id", nbins=4, k=256,
                group_exprs=["event_type"])})
        """,
        "rfm_segments": _rfm_oracle_sql(),
        "rank_normalize": f"""
            SELECT event_id, value, value_pr
            FROM ({rank_normalize_sql("events", "value")})
        """,
        "rollup_incremental": rollup_sql(
            "events", bucket="day", keys=["event_type"]
        ),
        # Spark dayofweek = DuckDB dayofweek + 1 (Sun=1 vs Sun=0)
        "chisq_events": chisq_independence_sql(
            "(SELECT event_type, dayofweek(ts) + 1 AS dow FROM events)",
            "event_type", "dow",
        ),
        "table_diff": f"""
            SELECT o_orderkey, diff_status,
                   coalesce(array_to_string(changed_cols, ','), '') AS changed
            FROM ({table_diff_sql(
                "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders",
                "SELECT o_orderkey, "
                "CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 0.9::DOUBLE "
                "ELSE o_totalprice END AS o_totalprice, o_orderstatus "
                "FROM orders WHERE o_orderkey % 13 != 0 "
                "UNION ALL "
                "SELECT o_orderkey + 100000000, o_totalprice, o_orderstatus "
                "FROM orders WHERE o_orderkey % 11 = 0",
                key_cols=["o_orderkey"],
                compare_cols=["o_totalprice", "o_orderstatus"])})
        """,
        "events_gapfill": """
            WITH g AS (
              SELECT user_id,
                     CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS bucket,
                     count(*) AS n_events,
                     round(avg(value), 4) AS avg_value
              FROM events GROUP BY 1, 2
            ), sp AS (
              SELECT user_id, min(bucket) AS mn, max(bucket) AS mx FROM g GROUP BY 1
            ), dense AS (
              SELECT user_id, unnest(generate_series(mn, mx)) AS bucket FROM sp
            ), j AS (
              SELECT d.user_id, d.bucket,
                     coalesce(g.n_events, 0) AS n_events, g.avg_value
              FROM dense d LEFT JOIN g
                ON d.user_id = g.user_id AND d.bucket = g.bucket
            ), m AS (
              SELECT user_id, bucket, n_events, avg_value,
                     last_value(CASE WHEN avg_value IS NOT NULL THEN bucket END
                                IGNORE NULLS) OVER wp AS pb,
                     last_value(avg_value IGNORE NULLS) OVER wp AS pv,
                     first_value(CASE WHEN avg_value IS NOT NULL THEN bucket END
                                 IGNORE NULLS) OVER wn AS nb,
                     first_value(avg_value IGNORE NULLS) OVER wn AS nv
              FROM j
              WINDOW wp AS (PARTITION BY user_id ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wn AS (PARTITION BY user_id ORDER BY bucket
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT user_id, bucket, n_events,
                   CASE WHEN avg_value IS NOT NULL THEN avg_value
                        ELSE pv + (nv - pv) *
                             ((bucket - pb)::DOUBLE / (nb - pb)::DOUBLE)
                   END AS avg_value
            FROM m
        """,
        "leakage_split": f"""
            WITH fp AS (
              SELECT doc_id,
                     md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
              FROM documents
            )
            SELECT doc_id, fingerprint,
                   {split_assign_sql("fingerprint",
                                     splits=(("train", 0.8), ("val", 0.1),
                                             ("test", 0.1)), seed=7)} AS split
            FROM fp
        """,
        "cm_heavy": f"""
            WITH toks AS (
              SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                       AS token
              FROM documents
            ), tok AS (
              SELECT token FROM toks WHERE token <> ''
            ), counts AS (
              SELECT token, count(*) AS n FROM tok GROUP BY token
            ), hh AS (
              SELECT token, n::BIGINT AS n_exact FROM counts
              WHERE CAST(n AS DOUBLE) / (SELECT CAST(sum(n) AS DOUBLE)
                                         FROM counts) >= 0.005
            ), est AS (
              {cm_estimate_sql(
                  cm_sketch_sql("tok", "token", depth=4, width=2048),
                  "SELECT token FROM hh", "token",
                  depth=4, width=2048, out_col="n_cm")}
            )
            SELECT hh.token, hh.n_exact, est.n_cm
            FROM hh JOIN est USING (token)
        """,
        "quantile_events": quantile_estimate_sql(
            quantile_sketch_sql("events", "value", "event_id",
                                ["event_type"], k=512),
            qs=(0.5, 0.9, 0.99), group_exprs=["event_type"],
        ),
        "quantile_merged": f"""
            WITH merged AS (
              {quantile_estimate_sql(
                  quantile_merge_sql(
                      [quantile_sketch_sql(
                           "(SELECT * FROM events WHERE event_id % 2 = 0)",
                           "value", "event_id", ["event_type"], k=256),
                       quantile_sketch_sql(
                           "(SELECT * FROM events WHERE event_id % 2 = 1)",
                           "value", "event_id", ["event_type"], k=256)],
                      ["event_type"], k=256),
                  qs=(0.5, 0.99), group_exprs=["event_type"])}
            ),
            direct AS (
              {quantile_estimate_sql(
                  quantile_sketch_sql("events", "value", "event_id",
                                      ["event_type"], k=256),
                  qs=(0.5, 0.99), group_exprs=["event_type"])}
            )
            SELECT m.event_type,
                   m.q500 AS merged_q500, m.q990 AS merged_q990,
                   d.q500 AS direct_q500, d.q990 AS direct_q990
            FROM merged m JOIN direct d USING (event_type)
        """,
        "k_truss": k_truss_sql(
            "(SELECT a.l_partkey AS src, b.l_partkey AS dst "
            "FROM (SELECT * FROM lineitem WHERE l_linenumber <= 3) a "
            "JOIN (SELECT * FROM lineitem WHERE l_linenumber <= 3) b "
            "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)",
            k=4, iters=6,
        ),
        "triangles": triangle_count_sql(
            "(SELECT a.l_partkey AS src, b.l_partkey AS dst "
            "FROM (SELECT * FROM lineitem WHERE l_linenumber <= 3) a "
            "JOIN (SELECT * FROM lineitem WHERE l_linenumber <= 3) b "
            "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"
        ),
        "events_json": """
            SELECT event_type, count(*) AS n,
                   sum(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS k_sum,
                   min(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_min,
                   max(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max
            FROM events GROUP BY event_type
        """,
        "table_profile": _profile_oracle_sql(),
        "events_histogram": histogram_fixed_sql(
            "events", "value", 0.0, 500.0, nbins=25,
            group_exprs=["event_type"],
        ),
        "heavy_tokens": r"""
            WITH toks AS (
              SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                       AS token
              FROM documents
            ), counts AS (
              SELECT token AS value, count(*) AS n FROM toks
              WHERE token <> '' GROUP BY token
            )
            SELECT value, n,
                   CAST(n AS DOUBLE) / (SELECT CAST(sum(n) AS DOUBLE)
                                        FROM counts) AS share
            FROM counts
            WHERE CAST(n AS DOUBLE) / (SELECT CAST(sum(n) AS DOUBLE)
                                       FROM counts) >= 0.005
        """,
        "theta_active": theta_intersect_sql(
            theta_sketch_sql(
                "SELECT * FROM orders WHERE o_orderdate < '1999-01-01'",
                "o_custkey", ["o_orderpriority"], k=256,
            ),
            theta_sketch_sql(
                "SELECT * FROM orders WHERE o_orderdate >= '1997-01-01'",
                "o_custkey", ["o_orderpriority"], k=256,
            ),
            ["o_orderpriority"], k=256,
        ),
        "theta_parts": kmv_theta_sql(
            "(SELECT * FROM lineitem WHERE l_shipdate >= '1995-02-01' "
            "AND l_shipdate < '1995-03-01')",
            "(SELECT * FROM lineitem WHERE l_quantity >= 49)",
            "l_partkey", k=256,
        ),
        "pagerank": pagerank_sql(pr_edges, iters=6),
        "adamic_adar": adamic_adar_sql(
            f"SELECT * FROM {pr_edges}", min_common=8, max_degree=40
        ),
        "psi_drift": psi_drift_sql(
            "SELECT * FROM orders WHERE o_orderdate < '1998-01-01'",
            "SELECT * FROM orders WHERE o_orderdate >= '1998-01-01'",
            "o_totalprice", "o_orderkey", nbins=10,
        ),
        "robust_z": robust_zscore_sql(
            "SELECT * FROM events", "value", "event_id",
            ["event_id", "event_type", "value"],
            group_exprs=["event_type"], threshold=3.5,
        ),
        "hits": hits_sql(f"SELECT * FROM {pr_edges}", iters=4),
        "shortest_paths": shortest_paths_sql(
            f"SELECT src, dst, CAST(dst % 7 + 1 AS DOUBLE) AS w "
            f"FROM {pr_edges}",
            "1", weight="w", iters=4,
        ),
        "forecast_events": forecast_seasonal_naive_sql(
            "SELECT event_type, epoch_us(ts) // 3600000000 AS bucket, "
            "count(*) AS n FROM events GROUP BY 1, 2",
            "event_type", "bucket", "n", period=24, horizon=12, drift=True,
        ),
        "weighted_sample": f"""
            SELECT doc_id, source, n_chars FROM documents
            ORDER BY {ws_key} DESC, doc_id LIMIT 200
        """,
        "bloom_join": f"""
            SELECT o.o_orderpriority, count(*) AS n_items,
                   {_cents_sum_sql("l.l_extendedprice * (1.0 - l.l_discount)")}
                     AS revenue
            FROM lineitem l
            JOIN (SELECT o_orderkey, o_orderpriority
                  FROM orders JOIN customer ON o_custkey = c_custkey
                  WHERE c_mktsegment = 'BUILDING') o
              ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderpriority
        """,
        "range_filter": f"""
            SELECT event_id, user_id, value, event_type FROM events WHERE {box}
        """,
        "circle_range": f"""
            SELECT event_id, user_id, value FROM events
            WHERE {d2_circle} <= {_CIRCLE_R} * {_CIRCLE_R}
        """,
        "knn": f"""
            SELECT event_id, user_id, value FROM events
            ORDER BY {d2_knn} ASC, event_id ASC LIMIT {_KNN_K}
        """,
        "knn_and_filter": f"""
            WITH knn50 AS (
              SELECT event_id, user_id, value, event_type FROM events
              ORDER BY {d2_knn} ASC, event_id ASC LIMIT 50
            )
            SELECT event_id, user_id, value FROM knn50 WHERE event_type = 'click'
        """,
        "knn_or_filter": f"""
            WITH knn20 AS (
              SELECT event_id, user_id, value FROM events
              ORDER BY {d2_knn} ASC, event_id ASC LIMIT 20
            ), cond AS (
              SELECT event_id, user_id, value FROM events WHERE value >= 480.0
            )
            SELECT DISTINCT event_id, user_id, value FROM (
              SELECT * FROM knn20 UNION ALL SELECT * FROM cond
            )
        """,
        "polygon_range": _polygon_oracle(),
        "knn_not_filter": f"""
            WITH box AS (
              SELECT event_id, user_id, value FROM events
              WHERE value >= 100.0 AND value <= 150.0
                AND CAST(user_id AS DOUBLE) >= 40.0 AND CAST(user_id AS DOUBLE) <= 60.0
            ), knn10 AS (
              SELECT event_id FROM box ORDER BY {d2_knn} ASC, event_id ASC LIMIT 10
            )
            SELECT b.event_id, b.user_id, b.value FROM box b
            WHERE b.event_id NOT IN (SELECT event_id FROM knn10)
        """,
        "layout_routed_range": f"""
            SELECT event_id, user_id, value, event_type FROM events WHERE {box}
        """,
        "layout_routed_knn": f"""
            SELECT event_id, user_id, value FROM events
            ORDER BY {d2_knn} ASC, event_id ASC LIMIT {_KNN_K}
        """,
        "interval_1d": """
            SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
            WHERE l_extendedprice >= 1000.0 AND l_extendedprice <= 1100.0
        """,
        "box_range": f"""
            WITH boxes AS (
              SELECT event_id, user_id, value,
                     value AS xlo, CAST(user_id AS DOUBLE) AS ylo,
                     value + CAST(event_id % 13 AS DOUBLE) AS xhi,
                     CAST(user_id AS DOUBLE) + CAST(event_id % 7 AS DOUBLE) AS yhi
              FROM events
            )
            SELECT event_id, user_id, value FROM boxes
            WHERE xhi >= {_SHAPE_LO[0]} AND xlo <= {_SHAPE_HI[0]}
              AND yhi >= {_SHAPE_LO[1]} AND ylo <= {_SHAPE_HI[1]}
        """,
        "interval_join": """
            SELECT a.event_id AS a_id, b.event_id AS b_id
            FROM (SELECT event_id, value AS s,
                         value + CAST(event_id % 5 AS DOUBLE) AS e
                  FROM events WHERE event_id % 97 = 0) a,
                 (SELECT event_id, value FROM events WHERE event_id % 3 = 0) b
            WHERE a.s <= b.value AND b.value <= a.e
        """,
        "interval_overlap": """
            SELECT a.event_id AS a_id, b.event_id AS b_id
            FROM (SELECT event_id, value AS s,
                         value + CAST(event_id % 7 AS DOUBLE) AS e
                  FROM events WHERE event_id % 97 = 0) a,
                 (SELECT event_id, value AS s,
                         value + CAST(event_id % 4 AS DOUBLE) AS e
                  FROM events WHERE event_id % 89 = 0) b
            WHERE a.s <= b.e AND b.s <= a.e
        """,
        "segment_join": """
            WITH segs AS (
              SELECT event_id,
                     value AS x1, CAST(user_id AS DOUBLE) AS y1,
                     value + CAST(event_id % 17 AS DOUBLE) - 8.0 AS x2,
                     CAST(user_id AS DOUBLE) + CAST(event_id % 11 AS DOUBLE) - 5.0 AS y2
              FROM events
            ), o AS (
              SELECT a.event_id AS a_id, b.event_id AS b_id,
                     (a.x2 - a.x1) * (b.y1 - a.y1) - (a.y2 - a.y1) * (b.x1 - a.x1) AS o1,
                     (a.x2 - a.x1) * (b.y2 - a.y1) - (a.y2 - a.y1) * (b.x2 - a.x1) AS o2,
                     (b.x2 - b.x1) * (a.y1 - b.y1) - (b.y2 - b.y1) * (a.x1 - b.x1) AS o3,
                     (b.x2 - b.x1) * (a.y2 - b.y1) - (b.y2 - b.y1) * (a.x2 - b.x1) AS o4,
                     a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
                     b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2
              FROM segs a, segs b
              WHERE a.event_id % 97 = 0 AND b.event_id % 89 = 0
            )
            SELECT a_id, b_id FROM o
            WHERE (((o1 > 0 AND o2 < 0) OR (o1 < 0 AND o2 > 0))
                   AND ((o3 > 0 AND o4 < 0) OR (o3 < 0 AND o4 > 0)))
               OR (o1 = 0 AND bx1 >= LEAST(ax1, ax2) AND bx1 <= GREATEST(ax1, ax2)
                          AND by1 >= LEAST(ay1, ay2) AND by1 <= GREATEST(ay1, ay2))
               OR (o2 = 0 AND bx2 >= LEAST(ax1, ax2) AND bx2 <= GREATEST(ax1, ax2)
                          AND by2 >= LEAST(ay1, ay2) AND by2 <= GREATEST(ay1, ay2))
               OR (o3 = 0 AND ax1 >= LEAST(bx1, bx2) AND ax1 <= GREATEST(bx1, bx2)
                          AND ay1 >= LEAST(by1, by2) AND ay1 <= GREATEST(by1, by2))
               OR (o4 = 0 AND ax2 >= LEAST(bx1, bx2) AND ax2 <= GREATEST(bx1, bx2)
                          AND ay2 >= LEAST(by1, by2) AND ay2 <= GREATEST(by1, by2))
        """,
        "segment_range": f"""
            WITH segs AS (
              SELECT event_id, user_id, value,
                     value AS x1, CAST(user_id AS DOUBLE) AS y1,
                     value + CAST(event_id % 17 AS DOUBLE) - 8.0 AS x2,
                     CAST(user_id AS DOUBLE) + CAST(event_id % 11 AS DOUBLE) - 5.0 AS y2
              FROM events
            ), c AS (
              SELECT event_id, user_id, value, x1, y1, x2, y2,
                     x2 - x1 AS dx, y2 - y1 AS dy FROM segs
            ), k AS (
              SELECT *,
                     dx * ({_SHAPE_LO[1]} - y1) - dy * ({_SHAPE_LO[0]} - x1) AS c1,
                     dx * ({_SHAPE_LO[1]} - y1) - dy * ({_SHAPE_HI[0]} - x1) AS c2,
                     dx * ({_SHAPE_HI[1]} - y1) - dy * ({_SHAPE_LO[0]} - x1) AS c3,
                     dx * ({_SHAPE_HI[1]} - y1) - dy * ({_SHAPE_HI[0]} - x1) AS c4
              FROM c
            )
            SELECT event_id, user_id, value FROM k
            WHERE least(x1, x2) <= {_SHAPE_HI[0]} AND greatest(x1, x2) >= {_SHAPE_LO[0]}
              AND least(y1, y2) <= {_SHAPE_HI[1]} AND greatest(y1, y2) >= {_SHAPE_LO[1]}
              AND NOT (c1 > 0 AND c2 > 0 AND c3 > 0 AND c4 > 0)
              AND NOT (c1 < 0 AND c2 < 0 AND c3 < 0 AND c4 < 0)
        """,
        "polygon_box_range": f"""
            SELECT event_id, user_id, value FROM events
            WHERE {_poly_box_sql(_TRI_VX, _TRI_VY, _SHAPE_LO, _SHAPE_HI)}
        """,
        "circle_rows_range": f"""
            WITH c AS (
              SELECT event_id, user_id, value,
                     value AS c0, CAST(user_id AS DOUBLE) AS c1,
                     (CAST(event_id % 9 AS DOUBLE) + 0.5) AS r
              FROM events
            )
            SELECT event_id, user_id, value FROM c
            WHERE ((0.0 + greatest({_SHAPE_LO[0]} - c0, c0 - {_SHAPE_HI[0]}, 0.0)
                          * greatest({_SHAPE_LO[0]} - c0, c0 - {_SHAPE_HI[0]}, 0.0))
                   + greatest({_SHAPE_LO[1]} - c1, c1 - {_SHAPE_HI[1]}, 0.0)
                     * greatest({_SHAPE_LO[1]} - c1, c1 - {_SHAPE_HI[1]}, 0.0))
                  <= r * r
        """,
        "polygon_distance_join": _polygon_distance_join_oracle_sql(),
        "polygon_segment_range": f"""
            SELECT event_id, user_id, value FROM events
            WHERE {_poly_seg_sql(_TRI_VX, _TRI_VY, _PSEG)}
        """,
        "polygon_polygon_join": _polygon_polygon_join_oracle_sql(0.0),
        "polygon_polygon_distance_join": _polygon_polygon_join_oracle_sql(4.0),
        "segment_distance_join": f"""
            WITH segs AS (
              SELECT event_id,
                     value AS x1, CAST(user_id AS DOUBLE) AS y1,
                     value + CAST(event_id % 17 AS DOUBLE) - 8.0 AS x2,
                     CAST(user_id AS DOUBLE) + CAST(event_id % 11 AS DOUBLE) - 5.0 AS y2
              FROM events WHERE event_id % 97 = 0
            ), pts AS (
              SELECT event_id, value AS x, CAST(user_id AS DOUBLE) AS y
              FROM events WHERE event_id % 3 = 0
            )
            SELECT s.event_id AS a_id, p.event_id AS b_id
            FROM segs s, pts p
            WHERE {_point_seg_d2_sql("p.x", "p.y", "s.x1", "s.y1", "s.x2", "s.y2")} <= 9.0
        """,
        "knn_join_highd": f"""
            WITH pts AS (
              SELECT vec_id,
                     {", ".join(f"embedding[{i + 1}]::DOUBLE AS d{i}" for i in range(8))}
              FROM embeddings
            ), pairs AS (
              SELECT l.vec_id AS a_id, r.vec_id AS b_id,
                     sqrt(0.0 + {" + ".join(f"(l.d{i} - r.d{i}) * (l.d{i} - r.d{i})" for i in range(8))}) AS dist,
                     row_number() OVER (
                       PARTITION BY l.vec_id
                       ORDER BY 0.0 + {" + ".join(f"(l.d{i} - r.d{i}) * (l.d{i} - r.d{i})" for i in range(8))} ASC,
                                r.vec_id ASC
                     ) AS rn
              FROM pts l, pts r
              WHERE l.vec_id % 7 = 0
            )
            SELECT a_id, b_id, dist FROM pairs WHERE rn <= 3
        """,
        "box_box_join": """
            WITH boxes AS (
              SELECT event_id,
                     value AS xlo, CAST(user_id AS DOUBLE) AS ylo,
                     value + CAST(event_id % 13 AS DOUBLE) AS xhi,
                     CAST(user_id AS DOUBLE) + CAST(event_id % 7 AS DOUBLE) AS yhi
              FROM events
            )
            SELECT a.event_id AS a_id, b.event_id AS b_id
            FROM boxes a, boxes b
            WHERE a.event_id % 101 = 0 AND b.event_id % 103 = 0
              AND a.xlo <= b.xhi AND b.xlo <= a.xhi
              AND a.ylo <= b.yhi AND b.ylo <= a.yhi
        """,
        "segment_circle_join": f"""
            WITH segs AS (
              SELECT event_id,
                     value AS x1, CAST(user_id AS DOUBLE) AS y1,
                     value + CAST(event_id % 17 AS DOUBLE) - 8.0 AS x2,
                     CAST(user_id AS DOUBLE) + CAST(event_id % 11 AS DOUBLE) - 5.0 AS y2
              FROM events WHERE event_id % 97 = 0
            ), circ AS (
              SELECT event_id, value AS cx, CAST(user_id AS DOUBLE) AS cy,
                     CAST(event_id % 5 AS DOUBLE) / 2.0 AS cr
              FROM events WHERE event_id % 89 = 0
            )
            SELECT s.event_id AS a_id, c.event_id AS b_id
            FROM segs s, circ c
            WHERE {_point_seg_d2_sql("c.cx", "c.cy", "s.x1", "s.y1", "s.x2", "s.y2")}
                  <= (3.0 + c.cr) * (3.0 + c.cr)
        """,
        "segment_knn": f"""
            WITH segs AS (
              SELECT event_id, user_id, value,
                     value AS x1, CAST(user_id AS DOUBLE) AS y1,
                     value + CAST(event_id % 17 AS DOUBLE) - 8.0 AS x2,
                     CAST(user_id AS DOUBLE) + CAST(event_id % 11 AS DOUBLE) - 5.0 AS y2
              FROM events
            )
            SELECT event_id, user_id, value,
                   round(sqrt({_point_seg_d2_sql("230.0", "60.0", "x1", "y1", "x2", "y2")}), 6) AS sd6
            FROM segs
            ORDER BY sqrt({_point_seg_d2_sql("230.0", "60.0", "x1", "y1", "x2", "y2")}) ASC,
                     event_id ASC
            LIMIT 25
        """,
        "distance_join": f"""
            SELECT c.c_custkey, s.s_suppkey FROM customer c, supplier s
            WHERE {dj_d2} <= {_DJ_R} * {_DJ_R}
        """,
        "distance_join_self": f"""
            SELECT a.s_suppkey AS a_suppkey, b.s_suppkey AS b_suppkey
            FROM supplier a, supplier b
            WHERE {sj_d2} <= 500.0 * 500.0 AND a.s_suppkey < b.s_suppkey
        """,
        "knn_join": f"""
            WITH ranked AS (
              SELECT s.s_suppkey, c.c_custkey,
                     ROW_NUMBER() OVER (
                       PARTITION BY s.s_suppkey
                       ORDER BY sqrt({kj_d2}) ASC, c.c_custkey ASC
                     ) AS rn
              FROM supplier s, customer c
            )
            SELECT s_suppkey, c_custkey FROM ranked WHERE rn <= 3
        """,
        "knn_join_voronoi": f"""
            WITH ranked AS (
              SELECT c.c_custkey, s.s_suppkey,
                     ROW_NUMBER() OVER (
                       PARTITION BY c.c_custkey
                       ORDER BY sqrt({kj_d2}) ASC, s.s_suppkey ASC
                     ) AS rn
              FROM customer c, supplier s
            )
            SELECT c_custkey, s_suppkey FROM ranked WHERE rn <= 2
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3": """
            SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
              AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
            GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
            ORDER BY revenue DESC, l.l_orderkey ASC LIMIT 10
        """,
        "tpch_q5": """
            SELECT n.n_name,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n.n_name
        """,
        "tpch_q6": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "tpch_q4": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
              AND EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "tpch_q7": """
            SELECT supp_nation, cust_nation, l_year,
                   sum(CAST(round(volume * 100.0, 0) AS BIGINT)) / 100.0
                     AS revenue
            FROM (
              SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     year(l_shipdate) AS l_year,
                     l_extendedprice * (1 - l_discount) AS volume
              FROM supplier
              JOIN lineitem ON s_suppkey = l_suppkey
              JOIN orders ON o_orderkey = l_orderkey
              JOIN customer ON c_custkey = o_custkey
              JOIN nation n1 ON s_nationkey = n1.n_nationkey
              JOIN nation n2 ON c_nationkey = n2.n_nationkey
              WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
                  OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
                AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate <= TIMESTAMP '1997-12-31 00:00:00'
            ) s
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year
        """,
        "tpch_q10": f"""
            SELECT c_custkey, c_name,
                   {_cents_sum_sql("l_extendedprice * (1 - l_discount)")}
                     AS revenue,
                   c_acctbal, n_name
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
              AND l_returnflag = 'R'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "tpch_q13": """
            SELECT c_count, count(*) AS custdist FROM (
              SELECT c.c_custkey, count(o.o_orderkey) AS c_count
              FROM customer c
              LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                                AND o.o_orderpriority <> '1-URGENT'
              GROUP BY c.c_custkey
            ) s
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "tpch_q14": """
            SELECT round(
                     100.0 * sum(CASE WHEN p_type = 'PROMO'
                                 THEN l_extendedprice * (1 - l_discount)
                                 ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4
                   ) AS promo_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        """,
        "tpch_q15": """
            WITH revenue AS (
              SELECT l_suppkey AS supplier_no,
                     sum(CAST(round((l_extendedprice * (1 - l_discount))
                                    * 100.0, 0) AS BIGINT)) / 100.0
                       AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
              GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, total_revenue
            FROM supplier JOIN revenue ON s_suppkey = supplier_no
            WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
            ORDER BY s_suppkey
        """,
        "tpch_q17": f"""
            SELECT round({_cents_sum_sql("l_extendedprice")} / 7.0, 2)
                     AS avg_yearly
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN (SELECT l_partkey AS pk, 0.5 * avg(l_quantity) AS avg_qty
                  FROM lineitem GROUP BY l_partkey) a ON l_partkey = a.pk
            WHERE p_brand = 'Brand#3' AND p_size < 15
              AND l_quantity < avg_qty
        """,
        "tpch_q18": """
            SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                   sum(l_quantity) AS sum_qty
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE o_orderkey IN (
              SELECT l_orderkey FROM lineitem
              GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
            GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
        """,
        "tpch_q19": f"""
            SELECT {_cents_sum_sql("l_extendedprice * (1 - l_discount)")}
                     AS revenue
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "tpch_q22": f"""
            SELECT cntrycode, count(*) AS numcust,
                   {_cents_sum_sql("c_acctbal")} AS totacctbal
            FROM (
              SELECT c_nationkey % 5 AS cntrycode, c_acctbal, c_custkey
              FROM customer
              WHERE c_nationkey % 5 IN (0, 1, 2, 3)
                AND c_acctbal > (
                  SELECT avg(c_acctbal) FROM customer
                  WHERE c_acctbal > 0 AND c_nationkey % 5 IN (0, 1, 2, 3))
                AND NOT EXISTS (
                  SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
            ) s
            GROUP BY cntrycode ORDER BY cntrycode
        """,
        "asof_join": """
            -- explicit window formulation (not DuckDB's native ASOF,
            -- which has no tiebreak): greatest (ts, pid) at-or-before,
            -- matching the Spark operator's documented tiebreak even if
            -- two purchases share (user_id, ts)
            SELECT event_id, user_id, tus, p_event_id, p_value, lag_us
            FROM (
              SELECT c.event_id, c.user_id, epoch_us(c.ts) AS tus,
                     p.pid AS p_event_id, round(p.value, 4) AS p_value,
                     epoch_us(c.ts) - epoch_us(p.ts) AS lag_us,
                     row_number() OVER (
                       PARTITION BY c.user_id, c.event_id
                       ORDER BY p.ts DESC NULLS LAST, p.pid DESC NULLS LAST
                     ) AS rn
              FROM (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click') c
              LEFT JOIN (SELECT user_id, ts, event_id AS pid, value
                         FROM events WHERE event_type = 'purchase') p
                ON c.user_id = p.user_id AND p.ts <= c.ts
            ) WHERE rn = 1
        """,
        "events_quantiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "cube_events": """
            SELECT event_type, user_id % 10 AS user_decile,
                   count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY CUBE (event_type, user_decile)
        """,
        "events_lead_lag": """
            SELECT user_id, event_id,
                   round(value - LAG(value) OVER w, 4) AS d_value,
                   LEAD(event_id) OVER w AS next_event_id,
                   NTILE(4) OVER w AS quartile
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY epoch_us(ts) ASC, event_id ASC)
        """,
        "events_resample": """
            WITH g AS (
              SELECT user_id,
                     CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS bucket,
                     count(*) AS n_events,
                     round(sum(value), 2) AS sum_value,
                     round(arg_max(value,
                           lpad(epoch_us(ts)::VARCHAR, 20, '0') || '#' ||
                           lpad(event_id::VARCHAR, 10, '0')), 4) AS last_value
              FROM events GROUP BY 1, 2
            ), sp AS (
              SELECT user_id, min(bucket) AS mn, max(bucket) AS mx FROM g GROUP BY 1
            ), dense AS (
              SELECT user_id, unnest(generate_series(mn, mx)) AS bucket FROM sp
            )
            SELECT d.user_id, d.bucket,
                   coalesce(g.n_events, 0) AS n_events,
                   g.sum_value AS sum_value,
                   last_value(g.last_value IGNORE NULLS) OVER (
                     PARTITION BY d.user_id ORDER BY d.bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS last_value
            FROM dense d LEFT JOIN g ON d.user_id = g.user_id AND d.bucket = g.bucket
        """,
        "orders_upsert": """
            WITH u AS (
              SELECT o_orderkey, o_totalprice * 0.9::DOUBLE AS uprice
              FROM orders WHERE o_orderkey % 7 = 0
            )
            SELECT o.o_orderkey, o.o_custkey,
                   CASE WHEN u.o_orderkey IS NOT NULL
                        THEN 'U' ELSE o.o_orderstatus END AS o_orderstatus,
                   CASE WHEN u.o_orderkey IS NOT NULL
                        THEN u.uprice ELSE o.o_totalprice END AS price
            FROM orders o LEFT JOIN u ON o.o_orderkey = u.o_orderkey
        """,
        "events_rolling": """
            SELECT user_id, event_id, epoch_us(ts) AS tus,
                   count(*) OVER w AS n_1h,
                   round(avg(value) OVER w, 4) AS avg_1h
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        """,
        "doc_tfidf": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
              FROM documents
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf
              FROM toks WHERE term <> '' GROUP BY 1, 2
            ), dfreq AS (
              SELECT term, count(DISTINCT doc_id) AS dfq FROM tf GROUP BY 1
            ), nd AS (
              SELECT count(DISTINCT doc_id) AS nd FROM tf
            ), scored AS (
              SELECT tf.doc_id, tf.term, tf.tf,
                     round(tf.tf * (ln((nd.nd + 1) / (dfreq.dfq + 1.0)) + 1.0), 6)
                       AS tfidf
              FROM tf JOIN dfreq USING (term) CROSS JOIN nd
            )
            SELECT doc_id, term, tf, tfidf, rn FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
              FROM scored
            ) WHERE rn <= 3
        """,
        "top_orders": """
            WITH rev AS (
              SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
              FROM lineitem GROUP BY l_orderkey
            )
            SELECT o.o_orderkey, o.o_custkey, r.revenue
            FROM rev r JOIN orders o ON r.l_orderkey = o.o_orderkey
            ORDER BY r.revenue DESC, o.o_orderkey ASC LIMIT 10
        """,
        "skewed_join": """
            SELECT o.o_orderkey, o.o_custkey, c.c_nationkey
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        """,
        "nation_volume": """
            SELECT n.n_name,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE c.c_nationkey = s.s_nationkey
            GROUP BY n.n_name
        """,
        "window_top_orders": """
            WITH ranked AS (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC
                     ) AS rn
              FROM orders
            )
            SELECT o_custkey, o_orderkey, o_totalprice, rn FROM ranked WHERE rn <= 3
        """,
        "rollup_lineitem": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "events_agg": """
            SELECT event_type, count(*) AS n_events,
                   round(sum(value), 2) AS sum_value,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "sessionize": """
            WITH o AS (
              SELECT user_id, event_id, epoch_us(ts) AS tus,
                     LAG(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ) AS prev
              FROM events
            ), s AS (
              SELECT user_id, event_id, tus,
                     CAST(SUM(CASE WHEN prev IS NULL OR tus - prev > 1800000000
                              THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id ORDER BY tus, event_id
                       ROWS UNBOUNDED PRECEDING
                     ) AS BIGINT) AS session_idx
              FROM o
            )
            SELECT user_id, session_idx, count(*) AS n_events,
                   min(event_id) AS first_event, max(event_id) AS last_event,
                   max(tus) - min(tus) AS duration_us
            FROM s GROUP BY user_id, session_idx
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT'
            )
        """,
        "parts_with_lineitems": """
            SELECT p_partkey, p_name FROM part p
            WHERE EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 45
            )
        """,
        "doc_token_stats": f"""
            SELECT doc_id, length(text) AS n_chars_calc,
                   {n_tokens} AS n_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS n_subtokens
            FROM documents
        """,
        "doc_quality": f"""
            WITH feats AS (
              SELECT doc_id,
                     {n_tokens} AS n_tokens,
                     round({punct} / greatest(length(text), 1), 6) AS punct_ratio,
                     round({sw_en} / greatest({n_tokens}, 1), 6) AS stopword_ratio
              FROM documents
            )
            SELECT doc_id, n_tokens, punct_ratio, stopword_ratio,
                   round(0.4 * least(n_tokens / 64.0, 1.0)
                       + 0.3 * least(stopword_ratio * 5.0, 1.0)
                       + 0.3 * greatest(0.0, 1.0 - punct_ratio * 4.0), 6) AS quality_score
            FROM feats
        """,
        "doc_lang_id": f"""
            WITH counts AS (
              SELECT doc_id, text,
                     len(regexp_extract_all(text, '[一-鿿]')) AS cjk,
                     {sw_counts}
              FROM documents
            )
            SELECT doc_id,
                   CASE
                     WHEN cjk > length(text) * 0.05 THEN 'zh'
                     WHEN sw_en > 0 AND sw_en >= sw_de AND sw_en >= sw_fr AND sw_en >= sw_es THEN 'en'
                     WHEN sw_de > 0 AND sw_de >= sw_fr AND sw_de >= sw_es THEN 'de'
                     WHEN sw_fr > 0 AND sw_fr >= sw_es THEN 'fr'
                     WHEN sw_es > 0 THEN 'es'
                     ELSE 'unknown'
                   END AS lang_pred
            FROM counts
        """,
        "doc_fingerprint": r"""
            SELECT doc_id,
                   md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
            FROM documents
        """,
        "exact_dedup": r"""
            SELECT min(doc_id) AS doc_id FROM documents
            GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        """,
        "mmr_rerank": mmr_rerank_sql(
            """SELECT e.vec_id,
                      round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                   q.qv), 6) AS rel,
                      e.embedding
               FROM embeddings e,
                    (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                     WHERE vec_id = 0) q
               ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
                                                     q.qv), 6) DESC,
                        e.vec_id ASC
               LIMIT 40""",
            k=10, lam=0.7),
        "embedding_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4) AS sim4
            FROM embeddings e, q
            ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) DESC,
                     e.vec_id ASC
            LIMIT 10
        """,
        # ivfpq_knn_join at nprobe = n_centroids with an all-pass
        # shortlist re-ranks every candidate exactly — brute force is
        # a true oracle (the pq_topk full-rerank trick, join form)
        "ivfpq_knn_join": """
            SELECT a_id, b_id, round(cs, 4) AS sim4, rn AS "rank" FROM (
              SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                     round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                  b.embedding::DOUBLE[]), 6) AS cs,
                     ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                             b.embedding::DOUBLE[]), 6)
                                DESC, b.vec_id ASC) AS rn
              FROM embeddings a, embeddings b
              WHERE a.vec_id % 21 = 0 AND b.vec_id % 3 = 2
            ) WHERE rn <= 3
        """,
        # ivf_knn_join at nprobe = n_centroids is exact by construction
        # (every list probed), so brute force is a true oracle
        "ivf_knn_join": """
            SELECT a_id, b_id, round(cs, 4) AS sim4, rn AS "rank" FROM (
              SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                     round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                  b.embedding::DOUBLE[]), 6) AS cs,
                     ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                             b.embedding::DOUBLE[]), 6)
                                DESC, b.vec_id ASC) AS rn
              FROM embeddings a, embeddings b
              WHERE a.vec_id % 9 = 0 AND b.vec_id % 3 = 1
            ) WHERE rn <= 3
        """,
        "vector_knn_join": """
            SELECT a_id, b_id, round(cs, 4) AS sim4, rn AS "rank" FROM (
              SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                     round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                  b.embedding::DOUBLE[]), 6) AS cs,
                     ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                             b.embedding::DOUBLE[]), 6)
                                DESC, b.vec_id ASC) AS rn
              FROM embeddings a, embeddings b
              WHERE a.vec_id % 5 = 0 AND b.vec_id % 5 = 0
                AND a.vec_id <> b.vec_id
            ) WHERE rn <= 3
        """,
        "embedding_dup_pairs": """
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim4
            FROM embeddings a, embeddings b
            WHERE a.vec_id % 5 = 0 AND b.vec_id % 5 = 0 AND a.vec_id < b.vec_id
              AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.42
        """,
        "lm_score": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
              FROM documents
            ), tf AS (
              SELECT doc_id, term FROM toks WHERE term <> ''
            ), freq AS (
              SELECT term, count(*) AS term_freq FROM tf GROUP BY 1
            ), tot AS (
              SELECT sum(term_freq) AS t, count(*) AS v FROM freq
            )
            SELECT tf.doc_id, count(*) AS n_tokens,
                   round(avg(ln((freq.term_freq + 0.5::DOUBLE)
                                / (tot.t + 0.5::DOUBLE * tot.v))), 6) AS lm_score
            FROM tf JOIN freq USING (term) CROSS JOIN tot
            GROUP BY tf.doc_id
        """,
        "inverted_index": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
              FROM documents
            ), per_doc AS (
              SELECT term, doc_id, count(*) AS tf
              FROM toks WHERE term <> '' GROUP BY 1, 2
            )
            SELECT term, count(*) AS doc_freq, sum(tf)::BIGINT AS term_freq,
                   string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings_csv
            FROM per_doc GROUP BY term
            HAVING count(*) <= 395
        """,
        "dedup_resolve": """
            WITH RECURSIVE base AS (
              SELECT vec_id,
                     round(sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                        x -> x * x))), 6) AS norm,
                     label
              FROM embeddings WHERE vec_id % 5 = 0
            ), pairs AS (
              SELECT a.vec_id AS a_id, b.vec_id AS b_id
              FROM embeddings a, embeddings b
              WHERE a.vec_id % 5 = 0 AND b.vec_id % 5 = 0 AND a.vec_id < b.vec_id
                AND round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                 b.embedding::DOUBLE[]), 6) >= 0.25
            ), edges AS (
              SELECT a_id AS src, b_id AS dst FROM pairs
              UNION SELECT b_id, a_id FROM pairs
            ), nodes AS (
              SELECT DISTINCT src AS id FROM edges
            ), reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
            ), comp AS (
              SELECT id, min(r) AS component FROM reach GROUP BY id
            ), losers AS (
              SELECT vec_id FROM (
                SELECT b.vec_id,
                       ROW_NUMBER() OVER (PARTITION BY c.component
                                          ORDER BY b.norm DESC, b.vec_id ASC) AS rn
                FROM base b JOIN comp c ON b.vec_id = c.id
              ) WHERE rn > 1
            )
            SELECT vec_id, norm, label FROM base
            WHERE vec_id NOT IN (SELECT vec_id FROM losers)
        """,
        "dedup_components": """
            WITH RECURSIVE pairs AS (
              SELECT a.vec_id AS a_id, b.vec_id AS b_id
              FROM embeddings a, embeddings b
              WHERE a.vec_id % 5 = 0 AND b.vec_id % 5 = 0 AND a.vec_id < b.vec_id
                AND round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                 b.embedding::DOUBLE[]), 6) >= 0.25
            ), edges AS (
              SELECT a_id AS src, b_id AS dst FROM pairs
              UNION SELECT b_id, a_id FROM pairs
            ), nodes AS (
              SELECT DISTINCT src AS id FROM edges
            ), reach(id, r) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id
            )
            SELECT id, min(r) AS component FROM reach GROUP BY id
        """,
        "blob_stats": """
            SELECT doc_id, octet_length(encode(text)) AS byte_size,
                   md5(text) AS content_hash
            FROM documents
        """,
        "ngram_jaccard": _NGRAM_JACCARD_ORACLE,
        "blocking_eval": blocking_eval_sql(
            f"""(
            WITH r AS (
              SELECT doc_id,
                     row_number() OVER (
                       ORDER BY lower(trim(text)) || chr(1) ||
                                lpad(length(doc_id::VARCHAR)::VARCHAR, 4, '0')
                                || doc_id::VARCHAR
                     ) AS rk
              FROM documents
              WHERE text IS NOT NULL AND doc_id IS NOT NULL
            )
            SELECT a.doc_id AS a_id, b.doc_id AS b_id
            FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk <= 5
            )""",
            f"({_NGRAM_JACCARD_ORACLE})",
            total_pairs_sql=("(SELECT (count(*) * (count(*) - 1)) // 2 "
                             "FROM documents)"),
        ),
        "contamination": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents
            ), grams AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(t) >= 8
                            THEN list_transform(range(1, len(t) - 6),
                                                i -> array_to_string(t[i:i+7], ' '))
                            WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
                            ELSE [] END
                     ) AS g
              FROM toks
            ), dg AS (
              SELECT doc_id, unnest(g) AS s FROM grams
            ), eg AS (
              SELECT doc_id AS eval_id, unnest(g) AS s FROM grams
              WHERE doc_id % 17 = 0
            )
            SELECT d.doc_id,
                   count(DISTINCT d.s) AS n_hit_shingles,
                   count(DISTINCT e.eval_id) AS n_eval_docs
            FROM dg d JOIN eg e ON d.s = e.s
            GROUP BY d.doc_id
        """,
        "doc_chunk": r"""
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents
            ), e AS (
              SELECT doc_id, t,
                     unnest(generate_series(0, len(t) - 1, 24)) AS s
              FROM toks WHERE len(t) > 0
            )
            SELECT doc_id, (s // 24)::INT AS chunk_id,
                   len(t[s + 1 : s + 32]) AS n_tokens,
                   array_to_string(t[s + 1 : s + 32], ' ') AS chunk_text
            FROM e
            WHERE s = 0 OR len(t[s + 1 : s + 32]) >= 8
        """,
        "dup_ngrams": r"""
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents WHERE doc_id % 2 = 0
            ), g AS (
              SELECT doc_id,
                     array_to_string(t[p : p + 4], ' ') AS gram
              FROM (SELECT doc_id, t,
                           unnest(generate_series(1, len(t) - 4)) AS p
                    FROM toks WHERE len(t) >= 5)
            ), gc AS (
              SELECT gram, count(DISTINCT doc_id) AS docs
              FROM g GROUP BY gram
            )
            SELECT g.doc_id,
                   count(*)::BIGINT AS n_grams,
                   sum(CASE WHEN gc.docs >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
                   sum(CASE WHEN gc.docs >= 2 THEN 1 ELSE 0 END)::DOUBLE
                     / count(*)::DOUBLE AS dup_frac
            FROM g JOIN gc USING (gram)
            GROUP BY g.doc_id
        """,
        "doc_repetition": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents
            ), g AS (
              SELECT doc_id, t,
                     CASE WHEN len(t) >= 2
                          THEN list_transform(range(1, len(t)),
                                              i -> array_to_string(t[i:i+1], ' '))
                          ELSE [] END AS g2,
                     CASE WHEN len(t) >= 3
                          THEN list_transform(range(1, len(t) - 1),
                                              i -> array_to_string(t[i:i+2], ' '))
                          ELSE [] END AS g3
              FROM toks
            )
            SELECT doc_id,
                   CASE WHEN len(t) > 0
                        THEN round(1.0 - len(list_distinct(t))::DOUBLE / len(t), 6)
                        ELSE 0.0 END AS dup_token_ratio,
                   CASE WHEN len(g2) > 0
                        THEN round(1.0 - len(list_distinct(g2))::DOUBLE / len(g2), 6)
                        ELSE 0.0 END AS dup_2gram_ratio,
                   CASE WHEN len(g3) > 0
                        THEN round(1.0 - len(list_distinct(g3))::DOUBLE / len(g3), 6)
                        ELSE 0.0 END AS dup_3gram_ratio
            FROM g
        """,
        "minhash_pairs": _minhash_oracle(),
        "incremental_dedup": _incremental_dedup_oracle(),
        "simhash_pairs": _simhash_oracle(),
        "image_features": f"""
            SELECT doc_id,
                   64 + ({_md5_byte_sql(0)} % 192) AS width,
                   64 + ({_md5_byte_sql(1)} % 192) AS height,
                   1 + ({_md5_byte_sql(2)} % 3) AS channels,
                   round({_md5_byte_sql(3)} / 255.0, 6) AS mean_luma
            FROM documents
        """,
        "video_frames": f"""
            SELECT doc_id, CAST(idx AS INT) AS frame_idx,
                   md5(text || '#frame' || idx) AS frame_hash
            FROM (
              SELECT doc_id, text,
                     unnest(generate_series(
                       0, 30 + ({_md5_byte_sql(4)} % 240) - 1, 10)) AS idx
              FROM documents
            )
        """,
        "audio_features": f"""
            SELECT doc_id,
                   round(1.0 + {_md5_byte_sql(5)} / 8.0, 3) AS duration_s,
                   CASE {_md5_byte_sql(6)} % 4
                        WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        WHEN 2 THEN 44100 ELSE 48000 END AS sample_rate,
                   round({_md5_byte_sql(7)} / 255.0, 6) AS rms
            FROM documents
        """,
        "zknn_join": _zknn_oracle_sql(),
        "embedding_ann_topk": _ann_oracle_sql(),
        "corpus_build": r"""
            WITH dedup AS (
              SELECT min(doc_id) AS doc_id
              FROM documents
              GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
            ), kept AS (
              SELECT d.doc_id, d.source, d.n_chars
              FROM documents d JOIN dedup USING (doc_id)
            ), quota AS (
              SELECT doc_id, source, n_chars FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                FROM kept
              ) WHERE rn <= 12
            ), c AS (
              SELECT doc_id, source, n_chars,
                     SUM(n_chars) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM quota
            ), p AS (
              SELECT doc_id, source,
                     CAST(FLOOR((cum - n_chars) / 3000) AS BIGINT) AS pack_id
              FROM c
            )
            SELECT doc_id, source, pack_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY pack_id ORDER BY doc_id) AS BIGINT)
                     AS pack_pos
            FROM p
        """,
        "corpus_build_v2": r"""
            WITH dedup AS (
              SELECT min(doc_id) AS doc_id
              FROM documents
              GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
            ), kept0 AS (
              SELECT d.doc_id, d.source, d.n_chars, d.text
              FROM documents d JOIN dedup USING (doc_id)
            ), ktoks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
              FROM kept0
            ), kgrams AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(t) >= 8
                            THEN list_transform(range(1, len(t) - 6),
                                                i -> array_to_string(t[i:i+7], ' '))
                            WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
                            ELSE [] END
                     ) AS g
              FROM ktoks
            ), etoks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents WHERE doc_id % 17 = 0
            ), egrams AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(t) >= 8
                            THEN list_transform(range(1, len(t) - 6),
                                                i -> array_to_string(t[i:i+7], ' '))
                            WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
                            ELSE [] END
                     ) AS g
              FROM etoks
            ), decon AS (
              SELECT DISTINCT d.doc_id
              FROM (SELECT doc_id, unnest(g) AS s FROM kgrams) d
              JOIN (SELECT unnest(g) AS s FROM egrams) e ON d.s = e.s
            ), clean AS (
              SELECT * FROM kept0
              WHERE doc_id NOT IN (SELECT doc_id FROM decon)
            ), rep AS (
              SELECT doc_id,
                     CASE WHEN len(g3) > 0
                          THEN round(1.0 - len(list_distinct(g3))::DOUBLE / len(g3), 6)
                          ELSE 0.0 END AS dup3
              FROM (
                SELECT doc_id,
                       CASE WHEN len(t) >= 3
                            THEN list_transform(range(1, len(t) - 1),
                                                i -> array_to_string(t[i:i+2], ' '))
                            ELSE [] END AS g3
                FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                      FROM clean)
              )
            ), kept AS (
              SELECT c.doc_id, c.source, c.n_chars
              FROM clean c JOIN rep USING (doc_id)
              WHERE rep.dup3 <= 0.1
            ), quota AS (
              SELECT doc_id, source, n_chars FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                FROM kept
              ) WHERE rn <= 10
            ), c AS (
              SELECT doc_id, source, n_chars,
                     SUM(n_chars) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM quota
            ), p AS (
              SELECT doc_id, source,
                     CAST(FLOOR((cum - n_chars) / 3000) AS BIGINT) AS pack_id
              FROM c
            )
            SELECT doc_id, source, pack_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY pack_id ORDER BY doc_id) AS BIGINT)
                     AS pack_pos
            FROM p
        """,
        "term_stats": r"""
            SELECT term,
                   COUNT(DISTINCT doc_id) AS doc_freq,
                   COUNT(*) AS term_freq
            FROM (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
              FROM documents
            )
            WHERE term <> ''
            GROUP BY term
            ORDER BY doc_freq DESC, term ASC
            LIMIT 30
        """,
        "doc_sample": """
            SELECT doc_id, source FROM documents
            WHERE ('0x' || substr(md5(doc_id || '#7'), 1, 13))::BIGINT
                  / 4503599627370496.0 < 0.2
        """,
        "stratified_sample": """
            SELECT doc_id, source FROM documents
            WHERE ('0x' || substr(md5(doc_id || '#7'), 1, 13))::BIGINT
                  / 4503599627370496.0
                  < CASE source WHEN 'src0' THEN 0.8 WHEN 'src1' THEN 0.5
                                WHEN 'src2' THEN 0.2 ELSE 0.1 END
        """,
        "pii_redact": _pii_oracle_sql(),
        "global_order": """
            SELECT doc_id,
                   ROW_NUMBER() OVER (
                     ORDER BY md5(doc_id || '#5') || '|' || doc_id) - 1
                     AS train_order
            FROM documents
        """,
        "scrub_ngrams": """
            WITH arr AS (
              SELECT doc_id, string_split(text, ' ') AS ts FROM documents
            ), starts AS (
              SELECT doc_id, ts,
                     unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS s
              FROM arr
            ), g2 AS (
              SELECT doc_id, s - 1 AS p,
                     md5(ts[s] || chr(1) || ts[s+1] || chr(1) || ts[s+2]) AS g
              FROM starts
            ), hot AS (
              SELECT g FROM (
                SELECT g, count(DISTINCT doc_id) AS df FROM g2 GROUP BY g)
              WHERE df > 2
            ), cov AS (
              SELECT DISTINCT doc_id, pos FROM (
                SELECT doc_id, p + unnest([0, 1, 2]) AS pos
                FROM g2 JOIN hot USING (g))
            ), toks AS (
              SELECT doc_id, unnest(ts) AS tok,
                     unnest(generate_series(1, len(ts))) - 1 AS pos
              FROM arr
            ), kept AS (
              SELECT t.doc_id,
                     string_agg(t.tok, ' ' ORDER BY t.pos) AS text,
                     count(*) AS n_kept
              FROM toks t
              ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
              GROUP BY t.doc_id
            ), base AS (
              SELECT doc_id, len(ts) AS n_tokens FROM arr
            )
            SELECT base.doc_id, md5(coalesce(kept.text, '')) AS text_md5,
                   n_tokens,
                   CAST(n_tokens - coalesce(n_kept, 0) AS INT) AS n_removed
            FROM base LEFT JOIN kept ON base.doc_id = kept.doc_id
        """,
        "paragraph_dedup": """
            WITH built AS (
              SELECT d.doc_id,
                     d.text || chr(10) || chr(10) || t.text
                     || CASE WHEN d.doc_id % 2 = 0
                          THEN chr(10) || chr(10)
                               || 'SHARED FOOTER --- boilerplate'
                          ELSE '' END AS text
              FROM documents d
              JOIN documents t ON t.doc_id = d.doc_id - d.doc_id % 5
            ), paras AS (
              SELECT doc_id,
                     unnest(string_split(text, chr(10) || chr(10))) AS para,
                     unnest(generate_series(
                       1, len(string_split(text, chr(10) || chr(10))))) - 1
                       AS pos
              FROM built
            ), ranked AS (
              SELECT doc_id, para, pos,
                     ROW_NUMBER() OVER (PARTITION BY md5(para)
                                        ORDER BY doc_id, pos) AS rn
              FROM paras
            ), n_all AS (
              SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY doc_id
            ), kept AS (
              SELECT doc_id,
                     string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text,
                     count(*) AS n_kept
              FROM ranked WHERE rn = 1 GROUP BY doc_id
            )
            SELECT n_all.doc_id, md5(coalesce(kept.text, '')) AS text_md5,
                   n_paras,
                   CAST(n_paras - coalesce(n_kept, 0) AS INT) AS n_dropped
            FROM n_all LEFT JOIN kept ON n_all.doc_id = kept.doc_id
        """,
        "mixture_sample": """
            WITH c AS (
              SELECT lang, count(*)::DOUBLE AS cnt FROM documents
              WHERE lang IN ('de', 'en', 'es', 'fr') GROUP BY lang
            ), t AS (
              SELECT min(cnt / 0.25) AS total FROM c
            ), r AS (
              SELECT c.lang,
                     least(1.0, total * 0.25 / cnt * 1.0) AS rate
              FROM c CROSS JOIN t
            )
            SELECT d.doc_id, d.lang, d.source
            FROM documents d JOIN r ON d.lang = r.lang
            WHERE ('0x' || substr(md5(d.doc_id || '#11'), 1, 13))::BIGINT
                  / 4503599627370496.0 < r.rate
        """,
        "source_quota": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
              FROM documents
            ) WHERE rn <= 15
        """,
        "doc_pack": """
            WITH c AS (
              SELECT doc_id,
                     SUM(n_chars) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     n_chars
              FROM documents
            ), p AS (
              SELECT doc_id, CAST(FLOOR((cum - n_chars) / 4000) AS BIGINT) AS pack_id
              FROM c
            )
            SELECT doc_id, pack_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY pack_id ORDER BY doc_id) AS BIGINT)
                     AS pack_pos
            FROM p
        """,
        # full-probe IVF visits every inverted list => exact: the
        # brute-force ranking is a true oracle for the layout machinery
        "ivfpq_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7)
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4) AS sim4
            FROM embeddings e, q
            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                     e.vec_id ASC
            LIMIT 10
        """,
        "ivfpq_residual_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7)
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4) AS sim4
            FROM embeddings e, q
            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                     e.vec_id ASC
            LIMIT 10
        """,
        "sq_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 3)
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4) AS sim4
            FROM embeddings e, q
            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                     e.vec_id ASC
            LIMIT 10
        """,
        "pq_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7)
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4) AS sim4
            FROM embeddings e, q
            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                     e.vec_id ASC
            LIMIT 10
        """,
        "embedding_ivf_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7)
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4) AS sim4
            FROM embeddings e, q
            ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) DESC,
                     e.vec_id ASC
            LIMIT 10
        """,
    }
