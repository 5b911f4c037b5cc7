"""Column-expression builders — the executor-side hot path.

The reference evaluates spatial predicates row-at-a-time in interpreted
Catalyst expressions that opt out of codegen
(ref: expression/InRange.scala:31-32 ``CodegenFallback``). Our engine
compiles the same predicates to plain Catalyst arithmetic, so they run
inside whole-stage codegen and push down to Parquet scans — strictly
better than the reference design (SURVEY.md §4.2). Given column names,
the predicate builders emit one ``F.expr`` over SQL text (one py4j round
trip, not one per op); given Column arguments, they chain Column ops.

Semantics contract (SURVEY.md §1.5):
- range  = closed-interval intersection  (ref: InRange.scala:35-42)
- circle = closed boundary ``dist <= r``  (ref: Circle.scala:69,
  InCircleRange.scala:43-49)
- knn    = global top-k by L2 distance, exactly k rows
  (ref: InKNN.scala:29-42 + FilterExec.scala:48-49)
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _cols(cols) -> list:
    """Normalize a list of column names/Columns to Column objects."""
    return [F.col(c) if isinstance(c, str) else c for c in cols]


# ---------------------------------------------------------------------------
# SQL text. Every PySpark Column op costs several py4j round trips on the
# driver (call-site capture), so a predicate built op by op costs hundreds
# of them; the same predicate parsed from one F.expr string costs one.


def _dlit(v: float) -> str:
    """Exact double literal as SQL text (repr round-trips IEEE)."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _sql_names(cols):
    """Backquoted SQL identifiers for ``cols``, or None when the SQL-text
    builders cannot stand in for the Column ones: a Column argument, or
    a name ``F.col`` parses as a path (a dot or backquote in it)."""
    if all(isinstance(c, str) and "." not in c and "`" not in c
           for c in cols):
        return [f"`{c}`" for c in cols]
    return None


def _dist2_sql(names: Sequence[str], point: Sequence[float]) -> str:
    """SQL text of :func:`dist2` — the same left fold
    ``((0.0 + d0*d0) + d1*d1)``, so the doubles are bit-identical."""
    out = _dlit(0.0)
    for c, p in zip(names, point):
        d = f"({c} - {_dlit(p)})"
        out = f"({out} + {d} * {d})"
    return out


# ---------------------------------------------------------------------------
# distances


def dist2(cols, point: Sequence[float]) -> Column:
    """Squared Euclidean distance from the N columns to a literal point.
    Kept squared in filters to avoid a sqrt per row."""
    cols = list(cols)
    assert len(cols) == len(point), "dimension mismatch"
    names = _sql_names(cols)
    if names is not None:
        return F.expr(_dist2_sql(names, point))
    out = F.lit(0.0)
    for c, p in zip(_cols(cols), point):
        d = c - F.lit(float(p))
        out = out + d * d
    return out


def dist(cols, point: Sequence[float]) -> Column:
    """Euclidean (L2) distance — matches Point.min_dist (ref: Point.scala:53-59)."""
    return F.sqrt(dist2(cols, point))


def dist2_cols(left_cols, right_cols) -> Column:
    """Squared L2 distance between two sets of columns (join predicates)."""
    ls, rs = _cols(left_cols), _cols(right_cols)
    assert len(ls) == len(rs), "dimension mismatch"
    out = F.lit(0.0)
    for a, b in zip(ls, rs):
        d = a - b
        out = out + d * d
    return out


def dist_cols(left_cols, right_cols) -> Column:
    return F.sqrt(dist2_cols(left_cols, right_cols))


# ---------------------------------------------------------------------------
# predicates (all closed-boundary, per the reference contract)


def in_range(cols, low: Sequence[float], high: Sequence[float]) -> Column:
    """Point-in-rectangle with closed bounds on every face
    (ref: InRange.scala:35-42 via MBR.intersects, MBR.scala:60-76).

    Plain conjunction of comparisons — Catalyst pushes these to the
    Parquet reader (``PushedFilters``) and prunes row groups via
    min/max stats, which is our analog of the reference's local-index
    range probe."""
    cols = list(cols)
    assert len(cols) == len(low) == len(high), "dimension mismatch"
    names = _sql_names(cols)
    if names is not None:
        return F.expr(" AND ".join(
            f"{c} >= {_dlit(lo)} AND {c} <= {_dlit(hi)}"
            for c, lo, hi in zip(names, low, high)) or "true")
    pred = F.lit(True)
    for c, lo, hi in zip(_cols(cols), low, high):
        pred = pred & (c >= F.lit(float(lo))) & (c <= F.lit(float(hi)))
    return pred


def in_circle_range(cols, center: Sequence[float], radius: float) -> Column:
    """Point-in-ball with closed boundary: dist^2 <= r^2
    (ref: InCircleRange.scala:43-49, Circle.scala:69)."""
    cols = list(cols)
    r = float(radius)
    names = _sql_names(cols)
    if names is not None:
        assert len(names) == len(center), "dimension mismatch"
        return F.expr(f"{_dist2_sql(names, center)} <= {_dlit(r * r)}")
    return dist2(cols, center) <= F.lit(r * r)


def in_mbr_range(cols, low, high, radius: float) -> Column:
    """Bounding-box pre-filter for a circle query: the circle's MBR.
    Sargable (pushes to Parquet) unlike the quadratic circle predicate;
    callers AND this with :func:`in_circle_range`."""
    lo = [c - float(radius) for c in low]
    hi = [c + float(radius) for c in high]
    return in_range(cols, lo, hi)


# ---------------------------------------------------------------------------
# z-order curve as a Column expression (ref: spatial/ZValue.scala:24-64)


def z_value_col(int_cols, bits: int = 21) -> Column:
    """Bit-interleave N non-negative integer columns into one LongType
    z-value, entirely in JVM expressions (shiftleft/bitwise OR) — no UDF.

    bit j of coord i lands at output position ``j*d + i`` (dimension-major),
    matching :func:`simba_spark.geometry.z_value`.
    """
    cs = [c.cast("long") if not isinstance(c, str) else F.col(c).cast("long") for c in int_cols]
    d = len(cs)
    assert d * bits <= 63, "z-value overflows a signed 64-bit long"

    def _spread(c, steps):
        # magic-number bit spreading: O(log bits) shift-mask steps vs
        # one term per bit — a 6× smaller expression tree, which is
        # pure driver-side analysis/codegen time on every query
        for sh, mask in steps:
            c = (c.bitwiseOR(F.shiftleft(c, sh))).bitwiseAND(F.lit(mask))
        return c

    if d == 2:
        steps = [
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ]
        parts = [_spread(c.bitwiseAND(F.lit(0xFFFFFFFF)), steps) for c in cs]
        return parts[0].bitwiseOR(F.shiftleft(parts[1], 1))
    if d == 3:
        steps = [
            (32, 0x1F00000000FFFF),
            (16, 0x1F0000FF0000FF),
            (8, 0x100F00F00F00F00F),
            (4, 0x10C30C30C30C30C3),
            (2, 0x1249249249249249),
        ]
        parts = [_spread(c.bitwiseAND(F.lit(0x1FFFFF)), steps) for c in cs]
        return parts[0].bitwiseOR(
            F.shiftleft(parts[1], 1).bitwiseOR(F.shiftleft(parts[2], 2))
        )
    out = F.lit(0).cast("long")
    for i, c in enumerate(cs):
        for j in range(bits):
            # ((c >> j) & 1) << (j*d + i)
            bit = F.shiftright(c, j).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, j * d + i))
    return out


def z_value_sql(int_exprs: Sequence[str], bits: int = 21) -> str:
    """SQL-string twin of :func:`z_value_col` — identical arithmetic
    (magic-number spreading for d=2/3, per-bit interleave otherwise),
    for callers that assemble whole expressions as one F.expr to avoid
    per-Column py4j round-trip cost on the driver."""
    d = len(int_exprs)
    assert d * bits <= 63, "z-value overflows a signed 64-bit long"

    def _spread(e: str, premask: int, steps) -> str:
        x = f"(CAST({e} AS BIGINT) & {premask})"
        for sh, mask in steps:
            x = f"(({x} | shiftleft({x}, {sh})) & {mask})"
        return x

    if d == 2:
        steps = [
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ]
        parts = [_spread(e, 0xFFFFFFFF, steps) for e in int_exprs]
        return f"({parts[0]} | shiftleft({parts[1]}, 1))"
    if d == 3:
        steps = [
            (32, 0x1F00000000FFFF),
            (16, 0x1F0000FF0000FF),
            (8, 0x100F00F00F00F00F),
            (4, 0x10C30C30C30C30C3),
            (2, 0x1249249249249249),
        ]
        parts = [_spread(e, 0x1FFFFF, steps) for e in int_exprs]
        return f"({parts[0]} | shiftleft({parts[1]}, 1) | shiftleft({parts[2]}, 2))"
    terms = []
    for i, e in enumerate(int_exprs):
        for j in range(bits):
            terms.append(
                f"shiftleft(shiftright(CAST({e} AS BIGINT), {j}) & 1, {j * d + i})"
            )
    return "(" + " | ".join(terms) + ")"


def grid_cell(cols, cell_size: float, origin: Sequence[float] = None) -> Column:
    """Map a point to the integer id array of its grid cell — the basis of
    the grid-cell equi-join (our DJSpark analog, SURVEY §2.3)."""
    cs = _cols(cols)
    org = origin or [0.0] * len(cs)
    return F.array(
        *[
            F.floor((c - F.lit(float(o))) / F.lit(float(cell_size))).cast("long")
            for c, o in zip(cs, org)
        ]
    )


# ---------------------------------------------------------------------------
# vector (array<float/double>) helpers — north-star similarity ops


def vec_dot(a, b) -> Column:
    """Dot product of two array columns via zip_with + aggregate (JVM-side)."""
    ac = F.col(a) if isinstance(a, str) else a
    bc = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ac, bc, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vec_norm(a) -> Column:
    ac = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            F.transform(ac, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a, b) -> Column:
    """Cosine similarity of two array columns — JVM higher-order funcs,
    bit-compatible with DuckDB's list_cosine_similarity oracle."""
    return vec_dot(a, b) / (vec_norm(a) * vec_norm(b))


def parallelize_small(df, threshold_bytes: int = 256 << 20):
    """Round-robin repartition a SMALL frame to the session's default
    parallelism, so compute-dense downstream expressions (per-pair
    distances, grid keying, quantizer assignment) spread across cores
    instead of inheriting a one-split small-file scan.

    TWO plan-time guards, no job runs:

    - size (``optimizedPlan().stats().sizeInBytes()``): a frame
      estimated over ``threshold_bytes`` already has natural
      scan/shuffle parallelism, and skipping the exchange means
      nothing extra is shuffled at scale;
    - planned parallelism (``df.rdd.getNumPartitions()``): a frame
      that already arrives in >= half the session's cores needs no
      help, and the extra user exchange is not free — it can DEMOTE a
      downstream join from broadcast to shuffle (measured at sf1,
      where tables are written as ~32 files so every scan is already
      32-way: geo_distance_join 15.5 s without the repartition vs
      22.2 s with it — the exchange cost the planner its shuffle-free
      broadcast plan). Only a genuinely narrow frame (a one-split
      small-file scan putting compute-dense downstream work on one
      core) gets the exchange.

    The two guards together are what make this scale-adaptive rather
    than a local[32] constant: at cluster scale inputs are many-split
    and both guards skip."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan()
                  .stats().sizeInBytes())
    except Exception:
        return df
    if est >= int(threshold_bytes):
        return df
    sc = df.sparkSession.sparkContext
    n = int(sc.defaultParallelism)
    try:
        if df.rdd.getNumPartitions() >= max(2, n // 2):
            return df
    except Exception:
        pass
    return df.repartition(n)


# ---------------------------------------------------------------------------
# SQL surface: st_* registration (SURVEY §2.6 "Our PySpark surface")


_REGISTERED_SESSIONS = set()


#: SQL scalar UDFs (CREATE TEMPORARY FUNCTION ... RETURN <expr>) — these
#: inline into the Catalyst plan as higher-order-function expressions:
#: no BatchEvalPython node, no per-row Python, codegen throughout. The
#: expression bodies mirror the Column builders above.
def _d2(u: str, v: str) -> str:
    """SQL text for squared L2 distance of two array args."""
    return (
        f"aggregate(zip_with({u}, {v}, (x, y) -> (x - y) * (x - y)), "
        f"0D, (acc, v) -> acc + v)"
    )


_SQL_FUNCTIONS = {
    "st_point":
        "(x DOUBLE, y DOUBLE) RETURNS ARRAY<DOUBLE> RETURN array(x, y)",
    "st_point3":
        "(x DOUBLE, y DOUBLE, z DOUBLE) RETURNS ARRAY<DOUBLE> "
        "RETURN array(x, y, z)",
    "st_dist2":
        f"(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE "
        f"RETURN {_d2('a', 'b')}",
    "st_distance":
        f"(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE "
        f"RETURN sqrt({_d2('a', 'b')})",
    "st_within_range":
        "(p ARRAY<DOUBLE>, lo ARRAY<DOUBLE>, hi ARRAY<DOUBLE>) "
        "RETURNS BOOLEAN RETURN "
        "forall(zip_with(p, lo, (x, l) -> x >= l), v -> v) AND "
        "forall(zip_with(p, hi, (x, h) -> x <= h), v -> v)",
    "st_within_circle":
        f"(p ARRAY<DOUBLE>, c ARRAY<DOUBLE>, r DOUBLE) RETURNS BOOLEAN "
        f"RETURN {_d2('p', 'c')} <= r * r",
    # spherical (WGS-84 degrees) — same haversine as operators/geo.py,
    # term-for-term; 6371.0088 = IUGG mean Earth radius (km)
    "st_haversine_km":
        "(lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE) "
        "RETURNS DOUBLE RETURN "
        "2.0 * 6371.0088 * asin(least(1.0D, sqrt("
        "sin((radians(lat2) - radians(lat1)) / 2)"
        " * sin((radians(lat2) - radians(lat1)) / 2)"
        " + cos(radians(lat1)) * cos(radians(lat2))"
        " * sin((radians(lon2) - radians(lon1)) / 2)"
        " * sin((radians(lon2) - radians(lon1)) / 2))))",
    "st_within_geo":
        "(lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE, "
        "r_km DOUBLE) RETURNS BOOLEAN RETURN "
        "st_haversine_km(lat1, lon1, lat2, lon2) <= r_km",
}


def register_sql_functions(spark: SparkSession) -> None:
    """Register the ``st_*`` helper functions so SQL mode *exceeds* the
    standalone reference (which dropped SQL spatial syntax,
    ref: README.md:11). All are SQL scalar UDFs whose bodies inline into
    the plan as JVM higher-order-function expressions — never a
    BatchEvalPython node (asserted in tests/test_plans.py).
    """
    key = id(spark)
    if key in _REGISTERED_SESSIONS:
        return
    for name, decl in _SQL_FUNCTIONS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{decl}")
    _REGISTERED_SESSIONS.add(key)
