"""Spatial point filters: range, circle-range, kNN, and kNN boolean algebra.

Reference semantics reproduced here (SURVEY.md §2.2, §2.4):

- ``range_query``   — ``InRange`` closed-rectangle filter
  (ref: expression/InRange.scala:31-47)
- ``circle_range``  — ``InCircleRange`` closed ball filter
  (ref: expression/InCircleRange.scala:32-50)
- ``knn``           — global top-k by L2 distance, exactly k rows
  (ref: expression/InKNN.scala:29-42; physical path
  FilterExec.scala:48-49 ``takeOrdered(k)``)
- ``knn_and / knn_or / knn_not`` — set semantics for boolean
  combinations containing a kNN term
  (ref: execution/FilterExec.scala:51-68)

Scale notes: range/circle filters are sargable Column predicates ⇒
Parquet row-group pruning + whole-stage codegen; no shuffle. kNN uses
``orderBy(dist).limit(k)`` which Spark executes as TakeOrderedAndProject:
per-partition partial top-k then a single k-row merge — never a global
sort, never more than k rows to the driver (SURVEY §4.2 two-phase analog).
"""

from __future__ import annotations

from typing import Optional, Sequence

import pyarrow as pa
from pyspark.errors import PySparkTypeError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import dist2, in_circle_range, in_range


def range_query(
    df: DataFrame,
    cols: Sequence,
    low: Sequence[float],
    high: Sequence[float],
    registry=None,
) -> DataFrame:
    """All rows whose point lies in the closed rectangle [low, high].

    If `registry` holds a layout for df, the scan is first pruned to the
    partitions whose bounds intersect the query box (global-index analog).
    """
    if registry is not None:
        df = registry.prune_for_range(df, cols, low, high)
    return df.filter(in_range(cols, low, high))


def circle_range(
    df: DataFrame,
    cols: Sequence,
    center: Sequence[float],
    radius: float,
    registry=None,
) -> DataFrame:
    """All rows within closed distance `radius` of `center`.

    The sargable MBR pre-filter comes first so the Parquet reader can
    skip row groups; the exact circle test runs on survivors only.
    """
    r = float(radius)
    lo = [c - r for c in center]
    hi = [c + r for c in center]
    if registry is not None:
        # partition-covered short-circuit (ref: Dist.furthest,
        # spatial/Dist.scala:24-34): buckets the ball swallows whole
        # scan with no per-row distance arithmetic
        routed = registry.circle_scan(df, cols, center, r)
        if routed is not None:
            return routed
        df = registry.prune_for_range(df, cols, lo, hi)
    return df.filter(in_range(cols, lo, hi)).filter(
        in_circle_range(cols, center, r)
    )


def knn(
    df: DataFrame,
    cols: Sequence,
    query_point: Sequence[float],
    k: int,
    tiebreak: Optional[str] = None,
    registry=None,
) -> DataFrame:
    """Exactly-k nearest rows to `query_point` by L2 distance.

    Ties: the reference breaks ties arbitrarily (``keepSame=false``,
    SURVEY §1.5). For deterministic, oracle-hashable output we expose an
    optional `tiebreak` column (usually the table's id) appended to the
    ordering. Output schema == input schema (distance column is internal).

    With a registered layout the two-phase bound-and-prune of the
    reference's indexed scan (ref: IndexedRelationScan.scala:117-151)
    runs instead: phase 1 answers kNN over the smallest partition prefix
    (by bounds-box min-dist) holding >= k rows, its kth distance θ then
    prunes the final scan to partitions with minDist(q, bounds) <= θ.
    Only k rows reach the driver, via Arrow, in one job when phase 1 is
    final (its rows are then the answer); at 10k partitions the final
    scan touches a handful instead of all. Phase 1 runs when the
    DataFrame is built.
    """
    lay = registry.layout_for(df) if registry is not None else None
    if (
        lay is not None
        and lay.kind == "zorder"
        and list(cols) == lay.cols
        and lay.bounds
        and lay.bits > 0
    ):
        return _knn_via_layout(lay, cols, query_point, k, tiebreak)
    return _knn_scan(df, cols, query_point, k, tiebreak)


_D2 = "__simba_d2"


def _knn_ranked(df, cols, query_point, k, tiebreak):
    """The k nearest rows with their squared distance as ``__simba_d2``,
    in (distance, tiebreak) order."""
    # ascending is the default order; F.expr skips F.col's call-site
    # capture (a dozen py4j round trips per Column op)
    order = [F.expr(_D2)]
    if tiebreak is not None:
        order.append(F.col(tiebreak))
    return (
        df.withColumn(_D2, dist2(cols, query_point))
        # a null distance (null key coordinates) never qualifies — without
        # this, Spark's NULLS-FIRST asc would hand nulls the top-k slots
        .filter(f"{_D2} IS NOT NULL")
        .orderBy(*order)
        .limit(int(k))
    )


def _knn_scan(df, cols, query_point, k, tiebreak):
    return _knn_ranked(df, cols, query_point, k, tiebreak).drop(_D2)


def _bounds_mindist2(bounds_row, cols, q):
    """Squared min distance from q to a partition's bounds box — 0 if q
    is inside (driver-side analog of MBR.minDist, ref: MBR.scala:78-89)."""
    s = 0.0
    for i in range(len(cols)):
        lo, hi = bounds_row.get(f"min_{i}"), bounds_row.get(f"max_{i}")
        if lo is None or hi is None:
            return float("inf")
        d = max(float(lo) - q[i], 0.0, q[i] - float(hi))
        s += d * d
    return s


def _knn_via_layout(lay, cols, query_point, k, tiebreak):
    """Two-phase bound-and-prune over a z-order layout
    (ref: IndexedRelationScan.scala:117-151), with pruning expressed as
    sargable z-interval predicates (plus bucket-directory pruning for
    persisted layouts) so the skipped buckets cost no I/O — not a
    row filter over a full scan.

    Phase 1: kNN over the smallest bounds-ordered bucket prefix holding
    >= k rows (any >=k-row subset yields a valid upper bound θ).
    Phase 2: exact kNN over the z-cover of the ball box [q-θ, q+θ] —
    every true neighbor has dist <= θ, hence lies inside the cover.
    Only k rows ever reach the driver, via Arrow: when phase 1 is final
    they are the answer, in one job."""
    q = [float(x) for x in query_point]
    k = int(k)
    ranked = sorted(lay.bounds, key=lambda b: _bounds_mindist2(b, cols, q))

    # phase 1: smallest bounds-ordered bucket prefix holding >= k rows
    sel, acc = [], 0
    for b in ranked:
        sel.append(b)
        acc += int(b["count"])
        if acc >= k:
            break
    if acc < k or len(sel) == len(ranked):
        return _knn_scan(lay.pruned_scan(None), cols, q, k, tiebreak)  # tiny table
    sel_zbs = {int(b["zb"]) for b in sel}
    phase1 = _knn_ranked(
        lay.pruned_scan(lay.z_ranges_for_buckets(sorted(sel_zbs))),
        cols, q, k, tiebreak)
    rows, theta2 = _phase1_rows(phase1, _D2, k)
    if theta2 is None:
        return _knn_scan(lay.pruned_scan(None), cols, q, k, tiebreak)

    # phase 2: if no other bucket's box can hold a closer-or-tied point,
    # phase 1 is final; else rescan the ball box via its z-cover
    others_reach = any(
        _bounds_mindist2(b, cols, q) <= theta2
        for b in ranked
        if int(b["zb"]) not in sel_zbs
    )
    if not others_reach:
        return _local_answer(phase1, rows, drop=_D2)
    theta = theta2 ** 0.5
    ball_lo = [c - theta for c in q]
    ball_hi = [c + theta for c in q]
    ranges = lay.z_ranges_for_box(ball_lo, ball_hi)
    return _knn_scan(lay.pruned_scan(ranges), cols, q, k, tiebreak)


def _phase1_rows(phase1: DataFrame, dcol: str, k: int):
    """Run phase 1 once: its rows as an Arrow table (distance column
    ``dcol`` kept) and θ, its kth distance. A column type Arrow cannot
    carry (e.g. a year-month interval) fetches the distances only. θ is
    None when null coordinates left phase 1 short of k rows: its max
    distance is then no kth-NN bound, and pruning with it could drop
    true neighbors."""
    try:
        rows = phase1.toArrow()
    except PySparkTypeError:
        rows = phase1.select(dcol).toArrow()
    if rows.num_rows == 0 or rows.num_rows < k:
        return rows, None
    return rows, max(rows.column(dcol).to_pylist())


def _local_answer(phase1: DataFrame, rows, drop: Optional[str] = None):
    """Phase 1's fetched rows as the final answer: a driver-local
    DataFrame (its action fires no job) with phase1's schema, minus
    ``drop``, and its (distance, tiebreak) row order. Built from the
    Arrow table: ``createDataFrame`` on a list of Rows would go through
    a Python RDD, ~20x slower. When the rows did not come back, or
    Arrow cannot rebuild them (PySpark fails on a struct holding an
    array of non-null elements), the answer is phase 1 itself, run
    again by the action."""
    fields = phase1.schema.fields
    if rows.num_columns == len(fields):  # the full rows came back
        if drop is not None:
            rows = rows.drop_columns([drop])
        try:
            return phase1.sparkSession.createDataFrame(
                rows, T.StructType([f for f in fields if f.name != drop]))
        except pa.ArrowException:
            pass
    return phase1 if drop is None else phase1.drop(drop)


# ---------------------------------------------------------------------------
# Boolean combinations containing a kNN term get SET semantics
# (ref: FilterExec.scala:51-68): A AND knn = intersection of row sets,
# A OR knn = union + distinct, NOT knn = subtract. Plain predicates keep
# ordinary row-filter semantics.


def knn_and(df: DataFrame, knn_df: DataFrame, condition: Column) -> DataFrame:
    """Rows satisfying `condition` ∩ rows in the kNN result."""
    return df.filter(condition).intersect(knn_df)


def knn_or(df: DataFrame, knn_df: DataFrame, condition: Column) -> DataFrame:
    """Rows satisfying `condition` ∪ kNN rows, de-duplicated."""
    return df.filter(condition).union(knn_df).distinct()


def knn_not(df: DataFrame, knn_df: DataFrame) -> DataFrame:
    """Rows NOT in the kNN result (multiset subtract, ref: RDD.subtract)."""
    return df.exceptAll(knn_df)
