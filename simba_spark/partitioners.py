"""General-purpose spatial partitioners (STR / KD / Voronoi / z-order).

Reference parity: the reference exposes its partitioners as reusable
building blocks — STR (ref: STRPartitioner.scala:56-168), Voronoi
(ref: VoronoiPartitioner.scala:50-57), KD (ref: KDTreePartitioner),
plus hash/range (ref: HashPartition.scala, RangePartition.scala).
Until round 6 ours existed only inside layouts and the Voronoi kNN
join; this module is the standalone surface.

Spark-first framing: a "partitioner" here is (a) one small sample job
that derives boundaries on the driver, (b) a deterministic
partition-id Column computed from those boundaries, (c)
``repartition(num, __simba_part)``. The id column STAYS on the rows so
callers can co-locate a second dataset with :func:`assign_partitions`
(same boundaries → same ids → an equi-join on ``__simba_part`` + key
shuffles both sides identically), write partitioned layouts, or
inspect balance with :func:`partition_sizes`.

Every ``meta`` is a plain JSON-serializable dict (boundaries as nested
lists), so partitionings can be persisted next to the data and reused
across jobs — the moral equivalent of the reference shipping its
partitioner object with the IndexedRDD.

Boundaries come from a deterministic hash-sample (seeded md5 ordering,
partitioning-invariant), so the same data + seed gives the same
partitioning on any cluster.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import _dlit

#: the partition-id column every partitioner attaches
PART_COL = "__simba_part"


def _sample(df: DataFrame, cols: Sequence[str], cap: int, seed: int):
    """Deterministic hash-ordered sample as a (n, d) float ndarray."""
    from .operators.knn_join import _hash_sample

    return _hash_sample(df, list(cols), cap, seed)


def _darray_expr(values: Sequence[float]):
    """1-D double-array literal built as ONE parsed expression. The
    naive F.array(*[F.lit(v) ...]) costs one py4j round-trip per
    element (~0.8 ms each, measured round 5) — at num=8192 cuts that
    is seconds of driver time added to EVERY query using the
    partitioning; a single F.expr string is one call regardless of
    length."""
    if not len(values):
        return F.expr("CAST(array() AS ARRAY<DOUBLE>)")
    return F.expr("array(" + ",".join(_dlit(v) for v in values) + ")")


def _darray2_expr(rows: Sequence[Sequence[float]]):
    """2-D double-array literal as one parsed expression; empty inner
    rows are cast (a bare empty array() is void-typed and breaks the
    outer array's type resolution when mixed with double rows)."""
    inner = [
        ("CAST(array() AS ARRAY<DOUBLE>)" if not len(r)
         else "array(" + ",".join(_dlit(v) for v in r) + ")")
        for r in rows
    ]
    return F.expr("array(" + ",".join(inner) + ")")


def _interval_idx(col, cuts: Sequence[float]):
    """Index of `col` in the half-open intervals defined by ascending
    `cuts`: count of cuts strictly below the value — a JVM-side filter
    over an array literal, O(len(cuts)) per row, no UDF. NULL values
    compare UNKNOWN against every cut, so they fall into interval 0."""
    if not cuts:
        return F.lit(0)
    return F.size(F.filter(_darray_expr(cuts),
                           lambda c: col.cast("double") > c))


def _quantile_cuts(values, n_parts: int) -> list:
    """n_parts-1 interior quantile cuts of a 1-D ndarray (deduplicated,
    so constant columns degrade to fewer, never-empty partitions)."""
    import numpy as np

    if n_parts <= 1 or len(values) == 0:
        return []
    qs = [i / n_parts for i in range(1, n_parts)]
    cuts = np.quantile(values, qs)
    out = []
    for c in cuts:
        if not out or float(c) > out[-1]:
            out.append(float(c))
    return out


# ---------------------------------------------------------------------------
# assignment-expression builders (shared by partition + assign)


def _pid_expr(meta: dict, cols: Sequence[str]):
    kind = meta["kind"]
    if kind == "hash":
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in cols]), F.lit(int(meta["num"]))
        ).cast("int")
    if kind == "range":
        return _interval_idx(F.col(cols[0]), meta["cuts"]).cast("int")
    if kind == "str":
        x, y = F.col(cols[0]), F.col(cols[1])
        t = int(meta["tiles_per_slab"])
        slab = _interval_idx(x, meta["x_cuts"])
        row_cuts = F.element_at(_darray2_expr(meta["y_cuts"]), slab + 1)
        ybucket = F.size(F.filter(row_cuts, lambda c: y.cast("double") > c))
        return (slab * t + ybucket).cast("int")
    if kind == "kd":
        # one parsed CASE tree (2·num nodes) instead of per-node
        # F.when py4j round-trips
        def walk(node):
            if node[0] == "leaf":
                return str(int(node[1]))
            _, dim, cut, left, right = node
            c = str(cols[int(dim)]).replace("`", "``")
            return (f"(CASE WHEN CAST(`{c}` AS DOUBLE) <= {_dlit(cut)} "
                    f"THEN {walk(left)} ELSE {walk(right)} END)")
        return F.expr(walk(meta["tree"])).cast("int")
    if kind == "voronoi":
        point = F.array(*[F.col(c).cast("double") for c in cols])
        pv = _darray2_expr(meta["pivots"])
        d2s = F.transform(
            pv,
            lambda p: F.aggregate(
                F.zip_with(p, point, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        # a NULL coordinate makes every pivot distance NULL and
        # array_position NULL — route positionless rows to partition 0
        # (every other kind gives NULLs a real id), or the advertised
        # equi-join co-location would silently drop them
        return F.coalesce(
            F.array_position(d2s, F.array_min(d2s)) - 1, F.lit(0)
        ).cast("int")
    if kind == "zorder":
        raise AssertionError(
            "zorder ids are assigned via assign_partitions' two-step "
            "path — inlining the z expression into the cut filter's "
            "lambda re-evaluates it per array element (measured 600x "
            "slower)"
        )
    raise ValueError(f"unknown partitioner kind: {kind}")


def _z_expr(meta: dict, cols: Sequence[str]):
    """The z-value Column a zorder meta assigns rows by."""
    from .functions import z_value_col

    bits, mins, spans = meta["bits"], meta["mins"], meta["spans"]
    scale = (1 << bits) - 1
    ints = [
        F.least(
            F.lit(scale),
            F.greatest(
                F.lit(0),
                F.round(
                    (F.col(c).cast("double") - F.lit(mn)) / F.lit(sp)
                    * F.lit(scale)
                ).cast("long"),
            ),
        )
        for c, mn, sp in zip(cols, mins, spans)
    ]
    return z_value_col(ints, bits=bits)


def assign_partitions(df: DataFrame, meta: dict,
                      cols: Sequence[str]) -> DataFrame:
    """Attach ``__simba_part`` computed from an EXISTING partitioning's
    meta — the co-location primitive: partition dataset A, assign the
    same boundaries to dataset B, repartition both on the id, and the
    spatial join's candidates are already on the same executors."""
    if meta["kind"] == "zorder":
        # TWO steps, with the cut search written as a sum of IFs over
        # the projected z column rather than the generic
        # filter-over-array-literal: the higher-order filter's lambda
        # is interpreted (no codegen), and CollapseProject inlines a
        # single-referenced projection into it no matter how expensive
        # — re-evaluating the full z expression once per cut per row
        # (measured 114 s for 60k rows × 63 cuts; plan-verified the
        # inlining). The IF-sum references __simba_zp once per cut, so
        # CollapseProject keeps the non-cheap z projection separate
        # (it refuses to duplicate it), z is computed once per row,
        # and the comparisons stay inside whole-stage codegen
        # (re-measured: 0.3 s for the same input).
        if not meta["cuts"]:
            return df.withColumn(PART_COL, F.lit(0).cast("int"))
        zp = "CAST(__simba_zp AS DOUBLE)"
        pid = F.expr(
            "CAST(" +
            " + ".join(f"IF({zp} > {_dlit(c)}, 1, 0)"
                       for c in meta["cuts"]) +
            " AS INT)"
        )
        return (
            df.withColumn("__simba_zp", _z_expr(meta, list(cols)))
            .withColumn(PART_COL, pid)
            .drop("__simba_zp")
        )
    return df.withColumn(PART_COL, _pid_expr(meta, list(cols)))


def _finish(df: DataFrame, meta: dict, cols, num: int):
    out = assign_partitions(df, meta, cols).repartition(num, PART_COL)
    return out, meta


# ---------------------------------------------------------------------------
# the partitioners


def hash_partition(df: DataFrame, cols: Sequence[str],
                   num: int) -> tuple:
    """Equality co-location (ref: HashPartition.scala analog) — id =
    xxhash64(cols) mod num. No sample job."""
    meta = {"kind": "hash", "num": int(num)}
    return _finish(df, meta, list(cols), int(num))


def range_partition(df: DataFrame, col: str, num: int,
                    sample_cap: int = 8192, seed: int = 42) -> tuple:
    """1-D range partitioning with explicit, reusable cuts (ref:
    RangePartition.scala analog; unlike ``repartitionByRange`` the
    boundaries are deterministic and persistable)."""
    s = _sample(df, [col], sample_cap, seed)
    meta = {"kind": "range", "cuts": _quantile_cuts(s[:, 0], num)}
    return _finish(df, meta, [col], int(num))


def str_partition(df: DataFrame, cols: Sequence[str], num: int,
                  sample_cap: int = 8192, seed: int = 42) -> tuple:
    """Sort-Tile-Recursive (ref: STRPartitioner.scala:56-168): ~sqrt(num)
    x-slabs by sample quantiles, each slab cut into y-tiles by ITS OWN
    sample quantiles — near-equal-count rectangular tiles however
    skewed the data. 2-D (the classic STR); use kd/zorder for d > 2."""
    cols = list(cols)
    assert len(cols) == 2, "str_partition is 2-D; use kd_partition for d != 2"
    s = _sample(df, cols, sample_cap, seed)
    n_slabs = max(1, math.ceil(math.sqrt(int(num))))
    tiles = max(1, math.ceil(int(num) / n_slabs))
    x_cuts = _quantile_cuts(s[:, 0], n_slabs)
    y_cuts = []
    for slab in range(len(x_cuts) + 1):
        lo = x_cuts[slab - 1] if slab > 0 else None
        hi = x_cuts[slab] if slab < len(x_cuts) else None
        m = s[:, 0] > lo if lo is not None else s[:, 0] == s[:, 0]
        if hi is not None:
            m = m & (s[:, 0] <= hi)
        y_cuts.append(_quantile_cuts(s[m][:, 1], tiles))
    meta = {
        "kind": "str", "x_cuts": x_cuts, "y_cuts": y_cuts,
        "tiles_per_slab": tiles,
    }
    return _finish(df, meta, cols, (len(x_cuts) + 1) * tiles)


def build_kd_tree(sample, num: int):
    """Driver-side KD-tree builder over an (n, d) sample: recursive
    quantile splits on the widest-spread dimension, leaf counts
    proportional so non-power-of-2 ``num`` stays balanced. Returns
    (tree, n_leaves); leaf ids are compact 0..n_leaves-1. Exposed for
    property tests — :func:`kd_partition` is sample + this + assign."""
    import numpy as np

    next_id = [0]

    def build(pts, parts):
        if parts <= 1 or len(pts) == 0:
            node = ("leaf", next_id[0])
            next_id[0] += 1
            return node
        spans = pts.max(axis=0) - pts.min(axis=0)
        order = list(np.argsort(spans)[::-1])
        for dim in order:
            # cut at the largest UNIQUE value <= the mass-quantile,
            # clamped off the dimension's max — a raw quantile over
            # duplicate-heavy values can equal the max and fail to
            # split (hypothesis-found), this always separates when the
            # dimension has >= 2 distinct values
            uniq = np.unique(pts[:, dim])
            if len(uniq) < 2:
                continue
            frac = (parts // 2) / parts
            cut0 = float(np.quantile(pts[:, dim], frac))
            idx = int(np.searchsorted(uniq, cut0, side="right")) - 1
            cut = float(uniq[min(max(idx, 0), len(uniq) - 2)])
            lm = pts[:, dim] <= cut
            # leaf budget follows the ACTUAL split mass: a side never
            # gets more budget than points, so with >= parts distinct
            # points the tree always reaches its full leaf count
            nl = int(lm.sum())
            left_parts = min(parts - 1,
                             max(1, round(parts * nl / len(pts))))
            return ("node", int(dim), cut,
                    build(pts[lm], left_parts),
                    build(pts[~lm], parts - left_parts))
        node = ("leaf", next_id[0])  # all sample points identical
        next_id[0] += 1
        return node

    tree = build(sample, int(num))
    return tree, max(1, next_id[0])


def kd_walk(tree, point) -> int:
    """Driver-side mirror of the nested-when assignment expression —
    the reference model the Column expression must agree with."""
    while tree[0] != "leaf":
        _, dim, cut, left, right = tree
        tree = left if point[dim] <= cut else right
    return tree[1]


def kd_partition(df: DataFrame, cols: Sequence[str], num: int,
                 sample_cap: int = 8192, seed: int = 42) -> tuple:
    """KD partitioning (ref: KDTreePartitioner analog): recursive
    sample-median splits on the widest-spread dimension, leaf counts
    proportional so non-power-of-2 ``num`` stays balanced. Assignment
    is a nested-when tree — depth log2(num), fully codegen'd. Any d."""
    cols = list(cols)
    s = _sample(df, cols, sample_cap, seed)
    tree, n_leaves = build_kd_tree(s, int(num))
    meta = {"kind": "kd", "tree": _tree_to_list(tree)}
    return _finish(df, meta, cols, n_leaves)


def _tree_to_list(node):
    if node[0] == "leaf":
        return ["leaf", node[1]]
    return ["node", node[1], node[2],
            _tree_to_list(node[3]), _tree_to_list(node[4])]


def voronoi_partition(df: DataFrame, cols: Sequence[str], num: int,
                      sample_cap: int = 8192, seed: int = 42) -> tuple:
    """Voronoi partitioning (ref: VoronoiPartitioner.scala:50-57, which
    takes caller-supplied pivots and assigns mbrs/points to the nearest
    one): pivots here are greedy farthest-point (k-center) over the
    hash sample — spread guarantees at least as strong as the
    reference's random-candidate scoring (VKJSpark.scala:50-67) — and
    assignment is the nearest-pivot id via a JVM higher-order-function
    loop (constant-size expression in both num and d)."""
    import numpy as np

    cols = list(cols)
    s = _sample(df, cols, sample_cap, seed)
    if len(s) == 0:
        meta = {"kind": "voronoi", "pivots": [[0.0] * len(cols)]}
        return _finish(df, meta, cols, 1)
    P = min(int(num), len(s))
    chosen = [int(((s - s.mean(axis=0)) ** 2).sum(axis=1).argmin())]
    d2 = ((s - s[chosen[0]]) ** 2).sum(axis=1)
    for _ in range(P - 1):
        nxt = int(d2.argmax())
        chosen.append(nxt)
        d2 = np.minimum(d2, ((s - s[nxt]) ** 2).sum(axis=1))
    meta = {"kind": "voronoi",
            "pivots": [[float(x) for x in s[c]] for c in chosen]}
    return _finish(df, meta, cols, P)


def zorder_partition(df: DataFrame, cols: Sequence[str], num: int,
                     sample_cap: int = 8192, seed: int = 42,
                     bits: Optional[int] = None) -> tuple:
    """Z-order (locality-preserving) partitioning: interleaved-bit
    z-values cut at sample quantiles — the partitioner under the
    zorder layout (plans/layouts.py), exposed standalone. Any d."""
    import numpy as np

    from .functions import z_value_col  # noqa: F401  (used via _z_expr)

    cols = list(cols)
    if bits is None:
        bits = min(21, 62 // max(1, len(cols)))
    s = _sample(df, cols, sample_cap, seed)
    if len(s) == 0:
        meta = {"kind": "zorder", "bits": bits,
                "mins": [0.0] * len(cols), "spans": [1.0] * len(cols),
                "cuts": []}
        return _finish(df, meta, cols, 1)
    mins = [float(x) for x in s.min(axis=0)]
    maxs = [float(x) for x in s.max(axis=0)]
    spans = [mx - mn if mx > mn else 1.0 for mn, mx in zip(mins, maxs)]
    # z-values of the sample, computed the same way the Column will —
    # including rounding mode: Spark's F.round is HALF_UP, numpy's
    # np.round is half-to-even, and the scaled values are non-negative,
    # so floor(x + 0.5) reproduces HALF_UP exactly
    scale = (1 << bits) - 1
    zs = np.zeros(len(s), dtype=object)
    ints = [
        np.clip(np.floor((s[:, i] - mins[i]) / spans[i] * scale + 0.5),
                0, scale).astype(np.int64)
        for i in range(len(cols))
    ]
    for b in range(bits):
        for i in range(len(cols)):
            zs = zs + (((ints[i] >> b) & 1).astype(object)
                       << (b * len(cols) + i))
    meta = {
        "kind": "zorder", "bits": bits, "mins": mins, "spans": spans,
        "cuts": _quantile_cuts(zs.astype(np.float64), int(num)),
    }
    return _finish(df, meta, cols, int(num))


def partition_sizes(df: DataFrame) -> DataFrame:
    """Per-partition-id row counts for balance diagnostics (one skinny
    groupBy)."""
    return df.groupBy(PART_COL).agg(F.count(F.lit(1)).alias("n"))
