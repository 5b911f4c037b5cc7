"""Distributed Lloyd's k-means over an embedding column.

The training-corpus clustering primitive (topic/domain bucketing,
semantic dedup groups, IVF coarse quantizer training at full corpus
scale — `operators/similarity.py` trains IVF centroids from a driver
SAMPLE, which is the right cost for an index; this is the full-data
counterpart when cluster assignments themselves are the product).

Scale design: the only per-iteration driver state is the k×d centroid
matrix (k·d doubles — bounded by parameters, never by data). Assignment
is zero-shuffle and size-routed: while k·d fits whole-stage codegen
(``_CODEGEN_MAX_TERMS``), centroids are inlined as double literals, one
parsed ``F.expr`` string per centroid distance (no per-element py4j
calls), then an ``array_min`` over (distance, index) structs picks the
nearest centroid with ties broken to the lowest index — two projections
by design, see :func:`_assign`; past the cliff an Arrow ``mapInPandas``
kernel computes the same distances with the same float64 left-fold
(bit-identical assignments, see :func:`_assign_arrow`). The update is
ONE skinny
groupBy(cluster) with per-dimension averages — combine-friendly, so a
partition forwards at most k rows of d+1 doubles no matter how many
vectors it scanned; at 1000 executors each iteration is a map pass plus
a k-row reduce. Nothing O(rows) ever reaches the driver.

Determinism / oracle parity: initial centroids are the k vectors with
the smallest ``md5(id || '#seed')`` (the package's engine-stable
uniform — same rows in any engine, any partitioning); per-iteration
centroid averages are rounded to `round_dp` decimals, which is far
above double-sum reassociation noise (~1e-13 relative), so Spark and
the DuckDB mirror (:func:`kmeans_sql`, iterations unrolled as chained
CTEs) compute bit-identical centroids, hence bit-identical distances
(both engines left-fold the same squared-difference chain over the
same doubles) and identical assignments. Float32 inputs are widened to
double exactly in both engines.

No reference counterpart (the reference ships no clustering); nearest
analog is its sample-based Voronoi pivot selection
(ref: src/main/scala/org/apache/spark/sql/simba/partitioner/VoronoiPartitioner.scala:50-57),
which picks pivots once — this iterates Lloyd updates to convergence.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import _dlit
from ._bcast import bcast_fits

# Measured cliff (sf0.1 embeddings, 64-d, local[8]): k*d = 512 distance
# terms codegen-split cleanly across the per-centroid columns; 768+
# trips Janino (64 KB method limit) — whole-stage compilation fails with
# a stack-trace retry per task and the interpreted fallback runs ~3x
# slower. Above this, route assignment through the Arrow kernel.
_CODEGEN_MAX_TERMS = 512


def _elem(vec_col: str, i: int) -> str:
    """1-based element as DOUBLE (float32 → float64 is exact)."""
    return f"CAST(element_at(`{vec_col}`, {i}) AS DOUBLE)"


def _dist_sql(vec_col: str, cent: Sequence[float]) -> str:
    """One centroid's squared-L2 distance as a left-folded chain (the
    oracle writes the identical fold, so the doubles match
    bit-for-bit)."""
    return " + ".join(
        f"({_elem(vec_col, i + 1)} - {_dlit(x)}) * "
        f"({_elem(vec_col, i + 1)} - {_dlit(x)})"
        for i, x in enumerate(cent)
    )


def _assign_arrow(df: DataFrame, vec_col: str,
                  cents: Sequence[Sequence[float]],
                  out_col: str) -> DataFrame:
    """Arrow-vectorized nearest-centroid for k*d past the codegen cliff.

    Bit-identical to the codegen path by construction: float32 elements
    widen to float64 exactly, each centroid's squared-L2 is accumulated
    in the SAME left-fold term order as the SQL chain
    ``(((t1+t2)+t3)+...)`` (numpy elementwise adds, one dimension at a
    time — NOT a reassociating matmul/np.sum), and ``np.argmin`` breaks
    exact ties to the lowest index like the (d, j) struct-min. The k*d
    centroid matrix ships in the serialized closure (bounded by
    parameters); per Arrow batch the work is k*d vectorized ops."""
    cmat = [[float(x) for x in c] for c in cents]
    # replace an existing out_col (withColumn semantics on the codegen
    # path) instead of appending a duplicate field
    keep = [f for f in df.schema.fields if f.name != out_col]
    keep_names = [f.name for f in keep]
    schema = T.StructType(keep + [T.StructField(out_col, T.IntegerType())])

    def it(batches):
        import numpy as np

        for pdf in batches:
            out = pdf[keep_names].copy()
            if len(pdf) == 0:
                out[out_col] = np.empty(0, dtype="int32")
                yield out
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            dists = np.empty((len(pdf), len(cmat)), dtype=np.float64)
            for j, c in enumerate(cmat):
                t = V[:, 0] - c[0]
                acc = t * t
                for i in range(1, len(c)):
                    t = V[:, i] - c[i]
                    acc = acc + t * t
                dists[:, j] = acc
            out[out_col] = np.argmin(dists, axis=1).astype("int32")
            yield out

    return df.mapInPandas(it, schema)


def _assign(df: DataFrame, vec_col: str,
            cents: Sequence[Sequence[float]], out_col: str,
            route: str = "auto") -> DataFrame:
    """Nearest-centroid index, lowest index winning exact ties.

    ``route='auto'`` picks literal-codegen (zero Python workers, fuses
    with the downstream agg) while k*d fits whole-stage codegen, else
    the Arrow kernel — both produce bit-identical assignments, so the
    switch is invisible to results and to the oracle.

    The codegen path is TWO projections on purpose: one giant
    ``array_min(array(struct(dist_0,0), ..., struct(dist_k,k)))``
    expression defeats codegen's method splitting past ~8x64 terms
    (Janino 64 KB method limit -> whole-stage falls back to the
    interpreted path, measured 3x slower at k=16 d=64). Independent
    per-centroid distance COLUMNS codegen-split cleanly; the argmin
    then runs over plain attributes. Each distance column is
    referenced twice in the argmin struct ('d' and the equal 'd2'
    field) so CollapseProject won't inline the non-cheap distance
    expressions back into a single giant projection (it refuses to
    duplicate them) — same guard as the z-order partitioner's cut
    search."""
    if route not in ("auto", "codegen", "arrow"):
        raise ValueError(f"unknown assignment route: {route!r}")
    terms = len(cents) * len(cents[0])
    if route == "arrow" or (route == "auto" and terms > _CODEGEN_MAX_TERMS):
        return _assign_arrow(df, vec_col, cents, out_col)
    dcols = [f"__km_d{j}" for j in range(len(cents))]
    proj = df.select(
        "*",
        *[F.expr(_dist_sql(vec_col, c)).alias(dc)
          for dc, c in zip(dcols, cents)],
    )
    structs = ", ".join(
        f"named_struct('d', {dc}, 'd2', {dc}, 'j', {j})"
        for j, dc in enumerate(dcols)
    )
    return proj.withColumn(
        out_col, F.expr(f"CAST(array_min(array({structs}))['j'] AS INT)")
    ).drop(*dcols)


def kmeans(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 5,
    dim: Optional[int] = None,
    seed: int = 42,
    round_dp: int = 6,
    out_col: str = "cluster",
    route: str = "auto",
) -> Tuple[DataFrame, List[List[float]]]:
    """Fixed-iteration Lloyd's k-means; returns (df + `out_col`
    nearest-centroid index under the final centroids, final centroid
    list). Rows with NULL id/vector or wrong dimension are dropped
    (they have no deterministic cluster). ``route`` picks the
    assignment kernel ('auto'/'codegen'/'arrow' — see :func:`_assign`;
    results are bit-identical either way)."""
    if dim is None:
        # modal vector size — deterministic under any partitioning
        # (a bare first() would make the validity filter, and thus
        # every assignment, depend on physical row order when sizes
        # are mixed); ties break to the smaller size
        row = (
            df.filter(F.col(vec_col).isNotNull())
            .groupBy(F.size(vec_col).alias("d")).count()
            .orderBy(F.col("count").desc(), F.col("d").asc())
            .first()
        )
        if row is None:
            raise ValueError("kmeans: no non-null vectors")
        dim = int(row["d"])
    # NOT spread off the one-split bench scan (r12, examined): the
    # centroid update is round(avg(double), 6) — a repartition changes
    # the partial-agg accumulation order, and a mean near a rounding
    # boundary could flip vs the committed oracle trajectory. The
    # serial-scan cost stays; bit-stability of the float fold wins.
    base = df.filter(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
        & (F.size(vec_col) == dim)
    )
    # the loop evaluates `base` iters+1 times (init + one job per
    # iteration) — pin it so an expensive upstream lineage is paid
    # once; released before returning the lazy final assignment
    base = base.persist()
    init = (
        base.select(
            F.md5(F.concat(F.col(id_col).cast("string"),
                           F.lit(f"#{seed}"))).alias("__h"),
            F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"),
        )
        .orderBy("__h", "__id")
        .limit(int(k))
        .collect()
    )
    if not init:
        raise ValueError("kmeans: no rows after validity filter")
    cents = [[float(x) for x in r["__v"]] for r in init]
    k_eff = len(cents)  # < k when the table has fewer rows

    for _ in range(int(iters)):
        assigned = _assign(base, vec_col, cents, out_col, route=route)
        aggs = [
            F.expr(
                f"round(avg({_elem(vec_col, i + 1)}), {int(round_dp)})"
            ).alias(f"__c{i}")
            for i in range(dim)
        ]
        rows = assigned.groupBy(out_col).agg(*aggs).collect()
        new = {int(r[out_col]): [float(r[f"__c{i}"]) for i in range(dim)]
               for r in rows}
        # empty cluster → keep its previous centroid (deterministic,
        # mirrored in the oracle's LEFT JOIN + coalesce)
        cents = [new.get(j, cents[j]) for j in range(k_eff)]

    base.unpersist()
    return _assign(base, vec_col, cents, out_col, route=route), cents


def _kmeans_sql_parts(
    table_sql: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 5,
    dim: int = 64,
    seed: int = 42,
    round_dp: int = 6,
    out_col: str = "cluster",
) -> Tuple[List[str], str]:
    """CTE parts + final assignment SELECT for the DuckDB mirror of
    :func:`kmeans` — split out so composite oracles (e.g. semantic
    dedup's within-cluster pair join) can embed the assignment as a
    CTE. ``parts[0]`` defines ``__pts`` (the validity-filtered id +
    vector rows) for downstream reuse."""
    d = int(dim)

    def elem(alias: str, i: int) -> str:
        return f"CAST({alias}.{vec_col}[{i}] AS DOUBLE)"

    def dist(palias: str, calias: str) -> str:
        return " + ".join(
            f"({elem(palias, i + 1)} - {calias}.c{i}) * "
            f"({elem(palias, i + 1)} - {calias}.c{i})"
            for i in range(d)
        )

    parts = [
        f"""WITH __pts AS (
  SELECT {id_col}, {vec_col} FROM {table_sql}
  WHERE {id_col} IS NOT NULL AND {vec_col} IS NOT NULL
    AND len({vec_col}) = {d}
)""",
        f"""__cent0 AS (
  SELECT row_number() OVER (ORDER BY __h, {id_col}) - 1 AS j,
         {", ".join(f"CAST({vec_col}[{i + 1}] AS DOUBLE) AS c{i}" for i in range(d))}
  FROM (
    SELECT {id_col}, {vec_col},
           md5({id_col}::VARCHAR || '#{seed}') AS __h
    FROM __pts ORDER BY __h, {id_col} LIMIT {int(k)}
  )
)""",
    ]
    for t in range(int(iters)):
        prev, cur = f"__cent{t}", f"__cent{t + 1}"
        parts.append(f"""__asg{t} AS (
  SELECT {id_col}, j FROM (
    SELECT p.{id_col}, c.j,
           row_number() OVER (
             PARTITION BY p.{id_col}
             ORDER BY {dist('p', 'c')}, c.j
           ) AS __rn
    FROM __pts p CROSS JOIN {prev} c
  ) WHERE __rn = 1
)""")
        parts.append(f"""__upd{t} AS (
  SELECT a.j,
         {", ".join(f"round(avg({elem('p', i + 1)}), {int(round_dp)}) AS c{i}" for i in range(d))}
  FROM __pts p JOIN __asg{t} a ON p.{id_col} = a.{id_col}
  GROUP BY a.j
)""")
        parts.append(f"""{cur} AS (
  SELECT pr.j, {", ".join(f"coalesce(u.c{i}, pr.c{i}) AS c{i}" for i in range(d))}
  FROM {prev} pr LEFT JOIN __upd{t} u ON u.j = pr.j
)""")
    last = f"__cent{int(iters)}"
    final = f"""SELECT {id_col}, CAST(j AS INTEGER) AS {out_col} FROM (
  SELECT p.{id_col}, c.j,
         row_number() OVER (
           PARTITION BY p.{id_col}
           ORDER BY {dist('p', 'c')}, c.j
         ) AS __rn
  FROM __pts p CROSS JOIN {last} c
) WHERE __rn = 1"""
    return parts, final


def kmeans_sql(
    table_sql: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 5,
    dim: int = 64,
    seed: int = 42,
    round_dp: int = 6,
    out_col: str = "cluster",
) -> str:
    """DuckDB mirror of :func:`kmeans`: iterations unrolled as chained
    CTEs; assignment = per-(row, centroid) distance with the SAME
    left-folded term order, argmin via row_number ordered by
    (dist, centroid index)."""
    parts, final = _kmeans_sql_parts(
        table_sql, vec_col=vec_col, id_col=id_col, k=k, iters=iters,
        dim=dim, seed=seed, round_dp=round_dp, out_col=out_col)
    return ",\n".join(parts) + "\n" + final


def silhouette(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 5,
    dim: Optional[int] = None,
    seed: int = 42,
    round_to: int = 6,
    route: str = "auto",
) -> DataFrame:
    """Per-cluster SIMPLIFIED silhouette score of a :func:`kmeans`
    clustering — the O(n·k) centroid form (a(i) = distance to own
    centroid, b(i) = distance to the nearest OTHER centroid,
    s = (b−a)/max(a,b)) rather than the O(n²) pairwise definition,
    which is the only form that survives at corpus scale. The standard
    clustering-quality diagnostic: s near 1 = tight and separated,
    near 0 = boundary rows, negative = likely misassigned. Returns one
    row per cluster ``(cluster, n, mean_sil)``; ``mean_sil`` is NULL
    at k=1 (b undefined) and s is defined 0 where a=b=0 (a point ON a
    duplicated centroid).

    Determinism: each centroid distance is the SAME left-folded
    codegen chain the assignment used (bit-identical in the SQL
    mirror); a/b are exact element/min picks; the per-cluster mean is
    an EXACT fixed-point reduction — per-row s quantizes to 1e-9 units
    via ``floor(s·1e9 + 0.5)`` (floor, not round: engines disagree on
    double rounding modes at .5, never on floor) and sums as
    DECIMAL(38,0), so no float accumulation order exists anywhere
    (a row-order float ``avg`` differs run-to-run under Spark's
    partial aggregation and can flip the ``round_to`` boundary);
    the single final division rounds to ``round_to``.

    Scale: one zero-shuffle projection over the assigned frame (k
    literal distance columns), one skinny groupBy(cluster) — input
    rows are touched once; only k×d centroid doubles reach the plan.
    """
    assigned, cents = kmeans(
        df, vec_col=vec_col, id_col=id_col, k=k, iters=iters, dim=dim,
        seed=seed, out_col="__sil_c", route=route)
    dcols = [f"__sil_d{j}" for j in range(len(cents))]
    proj = assigned.select(
        "__sil_c",
        *[F.expr(_dist_sql(vec_col, c)).alias(dc)
          for dc, c in zip(dcols, cents)],
    )
    arr = F.array(*[F.col(dc) for dc in dcols])
    a2 = F.element_at(arr, F.col("__sil_c") + 1)
    b2 = F.array_min(F.zip_with(
        arr,
        F.sequence(F.lit(0), F.lit(len(cents) - 1)),
        lambda x, i: F.when(i != F.col("__sil_c"), x),
    ))
    a = F.sqrt(a2)
    b = F.sqrt(b2)
    s = F.when(F.greatest(a, b) > 0,
               (b - a) / F.greatest(a, b)).otherwise(F.lit(0.0))
    s_fp = F.floor(s * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
    return (
        proj.select(F.col("__sil_c").alias("cluster"), s_fp.alias("__sfp"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                (F.sum("__sfp").cast("double") / F.lit(1e9))
                / F.count(F.lit(1)).cast("double"),
                int(round_to),
            ).alias("mean_sil"),
        )
    )


def silhouette_sql(
    table_sql: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 5,
    dim: int = 64,
    seed: int = 42,
    round_to: int = 6,
) -> str:
    """DuckDB mirror of :func:`silhouette` — the kmeans CTEs, then the
    same per-(row, centroid) left-folded distances with a/b as exact
    conditional mins."""
    parts, final = _kmeans_sql_parts(
        table_sql, vec_col=vec_col, id_col=id_col, k=k, iters=iters,
        dim=dim, seed=seed, out_col="cluster")
    d = int(dim)

    def elem(alias, i):
        return f"CAST({alias}.{vec_col}[{i}] AS DOUBLE)"

    dist = " + ".join(
        f"({elem('p', i + 1)} - c.c{i}) * ({elem('p', i + 1)} - c.c{i})"
        for i in range(d)
    )
    parts.append(f"__asgf AS (\n{final}\n)")
    parts.append(f"""__ab AS (
  SELECT a.{id_col}, a.cluster,
         sqrt(min(CASE WHEN c.j = a.cluster THEN {dist} END)) AS __a,
         sqrt(min(CASE WHEN c.j <> a.cluster THEN {dist} END)) AS __b
  FROM __pts p
  JOIN __asgf a ON p.{id_col} = a.{id_col}
  CROSS JOIN __cent{int(iters)} c
  GROUP BY 1, 2
)""")
    return ",\n".join(parts) + f"""
SELECT cluster, count(*)::BIGINT AS n,
       round((CAST(sum(CAST(floor((CASE WHEN greatest(__a, __b) > 0
                      THEN (__b - __a) / greatest(__a, __b)
                      ELSE 0.0::DOUBLE END) * 1000000000.0::DOUBLE
                      + 0.5::DOUBLE) AS BIGINT)) AS DOUBLE)
              / 1000000000.0::DOUBLE) / count(*)::DOUBLE,
             {int(round_to)}) AS mean_sil
FROM __ab GROUP BY 1
"""


def dbscan(
    df: DataFrame,
    cols: Sequence[str],
    eps: float,
    min_pts: int,
    id_col: str,
    algo: str = "grid",
    max_iter: int = 25,
) -> DataFrame:
    """Distributed DBSCAN (Ester et al. 1996) as a COMPOSITION of the
    engine's scale primitives — density clustering where k-means'
    spherical-prototype assumption breaks (arbitrary-shape clusters,
    explicit noise): a point is CORE when its closed eps-ball holds
    ``min_pts`` points (itself included, the sklearn convention);
    clusters are connected components of the core-core eps-graph;
    non-core points within eps of a core become BORDER rows of the
    MINIMUM neighboring cluster label (classic DBSCAN leaves border
    assignment order-dependent — min is the deterministic choice);
    everything else is NOISE. Returns ``(id_col, role, cluster)`` with
    role ∈ {'core','border','noise'}, cluster = the component's
    minimum member id (NULL for noise).

    Scale: the eps-neighbor pairs come from the grid distance join
    (cell equi-join, never all-pairs — ``algo`` passes through, with
    'cross' as the opt-in oracle path); neighbor counts and the core
    flag are one aggregate over the points and both ends of every
    pair; components run the pointer-doubling
    :func:`.dedup.connected_components` (O(log diameter) rounds) over
    the core-core pairs, each pair once; the labels, border resolution
    and roles are one SQL statement the caller's action runs. The
    point-sized sides are broadcast when the point count (observed on
    the neighbor-count checkpoint) fits :func:`._bcast.bcast_fits`.
    No driver state beyond that count, but Spark jobs run when the
    DataFrame is built: the eager checkpoints of the points, pairs and
    neighbor counts and every component round fire during the call.
    """
    if float(eps) <= 0:
        raise ValueError("eps must be > 0")
    if int(min_pts) < 1:
        raise ValueError("min_pts must be >= 1")
    from .dedup import connected_components
    from .distance_join import self_distance_join

    spark = df.sparkSession
    coords = ", ".join(f"`{c}`" for c in cols)
    # EAGER (r12): the self-distance-join references base twice and
    # the statements below read pairs five times — concurrent first-
    # materialization of a lazy checkpoint recomputes its final stage
    # per reference (the louvain lesson), here the caller's whole
    # point-build scan and the grid join's post-exchange stage
    base = spark.sql(f"SELECT `{id_col}` AS pid, {coords} FROM {{df}}",
                     df=df).localCheckpoint(eager=True)
    pairs = spark.sql(
        "SELECT a_pid AS a, b_pid AS b FROM {j}",
        j=self_distance_join(base, list(cols), float(eps), id_col="pid",
                             algo=algo),
    ).localCheckpoint(eager=True)
    # closed-ball size = 1 + the pairs a point is in, over one exchange;
    # eager for the same reason (read five times below). Its observed
    # row count lets the point-sized sides below be broadcast.
    obs = Observation()
    pts = spark.sql(
        f"""SELECT pid, count(*) >= {int(min_pts)} AS __core FROM (
  SELECT pid FROM {{base}}
  UNION ALL SELECT a FROM {{pairs}} UNION ALL SELECT b FROM {{pairs}}
) GROUP BY pid""",
        base=base, pairs=pairs,
    ).observe(obs, F.expr("count(*)").alias("n")).localCheckpoint(eager=True)
    fits = bcast_fits(obs.get["n"])

    def bc(*names):
        return f"/*+ BROADCAST({', '.join(names)}) */" if fits else ""

    core_pairs = spark.sql(
        f"""SELECT {bc("x", "y")} p.a, p.b FROM {{pairs}} p
JOIN {{pts}} x ON x.pid = p.a JOIN {{pts}} y ON y.pid = p.b
WHERE x.__core AND y.__core""",
        pairs=pairs, pts=pts,
    )
    cc = connected_components(core_pairs, a_col="a", b_col="b",
                              max_iter=max_iter)
    # a core with no core neighbor is its own cluster; a non-core point
    # takes the minimum cluster among its core neighbors
    return spark.sql(
        f"""WITH lab AS (
  SELECT {bc("c")} p.pid, coalesce(c.component, p.pid) AS cluster
  FROM {{pts}} p LEFT JOIN {{cc}} c ON c.id = p.pid WHERE p.__core
), border AS (
  SELECT {bc("p", "l")} n.pid, min(l.cluster) AS cluster
  FROM (SELECT a AS pid, b AS nb FROM {{pairs}}
        UNION ALL SELECT b, a FROM {{pairs}}) n
  JOIN {{pts}} p ON p.pid = n.pid AND NOT p.__core
  JOIN lab l ON l.pid = n.nb
  GROUP BY n.pid
)
SELECT {bc("l", "b")} p.pid AS `{id_col}`,
       CASE WHEN p.__core THEN 'core'
            WHEN b.pid IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       coalesce(l.cluster, b.cluster) AS cluster
FROM {{pts}} p LEFT JOIN lab l ON l.pid = p.pid
LEFT JOIN border b ON b.pid = p.pid""",
        pts=pts, pairs=pairs, cc=cc,
    )


def dbscan_sql(
    table_sql: str,
    cols: Sequence[str],
    eps: float,
    min_pts: int,
    id_col: str,
) -> str:
    """DuckDB mirror of :func:`dbscan` — brute-force eps pairs (the
    oracle moves work, never rows), identical closed-ball predicate
    tree, recursive-CTE components seeded from every core (an
    isolated core reaches itself = its singleton cluster), min-label
    border pick."""
    d2 = " + ".join(
        f"(a.{c} - b.{c}) * (a.{c} - b.{c})" for c in cols)
    collist = ", ".join(cols)
    return f"""
WITH RECURSIVE __db_pts AS (
  SELECT {id_col} AS pid, {collist} FROM {table_sql}
), __db_pairs AS (
  SELECT a.pid AS a, b.pid AS b
  FROM __db_pts a, __db_pts b
  WHERE a.pid < b.pid AND ({d2}) <= {float(eps)!r} * {float(eps)!r}
), __db_sym AS (
  SELECT a, b FROM __db_pairs UNION ALL SELECT b, a FROM __db_pairs
), __db_cnt AS (
  SELECT p.pid, 1 + coalesce(c.n, 0) AS n
  FROM __db_pts p LEFT JOIN (
    SELECT a AS pid, count(*)::BIGINT AS n FROM __db_sym GROUP BY 1
  ) c USING (pid)
), __db_core AS (
  SELECT pid FROM __db_cnt WHERE n >= {int(min_pts)}
), __db_ce AS (
  SELECT s.a, s.b FROM __db_sym s
  JOIN __db_core x ON x.pid = s.a
  JOIN __db_core y ON y.pid = s.b
), __db_reach(id, r) AS (
  SELECT pid, pid FROM __db_core
  UNION
  SELECT e.a, __db_reach.r FROM __db_ce e
  JOIN __db_reach ON e.b = __db_reach.id
), __db_lab AS (
  SELECT id AS pid, min(r) AS cluster FROM __db_reach GROUP BY 1
), __db_border AS (
  SELECT s.a AS pid, min(l.cluster) AS cluster
  FROM __db_sym s JOIN __db_lab l ON l.pid = s.b
  WHERE s.a NOT IN (SELECT pid FROM __db_core)
  GROUP BY 1
)
SELECT p.pid AS {id_col},
       CASE WHEN l.pid IS NOT NULL THEN 'core'
            WHEN b.pid IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       coalesce(l.cluster, b.cluster) AS cluster
FROM __db_pts p
LEFT JOIN __db_lab l ON l.pid = p.pid
LEFT JOIN __db_border b ON b.pid = p.pid
"""
