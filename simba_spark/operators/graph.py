"""Graph analytics over edge-list DataFrames: PageRank.

The reference has no graph operators (connected components — the other
graph op this engine ships — lives with the dedup family in
``operators/dedup.py`` because its job there is transitive closure of
near-duplicate pairs). PageRank is the classic "importance over a link
graph" score a web-corpus pipeline uses for quality weighting
(domain/page rank as a quality prior is standard in large-scale
pretraining corpus curation).

Scale design: each PageRank iteration is ONE SQL statement over the
previous iteration's checkpoint (``spark.sql`` with the frames as
arguments, doubles as exact literals): one edge⋈ranks equi-join on the
source id, broadcasting the node-sized ranks side whenever the node
count fits the shared guard (``_bcast.bcast_fits``), so the edge frame
never shuffles, and ONE aggregate keyed on the node that computes each
node's contribution sum and the dangling-rank mass together. Built op
by op, an iteration cost hundreds of py4j round trips and a Catalyst
analysis per op; as one statement it costs a handful and one analysis.
Driver state: the node count and each iteration's dangling mass
(scalars observed by checkpoint jobs). Nothing O(nodes) reaches
Python; a broadcast ranks side passes through the driver JVM only
within the guard's bound.

Determinism: rank updates are double sums whose addition order varies
with partitioning, so intermediate ranks are engine/run-stable only to
~1e-14 relative; `round_to` (default 6 decimals) quantizes the FINAL
ranks far above that noise floor, making results hash-stable across
engines, partitionings, and the DuckDB oracle (`pagerank_sql` unrolls
the same fixed iteration count as chained CTEs).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions import _dlit
from ._bcast import bcast_fits


#: HyperBall ``layout='auto'`` past the broadcast guard: the rows layout
#: below this many distinct edges, the wide layout from it on.
_HB_WIDE_MIN_EDGES = 2_000_000


def _materialize_ctes(sql: str) -> str:
    """Force MATERIALIZED on every internal (``__``-prefixed) CTE of an
    unrolled-iteration oracle. Each unrolled level references its
    predecessor 2-3x (the rank/dist join plus a normalization or
    degree read), so DuckDB's default inlining expands the chain into
    a 2-3^iters plan — hits_sql at its iters=8 default measured as a
    multi-minute hang before this (the k_core_sql lesson, applied
    module-wide). Only double-underscore names are touched, so
    caller-supplied edge subqueries are never rewritten."""
    import re

    return re.sub(r"(\b__\w+ AS )\(", r"\1MATERIALIZED (", sql)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 8,
    round_to: Optional[int] = 6,
    salt_hot_nodes: int = 0,
    weight: Optional[str] = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Returns (node, rank) for every node appearing as a source or a
    destination. Ranks sum to 1. Dangling nodes (no out-edges) spread
    their rank uniformly over all nodes each iteration — the standard
    stochastic-matrix completion, so rank mass is conserved.

    ``weight`` names an edge-weight column: a source then distributes
    rank proportionally to weight (w / Σ_out w) instead of uniformly,
    and parallel edges SUM their weights rather than deduplicating —
    the trade-volume / link-strength prior. Weights must be positive
    (plan-embedded guard: zero would silently strand rank on an edge,
    negative breaks stochasticity). ``weight=None`` keeps the exact
    unweighted program.

    ``iters`` is fixed (not convergence-tested) so the result is a
    well-defined deterministic function of the graph — required by the
    SQL oracle, and the common choice for corpus-quality priors where
    a bounded-cost approximation is the point.

    Runs Spark jobs when the DataFrame is built, not when the caller's
    action runs: the edge and node set-up frames and every iteration
    are checkpoints, three jobs an iteration (the ranks broadcast, the
    aggregate's shuffle, the checkpoint, which also observes the
    dangling mass). The caller's action runs only the final rank
    projection.

    ``salt_hot_nodes`` > 0 splits each destination's contribution sum
    across that many salt buckets (two-step aggregate keyed on
    (dst, salt-of-src) then dst). On a web graph a dominant in-degree
    hub (every page links home) funnels its whole partial-sum stream
    through one reduce task; Spark's map-side partial aggregation
    absorbs most of that, but the belt-and-braces salt bounds the
    reduce-side key width even when hash aggregation degrades to
    sort-spill. Equivalent to unsalted up to double addition order
    (identical after the final rounding — equivalence-tested on a hub
    graph); 0 keeps the single-step aggregate.
    """
    return _rank_rounds(edges, src, dst, damping, iters, round_to,
                        salt_hot_nodes, weight)


def _rank_rounds(
    edges: DataFrame,
    src: str,
    dst: str,
    damping: float,
    iters: int,
    round_to: Optional[int],
    salt_hot_nodes: int = 0,
    weight: Optional[str] = None,
    seeds: Optional[DataFrame] = None,
    node: str = "node",
) -> DataFrame:
    """The rank loop of :func:`pagerank` and :func:`personalized_pagerank`.
    Every node carries a 0/1 teleport flag ``__tp``: 1 on every node
    when ``seeds`` is None, else 1 only on the nodes in ``seeds[node]``.
    Teleport and dangling mass go to the flagged nodes, s of them; with
    every node flagged (s == n) the rounds are plain PageRank, bit for
    bit (``x * 1`` is exact)."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    spark = edges.sparkSession
    q = "`{}`".format
    # every loop-invariant frame is built ONCE and checkpointed —
    # without this, each iteration (and each of its references)
    # re-executes the caller's whole edge-derivation plan: measured
    # 15.6 s → 4.8 s at 600k edges × 6 iterations. The edges carry
    # their source's out-degree (count, or out-strength when weighted)
    # as a window over ONE exchange: hash(src) clusters both the
    # (src, dst) dedup and the per-src window. Under AQE a lazy
    # checkpoint still runs the plan's shuffle map stages in the call
    # (one job here); the final stage runs at the first action.
    if weight is None:
        e2 = spark.sql(
            f"""SELECT src, dst, count(*) OVER (PARTITION BY src) AS deg
FROM (SELECT DISTINCT src, dst FROM (
  SELECT {q(src)} AS src, {q(dst)} AS dst FROM {{edges}} DISTRIBUTE BY src))""",
            edges=edges,
        ).localCheckpoint(eager=False)
        share = "r.rank / e.deg"
    else:
        e2 = spark.sql(
            f"""SELECT src, dst, __w, sum(__w) OVER (PARTITION BY src) AS deg
FROM (SELECT src, dst, sum(__w) AS __w FROM (
  SELECT {q(src)} AS src, {q(dst)} AS dst,
         CASE WHEN CAST({q(weight)} AS DOUBLE) <= 0
              THEN CAST(raise_error(concat(
                     'pagerank: non-positive edge weight ',
                     CAST(CAST({q(weight)} AS DOUBLE) AS STRING))) AS DOUBLE)
              ELSE CAST({q(weight)} AS DOUBLE) END AS __w
  FROM {{edges}} DISTRIBUTE BY src) GROUP BY src, dst)""",
            edges=edges,
        ).localCheckpoint(eager=False)
        share = "r.rank * e.__w / e.deg"
    # every node with its dangling flag (never a source) and its
    # teleport flag from ONE aggregate over the edge frame: each edge
    # says "src is not dangling" and "dst may be"; a seed row (__i = 2)
    # flags its node but adds none (HAVING keeps graph nodes only). The
    # node count n and the flagged count s are observed on the
    # checkpoint job.
    seed_rows = "" if seeds is None else (
        f"UNION ALL SELECT 2, {q(node)}, 1 FROM {{seeds}}")
    obs = Observation()
    nodes = spark.sql(
        f"""SELECT node, false AS __m, bool_and(__i <> 0) AS __dang,
       max(__s) AS __tp
FROM (SELECT __i, node, {int(seeds is None)} AS __s
      FROM (SELECT posexplode(array(src, dst)) AS (__i, node) FROM {{e2}})
      {seed_rows})
GROUP BY node HAVING min(__i) < 2""",
        e2=e2, seeds=seeds,
    ).observe(obs, F.expr("count(*) AS n"), F.expr("sum(__tp) AS s")
              ).localCheckpoint(eager=True)
    n, s = obs.get["n"], obs.get["s"] or 0
    if s == 0:
        if seeds is not None:
            raise ValueError("no seed appears in the graph")
        return spark.sql("SELECT node, CAST(0.0 AS DOUBLE) AS rank FROM {nodes}",
                         nodes=nodes)

    # ONE statement per round, over the previous round's checkpoint p.
    # Its rows are (node, __m = false, __dang, __tp, __c): the
    # contribution sum of every node, plus one __m = true row whose __c
    # is the rank mass on dangling nodes, read back as an observed
    # metric of the checkpoint job. A node's rank is
    # base·__tp + damping·(__c + mass/s·__tp). One aggregate computes
    # all of them in one pass: each edge's share, a 0.0 row per node (so
    # every node has a row; x + 0.0 == x) and each dangling node's rank
    # under the mass key. When n fits the bound the ranks side is
    # broadcast into the edge join, so the edge frame never shuffles.
    hint = "/*+ BROADCAST(r) */ " if bcast_fits(n, 96) else ""
    nul = "CAST(NULL AS BOOLEAN) AS __dang, CAST(NULL AS INT) AS __tp"
    msgs = f"""SELECT {hint}e.dst, false AS __m, {nul}, {share} AS __c
    FROM {{e2}} e JOIN r ON e.src = r.node"""
    if salt_hot_nodes > 0:
        # two-step sum keyed on (dst, salt-of-src), then dst
        msgs = f"""SELECT dst, false AS __m, {nul}, sum(__c) AS __c
    FROM (SELECT {hint}e.dst, {share} AS __c,
                 pmod(xxhash64(e.src), {int(salt_hot_nodes)}) AS __salt
          FROM {{e2}} e JOIN r ON e.src = r.node)
    GROUP BY dst, __salt"""
    ranks = (f"SELECT node, __dang, __tp, {_dlit(1.0 / s)} * __tp AS rank"
             " FROM {p}")
    p = nodes
    for _ in range(int(iters)):
        # EAGER (r12): the next round reads this frame three times, and
        # concurrent first-materialization of a LAZY checkpoint
        # recomputes its final stage once per reference (the
        # louvain/betweenness lesson)
        obs = Observation()
        p = spark.sql(
            f"""WITH r AS ({ranks})
SELECT dst AS node, __m, max(__dang) AS __dang, max(__tp) AS __tp,
       sum(__c) AS __c FROM (
  {msgs}
  UNION ALL SELECT node, false, __dang, __tp, 0.0D FROM {{p}} WHERE NOT __m
  UNION ALL SELECT NULL, true, NULL, NULL, rank FROM r WHERE __dang
) GROUP BY dst, __m""",
            e2=e2, p=p,
        ).observe(obs, F.expr("sum(CASE WHEN __m THEN __c END) AS dm")
                  ).localCheckpoint(eager=True)
        dm = obs.get["dm"] or 0.0
        ranks = f"""SELECT node, __dang, __tp, {_dlit((1.0 - damping) / s)} * __tp
  + {_dlit(damping)} * (__c + {_dlit(dm)} / {_dlit(float(s))} * __tp) AS rank
FROM {{p}} WHERE NOT __m"""
    rank = "rank" if round_to is None else f"round(rank, {int(round_to)})"
    return spark.sql(f"SELECT node, {rank} AS rank FROM ({ranks})", p=p)


def pagerank_sql(
    edges_sql: str,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 8,
    round_to: Optional[int] = 6,
    weight: Optional[str] = None,
) -> str:
    """DuckDB SQL mirror of :func:`pagerank`: the fixed iteration count
    unrolled as chained CTEs (recursive CTEs disallow aggregation over
    the recursive term, and the loop bound is static anyway).
    ``weight`` mirrors the operator's weighted mode (parallel edges
    sum, shares proportional to weight)."""
    if weight is None:
        e_cte = (f"WITH __e AS (SELECT DISTINCT {src} AS src, "
                 f"{dst} AS dst FROM {edges_sql})")
        deg_cte = "__deg AS (SELECT src, count(*) AS deg FROM __e GROUP BY src)"
        share = "r.rank / d.deg"
    else:
        e_cte = (f"WITH __e AS (SELECT {src} AS src, {dst} AS dst, "
                 f"sum(CAST({weight} AS DOUBLE)) AS __w FROM {edges_sql} "
                 f"GROUP BY 1, 2)")
        deg_cte = "__deg AS (SELECT src, sum(__w) AS deg FROM __e GROUP BY src)"
        share = "r.rank * e.__w / d.deg"
    parts = [
        e_cte,
        "__nodes AS (SELECT src AS node FROM __e UNION SELECT dst FROM __e)",
        "__n AS (SELECT count(*) AS n FROM __nodes)",
        deg_cte,
        "__r0 AS (SELECT node, 1.0 / (SELECT n FROM __n) AS rank FROM __nodes)",
    ]
    for i in range(int(iters)):
        prev, cur = f"__r{i}", f"__r{i + 1}"
        parts.append(
            f"""{cur} AS (
  SELECT nn.node,
         {(1.0 - damping)!r} / (SELECT n FROM __n)
         + {damping!r} * (
             COALESCE(c.__c, 0.0)
             + (SELECT COALESCE(sum(r.rank), 0.0) FROM {prev} r
                LEFT JOIN __deg d ON r.node = d.src WHERE d.src IS NULL)
               / (SELECT n FROM __n)
           ) AS rank
  FROM __nodes nn
  LEFT JOIN (
    SELECT e.dst, sum({share}) AS __c
    FROM __e e
    JOIN {prev} r ON e.src = r.node
    JOIN __deg d ON e.src = d.src
    GROUP BY e.dst
  ) c ON nn.node = c.dst
)"""
        )
    final = f"__r{int(iters)}"
    rank_expr = (
        f"round(rank, {int(round_to)})" if round_to is not None else "rank"
    )
    return _materialize_ctes(
        ",\n".join(parts)
        + f"\nSELECT node, {rank_expr} AS rank FROM {final}"
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact global triangle count over an undirected graph given as a
    (possibly directed / duplicated / self-looped) edge list. Returns
    one row ``(triangles)``.

    Algorithm: degree-ordered orientation (the MapReduce-classic
    wedge-check): orient every undirected edge from its lower-(degree,
    id) endpoint to the higher one, join oriented edges on their source
    to enumerate wedges, then semi-join the closing edge. Orientation
    bounds every node's out-degree by O(sqrt(m)) on any graph, so the
    wedge intermediate is O(m^1.5) worst-case instead of the
    sum-of-squares-of-hub-degrees a naive wedge join produces — the
    difference between feasible and not on a power-law web graph.

    Plan: three skinny shuffles (degree groupBy, wedge equi-join,
    closure semi-join) over (long, long) rows; no driver state at all.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    oriented = (
        und.join(da, "a").join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
            .alias("e")
        )
        .select("e.u", "e.w")
    )
    o1 = oriented.select(F.col("u"), F.col("w").alias("w1"))
    o2 = oriented.select(F.col("u"), F.col("w").alias("w2"))
    wedges = o1.join(o2, "u").filter(F.col("w1") < F.col("w2"))
    closed = wedges.join(
        und.select(F.col("a").alias("w1"), F.col("b").alias("w2")),
        on=["w1", "w2"],
        how="inner",
    )
    return closed.agg(F.count(F.lit(1)).alias("triangles"))


def triangle_count_sql(edges_sql: str, src: str = "src", dst: str = "dst") -> str:
    """DuckDB mirror of :func:`triangle_count` (same orientation, so
    the wedge set — not just the count — is identical)."""
    return f"""
WITH __und AS (
  SELECT DISTINCT least({src}, {dst}) AS a, greatest({src}, {dst}) AS b
  FROM {edges_sql} WHERE {src} <> {dst}
),
__deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM __und UNION ALL SELECT b FROM __und
  ) GROUP BY v
),
__or AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
              THEN u.a ELSE u.b END AS u,
         CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
              THEN u.b ELSE u.a END AS w
  FROM __und u
  JOIN __deg da ON u.a = da.v
  JOIN __deg db ON u.b = db.v
)
SELECT count(*) AS triangles
FROM __or o1
JOIN __or o2 ON o1.u = o2.u AND o1.w < o2.w
JOIN __und c ON c.a = o1.w AND c.b = o2.w
"""


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
) -> DataFrame:
    """Synchronous label propagation (community detection) over the
    undirected version of an edge list: every node starts labeled with
    its own id; each iteration every node adopts the most frequent
    label among its neighbors, ties broken by the SMALLEST label — the
    deterministic variant of classic LPA (random tie-breaks make
    results irreproducible; min-label makes the result a pure function
    of the graph, which the SQL oracle requires). ``iters`` is a fixed
    CAP: a round that changes no label is a fixpoint (synchronous LPA
    reproduces an unchanged assignment exactly), so the loop exits
    early with the identical result — oscillating assignments never
    trigger the exit and run all ``iters`` rounds, like
    :func:`pagerank`. The check is one node-keyed join over two
    materialized |V|-row frames per round (~8% on a non-converging
    bench graph; whole |E|-sized rounds saved on converging ones).

    Returns (node, label) for every node with at least one edge.

    Scale: per iteration one labels⋈edges equi-join on the node id +
    one skinny (node, label) count + one hash-aggregate argmax — all
    shuffle on node id so AQE reuses the exchange; labels are
    localCheckpoint'd per iteration to truncate lineage. No driver
    state at all. The argmax is ``max_by(label, struct(n, -label))``
    (count desc, label asc on ties) — a hash aggregate with map-side
    partials instead of the sort a row_number window would plan.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    und = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = und.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    # struct orders lexicographically: min of (-count, label) = max
    # count, then MIN label on ties — the deterministic tie-break,
    # negating the count (always numeric) so labels of any orderable
    # type work unchanged.
    argmax = F.min_by(
        "label", F.struct((-F.col("__n")).alias("__o"), F.col("label"))
    )
    for it in range(int(iters)):
        # EAGER checkpoint, deliberately: the lazy+probe-materializes
        # form measured slower in the peeling loops (lineage not
        # truncated by the probe action — see k_core's session-7 note)
        nxt = (
            und.join(labels, und.b == labels.node)
            .groupBy(und.a.alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("__n"))
            .groupBy("node")
            .agg(argmax.alias("label"))
            .localCheckpoint(eager=True)
        )
        # early exit at the label fixpoint: synchronous LPA from an
        # unchanged assignment reproduces it exactly, so remaining
        # rounds are no-ops and the result equals the fixed-iters run
        # (iters stays the cap; oscillating assignments never trigger
        # this). The check is one node-keyed join over two
        # already-materialized |V|-row frames — far cheaper than a
        # full |E|-row propagation round. Skipped after the FINAL
        # round: there is no round left to save, so the check there
        # was a pure-overhead join+count job (round-11 opt).
        if it == int(iters) - 1:
            labels = nxt
            break
        changed = (
            nxt.join(labels.select("node",
                                   F.col("label").alias("__old")),
                     on="node")
            .filter(F.col("label") != F.col("__old"))
            .limit(1)
            .count()
        )
        labels = nxt
        if changed == 0:
            break
    return labels


def label_propagation_sql(
    edges_sql: str, src: str = "src", dst: str = "dst", iters: int = 4
) -> str:
    """DuckDB SQL mirror of :func:`label_propagation` (same
    symmetrization, count-desc/label-asc tie-break, fixed iterations
    unrolled as chained CTEs)."""
    parts = [
        f"""__e AS (
  SELECT {src} AS a, {dst} AS b FROM {edges_sql} WHERE {src} <> {dst}
)""",
        """__und AS (
  SELECT DISTINCT a, b FROM (SELECT a, b FROM __e UNION ALL SELECT b, a FROM __e)
)""",
        "__l0 AS (SELECT DISTINCT a AS node, a AS label FROM __und)",
    ]
    for i in range(int(iters)):
        parts.append(
            f"""__l{i + 1} AS (
  SELECT node, label FROM (
    SELECT e.a AS node, l.label, count(*) AS __n,
           row_number() OVER (
             PARTITION BY e.a ORDER BY count(*) DESC, l.label ASC
           ) AS __rn
    FROM __und e JOIN __l{i} l ON e.b = l.node
    GROUP BY e.a, l.label
  ) WHERE __rn = 1
)"""
        )
    return _materialize_ctes(
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, label FROM __l{int(iters)}"
    )


def k_hop(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """k-hop BFS: the exact shortest hop-distance (0..k) from a seed
    set to every node reachable within ``k`` directed hops. ``seeds``
    is a one-column frame of start nodes. Returns (node, dist).

    The frontier-expansion primitive behind neighborhood sampling,
    blast-radius analysis, and contamination spread over link graphs.

    Scale: per hop one dist⋈edges equi-join on the source id + one
    min-aggregate keyed on the node id — never materializes paths,
    only the (node, best-dist) frontier, so state is O(reached nodes)
    regardless of path multiplicity; localCheckpoint per hop truncates
    the growing lineage. No driver state.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    dist = (
        seeds.select(F.col(node).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("int"))
    )
    for _ in range(int(k)):
        nxt = (
            e.join(dist, e.s == dist.node)
            .select(F.col("d").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(nxt)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)  # r12: 2 refs next round (join+union)
        )
    return dist


def k_hop_sql(
    edges_sql: str,
    seeds_sql: str,
    k: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> str:
    """DuckDB SQL mirror of :func:`k_hop` (same fixed hop unrolling)."""
    parts = [
        f"__e AS (SELECT DISTINCT {src} AS s, {dst} AS d FROM {edges_sql})",
        f"__d0 AS (SELECT DISTINCT {node} AS node, 0 AS dist FROM {seeds_sql})",
    ]
    for i in range(int(k)):
        parts.append(
            f"""__d{i + 1} AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM __d{i}
    UNION ALL
    SELECT e.d AS node, x.dist + 1 AS dist
    FROM __e e JOIN __d{i} x ON e.s = x.node
  ) GROUP BY node
)"""
        )
    return _materialize_ctes(
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, dist::INT AS dist FROM __d{int(k)}"
    )


def betweenness_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_seeds: int = 8,
    depth: int = 3,
    seed: int = 42,
    round_to: int = 6,
) -> DataFrame:
    """Sampled, depth-truncated Brandes betweenness centrality over
    the UNDIRECTED graph — the broker/bottleneck score completing the
    centrality family (pagerank = mass flow, harmonic = distance,
    HITS = endorsement, betweenness = path control): bc(v) ≈ half the
    summed pair-dependencies Σ_s δ_s(v) over ``n_seeds`` sampled
    sources, where δ follows Brandes' backward accumulation
    δ(v) = Σ_{w: succ(v)} (σ(v)/σ(w))·(1 + δ(w)) over the shortest-
    path DAG. Exact Brandes is one BFS per NODE — O(nm), unrunnable
    at corpus scale; the standard estimator samples sources (Brandes &
    Pich 2007) and bounds the BFS at ``depth`` hops (k-betweenness:
    only dependencies along geodesics of ≤ depth edges count — in
    small-world graphs most shortest paths are short).

    Determinism: seeds are the ``n_seeds`` lowest md5(node#seed)
    nodes (engine-stable, TakeOrdered). Path counts σ are exact
    BIGINTs. δ is carried in FIXED-POINT 1e-9 units: each
    contribution quantizes via floor((σv/σw)·(1e9 + δ_fp) + 0.5) —
    one double division and one multiply on exact integer inputs, a
    fixed expression tree identical in both engines (floor, never
    round: engines disagree on double rounding modes, not on floor) —
    and per-node sums are exact integer adds, so NO float accumulation
    order exists anywhere. Output ``(node, bc)``, bc = δ_sum/2 (each
    unordered pair counted from both ends on an undirected graph),
    rounded to ``round_to``; non-broker nodes report 0.

    Scale: state is the (seed, node) frontier — n_seeds · reached
    rows, never paths. Per BFS round ONE frontier⋈edges join + one
    min-aggregate; per σ/δ level ONE level⋈edges⋈prev-level join +
    one skinny sum; everything keyed on node ids (co-partitioned
    shuffles), localCheckpoint'd per round. No driver state beyond
    parameters.
    """
    if n_seeds < 1:
        raise ValueError("n_seeds must be >= 1")
    if depth < 1:
        raise ValueError("depth must be >= 1")
    e0 = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    # repartition("a") is LOAD-BEARING AT SCALE (session-7 sf1 A/B):
    # the checkpoint preserves the physical partitioning, and once the
    # frontier outgrows the broadcast bound every forward/backward
    # level's join on a runs as an SMJ whose und side is already
    # hash(a) — removing the exchange regressed sf1 2x+ while reading
    # as a saved per-round job at sf0.1 (where frontiers broadcast)
    # ONE exchange, not two (r12): repartition("a") BEFORE the dedup —
    # hash(a) clustering satisfies the (a, b) aggregate (subset
    # clustering, the louvain-round trick), so dropDuplicates adds no
    # exchange and the output keeps the load-bearing hash(a)
    # partitioning; the node distinct below is satisfied by it too
    und = (
        e0.unionByName(e0.select(F.col("b").alias("a"),
                                 F.col("a").alias("b")))
        .repartition("a")
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=False)
    )
    nodes = und.select(F.col("a").alias("node")).distinct() \
               .localCheckpoint(eager=False)
    sd = (
        nodes.orderBy(
            F.md5(F.concat(F.col("node").cast("string"),
                           F.lit(f"#{int(seed)}"))),
            F.col("node"))
        .limit(int(n_seeds))
        .select(F.col("node").alias("s"))
    )
    # forward: level-synchronous BFS carrying exact path counts WITH
    # the frontier (round-11 opt — the old shape ran one full
    # min-distance pass over the whole reached set per level and then
    # a second per-level join cascade just for σ; dist d's σ only ever
    # depends on the dist-(d-1) frontier, so one join + one sum + one
    # anti-join per level produces both). sigs[d] = exact σ per
    # (seed, node at distance d), identical by construction: `frontier`
    # IS the distance-(d-1) set and `new` (not-yet-reached neighbors)
    # IS the distance-d set.
    frontier = sd.select(
        "s", F.col("s").alias("v"), F.lit(1).cast("long").alias("sig"))
    sigs = [frontier]
    # `reached` is deliberately NOT checkpointed (session-7): it is a
    # flat union over the per-level frontier checkpoints, so its plan
    # never nests and each anti-join reads already-materialized RDDs —
    # checkpointing it only added one full AQE materialization cycle
    # per level to a loop whose wall time IS that driver orchestration.
    reached = frontier.select("s", "v")
    for _ in range(int(depth)):
        nxt = (
            frontier.join(und, frontier.v == und.a)
            .select("s", F.col("b").alias("v"), "sig")
            .groupBy("s", "v").agg(F.sum("sig").alias("sig"))
        )
        # EAGER (r12): the next level's materialization references this
        # checkpoint twice — in nxt AND in reached's union leg — and a
        # lazy checkpoint's final stage is recomputed per concurrent
        # reference (the louvain lesson); the frontier is (seed, node)
        # rows, so the blocking materialization is cheap at any SF
        frontier = (
            nxt.join(reached, ["s", "v"], "left_anti")
            .localCheckpoint(eager=True)
        )
        sigs.append(frontier)
        reached = reached.unionByName(frontier.select("s", "v"))
    # backward: fixed-point δ from the deepest level up
    SCALE = 1_000_000_000
    delta = sigs[int(depth)].select(
        "s", "v", F.lit(0).cast("long").alias("dfp"))
    acc = None
    for d in range(int(depth) - 1, -1, -1):
        child = sigs[d + 1].join(delta, ["s", "v"]).select(
            "s", F.col("v").alias("w"), F.col("sig").alias("sigw"), "dfp")
        par = sigs[d]
        contrib = (
            par.join(und, par.v == und.a)
            .select("s", "v", "sig", F.col("b").alias("w"))
            .join(child, ["s", "w"])
            .select("s", "v", F.floor(
                (F.col("sig").cast("double") / F.col("sigw").cast("double"))
                * (F.lit(SCALE).cast("long") + F.col("dfp")).cast("double")
                + F.lit(0.5)
            ).cast("long").alias("c"))
        )
        dsum = contrib.groupBy("s", "v").agg(F.sum("c").alias("dfp"))
        delta = (
            par.select("s", "v")
            .join(dsum, ["s", "v"], "left")
            .select("s", "v",
                    F.coalesce("dfp", F.lit(0).cast("long")).alias("dfp"))
        )
        # every level's delta feeds TWO consumers (next level's child
        # join + the accumulator union) except the last (d=0), which
        # only the accumulator reads — skip its checkpoint and let the
        # final action plan it inline (session-7, one fewer AQE cycle)
        if d > 0:
            delta = delta.localCheckpoint(eager=False)
        lv = delta.filter(F.col("v") != F.col("s"))
        acc = lv if acc is None else acc.unionByName(lv)
    bc = acc.groupBy(F.col("v").alias("node")).agg(
        F.sum("dfp").alias("__fp"))
    return nodes.join(bc, "node", "left").select(
        "node",
        F.round(
            F.coalesce(F.col("__fp"), F.lit(0).cast("long")).cast("double")
            / F.lit(2e9), int(round_to)).alias("bc"))


def betweenness_centrality_sql(
    edges_sql: str,
    src: str = "src",
    dst: str = "dst",
    n_seeds: int = 8,
    depth: int = 3,
    seed: int = 42,
    round_to: int = 6,
) -> str:
    """DuckDB mirror of :func:`betweenness_centrality` — same seed
    hash, unrolled BFS / σ / fixed-point δ levels, identical floor
    quantization tree (sums cast ::BIGINT so no HUGEINT leaks)."""
    D = int(depth)
    parts = [
        f"""__bce AS (
  SELECT DISTINCT a, b FROM (
    SELECT {src} AS a, {dst} AS b FROM {edges_sql}
    UNION ALL
    SELECT {dst} AS a, {src} AS b FROM {edges_sql}
  ) WHERE a <> b
)""",
        "__bcn AS (SELECT DISTINCT a AS node FROM __bce)",
        f"""__bcs AS (
  SELECT node AS s FROM __bcn
  ORDER BY md5(node::VARCHAR || '#{int(seed)}'), node
  LIMIT {int(n_seeds)}
)""",
        "__bcd0 AS (SELECT s, s AS v, 0 AS dist FROM __bcs)",
    ]
    for i in range(D):
        parts.append(f"""__bcd{i + 1} AS (
  SELECT s, v, min(dist) AS dist FROM (
    SELECT s, v, dist FROM __bcd{i}
    UNION ALL
    SELECT d.s, e.b AS v, d.dist + 1 AS dist
    FROM __bce e JOIN __bcd{i} d ON e.a = d.v
  ) GROUP BY 1, 2
)""")
    parts.append(
        f"__bcg0 AS (SELECT s, v, 1::BIGINT AS sig FROM __bcd{D} "
        "WHERE dist = 0)")
    for d in range(1, D + 1):
        parts.append(f"""__bcg{d} AS (
  SELECT x.s, x.v, sum(x.sig)::BIGINT AS sig FROM (
    SELECT p.s, e.b AS v, p.sig
    FROM __bcg{d - 1} p JOIN __bce e ON e.a = p.v
  ) x JOIN __bcd{D} l ON l.s = x.s AND l.v = x.v AND l.dist = {d}
  GROUP BY 1, 2
)""")
    parts.append(
        f"__bcl{D} AS (SELECT s, v, 0::BIGINT AS dfp FROM __bcg{D})")
    for d in range(D - 1, -1, -1):
        parts.append(f"""__bcl{d} AS (
  SELECT p.s, p.v, coalesce(q.dfp, 0)::BIGINT AS dfp
  FROM __bcg{d} p LEFT JOIN (
    SELECT s, v, sum(c)::BIGINT AS dfp FROM (
      SELECT p.s, p.v,
             CAST(floor((CAST(p.sig AS DOUBLE) / CAST(c.sigw AS DOUBLE))
                        * CAST(1000000000 + c.dfp AS DOUBLE)
                        + 0.5::DOUBLE) AS BIGINT) AS c
      FROM __bcg{d} p
      JOIN __bce e ON e.a = p.v
      JOIN (SELECT g.s, g.v AS w, g.sig AS sigw, l.dfp
            FROM __bcg{d + 1} g
            JOIN __bcl{d + 1} l ON l.s = g.s AND l.v = g.v) c
        ON c.s = p.s AND c.w = e.b
    ) GROUP BY 1, 2
  ) q ON q.s = p.s AND q.v = p.v
)""")
    union = "\n    UNION ALL\n    ".join(
        f"SELECT s, v, dfp FROM __bcl{d} WHERE v <> s"
        for d in range(0, D))
    return _materialize_ctes(
        "WITH " + ",\n".join(parts) + f"""
SELECT n.node,
       round(CAST(coalesce(q.fp, 0) AS DOUBLE) / 2e9, {int(round_to)})
         AS bc
FROM __bcn n LEFT JOIN (
  SELECT v AS node, sum(dfp)::BIGINT AS fp FROM (
    {union}
  ) GROUP BY 1
) q ON q.node = n.node
""")


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    damping: float = 0.85,
    iters: int = 8,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Personalized PageRank: the teleport distribution is uniform over
    ``seeds`` instead of all nodes — rank mass measures proximity to
    the seed set (TrustRank-style quality propagation from a vetted
    whitelist, related-entity scoring, topic-sensitive ranking).
    Dangling mass also returns to the seeds, so total rank stays 1 and
    unreachable nodes get exactly 0.

    The rounds are :func:`pagerank`'s (one SQL statement per round,
    ranks broadcast when the node count fits the guard, dangling mass
    observed on the round's checkpoint job), with the teleport flag set
    on the seeds only; the seed count is observed on the node frame's
    checkpoint job. With every node as a seed the ranks equal
    :func:`pagerank`'s bit for bit. Raises when no seed appears in the
    graph.
    """
    return _rank_rounds(edges, src, dst, damping, iters, round_to,
                        seeds=seeds, node=node)


def personalized_pagerank_sql(
    edges_sql: str,
    seeds_sql: str,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    damping: float = 0.85,
    iters: int = 8,
    round_to: Optional[int] = 6,
) -> str:
    """DuckDB SQL mirror of :func:`personalized_pagerank` (fixed
    iterations unrolled as chained CTEs)."""
    parts = [
        f"WITH __e AS (SELECT DISTINCT {src} AS src, {dst} AS dst FROM {edges_sql})",
        f"""__nodes AS (
  SELECT n.node, CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed
  FROM (SELECT src AS node FROM __e UNION SELECT dst FROM __e) n
  LEFT JOIN (SELECT DISTINCT {node} AS node FROM {seeds_sql}) s
    ON n.node = s.node
)""",
        "__s AS (SELECT sum(is_seed) AS s FROM __nodes)",
        "__deg AS (SELECT src, count(*) AS deg FROM __e GROUP BY src)",
        """__r0 AS (
  SELECT node, CASE WHEN is_seed = 1
                    THEN 1.0 / (SELECT s FROM __s) ELSE 0.0 END AS rank
  FROM __nodes
)""",
    ]
    for i in range(int(iters)):
        prev, cur = f"__r{i}", f"__r{i + 1}"
        parts.append(
            f"""{cur} AS (
  SELECT nn.node,
         nn.is_seed * (
           {(1.0 - damping)!r} / (SELECT s FROM __s)
           + {damping!r} * (
               SELECT COALESCE(sum(r.rank), 0.0) FROM {prev} r
               LEFT JOIN __deg d ON r.node = d.src WHERE d.src IS NULL
             ) / (SELECT s FROM __s)
         )
         + {damping!r} * COALESCE(c.__c, 0.0) AS rank
  FROM __nodes nn
  LEFT JOIN (
    SELECT e.dst, sum(r.rank / d.deg) AS __c
    FROM __e e
    JOIN {prev} r ON e.src = r.node
    JOIN __deg d ON e.src = d.src
    GROUP BY e.dst
  ) c ON nn.node = c.dst
)"""
        )
    rank_expr = (
        f"round(rank, {int(round_to)})" if round_to is not None else "rank"
    )
    return _materialize_ctes(
        ",\n".join(parts)
        + f"\nSELECT node, {rank_expr} AS rank FROM __r{int(iters)}"
    )


# ---------------------------------------------------------------------------
# Link prediction: common neighbors / Adamic-Adar


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_degree: Optional[int] = None,
    exclude_existing: bool = False,
    round_to: int = 6,
) -> DataFrame:
    """Link-prediction scores over an undirected graph: for every node
    pair sharing ≥ ``min_common`` neighbors, the common-neighbor count
    and the Adamic–Adar index Σ_w 1/ln(deg(w)) over shared neighbors w
    (rare shared neighbors weigh more than hubs). Returns ``(u, v,
    common_neighbors, aa_score)``, ``u < v``, score rounded to
    ``round_to`` (float sums are partition-order-dependent; rounding
    is the engine's hash-stability convention, same as pagerank).

    Scale shape: one degree groupBy, one wedge self-join on the
    neighbor lists of wedge CENTERS (deg ≥ 2), one skinny (u, v)
    aggregate. The wedge intermediate is Σ_centers deg² — inherent to
    the exact index. On power-law graphs cap it with ``max_degree``:
    hubs above the cap stop being wedge centers (each contributes only
    1/ln(huge) ≈ nothing to any pair, while costing deg² wedges — the
    standard truncation in production link prediction; results then
    lower-bound the exact index). ``exclude_existing=True`` anti-joins
    already-connected pairs (the usual candidate-generation mode).

    Self-loops and duplicate/reversed edges are normalized away first.
    """
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1: {min_common}")
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    adj = und.select(F.col("a").alias("v"), F.col("b").alias("n")).unionByName(
        und.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    centers = deg.filter(F.col("d") >= 2)
    if max_degree is not None:
        centers = centers.filter(F.col("d") <= int(max_degree))
    ctr = adj.join(centers, "v")  # (v, n, d): neighbor lists of centers
    n1 = ctr.select("v", F.col("n").alias("u"), "d")
    n2 = ctr.select("v", F.col("n").alias("w"))
    pairs = n1.join(n2, "v").filter(F.col("u") < F.col("w"))
    out = pairs.groupBy("u", "w").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.round(
            F.sum(F.lit(1.0) / F.log(F.col("d").cast("double"))),
            int(round_to),
        ).alias("aa_score"),
    ).filter(F.col("common_neighbors") >= int(min_common))
    if exclude_existing:
        out = out.join(
            und.select(F.col("a").alias("u"), F.col("b").alias("w")),
            ["u", "w"], "left_anti",
        )
    # neighborhood Jaccard = |N(u)∩N(v)| / |N(u)∪N(v)| — the
    # degree-normalized companion score (two skinny degree joins).
    # NOTE: under max_degree the numerator counts only sub-cap common
    # neighbors while degrees stay full, so jaccard lower-bounds the
    # exact coefficient — consistent with aa_score's truncation story.
    du = deg.select(F.col("v").alias("u"), F.col("d").alias("__du"))
    dv = deg.select(F.col("v").alias("w"), F.col("d").alias("__dv"))
    out = out.join(du, "u").join(dv, "w")
    jac = F.col("common_neighbors").cast("double") / (
        F.col("__du") + F.col("__dv") - F.col("common_neighbors")
    ).cast("double")
    return out.select(
        F.col("u"), F.col("w").alias("v"), "common_neighbors", "aa_score",
        jac.alias("jaccard"),
    )


def adamic_adar_sql(
    edges_sql: str,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_degree: Optional[int] = None,
    exclude_existing: bool = False,
    round_to: int = 6,
) -> str:
    """DuckDB mirror of :func:`adamic_adar` (same normalization,
    degree filters, and rounded float sum)."""
    cap = f"AND d <= {int(max_degree)}" if max_degree is not None else ""
    anti = (
        "AND NOT EXISTS (SELECT 1 FROM __und e "
        "WHERE e.a = p.u AND e.b = p.w)"
        if exclude_existing else ""
    )
    return f"""
WITH __und AS (
  SELECT DISTINCT least({src}, {dst}) AS a, greatest({src}, {dst}) AS b
  FROM ({edges_sql})
  WHERE {src} IS NOT NULL AND {dst} IS NOT NULL
    AND least({src}, {dst}) != greatest({src}, {dst})
),
__adj AS (
  SELECT a AS v, b AS n FROM __und
  UNION ALL SELECT b AS v, a AS n FROM __und
),
__deg AS (SELECT v, count(*) AS d FROM __adj GROUP BY 1),
__ctr AS (
  SELECT adj.v, adj.n, dg.d FROM __adj adj JOIN __deg dg ON adj.v = dg.v
  WHERE dg.d >= 2 {cap}
),
__pairs AS (
  SELECT n1.n AS u, n2.n AS w, n1.d
  FROM __ctr n1 JOIN __ctr n2 ON n1.v = n2.v AND n1.n < n2.n
)
SELECT u, w AS v, common_neighbors, aa_score,
       CAST(common_neighbors AS DOUBLE)
         / CAST(du.d + dv.d - common_neighbors AS DOUBLE) AS jaccard
FROM (
  SELECT p.u, p.w, count(*) AS common_neighbors,
         round(sum(1.0::DOUBLE / ln(CAST(p.d AS DOUBLE))),
               {int(round_to)}) AS aa_score
  FROM __pairs p
  GROUP BY p.u, p.w
) p
JOIN __deg du ON p.u = du.v
JOIN __deg dv ON p.w = dv.v
WHERE common_neighbors >= {int(min_common)} {anti}
"""


# ---------------------------------------------------------------------------
# Weighted single-source shortest paths (Bellman-Ford relaxation)


def shortest_paths(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    weight: Optional[str] = None,
    iters: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Weighted single-source shortest distances by Bellman–Ford
    relaxation: after ``iters`` rounds, ``(node, dist)`` holds the
    exact shortest distance for every node whose optimal path uses at
    most ``iters`` edges (the unweighted analog is ``k_hop``). With
    ``weight=None`` every edge costs 1. Unreached nodes are absent.
    Negative weights are rejected — on a cyclic graph they make
    "shortest" undefined, and no distributed relaxation bound holds.

    Scale shape (same discipline as :func:`pagerank`): the edge frame
    is cleaned and checkpointed ONCE; each iteration is one equi-join
    of the current frontier distances onto edges plus one skinny
    ``min`` groupBy — linear in edges per round, no driver state. The
    distance frame is checkpointed per round, so the lineage (and the
    plan Catalyst must optimize) stays constant-size instead of
    doubling per iteration.

    Distances round to ``round_to`` at the END (weight sums along a
    path are deterministic folds — each round recomputes dist+w from
    the previous round's value — but min() across equal-length float
    ties is only stable after the rounding quantum).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    w = (F.col(weight).cast("double") if weight is not None
         else F.lit(1.0))
    # plan-embedded guard (the resample max_buckets precedent): a
    # negative weight anywhere fails the job loudly instead of
    # silently returning non-shortest "shortest" distances
    w = F.when(
        w < 0,
        F.raise_error(F.concat(
            F.lit("shortest_paths: negative edge weight "), w.cast("string")
        )).cast("double"),
    ).otherwise(w)
    e = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                w.alias("w"))
        .groupBy("src", "dst").agg(F.min("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    dist = e.select(F.col("src").alias("node")).limit(0).withColumn(
        "dist", F.lit(0.0)
    )
    dist = dist.sparkSession.createDataFrame(
        [(source, 0.0)], schema=dist.schema
    )
    for _ in range(int(iters)):
        relaxed = (
            dist.join(e, dist.node == e.src)
            .select(F.col("dst").alias("node"),
                    (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)  # r12: 2 refs next round (join+union)
        )
    return dist.select("node", F.round("dist", int(round_to)).alias("dist"))


def shortest_paths_sql(
    edges_sql: str,
    source_sql: str,
    src: str = "src",
    dst: str = "dst",
    weight: Optional[str] = None,
    iters: int = 10,
    round_to: int = 6,
) -> str:
    """DuckDB mirror of :func:`shortest_paths` — the relaxation rounds
    unrolled as chained CTEs (``source_sql`` is a literal, e.g. ``7``
    or ``'u1'``)."""
    w = f"CAST({weight} AS DOUBLE)" if weight is not None else "1.0::DOUBLE"
    ctes = [
        f"__e AS (SELECT {src} AS src, {dst} AS dst, min({w}) AS w "
        f"FROM ({edges_sql}) WHERE {src} IS NOT NULL AND {dst} IS NOT NULL "
        f"GROUP BY 1, 2)",
        f"__d0 AS (SELECT {source_sql} AS node, 0.0::DOUBLE AS dist)",
    ]
    for i in range(int(iters)):
        ctes.append(
            f"__d{i + 1} AS (SELECT node, min(dist) AS dist FROM ("
            f"SELECT node, dist FROM __d{i} "
            f"UNION ALL "
            f"SELECT e.dst AS node, d.dist + e.w AS dist "
            f"FROM __d{i} d JOIN __e e ON d.node = e.src) GROUP BY node)"
        )
    return _materialize_ctes(
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, round(dist, {int(round_to)}) AS dist "
          f"FROM __d{int(iters)}"
    )


# ---------------------------------------------------------------------------
# HITS (hubs and authorities)


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 8,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg): per round, authority(v) =
    Σ_{u→v} hub(u) and hub(u) = Σ_{u→v} authority(v), each L1-normalized
    (sum = 1; the usual L2 norm needs a sqrt whose libm rounding
    differs across engines — L1 keeps the SQL oracle exact and the
    ranking identical). Returns ``(node, hub, authority)`` for every
    endpoint; nodes with no out-edges get hub 0, no in-edges authority
    0. Complements :func:`pagerank`: authorities are good *content*,
    hubs are good *link pages* — the directed-graph curation pair.

    Scale shape (pagerank discipline): edge frame deduped and
    checkpointed once; each iteration is two skinny equi-join +
    groupBy passes plus two 1-row normalizer broadcasts; score frames
    checkpoint per round so lineage stays flat.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hub = nodes.withColumn("hub", F.lit(1.0))
    for _ in range(int(iters)):
        raw_a = (
            e.join(hub, e.src == hub.node)
            .groupBy("dst").agg(F.sum("hub").alias("__a"))
        )
        na = raw_a.agg(F.sum("__a").alias("__na"))
        auth = (
            nodes.join(raw_a, nodes.node == raw_a.dst, "left")
            .crossJoin(F.broadcast(na))
            .select(
                "node",
                (F.coalesce(F.col("__a"), F.lit(0.0)) / F.col("__na"))
                .alias("authority"),
            )
            .localCheckpoint(eager=False)
        )
        raw_h = (
            e.join(auth, e.dst == auth.node)
            .groupBy("src").agg(F.sum("authority").alias("__h"))
        )
        nh = raw_h.agg(F.sum("__h").alias("__nh"))
        hub = (
            nodes.join(raw_h, nodes.node == raw_h.src, "left")
            .crossJoin(F.broadcast(nh))
            .select(
                "node",
                (F.coalesce(F.col("__h"), F.lit(0.0)) / F.col("__nh"))
                .alias("hub"),
            )
            .localCheckpoint(eager=False)
        )
    out = hub.join(auth, "node")
    if round_to is not None:
        out = out.select(
            "node",
            F.round("hub", int(round_to)).alias("hub"),
            F.round("authority", int(round_to)).alias("authority"),
        )
    return out.select("node", "hub", "authority")


def hits_sql(
    edges_sql: str,
    src: str = "src",
    dst: str = "dst",
    iters: int = 8,
    round_to: Optional[int] = 6,
) -> str:
    """DuckDB mirror of :func:`hits` — iterations unrolled as chained
    CTEs with the same L1 normalization."""
    # every level is referenced 3x (the L1-normalization subquery, the
    # LEFT JOIN, and the next level) — without MATERIALIZED DuckDB
    # inlines the chain into a ~3^(2*iters) plan: the iters=8 default
    # measured as a multi-minute hang (same class as k_core_sql)
    parts = [
        f"WITH __e AS MATERIALIZED (SELECT DISTINCT {src} AS src, {dst} AS dst "
        f"FROM ({edges_sql}) WHERE {src} IS NOT NULL AND {dst} IS NOT NULL "
        f"AND {src} != {dst})",
        "__nodes AS MATERIALIZED (SELECT src AS node FROM __e UNION SELECT dst FROM __e)",
        "__h0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE AS hub FROM __nodes)",
    ]
    for i in range(int(iters)):
        ph, ca, ch = f"__h{i}", f"__a{i + 1}", f"__h{i + 1}"
        parts.append(
            f"""{ca} AS MATERIALIZED (
  SELECT nn.node,
         COALESCE(r.__a, 0.0) / (SELECT sum(__a) FROM (
            SELECT e.dst, sum(h.hub) AS __a FROM __e e
            JOIN {ph} h ON e.src = h.node GROUP BY e.dst)) AS authority
  FROM __nodes nn LEFT JOIN (
    SELECT e.dst, sum(h.hub) AS __a FROM __e e
    JOIN {ph} h ON e.src = h.node GROUP BY e.dst
  ) r ON nn.node = r.dst
)"""
        )
        parts.append(
            f"""{ch} AS MATERIALIZED (
  SELECT nn.node,
         COALESCE(r.__h, 0.0) / (SELECT sum(__h) FROM (
            SELECT e.src, sum(a.authority) AS __h FROM __e e
            JOIN {ca} a ON e.dst = a.node GROUP BY e.src)) AS hub
  FROM __nodes nn LEFT JOIN (
    SELECT e.src, sum(a.authority) AS __h FROM __e e
    JOIN {ca} a ON e.dst = a.node GROUP BY e.src
  ) r ON nn.node = r.src
)"""
        )
    h, a = f"__h{int(iters)}", f"__a{int(iters)}"
    hub_e = f"round(h.hub, {int(round_to)})" if round_to is not None else "h.hub"
    aut_e = (f"round(a.authority, {int(round_to)})"
             if round_to is not None else "a.authority")
    return (
        ",\n".join(parts)
        + f"\nSELECT h.node, {hub_e} AS hub, {aut_e} AS authority "
          f"FROM {h} h JOIN {a} a ON h.node = a.node"
    )


def k_core(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    iters: int = 8,
    assert_converged: bool = True,
) -> DataFrame:
    """k-core of the undirected graph: iteratively peel nodes of
    degree < k; what survives is the maximal subgraph where every node
    keeps >= k neighbors. Returns (node, deg) — surviving nodes with
    their within-core degree. The standard dense-cluster / spam-farm /
    graph-summarization primitive.

    ``iters`` peeling rounds are fixed (not convergence-tested) so the
    result is a pure function of the graph — the SQL-oracle contract
    shared with :func:`pagerank` / :func:`label_propagation`. Peeling
    removes at least one node per non-converged round, and in practice
    converges in a handful of rounds (cascades shorten each round);
    once a round removes nothing the remaining rounds are no-ops, so
    any ``iters`` >= the peel depth yields the exact fixpoint
    (fixpoint-reached is asserted for the registered query's config in
    tests).

    ``assert_converged`` (default True) verifies the fixpoint after
    the loop with ONE bounded action (limit-1 count of under-degree
    survivors) and raises if more peeling rounds were needed —
    without it a too-small ``iters`` silently returns a superset of
    the k-core. The registered oracle query passes False: its config
    is fixpoint-asserted in tests, and the SQL-contract result must
    stay a pure function of (graph, iters).

    Scale: per round ONE skinny degree aggregate (groupBy endpoint —
    combine-friendly, symmetric edges so out-rows per partition are
    bounded by distinct nodes) + two left-semi joins restricting the
    edge list to surviving endpoints, all shuffling on the node id so
    AQE reuses the exchange; the edge frame is localCheckpoint'd each
    round to truncate lineage. No driver state — the loop never calls
    an action.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    und = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_cnt = None
    for _ in range(int(iters)):
        alive = (
            und.groupBy("a")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .filter(F.col("__deg") >= int(k))
            .select("a")
        )
        # EAGER checkpoint, deliberately: a lazy one measured 3.5x
        # SLOWER here (session-7 A/B) — the convergence count did not
        # truncate the RDD lineage, so later rounds' concurrent AQE
        # stage futures re-materialized every prior round (growing
        # task counts, duplicate job pairs). The separate eager
        # materialization job per round is the cheap insurance.
        nxt = (
            und.join(alive, on="a", how="left_semi")
            .join(alive.select(F.col("a").alias("b")), on="b",
                  how="left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        # early exit at the fixpoint: remaining rounds are no-ops on
        # an unchanged edge set, so the RESULT is identical — iters
        # stays the cap, not the cost. One cheap count per round over
        # the just-materialized checkpoint blocks; measured 7.4×→
        # linear-ish growth at sf1 (the trade graph peels in 2 rounds,
        # the other 4 were full-graph no-op shuffles). The previous
        # round's size is CARRIED instead of recounted (round-11 opt:
        # halves the count jobs; the first round counts `und` once).
        if prev_cnt is None:
            prev_cnt = und.count()
        cnt = nxt.count()
        if cnt == prev_cnt:
            und = nxt
            break
        prev_cnt = cnt
        und = nxt
    if assert_converged:
        stragglers = (
            und.groupBy("a")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .filter(F.col("__deg") < int(k))
            .limit(1)
            .count()
        )
        if stragglers:
            raise RuntimeError(
                f"k_core: not converged after iters={iters} peeling "
                "rounds (a surviving node still has degree < k) — "
                "raise iters, or pass assert_converged=False to "
                "accept the fixed-rounds superset"
            )
    return (
        und.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def k_core_sql(
    edges_sql: str,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    iters: int = 8,
) -> str:
    """DuckDB mirror of :func:`k_core` — the same symmetrization and
    fixed peeling rounds unrolled as chained CTEs."""
    parts = [
        f"""__e AS (
  SELECT {src} AS a, {dst} AS b FROM {edges_sql} WHERE {src} <> {dst}
)""",
        """__u0 AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (SELECT a, b FROM __e UNION ALL SELECT b, a FROM __e)
)""",
    ]
    # each level references its predecessor 3x (degree agg + both
    # endpoint joins) — DuckDB would inline the chain into a 3^iters
    # plan without MATERIALIZED (measured: hangs at 6 rounds)
    for i in range(int(iters)):
        parts.append(
            f"""__a{i} AS MATERIALIZED (
  SELECT a FROM __u{i} GROUP BY a HAVING count(*) >= {int(k)}
)"""
        )
        parts.append(
            f"""__u{i + 1} AS MATERIALIZED (
  SELECT u.a, u.b FROM __u{i} u
  JOIN __a{i} x ON u.a = x.a
  JOIN __a{i} y ON u.b = y.a
)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT a AS node, count(*)::BIGINT AS deg"
          f" FROM __u{int(iters)} GROUP BY a"
    )


def k_truss(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 4,
    iters: int = 6,
    assert_converged: bool = True,
) -> DataFrame:
    """k-truss of the undirected graph: iteratively drop edges whose
    SUPPORT (number of triangles they sit in, within the current
    subgraph) is below ``k − 2``; what survives is the maximal
    subgraph where every edge closes ≥ k−2 triangles — the edge-level
    sharpening of :func:`k_core` (every k-truss is inside the
    (k−1)-core) and the standard cohesive-community / spam-clique
    primitive. Returns the surviving CANONICAL edges ``(a, b,
    support)`` with support recomputed ON THE FINAL SUBGRAPH (the
    textbook quantity — a pre-peel support would still count
    triangles through edges the same round dropped, and would change
    with ``iters`` even after the edge set converges).

    Fixed ``iters`` peeling rounds (the :func:`k_core` SQL-oracle
    contract — the result is a pure function of (graph, k, iters));
    peeling removes ≥ 1 edge per non-converged round, an early exit
    skips no-op rounds, and the final support pass doubles as the
    ``assert_converged`` fixpoint check (default True; the registered
    oracle query passes False and its config is fixpoint-asserted in
    tests).

    Scale: per round one skinny degree aggregate, a DEGREE-ORDERED
    orientation (each triangle is enumerated exactly once from its
    lowest-(deg, id) corner — the :func:`triangle_count` discipline
    that bounds the wedge intermediate at O(m^1.5) under hubs), one
    wedge self-join + one canonical-edge closure join, a 3-way edge
    explode, and one (a, b) support count — all equi-joins, no
    cartesian; the edge frame localCheckpoints each round.
    """
    if k < 3:
        raise ValueError("k must be >= 3 (k-2 triangles per edge)")
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    ce = e.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct().localCheckpoint(eager=False)

    def _support(cur):
        sym = cur.select("a", "b").unionByName(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        deg = sym.groupBy(F.col("a").alias("n")).agg(
            F.count(F.lit(1)).alias("d"))
        ori = (
            cur.select("a", "b")
            .join(deg.select(F.col("n").alias("a"),
                             F.col("d").alias("__da")), "a")
            .join(deg.select(F.col("n").alias("b"),
                             F.col("d").alias("__db")), "b")
        )
        lt = (F.col("__da") < F.col("__db")) | (
            (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b")))
        ori = ori.select(
            F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lt, F.col("__db")).otherwise(F.col("__da")).alias("vd"),
        )
        o2 = ori.select(F.col("u").alias("u2"), F.col("v").alias("w"),
                        F.col("vd").alias("wd"))
        wedge = ori.join(o2, F.col("u") == F.col("u2")).filter(
            (F.col("vd") < F.col("wd"))
            | ((F.col("vd") == F.col("wd")) & (F.col("v") < F.col("w")))
        ).select(
            "u", "v", "w",
            F.least("v", "w").alias("x"), F.greatest("v", "w").alias("y"),
        )
        # closing probe stays a plain semi-join: broadcasting the edge
        # side (the clustering_coefficient move) was measured ~1 s
        # SLOWER here — the peeling loop is plan/driver-bound on
        # rapidly-shrinking graphs, so the per-round broadcast build
        # costs more than the saved shuffle (round-11 A/B, rejected)
        tri = wedge.join(
            cur.select(F.col("a").alias("x"), F.col("b").alias("y")),
            ["x", "y"], "left_semi")
        mem = tri.select(F.explode(F.array(
            F.struct(F.least("u", "v").alias("a"),
                     F.greatest("u", "v").alias("b")),
            F.struct(F.least("u", "w").alias("a"),
                     F.greatest("u", "w").alias("b")),
            F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
        )).alias("__e")).select("__e.a", "__e.b")
        return mem.groupBy("a", "b").agg(
            F.count(F.lit(1)).alias("support"))

    cur = ce
    prev_cnt = None
    done = False
    nxt = None
    for _ in range(int(iters)):
        sup = _support(cur)
        # every support row's (a, b) comes from a triangle INSIDE cur,
        # so sup's key set is a subset of cur's edge set and the
        # cur-join is an identity: filtering sup directly is the same
        # edge set with one fewer join+shuffle per round (round-11 opt).
        # The support column RIDES the checkpoint (session-7): at the
        # fixpoint the checkpointed frame IS the output, so the old
        # converged path's re-plan of sup.filter — a second full
        # O(m^1.5) triangle pass at action time — disappears. Eager,
        # not lazy: the lazy form measured far slower in this loop
        # (lineage not truncated by the count — see k_core's note).
        nxt = (
            sup.filter(F.col("support") >= int(k) - 2)
            .localCheckpoint(eager=True)
        )
        # previous round's size carried instead of recounted (the
        # k_core discipline)
        if prev_cnt is None:
            prev_cnt = cur.count()
        cnt = nxt.count()
        done = cnt == prev_cnt
        prev_cnt = cnt
        cur = nxt.select("a", "b")
        if done:
            break
    # at the fixpoint the last peeling round removed nothing, so the
    # support frame it computed IS the support of the surviving edge
    # set — the checkpoint already holds (a, b, support).
    if done and nxt is not None:
        out = nxt.select("a", "b", "support")
    else:
        # iters exhausted: recompute support on the final edge set;
        # cur may hold triangle-free edges, hence the left join + 0
        out = (
            cur.join(_support(cur), ["a", "b"], "left")
            .select("a", "b",
                    F.coalesce(F.col("support"), F.lit(0).cast("long"))
                    .alias("support"))
            .localCheckpoint(eager=False)
        )
    if assert_converged:
        stragglers = (
            out.filter(F.col("support") < int(k) - 2).limit(1).count()
        )
        if stragglers:
            raise RuntimeError(
                f"k_truss: not converged after iters={iters} rounds (a "
                "surviving edge still has support < k-2) — raise iters, "
                "or pass assert_converged=False to accept the "
                "fixed-rounds superset"
            )
    return out


def k_truss_sql(
    edges_sql: str,
    src: str = "src",
    dst: str = "dst",
    k: int = 4,
    iters: int = 6,
) -> str:
    """DuckDB mirror of :func:`k_truss` — the same canonicalization,
    per-round degree-ordered orientation, single-corner triangle
    enumeration, 3-way member explode, support peeling, and the final
    on-subgraph support recomputation, unrolled as MATERIALIZED CTEs
    (each level feeds several consumers — the :func:`k_core_sql`
    inlining lesson)."""
    if k < 3 or iters < 1:
        raise ValueError("k must be >= 3 and iters >= 1")
    parts = [
        f"""__t0 AS MATERIALIZED (
  SELECT DISTINCT least({src}, {dst}) AS a, greatest({src}, {dst}) AS b
  FROM {edges_sql} WHERE {src} <> {dst}
)""",
    ]
    # one extra index (= iters) computes the FINAL subgraph's support
    for i in range(int(iters) + 1):
        parts.append(f"""__td{i} AS MATERIALIZED (
  SELECT n, count(*)::BIGINT AS d FROM (
    SELECT a AS n FROM __t{i} UNION ALL SELECT b FROM __t{i}
  ) GROUP BY 1
)""")
        parts.append(f"""__to{i} AS MATERIALIZED (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND t.a < t.b)
              THEN t.a ELSE t.b END AS u,
         CASE WHEN da.d < db.d OR (da.d = db.d AND t.a < t.b)
              THEN t.b ELSE t.a END AS v,
         CASE WHEN da.d < db.d OR (da.d = db.d AND t.a < t.b)
              THEN db.d ELSE da.d END AS vd
  FROM __t{i} t
  JOIN __td{i} da ON t.a = da.n
  JOIN __td{i} db ON t.b = db.n
)""")
        parts.append(f"""__tt{i} AS MATERIALIZED (
  SELECT w.u, w.v, w.w, least(w.v, w.w) AS x, greatest(w.v, w.w) AS y
  FROM (
    SELECT o1.u, o1.v, o2.v AS w
    FROM __to{i} o1 JOIN __to{i} o2
      ON o1.u = o2.u
     AND (o1.vd < o2.vd OR (o1.vd = o2.vd AND o1.v < o2.v))
  ) w
  JOIN __t{i} t ON least(w.v, w.w) = t.a AND greatest(w.v, w.w) = t.b
)""")
        parts.append(f"""__ts{i} AS MATERIALIZED (
  SELECT a, b, count(*)::BIGINT AS support FROM (
    SELECT least(u, v) AS a, greatest(u, v) AS b FROM __tt{i}
    UNION ALL SELECT least(u, w), greatest(u, w) FROM __tt{i}
    UNION ALL SELECT x, y FROM __tt{i}
  ) GROUP BY 1, 2
)""")
        if i < int(iters):
            parts.append(f"""__t{i + 1} AS MATERIALIZED (
  SELECT t.a, t.b FROM __t{i} t
  JOIN __ts{i} s USING (a, b)
  WHERE s.support >= {int(k) - 2}
)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT t.a, t.b, COALESCE(s.support, 0)::BIGINT AS support
FROM __t{int(iters)} t LEFT JOIN __ts{int(iters)} s USING (a, b)"""
    )


def louvain_moves(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
) -> DataFrame:
    """Deterministic SYNCHRONOUS Louvain move phase (one level) over
    the undirected graph — community detection by MODULARITY GAIN
    (Blondel et al. 2008's local-move rule) where
    :func:`label_propagation` uses neighbor plurality: every node
    starts in its own community; each round every node moves to the
    candidate community (its neighbors' communities plus its own)
    maximizing the standard one-level gain

        score(i → C) = k_{i,C} − deg(i)·(Σtot(C) − [C = cur]·deg(i)) / 2m

    (internal-edge pull minus the degree-mass null model), ties broken
    by the SMALLEST community id — classic Louvain's sequential
    random-order sweep is irreproducible across partitionings, so this
    is the synchronous variant a distributed engine can replay
    bit-for-bit (the :func:`label_propagation` determinism rationale;
    synchronous moves may oscillate on bipartite-ish graphs, which the
    fixed ``iters`` cap bounds). Returns ``(node, community)``; score
    a labeling with :func:`modularity`.

    This is :func:`louvain` at ``levels=1``: its weighted move kernel
    with every edge weight 1 (see :func:`_louvain_weighted_moves` for
    the per-round joins). 2m is collected once and planned as a
    literal.

    Runs Spark jobs when the DataFrame is built, not when the caller's
    action runs: the 2m collect and the initial and per-round
    assignments (eager checkpoints: lazy ones, referenced several times
    per round, raced under concurrent AQE futures).
    """
    return louvain(edges, src, dst, iters=iters, levels=1)


def louvain_moves_sql(
    edges_sql: str,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
) -> str:
    """DuckDB mirror of :func:`louvain_moves` — the move rounds
    unrolled as MATERIALIZED CTEs (each assignment feeds four
    consumers; inlining would explode, the k_core lesson), identical
    gain expression, (score DESC, community ASC) argmax, md5
    bucket schedule, and strict-positive-gain acceptance."""
    from .pipeline import unit_hash_sql

    if iters < 1:
        raise ValueError("iters must be >= 1")
    parts = [
        f"""__e AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT {src} AS a, {dst} AS b FROM {edges_sql} WHERE {src} <> {dst}
    UNION ALL
    SELECT {dst} AS a, {src} AS b FROM {edges_sql} WHERE {src} <> {dst})
)""",
        """__deg AS MATERIALIZED (
  SELECT a AS node, count(*)::BIGINT AS __deg FROM __e GROUP BY 1
)""",
        "__2m AS MATERIALIZED (SELECT count(*)::BIGINT AS __2m FROM __e)",
        "__c0 AS MATERIALIZED (SELECT node, node AS community FROM __deg)",
    ]
    for t in range(1, int(iters) + 1):
        p = t - 1
        parts.append(f"""__tot{t} AS MATERIALIZED (
  SELECT c.community, sum(d.__deg)::BIGINT AS __tot
  FROM __c{p} c JOIN __deg d USING (node) GROUP BY 1
)""")
        parts.append(f"""__cand{t} AS MATERIALIZED (
  SELECT node, __c, max(__k)::BIGINT AS __k FROM (
    SELECT e.a AS node, c.community AS __c, count(*)::BIGINT AS __k
    FROM __e e JOIN __c{p} c ON e.b = c.node GROUP BY 1, 2
    UNION ALL
    SELECT node, community AS __c, 0::BIGINT AS __k FROM __c{p}
  ) GROUP BY 1, 2
)""")
        bucket = (f"(({unit_hash_sql('node', 7)}) < 0.5) = "
                  f"{'TRUE' if (t - 1) % 2 == 0 else 'FALSE'}")
        score = (
            "(CAST(k.__k AS DOUBLE)"
            " - CAST(d.__deg AS DOUBLE)"
            " * CAST(tt.__tot - CASE WHEN k.__c = cur.community"
            "                        THEN d.__deg ELSE 0 END AS DOUBLE)"
            " / CAST(m.__2m AS DOUBLE))"
        )
        parts.append(f"""__s{t} AS MATERIALIZED (
  SELECT k.node, cur.community, k.__c, {score} AS __s
  FROM __cand{t} k
  JOIN __c{p} cur USING (node)
  JOIN __deg d USING (node)
  JOIN __tot{t} tt ON tt.community = k.__c
  CROSS JOIN __2m m
)""")
        parts.append(f"""__b{t} AS MATERIALIZED (
  SELECT node, __c AS __best FROM (
    SELECT node, __c, row_number() OVER (
      PARTITION BY node ORDER BY __s DESC, __c ASC) AS __rn
    FROM __s{t}
  ) WHERE __rn = 1
)""")
        parts.append(f"""__c{t} AS MATERIALIZED (
  SELECT a.node,
         CASE WHEN ({bucket})
                   AND a.__sbest IS NOT NULL AND a.__sbest > a.__scur
              THEN b.__best ELSE a.community END AS community
  FROM (
    SELECT node, any_value(community) AS community,
           max(CASE WHEN __c <> community THEN __s END) AS __sbest,
           max(CASE WHEN __c = community THEN __s END) AS __scur
    FROM __s{t} GROUP BY node
  ) a JOIN __b{t} b USING (node)
)""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT node, community FROM __c{int(iters)}")


def _louvain_weighted_moves(ew, nodes_deg, two_m: int, iters: int,
                            pre_checkpointed: bool = False):
    """One weighted synchronous-Louvain move phase: ``ew`` is the
    SYMMETRIC weighted edge frame ``(a, b, w)`` with ``a != b`` (self
    mass lives in the degrees, where classic Louvain keeps it — it is
    constant across a node's candidate communities so it cancels in
    the gain), ``nodes_deg`` is ``(node, __deg)`` over the FULL node
    universe (an all-internal super-node has no ``ew`` rows but still
    holds degree mass), and ``two_m`` the exact integer 2m (a plan
    literal — the former 1-row crossJoin(broadcast) frame cost a
    cw-scan aggregate + broadcast-exchange pair per round). The
    schedule, tie-break and gain expression are the ones
    :func:`louvain_moves` documents (it is this kernel at w=1).
    ``pre_checkpointed`` says the
    caller already checkpointed ``nodes_deg`` (so the init assignment
    is a projection of truncated lineage and needs no checkpoint of
    its own). Returns ``(node, community, __deg)``."""
    from .pipeline import _unit_hash

    comm = nodes_deg.select(
        "node", F.col("node").alias("community"), "__deg"
    )
    if not pre_checkpointed:
        comm = comm.localCheckpoint(eager=True)
    for r in range(int(iters)):
        tot = comm.groupBy("community").agg(F.sum("__deg").alias("__tot"))
        # k_{i,C} and the own-community candidate in ONE aggregation:
        # edge rows contribute w per neighbor in C, the union'd own-row
        # contributes 0 (exact integers). The explicit
        # repartition("node") makes every downstream step of the round
        # reuse hash(node): the (node, __c) groupBy is satisfied by it,
        # tot/comm join broadcast, and the final argmax groupBy(node)
        # needs no exchange — one shuffle per round.
        cand = (
            ew.join(comm.select(F.col("node").alias("b"),
                                F.col("community").alias("__c")), "b")
            .select(F.col("a").alias("node"), "__c", "w")
            .unionByName(
                comm.select("node", F.col("community").alias("__c"),
                            F.lit(0).cast("long").alias("w")))
            .repartition("node")
            .groupBy("node", "__c").agg(F.sum("w").alias("__k"))
        )
        scored = (
            cand.join(tot.select(F.col("community").alias("__c"), "__tot"),
                      "__c")
            .join(comm, "node")
        )
        adj = F.when(
            F.col("__c") == F.col("community"), F.col("__deg")
        ).otherwise(F.lit(0).cast("long"))
        score = (
            F.col("__k").cast("double")
            - F.col("__deg").cast("double")
            * (F.col("__tot") - adj).cast("double")
            / F.lit(two_m).cast("long").cast("double")
        )
        best = (
            scored.select("node", "community", "__deg", "__c",
                          score.alias("__s"))
            .groupBy("node")
            .agg(
                F.first("community").alias("community"),
                F.first("__deg").alias("__deg"),
                F.min_by(
                    "__c",
                    F.struct((-F.col("__s")).alias("__o"), F.col("__c")),
                ).alias("__best"),
                F.max(F.when(F.col("__c") != F.col("community"),
                             F.col("__s"))).alias("__sbest"),
                F.max(F.when(F.col("__c") == F.col("community"),
                             F.col("__s"))).alias("__scur"),
            )
        )
        # one hash-bucket of nodes moves per round (the parallel-Louvain
        # anti-swap discipline), and only on STRICTLY positive gain vs
        # staying — frozen nodes keep the target communities stable, so
        # each accepted move improves Q against the current assignment
        may_move = ((_unit_hash("node", 7) < 0.5) == F.lit(r % 2 == 0))
        gain = F.col("__sbest") > F.col("__scur")
        comm = best.select(
            "node",
            F.when(may_move & gain, F.col("__best"))
            .otherwise(F.col("community")).alias("community"),
            "__deg",
        ).localCheckpoint(eager=True)
    return comm


def louvain(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    levels: int = 2,
) -> DataFrame:
    """FULL multi-level Louvain (Blondel et al. 2008's aggregation
    pipeline, the part :func:`louvain_moves` is one phase of): run the
    deterministic synchronous move kernel, CONTRACT each community to
    a super-node — parallel edges collapse into integer weights,
    internal edges become self mass that stays in the super-node's
    degree — and re-run the moves on the weighted community graph;
    the final assignment maps every original node through all
    ``levels``. ``levels=1`` is :func:`louvain_moves`.

    SYNCHRONOUS moves can regress Q on a level (same-bucket movers
    score against stale community masses — the classic synchronous-
    Louvain hazard the one-level kernel's docstring bounds with its
    ``iters`` cap), so the returned assignment is the BEST level by
    Newman modularity, making Q(output) ≥ Q(one level) by
    construction. The comparison is EXACT: Q·4m² = 4m·W_in − Σ_c d_c²
    is integer arithmetic (decimal(38,0) here, HUGEINT in the SQL
    mirror) — no float summation order to diverge between engines;
    ties keep the earlier (finer) level. Returns ``(node,
    community)``.

    Scale: level 1 dominates — the contracted graph has one node per
    community, so later levels run the same three-equi-join rounds on
    frames orders of magnitude smaller. Contraction is two node-keyed
    equi-joins + one canonical-pair groupBy on the (already weighted)
    edge set. 2m is level-invariant: collected once (one row) and
    planned as a literal. Each level's Q score is computed at
    CONTRACTED scale (community-scale aggregates reduced to a 1-row
    frame), and the best-level selection is an in-plan broadcast CASE.
    No cartesian.

    Runs Spark jobs when the DataFrame is built, not when the caller's
    action runs: the 2m collect and the eager per-level and per-round
    checkpoints all fire during the call.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if levels < 1:
        raise ValueError("levels must be >= 1")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    # canonical weighted state: cw = (a < b, w) undirected edges once;
    # sl = (node, s) self mass in edge units (deg contribution = 2s)
    cw = e.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct().withColumn("w", F.lit(1).cast("long")).localCheckpoint(
        eager=False)
    sl = None
    DEC = "decimal(38,0)"
    # 2m = 2·Σw is level-invariant and a single exact integer: collect
    # it ONCE (1 row, parameter-bounded — the kmeans-centroid shape)
    # and plan it as a literal. The former in-plan form cost a cw-scan
    # aggregate + broadcast-exchange job pair per move round per level
    # (~16 driver-bound sub-jobs at iters=4, levels=2) in a query whose
    # wall is driver orchestration, not compute. The collect doubles as
    # the cw checkpoint materialization.
    two_m = int(cw.agg(
        (F.lit(2).cast("long")
         * F.coalesce(F.sum("w"), F.lit(0).cast("long"))).alias("__2m")
    ).first()[0])
    four_m = F.lit(two_m).cast("long").cast(DEC) * F.lit(2).cast(DEC)
    lit0 = F.lit(0).cast("long")

    mapping = None
    best_map = None
    best_q = None
    for lvl in range(int(levels)):
        # repartition("b") before the checkpoint: the checkpoint
        # preserves the physical partitioning, so once the comm side
        # outgrows the broadcast bound the per-round move join streams
        # this frame exchange-free (the session-7 sf1 lesson — removing
        # the sibling exchanges regressed betweenness/dbscan at sf1)
        sym = cw.unionByName(
            cw.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
        ).repartition("b").localCheckpoint(eager=False)
        wdeg = sym.groupBy(F.col("a").alias("node")).agg(
            F.sum("w").alias("__wd"))
        if sl is None:
            nodes_deg = wdeg.select("node", F.col("__wd").alias("__deg"))
            pre_ckpt = False
        else:
            # 3 consumers at lvl >= 1 (move-kernel init, the Σd²
            # aggregates below) — checkpoint here and tell the kernel
            # its init assignment needs no checkpoint of its own, so
            # the sequential-checkpoint count is unchanged but the
            # sl⋈wdeg plan (a pass over the contracted sym) runs once.
            # EAGER: round 1's materialization references the init
            # assignment 4× concurrently (tot + the three cand/scored
            # legs) and racing AQE futures on an unmaterialized lazy
            # checkpoint deadlock (the r11 textrank lesson); the frame
            # is community-scale, so the blocking materialization is
            # cheap at any SF
            nodes_deg = (
                sl.join(wdeg, "node", "left")
                .select("node",
                        (F.coalesce(F.col("__wd"), lit0)
                         + F.lit(2).cast("long") * F.col("s")
                         ).alias("__deg"))
            ).localCheckpoint(eager=True)
            pre_ckpt = True
        cm = _louvain_weighted_moves(
            sym, nodes_deg, two_m, iters,
            pre_checkpointed=pre_ckpt).select("node", "community")
        if mapping is None:
            # cm is already a checkpoint (+projection) from the move
            # kernel — re-checkpointing it bought one extra AQE cycle.
            # best_q (= Q of this mapping) is NOT computed here: Q of
            # the level-k mapping equals Q of the IDENTITY labeling on
            # the level-(k+1) contracted graph, whose ingredients (sl
            # self mass, contracted node degrees) are community-scale
            # frames the next iteration builds anyway — the original-
            # edge-scale 3-join _q_exact pass is gone (guide §2.3:
            # decide on lightweight proxies, not the full edge set).
            mapping = cm
            best_map = mapping
        else:
            mapping = mapping.join(
                cm.select(F.col("node").alias("community"),
                          F.col("community").alias("__nc")), "community"
            ).select("node", F.col("__nc").alias("community"))
            # 2 consumers (best_map select + the next level's compose)
            # only when another level follows; at the last level the
            # single consumer plans it inline in the caller's action
            if lvl < int(levels) - 1:
                mapping = mapping.localCheckpoint(eager=False)
            # Q·4m² = 4m·W_in − Σ_c d_c², all exact integers, both
            # sides computed at CONTRACTED scale:
            #   Q(incoming mapping) = 4m·Σs(sl) − Σ nodes_deg²  (the
            #     identity labeling on this level's graph), and
            #   Q(new mapping)      = 4m·(Σs(sl) + W_same(cw, cm))
            #                         − Σ_C (Σ_{members} nodes_deg)²
            # — the same integer sums the old original-scale joins
            # produced, regrouped (long Σ over the same multisets).
            win_carry = sl.agg(
                F.coalesce(F.sum("s"), lit0).alias("__wc"))
            if best_q is None:
                best_q = (
                    nodes_deg.agg(
                        F.sum(F.col("__deg").cast(DEC)
                              * F.col("__deg").cast(DEC)).alias("__sd2"))
                    .crossJoin(F.broadcast(win_carry))
                    .select((four_m * F.col("__wc").cast(DEC)
                             - F.col("__sd2")).alias("__bq"))
                )
            win_edges = (
                cw.join(cm.select(F.col("node").alias("a"),
                                  F.col("community").alias("__ca")), "a")
                .join(cm.select(F.col("node").alias("b"),
                                F.col("community").alias("__cb")), "b")
                .filter(F.col("__ca") == F.col("__cb"))
                .agg(F.coalesce(F.sum("w"), lit0).alias("__we"))
            )
            sd2_new = (
                cm.join(nodes_deg, "node")
                .groupBy("community").agg(F.sum("__deg").alias("__dc"))
                .agg(F.sum(F.col("__dc").cast(DEC)
                           * F.col("__dc").cast(DEC)).alias("__sd2"))
            )
            q_new = (
                sd2_new.crossJoin(F.broadcast(win_edges))
                .crossJoin(F.broadcast(win_carry))
                .select((four_m
                         * (F.col("__we") + F.col("__wc")).cast(DEC)
                         - F.col("__sd2")).alias("__q"))
            )
            flag = q_new.crossJoin(F.broadcast(best_q)).select(
                (F.col("__q") > F.col("__bq")).alias("__better"),
                F.greatest("__q", "__bq").alias("__bq"),
            )
            best_map = (
                mapping.select("node", F.col("community").alias("__c2"))
                .join(best_map.select(
                    "node", F.col("community").alias("__c1")), "node")
                .crossJoin(F.broadcast(flag.select("__better")))
                .select("node",
                        F.when(F.col("__better"), F.col("__c2"))
                        .otherwise(F.col("__c1")).alias("community"))
            )
            # at the last level best_map has ONE consumer (the return):
            # let the caller's action plan it inline instead of paying
            # a full materialization of the output frame here
            if lvl < int(levels) - 1:
                best_map = best_map.localCheckpoint(eager=False)
            best_q = flag.select("__bq")
        if lvl == int(levels) - 1:
            break
        # contract: map canonical edges (and self mass) through cm.
        # ONE canonical-pair groupBy + checkpoint replaces the former
        # separate external/internal groupBys — both filters, the
        # carried self mass and the node universe read the community-
        # pair-scale checkpoint, so the edge-scale ce join runs once
        # instead of once per downstream materialization
        ce = (
            cw.join(cm.select(F.col("node").alias("a"),
                              F.col("community").alias("__ca")), "a")
            .join(cm.select(F.col("node").alias("b"),
                            F.col("community").alias("__cb")), "b")
        )
        # EAGER for the same race reason: the next level's sym
        # materialization references g twice (both union legs); the
        # frame is community-pair scale
        g = (
            ce.groupBy(F.least("__ca", "__cb").alias("a"),
                       F.greatest("__ca", "__cb").alias("b"))
            .agg(F.sum("w").alias("w"))
            .localCheckpoint(eager=True)
        )
        new_cw = g.filter(F.col("a") != F.col("b"))
        internal = g.filter(F.col("a") == F.col("b")).select(
            F.col("a").alias("node"), F.col("w").alias("s"))
        carried = internal if sl is None else internal.unionByName(
            sl.join(cm, "node").groupBy(
                F.col("community").alias("node")
            ).agg(F.sum("s").alias("s"))
        ).groupBy("node").agg(F.sum("s").alias("s"))
        # node universe for the next level = every community: g's keys
        # hold each community with an edge at this level, and carried
        # holds the rest — those with self mass only (e.g. a component
        # that collapsed to one node a level earlier), which have no
        # ce row. Both are community-scale, unlike cm.
        sl = (
            g.select("a").unionByName(g.select(F.col("b").alias("a")))
            .unionByName(carried.select(F.col("node").alias("a")))
            .distinct().select(F.col("a").alias("node"))
            .join(carried, "node", "left")
            .select("node",
                    F.coalesce(F.col("s"), lit0).alias("s"))
        )
        # sl built here is read by level lvl+1's nodes_deg (a
        # checkpoint), its win_carry, and — only when another
        # contraction follows — its carried union; all community-scale
        # reads of the g checkpoint: checkpoint only with 3+ levels
        if lvl < int(levels) - 2:
            sl = sl.localCheckpoint(eager=False)
        cw = new_cw
    return best_map.select("node", "community")


def louvain_sql(
    edges_sql: str,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    levels: int = 2,
) -> str:
    """DuckDB mirror of :func:`louvain` — every level's weighted move
    rounds unrolled as MATERIALIZED CTEs (the :func:`louvain_moves_sql`
    chain generalized to ``sum(w)`` degrees + self mass), with the
    contraction and mapping-composition steps between levels."""
    from .pipeline import unit_hash_sql

    if iters < 1 or levels < 1:
        raise ValueError("iters and levels must be >= 1")
    parts = [
        f"""__cw1 AS MATERIALIZED (
  SELECT a, b, 1::BIGINT AS w FROM (
    SELECT DISTINCT least({src}, {dst}) AS a, greatest({src}, {dst}) AS b
    FROM {edges_sql} WHERE {src} <> {dst})
)""",
        "__2m AS MATERIALIZED"
        " (SELECT (2 * sum(w))::BIGINT AS __2m FROM __cw1)",
    ]
    for lv in range(1, int(levels) + 1):
        parts.append(f"""__sym{lv} AS MATERIALIZED (
  SELECT a, b, w FROM __cw{lv}
  UNION ALL SELECT b AS a, a AS b, w FROM __cw{lv}
)""")
        if lv == 1:
            parts.append(f"""__nd{lv} AS MATERIALIZED (
  SELECT a AS node, sum(w)::BIGINT AS __deg FROM __sym{lv} GROUP BY 1
)""")
        else:
            parts.append(f"""__nd{lv} AS MATERIALIZED (
  SELECT s.node,
         (COALESCE(w.__wd, 0) + 2 * s.s)::BIGINT AS __deg
  FROM __sl{lv} s LEFT JOIN (
    SELECT a AS node, sum(w)::BIGINT AS __wd FROM __sym{lv} GROUP BY 1
  ) w USING (node)
)""")
        parts.append(
            f"__L{lv}c0 AS MATERIALIZED"
            f" (SELECT node, node AS community FROM __nd{lv})"
        )
        for t in range(1, int(iters) + 1):
            p = t - 1
            parts.append(f"""__L{lv}tot{t} AS MATERIALIZED (
  SELECT c.community, sum(d.__deg)::BIGINT AS __tot
  FROM __L{lv}c{p} c JOIN __nd{lv} d USING (node) GROUP BY 1
)""")
            parts.append(f"""__L{lv}cand{t} AS MATERIALIZED (
  SELECT node, __c, max(__k)::BIGINT AS __k FROM (
    SELECT e.a AS node, c.community AS __c, sum(e.w)::BIGINT AS __k
    FROM __sym{lv} e JOIN __L{lv}c{p} c ON e.b = c.node GROUP BY 1, 2
    UNION ALL
    SELECT node, community AS __c, 0::BIGINT AS __k FROM __L{lv}c{p}
  ) GROUP BY 1, 2
)""")
            bucket = (f"(({unit_hash_sql('node', 7)}) < 0.5) = "
                      f"{'TRUE' if (t - 1) % 2 == 0 else 'FALSE'}")
            score = (
                "(CAST(k.__k AS DOUBLE)"
                " - CAST(d.__deg AS DOUBLE)"
                " * CAST(tt.__tot - CASE WHEN k.__c = cur.community"
                "                        THEN d.__deg ELSE 0 END AS DOUBLE)"
                " / CAST(m.__2m AS DOUBLE))"
            )
            parts.append(f"""__L{lv}s{t} AS MATERIALIZED (
  SELECT k.node, cur.community, k.__c, {score} AS __s
  FROM __L{lv}cand{t} k
  JOIN __L{lv}c{p} cur USING (node)
  JOIN __nd{lv} d USING (node)
  JOIN __L{lv}tot{t} tt ON tt.community = k.__c
  CROSS JOIN __2m m
)""")
            parts.append(f"""__L{lv}b{t} AS MATERIALIZED (
  SELECT node, __c AS __best FROM (
    SELECT node, __c, row_number() OVER (
      PARTITION BY node ORDER BY __s DESC, __c ASC) AS __rn
    FROM __L{lv}s{t}
  ) WHERE __rn = 1
)""")
            parts.append(f"""__L{lv}c{t} AS MATERIALIZED (
  SELECT a.node,
         CASE WHEN ({bucket})
                   AND a.__sbest IS NOT NULL AND a.__sbest > a.__scur
              THEN b.__best ELSE a.community END AS community
  FROM (
    SELECT node, any_value(community) AS community,
           max(CASE WHEN __c <> community THEN __s END) AS __sbest,
           max(CASE WHEN __c = community THEN __s END) AS __scur
    FROM __L{lv}s{t} GROUP BY node
  ) a JOIN __L{lv}b{t} b USING (node)
)""")
        if lv == 1:
            parts.append(
                f"__m{lv} AS MATERIALIZED"
                f" (SELECT node, community FROM __L{lv}c{int(iters)})"
            )
        else:
            parts.append(f"""__m{lv} AS MATERIALIZED (
  SELECT m.node, c.community
  FROM __m{lv - 1} m JOIN __L{lv}c{int(iters)} c
    ON m.community = c.node
)""")
        if int(levels) > 1:
            # exact integer Q score of this level's composed assignment
            # on the ORIGINAL graph: Q·4m² = 4m·W_in − Σ_c d_c²
            # (HUGEINT — no float summation order to diverge)
            parts.append(f"""__qi{lv} AS MATERIALIZED (
  SELECT (4::HUGEINT * me.__m * wi.__win - sd.__sd2)::HUGEINT AS __q
  FROM (SELECT sum(w)::HUGEINT AS __m FROM __cw1) me
  CROSS JOIN (
    SELECT COALESCE(sum(e.w), 0)::HUGEINT AS __win
    FROM __cw1 e
    JOIN __m{lv} ma ON e.a = ma.node
    JOIN __m{lv} mb ON e.b = mb.node
    WHERE ma.community = mb.community) wi
  CROSS JOIN (
    SELECT sum(__dc::HUGEINT * __dc::HUGEINT)::HUGEINT AS __sd2 FROM (
      SELECT sum(d.__deg)::BIGINT AS __dc
      FROM __m{lv} mm JOIN __nd1 d USING (node)
      GROUP BY mm.community)) sd
)""")
            if lv == 1:
                parts.append(
                    "__bst1 AS MATERIALIZED"
                    " (SELECT 1 AS __bi, __q AS __bq FROM __qi1)"
                )
            else:
                parts.append(f"""__bst{lv} AS MATERIALIZED (
  SELECT CASE WHEN q.__q > p.__bq THEN {lv} ELSE p.__bi END AS __bi,
         CASE WHEN q.__q > p.__bq THEN q.__q ELSE p.__bq END AS __bq
  FROM __bst{lv - 1} p CROSS JOIN __qi{lv} q
)""")
        if lv == int(levels):
            break
        parts.append(f"""__ce{lv} AS MATERIALIZED (
  SELECT ma.community AS __ca, mb.community AS __cb, e.w
  FROM __cw{lv} e
  JOIN __L{lv}c{int(iters)} ma ON e.a = ma.node
  JOIN __L{lv}c{int(iters)} mb ON e.b = mb.node
)""")
        parts.append(f"""__cw{lv + 1} AS MATERIALIZED (
  SELECT least(__ca, __cb) AS a, greatest(__ca, __cb) AS b,
         sum(w)::BIGINT AS w
  FROM __ce{lv} WHERE __ca <> __cb GROUP BY 1, 2
)""")
        if lv == 1:
            carried = f"""    SELECT __ca AS node, sum(w)::BIGINT AS s
    FROM __ce{lv} WHERE __ca = __cb GROUP BY 1"""
        else:
            carried = f"""    SELECT node, sum(s)::BIGINT AS s FROM (
      SELECT __ca AS node, sum(w)::BIGINT AS s
      FROM __ce{lv} WHERE __ca = __cb GROUP BY 1
      UNION ALL
      SELECT c.community AS node, sum(p.s)::BIGINT AS s
      FROM __sl{lv} p JOIN __L{lv}c{int(iters)} c USING (node) GROUP BY 1
    ) GROUP BY 1"""
        parts.append(f"""__sl{lv + 1} AS MATERIALIZED (
  SELECT u.node, COALESCE(i.s, 0)::BIGINT AS s
  FROM (SELECT DISTINCT community AS node FROM __L{lv}c{int(iters)}) u
  LEFT JOIN (
{carried}
  ) i USING (node)
)""")
    if int(levels) == 1:
        return ("WITH " + ",\n".join(parts)
                + "\nSELECT node, community FROM __m1")
    cases = " ".join(
        f"WHEN {lv} THEN m{lv}.community" for lv in range(1, int(levels) + 1)
    )
    joins = " ".join(
        f"JOIN __m{lv} m{lv} USING (node)" for lv in range(2, int(levels) + 1)
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT m1.node, CASE b.__bi {cases} END AS community"
          f" FROM __m1 m1 {joins} CROSS JOIN __bst{int(levels)} b"
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    label: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Per-community modularity terms of a node labeling over the
    undirected graph: for each community c,
    ``q_c = m_c / m - (d_c / 2m)^2`` (internal-edge share minus the
    degree-share null model); the graph's Newman modularity Q is the
    sum of ``q_c``. The quality score for :func:`label_propagation`
    output (or any clustering of the nodes).

    Returns ``(label, n_nodes, m_in, d_c, q_c)`` — one row per
    community (communities with zero internal edges included).
    Self-loops are dropped and parallel/bidirectional duplicates
    collapse, matching :func:`label_propagation`'s graph view. Nodes
    missing a label are excluded from degree mass (inner joins —
    label completely or filter first).

    Determinism: m, m_c, d_c are exact integer counts; q_c is a
    fixed arithmetic expression over them — bit-identical anywhere.

    Scale: the undirected edge set reduces once (distinct on the
    (min, max) pair), then two label equi-joins on the node id, one
    skinny per-label count, and one degree aggregate — all
    combine-friendly, no driver state beyond the single m scalar
    (computed IN-PLAN via a 1-row broadcast cross join, no collect).
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    # EAGER: `once` feeds the main plan (within, deg) AND the m_tot
    # broadcast future; a lazy checkpoint would let the concurrent
    # future materialize the distinct a second time (the blocking_eval
    # lesson)
    once = e.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct().localCheckpoint(eager=True)
    lab = labels.select(F.col(node).alias("__n"),
                        F.col(label).alias("__l"))
    la = lab.select(F.col("__n").alias("a"), F.col("__l").alias("__la"))
    lb = lab.select(F.col("__n").alias("b"), F.col("__l").alias("__lb"))
    within = (
        once.join(la, "a").join(lb, "b")
        .filter(F.col("__la") == F.col("__lb"))
        .groupBy(F.col("__la").alias("__l"))
        .agg(F.count(F.lit(1)).alias("m_in"))
    )
    sym = once.unionByName(
        once.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("__n")).agg(
        F.count(F.lit(1)).alias("__d")
    )
    comm = (
        lab.join(deg, "__n", "left")
        .groupBy("__l")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.coalesce(F.sum("__d"), F.lit(0)).alias("d_c"),
        )
    )
    m_tot = once.agg(F.count(F.lit(1)).alias("__m"))
    j = (
        comm.join(within, "__l", "left")
        .crossJoin(F.broadcast(m_tot))
        .withColumn("m_in", F.coalesce(F.col("m_in"), F.lit(0)))
    )
    mm = F.col("__m").cast("double")
    q = (
        F.col("m_in") / mm
        - (F.col("d_c") / (F.lit(2.0) * mm))
        * (F.col("d_c") / (F.lit(2.0) * mm))
    )
    return j.select(
        F.col("__l").alias(label),
        "n_nodes",
        "m_in",
        "d_c",
        F.round(F.when(F.col("__m") > 0, q), int(round_to))
        .alias("q_c"),
    )


def modularity_sql(
    edges_sql: str,
    labels_sql: str,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    label: str = "label",
    round_to: int = 6,
) -> str:
    """DuckDB mirror of :func:`modularity`. ``labels_sql`` is a
    relation with (node, label) — e.g. a
    :func:`label_propagation_sql` body wrapped in parentheses."""
    r = int(round_to)
    return f"""
WITH __e AS (
  SELECT {src} AS a, {dst} AS b FROM {edges_sql} WHERE {src} <> {dst}
), __o AS MATERIALIZED (
  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM __e
), __lab AS MATERIALIZED (
  SELECT {node} AS n, {label} AS l FROM {labels_sql}
), __w AS (
  SELECT la.l, count(*)::BIGINT AS m_in
  FROM __o o
  JOIN __lab la ON o.a = la.n
  JOIN __lab lb ON o.b = lb.n
  WHERE la.l = lb.l
  GROUP BY la.l
), __deg AS (
  SELECT a AS n, count(*)::BIGINT AS d FROM (
    SELECT a, b FROM __o UNION ALL SELECT b, a FROM __o
  ) GROUP BY a
), __c AS (
  SELECT lab.l, count(*)::BIGINT AS n_nodes,
         coalesce(sum(deg.d), 0)::BIGINT AS d_c
  FROM __lab lab LEFT JOIN __deg deg ON lab.n = deg.n
  GROUP BY lab.l
), __m AS (
  SELECT count(*)::BIGINT AS m FROM __o
)
SELECT c.l AS {label}, c.n_nodes,
       coalesce(w.m_in, 0)::BIGINT AS m_in, c.d_c,
       round(CASE WHEN m.m > 0
                  THEN coalesce(w.m_in, 0) / CAST(m.m AS DOUBLE)
                       - (c.d_c / (2.0 * m.m)) * (c.d_c / (2.0 * m.m))
             END, {r}) AS q_c
FROM __c c LEFT JOIN __w w ON c.l = w.l CROSS JOIN __m m
"""


def hyperanf(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    p: int = 6,
    seed: int = 42,
    round_to: int = 4,
    layout: str = "auto",
) -> DataFrame:
    """HyperANF (Boldi–Rosa–Vigna, WWW'11): the approximate
    neighborhood function N(t) = Σ_v |{w : dist(v → w) <= t}| for
    t = 0..``iters``, via one HyperLogLog ball sketch per node —
    THE graph-connectivity profile (effective diameter, reachability
    mass, spid) at sizes where exact per-node BFS is quadratic.
    Directed semantics: balls grow along out-edges.

    Per round each node's sketch absorbs its out-neighbors' sketches —
    a register-max merge, the graph-wide :func:`.sketches.hll_merge`.
    The engine's md5-register HLL (engine-portable, bit-reproducible)
    makes the whole trajectory a pure function of (graph, p, seed), so
    the SQL oracle replays it register-for-register.

    Returns ``(t, nf)`` with nf rounded to ``round_to`` (the one
    reassociating step is the final sum of per-node estimates;
    everything upstream is dyadic-exact register arithmetic).

    Scale — TWO physical layouts, one logical program (estimates are
    bit-identical; register values are exact powers of two in double,
    oracle re-verified either way):

    - ``layout='wide'`` (round-7 rewrite, the 100-TB form): per-node
      state is ONE row of 2^p register COLUMNS; each round joins |E|
      rows flat and merges with 2^p combine-friendly ``max``
      aggregates (map-side partials, so the second shuffle carries
      ~|V| wide rows, not 64·|E|). 60.8 s → 31.0 s at sf1 vs rows.
      Capped at p <= 8 (256 columns): beyond that the 2·2^p-term
      estimate expression is exactly the janino 64 KB codegen
      failure mode.
    - ``layout='rows'`` (round-6 form, the small-graph form): state
      is ≤ 2^p skinny (node, bucket, max) rows; cheaper per round
      while balls are sparse and immune to the wide form's
      per-round fixed codegen cost — ~2.3 s faster at sf0.1 on the
      trade graph, and the only layout available for p > 8.
    - ``layout='auto'`` (default): rows when p > 8; else wide whenever
      the register table fits the broadcast guard (below); past the
      guard, rows below 2,000,000 distinct edges and wide from there
      (one count of the edge frame that the loop re-reads ``iters``
      times anyway — the checkpoint materializes either way).

    The wide layout additionally has a BROADCAST form, taken whenever
    |V| rows of 8 + 4·2^p bytes fit the shared loop-operator guard
    (``_bcast.bcast_fits``, 128 MB by default): self-loop edges fold
    the self-merge union into the join and the edge frame is
    hash-partitioned by source once, so each round is ONE
    BroadcastHashJoin + ONE exchange-free max-aggregate — zero
    shuffles in the loop (the shuffle forms moved 75-92 MB per round
    at sf0.1). Register trajectories are bit-identical across all
    three physical forms.

    Per round, any form: ONE edges⋈state equi-join + ONE
    max-aggregate on the same node key, localCheckpoint'd; no driver
    action in the loop.
    """
    sketches = hyperball_sketches(
        edges, src=src, dst=dst, iters=iters, p=p, seed=seed,
        layout=layout)
    return hyperball_nf(sketches, p=p, round_to=round_to)


def hyperball_sketches(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    p: int = 6,
    seed: int = 42,
    layout: str = "auto",
    assume_distinct: bool = False,
):
    """The shared HyperBall register trajectory — the ONE expensive
    pass that :func:`hyperanf`, :func:`harmonic_centrality`, and (via
    the neighborhood function) :func:`effective_diameter` all consume:
    per-node HLL ball sketches after 0..``iters`` merge rounds along
    out-edges. Returns ``(layout, [sk_0, ..., sk_iters])`` where each
    frame is localCheckpoint'd (lazy), so several consumers in one
    session pay the round computation ONCE — compute the trajectory,
    then derive the neighborhood function, per-node centralities, and
    the effective diameter from the same materialized frames, exactly
    like persisting the engine's HLL register rows.

    Frame schema by layout (see :func:`hyperanf` for the trade-off):
    ``wide`` — ``(node, __m0..__m{2^p-1})`` int register columns;
    ``rows`` — ``(node, __hll_b, __hll_m)`` skinny register rows.
    Estimates derived from either layout are bit-identical.
    """
    from .sketches import hll_register_cols

    if iters < 0:
        raise ValueError("iters must be >= 0")
    if layout not in ("auto", "wide", "rows"):
        raise ValueError(f"unknown hyperanf layout: {layout}")
    if layout == "wide" and int(p) > 8:
        raise ValueError(
            "hyperanf layout='wide' caps at p=8 (2^p register columns; "
            "larger p blows the janino 64 KB codegen limit) — use "
            "layout='rows' for finer sketches")
    m = 1 << int(p)
    # assume_distinct: the caller guarantees (src, dst) pairs are
    # already distinct, so the dedup exchange is skipped. This is a
    # COST-only seam: every downstream consumer is a max-merge +
    # groupBy (idempotent), so duplicate edges could never change a
    # register trajectory anyway — the distinct only bounds the join
    # fanout when the input may carry heavy duplication.
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")) \
        .filter(F.col("s") != F.col("d"))
    if not assume_distinct:
        e = e.distinct()
    # EAGER: the first consumer (nodes) references e in BOTH union
    # legs, and concurrent first-materialization of a lazy checkpoint
    # recomputes its final stage per leg (the r12 louvain lesson) —
    # here that final stage contains the caller's whole edge-build
    # subtree when assume_distinct skips the dedup exchange
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_nodes = None
    if layout == "auto":
        if int(p) > 8:
            layout = "rows"
        else:
            # count nodes first (it materializes the edge checkpoint
            # on the way); when the broadcast guard already decides,
            # the edge count — a second blocking driver job in a
            # sequential-latency-bound build — is never needed
            n_nodes = nodes.count()
            if bcast_fits(n_nodes, 8 + 4 * m):
                layout = "wide"
            else:
                layout = "rows" if e.count() < _HB_WIDE_MIN_EDGES \
                    else "wide"
    bucket, rho = hll_register_cols("node", seed, p)
    frames = []
    if layout == "rows":
        sk = nodes.select(
            "node", bucket.alias("__hll_b"), rho.alias("__hll_m"))
        frames.append(sk)
        for _t in range(1, int(iters) + 1):
            nb = e.join(sk, e["d"] == sk["node"]).select(
                F.col("s").alias("node"), "__hll_b", "__hll_m")
            sk = (
                sk.unionByName(nb)
                .groupBy("node", "__hll_b")
                .agg(F.max("__hll_m").alias("__hll_m"))
                .localCheckpoint(eager=False)
            )
            frames.append(sk)
        return layout, frames
    mcols = [f"__m{i}" for i in range(m)]
    # rho >= 1 always, so 0 is the safe empty-register sentinel
    sk = nodes.select(
        "node",
        *[F.when(bucket == i, rho).otherwise(F.lit(0)).cast("int")
          .alias(c) for i, c in enumerate(mcols)],
    )
    if n_nodes is None:
        n_nodes = nodes.count()
    if bcast_fits(n_nodes, 8 + 4 * m):
        # BROADCAST form of the wide layout: the whole per-node
        # register table fits executor memory, so each round becomes
        # one BroadcastHashJoin + one exchange-free max-aggregate.
        # Two structural moves make the round shuffle-FREE:
        #   - self-loops fold the "merge my own sketch" union into the
        #     join (max-merge is idempotent, so (v,v) edges change no
        #     register) — no unionByName, and every node, dangling
        #     ones included, still emits a row per round;
        #   - the edge frame is hash-partitioned by s ONCE before the
        #     loop, so the groupBy(node) that follows the broadcast
        #     join satisfies its distribution from the join's
        #     preserved child partitioning — no per-round Exchange
        #     (the classic form shuffles ~64·|E| skinny rows per
        #     round; at sf0.1 that was 75-92 MB per round).
        # Register trajectories are bit-identical to the other forms.
        # EAGER checkpoints here, unlike every other loop in this
        # module: each round's frame is 2^p register COLUMNS wide, and
        # with lazy checkpoints round t's logical plan nests rounds
        # 1..t-1 — the analyzer re-resolves the whole 64-column
        # join/agg history every round and again for every estimate
        # consumer (measured: 10-20 s of pure driver plan time per
        # call at sf0.1, dwarfing the ~1 s of execution). Eager
        # materialization turns each round into a flat LogicalRDD
        # leaf, so analysis stays O(one round); the materialization
        # jobs are the same distributed work the first consumer would
        # have triggered anyway.
        # width note (r12, measured): pinning this repartition to the
        # session shuffle width (32) made every round 3x SLOWER (44-task
        # 2.0 s jobs vs 12-task 0.7 s) — per-task fixed cost dominates
        # the 2^p-column agg, and AQE's byte-based coalescing picks the
        # right width at every scale. Leave it keyless-width.
        e2 = (
            e.unionByName(nodes.select(
                F.col("node").alias("s"), F.col("node").alias("d")))
            .repartition("s")
            .localCheckpoint(eager=False)
        )
        sk = sk.localCheckpoint()
        frames.append(sk)
        for _t in range(1, int(iters) + 1):
            bsk = F.broadcast(sk)
            sk = (
                e2.join(bsk, e2["d"] == bsk["node"])
                .select(F.col("s").alias("node"), *mcols)
                .groupBy("node")
                .agg(*[F.max(c).alias(c) for c in mcols])
                .localCheckpoint()
            )
            frames.append(sk)
        return layout, frames
    frames.append(sk)
    for _t in range(1, int(iters) + 1):
        nb = e.join(sk, e["d"] == sk["node"]).select(
            F.col("s").alias("node"), *mcols)
        sk = (
            sk.unionByName(nb)
            .groupBy("node")
            .agg(*[F.max(c).alias(c) for c in mcols])
            .localCheckpoint(eager=False)
        )
        frames.append(sk)
    return layout, frames


def _wide_est_col(p: int):
    """The per-node HLL estimate as ONE Column over 2^p wide register
    columns — 2^-reg terms are exact powers of two in double, so the
    value is bit-identical to the row form's
    :func:`.sketches.hll_estimate` (an empty register (0) contributes
    2^0 = 1, exactly the v_zero term)."""
    from .sketches import _hll_alpha

    m = 1 << int(p)
    mcols = [f"__m{i}" for i in range(m)]
    alpha = _hll_alpha(m)
    # ONE array + two sequential higher-order folds instead of two
    # 2^p-term chained-Add trees: the fold accumulates left-to-right
    # in register order, exactly the evaluation order of the old
    # left-deep Add chain, so every partial sum — and the estimate —
    # is bit-identical; the analysis/optimizer tree is ~2x smaller
    # (driver plan time dominates these consumers at bench scale).
    regs = F.array(*[F.col(c) for c in mcols])
    s_all = F.aggregate(
        regs, F.lit(0.0),
        lambda acc, r: acc + F.pow(F.lit(2.0), -r))
    n_zero = F.aggregate(
        regs, F.lit(0),
        lambda acc, r: acc + (r == 0).cast("int")).cast("double")
    e_raw = F.lit(alpha * m * m) / s_all
    return F.when(
        (e_raw <= F.lit(2.5 * m)) & (n_zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / n_zero),
    ).otherwise(e_raw)


def _hyperball_node_est(sketches, p: int):
    """Per-round per-node estimate frames ``[(node, __est), ...]``
    from a :func:`hyperball_sketches` trajectory, either layout."""
    layout, frames = sketches
    if layout == "wide":
        est = _wide_est_col(p)
        return [f.select("node", est.alias("__est")) for f in frames]
    from .sketches import hll_estimate

    return [
        hll_estimate(f, group_by=["node"], p=p)
        .select("node", F.col("approx_distinct").alias("__est"))
        for f in frames
    ]


def hyperball_nf(sketches, p: int = 6, round_to: int = 4) -> DataFrame:
    """Neighborhood function ``(t, nf)`` from a
    :func:`hyperball_sketches` trajectory — one combine-friendly sum
    of per-node estimates per round (what :func:`hyperanf` returns).

    The sum runs in DECIMAL(38,15): per-node estimates are doubles, so
    a double sum is reassociation-sensitive — switching the trajectory
    layout (and with it the partial-sum tree) flipped the t=4 nf at
    sf0.1 across its 4-decimal rounding boundary (…38995). The decimal
    sum is order-independent (exact given per-term half-up rounding at
    1e-15, total error ~|V|·5e-16), so ``nf`` is the correctly-rounded
    true sum under EVERY layout/partitioning — the value the rows
    layout and the DuckDB oracle already agreed on."""
    out = None
    for t, est in enumerate(_hyperball_node_est(sketches, p)):
        part = est.agg(
            F.round(F.sum(F.col("__est").cast("decimal(38,15)")),
                    int(round_to)).cast("double").alias("nf")
        ).select(F.lit(int(t)).alias("t"), "nf")
        out = part if out is None else out.unionByName(part)
    return out


def hyperball_harmonic(
    sketches, p: int = 6, iters: int = None, round_to: int = 6,
) -> DataFrame:
    """Per-node harmonic centrality from a :func:`hyperball_sketches`
    trajectory: H(v) = Σ_t (|B(v,t)| − |B(v,t−1)|) / t left-folded in
    fixed order from 0.0 (the exact arithmetic
    :func:`harmonic_centrality_sql` replays). ``iters`` truncates to a
    prefix of the trajectory (``None`` = all rounds); per-node round
    estimates join on the node key — every node appears in every
    round frame (balls only grow), so the joins are 1:1."""
    ests = _hyperball_node_est(sketches, p)
    if iters is not None:
        if not 1 <= int(iters) < len(ests):
            raise ValueError(
                f"iters must be in [1, {len(ests) - 1}]: {iters}")
        ests = ests[: int(iters) + 1]
    joined = ests[0].select("node", F.col("__est").alias("__e0"))
    for t in range(1, len(ests)):
        joined = joined.join(
            ests[t].select("node", F.col("__est").alias(f"__e{t}")),
            "node")
    acc = F.lit(0.0)
    for t in range(1, len(ests)):
        acc = acc + (
            F.col(f"__e{t}") - F.col(f"__e{t - 1}")
        ) / F.lit(float(t))
    return joined.select(
        "node", F.round(acc, int(round_to)).alias("harmonic"))


def hyperanf_sql(
    edges_sql: str,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    p: int = 6,
    seed: int = 42,
    round_to: int = 4,
) -> str:
    """DuckDB mirror of :func:`hyperanf` — the same md5 registers,
    merge rounds unrolled as MATERIALIZED CTEs (each level feeds both
    the next round and its own estimate), identical estimator
    arithmetic via the shared hll SQL builders."""
    from .sketches import hll_estimate_sql, hll_sketch_sql

    parts = [
        f"""__e AS MATERIALIZED (
  SELECT DISTINCT {src} AS s, {dst} AS d FROM {edges_sql}
  WHERE {src} <> {dst}
)""",
        """__n AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT s AS node FROM __e UNION ALL SELECT d AS node FROM __e)
)""",
        "__s0 AS MATERIALIZED ("
        + hll_sketch_sql("__n", "node", ["node"], p=p, seed=seed)
        + ")",
    ]
    for t in range(1, int(iters) + 1):
        parts.append(
            f"""__s{t} AS MATERIALIZED (
  SELECT node, __hll_b, max(__hll_m) AS __hll_m FROM (
    SELECT node, __hll_b, __hll_m FROM __s{t - 1}
    UNION ALL
    SELECT e.s AS node, k.__hll_b, k.__hll_m
    FROM __e e JOIN __s{t - 1} k ON e.d = k.node
  ) GROUP BY node, __hll_b
)"""
        )
    selects = []
    for t in range(int(iters) + 1):
        est = hll_estimate_sql(f"SELECT * FROM __s{t}", ["node"], p=p)
        selects.append(
            f"SELECT {t} AS t, round(sum(approx_distinct), "
            f"{int(round_to)}) AS nf FROM ({est})"
        )
    return "WITH " + ",\n".join(parts) + "\n" + \
        "\nUNION ALL\n".join(selects)


def harmonic_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    p: int = 6,
    seed: int = 42,
    round_to: int = 6,
    mode: str = "out",
) -> DataFrame:
    """Per-node approximate harmonic centrality (Boldi–Vigna, the
    HyperBall application of :func:`hyperanf`): H(v) = Σ_t
    (|B(v,t)| − |B(v,t−1)|) / t for t = 1..``iters`` — each newly
    reached node contributes 1/distance. The centrality that stays
    meaningful on disconnected graphs (unreachable nodes contribute
    0, not a broken 1/∞ closeness), computed for EVERY node at
    sketch cost where exact all-pairs BFS is quadratic.

    ``mode='out'`` scores v by the nodes it REACHES (balls grow along
    out-edges); ``mode='in'`` is the classic centrality (nodes that
    reach v) — the same program on the transposed graph. Truncation
    at ``iters`` lower-bounds H exactly like HyperBall run to a fixed
    radius; pick iters ≥ the effective diameter for the full score.

    Returns ``(node, harmonic)`` rounded to ``round_to``.

    Determinism / oracle parity: registers are the engine's dyadic-
    exact md5 HLL; per-node estimates are the bit-reproducible
    :func:`.sketches.hll_estimate` arithmetic, and the per-round
    accumulation ((score + Δ/t) left-fold from 0.0) is a FIXED-ORDER
    expression both engines evaluate identically — no row-order float
    sum anywhere.

    Scale: rides the SHARED :func:`hyperball_sketches` trajectory
    (wide register columns at scale, p <= 8 — the estimate expression
    blows the janino 64 KB codegen limit beyond that): per round ONE
    edges⋈state equi-join + ONE combine-friendly max-aggregate,
    localCheckpoint'd, no driver action in the loop; the Δ/t fold is
    then ``iters`` 1:1 node-key joins over the checkpointed round
    frames — and a caller holding a trajectory (e.g. one also feeding
    :func:`hyperanf` / :func:`effective_diameter`) can pass it to
    :func:`hyperball_harmonic` directly and pay the rounds once.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if int(p) > 8:
        raise ValueError(
            "harmonic_centrality caps at p=8 (wide register columns; "
            "the estimate expression blows the janino 64 KB codegen "
            "limit beyond that)")
    if mode not in ("out", "in"):
        raise ValueError(f"mode must be 'out' or 'in': {mode}")
    s_col, d_col = (src, dst) if mode == "out" else (dst, src)
    sketches = hyperball_sketches(
        edges, src=s_col, dst=d_col, iters=iters, p=p, seed=seed)
    return hyperball_harmonic(sketches, p=p, round_to=round_to)


def harmonic_centrality_sql(
    edges_sql: str,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    p: int = 6,
    seed: int = 42,
    round_to: int = 6,
    mode: str = "out",
) -> str:
    """DuckDB mirror of :func:`harmonic_centrality` — the hyperanf_sql
    register rounds (row form: identical register TABLES either
    layout), per-round per-node estimates via the shared hll SQL
    builder, and the same left-folded fixed-order Δ/t accumulation as
    one expression over the joined round estimates."""
    from .sketches import hll_estimate_sql, hll_sketch_sql

    s_col, d_col = (src, dst) if mode == "out" else (dst, src)
    parts = [
        f"""__e AS MATERIALIZED (
  SELECT DISTINCT {s_col} AS s, {d_col} AS d FROM {edges_sql}
  WHERE {s_col} <> {d_col}
)""",
        """__n AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT s AS node FROM __e UNION ALL SELECT d AS node FROM __e)
)""",
        "__s0 AS MATERIALIZED ("
        + hll_sketch_sql("__n", "node", ["node"], p=p, seed=seed)
        + ")",
    ]
    for t in range(1, int(iters) + 1):
        parts.append(
            f"""__s{t} AS MATERIALIZED (
  SELECT node, __hll_b, max(__hll_m) AS __hll_m FROM (
    SELECT node, __hll_b, __hll_m FROM __s{t - 1}
    UNION ALL
    SELECT e.s AS node, k.__hll_b, k.__hll_m
    FROM __e e JOIN __s{t - 1} k ON e.d = k.node
  ) GROUP BY node, __hll_b
)"""
        )
    for t in range(int(iters) + 1):
        est = hll_estimate_sql(f"SELECT * FROM __s{t}", ["node"], p=p)
        parts.append(
            f"__est{t} AS MATERIALIZED (SELECT node, "
            f"approx_distinct AS e{t} FROM ({est}))"
        )
    # ((0.0 + d1/1) + d2/2) + ... — the exact left fold Spark runs
    acc = "0.0::DOUBLE"
    for t in range(1, int(iters) + 1):
        acc = (f"({acc} + (e{t} - e{t - 1}) / "
               f"CAST({float(t)!r} AS DOUBLE))")
    join_sql = "__est0"
    for t in range(1, int(iters) + 1):
        join_sql += f" JOIN __est{t} USING (node)"
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, round({acc}, {int(round_to)}) AS harmonic\n"
        + f"FROM {join_sql}"
    )


def effective_diameter(
    nf: DataFrame,
    q: float = 0.9,
    t_col: str = "t",
    nf_col: str = "nf",
    round_to: int = 4,
) -> DataFrame:
    """Effective diameter from a neighborhood function — the headline
    statistic :func:`hyperanf` exists to produce (Boldi–Rosa–Vigna /
    the Palmer ANF definition): the interpolated distance t at which
    a q-fraction of all reachable pairs is within t,

        eff_diam(q) = (t−1) + (q·nf_max − nf(t−1)) / (nf(t) − nf(t−1))

    at the smallest t with nf(t) >= q·nf_max (0 when t = 0 already
    qualifies). Input is the (t, nf) frame ``hyperanf`` returns —
    parameter-sized (iters+1 rows), so this is a skinny window
    program, not a data-scale job; run ``hyperanf`` with iters past
    the suspected diameter or the estimate truncates at iters.

    Returns one row ``(q, effective_diameter)``.
    """
    from pyspark.sql import Window

    qf = float(q)
    if not 0.0 < qf <= 1.0:
        raise ValueError(f"q must be in (0, 1]: {q}")
    w = Window.orderBy(F.col("__t").asc())
    tot = Window.partitionBy()
    rows = nf.select(
        F.col(t_col).cast("double").alias("__t"),
        F.col(nf_col).cast("double").alias("__nf"),
    ).withColumn("__prev", F.lag("__nf").over(w)) \
     .withColumn("__target", F.lit(qf) * F.max("__nf").over(tot))
    hit = rows.filter(F.col("__nf") >= F.col("__target"))
    interp = F.when(
        F.col("__prev").isNull(), F.lit(0.0)
    ).otherwise(
        (F.col("__t") - 1.0)
        + (F.col("__target") - F.col("__prev"))
        / (F.col("__nf") - F.col("__prev"))
    )
    return (
        hit.orderBy(F.col("__t").asc())
        .limit(1)
        .select(
            F.lit(qf).alias("q"),
            F.round(interp, int(round_to)).alias("effective_diameter"),
        )
    )


def effective_diameter_sql(
    nf_sql: str,
    q: float = 0.9,
    t_col: str = "t",
    nf_col: str = "nf",
    round_to: int = 4,
) -> str:
    """DuckDB mirror of :func:`effective_diameter` over any (t, nf)
    subquery (compose with :func:`hyperanf_sql`)."""
    qf = float(q)
    Q = f"CAST({qf!r} AS DOUBLE)"
    return f"""
WITH __r AS (
  SELECT CAST({t_col} AS DOUBLE) AS __t, CAST({nf_col} AS DOUBLE) AS __nf,
         lag(CAST({nf_col} AS DOUBLE)) OVER (ORDER BY {t_col}) AS __prev,
         {Q} * max(CAST({nf_col} AS DOUBLE)) OVER () AS __target
  FROM ({nf_sql})
)
SELECT {Q} AS q,
       round(CASE WHEN __prev IS NULL THEN 0.0::DOUBLE
                  ELSE (__t - 1.0::DOUBLE)
                       + (__target - __prev) / (__nf - __prev)
             END, {int(round_to)}) AS effective_diameter
FROM __r WHERE __nf >= __target
ORDER BY __t LIMIT 1
"""


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    round_to: int = 6,
    max_degree: Optional[int] = None,
) -> DataFrame:
    """Per-node triangle counts and LOCAL clustering coefficient over
    the undirected graph — lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), the
    community-density / spam-farm / bridge-node signal
    (:func:`triangle_count` gives only the global total). Nodes of
    degree < 2 have lcc NULL (undefined, not 0 — a leaf isn't
    "uncluttered", it has no wedge to close). Returns
    ``(node, degree, triangles, lcc)`` for every node.

    Same degree-ordered orientation as :func:`triangle_count` (wedge
    intermediate stays O(m^1.5) under hubs); each closed triangle
    then attributes to ALL THREE corners via one explode, and the
    per-node count joins back to the degree frame. lcc's division is
    a fixed expression over exact longs, rounded to ``round_to``.

    ``max_degree`` (default None = exact everywhere) bounds hub cost
    the way :func:`adamic_adar`'s cap does: the triangle pass runs on
    the subgraph INDUCED by nodes of degree <= ``max_degree``, so
    results are exact for every under-cap node whose triangles don't
    route through a hub, and over-cap hubs report their true degree
    with NULL triangles/lcc (marked truncated, never a silently-wrong
    0) — the standard hub truncation on power-law graphs, where a
    degree-10^6 hub alone costs ~10^12 wedges.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    if max_degree is not None:
        cap = int(max_degree)
        if cap < 2:
            raise ValueError(f"max_degree must be >= 2: {max_degree}")
        # induced subgraph: drop every edge touching an over-cap hub
        # BEFORE the wedge pass (the orientation input and the
        # closing-edge probe both read this filtered frame)
        und = (
            und.join(da.filter(F.col("da") <= cap), "a")
            .join(db.filter(F.col("db") <= cap), "b")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
    oriented = (
        und.join(da, "a").join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
            .alias("e")
        )
        .select("e.u", "e.w")
    )
    o1 = oriented.select(F.col("u"), F.col("w").alias("w1"))
    o2 = oriented.select(F.col("u"), F.col("w").alias("w2"))
    wedges = o1.join(o2, "u").filter(F.col("w1") < F.col("w2"))
    # the closing probe is m rows against an O(m^1.5) wedge frame:
    # broadcast the edge side when the exact count admits it, so the
    # wedge frame never shuffles (round-11 opt, guide §3.1; the count
    # materializes the checkpoint und every consumer needs anyway)
    probe = und.select(F.col("a").alias("w1"), F.col("b").alias("w2"))
    closed = wedges.join(
        F.broadcast(probe) if bcast_fits(und.count()) else probe,
        on=["w1", "w2"],
        how="inner",
    )
    per_node = (
        closed.select(
            F.explode(F.array("u", "w1", "w2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    tri = F.coalesce(F.col("triangles"), F.lit(0))
    lcc = F.when(
        F.col("d") >= 2,
        F.round(
            (F.lit(2.0) * tri.cast("double"))
            / (F.col("d").cast("double") * (F.col("d").cast("double") - 1.0)),
            int(round_to),
        ),
    )
    if max_degree is not None:
        # over-cap hubs: true degree, NULL triangles/lcc (truncated —
        # their wedges were never enumerated)
        over = F.col("d") > int(max_degree)
        tri = F.when(~over, tri)
        lcc = F.when(~over, lcc)
    return (
        deg.join(per_node, deg["v"] == per_node["node"], "left")
        .select(
            F.col("v").alias("node"),
            F.col("d").alias("degree"),
            tri.alias("triangles"),
            lcc.alias("lcc"),
        )
    )


def clustering_coefficient_sql(
    edges_sql: str,
    src: str = "src",
    dst: str = "dst",
    round_to: int = 6,
    max_degree: Optional[int] = None,
) -> str:
    """DuckDB mirror of :func:`clustering_coefficient` (same
    orientation, triangle attribution, NULL-below-degree-2 rule, and
    the same ``max_degree`` induced-subgraph truncation)."""
    if max_degree is None:
        und2 = "__und"
        cap_tri = ""
        cap_lcc = ""
    else:
        cap = int(max_degree)
        if cap < 2:
            raise ValueError(f"max_degree must be >= 2: {max_degree}")
        und2 = "__undc"
        cap_tri = f"CASE WHEN d.d > {cap} THEN NULL ELSE "
        cap_lcc = f"d.d <= {cap} AND "
    capped_cte = "" if max_degree is None else f""",
__undc AS MATERIALIZED (
  SELECT u.a, u.b FROM __und u
  JOIN __deg da ON da.v = u.a
  JOIN __deg db ON db.v = u.b
  WHERE da.d <= {int(max_degree)} AND db.d <= {int(max_degree)}
)"""
    return f"""
WITH __und AS MATERIALIZED (
  SELECT DISTINCT least({src}, {dst}) AS a, greatest({src}, {dst}) AS b
  FROM {edges_sql} WHERE {src} <> {dst}
),
__deg AS MATERIALIZED (
  SELECT v, count(*)::BIGINT AS d FROM (
    SELECT a AS v FROM __und UNION ALL SELECT b AS v FROM __und
  ) GROUP BY v
){capped_cte},
__or AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
              THEN u.a ELSE u.b END AS u,
         CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
              THEN u.b ELSE u.a END AS w
  FROM {und2} u
  JOIN __deg da ON da.v = u.a
  JOIN __deg db ON db.v = u.b
),
__tri AS (
  SELECT o1.u, o1.w AS w1, o2.w AS w2
  FROM __or o1 JOIN __or o2 ON o1.u = o2.u AND o1.w < o2.w
  JOIN {und2} c ON c.a = o1.w AND c.b = o2.w
),
__pn AS (
  SELECT node, count(*)::BIGINT AS triangles FROM (
    SELECT u AS node FROM __tri
    UNION ALL SELECT w1 AS node FROM __tri
    UNION ALL SELECT w2 AS node FROM __tri
  ) GROUP BY node
)
SELECT d.v AS node, d.d AS degree,
       {cap_tri}coalesce(p.triangles, 0)::BIGINT{" END" if cap_tri else ""}
         AS triangles,
       CASE WHEN {cap_lcc}d.d >= 2 THEN
         round((2.0::DOUBLE * CAST(coalesce(p.triangles, 0) AS DOUBLE))
               / (CAST(d.d AS DOUBLE) * (CAST(d.d AS DOUBLE) - 1.0::DOUBLE)),
               {int(round_to)})
       END AS lcc
FROM __deg d LEFT JOIN __pn p ON p.node = d.v
"""


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    round_to: int = 6,
) -> DataFrame:
    """Newman's degree assortativity coefficient of the undirected
    graph — the Pearson correlation of end-point degrees over every
    edge counted in BOTH orientations: positive = hubs link hubs
    (social nets), negative = hubs link leaves (hub-and-spoke infra/
    web), the one-row structural fingerprint next to
    :func:`clustering_coefficient`. Returns ``(n_edges, r)``;
    r NULL on degree-regular graphs (zero variance).

    Determinism: degrees are exact longs and every moment sum is
    integer arithmetic in double range — bit-identical across
    engines and partitionings.

    Scale: one degree groupBy + two skinny joins onto the
    (deduplicated) edge frame + ONE five-sum aggregate.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    j = und.join(da, "a").join(db, "b")
    # both orientations: (da, db) and (db, da) — Newman's symmetric sum
    pairs = j.select(
        F.col("da").cast("double").alias("x"),
        F.col("db").cast("double").alias("y"),
    ).unionByName(
        j.select(
            F.col("db").cast("double").alias("x"),
            F.col("da").cast("double").alias("y"),
        )
    )
    agg = pairs.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("m2").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sx") / n
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    r = F.when(varx > 0, cov / varx)
    return agg.select(
        (F.col("m2") / 2).cast("long").alias("n_edges"),
        F.round(r, int(round_to)).alias("r"),
    )


def degree_assortativity_sql(
    edges_sql: str,
    src: str = "src",
    dst: str = "dst",
    round_to: int = 6,
) -> str:
    """DuckDB mirror of :func:`degree_assortativity` (same symmetric
    pair set and moment tree; x-marginals equal y-marginals by
    symmetry, exactly as the Spark side exploits)."""
    return f"""
WITH __und AS MATERIALIZED (
  SELECT DISTINCT least({src}, {dst}) AS a, greatest({src}, {dst}) AS b
  FROM {edges_sql} WHERE {src} <> {dst}
),
__deg AS MATERIALIZED (
  SELECT v, count(*)::BIGINT AS d FROM (
    SELECT a AS v FROM __und UNION ALL SELECT b AS v FROM __und
  ) GROUP BY v
),
__p AS (
  SELECT CAST(da.d AS DOUBLE) AS x, CAST(db.d AS DOUBLE) AS y
  FROM __und u JOIN __deg da ON da.v = u.a JOIN __deg db ON db.v = u.b
  UNION ALL
  SELECT CAST(db.d AS DOUBLE) AS x, CAST(da.d AS DOUBLE) AS y
  FROM __und u JOIN __deg da ON da.v = u.a JOIN __deg db ON db.v = u.b
),
__m AS (
  SELECT count(*)::BIGINT AS m2, sum(x) AS sx,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM __p
)
SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
       round(CASE WHEN (sxx - sx * sx / CAST(m2 AS DOUBLE)) > 0 THEN
         (sxy - sx * sx / CAST(m2 AS DOUBLE))
         / (sxx - sx * sx / CAST(m2 AS DOUBLE))
       END, {int(round_to)}) AS r
FROM __m
"""
