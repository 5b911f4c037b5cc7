"""k-core peeling: hand graph, fixpoint, SQL-mirror equivalence."""

import duckdb
import pytest


def _kc(spark, rows, k, iters=6):
    from simba_spark.operators.graph import k_core

    e = spark.createDataFrame(rows, "src long, dst long")
    return {(r["node"], r["deg"]) for r in k_core(e, k=k,
                                                  iters=iters).collect()}


def test_hand_graph_peels_tail(spark):
    # triangle 1-2-3 plus a pendant chain 3-4-5: the 2-core is the
    # triangle alone — peeling 5 first cascades into removing 4.
    rows = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    assert _kc(spark, rows, k=2) == {(1, 2), (2, 2), (3, 2)}
    # k=1 keeps everything (every node has an edge)
    assert _kc(spark, rows, k=1) == {
        (1, 2), (2, 2), (3, 3), (4, 2), (5, 1)}
    # k=3 empties the graph
    assert _kc(spark, rows, k=3) == set()


def test_self_loops_and_duplicates_ignored(spark):
    rows = [(1, 1), (1, 2), (2, 1), (1, 2), (2, 3), (1, 3)]
    assert _kc(spark, rows, k=2) == {(1, 2), (2, 2), (3, 2)}


def test_fixpoint_reached_at_query_config(spark):
    """The registered query runs k=10/iters=6 on the trade graph;
    one extra round must change nothing (exact-fixpoint contract)."""
    import __spark_entry__ as entry
    from simba_spark.operators.graph import k_core

    edges = entry._trade_edges(spark, "/root/testdata/sf0.001")
    a = {tuple(r) for r in k_core(edges, k=10, iters=6).collect()}
    b = {tuple(r) for r in k_core(edges, k=10, iters=7).collect()}
    assert a == b and len(a) > 0


def test_sql_mirror_matches(spark):
    from simba_spark.operators.graph import k_core_sql

    rows = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (2, 4)]
    got = _kc(spark, rows, k=2, iters=5)
    con = duckdb.connect()
    con.sql("CREATE TABLE e(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", rows)
    want = {tuple(r) for r in
            con.sql(k_core_sql("e", k=2, iters=5)).fetchall()}
    assert got == want


def test_k_validation(spark):
    from simba_spark.operators.graph import k_core

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        k_core(e, k=0)


def test_convergence_guard_raises_on_deep_chain(spark):
    """A 20-node path peels one level per round at k=2 — iters=2 is
    nowhere near the fixpoint, and the default guard must refuse to
    return the superset silently."""
    from simba_spark.operators.graph import k_core

    rows = [(i, i + 1) for i in range(1, 20)]
    e = spark.createDataFrame(rows, "src long, dst long")
    with pytest.raises(RuntimeError, match="not converged"):
        k_core(e, k=2, iters=2).collect()
    # assert_converged=False returns the fixed-rounds superset instead
    got = k_core(e, k=2, iters=2, assert_converged=False).collect()
    assert len(got) > 0
    # and with enough rounds the guard passes (path has no 2-core)
    assert k_core(e, k=2, iters=12).count() == 0


# --- hyperanf ---------------------------------------------------------------

def test_hyperanf_chain_tracks_exact_reachability(spark):
    """Directed chain 1→2→3→4: exact N(t) is 4,7,9,10,10; HLL at
    these cardinalities sits in the linear-counting regime, so the
    estimates land within a few percent."""
    from simba_spark.operators.graph import hyperanf

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                              "src long, dst long")
    got = {r["t"]: r["nf"] for r in hyperanf(e, iters=4, p=6).collect()}
    exact = {0: 4, 1: 7, 2: 9, 3: 10, 4: 10}
    for t, want in exact.items():
        assert abs(got[t] - want) / want < 0.05, (t, got[t])
    # monotone, and converged once t >= diameter
    vals = [got[t] for t in range(5)]
    assert vals == sorted(vals)
    assert got[3] == got[4]


def test_hyperanf_matches_sql_mirror(spark):
    import duckdb

    from simba_spark.operators.graph import hyperanf, hyperanf_sql

    rows = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    e = spark.createDataFrame(rows, "src long, dst long")
    got = {(r["t"], r["nf"]) for r in hyperanf(e, iters=3, p=5).collect()}
    con = duckdb.connect()
    con.sql("CREATE TABLE e(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", rows)
    want = {tuple(r) for r in
            con.sql(hyperanf_sql("e", iters=3, p=5)).fetchall()}
    assert got == want


def test_hyperanf_layouts_bit_identical(spark, monkeypatch):
    """The wide (register-column) and rows (register-row) layouts are
    two physical forms of one logical program — estimates must match
    bit-for-bit (register values are exact powers of two in double).
    The wide layout is checked in both its broadcast form and, with the
    broadcast guard's bound at 0, its shuffle form."""
    import duckdb

    from simba_spark.operators import _bcast
    from simba_spark.operators.graph import hyperanf, hyperanf_sql

    rows = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 1), (2, 5)]
    e = spark.createDataFrame(rows, "src long, dst long")
    wide = {(r["t"], r["nf"])
            for r in hyperanf(e, iters=3, p=5, layout="wide").collect()}
    rowsf = {(r["t"], r["nf"])
             for r in hyperanf(e, iters=3, p=5, layout="rows").collect()}
    assert wide == rowsf

    monkeypatch.setattr(_bcast, "_EDGE_BCAST_MAX_BYTES", 0)
    wide_shuffled = {
        (r["t"], r["nf"])
        for r in hyperanf(e, iters=3, p=5, layout="wide").collect()}
    con = duckdb.connect()
    con.sql("CREATE TABLE e(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", rows)
    want = {tuple(r) for r in
            con.sql(hyperanf_sql("e", iters=3, p=5)).fetchall()}
    assert wide_shuffled == rowsf == want


def test_hyperanf_wide_layout_caps_p(spark):
    """p > 8 in the wide layout would emit 2^p register columns and a
    ~2·2^p-term estimate expression — the janino 64 KB codegen failure
    mode; the cap raises instead, and auto routes to rows."""
    import pytest

    from simba_spark.operators.graph import hyperanf

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="caps at p=8"):
        hyperanf(e, iters=1, p=9, layout="wide")
    # auto with large p routes to rows and works
    got = hyperanf(e, iters=1, p=9, layout="auto").collect()
    assert len(got) == 2


# --- louvain move phase -------------------------------------------------------

def test_louvain_moves_semantics(spark):
    from pyspark.sql import functions as F

    from simba_spark.operators.graph import (label_propagation,
                                             louvain_moves, modularity)

    # two triangles + bridge: converges to the two cliques
    edges = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: r.community for r in louvain_moves(df, iters=6).collect()}
    assert len({out[0], out[1], out[2]}) == 1
    assert len({out[3], out[4], out[5]}) == 1
    assert out[0] != out[3]

    # modularity never worse than singletons, and >= label_prop here
    import random
    rng = random.Random(3)
    redges = list({(rng.randrange(30), rng.randrange(30))
                   for _ in range(90)})
    rdf = spark.createDataFrame(redges, "src long, dst long")
    labels = louvain_moves(rdf, iters=4).withColumnRenamed(
        "community", "label")
    qf = modularity(rdf, labels).agg(F.sum("q_c")).first()[0]
    single = (rdf.select(F.col("src").alias("node"))
              .unionByName(rdf.select(F.col("dst").alias("node")))
              .distinct().withColumn("label", F.col("node")))
    q0 = modularity(rdf, single).agg(F.sum("q_c")).first()[0]
    qlp = modularity(rdf, label_propagation(rdf, iters=4)) \
        .agg(F.sum("q_c")).first()[0]
    assert qf > q0 and qf >= qlp

    import pytest as _pt
    with _pt.raises(ValueError):
        louvain_moves(df, iters=0)


def test_louvain_moves_duckdb_parity(spark):
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd
    import random

    from simba_spark.operators.graph import louvain_moves, louvain_moves_sql

    rng = random.Random(11)
    edges = list({(rng.randrange(40), rng.randrange(40))
                  for _ in range(140)})
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(map(tuple, louvain_moves(df, iters=4).collect()))
    con = duckdb.connect()
    con.register("e", pd.DataFrame(edges, columns=["src", "dst"]))
    oracle = sorted(map(tuple, con.execute(
        louvain_moves_sql("e", iters=4)).fetchall()))
    assert got == oracle


# --- louvain (full multi-level pipeline) ---------------------------------------

def test_louvain_levels_semantics(spark):
    from pyspark.sql import functions as F

    from simba_spark.operators.graph import louvain, louvain_moves, modularity

    # levels=1 is EXACTLY the move phase (w=1 case of the same kernel)
    import random
    rng = random.Random(3)
    redges = list({(rng.randrange(30), rng.randrange(30))
                   for _ in range(90)})
    rdf = spark.createDataFrame(redges, "src long, dst long")
    one = sorted(map(tuple, louvain(rdf, iters=4, levels=1).collect()))
    moves = sorted(map(tuple, louvain_moves(rdf, iters=4).collect()))
    assert one == moves

    # contraction level: modularity never worse than one level, and the
    # assignment is a coarsening (every level-1 community maps whole)
    def q_of(labels_df):
        return modularity(
            rdf, labels_df.withColumnRenamed("community", "label")
        ).agg(F.sum("q_c")).first()[0]

    two_df = louvain(rdf, iters=4, levels=2)
    q1, q2 = q_of(louvain_moves(rdf, iters=4)), q_of(two_df)
    assert q2 >= q1
    lvl1 = {r.node: r.community
            for r in louvain_moves(rdf, iters=4).collect()}
    lvl2 = {r.node: r.community for r in two_df.collect()}
    assert set(lvl2) == set(lvl1)
    remap = {}
    for n, c2 in lvl2.items():
        c1 = lvl1[n]
        assert remap.setdefault(c1, c2) == c2  # coarsening, never a split
    assert len(set(lvl2.values())) <= len(set(lvl1.values()))

    import pytest as _pt
    with _pt.raises(ValueError):
        louvain(rdf, iters=0)
    with _pt.raises(ValueError):
        louvain(rdf, levels=0)


def test_louvain_levels_duckdb_parity(spark):
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd
    import random

    from simba_spark.operators.graph import louvain, louvain_sql

    rng = random.Random(11)
    dense = list({(rng.randrange(40), rng.randrange(40))
                  for _ in range(140)})
    # + a disconnected triangle: it collapses to one node with only
    # self mass after level 1, and must survive levels 2 and 3
    for edges in (dense, dense + [(100, 101), (101, 102), (102, 100)]):
        df = spark.createDataFrame(edges, "src long, dst long")
        con = duckdb.connect()
        con.register("e", pd.DataFrame(edges, columns=["src", "dst"]))
        for levels in (2, 3):
            got = sorted(map(tuple,
                             louvain(df, iters=3, levels=levels).collect()))
            oracle = sorted(map(tuple, con.execute(
                louvain_sql("e", iters=3, levels=levels)).fetchall()))
            assert got == oracle


# --- k-truss (edge-support peeling) ---------------------------------------------

def test_k_truss_semantics(spark):
    from simba_spark.operators.graph import k_truss

    # K4 {0,1,2,3} + pendant triangle {3,4,5}: the 4-truss is exactly
    # K4 (every K4 edge closes 2 triangles; the pendant's close 1)
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = k4 + [(3, 4), (3, 5), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.a, r.b): r.support for r in k_truss(df, k=4, iters=3).collect()}
    assert set(got) == set(k4)
    assert all(s == 2 for s in got.values())
    # k=3 keeps every edge that closes >= 1 triangle (all of them here)
    got3 = {(r.a, r.b) for r in k_truss(df, k=3, iters=3).collect()}
    assert got3 == set(edges)

    # cascade: a triangle strip fully unravels at k=4 (support-2 edge
    # loses its triangles once the support-1 edges drop)
    strip = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    sdf = spark.createDataFrame(strip, "src long, dst long")
    assert k_truss(sdf, k=4, iters=4).count() == 0
    # the cascade needs 2 rounds: iters=1 is not converged
    import pytest as _pt
    with _pt.raises(RuntimeError):
        k_truss(sdf, k=4, iters=1)
    assert k_truss(sdf, k=4, iters=1, assert_converged=False).count() == 2
    with _pt.raises(ValueError):
        k_truss(df, k=2)


def test_k_truss_fixpoint_at_query_config(spark):
    """The registered query runs k=4/iters=6 on the part co-occurrence
    graph; the converged-guard variant must pass (exact fixpoint) and
    one extra round must change nothing."""
    import __spark_entry__ as entry
    from simba_spark.operators.graph import k_truss

    li = entry._t(spark, "/root/testdata/sf0.001", "lineitem").filter(
        "l_linenumber <= 3")
    from pyspark.sql import functions as F
    a = li.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("dst"))
    edges = a.join(b, "l_orderkey").filter("src < dst").select("src", "dst")
    six = {tuple(r) for r in
            k_truss(edges, k=4, iters=6, assert_converged=True).collect()}
    seven = {tuple(r) for r in
             k_truss(edges, k=4, iters=7, assert_converged=False).collect()}
    assert six == seven


def test_k_truss_duckdb_parity(spark):
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd
    import random

    from simba_spark.operators.graph import k_truss, k_truss_sql

    rng = random.Random(7)
    edges = list({(rng.randrange(25), rng.randrange(25))
                  for _ in range(160)})
    df = spark.createDataFrame(edges, "src long, dst long")
    con = duckdb.connect()
    con.register("e", pd.DataFrame(edges, columns=["src", "dst"]))
    for k, iters in ((3, 4), (4, 4), (5, 3)):
        got = sorted(map(tuple, k_truss(
            df, k=k, iters=iters, assert_converged=False).collect()))
        oracle = sorted(map(tuple, con.execute(
            k_truss_sql("e", k=k, iters=iters)).fetchall()))
        assert got == oracle
