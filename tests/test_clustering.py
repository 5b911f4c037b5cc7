"""Distributed Lloyd's k-means (operators/clustering.py)."""

import math
import random

import pytest
from pyspark.sql import functions as F

from simba_spark.operators.clustering import kmeans, kmeans_sql


@pytest.fixture(scope="module")
def vec_df(spark):
    """3 well-separated 4-D blobs + a NULL-vector row + a wrong-length
    row (both must be dropped)."""
    rng = random.Random(7)
    rows = []
    centers = [(0.0, 0.0, 0.0, 0.0), (10.0, 10.0, 0.0, 0.0),
               (0.0, 0.0, 10.0, 10.0)]
    for i in range(300):
        cx = centers[i % 3]
        rows.append((i, [float(c + rng.gauss(0, 0.5)) for c in cx]))
    rows.append((1000, None))
    rows.append((1001, [1.0, 2.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _py_kmeans(rows, k, iters, seed=42, dp=6):
    """Independent pure-Python mirror of the documented algorithm."""
    import hashlib

    pts = [(i, [float(x) for x in v]) for i, v in rows
           if i is not None and v is not None]
    d = len(pts[0][1])
    pts = [(i, v) for i, v in pts if len(v) == d]

    def h(i):
        return hashlib.md5(f"{i}#{seed}".encode()).hexdigest()

    init = sorted(pts, key=lambda r: (h(r[0]), r[0]))[:k]
    cents = [list(v) for _, v in init]

    def assign(v):
        best = None
        for j, c in enumerate(cents):
            dist = 0.0
            for a, b in zip(v, c):
                dist += (a - b) * (a - b)
            if best is None or dist < best[0]:
                best = (dist, j)
        return best[1]

    for _ in range(iters):
        groups = {}
        for i, v in pts:
            groups.setdefault(assign(v), []).append(v)
        new = []
        for j in range(len(cents)):
            vs = groups.get(j)
            if not vs:
                new.append(cents[j])
            else:
                m = [sum(col) / len(vs) for col in zip(*vs)]
                # Python round is banker's; mirror HALF_UP on positives
                new.append([math.floor(x * 10**dp + 0.5) / 10**dp
                            if x >= 0 else
                            -(math.floor(-x * 10**dp + 0.5) / 10**dp)
                            for x in m])
        cents = new
    return {i: assign(v) for i, v in pts}, cents


def test_kmeans_matches_python_reference(vec_df):
    out, cents = kmeans(vec_df, k=3, iters=3, dim=4)
    got = {r["vec_id"]: r["cluster"]
           for r in out.select("vec_id", "cluster").collect()}
    rows = [(r["vec_id"], r["embedding"]) for r in vec_df.collect()]
    want, want_cents = _py_kmeans(rows, k=3, iters=3)
    assert got == want
    for c, w in zip(cents, want_cents):
        for a, b in zip(c, w):
            assert abs(a - b) < 1e-9


def test_kmeans_separates_blobs(vec_df):
    out, _ = kmeans(vec_df, k=3, iters=4, dim=4)
    rows = out.select("vec_id", "cluster").collect()
    # every point of a blob (vec_id % 3) lands in one cluster
    blob_to_cluster = {}
    for r in rows:
        blob = r["vec_id"] % 3
        blob_to_cluster.setdefault(blob, set()).add(r["cluster"])
    assert all(len(s) == 1 for s in blob_to_cluster.values())
    assert len({next(iter(s)) for s in blob_to_cluster.values()}) == 3


def test_kmeans_drops_invalid_rows(vec_df):
    out, _ = kmeans(vec_df, k=3, iters=1, dim=4)
    ids = {r["vec_id"] for r in out.select("vec_id").collect()}
    assert 1000 not in ids and 1001 not in ids
    assert len(ids) == 300


def test_kmeans_partitioning_invariant(vec_df):
    a, _ = kmeans(vec_df, k=3, iters=2, dim=4)
    b, _ = kmeans(vec_df.repartition(13), k=3, iters=2, dim=4)
    ra = sorted((r["vec_id"], r["cluster"]) for r in a.collect())
    rb = sorted((r["vec_id"], r["cluster"]) for r in b.collect())
    assert ra == rb


def test_kmeans_duckdb_parity(vec_df, tmp_path):
    duckdb = pytest.importorskip("duckdb")
    p = str(tmp_path / "vecs.parquet")
    vec_df.write.parquet(p)
    out, _ = kmeans(vec_df, k=3, iters=2, dim=4)
    got = sorted((r["vec_id"], r["cluster"])
                 for r in out.select("vec_id", "cluster").collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW vecs AS SELECT * FROM '{p}/*.parquet'")
    sql = kmeans_sql("vecs", k=3, iters=2, dim=4)
    want = sorted((int(a), int(b)) for a, b in con.sql(sql).fetchall())
    assert got == want


def test_assign_routes_bit_identical(vec_df):
    """The Arrow kernel accumulates the same left-fold in float64, so
    assignments (and therefore every downstream centroid) match the
    codegen path bit-for-bit — route choice is invisible to results."""
    a, ca = kmeans(vec_df, k=3, iters=2, dim=4, route="codegen")
    b, cb = kmeans(vec_df, k=3, iters=2, dim=4, route="arrow")
    assert ca == cb
    ra = sorted((r["vec_id"], r["cluster"])
                for r in a.select("vec_id", "cluster").collect())
    rb = sorted((r["vec_id"], r["cluster"])
                for r in b.select("vec_id", "cluster").collect())
    assert ra == rb


def test_assign_auto_routes_past_codegen_cliff(spark):
    """k*d above _CODEGEN_MAX_TERMS must route to the Arrow kernel (the
    literal plan trips Janino's method limit there) — assert the plan
    carries a Python-worker stage instead of the literal projection."""
    from simba_spark.operators.clustering import _CODEGEN_MAX_TERMS, _assign

    d = 4
    k = _CODEGEN_MAX_TERMS // d + 1
    df = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, 2.0, 3.0]) for i in range(20)],
        "vec_id long, embedding array<float>")
    cents = [[float(j), 0.0, 0.0, 0.0] for j in range(k)]
    routed = _assign(df, "embedding", cents, "cluster")
    assert "MapInPandas" in routed._jdf.queryExecution().analyzed().toString()
    small = _assign(df, "embedding", cents[:2], "cluster")
    assert "MapInPandas" not in small._jdf.queryExecution().analyzed().toString()


def test_semantic_dedup_pairs_within_cluster_bruteforce(vec_df):
    """Pairs == brute-force cosine>=t filtered to same-kmeans-cluster
    (the blocking is the documented semantics, not an approximation of
    all-pairs)."""
    from simba_spark.operators.dedup import semantic_dedup_pairs

    got = sorted(
        (r["a_id"], r["b_id"], r["sim4"])
        for r in semantic_dedup_pairs(
            vec_df, threshold=0.9, k=3, iters=2, dim=4,
            id_col="vec_id").collect()
    )
    out, _ = kmeans(vec_df, k=3, iters=2, dim=4)
    rows = [(r["vec_id"], [float(x) for x in r["embedding"]], r["cluster"])
            for r in out.collect()]
    want = []
    for i, (ia, va, ca) in enumerate(rows):
        for ib, vb, cb in rows[i + 1:]:
            if ca != cb:
                continue
            a, b = (ia, ib) if ia < ib else (ib, ia)
            dot = sum(x * y for x, y in zip(va, vb))
            na = math.sqrt(sum(x * x for x in va))
            nb = math.sqrt(sum(x * x for x in vb))
            sim = dot / (na * nb)
            if round(sim, 6) >= 0.9:
                want.append((a, b, round(sim, 4)))
    want.sort()
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]
    for (_, _, s1), (_, _, s2) in zip(got, want):
        assert abs(s1 - s2) < 1e-9


def test_semantic_dedup_partitioning_invariant(vec_df):
    from simba_spark.operators.dedup import semantic_dedup_pairs

    a = semantic_dedup_pairs(vec_df, threshold=0.9, k=3, iters=2, dim=4)
    b = semantic_dedup_pairs(vec_df.repartition(13), threshold=0.9,
                             k=3, iters=2, dim=4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_kmeans_fewer_rows_than_k(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [5.0, 5.0])],
        "vec_id long, embedding array<float>")
    out, cents = kmeans(df, k=8, iters=2, dim=2)
    assert len(cents) == 2
    assert out.count() == 2


def test_sorted_neighborhood_pairs_bruteforce(spark):
    """Candidates == all pairs within `window` ranks of the documented
    (sort, id) order, each emitted exactly once."""
    from simba_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [(i, f"title {chr(97 + (i * 7) % 26)}{i % 10}") for i in range(80)]
    rows += [(100, None), (None, "x")]   # dropped
    df = spark.createDataFrame(rows, "id long, name string")
    got = sorted(
        (r["a_id"], r["b_id"], r["rank_dist"])
        for r in sorted_neighborhood_pairs(df, "name", "id",
                                           window=4).collect()
    )
    valid = [(i, n) for i, n in rows if i is not None and n is not None]
    ranked = sorted(valid, key=lambda r: (r[1], r[0]))
    want = sorted(
        (ranked[i][0], ranked[j][0], j - i)
        for i in range(len(ranked))
        for j in range(i + 1, min(i + 5, len(ranked)))
    )
    assert got == want
    assert len(got) == len(set((a, b) for a, b, _ in got))


def test_sorted_neighborhood_partitioning_invariant(spark):
    from simba_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [(i, f"k{(i * 13) % 40:03d}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, name string")
    a = sorted(map(tuple, sorted_neighborhood_pairs(
        df, "name", "id", window=2).collect()))
    b = sorted(map(tuple, sorted_neighborhood_pairs(
        df.repartition(17), "name", "id", window=2).collect()))
    assert a == b


def test_sorted_neighborhood_long_string_ids(spark):
    """UUID-length ids stay unique in the order key (a fixed-width
    lpad would truncate them) and ranks stay deterministic."""
    from simba_spark.operators.dedup import sorted_neighborhood_pairs

    base = "aaaaaaaaaaaaaaaaaaaa"   # 20-char shared prefix
    rows = [(base + f"{i:016d}", "same") for i in range(30)]
    df = spark.createDataFrame(rows, "id string, name string")
    a = sorted(map(tuple, sorted_neighborhood_pairs(
        df, "name", "id", window=2).collect()))
    b = sorted(map(tuple, sorted_neighborhood_pairs(
        df.repartition(7), "name", "id", window=2).collect()))
    assert a == b
    ids = sorted(r[0] for r in rows)
    want = sorted(
        (ids[i], ids[j], j - i)
        for i in range(30) for j in range(i + 1, min(i + 3, 30)))
    assert a == want


def test_assign_arrow_overwrites_existing_out_col(spark):
    from simba_spark.operators.clustering import _assign

    df = spark.createDataFrame(
        [(1, [0.0, 0.0], 99), (2, [5.0, 5.0], 99)],
        "vec_id long, embedding array<float>, cluster int")
    out = _assign(df, "embedding", [[0.0, 0.0], [5.0, 5.0]],
                  "cluster", route="arrow")
    assert out.columns.count("cluster") == 1
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert got == {1: 0, 2: 1}


def test_build_ivf_full_trainer(vec_df):
    """trainer='full' routes IVF quantizer training through the
    distributed kmeans: assignments equal clustering.kmeans bit-for-
    bit and every valid row gets a list id."""
    import numpy as np

    from simba_spark.operators.similarity import build_ivf

    assigned, cents = build_ivf(
        vec_df, n_centroids=3, iters=2, trainer="full", id_col="vec_id")
    got = {r["vec_id"]: r["__ivf"]
           for r in assigned.select("vec_id", "__ivf").collect()}
    want_df, want_cents = kmeans(vec_df, k=3, iters=2, dim=4)
    want = {r["vec_id"]: r["cluster"]
            for r in want_df.select("vec_id", "cluster").collect()}
    assert got == want
    assert np.allclose(cents, np.asarray(want_cents))
    import pytest as _pt
    with _pt.raises(ValueError):
        build_ivf(vec_df, trainer="nope")


def test_cov_matrix_values(spark):
    from simba_spark.operators.stats import cov_matrix

    rows = [(float(i), float(3 * i), float(-2 * i)) for i in range(100)]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    got = {(r["col_a"], r["col_b"]): r["cov"] for r in
           cov_matrix(df, ["a", "b", "c"]).collect()}
    va = got[("a", "a")]
    assert abs(got[("a", "b")] - 3 * va) < 1e-4
    assert abs(got[("a", "c")] + 2 * va) < 1e-4
    assert abs(got[("b", "b")] - 9 * va) < 1e-3


def test_pca_recovers_planted_subspace(spark):
    import random

    import numpy as np

    from simba_spark.operators.pca import fit_pca, pca_project

    rng = random.Random(3)
    rows = []
    for i in range(400):
        t, u = rng.gauss(0, 3), rng.gauss(0, 1)
        # data lives in span{(1,1,0,0)/√2, (0,0,1,-1)/√2} + tiny noise
        v = [t / 2 ** 0.5 + rng.gauss(0, 0.01),
             t / 2 ** 0.5 + rng.gauss(0, 0.01),
             u / 2 ** 0.5 + rng.gauss(0, 0.01),
             -u / 2 ** 0.5 + rng.gauss(0, 0.01)]
        rows.append((i, [float(x) for x in v]))
    rows.append((999, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    mean, comps, lams = fit_pca(df, n_components=2, dim=4)
    assert lams[0] >= lams[1] > 0
    # top-2 eigenvalues carry ~all the variance
    _, _, all_lams = fit_pca(df, n_components=4, dim=4)
    assert sum(all_lams[:2]) / sum(all_lams) > 0.99
    out = pca_project(df, n_components=2, dim=4).collect()
    assert len(out) == 400   # NULL row dropped
    Y = np.array([list(r["pca"]) for r in out])
    # projected variance ordered; matches eigenvalues
    assert Y[:, 0].var(ddof=1) >= Y[:, 1].var(ddof=1)
    assert abs(Y[:, 0].var(ddof=1) - lams[0]) / lams[0] < 0.05


def test_pca_deterministic_and_model_reuse(spark):
    import random

    from simba_spark.operators.pca import fit_pca, pca_project

    rng = random.Random(9)
    rows = [(i, [rng.gauss(0, 1) for _ in range(6)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    m1 = fit_pca(df, n_components=3, dim=6)
    m2 = fit_pca(df.repartition(13), n_components=3, dim=6)
    assert m1 == m2      # rounded moments -> bit-stable basis
    a = {r["vec_id"]: list(r["pca"]) for r in
         pca_project(df, n_components=3, dim=6).collect()}
    b = {r["vec_id"]: list(r["pca"]) for r in
         pca_project(df.repartition(7), n_components=3, dim=6,
                     model=m1).collect()}
    assert a == b


def test_pca_whiten_unit_variance(spark):
    import random

    import numpy as np

    from simba_spark.operators.pca import pca_project

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 5), rng.gauss(0, 1), rng.gauss(0, 0.2)])
            for i in range(500)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    Y = np.array([list(r["pca"]) for r in
                  pca_project(df, n_components=2, dim=3,
                              whiten=True).collect()])
    assert abs(Y[:, 0].var(ddof=1) - 1.0) < 0.05
    assert abs(Y[:, 1].var(ddof=1) - 1.0) < 0.05


# ---------------------------------------------------------------------------
# Fellegi–Sunter linkage scoring


def test_linkage_score_weights_and_nulls(spark):
    import math

    from simba_spark.operators.dedup import linkage_score

    pairs = spark.createDataFrame(
        [
            (1, 2, "acme corp", "acme corp", "NY", "NY"),
            (3, 4, "acme corp", "bxkz ltd", "NY", "CA"),
            (5, 6, "acme corp", "acme corp", None, "NY"),  # null field
        ],
        "id_a long, id_b long, name_a string, name_b string, st_a string, st_b string",
    )
    out = {
        (r["id_a"], r["id_b"]): (r["n_agree"], r["score"],
                                 r["agree_name_a"], r["agree_st_a"])
        for r in linkage_score(
            pairs,
            [
                ("name_a", "name_b", "levenshtein", 0.9, 0.1, 0.8),
                ("st_a", "st_b", "exact", 0.8, 0.2),
            ],
        ).collect()
    }
    w_name_a, w_name_d = math.log2(0.9 / 0.1), math.log2(0.1 / 0.9)
    w_st_a, w_st_d = math.log2(0.8 / 0.2), math.log2(0.2 / 0.8)
    assert out[(1, 2)] == (2, round(w_name_a + w_st_a, 6), 1, 1)
    assert out[(3, 4)] == (0, round(w_name_d + w_st_d, 6), 0, 0)
    # NULL field contributes nothing (flag NULL, weight 0)
    assert out[(5, 6)] == (1, round(w_name_a, 6), 1, None)


def test_linkage_score_jaccard_and_threshold(spark):
    from simba_spark.operators.dedup import linkage_score

    pairs = spark.createDataFrame(
        [
            (1, 2, "big data spark engine", "spark big engine"),  # j=3/4
            (3, 4, "alpha beta", "gamma delta"),                  # j=0
        ],
        "id_a long, id_b long, t_a string, t_b string",
    )
    out = linkage_score(
        pairs,
        [("t_a", "t_b", "jaccard_tokens", 0.9, 0.1, 0.5)],
        threshold=0.0,
    ).collect()
    assert [(r["id_a"], r["n_agree"]) for r in out] == [(1, 1)]


def test_linkage_score_matches_duckdb(spark):
    duckdb = pytest.importorskip("duckdb")
    from simba_spark.operators.dedup import linkage_score, linkage_score_sql

    pairs = spark.range(300).select(
        F.col("id").alias("id_a"),
        (F.col("id") + 1000).alias("id_b"),
        F.concat(F.lit("name"), (F.col("id") % 17).cast("string")).alias("n_a"),
        F.concat(F.lit("name"), (F.col("id") % 5).cast("string")).alias("n_b"),
        (F.col("id") % 3).cast("string").alias("s_a"),
        (F.col("id") % 4).cast("string").alias("s_b"),
    )
    fields = [
        ("n_a", "n_b", "levenshtein", 0.85, 0.15, 0.9),
        ("s_a", "s_b", "exact", 0.7, 0.3),
    ]
    got = {
        (r["id_a"], r["id_b"]): (r["n_agree"], r["score"])
        for r in linkage_score(pairs, fields).collect()
    }
    con = duckdb.connect()
    con.register("pairs", pairs.toPandas())
    want = {
        (a, b): (n, s)
        for a, b, _, _, n, s in con.sql(
            linkage_score_sql("pairs", fields, select_cols="id_a, id_b")
        ).fetchall()
    }
    assert got == want


def test_linkage_score_validation(spark):
    from simba_spark.operators.dedup import linkage_score

    pairs = spark.createDataFrame([(1, "x", "y")], "id long, a string, b string")
    with pytest.raises(ValueError):
        linkage_score(pairs, [])
    with pytest.raises(ValueError):
        linkage_score(pairs, [("a", "b", "soundex", 0.9, 0.1)])
    with pytest.raises(ValueError):
        linkage_score(pairs, [("a", "b", "exact", 0.1, 0.9)])  # m <= u


# --- silhouette (simplified / centroid form) ------------------------------------


def test_silhouette_semantics(vec_df, spark):
    from simba_spark.operators.clustering import kmeans, silhouette

    out = {r.cluster: r for r in
           silhouette(vec_df, k=3, iters=3, dim=4).collect()}
    # 3 well-separated blobs -> every cluster tight and separated
    assert len(out) == 3
    assert sum(r.n for r in out.values()) == 300
    assert all(r.mean_sil > 0.8 for r in out.values())

    # brute-force the centroid-form definition from the kmeans output
    assigned, cents = kmeans(vec_df, k=3, iters=3, dim=4,
                             out_col="cluster")
    ref = {}
    for row in assigned.select("cluster", "embedding").collect():
        ds = [math.sqrt(sum((float(x) - c[i]) ** 2
                            for i, x in enumerate(row.embedding)))
              for c in cents]
        a = ds[row.cluster]
        b = min(d for j, d in enumerate(ds) if j != row.cluster)
        s = (b - a) / max(a, b) if max(a, b) > 0 else 0.0
        ref.setdefault(row.cluster, []).append(s)
    for cl, sils in ref.items():
        assert abs(out[cl].mean_sil - sum(sils) / len(sils)) < 1e-6
        assert out[cl].n == len(sils)


def test_silhouette_duckdb_parity(vec_df, spark):
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    from simba_spark.operators.clustering import silhouette, silhouette_sql

    got = sorted(map(tuple, silhouette(vec_df, k=3, iters=2, dim=4)
                     .collect()))
    rows = [(r.vec_id, list(r.embedding) if r.embedding is not None else None)
            for r in vec_df.collect()]
    con = duckdb.connect()
    con.register("embeddings", pd.DataFrame(
        rows, columns=["vec_id", "embedding"]))
    oracle = sorted(map(tuple, con.execute(silhouette_sql(
        "embeddings", k=3, iters=2, dim=4)).fetchall()))
    assert got == oracle


# --- DBSCAN (density clustering composition, round 11) -----------------------


def _dbscan_ref(points, eps, min_pts):
    """Pure-Python DBSCAN: returns (cores set, noise set, clusters as
    a partition of core points)."""
    import math

    ids = sorted(points)
    nb = {i: {j for j in ids
              if math.dist(points[i], points[j]) <= eps} for i in ids}
    cores = {i for i in ids if len(nb[i]) >= min_pts}
    # components over core-core eps edges
    lab = {i: i for i in cores}

    def find(x):
        while lab[x] != x:
            lab[x] = lab[lab[x]]
            x = lab[x]
        return x

    for i in cores:
        for j in nb[i]:
            if j in cores:
                a, b = find(i), find(j)
                if a != b:
                    lab[max(a, b)] = min(a, b)
    comp = {i: find(i) for i in cores}
    border = {i for i in ids if i not in cores
              and any(j in cores for j in nb[i])}
    noise = set(ids) - cores - border
    return cores, border, noise, comp


def test_dbscan_semantics_vs_reference(spark):
    import random

    from simba_spark.operators.clustering import dbscan

    rng = random.Random(7)
    pts = {}
    # two dense blobs + scattered noise
    for i in range(20):
        pts[i] = (rng.uniform(0, 1), rng.uniform(0, 1))
    for i in range(20, 40):
        pts[i] = (10 + rng.uniform(0, 1), 10 + rng.uniform(0, 1))
    for i in range(40, 46):
        pts[i] = (rng.uniform(3, 8), rng.uniform(3, 8))
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in pts.items()],
        "pid2 long, x double, y double")
    out = {r.pid2: (r.role, r.cluster) for r in dbscan(
        df, ["x", "y"], eps=0.8, min_pts=4, id_col="pid2").collect()}
    cores, border, noise, comp = _dbscan_ref(pts, 0.8, 4)
    assert {i for i, (ro, _) in out.items() if ro == "core"} == cores
    assert {i for i, (ro, _) in out.items() if ro == "noise"} == noise
    assert {i for i, (ro, _) in out.items() if ro == "border"} == border
    # cluster labels are the component minimum; cores agree exactly
    want = {i: min(j for j in comp if comp[j] == comp[i]) for i in cores}
    for i in cores:
        assert out[i][1] == want[i]
    for i in noise:
        assert out[i][1] is None
    # a border point joins the min cluster among its core neighbors
    for i in border:
        neigh_clusters = {want[j] for j in cores
                          if (pts[i][0] - pts[j][0]) ** 2
                          + (pts[i][1] - pts[j][1]) ** 2 <= 0.8 ** 2}
        assert out[i][1] == min(neigh_clusters)


def test_dbscan_duckdb_parity(spark):
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd
    import random

    from simba_spark.operators.clustering import dbscan, dbscan_sql

    rng = random.Random(13)
    rows = [(i, round(rng.uniform(0, 5), 3), round(rng.uniform(0, 5), 3))
            for i in range(60)]
    df = spark.createDataFrame(rows, "pid2 long, x double, y double")
    got = sorted((r.pid2, r.role, r.cluster) for r in dbscan(
        df, ["x", "y"], eps=0.7, min_pts=3, id_col="pid2").collect())
    con = duckdb.connect()
    con.register("pts", pd.DataFrame(rows, columns=["pid2", "x", "y"]))
    oracle = sorted(map(tuple, con.execute(dbscan_sql(
        "pts", ["x", "y"], eps=0.7, min_pts=3,
        id_col="pid2")).fetchall()))
    assert got == oracle


@pytest.mark.parametrize("shape", ["no_cores", "one_cluster", "empty"])
def test_dbscan_adversarial_shapes_duckdb_parity(spark, shape):
    """No core point (all noise), every point in one cluster, and empty
    input, each equal to the DuckDB mirror."""
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    from simba_spark.operators.clustering import dbscan, dbscan_sql

    if shape == "no_cores":  # 10 apart, eps 1: every ball holds itself
        rows = [(i, 10.0 * i, 5.0 * (i % 3)) for i in range(12)]
    elif shape == "one_cluster":  # a 6x6 grid of step 0.5, eps 0.6
        rows = [(i, 0.5 * (i % 6), 0.5 * (i // 6)) for i in range(36)]
    else:
        rows = []
    df = spark.createDataFrame(rows, "pid2 long, x double, y double")
    eps = 1.0 if shape == "no_cores" else 0.6
    got = sorted((r.pid2, r.role, r.cluster) for r in dbscan(
        df, ["x", "y"], eps=eps, min_pts=3, id_col="pid2").collect())
    con = duckdb.connect()
    con.register("pts", pd.DataFrame(rows, columns=["pid2", "x", "y"])
                 .astype({"pid2": "int64", "x": "float64", "y": "float64"}))
    oracle = sorted(map(tuple, con.execute(dbscan_sql(
        "pts", ["x", "y"], eps=eps, min_pts=3,
        id_col="pid2")).fetchall()))
    assert got == oracle
    roles = {role for _, role, _ in got}
    if shape == "no_cores":
        assert roles == {"noise"}
    elif shape == "one_cluster":
        assert {c for _, _, c in got} == {0}
    else:
        assert got == []


def test_dbscan_validation(spark):
    from simba_spark.operators.clustering import dbscan

    df = spark.createDataFrame([(1, 0.0, 0.0)], "pid2 long, x double, y double")
    with pytest.raises(ValueError):
        dbscan(df, ["x", "y"], eps=0.0, min_pts=3, id_col="pid2")
    with pytest.raises(ValueError):
        dbscan(df, ["x", "y"], eps=1.0, min_pts=0, id_col="pid2")
