"""The workloads: spatial_select and spatial_join, which BENCHMARK.json
lists, and join_family and graph_loops, which run the same way on demand.

A workload is a fixed list of ops run pass after pass. ``warmup`` runs one
untimed pass whose output is checked against an oracle; ``run_pass`` runs
one timed pass and checks each op's output too. Every check that fails
counts one error (see ``Bench.check``).

The join and loop ops are the ``__spark_entry__`` queries of the same name,
so their warm-up outputs can be hash-matched against
``__spark_entry__.oracle_sql()``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import functions as F

READ_KINDS = ("range", "circle", "knn")
SELECT_KINDS = tuple(f"{q}.{m}" for q in READ_KINDS for m in ("indexed", "scan"))
JOIN_OPS = ("distance_join", "knn_join", "knn_join_voronoi", "zknn_join")
LOOP_OPS = ("pagerank", "louvain_levels", "dbscan")

KNN_K = 25
COLS = ["value", "uid"]


def _collect(df):
    return [tuple(r) for r in df.collect()]


class SpatialSelect:
    """Seeded range, circle and kNN reads on a z-order layout of the
    events points and the same kinds on the unindexed frame; an index
    rebuild (create, persist, load) before passes 2, 5, 8, ..."""

    name = "spatial_select"
    tables = ("events",)
    # per pass: indexed reads of each kind, scans of each kind. Three passes
    # give 45 indexed reads, so read_p75_ms has more than ten beyond it.
    indexed_per_kind, scans_per_kind = 5, 1
    min_passes = 3  # timed passes even when --seconds runs out first

    def __init__(self, bench):
        self.b = bench
        self.rng = np.random.default_rng(bench.seed)
        self.n_builds = 0
        self.layout_dir = None

    # -- set-up -------------------------------------------------------------
    def load(self, paths):
        b = self.b
        self.src_bytes = os.path.getsize(paths["events"])
        self.ev = b.spark.read.parquet(paths["events"]).withColumn(
            "uid", F.col("user_id").cast("double"))
        ev = b.tables["events"]
        self.ids = ev.column("event_id").to_numpy()
        self.x = ev.column("value").to_numpy()
        self.y = ev.column("user_id").to_numpy().astype(np.float64)

    def first_build(self):
        """Set-up's index build: the first create, persist and load. Its
        routed-read check waits for the end of the warm-up."""
        self.rebuild(pass_no=-1, check=False)

    # -- ops ------------------------------------------------------------------
    def rebuild(self, pass_no, check=True):
        """One write: create the layout, persist it to a fresh directory,
        load it back. Reads from here on go to the loaded layout."""
        b, ctx = self.b, self.b.ctx
        self.n_builds += 1
        name, path = "ev_z", os.path.join(b.run_dir, f"layout{self.n_builds}")
        ctx.drop_index(name)
        old, self.layout_dir = self.layout_dir, path
        for step, fn in (
            ("create", lambda: ctx.create_index(self.ev, COLS, name, kind="zorder")),
            ("persist", lambda: ctx.persist_index(name, path)),
            ("load", lambda: ctx.load_index(name, path)),
        ):
            b.op(f"write.{step}", fn, None, pass_no, rebuild=self.n_builds)
        self.indexed = ctx.layouts.get(name).data
        self.disk_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path) for f in fs)
        if old:
            shutil.rmtree(old, ignore_errors=True)
        if check:
            self.check_layout()

    def check_layout(self):
        """The loaded layout must answer a routed read exactly like the scan."""
        ctx = self.b.ctx
        lo, hi = self._box(self.rng.random())
        routed = _collect(ctx.range_query(self.indexed, COLS, lo, hi))
        scanned = _collect(ctx.range_query(self.ev, COLS, lo, hi))
        self.b.check("write.routed_equals_scan", sorted(routed) == sorted(scanned))

    def _point(self):
        i = self.rng.integers(len(self.x))
        return (float(self.x[i] + self.rng.normal(0, 2.0)),
                float(self.y[i] + self.rng.normal(0, 20.0)))

    def _box(self, size):
        cx, cy = self._point()
        fx = 10 ** (-2.0 + 1.5 * size)
        fy = fx * 10 ** self.rng.uniform(-0.25, 0.25)
        hx, hy = fx * 100.0, fy * 750.0
        return (cx - hx, cy - hy), (cx + hx, cy + hy)

    def _predicate(self, kind, size):
        """A seeded predicate; ``size`` in [0, 1) spans small to large
        boxes and radii on a log scale."""
        if kind == "range":
            return self._box(size)
        if kind == "circle":
            return self._point(), float(10 ** (0.3 + 1.9 * size))
        return self._point(), KNN_K

    def _expected(self, kind, pred):
        """Brute-force answer over the same points, as sorted event ids
        (kNN: ids in (distance, event_id) order)."""
        x, y = self.x, self.y
        if kind == "range":
            (lx, ly), (hx, hy) = pred
            return np.sort(self.ids[(x >= lx) & (x <= hx) & (y >= ly) & (y <= hy)])
        (cx, cy), arg = pred
        d2 = (0.0 + (x - cx) * (x - cx)) + (y - cy) * (y - cy)
        if kind == "circle":
            r = arg
            box = (x >= cx - r) & (x <= cx + r) & (y >= cy - r) & (y <= cy + r)
            return np.sort(self.ids[box & (d2 <= r * r)])
        return self.ids[np.lexsort((self.ids, d2))[:arg]]

    def read(self, kind, frame, size, pass_no):
        b, ctx = self.b, self.b.ctx
        pred = self._predicate(kind, size)
        df = self.indexed if frame == "indexed" else self.ev
        call = {"range": ctx.range_query, "circle": ctx.circle_range}.get(kind)
        if call is None:
            build = lambda: ctx.knn(df, COLS, pred[0], pred[1], tiebreak="event_id")
        else:
            build = lambda: call(df, COLS, *pred)
        span = b.op(f"{kind}.{frame}", build, _collect, pass_no)
        ids = [r[0] for r in span["rows"]]
        got = np.array(ids if kind == "knn" else sorted(ids), dtype=np.int64)
        want = self._expected(kind, pred)
        b.check(span["name"], b.inject(got.tolist()) == want.tolist())
        span["rows"] = len(ids)

    def _pass_ops(self):
        """(kind, frame, size) of one pass, in seeded order. The sizes of
        each kind's reads are stratified over [0, 1), so every pass, and
        every seed, asks for the same mix of small and large results."""
        ops = []
        for frame, n in (("indexed", self.indexed_per_kind), ("scan", self.scans_per_kind)):
            for k in READ_KINDS:
                sizes = (np.arange(n) + self.rng.random(n)) / n
                ops += [(k, frame, float(size)) for size in sizes]
        return [ops[i] for i in self.rng.permutation(len(ops))]

    def warmup(self):
        for op in self._pass_ops():
            self.read(*op, pass_no=0)
        self.check_layout()

    def run_pass(self, pass_no):
        if pass_no % 3 == 2:
            self.rebuild(pass_no)
        for op in self._pass_ops():
            self.read(*op, pass_no)


class _OracleChecked:
    """A fixed list of ``__spark_entry__`` queries, each called as is (the
    op name is the query name). Warm-up outputs are hash-matched against
    the queries' DuckDB oracles; later passes must reproduce the verified
    hashes."""

    ops: tuple = ()
    min_passes = 2
    full_gc_between_ops = False

    def __init__(self, bench):
        self.b = bench
        self.rng = np.random.default_rng(bench.seed)
        self.verified = {}

    def load(self, paths):
        # the queries read <data dir>/<table>.parquet themselves
        self.data_dir = os.path.dirname(paths[self.tables[0]])

    def _run(self, op, pass_no):
        import __spark_entry__ as entry

        b, query = self.b, getattr(entry, "q_" + op)
        span = b.op(op, lambda: query(b.spark, self.data_dir),
                    lambda df: (df.columns, _collect(df)),
                    pass_no, full_gc=self.full_gc_between_ops)
        cols, rows = span["rows"]
        span["rows"] = len(rows)
        return cols, rows

    def warmup(self):
        from perfbench.oracle import Oracle, value_hash

        b = self.b
        oracle = Oracle(b.paths, b.run_dir, b.cpus)
        try:
            for op in self.ops:
                cols, rows = self._run(op, pass_no=0)
                ocols, orows = oracle.answer(op)
                want = (len(orows), value_hash(orows, ocols))
                got = (len(rows), value_hash(b.inject(rows), cols))
                b.check(op, sorted(cols) == sorted(ocols) and got == want)
                self.verified[op] = want
        finally:
            oracle.close()

    def run_pass(self, pass_no):
        from perfbench.oracle import value_hash

        for i in self.rng.permutation(len(self.ops)):
            op = self.ops[i]
            cols, rows = self._run(op, pass_no)
            got = (len(rows), value_hash(self.b.inject(rows), cols))
            self.b.check(op, got == self.verified.get(op))


class SpatialJoin(_OracleChecked):
    """One op of each join and loop layer: the grid distance join and the
    bounded kNN join over customer x supplier, PageRank over the trade
    graph, DBSCAN over suppliers. One pass = all four."""

    name = "spatial_join"
    tables = ("customer", "supplier", "orders", "lineitem")
    ops = ("distance_join", "knn_join", "pagerank", "dbscan")
    # the loop ops leave eager-checkpoint blocks behind
    full_gc_between_ops = True


class JoinFamily(_OracleChecked):
    """The paper's whole join family over customer x supplier."""

    name = "join_family"
    tables = ("customer", "supplier")
    ops = JOIN_OPS


class GraphLoops(_OracleChecked):
    """PageRank, two-level Louvain and DBSCAN, one pass = all three."""

    name = "graph_loops"
    tables = ("supplier", "orders", "lineitem")
    ops = LOOP_OPS
    full_gc_between_ops = True


WORKLOADS = {w.name: w for w in (SpatialSelect, SpatialJoin, JoinFamily, GraphLoops)}
