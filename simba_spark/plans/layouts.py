"""Layouts — the engine's analog of the reference's two-level indexes.

The reference builds RDD-level indexed relations: a spatial partitioner,
a per-partition local index, and a driver-side global index of partition
bounds (ref: index/IndexedRelation.scala:30,49-60,
RTreeIndexedRelation.scala:61-87), managed by an IndexManager with
create/drop/persist/load DDL (ref: IndexManager.scala:35-318). Queries
against an indexed relation prune whole partitions via the global index
and a ``PartitionPruningRDD`` (ref: IndexedRelationScan.scala:57-87) —
tasks for pruned partitions never launch.

Our engine replaces that runtime structure with a *layout*:

- the DataFrame is z-order (or range) clustered and either cached or
  written as Parquet — clustering makes Parquet row-group min/max stats
  selective, which does the local index's job for free;
- pruning is expressed as **sargable z-interval predicates** on the
  cluster key (``__simba_z BETWEEN a AND b OR ...`` — see
  :mod:`simba_spark.plans.zcurve`): the Parquet reader skips row groups
  whose stats miss every interval, and Spark's in-memory cache skips
  column batches the same way. This is predicate-driven I/O pruning —
  the executor never decompresses the skipped bytes — rather than a
  row filter that scans everything and drops rows;
- persisted layouts additionally write **bucket directories**
  (``__simba_zb = z >> shift`` as a partition column), so a query's
  bucket set prunes *files at planning time* — the Spark-native
  equivalent of the reference's PartitionPruningRDD (tasks for pruned
  buckets never exist);
- a small driver-side **bounds table** (one row per z-bucket: min/max
  per dimension + count) is the global index analog, used by the
  two-phase kNN scan to pick its first-pass bucket prefix;
- a Python registry keyed by name is the IndexManager analog, with
  persist/load = Parquet + JSON metadata
  (ref parity: IndexManager.persistIndex/loadIndex, scala:122-176).

At the 100 TB design point the bounds table is one row per bucket
(hundreds to thousands of rows) — constant driver memory; the data
itself never visits the driver, and the bucket key is derived from the
data (not from runtime partition ids), so it stays valid across
writer/reader repartitioning.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field
from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions import z_value_col
from .zcurve import buckets_for_ranges, merge_ranges, z_range_cover

ZCOL = "__simba_z"
ZBCOL = "__simba_zb"


@dataclass
class Layout:
    name: str
    cols: list
    kind: str                      # 'zorder' | 'range' (1-D) | 'hash'
    df: DataFrame                  # clustered data incl. ZCOL (cached or file-backed)
    bounds: list = field(default_factory=list)  # [{zb|pid, count, min_i, max_i...}]
    mins: list = field(default_factory=list)
    maxs: list = field(default_factory=list)
    bits: int = 0                  # z-curve resolution per dim (zorder only)
    zshift: int = 0                # bucket id = z >> zshift (zorder only)
    source_path: Optional[str] = None  # set iff persisted (file-backed)
    data: Optional[DataFrame] = None   # df without internal columns

    # -- grid math --------------------------------------------------------
    @property
    def _scale(self) -> int:
        return (1 << self.bits) - 1

    def _grid_box(self, low: Sequence[float], high: Sequence[float]):
        """Conservative scaled-int box for a real-coordinate query box.
        Build-time ints use round(); floor-1/ceil+1 margins make the
        cover a guaranteed superset regardless of rounding mode."""
        scale = self._scale
        lo_i, hi_i = [], []
        for i in range(len(self.cols)):
            mn, mx = self.mins[i], self.maxs[i]
            span = (mx - mn) if mx > mn else 1.0
            lo = math.floor((float(low[i]) - mn) / span * scale) - 1
            hi = math.ceil((float(high[i]) - mn) / span * scale) + 1
            lo_i.append(max(0, min(scale, lo)))
            hi_i.append(max(0, min(scale, hi)))
        return lo_i, hi_i

    def z_ranges_for_box(
        self, low: Sequence[float], high: Sequence[float], max_ranges: int = 32
    ) -> Optional[List[Tuple[int, int]]]:
        """Z-interval cover of the query box, or None when the box spans
        the whole domain (no pruning possible)."""
        lo_i, hi_i = self._grid_box(low, high)
        scale = self._scale
        if all(l <= 0 for l in lo_i) and all(h >= scale for h in hi_i):
            return None
        return z_range_cover(lo_i, hi_i, len(self.cols), self.bits, max_ranges)

    def z_ranges_for_buckets(self, zbs: Sequence[int]) -> List[Tuple[int, int]]:
        """Closed z-intervals owned by the given bucket ids."""
        return merge_ranges(
            [(zb << self.zshift, ((zb + 1) << self.zshift) - 1) for zb in zbs]
        )

    # -- scan building ----------------------------------------------------
    def scan(self) -> DataFrame:
        """The clustered relation including the internal z column
        (and, when file-backed, the bucket directory column)."""
        return self.df

    def pruned_scan(self, z_ranges: Optional[List[Tuple[int, int]]]) -> DataFrame:
        """Scan with z-interval predicates applied and internal columns
        dropped — schema == ``self.data``. Sargable: row-group skipping
        on Parquet, batch skipping on cached data; for persisted layouts
        the bucket-id IN-list additionally prunes files at planning time."""
        base = self.df
        if z_ranges is not None and len(z_ranges) == 0:
            # provably empty — keep schema, scan nothing
            return self.data.filter(F.lit(False))
        if z_ranges is not None:
            # SQL text, one parse per filter: a Column chain of ~100
            # intervals costs ~1,000 py4j round trips on the driver
            if self.source_path is not None:
                zbs = buckets_for_ranges(z_ranges, self.zshift)
                if zbs is not None:
                    base = base.filter(
                        f"{ZBCOL} IN ({', '.join(str(int(z)) for z in zbs)})")
            base = base.filter(" OR ".join(
                f"({ZCOL} >= {int(a)}L AND {ZCOL} <= {int(b)}L)"
                for a, b in z_ranges))
        drop = [c for c in (ZCOL, ZBCOL) if c in base.columns]
        return base.drop(*drop)

    def candidate_partitions(self, low: Sequence[float], high: Sequence[float]):
        """Global-index probe: buckets whose bounds box intersects the
        closed query box (ref analog: global R-tree range,
        IndexedRelationScan.scala:57-87)."""
        key = "zb" if self.kind == "zorder" else "pid"
        out = []
        for b in self.bounds:
            hit = all(
                b[f"min_{i}"] is not None
                and not (b[f"max_{i}"] < low[i] or b[f"min_{i}"] > high[i])
                for i in range(len(self.cols))
            )
            if hit:
                out.append(b[key])
        return out


class LayoutRegistry:
    """Name → Layout registry (IndexManager analog,
    ref: IndexManager.scala:35-51,189-318)."""

    def __init__(self, ctx):
        self.ctx = ctx
        self._layouts: dict = {}
        # df-identity → name for transparent routing of filter calls
        self._by_df_id: dict = {}
        # semantic-hash → name: routes fresh reads of a persisted layout's
        # path (the reference's sameResult matching, QueryExecution.scala:30-33)
        self._by_sem: dict = {}
        # sorted-file-set → name: routes SQL-defined views over the path
        self._by_files: dict = {}

    # -- DDL --------------------------------------------------------------
    def create(
        self,
        df: DataFrame,
        cols: Sequence[str],
        name: str,
        kind: str = "zorder",
        num_partitions: Optional[int] = None,
        storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    ) -> Layout:
        """Cluster df on cols and register as `name`.

        zorder: interleave dims on a 2^bits grid → repartitionByRange on
        the z key → sortWithinPartitions (spatial locality in every
        partition and every Parquet row group).
        range: 1-D repartitionByRange (TreeMap/Treap analog,
        ref: TreeMapIndexedRelation.scala:41-60).
        hash: hash partitioning on the key (HashMap analog,
        ref: HashMapIndexedRelation.scala:39-56).
        """
        cols = list(cols)
        n = num_partitions or min(
            self.ctx.conf.index_partitions,
            max(1, df.sparkSession.sparkContext.defaultParallelism * 2),
        )
        bits = 0
        zshift = 0
        if kind == "zorder":
            stats = df.agg(
                *[F.min(c).alias(f"mn{i}") for i, c in enumerate(cols)],
                *[F.max(c).alias(f"mx{i}") for i, c in enumerate(cols)],
            ).collect()[0]
            bits = int(self.ctx.conf.get("simba_spark.zorder.bits", 21))
            bits = min(bits, 62 // len(cols))
            mins = [float(stats[f"mn{i}"]) for i in range(len(cols))]
            maxs = [float(stats[f"mx{i}"]) for i in range(len(cols))]
            spans = [mx - mn if mx > mn else 1.0 for mn, mx in zip(mins, maxs)]
            scale = (1 << bits) - 1
            ints = [
                F.least(
                    F.lit(scale),
                    F.greatest(
                        F.lit(0),
                        F.round((F.col(c) - F.lit(mn)) / F.lit(sp) * F.lit(scale)).cast("long"),
                    ),
                )
                for c, mn, sp in zip(cols, mins, spans)
            ]
            keyed = df.withColumn(ZCOL, z_value_col(ints, bits=bits))
            clustered = (
                keyed.repartitionByRange(n, F.col(ZCOL))
                .sortWithinPartitions(ZCOL)
            )
            # bucket granularity: data-derived key (stable across reads),
            # sized so the bounds table stays a few hundred rows
            target_buckets = int(self.ctx.conf.get("simba_spark.layout.buckets", 128))
            zshift = max(0, len(cols) * bits - max(1, target_buckets - 1).bit_length())
        elif kind == "range":
            assert len(cols) == 1, "range layout is 1-D (TreeMap/Treap analog)"
            mins = maxs = []
            clustered = (
                df.withColumn(ZCOL, F.col(cols[0]).cast("double"))
                .repartitionByRange(n, F.col(ZCOL))
                .sortWithinPartitions(ZCOL)
            )
        elif kind == "hash":
            assert len(cols) == 1, "hash layout is 1-D"
            mins = maxs = []
            clustered = df.withColumn(ZCOL, F.col(cols[0])).repartition(n, *cols)
        else:
            raise ValueError(f"unknown layout kind: {kind}")

        clustered = clustered.persist(storage_level)
        bounds = self._collect_bounds(clustered, cols, kind, zshift)
        data = clustered.drop(ZCOL)
        layout = Layout(
            name=name, cols=cols, kind=kind, df=clustered,
            bounds=bounds, mins=list(mins), maxs=list(maxs),
            bits=bits, zshift=zshift, data=data,
        )
        self._register(layout)
        return layout

    def _collect_bounds(self, df: DataFrame, cols, kind: str, zshift: int) -> list:
        """Driver-side bounds table (global index analog): one row per
        z-bucket (zorder — data-derived, survives repartitioning) or per
        partition (range/hash). Cheap: a single partial-agg shuffle of
        a few hundred rows."""
        aggs = [F.count(F.lit(1)).alias("count")]
        for i, c in enumerate(cols):
            aggs += [F.min(c).alias(f"min_{i}"), F.max(c).alias(f"max_{i}")]
        if kind == "zorder":
            key = F.shiftright(F.col(ZCOL), zshift).alias("zb")
        else:
            key = F.spark_partition_id().alias("pid")
        rows = df.groupBy(key).agg(*aggs).collect()
        return [r.asDict() for r in rows]

    def _register(self, layout: Layout) -> None:
        self._layouts[layout.name] = layout
        # register both handles: the raw clustered df (with z column) and
        # the clean projection; plus their semantic fingerprints so a
        # structurally-equal plan (e.g. a fresh read of the persisted
        # path) routes without holding the original Python object
        for d in (layout.df, layout.data):
            if d is None:
                continue
            self._by_df_id[id(d)] = layout.name
            h = _sem_hash(d)
            if h is not None:
                self._by_sem[h] = layout.name
        if layout.source_path is not None:
            try:
                self._by_files[tuple(sorted(layout.df.inputFiles()))] = layout.name
            except Exception:
                pass

    def drop(self, name: str) -> bool:
        lay = self._layouts.pop(name, None)
        if lay is None:
            return False
        for d in (lay.df, lay.data):
            if d is None:
                continue
            self._by_df_id.pop(id(d), None)
            h = _sem_hash(d)
            if h is not None:
                self._by_sem.pop(h, None)
        self._by_files = {k: v for k, v in self._by_files.items() if v != name}
        try:
            lay.df.unpersist()
        except Exception:
            pass
        return True

    def set_storage_level(self, name: str, storage_level: StorageLevel) -> bool:
        """Post-hoc storage-level change for an in-memory layout
        (ref: DataSet.setStorageLevel, DataSet.scala:178-226). File-backed
        layouts have no cached blocks — promoting one pins its scan into
        the requested cache level from the next action on."""
        lay = self._layouts.get(name)
        if lay is None:
            return False
        try:
            lay.df.unpersist(blocking=False)
        except Exception:
            pass
        lay.df.persist(storage_level)
        return True

    def has(self, name: str) -> bool:
        return name in self._layouts

    def get(self, name: str) -> Optional[Layout]:
        return self._layouts.get(name)

    def show(self):
        return [
            {"name": l.name, "cols": l.cols, "kind": l.kind,
             "partitions": len(l.bounds),
             "rows": sum(b["count"] for b in l.bounds)}
            for l in self._layouts.values()
        ]

    def clear(self):
        for name in list(self._layouts):
            self.drop(name)

    # -- persist / load (ref: IndexManager.scala:122-176) ----------------
    def persist(self, name: str, path: str) -> str:
        """Write the layout as bucket-partitioned Parquet + JSON metadata,
        and re-point the registered layout at the file-backed relation so
        subsequent queries plan file-level pruning.

        Layout on disk: ``data/__simba_zb=<bucket>/*.parquet`` with rows
        z-sorted inside each file — directory pruning (planning time) +
        row-group skipping (scan time) replace the reference's global +
        local index probe."""
        lay = self._layouts[name]
        data_path = os.path.join(path, "data")
        writer = lay.df
        if lay.kind == "zorder":
            writer = writer.withColumn(ZBCOL, F.shiftright(F.col(ZCOL), lay.zshift))
            writer.write.mode("overwrite").partitionBy(ZBCOL).parquet(data_path)
        else:
            writer.write.mode("overwrite").parquet(data_path)
        meta = {
            "name": lay.name, "cols": lay.cols, "kind": lay.kind,
            "bounds": lay.bounds, "mins": lay.mins, "maxs": lay.maxs,
            "bits": lay.bits, "zshift": lay.zshift, "zcol": ZCOL,
        }
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "layout.json"), "w") as f:
            json.dump(meta, f, default=str)
        # swap the in-memory relation for the file-backed one
        self.drop(name)
        self.load(name, path)
        return path

    def load(self, name: str, path: str) -> Layout:
        """Re-register a persisted layout. Metadata-only for zorder
        layouts — the bounds table is keyed by the data-derived z-bucket,
        so it stays valid across writer/reader partitioning (no Spark job
        here). range/hash bounds are partition-id keyed and stale after a
        round-trip, so they are recomputed."""
        with open(os.path.join(path, "layout.json")) as f:
            meta = json.load(f)
        df = self.ctx.spark.read.parquet(os.path.join(path, "data"))
        kind = meta["kind"]
        zshift = int(meta.get("zshift", 0))
        if kind == "zorder":
            bounds = [
                {k: (int(v) if k in ("zb", "count") else (None if v is None else float(v)))
                 for k, v in b.items()}
                for b in meta["bounds"]
            ]
        else:
            bounds = self._collect_bounds(df, meta["cols"], kind, zshift)
        drop_cols = [c for c in (meta.get("zcol", ZCOL), ZBCOL) if c in df.columns]
        data = df.drop(*drop_cols)
        layout = Layout(
            name=name, cols=meta["cols"], kind=kind, df=df,
            bounds=bounds,
            mins=[float(m) for m in meta["mins"]],
            maxs=[float(m) for m in meta["maxs"]],
            bits=int(meta.get("bits", 0)),
            zshift=zshift,
            source_path=path,
            data=data,
        )
        self._register(layout)
        return layout

    # -- routing ----------------------------------------------------------
    def layout_for(self, df: DataFrame) -> Optional[Layout]:
        name = self._by_df_id.get(id(df))
        if name is None:
            h = _sem_hash(df)
            if h is not None:
                name = self._by_sem.get(h)
        if name is None and self._by_files:
            # last resort for SQL-defined views over a persisted layout's
            # path (their analyzed plan hashes differently): match the
            # scanned file set, but ONLY for provably-bare scans — a
            # user filter/rename must never be silently replaced by the
            # full relation
            files = _bare_scan_files(df)
            if files:
                name = self._by_files.get(files)
                if name is not None:
                    lay = self._layouts.get(name)
                    if lay is None or df.schema not in (
                        lay.df.schema, lay.data.schema if lay.data is not None else None
                    ):
                        name = None
        return self._layouts.get(name) if name else None

    def circle_scan(self, df: DataFrame, cols, center, radius) -> Optional[DataFrame]:
        """Partition-covered short-circuit for circle queries
        (ref: Dist.furthest, spatial/Dist.scala:24-34, used at
        IndexedRelationScan.scala:169 to skip the local probe when the
        query ball swallows a whole partition): buckets whose bounds box
        lies ENTIRELY inside the ball scan with no per-row distance
        arithmetic (null and NaN guard only); partially
        covered buckets keep the sargable box pre-filter + exact circle
        test. Returns None when no bucket is fully covered — the caller
        falls back to the ordinary pruned scan, which already handles
        that case optimally."""
        lay = self.layout_for(df)
        if (
            lay is None
            or lay.kind != "zorder"
            or list(cols) != lay.cols
            or lay.bits <= 0
            or not lay.bounds
        ):
            return None
        r = float(radius)
        ctr = [float(c) for c in center]
        lo = [c - r for c in ctr]
        hi = [c + r for c in ctr]
        nd = len(lay.cols)
        covered, partial = [], []
        for b in lay.bounds:
            if any(b.get(f"min_{i}") is None for i in range(nd)):
                partial.append(b["zb"])
                continue
            if any(b[f"max_{i}"] < lo[i] or b[f"min_{i}"] > hi[i] for i in range(nd)):
                continue  # disjoint from the ball's bounding box
            far2 = 0.0
            for i in range(nd):
                far = max(abs(ctr[i] - b[f"min_{i}"]), abs(ctr[i] - b[f"max_{i}"]))
                far2 += far * far
            (covered if far2 <= r * r else partial).append(b["zb"])
        if not covered:
            return None
        from ..functions import in_circle_range, in_range

        parts = []
        cov = lay.pruned_scan(lay.z_ranges_for_buckets(covered))
        # bounds ignore nulls, and NaN never passes the circle test
        parts.append(cov.dropna(subset=lay.cols))
        if partial:
            par = lay.pruned_scan(lay.z_ranges_for_buckets(partial))
            parts.append(
                par.filter(in_range(lay.cols, lo, hi)).filter(
                    in_circle_range(lay.cols, ctr, r)
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def prune_for_range(self, df: DataFrame, cols, low, high) -> DataFrame:
        """If df is a registered z-order layout on these cols, rewrite the
        scan with sargable z-interval predicates (+ bucket-dir pruning for
        persisted layouts) covering [low, high]. Semantically a no-op:
        the cover is a superset of the box, and callers keep the exact
        per-dimension filter on top.

        Selectivity-adaptive (ref: IndexedRelationScan.scala:173-180 via
        SimbaConf's index threshold, SimbaConf.scala:132-154): when the
        bounds table says the query box touches more than
        ``simba_spark.layout.selectivity_threshold`` (default 0.8) of the
        rows, pruning cannot skip meaningful I/O and the z-interval OR
        would be pure per-row overhead — fall back to the plain scan."""
        lay = self.layout_for(df)
        if (
            lay is None
            or lay.kind != "zorder"
            or list(cols) != lay.cols
            or lay.bits <= 0
        ):
            return df
        lo = [float(x) for x in low]
        hi = [float(x) for x in high]
        ranges = lay.z_ranges_for_box(lo, hi)
        if ranges is None:
            return df
        if len(ranges) > 0 and lay.bounds and lay.zshift > 0:
            thresh = float(
                self.ctx.conf.get("simba_spark.layout.selectivity_threshold", 0.8)
            )
            covered = set()
            for a, z in ranges:
                covered.update(range(a >> lay.zshift, (z >> lay.zshift) + 1))
            total = sum(b["count"] for b in lay.bounds)
            hit = sum(b["count"] for b in lay.bounds if b["zb"] in covered)
            if total > 0 and hit / total > thresh:
                return df
        return lay.pruned_scan(ranges)


def _bare_scan_files(df: DataFrame):
    """The sorted scanned-file tuple IFF the analyzed plan is a bare
    relation scan — only Project (pass-through, no aliases) /
    SubqueryAlias / View / Relation nodes. Anything else (Filter, Join,
    computed Project, …) returns None: mis-routing a transformed plan to
    the full relation would silently change results."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    for raw in plan.splitlines():
        stripped = raw.strip().lstrip("+-:").strip()
        if not stripped:
            continue
        head = stripped.split(" ", 1)[0].split("[", 1)[0]
        if head not in ("Project", "SubqueryAlias", "View", "Relation"):
            return None
        if head == "Project" and " AS " in stripped:
            # SQL views insert schema-stabilizing self-casts
            # (`cast(x#1 as double) AS x#9`) — pass-through by
            # construction; any OTHER alias is a real rename → reject
            import re

            casts = re.findall(
                r"cast\((\w+)#\d+[A-Za-z]* as [^)]+\) AS (\w+)#\d+", stripped
            )
            if len(casts) != stripped.count(" AS ") or any(
                a != b for a, b in casts
            ):
                return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    return tuple(sorted(files)) if files else None


def _sem_hash(df: DataFrame):
    """Semantic fingerprint of a DataFrame's analyzed plan (None if the
    backend doesn't expose one). Two reads of the same parquet path hash
    equal — our analog of the reference's sameResult index matching."""
    try:
        return ("sem", df.semanticHash())
    except Exception:
        return None
