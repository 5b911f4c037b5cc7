#!/usr/bin/env python3
"""Closed-loop benchmark of simba_spark's public API.

    python3 perfbench/run.py --workload spatial_select --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One process, one client: Spark local mode
with at most 4 task slots, each op starting only after the previous one has
returned. The run sets up (session, data load, for spatial_select the first
index build), runs one checked warm-up pass, then timed passes until
``--seconds`` have gone by. Every op's output is checked. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``,
which also writes the span sidecar). See perfbench/README.md.
"""

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REQUIRED = ("simba_spark/__init__.py", "__spark_entry__.py", "scripts/check_oracle.py")

# scale factor of the synthetic tables per workload (see data.py)
SCALES = {
    "full": {"spatial_select": 0.1, "spatial_join": 0.01, "join_family": 0.01,
             "graph_loops": 0.001},
    "tiny": {"spatial_select": 0.001, "spatial_join": 0.001, "join_family": 0.001,
             "graph_loops": 0.001},
}
# no pass after the first starts this long after process start: a run in a
# slow spell of the host ends early rather than stretching the comparison
DEADLINE_S = 100

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "read_p50_ms": "ms", "read_p75_ms": "ms",
    "ops_per_min": "1/min", "driver_heap_mb": "MB",
}


def per_layer_units(workload: str) -> dict:
    """Per-layer metric -> unit. Every run emits the same set, zero where a
    workload does not touch the layer; a workload that BENCHMARK.json does
    not list adds the metrics of its own ops."""
    from perfbench.workloads import JOIN_OPS, LOOP_OPS, SELECT_KINDS, WORKLOADS

    units = {"context.session_s": "s", "py.peak_rss_mb": "MB", "error_rate": "ratio",
             "scan_p50_ms": "ms", "write_p50_ms": "ms",
             "layouts.create_ms": "ms", "layouts.persist_ms": "ms",
             "layouts.load_ms": "ms", "layouts.disk_bytes_per_input_byte": "ratio"}
    ops = WORKLOADS["spatial_join"].ops
    ops += tuple(op for op in getattr(WORKLOADS[workload], "ops", ()) if op not in ops)
    fields = {
        SELECT_KINDS: {"build_ms": "ms", "exec_ms": "ms", "jobs": "count", "tasks": "count",
                       "rows_scanned_per_row_returned": "ratio"},
        tuple(op for op in ops if op in JOIN_OPS): {
            "build_ms": "ms", "exec_ms": "ms", "jobs": "count", "tasks": "count",
            "shuffle_bytes": "bytes", "spill_bytes": "bytes"},
        tuple(op for op in ops if op in LOOP_OPS): {
            "build_ms": "ms", "exec_ms": "ms", "jobs_build": "count", "jobs_exec": "count",
            "shuffle_bytes": "bytes", "driver_gap_ms": "ms"},
    }
    gc_kinds = SELECT_KINDS + ("write",) + ops
    for kinds, fs in fields.items():
        for k in kinds:
            units.update({f"{k}.{f}": u for f, u in fs.items()})
    units.update({f"jvm.gc_ms.{k}": "ms" for k in gc_kinds})
    return units


class Bench:
    """Shared state of one run: session, tracer, tables, error counts."""

    def __init__(self, args, run_dir):
        self.seed, self.run_dir = args.seed, run_dir
        self.cpus = min(4, len(os.sched_getaffinity(0)))
        self.inject_left = args.inject_wrong
        self.attempted, self.errors = 0, []

    def op(self, kind, build, action, pass_no, full_gc=False, **attrs):
        # between ops, outside the timed span: drop what the last op left
        # behind; with full_gc also collect the JVM heap, which lets Spark's
        # ContextCleaner free the shuffle and checkpoint blocks of dropped
        # DataFrames before they pile up
        gc.collect()
        if full_gc:
            self.tracer.full_gc()
        self.attempted += 1
        return self.tracer.op(kind, build, action, pass_no, **attrs)

    def check(self, name, ok):
        if not ok:
            self.errors.append(f"wrong answer: {name}")

    def inject(self, answer):
        """Corrupt the next ``--inject-wrong`` answers (tests only)."""
        if self.inject_left <= 0:
            return answer
        self.inject_left -= 1
        return answer[1:] if answer else [None]


def start_session(run_dir, cpus):
    """Local Spark session whose scratch files stay inside ``run_dir``."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    from simba_spark.context import get_spark

    return get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })


def stop_session(spark):
    """Stop Spark and wait for the JVM process to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def p75(xs):
    return statistics.quantiles(xs, n=4, method="inclusive")[2] if len(xs) > 1 else xs[0]


def median_or_zero(xs):
    return statistics.median(xs) if xs else 0.0


def latency_ms(s):
    return s["build_ms"] + s["exec_ms"]


def end_to_end(wl, spans, passes, setup_s, heap_mb):
    timed = [s for s in spans if s["pass_no"] >= 1]
    ops = [s for s in timed if not s["name"].startswith("write.")]
    if wl.name == "spatial_select":
        lat = [latency_ms(s) for s in ops if s["name"].endswith(".indexed")]
        read_p50, read_p75 = statistics.median(lat), p75(lat)
    else:
        # a fixed op list whose ops lie far apart: the geometric mean of
        # the per-op percentiles, so that a speed-up to any op moves it
        by_op = {}
        for s in ops:
            by_op.setdefault(s["name"], []).append(latency_ms(s))
        lat = [x for xs in by_op.values() for x in xs]
        read_p50 = statistics.geometric_mean([statistics.median(xs) for xs in by_op.values()])
        read_p75 = statistics.geometric_mean([p75(xs) for xs in by_op.values()])
    n_ops = len(ops) + len({s["rebuild"] for s in timed if "rebuild" in s})
    busy_s = sum(latency_ms(s) for s in timed) / 1e3
    return {
        "setup_s": (setup_s, 1),
        "pass_s": (statistics.median(passes), len(passes)),
        "read_p50_ms": (read_p50, len(lat)),
        "read_p75_ms": (read_p75, len(lat)),
        "ops_per_min": (60.0 * n_ops / busy_s, n_ops),
        "driver_heap_mb": (heap_mb, 1),
    }


def _both(field):
    return lambda s: s["build"][field] + s["exec"][field]


# per-op figures of a traced span, by per-layer metric suffix
SPAN_FIELDS = {
    "build_ms": lambda s: s["build_ms"], "exec_ms": lambda s: s["exec_ms"],
    "jobs": _both("jobs"), "tasks": _both("tasks"),
    "shuffle_bytes": _both("shuffle_bytes"), "spill_bytes": _both("spill_bytes"),
    "jobs_build": lambda s: s["build"]["jobs"], "jobs_exec": lambda s: s["exec"]["jobs"],
    "driver_gap_ms": lambda s: s["driver_gap_ms"],
    "rows_scanned_per_row_returned": lambda s: _both("input_records")(s) / max(1, s["rows"]),
}


def per_layer(wl, spans, session_s, error_rate):
    units = per_layer_units(wl.name)
    out = {name: (0.0, 0) for name in units}
    timed = [s for s in spans if s["pass_no"] >= 1]

    def put(name, xs):
        out[name] = (float(median_or_zero(xs)), len(xs))

    by_kind = {}
    for s in timed:
        by_kind.setdefault(s["name"], []).append(s)
    for kind, ss in by_kind.items():
        for field, get in SPAN_FIELDS.items():
            if f"{kind}.{field}" in units:
                put(f"{kind}.{field}", [get(s) for s in ss])
        if not kind.startswith("write."):
            put(f"jvm.gc_ms.{kind}", [s["gc_ms"] for s in ss])
    writes = {}
    for s in timed:
        if s["name"].startswith("write."):
            writes.setdefault(s["rebuild"], []).append(s)
    if writes:
        for step in ("create", "persist", "load"):
            put(f"layouts.{step}_ms", [s["build_ms"] for s in timed if s["name"] == f"write.{step}"])
        put("write_p50_ms", [sum(s["build_ms"] for s in w) for w in writes.values()])
        put("jvm.gc_ms.write", [sum(s["gc_ms"] for s in w) for w in writes.values()])
        out["layouts.disk_bytes_per_input_byte"] = (wl.disk_bytes / wl.src_bytes, len(writes))
    put("scan_p50_ms", [latency_ms(s) for s in timed if s["name"].endswith(".scan")])
    out["context.session_s"] = (session_s, 1)
    out["py.peak_rss_mb"] = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, 1)
    out["error_rate"] = (error_rate, 1)
    return out, units


def run(args, run_dir):
    from perfbench.data import make_tables, write_tables
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    bench = Bench(args, run_dir)
    spark = start_session(run_dir, bench.cpus)
    try:
        from simba_spark.context import SimbaContext

        bench.spark, bench.ctx = spark, SimbaContext(spark)
        session_s = time.time() - T_PROCESS
        bench.tracer = Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](bench)
        sf = SCALES[args.scale][wl.name]

        # the harness's own input generation stays off the set-up clock
        t0 = time.perf_counter()
        bench.tables = make_tables(sf, wl.tables)
        bench.paths = write_tables(bench.tables, os.path.join(run_dir, "data"))
        t1 = time.perf_counter()
        wl.load(bench.paths)
        load_s = time.perf_counter() - t1
        setup_s = session_s + load_s
        phases = {"session": session_s, "generate": t1 - t0, "load": load_s}
        t0 = time.perf_counter()
        if hasattr(wl, "first_build"):
            wl.first_build()
            setup_s += sum(s["build_ms"] for s in bench.tracer.spans
                           if s.get("rebuild") == 1) / 1e3
        t1 = time.perf_counter()
        wl.warmup()
        phases.update(first_build=t1 - t0, warmup=time.perf_counter() - t1)
        # everything set-up allocated stays alive: keep it out of the
        # collections between ops
        gc.collect()
        gc.freeze()
        passes, t_start = [], time.perf_counter()
        while (len(passes) < wl.min_passes or time.perf_counter() - t_start < args.seconds) \
                and not (passes and time.time() - T_PROCESS > DEADLINE_S):
            n0 = len(bench.tracer.spans)
            gc.collect()
            bench.tracer.full_gc()
            try:
                wl.run_pass(len(passes) + 1)
            except Exception as e:  # counted as a failed op; the pass is dropped
                traceback.print_exc()
                bench.errors.append(f"op failed: {type(e).__name__}: {e}"[:500])
                if len(bench.errors) > 3:
                    raise
                continue
            # an index rebuild is an op of its own, not part of the pass
            passes.append(sum(latency_ms(s) for s in bench.tracer.spans[n0:]
                              if "rebuild" not in s) / 1e3)

        phases["timed"] = time.perf_counter() - t_start
        # Spark's ContextCleaner frees the blocks of dropped frames in the
        # background, after a GC has found them, and a freed block may hold
        # the last reference to the next: collect until the heap in use has
        # stopped shrinking for two rounds
        heap_mb, still = float("inf"), 0
        for _ in range(12):
            gc.collect()
            bench.tracer.full_gc()
            time.sleep(0.3)
            last, heap_mb = heap_mb, bench.tracer.heap_used_mb()
            still = still + 1 if last - heap_mb < 0.5 else 0
            if still == 2:
                break
        spans = bench.tracer.spans
        e2e = end_to_end(wl, spans, passes, setup_s, heap_mb)
        failed = len(bench.errors)
        report = {"end_to_end": e2e, "units": END_TO_END}
        if args.trace:
            layers, units = per_layer(wl, spans, session_s, failed / bench.attempted)
            report = {"per_layer": layers, "units": units}
            os.makedirs(args.out_dir, exist_ok=True)
            bench.tracer.write_sidecar(
                os.path.join(args.out_dir, f"trace-{wl.name}-seed{args.seed}.json"),
                {"workload": wl.name, "seed": args.seed, "sf": sf, "cpus": bench.cpus,
                 "pass_s": passes, "setup": {"session_s": session_s, "load_s": load_s},
                 "end_to_end": {k: v[0] for k, v in e2e.items()},
                 "per_layer": {k: v[0] for k, v in layers.items()},
                 "errors": bench.errors})
    finally:
        stop_session(spark)

    values = report.get("per_layer") or report["end_to_end"]
    phases["total"] = time.time() - T_PROCESS
    print("# phases_s " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()))
    for err in bench.errors:
        print(f"# {err}")
    print(f"# {wl.name} seed={args.seed} sf={sf} cpus={bench.cpus} passes={len(passes)} "
          f"pass_s=[{', '.join(f'{p:.3f}' for p in passes)}]")
    for name, (value, n) in values.items():
        print(f"# {name:44s} {value:14.4f} {report['units'][name]:6s} n={n}")
    return {
        "correct": failed == 0, "attempted": bench.attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": report["units"][k]} for k, (v, _) in values.items()},
    }


def main(argv=None):
    from_dir = os.getcwd()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("spatial_select", "spatial_join", "join_family", "graph_loops"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SCALES), default="full")
    ap.add_argument("--inject-wrong", type=int, default=0,
                    help="corrupt this many op answers before checking (tests)")
    ap.add_argument("--out-dir", default=os.path.join(from_dir, ".perfbench_out"),
                    help="where --trace 1 writes its span sidecar")
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}; "
              "run from the root of a simba_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{os.getpid()}")
    os.makedirs(run_dir)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
