"""Per-op timing, Spark job attribution and the trace sidecar.

Every op runs in two phases: *build* (the operator call that returns a
DataFrame; loop operators fire eager checkpoint and collect jobs here) and
*exec* (the action that brings the rows to the driver). Each phase of each
op gets its own Spark job group, ``pb<n>.<kind>.build`` and
``pb<n>.<kind>.exec``, in traced and untraced runs alike, so the two modes
differ only in the bookkeeping done after an op has returned.

With tracing on, right after each op the jobs of its two groups are read
from Spark's status store (which keeps only the last
``spark.ui.retainedJobs`` jobs, so reading per op never loses any), along
with their stages, and the JVM's ``GarbageCollectorMXBean`` times. Each op
becomes one span in memory; :meth:`Tracer.write_sidecar` writes them all
out at the end.
"""

from __future__ import annotations

import json
import time

_PHASES = ("build", "exec")


def _ms(opt_date):
    return opt_date.get().getTime() if opt_date.isDefined() else None


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list = []
        self._n = 0
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._mx = self.sc._jvm.java.lang.management.ManagementFactory

    # -- JVM probes ---------------------------------------------------------
    def gc_ms(self) -> int:
        return sum(b.getCollectionTime()
                   for b in self._mx.getGarbageCollectorMXBeans())

    def full_gc(self) -> None:
        self.sc._jvm.java.lang.System.gc()

    def heap_used_mb(self) -> float:
        return self._mx.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20

    # -- one op ---------------------------------------------------------------
    def op(self, kind: str, build, action, pass_no: int, **attrs) -> dict:
        """Run ``action(build())``; record and return its span.

        The span holds ``rows`` (the action's result), ``build_ms`` and
        ``exec_ms``; a traced span also holds the job, task, stage-byte and
        GC figures of both phases."""
        self._n += 1
        group = f"pb{self._n}.{kind}"
        gc0 = self.gc_ms() if self.enabled else 0
        wall0 = time.time()
        self.sc.setJobGroup(f"{group}.build", kind)
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        self.sc.setJobGroup(f"{group}.exec", kind)
        rows = action(df) if action else None
        t2 = time.perf_counter()
        self.sc.setJobGroup("perfbench.idle", "between ops")
        del df
        span = dict(attrs, name=kind, pass_no=pass_no, start=wall0,
                    end=wall0 + (t2 - t0), rows=rows,
                    build_ms=(t1 - t0) * 1e3, exec_ms=(t2 - t1) * 1e3)
        if self.enabled:
            span["gc_ms"] = self.gc_ms() - gc0
            build_end = wall0 + (t1 - t0)
            for phase in _PHASES:
                span[phase] = self._jobs(f"{group}.{phase}", wall0 * 1e3,
                                         span["end"] * 1e3 + 1.0)
            span["driver_gap_ms"] = max(
                0.0, span["build_ms"] - _busy_ms(span["build"]["intervals"],
                                                 wall0 * 1e3, build_end * 1e3))
        self.spans.append(span)
        return span

    def _jobs(self, group: str, lo_ms: float, hi_ms: float) -> dict:
        """Totals of the jobs in ``group`` and of the stages they ran."""
        out = {"jobs": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0,
               "input_records": 0, "intervals": []}
        seen = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            out["jobs"] += 1
            out["tasks"] += job.numCompletedTasks()
            sub, done = _ms(job.submissionTime()), _ms(job.completionTime())
            if sub is not None:
                out["intervals"].append((sub, done if done is not None else hi_ms))
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                started = _ms(st.submissionTime())
                # a stage reused from an earlier op shows up again as
                # skipped (or with its old submission time): count it once
                if st.status().toString() == "SKIPPED" or started is None \
                        or not lo_ms <= started <= hi_ms:
                    continue
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
                out["input_records"] += st.inputRecords()
        return out

    # -- sidecar --------------------------------------------------------------
    def write_sidecar(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            json.dump(dict(header, spans=self.spans), f, indent=1, default=str)


def _busy_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    busy, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return busy
