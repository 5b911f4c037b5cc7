#!/usr/bin/env python
"""Profile one headline query: wall time + per-job / per-stage breakdown.

Usage: python scripts/profile_query.py <query> [reps]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).

Prints, for the LAST rep (warm): the build phase's wall time, py4j
round trips and Spark jobs (everything the query call does before the
action), every job with duration, and the top-15 stages by duration
with name + task count + shuffle bytes.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main(name: str, reps: int = 2) -> int:
    import __spark_entry__ as entrymod
    from simba_spark.context import get_spark
    from simba_spark.driver_cost import DriverCost

    spark = get_spark(app_name=f"profile_{name}", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS),
                      extra_conf={"spark.ui.enabled": "true",
                                  "spark.ui.port": "4099"})
    sc = spark.sparkContext
    qs = dict(entrymod.queries())
    qs.update(getattr(entrymod, "extra_queries", dict)())
    if hasattr(entrymod, "prepare"):
        try:
            entrymod.prepare(spark, SF_DIR)
        except Exception as e:
            print(f"# prepare failed: {e}", file=sys.stderr)
    fn = qs[name]
    # warm-up reps
    for i in range(reps - 1):
        t0 = time.time()
        df = fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        print(f"rep {i} (warm-up): {time.time() - t0:.2f}s")

    tracker = sc.statusTracker()
    before_jobs = set(tracker.getJobIdsForGroup(None) or [])
    jt = spark._jsparkSession.sparkContext().statusTracker()
    t0 = time.time()
    sc.setJobDescription(f"profile:{name}")
    with DriverCost(spark) as build:
        df = fn(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    t_total = time.time() - t0
    print(f"\n=== {name}: total {t_total:.2f}s (plan build {build.seconds:.2f}s, "
          f"{build.py4j_calls} py4j round trips, {build.jobs} jobs) ===")

    store = spark._jsparkSession.sparkContext().ui().get().store()
    jobs = store.jobsList(None)
    it = jobs.iterator()
    rows = []
    while it.hasNext():
        j = it.next()
        jid = j.jobId()
        if jid in before_jobs:
            continue
        try:
            sub = j.submissionTime().get().getTime() / 1000.0
            dur = j.completionTime().get().getTime() / 1000.0 - sub
        except Exception:
            sub, dur = -1.0, -1.0
        rows.append((jid, sub, dur, j.numTasks(), str(j.name())[:60]))
    rows.sort()
    print(f"{len(rows)} jobs (gap = idle driver time since prev job end):")
    prev_end = None
    for jid, sub, dur, nt, nm in rows:
        gap = (sub - prev_end) if (prev_end is not None and sub > 0) else 0.0
        if sub > 0 and dur >= 0:
            prev_end = sub + dur
        print(f"  job {jid:4d}  gap {gap:6.2f}s  run {dur:7.2f}s  "
              f"{nt:5d} tasks  {nm}")

    import json as _json
    import urllib.request as _rq
    try:
        app_id = sc.applicationId
        base = "http://localhost:4099/api/v1/applications/" + app_id
        data = _json.load(_rq.urlopen(base + "/stages?status=complete"))
        srows = []
        for s in data:
            import datetime as _dt

            def _ms(ts):
                return _dt.datetime.strptime(
                    ts, "%Y-%m-%dT%H:%M:%S.%fGMT").timestamp()
            try:
                dur = _ms(s["completionTime"]) - _ms(s["firstTaskLaunchedTime"])
            except Exception:
                continue
            srows.append((dur, s["stageId"], s["numCompleteTasks"],
                          s.get("shuffleReadBytes", 0),
                          s.get("shuffleWriteBytes", 0),
                          s.get("description") or s["name"][:90]))
        srows.sort(reverse=True)
        print("top 20 stages by duration:")
        for dur, sid, nt, rd, wr, nm in srows[:20]:
            print(f"  stage {sid:4d}  {dur:7.2f}s  {nt:4d} tasks  "
                  f"shufR {rd/1e6:8.1f}MB shufW {wr/1e6:8.1f}MB  {nm[:90]}")
    except Exception as e:
        print(f"stage REST failed: {e}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 2))
