"""Driver-side cost of a block of code: py4j round trips and Spark jobs.

Building a DataFrame is not free on the driver. Every PySpark ``Column``
op is one or more py4j round trips to the JVM, and operators that collect
or checkpoint eagerly fire Spark jobs before any action runs. A
:class:`DriverCost` block counts both, so a regression in either shows as
a number (``scripts/profile_query.py``) or fails a budget
(``tests/test_plans.py``) without a profiler::

    with DriverCost(spark) as cost:
        df = ctx.range_query(indexed, cols, lo, hi)
    print(cost.seconds, cost.py4j_calls, cost.jobs)

Jobs are counted through a job group set for the duration of the block
(the caller's group is restored afterwards), so only jobs fired from the
calling thread count, and a job fired inside a nested block counts in
the innermost block only. Py4j round trips, too, count for the calling
thread only, in every enclosing block.
The job count is read from the status tracker, which keeps the last
``spark.ui.retainedJobs`` jobs (1,000 by default).
"""

from __future__ import annotations

import threading
import time
import uuid

#: the local properties ``SparkContext.setJobGroup`` sets
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


class DriverCost:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._client = self._sc._gateway._gateway_client
        self._group = f"__simba_driver_cost_{uuid.uuid4().hex}"
        self.py4j_calls = 0
        self.jobs = 0
        self.seconds = 0.0

    def __enter__(self) -> "DriverCost":
        sc = self._sc
        self._prev = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
        sc.setJobGroup(self._group,
                       self._prev["spark.job.description"] or "DriverCost")
        self._outer_send = self._client.__dict__.get("send_command")
        send = self._client.send_command
        caller = threading.get_ident()

        def counted(*args, **kwargs):
            # py4j's finalizer thread releases dead proxies through the
            # same client, at its own pace: not the block's round trips
            if threading.get_ident() == caller:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        self._client.send_command = counted
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.seconds = time.perf_counter() - self._t0
        if self._outer_send is None:
            del self._client.send_command
        else:
            self._client.send_command = self._outer_send
        sc = self._sc
        self.jobs = len(sc.statusTracker().getJobIdsForGroup(self._group))
        for key, value in self._prev.items():
            sc.setLocalProperty(key, value)  # None unsets
