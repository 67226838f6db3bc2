"""Self-test of the tracer's job attribution: a job submitted from a pool
thread inside a span must be counted in that span's job-id window.
A job group set on the client thread does not reach such a job (groups
are thread-local), which is why the tracer does not use groups.

Traced runs call `pool_job_attributed` first and report the run as
incorrect if it fails. Standalone, from the repository root:

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

GROUP = "perfbench-selftest"


def pool_job_attributed(spark, tracer) -> bool:
    was, tracer.enabled = tracer.enabled, True
    sc = spark.sparkContext
    sc.setJobGroup(GROUP, "set on the client thread only")
    try:
        with tracer.span("selftest") as sp:
            with ThreadPoolExecutor(max_workers=1) as pool:
                pool.submit(lambda: spark.range(64).count()).result()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracer.enabled = was
    tracer.spans.remove(sp)
    window = set(range(sp.job_lo, sp.job_hi))
    grouped = window & set(sc.statusTracker().getJobIdsForGroup(GROUP))
    print(f"[perfbench] selftest: pool-thread jobs in the id window: {len(window)}, "
          f"in the client thread's job group: {len(grouped)}", file=sys.stderr)
    return sp.counters["jobs"] >= 1 and sp.counters["stages"] >= 1


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path[0] = root
    from perfbench import run
    from perfbench.spans import Tracer

    work = run.prepare_env()
    tracer = Tracer(True)
    session = run.Session(tracer, len(os.sched_getaffinity(0)))
    try:
        session.start()
        ok = pool_job_attributed(session.spark, tracer)
        session.stop()
    finally:
        run.cleanup(work)
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
