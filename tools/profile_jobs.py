#!/usr/bin/env python
"""Per-query job/stage/task census for the bench set.

For each bench query, runs build + count (the bench's timed action) under a
job group and reports how many Spark jobs, stages, and tasks one invocation
costs. Job count is load-independent: it exposes scheduler-round overheads
(probes, eager checkpoints, persists) that wall-clock timing conflates with
compute. Usage:

    python tools/profile_jobs.py [query1,query2,...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def census(spark, tag, fn):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(tag, tag)
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    sc.setJobGroup(None, None)
    job_ids = tracker.getJobIdsForGroup(tag) or []
    n_stages = 0
    n_tasks = 0
    for j in job_ids:
        ji = tracker.getJobInfo(j)
        if ji is None:
            continue
        for s in ji.stageIds:
            si = tracker.getStageInfo(s)
            if si is not None:
                n_stages += 1
                n_tasks += si.numTasks
    return {"jobs": len(job_ids), "stages": n_stages, "tasks": n_tasks,
            "sec": round(dt, 3), "out": out}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = set(sys.argv[1].split(",")) if len(sys.argv) > 1 else None

    from mare_spark.cache import cache_scope
    from mare_spark.registry import all_queries
    from mare_spark.session import get_spark

    spark = get_spark("profile_jobs")
    queries = {n: q for n, q in sorted(all_queries().items())
               if (q.bench if only is None else n in only)}

    for name, q in queries.items():
        # cold run not counted (codegen/JIT warm-up)
        with cache_scope():
            q.fn(spark, sf_dir).count()

        holder = {}

        def build():
            holder["df"] = q.fn(spark, sf_dir)
            return None

        with cache_scope():
            b = census(spark, f"{name}:build", build)
            c = census(spark, f"{name}:count", lambda: holder["df"].count())
        print(
            f"{name}: build jobs={b['jobs']} stages={b['stages']} "
            f"tasks={b['tasks']} sec={b['sec']} | count jobs={c['jobs']} "
            f"stages={c['stages']} tasks={c['tasks']} sec={c['sec']} "
            f"rows={c['out']}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
