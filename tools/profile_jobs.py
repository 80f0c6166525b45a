#!/usr/bin/env python
"""Per-query job/stage/task and codegen census for the bench set.

For each query, runs build + count (the bench's timed action) under a job
group and reports how many Spark jobs, stages and tasks one warm invocation
costs, and how many classes janino compiled for it. Job count is
load-independent: it exposes scheduler-round overheads (probes, eager
checkpoints, persists) that wall-clock timing conflates with compute. A warm
invocation that compiles anything emits generated source the session has
not seen before (a plan that differs per call, or a generated-code cache
too small for the working set), so the warm compile count should be 0.
It also prints the process tree's CPU seconds over the invocation by role
(``perfbench/probes.tree_cpu``): the driver, the JVM, the Python workers
and their children (piped commands), so a fixed cost per Python task
shows next to the task count. And it prints how warm the JVM still was:
the milliseconds its JIT compilers spent and the classes it loaded during
the invocation (the JVM's compilation and class-loading MXBeans), and once
per run the session's start seconds and whether it mapped the class-data
archive (``mare_spark.session``). A session keeps compiling methods for
many rounds, so an A/B of two sessions should say how warm each side was.

The queries run in one session as whole rounds, like a warm service: one
cold round and one warm round, uncounted, then the counted round. Usage:

    python tools/profile_jobs.py [query1,query2,...|all]

With no argument it profiles the bench set; ``all`` profiles the registry.
Tables come from ``$SPARK_GRAFT_SF_DIR`` (default sf0.1).
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.join(os.path.dirname(__file__), "..")
sys.path.insert(0, ROOT)
sys.path.append(os.path.join(ROOT, "perfbench"))


def jvm_warmth(spark) -> tuple[int, int]:
    """(JIT compile ms, classes loaded) of the session's JVM so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return (
        int(mf.getCompilationMXBean().getTotalCompilationTime()),
        int(mf.getClassLoadingMXBean().getTotalLoadedClassCount()),
    )


def census(spark, tag, fn):
    from mare_spark.session import codegen_compiles
    from probes import tree_cpu

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(tag, tag)
    c0 = codegen_compiles(spark)
    jit0, cls0 = jvm_warmth(spark)
    cpu0 = tree_cpu()
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    cpu = {r: s - cpu0[r] for r, s in tree_cpu().items()}
    n_compiles = codegen_compiles(spark) - c0
    jit1, cls1 = jvm_warmth(spark)
    sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
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
            "compiles": n_compiles, "sec": round(dt, 3), "cpu": cpu,
            "jit_ms": jit1 - jit0, "classes": cls1 - cls0, "out": out}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    arg = sys.argv[1] if len(sys.argv) > 1 else None

    from mare_spark.cache import cache_scope
    from mare_spark.registry import all_queries
    from mare_spark.session import archive_mapped, get_spark

    t0 = time.perf_counter()
    spark = get_spark("profile_jobs")
    print(
        f"session start_s={time.perf_counter() - t0:.2f} "
        f"archive_mapped={archive_mapped(spark)}",
        flush=True,
    )
    queries = {n: q for n, q in sorted(all_queries().items())
               if (q.bench if arg is None
                   else arg == "all" or n in arg.split(","))}

    # cold round (codegen/JIT warm-up), then one warm round: not counted
    for _ in range(2):
        for q in queries.values():
            with cache_scope():
                q.fn(spark, sf_dir).count()

    for name, q in queries.items():
        holder = {}

        def build():
            holder["df"] = q.fn(spark, sf_dir)
            return None

        with cache_scope():
            b = census(spark, f"{name}:build", build)
            c = census(spark, f"{name}:count", lambda: holder["df"].count())
        cpu = " ".join(f"{r}={b['cpu'][r] + c['cpu'][r]:.2f}" for r in b["cpu"])
        print(
            f"{name}: build jobs={b['jobs']} stages={b['stages']} "
            f"tasks={b['tasks']} sec={b['sec']} | count jobs={c['jobs']} "
            f"stages={c['stages']} tasks={c['tasks']} sec={c['sec']} "
            f"rows={c['out']} | compiles={b['compiles'] + c['compiles']} "
            f"| jit_ms={b['jit_ms'] + c['jit_ms']} "
            f"classes={b['classes'] + c['classes']} | cpu_s {cpu}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
