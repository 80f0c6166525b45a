#!/usr/bin/env python
"""Stage-level wall/time breakdown for one query invocation, via the local
Spark UI REST API (127.0.0.1 only). Prints each stage of the SECOND (warm)
invocation with duration, task count, shuffle bytes, and the first line of
its description, sorted by duration.

Usage: python tools/profile_stages.py <query_name> [count|noop]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def api(port, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/api/v1/{path}") as r:
        return json.load(r)


def main() -> None:
    name = sys.argv[1]
    action = sys.argv[2] if len(sys.argv) > 2 else "count"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from mare_spark.cache import cache_scope
    from mare_spark.registry import all_queries
    from mare_spark.session import get_spark

    extra = {"spark.ui.enabled": "true"}
    for kv in os.environ.get("PROFILE_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k] = v
    spark = get_spark("profile_stages", extra_conf=extra)
    q = all_queries()[name]

    def run():
        with cache_scope():
            df = q.fn(spark, sf_dir)
            if action == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()

    run()  # warm-up
    port = int(spark.sparkContext.uiWebUrl.rsplit(":", 1)[1])
    app = api(port, "applications")[0]["id"]
    before_jobs = {j["jobId"] for j in api(port, f"applications/{app}/jobs")}
    t0 = time.perf_counter()
    run()
    wall = time.perf_counter() - t0

    jobs = [j for j in api(port, f"applications/{app}/jobs")
            if j["jobId"] not in before_jobs]
    stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
    rows = []
    for sid in stage_ids:
        try:
            infos = api(port, f"applications/{app}/stages/{sid}")
        except Exception:
            continue
        for si in infos:
            if si["status"] == "SKIPPED":
                continue
            dur = (si.get("executorRunTime") or 0)
            sub = si.get("submissionTime")
            comp = si.get("completionTime")
            rows.append({
                "stage": sid,
                "tasks": si["numCompleteTasks"],
                "runtime_ms": dur,
                # CPU (ns->ms): load-robust, unlike executorRunTime which
                # counts wait/contention (the r9 #10 mis-read)
                "cpu_ms": (si.get("executorCpuTime") or 0) // 1_000_000,
                "sh_read": si.get("shuffleReadBytes", 0),
                "sh_write": si.get("shuffleWriteBytes", 0),
                "name": si["name"].split("\n")[0][:80],
                "sub": sub, "comp": comp,
            })
    rows.sort(key=lambda r: -r["runtime_ms"])
    print(f"== {name} ({action}): wall {wall:.3f}s, {len(jobs)} jobs, "
          f"{len(rows)} executed stages ==")
    for r in rows:
        print(f"stage {r['stage']:>4} tasks={r['tasks']:>3} "
              f"exec_ms={r['runtime_ms']:>7} cpu_ms={r['cpu_ms']:>7} "
              f"shR={r['sh_read']:>9} "
              f"shW={r['sh_write']:>9}  {r['name']}")
    spark.stop()


if __name__ == "__main__":
    main()
