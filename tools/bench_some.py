#!/usr/bin/env python
"""Repeated timing of a few queries: min/median of N warm runs.

Usage: python tools/bench_some.py q1,q2 [N]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main() -> None:
    names = sys.argv[1].split(",")
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from mare_spark.cache import cache_scope
    from mare_spark.registry import all_queries
    from mare_spark.session import get_spark

    spark = get_spark("bench_some")
    qs = all_queries()
    for name in names:
        q = qs[name]
        samples = []
        with cache_scope():
            for i in range(1 + n):
                t0 = time.perf_counter()
                q.fn(spark, sf_dir).count()
                dt = time.perf_counter() - t0
                if i > 0:
                    samples.append(dt)
        print(f"{name}: min {min(samples):.3f} med "
              f"{statistics.median(samples):.3f} all "
              f"{[round(s,3) for s in samples]}")
    spark.stop()


if __name__ == "__main__":
    main()
