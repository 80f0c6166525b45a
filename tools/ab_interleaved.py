#!/usr/bin/env python
"""Interleaved A/B of env-gated code variants within ONE session, so host
CPU-epoch drift cancels. Variants alternate per repetition.

Usage: python tools/ab_interleaved.py <query> <reps> "<label>=VAR1,VAR2" "<label>=" ...
Each label sets the named env vars to "1" for its runs (clearing the others).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

def main() -> None:
    qname = sys.argv[1]
    reps = int(sys.argv[2])
    variants = []
    for spec in sys.argv[3:]:
        label, vars_ = spec.split("=", 1)
        variants.append((label, [v for v in vars_.split(",") if v]))
    # The cleared set is the union of the vars the caller names (ADVICE
    # r9: a hard-coded list of gates that no code consumes silently
    # measures nothing). Fail fast when a named gate is not read anywhere
    # in mare_spark — every variant would run identical code.
    all_vars = sorted({v for _, vs in variants for v in vs})
    import subprocess

    lib = os.path.join(os.path.dirname(__file__), "..", "mare_spark")
    for v in all_vars:
        rc = subprocess.run(
            ["grep", "-rq", v, lib], check=False
        ).returncode
        if rc != 0:
            raise SystemExit(
                f"env gate {v!r} is not consumed anywhere under mare_spark/ "
                "— all variants would run identical code"
            )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from mare_spark.cache import cache_scope
    from mare_spark.registry import all_queries
    from mare_spark.session import get_spark

    spark = get_spark("ab_interleaved")
    q = all_queries()[qname]

    def run_once():
        with cache_scope():
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).count()
            return time.perf_counter() - t0

    # warm-up one run per variant
    samples: dict[str, list[float]] = {lab: [] for lab, _ in variants}
    for i in range(reps + 1):
        for label, vars_ in variants:
            for v in all_vars:
                os.environ.pop(v, None)
            for v in vars_:
                os.environ[v] = "1"
            dt = run_once()
            if i > 0:
                samples[label].append(dt)
    for label, vals in samples.items():
        print(f"{qname} [{label}]: min {min(vals):.3f} "
              f"med {statistics.median(vals):.3f} "
              f"all {[round(v, 3) for v in vals]}")
    spark.stop()


if __name__ == "__main__":
    main()
