#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query runs once cold (JVM/codegen warm-up, not reported) and then 3
warm times; the reported number is the MEDIAN of the 3 warm runs, so a
single contended run on a busy driver host cannot double the recorded
total (VERDICT r2: driver recorded 63 s where an idle re-run gave 30 s —
uniform external CPU contention). Median-of-3 damps exactly that.

The payload also carries a "calibration" block — FIXED-work probes run
before and after the sweep whose cost is independent of any engine change
(a codegen hash-sum over spark.range on all cores, and a single-thread
pure-Python loop). Round-over-round totals are comparable only after
dividing by the calibration drift: r5's +15.7% total on an untouched query
set (VERDICT r5) was unattributable precisely because no fixed-work number
was recorded with it.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

WARM_RUNS = 3

# The host's best-observed fixed-work probe times (an otherwise-quiet
# machine at its fast CPU epoch). Used to emit a load-normalized total
# alongside the raw one, so round-over-round comparisons don't require
# the recording run to have hit the fast epoch (VERDICT r6 #2: BENCH_r06
# was recorded ~1.8x loaded and untouched queries drifted +18-24%).
#
# python_fixed is the normalization lever: SCALE.md's r5/r6 ledger shows
# it tracking bench totals almost linearly (0.107 idle <-> 15.6 s total;
# 0.142 loaded <-> 18.5 s), and the r7 A/B confirmed it again — the r6
# commit re-benched on an epoch with python_fixed 0.14-0.17 gave 19.29 s
# where its committed artifact said 17.48. spark_fixed (floor 0.136
# observed r7) is recorded for drift diagnosis but misses slow epochs
# that hit the Python/shuffle side only.
PYTHON_FIXED_IDLE_FLOOR = 0.107
SPARK_FIXED_IDLE_FLOOR = 0.136


def _calibrate(spark) -> dict:
    """Fixed-work load probes (engine-independent by construction):

    * ``spark_fixed_sec`` — median of 3 hash-sum jobs over a constant
      ``spark.range`` (whole-stage codegen, saturates every core): tracks
      JVM-side throughput under whatever load the host is carrying.
    * ``python_fixed_sec`` — MIN of 3 single-thread pure-Python loops: the
      min is the least-contended sample, so excess over the machine's
      known floor is external CPU contention on the driver process.
    """
    samples: list[float] = []
    for i in range(1 + 3):
        t0 = time.perf_counter()
        # bit_xor: overflow-free under ANSI mode, unlike sum(xxhash64)
        spark.range(0, 200_000_000).selectExpr(
            "bit_xor(xxhash64(id))"
        ).collect()
        if i > 0:  # drop the cold run
            samples.append(time.perf_counter() - t0)
    py_samples: list[float] = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for k in range(2_000_000):
            acc += k ^ (k >> 3)
        py_samples.append(time.perf_counter() - t0)
    return {
        "spark_fixed_sec": round(statistics.median(samples), 4),
        "python_fixed_sec": round(min(py_samples), 4),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # no trailing-dot capture: "sf0.1.bak" must parse 0.1, not crash on
    # float("0.1.") (r8 review)
    m = re.search(r"sf([0-9]+(?:\.[0-9]+)?)", sf_dir)
    sf = float(m.group(1)) if m else None

    from mare_spark.registry import all_queries
    from mare_spark.session import get_spark

    spark = get_spark("mare_spark_bench")
    queries = {n: q for n, q in all_queries().items() if q.bench}

    calib_before = _calibrate(spark)
    print(f"# calibration (before): {calib_before}", file=sys.stderr)

    from mare_spark.cache import cache_scope

    timings: dict[str, float] = {}
    timings_full: dict[str, float] = {}
    for name, q in sorted(queries.items()):
        samples: list[float] = []
        full_samples: list[float] = []
        n = 0
        # one scope per query: warm reuse within a query is kept, cache
        # pressure does not accumulate across queries
        with cache_scope():
            for i in range(1 + WARM_RUNS):
                t0 = time.perf_counter()
                df = q.fn(spark, sf_dir)
                n = df.count()
                dt = time.perf_counter() - t0
                if i > 0:  # drop the cold run
                    samples.append(dt)
            # FULL-execution timing via the noop sink (r8 review): count()
            # lets Catalyst prune unreferenced final projections and
            # aggregate expressions, so expression-heavy tails were
            # under-measured. The count() series stays the headline "value"
            # for round-over-round comparability (every prior BENCH_r{N}
            # used it); "value_full_exec" is the honest companion series.
            for _ in range(WARM_RUNS):
                t0 = time.perf_counter()
                df = q.fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                full_samples.append(time.perf_counter() - t0)
        med = statistics.median(samples)
        med_full = statistics.median(full_samples)
        timings[name] = round(med, 4)
        timings_full[name] = round(med_full, 4)
        print(
            f"# {name}: median {med:.3f}s of {[round(s, 3) for s in samples]}"
            f" ({n} rows; full-exec {med_full:.3f}s)",
            file=sys.stderr,
        )

    calib_after = _calibrate(spark)
    print(f"# calibration (after): {calib_after}", file=sys.stderr)

    total = round(sum(timings.values()), 4)
    total_full = round(sum(timings_full.values()), 4)
    # load-normalized total: scale by the python-probe floor over the
    # run's LEAST-loaded sample (min of before/after — the sweep sits
    # between them; python_fixed is the probe that tracks totals
    # linearly, see the floor constants above). Clamped so normalization
    # can only DISCOUNT a slow epoch, never claim faster-than-measured.
    run_fixed = min(
        calib_before["python_fixed_sec"], calib_after["python_fixed_sec"]
    )
    norm = PYTHON_FIXED_IDLE_FLOOR / max(run_fixed, PYTHON_FIXED_IDLE_FLOOR)
    print(
        json.dumps(
            {
                "metric": "headline_query_total",
                "value": total,
                "value_normalized": round(total * norm, 4),
                "value_full_exec": total_full,
                "unit": "sec",
                "queries": timings,
                "queries_full_exec": timings_full,
                "sf": sf,
                "calibration": {
                    "before": calib_before,
                    "after": calib_after,
                    "idle_floor_sec": PYTHON_FIXED_IDLE_FLOOR,
                    "load_factor": round(1.0 / norm, 4),
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
