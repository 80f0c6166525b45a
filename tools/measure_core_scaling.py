#!/usr/bin/env python
"""Core-scaling of the vectorized UDF passes (VERDICT r9 #4): time each
pass with the noop sink at the current $SPARK_GRAFT_CPUS, printing one
JSON line. A wrapper runs this at 1/8/32 cores:

    for c in 1 8 32; do SPARK_GRAFT_CPUS=$c python tools/measure_core_scaling.py; done

The full bench queries sit at the scheduler/driver floor at sf0.1
(0.1-1 s), so per-QUERY scaling ratios are dominated by fixed job
latency; the per-PASS numbers here isolate the part the r9/r10 UDF
vectorizations claim scales with cores (guide §4.2: per-task CPU).
Each pass is fanned out (the `_fan_out` the operators themselves apply),
so 1-core runs measure the same plan at parallelism 1.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from mare_spark.operators.analysis import ngram_partial_counts
    from mare_spark.operators.dedup import (
        _fan_out,
        _minhash_base_udf,
        _simhash_pudf,
        hashed_word_shingles,
    )
    from mare_spark.session import get_spark, host_cpus
    from mare_spark.tables import read_table

    spark = get_spark("measure_core_scaling")
    cpus = host_cpus()
    docs = read_table(spark, sf_dir, "documents")
    # MARE_SCALE_REPL=k unions the corpus k times: at sf0.1 a single pass
    # is ~0.3-1 s of compute against a ~0.55 s fixed floor (job launch +
    # Arrow round-trip + noop commit), so wall-clock core-scaling only
    # becomes visible once the compute dwarfs the floor. Measurement-only
    # replication — nothing here touches the bench path.
    repl = int(os.environ.get("MARE_SCALE_REPL", "1"))
    if repl > 1:
        base = docs
        for _ in range(repl - 1):
            docs = docs.union(base)
        # fixed partition count across core configs: otherwise the union
        # yields `repl` partitions and an 8-core run measures layout
        # (10 partitions / 8 slots = 2 uneven waves), not cores; 64 also
        # bounds the per-batch signature grid the way maxRecordsPerBatch
        # does on a real corpus
        docs = docs.repartition(64)

    passes = {
        "shingle_pass": lambda: _fan_out(docs).select(
            "doc_id", hashed_word_shingles(F.col("text"), 3).alias("sh")
        ),
        "minhash_base_pass": lambda: _fan_out(docs).select(
            "doc_id", _minhash_base_udf(64, 3, 42)(F.col("text")).alias("mh")
        ),
        "simhash_pass": lambda: _fan_out(docs).select(
            "doc_id", _simhash_pudf(2)(F.col("text")).alias("sh")
        ),
        "heavy_hitter_counts": lambda: ngram_partial_counts(docs, "text", 3)
        .groupBy("ngram")
        .agg(F.sum("cnt").alias("n")),
    }

    out: dict = {"cpus": cpus, "sf_dir": sf_dir, "passes": {}}
    for name, mk in passes.items():
        samples = []
        for i in range(1 + reps):
            spark.sparkContext.setJobDescription(f"scaling:{name}@{cpus}")
            t0 = time.perf_counter()
            mk().write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if i > 0:
                samples.append(dt)
        spark.sparkContext.setJobDescription(None)
        out["passes"][name] = {
            "min": round(min(samples), 3),
            "med": round(statistics.median(samples), 3),
            "all": [round(s, 3) for s in samples],
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
