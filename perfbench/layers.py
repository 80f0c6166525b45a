"""Per-layer metrics printed by a traced run (``--trace 1``), with the
end-to-end metric and workload each one should move.

Values are means per traced invocation unless noted. A layer a workload
does not exercise reads 0 there (dedup, pipe and recall on
``tpch_refresh``; writes on ``corpus_floor``). Spans around operator and
``MaRe`` calls time the driver side of those calls (plan building plus any
jobs they run eagerly); the lazy remainder executes under
``queries.action_s``.
"""

from __future__ import annotations

# (name, unit, the end-to-end metric and workload it should move)
PER_LAYER_DOC = (
    ("session.start_s", "s", "setup_s, both workloads (once per run)"),
    ("tables.read_calls", "count", "latency_p50_s on tpch_refresh"),
    ("tables.read_s", "s", "latency_p50_s on tpch_refresh"),
    ("queries.build_s", "s", "latency_p50_s on corpus_floor (includes eager _materialize barrier jobs)"),
    ("queries.build_jobs", "count", "latency_p50_s on corpus_floor"),
    ("queries.action_s", "s", "latency_p50_s on both workloads"),
    ("queries.action_jobs", "count", "latency_p50_s on corpus_floor"),
    ("spark.jobs", "count", "latency_p50_s on corpus_floor"),
    ("spark.stages", "count", "latency_p50_s on corpus_floor"),
    ("spark.tasks", "count", "latency_p50_s on corpus_floor"),
    ("spark.failed_tasks", "count", "none (stays 0)"),
    ("spark.executor_cpu_s", "s", "cpu_s_per_query and latency_p50_s on tpch_refresh"),
    ("spark.executor_run_s", "s", "latency_p50_s on tpch_refresh"),
    ("spark.shuffle_read_bytes", "bytes", "latency_p50_s on tpch_refresh"),
    ("spark.shuffle_write_bytes", "bytes", "latency_p50_s on tpch_refresh"),
    ("spark.spill_bytes", "bytes", "latency_p50_s on tpch_refresh"),
    ("spark.codegen_compiles", "count", "latency_p50_s on corpus_floor"),
    ("spark.codegen_compile_s", "s", "latency_p50_s on corpus_floor (compiles x mean compile time)"),
    ("proc.driver_cpu_s", "s", "cpu_s_per_query, both workloads"),
    ("proc.jvm_cpu_s", "s", "cpu_s_per_query on tpch_refresh"),
    ("proc.pyworker_cpu_s", "s", "cpu_s_per_query and input_rows_per_s on corpus_floor; about 0 on tpch_refresh"),
    ("proc.pyworker_child_cpu_s", "s", "cpu_s_per_query on corpus_floor (pipe commands)"),
    ("dedup.ngram_jaccard_pairs_s", "s", "latency_p50_s on corpus_floor"),
    ("dedup.minhash_lsh_pairs_s", "s", "latency_p50_s on corpus_floor"),
    ("dedup.dedup_clusters_s", "s", "latency_p50_s on corpus_floor"),
    ("dedup.pairs_out", "count", "none (answer-checked)"),
    ("dedup_recall", "fraction", "must not fall (answer-checked: below 1.0 fails the run); corpus_floor"),
    ("corpus.decontaminate_ngrams_s", "s", "latency_p50_s on corpus_floor"),
    ("similarity.brute_force_topk_s", "s", "latency_p50_s on corpus_floor"),
    ("pipe.map_s", "s", "latency_p50_s on corpus_floor"),
    ("pipe.reduce_s", "s", "latency_p50_s on corpus_floor (includes the partition-count jobs reduce runs)"),
    ("pipe.container_runs", "count", "cpu_s_per_query on corpus_floor"),
    ("scale.merge_parquet_s", "s", "input_rows_per_s on tpch_refresh (the merge is its slowest query)"),
    ("scale.bytes_written", "bytes", "input_rows_per_s on tpch_refresh"),
    ("scale.files_written", "count", "input_rows_per_s on tpch_refresh"),
    ("cache.resident_bytes", "bytes", "peak_rss_mb on corpus_floor; a persist that saves recompute lowers cpu_s_per_query and raises this"),
    ("cache.leaked", "count", "peak_rss_mb (total over the traced loop; stays 0)"),
    ("host.steal_frac", "fraction", "none (diagnostic, whole run)"),
    ("trace.overhead_frac", "fraction", "none (traced / untraced mean invocation time - 1)"),
)

PER_LAYER = tuple((name, unit) for name, unit, _ in PER_LAYER_DOC)
