"""The measured process: one SparkSession, a warm-up round, then closed-loop
rounds of the workload's queries, one invocation at a time.

Started by ``run.py`` with the benchmark's environment already set; writes
its full record (every invocation, metrics, spans) as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import random
import shutil
import statistics
import sys
import time
import traceback

import probes
from checks import Checker
from spans import Tracer
from workloads import LSH_QUERIES, QUERY_TABLES, WORKLOADS

# Two samples of every query per run: a single slow round would otherwise
# decide the median alone.
MIN_ROUNDS = 2


class Session:
    """The engine session plus what one invocation needs around it."""

    def __init__(self, sf_dir: str, tmp_dir: str):
        from mare_spark.operators.dedup import release_caches
        from mare_spark.registry import all_queries
        from mare_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.start_s = time.perf_counter() - t0
        self.queries = all_queries()
        self.release = release_caches
        self.sf_dir = sf_dir
        self.tmp_dir = tmp_dir
        self.tmp_keep = set(os.listdir(tmp_dir))
        self.counters = None  # SparkCounters, traced loops only
        self.tracer = None

    def invoke(self, name: str, k: int) -> dict:
        """Build the query and materialize its full result with toPandas;
        return the record (times, result frame or error)."""
        sc = self.spark.sparkContext
        rec = {"query": name, "k": k, "ok": None, "error": None}
        traced = self.counters is not None
        cpu0 = probes.tree_cpu()
        if traced:
            self.tracer.inv = k
            compiles0, _ = self.counters.codegen_state()
            sc.setJobGroup(f"b{k}", name)
        t0 = time.perf_counter()
        t1 = t2 = None
        df = pdf = None
        try:
            span = self.tracer.open(f"queries.build:{name}") if traced else None
            try:
                df = self.queries[name].fn(self.spark, self.sf_dir)
            finally:
                if traced:
                    self.tracer.close(span)
            t1 = time.perf_counter()
            if traced:
                sc.setJobGroup(f"a{k}", name)
                span = self.tracer.open(f"queries.action:{name}")
            try:
                pdf = df.toPandas()
            finally:
                if traced:
                    self.tracer.close(span)
            t2 = time.perf_counter()
        except Exception:  # a failed invocation is recorded, never dropped
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=3)[-2000:]
        end = time.perf_counter()
        cpu1 = probes.tree_cpu()
        rec["wall_s"] = end - t0
        rec["build_s"] = (t1 or end) - t0
        rec["action_s"] = (t2 - t1) if t2 else None
        rec["cpu"] = {r: cpu1[r] - cpu0[r] for r in cpu0}
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            compiles1, mean_ms = self.counters.codegen_state()
            rec["codegen_compiles"] = compiles1 - compiles0
            rec["codegen_compile_s"] = (compiles1 - compiles0) * mean_ms / 1e3
            rec["build"] = self.counters.group(f"b{k}")
            rec["action"] = self.counters.group(f"a{k}")
            rec["cache_resident_bytes"] = self.counters.cached_bytes()
            self.tracer.inv = None
        self._hygiene(df, rec)
        rec["result"] = pdf
        return rec

    def _hygiene(self, df, rec: dict) -> None:
        """Release the result's persists, count a leak if the cache manager
        still holds anything, clear it, and drop the invocation's temp files,
        so one invocation never loads the next."""
        if df is not None:
            self.release(df)
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        rec["leaked"] = not cm.isEmpty()
        if rec["leaked"]:
            self.spark.catalog.clearCache()
        for entry in set(os.listdir(self.tmp_dir)) - self.tmp_keep:
            path = os.path.join(self.tmp_dir, entry)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                try:
                    os.unlink(path)
                except OSError:
                    pass


def run_rounds(sess: Session, order: list[str], budget_s: float,
               checker: Checker, first_k: int) -> list[dict]:
    """Whole rounds, at least ``MIN_ROUNDS``, until the invocations' own
    wall time reaches ``budget_s``; each answer is checked outside the
    timed region."""
    recs: list[dict] = []
    spent = 0.0
    while True:
        for name in order:
            rec = sess.invoke(name, first_k + len(recs))
            checker.check(rec)
            rec.pop("result")
            spent += rec["wall_s"]
            recs.append(rec)
        if spent >= budget_s and len(recs) >= MIN_ROUNDS * len(order):
            return recs


def tail(walls: list[float]) -> dict | None:
    """Highest percentile with at least 10 samples beyond it."""
    n = len(walls)
    if n < 11:
        return None
    s = sorted(walls)
    return {"value": s[n - 11], "percentile": 100.0 * (n - 10) / n, "samples": n}


def loop_metrics(recs: list[dict], rows: dict[str, int]) -> dict:
    ok = [r for r in recs if r["ok"]]
    spent = sum(r["wall_s"] for r in recs)
    return {
        "latency_p50_s": statistics.median(r["wall_s"] for r in recs),
        "input_rows_per_s": sum(rows[r["query"]] for r in ok) / spent,
        "cpu_s_per_query": sum(sum(r["cpu"].values()) for r in recs) / len(recs),
        "loop_s": spent,
        "invocations": len(recs),
        "latency_tail": tail([r["wall_s"] if r["ok"] else float("inf") for r in recs]),
    }


def layer_metrics(recs: list[dict], tracer: Tracer, session_start_s: float) -> dict:
    n = len(recs)

    def mean(f) -> float:
        return sum(f(r) for r in recs) / n

    def span_s(name: str) -> float:
        return tracer.totals(name)[1] / n

    def spark(key: str) -> float:
        return mean(lambda r: r["build"][key] + r["action"][key])

    out = {
        "session.start_s": session_start_s,
        "tables.read_calls": tracer.totals("tables.read_table")[0] / n,
        "tables.read_s": span_s("tables.read_table"),
        "queries.build_s": mean(lambda r: r["build_s"]),
        "queries.build_jobs": mean(lambda r: r["build"]["jobs"]),
        "queries.action_s": mean(lambda r: r["action_s"] or 0.0),
        "queries.action_jobs": mean(lambda r: r["action"]["jobs"]),
    }
    for key in ("jobs", "stages", "tasks", "failed_tasks", "executor_cpu_s",
                "executor_run_s", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes"):
        out[f"spark.{key}"] = spark(key)
    out["spark.codegen_compiles"] = mean(lambda r: r["codegen_compiles"])
    out["spark.codegen_compile_s"] = mean(lambda r: r["codegen_compile_s"])
    for role in ("driver", "jvm", "pyworker", "pyworker_child"):
        out[f"proc.{role}_cpu_s"] = mean(lambda r, role=role: r["cpu"][role])
    for name in ("dedup.ngram_jaccard_pairs", "dedup.minhash_lsh_pairs",
                 "dedup.dedup_clusters", "corpus.decontaminate_ngrams",
                 "similarity.brute_force_topk", "pipe.map", "pipe.reduce",
                 "scale.merge_parquet"):
        out[f"{name}_s"] = span_s(name)
    out["dedup.pairs_out"] = mean(lambda r: r.get("pairs_out", 0))
    out["pipe.container_runs"] = mean(lambda r: r.get("container_runs", 0))
    out["scale.bytes_written"] = mean(lambda r: r.get("bytes_written", 0))
    out["scale.files_written"] = mean(lambda r: r.get("files_written", 0))
    out["cache.resident_bytes"] = mean(lambda r: r["cache_resident_bytes"])
    out["cache.leaked"] = sum(r["leaked"] for r in recs)
    return out


def install_hooks(sess: Session) -> None:
    """Counters taken at layer boundaries during the traced loop."""
    tracer = sess.tracer
    recs_by_inv: dict[int, dict] = {}
    sess.hook_recs = recs_by_inv

    def bump(key: str, by: int) -> None:
        rec = recs_by_inv.setdefault(tracer.inv, {})
        rec[key] = rec.get(key, 0) + by

    def on_merge(args, result) -> None:
        path = args[1]
        nbytes = nfiles = 0
        for dirpath, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    nfiles += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, f))
        bump("bytes_written", nbytes)
        bump("files_written", nfiles)

    # partitions per MaRe dataset, known statically from repartition(n);
    # a map runs its command once per input partition, empty ones included
    parts: dict[int, int] = {}

    def on_repartition(args, result) -> None:
        parts[id(result)] = args[1]

    def on_map(args, result) -> None:
        n = parts.get(id(args[0]), 0)
        parts[id(result)] = n
        bump("container_runs", n)

    tracer.hooks["scale.merge_parquet"] = on_merge
    tracer.hooks["pipe.map"] = on_map
    tracer.hooks["pipe.repartition"] = on_repartition


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--tmp-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    wl = WORKLOADS[args.workload]
    steal = probes.Steal()
    sess = Session(args.sf_dir, args.tmp_dir)
    order = list(wl.queries)
    random.Random(args.seed).shuffle(order)

    # warm-up: cold codegen, first Python workers, first scans
    warm = [sess.invoke(name, -1 - i) for i, name in enumerate(order)]
    setup_s = time.time() - args.spawn_time

    with open(args.expected, "rb") as fh:
        expected = pickle.load(fh)  # written by run.py for these tables
    checker = Checker(args.sf_dir, expected["answers"], expected.get("exact_pairs"))
    for rec in warm:
        checker.check(rec)
        rec.pop("result")
    rows = {q: sum(expected["rows"][t] for t in QUERY_TABLES[q]) for q in order}

    with probes.RssSampler() as rss:
        plain = run_rounds(sess, order, args.seconds, checker, 0)
    record = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "order": order, "setup_s": setup_s, "session_start_s": sess.start_s,
        "peak_rss_mb": rss.peak / 2**20,
        "rss_at_peak_mb": {k: v / 2**20 for k, v in rss.at_peak.items()},
        "plain": loop_metrics(plain, rows),
        "warmup": warm, "invocations": plain,
    }
    if args.trace:
        sess.tracer = Tracer()
        sess.tracer.install()
        sess.counters = probes.SparkCounters(sess.spark)
        install_hooks(sess)
        traced = run_rounds(sess, order, args.seconds, checker, len(plain))
        for rec in traced:
            rec.update(sess.hook_recs.get(rec["k"], {}))
            if rec["query"] in LSH_QUERIES:
                rec["pairs_out"] = rec.get("rows_out", 0)
        record["traced"] = loop_metrics(traced, rows)
        record["layers"] = layer_metrics(traced, sess.tracer, sess.start_s)
        record["self_s"] = {
            k: v / len(traced) for k, v in sess.tracer.self_times().items()
        }
        record["spans"] = [vars(s) for s in sess.tracer.spans]
        record["traced_invocations"] = traced
    every = warm + plain + record.get("traced_invocations", [])
    record["steal_frac"] = steal.frac()
    record["dedup_recall"] = checker.recall
    record["attempted"] = len(every)
    record["failed"] = sum(not r["ok"] for r in every)
    sess.spark.stop()
    with open(args.out, "w") as fh:
        json.dump(record, fh, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
