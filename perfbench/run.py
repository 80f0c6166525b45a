#!/usr/bin/env python3
"""mare_spark benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload corpus_floor --seed 1 --seconds 10 --trace 0

Run from the repository root. The run

1. computes every query's reference answer on the shipped sf0.1 tables
   (``data/sf0.1``) outside any timing, once per checkout, under
   ``.perfbench_work/expected``; ``--seed`` draws the query order;
2. starts ``measure.py`` as a child process with a host-sized, pinned
   environment (see ``env_for``), which starts a SparkSession, runs one
   warm-up round of the workload's queries (``setup_s`` ends here), then
   closed-loop rounds (one client, one invocation at a time), at least two,
   until the invocations' own wall time reaches ``--seconds``, checking
   every answer;
3. prints, as the last line of stdout, ``{"correct", "attempted",
   "failed", "metrics"}`` with the end-to-end metrics (``--trace 0``) or
   the per-layer metrics of an extra traced loop (``--trace 1``).

The full record of the run (every invocation, host steal over the run,
spans and per-layer self times when traced) is written to
``.perfbench_work/results/``; a one-line summary goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pickle
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_LIMIT_S = 160  # the whole run, reference answers included; stopping takes <= 10 s
DRIVER_MEM = "2g"
# The shipped sf0.1 fixture tables every workload reads (never written).
SF_DIR = os.path.join(HERE, "data", "sf0.1")


def env_for(root: str, work: str) -> dict:
    """The measured process's environment: host-sized and pinned, with the
    engine's own MARE_* knobs left unset so its defaults are measured."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("MARE_", "SPARK_GRAFT_", "PYSPARK_"))}
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # driver JVM: initial heap = max heap, so resident memory does not
        # follow the collector's run-to-run heap-sizing decisions. Both JVMs:
        # no hsperfdata file in /tmp, temp files under the work directory.
        SPARK_SUBMIT_OPTS=f"-Xms{DRIVER_MEM} {jvm_opts}",
        SPARK_LAUNCHER_OPTS=jvm_opts,
        PYTHONPATH=os.pathsep.join([root, os.path.join(root, "tests"), HERE]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
    )
    return env


def prepare_expected(work: str, wl) -> str:
    """Compute (or reuse) the workload's reference answers and input row
    counts on the shipped tables; return the pickle's path."""
    path = os.path.join(work, "expected", f"{wl.name}.pkl")
    if not os.path.exists(path):
        tmp = path + ".partial"
        with open(tmp, "wb") as fh:
            pickle.dump(reference_answers(SF_DIR, wl), fh)
        os.rename(tmp, path)
    return path


def reference_answers(sf_dir: str, wl) -> dict:
    """Canonical expected answer of every checked query of ``wl``, the exact
    near-duplicate pairs (LSH recall truth) and every table's row count."""
    import pyarrow.parquet as pq
    from oracle import _canon, duckdb_con

    import reference
    from mare_spark.registry import all_queries
    from mare_spark.tables import TABLE_NAMES, table_path
    from workloads import LSH_QUERIES, PY_REFERENCE

    registry = all_queries()
    out = {"answers": {}, "rows": {
        t: pq.ParquetFile(table_path(sf_dir, t)).metadata.num_rows
        for t in TABLE_NAMES
    }}
    if set(wl.queries) & set(PY_REFERENCE + LSH_QUERIES):
        docs = pq.read_table(table_path(sf_dir, "documents")).to_pandas()
        ids, texts = docs["doc_id"].tolist(), docs["text"].tolist()
        pairs = reference.jaccard_pairs(ids, texts)
        out["exact_pairs"] = pairs
        out["answers"]["pipeline_clean_corpus"] = _canon(
            reference.clean_corpus(ids, texts, pairs)
        )
    con = duckdb_con(sf_dir)
    try:
        for name in wl.queries:
            if name not in PY_REFERENCE + LSH_QUERIES:
                out["answers"][name] = _canon(
                    con.execute(registry[name].oracle).df()
                )
    finally:
        con.close()
    return out


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's process group and wait until
    every member has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 5
        while time.time() < deadline and _group_alive(proc.pid):
            time.sleep(0.1)
    if proc.poll() is None:
        proc.wait(timeout=5)


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    f = fh.read().rpartition(")")[2].split()
            except OSError:
                continue
            if int(f[2]) == pgid and f[0] != "Z":
                return True
    return False


def summarize(rec: dict, trace: int) -> dict:
    metrics = {}
    if trace:
        from layers import PER_LAYER

        layers = dict(rec["layers"])
        layers["host.steal_frac"] = rec["steal_frac"]
        layers["dedup_recall"] = rec["dedup_recall"] or 0.0
        # mean invocation time, traced loop over untraced loop
        plain, traced = rec["plain"], rec["traced"]
        layers["trace.overhead_frac"] = (
            (traced["loop_s"] / traced["invocations"])
            / (plain["loop_s"] / plain["invocations"]) - 1.0
        )
        for name, unit in PER_LAYER:
            metrics[name] = {"value": layers[name], "unit": unit}
    else:
        plain = rec["plain"]
        for name, value, unit in (
            ("setup_s", rec["setup_s"], "s"),
            ("latency_p50_s", plain["latency_p50_s"], "s"),
            ("input_rows_per_s", plain["input_rows_per_s"], "rows/s"),
            ("cpu_s_per_query", plain["cpu_s_per_query"], "s"),
            ("peak_rss_mb", rec["peak_rss_mb"], "MB"),
        ):
            metrics[name] = {"value": value, "unit": unit}
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    # a terminated run still stops the measured process group (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "mare_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "tests", "oracle.py"))):
        print("perfbench: run from the repository root (mare_spark/ and "
              "tests/oracle.py not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [root, os.path.join(root, "tests")]
    from workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work")
    for sub in ("tmp", "spark-local", "results", "expected"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    expected = prepare_expected(work, wl)

    out = os.path.join(
        work, "results",
        f"{wl.name}-seed{args.seed}-trace{args.trace}-{int(t_start)}.json",
    )
    cmd = [sys.executable, os.path.join(HERE, "measure.py"),
           "--workload", wl.name, "--sf-dir", SF_DIR, "--expected", expected,
           "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--tmp-dir", os.path.join(work, "tmp"), "--out", out]
    spawn = time.time()
    proc = subprocess.Popen(
        cmd + ["--spawn-time", repr(spawn)], cwd=work, env=env_for(root, work),
        stdout=sys.stderr, start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=max(RUN_LIMIT_S - (time.time() - t_start), 1))
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        rc = None
    finally:
        stop_group(proc)
    if rc != 0 or not os.path.exists(out):
        print(f"perfbench: measured process failed (exit {rc})", file=sys.stderr)
        return 1
    with open(out) as fh:
        rec = json.load(fh)
    result = summarize(rec, args.trace)
    print(
        f"perfbench: {wl.name} seed={args.seed} trace={args.trace} "
        f"host_steal={rec['steal_frac']:.4f} "
        f"invocations={rec['plain']['invocations']} "
        f"tail={rec['plain']['latency_tail']} record={out}",
        file=sys.stderr,
    )
    if not all(math.isfinite(m["value"]) for m in result["metrics"].values()):
        print("perfbench: non-finite metric", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
