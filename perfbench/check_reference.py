#!/usr/bin/env python3
"""Compare the Python references in ``reference.py`` with the registry's
DuckDB oracles on the benchmark's sf0.1 tables (slow: the oracle SQL takes
minutes).

    python3 perfbench/check_reference.py

Run from the repository root; exits 1 on any difference.
"""

from __future__ import annotations

import os
import sys
import time


def main() -> int:
    root = os.getcwd()
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [root, os.path.join(root, "tests")]

    import pyarrow.parquet as pq
    from oracle import _canon, duckdb_con

    import reference
    from checks import same_frame
    from mare_spark.registry import all_queries

    sf_dir = os.path.join(here, "data", "sf0.1")
    docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pandas()
    ids, texts = docs["doc_id"].tolist(), docs["text"].tolist()
    pairs = reference.jaccard_pairs(ids, texts)
    mine = {
        "dedup_ngram_jaccard": pairs,
        "pipeline_clean_corpus": reference.clean_corpus(ids, texts, pairs),
    }
    registry = all_queries()
    con = duckdb_con(sf_dir)
    bad = 0
    try:
        for name, got in mine.items():
            t0 = time.perf_counter()
            want = _canon(con.execute(registry[name].oracle).df())
            why = same_frame(_canon(got), want)
            print(f"{name}: {len(want)} rows, oracle {time.perf_counter() - t0:.1f} s, "
                  f"{'match' if why is None else why}")
            bad += why is not None
    finally:
        con.close()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
