#!/usr/bin/env python
"""Diff declared queries against their DuckDB oracles, as the driver does.

Usage: python tools/oracle_check.py q1,q2,... [sf_dir ...]
Defaults to all three fixture SFs for the named queries. A query with no
oracle prints ``HASH <sha256> (<n> rows)`` of its canonical sorted rows, so
"answers unchanged" for it is a diff of this output between two checkouts.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def canon(rows, cols):
    import datetime

    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, float):
                v = None if math.isnan(v) else round(v, 9)
            elif isinstance(v, datetime.datetime):
                # normalize datetime.datetime vs pandas.Timestamp: their
                # reprs differ, which would scramble the sort order below
                # (and pd.Timestamp is a datetime subclass, so isoformat
                # covers both). pandas.NaT is ALSO a datetime subclass
                # whose isoformat() is the string 'NaT' — it is DuckDB's
                # NULL timestamp and must canonicalize to None like
                # Spark's (r10 tool fix; the asof rows false-mismatched)
                v = v.isoformat()
                if v == "NaT":
                    v = None
            vals.append((c, v))
        out.append(tuple(vals))
    return sorted(out, key=repr)


def main() -> None:
    names = sys.argv[1].split(",")
    sf_dirs = sys.argv[2:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]

    import duckdb

    import __spark_entry__ as e
    from mare_spark.cache import cache_scope
    from mare_spark.session import get_spark

    spark = get_spark("oracle_check")
    qs, os_ = e.queries(), e.oracle_sql()
    failures = 0
    for sf_dir in sf_dirs:
        con = duckdb.connect()
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        for name in names:
            with cache_scope():
                df = qs[name](spark, sf_dir)
                cols = sorted(df.columns)
                got = canon(df.collect(), cols)
            if name not in os_:
                digest = hashlib.sha256(repr(got).encode()).hexdigest()
                print(f"{name} @ {sf_dir}: HASH {digest} ({len(got)} rows)")
                continue
            odf = con.execute(os_[name]).df()
            want = canon(odf.to_dict("records"), cols)
            ok = got == want
            if not ok:
                failures += 1
                print(f"{name} @ {sf_dir}: MISMATCH "
                      f"(spark {len(got)} rows, duck {len(want)} rows)")
                for g, w in list(zip(got, want))[:5]:
                    if g != w:
                        print("  spark:", g)
                        print("  duck :", w)
            else:
                print(f"{name} @ {sf_dir}: OK ({len(got)} rows)")
        con.close()
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
