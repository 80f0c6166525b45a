"""Command-line entry point: ``python -m mare_spark <subcommand>``.

The reference is a library only; this CLI is the switching-cost sweetener —
every registered query, ad-hoc SQL over the fixture catalog, and the bench
harness are runnable without writing a driver script.

    python -m mare_spark list [--category llm]
    python -m mare_spark run q1_pricing_summary [--sf-dir D] [--limit N] [--json]
    python -m mare_spark sql "SELECT count(*) FROM lineitem" [--sf-dir D]
    python -m mare_spark explain q5_local_supplier_volume [--sf-dir D]
    python -m mare_spark report [--sf-dir D]

Output rows go to stdout (tab-separated, or JSONL with ``--json``);
diagnostics go to stderr, so the CLI composes with shell pipelines.
"""

from __future__ import annotations

import argparse
import json
import sys

from mare_spark.session import DEFAULT_SF_DIR


def _spark(app: str):
    from mare_spark.session import get_spark

    return get_spark(app)


def _emit(df, limit: int | None, as_json: bool) -> None:
    if limit is not None:
        df = df.limit(limit)
    cols = df.columns
    rows = df.collect()
    if as_json:
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
    else:
        print("\t".join(cols))
        for r in rows:
            print("\t".join("" if v is None else str(v) for v in r))
    print(f"# {len(rows)} rows", file=sys.stderr)


def cmd_list(args: argparse.Namespace) -> int:
    from mare_spark.registry import all_queries

    for name, q in sorted(all_queries().items()):
        if args.category and q.category != args.category:
            continue
        oracle = "oracle" if q.oracle else "rows-only"
        bench = " bench" if q.bench else ""
        print(f"{name}\t{q.category}\t{oracle}{bench}")
    return 0


def _lookup(name: str):
    """Shared unknown-name path (r8 review: run/explain carried two
    copies and neither showed the did-you-mean hints Engine.run_query
    already computes). Returns the QueryDef or None after printing the
    suggestion to stderr."""
    from mare_spark.registry import all_queries

    queries = all_queries()
    if name in queries:
        return queries[name]
    import difflib

    near = difflib.get_close_matches(name, queries, n=3)
    hint = f"; did you mean {', '.join(near)}?" if near else ""
    print(f"unknown query: {name}{hint} (see `list`)", file=sys.stderr)
    return None


def cmd_run(args: argparse.Namespace) -> int:
    q = _lookup(args.name)
    if q is None:
        return 2
    spark = _spark(f"mare_spark_run_{args.name}")
    _emit(q.fn(spark, args.sf_dir), args.limit, args.json)
    return 0


def cmd_sql(args: argparse.Namespace) -> int:
    from mare_spark.engine import Engine

    eng = Engine(_spark("mare_spark_sql"), args.sf_dir)
    _emit(eng.sql(args.query), args.limit, args.json)
    return 0


def cmd_explain(args: argparse.Namespace) -> int:
    from mare_spark import plans as P

    q = _lookup(args.name)
    if q is None:
        return 2
    spark = _spark("mare_spark_explain")
    # Driver-composed queries (maintenance/export/BPE reports and the
    # streaming replays) EXECUTE their preparation jobs inside fn() and
    # return a frame built from collected rows — their printed plan is a
    # LocalTableScan of the result, not the work (r8 review). Warn so
    # the surprise (minutes of jobs for an "explain") is at least named.
    if q.category in ("maintenance", "streaming") or "driver" in q.doc:
        print(
            f"# note: {args.name} composes driver-side jobs inside its "
            "builder; explain EXECUTES those jobs and the plan below "
            "covers only the final result frame",
            file=sys.stderr,
        )
    print(P.formatted_plan(q.fn(spark, args.sf_dir)))
    return 0


def cmd_report(args: argparse.Namespace) -> int:
    """One-page corpus dataset card: mix, quality funnel, dedup clusters,
    length histogram — the audit queries a team runs before training,
    composed into a single readout."""
    from mare_spark.cache import cache_scope
    from mare_spark.registry import all_queries

    queries = all_queries()
    spark = _spark("mare_spark_report")
    sections = [
        ("corpus mix (per lang x source)", "corpus_mix_report"),
        ("quality funnel (per source)", "corpus_quality_funnel"),
        ("duplicate clusters", "dedup_cluster_stats"),
        ("length histogram", "corpus_length_histogram"),
    ]
    for title, name in sections:
        # section headers are DIAGNOSTICS under --json: interleaving them
        # into stdout would break the documented JSONL pipe contract
        # (r8 review); JSON consumers get the section on each row instead
        header = f"\n== {title} [{name}] =="
        print(header, file=sys.stderr if args.json else sys.stdout)
        # one scope per section: the session runs every section, so each
        # one's intermediates drop once it is printed
        with cache_scope():
            df = queries[name].fn(spark, args.sf_dir)
            if args.json:
                from pyspark.sql import functions as F

                df = df.select(F.lit(name).alias("section"), "*")
            _emit(df, args.limit, args.json)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="python -m mare_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("list", help="list registered queries")
    sp.add_argument("--category", default=None)
    sp.set_defaults(fn=cmd_list)

    sp = sub.add_parser("run", help="run a registered query")
    sp.add_argument("name")
    sp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    sp.add_argument("--limit", type=int, default=None)
    sp.add_argument("--json", action="store_true")
    sp.set_defaults(fn=cmd_run)

    sp = sub.add_parser("sql", help="run SQL over the fixture catalog")
    sp.add_argument("query")
    sp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    sp.add_argument("--limit", type=int, default=None)
    sp.add_argument("--json", action="store_true")
    sp.set_defaults(fn=cmd_sql)

    sp = sub.add_parser("explain", help="print a query's physical plan")
    sp.add_argument("name")
    sp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    sp.set_defaults(fn=cmd_explain)

    sp = sub.add_parser("report", help="print the corpus dataset card")
    sp.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    sp.add_argument("--limit", type=int, default=40)
    sp.add_argument("--json", action="store_true")
    sp.set_defaults(fn=cmd_report)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
