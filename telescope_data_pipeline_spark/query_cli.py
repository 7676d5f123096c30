"""Run any registered query from the command line.

    python -m telescope_data_pipeline_spark.query_cli --list
    python -m telescope_data_pipeline_spark.query_cli q_bm25 \
        [--sf-dir /root/testdata/sf0.01] [--limit 20] [--explain] \
        [--out DIR]

The registry (queries/registry.py) is the single source of truth: every
operator the engine implements is invocable here by name, printed as a
table, optionally written to parquet with ``--out``, and ``--explain``
prints the AQE-finalized physical plan instead of rows, for auditing a
query's plan.
"""

from __future__ import annotations

import argparse


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="telescope_data_pipeline_spark.query_cli",
                                description=__doc__)
    p.add_argument("name", nargs="?", help="registered query name (q_*)")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                   help="directory of the parquet tables")
    p.add_argument("--limit", type=int, default=20,
                   help="max rows to print (0 = count only)")
    p.add_argument("--explain", action="store_true",
                   help="print the formatted physical plan, not rows")
    p.add_argument("--out", default=None,
                   help="write the full result as parquet to this path")
    p.add_argument("--list", action="store_true", dest="list_queries",
                   help="list registered queries (oracle-checked marked *)")
    args = p.parse_args(argv)

    from .queries import all_queries

    qs = all_queries()
    if args.list_queries or not args.name:
        for name, q in sorted(qs.items()):
            mark = "*" if q.oracle is not None else " "
            first = (q.doc or "").split("\n", 1)[0]
            print(f"{mark} {name:24s} {first}")
        return 0
    if args.name not in qs:
        p.error(f"unknown query {args.name!r} (see --list)")

    from .session import get_spark

    spark = get_spark(f"query-{args.name}")
    df = qs[args.name].fn(spark, args.sf_dir)
    if args.explain:
        df.collect()  # finalize AQE so the printed plan is the real one
        from .plans.audit import formatted_plan

        print(formatted_plan(df))
        return 0
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {spark.read.parquet(args.out).count()} rows to {args.out}")
        return 0
    if args.limit:
        df.show(args.limit, truncate=40)
    print(f"rows: {df.count()}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
