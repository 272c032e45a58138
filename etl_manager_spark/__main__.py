"""Command-line entry point: run any catalog query against a data dir.

Usage::

    python -m etl_manager_spark list [--category text]
    python -m etl_manager_spark run q1_pricing_summary \
        [--sf-dir /root/testdata/sf0.01] [--limit 20] [--explain] [--json]
    python -m etl_manager_spark oracle q1_pricing_summary
    python -m etl_manager_spark verify q1_pricing_summary \
        [--sf-dir /root/testdata/sf0.01]

``verify`` runs the Spark query AND its DuckDB oracle side-by-side on the
same parquet dir and compares row sets (column-name-sorted, like the
driver's gate). Exit code 1 on mismatch.
"""

from __future__ import annotations

import argparse
import json
import sys


def _registry():
    from etl_manager_spark.workloads import load_registry

    return load_registry()


def _session(cpus: str = "8"):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("etl_manager_spark-cli")
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def cmd_list(args) -> int:
    reg = _registry()
    for name in sorted(reg):
        w = reg[name]
        if args.category and w.category != args.category:
            continue
        tag = "sql-oracle" if w.oracle_spec is not None else "rows-only"
        print(f"{name:45s} {w.category:12s} {tag}")
    return 0


def cmd_run(args) -> int:
    reg = _registry()
    if args.query not in reg:
        print(f"unknown query {args.query!r} — try `list`", file=sys.stderr)
        return 2
    spark = _session(args.cpus)
    df = reg[args.query].fn(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    rows = df.limit(args.limit).collect() if args.limit else df.collect()
    if args.json:
        print(json.dumps([r.asDict(recursive=True) for r in rows], default=str))
    else:
        for r in rows:
            print(r)
    print(f"-- {len(rows)} row(s){' (limited)' if args.limit else ''}",
          file=sys.stderr)
    return 0


def cmd_oracle(args) -> int:
    reg = _registry()
    if args.query not in reg:
        print(f"unknown query {args.query!r}", file=sys.stderr)
        return 2
    sql = reg[args.query].oracle
    if sql is None:
        print(f"-- {args.query} is rows-only (no SQL oracle)", file=sys.stderr)
        return 1
    print(sql)
    return 0


def cmd_verify(args) -> int:
    import duckdb

    from etl_manager_spark.workloads.tables import TABLE_NAMES

    reg = _registry()
    w = reg.get(args.query)
    if w is None:
        print(f"unknown query {args.query!r}", file=sys.stderr)
        return 2
    if w.oracle is None:
        print(f"-- {args.query} is rows-only; running Spark side only",
              file=sys.stderr)
        spark = _session(args.cpus)
        n = w.fn(spark, args.sf_dir).count()
        print(f"OK rows={n} (no oracle compare)")
        return 0
    spark = _session(args.cpus)
    sdf = w.fn(spark, args.sf_dir).toPandas().sort_index(axis=1)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )
    odf = con.sql(w.oracle).df().sort_index(axis=1)
    s = sorted(map(tuple, sdf.itertuples(index=False)))
    o = sorted(map(tuple, odf.itertuples(index=False)))
    if list(sdf.columns) != list(odf.columns):
        print(f"MISMATCH columns: spark={list(sdf.columns)} "
              f"oracle={list(odf.columns)}")
        return 1
    if s != o:
        print(f"MISMATCH values: {len(s)} spark rows vs {len(o)} oracle rows")
        for i, (a, b) in enumerate(zip(s, o)):
            if a != b:
                print(f"first diff at sorted row {i}:\n  spark : {a}\n  oracle: {b}")
                break
        return 1
    print(f"OK {args.query}: {len(s)} rows match the DuckDB oracle")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="python -m etl_manager_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("list", help="list catalog queries")
    p.add_argument("--category")
    p.set_defaults(fn=cmd_list)

    for name, fn in (("run", cmd_run), ("verify", cmd_verify)):
        p = sub.add_parser(name)
        p.add_argument("query")
        p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
        p.add_argument("--cpus", default="8")
        if name == "run":
            p.add_argument("--limit", type=int, default=20)
            p.add_argument("--explain", action="store_true")
            p.add_argument("--json", action="store_true")
        p.set_defaults(fn=fn)

    p = sub.add_parser("oracle", help="print a query's DuckDB oracle SQL")
    p.add_argument("query")
    p.set_defaults(fn=cmd_oracle)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
