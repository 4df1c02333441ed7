"""CLI mirroring the reference's six modes (cmd/cli/main.go:46-105),
plus ddl, load-clickhouse, checksum and query.

Usage:
    python -m clickhouse_only_importer_prototype_spark.cli \
        -mode convert-cna -tsv-dir /data/studies -parquet-dir /out
"""

from __future__ import annotations

import argparse
import logging
import sys
import time

from clickhouse_only_importer_prototype_spark.plans import pipelines
from clickhouse_only_importer_prototype_spark.session import get_spark

MODES = (
    # the reference's modes. convert-* read every input file in one scan
    # and write each table once, into the reference's per-file layout
    # (pipelines.convert_cna / convert_mutations); mutations keep
    # per-file failure isolation, CNA aborts on the first failure
    "convert-cna",
    "convert-cna-with-derived",
    "convert-mutations",
    "combine-cna",
    "combine-cna-with-derived",
    "combine-mutations",
    # beyond the reference: emit the ClickHouse CREATE TABLE statements
    # for the five catalog tables (the DDL the JDBC sink's inserts or an
    # out-of-band parquet load assume on the server)
    "ddl",
    # beyond the reference: bulk-load converted parquet into a live
    # ClickHouse over the jar-free HTTP interface (DDL, then one
    # JSONEachRow insert job per table of per-file outputs; see
    # pipelines.load_clickhouse). Credentials via CLICKHOUSE_USER /
    # CLICKHOUSE_PASSWORD env vars.
    "load-clickhouse",
    # beyond the reference: order-independent convergence fingerprint of
    # every parquet table under -parquet-dir (operators/profile.
    # table_checksum) — run on both sides of a replication/MERGE and
    # diff the integers instead of the tables
    "checksum",
    # beyond the reference: run any registered analytics query by name
    # against a testdata-shaped parquet dir and print the result
    # (-name list prints the registry)
    "query",
)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    # -mode defaults to convert-cna like the reference (cmd/cli/main.go:47-50)
    parser.add_argument("-mode", "--mode", default="convert-cna", choices=MODES)
    parser.add_argument("-tsv-dir", "--tsv-dir", default=None)
    parser.add_argument("-parquet-dir", "--parquet-dir", default=None)
    # combined-output base name, abs or relative (cmd/cli/main.go:59-63)
    parser.add_argument(
        "-output", "--output", default=pipelines.DEFAULT_COMBINE_OUTPUT
    )
    parser.add_argument(
        "-name", "--name", default="list",
        help="query mode: registry query name, or 'list'",
    )
    parser.add_argument(
        "-limit", "--limit", type=int, default=20,
        help="query mode: max rows printed",
    )
    parser.add_argument(
        "-explain", "--explain", action="store_true",
        help="query mode: print the formatted physical plan instead of"
        " executing (plan review: broadcasts, PushedFilters, codegen)",
    )
    parser.add_argument(
        "-describe", "--describe", action="store_true",
        help="query mode with -name list: include each query's"
        " one-line description",
    )
    parser.add_argument(
        "-oracle", "--oracle", action="store_true",
        help="query mode: run the query AND its DuckDB oracle on the"
        " same parquet dir and print the driver-identical match"
        " verdict (rows / columns / order-insensitive value hash)",
    )
    parser.add_argument(
        "-clickhouse-url", "--clickhouse-url", default=None,
        help="load-clickhouse mode: HTTP interface endpoint, e.g."
        " http://host:8123 (credentials via CLICKHOUSE_USER /"
        " CLICKHOUSE_PASSWORD env vars)",
    )
    args = parser.parse_args(argv)

    if args.mode == "query":
        import __spark_entry__ as entry  # registry lives at repo root

        registry = entry.queries()
        if args.name == "list":
            oracled = set(entry.oracle_sql())
            for name, fn in registry.items():
                tag = "oracled" if name in oracled else "rows-only"
                if args.describe:
                    doc = (fn.__doc__ or "").strip().splitlines()
                    first = doc[0].rstrip() if doc else ""
                    print(f"{name}\t{tag}\t{first}")
                else:
                    print(f"{name}\t{tag}")
            return 0
        if args.name not in registry:
            parser.error(f"unknown query {args.name!r}; try -name list")
        if not args.parquet_dir:
            parser.error("-parquet-dir (the sf tables dir) required")
        spark = get_spark(app_name=f"cips-query-{args.name}")
        t0 = time.time()
        df = registry[args.name](spark, args.parquet_dir)
        if args.explain:
            # the plan-review loop as a first-class surface: the same
            # .explain("formatted") the plan tests pin, without running
            df.explain("formatted")
            return 0
        if args.oracle:
            # the hard gate as a first-class surface: the exact
            # comparison the driver (and tests/test_oracle.py) runs
            oracles = entry.oracle_sql()
            if args.name not in oracles:
                parser.error(f"{args.name!r} is rows-only (no oracle)")
            import math

            import duckdb

            con = duckdb.connect()
            for t in (
                "region nation customer supplier part orders lineitem "
                "events documents embeddings"
            ).split():
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{args.parquet_dir}/{t}.parquet')"
                )

            def canon(v):
                if v is None:
                    return "∅"
                if isinstance(v, float):
                    return "NaN" if math.isnan(v) else repr(v)
                return str(v)

            s_cols = df.columns
            s_rows = [tuple(r) for r in df.collect()]
            res = con.execute(oracles[args.name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()

            def canon_rows(cols, rows):
                order = sorted(range(len(cols)), key=lambda i: cols[i])
                return sorted(
                    tuple(canon(r[i]) for i in order) for r in rows
                )

            cols_ok = sorted(s_cols) == sorted(d_cols)
            rows_ok = len(s_rows) == len(d_rows)
            hash_ok = canon_rows(s_cols, s_rows) == canon_rows(
                d_cols, d_rows
            )
            print(
                f"{args.name}: columns={'MATCH' if cols_ok else 'MISMATCH'}"
                f" rows={'MATCH' if rows_ok else 'MISMATCH'}"
                f" ({len(s_rows)} vs {len(d_rows)})"
                f" values={'MATCH' if hash_ok else 'MISMATCH'}"
            )
            return 0 if (cols_ok and rows_ok and hash_ok) else 1
        df.show(args.limit, truncate=False)
        logging.basicConfig(
            level=logging.INFO, format="%(levelname)s %(message)s"
        )
        logging.info(
            "query %s: %.2fs (printed up to %d rows)",
            args.name, time.time() - t0, args.limit,
        )
        return 0

    if args.mode == "ddl":
        # no Spark session: schemas are static
        from clickhouse_only_importer_prototype_spark.sinks.clickhouse import (
            catalog_ddl,
        )

        for stmt in catalog_ddl().values():
            print(stmt, end=";\n\n")
        return 0
    if not args.parquet_dir:
        parser.error("-parquet-dir required for convert/combine modes")
    if args.mode == "checksum":
        import glob
        import os

        from pyspark.sql import functions as F

        from clickhouse_only_importer_prototype_spark.operators.profile import (
            table_checksum,
        )

        logging.basicConfig(
            level=logging.INFO, format="%(levelname)s %(message)s"
        )
        spark = get_spark(app_name="cips-checksum")
        rc = 0
        tables = sorted(glob.glob(os.path.join(args.parquet_dir, "*.parquet")))
        if not tables:
            logging.error("no *.parquet under %s", args.parquet_dir)
            return 1
        for path in tables:
            df = spark.read.parquet(path)
            # deterministic cross-engine rendering: every column folded
            # to a string the same way on any engine (see table_checksum
            # docstring; floats are the caller's contract — here we
            # round-trip via CAST AS STRING which is stable WITHIN an
            # engine, the common single-engine replication case)
            rendered = df.select(
                *[F.col(c).cast("string").alias(c) for c in df.columns]
            )
            row = table_checksum(rendered).first()
            print(
                f"{os.path.basename(path)}\t"
                f"n_rows={row['n_rows']}\tchecksum={row['checksum']}"
            )
        return rc
    if args.mode.startswith("convert") and not args.tsv_dir:
        parser.error("-tsv-dir required for convert modes")
    if args.mode == "load-clickhouse" and not args.clickhouse_url:
        parser.error("-clickhouse-url required for load-clickhouse mode")

    logging.basicConfig(level=logging.INFO, format="%(levelname)s %(message)s")
    start = time.time()
    spark = get_spark(app_name=f"cips-{args.mode}")
    rc = 0
    try:
        if args.mode in ("convert-cna", "convert-cna-with-derived"):
            # CNA mode aborts on first failure (cna/transformer.go:30-45):
            # report it as a nonzero exit, not a traceback
            try:
                pipelines.convert_cna(
                    spark,
                    args.tsv_dir,
                    args.parquet_dir,
                    with_derived=args.mode.endswith("with-derived"),
                )
            except Exception as exc:  # noqa: BLE001
                logging.error("convert-cna aborted: %s", exc)
                rc = 1
        elif args.mode == "convert-mutations":
            summary = pipelines.convert_mutations(
                spark, args.tsv_dir, args.parquet_dir
            )
            rc = 0 if summary.ok else 1
        elif args.mode in ("combine-cna", "combine-cna-with-derived"):
            pipelines.combine_cna(
                spark,
                args.parquet_dir,
                with_derived=args.mode.endswith("with-derived"),
                output=args.output,
            )
        elif args.mode == "combine-mutations":
            pipelines.combine_mutations(spark, args.parquet_dir, output=args.output)
        elif args.mode == "load-clickhouse":
            import os as _os

            counts = pipelines.load_clickhouse(
                spark,
                args.parquet_dir,
                args.clickhouse_url,
                user=_os.environ.get("CLICKHOUSE_USER"),
                password=_os.environ.get("CLICKHOUSE_PASSWORD"),
            )
            for table, n in counts.items():
                logging.info("loaded %s: %d rows", table, n)
    finally:
        # Total wall time, matching cmd/cli/main.go:107-108.
        logging.info("Total execution time: %.2fs", time.time() - start)
    return rc


if __name__ == "__main__":
    sys.exit(main())
