"""Command-line entry points mirroring the reference's run surface:

    python -m cassandra_data_migration_spark migrate \
        --properties cdm.properties --origin <parquet> --target <out> [--dry-run]
    python -m cassandra_data_migration_spark validate \
        --origin <parquet> --target <parquet> --pk col[,col...]
    python -m cassandra_data_migration_spark guardrail \
        --origin <parquet> --col-caps text=64 --row-cap-kb 256
    python -m cassandra_data_migration_spark sizing \
        --tables users=<parquet>,orders=<parquet> --pk-is-partition-key users

``migrate`` is the spark-submit + cdm.properties flow
(lab/exercises/04-cdm-migration.md:116-124); ``validate`` is
lab/scripts/validate_migration.py's count/missing/mismatch report;
``guardrail`` is CDM's scan-only GuardrailCheck job class
(docs/04-cdm-approach.md:438-447) — the third of the reference's
three spark-submit job classes.
Each prints one JSON line so the commands compose in shell pipelines
the same way the reference's lab scripts do.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="cassandra_data_migration_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    m = sub.add_parser("migrate", help="run the Migrate pipeline")
    m.add_argument("--properties", help="cdm.properties file")
    m.add_argument("--origin", required=True, help="origin parquet path")
    m.add_argument("--target", required=True, help="target parquet path")
    m.add_argument("--dry-run", action="store_true")

    v = sub.add_parser("validate", help="origin/target reconciliation report")
    v.add_argument("--origin", required=True)
    v.add_argument("--target", required=True)
    v.add_argument("--pk", required=True, help="comma-separated primary key")
    v.add_argument("--table", default="")

    g = sub.add_parser(
        "guardrail", help="scan-only size-cap check (CDM GuardrailCheck)"
    )
    g.add_argument("--origin", required=True)
    g.add_argument(
        "--col-caps",
        default="",
        help="comma-separated col=capKB pairs (spark.cdm.guardrail.colSizeInKB)",
    )
    g.add_argument(
        "--row-cap-kb", type=float, default=None,
        help="spark.cdm.guardrail.rowSizeInKB",
    )

    s = sub.add_parser(
        "sizing",
        help="perfops sizing plan from parquet footers "
        "(docs/04-cdm-approach.md:459-463)",
    )
    s.add_argument(
        "--tables",
        required=True,
        help="comma-separated name=path pairs",
    )
    s.add_argument(
        "--pk-is-partition-key",
        default="",
        help="comma-separated table names whose full PK is the "
        "partition key (forces batchSize 1)",
    )
    s.add_argument("--ratelimit", type=int, default=20_000)

    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from cassandra_data_migration_spark.session import get_spark
    from cassandra_data_migration_spark.sources.files import read_parquet

    # reuse a live session when called programmatically (tests, REPL);
    # only stop a session this invocation itself created
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name=f"cdm-spark-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.cmd == "migrate":
            from cassandra_data_migration_spark.plans.migrate import (
                MigrationConfig,
                migrate,
            )
            from cassandra_data_migration_spark.plans.properties import (
                load_config,
            )

            if args.properties:
                cfg = load_config(
                    args.properties, args.origin, args.target, args.dry_run
                )
            else:
                cfg = MigrationConfig(
                    origin_path=args.origin,
                    target_path=args.target,
                    dry_run=args.dry_run,
                )
            res = migrate(spark, cfg)
            print(
                json.dumps(
                    {
                        "rows_read": res.rows_read,
                        "rows_written": res.rows_written,
                        "guardrail_violations": res.guardrail_violations,
                        "elapsed_sec": round(res.elapsed_sec, 3),
                        "rows_per_sec": round(res.rows_per_sec),
                        "batch_size": res.batch_size,
                        "dry_run": res.dry_run,
                    }
                )
            )
            return 0
        if args.cmd == "sizing":
            from cassandra_data_migration_spark.plans.sizing import (
                migration_sizing_plan,
            )

            tables = {}
            for pair in args.tables.split(","):
                if pair.strip():
                    name, eq, path = pair.partition("=")
                    if not eq or not name.strip() or not path.strip():
                        ap.error(f"--tables entry {pair!r} is not name=path")
                    tables[name.strip()] = path.strip()
            flags = {
                t.strip(): True
                for t in args.pk_is_partition_key.split(",")
                if t.strip()
            }
            unknown = sorted(set(flags) - set(tables))
            if unknown:
                # a typo here silently flips CDM's batchSize rule —
                # refuse instead of emitting a wrong plan
                ap.error(
                    "--pk-is-partition-key names not in --tables: "
                    + ", ".join(unknown)
                )
            plan = migration_sizing_plan(
                spark, tables, flags, ratelimit_rows_per_sec=args.ratelimit
            )
            print(json.dumps({"plan": [r.asDict() for r in plan.collect()]}))
            return 0
        if args.cmd == "guardrail":
            from pyspark.sql import functions as F

            from cassandra_data_migration_spark.operators.filters import (
                guardrail_predicate,
            )

            caps = {}
            for pair in args.col_caps.split(","):
                if pair.strip():
                    c, cap = pair.split("=")
                    caps[c.strip()] = float(cap)
            # one scan counts both numbers
            counts = (
                read_parquet(spark, args.origin)
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.count_if(
                        guardrail_predicate(caps or None, args.row_cap_kb)
                    ).alias("bad"),
                )
                .first()
            )
            n_bad = counts["bad"]
            print(
                json.dumps(
                    {
                        "rows_scanned": counts["rows"],
                        "violations": n_bad,
                        "clean": n_bad == 0,
                    }
                )
            )
            return 0 if n_bad == 0 else 1
        # validate
        from cassandra_data_migration_spark.plans.validate import (
            validate_table,
        )

        res = validate_table(
            read_parquet(spark, args.origin),
            read_parquet(spark, args.target),
            pk=[c.strip() for c in args.pk.split(",") if c.strip()],
            table=args.table,
        )
        print(
            json.dumps(
                {
                    "table": res.table,
                    "origin_count": res.origin_count,
                    "target_count": res.target_count,
                    "missing": res.missing,
                    "mismatched": res.mismatched,
                    "extra_in_target": res.extra_in_target,
                    "status": res.status,
                }
            )
        )
        return 0 if res.passed else 1
    finally:
        if not preexisting:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
