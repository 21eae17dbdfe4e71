#!/usr/bin/env python3
"""Backfill CLI: bulk-load XBRL→CSV filing exports into the silver tables
and (optionally) print the financial summary — the engine's operator twin
of the reference's import script (reference scripts/bypass_import_csv.py:
42-78, a driver-side per-file chardet → read_csv → per-row ORM loop; here
one multi-encoding Spark scan → conform → four idempotent table writes).

Runs identically under plain python and spark-submit:

    python backfill.py --csv-glob 'download/**/*.csv' --out-dir /data/silver
    spark-submit backfill.py --csv-glob ... --out-dir ... [--summary]

Exit code is 0 even when rows are quarantined (the reference logs and
continues, reference utils/api.py error paths) — quarantine counts go to
stderr and the machine-readable table counts to stdout as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument(
        "--csv-glob",
        required=True,
        help="recursive glob of filing CSVs, e.g. 'download/**/*.csv'",
    )
    ap.add_argument(
        "--out-dir", required=True, help="silver root (txn tables under one silver version)"
    )
    ap.add_argument(
        "--summary",
        action="store_true",
        help="after loading, print every company's financial summary",
    )
    ap.add_argument(
        "--config",
        default=None,
        help="TOML config path for the XBRL mappings (default: the "
        "fallback chain — repo-root config/config.toml, then "
        "./config/config.toml; no file = in-code defaults)",
    )
    ap.add_argument(
        "--cpus", default=None, help="local[N] parallelism (default: env)"
    )
    args = ap.parse_args(argv)

    from ir_analyses_spark.etl.config_toml import load_config, xbrl_mappings
    from ir_analyses_spark.session import get_spark

    company_mapping, report_mapping = xbrl_mappings(load_config(args.config))
    spark = get_spark(app_name="ir_analyses_backfill", cpus=args.cpus)
    load_and_report(
        spark, args.csv_glob, args.out_dir, company_mapping, report_mapping,
        args.summary,
    )
    return 0


def load_and_report(
    spark, csvs, out_dir: str, company_mapping, report_mapping, summary: bool
) -> None:
    """Backfill ``csvs`` (a glob or a list of paths) into ``out_dir`` and
    report: quarantine counts to stderr, the silver table counts to stdout
    as one JSON line, then with ``summary`` one JSON line per company.
    Shared by this CLI and ingest.py."""
    from ir_analyses_spark.etl import pipeline
    from ir_analyses_spark.queries import summary as summary_q

    rejects = pipeline.backfill_from_csvs(
        spark, csvs, out_dir, company_mapping, report_mapping
    )
    for qname, n in rejects.items():
        if n:
            print(f"{qname}: {n} rows quarantined", file=sys.stderr)

    tables = pipeline.read_silver(spark, out_dir)
    print(
        json.dumps(
            {name: df.count() for name, df in sorted(tables.items())},
            ensure_ascii=False,
        )
    )

    if summary:
        rows = summary_q.financial_summary(
            tables["companies"],
            tables["reports"],
            tables["facts"],
            tables["items"],
        ).collect()
        for r in rows:
            print(json.dumps(r.asDict(), ensure_ascii=False, default=str))


if __name__ == "__main__":
    raise SystemExit(main())
