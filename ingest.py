#!/usr/bin/env python3
"""Date-driven live-ingest CLI: submission date → EDINET document list →
per-filing ZIP fetch → jpcrp CSV extraction → distributed encoding-sniffed
scan → conform → silver tables (and optionally the financial summary) —
the engine's operator twin of the reference's live import script
(reference scripts/import_financial_data.py:21-54: config → get_company_list
(date) → per-row fetch_single_company_dataframe → ORM save loop; here ONE
client listing, ONE multi-filing Spark scan, four idempotent table writes).

    python ingest.py 2024-02-09 --out-dir /data/silver
    python ingest.py 2024-02-09 2024-02-13 --out-dir /data/silver \\
        --download-dir /data/raw --summary --skip-errors

The EDINET API key comes from --api-key or $EDINET_API_KEY (the
reference's key lookup, utils/api.py:16-26). With --skip-errors a bad
date or corrupt ZIP is reported to stderr and the ingest continues —
the reference's log-and-continue behavior; the default is all-or-nothing.

Where the driver-side work ends: listing and ZIP download are a handful
of per-filing HTTP calls (EDINET caps a day at a few hundred filings), so
they stay on the driver like the reference; everything after the extract
— the multi-encoding scan, conforming, dedup, table writes — is the
distributed path shared with backfill.py, sized for the full corpus.

Exit codes: 0 = loaded (quarantine counts to stderr, table counts to
stdout as one JSON line, like backfill.py); 2 = usage error (argparse's
fixed code); 3 = API failure with --skip-errors unset, or nothing
ingested at all — distinct from usage so a retrying scheduler can tell
a transient API failure from a permanent typo (review-caught).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None, transport=None) -> int:
    """``transport`` is the EdinetClient injection point (tests drive the
    full CLI offline through it; None = stdlib urllib against EDINET)."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument(
        "dates",
        nargs="+",
        metavar="YYYY-MM-DD",
        help="submission date(s) to ingest (the reference takes one)",
    )
    ap.add_argument(
        "--out-dir", required=True, help="silver root (txn tables under one silver version)"
    )
    ap.add_argument(
        "--download-dir",
        default=None,
        help="where extracted filing CSVs land (default: a temp dir)",
    )
    ap.add_argument("--api-key", default=None, help="EDINET API key")
    ap.add_argument(
        "--config",
        default=None,
        help="TOML config path for the XBRL mappings (default: the "
        "fallback chain — repo-root config/config.toml, then "
        "./config/config.toml; no file = in-code defaults)",
    )
    ap.add_argument(
        "--skip-errors",
        action="store_true",
        help="log-and-continue past bad dates / corrupt ZIPs",
    )
    ap.add_argument(
        "--summary",
        action="store_true",
        help="after loading, print every company's financial summary",
    )
    ap.add_argument(
        "--cpus", default=None, help="local[N] parallelism (default: env)"
    )
    args = ap.parse_args(argv)

    from ir_analyses_spark.io.edinet_http import EdinetApiError, EdinetClient

    client = EdinetClient(api_key=args.api_key, transport=transport)
    tmp_dest = None if args.download_dir else tempfile.mkdtemp(prefix="edinet_ingest_")
    dest = args.download_dir or tmp_dest
    try:
        errors: list[tuple[str, str]] = []
        try:
            paths = client.download_quarterly_filings(
                args.dates, dest, skip_errors=args.skip_errors, errors=errors
            )
        except EdinetApiError as e:
            print(f"ingest failed: {e}", file=sys.stderr)
            return 3
        for ctx, msg in errors:
            print(f"skipped {ctx}: {msg}", file=sys.stderr)
        if not paths:
            print(
                "no quarterly filings ingested for the given dates",
                file=sys.stderr,
            )
            return 3

        from backfill import load_and_report
        from ir_analyses_spark.etl.config_toml import load_config, xbrl_mappings
        from ir_analyses_spark.session import get_spark

        # the reference loads its config before any ingest work
        # (scripts/import_financial_data.py:28-30); the fallback chain's
        # {} floor means "no file" costs nothing
        company_mapping, report_mapping = xbrl_mappings(load_config(args.config))

        spark = get_spark(app_name="ir_analyses_ingest", cpus=args.cpus)
        load_and_report(
            spark, paths, args.out_dir, company_mapping, report_mapping,
            args.summary,
        )
        return 0
    finally:
        if tmp_dest is not None:
            # an auto-created download dir is scratch: a scheduled daily
            # ingest must not fill /tmp with extracted filings
            import shutil

            shutil.rmtree(tmp_dest, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
