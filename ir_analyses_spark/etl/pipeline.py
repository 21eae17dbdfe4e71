"""End-to-end backfill orchestration (SURVEY §3.2/§3.3 re-shaped): the
reference's per-file ingest loop as one scan, one conform, facts replaced
per report, and the dashboard summary maintained by the load.

Reference flow (scripts/bypass_import_csv.py:42-78): glob → per file:
chardet → read_csv → standardize → map → per-row ORM inserts in a fresh
UoW. Here: one multi-encoding scan → one standardize, materialized once →
one conform → four idempotent table writes that read the materialized
frames instead of re-running the scan. Per-filing sequencing disappears
because surrogate keys are deterministic hashes (no flush-to-get-an-id),
and re-running the backfill converges to the same tables (upsert on
natural keys; each report's facts replaced as a unit).

The load also keeps the gold the dashboard reads
(``queries/summary.py``): each report row carries its four resolved
summary measures, and each company the batch touches gets a ``summary``
struct built from its latest committed report. Serving a summary is then
a filter on the company dim instead of a plan over the facts. Each fact
carries its committed report's ``company_id`` and ``fiscal_year_end``, so
serving an item time series is a filter on the facts with no reports join.

Silver is four transaction-log tables (``io/txn.py``) under one silver
version: a load commits its four table versions, then publishes
``_silver/<n>.json`` naming them, and ``read_silver`` reads each table at
the version the latest record names. A reader sees one silver version in
full, the one before a load or the one after it, and a load that fails
before its record leaves the previous version served; re-running it
converges. Silver written in the older bare-directory layout must be
reloaded.

Scale posture: facts partition by ``fiscal_year`` (the query surface's
hottest predicate) and a load rewrites only the partitions it touches;
dims are small and rewrite whole. At 100 TB the same layout holds with
bucketing by ``report_id`` added for fact-fact co-location
(SURVEY §7.3.6).
"""

from __future__ import annotations

import json
import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import sinks, txn
from ..io.sources import read_filing_csvs
from ..queries.summary import company_summary, report_measures
from .conform import conform_all_with_mappings
from .standardize import standardize_raw


#: the report columns each fact carries besides ``fiscal_year``
_REPORT_COPIES = ("company_id", "fiscal_year_end")
#: ``read_silver``'s frame name → silver table directory
_TABLES = {"companies": "companies", "items": "financial_items",
           "reports": "financial_reports", "facts": "financial_data"}
#: the silver version records under the silver root
_SILVER_LOG = "_silver"


def _dedup_deterministic(df: DataFrame, key: str) -> DataFrame:
    """One row per key with a DETERMINISTIC survivor. ``dropDuplicates``
    keeps a partition-order-dependent survivor (the engine's own rule
    forbids it — see ops/aggregates.dedup_by_key), which would make
    re-runs of the backfill upsert different rows and never converge.

    Survivor policy: when the frame carries the source row order
    (``_row_seq`` — the facts table), the LAST source row wins, matching
    both the reference's insertion order and the summary layer's
    last-wins resolution, so a deduped table serves bit-identical
    summaries to the undeduped in-memory frame. Without an order column
    (dims), the lexicographically least full-row struct wins — arbitrary
    but total."""
    row = "struct(" + ", ".join(f"`{c}`" for c in df.columns if c != key) + ")"
    pick = f"max_by({row}, _row_seq)" if "_row_seq" in df.columns else f"min({row})"
    return df.groupBy(key).agg(F.expr(f"{pick} AS _r")).select(key, "_r.*")


def backfill_from_csvs(
    spark: SparkSession,
    csv_glob: str,
    out_dir: str,
    company_mapping: dict | None = None,
    report_mapping: dict | None = None,
) -> dict[str, int]:
    """Bulk CSV backfill: scan → bronze → silver tables under ``out_dir``.

    One scan, one conform, facts replaced per report. The standardized
    bronze, the per-filing cover values and the deduplicated facts, reports
    and companies are materialized once; every table write and the reject
    count read those instead of re-running the scan → conform lineage, and
    the materialized blocks are released before returning. They are local
    checkpoints: an executor lost mid-load fails the load, and re-running
    it converges like any re-run. Returns the quarantine counts,
    ``{"company_rejects": n, "report_rejects": m}``; the four tables are
    txn tables: ``companies/ financial_items/ financial_reports/
    financial_data/``.

    Commit order: items, reports (with their ``report_measures``), facts,
    then companies, each with the ``company_summary`` of its latest
    committed report, then the silver version record naming the four
    table versions. Readers see none of it until that record lands. Each
    table commit builds on its table's latest version, so the commits of
    a load that failed before its record are redone, idempotently, by the
    re-run, or carried by the next load's record. Only the batch's
    companies are rewritten: conform rejects a report whose company it
    rejected, so a batch changes no other company's reports. Loads into
    one silver run one at a time.

    Multi-filing collapse: when several filings map to one natural key
    (re-filed cover pages → same company_id; an original + amendment →
    same report_id and therefore same data_id per item), each table keeps
    ONE deterministic survivor (``_dedup_deterministic``) so repeated
    backfills converge bit-identically. A policy that prefers the
    amendment would order by a filing sequence instead; the testdata
    carries none, so determinism is the contract. A report's surviving row
    and its surviving facts may come from different filings, so the facts
    take ``company_id`` and ``fiscal_year_end`` from the report row the
    load commits, not from their own filing.

    Batch-keyed frames (a batch's reports and companies) are joined by
    broadcast: their size estimates, products of the joins that built
    them, run to terabytes and would plan shuffles. The measures join the
    reports in a shuffled hash join instead: both sides are aggregates on
    ``report_id``, so the join reuses their exchanges and runs no job of
    its own.
    """
    _require_txn_silver(out_dir)
    held: list[DataFrame] = []

    def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
        df = df.localCheckpoint(eager=eager)
        held.append(df)
        return df

    def table(name: str) -> str:
        return os.path.join(out_dir, _TABLES[name])

    try:
        raw = read_filing_csvs(spark, csv_glob)
        std = materialize(standardize_raw(raw, filing_id_col="_filing_path"))
        # mappings arrive from the TOML config source (etl/config_toml.py).
        # The per-filing cover frame feeds both dims, both quarantines and
        # the facts; it is kept by the first job that computes it (the
        # reject count), so the cover aggregate runs once
        bundle = conform_all_with_mappings(
            std, company_mapping, report_mapping,
            lambda cover: materialize(cover, eager=False),
        )
        rejects = _reject_counts(bundle)

        # the report columns facts carry are re-copied from the committed
        # report row below: several filings of one report may disagree
        facts = materialize(
            _dedup_deterministic(bundle["facts"].drop(*_REPORT_COPIES), "data_id")
        )
        # each report row carries its resolved summary measures
        reports = materialize(
            _dedup_deterministic(bundle["reports"], "report_id").join(
                report_measures(facts).hint("shuffle_hash"), "report_id", "left"
            )
        )

        versions = {
            "items": sinks.append_missing(
                bundle["items"], table("items"), "item_id").version,
            "reports": sinks.merge_upsert(
                reports, table("reports"), ["report_id"],
                replace=F.broadcast(reports)).version,
            # facts: replaced per report, scoped to the fiscal_year
            # partitions the batch touches — a later quarter or another
            # company's filing in the same year leaves the facts already
            # loaded in place, and a reloaded report keeps none of its old
            # facts
            "facts": sinks.merge_upsert(
                facts.join(
                    F.broadcast(reports.select("report_id", *_REPORT_COPIES)),
                    "report_id",
                ),
                table("facts"),
                ["report_id"],
                partition_col="fiscal_year",
                replace=F.broadcast(reports.select("report_id", "fiscal_year")),
            ).version,
        }
        # companies last, each with the summary of its latest committed
        # report (commit order: see above)
        companies = materialize(
            _dedup_deterministic(bundle["companies"], "company_id")
        )
        committed = txn.read(
            spark, table("reports"), at_version=versions["reports"]
        ).join(companies.select("company_id"), "company_id", "left_semi")
        versions["companies"] = sinks.merge_upsert(
            companies.join(company_summary(committed), "company_id", "left"),
            table("companies"),
            ["company_id"],
            replace=F.broadcast(companies),
        ).version
        _publish_silver(out_dir, versions)
        return rejects
    finally:
        for df in held:
            sinks.release_checkpoint(df)


def _require_txn_silver(out_dir: str) -> None:
    """Refuse silver in the bare-directory layout: its table directories
    hold parquet files, where a txn table holds only its data and log
    directories. The two layouts never mix."""
    bare = [
        name for name in _TABLES.values()
        if os.path.isdir(os.path.join(out_dir, name))
        and set(os.listdir(os.path.join(out_dir, name))) - {txn._DATA_DIR, txn._LOG_DIR}
    ]
    if bare:
        raise ValueError(
            f"{out_dir} holds silver in the bare-directory layout "
            f"({', '.join(bare)}); silver is now committed as txn tables "
            "under one silver version: reload it into an empty directory"
        )


def _publish_silver(out_dir: str, versions: dict[str, int]) -> None:
    """Publish the next silver version record, naming each table's
    version, with txn's exclusive publish. Loads into one silver run one
    at a time; a load that finds its record number taken fails, and
    re-running it converges."""
    n = (txn._list_versions(out_dir, _SILVER_LOG) or [0])[-1] + 1
    if not txn._publish(out_dir, {"version": n, "tables": versions}, _SILVER_LOG):
        raise txn.ConcurrentWriteRetryExceeded(
            f"silver version {n} of {out_dir} was published by another load"
        )


def _pinned(out_dir: str) -> dict:
    """The latest silver version record:
    ``{"version": n, "tables": {frame name: table version}}``."""
    versions = txn._list_versions(out_dir, _SILVER_LOG)
    if not versions:
        _require_txn_silver(out_dir)
        raise FileNotFoundError(f"no silver version at {out_dir}")
    with open(txn._log_path(out_dir, versions[-1], _SILVER_LOG)) as fh:
        return json.load(fh)


def _reject_counts(bundle: dict[str, DataFrame]) -> dict[str, int]:
    """Both quarantine counts in one action over the materialized cover
    frame (a quarantine holds one row per rejected filing)."""
    names = ("company_rejects", "report_rejects")
    tagged = [bundle[n].select(F.lit(n)) for n in names]
    got = Counter(r[0] for r in tagged[0].union(tagged[1]).collect())
    return {n: got[n] for n in names}


def read_silver(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """Load the four conformed tables back for the query layer, pinned to
    the latest silver version: each table is read at the version that
    record names, so the frames answer as of this call, before and after
    any later load, until a ``VACUUM`` retires those versions. A serving
    process sees a later load by calling ``read_silver`` again.

    ``companies`` is a snapshot: the dim, gold ``summary`` included, is
    collected once inside the JVM (one small job; the dim is bounded by the
    company count, ≤4,000 rows) and served as a driver-local relation. A
    summary request over it plans as a ``LocalTableScan``, runs no Spark job
    and reads no file. The rows never pass through Python, so every type,
    structs and timestamps included, comes back exactly. ``items``,
    ``reports`` and ``facts`` are lazy scans of their versions' files."""
    pinned = _pinned(out_dir)["tables"]
    t = {
        name: txn.read(spark, os.path.join(out_dir, d), at_version=pinned[name])
        for name, d in _TABLES.items()
    }
    jdf = t["companies"]._jdf
    jsnapshot = spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema())
    t["companies"] = DataFrame(jsnapshot, spark)
    return t
