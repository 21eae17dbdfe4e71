"""EDINET REST client (SURVEY §2A S4 — the live-fetch edge the engine was
missing; reference utils/api.py:45-139).

Behavioral parity with the reference, re-expressed for an engine:

- list the documents submitted on a date (``documents.json``, type=2) and
  filter to quarterly reports (``docDescription`` contains 四半期報告書,
  reference utils/api.py:81-83);
- resolve a company name to its docID, raising when absent
  (reference utils/api.py:29-42);
- download one document as a ZIP (type=5 → CSV export) and extract the
  ``XBRL_TO_CSV/jpcrp*.csv`` members (reference utils/api.py:96-123);
- hand the extracted files to the existing encoding-sniffed Spark scan
  (``sources.read_filing_csvs``) — the reference instead reads one file
  into pandas.

Design differences from the reference, on purpose:

- **Injectable transport.** The HTTP GET is a ``transport(url, params) ->
  bytes`` callable; the default is stdlib ``urllib`` (no external HTTP
  dependency), and tests inject an in-memory fake — the full client logic
  is exercised with zero network. The reference hard-wires ``requests``.
- **Errors are typed, not logged-and-None.** A missing ``results`` key, a
  bad ZIP, or an empty extraction raises :class:`EdinetApiError` with
  context; callers that want the reference's skip-and-continue behavior
  catch it per date. Silent ``None`` returns are how partial backfills go
  unnoticed.
- **Driver-side orchestration, Spark-side scan.** Listing + download are
  metadata-sized (one JSON + one ZIP per filing) and run on the driver;
  the heavy CSV parse is the distributed scan.
"""

from __future__ import annotations

import io
import json
import os
import urllib.parse
import urllib.request
import zipfile
from collections.abc import Callable

#: EDINET v2 API root (public, documented). Override per deployment.
DEFAULT_BASE_URL = "https://api.edinet-fsa.go.jp/api/v2"

#: documents.json: 2 = metadata list; document download: 5 = CSV export,
#: 2 = PDF (reference utils/api.py:59,105)
LIST_TYPE_METADATA = 2
DOC_TYPE_CSV = 5

#: the reference's quarterly-report filter term (utils/api.py:82)
QUARTERLY_TERM = "四半期報告書"

#: ZIP members worth extracting (utils/api.py:116)
CSV_MEMBER_PREFIX = "XBRL_TO_CSV/jpcrp"
CSV_MEMBER_SUFFIX = ".csv"

Transport = Callable[[str, dict], bytes]


class EdinetApiError(RuntimeError):
    """A structured failure from the EDINET API or its payloads."""


def urllib_transport(url: str, params: dict, timeout: int = 30) -> bytes:
    """Default GET transport on stdlib urllib — no external HTTP client."""
    full = f"{url}?{urllib.parse.urlencode(params)}" if params else url
    with urllib.request.urlopen(full, timeout=timeout) as resp:  # noqa: S310
        return resp.read()


class EdinetClient:
    """Minimal EDINET v2 client with a pluggable transport.

    ``api_key`` falls back to the ``EDINET_API_KEY`` environment variable,
    mirroring the reference's key lookup (utils/api.py:16-26).
    """

    def __init__(
        self,
        api_key: str | None = None,
        base_url: str = DEFAULT_BASE_URL,
        transport: Transport | None = None,
    ):
        self.api_key = api_key or os.environ.get("EDINET_API_KEY")
        self.base_url = base_url.rstrip("/")
        self.transport = transport or urllib_transport

    def _get(self, url: str, params: dict) -> bytes:
        """One transport call with the API key attached; transport-level
        failures (HTTP errors, timeouts, DNS) surface as EdinetApiError so
        a per-date skip-and-continue loop needs exactly one except clause."""
        if not self.api_key:
            raise EdinetApiError(
                "no API key: pass api_key= or set EDINET_API_KEY "
                "(reference utils/api.py:16-26)"
            )
        try:
            return self.transport(url, {**params, "Subscription-Key": self.api_key})
        except EdinetApiError:
            raise
        except Exception as e:  # urllib.error.*, socket timeouts, fakes
            raise EdinetApiError(f"GET {url} failed: {e}") from e

    # -- document list ----------------------------------------------------

    def list_documents(self, date: str) -> list[dict]:
        """All documents submitted on ``date`` (yyyy-mm-dd)."""
        raw = self._get(
            f"{self.base_url}/documents.json",
            {"date": date, "type": LIST_TYPE_METADATA},
        )
        try:
            payload = json.loads(raw)
        except json.JSONDecodeError as e:
            raise EdinetApiError(f"documents.json for {date}: not JSON") from e
        if "results" not in payload:
            # the reference logs and returns None here (utils/api.py:85-90);
            # a typed error keeps a backfill from silently skipping the date
            raise EdinetApiError(
                f"documents.json for {date}: no 'results' key "
                f"(metadata: {payload.get('metadata')})"
            )
        return payload["results"]

    def quarterly_filings(self, date: str) -> list[dict]:
        """The reference's working set: quarterly reports only."""
        return [
            r
            for r in self.list_documents(date)
            if QUARTERLY_TERM in (r.get("docDescription") or "")
        ]

    @staticmethod
    def doc_id_for_company(results: list[dict], company_name: str) -> str:
        """Resolve a filer name to its docID (reference utils/api.py:29-42:
        first match wins; absence raises)."""
        for r in results:
            if r.get("filerName") == company_name:
                return r["docID"]
        raise EdinetApiError(f"会社名: {company_name} が見つかりませんでした")

    # -- document download ------------------------------------------------

    def fetch_document(self, doc_id: str, doc_type: int = DOC_TYPE_CSV) -> bytes:
        """One document's ZIP payload (type=5 → XBRL-to-CSV export)."""
        return self._get(
            f"{self.base_url}/documents/{doc_id}", {"type": doc_type}
        )

    def save_filing_csvs(self, doc_id: str, dest_dir: str) -> list[str]:
        """Download ``doc_id`` and extract its jpcrp CSV members under
        ``dest_dir/doc_id/``; returns the extracted paths (the reference
        extracts then globs, utils/api.py:111-127)."""
        payload = self.fetch_document(doc_id)
        try:
            zf = zipfile.ZipFile(io.BytesIO(payload))
        except zipfile.BadZipFile as e:
            raise EdinetApiError(f"document {doc_id}: not a ZIP") from e
        out: list[str] = []
        with zf:
            for member in zf.namelist():
                if member.startswith(CSV_MEMBER_PREFIX) and member.endswith(
                    CSV_MEMBER_SUFFIX
                ):
                    zf.extract(member, path=os.path.join(dest_dir, doc_id))
                    out.append(os.path.join(dest_dir, doc_id, member))
        if not out:
            raise EdinetApiError(
                f"document {doc_id}: no {CSV_MEMBER_PREFIX}*{CSV_MEMBER_SUFFIX} "
                "members in ZIP"
            )
        return out

    # -- orchestration ----------------------------------------------------

    def download_quarterly_filings(
        self,
        dates: list[str],
        dest_dir: str,
        skip_errors: bool = False,
        errors: list[tuple[str, str]] | None = None,
    ) -> list[str]:
        """List + download every quarterly filing for ``dates``; returns all
        extracted CSV paths. Feed the result to
        ``sources.read_filing_csvs(spark, paths)`` for the distributed,
        encoding-sniffed scan.

        By default a failed date/filing raises (all-or-nothing). With
        ``skip_errors=True`` the backfill keeps going past bad dates and
        corrupt ZIPs — the reference's log-and-continue behavior — and the
        successfully extracted paths so far are still returned; pass an
        ``errors`` list to receive (context, message) for each skip."""
        paths: list[str] = []
        for date in dates:
            try:
                filings = self.quarterly_filings(date)
            except EdinetApiError as e:
                if not skip_errors:
                    raise
                if errors is not None:
                    errors.append((date, str(e)))
                continue
            for filing in filings:
                try:
                    paths += self.save_filing_csvs(filing["docID"], dest_dir)
                except EdinetApiError as e:
                    if not skip_errors:
                        raise
                    if errors is not None:
                        errors.append((filing["docID"], str(e)))
        return paths
