"""Seeded generator of synthetic EDINET XBRL->CSV filing corpora, with the
silver row counts and summary rows the engine must produce from them.

A corpus is a set of quarterly reports (第1..第3四半期) of ``n_companies``
companies over several fiscal years (April to March), one tab-separated CSV
per filing under ``<root>/<year>Q<q>/``. Filings carry the 9 Japanese
headers of the EDINET export and about ``rows_per_filing`` rows; they mix
UTF-8, UTF-8 with BOM, CP932 and UTF-16LE (BOM, CRLF) encodings, Gregorian
(half- and full-width digits) and 令和 period strings, ASCII, full-width and
kanji quarter numbers, net sales booked under different synonym elements,
zero and ``－`` (NULL) incomes, and a few amended re-filings
(訂正四半期報告書) that repeat an original's cover and summary rows.

Everything is a pure function of the seed: the same seed gives byte-identical
files. ``Corpus.expected_*`` compute, from the generator's own rows, what
``etl.pipeline.backfill_from_csvs`` must land and what
``queries.summary.financial_summary`` / ``item_time_series`` must answer.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from decimal import Decimal

HEADER = ("要素ID", "項目名", "コンテキストID", "相対年度", "連結・個別",
          "期間・時点", "ユニットID", "単位", "値")

#: summary measure -> synonym elements in the engine's priority order
#: (queries.summary.SUMMARY_ITEMS; repeated here so the expectation is
#: computed independently of the code under test)
MEASURES = {
    "net_sales": ["jppfs_cor:NetSales", "jppfs_cor:OperatingRevenue1",
                  "jppfs_cor:OperatingRevenueSEC", "jpigp_cor:RevenueIFRS"],
    "operating_income": ["jppfs_cor:OperatingIncome",
                         "jpigp_cor:OperatingProfitLossIFRS"],
    "ordinary_income": ["jppfs_cor:OrdinaryIncome",
                        "jpigp_cor:ProfitLossBeforeTaxIFRS"],
    "net_income": ["jppfs_cor:ProfitLossAttributableToOwnersOfParent",
                   "jppfs_cor:ProfitLoss",
                   "jpigp_cor:ProfitLossAttributableToOwnersOfParentIFRS"],
}

_LABELS = {
    "jppfs_cor:NetSales": "売上高",
    "jppfs_cor:OperatingRevenue1": "営業収益",
    "jppfs_cor:OperatingRevenueSEC": "営業収益",
    "jpigp_cor:RevenueIFRS": "売上収益",
    "jppfs_cor:OperatingIncome": "営業利益",
    "jpigp_cor:OperatingProfitLossIFRS": "営業利益",
    "jppfs_cor:OrdinaryIncome": "経常利益",
    "jpigp_cor:ProfitLossBeforeTaxIFRS": "税引前利益",
    "jppfs_cor:ProfitLossAttributableToOwnersOfParent": "親会社株主に帰属する四半期純利益",
    "jppfs_cor:ProfitLoss": "四半期純利益",
    "jpigp_cor:ProfitLossAttributableToOwnersOfParentIFRS": "親会社の所有者に帰属する四半期利益",
}

#: (element suffix, label) stems for the statement rows around the summary
_FILLER_STEMS = [
    ("CashAndDeposits", "現金及び預金"), ("AccountsReceivable", "売掛金"),
    ("Inventories", "棚卸資産"), ("PropertyPlantAndEquipment", "有形固定資産"),
    ("IntangibleAssets", "無形固定資産"), ("InvestmentSecurities", "投資有価証券"),
    ("AccountsPayable", "買掛金"), ("ShortTermLoansPayable", "短期借入金"),
    ("LongTermLoansPayable", "長期借入金"), ("CapitalStock", "資本金"),
    ("RetainedEarnings", "利益剰余金"), ("TreasuryStock", "自己株式"),
    ("CostOfSales", "売上原価"), ("GrossProfit", "売上総利益"),
    ("SellingExpenses", "販売費"), ("Depreciation", "減価償却費"),
    ("InterestIncome", "受取利息"), ("InterestExpenses", "支払利息"),
    ("IncomeTaxes", "法人税等"), ("Provision", "引当金"),
]
_FILLER_PER_STEM = 12          # element variants per stem and taxonomy
_CONTEXTS = {                   # period type -> (current, prior) contexts
    "時点": ("CurrentQuarterInstant", "Prior1YearInstant"),
    "期間": ("CurrentYTDDuration", "Prior1YTDDuration"),
}
_NAME_HEADS = ["東京", "大阪", "日本", "中央", "北海", "九州", "信越", "湘南",
               "関東", "中部", "山陽", "瀬戸内", "富士", "新光", "大和", "三和"]
_NAME_TAILS = ["工業", "電機", "化学", "製作所", "商事", "精機", "建設", "食品",
               "物産", "産業", "通信", "薬品", "鉄鋼", "運輸", "銀行", "不動産"]
_FW = str.maketrans("0123456789", "０１２３４５６７８９")
_KANJI_Q = {1: "一", 2: "二", 3: "三"}
_QUARTER_END = {1: (6, 30), 2: (9, 30), 3: (12, 31)}
#: encodings in the share they are dealt to filings (40/10/25/25 %)
_ENCODING_DECK = ["utf-8"] * 8 + ["utf-8-sig"] * 2 + ["cp932"] * 5 + ["utf-16"] * 5
_IFRS_FRAC = 0.2


@dataclass(frozen=True)
class Company:
    index: int
    edinet_code: str
    security_code: str
    name: str
    ifrs: bool
    sales_elements: tuple[str, ...]   # booked synonyms; first is the one used
    net_element: str
    has_ordinary: bool
    first_period: int                 # 第n期 of fiscal year 2000
    scale: int                        # yearly sales in yen


@dataclass
class Filing:
    relpath: str
    company: Company
    fiscal_year: int
    quarter: int
    encoding: str
    amended: bool
    rows: list[tuple[str, ...]]
    #: summary element -> value string of its current-period row, the
    #: LAST row of that element in the file
    current: dict[str, str]
    #: summary element -> value string of its prior-year row
    prior: dict[str, str]

    @property
    def period_end(self) -> str:
        m, d = _QUARTER_END[self.quarter]
        return f"{self.fiscal_year:04d}-{m:02d}-{d:02d}"


def _weighted(rng: random.Random, pairs):
    total = sum(w for _, w in pairs)
    x = rng.random() * total
    for v, w in pairs:
        x -= w
        if x < 0:
            return v
    return pairs[-1][0]


def _company(rng: random.Random, i: int, ifrs: bool) -> Company:
    if ifrs:
        sales = ("jpigp_cor:RevenueIFRS",)
        net = "jpigp_cor:ProfitLossAttributableToOwnersOfParentIFRS"
        has_ordinary = rng.random() < 0.7
    else:
        first = _weighted(rng, [("jppfs_cor:NetSales", 70),
                                ("jppfs_cor:OperatingRevenue1", 20),
                                ("jppfs_cor:OperatingRevenueSEC", 10)])
        sales = (first,)
        if first == "jppfs_cor:NetSales" and rng.random() < 0.15:
            sales = (first, "jppfs_cor:OperatingRevenue1")  # both booked
        net = _weighted(rng, [("jppfs_cor:ProfitLossAttributableToOwnersOfParent", 80),
                              ("jppfs_cor:ProfitLoss", 20)])
        has_ordinary = True
    name = ("株式会社" + rng.choice(_NAME_HEADS) + rng.choice(_NAME_TAILS)
            + str(i + 1).translate(_FW))
    return Company(
        index=i,
        edinet_code=f"E{10000 + i:05d}",
        security_code=f"{1300 + 3 * i:04d}0",
        name=name,
        ifrs=ifrs,
        sales_elements=sales,
        net_element=net,
        has_ordinary=has_ordinary,
        first_period=rng.randint(5, 120),
        scale=int(10 ** rng.uniform(9, 12.5)),
    )


def _filler_vocab(prefix: str) -> list[tuple[str, str, str, str]]:
    """(element, label, period type, consolidated type) for one taxonomy."""
    out = []
    for s, (stem, label) in enumerate(_FILLER_STEMS):
        for k in range(_FILLER_PER_STEM):
            period = "時点" if s < 12 else "期間"
            cons = "連結" if k % 3 else "個別"
            out.append((f"{prefix}{stem}{k:02d}", f"{label}{k + 1}", period, cons))
    return out


_VOCAB = {False: _filler_vocab("jppfs_cor:"), True: _filler_vocab("jpigp_cor:")}


def _period_string(rng: random.Random, c: Company, fy: int, q: int) -> str:
    m, d = _QUARTER_END[q]
    style = rng.random()
    if style < 0.4:
        rng_s = f"自 {fy}年4月1日 至 {fy}年{m}月{d}日"
    elif style < 0.6:
        rng_s = f"自　{fy}年4月1日　至　{fy}年{m}月{d}日".translate(_FW)
    else:
        era = "元" if fy == 2019 else str(fy - 2018)
        if rng.random() < 0.5:
            era = era.translate(_FW)
        rng_s = f"自 令和{era}年4月1日 至 令和{era}年{m}月{d}日"
    qs = rng.choice([str(q), str(q).translate(_FW), _KANJI_Q[q]])
    period_no = str(c.first_period + fy - 2000)
    if rng.random() < 0.5:
        period_no = period_no.translate(_FW)
    return f"第{period_no}期第{qs}四半期({rng_s})"


def _amount(x: float) -> int:
    return int(round(x / 1000.0)) * 1000


def _measures(rng: random.Random, c: Company, fy: int, q: int) -> dict[str, str]:
    """element -> current value string for the summary elements booked."""
    growth = 1.0 + 0.04 * (fy - 2020) + rng.uniform(-0.03, 0.03)
    sales = _amount(c.scale * growth * q / 4.0)
    if rng.random() < 0.01:
        sales = 0
    op = _amount(sales * rng.uniform(-0.06, 0.2))
    if rng.random() < 0.05:
        op = 0
    ordinary = _amount(op * rng.uniform(0.85, 1.15))
    net = _amount(ordinary * rng.uniform(0.55, 0.75))
    out: dict[str, str] = {}
    for k, e in enumerate(c.sales_elements):
        out[e] = str(sales if k == 0 else _amount(sales * 1.02))
    out["jpigp_cor:OperatingProfitLossIFRS" if c.ifrs
        else "jppfs_cor:OperatingIncome"] = str(op)
    if c.has_ordinary:
        out["jpigp_cor:ProfitLossBeforeTaxIFRS" if c.ifrs
            else "jppfs_cor:OrdinaryIncome"] = str(ordinary)
    roll = rng.random()
    out[c.net_element] = "－" if roll < 0.05 else "0" if roll < 0.1 else str(net)
    return out


def _cover_rows(c: Company, fy: int, q: int, period: str, amended: bool,
                filing_day: int) -> list[tuple[str, ...]]:
    m, d = _QUARTER_END[q]
    fm = m + 2 if m + 2 <= 12 else m + 2 - 12
    fyr = fy if m + 2 <= 12 else fy + 1
    filed = f"{fyr:04d}-{fm:02d}-{filing_day + (10 if amended else 0):02d}"
    title = "訂正四半期報告書" if amended else "四半期報告書"

    def cov(e, label, v):
        return (e, label, "FilingDateInstant", "提出日時点", "その他", "時点",
                "－", "－", v)

    return [
        cov("jpdei_cor:EDINETCodeDEI", "ＥＤＩＮＥＴコード、ＤＥＩ", c.edinet_code),
        cov("jpdei_cor:SecurityCodeDEI", "証券コード、ＤＥＩ", c.security_code),
        cov("jpdei_cor:IndustryCodeWhenConsolidatedFinancialStatementsArePrepared"
            "InAccordanceWithIndustrySpecificRegulationsDEI",
            "別記事業、ＤＥＩ", "CTE"),
        cov("jpdei_cor:AccountingStandardsDEI", "会計基準、ＤＥＩ",
            "IFRS" if c.ifrs else "Japan GAAP"),
        cov("jpdei_cor:CurrentPeriodEndDateDEI", "当会計期間終了日、ＤＥＩ",
            f"{fy:04d}-{m:02d}-{d:02d}"),
        cov("jpcrp_cor:DocumentTitleCoverPage", "表紙、書類名", title),
        cov("jpcrp_cor:FilingDateCoverPage", "表紙、提出日", filed),
        cov("jpcrp_cor:CompanyNameCoverPage", "表紙、会社名", c.name),
        cov("jpcrp_cor:QuarterlyAccountingPeriodCoverPage", "表紙、四半期会計期間",
            period),
    ]


def _filing(seed: int, c: Company, fy: int, q: int, encoding: str, rows_per_filing: int,
            amend_of: Filing | None = None) -> Filing:
    """One filing. An amendment reuses the original's period string and
    summary rows (so the surviving report and every summary answer are
    independent of which copy the engine keeps) and re-draws the rest."""
    rng = random.Random(f"{seed}/{c.index}/{fy}/{q}/{amend_of is not None}")
    if amend_of is None:
        period = _period_string(rng, c, fy, q)
        current = _measures(rng, c, fy, q)
        prior = {e: (v if v in ("－", "0") else str(_amount(int(v) * rng.uniform(0.8, 1.1))))
                 for e, v in current.items()}
        filing_day = rng.randint(5, 14)
    else:
        period = next(r[8] for r in amend_of.rows
                      if r[0] == "jpcrp_cor:QuarterlyAccountingPeriodCoverPage")
        filing_day = int(next(r[8] for r in amend_of.rows
                              if r[0] == "jpcrp_cor:FilingDateCoverPage")[-2:])
        current, prior = amend_of.current, amend_of.prior

    rows = _cover_rows(c, fy, q, period, amend_of is not None, filing_day)
    rel_cur, rel_pri = "当四半期累計期間", "前年度同四半期累計期間"
    summary_rows = []
    for e in current:
        summary_rows.append((e, _LABELS[e], "Prior1YTDDuration", rel_pri, "連結",
                             "期間", "JPY", "円", prior[e]))
    for e in current:
        summary_rows.append((e, _LABELS[e], "CurrentYTDDuration", rel_cur, "連結",
                             "期間", "JPY", "円", current[e]))

    vocab = _VOCAB[c.ifrs]
    n_filler = max(0, (rows_per_filing - len(rows) - len(summary_rows)) // 2)
    picks = sorted(rng.sample(range(len(vocab)), min(n_filler, len(vocab))))
    filler = []
    for k in picks:
        e, label, period_type, cons = vocab[k]
        cur_ctx, pri_ctx = _CONTEXTS[period_type]
        for ctx, rel in ((cur_ctx, rel_cur), (pri_ctx, rel_pri)):
            v = "－" if rng.random() < 0.03 else str(_amount(c.scale * rng.uniform(0.001, 0.3)))
            filler.append((e, label, ctx, rel, cons, period_type, "JPY", "円", v))
    cut = rng.randint(0, len(filler))
    rows += filler[:cut] + summary_rows + filler[cut:]

    tag = "_amend" if amend_of is not None else ""
    return Filing(
        relpath=f"{fy:04d}Q{q}/{c.edinet_code}_{fy:04d}Q{q}{tag}.csv",
        company=c, fiscal_year=fy, quarter=q, encoding=encoding,
        amended=amend_of is not None, rows=rows, current=current, prior=prior,
    )


def encode_filing(f: Filing) -> bytes:
    """The file's bytes: quoted tab-separated fields, CRLF for UTF-16."""
    newline = "\r\n" if f.encoding == "utf-16" else "\n"
    lines = ["\t".join(f'"{v}"' for v in r) for r in [HEADER, *f.rows]]
    text = newline.join(lines) + newline
    if f.encoding == "utf-16":
        return b"\xff\xfe" + text.encode("utf-16-le")
    return text.encode(f.encoding)


@dataclass
class Corpus:
    seed: int
    companies: list[Company]
    filings: list[Filing]

    # -- layout ---------------------------------------------------------
    def quarters(self) -> list[tuple[int, int]]:
        return sorted({(f.fiscal_year, f.quarter) for f in self.filings})

    def filings_in(self, quarters) -> list[Filing]:
        qs = set(quarters)
        return [f for f in self.filings if (f.fiscal_year, f.quarter) in qs]

    def write(self, root: str, quarters=None) -> int:
        """Write the filings (of ``quarters``, default all) under ``root``;
        returns the bytes written."""
        total = 0
        for f in self.filings_in(quarters or self.quarters()):
            path = os.path.join(root, f.relpath)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            data = encode_filing(f)
            with open(path, "wb") as fh:
                fh.write(data)
            total += len(data)
        return total

    # -- expectations ---------------------------------------------------
    def expected_counts(self, quarters) -> dict[str, int]:
        """Silver row counts after loading ``quarters`` (cumulatively)."""
        fs = self.filings_in(quarters)
        items = {r[0] for f in fs for r in f.rows
                 if "jppfs_cor:" in r[0] or "jpigp_cor:" in r[0]}
        reports = {(f.company.edinet_code, f.fiscal_year, f.quarter) for f in fs}
        facts = {(f.company.edinet_code, f.fiscal_year, f.quarter, r[0], r[2], r[5], r[4])
                 for f in fs for r in f.rows
                 if "jppfs_cor:" in r[0] or "jpigp_cor:" in r[0]}
        return {
            "companies": len({f.company.edinet_code for f in fs}),
            "items": len(items),
            "reports": len(reports),
            "facts": len(facts),
            "raw_rows": sum(len(f.rows) for f in fs),
        }

    def expected_summary(self, quarters) -> dict[str, tuple]:
        """edinet_code -> the financial_summary row (as a tuple in the
        DTO's column order) after loading ``quarters``."""
        latest: dict[str, Filing] = {}
        for f in self.filings_in(quarters):
            key = (f.fiscal_year, f.period_end)
            cur = latest.get(f.company.edinet_code)
            if cur is None or key > (cur.fiscal_year, cur.period_end):
                latest[f.company.edinet_code] = f
        return {code: summary_row(f) for code, f in latest.items()}

    def expected_series(self, quarters, edinet_code: str, element: str) -> list[tuple]:
        """Sorted (fiscal_year_end, value, is_numeric) rows of
        ``item_time_series`` for one company and element. ``value_text`` is
        left out: the text of a NULL marker depends on the decoder (the
        CP932 dash 0x817C is U+FF0D in Python's codec but U+2212 in the
        JVM's), and the dashboard shows NULL either way."""
        seen: dict[tuple, tuple] = {}
        for f in self.filings_in(quarters):
            if f.company.edinet_code != edinet_code:
                continue
            for r in f.rows:
                if r[0] != element:
                    continue
                key = (f.fiscal_year, f.quarter, r[2], r[5], r[4])
                value, _, numeric = parse_value(r[8])
                seen[key] = (f.period_end, value, numeric)
        return sorted(seen.values(), key=repr)


def parse_value(raw: str) -> tuple:
    """(value, value_text, is_numeric) as the silver fact table holds them."""
    v = raw.replace("－", "")
    try:
        return (Decimal(int(float(v))), None, True)
    except ValueError:
        return (None, v, False)


def summary_row(f: Filing) -> tuple:
    """The expected FinancialSummaryDTO row for a company's latest filing."""
    vals: dict[str, tuple[bool, float | None]] = {}
    for measure, candidates in MEASURES.items():
        present = [e for e in candidates if e in f.current]
        if not present:
            vals[measure] = (False, None)
            continue
        v = parse_value(f.current[present[0]])[0]
        vals[measure] = (True, None if v is None else float(v))
    sales = vals["net_sales"][1]

    def rate(measure):
        inc = vals[measure][1]
        if inc is None or inc == 0 or sales is None or sales == 0:
            return None
        return inc / sales * 100.0

    scaled = [None if vals[m][1] is None else vals[m][1] / 1_000_000.0 for m in MEASURES]
    q = f"Q{f.quarter}"
    return (f.company.name, f"{f.fiscal_year} {q}", f.fiscal_year, q,
            rate("operating_income"), rate("ordinary_income"), rate("net_income"),
            *scaled, f.company.edinet_code)


def generate(seed: int, n_companies: int, fiscal_years: list[int],
             rows_per_filing: int = 450, amend_frac: float = 0.03) -> Corpus:
    """Quarterly filings Q1..Q3 of each fiscal year, plus Q1 of the
    following year — the increment a later load appends.

    The seed decides which companies report under IFRS, which filings are
    amended and which encoding each file has, but not how many: corpora of
    one shape have the same size for every seed."""
    rng = random.Random(f"corpus/{seed}")
    ifrs = set(rng.sample(range(n_companies), round(_IFRS_FRAC * n_companies)))
    companies = [_company(rng, i, i in ifrs) for i in range(n_companies)]
    quarters = [(fy, q) for fy in fiscal_years for q in (1, 2, 3)]
    quarters.append((max(fiscal_years) + 1, 1))
    slots = [(fy, q, c) for fy, q in quarters for c in companies]
    amended = set(rng.sample(range(len(slots)), max(1, round(amend_frac * len(slots)))))
    deck = [_ENCODING_DECK[k % len(_ENCODING_DECK)]
            for k in range(len(slots) + len(amended))]
    rng.shuffle(deck)
    filings = []
    for k, (fy, q, c) in enumerate(slots):
        f = _filing(seed, c, fy, q, deck.pop(), rows_per_filing)
        filings.append(f)
        if k in amended:
            filings.append(_filing(seed, c, fy, q, deck.pop(), rows_per_filing, amend_of=f))
    return Corpus(seed=seed, companies=companies, filings=filings)
