"""TOML config source (etl/config_toml.py, r7 — VERDICT r6 item 4).

The XBRL mapping becomes editable operational config with the
reference's path-fallback chain (reference utils/config_loader.py:12-60,
config/config.toml:35-49): explicit path → repo-root config/config.toml
→ ./config/config.toml; unreadable candidates are skipped; nothing found
returns {} so the in-code defaults always apply as a floor."""

from __future__ import annotations

import os

import pytest

from ir_analyses_spark.etl import conform
from ir_analyses_spark.etl.config_toml import load_config, xbrl_mappings

from .test_etl_parity import _filing, _std

_REFERENCE_TOML = "/root/reference/config/config.toml"


def test_reference_config_parity():
    """The reference's OWN config.toml loads and yields mappings identical
    to the engine's in-code defaults — the literal values ARE the
    specified semantics."""
    if not os.path.exists(_REFERENCE_TOML):
        pytest.skip("reference checkout not present")
    company, report = xbrl_mappings(load_config(_REFERENCE_TOML))
    assert company == conform.XBRL_COMPANY_MAPPING
    assert report == conform.XBRL_REPORT_MAPPING


def test_repo_default_config_parity_and_fallback_chain(tmp_path):
    """The repo's shipped config/config.toml resolves via the default
    chain and is value-identical to the defaults; missing/malformed
    candidates fall through to {} (never an exception)."""
    company, report = xbrl_mappings(load_config())  # repo-root candidate
    assert company == conform.XBRL_COMPANY_MAPPING
    assert report == conform.XBRL_REPORT_MAPPING
    # explicit missing path: log-and-continue → {} → defaults
    assert load_config(str(tmp_path / "nope.toml")) == {}
    # malformed TOML is skipped, not raised
    bad = tmp_path / "bad.toml"
    bad.write_text("[xbrl_mapping\noops =")
    assert load_config(str(bad)) == {}
    # {} yields the defaults
    assert xbrl_mappings({}) == (
        conform.XBRL_COMPANY_MAPPING,
        conform.XBRL_REPORT_MAPPING,
    )


def test_toml_mapping_drives_identical_conform_output(spark):
    """End-to-end parity: conform under the reference-TOML-loaded
    mappings produces bit-identical company and report rows to the
    default dicts."""
    if not os.path.exists(_REFERENCE_TOML):
        pytest.skip("reference checkout not present")
    std = _std(
        spark,
        _filing("2", "第10期 第2四半期(自 2023年4月1日 至 2023年6月30日)",
                "500000000", "50000000", "40000000", "30000000",
                "jppfs_cor:NetSales"),
    )
    def rows_of(df):
        # audit timestamps (C14) are wall-clock by design; everything else
        # must be bit-identical
        drop = [c for c in df.columns if c in ("created_at", "updated_at")]
        return sorted(map(tuple, df.drop(*drop).collect()))

    company_map, report_map = xbrl_mappings(load_config(_REFERENCE_TOML))
    toml = conform.conform_all_with_mappings(std, company_map, report_map)
    dflt = conform.conform_all_with_mappings(std)
    assert rows_of(toml["companies"]) == rows_of(dflt["companies"])
    assert rows_of(toml["reports"]) == rows_of(dflt["reports"])


def test_operator_edit_changes_extraction(spark, tmp_path):
    """The operational story: editing the TOML (not code) redirects a
    cover-column extraction; a non-string mapping value is rejected
    loudly at load, not deep inside a column expression."""
    cfg = tmp_path / "config.toml"
    cfg.write_text(
        "[xbrl_mapping.company]\n"
        'edinet_code = "jpdei_cor:EDINETCodeDEI"\n'
        'security_code = "jpdei_cor:SecurityCodeDEI"\n'
        'industry_code = "jpdei_cor:IndustryCodeDEI"\n'
        'company_name = "jpdei_cor:FilerNameInJapaneseDEI"\n'  # redirected
    )
    company_map, report_map = xbrl_mappings(load_config(str(cfg)))
    assert company_map["company_name"] == "jpdei_cor:FilerNameInJapaneseDEI"
    assert report_map == conform.XBRL_REPORT_MAPPING  # absent section → default
    rows = _filing("2", "第10期 第2四半期(自 2023年4月1日 至 2023年6月30日)",
                   "1", "1", "1", "1", "jppfs_cor:NetSales")
    rows.append(("jpdei_cor:FilerNameInJapaneseDEI", "項目",
                 "FilingDateInstant", "提出日時点", "その他", "時点",
                 "－", "－", "別名株式会社"))
    bundle = conform.conform_all_with_mappings(_std(spark, rows), company_map)
    assert bundle["companies"].first()["company_name"] == "別名株式会社"

    cfg.write_text("[xbrl_mapping.company]\nedinet_code = 7\n")
    with pytest.raises(ValueError, match="element-id strings"):
        xbrl_mappings(load_config(str(cfg)))


def test_malformed_sections_rejected_loudly(tmp_path):
    """Review-caught: a section present but not a table must raise the
    documented ValueError, not an AttributeError three frames deep."""
    cfg = tmp_path / "config.toml"
    cfg.write_text('[xbrl_mapping]\ncompany = "typo"\n')
    with pytest.raises(ValueError, match=r"\[xbrl_mapping.company\] must be"):
        xbrl_mappings(load_config(str(cfg)))
    cfg.write_text("xbrl_mapping = 3\n")
    with pytest.raises(ValueError, match=r"\[xbrl_mapping\] must be"):
        xbrl_mappings(load_config(str(cfg)))


def test_empty_present_section_rejected(tmp_path):
    """A present-but-empty section is the same operator mistake as a
    section that drops one key, which fails loudly: reject it at load
    too, rather than let it stand for the defaults."""
    cfg = tmp_path / "config.toml"
    cfg.write_text("[xbrl_mapping.company]\n")
    with pytest.raises(ValueError, match="present but empty"):
        xbrl_mappings(load_config(str(cfg)))


def test_mappings_sharing_a_key_rejected():
    """Both dims read one cover frame keyed by the mappings' keys, so a key
    in both sections would feed one dim the other's element: rejected
    before any plan is built."""
    company_map, report_map = xbrl_mappings({})
    clash = dict(company_map, document_type="jpdei_cor:FilerNameInJapaneseDEI")
    with pytest.raises(ValueError, match="document_type"):
        conform.conform_all_with_mappings(None, clash, report_map)
