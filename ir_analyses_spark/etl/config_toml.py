"""TOML config source: the XBRL element↔column mappings and the curation
settings as editable operational config (S8 closure).

The reference keeps its XBRL mapping in ``config/config.toml`` and loads
it through a path-fallback chain (reference utils/config_loader.py:12-60:
explicit path → ``<project_root>/config/config.toml`` resolved from the
loader's own location → ``./config/config.toml``; unreadable candidates
are logged and skipped; nothing found returns ``{}`` rather than
raising). This module mirrors that contract on stdlib ``tomllib`` so an
operator can edit the mapping without touching code. It only loads and
validates: the CLIs hand the mappings to
``conform.conform_all_with_mappings``, whose in-code defaults are the
reference's own config.toml:35-49 values (pinned by
tests/test_config_toml.py), so a missing file changes nothing.
"""

from __future__ import annotations

import logging
import os
import tomllib

from .conform import XBRL_COMPANY_MAPPING, XBRL_REPORT_MAPPING

logger = logging.getLogger(__name__)

#: default on-disk location, relative to the repo root (this file lives at
#: ``<root>/ir_analyses_spark/etl/config_toml.py``)
_DEFAULT_RELPATH = os.path.join("config", "config.toml")


def _default_candidates() -> list[str]:
    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return [os.path.join(root, _DEFAULT_RELPATH), os.path.join(".", _DEFAULT_RELPATH)]


def load_config(path: str | None = None) -> dict:
    """Load a TOML config through the reference's fallback chain.

    ``path`` pins one explicit candidate (tests, ad-hoc runs); otherwise
    the repo-root ``config/config.toml`` then ``./config/config.toml``
    are tried in order. The first candidate that exists AND parses wins;
    an unreadable or malformed candidate is logged and skipped (the
    reference's log-and-continue, utils/config_loader.py:46-57); no
    valid candidate returns ``{}`` — callers fall back to the in-code
    defaults, so a missing file can never change conform semantics.
    """
    candidates = [path] if path else _default_candidates()
    for cand in candidates:
        if not os.path.exists(cand):
            continue
        try:
            with open(cand, "rb") as fh:
                config = tomllib.load(fh)
        except (OSError, tomllib.TOMLDecodeError) as e:
            logger.error("failed to load config %s: %s", cand, e)
            continue
        logger.info("loaded config %s", cand)
        return config
    logger.warning("no valid config file found (candidates: %s)", candidates)
    return {}


def xbrl_mappings(config: dict | None = None) -> tuple[dict, dict]:
    """(company_mapping, report_mapping) for
    ``conform.conform_all_with_mappings``, from a loaded config's
    ``[xbrl_mapping.company]`` and ``[xbrl_mapping.financial_report]``
    sections (reference config.toml:35-49). A missing config or section
    yields the in-code default; a PRESENT section is taken whole — the
    operator's edit is the point: each key redirects which XBRL element
    feeds that silver column. Conform's output schemas are fixed, so a
    section must keep all of its default's keys (dropping one fails at
    analysis time naming the missing column — the same loud contract as
    tests/test_etl_parity.py's missing-required-column pin). Non-string
    values are rejected here rather than deep inside a column expression.
    """
    section = (config or {}).get("xbrl_mapping", {})
    if not isinstance(section, dict):
        # '[xbrl_mapping]' mistyped as a scalar assignment — reject here,
        # not as an AttributeError three frames deep
        raise ValueError(
            f"[xbrl_mapping] must be a TOML table of tables; got "
            f"{type(section).__name__}"
        )
    out = []
    for key, default in (
        ("company", XBRL_COMPANY_MAPPING),
        ("financial_report", XBRL_REPORT_MAPPING),
    ):
        mapping = section.get(key)
        if mapping is None:
            out.append(dict(default))
            continue
        if not isinstance(mapping, dict):
            # the operator wrote 'company = "x"' where they meant the
            # [xbrl_mapping.company] sub-table
            raise ValueError(
                f"[xbrl_mapping.{key}] must be a TOML table "
                f"(column = \"element-id\" pairs); got "
                f"{type(mapping).__name__}"
            )
        if not mapping:
            # present-but-empty is the same operator mistake as dropping
            # one key, so it fails here as loudly as that one does
            raise ValueError(
                f"[xbrl_mapping.{key}] is present but empty: delete the "
                f"section to use the defaults, or list the full mapping"
            )
        bad = {k: v for k, v in mapping.items() if not isinstance(v, str)}
        if bad:
            raise ValueError(
                f"[xbrl_mapping.{key}] values must be XBRL element-id "
                f"strings; got {bad}"
            )
        out.append(dict(mapping))
    return out[0], out[1]


#: ``[curation]`` keys accepted by :func:`curation_settings`, mapped to
#: `llm/curate.curation_stages` kwargs. ``quality_thresholds`` is a
#: nested table validated downstream by ``gopher_flags_df`` (unknown
#: threshold names raise there).
_CURATION_KEYS = frozenset(
    {
        "blocked_domains",
        "max_pages_per_domain",
        "max_link_char_frac",
        "line_dedup_min_docs",
        "quality_thresholds",
        "enforce_robots",
        "quality_model_path",
        "min_quality_prob",
        "substring_dedup",
        "substring_dedup_k",
        "substring_dedup_window",
        "substring_store",
        "input_format",
        "decontaminate_path",
        "decontaminate_max_permille",
        "novelty_filter",
        "novelty_min_permille",
        "dsir_target_path",
    }
)


def curation_settings(config: dict | None = None) -> dict:
    """The ``[curation]`` section as `curation_stages` kwargs.

    Blocklists, caps, and thresholds are CONFIG in a production
    curation run, not code (r7 VERDICT item 7) — the same TOML the
    ingest CLI consumes carries them. Unknown keys RAISE: a typo'd cap
    silently ignored would run the funnel uncapped, the opposite of
    log-and-continue's intent (the mapping loader above can fall back
    to in-code defaults; a curation override has no safe fallback).
    """
    section = (config if config is not None else load_config()).get(
        "curation", {}
    )
    unknown = set(section) - _CURATION_KEYS
    if unknown:
        raise ValueError(
            f"unknown [curation] config keys: {sorted(unknown)} "
            f"(accepted: {sorted(_CURATION_KEYS)})"
        )
    return dict(section)
