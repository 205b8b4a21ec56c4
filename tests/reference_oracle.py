"""Run the READ-ONLY reference implementation as a parity oracle.

SURVEY.md §5.2: "where the environment allows, [compare] against the
reference code itself run on the same fixtures".  The reference parser
mutates module-global row buffers, so each run clears them first; its
rows are then normalized to the physical output contract (SURVEY §1.5
schema projection) for comparison with our parser/ETL output.
"""

from __future__ import annotations

import copy
import sys
import xml.etree.ElementTree as ET
from datetime import datetime, timezone

sys.path.insert(0, "/root/reference")

_TABLES = (
    "games",
    "rules",
    "game_players",
    "game_scores",
    "kyokus",
    "haipais",
    "agaris",
    "actions",
    "nagares",
)


def _reference():
    """The reference parser module, or a pytest skip when its source
    tree is not checked out (only the reference-parity tests need it)."""
    try:
        import scrape
    except ImportError as e:
        import pytest

        pytest.skip(f"reference parser tree (module `scrape`) is absent: {e}")
    return scrape


def _clear(ref) -> None:
    for t in _TABLES:
        getattr(ref, t).clear()


def run_reference_date(
    files: list[tuple[str, str]], dt_str: str
) -> dict[str, list[dict]]:
    """Parse one date-directory worth of (game_id, xml_path) files in
    the given order, mirroring reference main.py:19-31 (seqno threads
    across games of the date).  Skips the calling test when the
    reference tree is absent."""
    ref = _reference()
    _clear(ref)
    dt = datetime.strptime(dt_str, "%Y%m%d").replace(tzinfo=timezone.utc)
    seqno = 0
    for game_id, path in files:
        root = ET.parse(path).getroot()
        seqno = ref.parse_document(root, game_id, dt, seqno)
    out = {t: copy.deepcopy(getattr(ref, t)) for t in _TABLES}
    _clear(ref)
    return _normalize(out)


def _normalize(tables: dict[str, list[dict]]) -> dict[str, list[dict]]:
    # games: pyarrow projects the wide row down to (id, started_at)
    tables["games"] = [
        {"id": r["id"], "started_at": r["started_at"].as_py()}
        for r in tables["games"]
    ]
    # rules: enable_glass_pai is absent from the declared schema
    for r in tables["rules"]:
        r.pop("enable_glass_pai", None)
    # actions: draw/discard rows omit pai_id -> null column in parquet
    for r in tables["actions"]:
        r.setdefault("pai_id", None)
    return tables
