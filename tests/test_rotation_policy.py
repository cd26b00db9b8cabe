"""Enforce the driver-report-cap rotation policy in code (r4 verdict
item 6; docs/COVERAGE.md "Driver report cap").

The driver correctness harness reports at most REPORT_CAP = 50 catalog
queries, in registration order.  The standing policy: every catalog
entry must either (a) be registered inside the first 50 — so the NEXT
driver run records it — or (b) already hold at least one driver-green
round: a rows+schema+hash-true row in some committed
``CORRECTNESS_r*.json`` artifact.  The ledger of green rounds is derived
from those artifacts here, never kept as a hand-synced copy.

This converts the prose policy into a gate: a future rotation that
pushes a never-reported entry past the cap fails here instead of being
discovered in the next verdict.
"""

import json
import re
from pathlib import Path

from urbanistic_polygons_spark.catalog import build_catalog

REPORT_CAP = 50
_REPO = Path(__file__).resolve().parent.parent


def _driver_greens() -> dict[str, list[int]]:
    """Catalog entry -> the rounds in which the driver reported it green."""
    greens: dict[str, list[int]] = {}
    for path in sorted(_REPO.glob("CORRECTNESS_r*.json")):
        rnd = int(re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)[1])
        for name, row in json.loads(path.read_text()).items():
            if (row.get("rows_match") and row.get("schema_match")
                    and row.get("hash_match")):
                greens.setdefault(name, []).append(rnd)
    return greens


def test_every_entry_reported_or_in_window():
    names = list(build_catalog())
    ledger = _driver_greens()
    in_window = set(names[:REPORT_CAP])
    violations = [
        n for n in names
        if n not in in_window and not ledger.get(n)
    ]
    assert not violations, (
        "catalog entries past the report cap with no driver-green round "
        f"on record: {violations} — rotate them into the first "
        f"{REPORT_CAP} registrations or fix their oracle"
    )


def test_ledger_names_exist_in_catalog():
    """Green evidence may only be stranded by a deliberate rename — every
    entry with a green round should still be a registered catalog entry
    (catches silent renames)."""
    names = set(build_catalog())
    stranded = sorted(k for k in _driver_greens() if k not in names)
    assert not stranded, f"green entries no longer in catalog: {stranded}"
