"""PLANS.md must cover every query above the slow-ledger bar — the
recurring staleness of a hand-maintained audit list lagging the ledger
is closed mechanically: tools/explain_audit.py derives its section list
from the committed idle ledger, and this test asserts the committed
PLANS.md actually covers it (same sync pattern as tools/sync_counts.py).

Sections are GENERATED at GEN_LEDGER_SEC (below SLOW_LEDGER_SEC/1.25²)
while this test ASSERTS at SLOW_LEDGER_SEC (1.0s), so a +25% refresh of
an ungenerated query cannot cross even the perturbed bar.

Both tests read the ledger walls PLANS.md records it was generated from
(the fenced ``ledger-walls`` block explain_audit writes at its end), not
the working-tree BENCH_QUERIES.json: a later ledger refresh (isolated
1.9–14.7× spikes have been seen, e.g. kmv_set_ops 0.50→7.38s) is a
different instrument from the one PLANS.md was generated from, and no
margin absorbs 14×. Reading the recorded walls needs no git history, so
the tests hold in a shallow checkout or an exported tree.
"""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load():
    """Load (recorded ledger walls, PLANS.md sections, registry names)."""
    from etl_poor_main_pipeline_spark.registry import queries
    from tools.explain_audit import recorded_walls

    with open(os.path.join(REPO, "PLANS.md")) as fh:
        text = fh.read()
    sections = set(re.findall(r"^## (\S+)", text, flags=re.M))
    return recorded_walls(text), sections, set(queries())


def test_plans_md_covers_every_slow_ledger_query():
    ledger, sections, names = _load()
    from tools.explain_audit import SLOW_LEDGER_SEC

    # only queries that still exist can be audited (renames drop out of
    # the ledger at the next refresh)
    slow = {n for n, w in ledger.items() if w > SLOW_LEDGER_SEC and n in names}
    missing = sorted(slow - sections)
    assert not missing, (
        f"{len(missing)} queries above {SLOW_LEDGER_SEC:g}s idle lack a "
        f"PLANS.md section (regenerate: python tools/explain_audit.py): "
        f"{missing}"
    )


def test_plans_md_survives_ledger_refresh_noise():
    """Simulated ledger refresh: +25% on every recorded wall. Any query
    whose perturbed wall crosses the 1.0s test bar must already have a
    section — i.e. the committed PLANS.md was generated at the 0.50s bar,
    not the cliff edge."""
    ledger, sections, names = _load()
    from tools.explain_audit import GEN_LEDGER_SEC, SLOW_LEDGER_SEC

    assert GEN_LEDGER_SEC * 1.25 * 1.25 <= SLOW_LEDGER_SEC, (
        "generation bar must sit below SLOW_LEDGER_SEC/1.25^2 so a +25% "
        "refresh of a just-under-bar query cannot cross even the "
        "perturbed test bar"
    )
    perturbed_slow = {
        n for n, w in ledger.items() if w * 1.25 > SLOW_LEDGER_SEC and n in names
    }
    missing = sorted(perturbed_slow - sections)
    assert not missing, (
        f"{len(missing)} queries would lack a PLANS.md section after a "
        f"+25% ledger refresh (regenerate at the {GEN_LEDGER_SEC:g}s bar: "
        f"python tools/explain_audit.py): {missing}"
    )
