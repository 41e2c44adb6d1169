"""Driver-window rotation SLO, enforced in code (VERDICT r6 item #6).

The driver hash-checks only the 50 ``REGISTRY`` entries per round; every
other registry query relies on its archived ``CORRECTNESS_r*.json`` row
plus the local sf0.01 oracle run.  The COVERAGE.md §rotation policy says
no entry's newest hard driver row may be older than 3 rounds — with a
150-entry registry and a 50-slot window that is exactly the full-swap
cadence (ceil(150/50) = 3), so the SLO holds iff every rotation promotes
the stalest tail.  This test reads the archive and fails the build when
rotation upkeep lapses, instead of leaving it to prose.

No Spark session needed — pure JSON over the repo root.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Newest driver row may be at most this many rounds behind the upcoming
#: round (current REGISTRY membership counts as the upcoming round's row).
MAX_STALENESS_ROUNDS = 3


def _archive() -> tuple[int, dict[str, int]]:
    newest: dict[str, int] = {}
    max_round = 0
    for path in glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        max_round = max(max_round, rnd)
        with open(path) as f:
            rows = json.load(f)
        for name in rows:
            newest[name] = max(newest.get(name, 0), rnd)
    return max_round, newest


def test_every_registry_entry_has_a_fresh_driver_row():
    from retail_aws_etl_pipeline_spark.plans import EXTRA_REGISTRY, REGISTRY

    max_round, newest = _archive()
    assert max_round >= 1, "no CORRECTNESS_r*.json archive found"
    # The driver writes CORRECTNESS for round max_round+1 from the CURRENT
    # REGISTRY, so window membership is a row at round max_round+1.
    upcoming = max_round + 1
    floor = upcoming - MAX_STALENESS_ROUNDS + 1  # oldest acceptable round

    violations = []
    for name in sorted(set(REGISTRY) | set(EXTRA_REGISTRY)):
        effective = upcoming if name in REGISTRY else newest.get(name, 0)
        if effective < floor:
            violations.append(
                f"{name}: newest driver row r{newest.get(name, 0) or '—'}, "
                f"needs >= r{floor} (promote it or rotate sooner)"
            )
    assert not violations, (
        f"driver-window SLO broken for {len(violations)} entries "
        f"(window r{upcoming}, floor r{floor}):\n" + "\n".join(violations)
    )


def test_window_is_exactly_the_driver_capacity():
    from retail_aws_etl_pipeline_spark.plans import REGISTRY

    assert len(REGISTRY) == 50, (
        f"driver window is {len(REGISTRY)} entries; the driver checks 50 — "
        "an underfull window wastes proof slots, an overfull one is cut off"
    )


def test_registry_size_within_rotation_budget():
    """COVERAGE.md §rotation: registry growth is capped so the 3-round SLO
    stays satisfiable — 50 slots/round × 3 rounds = 150 DRIVER-CHECKABLE
    entries max (the policy's own wording)."""
    from retail_aws_etl_pipeline_spark.plans import EXTRA_REGISTRY, REGISTRY

    checkable = len(set(REGISTRY) | set(EXTRA_REGISTRY))
    assert checkable <= 150, (
        f"registry has {checkable} driver-checkable entries; >150 cannot "
        "all get a driver row within 3 rounds at 50/round — replace a "
        "weakest variant instead"
    )
