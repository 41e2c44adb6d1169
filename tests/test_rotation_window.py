"""Pin the archive-derived driver window (plans.__init__._rotate_driver_window).

The window is the stalest WINDOW_SIZE registry entries under (newest
driver row, name) order. These tests recompute that selection from the
raw artifacts with independent code and require the importing package to
agree, and pin the policy properties:

- never-proven entries (first-ever rows) outrank any freshness refresh;
- within a staleness tier, membership is deterministic (name order);
- the next round's due-list fits in one window.

No Spark session needed — pure JSON + registry dicts.
"""

from __future__ import annotations

import glob
import json
import os
import re

from retail_aws_etl_pipeline_spark.plans import (
    EXTRA_REGISTRY,
    REGISTRY,
    WINDOW_SIZE,
)

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _newest_independent() -> dict[str, int]:
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        for name in json.load(open(path)):
            newest[name] = max(newest.get(name, 0), rnd)
    return newest


def test_window_is_the_stalest_tail():
    newest = _newest_independent()
    names = set(REGISTRY) | set(EXTRA_REGISTRY)
    expected = set(
        sorted(names, key=lambda n: (newest.get(n, 0), n))[:WINDOW_SIZE]
    )
    assert set(REGISTRY) == expected


def test_first_ever_rows_outrank_refreshes():
    """A registered entry with NO archived row must be in the window —
    otherwise it could never earn its first driver row."""
    newest = _newest_independent()
    unproven = [
        n
        for n in set(REGISTRY) | set(EXTRA_REGISTRY)
        if newest.get(n, 0) == 0
    ]
    missing = [n for n in unproven if n not in REGISTRY]
    assert not missing, f"never-proven entries outside the window: {missing}"


def test_next_due_list_fits_the_window():
    """Forward simulation of the next rotation: pretend the driver just
    archived a CORRECTNESS row for every current window entry (that is
    what window membership means), then check the NEXT round's due-list
    fits in one window — otherwise a registration displaced due entries
    and the staleness SLO breaks a round later."""
    newest = _newest_independent()
    upcoming = max(newest.values()) + 1
    simulated = dict(newest)
    for name in REGISTRY:
        simulated[name] = upcoming
    names = set(REGISTRY) | set(EXTRA_REGISTRY)
    nxt = upcoming + 1
    floor = nxt - 3 + 1
    due = sorted(n for n in names if simulated.get(n, 0) < floor)
    assert len(due) <= WINDOW_SIZE, (
        f"r{nxt} due-list ({len(due)}) exceeds the window — the r{upcoming} "
        "registrations displaced due entries"
    )
