from retail_aws_etl_pipeline_spark.plans.queries import (  # noqa: F401
    EXTRA_REGISTRY,
    REGISTRY,
    QuerySpec,
    all_specs,
    queries,
    oracle_sql,
)

# Importing these modules populates REGISTRY via their @register decorators.
from retail_aws_etl_pipeline_spark.plans import analytics  # noqa: E402,F401
from retail_aws_etl_pipeline_spark.plans import extensions  # noqa: E402,F401


# ---------------------------------------------------------------------------
# Driver-window rotation, derived from the correctness archive.
#
# The driver hash-checks at most WINDOW_SIZE registry entries per round (in
# REGISTRY order); every other registered query relies on its archived
# ``CORRECTNESS_r*.json`` row plus the local sf0.01 DuckDB oracle run
# (tests/test_queries_oracle.py parametrizes over BOTH registries). The
# window is DERIVED: sort every registered entry by (newest driver row,
# name) and take the stalest WINDOW_SIZE. Never-proven entries come first
# (a new registration's first row outranks any freshness refresh), then
# the oldest rows, and the window re-derives itself the moment the driver
# archives a new CORRECTNESS file.
#
# tests/test_window_slo.py enforces the staleness SLO independently, and
# test_rotation_window.py pins this derivation against an independently
# computed window.
# ---------------------------------------------------------------------------

import glob as _glob
import json as _json
import os as _os
import re as _re

#: Driver checks this many entries per round.
WINDOW_SIZE = 50


def _repo_root() -> str:
    return _os.path.dirname(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    )


def newest_driver_rows(root: str | None = None) -> dict[str, int]:
    """name -> newest round with an archived CORRECTNESS row for it."""
    newest: dict[str, int] = {}
    pat = _os.path.join(root or _repo_root(), "CORRECTNESS_r*.json")
    for path in _glob.glob(pat):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = _json.load(f)
        except (OSError, ValueError):
            continue
        for name in rows:
            newest[name] = max(newest.get(name, 0), rnd)
    return newest


def _rotate_driver_window() -> None:
    merged = {}
    merged.update(EXTRA_REGISTRY)
    merged.update(REGISTRY)
    newest = newest_driver_rows()
    order = sorted(merged, key=lambda n: (newest.get(n, 0), n))
    window = order[:WINDOW_SIZE]

    REGISTRY.clear()
    EXTRA_REGISTRY.clear()
    for name in window:
        REGISTRY[name] = merged.pop(name)
    EXTRA_REGISTRY.update(merged)


_rotate_driver_window()
