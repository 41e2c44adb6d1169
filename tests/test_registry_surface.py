"""The registered query surface, pinned byte for byte.

The behaviour anchor of the registry is its set of names and the DuckDB
oracle string each one is proven against. Deleting unregistered code must
leave both untouched, so this test pins the count and a sha256 over the
sorted (name, oracle) pairs. A deliberate change to a registered name or
oracle string updates SURFACE_SHA256 in the same commit.

The window order (``queries()``) is not pinned here: it is re-derived
whenever a new ``CORRECTNESS_r*.json`` is archived, and
test_rotation_window.py pins how.
"""

from __future__ import annotations

import hashlib

from retail_aws_etl_pipeline_spark.plans import all_specs

SURFACE_SIZE = 150
SURFACE_SHA256 = "9fa9b33937fb490097526514be9096a2e91609ce640477f87a726c2a48675d6c"


def _surface_digest(specs) -> str:
    h = hashlib.sha256()
    for name, oracle in sorted((n, s.oracle) for n, s in specs.items()):
        h.update(name.encode())
        h.update(b"\0")
        h.update(oracle.encode())
        h.update(b"\0")
    return h.hexdigest()


def test_registry_has_the_full_surface():
    assert len(all_specs()) == SURFACE_SIZE


def test_names_and_oracles_are_byte_identical():
    assert _surface_digest(all_specs()) == SURFACE_SHA256
