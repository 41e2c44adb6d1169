"""Oracle-differential tests: every registry query with an oracle must
hash-match DuckDB at sf0.01 — the same gate the driver applies."""

from __future__ import annotations

import pytest

from retail_aws_etl_pipeline_spark.plans import all_specs

ALL = all_specs()
from tests.conftest import SF_ORACLE
from tests.oracle import compare

ORACLE_QUERIES = sorted(n for n, s in ALL.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, s in ALL.items() if s.oracle is None)


def test_suite_session_is_ansi_mode(spark):
    """The oracle suite IS the standing ANSI gate (VERDICT r12 item 6):
    Spark 4 defaults spark.sql.ansi.enabled=true, get_spark never
    overrides it, and three of the five r12 adversarial finds were
    ANSI-mode crashes (try_cast-vs-cast, int32-multiply overflow). Every
    oracle compare below therefore already runs under ANSI semantics —
    this pin makes sure nobody quietly turns it off and un-gates that
    whole bug class."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, name):
    spec = ALL[name]
    df = spec.spark_fn(spark, SF_ORACLE)
    result = compare(df, spec.oracle, SF_ORACLE)
    assert result["ok"], f"{name}: {result}"


def test_no_rows_only_queries_remain():
    """EVERY registered entry carries a DuckDB oracle — the weaker
    rows-only driver check is extinct. If this ever fails, a new
    oracle-less entry slipped into a registry: give it an oracle."""
    assert ROWS_ONLY_QUERIES == []


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    # contract: every oracle key exists in queries()
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    # driver hard-checks at most ~50 entries, in order: stay inside the window
    assert len(q) <= 50, f"driver window exceeded: {len(q)} queries"
