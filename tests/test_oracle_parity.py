"""Every registered query must hash-match its DuckDB oracle at sf0.01
(the same check the driver runs for CORRECTNESS_r{N}.json) — and every
library-tier spec (plans/library.py) is held to the identical bar, so
"unregistered" never means "less checked"."""

from __future__ import annotations

import pytest

from radares_spark.plans import REGISTRY
from radares_spark.plans.library import ALL_LIBRARY_SPECS
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle import compare_query


def test_oracle_parity_smoke(spark):
    """Fast-tier guard on the oracle path itself: one cheap registered
    query (the paper's own radar statistics suite) hash-matched
    against DuckDB at sf0.001, so the default run exercises
    compare_query without the full sweep."""
    ok, msg = compare_query(
        spark, SF_SMOKE, "radar_stats_suite", REGISTRY["radar_stats_suite"]
    )
    assert ok, msg
    assert not msg.startswith("OK: 0 "), msg


# The sweeps below are the slow tier: multi-second each (r15
# durations log), deselected by default so the driver's verify window
# fits — run with -m slow (see COVERAGE.md).
@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_parity(spark, name):
    ok, msg = compare_query(spark, SF_ORACLE, name, REGISTRY[name])
    assert ok, f"{name}: {msg}"


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(ALL_LIBRARY_SPECS))
def test_library_parity(spark, name):
    ok, msg = compare_query(spark, SF_ORACLE, name, ALL_LIBRARY_SPECS[name])
    assert ok, f"{name}: {msg}"
    assert not msg.startswith("OK: 0 "), f"{name}: degenerate empty result"
