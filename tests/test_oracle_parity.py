"""Driver-mimic t2 gate: every registered query matches its DuckDB oracle
(row count + schema + order-insensitive values) on the small scale factor.

The results come from the battery's one registry walk (the
``registry_walk`` fixture in conftest.py), which also feeds the registry
plan lints in test_plans.py. The full sf0.01 sweep runs standalone
(python tests/oracle_harness.py); here sf0.001 keeps the battery fast and
exercises identical code paths.
"""

from __future__ import annotations


def test_all_queries_match_oracle(registry_walk):
    results, _, _ = registry_walk
    failures = {k: v for k, v in results.items() if v}
    assert not failures, f"oracle mismatches: {failures}"
