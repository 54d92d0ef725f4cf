"""Oracle-differential tests for the TPC-H shape suite."""

from __future__ import annotations

from test_oracle import oracle_test, test_registry_keys_align  # noqa: F401

test_tpch_matches_oracle = oracle_test("tpch")
