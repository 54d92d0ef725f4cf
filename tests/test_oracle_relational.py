"""Oracle-differential tests for every relational plan (SURVEY.md §5)."""

from __future__ import annotations

from test_oracle import oracle_test, test_registry_keys_align  # noqa: F401

test_relational_matches_oracle = oracle_test("relational")
