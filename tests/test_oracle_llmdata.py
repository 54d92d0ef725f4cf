"""Oracle-differential tests for the LLM-data plans (SURVEY.md §7 M4)."""

from __future__ import annotations

from test_oracle import oracle_test, rows_only_test

test_llmdata_matches_oracle = oracle_test("llmdata")
test_llmdata_rows_only_runs = rows_only_test("llmdata")
