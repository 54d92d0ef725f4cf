"""Oracle-differential tests for the data-quality/safety plans
(PII redaction, repetition stats, decontamination, packing, profiling)."""

from __future__ import annotations

from test_oracle import oracle_test

test_quality_matches_oracle = oracle_test("quality")
