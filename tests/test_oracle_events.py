"""Oracle-differential tests for the event-window plans (batch form)."""

from __future__ import annotations

from test_oracle import oracle_test

test_events_matches_oracle = oracle_test("events")
