"""Oracle-differential tests for the retrieval plans (BM25 / hybrid /
tf-idf kNN / MMR / nDCG / PRF expansion)."""

from __future__ import annotations

from test_oracle import oracle_test

test_search_matches_oracle = oracle_test("search")
