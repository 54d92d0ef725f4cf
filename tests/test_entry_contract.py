"""Driver-contract meta-tests for ``__spark_entry__``: name hygiene and
the smoke path.  These catch the silent failure modes of the registry:
a duplicate query name, an oracle key with no matching query, or a
registration order that depends on which module is imported first."""

from __future__ import annotations

import ast
import importlib.util
import inspect
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_no_duplicate_query_names_across_modules():
    """``register`` refuses a name that is already registered and
    leaves the registry as it was."""
    from gcp_cloudsql_airflow_bigquery_spark import plans
    from gcp_cloudsql_airflow_bigquery_spark.plans import ORACLE, QUERIES, register

    before_q, before_o = list(QUERIES.items()), list(ORACLE.items())
    with pytest.raises(ValueError, match="q3_shipping_priority"):
        register(plans.tpch.q3_shipping_priority, "SELECT 1")
    assert list(QUERIES.items()) == before_q
    assert list(ORACLE.items()) == before_o


def _registry_families(first_import: str) -> list[str]:
    """The registering plans module of each registry entry, in a fresh
    interpreter that imports ``first_import`` first."""
    code = (
        f"import {first_import}\n"
        "from gcp_cloudsql_airflow_bigquery_spark.plans import QUERIES\n"
        "for f in QUERIES.values():\n"
        "    m = f.__module__.rsplit('.', 1)[-1]\n"
        "    print('events' if m == 'streams' else m)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
        check=True,
    )
    return out.stdout.split()


def test_registry_order_is_import_order():
    """Each plans module's entries form one block, in the order the
    package imports the modules, whichever module is imported first.  A
    plan module that imports a sibling at import time breaks this."""
    from gcp_cloudsql_airflow_bigquery_spark import plans

    families = _registry_families("__spark_entry__")
    assert _registry_families(f"{plans.__name__}.advanced") == families
    blocks = [f for i, f in enumerate(families) if i == 0 or families[i - 1] != f]
    init = ast.parse(inspect.getsource(plans))
    imported = [
        alias.name
        for node in init.body
        if isinstance(node, ast.ImportFrom) and node.level == 1 and not node.module
        for alias in node.names
    ]
    assert blocks == imported


def test_every_oracle_key_has_a_query():
    mod = _entry()
    q, o = mod.queries(), mod.oracle_sql()
    orphans = set(o) - set(q)
    assert not orphans, f"oracle entries without queries: {sorted(orphans)}"
    assert all(callable(f) for f in q.values())


def test_entry_smoke(spark):
    rows = _entry().entry(spark).collect()
    assert len(rows) > 0
    assert {"revenue"} <= set(rows[0].asDict()), "flagship schema drifted"


def test_first_fifty_entries_are_all_oracle_paired():
    """The driver hash-verifies only the first 50 queries() entries;
    a rows-only (no-oracle) entry in that window spends a slot on a
    weaker check (r4 verdict), so every window entry must be
    oracle-paired."""
    mod = _entry()
    q, o = list(mod.queries()), mod.oracle_sql()
    unpaired = [n for n in q[:50] if n not in o]
    assert not unpaired, f"no-oracle entries in the window: {unpaired}"


def test_window_is_exactly_the_first_fifty_and_unique():
    """The driver hard-verifies the FIRST 50 queries() entries; the
    _WINDOW tuple must be exactly those, 50 long, duplicate-free —
    a rotation typo (49 slots, a dup, or a name drifting out of the
    prefix) silently wastes a driver slot otherwise."""
    mod = _entry()
    w = mod._WINDOW
    assert len(w) == 50, f"window has {len(w)} slots"
    assert len(set(w)) == 50, "duplicate window entries"
    assert list(mod.queries())[:50] == list(w)


def test_window_names_all_resolve():
    """Every _WINDOW name must exist in the registry (a renamed query
    would KeyError the driver's whole correctness pass)."""
    mod = _entry()
    q = mod.queries()
    missing = [n for n in mod._WINDOW if n not in q]
    assert not missing, missing
