"""Registry smoke gate (VERDICT r7 item 1).

Round 7's only correctness failure was a refactor that left the
``@_register`` decorator on a helper with the wrong signature — the
registered callable raised ``TypeError`` at call time, and no committed
artifact caught it because they all predated the commit.  This test
makes that class of break impossible to commit: it CALLS every
registered query with the real ``(spark, sf_dir)`` contract and builds
the plan (no execution), so a mis-attached decorator, a bad signature,
or an unresolvable column fails in seconds, inside ``pytest tests/``.
"""

from __future__ import annotations

import os

import pytest

from meerpipe_spark.queries import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.mark.slow
def test_every_registered_query_is_callable(spark):
    """One test, whole registry: plan-build every registered callable."""
    failures = []
    for name, spec in QUERIES.items():
        try:
            df = spec.fn(spark, SF_DIR)
            _ = df.schema  # forces analysis: column resolution, types
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: {type(e).__name__}: {e}")
    assert not failures, "unrunnable registered queries:\n" + "\n".join(failures)


def test_registry_names_match_entry_surface():
    """__spark_entry__.queries()/oracle_sql() must expose the same
    registry — a query registered here but absent from the entry surface
    is invisible to the driver's gate."""
    import importlib.util

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(repo, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    entry_q = set(mod.queries())
    entry_o = set(mod.oracle_sql())
    reg = set(QUERIES)
    assert entry_q == reg
    assert entry_o == {n for n, s in QUERIES.items() if s.sql is not None}
    assert entry_o <= entry_q
