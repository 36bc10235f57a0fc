"""Registry coverage gate: every registry query is checked against its
DuckDB oracle on every tier-1 run.

It replaces a driver-evidence staleness gate that compared the age of each
query's last recorded driver green (CORRECTNESS_r*.json) with its module's
git history and required stale queries in the first 50 registry slots. No
driver rounds refresh that evidence any more, and more queries qualified as
stale than there are slots, so no registry order could satisfy it. The
oracle-parity suite is the live check it stood in for; this test pins that
the suite covers the whole registry.
"""

from __future__ import annotations

from kitkat_spark.queries import ORACLES, QUERIES


def test_every_query_has_an_oracle_and_a_parity_case():
    from tests import test_oracle_parity

    missing = sorted(set(QUERIES) - set(ORACLES))
    assert not missing, f"registry queries without a DuckDB oracle: {missing}"
    (mark,) = [m for m in test_oracle_parity.test_parity.pytestmark if m.name == "parametrize"]
    argnames, params = mark.args[0], mark.args[1]
    assert argnames == "name"
    unparametrized = sorted(set(QUERIES) - set(params))
    assert not unparametrized, f"queries not in test_oracle_parity: {unparametrized}"
