"""Every queries() entry — including rows-only ones with no DuckDB oracle —
must at least build a plan and execute at sf0.001. Catches plan-construction
errors (bad lambda signatures, unresolved columns) that the oracle-parity
suite skips for non-SQL-expressible operators.
"""

from __future__ import annotations

import os

import pytest

from kitkat_spark.queries import ORACLES, QUERIES

SMOKE_SF = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")

ROWS_ONLY = sorted(set(QUERIES) - set(ORACLES))


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_executes(spark, name):
    df = QUERIES[name](spark, SMOKE_SF)
    n = df.count()
    assert n >= 0
    # schema must be stable/concrete
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(e.oracle_sql()) <= set(e.queries())

