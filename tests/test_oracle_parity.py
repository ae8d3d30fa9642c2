"""The local mirror of the driver's correctness gate.

Every registered query with an oracle runs on Spark AND DuckDB at
sf0.001 (fast inner loop; the driver uses sf0.01) and must match on
columns, row count, and order-insensitive values.
"""

from __future__ import annotations

import pytest

import data_ingestion_py_spark.queries_ext  # noqa: F401  (extends QUERIES)
from data_ingestion_py_spark.queries import QUERIES
from tests.oracle_utils import assert_frames_match

ORACLE_QUERIES = sorted(n for n, q in QUERIES.items() if q.oracle is not None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(registry_runs, duck_smoke, name):
    spark_pdf = registry_runs.run(name)
    duck_pdf = duck_smoke.execute(QUERIES[name].oracle).fetchdf()
    assert_frames_match(spark_pdf, duck_pdf, name)


def test_entry_smoke(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    assert df.count() > 0
    assert len(df.schema) > 0


def test_registry_contract():
    import __spark_entry__ as m

    qs, oracles = m.queries(), m.oracle_sql()
    assert qs, "no queries registered"
    for name in oracles:
        assert name in qs, f"oracle {name} has no query"
