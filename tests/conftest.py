"""Shared fixtures: one SparkSession per test session, DuckDB oracle
conn, and the registry runs that oracle parity and the plan lints share."""

from __future__ import annotations

import contextlib
import re
import sys
import tokenize
from collections import Counter, namedtuple
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from data_ingestion_py_spark.session import get_spark

    s = get_spark(
        app_name="tests",
        master="local[4]",
        **{"spark.sql.shuffle.partitions": "8"},
    )
    yield s
    s.stop()


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Mimic the driver: pre-register every fixture table as a view."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def code_matches(pattern: str, roots, exempt) -> list[str]:
    """The ``.py`` files under ``roots``, except the file ``exempt``,
    whose code matches the regex ``pattern``. Code is the file's tokens
    joined by single spaces, strings and comments dropped, so a
    pattern sees every word boundary (``import fitz as f`` reads
    ``import fitz as f``, ``a.b()`` reads ``a . b ( )``; a line break
    inside brackets is a newline token)."""
    skip = {tokenize.STRING, tokenize.COMMENT}
    if hasattr(tokenize, "FSTRING_MIDDLE"):
        skip.add(tokenize.FSTRING_MIDDLE)
    found = []
    for root in map(Path, roots):
        for path in sorted(root.rglob("*.py")):
            if path == Path(exempt):
                continue
            with path.open("rb") as f:
                code = " ".join(
                    t.string
                    for t in tokenize.tokenize(f.readline)
                    if t.type not in skip
                )
            if re.search(pattern, code):
                found.append(str(path.relative_to(root)))
    return found


@pytest.fixture(scope="session")
def duck_smoke():
    con = make_duck(SF_SMOKE)
    yield con
    con.close()


# What the plan lints read off one run of a query: the node names of the
# initial physical plan (read before the run, since AQE may re-plan joins
# while it runs), then, off the final plan, the measured input rows of each
# partition-less window (None where none is measured) and the broadcast
# rows of each nested-loop join.
PlanFacts = namedtuple("PlanFacts", "ops windows bnlj_rows")


def run_and_read(df):
    """Run ``df`` once with ``toPandas()`` → (its ``PlanFacts``, the
    frame); the measured facts come off the run's ``QueryExecution``."""
    from data_ingestion_py_spark.plans import explain as E

    ops = E.op_counts(df)
    pdf = df.toPandas()
    windows = E.single_partition_window_input_rows(df)
    return PlanFacts(ops, windows, E.bnlj_broadcast_rows(df)), pdf


class RegistryRuns:
    """Each registry query built and run once at SF_SMOKE: ``run``
    returns the frame for the oracle comparison and keeps only the
    query's ``PlanFacts``, or the exception it failed with; ``facts``
    serves those, running the query on a miss. ``builds`` counts the
    builds of each query."""

    def __init__(self, spark) -> None:
        self.spark, self.builds, self._facts = spark, Counter(), {}

    def run(self, name: str):
        from data_ingestion_py_spark.queries import QUERIES

        self.builds[name] += 1
        try:
            df = QUERIES[name].spark(self.spark, SF_SMOKE)
            self._facts[name], pdf = run_and_read(df)
        except Exception as exc:
            self._facts[name] = exc
            raise
        return pdf

    def facts(self, name: str) -> PlanFacts:
        if name not in self._facts:
            with contextlib.suppress(Exception):
                self.run(name)
        if isinstance(got := self._facts[name], Exception):
            raise got
        return got


@pytest.fixture(scope="session")
def registry_runs(spark):
    import data_ingestion_py_spark.queries_ext  # noqa: F401  (extends QUERIES)

    return RegistryRuns(spark)
