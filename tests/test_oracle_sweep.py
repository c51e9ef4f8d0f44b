"""Every registered query against its DuckDB oracle at sf0.01, on the
shared test session, with ``tools/check_oracle.py``'s comparison (row
count, column names, float widths, order-insensitive values). A query
without an oracle only has to run, and an oracle pinned at sf0.01 is
skipped at another SF, as in ``check_oracle.main``."""

from __future__ import annotations

import pytest

from icenetetl_spark.queries import all_oracles, all_queries
from tools.check_oracle import (
    SF_DIR,
    compare,
    duck_connection,
    pinned_elsewhere,
)

QUERIES, ORACLES = all_queries(), all_oracles()


@pytest.fixture(scope="module")
def duck():
    con = duck_connection()
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_its_oracle(spark, duck, name):
    if pinned_elsewhere(name):
        pytest.skip(f"oracle pinned at sf0.01, SF={SF_DIR}")
    sdf = QUERIES[name](spark, SF_DIR)
    if name not in ORACLES:
        sdf.count()
        return
    assert compare(name, sdf, duck.execute(ORACLES[name]).df()) == []
