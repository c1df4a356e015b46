"""Spark/DuckDB parity for the flagship transcript queries: each registry
query runs on Spark and its oracle on DuckDB over the same sf dir, and the
two must agree on row count, column names and the order-insensitive value
hash that tools/check_oracle.py computes."""

from __future__ import annotations

import duckdb
import pytest

from beats_spark import queries as Q
from tools.check_oracle import TABLES, canon

from .conftest import SF_SMOKE

FLAGSHIPS = [
    "transcripts", "routed_rows", "sink_aggregates", "conv_rollups",
    "sink_cube", "flows_window", "tool_transitions", "stage_metrics",
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        try:
            c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
        except duckdb.IOException:
            pass
    yield c
    c.close()


@pytest.mark.parametrize("name", FLAGSHIPS)
def test_flagship_matches_oracle(spark, con, name):
    got = Q.QUERIES[name](spark, SF_SMOKE).toPandas()
    want = con.sql(Q.ORACLES[name]).df()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want) > 0
    assert canon(got)[0] == canon(want)[0]
