"""The non-driver records of harness.QUERIES must stay oracle-green:
this replicates the driver's compare (row count, column names,
order-insensitive value hash) over every local oracle at sf0.001, so
queries outside the 50 driver rows cannot rot.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"

sys.path.insert(0, os.path.join(ROOT, "tools"))
from compare_oracle import TABLES, hash_rows  # noqa: E402

from ocr_project_spark import harness  # noqa: E402


@pytest.fixture(scope="module")
def duck():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} missing")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(
    n for n, q in harness.QUERIES.items() if not q.driver and q.oracle
))
def test_local_query_matches_oracle(name, spark, duck):
    q = harness.QUERIES[name]
    sdf = q.build(spark, SF_DIR)
    s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
    res = duck.execute(q.oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows)
    assert hash_rows(s_cols, s_rows) == hash_rows(d_cols, d_rows)
