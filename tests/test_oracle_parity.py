"""Every oracle-checked queries() entry must match its DuckDB oracle at
sf0.001 — the same comparison the driver runs at sf0.01."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from tests.oracle_harness import compare, duckdb_run

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")
# sf-dependent oracles (the persisted IVF index) must follow the scale
# this run compares at
os.environ["PARITY_SF_DIR"] = SF_DIR

ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, name):
    sdf = QUERIES[name](spark, SF_DIR)
    ddf = duckdb_run(ORACLES[name], SF_DIR)
    err = compare(name, sdf, ddf)
    assert err is None, err


def test_every_oracle_has_query():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, missing


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_bm25_topk_rows_exactly_equal_oracle(spark, monkeypatch, sf):
    """The same tuples on both engines — not the harness's
    float-normalized strings: the score is all-integer on both sides."""
    import duckdb

    sf_dir = f"/root/testdata/{sf}"
    monkeypatch.setenv("PARITY_SF_DIR", sf_dir)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{sf_dir}/documents.parquet'")
    want = con.sql(entry_mod.oracle_sql()["bm25_topk"]).fetchall()
    got = [tuple(r) for r in QUERIES["bm25_topk"](spark, sf_dir).collect()]
    assert got == want
