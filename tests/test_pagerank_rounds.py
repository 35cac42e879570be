"""PageRank against its DuckDB oracle at every round count up to and
past the first checkpoint, in both checkpoint modes. Round 1 reads the
edge table with no join, later rounds treat a node missing from the
ranks as ``base``, and round 3 is the first checkpoint boundary: each
has its own k here."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from paddleocr_spark.operators.html_extract import html_pagerank
from tests.oracle_harness import compare, duckdb_run

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("mode", ["local", "dir"])
@pytest.mark.parametrize("iters", [0, 1, 2, 3, 4])
def test_pagerank_matches_oracle(spark, tmp_path, iters, mode):
    ckpt_dir = str(tmp_path / "pr_ckpt") if mode == "dir" else None
    sdf = html_pagerank(spark, SF, iters=iters, checkpoint_dir=ckpt_dir)
    ddf = duckdb_run(entry_mod._pagerank_oracle(iters), SF)
    err = compare(f"html_pagerank[iters={iters}]", sdf, ddf)
    assert err is None, err


def test_pagerank_empty_corpus(spark, tmp_path, monkeypatch):
    """N is inlined as a literal divisor: an empty documents table must
    rank no node, not divide by zero."""
    from paddleocr_spark import cachedir

    monkeypatch.setattr(cachedir, "_ROOT", str(tmp_path / "cache"))
    sf = str(tmp_path / "sf")
    (spark.read.parquet(f"{SF}/documents.parquet").limit(0)
     .write.parquet(f"{sf}/documents.parquet"))
    assert html_pagerank(spark, sf, iters=4).collect() == []
