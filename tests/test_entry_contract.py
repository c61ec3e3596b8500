"""Driver contract sanity: entry() smoke, queries()/oracle_sql() key
parity, and a spot oracle comparison via DuckDB (the full 67-query sweep is
tools/selfcheck.py; these keep `pytest -x -q` fast)."""

import os

import duckdb
import pytest

import __spark_entry__ as entry
from tools.selfcheck import canon, dtype_classes


def test_queries_and_oracles_align():
    qs, os_ = entry.queries(), entry.oracle_sql()
    assert set(os_) <= set(qs)
    missing_oracle = set(qs) - set(os_)
    assert missing_oracle == set(), f"rows-only queries: {missing_oracle}"


def test_entry_returns_rows(spark):
    df = entry.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"route", "translation", "cnt"}


@pytest.mark.parametrize("name", [
    "exact_events", "pipeline_e2e", "minhash_signatures", "simhash",
    "simhash_pairs", "langid", "repetition_ratio",
])
def test_spot_oracle_parity(spark, testdata_dir, name):
    """The driver's comparison on one query: column names, dtype class
    per column, and order-insensitive values (tools/selfcheck.py's rule)."""
    sdf = entry.queries()[name](spark, testdata_dir).toPandas()
    con = duckdb.connect()
    for t in ["events", "documents", "embeddings"]:
        p = f"{testdata_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    odf = con.execute(entry.oracle_sql()[name]).df()
    assert dtype_classes(sdf) == dtype_classes(odf)
    assert canon(sdf) == canon(odf)
