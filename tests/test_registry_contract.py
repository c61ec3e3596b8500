"""Driver-contract surface pins.

The driver's correctness gate records only the FIRST 50 rows of
``__spark_entry__.queries()``; a registry that grows past 50 silently
drops its last rows from that check. These pins make that a test
failure.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from logstash_filter_translate_spark.plans import queries as Q  # noqa: E402

DRIVER_ROW_CAP = 50


def test_driver_contract_is_exactly_50_rows():
    assert len(Q.QUERIES) == DRIVER_ROW_CAP, (
        f"driver contract must stay at exactly {DRIVER_ROW_CAP} rows "
        f"(got {len(Q.QUERIES)}): the driver's correctness artifact "
        "records only the first 50 — add new variants to EXTRA_QUERIES, "
        "or fold an existing variant out to make room for a new operator"
    )


def test_every_contract_query_has_an_oracle_twin():
    assert set(Q.QUERIES) == set(Q.ORACLES)
    assert set(Q.EXTRA_QUERIES) == set(Q.EXTRA_ORACLES)


def test_extras_are_disjoint_and_all_is_the_union():
    assert not (set(Q.QUERIES) & set(Q.EXTRA_QUERIES))
    assert set(Q.ALL_QUERIES) == set(Q.QUERIES) | set(Q.EXTRA_QUERIES)


def test_entrypoint_exposes_the_50_row_contract():
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    assert len(qs) == DRIVER_ROW_CAP
    assert set(qs) == set(Q.QUERIES)
    assert set(oracles) == set(Q.ORACLES)
    # rows that once sat past the cap stay inside the driver's view
    names = list(qs)
    assert "corpus_stats" in names[:DRIVER_ROW_CAP]
    assert "curation_pipeline" in names[:DRIVER_ROW_CAP]


def test_headline_bench_covers_the_full_verified_surface():
    """bench.py's HEADLINE list must reference only real queries and keep
    covering the folded-out variants (they are still perf-tracked)."""
    import bench

    assert set(bench.HEADLINE) <= set(Q.ALL_QUERIES)
    assert "similarity_ivf_probe2" in bench.HEADLINE
