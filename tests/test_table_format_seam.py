"""S7 table-format seam (plans/io.py): the pipeline's reads/writes go
through one TableIO indirection so Iceberg is a configuration, not a code
path. Parquet coverage runs everywhere; the Iceberg tests run when the
iceberg-spark-runtime jars are on the classpath and skip (visibly)
otherwise — the sandbox ships no Iceberg jars, a real deployment adds them
via spark-submit --packages.
"""

import os

import pytest
from pyspark.sql import functions as F

from logstash_filter_translate_spark.plans.io import (
    ROUTED_SINK_PARTITIONS,
    TableIO,
    iceberg_available,
)


def test_routed_sink_spec_is_route_lang_identity():
    # the fan-out sinks are identity-partitioned by route and lang, one
    # column tuple shared by both formats
    assert ROUTED_SINK_PARTITIONS == ("route", "lang")


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError):
        TableIO(spark, "orc")


def test_parquet_roundtrip_renders_spec_as_directories(spark, tmp_path):
    io = TableIO(spark)  # default parquet
    df = spark.createDataFrame(
        [("matched", "en", 1), ("fallback", "de", 2), ("matched", "de", 3)],
        "route string, lang string, v int",
    )
    loc = io.loc(str(tmp_path), "routed")
    io.write(df, loc, partition_by=ROUTED_SINK_PARTITIONS)
    # identity partitions appear as hive-style subtrees
    subtrees = {p for p in os.listdir(loc) if p.startswith("route=")}
    assert subtrees == {"route=matched", "route=fallback"}
    assert sorted(
        map(tuple, io.read(loc).select("route", "lang", "v").collect())
    ) == [("fallback", "de", 2), ("matched", "de", 3), ("matched", "en", 1)]
    # the default partition_by=() writes unpartitioned: no subtrees
    flat = io.loc(str(tmp_path), "flat")
    io.write(df, flat)
    assert not [p for p in os.listdir(flat) if "=" in p]
    assert sorted(
        map(tuple, io.read(flat).select("route", "lang", "v").collect())
    ) == [("fallback", "de", 2), ("matched", "de", 3), ("matched", "en", 1)]


def test_iceberg_without_jars_raises_actionable_error(spark):
    if iceberg_available(spark):
        pytest.skip("iceberg jars present — covered by the live test below")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        TableIO(spark, "iceberg")


def test_pipeline_write_sinks_goes_through_seam(spark, tmp_path):
    """write_sinks with the default (parquet) TableIO produces the routed
    fan-out layout from ROUTED_SINK_PARTITIONS — the identical call with
    an Iceberg TableIO renders the same columns as table partitioning."""
    from logstash_filter_translate_spark.plans import pipeline as P
    from logstash_filter_translate_spark.plans.pages import generate_pages

    pages = generate_pages(spark, 200)
    enriched = P.enrich_stage(P.parse_stage(pages), spark)
    out = str(tmp_path / "sinks")
    P.write_sinks(enriched, out)
    routed = os.path.join(out, "routed")
    assert any(p.startswith("route=") for p in os.listdir(routed))
    # partition pruning works over the layout the spec produced
    one_route = spark.read.parquet(routed).filter(F.col("route") == "matched")
    assert one_route.count() > 0


@pytest.mark.skipif(
    "SPARK_LFTS_ICEBERG" not in os.environ,
    reason="needs a session configured with an Iceberg catalog "
    "(set SPARK_LFTS_ICEBERG=catalog_name with the jars on the classpath)",
)
def test_pipeline_runs_unmodified_on_iceberg(spark, tmp_path):
    """The done-criterion: run_pipeline with table_format='iceberg' and a
    catalog namespace as out_dir, no other changes. Requires a session
    built with spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog
    and a warehouse — the standard spark-submit deployment shape."""
    from logstash_filter_translate_spark.plans import pipeline as P
    from logstash_filter_translate_spark.plans.pages import generate_pages

    catalog = os.environ["SPARK_LFTS_ICEBERG"]
    assert iceberg_available(spark)
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.lfts_seam_test")
    pages = generate_pages(spark, 200)
    metrics = P.run_pipeline(
        spark,
        pages,
        f"{catalog}.lfts_seam_test",
        table_format="iceberg",
    )
    assert metrics["rows"] == 200
    assert metrics["extract_mismatches"] == 0
    routed = spark.read.format("iceberg").load(
        f"{catalog}.lfts_seam_test.routed"
    )
    assert routed.count() == 200
    # the spec landed as the table's identity partitioning
    parts = spark.sql(
        f"SELECT * FROM {catalog}.lfts_seam_test.routed.partitions"
    )
    assert parts.count() > 1
