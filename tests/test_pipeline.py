"""North-star pipeline tests: generator determinism, byte-identical
extraction (native parse stage and the Arrow extractor), routing +
aggregate parity, the concurrent aggregate writes (job group, failure,
rerun), staged-checkpoint lineage."""

import os
import threading
from collections import Counter

import pytest
from pyspark.sql import functions as F

from logstash_filter_translate_spark.plans import pipeline as P
from logstash_filter_translate_spark.plans.io import TableIO
from logstash_filter_translate_spark.plans.pages import generate_pages

N = 5000
AGG_TABLES = ("route_counts", "route_lang_counts", "per_key_histogram",
              "per_lang_hits")


def assert_aggregates_match_routed(spark, out):
    """Every agg_<name> table equals a direct groupBy of the routed sink."""
    routed = spark.read.parquet(os.path.join(out, "routed"))
    direct = {
        "route_counts": routed.groupBy("route").agg(F.count("*").alias("cnt")),
        "route_lang_counts": routed.groupBy("route", "lang").agg(
            F.count("*").alias("cnt")),
        "per_key_histogram": routed.groupBy("route", "matched_key").agg(
            F.count("*").alias("cnt")),
        "per_lang_hits": routed.filter(F.col("route") == "matched")
        .groupBy("lang").agg(F.count("*").alias("hits")),
    }
    assert sorted(d[len("agg_"):] for d in os.listdir(out)
                  if d.startswith("agg_")) == sorted(direct)
    for name, want in direct.items():
        path = os.path.join(out, f"agg_{name}")
        assert os.path.exists(os.path.join(path, "_SUCCESS")), name
        got = spark.read.parquet(path).select(*want.columns)
        assert Counter(map(tuple, got.collect())) == Counter(
            map(tuple, want.collect())), name


def test_generator_is_deterministic(spark):
    a = generate_pages(spark, 200).collect()
    b = generate_pages(spark, 200).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))
    assert len(a) == 200
    # each row is a function of its id alone: a shorter run, split into
    # different source partitions, yields a subset of the same rows
    c = generate_pages(spark, 120).collect()
    assert set(map(str, c)) <= set(map(str, a))


def test_generator_schema(spark):
    df = generate_pages(spark, 10)
    assert dict(df.dtypes) == {
        "url": "string",
        "warc_ts": "timestamp",
        "html": "binary",
        "text": "string",
        "lang": "string",
        "collaborator_ids": "array<string>",
        "collaborators": "array<struct<collaborator_id:string>>",
    }


def test_extract_text_byte_identity_native(spark):
    pages = generate_pages(spark, N)
    native = P.parse_stage(pages)
    mismatches = native.filter(
        ~F.col("extracted_text").eqNullSafe(F.col("text"))
    ).count()
    assert mismatches == 0


def test_pipeline_routes_and_aggregates(spark, tmp_path):
    pages = generate_pages(spark, N)
    out = str(tmp_path / "out")
    metrics = P.run_pipeline(spark, pages, out)
    assert metrics["rows"] == N
    assert metrics["extract_mismatches"] == 0
    assert metrics["matched_rows"] + metrics["fallback_rows"] == N

    routed = spark.read.parquet(os.path.join(out, "routed"))
    # routing parity: fallback ⇔ status not in dict (999/junk → 2 of 8 slots)
    expected_fallback = pages.filter(
        ~F.regexp_extract(F.decode("html", "UTF-8"),
                          '<meta http-equiv="Status" content="([^"]*)"', 1)
        .isin([k for k, _ in P.STATUS_DICT])
    ).count()
    got_fallback = routed.filter(F.col("route") == "fallback").count()
    assert got_fallback == expected_fallback == metrics["fallback_rows"]

    # all four aggregate outputs equal direct aggregation of the routed sink
    assert_aggregates_match_routed(spark, out)

    # per-lang partitioned sink layout exists (fan-out)
    assert any(p.startswith("route=") for p in os.listdir(os.path.join(out, "routed")))


def _job_groups_after(spark, job_id):
    """Job group (or None) of every job with an id above ``job_id``."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() > job_id:
            g = j.jobGroup()
            out[j.jobId()] = g.get() if g.isDefined() else None
    return out


def test_aggregate_writes_inherit_callers_job_group(spark, tmp_path):
    """The aggregate write threads inherit the caller's local properties:
    every job the pipeline starts lands in the caller's job group."""
    pages = generate_pages(spark, 1000)
    sc = spark.sparkContext
    before = max(_job_groups_after(spark, -1), default=-1)
    sc.setJobGroup("pipeline_under_test", "job group inheritance")
    try:
        P.run_pipeline(spark, pages, str(tmp_path / "grouped"))
    finally:
        sc._jsc.clearJobGroup()
    groups = _job_groups_after(spark, before)
    assert len(groups) >= 5  # sink write plus the four aggregate writes
    assert set(groups.values()) == {"pipeline_under_test"}, groups


def test_failed_aggregate_write_waits_reraises_and_reruns(
    spark, tmp_path, monkeypatch
):
    """One failing aggregate write: run_pipeline re-raises its error only
    after the other writes have ended (no write thread outlives the call),
    and a rerun into the same out_dir replaces all four tables."""
    pages = generate_pages(spark, 1000)
    out = str(tmp_path / "rerun")
    write = TableIO.write

    def failing_write(self, df, location, spec=None):
        if location.endswith("agg_per_key_histogram"):
            raise RuntimeError("injected aggregate write failure")
        return write(self, df, location, spec)

    monkeypatch.setattr(TableIO, "write", failing_write)
    with pytest.raises(RuntimeError, match="injected aggregate write failure"):
        P.run_pipeline(spark, pages, out)
    assert not [t for t in threading.enumerate() if t.name.startswith("agg_write")]
    for name in AGG_TABLES:
        landed = os.path.exists(os.path.join(out, f"agg_{name}", "_SUCCESS"))
        assert landed == (name != "per_key_histogram"), name

    monkeypatch.undo()
    P.run_pipeline(spark, pages, out)
    assert_aggregates_match_routed(spark, out)


def test_enrich_stage_collaborators_and_union(spark):
    pages = generate_pages(spark, 1000)
    enriched = P.enrich_stage(P.parse_stage(pages), spark)
    row = enriched.filter(F.size("collaborator_ids") > 0).first()
    assert len(row["collaborator_names"]) == len(row["collaborator_ids"])
    # union substitution hits exactly the rows with embedded "200 & 500"
    hits = enriched.filter(F.col("union_route") == "matched")
    assert hits.count() == pages.filter(F.col("text").contains("200 & 500")).count()
    srow = hits.first()
    assert "OK & Server Error" in srow["substituted_text"]


def test_pipeline_untrusted_input_survives_malformed_utf8(spark, tmp_path):
    """An external-crawl deployment is a FLAG
    (untrusted_input=True), not a code edit. The full pipeline must run
    over a corpus containing malformed-UTF-8 html bytes, substitute
    U+FFFD on the bad rows (no ANSI [MALFORMED_CHARACTER_CODING] throw,
    no invalid bytes smuggled downstream), and leave valid rows
    byte-identical to the trusted fast path."""
    pages = generate_pages(spark, 1000)
    # corrupt every 'de' row: invalid bytes + a trailing <p>..</p> so the
    # greedy text regex captures a region containing the malformed bytes
    corrupted = pages.withColumn(
        "html",
        F.when(
            F.col("lang") == "de",
            F.concat(F.col("html"), F.lit(bytearray(b"\xff\xfe<p>\x80</p>"))),
        ).otherwise(F.col("html")),
    )
    n_bad = pages.filter(F.col("lang") == "de").count()
    assert n_bad > 0

    out = str(tmp_path / "untrusted")
    metrics = P.run_pipeline(
        spark, corrupted, out, P.PipelineConfig(untrusted_input=True)
    )
    assert metrics["rows"] == 1000
    # only the corrupted rows diverge from the generator's text column
    assert metrics["extract_mismatches"] == n_bad
    assert metrics["matched_rows"] + metrics["fallback_rows"] == 1000

    routed = spark.read.parquet(os.path.join(out, "routed"))
    # nothing invalid leaks downstream of the ingest seam...
    assert routed.filter(
        ~F.is_valid_utf8("extracted_text") | ~F.is_valid_utf8("substituted_text")
    ).count() == 0
    # ...and the bad rows really went through U+FFFD substitution
    assert routed.filter(F.col("extracted_text").contains("�")).count() == n_bad

    # the flag is load-bearing at the decode seam: the trusted zero-copy
    # wrap leaves exactly the bad rows as invalid UTF8Strings (downstream
    # regexp_extract happens to re-validate via its java.lang.String
    # conversion, but any byte-level consumer — substring windows,
    # encode(), a sink — would see the raw invalid bytes)
    from logstash_filter_translate_spark.functions.html import (
        html_str,
        html_str_untrusted,
    )

    wrapped = corrupted.select(
        html_str(F.col("html")).alias("fast"),
        html_str_untrusted(F.col("html")).alias("safe"),
    )
    assert wrapped.filter(~F.is_valid_utf8("fast")).count() == n_bad
    assert wrapped.filter(~F.is_valid_utf8("safe")).count() == 0


def test_checkpoint_stage_resumes(spark, tmp_path):
    pages = generate_pages(spark, 1000)
    out = str(tmp_path / "ckpt")
    m1 = P.run_pipeline(spark, pages, out, checkpoint=True)
    assert os.path.isdir(os.path.join(out, "_stage_enriched"))
    # aggregate phase can run standalone from the staged frame (resume path)
    staged = spark.read.parquet(os.path.join(out, "_stage_enriched"))
    aggs = P.aggregates(staged)
    total = sum(r["cnt"] for r in aggs["route_counts"].collect())
    assert total == m1["rows"] == 1000
    # per-partition lineage column present in the staged frame
    assert "__part_id" in staged.columns
