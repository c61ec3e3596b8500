"""The north-star pipeline: parse → enrich → route → aggregate over the
pages table, with fan-out sinks, metrics and an optional staged enriched
frame.

Stage map (all lazily composed into ONE Catalyst plan until the sinks):
  parse     — decode html, extract status/lang header/text (byte-identical),
              grok url into host/tld/path, as native regexps (whole-stage
              codegen, no Python).
  enrich    — translate status→status_text (exact lookup), lang→lang_name,
              collaborator_ids iterate_on array translation, union
              substitution over text. All reference semantics (O1-O9).
  route     — matched/fallback/unmatched/failed per the status translate +
              per-lang sub-routing.
  sinks     — one partitioned write: partitionBy(route, lang) → each sink is
              a directory subtree.
  aggregate — per-sink counts, per-key match histograms (partial+final hash
              agg; a hot key is absorbed by the map-side partial), read back
              from the routed sink. The four aggregate writes run
              concurrently, one thread each; every thread inherits the
              caller's local properties (job group, job tags, scheduler
              pool), and ``run_pipeline`` returns only after all four
              writes have ended, re-raising the first failure.

Scale design notes:
  - the dictionary side never shuffles the 100 TB probe side: the small
    dictionaries here are constant-folded map literals, a dictionary above
    lookup.MAP_LITERAL_MAX_ENTRIES is broadcast;
  - the only shuffles in the whole job are the final aggregates (narrow
    rows) and the partitioned write's optional repartition; a skewed
    shuffle join is split at runtime by AQE's skew join (session.py);
  - observe() metrics ride the same pass — no second scan of the input;
  - staging: with checkpoint=True the enriched frame is written to parquet
    and the sinks read it back; every run rewrites the stage.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..config import TranslateConfig
from ..functions.html import (
    extract_lang_from_str,
    extract_status_from_str,
    extract_text_from_str,
    html_str,
    html_str_untrusted,
    parse_url,
)
from ..operators.translate import Translate

STATUS_DICT = [
    ("200", "OK"),
    ("301", "Moved Permanently"),
    ("404", "Not Found"),
    ("500", "Server Error"),
]
LANG_DICT = [
    ("en", "English"),
    ("de", "German"),
    ("fr", "French"),
    ("es", "Spanish"),
    ("ja", "Japanese"),
    ("zh", "Chinese"),
]
COLLAB_DICT = [
    ("100", "Yuki"),
    ("101", "Rupert"),
    ("102", "Ahmed"),
    ("103", "Kwame"),
]
UNION_TEXT_DICT = [("200", "OK"), ("500", "Server Error")]


#: header-field regexes scan only this prefix of the decoded html
HEAD_WINDOW = 1024


@dataclass
class PipelineConfig:
    status_dict: List[Tuple[str, str]] = field(default_factory=lambda: STATUS_DICT)
    lang_dict: List[Tuple[str, str]] = field(default_factory=lambda: LANG_DICT)
    collab_dict: List[Tuple[str, str]] = field(default_factory=lambda: COLLAB_DICT)
    union_dict: List[Tuple[str, str]] = field(default_factory=lambda: UNION_TEXT_DICT)
    status_fallback: str = "unknown-status"
    collab_fallback: str = "unknown"
    #: external-crawl mode: html bytes may carry malformed UTF-8, so the
    #: parse stage decodes through html_str_untrusted (make_valid_utf8 —
    #: valid rows keep the zero-copy wrap, malformed rows get U+FFFD
    #: substitution instead of the ANSI [MALFORMED_CHARACTER_CODING]
    #: throw). A deployment flag, not a code edit.
    untrusted_input: bool = False


def parse_stage(pages: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    decode = html_str_untrusted if cfg.untrusted_input else html_str
    host, tld, path = parse_url(F.col("url"))
    # decode the binary ONCE into a temp column — three regexes then share
    # the same string instead of re-decoding (1/3 the allocation rate; GC is
    # the scaling bottleneck of this stage). Header-field regexes scan only
    # the <head> prefix window — meta tags live there by construction
    # (plans/pages.py template) and in practice near the top of real pages.
    s = pages.withColumn("__html_s", decode(F.col("html")))
    head = F.substring(F.col("__html_s"), 1, HEAD_WINDOW)
    return s.withColumns(
        {
            "extracted_text": extract_text_from_str(F.col("__html_s")),
            "status": extract_status_from_str(head),
            "lang_header": extract_lang_from_str(head),
            "host": host,
            "tld": tld,
            "url_path": path,
        }
    ).drop("__html_s")


def enrich_stage(
    parsed: DataFrame, spark: SparkSession, cfg: PipelineConfig = PipelineConfig()
) -> DataFrame:
    # O1/O4/O8/O9: status → status_text, the routing translate
    status_op = Translate(
        TranslateConfig(
            source="status",
            target="status_text",
            dictionary=cfg.status_dict,
            fallback=cfg.status_fallback,
        ),
        spark=spark,
    )
    out = status_op.apply(parsed, route_col="route", matched_key_col="matched_key")

    # per-lang enrich (second exact translate; separate route kept)
    lang_op = Translate(
        TranslateConfig(source="lang", target="lang_name", dictionary=cfg.lang_dict),
        spark=spark,
    )
    out = lang_op.apply(out, route_col="lang_route")

    # O5: iterate_on array-of-values over collaborator ids
    collab_op = Translate(
        TranslateConfig(
            source="collaborator_ids",
            iterate_on="collaborator_ids",
            target="collaborator_names",
            dictionary=cfg.collab_dict,
            fallback=cfg.collab_fallback,
        ),
        spark=spark,
    )
    out = collab_op.apply(out, route_col="collab_route")

    # O3: union substitution over the extracted text
    union_op = Translate(
        TranslateConfig(
            source="extracted_text",
            target="substituted_text",
            dictionary=cfg.union_dict,
            exact=False,
        ),
        spark=spark,
    )
    return union_op.apply(out, route_col="union_route")


def observed(enriched: DataFrame):
    """Attach single-pass metrics: row count, invariant-violation count,
    match/fallback counts. Returns (df, Observation) — read
    ``observation.get`` after the first action on df."""
    from pyspark.sql import Observation

    obs = Observation("pipeline_metrics")
    df = enriched.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(
            (~F.col("extracted_text").eqNullSafe(F.col("text"))).cast("long")
        ).alias("extract_mismatches"),
        F.sum((F.col("route") == "matched").cast("long")).alias("matched_rows"),
        F.sum((F.col("route") == "fallback").cast("long")).alias("fallback_rows"),
    )
    return df, obs


def aggregates(enriched: DataFrame) -> Dict[str, DataFrame]:
    """Per-sink aggregates (north-star): hit counts, fallback counts,
    per-key match histograms, per-route-per-lang counts."""
    return {
        "route_counts": enriched.groupBy("route").agg(F.count("*").alias("cnt")),
        "route_lang_counts": enriched.groupBy("route", "lang").agg(
            F.count("*").alias("cnt")
        ),
        "per_key_histogram": enriched.groupBy("route", "matched_key").agg(
            F.count("*").alias("cnt")
        ),
        "per_lang_hits": enriched.filter(F.col("route") == "matched")
        .groupBy("lang")
        .agg(F.count("*").alias("hits")),
    }


def write_sinks(
    enriched: DataFrame, out_dir: str, io: Optional["TableIO"] = None
) -> None:
    """Fan-out sinks: one partitioned write — each (route, lang) pair
    lands in its own partition, one scan of the input.

    The partitioning is ROUTED_SINK_PARTITIONS, shared by both table
    formats (plans/io.py), so the routed layout does not depend on the
    format: parquet renders it as
    hive-style route=/lang= subtrees with an atomic-rename committer;
    ``io=TableIO(spark, "iceberg")`` renders the identical spec as the
    Iceberg table's identity partitioning with snapshot-isolated commits.
    """
    from .io import ROUTED_SINK_PARTITIONS, TableIO

    io = io or TableIO(enriched.sparkSession)
    cols = [c for c in enriched.columns if not c.startswith("__")]
    slim = enriched.select(*cols).drop("html")  # sinks keep parsed fields only
    io.write(slim, io.loc(out_dir, "routed"), ROUTED_SINK_PARTITIONS)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    cfg: PipelineConfig = PipelineConfig(),
    checkpoint: bool = False,
    write_outputs: bool = True,
    table_format: str = "parquet",
) -> Dict[str, int]:
    """End-to-end run; returns the observed metrics dict.

    checkpoint=True stages the enriched frame (with its spark_partition_id
    as per-partition lineage) before the sinks read it back. The stage is
    rewritten on every run: a rerun parses and enriches again.

    table_format: every sink/stage write and read-back goes through one
    TableIO, so the identical pipeline runs with ``"iceberg"`` when the
    runtime ships the jars (out_dir is then a catalog namespace).

    The aggregate tables are written concurrently (see the module
    docstring); each write overwrites its own table, so a rerun after a
    failed write replaces all four.
    """
    from .io import TableIO

    io = TableIO(spark, table_format)
    parsed = parse_stage(pages, cfg)
    enriched = enrich_stage(parsed, spark, cfg)
    enriched = enriched.withColumn("__part_id", F.spark_partition_id())

    if checkpoint:
        stage_loc = io.loc(out_dir, "_stage_enriched" if io.fmt == "parquet"
                           else "stage_enriched")
        io.write(enriched, stage_loc)
        enriched = io.read(stage_loc)

    enriched, obs = observed(enriched)

    if write_outputs:
        write_sinks(enriched, out_dir, io=io)
        aggs = aggregates(io.read(io.loc(out_dir, "routed")))
        # one thread per aggregate, each wrapped separately so it gets its
        # own copy of the caller's local properties and tags: Spark sets
        # the SQL execution id in them, so threads must not share a copy.
        # Leaving the pool waits for every write; then the first failure
        # is re-raised.
        with ThreadPoolExecutor(len(aggs), thread_name_prefix="agg_write") as pool:
            futures = [
                pool.submit(inheritable_thread_target(spark)(io.write), adf,
                            io.loc(out_dir, f"agg_{name}"))
                for name, adf in aggs.items()
            ]
        for f in futures:
            f.result()
    else:
        # metrics-only run (benchmark): noop sink drives the full scan
        enriched.write.format("noop").mode("overwrite").save()

    return {k: int(v) for k, v in obs.get.items()}
