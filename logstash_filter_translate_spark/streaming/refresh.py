"""Streaming execution + dictionary refresh protocol.

The reference's only "streaming state" is the scheduler thread that reloads
the dictionary file and swaps it under a write lock
(/root/reference/lib/logstash/filters/translate.rb:259-261,
dictionary/file.rb:81-125). In Spark the equivalent is: the driver re-reads
the file between micro-batches and rebuilds the lookup plan; the broadcast
ship to executors is atomic per batch, so executors never observe a
half-swapped dictionary (the rw-lock disappears — SURVEY.md §3 EP3).

Implementation: ``foreachBatch`` — each micro-batch calls
``op.refresh()`` (mtime-gated, merge/replace per config), applies the
translate plan, and writes the fan-out sinks. The checkpointLocation makes
the whole thing resumable: a restarted query reprocesses the in-flight
batch idempotently (parquet sink overwrite-by-batch or append with dedup on
a batch id column).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import TranslateConfig
from ..operators.translate import Translate


class StreamingTranslate:
    """Wraps a Translate operator for Structured Streaming with periodic
    dictionary refresh (R1-R7)."""

    def __init__(self, config: TranslateConfig, spark: SparkSession):
        self.spark = spark
        self.op = Translate(config, spark=spark)
        self._last_refresh = time.monotonic()

    def maybe_refresh(self) -> bool:
        """Driver-side, between batches; honors refresh_interval ≤ 0 =
        disabled (translate.rb:117 semantics) and the mtime short-circuit."""
        interval = self.op.config.refresh_interval
        if interval is None or interval <= 0:
            return False
        now = time.monotonic()
        if now - self._last_refresh < interval:
            return False
        self._last_refresh = now
        return self.op.refresh()

    def apply(self, df: DataFrame, route_col: str = "route") -> DataFrame:
        return self.op.apply(df, route_col=route_col)


def run_streaming_pipeline(
    spark: SparkSession,
    source_df: DataFrame,
    st: StreamingTranslate,
    out_dir: str,
    checkpoint_dir: str,
    refresh_every_batch: bool = False,
):
    """source_df: a streaming DataFrame (readStream). Writes routed parquet
    fan-out per micro-batch (partitioned ``__batch_id/route``, each
    batch a dynamic-overwrite of its own partitions → replay-idempotent);
    refreshes the dictionary between batches.

    Returns the StreamingQuery. It runs with the availableNow trigger:
    it processes the data available at start, then stops (the
    batch-equivalent mode of tests, backfills and the contract query).
    """

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if refresh_every_batch:
            st.op.refresh()
        else:
            st.maybe_refresh()
        out = st.apply(batch_df)
        # idempotent replay: __batch_id leads the partition spec and the
        # write is a DYNAMIC partition overwrite, so a restarted in-flight
        # batch rewrites exactly its own partitions instead of appending a
        # duplicate copy (no reader-side dedup needed). Dynamic overwrite
        # alone is NOT enough: it only replaces partitions
        # PRESENT in the retry, so a route that existed in the failed
        # attempt but routes differently after a between-attempt dictionary
        # refresh would leave its stale sub-partition behind — drop the
        # whole __batch_id=N subtree first (idempotent, local-fs sink).
        routed = os.path.join(out_dir, "routed")
        stale = os.path.join(routed, f"__batch_id={batch_id}")
        if os.path.isdir(stale):
            shutil.rmtree(stale, ignore_errors=True)
        (
            out.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id", "route")
            .parquet(routed)
        )

    return (
        source_df.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def streaming_exact_dedup(
    stream: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Cross-micro-batch exact dedup as a STATEFUL streaming aggregation:
    groupBy(text fingerprint) with min(id)/count — the state store carries
    the per-fingerprint canonical id and duplicate count across batches,
    so a duplicate arriving three batches later still collapses onto the
    first batch's canonical row. The streaming analogue of
    operators.dedup.exact_dedup (same keys, same aggregates → the batch
    DuckDB oracle verifies the final state exactly).

    At 100 TB-stream scale the state is one narrow row per distinct
    fingerprint (32-char digest + two longs), hash-partitioned by the
    state store — never the documents themselves."""
    from ..functions.text import fingerprint

    return (
        stream.groupBy(fingerprint(F.col(text_col)).alias("__fp"))
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_cnt"))
        .drop("__fp")
    )


def run_streaming_dedup(
    spark: SparkSession,
    stream: DataFrame,
    text_col: str,
    id_col: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Run the stateful dedup over a stream; each micro-batch overwrites
    the sink with the full updated state (complete mode through
    foreachBatch), so the sink always holds the current canonical set.
    Returns the StreamingQuery."""

    deduped = streaming_exact_dedup(stream, text_col, id_col)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, "deduped")
        )

    return (
        deduped.writeStream.foreachBatch(handle_batch)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_route_counts(
    events: DataFrame,
    ts_col: str = "warc_ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time windowed per-route aggregate with late-data watermark —
    the streaming analogue of the per-sink counts."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("route"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "route",
            "cnt",
        )
    )
