"""Streaming execution + dictionary refresh protocol.

The reference's only "streaming state" is the scheduler thread that reloads
the dictionary file and swaps it under a write lock
(lib/logstash/filters/translate.rb:259-261,
dictionary/file.rb:81-125). In Spark the equivalent is: the driver re-reads
the file between micro-batches and rebuilds the lookup plan; the broadcast
ship to executors is atomic per batch, so executors never observe a
half-swapped dictionary (the rw-lock disappears — SURVEY.md §3 EP3).

Implementation: ``foreachBatch`` — each micro-batch calls
:meth:`StreamingTranslate.maybe_refresh` (every ``refresh_interval``
seconds, mtime-gated, merge/replace per config), applies the translate
plan, and writes the fan-out sinks. The checkpointLocation makes the whole
thing resumable: a restarted query reprocesses the in-flight batch
idempotently (each batch overwrites its own ``__batch_id=N`` directory).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import TranslateConfig
from ..operators.dedup import exact_dedup
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
):
    """source_df: a streaming DataFrame (readStream). Writes routed parquet
    fan-out per micro-batch (``routed/__batch_id=N/route=R``, each batch
    an overwrite of its own directory → replay-idempotent); refreshes the
    dictionary between batches through
    :meth:`StreamingTranslate.maybe_refresh`.

    Returns the StreamingQuery. It runs with the availableNow trigger:
    it processes the data available at start, then stops (the
    batch-equivalent mode of tests, backfills and the contract query).
    """

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        st.maybe_refresh()
        # idempotent replay: the overwrite replaces the whole
        # __batch_id=N directory, so a restarted in-flight batch rewrites
        # its rows instead of appending a duplicate copy, and a route the
        # failed attempt wrote but the retry no longer produces (the
        # dictionary was refreshed in between) is deleted with it
        out = st.apply(batch_df)
        out.write.mode("overwrite").partitionBy("route").parquet(
            os.path.join(out_dir, "routed", f"__batch_id={batch_id}")
        )

    return (
        source_df.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
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

    # exact_dedup's groupBy(fingerprint) becomes a stateful streaming
    # aggregation: the state store carries each fingerprint's canonical id
    # and count across batches, so a duplicate arriving batches later
    # still collapses onto the first batch's canonical row
    deduped = exact_dedup(stream, text_col, id_col)

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
